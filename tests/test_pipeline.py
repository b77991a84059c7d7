"""Tier-A pipeline tests (SURVEY.md §5.2): golden output shapes
(ref main.py:51-81), replay idempotence (the test the reference lacked,
whose absence permits its at-least-once duplicate bug, SURVEY §3.1),
and both enrichment strategies.
"""

from __future__ import annotations

import json

import pytest

from bigquery_etl_spark.pipeline.cursor import CursorStore
from bigquery_etl_spark.pipeline.extract import (
    decode_events,
    enrich_with_docs,
    explode_products,
    flatten_listings,
)
from bigquery_etl_spark.pipeline.fixtures import (
    START_BLOCK,
    fetcher_for,
    make_ipfs_docs,
    make_raw_logs,
)
from bigquery_etl_spark.pipeline.runner import EtlBatchRunner
from bigquery_etl_spark.pipeline.sinks import merge_append
from bigquery_etl_spark.pipeline.schemas import (
    DSHOP_PRODUCTS_SCHEMA,
    MARKETPLACE_LISTINGS_SCHEMA,
)


@pytest.fixture()
def pipeline_inputs(spark):
    raw = make_raw_logs(spark, START_BLOCK, START_BLOCK + 19)
    docs = make_ipfs_docs(spark, raw)
    return raw, docs


def _names_types(schema):
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def test_golden_output_schemas(spark, pipeline_inputs):
    raw, docs = pipeline_inputs
    enriched = enrich_with_docs(decode_events(raw), ipfs_docs=docs)
    listings = flatten_listings(enriched)
    products = explode_products(enriched)
    assert _names_types(listings.schema) == _names_types(MARKETPLACE_LISTINGS_SCHEMA)
    assert _names_types(products.schema) == _names_types(DSHOP_PRODUCTS_SCHEMA)


def test_address_filter_and_flatten_values(spark, pipeline_inputs):
    raw, docs = pipeline_inputs
    events = decode_events(raw)
    assert events.count() == 40  # 2 marketplace events x 20 blocks; foreign dropped
    listings = flatten_listings(enrich_with_docs(events, ipfs_docs=docs)).collect()
    assert len(listings) == 40
    by_hash = {r.ipfs_hash: r for r in listings}
    doc0 = json.loads(docs.collect()[0].doc)
    h0 = docs.collect()[0].ipfs_hash
    assert by_hash[h0].price == doc0["price"]["amount"]
    assert by_hash[h0].currency == doc0["price"]["currency"]
    assert by_hash[h0].category == doc0["category"]


def test_explode_matches_doc_product_counts(spark, pipeline_inputs):
    raw, docs = pipeline_inputs
    enriched = enrich_with_docs(decode_events(raw), ipfs_docs=docs)
    products = explode_products(enriched)
    doc_rows = docs.collect()
    expected = 0
    hash_counts = {}
    for r in doc_rows:
        prods = json.loads(r.doc).get("products") or []
        hash_counts[r.ipfs_hash] = len(prods)
    for e in decode_events(raw).collect():
        expected += hash_counts[e.ipfs_hash]
    assert products.count() == expected
    # ipfs_path = hash/product_id (ref main.py:70 ipfs_path REQUIRED)
    sample = products.limit(5).collect()
    for p in sample:
        assert p.ipfs_path.endswith(p.product_id)


def test_fetcher_path_equals_broadcast_path(spark, pipeline_inputs):
    raw, docs = pipeline_inputs
    events = decode_events(raw)
    via_join = enrich_with_docs(events, ipfs_docs=docs)
    via_fetch = enrich_with_docs(events, fetcher=fetcher_for(docs))
    cols = sorted(via_join.columns)
    a = sorted(map(tuple, via_join.select(*cols).collect()))
    b = sorted(map(tuple, via_fetch.select(*cols).collect()))
    assert a == b


def test_runner_idempotent_replay(spark, pipeline_inputs, tmp_path):
    raw_all, docs = pipeline_inputs

    def source(lo, hi):
        from pyspark.sql import functions as F

        return raw_all.filter(F.col("block_number").between(lo, hi))

    def make_runner(cursor_path):
        return EtlBatchRunner(
            spark,
            raw_logs_source=source,
            ipfs_docs=docs,
            head_fn=lambda: START_BLOCK + 19 + 4,  # head such that end = +19
            warehouse_dir=str(tmp_path / "warehouse"),
            staging_dir=str(tmp_path / "staging"),
            cursor=CursorStore(spark, cursor_path, start_block=START_BLOCK - 1),
            batch_size=8,  # force multiple chunks per tick (A3)
        )

    r1 = make_runner(str(tmp_path / "cursor1"))
    assert r1.run_once() is True
    first_mk, first_ds = r1.stats.num_marketplace_rows, r1.stats.num_dshop_rows
    assert first_mk == 40 and first_ds > 0
    assert r1.cursor.get() == START_BLOCK + 19
    assert r1.run_once() is False  # nothing new (A11 short-circuit)

    # the reference's failure mode: crash after load, before cursor commit
    # -> whole range replays. Fresh cursor, same warehouse: must add 0 rows.
    r2 = make_runner(str(tmp_path / "cursor2"))
    assert r2.run_once() is True
    assert r2.stats.num_marketplace_rows == 0
    assert r2.stats.num_dshop_rows == 0

    mk = spark.read.parquet(str(tmp_path / "warehouse/marketplace_listings"))
    assert mk.count() == first_mk
    assert mk.select("block_number", "log_index").distinct().count() == first_mk


def test_merge_append_probe(spark, tmp_path):
    """The anti-join probe reads key types from a data file's footer
    (never a hidden file), and leaves no cache of its own behind nor
    drops the caller's."""
    path = str(tmp_path / "t")
    keys = ["block_number", "log_index"]
    batch = spark.createDataFrame(
        [(1, 0, "a"), (1, 1, "b"), (2, 0, "c")], "block_number long, log_index int, v string"
    ).persist()
    batch.count()  # materialize the caller's cache before taking the baseline
    persisted = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keySet())  # noqa: E731
    before = persisted()
    try:
        assert merge_append(spark, batch, path, keys) == 3  # empty target: no probe
        assert batch.is_cached
        # hidden leftovers sort first but are skipped, as Spark's listing does
        (tmp_path / "t" / ".part-00000-junk.parquet").write_bytes(b"not parquet")
        assert merge_append(spark, batch, path, keys) == 0  # replay appends nothing
        # checked before any append: an append to the path drops cached
        # buffers of plans reading it, which would hide a leaked probe
        assert persisted() == before
        more = spark.createDataFrame([(2, 0, "c"), (3, 0, "d")], batch.schema)
        assert merge_append(spark, more, path, keys) == 1
        with pytest.raises(KeyError):
            merge_append(spark, more, path, ["block_number", "no_such_key"])
        assert persisted() == before
        assert spark.read.parquet(path).count() == 4
    finally:
        batch.unpersist()


def test_runner_error_containment(spark, pipeline_inputs, tmp_path):
    raw_all, docs = pipeline_inputs

    def boom():
        raise RuntimeError("rpc down")

    r = EtlBatchRunner(
        spark,
        raw_logs_source=lambda lo, hi: raw_all,
        ipfs_docs=docs,
        head_fn=boom,
        warehouse_dir=str(tmp_path / "w"),
        staging_dir=str(tmp_path / "s"),
        cursor=CursorStore(spark, str(tmp_path / "c"), start_block=START_BLOCK - 1),
    )
    assert r.run_once() is False  # A13: contained
    assert r.stats.num_errors == 1 and "rpc down" in r.stats.last_error
    assert r.cursor.get() == START_BLOCK - 1  # cursor unmoved -> retry next tick
