"""End-to-end incremental ETL against a LIVE (in-process) JSON-RPC stub
(SURVEY.md §8 gap "streaming incremental source driven by a live RPC
stub").

An http.server thread plays the Ethereum provider: eth_blockNumber
returns a mutable head, eth_getLogs returns deterministic logs (same
shape as pipeline/fixtures.py). The EtlBatchRunner polls it over real
HTTP, fetches ranges from INSIDE executor tasks via mapInPandas, and
advances its cursor — the reference's whole loop (ref main.py:197-219)
with the network boundary actually crossed.
"""

from __future__ import annotations

import pytest

from bigquery_etl_spark.pipeline.cursor import CursorStore
from bigquery_etl_spark.pipeline.fixtures import START_BLOCK, make_raw_logs, make_ipfs_docs
from bigquery_etl_spark.pipeline.runner import EtlBatchRunner
from bigquery_etl_spark.pipeline.schemas import RAW_LOGS_SCHEMA
from bigquery_etl_spark.sources.incremental import block_range_source
from bigquery_etl_spark.sources.rpc import http_head_fn, http_range_fetcher

from tests.rpc_stub import RpcStub as _RpcStub, start_stub


@pytest.fixture()
def rpc_url():
    server, url = start_stub()
    yield url
    server.shutdown()


def _runner(spark, tmp_path, rpc_url) -> EtlBatchRunner:
    url = rpc_url

    def source(lo: int, hi: int):
        return block_range_source(
            spark, lo, hi,
            fetcher=http_range_fetcher(url),
            schema=RAW_LOGS_SCHEMA,
            fetch_parallelism=2,
            max_blocks_per_call=10,
        )

    # docs dimension covering every hash the stub can emit
    docs = make_ipfs_docs(spark, make_raw_logs(spark, START_BLOCK, START_BLOCK + 80))
    return EtlBatchRunner(
        spark,
        raw_logs_source=source,
        ipfs_docs=docs,
        head_fn=http_head_fn(url),
        warehouse_dir=str(tmp_path / "wh"),
        staging_dir=str(tmp_path / "stage"),
        cursor=CursorStore(spark, str(tmp_path / "cursor"), start_block=START_BLOCK - 1),
        block_lag=4,
        batch_size=16,
    )


def _persisted_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_live_rpc_incremental_loop(spark, tmp_path, rpc_url):
    runner = _runner(spark, tmp_path, rpc_url)
    persisted = _persisted_rdds(spark)

    # Tick 1: head = START+23 → end = START+19 → 20 blocks, chunks of 16
    # and 4 blocks, fetched in ≤10-block calls: 2 + 1 getLogs.
    _RpcStub.head = START_BLOCK + 23
    assert runner.run_once() is True
    assert runner.cursor.get() == START_BLOCK + 19
    wh = spark.read.parquet(str(tmp_path / "wh" / "marketplace_listings"))
    assert wh.count() == 20 * 2  # foreign-contract events filtered out (A4)
    assert _RpcStub.n_getlogs == 3  # each range fetched once, over HTTP
    assert _persisted_rdds(spark) == persisted

    # Tick 2: head unchanged → lag window empty → short-circuit, no work.
    before = _RpcStub.n_getlogs
    assert runner.run_once() is False
    assert _RpcStub.n_getlogs == before

    # Tick 3: head advances 10 → exactly the 10 new blocks land, no dupes,
    # from one getLogs call.
    _RpcStub.head = START_BLOCK + 33
    assert runner.run_once() is True
    assert _RpcStub.n_getlogs == before + 1
    assert runner.cursor.get() == START_BLOCK + 29
    wh = spark.read.parquet(str(tmp_path / "wh" / "marketplace_listings"))
    assert wh.count() == 30 * 2
    assert wh.select("block_number", "log_index").distinct().count() == 30 * 2
    # one chunk: staging holds exactly the rows the warehouse gained
    staged = spark.read.json(str(tmp_path / "stage" / "marketplace"))
    assert staged.count() == wh.count() - 20 * 2
    assert _persisted_rdds(spark) == persisted


def test_live_rpc_error_containment(spark, tmp_path, rpc_url):
    """Provider 500s: the tick fails, the cursor does NOT advance, and the
    next healthy tick processes the same range exactly once (A13 + the
    §3.1 at-least-once fix)."""
    runner = _runner(spark, tmp_path, rpc_url)
    persisted = _persisted_rdds(spark)
    _RpcStub.head = START_BLOCK + 13

    _RpcStub.fail = True
    assert runner.run_once() is False
    assert runner.stats.num_errors == 1
    assert runner.cursor.get() == START_BLOCK - 1  # unmoved

    # head answers, then getLogs 500s inside the fetch tasks
    head_fn = runner.head_fn

    def head_then_fail() -> int:
        head = head_fn()
        _RpcStub.fail = True
        return head

    _RpcStub.fail = False
    runner.head_fn = head_then_fail
    assert runner.run_once() is False
    assert runner.stats.num_errors == 2
    assert runner.cursor.get() == START_BLOCK - 1  # unmoved
    assert _persisted_rdds(spark) == persisted

    _RpcStub.fail = False
    runner.head_fn = head_fn
    assert runner.run_once() is True
    assert runner.cursor.get() == START_BLOCK + 9
    wh = spark.read.parquet(str(tmp_path / "wh" / "marketplace_listings"))
    assert wh.count() == 10 * 2
    assert _persisted_rdds(spark) == persisted
