"""Tests: the cursor store (A12) — its on-disk format, upgrades from
Spark-written versions, and recovery from an interrupted commit."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bigquery_etl_spark.pipeline.cursor import CursorStore
from bigquery_etl_spark.pipeline.schemas import ETL_CURSOR_SCHEMA


def test_cursor_version_reads_through_spark_schema(spark, tmp_path):
    store = CursorStore(spark, str(tmp_path / "c"), start_block=9)
    assert store.get() == 9
    store.set(41)
    store.set(42)
    assert store.get() == 42
    version = str(tmp_path / "c" / "v1")
    # the file carries ETL_CURSOR_SCHEMA's types, TimestampType included
    assert [f.dataType for f in spark.read.parquet(version).schema] == [
        f.dataType for f in ETL_CURSOR_SCHEMA
    ]
    rows = spark.read.schema(ETL_CURSOR_SCHEMA).parquet(version).collect()
    assert [(r.id, r.block_number) for r in rows] == [(1, 42)]
    assert rows[0].created_at is not None and rows[0].updated_at is not None


def test_cursor_reads_spark_written_version(spark, tmp_path):
    """A v{n} dir written by Spark (the store's earlier format) reads in
    place, and the next set() advances past it."""
    path = str(tmp_path / "c")
    spark.createDataFrame([(1, 1234)], "id int, block_number long").select(
        "id",
        "block_number",
        F.current_timestamp().alias("created_at"),
        F.current_timestamp().alias("updated_at"),
    ).coalesce(1).write.parquet(f"{path}/v3")
    store = CursorStore(spark, path, start_block=0)
    assert store.get() == 1234
    store.set(1300)
    assert store.get() == 1300
    assert sorted(os.listdir(path)) == ["v3", "v4"]


def test_cursor_ignores_interrupted_set(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "c")
    store = CursorStore(spark, path, start_block=0)
    store.set(100)

    def crash(src, dst):
        raise OSError("killed before the rename")

    with monkeypatch.context() as m:
        m.setattr(os, "rename", crash)
        with pytest.raises(OSError):
            store.set(200)
    assert len(os.listdir(path)) == 2  # v0 and the abandoned temp dir
    assert store.get() == 100
    store.set(300)
    assert store.get() == 300
    assert sorted(os.listdir(path)) == ["v0", "v1"]
