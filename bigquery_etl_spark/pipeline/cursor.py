"""Cursor store (SURVEY.md §2 A12/A17): the etl_cursor analogue.

The reference keeps a single-row Postgres table (id, block_number,
created_at, updated_at — ref main.py:239-243; migration
6278201ba186:21-27) and UPDATEs it after each successful load
(ref main.py:132-142). Here: a one-row parquet file per version dir
``v{n}``, written with pyarrow on the driver (no Spark job for one row)
into a temp dir that is then renamed to ``v{n}``, so readers never see
a partially-written version; a temp dir left by an interrupted ``set``
is never read. The file keeps ETL_CURSOR_SCHEMA, so Spark reads it too,
and ``get`` reads the Spark-written versions of older deployments.
Correctness does NOT depend on the cursor being transactional with the
sink — the sinks are idempotent merges, so a crash between sink and
cursor commit only causes a harmless re-merge (the exactly-once fix for
ref main.py:209-216).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from bigquery_etl_spark.pipeline.schemas import ETL_CURSOR_SCHEMA

# timestamps map to UTC-adjusted arrow timestamps, which Spark reads as TimestampType
_ARROW_SCHEMA = to_arrow_schema(ETL_CURSOR_SCHEMA)


class CursorStore:
    def __init__(self, spark: SparkSession, path: str, start_block: int = 10_014_455 - 1):
        # default start mirrors START_BLOCK_EPOCH (ref main.py:29); ``spark``
        # stays in the signature callers use, though no Spark job runs here
        self.path = path
        self.start_block = start_block

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.path):
            return []
        return sorted(
            int(d[1:]) for d in os.listdir(self.path) if d.startswith("v") and d[1:].isdigit()
        )

    def get(self) -> int:
        """Current high-watermark block (exclusive start of next range)."""
        versions = self._versions()
        if not versions:
            return self.start_block
        # pyarrow skips the _SUCCESS / .crc files of Spark-written versions
        table = pq.read_table(f"{self.path}/v{versions[-1]}", columns=["block_number"])
        return pc.max(table["block_number"]).as_py()

    def set(self, block_number: int) -> None:
        """Advance the cursor (A12). Write a temp dir, rename it to the
        next version, then prune old ones."""
        versions = self._versions()
        next_v = (versions[-1] + 1) if versions else 0
        tmp = f"{self.path}/.v{next_v}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)  # left by an interrupted set
        os.makedirs(tmp)
        now = dt.datetime.now(dt.timezone.utc)
        row = pa.table(
            {"id": [1], "block_number": [block_number], "created_at": [now], "updated_at": [now]},
            schema=_ARROW_SCHEMA,
        )
        pq.write_table(row, f"{tmp}/part-00000.parquet")
        os.rename(tmp, f"{self.path}/v{next_v}")
        for v in versions[:-1]:  # keep previous for crash recovery
            shutil.rmtree(f"{self.path}/v{v}", ignore_errors=True)
