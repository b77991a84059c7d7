"""Sinks (SURVEY.md §2 A9-A11): NDJSON staging + idempotent warehouse merge.

The reference stages NDJSON then bulk-loads BigQuery append-only
(ref main.py:160-185); a crash between load and cursor commit replays
the range and duplicates rows (ref §3.1). ``merge_append`` makes the
warehouse write idempotent on a key set: re-merging the same batch is a
no-op, so at-least-once replay upgrades to exactly-once output.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type


def write_ndjson_staging(df: DataFrame, path: str) -> None:
    """A9: newline-delimited JSON staging files — an observable contract
    of the reference (ref main.py:40-41, 153-154, SourceFormat
    NEWLINE_DELIMITED_JSON main.py:171)."""
    df.write.mode("overwrite").json(path)


def _first_parquet_file(path: str) -> str | None:
    """First data file of a parquet table, skipping the ``_``/``.``
    entries Spark's listing skips (``_temporary``, ``.crc``)."""
    for d, dirs, files in os.walk(path):
        dirs[:] = sorted(x for x in dirs if not x.startswith(("_", ".")))
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                return os.path.join(d, f)
    return None


def merge_append(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    keys: list[str],
) -> int:
    """A10+A12 fix: append only key-sets not already in the table.

    Plan: left_anti join the batch against the existing table's keys,
    then append. The anti join probes only ``keys`` columns (column-
    pruned scan of the target). With a Delta/Iceberg catalog this becomes
    MERGE INTO; on plain parquet the anti-join append gives the same
    idempotence as long as one writer runs at a time — which the
    reference also required (app.yaml:14-15, single instance).

    Partition-scale note: at 100 TB the target scan prunes to the
    batch's partition range when the table is partitioned by a key
    prefix (e.g. block_number bucket), keeping the probe O(batch).

    The key types come from one existing file's footer, read with
    pyarrow on the driver — the file Spark's own inference would read,
    without the Spark job it runs for it. The anti join's result is
    persisted, so the count and the append probe the target once; it is
    unpersisted (blocking) before returning. Returns the number of rows
    appended.
    """
    fresh = df
    first = _first_parquet_file(path)
    if first is not None:
        footer = pq.read_schema(first)
        key_schema = T.StructType(
            [T.StructField(k, from_arrow_type(footer.field(k).type)) for k in keys]
        )
        existing_keys = spark.read.schema(key_schema).parquet(path)
        fresh = df.join(existing_keys, keys, "left_anti").persist()
    try:
        # A11: empty-input short-circuit (ref main.py:162-165)
        appended = fresh.count()
        if appended:
            fresh.write.mode("append").parquet(path)
        return appended
    finally:
        if fresh is not df:
            fresh.unpersist(blocking=True)


def observe_counts(df: DataFrame, name: str) -> DataFrame:
    """A15: row-count observability via df.observe — surfaces in
    QueryExecutionListener/StreamingQueryListener metrics instead of the
    reference's hand-rolled counters (ref main.py:91-95, 256-266)."""
    return df.observe(name, F.count(F.lit(1)).alias("rows"))
