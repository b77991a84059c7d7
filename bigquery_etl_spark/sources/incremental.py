"""Distributed block-range source (SURVEY.md §2 A1+A3).

The reference splits [start, end] into ≤1000-block chunks fanned over 5
worker threads doing JSON-RPC getLogs (ref main.py:34-38, 147-155).
Spark form: the driver splits the range into contiguous
≤``max_blocks_per_call`` chunks and plans one row per chunk
(``spark.range(n_chunks)``) over ``min(fetch_parallelism, n_chunks)``
partitions; ``mapInPandas`` calls a pluggable per-range fetcher once per
chunk row. Fetch parallelism = number of partitions (the 5-worker pool
generalized to the cluster), the provider's 1000-block request cap is
the chunk size, and no shuffle splits a chunk's blocks apart.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# a fetcher takes (start_block, end_block) and returns rows as dicts
RangeFetcher = Callable[[int, int], list[dict]]


def block_range_source(
    spark: SparkSession,
    start_block: int,
    end_block: int,
    fetcher: RangeFetcher,
    schema: T.StructType,
    fetch_parallelism: int = 5,  # ref main.py:38 JOB_MAX_WORKERS
    max_blocks_per_call: int = 1000,  # ref main.py:34-35 provider cap
) -> DataFrame:
    """Fetch an event-log range as a DataFrame, one task per chunk.

    Chunk ``i`` covers ``[start + i*max, min(start + (i+1)*max - 1, end)]``,
    so one evaluation makes ceil(range/max_blocks) fetcher calls,
    independent of parallelism; ``end < start`` plans zero chunks and
    yields an empty frame without calling the fetcher."""
    import pandas as pd

    n_chunks = max(0, end_block - start_block + max_blocks_per_call) // max_blocks_per_call
    chunks = spark.range(0, n_chunks, 1, max(1, min(fetch_parallelism, n_chunks)))
    columns = [f.name for f in schema.fields]

    def fetch(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            for i in pdf["id"]:
                lo = start_block + int(i) * max_blocks_per_call
                rows = fetcher(lo, min(lo + max_blocks_per_call - 1, end_block))
                yield pd.DataFrame(rows, columns=columns)

    return chunks.mapInPandas(fetch, schema=schema)
