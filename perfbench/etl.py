"""etl_tail: closed-loop ETL ticks at the chain head.

Every set-up round preloads a history of HISTORY_BLOCKS blocks into a
fresh warehouse through the program's own extract and sink functions
and sets the cursor to its end. Each
timed op then advances the generator's head by a seeded 1-60 blocks
(reference scale: one 15 s poll sees a handful of blocks; see
``tick_sizes``) and calls
``EtlBatchRunner.run_once`` — head poll, ``block_range_source`` over
``http_range_fetcher`` against the generator process, decode, enrich,
flatten, explode, NDJSON staging, the idempotent merges and the cursor
commit. Fixed per-tick costs dominate; per-row work is small.
"""

from __future__ import annotations

import glob
import json
import os
import random
import subprocess
import sys
import urllib.request

import checks
from chain import START_BLOCK, ChainSpec
from harness import Harness, Op

HISTORY_BLOCKS = 2_000  # preloaded warehouse: 4-7k listings, 3-7k products (synthetic size)
BLOCK_LAG = 4
FETCH_PARALLELISM = 5  # the reference's worker count
MID_TICK = 30  # blocks of the median-sized tick of every pass (ticks span 1-60)
SETUP_ROUNDS = 3  # each preloads the history (~7 s); setup_s is their median


class Generator:
    """The RPC generator process (rpcgen.py) and a small control client."""

    def __init__(self, seed: int, address: str, docs_path: str):
        here = os.path.dirname(os.path.abspath(__file__))
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(here, "rpcgen.py"), "--seed", str(seed),
             "--address", address, "--docs-out", docs_path],
            stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline().split()
        if not line or line[0] != "READY":
            self.close()
            raise RuntimeError("rpc generator failed to start")
        self.url = f"http://127.0.0.1:{line[1]}/"

    def call(self, method: str, *params):
        req = urllib.request.Request(
            self.url,
            data=json.dumps({"jsonrpc": "2.0", "id": 1, "method": method,
                             "params": list(params)}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=30) as resp:
            return json.loads(resp.read())["result"]

    def close(self) -> None:
        self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


def history_logs(spec: ChainSpec, path: str) -> str:
    """Raw logs of the preloaded history as parquet (cached per seed)."""
    if not os.path.exists(path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = [e for b in range(START_BLOCK, START_BLOCK + HISTORY_BLOCKS)
                for e in spec.block_events(b)]
        cols = list(zip(*rows))
        table = pa.table({
            "block_number": pa.array(cols[0], pa.int64()),
            "log_index": pa.array(cols[1], pa.int32()),
            "address": pa.array(cols[2], pa.string()),
            "event_name": pa.array(cols[3], pa.string()),
            "listing_id": pa.array(cols[4], pa.string()),
            "ipfs_hash": pa.array(cols[5], pa.string()),
        })
        tmp = f"{path}.{os.getpid()}.tmp"
        pq.write_table(table, tmp)
        os.replace(tmp, path)
    return path


def tick_sizes(seed: int, passes: int = 3_000) -> list[int]:
    """Blocks each tick lands. Ticks run in passes of three, x, MID_TICK
    and 2 * MID_TICK + 1 - x blocks (x seeded in 1..MID_TICK - 1) in a
    seeded order, so every pass lands the same number of blocks and its
    median tick lands MID_TICK blocks whatever the seed. Odd passes repeat
    the pass before them, so in a traced run each tick size is traced
    once and run untraced once."""
    rng = random.Random(f"ticks:{seed}")
    out: list[int] = []
    for p in range(passes):
        if p % 2:
            out += out[-3:]
        else:
            x = rng.randint(1, MID_TICK - 1)
            sizes = [x, MID_TICK, 2 * MID_TICK + 1 - x]
            rng.shuffle(sizes)
            out += sizes
    return out


class EtlTail:
    def __init__(self, h: Harness, cache_dir: str):
        from bigquery_etl_spark.pipeline.extract import MARKETPLACE_ADDRESS

        self.h = h
        self.spec = ChainSpec.from_seed(h.seed, MARKETPLACE_ADDRESS)
        self.docs_path = os.path.join(cache_dir, "docs.parquet")
        self.history_path = history_logs(self.spec, os.path.join(cache_dir, "history.parquet"))
        self.gen = Generator(h.seed, MARKETPLACE_ADDRESS, self.docs_path)
        self.advance = tick_sizes(h.seed)
        self.head = START_BLOCK + HISTORY_BLOCKS - 1 + BLOCK_LAG
        self.ranges: list[tuple[int, int]] = []  # (lo, hi) landed by each timed tick
        self.runner = None
        self.rpc_traced: dict[str, int] = {}  # generator counters summed over traced ticks
        self.dirs: dict[str, str] = {}

    # -- set-up ---------------------------------------------------------------

    def prepare(self, rnd: int) -> None:
        """Every round preloads the history into a fresh warehouse through
        the program's extract and sink functions, commits and reads back
        the cursor, and builds a runner on the current session; the last
        round's warehouse is the one the timed ticks land in."""
        from bigquery_etl_spark.pipeline.cursor import CursorStore
        from bigquery_etl_spark.pipeline.runner import EtlBatchRunner
        from bigquery_etl_spark.pipeline.schemas import RAW_LOGS_SCHEMA
        from bigquery_etl_spark.sources.incremental import block_range_source
        from bigquery_etl_spark.sources.rpc import http_head_fn, http_range_fetcher

        spark = self.h.spark
        self.dirs = {k: os.path.join(self.h.work_dir, f"etl-r{rnd}", k)
                     for k in ("wh", "stage", "cursor")}
        docs = spark.read.parquet(self.docs_path)
        cursor = CursorStore(spark, self.dirs["cursor"], start_block=START_BLOCK - 1)
        self._preload(docs)
        cursor.set(START_BLOCK + HISTORY_BLOCKS - 1)
        if cursor.get() != START_BLOCK + HISTORY_BLOCKS - 1:
            raise RuntimeError("preloaded cursor did not read back")
        fetcher = http_range_fetcher(self.gen.url)

        def source(lo: int, hi: int):
            return block_range_source(spark, lo, hi, fetcher=fetcher, schema=RAW_LOGS_SCHEMA,
                                      fetch_parallelism=FETCH_PARALLELISM)

        self.runner = EtlBatchRunner(
            spark, raw_logs_source=source, ipfs_docs=docs, head_fn=http_head_fn(self.gen.url),
            warehouse_dir=self.dirs["wh"], staging_dir=self.dirs["stage"], cursor=cursor,
            block_lag=BLOCK_LAG,
        )
        self.gen.call("bench_setHead", self.head)

    def _preload(self, docs) -> None:
        from bigquery_etl_spark.pipeline.extract import (
            decode_events, enrich_with_docs, explode_products, flatten_listings,
        )
        from bigquery_etl_spark.pipeline.schemas import RAW_LOGS_SCHEMA
        from bigquery_etl_spark.pipeline.sinks import merge_append

        spark = self.h.spark
        raw = spark.read.schema(RAW_LOGS_SCHEMA).parquet(self.history_path)
        enriched = enrich_with_docs(decode_events(raw), ipfs_docs=docs)
        merge_append(spark, flatten_listings(enriched), f"{self.dirs['wh']}/marketplace_listings",
                     keys=["block_number", "log_index"])
        merge_append(spark, explode_products(enriched), f"{self.dirs['wh']}/dshop_products",
                     keys=["block_number", "log_index", "product_id"])

    def warmup(self) -> None:
        """One untimed tick: JIT, Python worker start and the first
        mapInPandas fetch happen here, not in the first timed op."""
        self._advance(10)
        self._run_tick()

    def instrument(self) -> None:
        """Span wrappers at each module boundary the runner calls."""
        import bigquery_etl_spark.pipeline.runner as runner_mod

        t, r = self.h.tracer, self.runner
        for fn in ("decode_events", "enrich_with_docs", "flatten_listings", "explode_products"):
            t.wrap(runner_mod, fn, "extract.plan")
        t.wrap(runner_mod, "write_ndjson_staging", "sinks.staging")
        t.wrap(runner_mod, "merge_append", "sinks.merge",
               on_result=lambda n, a, k: t.count("sinks.rows_appended", n))
        t.wrap(r.cursor, "get", "cursor.get")
        t.wrap(r.cursor, "set", "cursor.set")
        t.wrap(r, "head_fn", "rpc.head")
        t.wrap(r, "raw_logs_source", "rpc.source_plan")
        t.wrap(r, "run_once", "tick")

    # -- timed op ---------------------------------------------------------------

    def _advance(self, blocks: int) -> tuple[int, int]:
        """Move the generator's head; returns the block range the next tick lands."""
        lo = self.head - BLOCK_LAG + 1
        self.head += blocks
        self.gen.call("bench_setHead", self.head)
        return lo, self.head - BLOCK_LAG

    def _run_tick(self) -> tuple[bool, int]:
        st = self.runner.stats
        rows, errors = st.num_marketplace_rows + st.num_dshop_rows, st.num_errors
        ok = self.runner.run_once()
        return ok and st.num_errors == errors, st.num_marketplace_rows + st.num_dshop_rows - rows

    def step(self, i: int) -> Op:
        lo, hi = self._advance(self.advance[i])
        op, res = self.h.timed("tick", self._run_tick)
        if op.ok:
            op.ok, op.rows = res
        if op.ok:
            self.ranges.append((lo, hi))
        op.detail = {"blocks": self.advance[i], "lo": lo, "hi": hi}
        return op

    # -- verification and report -----------------------------------------------

    def verify(self) -> tuple[list[str], dict[int, str]]:
        """Untimed checks: (whole-run failures, {tick index: failure})."""
        replay = self.replay_last()
        listings, products = checks.read_warehouse(self.dirs["wh"])
        cursor = self.runner.cursor.get()
        args = (listings, products, self.spec.expected_counts(START_BLOCK, cursor), cursor,
                self.head - BLOCK_LAG)
        self._planted = lambda: checks.planted_etl(*args)
        bad = checks.tick_failures(listings, products, self.ranges, self.spec.expected_counts)
        return (checks.etl_state_failures(*args, replay),
                {i: f"tick {i}: rows of blocks {self.ranges[i]} differ from the generated"
                 for i in bad})

    def planted(self) -> dict[str, bool]:
        return self._planted()

    def replay_last(self) -> tuple[int, int]:
        """Re-merge the last landed range through the program's sinks;
        idempotence means nothing is appended."""
        from bigquery_etl_spark.pipeline.extract import (
            decode_events, enrich_with_docs, explode_products, flatten_listings,
        )
        from bigquery_etl_spark.pipeline.sinks import merge_append

        if not self.ranges:
            return 0, 0
        spark, wh = self.h.spark, self.dirs["wh"]
        lo, hi = self.ranges[-1]
        enriched = enrich_with_docs(decode_events(self.runner.raw_logs_source(lo, hi)),
                                    ipfs_docs=self.runner.ipfs_docs)
        return (
            merge_append(spark, flatten_listings(enriched), f"{wh}/marketplace_listings",
                         keys=["block_number", "log_index"]),
            merge_append(spark, explode_products(enriched), f"{wh}/dshop_products",
                         keys=["block_number", "log_index", "product_id"]),
        )

    def layer_metrics(self) -> dict[str, float]:
        h = self.h
        traced = [o for o in h.ops if o.traced]
        n = len(traced)
        blocks = sum(o.detail.get("blocks", 0) for o in traced) or 1
        rpc = self.rpc_traced
        offered = sum(sum(self.spec.expected_counts(o.detail["lo"], o.detail["hi"]))
                      for o in traced)
        selfs, counts = h.tracer.self_times(), h.tracer.counts
        files = glob.glob(os.path.join(self.dirs["wh"], "*", "*.parquet"))
        return {
            "rpc.getlogs_calls": rpc["getlogs_calls"] / n,
            "rpc.getlogs_per_block": rpc["getlogs_calls"] / blocks,
            "rpc.bytes_served": rpc["bytes_served"] / n,
            "rpc.head_calls": rpc["head_calls"] / n,
            "extract.plan_s": selfs.get("extract.plan", 0.0) / n,
            "sinks.staging_s": selfs.get("sinks.staging", 0.0) / n,
            "sinks.merge_s": selfs.get("sinks.merge", 0.0) / n,
            "sinks.rows_appended": counts.get("sinks.rows_appended", 0) / n,
            "sinks.append_ratio": counts.get("sinks.rows_appended", 0) / max(offered, 1),
            "warehouse.files": float(len(files)),
            "warehouse.bytes": float(sum(os.path.getsize(f) for f in files)),
            "cursor.get_s": selfs.get("cursor.get", 0.0) / n,
            "cursor.set_s": selfs.get("cursor.set", 0.0) / n,
            "tick.self_s": selfs.get("tick", 0.0) / n,
        }

    def named_metrics(self, m: dict, tail_note: str) -> list[tuple[str, float, str]]:
        rows = sum(o.rows for o in self.h.ops)
        return [("tick_p50_s", m["op_p50_s"], "s"),
                ("tick_tail_s", m["op_tail_s"], f"s ({tail_note})"),
                ("ticks_per_s", m["ops_per_s"], "1/s"),
                ("rows_per_s", rows / self.h.window_s, "rows/s")]

    def layer_notes(self) -> list[str]:
        return []

    def latencies(self) -> list[float]:
        return [o.seconds for o in self.h.ops]

    def run(self) -> None:
        h = self.h
        h.setup(self.prepare, self.warmup, SETUP_ROUNDS)
        self.instrument()
        rpc_traced = dict.fromkeys(self.gen.call("bench_stats"), 0)

        def step(i: int) -> Op:
            if not (i < h.trace_ops and i % 2 == 1):
                return self.step(i)
            before = self.gen.call("bench_stats")
            op = self.step(i)
            after = self.gen.call("bench_stats")
            for k in rpc_traced:
                rpc_traced[k] += after[k] - before[k]
            return op

        h.run_window(step, pass_len=3)
        self.rpc_traced = rpc_traced

    def close(self) -> None:
        self.gen.close()
