"""One-off reading of the ETL fetch path, for BASELINE.md. Run from the
repository root:

    python3 perfbench/probe.py --seed 1

Counts, in the generator's own process, the ``eth_getLogs`` calls that
one evaluation of ``block_range_source`` makes for a 10-block and a
1000-block range (the docstring's model says ceil(range / 1000) = 1),
then the calls, Spark jobs and rows of one full 10-block
``EtlBatchRunner.run_once`` and of one 1000-block tick. Prints one JSON
object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "bigquery_etl_spark", "__init__.py")):
        print("probe: run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)

    from etl import HISTORY_BLOCKS, EtlTail
    from harness import Harness
    from run import confine_temp_files, inputs_version
    from spans import job_counts

    work = os.path.join(root, ".bench_work", f"probe-{os.getpid()}")
    cache = os.path.join(root, ".bench_cache", f"etl_tail-seed{args.seed}-{inputs_version()}")
    os.makedirs(cache, exist_ok=True)
    confine_temp_files(work)
    h = Harness(args.seed, 0, False, work, cpus=len(os.sched_getaffinity(0)))
    w = EtlTail(h, cache)
    out: dict = {"seed": args.seed, "history_blocks": HISTORY_BLOCKS}
    try:
        h.setup(w.prepare, w.warmup, rounds=1)
        gen, spark = w.gen, h.spark
        sc = spark.sparkContext

        def calls() -> int:
            return gen.call("bench_stats")["getlogs_calls"]

        for n in (10, 1000):
            c0 = calls()
            w.runner.raw_logs_source(w.head + 1, w.head + n).count()
            out[f"source_count_calls_{n}_blocks"] = calls() - c0
        for n in (10, 1000):
            lo, hi = w._advance(n)
            group = f"probe-tick-{n}"
            sc.setJobGroup(group, group)
            c0, t0 = calls(), time.perf_counter()
            ok, rows = w._run_tick()
            out[f"tick_{n}_blocks"] = {
                "ok": ok, "seconds": round(time.perf_counter() - t0, 3), "rows": rows,
                "getlogs_calls": calls() - c0,
                "getlogs_per_block": round((calls() - c0) / (hi - lo + 1), 3),
                "spark_jobs": job_counts(spark, group)[0],
            }
    finally:
        w.close()
        h.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
