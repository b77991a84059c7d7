"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload etl_tail --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest --seed 1

Builds the seeded inputs (cached under .bench_cache/), runs the workload's
set-up rounds, a closed-loop timed window and untimed correctness checks,
prints a readable report and, as the last stdout line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are BENCHMARK.json's end_to_end list; with ``--trace 1`` its
per_layer list, and the spans are written to .bench_out/.

``--selftest`` runs both workloads briefly, then plants one defect per
correctness check in copies of the real outputs and reports whether each
check caught it.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("etl_tail", "sql_lake")
SUBMIT_OPTS = os.environ.get("SPARK_SUBMIT_OPTS", "")


def confine_temp_files(work_dir: str) -> None:
    """Point Python's, the JVM's and Spark's scratch space into
    ``work_dir`` so a run writes only inside the checkout."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = f"{SUBMIT_OPTS} -Djava.io.tmpdir={tmp}".strip()


def calib_s() -> float:
    """Fixed DuckDB probe (best of 3): moves with the host, never with the repo."""
    import duckdb

    con = duckdb.connect()
    try:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute("SELECT i % 7 AS k, COUNT(*), SUM(i * 0.5) FROM range(3000000) t(i) "
                        "GROUP BY k ORDER BY k").fetchall()
            best = min(best, time.perf_counter() - t0)
        return best
    finally:
        con.close()


def inputs_version() -> str:
    """Short hash of the files that define the generated inputs, so a
    cache written by other generator code is never reused."""
    digest = hashlib.sha1()
    for f in ("chain.py", "tpchgen.py", "etl.py", "warehouse.py"):
        with open(os.path.join(HERE, f), "rb") as fh:
            digest.update(fh.read())
    return digest.hexdigest()[:10]


def make_workload(name: str, h, cache_dir: str):
    if name == "etl_tail":
        from etl import EtlTail

        return EtlTail(h, cache_dir)
    from warehouse import SqlLake

    return SqlLake(h, cache_dir)


def run_one(name: str, seed: int, seconds: float, trace: bool, root: str) -> dict:
    """Run one workload; returns every metric computed plus the verdict."""
    from harness import Harness, tail

    cache_dir = os.path.join(root, ".bench_cache", f"{name}-seed{seed}-{inputs_version()}")
    work_dir = os.path.join(root, ".bench_work", f"{name}-{os.getpid()}")
    os.makedirs(cache_dir, exist_ok=True)
    confine_temp_files(work_dir)
    t0 = time.perf_counter()
    calib = calib_s()
    phases = {"calib": time.perf_counter() - t0}
    h = Harness(seed, seconds, trace, work_dir, cpus=len(os.sched_getaffinity(0)))
    w = None
    try:
        t0 = time.perf_counter()
        w = make_workload(name, h, cache_dir)
        phases["inputs"] = time.perf_counter() - t0
        w.run()
        t0 = time.perf_counter()
        whole, bad = w.verify()
        phases["verify"] = time.perf_counter() - t0
        layers = w.layer_metrics() if trace else {}
        notes = w.layer_notes() if trace else []
        planted = w.planted()
    finally:
        if w is not None:
            w.close()
        workers = h.sampler.workers_max if h.sampler else 0
        peak = h.close()
        shutil.rmtree(work_dir, ignore_errors=True)

    ops, lat = h.ops, w.latencies()
    failed = len(ops) if whole else len({i for i, o in enumerate(ops) if not o.ok} | set(bad))
    tail_v, tail_p = tail(lat)
    m = {
        "setup_s": h.setup_s,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_v,
        "ops_per_s": len(lat) / h.window_s,
        "peak_rss_mb": sum(peak.values()),
        "fail_ratio": failed / len(ops),
        "host.calib_s": calib,
        "session.launch_s": h.session_starts[0],
        "session.start_s": statistics.median(h.session_starts[1:]),
        "setup.first_round_s": h.setup_rounds[0],
        "setup.warmup_s": h.warmup_s,
    }
    if trace:
        m.update(h.per_op_counts())
        m["trace.overhead_ratio"] = h.overhead_ratio()
        m.update(layers)
        out_dir = os.path.join(root, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        h.tracer.dump(os.path.join(out_dir, f"trace-{name}-seed{seed}.jsonl"))
    n = len(lat)
    tail_note = (f"p{tail_p:g} of n={n}" if tail_p < 100
                 else f"max of n={n}: under 10 samples beyond any percentile")
    lines = [
        f"workload {name}  seed {seed}  window {h.window_s:.1f} s  ops {n}  statements {len(ops)}",
        f"  set-up rounds (s): {', '.join(f'{x:.3f}' for x in h.setup_rounds)}",
        "  phases (s): " + ", ".join(f"{k} {v:.1f}" for k, v in {
            **phases, "setup": sum(h.setup_rounds), "warmup": h.warmup_s,
            "window": h.window_s}.items()),
        "  peak memory parts (MB): " + ", ".join(f"{k} {v:.0f}" for k, v in peak.items())
        + f"  (at most {workers} Python workers at once)",
    ]
    named = [("setup_s", m["setup_s"], "s"), ("peak_rss_mb", m["peak_rss_mb"], "MB"),
             ("fail_ratio", m["fail_ratio"], "ratio"), ("host.calib_s", calib, "s")]
    named += w.named_metrics(m, tail_note)
    lines += [f"  {k:<22} {v:>12.4f} {unit}" for k, v, unit in named]
    lines += [f"  FAILED CHECK: {msg}" for msg in whole + list(bad.values())[:5]]
    return {"metrics": m, "attempted": len(ops), "failed": failed, "planted": planted,
            "lines": lines, "notes": notes}


def report(r: dict, spec: dict, trace: bool) -> None:
    """Readable report: the workload's own metric names, then the layers."""
    print("\n".join(r["lines"]))
    if trace:
        print("  per-layer (traced ops):")
        for item in spec["per_layer"]:
            value = r["metrics"].get(item["name"], 0.0)
            print(f"    {item['name']:<34} {value:>14.6g} {item['unit']}")
        for line in r["notes"]:
            print(f"    {line}")


def selftest(seed: int, root: str) -> int:
    ok = True
    for name in WORKLOADS:
        r = run_one(name, seed, 1.0, False, root)
        clean = r["failed"] == 0
        print(f"{name}: clean run {'passes' if clean else 'FAILS'} its checks")
        ok &= clean
        for check, caught in r["planted"].items():
            print(f"  planted {check:<22} {'caught' if caught else 'MISSED'}")
            ok &= caught
    print("selftest", "PASS" if ok else "FAIL")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description="Repository benchmark (see perfbench/README.md).")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "bigquery_etl_spark", "__init__.py")):
        print("perfbench: run from the repository root (bigquery_etl_spark/ not found)",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, root)
    # Spark's Python workers import the package too (mapInPandas, UDFs)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)

    if args.selftest:
        return selftest(args.seed, root)
    if args.workload is None:
        ap.error("--workload is required")

    r = run_one(args.workload, args.seed, args.seconds, bool(args.trace), root)
    report(r, spec, bool(args.trace))
    listed = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {i["name"]: {"value": float(r["metrics"].get(i["name"], 0.0)), "unit": i["unit"]}
               for i in listed}
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
