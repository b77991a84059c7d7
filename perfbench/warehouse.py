"""sql_lake: one closed-loop analyst client on the landed warehouse.

The client interleaves two kinds of op in a seeded order:

- a declared query with an exact DuckDB twin, run from the registry
  over seeded star-schema tables (plan build + execution to pandas),
- a ``LakeCatalog.sql`` statement on a versioned table: ``MERGE INTO``,
  ``UPDATE`` or ``INSERT`` commits, and aggregate reads at the latest
  version or ``VERSION AS OF`` an earlier one.

Each pass runs every query and every statement kind once; the seed sets
the order within a pass, the MERGE/INSERT batch size and how many MERGE
keys hit existing rows. Nothing here touches the ETL modules.
"""

from __future__ import annotations

import os
import random
import statistics
import sys

import checks
import tpchgen
from harness import Harness, Op

# Declared queries with exact twins, one per planner family the
# reference's analysts hit (aggregation, join, TPC-H join and scan,
# correlated subquery, sessionizing window, JSON and the BigQuery dialect
# shim), at a cost that fits a short run.
QUERIES = (
    "q_agg_hash", "q_join_inner", "q_tpch_q3", "q_tpch_q6", "q_subquery_correlated",
    "q_sessionize", "q_json_query", "q_bq_dialect",
)
LAKE_OPS = ("merge", "update", "insert", "read", "read_version")
WRITES = ("merge", "update", "insert")
INITIAL_ROWS = 3000
# Each round (re)starts the session and creates the versioned table (~0.6 s);
# the first restart runs cold, so the median needs more rounds than etl_tail.
SETUP_ROUNDS = 5


class SqlLake:
    def __init__(self, h: Harness, cache_dir: str):
        from bigquery_etl_spark.registry import all_queries

        self.h = h
        self.sf_dir = tpchgen.write(h.seed, os.path.join(cache_dir, "sf"))
        self.specs = {n: all_queries()[n] for n in QUERIES}
        rng = random.Random(f"sql_lake:{h.seed}")
        self.batch = rng.randint(20, 60)
        self.overlap = rng.uniform(0.3, 0.7)
        self.order = self._pass(rng)
        self.results: list[tuple[int, str, object]] = []  # (op index, query, pandas result)
        self.read_checks: list[tuple[int, tuple[int, int], int]] = []  # (op, got, version)

    @staticmethod
    def _pass(rng: random.Random) -> list[tuple[str, str]]:
        """One pass: every query and every lake statement kind once, in a
        seeded order. Runs time whole passes, so each run executes the
        same mix of ops whatever the seed."""
        ops = [("query", q) for q in QUERIES] + [("lake", k) for k in LAKE_OPS]
        rng.shuffle(ops)
        return ops

    # -- set-up ---------------------------------------------------------------

    def prepare(self, rnd: int) -> None:
        import pandas as pd

        from bigquery_etl_spark.sources.lake_sql import LakeCatalog

        spark = self.h.spark
        rng = random.Random(f"lake-rows:{self.h.seed}")
        rows = {i: (rng.randrange(1000), i % 10) for i in range(INITIAL_ROWS)}
        root = os.path.join(self.h.work_dir, f"lake-r{rnd}")
        self.cat = LakeCatalog(spark, warehouse=root)
        pdf = pd.DataFrame({"id": list(rows), "bal": [b for b, _ in rows.values()],
                            "grp": [g for _, g in rows.values()]})
        self.table = self.cat.create_table("acct", os.path.join(root, "acct"),
                                           spark.createDataFrame(pdf))
        self.model = checks.LakeModel(rows, self.table.latest_version())
        self.next_id = INITIAL_ROWS
        self.stmt_rng = random.Random(f"lake-stmts:{self.h.seed}")

    def warmup(self) -> None:
        """One untimed pass, so every timed op runs on warm code paths."""
        for kind, what in self.order:
            if kind == "query":
                self._query(what)
            else:
                text, after = self._statement(what)
                self._apply(-1, what, after, self._lake(what, text))

    def instrument(self) -> None:
        import bigquery_etl_spark.sources.bq_dialect as dialect
        import bigquery_etl_spark.sources.lake_sql as lake_sql
        import bigquery_etl_spark.sources.tables as tables
        from bigquery_etl_spark.sources.versioned import VersionedTable

        t, load = self.h.tracer, tables.load
        for name, mod in list(sys.modules.items()):
            if name.startswith("bigquery_etl_spark.") and getattr(mod, "load", None) is load:
                t.wrap(mod, "load", "tables.load")
        t.wrap(dialect, "translate", "dialect.translate",
               on_result=lambda *_: t.count("dialect.translate_calls"))
        t.wrap(lake_sql, "parse_merge", "lake.merge_parse")
        t.wrap(VersionedTable, "_commit", "versioned.commit",
               on_result=lambda *_: t.count("versioned.commits"))

    # -- ops ----------------------------------------------------------------------

    def _query(self, name: str):
        spec, t = self.specs[name], self.h.tracer
        with t.span("plan.build", tags=list(spec.tags)):
            df = spec.fn(self.h.spark, self.sf_dir)
        with t.span("exec.run", tags=list(spec.tags)):
            return df.toPandas()

    def _statement(self, kind: str) -> tuple[str, object]:
        """SQL text for one lake op and the replay step it implies."""
        rng, m = self.stmt_rng, self.model
        if kind == "merge":
            hits = rng.sample(sorted(m.rows), round(self.batch * self.overlap))
            fresh = list(range(self.next_id, self.next_id + self.batch - len(hits)))
            self.next_id += len(fresh)
            batch = [(k, rng.randint(-50, 50)) for k in hits + fresh]
            values = ", ".join(f"({k}, {d})" for k, d in batch)
            return (f"MERGE INTO acct t USING (SELECT * FROM VALUES {values} AS v(id, delta)) s "
                    "ON t.id = s.id WHEN MATCHED THEN UPDATE SET bal = t.bal + s.delta "
                    "WHEN NOT MATCHED THEN INSERT (id, bal, grp) VALUES (s.id, s.delta, s.id % 10)",
                    lambda: m.merge(batch))
        if kind == "update":
            rem, inc = rng.randrange(17), rng.randint(1, 9)
            return (f"UPDATE acct SET bal = bal + {inc} WHERE id % 17 = {rem}",
                    lambda: m.update(17, rem, inc))
        if kind == "insert":
            batch = [(k, rng.randrange(1000), k % 10)
                     for k in range(self.next_id, self.next_id + self.batch)]
            self.next_id += self.batch
            values = ", ".join(f"({k}, {b}, {g})" for k, b, g in batch)
            return (f"INSERT INTO acct SELECT * FROM VALUES {values} AS v(id, bal, grp)",
                    lambda: m.insert(batch))
        version = m.version if kind == "read" else rng.choice(sorted(m.snapshots))
        at = "" if kind == "read" else f" VERSION AS OF {version}"
        return f"SELECT COUNT(*) AS n, SUM(bal) AS s FROM acct{at}", version

    def _lake(self, kind: str, text: str):
        with self.h.tracer.span(f"lake.stmt.{kind}"):
            res = self.cat.sql(text)
            if kind in WRITES:
                return res
            row = res.collect()[0]
            return int(row["n"]), int(row["s"])

    def step(self, i: int) -> Op:
        kind, what = self.order[i % len(self.order)]
        if kind == "query":
            op, res = self.h.timed(what, lambda: self._query(what))
            if op.ok:
                self.results.append((i, what, res))
            return op
        text, after = self._statement(what)
        op, res = self.h.timed(what, lambda: self._lake(what, text))
        if op.ok:
            self._apply(i, what, after, res)
        return op

    def _apply(self, i: int, kind: str, after, got) -> None:
        """Advance the replay model after a commit, or queue a read's check."""
        if kind in WRITES:
            after()
            self.model.commit(int(got))
        else:
            self.read_checks.append((i, got, after))

    # -- verification and report -----------------------------------------------

    def verify(self) -> tuple[list[str], dict[int, str]]:
        """Untimed checks: every query result against its DuckDB twin, every
        read against the statement-log replay, and the final table."""
        from bigquery_etl_spark.oracle import run_duckdb

        twins: dict[str, object] = {}
        bad: dict[int, str] = {}
        for i, name, pdf in self.results:
            if name not in twins:
                twins[name] = run_duckdb(self.specs[name].sql, self.sf_dir)
            errs = checks.sql_failures(pdf, twins[name])
            if errs:
                bad[i] = f"{name}: {errs[0]}"
        for i, got, version in self.read_checks:
            errs = checks.lake_read_failures(got, self.model, version)
            if errs:
                bad[i] = errs[0]
        final = self.table.read().toPandas()
        _, name, pdf = next(r for r in self.results if len(r[2]))
        _, got, version = self.read_checks[0]
        self._planted = lambda: {**checks.planted_sql(pdf, twins[name]),
                                 **checks.planted_lake(got, self.model, version, final)}
        return checks.lake_table_failures(final, self.model), bad

    def planted(self) -> dict[str, bool]:
        return self._planted()

    def layer_metrics(self) -> dict[str, float]:
        h = self.h
        traced = [o for o in h.ops if o.traced]
        n = len(traced)
        queries = [o for o in traced if o.kind in QUERIES]
        nq = max(1, len(queries))
        selfs, totals, counts = h.tracer.self_times(), h.tracer.totals(), h.tracer.counts
        out = {
            "plan.build_s": selfs.get("plan.build", 0.0) / nq,
            "exec.run_s": selfs.get("exec.run", 0.0) / nq,
            "tables.load_s": selfs.get("tables.load", 0.0) / nq,
            "dialect.translate_s": selfs.get("dialect.translate", 0.0) / nq,
            "dialect.translate_calls": counts.get("dialect.translate_calls", 0) / nq,
            "lake.merge_parse_s": selfs.get("lake.merge_parse", 0.0) / n,
        }
        for kind in LAKE_OPS:
            k = sum(1 for o in traced if o.kind == kind)
            out[f"lake.stmt_s.{kind}"] = totals.get(f"lake.stmt.{kind}", 0.0) / k if k else 0.0
        commits = counts.get("versioned.commits", 0)
        out["versioned.commit_s"] = selfs.get("versioned.commit", 0.0) / commits if commits else 0.0
        mdir = os.path.join(self.table.root, "_manifests")
        sizes = [os.path.getsize(os.path.join(mdir, f)) for f in os.listdir(mdir)]
        out["versioned.log_bytes_per_commit"] = sum(sizes) / len(sizes)
        out["versioned.files_live"] = float(len(self.table.files()))
        return out

    def named_metrics(self, m: dict, tail_note: str) -> list[tuple[str, float, str]]:
        from harness import tail

        ops, window = self.h.ops, self.h.window_s
        q = [o.seconds for o in ops if o.kind in QUERIES]
        wr = [o.seconds for o in ops if o.kind in WRITES]
        rd = [o.seconds for o in ops if o.kind not in QUERIES and o.kind not in WRITES]
        q_tail, q_p = tail(q)
        return [
            ("session_p50_s", m["op_p50_s"], "s"),
            ("session_tail_s", m["op_tail_s"], f"s ({tail_note})"),
            ("sessions_per_s", m["ops_per_s"], "1/s"),
            ("query_p50_s", statistics.median(q), "s"),
            ("query_tail_s", q_tail, f"s (p{q_p:g} of n={len(q)})"),
            ("queries_per_s", len(q) / window, "q/s"),
            ("stmts_per_s", (len(wr) + len(rd)) / window, "stmt/s"),
            ("write_p50_s", statistics.median(wr), "s"),
            ("read_p50_s", statistics.median(rd), "s"),
        ]

    def layer_notes(self) -> list[str]:
        """Plan-build and execution seconds per registry tag (traced queries)."""
        out: dict[str, dict[str, float]] = {}
        for s in self.h.tracer.spans:
            if s.name in ("plan.build", "exec.run"):
                for tag in s.attrs.get("tags", []):
                    d = out.setdefault(tag, {"plan.build": 0.0, "exec.run": 0.0})
                    d[s.name] += s.end - s.start
        return [f"tag {tag:<30} plan.build {d['plan.build']:.3f} s  exec.run {d['exec.run']:.3f} s"
                for tag, d in sorted(out.items())]

    def latencies(self) -> list[float]:
        """One op is a whole pass (a session of every statement once)."""
        return self.h.pass_latencies()

    def run(self) -> None:
        self.h.setup(self.prepare, self.warmup, SETUP_ROUNDS)
        self.instrument()
        self.h.run_window(self.step, pass_len=len(self.order))

    def close(self) -> None:
        pass
