"""Correctness checks, independent of the code under test where possible.

Each check is a pure function over the program's outputs (read back with
pyarrow, or returned by the timed op) and the expected values computed
from the seeded inputs. ``planted_*`` functions plant one defect in a
copy of real outputs and report whether the check caught it; run.py's
``--selftest`` runs them.
"""

from __future__ import annotations

import pandas as pd

LISTING_KEYS = ["block_number", "log_index"]
PRODUCT_KEYS = ["block_number", "log_index", "product_id"]


# -- ETL -------------------------------------------------------------------


def read_warehouse(wh: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    import pyarrow.dataset as ds

    def read(name, cols):
        return ds.dataset(f"{wh}/{name}", format="parquet").to_table(columns=cols).to_pandas()

    return read("marketplace_listings", LISTING_KEYS), read("dshop_products", PRODUCT_KEYS)


def etl_state_failures(listings: pd.DataFrame, products: pd.DataFrame, expected: tuple[int, int],
                       cursor: int, want_cursor: int, replay: tuple[int, int]) -> list[str]:
    """Whole-warehouse checks: counts, key uniqueness, cursor, replay."""
    out = []
    if (len(listings), len(products)) != expected:
        out.append(f"row counts {(len(listings), len(products))} != generated {expected}")
    for name, df, keys in (("listings", listings, LISTING_KEYS),
                           ("products", products, PRODUCT_KEYS)):
        dups = int(df.duplicated(keys).sum())
        if dups:
            out.append(f"{dups} duplicate {name} keys on {keys}")
    if cursor != want_cursor:
        out.append(f"cursor {cursor} != head - lag {want_cursor}")
    if replay != (0, 0):
        out.append(f"replay of the last range appended {replay} rows")
    return out


def tick_failures(listings: pd.DataFrame, products: pd.DataFrame, ranges: list[tuple[int, int]],
                  expected_of) -> set[int]:
    """Indices of ticks whose block range does not hold the generated rows."""
    bad = set()
    lb, pb = listings["block_number"].to_numpy(), products["block_number"].to_numpy()
    for i, (lo, hi) in enumerate(ranges):
        got = (int(((lb >= lo) & (lb <= hi)).sum()), int(((pb >= lo) & (pb <= hi)).sum()))
        if got != expected_of(lo, hi):
            bad.add(i)
    return bad


def planted_etl(listings, products, expected, cursor, want_cursor) -> dict[str, bool]:
    dup = pd.concat([listings, listings.iloc[:1]], ignore_index=True)

    def caught(lst, cur, replay) -> bool:
        return bool(etl_state_failures(lst, products, expected, cur, want_cursor, replay))

    return {
        "etl.duplicate_row": caught(dup, cursor, (0, 0)),
        "etl.wrong_cursor": caught(listings, cursor - 1, (0, 0)),
        "etl.replay_appends": caught(listings, cursor, (1, 0)),
    }


# -- SQL ---------------------------------------------------------------------


def sql_failures(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    from bigquery_etl_spark.oracle import compare

    return compare(spark_pdf, oracle_pdf)


def planted_sql(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> dict[str, bool]:
    wrong = spark_pdf.copy()
    col = wrong.columns[-1]
    v = wrong.at[0, col]
    numeric = isinstance(v, (int, float)) and not isinstance(v, bool)
    wrong.at[0, col] = v + 1 if numeric else f"{v}x"
    return {"sql.wrong_result": bool(sql_failures(wrong, oracle_pdf))}


# -- lake --------------------------------------------------------------------


class LakeModel:
    """Replay of the statement log: table state per committed version."""

    def __init__(self, rows: dict[int, tuple[int, int]], version: int):
        self.rows = dict(rows)
        self.snapshots = {version: self.summary()}
        self.version = version

    def summary(self) -> tuple[int, int]:
        return len(self.rows), sum(b for b, _ in self.rows.values())

    def commit(self, version: int) -> None:
        self.version = version
        self.snapshots[version] = self.summary()

    def merge(self, batch: list[tuple[int, int]]) -> None:
        """Matched keys add the delta; new keys insert it with grp = id % 10."""
        for k, delta in batch:
            bal, grp = self.rows.get(k, (0, k % 10))
            self.rows[k] = (bal + delta, grp)

    def update(self, mod: int, rem: int, inc: int) -> None:
        for k, (bal, grp) in self.rows.items():
            if k % mod == rem:
                self.rows[k] = (bal + inc, grp)

    def insert(self, batch: list[tuple[int, int, int]]) -> None:
        for k, bal, grp in batch:
            self.rows[k] = (bal, grp)


def lake_read_failures(got: tuple[int, int], model: LakeModel, version: int) -> list[str]:
    want = model.snapshots.get(version)
    return [] if got == want else [f"read at v{version}: got {got}, replay says {want}"]


def lake_table_failures(table: pd.DataFrame, model: LakeModel) -> list[str]:
    got = {int(r.id): (int(r.bal), int(r.grp)) for r in table.itertuples(index=False)}
    if len(got) != len(table):
        return [f"{len(table) - len(got)} duplicate ids in the final table"]
    if got != model.rows:
        diff = sum(1 for k in set(got) | set(model.rows) if got.get(k) != model.rows.get(k))
        return [f"final table differs from the replay in {diff} rows"]
    return []


def planted_lake(read_got: tuple[int, int], model: LakeModel, version: int,
                 table: pd.DataFrame) -> dict[str, bool]:
    other = [v for v in model.snapshots if model.snapshots[v] != model.snapshots[version]]
    dup = pd.concat([table, table.iloc[:1]], ignore_index=True)
    return {
        "lake.wrong_version": bool(other) and bool(lake_read_failures(read_got, model, other[-1])),
        "lake.duplicate_row": bool(lake_table_failures(dup, model)),
    }
