"""Output checks: registry results against their DuckDB oracles, and the
stock pipeline's run-to-run agreement.

The value hash is the repo's own (``tools/check_correctness.py``): both
sides are fetched through pandas, columns sorted by name, rows sorted by
their canonical string form.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

from tools.check_correctness import table_hash

#: Tolerance on areaUnderROC between identical stock ops: the evaluator's
#: tree-aggregated sums differ in the last digits from run to run.
AUC_TOLERANCE = 1e-4


class Oracle:
    """DuckDB with a view over every parquet table of one input directory."""

    def __init__(self, data_dir: str) -> None:
        self.con = duckdb.connect()
        for f in sorted(os.listdir(data_dir)):
            table, ext = os.path.splitext(f)
            if ext == ".parquet":
                path = os.path.join(data_dir, f)
                self.con.execute(
                    f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')"
                )

    def fingerprint(self, sql: str) -> tuple[int, list[str], str]:
        return fingerprint(self.con.execute(sql).df())

    def close(self) -> None:
        self.con.close()


#: Fingerprints of oracles that read no table, by sha256 of their SQL.
FIXED_ORACLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixed_oracles.json")


def fixed_oracle(sql: str) -> tuple[int, list[str], str]:
    """Fingerprint of an oracle that reads no table (its fixture is built in
    the SQL), so its output depends on the SQL text alone. Known SQL is
    looked up in ``FIXED_ORACLES``; other SQL runs in DuckDB."""
    key = hashlib.sha256(sql.encode()).hexdigest()
    with open(FIXED_ORACLES) as f:
        known = json.load(f)
    if key in known:
        rows, cols, digest = known[key]
        return rows, cols, digest
    con = duckdb.connect()
    try:
        return fingerprint(con.execute(sql).df())
    finally:
        con.close()


def fingerprint(pdf) -> tuple[int, list[str], str]:
    """(row count, sorted column names, order-insensitive value hash)."""
    cols = list(pdf.columns)
    rows = list(pdf.itertuples(index=False, name=None))
    return len(rows), sorted(cols), table_hash(rows, cols)


def compare(got: tuple[int, list[str], str], want: tuple[int, list[str], str]) -> str | None:
    """None when the fingerprints agree, else what differs."""
    if got[0] != want[0]:
        return f"rows {got[0]} != oracle {want[0]}"
    if got[1] != want[1]:
        return f"columns {got[1]} != oracle {want[1]}"
    if got[2] != want[2]:
        return "value hash differs from oracle"
    return None


class StockAgreement:
    """Every op of a run must reproduce the first op's held-out accuracy
    exactly and its areaUnderROC within ``AUC_TOLERANCE``."""

    def __init__(self) -> None:
        self.first: dict[str, float] | None = None

    def check(self, metrics: dict[str, float]) -> str | None:
        if self.first is None:
            self.first = dict(metrics)
            return None
        if metrics["accuracy"] != self.first["accuracy"]:
            return f"accuracy {metrics['accuracy']} != first op {self.first['accuracy']}"
        auc, auc0 = metrics["areaUnderROC"], self.first["areaUnderROC"]
        if abs(auc - auc0) > AUC_TOLERANCE:
            return f"areaUnderROC {auc} differs from first op {auc0} by more than {AUC_TOLERANCE}"
        return None
