"""The benchmark's workloads.

A workload writes its seeded inputs once per set-up round, then runs ops:
one public call each, timed until its result is complete. For a registry
entry that is the query built (streams drained) and written to the noop
sink; for the stock pipeline, features built and the model fitted and
evaluated. ``warm`` runs each op once untimed and checks its output.
"""

from __future__ import annotations

import os
import time

from big_data_analysis_for_stock_market_data_spark import queries, stock
from big_data_analysis_for_stock_market_data_spark.sources.io import read_parquet
from perfbench import checks, datagen
from perfbench.trace import NO_PROBE

#: Scale factor of the generated registry tables (sf0.01 row counts).
SF = 0.01
#: Minute bars per stock op: 4 symbols x 5,000 bars.
STOCK_ROWS = 20_000

#: The registry workload: a JVM-only join query that fires jobs while it is
#: built, the recursive indicator family (the windows tail), near-duplicate
#: detection (jobs fired at build), a media decode (a Python worker pass),
#: and two streams (state store; upsert sink).
REGISTRY_ENTRIES = (
    "q5_nation_revenue", "ind_recursive_family", "dedup_minhash_near",
    "mm_jpeg_color_decode", "stream_tumbling_daily", "stream_upsert_latest",
)


class QueryWorkload:
    """Registry entries over generated tables, each checked against its
    DuckDB oracle."""

    def __init__(self, name: str, entries: tuple[str, ...]) -> None:
        self.name = name
        self.entries = entries
        registry = queries.queries()
        self.fns = {e: registry[e] for e in entries}
        self.oracle_sql = {e: queries.oracle_sql()[e] for e in entries}
        self.data_dir = ""
        self.oracle: checks.Oracle | None = None

    def prepare(self, spark, data_dir: str, seed: int, probe) -> None:
        with probe.span("bench.datagen"):
            datagen.write_tables(data_dir, seed, SF)
        self.data_dir = data_dir

    def op(self, spark, entry: str, probe) -> None:
        with probe.span("queries.build", group=True):
            df = self.fns[entry](spark, self.data_dir)
        with probe.span("sink.noop", group=True):
            df.write.format("noop").mode("overwrite").save()

    def warm(self, spark, entry: str) -> tuple[float, str | None]:
        """Build and collect the entry once; (seconds, problem or None).
        The seconds cover the program's work only, not the oracle."""
        t0 = time.perf_counter()
        pdf = self.fns[entry](spark, self.data_dir).toPandas()
        spent = time.perf_counter() - t0
        if self.oracle is None:
            self.oracle = checks.Oracle(self.data_dir)
        want = self.oracle.fingerprint(self.oracle_sql[entry])
        return spent, checks.compare(checks.fingerprint(pdf), want)

    def check(self, entry: str, result) -> str | None:
        return None

    def close(self) -> None:
        if self.oracle is not None:
            self.oracle.close()


class StockWorkload:
    """The paper's job: features over minute bars, then a RandomForest
    (10 trees, depth 10) fitted and evaluated."""

    name = "stock_fe_rf"
    entries = ("stock_fe_rf",)

    def __init__(self) -> None:
        self.bars_path = ""
        self.agreement = checks.StockAgreement()

    def prepare(self, spark, data_dir: str, seed: int, probe) -> None:
        self.bars_path = os.path.join(data_dir, "bars.parquet")
        with probe.span("sources.write"):
            datagen.write_bars(spark, self.bars_path, seed, STOCK_ROWS)

    def op(self, spark, entry: str, probe) -> dict[str, float]:
        with probe.span("sources.read", group=True):
            bars = read_parquet(spark, self.bars_path)
        return stock.stock_pipeline(bars, model="rf", num_trees=10, max_depth=10).metrics

    def warm(self, spark, entry: str) -> tuple[float, str | None]:
        """One op (its metrics become the run's reference), then the
        registry's ``stock_feature_frame`` entry (the same feature pipeline
        on its own fixture) against its oracle."""
        t0 = time.perf_counter()
        metrics = self.op(spark, entry, NO_PROBE)
        spent = time.perf_counter() - t0
        problem = self.agreement.check(metrics)
        name = "stock_feature_frame"
        pdf = queries.queries()[name](spark, os.path.dirname(self.bars_path)).toPandas()
        want = checks.fixed_oracle(queries.oracle_sql()[name])
        return spent, problem or checks.compare(checks.fingerprint(pdf), want)

    def check(self, entry: str, result) -> str | None:
        return self.agreement.check(result)

    def close(self) -> None:
        pass


WORKLOADS = ("stock_fe_rf", "registry_mix")


def make(name: str):
    if name == "stock_fe_rf":
        return StockWorkload()
    if name == "registry_mix":
        return QueryWorkload(name, REGISTRY_ENTRIES)
    raise ValueError(f"unknown workload {name!r}; choose from {WORKLOADS}")
