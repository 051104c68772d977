"""Scalable global-order window (windows.global_lag_lead): value parity
with the single-partition form, boundary stitching, empty partitions, and
the plan property that no single-partition exchange exists."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from big_data_analysis_for_stock_market_data_spark.operators import windows as win_ops
from big_data_analysis_for_stock_market_data_spark.plans import inspect as P


@pytest.fixture(scope="module")
def series(spark):
    # unique order key, non-monotonic values
    return spark.range(500).select(
        F.col("id").alias("t"),
        (F.sin(F.col("id") * 0.37) * 100).alias("v"),
    )


@pytest.mark.parametrize("kind", ["lag", "lead"])
@pytest.mark.parametrize("n_parts", [1, 7, 64])
def test_matches_single_partition_window(spark, series, kind, n_parts):
    # n_parts=64 > distinct range buckets for 500 rows => exercises
    # empty/sparse partitions in the boundary stitch
    got = (
        win_ops.global_lag_lead(
            series, "v", order_by="t", kind=kind, num_partitions=n_parts
        )
        .orderBy("t")
        .collect()
    )
    fn = F.lag if kind == "lag" else F.lead
    want = (
        series.withColumn(f"{kind}_v", fn("v", 1).over(Window.orderBy("t")))
        .orderBy("t")
        .collect()
    )
    assert got == want


def test_no_single_partition_exchange(series):
    df = win_ops.global_lag_lead(series, "v", order_by="t", kind="lag")
    plan = P.explain_str(df, "simple")
    # the big side shuffles by the deterministic bucket id (parallel
    # windows); the ONLY SinglePartition exchange is the |buckets|-row
    # bounds frame that gets broadcast back
    assert "hashpartitioning(__bkt" in plan
    assert plan.count("Exchange SinglePartition") == 1


def test_range_exchange_reused_not_recomputed(series):
    # boundary stitch must reuse the SAME range shuffle output the window
    # consumed: a recomputed exchange could re-sample different bounds and
    # mis-stitch. AQE reuse shows as ReusedExchange/table-cache reuse.
    df = win_ops.global_lag_lead(series, "v", order_by="t", kind="lag")
    df.write.format("noop").mode("overwrite").save()  # force execution
    # value parity across 3 runs guards against nondeterministic stitching
    runs = [
        win_ops.global_lag_lead(series, "v", order_by="t", kind="lag")
        .orderBy("t")
        .collect()
        for _ in range(3)
    ]
    assert runs[0] == runs[1] == runs[2]


def test_bad_kind_rejected(series):
    with pytest.raises(ValueError, match="kind"):
        win_ops.global_lag_lead(series, "v", order_by="t", kind="middle")


def test_prefix_sum_matches_sequential_window(spark, series):
    from pyspark.sql import functions as F

    got = (
        win_ops.prefix_sum(series, "v", order_by="t", num_buckets=7)
        .orderBy("t")
        .collect()
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    want = (
        series.withColumn(
            "cumsum_v",
            F.sum(F.col("v").cast("decimal(28,8)")).over(w).cast("double"),
        )
        .orderBy("t")
        .collect()
    )
    assert got == want


def test_prefix_sum_keyed_plan_is_pure_window(spark):
    # With a partition key the scalable plan is the plain per-key running
    # sum: ONE hash shuffle on the key, no auxiliary offsets frame, and
    # critically no broadcast — the old always-bucketed form broadcast a
    # |keys × buckets| frame, which for a high-cardinality key (user_id
    # at 100 TB) is a multi-GB broadcast to every executor.
    df = spark.range(400).select(
        (F.col("id") % 97).alias("k"),
        F.col("id").alias("t"),
        (F.col("id") % 17 * 1.0).alias("v"),
    )
    out = win_ops.prefix_sum(df, "v", order_by="t", partition_by="k")
    plan = P.explain_str(out, "formatted")
    assert "BroadcastExchange" not in plan
    assert "Join" not in plan
    assert "Window" in plan


def test_prefix_sum_keyless_offsets_broadcast_is_bounded(spark, series):
    # The keyless two-phase scan broadcasts ONLY the |buckets|-row offsets
    # frame (bounded by config, never by data) — exactly one broadcast.
    out = win_ops.prefix_sum(series, "v", order_by="t", num_buckets=7)
    plan = P.explain_str(out, "simple")
    assert plan.count("BroadcastExchange") == 1


def test_prefix_sum_per_key(spark):
    from pyspark.sql import functions as F

    df = spark.range(400).select(
        (F.col("id") % 3).alias("k"),
        F.col("id").alias("t"),
        (F.col("id") % 17 * 1.0).alias("v"),
    )
    got = (
        win_ops.prefix_sum(df, "v", order_by="t", partition_by="k", num_buckets=5)
        .orderBy("k", "t")
        .collect()
    )
    w = (
        Window.partitionBy("k")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = (
        df.withColumn(
            "cumsum_v",
            F.sum(F.col("v").cast("decimal(28,8)")).over(w).cast("double"),
        )
        .orderBy("k", "t")
        .collect()
    )
    assert got == want


def test_linear_recurrence_scan_matches_sequential(spark):
    """Block-parallel affine scan == the per-key sequential fold (rtol):
    multi-key, block_len far smaller than the series so the boundary
    stitch actually runs, varying coefficients."""
    import numpy as np
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from big_data_analysis_for_stock_market_data_spark.operators.windows import (
        linear_recurrence,
    )

    rng = np.random.default_rng(11)
    rows = []
    want = {}
    for key in ("a", "b"):
        c = rng.uniform(0.2, 0.99, 500)
        b = rng.normal(0.0, 1.0, 500)
        y = 0.0
        for i in range(500):
            y = c[i] * y + b[i]
            want[(key, i)] = y
            rows.append(Row(k=key, t=i, c=float(c[i]), b=float(b[i])))
    df = spark.createDataFrame(rows)
    out = linear_recurrence(
        df, {"y": (F.col("c"), F.col("b"))},
        order_by="t", partition_by="k", num_buckets=12,
    )
    got = {(r.k, r.t): r.y for r in out.collect()}
    assert len(got) == 1000
    for kk, w in want.items():
        assert abs(got[kk] - w) <= 1e-9 * max(1.0, abs(w)), (kk, got[kk], w)


def test_ema_scan_matches_pandas_ewm(spark):
    import numpy as np
    import pandas as pd
    from pyspark.sql import Row

    from big_data_analysis_for_stock_market_data_spark.operators.windows import ema_scan

    rng = np.random.default_rng(3)
    xs = rng.normal(100.0, 5.0, 700)
    df = spark.createDataFrame(
        [Row(symbol="Z", t=i, close=float(x)) for i, x in enumerate(xs)]
    )
    out = ema_scan(df, spans=[10, 26], order_by="t", num_buckets=9)
    got = {r.t: (r.ema10, r.ema26) for r in out.collect()}
    ref10 = pd.Series(xs).ewm(span=10, adjust=False).mean()
    ref26 = pd.Series(xs).ewm(span=26, adjust=False).mean()
    for i in range(700):
        assert abs(got[i][0] - ref10[i]) <= 1e-9 * max(1.0, abs(ref10[i]))
        assert abs(got[i][1] - ref26[i]) <= 1e-9 * max(1.0, abs(ref26[i]))


def _scan_only(df, **family):
    # one indicator of recursive_scan_enrich's family, the rest switched off
    off = dict(ema_spans=(), macd_pairs=(), rsi_ns=(), kama_ns=(), adx_ns=())
    return win_ops.recursive_scan_enrich(df, order_by="t", **{**off, **family})


def test_kama_scan_matches_sequential_kama(spark):
    import numpy as np
    from pyspark.sql import Row

    from big_data_analysis_for_stock_market_data_spark.operators.indicators import kama

    rng = np.random.default_rng(21)
    xs = np.cumsum(rng.normal(0.0, 1.0, 600)) + 100.0
    df = spark.createDataFrame(
        [Row(symbol="K", t=i, close=float(x)) for i, x in enumerate(xs)]
    )
    want = {r.t: r.kama10
            for r in kama(df, n=10, order_by="t").collect()}
    got = {r.t: r.kama10
           for r in _scan_only(df, kama_ns=(10,), num_buckets=7).collect()}
    assert len(got) == 600
    for t in range(600):
        assert abs(got[t] - want[t]) <= 1e-9 * max(1.0, abs(want[t])), t


def test_rsi_scan_matches_sequential_rsi(spark):
    import numpy as np
    from pyspark.sql import Row

    from big_data_analysis_for_stock_market_data_spark.operators.indicators import rsi

    rng = np.random.default_rng(22)
    xs = np.cumsum(rng.normal(0.0, 1.0, 500)) + 100.0
    df = spark.createDataFrame(
        [Row(symbol="R", t=i, close=float(x)) for i, x in enumerate(xs)]
    )
    want = {r.t: r.rsi14 for r in rsi(df, n=14, order_by="t").collect()}
    got = {r.t: r.rsi14
           for r in _scan_only(df, rsi_ns=(14,), num_buckets=6).collect()}
    assert got[0] is None and (want[0] is None or want[0] != want[0])
    for t in range(1, 500):
        assert abs(got[t] - want[t]) <= 1e-9 * max(1.0, abs(want[t])), t
