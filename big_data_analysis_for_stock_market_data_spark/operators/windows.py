"""Window operators (SURVEY.md §2.5) in three scan shapes.

**Keyed windows** (``label_buy_sell``, ``with_lag``/``with_lead``,
``rolling``, the keyed ``prefix_sum``, ``forward_fill``): one hash shuffle
on the partition key, then Spark's own window per key. The reference
builds its binary label with an **unpartitioned** window —
``LAG(high) OVER (ORDER BY date)`` (``G_2_rf_nordd.py:36``) — which Spark
executes by moving every row into a single partition (SURVEY.md §2.9-Q3):
fine at 671 K rows, fatal at 100 TB. These operators therefore take a
``partition_by`` key (symbol, user, …); ``partition_by=None`` remains
available for small frames.

**Two-phase bucketed scans** (``prefix_sum_multi``, ``global_lag_lead``,
``rolling_apply_parallel``): rows are bucketed by deterministic quantile
cuts of the order column (``compute_order_cuts``), each bucket runs its
local pass in parallel, and a |buckets|-row summary stitches the bucket
boundaries (offsets, neighbour values, or a ``lookback``-row halo).

**The affine block scan** (``_affine_scan``; ``linear_recurrence``,
``ema_scan``, ``recursive_scan_enrich``, ``holt_scan``): recurrences
``s_i = M_i·s_{i-1} + u_i`` fold per (key, bucket) in parallel, and one
summary row per bucket combines per key, so parallelism is
rows/buckets instead of |keys|.

Q1 (lag-vs-lead label bug): the reference's eight scripts alias
``LAG(high)`` — the *previous* row — as ``next_high`` and build the label
from it, while the notebook (cell 50) and the presentation (p.15) state the
intent is the *following* row's high. ``label_buy_sell`` implements the
intent (``mode='lead'``) and offers byte-compatible replication
(``mode='lag_parity'``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def _ordered_window(
    order_by: str | Column,
    partition_by: str | Sequence[str] | None,
) -> WindowSpec:
    if partition_by is None:
        return Window.orderBy(order_by)
    if isinstance(partition_by, str):
        partition_by = [partition_by]
    return Window.partitionBy(*partition_by).orderBy(order_by)


def _key_list(partition_by: str | Sequence[str] | None) -> list[str]:
    if partition_by is None:
        return []
    return [partition_by] if isinstance(partition_by, str) else list(partition_by)


def label_buy_sell(
    df: DataFrame,
    value_col: str = "high",
    order_by: str = "date",
    partition_by: str | Sequence[str] | None = None,
    mode: str = "lead",
    out_col: str = "buy_or_sell",
) -> DataFrame:
    """Binary next-step label (reference W1/W3).

    ``mode='lead'``: label = 1 iff the *next* row's ``value_col`` exceeds the
    current one (the stated intent; ``G_2_data_exploration.ipynb cell 50``).
    ``mode='lag_parity'``: replicates the scripts' actual computation —
    ``LAG(value)`` compared against current (``G_2_rf_nordd.py:36-37``).
    """
    w = _ordered_window(order_by, partition_by)
    if mode == "lead":
        neighbor = F.lead(value_col, 1).over(w)
    elif mode == "lag_parity":
        neighbor = F.lag(value_col, 1).over(w)
    else:
        raise ValueError(f"mode must be 'lead' or 'lag_parity', got {mode!r}")
    return df.withColumn(
        out_col, F.when(neighbor > F.col(value_col), 1).otherwise(0)
    )


def with_lag(
    df: DataFrame,
    value_col: str,
    order_by: str,
    partition_by: str | Sequence[str] | None = None,
    offset: int = 1,
    out_col: str | None = None,
) -> DataFrame:
    """``LAG(value, offset)`` (reference W1/W2). The reference's W2 variant
    orders by a day-grain key over minute rows — ties make it
    nondeterministic (Q2); callers must pass a total ordering."""
    w = _ordered_window(order_by, partition_by)
    return df.withColumn(out_col or f"lag_{value_col}", F.lag(value_col, offset).over(w))


def with_lead(
    df: DataFrame,
    value_col: str,
    order_by: str,
    partition_by: str | Sequence[str] | None = None,
    offset: int = 1,
    out_col: str | None = None,
) -> DataFrame:
    """``LEAD(value, offset)`` (reference W3, notebook cell 50)."""
    w = _ordered_window(order_by, partition_by)
    return df.withColumn(
        out_col or f"lead_{value_col}", F.lead(value_col, offset).over(w)
    )


def shuffle_partitions(df: DataFrame) -> int:
    """``spark.sql.shuffle.partitions`` of ``df``'s session as an int (Spark
    rejects a non-integer value when the conf is set)."""
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def compute_order_cuts(df: DataFrame, order_by: str, n: int) -> list[float]:
    """n-1 quantile cut points of ``order_by`` as plain floats — ONE
    approxQuantile pass. Callers that hold a cheaper frame exposing the
    same column (e.g. the raw fact table before window enrichment) should
    compute cuts there and pass them down: the sketch pass then scans a
    column-pruned plan instead of re-running the full upstream pipeline."""
    key = F.col(order_by).cast("double")
    probs = [i / n for i in range(1, n)]
    if not probs:
        return []
    return sorted(
        set(df.select(key.alias("__k")).stat.approxQuantile("__k", probs, 0.001))
    )


def _quantile_buckets(
    df: DataFrame, order_by: str, n: int,
    cuts: "list[float] | None" = None,
) -> Column:
    """Deterministic bucket id from n-1 quantile cut points of ``order_by``
    (numeric/timestamp). Unlike ``repartitionByRange``, the cut points are
    computed ONCE and baked into the expression, so every plan branch that
    evaluates it assigns identical buckets — recomputation-safe."""
    key = F.col(order_by).cast("double")
    if cuts is None:
        cuts = compute_order_cuts(df, order_by, n)
    if not cuts:
        return F.lit(0)
    # plain conditional sum, not a higher-order aggregate(): lambda
    # functions inside expressions that later become grouping keys hit
    # Catalyst binding bugs when the plan branches (observed
    # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND); CASE chains bind everywhere
    bucket: Column = F.lit(0)
    for c in cuts:
        bucket = bucket + F.when(key > c, 1).otherwise(0)
    return bucket


def prefix_sum(
    df: DataFrame,
    value_col: str,
    order_by: str,
    partition_by: str | Sequence[str] | None = None,
    out_col: str | None = None,
    num_buckets: int | None = None,
) -> DataFrame:
    """Distributed inclusive prefix sum (cumulative sum) in global or
    per-key order, summed in decimal(28,8) and returned as double.

    With a ``partition_by`` key this is the plain per-key running-sum
    window — one hash shuffle on the key, parallelism = |keys|, no
    auxiliary frames. That IS the scalable plan when a key exists: the
    earlier always-bucketed form built a |keys × buckets| offsets frame
    and broadcast it, which for a high-cardinality key (user_id at
    100 TB) is a multi-GB broadcast to every executor.

    The keyless (global-order) case is ``prefix_sum_multi`` over the one
    column. Decimal addition is associative, so either plan is
    bit-identical to the sequential window."""
    out = out_col or f"cumsum_{value_col}"
    keys = _key_list(partition_by)
    if not keys:
        return prefix_sum_multi(df, [value_col], order_by, [out], num_buckets)
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    total = F.sum(F.col(value_col).cast("decimal(28,8)")).over(w)
    return df.withColumn(out, total.cast("double"))


def prefix_sum_multi(
    df: DataFrame,
    value_cols: Sequence[str],
    order_by: str,
    out_cols: Sequence[str] | None = None,
    num_buckets: int | None = None,
) -> DataFrame:
    """Global-order inclusive prefix sums of SEVERAL columns in ONE
    two-phase parallel scan: one quantile bucket assignment, one
    bucket-local window pass carrying all the running sums, one
    |buckets|-row totals aggregate, one offsets broadcast — each bucket
    shifted by the cumulative total of its predecessors. The offsets frame
    has exactly |buckets| rows (bounded by config, never by data), so it is
    safely broadcast; ``Window.orderBy(...)`` alone would compute this
    through ONE task. Calling the one-column form k times costs k full
    scans + k broadcasts; this is the fused form (the KS ECDF pair,
    multi-metric cumulative dashboards). Sums are decimal(28,8), so the
    re-association is exact."""
    cols = list(value_cols)
    outs = list(out_cols) if out_cols else [f"cumsum_{c}" for c in cols]
    if len(outs) != len(cols):
        raise ValueError("out_cols must match value_cols")
    n = num_buckets or shuffle_partitions(df)
    vals = [F.col(c).cast("decimal(28,8)") for c in cols]

    d = df.withColumn("__bkt", _quantile_buckets(df, order_by, n))
    local_w = (
        Window.partitionBy("__bkt")
        .orderBy(order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for i, v in enumerate(vals):
        d = d.withColumn(f"__local{i}", F.sum(v).over(local_w))
    totals = d.groupBy("__bkt").agg(
        *[F.sum(v).alias(f"__tot{i}") for i, v in enumerate(vals)]
    )
    off_w = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__bkt",
        *[F.sum(f"__tot{i}").over(off_w).alias(f"__off{i}")
          for i in range(len(cols))],
    )
    d = d.join(F.broadcast(offsets), on=["__bkt"], how="left")
    helpers = ["__bkt"]
    for i, out in enumerate(outs):
        # sum(decimal(28,8)) widens to (38,8); adding two of those would
        # overflow precision 38 and Spark silently DROPS scale to 7 —
        # quantizing the result. Cast back to (28,8) so the final addition
        # stays at scale 8 (documented bound: |total| < 1e20).
        local = F.col(f"__local{i}").cast("decimal(28,8)")
        off = F.coalesce(F.col(f"__off{i}").cast("decimal(28,8)"), F.lit(0))
        d = d.withColumn(out, (local + off).cast("double"))
        helpers += [f"__local{i}", f"__off{i}"]
    return d.drop(*helpers)


def rolling_apply_parallel(
    df: DataFrame,
    fn,
    new_cols: dict,
    lookback: int,
    order_by: str,
    partition_by: str | Sequence[str] | None = None,
    num_buckets: int | None = None,
    cuts: "list[float] | None" = None,
) -> DataFrame:
    """Parallel bounded-history rolling computation INSIDE a partition key —
    the answer to 'one symbol's decade of history still runs on one core'.

    ``cuts`` (optional): precomputed ``compute_order_cuts`` output. Without
    it, the cut-point sketch runs against ``df`` itself — which at plan
    time re-executes ``df``'s full upstream lineage once. Callers holding
    a cheaper ancestor frame with the same ``order_by`` column should
    sketch there and pass the cuts down (one pruned scan instead of two
    full pipeline executions — the difference between 1x and 2x input
    passes at 100 TB).

    Rows are bucketed by deterministic quantile cuts of ``order_by``; each
    bucket additionally receives the previous bucket's last ``lookback``
    rows as read-only context, so any computation whose dependence is
    bounded by ``lookback`` rows (rolling means/extrema/sums, lags up to
    ``lookback``) is EXACT at bucket boundaries while buckets run in
    parallel. ``fn(pdf) -> pdf`` is applied per (keys, bucket) group on the
    timestamp-sorted frame (context included); context rows are dropped
    from the output afterwards.

    Contract: every preceding bucket must hold ≥ ``lookback`` rows
    (quantile buckets are near-equal-count; choose ``num_buckets`` ≤
    |rows| / (4·lookback) to be safe). Unbounded recursions (EMA-family)
    do NOT satisfy the bounded-dependence contract — use the exact
    per-key ``applyInPandas`` pass for those.
    """
    import pandas as pd  # noqa: F401

    from pyspark.sql import types as T

    keys = _key_list(partition_by)
    npart = shuffle_partitions(df)
    d = df.withColumn(
        "__bkt", _quantile_buckets(df, order_by, num_buckets or npart, cuts=cuts)
    )

    # One pass marks each bucket's last `lookback` rows and EXPLODES them
    # into (own bucket, next bucket as context) — no union of two plan
    # branches, so the ranking window runs exactly once.
    tail_w = Window.partitionBy(*keys, "__bkt").orderBy(F.col(order_by).desc())
    d = d.withColumn("__rn_end", F.row_number().over(tail_w))
    d = d.withColumn(
        "__dst",
        F.explode(
            F.when(
                F.col("__rn_end") <= lookback,
                F.array(F.col("__bkt"), F.col("__bkt") + 1),
            ).otherwise(F.array(F.col("__bkt")))
        ),
    )
    d = d.withColumn("__ctx", F.col("__dst") != F.col("__bkt"))
    drop_cols = ["__bkt", "__rn_end", "__dst", "__ctx"]

    out_schema = T.StructType(
        [f for f in df.schema.fields]
        + [T.StructField(c, t, True) for c, t in new_cols.items()]
    )

    def wrapper(pdf):
        pdf = pdf.sort_values(order_by, kind="mergesort")
        res = fn(pdf)
        res = res[~res["__ctx"]]
        return res.drop(columns=drop_cols)

    d = d.repartition(npart, *[F.col(c) for c in [*keys, "__dst"]])
    return d.groupBy(*keys, "__dst").applyInPandas(wrapper, out_schema)


def global_lag_lead(
    df: DataFrame,
    value_col: str,
    order_by: str,
    kind: str = "lag",
    out_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Globally-ordered LAG/LEAD *without* the single-partition collapse
    (the 100 TB answer to Q3 when no natural partition key exists).

    Plan: bucket rows by DETERMINISTIC range boundaries (a one-pass quantile
    sketch of ``order_by``, n-1 cut points held on the driver — bounded by
    the bucket count, never by data size), run the window per bucket
    (parallel, partition-local), then stitch bucket boundaries: a
    |buckets|-row aggregate carries each bucket's first/last value to its
    neighbor via a broadcast join. Cost: one sketch pass + one hash shuffle
    on the bucket id — vs ``Window.orderBy(col)`` which funnels the entire
    table through ONE task.

    Explicit buckets (not ``repartitionByRange``) are load-bearing: the
    range partitioner SAMPLES its bounds per shuffle, so the window branch
    and the boundary branch could see different partition assignments and
    mis-stitch; a computed bucket column is identical everywhere it is
    evaluated.

    ``order_by`` must be a numeric/timestamp total order (unique values) —
    the same requirement any deterministic lag has (Q2). Offset is fixed at
    1: the k>1 generalization needs a k-row boundary exchange; YAGNI for
    the reference surface (every site uses offset 1).
    """
    if kind not in ("lag", "lead"):
        raise ValueError(f"kind must be 'lag' or 'lead', got {kind!r}")
    out = out_col or f"{kind}_{value_col}"
    n = num_partitions or shuffle_partitions(df)
    d = df.withColumn("__bkt", _quantile_buckets(df, order_by, n))

    local_w = Window.partitionBy("__bkt").orderBy(order_by)
    neighbor = (F.lag if kind == "lag" else F.lead)(value_col, 1).over(local_w)
    d = d.withColumn("__local", neighbor)

    # Per-bucket boundary values (|buckets| rows — negligible):
    # struct(order, value) min/max gives the first/last row per bucket.
    bounds = d.groupBy("__bkt").agg(
        F.min(F.struct(order_by, value_col)).alias("__first"),
        F.max(F.struct(order_by, value_col)).alias("__last"),
    )
    # Previous/next NON-EMPTY bucket via a window over the tiny frame
    # (single-partition execution of |buckets| rows is fine).
    bw = Window.orderBy("__bkt")
    if kind == "lag":
        fill = bounds.select(
            "__bkt",
            F.lag(F.col("__last")[value_col], 1).over(bw).alias("__fill"),
        )
        is_boundary = F.row_number().over(local_w) == 1
    else:
        fill = bounds.select(
            "__bkt",
            F.lead(F.col("__first")[value_col], 1).over(bw).alias("__fill"),
        )
        rev_w = Window.partitionBy("__bkt").orderBy(F.col(order_by).desc())
        is_boundary = F.row_number().over(rev_w) == 1

    d = d.join(F.broadcast(fill), on="__bkt", how="left")
    d = d.withColumn(
        out, F.when(is_boundary, F.col("__fill")).otherwise(F.col("__local"))
    )
    return d.drop("__bkt", "__local", "__fill")


def rolling(
    df: DataFrame,
    value_col: str,
    order_by: str,
    partition_by: str | Sequence[str],
    window: int,
    funcs: dict[str, str] | None = None,
) -> DataFrame:
    """Trailing ``window``-row frame aggregates (reference W4 — absent in the
    reference because indicators arrived precomputed; the engine computes
    them natively). ``funcs`` maps output-column -> aggregate name
    (avg/sum/min/max/stddev/count). Frame: ``rowsBetween(-(window-1), 0)``.
    """
    funcs = funcs or {f"rolling_avg_{value_col}": "avg"}
    w = _ordered_window(order_by, partition_by).rowsBetween(-(window - 1), 0)
    out = df
    for out_col, fn in funcs.items():
        out = out.withColumn(out_col, getattr(F, fn)(value_col).over(w))
    return out


def _affine_step(m, s, u):
    """``m·s + u`` for one k-state step, summed left to right. The fold,
    the per-key combine and the rowwise finalize (where the entries are
    Columns) all go through it, so the three stages round identically."""
    out = []
    for r, ur in enumerate(u):
        acc = m[r][0] * s[0]
        for c in range(1, len(s)):
            acc = acc + m[r][c] * s[c]
        out.append(acc + ur)
    return out


def _affine_scan(
    df: DataFrame,
    systems: "list[tuple[Sequence[str], list[list[Column]], list[Column]]]",
    order_by: str,
    keys: list[str],
    num_buckets: int | None,
    cuts: "list[float] | None",
) -> DataFrame:
    """Block-parallel affine scan. Each system ``(outs, M, u)`` is a k-state
    recurrence ``s_i = M_i·s_{i-1} + u_i`` per key in ``order_by`` order,
    seeded ``s_{-1} = 0`` (encode other seeds in the first row's M/u — a
    zero M absorbs any carried state); ``M`` is k×k Columns, ``u`` is k
    Columns, and state r is emitted as column ``outs[r]``.

    The sequential per-key pass has parallelism = |keys| — the documented
    worst case when a few symbols hold millions of rows each. Affine maps
    compose associatively ((M2,u2)∘(M1,u1) = (M2·M1, M2·u1 + u2)), so the
    recurrence is a segment scan with NO per-key total order anywhere:

    1. deterministic order-range buckets from quantile cut points (no
       row_number, so a single giant key never serializes through one
       sort task); ``cuts`` is precomputed ``compute_order_cuts`` output —
       without it the sketch re-executes ``df``'s upstream lineage once;
    2. each (key, bucket) folds locally IN PARALLEL, emitting per-row
       partials (prefix product ``P_i`` of the M's, zero-seed state
       ``B_i``);
    3. one summary row per bucket combines per key in bucket order — tiny;
    4. ``s_i = P_i·s_start(bucket) + B_i`` finalizes rowwise.

    The scanned frame is persisted: it feeds both the summary branch and
    the final join, and without it Spark re-runs the Python stage.

    Float caveat: the re-association is NOT bit-identical to the
    sequential fold (decimal exactness is impossible for products); it is
    numerically equivalent (|rel err| ~ 1e-12, tests pin it). Underflow of
    ``P_i`` for long blocks is benign — a dead product means the block
    start genuinely cannot influence those rows."""
    import numpy as np
    import pandas as pd  # noqa: F401  (applyInPandas contract)

    from pyspark import StorageLevel
    from pyspark.sql import types as T

    npart = shuffle_partitions(df)
    d = df.withColumn(
        "__bkt", _quantile_buckets(df, order_by, num_buckets or npart, cuts=cuts)
    )
    dims = [len(outs) for outs, _, _ in systems]

    def cols(tag: str, i: int) -> list[str]:
        # system i's helper columns: M and P entries row-major (k*k);
        # u, B and the bucket start state (k)
        k = dims[i]
        return [f"__{tag}{i}_{j}" for j in range(k * k if tag in "mp" else k)]

    for i, (_, m, u) in enumerate(systems):
        entries = [e for row in m for e in row] + list(u)
        for name, e in zip(cols("m", i) + cols("u", i), entries):
            d = d.withColumn(name, e.cast("double"))
    part_cols = [c for tag in "pb" for i in range(len(dims)) for c in cols(tag, i)]

    block_schema = T.StructType(
        d.schema.fields
        + [T.StructField(c, T.DoubleType(), True) for c in part_cols]
    )

    def blockfn(pdf):
        pdf = pdf.sort_values(order_by, kind="mergesort")
        n = len(pdf)
        for i, k in enumerate(dims):
            m = pdf[cols("m", i)].to_numpy(dtype="float64").reshape(n, k, k)
            u = pdf[cols("u", i)].to_numpy(dtype="float64")
            p = np.empty((n, k, k))
            q = np.empty((n, k))
            if k == 1:
                c, b = m[:, 0, 0], u[:, 0]
                with np.errstate(under="ignore"):
                    p[:, 0, 0] = np.cumprod(c)
                acc = 0.0
                for j in range(n):
                    acc = c[j] * acc + b[j]
                    q[j, 0] = acc
            else:
                pj, s = np.eye(k), [0.0] * k
                for j in range(n):
                    with np.errstate(under="ignore"):
                        pj = m[j] @ pj
                        s = _affine_step(m[j], s, u[j])
                    p[j], q[j] = pj, s
            for name, v in zip(cols("p", i) + cols("b", i),
                               [*p.reshape(n, k * k).T, *q.T]):
                pdf[name] = v
        return pdf

    # pin the block stage's partition count (same rationale as
    # indicators._recursive_apply): AQE's byte-based coalescing would
    # collapse this small-bytes / heavy-CPU Python stage to a few tasks,
    # which is exactly the serialization this operator exists to remove
    d = d.repartition(npart, *[F.col(c) for c in keys], F.col("__bkt"))
    scanned = d.groupBy(*keys, "__bkt").applyInPandas(
        blockfn, schema=block_schema
    ).persist(StorageLevel.MEMORY_AND_DISK)

    # one summary row per bucket: the bucket's LAST (P, B) (max_by on the
    # order column — no rank needed)
    ordk = F.col(order_by)
    summaries = scanned.groupBy(*keys, "__bkt").agg(
        *[F.max_by(F.col(c), ordk).alias(c) for c in part_cols]
    )
    start_schema = T.StructType(
        summaries.schema.fields
        + [T.StructField(c, T.DoubleType(), True)
           for i in range(len(dims)) for c in cols("s", i)]
    )

    def combine(pdf):
        pdf = pdf.sort_values("__bkt", kind="mergesort")
        n = len(pdf)
        for i, k in enumerate(dims):
            p = pdf[cols("p", i)].to_numpy(dtype="float64").reshape(n, k, k)
            q = pdf[cols("b", i)].to_numpy(dtype="float64")
            s = [0.0] * k
            starts = np.empty((n, k))
            for j in range(n):
                starts[j] = s
                s = _affine_step(p[j], s, q[j])
            for name, v in zip(cols("s", i), starts.T):
                pdf[name] = v
        return pdf

    offsets = summaries.groupBy(*keys).applyInPandas(
        combine, schema=start_schema
    ).select(*keys, "__bkt", *[c for i in range(len(dims)) for c in cols("s", i)])

    joined = scanned.join(offsets, on=[*keys, "__bkt"], how="left")
    for i, (outs, _, _) in enumerate(systems):
        k = dims[i]
        p = [F.col(c) for c in cols("p", i)]
        start = [F.coalesce(F.col(c), F.lit(0.0)) for c in cols("s", i)]
        b = [F.col(c) for c in cols("b", i)]
        state = _affine_step([p[r * k:(r + 1) * k] for r in range(k)], start, b)
        for out, e in zip(outs, state):
            joined = joined.withColumn(out, e)
    return joined.drop(
        "__bkt",
        *[c for tag in "mupbs" for i in range(len(dims)) for c in cols(tag, i)],
    )


def linear_recurrence(
    df: DataFrame,
    recurrences: "dict[str, tuple[Column, Column]]",
    order_by: str,
    partition_by: str | Sequence[str],
    num_buckets: int | None = None,
    cuts: "list[float] | None" = None,
) -> DataFrame:
    """Block-parallel scalar affine scan: for each ``out -> (coef, input)``
    entry, computes ``y_i = coef_i * y_{i-1} + input_i`` per key in
    ``order_by`` order (seed ``y_{-1} = 0``; encode other seeds in the
    first row's coef/input — see ``ema_scan``). All entries fold in one
    ``_affine_scan`` pass, one 1×1 system each.

    This is the scalable execution of the recursive-indicator family
    (EMA/KAMA/RSI are all affine in the carried state); ``cuts`` and the
    float caveat are ``_affine_scan``'s."""
    systems = [
        ((out,), [[coef]], [inp]) for out, (coef, inp) in recurrences.items()
    ]
    return _affine_scan(
        df, systems, order_by, _key_list(partition_by), num_buckets, cuts
    )


def ema_scan(
    df: DataFrame,
    spans: Sequence[int],
    partition_by: str | Sequence[str] = "symbol",
    order_by: str = "date",
    col: str = "close",
    num_buckets: int | None = None,
) -> DataFrame:
    """EMA via the block-parallel affine scan (``linear_recurrence``) —
    numerically equivalent to ``indicators.ema`` (pandas
    ``ewm(adjust=False)`` seeded from the first value), but with
    parallelism rows/num_buckets instead of |symbols|. Use when few keys
    hold long series; the sequential engine stays the bit-exact default.

    The seed (y_0 = x_0) needs a first-row flag; it comes from a
    groupBy-min + join on the key — an aggregate with map-side combine,
    NOT a per-key ordered window (which would re-introduce the one-task
    sort this engine exists to remove)."""
    keys = _key_list(partition_by)
    mins = df.groupBy(*keys).agg(F.min(order_by).alias("__min_ord"))
    df = df.join(mins, on=keys, how="left")
    first = F.col(order_by) == F.col("__min_ord")
    recs: dict[str, tuple[Column, Column]] = {}
    for n in spans:
        a = 2.0 / (n + 1)
        recs[f"ema{n}"] = (
            F.when(first, F.lit(0.0)).otherwise(F.lit(1.0 - a)),
            F.when(first, F.col(col)).otherwise(F.lit(a) * F.col(col)),
        )
    out = linear_recurrence(
        df, recs, order_by=order_by, partition_by=keys,
        num_buckets=num_buckets,
    )
    return out.drop("__min_ord")


def recursive_scan_enrich(
    df: DataFrame,
    partition_by: str | Sequence[str] = "symbol",
    order_by: str = "date",
    col: str = "close",
    ema_spans: Sequence[int] = (5, 10, 15, 20),
    macd_pairs: Sequence[tuple[int, int]] = ((12, 26),),
    rsi_ns: Sequence[int] = (14,),
    kama_ns: Sequence[int] = (10,),
    adx_ns: Sequence[int] = (14,),
    apo_pairs: Sequence[tuple[int, int]] = (),
    ppo_pairs: Sequence[tuple[int, int]] = (),
    num_buckets: int | None = None,
    cuts: "list[float] | None" = None,
) -> DataFrame:
    """The recursive indicator family (EMA/MACD/APO/PPO/RSI/KAMA/ADX) as
    block-parallel affine scans — the degenerate-keyspace twin of
    ``indicators.recursive_enrich``'s sequential pandas pass. When a few
    keys hold all the rows (the reference's 4-symbol shape), the
    sequential engine's parallelism is |keys|; here every recurrence is an
    affine map, so ALL of them fold in ONE ``linear_recurrence`` pass
    whose parallelism is rows/num_buckets (plus a second pass for ADX,
    whose outer Wilder smooth consumes the first pass's DX).

    Numerics: numerically equivalent to the sequential engine (the scan
    re-associates float products — rtol ~1e-12, pinned in
    test_global_window / test_indicators), NOT bit-identical; the
    sequential engine stays the exact default for oracle-checked entries.

    pandas ``ewm`` NaN semantics are replicated exactly: a NaN input row
    carries state unchanged (coef 1, input 0) and emits the carry; the
    first VALID value seeds the mean; rows before any valid value emit
    NaN (ADX's DX is NaN at the first row and wherever DI+ + DI- = 0).

    Coefficient pre-columns (row number, RSI gains/losses, KAMA smoothing
    constants, true range, directional movements) come from ONE per-key
    JVM sort window — a single codegen'd pass; the serialization this
    engine removes is the per-key PYTHON fold. KAMA's smoothing constant
    depends on the data (efficiency ratio), not on the carried state, so
    its recurrence stays affine.

    The scan runs on a NARROW projection (keys, order, price, high/low)
    and joins results back on (keys, order) — the scanned frame crosses
    the Arrow boundary twice and is persisted, so every payload column
    carried through it would be serialized 3x. Requires (keys, order) to
    be unique (already required for the recurrence to be well-defined).
    ``cuts``: precomputed order cut points (compute_order_cuts) — without
    them each linear_recurrence pass sketches its own, re-executing the
    upstream lineage."""
    keys = _key_list(partition_by)
    need_ohlc = bool(adx_ns) and all(
        c in df.columns for c in ("high", "low")
    )
    narrow = df.select(
        *keys, order_by, col,
        *(("high", "low") if need_ohlc else ()),
    )
    x = F.col(col)
    w = _ordered_window(order_by, keys)
    d = narrow.withColumn("__rn1", F.row_number().over(w))
    rn = F.col("__rn1")
    first = rn == 1
    temps: list[str] = ["__rn1"]
    recs: "dict[str, tuple[Column, Column]]" = {}

    # EMAs: one recurrence per span needed by any consumer
    all_spans = sorted(
        set(ema_spans)
        | {s for p in (*macd_pairs, *apo_pairs, *ppo_pairs) for s in p}
    )
    extra_emas = [n for n in all_spans if n not in set(ema_spans)]
    for n in all_spans:
        a = 2.0 / (n + 1)
        recs[f"ema{n}"] = (
            F.when(first, F.lit(0.0)).otherwise(F.lit(1.0 - a)),
            F.when(first, x).otherwise(F.lit(a) * x),
        )

    # RSI: two Wilder means per n over shared gain/loss columns
    if rsi_ns:
        delta = x - F.lag(col, 1).over(w)
        d = d.withColumn("__g", F.greatest(delta, F.lit(0.0)))
        d = d.withColumn("__l", F.greatest(-delta, F.lit(0.0)))
        temps += ["__g", "__l"]
    for n in rsi_ns:
        a = 1.0 / n
        first2 = rn <= 2
        for nm, src in ((f"__ag{n}", "__g"), (f"__al{n}", "__l")):
            recs[nm] = (
                F.when(first2, F.lit(0.0)).otherwise(F.lit(1.0 - a)),
                F.when(rn == 1, F.lit(0.0))
                .when(rn == 2, F.col(src))
                .otherwise(F.lit(a) * F.col(src)),
            )
            temps.append(nm)

    # KAMA: data-dependent smoothing constant per n (fast 2, slow 30)
    for n in kama_ns:
        fast_sc, slow_sc = 2.0 / (2 + 1), 2.0 / (30 + 1)
        fr = w.rowsBetween(-(n - 1), 0)
        adiff = F.abs(x - F.coalesce(F.lag(col, 1).over(w), x))
        vol = F.sum(adiff).over(fr)
        change = F.abs(x - F.lag(col, n).over(w))
        er = (
            F.when(rn <= n, F.lit(0.0))
            .when(vol > 0, change / vol)
            .otherwise(F.lit(0.0))
        )
        sc = F.pow(er * (fast_sc - slow_sc) + slow_sc, F.lit(2.0))
        d = d.withColumn(f"__sc{n}", sc)
        temps.append(f"__sc{n}")
        recs[f"kama{n}"] = (
            F.when(first, F.lit(0.0)).otherwise(1.0 - F.col(f"__sc{n}")),
            F.when(first, x).otherwise(F.col(f"__sc{n}") * x),
        )

    # ADX pass-1: Wilder-smoothed TR / +DM / -DM (shared raw columns)
    adx_ns = tuple(adx_ns) if need_ohlc else ()
    if adx_ns:
        h, lo = F.col("high"), F.col("low")
        prev_c = F.lag(col, 1).over(w)
        up = h - F.lag("high", 1).over(w)
        down = F.lag("low", 1).over(w) - lo
        # greatest() skips nulls, so the first row's TR = high-low —
        # exactly pandas' skipna row-max over [h-l, NaN, NaN]
        d = d.withColumn(
            "__tr",
            F.greatest(h - lo, F.abs(h - prev_c), F.abs(lo - prev_c)),
        )
        d = d.withColumn(
            "__pdm", F.when((up > down) & (up > 0), up).otherwise(F.lit(0.0))
        )
        d = d.withColumn(
            "__mdm",
            F.when((down > up) & (down > 0), down).otherwise(F.lit(0.0)),
        )
        temps += ["__tr", "__pdm", "__mdm"]
    for n in adx_ns:
        a = 1.0 / n
        recs[f"__atr{n}"] = (
            F.when(first, F.lit(0.0)).otherwise(F.lit(1.0 - a)),
            F.when(first, F.col("__tr")).otherwise(F.lit(a) * F.col("__tr")),
        )
        # +DM/-DM are NaN at row 1 in pandas (diff of nothing), so their
        # Wilder means seed at row 2; row 1's smoothed value is masked by
        # DX = 0/0 = NaN below, matching pandas exactly.
        for nm, src in ((f"__spdm{n}", "__pdm"), (f"__smdm{n}", "__mdm")):
            recs[nm] = (
                F.when(rn <= 2, F.lit(0.0)).otherwise(F.lit(1.0 - a)),
                F.when(rn == 1, F.lit(0.0))
                .when(rn == 2, F.col(src))
                .otherwise(F.lit(a) * F.col(src)),
            )
            temps.append(nm)
        temps.append(f"__atr{n}")

    out = linear_recurrence(
        d, recs, order_by=order_by, partition_by=keys,
        num_buckets=num_buckets, cuts=cuts,
    )

    # post-scan expressions (pure JVM projections)
    for a_, b_ in macd_pairs:
        out = out.withColumn(
            f"macd{a_}{b_}", F.col(f"ema{a_}") - F.col(f"ema{b_}")
        )
    for a_, b_ in apo_pairs:
        out = out.withColumn(
            f"apo{a_}{b_}", F.col(f"ema{a_}") - F.col(f"ema{b_}")
        )
    for a_, b_ in ppo_pairs:
        out = out.withColumn(
            f"ppo{a_}{b_}",
            100.0 * (F.col(f"ema{a_}") - F.col(f"ema{b_}")) / F.col(f"ema{b_}"),
        )
    for n in rsi_ns:
        ag, al = F.col(f"__ag{n}"), F.col(f"__al{n}")
        out = out.withColumn(
            f"rsi{n}",
            F.when(F.col("__rn1") == 1, F.lit(None).cast("double"))
            .when((al == 0) & (ag > 0), F.lit(100.0))
            .when((al == 0) & (ag == 0), F.lit(None).cast("double"))
            .otherwise(100.0 - 100.0 / (1.0 + ag / al)),
        )
    nan = F.lit(float("nan"))
    for n in adx_ns:
        # explicit NaN guards: ANSI mode raises on x/0, while pandas'
        # 0/0 yields NaN (row 1, flat markets) — the CASE keeps division
        # lazy so the zero-denominator rows never divide
        atr = F.col(f"__atr{n}")
        pdi = F.when(atr == 0.0, nan).otherwise(
            100.0 * F.col(f"__spdm{n}") / atr
        )
        mdi = F.when(atr == 0.0, nan).otherwise(
            100.0 * F.col(f"__smdm{n}") / atr
        )
        denom = pdi + mdi
        out = out.withColumn(
            f"__dx{n}",
            F.when(denom == 0.0, nan).otherwise(
                100.0 * F.abs(pdi - mdi) / denom
            ),
        )
        temps.append(f"__dx{n}")

    # ADX pass-2: Wilder smooth of DX with NaN-carry/seed-at-first-valid
    if adx_ns:
        w2 = _ordered_window(order_by, keys)
        run = w2.rowsBetween(Window.unboundedPreceding, 0)
        recs2: "dict[str, tuple[Column, Column]]" = {}
        for n in adx_ns:
            a = 1.0 / n
            dx = F.col(f"__dx{n}")
            valid = ~F.isnan(dx) & dx.isNotNull()
            out = out.withColumn(
                f"__seen{n}",
                F.sum(F.when(valid, 1).otherwise(0)).over(run),
            )
            temps.append(f"__seen{n}")
            seen = F.col(f"__seen{n}")
            recs2[f"__adx{n}"] = (
                F.when(~valid, F.lit(1.0))
                .when(seen == 1, F.lit(0.0))
                .otherwise(F.lit(1.0 - a)),
                F.when(~valid, F.lit(0.0))
                .when(seen == 1, dx)
                .otherwise(F.lit(a) * dx),
            )
            temps.append(f"__adx{n}")
        out = linear_recurrence(
            out, recs2, order_by=order_by, partition_by=keys,
            num_buckets=num_buckets, cuts=cuts,
        )
        for n in adx_ns:
            out = out.withColumn(
                f"adx{n}",
                F.when(
                    F.col(f"__seen{n}") == 0, F.lit(float("nan"))
                ).otherwise(F.col(f"__adx{n}")),
            )

    out = out.drop(
        *temps, *[f"ema{n}" for n in extra_emas], col,
        *(("high", "low") if need_ohlc else ()),
    )
    return df.join(out, on=[*keys, order_by], how="inner")


def gap_fill_daily(
    df: DataFrame,
    keys: Sequence[str],
    day_col: str,
    fill: dict[str, Column] | None = None,
) -> DataFrame:
    """Densify a sparse per-key daily series: generate each key's full
    date spine (min..max active day, via ``sequence`` + ``explode`` — the
    spine is built per key on executors, never on the driver) and left
    join the observations back; absent days take the ``fill`` expressions
    (default: nulls, ready for forward-fill).

    Fan-out is bounded by each key's date span; the join is keyed on
    (keys, day) — at 100 TB the spine costs one explode + one keyed
    shuffle, versus the driver-side calendar broadcast a naive
    implementation ships."""
    ks = list(keys)
    span = df.groupBy(*ks).agg(
        F.min(day_col).alias("__lo"), F.max(day_col).alias("__hi")
    )
    spine = span.select(
        *ks,
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"))
        ).alias(day_col),
    )
    out = spine.join(df, ks + [day_col], "left")
    for name, expr in (fill or {}).items():
        out = out.withColumn(name, F.coalesce(F.col(name), expr))
    return out


def forward_fill(
    df: DataFrame,
    keys: Sequence[str],
    order_by: str,
    cols: Sequence[str],
) -> DataFrame:
    """Last-observation-carried-forward per key: each null takes the most
    recent non-null value in ``order_by`` order — ``last(ignorenulls)``
    over an unbounded-preceding frame, one key-partitioned window. The
    standard densification step after ``gap_fill_daily``."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df
    for c in cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out


def cumulative_distinct(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    order_by: Sequence[str],
    out: str = "n_distinct_so_far",
) -> DataFrame:
    """Exact running DISTINCT count per key — e.g. 'distinct event types a
    user has touched so far'. COUNT(DISTINCT) OVER a running frame is
    unsupported in Spark (and quadratic where supported); the standard
    decomposition is two windows on the same key shuffle:

    1. first-occurrence flag: row_number over (keys, value) == 1;
    2. running sum of the flags over (keys) in ``order_by`` order.

    Ties in ``order_by`` across DIFFERENT values of ``value_col`` make
    the running figure order-dependent — include a unique id in
    ``order_by`` for a total order (same contract as every running
    window here)."""
    ob = [F.col(c) for c in order_by]
    w_first = Window.partitionBy(*keys, value_col).orderBy(*ob)
    w_run = (
        Window.partitionBy(*keys)
        .orderBy(*ob)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.withColumn(
            "__is_first", (F.row_number().over(w_first) == 1).cast("long")
        )
        .withColumn(out, F.sum("__is_first").over(w_run))
        .drop("__is_first")
    )


def sequence_pattern_match(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    step_col: str,
    pattern: str,
    tiebreak: Sequence[str] = (),
    sep: str = ">",
) -> DataFrame:
    """MATCH_RECOGNIZE-lite: regex pattern detection over each entity's
    time-ordered event chain. Builds the per-key ordered ``step_col``
    chain (joined with ``sep``) and reports how many non-overlapping
    matches of ``pattern`` it contains — the row-pattern-matching workload
    (SQL:2016 MATCH_RECOGNIZE, Flink CEP) reduced to the shape that
    distributes: one hash aggregate collecting (ts, tiebreak, step)
    structs, a JVM-side array_sort + transform + concat_ws, one regexp
    scan. No per-event window, no state machine shuffle; the chain lives
    inside its group's collected array, never as a global sort.

    ``pattern`` must stay in the Java-regex ∩ RE2 common subset (literals,
    classes, alternation, greedy quantifiers) so an external SQL engine
    replays the match count byte-identically. Left-to-right
    non-overlapping count semantics are shared by every regex engine.

    At 100 TB the bound is the longest single entity's chain (a collected
    array must fit one task); for entities with million-event histories,
    pre-chunk by (key, time bucket) the way ``dedup_within_window``
    buckets state."""
    order_struct = F.struct(ts_col, *tiebreak, step_col)
    packed = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_sort(F.collect_list(order_struct)).alias("__seq"),
    )
    chain = F.concat_ws(
        sep, F.transform(F.col("__seq"), lambda x: x[step_col])
    )
    # pattern as a lit() Column, not an interpolated SQL string: quotes
    # and metacharacters in caller patterns must never become SQL syntax
    n_matches = F.size(
        F.regexp_extract_all(F.col("__chain"), F.lit(pattern), F.lit(0))
    )
    return (
        packed.withColumn("__chain", chain)
        .select(
            *keys,
            "n_events",
            F.col("__chain").alias("event_chain"),
            n_matches.alias("n_matches"),
            (n_matches > 0).alias("matched"),
        )
    )


def holt_scan(
    df: DataFrame,
    alpha: float = 0.3,
    beta: float = 0.2,
    partition_by: str | Sequence[str] = "symbol",
    order_by: str = "date",
    col: str = "close",
    num_buckets: int | None = None,
    cuts: "list[float] | None" = None,
) -> DataFrame:
    """Holt's linear-trend smoothing (``indicators.holt_linear``) as one
    2×2 system of ``_affine_scan``. The (level, trend) state evolves as
    s_t = M s_{t-1} + u_t with constant

        M = [[1-a,        1-a      ],
             [be*(1-a)-be, be*(1-a)+(1-be)]]
        u_t = (a*y_t, be*a*y_t)

    and the per-key seed row encoded as an absorbing step (M_1 = 0,
    u_1 = (y_1, 0)), so no block needs to know whether it holds the key's
    first row — the zero matrix annihilates any carried state. The seed
    flag comes from a groupBy-min + join on the key, not a per-key sort.
    Parallelism = rows/num_buckets, independent of |keys|.

    Requires (keys, order_by) to be unique, as ``recursive_scan_enrich``
    and ``global_lag_lead`` do: rows tied at a key's first order value
    all seed, and under ties the sequential twin's output depends on
    input order too.

    Float caveat (``_affine_scan``'s): re-association is numerically
    equivalent (rel err ~1e-12, test-pinned), not bit-identical to
    ``indicators.holt_linear`` — the sequential engine remains the
    bit-exact default and the oracle-checked one."""
    keys = _key_list(partition_by)
    oma, omb = 1.0 - alpha, 1.0 - beta
    mins = df.groupBy(*keys).agg(F.min(order_by).alias("__min_ord"))
    d = df.join(mins, on=keys, how="left")
    first = F.col(order_by) == F.col("__min_ord")
    y = F.col(col).cast("double")
    zero = F.lit(0.0)

    def m(v: float) -> Column:
        return F.when(first, zero).otherwise(F.lit(v))

    system = (
        ("holt_level", "holt_trend"),
        [[m(oma), m(oma)], [m(beta * oma - beta), m(beta * oma + omb)]],
        [
            F.when(first, y).otherwise(F.lit(alpha) * y),
            F.when(first, zero).otherwise(F.lit(beta * alpha) * y),
        ],
    )
    out = _affine_scan(d, [system], order_by, keys, num_buckets, cuts)
    return out.withColumn(
        "holt_fc1", F.col("holt_level") + F.col("holt_trend")
    ).drop("__min_ord")
