"""Metric definitions and their computation from a run's records.

End-to-end metrics come from untraced ops. Per-layer metrics come from the
traced ops of a ``--trace 1`` run, in which every entry runs traced as
often as untraced. Unless named otherwise, each is a total per pass over
the workload's entries (for ``stock_fe_rf`` a pass is one op): the traced
ops' total divided by the number of times each entry ran traced. A layer a
workload does not reach reads 0.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

from perfbench import trace
from perfbench.workloads import REGISTRY_ENTRIES

#: (name, unit, better) of each end-to-end metric.
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
    ("ops_per_min", "1/min", "higher"),
)

#: Spans whose self time is reported, by span name.
SELF_SPANS = (
    "op", "queries.build", "sink.noop", "sources.read", "streaming.drain",
    "stock.build", "ml.train", "ml.eval",
)

PER_LAYER = (
    ("peak_rss_mb", "MB", "lower"),
    ("session.start_s", "s", "lower"),
    ("sources.read_s", "s", "lower"),
    ("sources.write_s", "s", "lower"),
    ("sources.input_bytes", "bytes", "lower"),
    ("queries.build_s", "s", "lower"),
    ("queries.build_jobs", "count", "lower"),
    *((f"query.{e}.p50_s", "s", "lower") for e in REGISTRY_ENTRIES),
    ("stock.build_s", "s", "lower"),
    ("stock.build_jobs", "count", "lower"),
    ("ml.train_s", "s", "lower"),
    ("ml.eval_s", "s", "lower"),
    ("streaming.drain_s", "s", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.batch_p50_ms", "ms", "lower"),
    ("streaming.input_rows_per_s", "rows/s", "higher"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.state_bytes", "bytes", "lower"),
    ("streaming.commit_ms", "ms", "lower"),
    ("spark.exec_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.task_run_s", "s", "lower"),
    ("spark.jvm_cpu_s", "s", "lower"),
    ("spark.python_s", "s", "lower"),
    ("spark.core_busy_share", "ratio", "higher"),
    ("spark.narrow_stage_s", "s", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.shuffle_read_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    *((f"self_s.{s}", "s", "lower") for s in SELF_SPANS),
    ("trace.overhead_s", "s", "lower"),
    ("trace.overhead_share", "ratio", "lower"),
)

UNITS = {name: unit for name, unit, _ in END_TO_END + PER_LAYER}


@dataclass
class OpRecord:
    entry: str
    pass_no: int
    traced: bool
    seconds: float
    ok: bool
    counters: dict[str, float] = field(default_factory=dict)
    #: jobs per job group, keyed by the span name the group was opened for
    group_jobs: dict[str, int] = field(default_factory=dict)
    batches: list[dict] = field(default_factory=list)


def _metric(name: str, value: float) -> dict:
    return {"value": float(value), "unit": UNITS[name]}


def end_to_end(setup_s: float, records: list[OpRecord]) -> dict:
    ok = [r.seconds for r in records if r.ok]
    timed = sum(r.seconds for r in records)
    return {
        "setup_s": _metric("setup_s", setup_s),
        "op_p50_s": _metric("op_p50_s", statistics.median(ok) if ok else 0.0),
        "ops_per_min": _metric("ops_per_min", 60.0 * len(ok) / timed if timed else 0.0),
    }


def per_layer(
    traced: list[OpRecord],
    untraced: list[OpRecord],
    op_spans: list[trace.Span],
    setup_spans: list[trace.Span],
    cores: int,
    peak_rss_bytes: int,
) -> dict:
    """Every ``PER_LAYER`` metric from the traced ops and their spans."""
    passes = max(1, len(traced) // max(1, len({r.entry for r in traced})))
    out = {name: 0.0 for name, _, _ in PER_LAYER}
    out["peak_rss_mb"] = peak_rss_bytes / 2**20

    def setup_median(span_name: str) -> float:
        ds = [s.end - s.start for s in setup_spans if s.name == span_name]
        return statistics.median(ds) if ds else 0.0

    out["session.start_s"] = setup_median("session.start")
    out["sources.write_s"] = setup_median("sources.write")

    totals = trace.totals(op_spans)
    for span_name, metric in (
        ("sources.read", "sources.read_s"), ("queries.build", "queries.build_s"),
        ("stock.build", "stock.build_s"), ("ml.train", "ml.train_s"),
        ("ml.eval", "ml.eval_s"), ("streaming.drain", "streaming.drain_s"),
    ):
        out[metric] = totals.get(span_name, 0.0) / passes
    for span_name, seconds in trace.self_times(op_spans).items():
        if span_name in SELF_SPANS:
            out[f"self_s.{span_name}"] = seconds / passes

    for entry in {r.entry for r in traced}:
        name = f"query.{entry}.p50_s"
        if name in out:
            out[name] = statistics.median([r.seconds for r in traced if r.entry == entry])

    c = {k: sum(r.counters.get(k, 0.0) for r in traced) / passes
         for k in trace.STAGE_FIELDS + ("jobs", "stages", "exec_ms", "narrow_run_ms")}
    for span_name in ("queries.build", "stock.build"):
        out[f"{span_name}_jobs"] = sum(r.group_jobs.get(span_name, 0) for r in traced) / passes
    out["sources.input_bytes"] = c["inputBytes"]
    out["spark.exec_s"] = c["exec_ms"] / 1e3
    out["spark.jobs"] = c["jobs"]
    out["spark.stages"] = c["stages"]
    out["spark.tasks"] = c["numTasks"]
    out["spark.failed_tasks"] = c["numFailedTasks"]
    out["spark.gc_s"] = c["jvmGcTime"] / 1e3
    out["spark.task_run_s"] = c["executorRunTime"] / 1e3
    out["spark.jvm_cpu_s"] = c["executorCpuTime"] / 1e9
    out["spark.python_s"] = out["spark.task_run_s"] - out["spark.jvm_cpu_s"]
    op_seconds = sum(r.seconds for r in traced) / passes
    if op_seconds:
        out["spark.core_busy_share"] = out["spark.task_run_s"] / (op_seconds * cores)
    out["spark.narrow_stage_s"] = c["narrow_run_ms"] / 1e3
    out["spark.shuffle_write_bytes"] = c["shuffleWriteBytes"]
    out["spark.shuffle_read_bytes"] = c["shuffleReadBytes"]
    out["spark.spill_bytes"] = c["diskBytesSpilled"]

    batches = [b for r in traced for b in r.batches]
    if batches:
        out["streaming.batches"] = len(batches) / passes
        out["streaming.batch_p50_ms"] = statistics.median([b["batch_ms"] for b in batches])
        batch_s = sum(b["batch_ms"] for b in batches) / 1e3
        if batch_s:
            out["streaming.input_rows_per_s"] = sum(b["input_rows"] for b in batches) / batch_s
        final: dict[str, dict] = {}
        for b in batches:
            final[b["query_id"]] = b
        out["streaming.state_rows"] = sum(b["state_rows"] for b in final.values()) / passes
        out["streaming.state_bytes"] = sum(b["state_bytes"] for b in final.values()) / passes
        out["streaming.commit_ms"] = sum(b["commit_ms"] for b in batches) / passes

    # same entries, same number of runs each: the sums compare like for like
    t_sum, u_sum = sum(r.seconds for r in traced), sum(r.seconds for r in untraced)
    if u_sum and len(traced) == len(untraced):
        out["trace.overhead_s"] = (t_sum - u_sum) / passes
        out["trace.overhead_share"] = (t_sum - u_sum) / u_sum
    return {name: _metric(name, v) for name, v in out.items()}
