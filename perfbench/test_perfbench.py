"""Tests of the benchmark itself: percentile rule, self time, seeded inputs
and op order, and failure accounting.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, datagen, stats, trace  # noqa: E402
from perfbench.report import OpRecord  # noqa: E402
from perfbench.run import Runner, pass_order  # noqa: E402


# -- percentile rule ---------------------------------------------------------

@pytest.mark.parametrize("n,expected", [
    (0, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0),
    (999, 90.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    assert stats.tail_percentile(n) == expected


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(reversed(xs), 99) == 99
    assert stats.percentile([7.0], 90) == 7.0


# -- self time -----------------------------------------------------------------

def _span(name, start, end, parent=None):
    return trace.Span(name, start, end, parent, "op1")


def test_self_time_subtracts_child_coverage_once():
    parent = _span("op", 0.0, 10.0)
    children = [
        _span("a", 1.0, 3.0, 0),
        _span("b", 2.0, 4.0, 0),   # overlaps a: 1..4 covered once
        _span("c", 6.0, 7.0, 0),
        _span("d", 9.0, 12.0, 0),  # runs past the parent: only 9..10 counts
    ]
    assert trace.self_time(parent, children) == pytest.approx(10.0 - 3.0 - 1.0 - 1.0)


def test_self_times_per_name_over_a_tree():
    spans = [
        _span("op", 0.0, 10.0),
        _span("queries.build", 0.0, 4.0, 0),
        _span("sources.read", 0.5, 1.5, 1),
        _span("sink.noop", 4.0, 9.0, 0),
    ]
    got = trace.self_times(spans)
    assert got["op"] == pytest.approx(1.0)
    assert got["queries.build"] == pytest.approx(3.0)
    assert got["sources.read"] == pytest.approx(1.0)
    assert got["sink.noop"] == pytest.approx(5.0)


def test_tracer_nests_spans_and_restores_wrapped_functions():
    class Module:
        @staticmethod
        def work(x):
            return x + 1

    tracer = trace.Tracer()
    tracer.wrap(Module, "work", "layer.work")
    tracer.start_op("op1")
    with tracer.span("op"):
        assert Module.work(1) == 2
    tracer.restore()
    assert Module.work(1) == 2
    assert [(s.name, s.parent, s.op_id) for s in tracer.spans] == [
        ("op", None, "op1"), ("layer.work", 0, "op1"),
    ]
    assert len(tracer.spans) == 2  # the restored function records nothing


# -- seeded inputs and op order -------------------------------------------------

def _file_bytes(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_same_seed_same_tables_new_seed_different(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    datagen.write_tables(a, 7, 0.001)
    datagen.write_tables(b, 7, 0.001)
    datagen.write_tables(c, 8, 0.001)
    fa, fb, fc = _file_bytes(a), _file_bytes(b), _file_bytes(c)
    assert fa == fb
    assert len(fa) == 10
    changed = [t for t in fa if t not in ("region.parquet", "nation.parquet")]
    assert all(fa[t] != fc[t] for t in changed)


def test_generated_events_have_unique_increasing_timestamps():
    ev = datagen.make_tables(3, 0.001)["events"].to_pandas()
    assert ev["ts"].is_monotonic_increasing and ev["ts"].is_unique


def test_same_seed_same_order_new_seed_different():
    entries = [f"e{i}" for i in range(12)]
    assert pass_order(entries, 5, 0) == pass_order(entries, 5, 0)
    assert sorted(pass_order(entries, 5, 0)) == sorted(entries)
    assert pass_order(entries, 5, 0) != pass_order(entries, 6, 0)
    assert pass_order(entries, 5, 0) != pass_order(entries, 5, 1)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from big_data_analysis_for_stock_market_data_spark.session import get_session

    return get_session(
        app_name="perfbench_tests", master="local[2]", shuffle_partitions=2,
        configs={
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("wh")),
        },
    )


def test_same_seed_same_bars_new_seed_different(spark, tmp_path):
    def bars(seed, name):
        path = str(tmp_path / name)
        datagen.write_bars(spark, path, seed, 2_000)
        return spark.read.parquet(path).orderBy("symbol", "date").toPandas()

    a, b, c = bars(1, "a"), bars(1, "b"), bars(2, "c")
    pd.testing.assert_frame_equal(a, b)
    assert len(a) == 2_000
    assert not a["close"].equals(c["close"])


# -- failure accounting -------------------------------------------------------------

def _frame():
    return pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})


def test_perturbed_result_fails_the_oracle_check():
    want = checks.fingerprint(_frame())
    assert checks.compare(checks.fingerprint(_frame()), want) is None
    value = _frame()
    value.loc[1, "v"] = 1.5000001
    assert "value hash" in checks.compare(checks.fingerprint(value), want)
    assert "rows" in checks.compare(checks.fingerprint(_frame().head(2)), want)
    renamed = _frame().rename(columns={"v": "w"})
    assert "columns" in checks.compare(checks.fingerprint(renamed), want)


def test_oracle_reads_the_generated_tables(tmp_path):
    datagen.write_tables(str(tmp_path), 4, 0.001)
    oracle = checks.Oracle(str(tmp_path))
    try:
        want = oracle.fingerprint("SELECT n_regionkey, COUNT(*) AS n FROM nation GROUP BY 1")
    finally:
        oracle.close()
    got = pd.DataFrame({"n_regionkey": range(5), "n": [5] * 5})
    assert checks.compare(checks.fingerprint(got), want) is None
    got.loc[0, "n"] = 6
    assert checks.compare(checks.fingerprint(got), want) is not None


def test_stock_agreement_tolerates_auc_noise_only():
    agree = checks.StockAgreement()
    first = {"areaUnderROC": 0.6150919, "accuracy": 0.58, "f1": 0.57}
    assert agree.check(first) is None
    assert agree.check({**first, "areaUnderROC": 0.6150907}) is None
    assert agree.check({**first, "areaUnderROC": 0.6152}) is not None
    assert agree.check({**first, "accuracy": 0.5800001}) is not None


class _FakeWorkload:
    name = "fake"
    entries = ("good", "bad", "boom")

    def op(self, spark, entry, probe):
        if entry == "boom":
            raise RuntimeError("exploded")
        return entry

    def check(self, entry, result):
        return "perturbed" if result == "bad" else None


def test_failed_and_raising_ops_count_and_the_run_continues():
    runner = Runner(_FakeWorkload(), seed=1, seconds=0.0, traced=False, work="")
    recs = [runner._op(e, 0, traced=False) for e in _FakeWorkload.entries]
    assert [r.ok for r in recs] == [True, False, False]
    assert (runner.attempted, runner.failed) == (3, 2)
    assert all(isinstance(r, OpRecord) for r in recs)


# -- BENCHMARK.json agrees with the code ------------------------------------------

def test_benchmark_json_lists_the_metrics_and_workloads_the_run_reports():
    import json

    from perfbench import report, workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == list(
        report.END_TO_END
    )
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == list(
        report.PER_LAYER
    )
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
