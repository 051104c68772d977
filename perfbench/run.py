"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One closed-loop client runs the workload
on ``local[<cores>]``:

1. set-up, ``SETUP_ROUNDS`` times: start the engine session (the first
   round launches the JVM, later rounds restart the context in it) and
   write the seeded inputs;
2. warm-up: every entry once, untimed, its output checked;
3. timed passes over the entries, each pass in a seeded order, until at
   least ``--seconds`` of op time have run, in whole passes. With
   ``--trace 1`` half of the ops are traced (see ``Runner.timed``): they
   record spans and Spark counters, the others give the tracing overhead.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics, or with
``--trace 1`` the per-layer ones). A readable summary goes to standard
error. Scratch files live in a per-run directory under the checkout that
is removed at exit; a traced run also leaves its spans in
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from big_data_analysis_for_stock_market_data_spark import ml, queries, stock, streaming  # noqa: E402
from big_data_analysis_for_stock_market_data_spark.ml import metrics as ml_metrics  # noqa: E402
from big_data_analysis_for_stock_market_data_spark.session import get_session  # noqa: E402
from perfbench import report, rss, stats, trace, workloads  # noqa: E402

#: set-up rounds per run; ``setup_s`` uses their median
SETUP_ROUNDS = 3
#: engine JVM heap for the run (the session default is sized for 32 cores)
DRIVER_MEMORY = "4g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pass_order(entries, seed: int, pass_no: int) -> list[str]:
    """The entries in the order one pass runs them, fixed by seed and pass."""
    return random.Random(seed * 1_000_003 + pass_no).sample(list(entries), len(entries))


def _isolate(work: str) -> None:
    """Point every scratch location of this process, the JVM it launches
    and the Python workers at ``work``, and let workers import the package
    from any working directory."""
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM (the launcher and the engine): scratch in ``work``, and no
    # shared-memory perf file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = work


class Runner:
    def __init__(self, workload, seed: int, seconds: float, traced: bool, work: str) -> None:
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.cores = cores()
        self.wl = workload
        self.spark = None
        self.tracer = trace.Tracer()
        self.counters = None
        self.progress = None
        self.problems: list[str] = []
        self.warm_times: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0

    # -- session ---------------------------------------------------------
    def _start_session(self):
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_session(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            configs={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)
        print(f"FAILED {what}", file=sys.stderr, flush=True)

    # -- phases ------------------------------------------------------------
    def setup(self) -> list[float]:
        rounds = []
        for r in range(SETUP_ROUNDS):
            self.tracer.start_op(f"setup{r}")
            t0 = time.perf_counter()
            with self.tracer.span("session.start"):
                self._start_session()
            self.wl.prepare(self.spark, os.path.join(self.work, f"inputs{r}"), self.seed, self.tracer)
            rounds.append(time.perf_counter() - t0)
        return rounds

    def warm(self) -> float:
        spent = 0.0
        for entry in pass_order(self.wl.entries, self.seed, -1):
            self.attempted += 1
            try:
                seconds, problem = self.wl.warm(self.spark, entry)
            except Exception as e:  # noqa: BLE001 - a failing entry must not end the run
                self._fail(f"{entry} (warm-up): {type(e).__name__}: {e}")
                continue
            spent += seconds
            self.warm_times[entry] = seconds
            if problem:
                self._fail(f"{entry} (warm-up): {problem}")
        return spent

    def _op(self, entry: str, pass_no: int, traced: bool) -> report.OpRecord:
        probe = self.tracer if traced else trace.NO_PROBE
        if traced:
            self.tracer.start_op(f"p{pass_no}:{entry}")
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with probe.span("op"):
                result = self.wl.op(self.spark, entry, probe)
            seconds = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 - a failing op must not end the run
            self._fail(f"{entry} (pass {pass_no}): {type(e).__name__}: {e}")
            return report.OpRecord(entry, pass_no, traced, time.perf_counter() - t0, False)
        problem = self.wl.check(entry, result)
        if problem:
            self._fail(f"{entry} (pass {pass_no}): {problem}")
        rec = report.OpRecord(entry, pass_no, traced, seconds, problem is None)
        if traced:
            trace.flush_listener_bus(self.spark)
            rec.batches = self.progress.take()
            groups = self.tracer.groups + sorted({b["run_id"] for b in rec.batches})
            rec.counters = self.counters.collect(groups)
            for g in self.tracer.groups:
                span_name = g.split("/", 1)[1]
                rec.group_jobs[span_name] = rec.group_jobs.get(span_name, 0) + self.counters.jobs(g)
        return rec

    def timed(self, sampler):
        """Timed passes until ``seconds`` of op time have run, in whole
        passes. With tracing, the ``i``-th entry of the workload is traced
        in pass ``p`` when ``i + p + p // 2`` is odd: over every two passes
        each entry runs once traced and once not, and a one-entry workload
        runs untraced, traced, traced, untraced, so warm-up drift falls on
        both sides. The peak RSS is sampled over the whole window of a
        traced run."""
        records = []
        pass_no = 0
        window = 0.0
        cycle = 4 if len(self.wl.entries) == 1 else 2
        if self.traced:
            sampler.start()
        while True:
            for entry in pass_order(self.wl.entries, self.seed, pass_no):
                i = self.wl.entries.index(entry)
                traced = self.traced and (i + pass_no + pass_no // 2) % 2 == 1
                if traced:
                    self._install_tracing()
                rec = self._op(entry, pass_no, traced)
                if traced:
                    self.tracer.restore()
                window += rec.seconds
                records.append(rec)
            pass_no += 1
            if window >= self.seconds and (not self.traced or pass_no % cycle == 0):
                sampler.stop()
                return records

    def _install_tracing(self) -> None:
        if self.progress is None:
            self.tracer.sc = self.spark.sparkContext
            self.counters = trace.SparkCounters(self.spark, self.cores)
            self.progress = trace.StreamProgress(self.spark)
        t = self.tracer
        t.wrap(queries, "read_parquet", "sources.read")
        for fn in ("run_to_memory", "run_upsert_to_parquet", "run_to_parquet"):
            t.wrap(streaming, fn, "streaming.drain")
        t.wrap(stock, "feature_frame", "stock.build", group=True)
        t.wrap(ml, "train_random_forest", "ml.train", group=True)
        t.wrap(ml_metrics, "binary_metrics", "ml.eval", group=True)

    def run(self) -> dict:
        rounds = self.setup()
        setup_spans = list(self.tracer.spans)
        self.tracer.spans.clear()
        warm_s = self.warm()
        setup_s = statistics.median(rounds) + warm_s
        sampler = rss.PeakRss(self.spark.sparkContext._gateway.proc.pid)
        records = self.timed(sampler)
        untraced = [r for r in records if not r.traced]
        if self.traced:
            traced = [r for r in records if r.traced]
            metrics = report.per_layer(
                traced, untraced, self.tracer.spans, setup_spans, self.cores, sampler.peak
            )
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            self.tracer.dump(os.path.join(out_dir, f"spans-{self.wl.name}-{self.seed}.json"))
        else:
            metrics = report.end_to_end(setup_s, untraced)
        self._summary(rounds, warm_s, untraced, metrics)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def _summary(self, rounds, warm_s, untraced, metrics) -> None:
        ok = sorted(r.seconds for r in untraced if r.ok)
        p = stats.tail_percentile(len(ok))
        tail = f"p{p:g}={stats.percentile(ok, p):.3f}s" if p else "no percentile with 10 samples beyond"
        lines = [
            f"workload {self.wl.name} seed {self.seed} cores {self.cores}",
            f"set-up rounds {[round(r, 3) for r in rounds]} s, warm-up {warm_s:.3f} s: "
            + ", ".join(f"{e} {s:.2f}" for e, s in self.warm_times.items()),
            f"untraced ops {len(untraced)} ({len(ok)} correct), tail {tail}: "
            + ", ".join(f"{r.entry} {r.seconds:.2f}" for r in untraced),
            f"failed_share {self.failed}/{self.attempted}"
            + (f": {'; '.join(self.problems)}" if self.problems else ""),
        ]
        lines += [f"  {k} = {v['value']:.6g} {v['unit']}" for k, v in metrics.items()]
        print("\n".join(lines), file=sys.stderr, flush=True)

    # -- teardown ------------------------------------------------------------
    def close(self) -> None:
        self.tracer.restore()
        self.wl.close()
        if self.spark is None:
            return
        if self.progress is not None:
            self.progress.close()
        gateway = self.spark.sparkContext._gateway
        proc = gateway.proc
        children = rss.descendants(proc.pid)
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        _wait_gone(children)


def _wait_gone(pids, timeout_s: float = 20.0) -> None:
    """Wait for the JVM's worker processes to exit; kill what remains."""
    deadline = time.monotonic() + timeout_s
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.05)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    try:
        _isolate(work)
        runner = Runner(
            workloads.make(args.workload), args.seed, args.seconds, bool(args.trace), work
        )
        try:
            result = runner.run()
        finally:
            runner.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
