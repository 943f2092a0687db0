"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload mr_text --seed 1 --seconds 10 --trace 0

Run from the repository root. One client runs a closed loop, one job in
flight at a time, on a ``local[N]`` Spark session in this process.

A run has four phases:

1. generate (or reuse) the seeded inputs under ``.bench_data/``;
2. set up: start Spark, import the query registry and run WARMUP_PASSES
   untimed passes over the workload's jobs, cold executions only
   (``setup_s``);
3. run passes over the workload's jobs until ``--seconds`` have elapsed,
   and at least MIN_PASSES. In a pass each job runs cold (memos cleared
   first) and, in ``dedup_index``, then warm (memos kept); cached
   DataFrames are released after every execution. Each metric is the
   median over passes;
4. stop Spark and wait for its JVM to exit, then check every job's output
   (``gate.py``) against the registered queries' rows collected once more
   after the timed window.

With ``--trace 0`` the end-to-end metrics are printed. With ``--trace 1``
passes alternate untraced, traced, untraced, ..., starting and ending
untraced. Traced passes set a job group per build and per action and read
Spark's status stores after each; the run prints the per-layer metrics,
including the tracing overhead, and writes its spans to
``.bench_data/traces/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
DATA = REPO / ".bench_data"

#: Untimed passes in set-up: the first execution of each job also pays for
#: JVM class loading and compilation and for Python worker start-up.
WARMUP_PASSES = 1
#: Fewest timed passes in a run. The first timed pass still runs 10-20%
#: slower than the next while the JVM compiles; a fixed count keeps every
#: run at the same point of that curve. Two fit the run-time budget.
MIN_PASSES = 2
#: Spark task slots: at most four, so runs on hosts of any size compare and
#: the Python workers stay few.
SLOTS = max(1, min(4, len(os.sched_getaffinity(0))))
DRIVER_MEMORY = "2g"


def declared_units(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares the metrics a run
    with or without tracing prints."""
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def _descendants(pid: int) -> list[int]:
    """Pids of every live descendant of ``pid``."""
    children = []
    for task in Path(f"/proc/{pid}/task").glob("*/children"):
        try:
            children += [int(c) for c in task.read_text().split()]
        except OSError:  # the thread ended while we looked
            pass
    return children + [d for c in children for d in _descendants(c)]


def _vm_hwm_mb(pid: int | str) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _prepare_environment() -> None:
    """Point Spark, its Python workers and every temp file into the
    checkout. Runs before the JVM starts: the JVM and the workers it forks
    take their environment from this process at launch."""
    (DATA / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ.update(
        {
            # Without the repository root the Python workers cannot import
            # map_reduce_go_spark and die with ModuleNotFoundError.
            "PYTHONPATH": os.pathsep.join(
                p for p in (str(REPO), os.environ.get("PYTHONPATH", "")) if p
            ),
            "SPARK_GRAFT_CPUS": str(SLOTS),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": str(DATA / "spark-local"),
            "TMPDIR": str(DATA / "tmp"),
        }
    )


@dataclass
class Pass:
    """One pass over a workload's jobs."""

    traced: bool
    wall_s: float = 0.0
    cold_s: dict[str, float] = field(default_factory=dict)
    warm_s: dict[str, float] = field(default_factory=dict)
    #: Per-layer metrics, summed over the pass's executions (traced only).
    layer: Counter = field(default_factory=Counter)


class Runner:
    """Runs the jobs of one workload, closed loop, on one session."""

    def __init__(self, workload: str, seed: int, trace: bool):
        from perfbench.trace import Tracer

        self.workload = workload
        self.run_id = f"{workload}-seed{seed}-trace{int(trace)}-{os.getpid()}"
        self.tracer = Tracer(self.run_id, enabled=trace)
        self.out_dir = DATA / "out" / self.run_id
        self.spark = None
        self.specs = {}
        self.jobs = []
        self.collector = None
        self.attempted = 0
        #: Executions per job, and how many of them raised.
        self.legs: Counter = Counter()
        self.failed_legs: Counter = Counter()
        #: Each registered query's rows, collected after the timed window.
        self.results = {}
        #: Seconds of each set-up step.
        self.session: dict[str, float] = {}

    def set_up(self, data_dir: Path) -> float:
        """Start the session, load the registry and run WARMUP_PASSES
        untimed passes. Returns the seconds this took."""
        from map_reduce_go_spark import get_spark
        from map_reduce_go_spark.registry import all_queries
        from perfbench.workloads import jobs_for

        with self.tracer.span("setup") as setup:
            with self.tracer.span("session.get_spark") as s:
                self.spark = get_spark(
                    app_name=f"perfbench-{self.workload}",
                    extra_conf={
                        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={DATA / 'tmp'}"
                    },
                )
                self.spark.sparkContext.setLogLevel("ERROR")
            self.session["session.get_spark_s"] = s.duration
            with self.tracer.span("registry.all_queries") as s:
                self.specs = all_queries()
            self.session["registry.all_queries_s"] = s.duration
            self.jobs = jobs_for(self.workload, data_dir, self.out_dir, self.specs)
            with self.tracer.span("session.warmup") as s:
                for _ in range(WARMUP_PASSES):
                    self.run_pass(traced=False, warm_legs=False)
            self.session["session.warmup_s"] = s.duration
        return setup.duration

    def _leg(self, job, cold: bool, record: Pass) -> float | None:
        """Run ``job`` once; returns its build + action seconds, or None if
        it raised. In a traced pass, adds its layer metrics to ``record``."""
        from map_reduce_go_spark.functions.caching import clear_memos, release_caches

        leg = "cold" if cold else "warm"
        traced = record.traced
        self.attempted += 1
        self.legs[job.name] += 1
        sc = self.spark.sparkContext
        group = f"{self.run_id}:{self.attempted}:{job.name}:{leg}"
        elapsed = None
        with self.tracer.span(f"{leg}:{job.name}"):
            if cold:
                with self.tracer.span("caching.clear_memos") as clear:
                    clear_memos()
            mark = self.collector.mark() if traced else 0
            try:
                if traced:
                    sc.setJobGroup(f"{group}:build", job.name)
                with self.tracer.span(f"{job.layer}.build") as build:
                    df = job.build(self.spark)
                if traced:
                    sc.setJobGroup(f"{group}:action", job.name)
                with self.tracer.span(f"{job.layer}.action") as action:
                    job.sink(df)
                elapsed = build.duration + action.duration
            except Exception as exc:  # noqa: BLE001 — counted as a failed job; the run goes on
                print(f"perfbench: {job.name} ({leg}) raised {type(exc).__name__}: {exc}",
                      file=sys.stderr)
                self.failed_legs[job.name] += 1
            finally:
                if traced:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    persisted = len(sc._jsc.getPersistentRDDs())
                with self.tracer.span("caching.release_caches") as release:
                    release_caches()
        if traced and elapsed is not None:
            m = self.collector.read(f"{group}:build", f"{group}:action", mark)
            layer = record.layer
            layer["caching.clear_memos_s"] += clear.duration if cold else 0.0
            layer["caching.release_caches_s"] += release.duration
            layer["caching.persisted_rdds_released"] += persisted
            layer[f"{job.layer}.build_s"] += build.duration
            layer[f"{job.layer}.build_jobs"] += m.pop("spark.build_jobs")
            layer[f"{job.layer}.action_s"] += action.duration
            if job.writes_text:
                layer["sources.write_text_s"] += action.duration
            layer["spark.task_max_over_median"] = max(
                layer["spark.task_max_over_median"], m.pop("spark.task_max_over_median")
            )
            layer["spark.driver_gap_s"] += elapsed - m["spark.stage_active_s"]
            layer["busy_s"] += elapsed
            layer.update(m)
        return elapsed

    def run_pass(self, traced: bool, warm_legs: bool = True) -> Pass:
        record = Pass(traced)
        if traced and self.collector is None:
            from perfbench.collect import StatusCollector

            self.collector = StatusCollector(self.spark)
        with self.tracer.span("pass") as p:
            for job in self.jobs:
                for cold in (True, False) if job.warm and warm_legs else (True,):
                    elapsed = self._leg(job, cold, record)
                    if elapsed is not None:
                        (record.cold_s if cold else record.warm_s)[job.name] = elapsed
        record.wall_s = p.duration
        return record

    def measure(self, seconds: float, trace: bool) -> list[Pass]:
        """Passes until ``seconds`` have elapsed, and at least MIN_PASSES.
        With tracing, every odd pass is traced and the last is untraced,
        so each traced pass sits between two untraced ones."""
        passes: list[Pass] = []
        deadline = time.perf_counter() + seconds
        while (
            len(passes) < MIN_PASSES
            or time.perf_counter() < deadline
            or (trace and len(passes) % 2 == 0)
        ):
            passes.append(self.run_pass(traced=trace and len(passes) % 2 == 1))
        return passes

    def collect_results(self) -> None:
        """Collect each registered query's rows for the gate, untimed."""
        from map_reduce_go_spark.functions.caching import release_caches

        for job in self.jobs:
            if job.writes_text:
                continue
            try:
                self.results[job.name] = job.build(self.spark).toPandas()
            except Exception as exc:  # noqa: BLE001 — the gate counts the job as failed
                print(f"perfbench: {job.name} (gate collect) raised {type(exc).__name__}: {exc}",
                      file=sys.stderr)
            finally:
                release_caches()

    def stop(self) -> None:
        """Stop Spark and wait until its JVM and the Python workers the JVM
        forked have exited. The JVM otherwise outlives this process by a
        second or two, and the next run's set-up would share the CPUs with
        its shutdown."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        jvm = gateway.proc
        workers = _descendants(jvm.pid)
        self.spark.stop()
        self.spark = None
        # The JVM exits when its standard input closes.
        gateway.shutdown()
        jvm.stdin.close()
        jvm.wait(timeout=60)
        deadline = time.monotonic() + 30
        while any(Path(f"/proc/{pid}").exists() for pid in workers):
            if time.monotonic() > deadline:
                raise RuntimeError(f"Python workers {workers} outlived the JVM")
            time.sleep(0.05)


def _job_medians(passes: list[Pass], attr: str) -> dict[str, float]:
    """Per job, the median over passes of its cold or warm seconds."""
    per_job: dict[str, list[float]] = {}
    for p in passes:
        for job, value in getattr(p, attr).items():
            per_job.setdefault(job, []).append(value)
    return {job: statistics.median(v) for job, v in per_job.items()}


def end_to_end(passes: list[Pass], setup_s: float) -> dict[str, float]:
    cold, warm = _job_medians(passes, "cold_s"), _job_medians(passes, "warm_s")
    for job in cold:
        print(f"perfbench: {job}: cold {cold[job]:.3f} s, warm {warm.get(job, 0.0):.3f} s",
              file=sys.stderr)
    print(f"perfbench: pass walls {[round(p.wall_s, 3) for p in passes]} s", file=sys.stderr)
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(p.wall_s for p in passes),
        "job_geomean_s": geomean(cold.values()),
    }


def tracing_overhead(passes: list[Pass]) -> float:
    """Median over traced passes of the pass's time minus the mean of the
    untraced passes on either side, which are as warm as it on average."""
    return statistics.median(
        passes[i].wall_s - (passes[i - 1].wall_s + passes[i + 1].wall_s) / 2
        for i, p in enumerate(passes)
        if p.traced
    )


def per_layer(runner: Runner, passes: list[Pass], names) -> dict[str, float]:
    """Every metric in ``names``: the median over traced passes of what the
    passes summed, then the metrics computed from other figures."""
    traced = [p for p in passes if p.traced]
    out = {name: statistics.median(p.layer[name] for p in traced) for name in names}
    out["spark.core_busy_ratio"] = statistics.median(
        p.layer["spark.task_run_s"] / (SLOTS * p.layer["busy_s"]) for p in traced
    )
    # The memo-warm leg, on the workloads that run one (0 elsewhere).
    warm = _job_medians(traced, "warm_s")
    cold = {job: s for job, s in _job_medians(traced, "cold_s").items() if job in warm}
    out["caching.warm_job_geomean_s"] = geomean(warm.values()) if warm else 0.0
    out["caching.warm_over_cold"] = (
        out["caching.warm_job_geomean_s"] / geomean(cold.values()) if warm else 0.0
    )
    out.update(runner.session)
    jvm_pid = runner.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    out["memory.peak_rss_mb"] = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
    out["trace.wall_s"] = statistics.median(p.wall_s for p in traced)
    out["trace.overhead_s"] = tracing_overhead(passes)
    return out


def check(runner: Runner, data_dir: Path) -> list[str]:
    """Names of the jobs whose last output is wrong."""
    from perfbench import gate
    from perfbench.workloads import text_files

    if runner.workload == "mr_text":
        return gate.check_mr_text(text_files(data_dir), runner.out_dir, runner.results)
    oracles = {job.name: runner.specs[job.name].oracle for job in runner.jobs}
    with gate.duckdb_connection(data_dir, DATA / "duckdb") as con:
        return gate.check_oracles(runner.results, oracles, con)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import map_reduce_go_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program under test is missing: {exc}", file=sys.stderr)
        return 2
    from perfbench import gen

    if args.workload not in gen.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"expected one of {gen.WORKLOADS}", file=sys.stderr)
        return 2
    units = declared_units(bool(args.trace))
    _prepare_environment()
    data_dir = gen.ensure_inputs(args.workload, args.seed, DATA)
    runner = Runner(args.workload, args.seed, bool(args.trace))
    try:
        setup_s = runner.set_up(data_dir)
        print(f"perfbench: set-up {setup_s:.3f} s: "
              + ", ".join(f"{k} {v:.3f}" for k, v in runner.session.items()), file=sys.stderr)
        passes = runner.measure(args.seconds, bool(args.trace))
        if args.trace:
            metrics = per_layer(runner, passes, units)
        else:
            metrics = end_to_end(passes, setup_s)
        runner.collect_results()
    finally:
        runner.stop()
    if args.trace:
        runner.tracer.write(DATA / "traces" / f"{runner.run_id}.json")

    wrong = check(runner, data_dir)
    shutil.rmtree(runner.out_dir, ignore_errors=True)
    # A job whose output is wrong counts every execution of it as failed.
    failed = sum(runner.failed_legs.values()) + sum(
        runner.legs[job] - runner.failed_legs[job] for job in wrong
    )
    print(json.dumps({
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": unit} for k, unit in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(REPO))
    sys.exit(main())
