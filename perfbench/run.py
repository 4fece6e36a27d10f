#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload rfp_etl --seed 1 --seconds 12 --trace 0

One run generates the seeded inputs, sets the engine up three times
(fresh session, empty artifact warehouse, one untimed pass; the CPU of
the first set-up, counted from process start, is ``cold_start_cpu_s``
and the median wall time of the three is ``setup_s``), runs the
workload's fixed number of untimed warm-up passes, then as many timed
passes over the workload's queries as its nominal pass time fits in
``--seconds``, and checks every output against its DuckDB oracle
outside the timed region. ``--trace 1``
adds spans and the Spark event log and reports the per-layer metrics
instead of the end-to-end ones. README.md defines every metric.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "commercial_rfp_data_pipeline_spark"

import datagen  # noqa: E402
import probes  # noqa: E402
from probes import MB, Spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SETUPS = 3  # set-ups per run; setup_s is their median
MIN_PASSES = 3  # timed passes per window, whatever --seconds says
FLOOR_SAMPLES = 2  # one-row noop writes before each warm-up and timed pass
TAIL_BEYOND = 10  # query_tail_s: the percentile with this many samples above it

END_TO_END = {
    "cold_start_cpu_s": "s",
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "pass_cpu_s": "s",
    "ok_frac": "frac",
    "storage_mb": "MB",
}
PER_LAYER = {
    "cold_start.wall_s": "s",
    "session.start_s": "s",
    "session.restart_s": "s",
    "session.floor_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "cpu.driver_s": "s",
    "cpu.jvm_s": "s",
    "cpu.workers_s": "s",
    "artifacts.build_s": "s",
    "artifacts.mb": "MB",
    "artifacts.rebuilds": "count",
    "io.write_s": "s",
    "io.write_mb": "MB",
    "host.steal_s": "s",
    "trace.pass_s": "s",
    "trace.overhead_frac": "frac",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(work: str) -> None:
    """Deployment settings for the engine, fixed by the box, not the caller.

    Every core, a heap that fits the machine, per-run scratch and
    warehouse directories, and the checkout on the Python workers'
    path so UDF queries import the package from any working directory."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d))
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_DRIVER_MEMORY": f"{max(1, min(4, int(mem_gb // 4)))}g",
            "SPARK_GRAFT_ARTIFACTS": "warm",
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": os.path.join(work, "tmp"),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has
    TAIL_BEYOND samples above it."""
    s = sorted(samples)
    k = max(len(s) - TAIL_BEYOND - 1, 0)
    return s[k], 100.0 * (k + 1) / len(s)


def median_of(records: list[dict], key: str) -> float:
    return statistics.median(r[key] for r in records)


def emit(kind: str, record: dict) -> None:
    print(f"perfbench {kind} " + json.dumps(record, sort_keys=True), flush=True)


class Bench:
    def __init__(self, args, work: str, started: float):
        self.wl = WORKLOADS[args.workload]
        self.args = args
        self.work = work
        self.started = started  # process start, Unix seconds
        self.inputs_s = self.inputs_cpu_s = 0.0  # wall and CPU of input generation
        self.spans = Spans(f"{args.workload}-s{args.seed}-{os.getpid()}", keep=bool(args.trace))
        self.out_dir = os.path.join(work, "out")
        self.data_dir = os.path.join(work, "data")
        self.spark = None
        self.jvm_pid = None
        self.warehouse = self.sf_dir = None
        self.setups: list[dict] = []
        self.passes: list[dict] = []
        self.floors: list[tuple[str, float]] = []
        self.query_walls: list[float] = []
        self.timed_runs: dict[str, int] = {}  # query -> timed executions
        self.raised: dict[str, int] = {}  # query -> timed executions that raised
        self.wrong: dict[str, str] = {}  # query -> oracle mismatch

    # -- session -----------------------------------------------------------

    def start_session(self, extra_conf: dict[str, str] | None = None) -> float:
        """Start a session and return the seconds spent in ``get_spark``."""
        from commercial_rfp_data_pipeline_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "sql-warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"
            ),
        }
        conf.update(extra_conf or {})
        with self.spans.span("session.start") as s:
            self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        return s["end"] - s["start"]

    def stop_session(self) -> None:
        from commercial_rfp_data_pipeline_spark.io import release_pinned

        release_pinned()
        self.spark.stop()
        self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and its Python workers, and wait for all."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.stop_session()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        children = probes.descendants(proc.pid)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.time() + 15
        for pid in children:
            while _alive(pid):
                if time.time() > deadline:
                    os.kill(pid, signal.SIGKILL)
                time.sleep(0.05)

    # -- passes ------------------------------------------------------------

    def materialise(self, df, name: str) -> None:
        if self.wl.writes_parquet:
            df.write.mode("overwrite").parquet(os.path.join(self.out_dir, name))
        else:
            df.write.format("noop").mode("overwrite").save()

    def run_pass(self, tag: str, kind: str) -> dict:
        from commercial_rfp_data_pipeline_spark.io import release_pinned
        from commercial_rfp_data_pipeline_spark.registry import all_queries

        queries = all_queries()
        spark, sc = self.spark, self.spark.sparkContext
        timed = kind != "warmup"
        phases = {"build": 0.0, "plan": 0.0, "exec": 0.0}
        groups: dict[str, list[str]] = {p: [] for p in phases}
        query_s: dict[str, float] = {}
        cpu0, steal0, gc0 = probes.cpu_split(self.jvm_pid), probes.steal_s(), probes.gc_s(spark)
        wh0 = probes.tree_state(self.warehouse)
        with self.spans.span("pass", tag=tag, kind=kind) as ps:
            for name in self.wl.queries:
                release_pinned()
                with self.spans.span("query", query=name) as qs:
                    try:
                        df = None
                        for phase in phases:
                            group = f"{tag}:{name}:{phase}"
                            groups[phase].append(group)
                            sc.setJobGroup(group, name)
                            with self.spans.span(phase) as s:
                                if phase == "build":
                                    df = queries[name](spark, self.sf_dir)
                                elif phase == "plan":
                                    df._jdf.queryExecution().executedPlan()
                                else:
                                    self.materialise(df, name)
                            phases[phase] += s["end"] - s["start"]
                    except Exception:
                        print(f"query {name} raised in pass {tag}:", file=sys.stderr)
                        traceback.print_exc()
                        if timed:
                            self.raised[name] = self.raised.get(name, 0) + 1
                query_s[name] = qs["end"] - qs["start"]
                if timed:
                    self.timed_runs[name] = self.timed_runs.get(name, 0) + 1
                    self.query_walls.append(query_s[name])
            sc.setJobGroup("idle", "between passes")
        cpu1 = probes.cpu_split(self.jvm_pid)
        jobs, stages, tasks = probes.job_counts(sc, [g for gs in groups.values() for g in gs])
        rec = {
            "tag": tag,
            "kind": kind,
            "wall_s": ps["end"] - ps["start"],
            "build_s": phases["build"],
            "plan_s": phases["plan"],
            "exec_s": phases["exec"],
            "write_s": phases["exec"] if self.wl.writes_parquet else 0.0,
            "write_mb": probes.tree_bytes(self.out_dir) / MB if self.wl.writes_parquet else 0.0,
            "cpu_s": sum(cpu1.values()) - sum(cpu0.values()),
            "driver_s": cpu1["driver"] - cpu0["driver"],
            "jvm_s": cpu1["jvm"] - cpu0["jvm"],
            "workers_s": cpu1["workers"] - cpu0["workers"],
            "steal_s": probes.steal_s() - steal0,
            "gc_s": probes.gc_s(spark) - gc0,
            "load1": os.getloadavg()[0],
            "jobs": jobs,
            "stages": stages,
            "tasks": tasks,
            "build_jobs": probes.job_counts(sc, groups["build"])[0],
            "rebuilds": probes.rewritten_tables(wh0, probes.tree_state(self.warehouse)),
            "query_s": query_s,
        }
        emit("pass", rec)
        if timed:
            self.passes.append(rec)
        return rec

    def floor_sample(self, kind: str) -> None:
        sc = self.spark.sparkContext
        sc.setJobGroup("floor", "session floor")
        with self.spans.span("session.floor") as s:
            self.spark.range(1).write.format("noop").mode("overwrite").save()
        sc.setJobGroup("idle", "between passes")
        self.floors.append((kind, s["end"] - s["start"]))

    def window(self, seconds: float, kind: str, prefix: str) -> None:
        """The timed passes: as many as the workload's nominal pass time
        fits in ``seconds``, three at least. The count does not depend
        on how fast this run goes, so every run and every commit times
        the same passes, at the same point of the JIT's warm-up."""
        for i in range(max(MIN_PASSES, round(seconds / self.wl.pass_s))):
            for _ in range(FLOOR_SAMPLES):
                self.floor_sample(kind)
            self.run_pass(f"{prefix}{i}", kind)

    # -- set-up --------------------------------------------------------------

    def setup(self, i: int) -> None:
        """Fresh session, empty warehouse, artifact builds, one untimed
        pass. Set-up 0 also imports the engine, launches the JVM and
        meets the cold JIT: its wall time and CPU count from process
        start, less what generating the inputs took."""
        cpu0 = self.inputs_cpu_s if i == 0 else sum(probes.cpu_split(self.jvm_pid).values())
        with self.spans.span("setup", index=i) as s:
            if self.spark is not None:
                self.stop_session()
            self.warehouse = os.path.join(self.work, f"warehouse{i}")
            os.environ["SPARK_GRAFT_WAREHOUSE"] = self.warehouse
            self.sf_dir = os.path.join(self.work, f"input{i}")
            session_s = self.start_session()
            with self.spans.span("artifacts.build") as a:
                for label, build in self.wl.artifacts:
                    with self.spans.span(label):
                        build(self.spark, self.sf_dir)
            first = self.run_pass(f"s{i}", "warmup")
        rec = {
            "index": i,
            "wall_s": s["end"] - (self.started + self.inputs_s if i == 0 else s["start"]),
            "cpu_s": sum(probes.cpu_split(self.jvm_pid).values()) - cpu0,
            "pass_cpu_s": first["cpu_s"],
            "session_start_s": session_s,
            "artifacts_build_s": a["end"] - a["start"],
            "artifacts_mb": probes.tree_bytes(self.warehouse) / MB,
        }
        emit("setup", rec)
        self.setups.append(rec)

    def warm_up(self) -> None:
        """The workload's fixed number of untimed passes, each preceded
        by the window's floor samples so the JIT has seen their code
        path before the first timed pass. README.md gives the measured
        CPU and wall time per pass that sized the count."""
        for i in range(self.wl.warmup_passes):
            for _ in range(FLOOR_SAMPLES):
                self.floor_sample("warmup")
            self.run_pass(f"w{i}", "warmup")

    # -- correctness ---------------------------------------------------------

    def verify(self) -> None:
        """Collect every output once more, outside the timed region, and
        compare it with its DuckDB oracle. ``rfp_etl`` reads back the
        parquet its last timed pass wrote."""
        from commercial_rfp_data_pipeline_spark.io import TABLES, release_pinned
        from commercial_rfp_data_pipeline_spark.registry import all_oracles, all_queries

        import oracle

        queries, oracles = all_queries(), all_oracles()
        checker = oracle.Oracles(self.data_dir, list(TABLES))
        sc = self.spark.sparkContext
        with self.spans.span("verify"):
            for name in self.wl.queries:
                release_pinned()
                sc.setJobGroup(f"verify:{name}", name)
                try:
                    if self.wl.writes_parquet:
                        df = self.spark.read.parquet(os.path.join(self.out_dir, name))
                    else:
                        df = queries[name](self.spark, self.sf_dir)
                    rows = [tuple(r) for r in df.collect()]
                    problem = checker.check(oracles[name], df.columns, rows)
                except Exception:
                    problem = traceback.format_exc()
                if problem:
                    self.wrong[name] = problem
                    print(f"query {name} is wrong: {problem}", file=sys.stderr)
        checker.close()

    # -- metrics -------------------------------------------------------------

    def failed(self) -> int:
        return sum(
            n if name in self.wrong else self.raised.get(name, 0)
            for name, n in self.timed_runs.items()
        )

    def end_to_end(self) -> dict[str, tuple[float, int]]:
        """metric -> (value, sample count)."""
        attempted = sum(self.timed_runs.values())
        storage = probes.tree_bytes(self.warehouse) + probes.tree_bytes(self.out_dir)
        # too few executions per run for a tail to be steady: printed, not gated
        value, pct = tail(self.query_walls)
        print(
            f"perfbench info query_tail_s = {value:.6g} s"
            f" (p{pct:.0f} of {len(self.query_walls)} executions)"
        )
        # one sample per run, moved by host steal: printed, not gated
        print(f"perfbench info cold_start.wall_s = {self.setups[0]['wall_s']:.6g} s (n=1)")
        n_pass = len(self.passes)
        return {
            "cold_start_cpu_s": (self.setups[0]["cpu_s"], 1),
            "setup_s": (median_of(self.setups, "wall_s"), len(self.setups)),
            "pass_s": (median_of(self.passes, "wall_s"), n_pass),
            "query_p50_s": (statistics.median(self.query_walls), len(self.query_walls)),
            "pass_cpu_s": (median_of(self.passes, "cpu_s"), n_pass),
            "ok_frac": ((attempted - self.failed()) / attempted, attempted),
            "storage_mb": (storage / MB, 1),
        }

    def per_layer(self, untraced_pass_s: float, event_log: str) -> dict[str, tuple[float, int]]:
        """Per-layer metrics over the traced passes (medians per pass)."""
        traced = self.passes
        n = len(traced)
        tags = {int(p["tag"][1:]) for p in traced}
        by_pass = probes.event_log_by_pass(
            event_log,
            lambda g: int(g.split(":")[0][1:]) if g.startswith("r") else None,
        )
        ev = [by_pass.get(t, {}) for t in sorted(tags)]

        def ev_median(key, scale):
            return statistics.median(e.get(key, 0) for e in ev) / scale, n

        def pass_median(key):
            return median_of(traced, key), n

        floors = [f for kind, f in self.floors if kind == "traced"]
        trace_pass = statistics.median(p["wall_s"] for p in traced)
        return {
            "cold_start.wall_s": (self.setups[0]["wall_s"], 1),
            "session.start_s": (self.setups[0]["session_start_s"], 1),
            "session.restart_s": (median_of(self.setups[1:], "session_start_s"), SETUPS - 1),
            "session.floor_s": (statistics.median(floors), len(floors)),
            "queries.build_s": pass_median("build_s"),
            "queries.build_jobs": pass_median("build_jobs"),
            "spark.plan_s": pass_median("plan_s"),
            "spark.exec_s": pass_median("exec_s"),
            "spark.jobs": pass_median("jobs"),
            "spark.stages": pass_median("stages"),
            "spark.tasks": pass_median("tasks"),
            "spark.shuffle_write_mb": ev_median("shuffle_write", MB),
            "spark.shuffle_read_mb": ev_median("shuffle_read", MB),
            "spark.spill_mb": ev_median("spill", MB),
            "spark.task_run_s": ev_median("run_ms", 1e3),
            "spark.task_cpu_s": ev_median("cpu_ns", 1e9),
            "spark.gc_s": pass_median("gc_s"),
            "cpu.driver_s": pass_median("driver_s"),
            "cpu.jvm_s": pass_median("jvm_s"),
            "cpu.workers_s": pass_median("workers_s"),
            "artifacts.build_s": (median_of(self.setups, "artifacts_build_s"), len(self.setups)),
            "artifacts.mb": (median_of(self.setups, "artifacts_mb"), len(self.setups)),
            "artifacts.rebuilds": (sum(p["rebuilds"] for p in traced), n),
            "io.write_s": pass_median("write_s"),
            "io.write_mb": pass_median("write_mb"),
            "host.steal_s": pass_median("steal_s"),
            "trace.pass_s": (trace_pass, n),
            "trace.overhead_frac": (trace_pass / untraced_pass_s - 1.0, n),
        }

    # -- the run -------------------------------------------------------------

    def run(self) -> dict:
        args = self.args
        t0, c0 = time.time(), time.process_time()
        datagen.write(args.seed, self.data_dir)
        for i in range(SETUPS):
            shutil.copytree(self.data_dir, os.path.join(self.work, f"input{i}"))
        self.inputs_s, self.inputs_cpu_s = time.time() - t0, time.process_time() - c0
        try:
            with self.spans.span("run", workload=self.wl.name, seed=args.seed):
                for i in range(SETUPS):
                    self.setup(i)
                self.warm_up()
                if args.trace:
                    untraced_pass_s = self.traced_run()
                else:
                    self.window(args.seconds, "timed", "t")
                    self.verify()
                    metrics = self.end_to_end()
        finally:
            self.shutdown()
        if args.trace:  # the event log is complete once the session stopped
            metrics = self.finish_trace(untraced_pass_s)
        for name, (value, count) in metrics.items():
            print(f"perfbench metric {name} = {value:.6g} {self.units[name]} (n={count})")
        return {
            "correct": not self.wrong and not self.raised,
            "attempted": sum(self.timed_runs.values()),
            "failed": self.failed(),
            "metrics": {
                name: {"value": value, "unit": self.units[name]}
                for name, (value, _) in metrics.items()
            },
        }

    @property
    def units(self) -> dict[str, str]:
        return PER_LAYER if self.args.trace else END_TO_END

    def traced_run(self):
        """The window in two halves, each in a fresh session after one
        untimed pass: the first untraced, the second with the event log
        on. Per-layer numbers come from the traced half; the untraced
        half measures the overhead. Both halves start at the same
        session age, but the traced half runs later: what JIT drift is
        left after the warm-up lowers the overhead figure, which can
        come out slightly negative. Returns the untraced median pass
        time."""
        half = self.args.seconds / 2
        self.fresh_session("y")
        self.window(half, "untraced", "u")
        untraced = median_of(self.passes, "wall_s")
        self.passes, self.query_walls, self.timed_runs, self.raised = [], [], {}, {}
        self.event_dir = os.path.join(self.work, "eventlog")
        os.makedirs(self.event_dir)
        self.fresh_session(
            "x",
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            },
        )
        self.window(half, "traced", "r")
        self.verify()
        return untraced

    def fresh_session(self, tag: str, extra_conf: dict[str, str] | None = None) -> None:
        """Restart the session and pay its first-touch costs in one
        untimed pass."""
        self.stop_session()
        self.start_session(extra_conf)
        self.run_pass(tag, "warmup")

    def finish_trace(self, untraced_pass_s: float) -> dict:
        """Per-layer metrics, and the spans and event log kept under
        ``.perfbench/trace/<workload>-s<seed>/``."""
        (log,) = os.listdir(self.event_dir)
        keep = os.path.join(ROOT, ".perfbench", "trace", f"{self.wl.name}-s{self.args.seed}")
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        shutil.copy(os.path.join(self.event_dir, log), os.path.join(keep, "eventlog.json"))
        self.spans.write(os.path.join(keep, "spans.jsonl"))
        print(f"perfbench trace written to {os.path.relpath(keep, ROOT)}")
        return self.per_layer(untraced_pass_s, os.path.join(keep, "eventlog.json"))


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    started = time.time() - probes.process_age_s()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: the {PACKAGE} package is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        pin_environment(work)
        result = Bench(args, work, started).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
