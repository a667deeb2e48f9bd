"""Benchmark for the spark-graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. One invocation is one fresh driver
process at ``local[<half the cores>]`` (``spark_cores``) with one
closed-loop client:

1. generate the workload's inputs from ``--seed`` (not timed);
2. set up: start the session (JVM launch included), import the engine's
   registry and run a warm-up query. This is the set-up a fresh driver
   process pays, so it is timed once per run (``setup_s``);
3. run a host canary (a fixed ``spark.range`` aggregation sized for the core
   count), kept beside the result to diagnose drift, never to rescale it;
4. run the first lap, the fresh driver's cold pass, which builds the
   session's persisted artifacts and is checked: every operation's output
   is verified after its clock stops;
5. run the workload's untimed warm-up laps (``warm_laps``), while the JIT
   still compiles;
6. run timed laps until ``--seconds`` have passed and at least three have
   run. ``lap_s`` is their median, which also leaves out a lap still
   slowed by the JIT.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones (``END_TO_END``). With ``--trace 1`` they are the per-layer
ones (``tracing.LAYER_METRICS``): the first lap is traced for the artifact
builds; after at least one warm-up lap, an untraced, a traced and an
untraced lap give every other per-layer figure (from the traced lap), the
price of tracing (``trace.overhead_frac``) and the per-lap scratch growth.
The line before it holds the workload's own named figures and the
diagnostics (on a traced run, those of its untraced laps). A traced run
writes its spans to ``.perfbench_traces/``.

All inputs, outputs, Spark local dirs and engine scratch live under
``.perfbench_run/`` in the checkout and are deleted at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "spotify_tracks_etl_portfolio_spark"

CANARY_ROWS_PER_CORE = 25_000_000
#: fewest timed laps a run takes, however long they are
MIN_LAPS = 3
DRIVER_MEMORY = "3g"

#: end-to-end metric -> unit, reported on every workload
END_TO_END = {
    "setup_s": "s",
    "lap_s": "s",
    "driver_heap_live_mb": "MB",
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def spark_cores() -> int:
    """Spark's task slots: half the host's cores, so that the driver's own
    threads (py4j, JIT, GC, Python workers) and the host's other load do
    not queue behind the tasks."""
    return max(1, _cores() // 2)


def isolate(run_dir: str) -> None:
    """Point every temp, scratch and Spark local dir of this process and the
    JVMs it starts into ``run_dir``, and size the session for this host."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    sys.path.insert(0, ROOT)
    os.chdir(run_dir)


class Session:
    """Owns the SparkSession: timed set-up and shutdown."""

    def __init__(self, workload, run_dir: str):
        self.wl = workload
        self.run_dir = run_dir
        self.spark = None

    def setup(self) -> tuple[float, float, float]:
        """Start the session, import the engine's registry and warm up.
        Returns (session start s, registry import s, total s)."""
        t0 = time.perf_counter()
        from spotify_tracks_etl_portfolio_spark.session import export_repo_pythonpath, get_spark

        export_repo_pythonpath(ROOT)
        self.spark = get_spark("perfbench", extra_conf={
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        })
        t1 = time.perf_counter()
        self.wl.load_registry()
        t2 = time.perf_counter()
        self.wl.warm(self.spark)
        return t1 - t0, t2 - t1, time.perf_counter() - t0

    def jvm_pid(self) -> int | None:
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def shutdown(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        # a run stopped mid-call may leave the session unable to stop
        # cleanly; the JVM is still shut down and waited for below
        with contextlib.suppress(Exception):
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        self.spark = None


def canary(spark, warm: int) -> float:
    """Median of two timed passes of a zero-IO aggregation over
    ``CANARY_ROWS_PER_CORE`` rows per task slot, after ``warm`` untimed ones."""
    rows = CANARY_ROWS_PER_CORE * spark_cores()
    samples = []
    for i in range(warm + 2):
        t0 = time.perf_counter()
        spark.range(0, rows, 1, spark_cores()).selectExpr(
            "sum(id % 7919) AS s", "count(*) AS c"
        ).write.format("noop").mode("overwrite").save()
        if i >= warm:
            samples.append(time.perf_counter() - t0)
    return statistics.median(samples)


def scratch_usage(spark) -> tuple[int, int]:
    """(directories, bytes) under the engine's per-application scratch root."""
    root = os.path.join(tempfile.gettempdir(), "spark_graft_scratch",
                        spark.sparkContext.applicationId)
    if not os.path.isdir(root):
        return 0, 0
    n_bytes = 0
    for d, _sub, files in os.walk(root):
        n_bytes += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return len(os.listdir(root)), n_bytes


def rss_peak_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of the driver's Python and JVM processes."""
    import resource

    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid is not None:
        with open(f"/proc/{jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


def _laps() -> dict:
    return {"laps": [], "ops": [], "op_laps": [], "stages": [], "spans": []}


class Runner:
    """Runs laps of a workload from one closed-loop client and keeps every
    timing and check outcome. With a tracer, laps can run traced or plain."""

    def __init__(self, workload, spark, tracer=None):
        self.wl, self.spark, self.tracer = workload, spark, tracer
        self.traced = False
        self.attempted = self.failed = 0

    def set_traced(self, on: bool) -> None:
        if on != self.traced:
            self.tracer.install() if on else self.tracer.uninstall()
            self.traced = on

    def _construct_span(self):
        return self.tracer.span("plans.construct") if self.traced else contextlib.nullcontext()

    def lap(self, into: dict, check: bool) -> None:
        """One lap; appends its seconds (checks excluded), its operations'
        (name, seconds), their stage seconds and their span ids to ``into``."""
        ops, spans = [], []
        checks_s = 0.0
        t_lap = time.perf_counter()
        for name in self.wl.lap():
            self.attempted += 1
            span = self.tracer.begin_op(self.attempted, name) if self.traced else None
            t0 = time.perf_counter()
            try:
                result, stages = self.wl.run(self.spark, name, check, self._construct_span)
                error = None
            except Exception:
                result, stages, error = None, {}, traceback.format_exc(limit=3)
            t1 = time.perf_counter()
            ops.append((name, t1 - t0))
            into["stages"].append(stages)
            if span is not None:
                self.tracer.end_op(span)
                spans.append(span)
            if error is None and result is not None:
                try:
                    error = self.wl.check(name, result)
                except Exception:
                    error = traceback.format_exc(limit=3)
                checks_s += time.perf_counter() - t1
            if error is not None:
                self.failed += 1
                print(f"FAILED {self.wl.name}/{name}: {error}", file=sys.stderr)
        into["laps"].append(time.perf_counter() - t_lap - checks_s)
        into["ops"] += ops
        into["op_laps"].append(ops)
        into["spans"].append(spans)
        if self.traced:
            self.tracer.harvest()
        self.wl.end_lap()

    def window(self, seconds: float, into: dict) -> None:
        """Untraced laps, appended to ``into``, until ``seconds`` have passed
        and ``into`` holds ``MIN_LAPS`` laps."""
        t0 = time.perf_counter()
        while len(into["laps"]) < MIN_LAPS or time.perf_counter() - t0 < seconds:
            self.lap(into, check=False)

    def overhead_laps(self) -> tuple[dict, dict, list]:
        """An untraced, a traced and an untraced lap: the traced lap is
        compared with the mean of its neighbours, which cancels a steady
        drift. Returns the untraced laps, the traced lap and the scratch
        usage before and after each of the three laps."""
        plain, traced = _laps(), _laps()
        scratch = [scratch_usage(self.spark)]
        for kind in (plain, traced, plain):
            self.set_traced(kind is traced)
            self.lap(kind, check=False)
            scratch.append(scratch_usage(self.spark))
        self.set_traced(False)
        return plain, traced, scratch


def per_lap_growth(before: tuple[int, int], after: list[tuple[int, int]]) -> tuple[float, float]:
    n = len(after)
    return (after[-1][0] - before[0]) / n, (after[-1][1] - before[1]) / n


def host_cpu_ticks() -> list[int]:
    """The host's CPU time counters (user, nice, system, idle, iowait, irq,
    softirq, steal), in ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def jvm_gc_s(spark) -> float:
    """Seconds the driver JVM has spent in garbage collection."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def heap_live_mb(spark) -> float:
    """The driver JVM's heap in use after a full collection: what the
    session retains. Python collects first, so that the JVM objects only
    unreachable Python proxies still hold are released. The JVM collection
    runs twice, a second apart, so the objects Spark's context cleaner
    releases once the first has queued their weak references are gone too."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    time.sleep(1.0)
    jvm.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"engine package {ENGINE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {workloads.WORKLOADS}",
              file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and deletes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(run_dir)
    wl = workloads.make(args.workload)
    session = Session(wl, run_dir)
    t_start = time.perf_counter()
    try:
        wl.prepare(run_dir, args.seed)
        prepare_s = time.perf_counter() - t_start
        start_s, import_s, setup_s = session.setup()
        spark = session.spark
        canary_s = canary(spark, warm=1)

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
        runner = Runner(wl, spark, tracer)
        # the first lap is traced for the artifact builds it alone makes
        runner.set_traced(bool(tracer))
        first = _laps()
        runner.lap(first, check=True)
        runner.set_traced(False)
        # a traced run warms up at least once, so the three laps it compares are all warm
        for _ in range(max(wl.warm_laps, 1 if tracer else 0)):
            runner.lap(_laps(), check=False)
        if tracer:
            plain, traced, scratch = runner.overhead_laps()
            dirs_per_lap, bytes_per_lap = per_lap_growth(scratch[0], scratch[1:])
            window = {}
        else:
            plain = _laps()
            ticks0, gc0 = host_cpu_ticks(), jvm_gc_s(spark)
            runner.window(args.seconds, plain)
            ticks = [b - a for a, b in zip(ticks0, host_cpu_ticks())]
            window = {"window_gc_s": jvm_gc_s(spark) - gc0,
                      "window_host_busy_frac": 1 - (ticks[3] + ticks[4]) / sum(ticks),
                      "window_host_steal_frac": ticks[7] / sum(ticks)}
        rss = rss_peak_mb(session.jvm_pid())
        heap = heap_live_mb(spark)

        figures = wl.figures(first, plain)
        figures.update({
            "failed_frac": runner.failed / runner.attempted,
            "op_s.p50": statistics.median(s for _, s in plain["ops"]),
            "driver_rss_peak_mb": rss,
            "canary_s": canary_s,
            "laps_s": plain["laps"],
            "ops": len(plain["ops"]),
            "first_lap_s": first["laps"][0],
            "first_lap_ops_s": first["ops"],
            "cores": _cores(),
            "spark_cores": spark_cores(),
            "prepare_s": prepare_s,
            **window,
            "run_wall_s": time.perf_counter() - t_start,
        })
        if tracer:
            from tracing import LAYER_METRICS

            op_s = sum(tracer.duration(o) for o in traced["spans"][0])
            build = [first["spans"][0][i] for i in wl.build_positions(first["ops"])]
            values = tracer.layer_metrics(build, traced["spans"])
            values.update({
                "session.start_s": start_s,
                "plans.import_s": import_s,
                "scratch.dirs_per_lap": dirs_per_lap,
                "scratch.bytes_per_lap": bytes_per_lap,
                "trace.overhead_frac": traced["laps"][0]
                / statistics.mean(plain["laps"]) - 1.0,
                "trace.lap_coverage_frac": op_s / traced["laps"][0],
            })
            metrics = {k: {"value": values[k], "unit": unit}
                       for k, unit in LAYER_METRICS.items()}
            trace_dir = os.path.join(ROOT, ".perfbench_traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.dump(os.path.join(trace_dir, f"{wl.name}-seed{args.seed}.json"))
        else:
            values = {
                "setup_s": setup_s,
                "lap_s": statistics.median(plain["laps"]),
                "driver_heap_live_mb": heap,
            }
            metrics = {k: {"value": values[k], "unit": unit} for k, unit in END_TO_END.items()}
        print(json.dumps({"workload": wl.name, "seed": args.seed, "figures": figures}))
        print(json.dumps({
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        try:
            wl.close()
            session.shutdown()
        finally:
            os.chdir(ROOT)
            shutil.rmtree(run_dir, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(os.path.dirname(run_dir))


if __name__ == "__main__":
    sys.exit(main())
