"""Layer tracing for the benchmark, recorded from outside the engine.

A ``Tracer`` records one span per call at each layer boundary:

- the benchmark's own operation spans (``op``) and query-construct spans
  (``plans.construct``);
- every public function and method of the engine's layer modules, wrapped
  on the attribute each caller resolves (a module that imported a helper by
  name holds its own reference, so every engine module is patched);
- a count of py4j round-trips, by wrapping ``ClientServerConnection.send_command``.

Spark's side comes from the status store: every operation runs under its
own ``setJobGroup``, and after each lap the jobs and stages since the last
harvest are read in two JVM calls and attributed to the innermost span
open at each job's submission time (streaming micro-batches run under
their own job groups, so time is the attribution key). Spans stay in
memory and are written out by ``dump``.
"""

from __future__ import annotations

import contextlib
import importlib
import inspect
import json
import os
import sys
import time
import types

import py4j.clientserver

ENGINE = "spotify_tracks_etl_portfolio_spark"

#: layer name -> engine modules whose public functions/methods form it
LAYER_MODULES = {
    "sources.readers": ["sources.readers"],
    "sources.writers": ["sources.writers"],
    "operators.dq": ["operators.dq"],
    "operators.medallion": ["operators.medallion"],
    "operators.stats": ["operators.stats"],
    "operators.dedup": ["operators.dedup"],
    "operators.text": ["operators.text"],
    "operators.similarity": ["operators.similarity"],
    "operators.multimodal": ["operators.multimodal"],
    "streaming": ["streaming.pipeline", "streaming.stateful"],
}

#: every per-layer metric ``Tracer.layer_metrics`` reports, with its unit
LAYER_METRICS = {
    "session.start_s": "s", "plans.import_s": "s", "plans.construct_s": "s",
    "py4j.calls": "count", "py4j.calls_total": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.gc_s": "s",
    "sources.readers.read_s": "s",
    "sources.writers.write_s": "s", "sources.writers.bytes_written": "bytes",
    "sources.writers.files_written": "count",
    "operators.dq.suite_s": "s", "operators.dq.jobs": "count",
    "operators.medallion.construct_s": "s",
    "operators.text.build_s": "s",
    "streaming.drain_s": "s", "streaming.batches": "count", "streaming.drain_jobs": "count",
    "scratch.dirs_per_lap": "count", "scratch.bytes_per_lap": "bytes",
    "trace.overhead_frac": "ratio", "trace.lap_coverage_frac": "ratio",
}


class _Wrapped:
    """A traced stand-in for an engine function. It pickles as a lookup of
    the original, so Spark closures shipped to Python workers (which import
    the engine afresh) never carry the tracer."""

    def __init__(self, tracer: "Tracer", name: str, fn, owner, attr: str, capture_path: bool):
        self._tracer, self._name, self._fn = tracer, name, fn
        self._owner, self._attr, self._capture_path = owner, attr, capture_path
        self.__wrapped__ = fn
        self.__name__ = getattr(fn, "__name__", attr)
        self.__qualname__ = getattr(fn, "__qualname__", attr)
        self.__module__ = getattr(fn, "__module__", None)
        self.__doc__ = getattr(fn, "__doc__", None)

    def __call__(self, *args, **kwargs):
        tr = self._tracer
        idx = tr.open(self._name)
        try:
            return self._fn(*args, **kwargs)
        finally:
            tr.close(idx)
            if self._capture_path:
                path = kwargs.get("path", args[1] if len(args) > 1 else None)
                if isinstance(path, str):
                    tr.written_paths.append((tr.op, path))

    def __get__(self, obj, objtype=None):
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        return (getattr, (self._owner, self._attr))


class Tracer:
    """Spans are lists ``[name, parent, op, t0, t1, py4j0, py4j1]`` indexed by
    open order, so a parent always precedes its children."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[list] = []
        self.stack: list[int] = []
        self.op = -1
        self.py4j = 0
        self.jobs: list[dict] = []
        self.stages: dict[int, dict] = {}
        self.written_paths: list[tuple[int, str]] = []
        self.files_by_op: dict[int, int] = {}
        self._last_job = -1
        self._patches: list[tuple] = []
        jvm = spark.sparkContext._jvm
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            scala.__getattr__("MODULE$")
        )

    # -- spans -------------------------------------------------------------
    def open(self, name: str) -> int:
        idx = len(self.spans)
        parent = self.stack[-1] if self.stack else -1
        self.spans.append([name, parent, self.op, time.time(), 0.0, self.py4j, 0])
        self.stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        span = self.spans[idx]
        span[4] = time.time()
        span[6] = self.py4j
        while self.stack and self.stack.pop() != idx:
            pass

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.open(name)
        try:
            yield
        finally:
            self.close(idx)

    def duration(self, idx: int) -> float:
        return self.spans[idx][4] - self.spans[idx][3]

    def begin_op(self, seq: int, name: str) -> int:
        """Open an operation's root span and give it its own Spark job group."""
        self.spark.sparkContext.setJobGroup(f"op{seq}:{name}", name)
        idx = self.open(f"op.{name}")
        self.spans[idx][2] = self.op = idx
        return idx

    def end_op(self, idx: int) -> None:
        self.close(idx)
        self.op = -1

    # -- installation --------------------------------------------------------
    def install(self) -> None:
        """Wrap py4j and every public function of the layer modules."""
        conn = py4j.clientserver.ClientServerConnection
        orig_send = conn.send_command
        tracer = self

        def send_command(self_, command):
            tracer.py4j += 1
            return orig_send(self_, command)

        conn.send_command = send_command
        self._patches.append((conn, "send_command", orig_send))

        wrappers: dict[int, _Wrapped] = {}
        for layer, mods in LAYER_MODULES.items():
            for short in mods:
                mod = importlib.import_module(f"{ENGINE}.{short}")
                for attr, obj in list(vars(mod).items()):
                    if attr.startswith("_"):
                        continue
                    if inspect.isfunction(obj) and obj.__module__ == mod.__name__:
                        w = _Wrapped(self, f"{layer}.{attr}", obj, mod, attr,
                                     layer == "sources.writers")
                        wrappers[id(obj)] = w
                    elif inspect.isclass(obj) and obj.__module__ == mod.__name__:
                        for m_name, m in list(vars(obj).items()):
                            if inspect.isfunction(m) and not m_name.startswith("_"):
                                w = _Wrapped(self, f"{layer}.{attr}.{m_name}", m, obj,
                                             m_name, False)
                                self._patch(obj, m_name, m, w)
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith(ENGINE):
                continue
            for attr, obj in list(vars(mod).items()):
                w = wrappers.get(id(obj))
                if w is not None and w._fn is obj:
                    self._patch(mod, attr, obj, w)

    def _patch(self, owner, attr, orig, new) -> None:
        setattr(owner, attr, new)
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- Spark status store ----------------------------------------------------
    def harvest(self) -> None:
        """Pull the jobs (and their stages) finished since the last harvest,
        and count the files under the paths written since then. Call it
        before the written outputs are deleted."""
        for op, path in self.written_paths:
            self.files_by_op[op] = self.files_by_op.get(op, 0) + count_files(path)
        self.written_paths.clear()
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jobs = json.loads(self._mapper.writeValueAsString(store.jobsList(None)))
        fresh = [j for j in jobs if j["jobId"] > self._last_job]
        if not fresh:
            return
        stages = json.loads(self._mapper.writeValueAsString(store.stageList(
            None, False, False, sc._gateway.new_array(sc._jvm.double, 0),
            sc._jvm.java.util.ArrayList(),
        )))
        for s in stages:
            if s["status"] == "COMPLETE":
                self.stages[s["stageId"]] = s
        self._last_job = max(j["jobId"] for j in fresh)
        self.jobs.extend(sorted(fresh, key=lambda j: j["jobId"]))

    def _attribute(self) -> dict[int, list[dict]]:
        """span index -> jobs submitted while it was the innermost open span."""
        ops = [i for i, s in enumerate(self.spans) if s[1] == -1]
        out: dict[int, list[dict]] = {}
        for job in self.jobs:
            t = job.get("submissionTime")
            if t is None:
                continue
            t = t / 1000.0
            for o_pos, o in enumerate(ops):
                s = self.spans[o]
                if s[3] - 0.001 <= t <= s[4] + 0.001:
                    end = ops[o_pos + 1] if o_pos + 1 < len(ops) else len(self.spans)
                    best = o
                    for i in range(end - 1, o, -1):
                        c = self.spans[i]
                        if c[3] - 0.001 <= t <= c[4] + 0.001:
                            best = i
                            break
                    out.setdefault(best, []).append(job)
                    break
        return out

    # -- aggregation -------------------------------------------------------------
    def _within(self, idx: int, roots: set[int]) -> bool:
        while idx != -1:
            if idx in roots:
                return True
            idx = self.spans[idx][1]
        return False

    def _layer_top(self, prefix: str, ops: list[int]) -> list[int]:
        """Spans of ``prefix`` under ``ops`` whose parent is outside the layer."""
        ops = set(ops)
        out = []
        for i, s in enumerate(self.spans):
            if s[2] in ops and s[0].startswith(prefix):
                p = s[1]
                if p == -1 or not self.spans[p][0].startswith(prefix):
                    out.append(i)
        return out

    def layer_metrics(self, build_ops: list[int], lap_ops: list[list[int]]) -> dict:
        """Per-lap means over the traced laps ``lap_ops`` (lists of op span
        indices); ``*.build_s`` over the first-call ops ``build_ops``."""
        by_span = self._attribute()
        n_laps = max(len(lap_ops), 1)
        flat = [o for lap in lap_ops for o in lap]

        def dur(idxs):
            return sum(self.duration(i) for i in idxs)

        def jobs_under(roots):
            roots = set(roots)
            js = []
            for span, jobs in by_span.items():
                if self._within(span, roots):
                    js.extend(jobs)
            return js

        def stage_sum(jobs, key):
            return sum(self.stages[s][key] for j in jobs for s in j["stageIds"]
                       if s in self.stages)

        lap_jobs = jobs_under(flat)
        flat_set = set(flat)
        construct = [i for i, s in enumerate(self.spans)
                     if s[0] == "plans.construct" and s[2] in flat_set]
        m = {}
        m["plans.construct_s"] = dur(construct) / n_laps
        m["py4j.calls"] = sum(self.spans[i][6] - self.spans[i][5] for i in construct) / n_laps
        m["py4j.calls_total"] = sum(self.spans[o][6] - self.spans[o][5] for o in flat) / n_laps
        m["spark.jobs"] = len(lap_jobs) / n_laps
        m["spark.stages"] = sum(1 for j in lap_jobs for s in j["stageIds"]
                                if s in self.stages) / n_laps
        m["spark.tasks"] = stage_sum(lap_jobs, "numCompleteTasks") / n_laps
        m["spark.executor_run_s"] = stage_sum(lap_jobs, "executorRunTime") / 1e3 / n_laps
        m["spark.executor_cpu_s"] = stage_sum(lap_jobs, "executorCpuTime") / 1e9 / n_laps
        m["spark.shuffle_read_bytes"] = stage_sum(lap_jobs, "shuffleReadBytes") / n_laps
        m["spark.shuffle_write_bytes"] = stage_sum(lap_jobs, "shuffleWriteBytes") / n_laps
        m["spark.spill_bytes"] = (stage_sum(lap_jobs, "memoryBytesSpilled")
                                  + stage_sum(lap_jobs, "diskBytesSpilled")) / n_laps
        m["spark.gc_s"] = stage_sum(lap_jobs, "jvmGcTime") / 1e3 / n_laps

        readers = self._layer_top("sources.readers.", flat)
        writers = self._layer_top("sources.writers.", flat)
        m["sources.readers.read_s"] = dur(readers) / n_laps
        m["sources.writers.write_s"] = dur(writers) / n_laps
        m["sources.writers.bytes_written"] = stage_sum(jobs_under(writers), "outputBytes") / n_laps
        m["sources.writers.files_written"] = sum(self.files_by_op.get(o, 0) for o in flat) / n_laps
        dq = self._layer_top("operators.dq.", flat)
        m["operators.dq.suite_s"] = dur(dq) / n_laps
        m["operators.dq.jobs"] = len(jobs_under(dq)) / n_laps
        m["operators.medallion.construct_s"] = dur(self._layer_top("operators.medallion.", flat)) / n_laps
        m["operators.text.build_s"] = dur(self._layer_top("operators.text.", build_ops))
        drains = self._layer_top("streaming.", flat)
        drain_jobs = jobs_under(drains)
        m["streaming.drain_s"] = dur(drains) / n_laps
        m["streaming.drain_jobs"] = len(drain_jobs) / n_laps
        m["streaming.batches"] = len({
            j.get("jobGroup") + "/" + line
            for j in drain_jobs if j.get("jobGroup")
            for line in (j.get("description") or "").splitlines()
            if line.startswith("batch = ")
        }) / n_laps
        return m

    def self_times(self) -> list[float]:
        """Each span's duration minus the part its direct children cover."""
        out = [self.duration(i) for i in range(len(self.spans))]
        for i, s in enumerate(self.spans):
            if s[1] != -1:
                out[s[1]] -= self.duration(i)
        return out

    def dump(self, path: str) -> None:
        """Write every span (with self time), every job, and one summary row
        per operation: wall, py4j calls, jobs and self time by layer."""
        own = self.self_times()
        by_span = self._attribute()
        ops = {i: {"name": s[0].removeprefix("op."), "wall_s": self.duration(i),
                   "py4j_calls": s[6] - s[5], "jobs": 0, "self_s": {}}
               for i, s in enumerate(self.spans) if s[1] == -1}
        for i, s in enumerate(self.spans):
            if s[2] in ops:
                layer = "op" if s[1] == -1 else _layer_of(s[0])
                row = ops[s[2]]
                row["self_s"][layer] = row["self_s"].get(layer, 0.0) + own[i]
                row["jobs"] += len(by_span.get(i, []))
        with open(path, "w") as fh:
            json.dump({
                "ops": list(ops.values()),
                "spans": [dict(zip(("name", "parent", "op", "start", "end", "py4j_start",
                                    "py4j_end"), s), self_s=own[i])
                          for i, s in enumerate(self.spans)],
                "jobs": [{k: j.get(k) for k in ("jobId", "jobGroup", "submissionTime",
                                                "completionTime", "stageIds", "status")}
                         for j in self.jobs],
            }, fh)


def _layer_of(span_name: str) -> str:
    for layer in LAYER_MODULES:
        if span_name.startswith(layer + "."):
            return layer
    return span_name.rsplit(".", 1)[0]


def count_files(path: str) -> int:
    """Data files under ``path``, leaving out checksums and markers."""
    return sum(1 for _dir, _sub, files in os.walk(path)
               for f in files if not f.startswith((".", "_")))
