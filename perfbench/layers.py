"""The traced run: per-layer metrics taken from outside each layer.

Nothing inside the package changes.  The tracer wraps the functions and
methods of the driver-build modules and of ``backends`` and
``_utils.local_df`` for self time and call counts, counts py4j round
trips, and runs each operation in three phases under its own Spark job
group:

- build: the operation's Python call; Spark jobs it starts are eager jobs;
- catalyst: ``queryExecution().executedPlan()`` of the returned
  DataFrame (optimization and planning; analysis ran during build and is
  read from the same query's phase tracker);
- exec: ``queryExecution().toRdd().count()``, the same full execution a
  ``noop`` write does, over the plan just prepared.

Jobs, stages and task metrics come from the status store (it works with
the UI off); plan node counts from the executed plan after execution
(AQE's final plan).  Module self time is a span's time minus the time
of the wrapped calls it made.
"""

from __future__ import annotations

import functools
import inspect
import os
import re
import statistics
import time
from collections import defaultdict

BUILD_MODULES = ("dataset", "alignment", "combine", "missing", "groupby",
                 "resample", "rolling", "computation")
BACKEND_WRITES = ("to_zarr", "to_zarr_distributed", "write_netcdf3",
                  "write_zarr_array")
BACKEND_READS = ("open_zarr", "open_dataset_netcdf", "open_mfdataset_netcdf",
                 "read_netcdf3", "read_zarr_array")
_ZARR_META = {".zarray", ".zattrs", ".zgroup", "zarr.json"}

# metric name -> unit; every traced run prints all of them
UNITS = {
    "trace.pass_s": "s",
    "session.start_s": "s",
    "build.s": "s", "build.driver_s": "s", "build.py4j_calls": "count",
    **{f"build.{m}_s": "s" for m in BUILD_MODULES},
    "build.eager_jobs": "count", "build.eager_s": "s",
    "local_df.calls": "count", "local_df.rows": "count", "local_df.s": "s",
    "create_df.calls": "count",
    "catalyst.s": "s", "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "plan.exchanges": "count", "plan.python_nodes": "count",
    "plan.local_scans": "count", "plan.rdd_scans": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_s": "s", "exec.task_gc_s": "s",
    "exec.shuffle_write_mb": "MB", "exec.input_mb": "MB",
    "exec.failed_tasks": "count",
    "backends.write_s": "s", "backends.read_s": "s",
    "backends.write_mb": "MB", "backends.chunk_files": "count",
    "jvm.gc_s": "s", "jvm.jit_s": "s",
}

# a tree-string line: tree drawing, an optional codegen stage id, then
# the node's text, which starts with its name
_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?(\w.*)$")


def plan_counts(plan: str) -> dict[str, int]:
    """Count physical-plan nodes by kind in a plan's tree string."""
    nodes = [m.group(1) for m in map(_NODE.match, plan.splitlines()) if m]
    names = [n.split(None, 1)[0].split("(", 1)[0].split("[", 1)[0] for n in nodes]
    return {
        "plan.exchanges": sum(n in ("Exchange", "BroadcastExchange") for n in names),
        "plan.python_nodes": sum(bool(re.search(r"Pandas|Python|InArrow", n))
                                 for n in names),
        "plan.local_scans": sum(n == "LocalTableScan" for n in names),
        "plan.rdd_scans": sum(n.startswith("Scan ExistingRDD") for n in nodes),
    }


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Seconds covered by the union of (start_ms, end_ms) intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000.0


def _store_size(path: str) -> tuple[float, int]:
    """(MiB, chunk files) written at a zarr store or a single file."""
    if os.path.isfile(path):
        return os.path.getsize(path) / 2**20, 0
    size, chunks = 0, 0
    for d, _, files in os.walk(path):
        for f in files:
            size += os.path.getsize(os.path.join(d, f))
            chunks += f not in _ZARR_META
    return size / 2**20, chunks


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.status = self.jsc.statusStore()
        self.mgmt = self.sc._jvm.java.lang.management.ManagementFactory
        self.client = self.sc._gateway._gateway_client
        self._patches: list[tuple[object, str, object]] = []
        self._stack: list[list] = []     # [key, start, time in children]
        self._io_depth = 0
        self._local_depth = 0
        self.counting = False
        self.cur: dict[str, float] = defaultdict(float)
        self.pass_no = 0
        self.op_records: list[dict] = []

    # ---- wrappers ------------------------------------------------------

    def _span(self, key: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            frame = [key, time.perf_counter(), 0.0]
            tracer._stack.append(frame)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._stack.pop()
                dur = time.perf_counter() - frame[1]
                tracer.cur[f"self.{key}"] += dur - frame[2]
                if tracer._stack:
                    tracer._stack[-1][2] += dur
        return wrapper

    def _patch(self, owner, name: str, new) -> None:
        self._patches.append((owner, name, owner.__dict__[name]))
        setattr(owner, name, new)

    def _wrap_module(self, mod, key: str) -> None:
        for name, obj in list(vars(mod).items()):
            if inspect.isfunction(obj) and obj.__module__ == mod.__name__:
                self._patch(mod, name, self._span(key, obj))
            elif inspect.isclass(obj) and obj.__module__ == mod.__name__:
                for attr, member in list(vars(obj).items()):
                    if attr in ("__new__", "__init_subclass__", "__class_getitem__"):
                        continue
                    if inspect.isfunction(member):
                        self._patch(obj, attr, self._span(key, member))
                    elif isinstance(member, (staticmethod, classmethod)):
                        self._patch(obj, attr, type(member)(
                            self._span(key, member.__func__)))

    def _io(self, kind: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            tracer._io_depth += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._io_depth -= 1
                if tracer._io_depth == 0:
                    tracer.cur[f"backends.{kind}_s"] += time.perf_counter() - t0
                    if kind == "write":
                        target = inspect.signature(fn).bind(*args, **kwargs).arguments
                        path = target.get("store") or target.get("path")
                        if path and os.path.exists(path):
                            mb, chunks = _store_size(path)
                            tracer.cur["backends.write_mb"] += mb
                            tracer.cur["backends.chunk_files"] += chunks
        return wrapper

    def install(self) -> None:
        import importlib

        from py4j import protocol as proto
        from pyspark.sql import SparkSession

        from xarray_spark import _utils, backends, io
        for m in BUILD_MODULES:
            self._wrap_module(importlib.import_module(f"xarray_spark.{m}"), m)
        # backends and io go on the span stack too, so their time is not
        # charged to the build module that called them
        for name in BACKEND_WRITES + BACKEND_READS:
            kind = "write" if name in BACKEND_WRITES else "read"
            self._patch(backends, name, self._span(
                "backends", self._io(kind, getattr(backends, name))))
        self._patch(io, "open_dataset", self._span(
            "backends", self._io("read", io.open_dataset)))

        tracer = self
        local_df = _utils.local_df

        @functools.wraps(local_df)
        def counted_local_df(spark, rows, schema):
            rows = list(rows)
            tracer.cur["local_df.calls"] += 1
            tracer.cur["local_df.rows"] += len(rows)
            tracer._local_depth += 1
            t0 = time.perf_counter()
            try:
                return local_df(spark, rows, schema)
            finally:
                tracer._local_depth -= 1
                tracer.cur["local_df.s"] += time.perf_counter() - t0
        self._patch(_utils, "local_df", self._span("_utils", counted_local_df))

        create = SparkSession.createDataFrame

        @functools.wraps(create)
        def counted_create(*args, **kwargs):
            if tracer._local_depth == 0:
                tracer.cur["create_df.calls"] += 1
            return create(*args, **kwargs)
        self._patch(SparkSession, "createDataFrame", counted_create)

        send = self.client.send_command
        # release notices for collected JavaObjects go out whenever
        # Python's GC runs, so they would make the count vary run to run
        release = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME

        def counted_send(command, *args, **kwargs):
            if tracer.counting and not command.startswith(release):
                tracer.cur["build.py4j_calls"] += 1
            return send(command, *args, **kwargs)
        self.client.send_command = counted_send

    def uninstall(self) -> None:
        for owner, name, original in reversed(self._patches):
            setattr(owner, name, original)
        self._patches.clear()
        del self.client.send_command

    # ---- per operation -------------------------------------------------

    def _jobs(self, group: str) -> tuple[list[int], list[tuple[int, int]]]:
        ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        spans = []
        for j in ids:
            jd = self.status.job(j)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                spans.append((jd.submissionTime().get().getTime(),
                              jd.completionTime().get().getTime()))
        return ids, spans

    def _stage_metrics(self, job_ids: list[int]) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        seen = set()
        for j in job_ids:
            stage_ids = self.status.job(j).stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self.status.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["exec.stages"] += 1
                out["exec.tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["exec.failed_tasks"] += sd.numFailedTasks()
                out["exec.task_run_s"] += sd.executorRunTime() / 1000.0
                out["exec.task_gc_s"] += sd.jvmGcTime() / 1000.0
                out["exec.shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                out["exec.input_mb"] += sd.inputBytes() / 2**20
        return out

    def run_op(self, op) -> None:
        self.cur = defaultdict(float)
        group = f"perfbench-{self.pass_no}-{op.name}"
        self.sc.setJobGroup(f"{group}-build", op.name)
        self.counting = True
        t0 = time.perf_counter()
        try:
            df = op.build()
        finally:
            self.counting = False
        t1 = time.perf_counter()
        self.sc.setJobGroup(f"{group}-exec", op.name)
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        t2 = time.perf_counter()
        qe.toRdd().count()
        t3 = time.perf_counter()
        self.sc.setJobGroup(None, None)

        self.jsc.listenerBus().waitUntilEmpty()
        eager_ids, eager_spans = self._jobs(f"{group}-build")
        exec_ids, _ = self._jobs(f"{group}-exec")
        m = self.cur
        m["build.s"] = t1 - t0
        m["build.eager_jobs"] = len(eager_ids)
        m["build.eager_s"] = _union_s(eager_spans)
        m["build.driver_s"] = m["build.s"] - m["build.eager_s"]
        for mod in BUILD_MODULES:
            m[f"build.{mod}_s"] = m.pop(f"self.{mod}", 0.0)
        m["catalyst.s"] = t2 - t1
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            p = phases.get(phase)
            m[f"catalyst.{phase}_ms"] = float(p.get().durationMs()) if p.isDefined() else 0.0
        plan = qe.executedPlan()
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            plan = plan.executedPlan()
        m.update(plan_counts(plan.toString()))
        m["exec.s"] = t3 - t2
        m["exec.jobs"] = len(eager_ids) + len(exec_ids)
        m.update(self._stage_metrics(eager_ids + exec_ids))
        record = {k: v for k, v in m.items() if not k.startswith("self.")}
        self.op_records.append({"pass": self.pass_no, "op": op.name, **record})

    # ---- per pass ------------------------------------------------------

    def _jvm(self) -> tuple[float, float]:
        gc_ms = sum(b.getCollectionTime() for b in self.mgmt.getGarbageCollectorMXBeans())
        jit_ms = self.mgmt.getCompilationMXBean().getTotalCompilationTime()
        return gc_ms / 1000.0, jit_ms / 1000.0

    def begin_pass(self) -> None:
        self._jvm0 = self._jvm()
        self._first = len(self.op_records)

    def end_pass(self) -> dict[str, float]:
        gc, jit = self._jvm()
        sums: dict[str, float] = defaultdict(float)
        for rec in self.op_records[self._first:]:
            for k, v in rec.items():
                if k in UNITS:
                    sums[k] += v
        sums["jvm.gc_s"] = gc - self._jvm0[0]
        sums["jvm.jit_s"] = jit - self._jvm0[1]
        self.pass_no += 1
        return dict(sums)

    def metrics(self, passes: list[dict], session_s: float,
                pass_s: float) -> dict[str, dict]:
        """Median over passes of each per-pass sum; 0 where a layer did
        no work."""
        out = {}
        for name, unit in UNITS.items():
            if name == "trace.pass_s":
                value = pass_s
            elif name == "session.start_s":
                value = session_s
            else:
                value = statistics.median(p["layers"].get(name, 0.0) for p in passes)
            out[name] = {"value": value, "unit": unit}
        return out
