"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload label-ops --seed 1 --seconds 6 --trace 0

Run from the repository root.  One run, in one process:

1. writes the workload's seeded inputs and starts a pinned local[2]
   session (settings in README.md);
2. runs one checked pass (every operation collected and compared with
   its reference), then the workload's fixed number of warm-up passes;
3. times whole passes over the operations, each pass in an order drawn
   from the seed, until ``--seconds`` have elapsed;
4. prints ``{"correct", "attempted", "failed", "metrics"}`` as the last
   stdout line: the end-to-end metrics with ``--trace 0``, the per-layer
   metrics (layers.py) with ``--trace 1``.

A timestamped record of every pass goes to ``perfbench/records/``.  All
scratch files (inputs, Spark local dirs, temp files) live in a private
directory that is removed when the run ends.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RECORDS = os.path.join(HERE, "records")


def _uptime_s() -> float:
    with open("/proc/uptime") as f:
        return float(f.read().split()[0])


def _age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    return _uptime_s() - start_ticks / os.sysconf("SC_CLK_TCK")


def _pin_environment(run_dir: str) -> None:
    """Deployment settings the session reads, set before pyspark loads."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_DRIVER_MEMORY": "2g",
        "TMPDIR": tmp,
        "SPARK_GRAFT_SF_DIR": os.path.join(run_dir, "tables"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # every JVM (spark-submit's launcher and the driver): a private
        # temp dir, and no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": " ".join(
            p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData") if p),
    })
    sys.path[:0] = [ROOT, HERE]


def _force(df) -> None:
    """Execute the whole plan without collecting it (as bench.py does)."""
    df.write.format("noop").mode("overwrite").save()


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Run:
    def __init__(self, ops, seed: int):
        import numpy as np
        self.ops, self.tracer = ops, None
        self.rng = np.random.default_rng(seed)
        self.failed_ops: set[str] = set()
        self.wrong: dict[str, list[str]] = {}

    def _order(self):
        return [self.ops[i] for i in self.rng.permutation(len(self.ops))]

    def checked_pass(self) -> float:
        """Collect every operation and compare it with its reference."""
        t0 = time.perf_counter()
        for op in self._order():
            try:
                got = op.build().toPandas()
            except Exception:  # noqa: BLE001 - the run reports and goes on
                _log(f"{op.name} raised:\n{traceback.format_exc()}")
                self.failed_ops.add(op.name)
                continue
            errors = op.check(got)
            if errors:
                _log("\n".join(errors))
                self.wrong[op.name] = errors
        return time.perf_counter() - t0

    def timed_pass(self) -> dict:
        """One pass over all operations; returns times and failures."""
        times, failures = {}, 0
        t0 = time.perf_counter()
        for op in self._order():
            t = time.perf_counter()
            try:
                if self.tracer:
                    self.tracer.run_op(op)
                else:
                    _force(op.build())
            except Exception:  # noqa: BLE001 - the run reports and goes on
                _log(f"{op.name} raised:\n{traceback.format_exc()}")
                failures += 1
            times[op.name] = time.perf_counter() - t
        return {"wall_s": time.perf_counter() - t0, "op_s": times,
                "failures": failures}


@contextlib.contextmanager
def private_dir():
    """A run-private scratch directory with the pinned environment
    pointing into it; removed, with everything in it, on exit."""
    run_dir = os.path.join(HERE, f".run-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        _pin_environment(run_dir)
        yield run_dir
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


@contextlib.contextmanager
def session():
    """The pinned session; on exit it is stopped and the JVM (and with
    it the Python worker daemon) has ended."""
    from pyspark import SparkContext

    from xarray_spark import get_spark
    spark = get_spark("perfbench")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        yield spark
    finally:
        gateway = SparkContext._gateway
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)


def measure(spark, ops, args, cfg, session_s: float) -> tuple[dict, dict]:
    """Checked pass, warm-up and timed passes; returns (result, record)."""
    import procstat
    run = Run(ops, args.seed)
    # the checked pass is the first, coldest warm-up pass
    warm = [run.checked_pass()]
    warm += [run.timed_pass()["wall_s"] for _ in range(cfg["warmup"])]
    setup_s = _age_s()

    tracer = None
    if args.trace:
        import layers
        tracer = run.tracer = layers.Tracer(spark)
        tracer.install()
    passes = []
    with procstat.PeakRss() as rss:
        t_run = time.perf_counter()
        # whole passes until --seconds have elapsed
        while time.perf_counter() - t_run < args.seconds:
            if tracer:
                tracer.begin_pass()
            cpu0, host0 = procstat.tree_cpu_s(), procstat.host_ticks()
            p = run.timed_pass()
            p["cpu_s"] = procstat.tree_cpu_s() - cpu0
            host = [b - a for a, b in zip(host0, procstat.host_ticks())]
            p["host_steal_share"] = host[7] / max(1, sum(host))
            if tracer:
                p["layers"] = tracer.end_pass()
            passes.append(p)
    if tracer:
        tracer.uninstall()

    # an operation whose checked result was wrong counts as failed in
    # every pass; one that raises is counted where it raises
    attempted = len(ops) * len(passes)
    failed = sum(p["failures"] for p in passes)
    failed += len(passes) * len(set(run.wrong) - run.failed_ops)
    med = lambda k: statistics.median(p[k] for p in passes)  # noqa: E731
    if tracer:
        metrics = tracer.metrics(passes, session_s=session_s,
                                 pass_s=med("wall_s"))
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": med("wall_s"), "unit": "s"},
            "cpu_s": {"value": med("cpu_s"), "unit": "s"},
            "peak_rss_mb": {"value": rss.peak_mb, "unit": "MB"},
        }
    result = {"correct": not run.wrong, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    record = {"warmup_pass_s": warm, "setup_s": setup_s, "wrong": run.wrong,
              "raised": sorted(run.failed_ops), "passes": passes,
              "ops": tracer.op_records if tracer else None, "result": result}
    return result, record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with private_dir() as run_dir:
        import workloads
        if args.workload not in workloads.WORKLOADS:
            ap.error(f"unknown workload {args.workload!r}; choose from "
                     f"{sorted(workloads.WORKLOADS)}")
        t = time.perf_counter()
        inputs = workloads.Inputs(run_dir, args.seed, args.workload)
        inputs_s = time.perf_counter() - t
        t = time.perf_counter()
        with session() as spark:
            session_s = time.perf_counter() - t
            ops = workloads.make_ops(spark, inputs)
            result, record = measure(spark, ops, args, inputs.cfg, session_s)
    record.update(workload=args.workload, seed=args.seed,
                  seconds=args.seconds, trace=args.trace,
                  utc=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                  inputs=inputs.counts, inputs_s=inputs_s, session_s=session_s)
    os.makedirs(RECORDS, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    name = f"{stamp}_{args.workload}_seed{args.seed}_trace{args.trace}_{os.getpid()}.json"
    with open(os.path.join(RECORDS, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
