"""Benchmark entry point.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 20 --trace 0

Runs one workload (`corpus` or `live_lake`, see workloads.py) from the
root of a source checkout. The run pins its environment, builds its
inputs from the seed in a private directory under `.perfbench_run/`,
measures for about `--seconds`, checks every result, removes the
directory and stops every process it started.

Standard output ends with two lines:
- `{"report": ...}`: every metric by name with its unit, sample
  counts, set-up parts, correctness findings and the environment;
- the result object `{"correct", "attempted", "failed", "metrics"}`,
  whose metrics are BENCHMARK.json's `end_to_end` set (`--trace 0`) or
  its `per_layer` set (`--trace 1`).
With `--trace 1` the spans and per-op Spark counters are also written
to `.perfbench_out/` for `analyze.py`.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "1g"
JVM_EXIT_TIMEOUT_S = 30


# ---------------------------------------------------------------------------
# environment
# ---------------------------------------------------------------------------
def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return float("nan")


def pin_environment(run_dir: str) -> None:
    """Everything Spark and its Python workers need, set before the
    JVM starts: core count, driver memory below physical RAM, the
    repo on PYTHONPATH (workers import the package by name), and temp
    and local dirs inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # -XX:-UsePerfData, for the driver JVM and spark-submit's launcher
    # JVM: HotSpot writes its perf-counter file under
    # /tmp/hsperfdata_<user>, whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        f"--conf spark.local.dir={local} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.environ.pop("OMP_NUM_THREADS", None)
    sys.path.insert(0, ROOT)


def environment() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_mb": round(mem_total_mb()),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "driver_memory": DRIVER_MEMORY,
    }


class RssSampler(threading.Thread):
    """Peak memory of this process and all its descendants (the JVM
    and its Python workers), sampled from /proc. Each process counts
    its proportional set size, so pages the forked Python workers share
    with their daemon count once, as they do in the group's RSS."""

    def __init__(self, period_s: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _tree(root: int) -> list[int]:
        out, todo = [], [root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            try:
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/children") as f:
                        todo.extend(int(c) for c in f.read().split())
            except OSError:
                continue
        return out

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        total = sum(self._pss_kb(pid) for pid in self._tree(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def run(self) -> None:
        while not self._stop_evt.wait(self.period_s):
            self.sample()

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self.sample()
        return self.peak_kb / 1024


def spark_factory():
    from de_gcp_lakehouse_iceberg_spark.session import get_spark

    spark = get_spark(
        "perfbench", warehouse_dir=os.path.join(os.environ["TMPDIR"], "spark-warehouse"))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the SparkContext, then the JVM this process launched, and
    wait for it to exit (its Python worker daemon goes with it)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=JVM_EXIT_TIMEOUT_S)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _finite(v):
    """JSON has no infinity: a timing pushed to +inf by failed ops is
    reported as null (the run is then marked incorrect anyway)."""
    return v if not isinstance(v, float) or math.isfinite(v) else None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["corpus", "live_lake"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import de_gcp_lakehouse_iceberg_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2

    import report
    import workloads

    run_dir = os.path.join(
        ROOT, ".perfbench_run", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    pin_environment(run_dir)
    load_before = os.getloadavg()
    rss = RssSampler()
    rss.start()
    ctx = workloads.Ctx(spark_factory, args.seed, args.seconds, bool(args.trace), run_dir)
    try:
        getattr(workloads, args.workload)(ctx)
        e2e, e2e_detail = report.end_to_end(ctx, 0.0)
        layers, layer_detail = report.per_layer(ctx) if args.trace else ({}, {})
    finally:
        ctx.close()
        stop_spark()
        peak_rss_mb = rss.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still uses it
    e2e["peak_rss_mb"] = peak_rss_mb

    failed = sum(not r.ok for r in ctx.records)
    correct = failed == 0 and not ctx.checks
    if args.trace and layer_detail["selftime_excess_s"] > 1e-6:
        ctx.checks.append("per-layer self times exceed an op's wall time")
        correct = False
    units = {**report.END_TO_END, **report.REPORT_ONLY, **report.PER_LAYER}
    shown = {**e2e, **layers}
    full = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "metrics": {k: {"value": _finite(v), "unit": units[k]} for k, v in shown.items()},
        "samples": e2e_detail,
        "setup": ctx.setup,
        "extra": ctx.extra,
        "layers": layer_detail,
        "checks": ctx.checks[:5],
        "errors": [r.error for r in ctx.records if not r.ok][:3],
        "env": {**environment(), "loadavg_before": load_before,
                "loadavg_after": os.getloadavg()},
    }
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(
            out_dir, f"trace-{args.workload}-s{args.seed}-{int(time.time())}.json")
        with open(path, "w") as f:
            json.dump({
                "report": full,
                "spans": ctx.tracer.to_json(),
                "ops": [dict(vars(r)) for r in ctx.records],
            }, f, default=str)
        full["trace_file"] = os.path.relpath(path, ROOT)
    print(json.dumps({"report": full}, default=str))

    names = report.PER_LAYER if args.trace else report.END_TO_END
    metrics = {
        k: {"value": _finite(shown[k]), "unit": units[k]} for k in names
    }
    print(json.dumps({
        "correct": correct,
        "attempted": len(ctx.records),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
