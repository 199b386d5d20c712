#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_csv --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository. One fresh process
per run: it sets ``SPARK_GRAFT_CPUS`` to the usable cpu count and
``SPARK_LOCAL_DIRS`` to a directory inside the checkout, overrides no
other setting, starts a session through ``session.get_spark``,
prepares the workload's input, measures for ``--seconds``, checks the
outputs untimed and stops the JVM. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Lines before it give the provenance and a
readable report. Without the package next to ``perfbench/`` the import
fails and the run exits non-zero without a result.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPEATS = 3


def _median(xs):
    xs = sorted(xs)
    n = len(xs)
    return (xs[(n - 1) // 2] + xs[n // 2]) / 2


def seconds_since_process_start() -> float:
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_ticks() -> tuple[int, int, int]:
    """The machine's CPU time from ``/proc/stat``: total, idle + iowait,
    and steal (time a virtual machine's cpus waited for the host)."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:9]]
    return sum(vals), vals[3] + vals[4], vals[7]


def busy_cores(seconds: float = 0.5) -> float:
    """Cores kept busy by other processes: the machine's non-idle CPU
    time over a short window in which this process only sleeps."""
    (t0, i0, _), _ = cpu_ticks(), time.sleep(seconds)
    t1, i1, _ = cpu_ticks()
    return (1 - (i1 - i0) / max(1, t1 - t0)) * len(os.sched_getaffinity(0))


def commit() -> str:
    head = ROOT / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            return (ROOT / ".git" / ref[5:]).read_text().strip()
        return ref
    except OSError:
        return "unknown"


class Context:
    """What a workload needs from the harness."""

    def __init__(self, args, spark, tracer, work: Path):
        self.seed = args.seed
        self.spark, self.tracer = spark, tracer
        self.work = work
        self.timings: dict[str, list[float]] = {}
        self.leaked_rdds = 0

    def span(self, name):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def count_leaked_rdds(self):
        if self.tracer is not None:
            from b2b_data_pipeline_indiamart_spark.operators import caching

            n = len(caching.persistent_rdd_ids(self.spark))
            self.leaked_rdds = max(self.leaked_rdds, n)

    @staticmethod
    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def stop_jvm(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_proc = time.perf_counter() - seconds_since_process_start()

    load_before = os.getloadavg()[0]
    ticks_before = cpu_ticks()
    nproc = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    if args.trace:
        (work / "eventlog").mkdir()
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{work / 'eventlog'} "
            "--conf spark.eventLog.compress=false "
            "--conf spark.eventLog.rolling.enabled=false pyspark-shell"
        )
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        result = run(args, work, nproc, t_proc, load_before, ticks_before)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def run(args, work: Path, nproc: int, t_proc: float, load_before: float, ticks_before) -> dict:
    import duckdb

    from b2b_data_pipeline_indiamart_spark import session

    import workloads
    from spans import Tracer, install

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    tracer = None
    if args.trace:
        tracer = Tracer()
        install(tracer)

    # ---- set-up: process start -> warm session, plus this run's input
    spark = session.get_spark("perfbench")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        if tracer is not None:
            tracer.sc = spark.sparkContext
        spark.range(1000).selectExpr("sum(id)").collect()
        session_s = time.perf_counter() - t_proc
        ctx = Context(args, spark, tracer, work)
        wl = workloads.WORKLOADS[args.workload](ctx)
        prep = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t0)
        setup_s = session_s + _median(prep)

        # ---- timed passes
        t_wall0, t0 = time.time(), time.perf_counter()
        passes = wl.measure(t0 + args.seconds)
        t1, t_wall1 = time.perf_counter(), time.time()

        # ---- untimed checks
        checked, bad = wl.check()
        from pyspark import SparkContext

        rss_mb = vm_hwm_mb(SparkContext._gateway.proc.pid)
        versions = {
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        }
    finally:
        stop_jvm(spark)

    total, _, steal = (a - b for a, b in zip(cpu_ticks(), ticks_before))
    other = busy_cores()  # the JVM has exited: what is left is someone else's load
    ops = [x for p in passes for x in p["ops_ms"]]
    attempted = wl.ops_per_pass * len(passes)
    failed = min(attempted, sum(p["failed"] for p in passes) + len(bad))
    provenance = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc,
        "mem_total_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
        **versions, "python": platform.python_version(), "duckdb": duckdb.__version__,
        "commit": commit(), "load1_before": load_before, "load1_after": os.getloadavg()[0],
        "other_busy_cores": round(other, 2), "steal_pct": round(100 * steal / max(1, total), 1),
        # steal: cpu time the host gave to other machines during the run;
        # 2-8% of it slowed passes by 10-30% on a 4-vCPU virtual machine
        "contended": other >= 1.0 or steal >= 0.02 * total,
    }
    print(json.dumps({"provenance": provenance}))
    for msg in bad:
        Context.log(f"check failed: {msg}")

    if args.trace:
        import layers

        metrics = layers.per_layer(
            tracer, work / "eventlog", wl, ctx, passes, (t0, t1), (t_wall0, t_wall1), nproc
        )
        metrics["jvm.peak_rss_mb"] = (rss_mb, "MB")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (_median([p["wall_s"] for p in passes]), "s"),
        }
    report = {
        "passes": len(passes), "ops": len(ops), "ops_ms": [round(x, 1) for x in ops],
        "error_rate": failed / attempted,
        "checked_outputs": checked, "jvm_peak_rss_mb": round(rss_mb, 1),
        **{k: round(_median(v), 4) for k, v in ctx.timings.items()},
    }
    print(json.dumps({"report": report}))
    for name, (value, unit) in metrics.items():
        print(f"  {name:<44} {value:>14.6g} {unit}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
