#!/usr/bin/env python3
"""Benchmark of the Jobcan sync engine: one workload, one seed, one process.

    python3 perfbench/run.py --workload jobcan_sync --seed 1 --seconds 1 --trace 0

Run from the repository root.  The workload runs closed-loop with one
caller on ``local[N]`` (N = min(4, cores)).  ``--seconds`` is the least
time spent repeating the read-only operation of ``curate_lifecycle``
(probe calls); every operation runs at least once.  The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — every end-to-end metric of BENCHMARK.json
with ``--trace 0``, every per-layer metric with ``--trace 1``.  A traced
run also writes its spans to ``.perfbench_out/spans-<workload>-<seed>.jsonl``.
Everything the run writes stays under the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOAD_NAMES = ("jobcan_sync", "curate_lifecycle")


def _environment(work: Path) -> None:
    """Keep the session, its JVM and Python temp files inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_GRAFT_CPUS=str(min(4, os.cpu_count() or 1)),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LAUNCHER_OPTS=java_opts,
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                f"--conf spark.sql.warehouse.dir={shlex.quote(str(work / 'warehouse'))}",
                f"--driver-java-options {shlex.quote(java_opts)}",
                "pyspark-shell",
            ]
        ),
    )
    tempfile.tempdir = None
    sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "tests")]


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text(encoding="utf-8"))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    try:
        from jobcan_data_integrator_spark.session import get_spark
        from tracing import Tracer
        from workloads import WORKLOADS, Run, end_to_end, per_layer

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        try:
            tracer = Tracer() if args.trace else None
            run = Run(spark, work, args.seed, args.seconds, tracer)
            WORKLOADS[args.workload](run)
            rss_mb = _peak_rss_mb(spark)
        finally:
            _stop(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run's work directory is still there

    if args.trace:
        spans = ROOT / ".perfbench_out" / f"spans-{args.workload}-{args.seed}.jsonl"
        tracer.write(spans)
        print(f"[perfbench] spans written to {spans}", file=sys.stderr)
        values, wanted = per_layer(run), spec["per_layer"]
    else:
        values, wanted = end_to_end(run, session_s, rss_mb), spec["end_to_end"]
    print(f"[perfbench] session start {session_s:.3f}s", file=sys.stderr)
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            },
            ensure_ascii=False,
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
