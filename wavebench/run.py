"""Benchmark entry point.

    python3 wavebench/run.py --workload interactive_lookup --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout of the repository.  Generates the raw
inputs from the seed, starts a SparkSession, ingests and indexes the
base store through the program, runs the workload for ``--seconds``,
checks every answer against a DuckDB oracle over the raw files, and
prints one ``metric`` line per figure (with its sample count) followed
by a single JSON result line.  ``--trace 1`` reports per-layer figures
instead of end-to-end ones.  Exits 1 if any answer was wrong or any
operation failed, 2 if the program is not importable from the current
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("interactive_lookup", "analytic_scan")
WORK_DIR = ".bench_work"
TRACE_DIR = ".bench_traces"
DEFAULT_DRIVER_MEM = "3g"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "datawave_spark", "__init__.py"))


def _host_facts(spark) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "pyspark": __import__("pyspark").__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version"),
        "python": platform.python_version(),
    }


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _parse(argv)
    if not _program_present():
        print("wavebench: run from a checkout of the repository "
              "(datawave_spark/ not found)", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DEFAULT_DRIVER_MEM)
    work = os.path.join(ROOT, WORK_DIR,
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    sys.path[:0] = [ROOT, os.path.dirname(HERE)]

    from wavebench import report, workloads
    session: dict = {}
    try:
        result = workloads.run(
            args.workload, args.seed, args.seconds, bool(args.trace), work,
            int(os.environ["SPARK_GRAFT_CPUS"]), session)
        spark = session["spark"]
        print(f"# wavebench workload={args.workload} seed={args.seed} "
              f"seconds={args.seconds:g} trace={args.trace}")
        print("# host " + json.dumps(_host_facts(spark)))
        if args.trace:
            os.makedirs(os.path.join(ROOT, TRACE_DIR), exist_ok=True)
            result.tracer.dump(os.path.join(
                ROOT, TRACE_DIR, f"{args.workload}-s{args.seed}.jsonl"))
        out = report.render(result, bool(args.trace))
    finally:
        if "spark" in session:
            _stop_spark(session["spark"])
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, WORK_DIR))
        except OSError:
            pass
    for line in out["lines"]:
        print(line)
    print(json.dumps(out["result"]))
    sys.stdout.flush()
    return 0 if out["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
