"""Benchmark entry point.

    python3 perfbench/run.py --workload {build,serve} --seed N --seconds S --trace {0,1}

Run from the repository root. Generates the seeded inputs, runs the
workload against the package's public API, checks the outputs and prints,
as the last line of stdout, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics of a traced
run. A full record of the run (host, versions, every rep, input properties)
is written to ``.perfbench_work/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(REPO_ROOT, ".perfbench_work")
DRIVER_MEM = "1g"
# C1 only: with the default tiered JIT, C2 kept compiling 3-9 CPU-seconds per
# build op for the first ~8 ops, so op times slid down through the window
# and the slide's pace depended on how busy the host was. With C1 alone the
# JVM's CPU per op is flat from the second op on. Spark generates new code
# in every op; the larger code cache gives it room (README: "Why C1 only").
JIT_OPTS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m"
GC_OPTS = "-XX:ParallelGCThreads=4 -XX:ConcGCThreads=2"


def preflight() -> str | None:
    for rel in ("knowledgegraphbuilder_spark/__init__.py", "tests/oracle_serial.py"):
        if not os.path.exists(os.path.join(REPO_ROOT, rel)):
            return f"missing {rel}: run from a full checkout of the repository"
    return None


def pin_environment(work: str) -> None:
    """Everything the run writes stays under ``work``; the JVM heap is capped
    well below the host's memory. Must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["KG_SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["KG_SPARK_JAVA_OPTS"] = f"{JIT_OPTS} {GC_OPTS} -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, REPO_ROOT)


def git_sha() -> str | None:
    if not os.path.isdir(os.path.join(REPO_ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", REPO_ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() or None


def shutdown() -> list[int]:
    """Stop Spark, end the JVM, and wait for every process the run started
    (JVM, Python worker daemon and workers). Returns any still alive."""
    import procstat
    from pyspark import SparkContext

    pids = [p for p in procstat.tree_pids() if p != os.getpid()]
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    left = procstat.wait_gone(pids, 30)
    for p in left:
        try:
            os.kill(p, 9)
        except OSError:
            pass
    return procstat.wait_gone(left, 10)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("build", "serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    problem = preflight()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(WORK_ROOT, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)

    import corpus
    import eventlog
    import procstat
    import report
    import workloads

    stat0, load0, t_run = procstat.cpu_times(), procstat.loadavg(), time.time()
    inputs = corpus.generate(workloads.SPECS[args.workload], args.seed)
    try:
        with procstat.PeakRss() as rss:
            result = workloads.run_workload(
                args.workload, inputs, args.seconds, work, bool(args.trace)
            )
            from pyspark import SparkContext

            sc = SparkContext._active_spark_context
            versions = {
                "spark": sc.version,
                "java": sc._jvm.java.lang.System.getProperty("java.version"),
                "python": platform.python_version(),
            }
        leftover = shutdown()
    except Exception:
        traceback.print_exc()
        if "pyspark" in sys.modules:
            shutdown()
        return 1

    if args.trace:
        groups = eventlog.fold(os.path.join(work, "eventlog"))
        values = report.layer_metrics(result.tour, groups, result.window)
        units = report.layer_units()
    else:
        values = report.e2e_metrics(result.setup_s, result.window, rss.peak_mb)
        units = report.E2E_UNITS
    failures = result.failures + [f"process {p} still alive after shutdown" for p in leftover]

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": {
            "nproc": os.cpu_count(),
            "parallelism": workloads.PARALLELISM,
            "driver_mem": DRIVER_MEM,
            "git_sha": git_sha(),
            **versions,
            "steal_pct": procstat.steal_pct(stat0, procstat.cpu_times()),
            "loadavg_start": load0,
            "loadavg_end": procstat.loadavg(),
            "run_wall_s": time.time() - t_run,
        },
        "inputs": inputs.properties(),
        "graph": result.info,
        "reps": {
            "setup_s": result.setup_s,
            "session_start_s": result.session_start_s,
            "op_wall_s": result.window.wall_s,
            "op_cpu_s": result.window.cpu_s,
            "op_steal_pct": result.window.steal_pct,
        },
        "peak_rss_mb": rss.peak_mb,
        "metrics": values,
        "failures": failures,
    }
    if args.workload == "serve":
        from knowledgegraphbuilder_spark.operators.retrieval import (
            _PPR_SMALL_GRAPH_THRESHOLD as threshold,
        )

        record["graph"]["ppr_small_graph_threshold"] = threshold
        record["graph"]["ppr_path"] = "driver" if result.info["edges"] < threshold else "distributed"
    os.makedirs(os.path.join(WORK_ROOT, "results"), exist_ok=True)
    with open(os.path.join(WORK_ROOT, "results", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    for msg in failures:
        print(f"FAILED {msg}")
    summary = {k: round(v, 4) for k, v in values.items()} if not args.trace else {}
    print(f"{tag}: ops={len(result.window.wall_s)} {json.dumps(summary)} "
          f"info={json.dumps(result.info)}")
    print(json.dumps({
        "correct": not failures,
        "attempted": result.attempted,
        "failed": min(len(failures), result.attempted),
        "metrics": report.with_units(values, units),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
