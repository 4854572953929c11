"""dexspark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload bulk_cow --seed 1 --seconds 15 --trace 0

Run from the repository root. The workloads are ``bulk_cow``,
``trickle_mor`` and ``read_mix`` (see README.md). The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it records the run environment and the sample counts. Outputs
are checked against an oracle after the timed part; a mismatch sets
``correct`` to false and the exit code to 1.

Everything the run writes stays under ``.perfbench_work/`` in the
repository root: the temporary tables (removed at the end), Spark's
local dirs, and ``results/`` with one JSON file per run plus, for a
traced run, its spans.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("bulk_cow", "trickle_mor", "read_mix")


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the smoke test")
    return ap.parse_args(argv)


def source_digest() -> str:
    """sha1 over the engine's sources, for checkouts without git."""
    h = hashlib.sha1()
    for base, dirs, files in os.walk(os.path.join(ROOT, "dexspark")):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(base, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def start_session(work: str, nproc: int):
    """Spark pinned for the benchmark: local[nproc], one CPU per task,
    all temporary files inside the work dir."""
    from dexspark.session import get_spark

    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM, including spark-submit's launcher: temp files in the work
    # dir, no hsperfdata files under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    spark = get_spark(
        "perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.task.cpus": "1",
            "spark.driver.memory": "3g",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": "-Xms3g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "dexspark", "__init__.py")):
        print(f"perfbench: no dexspark package under {ROOT}; run from a "
              "repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import pyspark

    from spans import Tracer
    import report
    from workloads import WORKLOADS, Bench

    nproc = len(os.sched_getaffinity(0))  # what `nproc` prints
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = {
        "git_sha": git_sha(),
        "source_sha1": source_digest(),
        "nproc": nproc,
        "loadavg_start": os.getloadavg(),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "seed": args.seed,
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": args.size,
        "master": f"local[{nproc}]",
        "task_cpus": 1,
    }

    t0 = time.perf_counter()
    spark = start_session(work, nproc)
    session_s = time.perf_counter() - t0
    try:
        env["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        tracer = Tracer()
        bench = Bench(spark, work, args.seed, args.seconds, args.size, tracer,
                      bool(args.trace))
        try:
            rec = WORKLOADS[args.workload](bench)
        finally:
            bench.stop_tracing()
        rss = peak_rss_mb(spark)
        e2e, samples = report.end_to_end(rec, session_s + rec.prepare_s)
        layers = None
        if args.trace:
            layers = report.per_layer(rec, tracer, args.workload)
            # peak RSS does not repeat within a tenth from run to run, so
            # it is reported here rather than as an end-to-end metric
            layers["driver.peak_rss_mb"] = (rss, "MB")
            layers["trace.overhead_s"] = (report.tracing_overhead(rec), "s")
            layers["trace.unresolved_parents"] = (
                float(len(tracer.unresolved_parents())), "count")
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    env["loadavg_end"] = os.getloadavg()

    attempted = len(rec.ops) + sum(u["triggers"] for u in rec.units)
    correct = all(rec.checks.values()) and rec.failed_ops == 0
    failed = rec.failed_ops + sum(not ok for ok in rec.checks.values())
    chosen = layers if args.trace else e2e
    result = {
        "correct": correct,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }
    detail = {
        "env": env,
        "setup": {"session_s": session_s, "prepare_s": rec.prepare_s},
        "driver_peak_rss_mb": rss,
        "samples": samples,
        "trigger_cycles_s": rec.cycles,
        "unit_walls_s": rec.unit_walls,
        "op_s": {kind: report.op_times(rec, kind) for kind in ("lookup", "count", "scan")},
        "checks": rec.checks,
        "info": rec.info,
        "end_to_end": {k: v for k, (v, _u) in e2e.items()},
    }
    if args.trace:
        detail["moves"] = {k: report.MOVES.get(k, []) for k in layers}
    stem = os.path.join(
        results, f"{args.workload}-{args.size}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump({**detail, "result": result}, fh, indent=1, default=str)
    if args.trace:
        with open(stem + ".spans.json", "w") as fh:
            json.dump([s.__dict__ for s in tracer.spans], fh)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
