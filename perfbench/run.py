"""Repository benchmark: one closed-loop client driving the engine's public
API through one of two workloads.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the repository root.  Inputs come from ``--seed`` alone; every
op's result is checked against a DuckDB oracle.  The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  The line before it holds the workload's detail figures.
See NOTES.md beside this file for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("ingest", "scan_planning")

# work_per_cpu_s is the work done per CPU second of the whole process
# tree (this process, the Spark JVM, its Python workers).  The wall-clock
# rate and the median op latencies are on the detail line: on a shared
# host they move with how busy the host is (see NOTES.md, "Steadiness")
END_TO_END = {"setup_s": "s", "work_per_cpu_s": "1/cpu_s",
              "space_amp": "ratio"}

PER_LAYER = {
    "session.start_s": "s",
    "catalog.load_table_ms": "ms",
    "meta.metadata_json_bytes": "bytes",
    "meta.read_manifest_list_ms": "ms",
    "meta.read_manifest_ms": "ms",
    "meta.manifests_read": "count",
    "scan.plan_ms": "ms",
    "scan.to_df_ms": "ms",
    "spark.exec_ms": "ms",
    "plans.manifests_skipped_ratio": "ratio",
    "plans.files_skipped_ratio": "ratio",
    "scan.rows_read_per_row_returned": "ratio",
    "scan.layer_coverage": "ratio",
    "write.stage_ms": "ms",
    "write.files_per_append": "count",
    "write.bytes_per_row": "bytes",
    "transaction.commit_ms": "ms",
    "transaction.commit_attempts": "count",
    "dml.delete_ms": "ms",
    "dml.upsert_ms": "ms",
    "dml.delete_files_added": "count",
    "maintenance.retention_ms": "ms",
    "maintenance.compact_ms": "ms",
    "maintenance.rewrite_manifests_ms": "ms",
    "maintenance.expire_ms": "ms",
    "maintenance.bytes_rewritten": "bytes",
    "maintenance.files_before": "count",
    "maintenance.files_after": "count",
    "storage.write_amp": "ratio",
    "trace.overhead_ms": "ms",
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _pin_environment() -> None:
    """Keep Spark small and inside the checkout: at most 2 local cores
    (never more than the machine has), a 2 GB driver, and every scratch
    directory (Spark blocks, JVM and Python temp files) under WORK.

    Two cores, not four: the ops handle a few thousand rows, and on a
    shared 4-vCPU host two task threads were as fast as four or faster in
    every one of six alternating ingest runs.

    The JVM runs its C1 JIT only: a run lasts about a minute, in which
    the C2 compiler never catches up with the classes Spark generates and
    spent about 40% of the process tree's CPU time, competing with the
    ops for the cores.  It collects garbage with the serial collector:
    the heap holds a few MB of live data, and G1's concurrent threads
    made the CPU time of one seed's runs spread twice as wide."""
    cpus = min(2, os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = str(
        min(int(os.environ.get("SPARK_GRAFT_CPUS", cpus)), cpus))
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:TieredStopAtLevel=1 "
                                       "-XX:+UseSerialGC")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    tempfile.tempdir = tmp


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "iceberg_go_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    _pin_environment()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from common import Context, NullTracer, Tracer
    workload = importlib.import_module(f"wl_{args.workload}")

    t0 = time.perf_counter()
    from iceberg_go_spark.session import get_spark
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t0
    ctx = Context(spark=spark, work_dir=WORK, seed=args.seed,
                  seconds=args.seconds,
                  tracer=Tracer() if args.trace else NullTracer(),
                  session_start_s=start_s)
    try:
        workload.run(ctx)
    finally:
        ctx.phase("run")
        _stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
        ctx.phase("teardown")

    log = ctx.log
    if args.trace:
        # a layer the workload does not exercise reads 0
        ctx.layers["session.start_s"] = start_s
        ctx.detail["layers_not_exercised"] = sorted(
            set(PER_LAYER) - set(ctx.layers))
        names = PER_LAYER
        got = {n: ctx.layers.get(n, 0.0) for n in PER_LAYER}
    else:
        names = END_TO_END
        got = ctx.e2e
    # a metric the run could not measure (every op of its kind failed)
    # reads null; the run is then not correct
    missing = [n for n in names if n not in got]
    if missing:
        print(f"workload reported no value for {missing}", file=sys.stderr)
    metrics = {n: {"value": float(got[n]) if n in got else None,
                   "unit": names[n]} for n in names}
    detail = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "failed_ops_ratio": log.failed / max(log.attempted, 1),
              "session_start_s": round(start_s, 4), **ctx.detail}
    print(json.dumps({"detail": detail}, default=str))
    # a run that attempted nothing counts as one failed op
    print(json.dumps({"correct": (log.attempted > 0 and log.failed == 0
                                  and not missing),
                      "attempted": max(log.attempted, 1),
                      "failed": log.failed if log.attempted else 1,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
