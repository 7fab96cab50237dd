"""Benchmark of the engine: one run of one workload.

    python3 perfbench/run.py --workload llm_dedup --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Every run starts its own Spark session
(fixed settings below), warms up, measures whole rounds of the workload's
operations for ``--seconds``, checks the outputs against references that
do not come from the engine, stops every process it started and prints one
JSON object as the last line of stdout:

    {"correct": true, "attempted": 14, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, ``--trace 1``
the per-layer metrics, from a run with Spark's event log and layer spans on.
Files go under ``perfbench/.work`` (removed at the end of the run) and the
last traced run's event log under ``perfbench/.trace``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("llm_dedup", "contact_incremental")


def _settings(work: str) -> None:
    """Fix every setting the engine reads, the same on every run."""
    cpus = min(4, len(os.sched_getaffinity(0)))
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM="4g",
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        TZ="UTC",  # timestamps round-trip the same on every host
    )
    time.tzset()
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    sys.path.insert(0, ROOT)


def _stop(spark) -> None:
    """Stop the session, the JVM behind it and the JVM's Python workers,
    and wait until each has ended."""
    from pyspark import SparkContext

    import tracing

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 — interrupted mid-call: still end the JVM
        pass
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — already closed
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while tracing.descendants() and time.time() < deadline:
        time.sleep(0.1)
    for pid in tracing.descendants():
        try:
            os.kill(pid, 9)
            os.waitpid(pid, 0)
        except OSError:
            pass


def main() -> int:
    import tracing

    started = tracing.process_start_epoch()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "etl_migrate_api_spark", "session.py")):
        print(f"perfbench: no engine under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(BENCH, ".work", f"{args.workload}-{os.getpid()}")
    _settings(work)
    # a terminated run still stops the JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    trace_dir = os.path.join(BENCH, ".trace")
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata files in the system temp directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        os.makedirs(trace_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + trace_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )

    import workloads
    from etl_migrate_api_spark.session import get_spark

    spark = None
    try:
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        run = workloads.Run(spark, args, started, work)
        getattr(workloads, args.workload)(run)
        app_id = spark.sparkContext.applicationId
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        log = os.path.join(trace_dir, app_id)
        run.event_groups = tracing.parse_event_log(log)
        os.replace(log, os.path.join(trace_dir, f"{args.workload}.eventlog"))
        # the same figures as an untraced run, to show the tracing overhead
        print("perfbench: end-to-end while traced: " + json.dumps(run.end_to_end()))
    values = run.layer_metrics() if args.trace else run.end_to_end()
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    print(run.jobs_line())
    print(
        json.dumps(
            {
                "correct": not run.problems,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {
                    m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted
                },
            }
        )
    )
    for p in run.problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
