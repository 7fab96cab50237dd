"""SparkSession factory tuned for both local testing and cluster scale.

Every knob here is chosen for the 100 TB posture (SURVEY.md §7 step 8):
AQE on (runtime partition coalescing + skew-join splitting), broadcast
threshold explicit, Arrow enabled for the few Pandas-UDF operators,
shuffle partitions sized for the local harness but overridable via env.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# the directory holding the etl_migrate_api_spark package
CHECKOUT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Spark's byte-size string (JavaUtils.byteStringAsBytes): digits, then an
# optional unit; a bare number is bytes
_BYTE_SIZE = re.compile(r"[0-9]+(b|kb?|mb?|gb?|tb?|pb?)?")

# Confs the engine's results depend on — all runtime-settable, so they
# can be applied defensively to a session we did not build (the round
# driver passes its own vanilla SparkSession into the query contract;
# without nanosAsLong every events-table read throws PARQUET_TYPE_ILLEGAL,
# and a non-UTC session timezone would shift date_format outputs vs the
# oracle).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Spark's vanilla default is INT96, which writes NO min/max column
    # statistics — every zone-map/segment-prune decision on a timestamp
    # column silently degrades to keep-everything (seen live: the r9
    # driver session failed orders_zonemap_pruned_scan's prune assert
    # with "kept 7 of 7" because its footers had no o_orderdate stats).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply the result-critical runtime confs to an externally-built
    session (idempotent; called from the query registry so every entry
    point is covered regardless of who constructed the session)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this deployment — keep going
    return spark


def get_spark(
    app_name: str = "etl-migrate-api-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local default: ``local[$SPARK_GRAFT_CPUS or *]``. On a real cluster the
    caller passes ``master=None`` and lets spark-submit own it; all confs
    below remain valid at any scale.
    """
    aqe_min = os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION")
    if aqe_min and not _BYTE_SIZE.fullmatch(aqe_min.strip().lower()):
        # Spark parses the value only when a query reads it, far from
        # the setting; fail before any session is built
        raise ValueError(
            f"SPARK_GRAFT_AQE_MIN_PARTITION={aqe_min!r} is not a byte size "
            "(e.g. 65536, 64k, 1m)"
        )
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- heap: Spark's 1g default is a laptop setting; in local mode
        #     the driver JVM IS the executor, so 32 concurrent tasks
        #     share it (measured: sf1 bench OOMs the default heap in the
        #     first text-heavy persist). Applies only when this factory
        #     creates the JVM; a cluster deployment sizes executors via
        #     spark-submit as usual ---
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"),
        )
        # --- adaptive execution: runtime coalescing, skew-join handling ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing (override per-deployment) ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # r15 shipped coalescePartitions.minPartitionSize=64k here to keep
        # core-count parallelism on sub-MB shuffles; the round driver
        # measured it as a fleet-wide regression (8-core bench BEAT the
        # 32-core one: 32-task micro-stages under every small shuffle cost
        # more in scheduling than they buy in parallelism — guide §2.2
        # prescribes fewer, larger reduce partitions). Spark's 1 MB
        # default is back; deployments that really want a floor opt in
        # via SPARK_GRAFT_AQE_MIN_PARTITION.
        # --- broadcast: dims like state-keys / nation / region stay map-side ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- Arrow for the Pandas-UDF slow path (merge fold ref impl, multimodal) ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- parquet scan sizing: ~128 MB splits hold at any SF ---
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- timestamps: testdata carries ns timestamps; Spark has no ns
        #     type, so read them as long and convert in catalog.load ---
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.session.timeZone", "UTC")
        # --- keep UI off in the harness; a real deployment re-enables it ---
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # --- Python workers unpickle UDF / mapInPandas functions by module
        #     reference (e.g. plans/stats_ops.py::_mg_partials), so they
        #     must import this package whatever the driver's cwd; Spark
        #     merges this path with the workers' own PYTHONPATH ---
        .config("spark.executorEnv.PYTHONPATH", CHECKOUT_ROOT)
    )
    if aqe_min:
        builder = builder.config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", aqe_min
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
