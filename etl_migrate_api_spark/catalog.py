"""Table registry over the driver's parquet testdata (TESTDATA.md).

All reads go through :func:`load` so filters/column selections applied by
callers reach the parquet scan (predicate pushdown + column pruning are
preserved — no caching or materialization here).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)


def load(spark: SparkSession, name: str, base_dir: str | None = None) -> DataFrame:
    """Lazy parquet scan of one testdata table.

    ``events.ts`` is stored as TIMESTAMP(NANOS) which Spark has no type
    for; with ``spark.sql.legacy.parquet.nanosAsLong`` it scans as epoch
    nanos (bigint) and we convert to a µs timestamp here (floor division
    — matches DuckDB's ns→µs truncation).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    base = base_dir or sf_dir()
    df = spark.read.parquet(f"{base}/{name}.parquet")
    from pyspark.sql import functions as F

    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer division — double division would lose µs precision at 1e18 ns
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # The driver regenerates testdata between rounds and the physical
    # temporal types have drifted before (nanos-as-long → micros NTZ,
    # round 5). Normalize every TIMESTAMP_NTZ column to a session
    # timestamp: the session TZ is pinned UTC (session.py), so the cast
    # is value-preserving and restores unix_micros()/interval semantics
    # that NTZ columns reject.
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df
