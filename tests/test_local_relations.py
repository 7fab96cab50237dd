"""Driver-built rows as JVM-local relations.

``localdf.local_df`` must give exactly the rows of
``createDataFrame(rows, schema)`` — including driver-local naive
timestamps and type errors — while planning a ``LocalTableScan`` that
no Python worker ever scans. The contact job's page and audit-log rows
go through it. ``session.get_spark`` rejects a malformed
``SPARK_GRAFT_AQE_MIN_PARTITION`` before any session is built.
"""

from __future__ import annotations

import datetime as dt
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from etl_migrate_api_spark.localdf import local_df
from etl_migrate_api_spark.pipelines.contact_job import ContactEtlJob
from etl_migrate_api_spark.sources.http_cursor import CursorSource

SCHEMA = "id bigint, s string, d date, ts timestamp, tags array<string>"
FIELDS = ["id", "s", "d", "ts", "tags"]
VALUES = [
    (1, "a", dt.date(2024, 2, 29), dt.datetime(2024, 1, 1, 12, 0), ["x", None]),
    (2, "", dt.date(1969, 12, 31), dt.datetime(2024, 1, 1, 12, 0, tzinfo=dt.timezone.utc), []),
    (3, None, None, None, None),
    (None, "z", dt.date(1900, 1, 1), dt.datetime(1999, 12, 31, 23, 59, 59, 999999), ["y"]),
]


@pytest.fixture()
def bangkok_driver(monkeypatch):
    """A non-UTC driver timezone (the session timezone stays UTC)."""
    monkeypatch.setenv("TZ", "Asia/Bangkok")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def _as_strings(df):
    return [tuple(r) for r in df.select([F.col(c).cast("string") for c in df.columns]).collect()]


@pytest.mark.parametrize(
    "shape",
    [
        lambda v: dict(zip(FIELDS, v)),
        tuple,
        lambda v: Row(**dict(zip(FIELDS, v))),
    ],
    ids=["dict", "tuple", "Row"],
)
def test_local_df_equals_row_path(spark, bangkok_driver, shape):
    rows = [shape(v) for v in VALUES]
    got = local_df(spark, rows, SCHEMA)
    want = spark.createDataFrame(rows, SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    # the session-timezone rendering: a naive 12:00 is Bangkok time,
    # i.e. 05:00 UTC, on both paths
    assert _as_strings(got) == _as_strings(want)
    assert ("1", "a", "2024-02-29", "2024-01-01 05:00:00", "[x, null]") in _as_strings(got)


def test_local_df_plans_a_local_table_scan(spark, capsys):
    local_df(spark, [(1, "a")], "k int, v string").explain()
    plan = capsys.readouterr().out
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_local_df_consumes_generators(spark):
    got = local_df(spark, ((i, str(i)) for i in range(3)), "k int, v string")
    assert sorted(tuple(r) for r in got.collect()) == [(0, "0"), (1, "1"), (2, "2")]
    empty = local_df(spark, (r for r in []), "k int, v string")
    assert empty.collect() == [] and empty.columns == ["k", "v"]


@pytest.mark.parametrize(
    "bad",
    [{"k": "1", "v": "a"}, {"k": 1.0, "v": "a"}, {"k": 1, "v": "a", "d": "2024-01-01"}],
    ids=["str-for-int", "float-for-int", "str-for-date"],
)
def test_local_df_rejects_wrong_types(spark, bad):
    with pytest.raises(Exception):
        spark.createDataFrame([bad], "k int, v string, d date").collect()
    with pytest.raises(Exception):
        local_df(spark, [bad], "k int, v string, d date")


PAGE = [
    {"id": 1, "hn_code": "N1", "firstname": "a", "tel_no": "11,22"},
    {"id": 2, "hn_code": "N2", "firstname": "b", "tel_no": "33"},
]
BATCH_SCHEMA = "id bigint, hn_code string, firstname string, tel_no string"


def _fetch(page):
    def fetch(last_id, limit):
        rows = page if last_id == 0 else []
        return {"data": rows, "count": len(rows)}

    return fetch


def test_contact_page_and_log_rows_plan_local(spark, tmp_path, capsys):
    src = CursorSource(spark, _fetch(PAGE), schema=BATCH_SCHEMA, limit=10)
    page, cursor = next(src.pages(0))
    assert cursor == 2
    page.explain()
    plan = capsys.readouterr().out
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan

    job = ContactEtlJob(spark, src, str(tmp_path))
    logged = []
    job.log.append = logged.append  # capture the audit-log rows unwritten
    job._append_log(id=1, status="running", started_at=dt.datetime.now(dt.timezone.utc))
    (row_df,) = logged
    row_df.explain()
    plan = capsys.readouterr().out
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert row_df.collect()[0]["status"] == "running"


def test_wrongly_typed_record_fails_the_page(spark, tmp_path):
    bad = [dict(PAGE[0]), {**PAGE[1], "id": "2"}]
    src = CursorSource(spark, _fetch(bad), schema=BATCH_SCHEMA, limit=10)
    job = ContactEtlJob(spark, src, str(tmp_path))
    with pytest.raises(Exception, match="id"):
        job.run()
    assert not job.sink.exists() and not job.log.exists()


@pytest.mark.parametrize("value", ["64 kb", "64kib", "1.5m", "-1", "abc"])
def test_aqe_min_partition_validated_before_the_builder(monkeypatch, value):
    from pyspark.sql import SparkSession

    from etl_migrate_api_spark.session import get_spark

    def no_session(*_a, **_k):
        raise AssertionError("a session was requested")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", no_session)
    monkeypatch.setenv("SPARK_GRAFT_AQE_MIN_PARTITION", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_AQE_MIN_PARTITION"):
        get_spark()


@pytest.mark.parametrize("value", ["65536", "64k", "64KB", " 1m ", "2g"])
def test_aqe_min_partition_accepts_byte_sizes(monkeypatch, value):
    from pyspark.sql import SparkSession

    from etl_migrate_api_spark.session import get_spark

    seen = {}

    def capture(builder):
        seen.update(builder._options)
        return "session"

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    monkeypatch.setenv("SPARK_GRAFT_AQE_MIN_PARTITION", value)
    assert get_spark() == "session"
    assert seen["spark.sql.adaptive.coalescePartitions.minPartitionSize"] == value
