"""HashBucketedTable: partition-pruned upsert/delete semantics.

The 100 TB contract under test: a micro-batch rewrites ONLY the bucket
directories containing its keys — untouched buckets' files stay
byte-identical on disk (not merely value-equal) — and the result equals
the whole-table-replace semantics of the legacy path.
"""

from __future__ import annotations

import glob
import hashlib
import os

import pytest
from pyspark.sql import functions as F

from etl_migrate_api_spark.sinks.tables import HashBucketedTable, ParquetTable
from etl_migrate_api_spark.sinks.upsert import delete_beyond_watermark, upsert_by_key


def _rows(spark, pairs):
    return spark.createDataFrame(pairs, schema="hn_code string, v int")


def _bucket_files(path):
    """{bucket_dir: {relpath: md5}} for every data file in the table."""
    out = {}
    for bdir in glob.glob(os.path.join(path, "_bucket=*")):
        files = {}
        for f in glob.glob(os.path.join(bdir, "*")):
            with open(f, "rb") as fh:
                files[os.path.basename(f)] = hashlib.md5(fh.read()).hexdigest()
        out[os.path.basename(bdir)] = files
    return out


@pytest.fixture()
def table(spark, tmp_path):
    t = HashBucketedTable(spark, str(tmp_path / "t"), key="hn_code", n_buckets=8)
    t.replace(_rows(spark, [(f"k{i}", i) for i in range(64)]))
    return t


def test_upsert_touches_only_batch_buckets(spark, table):
    before = _bucket_files(table.path)
    batch = _rows(spark, [("k3", 300), ("k64", 640)])  # one update, one insert
    touched = set(f"_bucket={b}" for b in table.buckets_of(batch))
    assert touched  # sanity
    upsert_by_key(table, batch, key="hn_code")
    after = _bucket_files(table.path)
    # untouched buckets: same files, byte-identical
    for bdir, files in before.items():
        if bdir not in touched:
            assert after[bdir] == files, f"{bdir} was rewritten"
    # semantics: update applied, insert present, rest intact
    got = {r["hn_code"]: r["v"] for r in table.read().collect()}
    assert got["k3"] == 300 and got["k64"] == 640 and len(got) == 65
    assert got["k5"] == 5


def test_upsert_matches_whole_table_semantics(spark, table, tmp_path):
    legacy = ParquetTable(spark, str(tmp_path / "legacy"))
    legacy.replace(_rows(spark, [(f"k{i}", i) for i in range(64)]))
    batch = _rows(spark, [("k0", -1), ("k99", 99), ("k7", 70)])
    upsert_by_key(table, batch, key="hn_code")
    upsert_by_key(legacy, batch, key="hn_code")
    a = sorted(map(tuple, table.read().collect()))
    b = sorted(map(tuple, legacy.read().collect()))
    assert a == b


def test_pruned_delete_rewrites_only_victim_buckets(spark, table):
    before = _bucket_files(table.path)
    victim_rows = table.read().where(F.col("v") >= 60)
    touched = set(f"_bucket={b}" for b in table.buckets_of(victim_rows))
    removed = delete_beyond_watermark(table, F.col("v") >= 60)
    assert removed == 4
    after = _bucket_files(table.path)
    for bdir, files in before.items():
        if bdir not in touched:
            assert after[bdir] == files, f"{bdir} was rewritten"
    assert table.read().count() == 60


def test_delete_can_empty_a_bucket(spark, tmp_path):
    t = HashBucketedTable(spark, str(tmp_path / "t2"), key="hn_code", n_buckets=8)
    t.replace(_rows(spark, [("a", 1), ("b", 2)]))
    removed = delete_beyond_watermark(t, F.lit(True))
    assert removed == 2
    # emptied buckets' dirs are gone; table still readable as empty/absent
    assert not t.exists() or t.read().count() == 0


def test_compact_append_only_log(spark, tmp_path):
    """Repeated appends accumulate files; compact() collapses them and
    preserves every row (the audit-log maintenance path)."""
    t = ParquetTable(spark, str(tmp_path / "log"))
    for i in range(5):
        t.append(_rows(spark, [(f"k{i}", i)]).coalesce(1))
    before = t.compact()
    assert before >= 5
    assert sorted(r["v"] for r in t.read().collect()) == [0, 1, 2, 3, 4]
    after = sum(
        1 for _r, _d, files in __import__("os").walk(t.path)
        for f in files if f.endswith(".parquet")
    )
    assert after < before


def test_bucket_swap_crash_recovery(spark, table):
    """A crash between the two renames of a bucket swap leaves the old
    bucket in path.bucketold-N-*; the next read must restore it rather
    than lose the bucket's rows."""
    before = sorted(map(tuple, table.read().collect()))
    bdir = os.path.join(table.path, "_bucket=3")
    assert os.path.isdir(bdir)
    os.rename(bdir, f"{table.path}.bucketold-3-deadbeef")  # simulated crash
    after = sorted(map(tuple, table.read().collect()))  # recovery on read
    assert after == before
    assert os.path.isdir(bdir)
    assert not glob.glob(f"{table.path}.bucketold-*")


def test_bucketed_refuses_flat_layout(spark, tmp_path):
    """Pointing a bucketed table at a legacy flat-layout dir must raise,
    not silently report 'empty' and clobber it on the first upsert."""
    legacy = ParquetTable(spark, str(tmp_path / "flat"))
    legacy.replace(_rows(spark, [("a", 1)]))
    bucketed = HashBucketedTable(spark, legacy.path, key="hn_code", n_buckets=8)
    with pytest.raises(ValueError, match="non-bucketed"):
        bucketed.exists()
    # explicit migration path works
    bucketed.replace(legacy.read())
    assert bucketed.exists() and bucketed.read().count() == 1


def test_crash_recovery_restores_old_dir(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t3"))
    t.replace(_rows(spark, [("a", 1)]))
    # simulate a crash between rename(path -> old) and rename(tmp -> path)
    os.rename(t.path, f"{t.path}.old-deadbeef")
    assert t.exists()  # recovery kicked in
    assert t.read().count() == 1


def test_bucketed_read_prunes_partitions(spark, table):
    """read_buckets must plan a partition-pruned scan (PartitionFilters),
    not a post-scan row filter."""
    df = table.read_buckets([0, 1])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "_bucket" in plan.split("PartitionFilters")[1][:200]


def test_compact_bucketed_table(spark, table):
    """compact() on a bucketed table must preserve rows AND the bucketed
    directory layout (partition pruning still works afterwards)."""
    # create small-file accumulation inside buckets
    table.append(_rows(spark, [("k1", 100)]).coalesce(1))
    table.append(_rows(spark, [("k2", 200)]).coalesce(1))
    before_rows = sorted(map(tuple, table.read().collect()))
    n_files = table.compact()
    assert n_files > 8  # more files than buckets before compaction
    assert sorted(map(tuple, table.read().collect())) == before_rows
    # layout preserved: still bucket dirs, still prunable
    assert glob.glob(os.path.join(table.path, "_bucket=*", "*.parquet"))
    plan = table.read_buckets([0])._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


# ---- max-bound sidecar + bounded recovery (X2 at scale) -------------------


def _recid_rows(spark, triples):
    return spark.createDataFrame(
        triples, schema="hn_code string, recid bigint, rectype string"
    )


@pytest.fixture()
def tracked(spark, tmp_path):
    t = HashBucketedTable(
        spark, str(tmp_path / "sink"), key="hn_code", n_buckets=8,
        track_max=("recid",),
    )
    t.replace(
        _recid_rows(spark, [(f"k{i}", i, "BIGDATA") for i in range(1, 51)])
    )
    return t


def test_bounded_recovery_on_clean_table_reads_nothing(spark, tracked):
    """The healthy-pipeline case: watermark >= every recid. The sidecar
    bound proves zero victims, so recovery must return 0 WITHOUT reading
    any data file (on a 100 TB sink the unbounded scan would dominate
    the micro-batch)."""
    assert tracked.max_bound("recid") == 50
    before = _bucket_files(tracked.path)

    def boom(*a, **k):  # any table read = the scan we must not pay
        raise AssertionError("bounded recovery read the table")

    tracked.read = boom
    tracked.read_buckets = boom
    removed = delete_beyond_watermark(
        tracked,
        (F.col("recid") > 50) & (F.col("rectype") == "BIGDATA"),
        bound=("recid", 50),
    )
    assert removed == 0
    assert _bucket_files(tracked.path) == before  # byte-identical


def test_bounded_recovery_still_deletes_real_victims(spark, tracked):
    """wm below the bound -> the normal pruned victim scan runs (X2)."""
    removed = delete_beyond_watermark(
        tracked,
        (F.col("recid") > 40) & (F.col("rectype") == "BIGDATA"),
        bound=("recid", 40),
    )
    assert removed == 10
    assert tracked.read().count() == 40
    # the bound is a stale overestimate after the delete -- still valid
    assert tracked.max_bound("recid") >= 40


def test_upsert_bumps_bound_before_data_visible(spark, tracked):
    upsert_by_key(
        tracked, _recid_rows(spark, [("k3", 300, "BIGDATA")]), key="hn_code"
    )
    assert tracked.max_bound("recid") == 300
    # a second upsert with a LOWER recid must not shrink the bound
    upsert_by_key(
        tracked, _recid_rows(spark, [("k4", 7, "BIGDATA")]), key="hn_code"
    )
    assert tracked.max_bound("recid") == 300


def test_pre_sidecar_table_stays_unknown(spark, tmp_path):
    """A table that predates the sidecar must NOT gain a bound from one
    batch's stats (it would under-state the table max and skip real
    victims); a full replace() heals it with exact stats."""
    plain = HashBucketedTable(
        spark, str(tmp_path / "old"), key="hn_code", n_buckets=8
    )
    plain.replace(_recid_rows(spark, [("a", 999, "BIGDATA")]))
    t = HashBucketedTable(
        spark, str(tmp_path / "old"), key="hn_code", n_buckets=8,
        track_max=("recid",),
    )
    upsert_by_key(t, _recid_rows(spark, [("b", 5, "BIGDATA")]), key="hn_code")
    assert t.max_bound("recid") is None  # unknown, not 5
    # unknown bound -> no short-circuit -> the real scan still works
    removed = delete_beyond_watermark(
        t, F.col("recid") > 10, bound=("recid", 10)
    )
    assert removed == 1
    t.replace(t.read())  # compaction/replace refreshes exact stats
    assert t.max_bound("recid") == 5


def test_append_bumps_bound_on_bucketed_table(spark, tracked):
    """The bucketed append override must keep the max-bound invariant:
    appended rows beyond the bound would otherwise make the recovery
    short-circuit skip real victims."""
    tracked.append(_recid_rows(spark, [("zz", 777, "BIGDATA")]).coalesce(1))
    assert tracked.max_bound("recid") == 777
    removed = delete_beyond_watermark(
        tracked, F.col("recid") > 700, bound=("recid", 700)
    )
    assert removed == 1


def test_empty_append_keeps_bound(spark, tracked):
    """A zero-row micro-batch (the common no-new-data case) must not
    poison the bound to unknown — it adds nothing that could raise the
    true max, and losing the bound re-enables the full recovery scan."""
    tracked.append(
        spark.createDataFrame([], "hn_code string, recid bigint, rectype string")
    )
    assert tracked.max_bound("recid") == 50


def test_concurrent_writer_bounds_never_lost(spark, tracked):
    """The lock-free shard design: interleaved incremental writers each
    publish their own bound record, so no read-modify-write race can
    clobber a higher bound with a lower one (the lost update would make
    bounded recovery skip real victims)."""
    a = _recid_rows(spark, [("wa", 100, "BIGDATA")])
    b = _recid_rows(spark, [("wb", 60, "BIGDATA")])
    # simulate the interleaving that clobbered a RMW sidecar: A's bound
    # lands first, B's (lower) lands second — B must not mask A
    upsert_by_key(tracked, a, key="hn_code")
    upsert_by_key(tracked, b, key="hn_code")
    assert tracked.max_bound("recid") == 100
    # recovery with wm=60 must still find A's rows beyond the watermark
    removed = delete_beyond_watermark(
        tracked, F.col("recid") > 60, bound=("recid", 60)
    )
    assert removed == 1  # the recid=100 row


def test_append_heavy_shard_count_bounded(spark, tracked):
    """Item: sidecar shards must not grow one-file-per-append forever.
    Past MAXBOUND_MERGE_THRESHOLD the table folds shards into one merged
    record and deletes exactly the folded files — with the bound itself
    (and therefore bounded recovery) intact throughout."""
    import glob
    import os

    n = tracked.MAXBOUND_MERGE_THRESHOLD * 2 + 3
    for i in range(n):
        upsert_by_key(
            tracked,
            _recid_rows(spark, [(f"app{i}", 1000 + i, "BIGDATA")]),
            key="hn_code",
        )
        shards = glob.glob(
            os.path.join(tracked.path, tracked.MAXBOUND_SHARD_GLOB)
        )
        assert len(shards) <= tracked.MAXBOUND_MERGE_THRESHOLD, (
            f"shard count {len(shards)} unbounded after {i + 1} appends"
        )
    # the fold preserved the true upper bound across every merge
    assert tracked.max_bound("recid") == 1000 + n - 1
    # and bounded recovery still sees the merged bound
    removed = delete_beyond_watermark(
        tracked, F.col("recid") > 1000, bound=("recid", 1000)
    )
    assert removed == n - 1


def test_merge_preserves_poisoned_column(spark, tmp_path):
    """A shard recording NULL (stats unavailable) for a column poisons
    the bound to unknown; the fold must keep the poison rather than
    dropping the record and silently un-poisoning the column."""
    import glob
    import os

    t = HashBucketedTable(
        spark, str(tmp_path / "poison"), key="hn_code", n_buckets=4,
        track_max=("recid",),
    )
    t.replace(_recid_rows(spark, [("k1", 10, "BIGDATA")]))
    t._publish_bound_shard({"recid": None})  # poisoned record
    for i in range(t.MAXBOUND_MERGE_THRESHOLD + 1):
        t._publish_bound_shard({"recid": 20 + i})
    shards = glob.glob(os.path.join(t.path, t.MAXBOUND_SHARD_GLOB))
    assert len(shards) <= t.MAXBOUND_MERGE_THRESHOLD
    assert t.max_bound("recid") is None  # poison survived the fold


def test_append_after_crashed_replace_restores_first(spark, tmp_path):
    """A crash between replace()'s two renames leaves the table path
    missing and data stranded in .old-*. An append must RECOVER first —
    writing into a recreated path would permanently strand the snapshot
    (later _recover sees the path exists and skips restoration)."""
    import shutil

    path = str(tmp_path / "t_crash")
    t = ParquetTable(spark, path)
    t.replace(spark.range(10).selectExpr("id as k"))
    # simulate the crash window: path renamed away, new never moved in
    os.rename(path, path + ".old-deadbeef")
    t.append(spark.range(100, 103).selectExpr("id as k"))
    got = {r["k"] for r in t.read().collect()}
    assert got == set(range(10)) | {100, 101, 102}


def test_bucketed_append_after_crashed_replace_restores_first(spark, tmp_path):
    path = str(tmp_path / "tb_crash")
    t = HashBucketedTable(spark, path, key="k", n_buckets=4)
    t.replace(spark.range(10).selectExpr("id as k"))
    os.rename(path, path + ".old-deadbeef")
    t.append(spark.range(100, 103).selectExpr("id as k"))
    got = {r["k"] for r in t.read().collect()}
    assert got == set(range(10)) | {100, 101, 102}


def test_recovery_with_glob_metachars_in_path(spark, tmp_path):
    """Paths containing glob metacharacters must still recover (the
    patterns are built with glob.escape — an unescaped '[...]' is a
    character class that matches nothing and silently skips
    restoration)."""
    base = tmp_path / "run[2026-08]"
    base.mkdir()
    path = str(base / "sink")
    t = ParquetTable(spark, path)
    # Spark/Hadoop cannot READ such a path at all (Hadoop treats load
    # paths as glob patterns), so write the files directly and test the
    # os-level recovery mechanics our escaping governs
    os.makedirs(path + ".old-cafebabe")
    with open(os.path.join(path + ".old-cafebabe", "part-0.parquet"), "wb") as f:
        f.write(b"PAR1")
    assert not os.path.exists(path)
    assert t.exists()  # _recover restored through the escaped glob
    assert os.path.isdir(path)
    assert not os.path.exists(path + ".old-cafebabe")


def _files_per_bucket(path):
    return {
        os.path.basename(b): len(glob.glob(os.path.join(b, "*.parquet")))
        for b in glob.glob(os.path.join(path, "_bucket=*"))
    }


def test_every_write_leaves_one_file_per_bucket(spark, table):
    """Each bucket directory a write produces holds exactly one parquet
    file, whatever the input's partitioning (``_rows`` spreads its rows
    over every local slice, so an unrepartitioned write puts a file per
    task in each bucket)."""
    assert set(_files_per_bucket(table.path).values()) == {1}  # replace
    table.replace_buckets(table.read_buckets([0, 1]), [0, 1])
    assert set(_files_per_bucket(table.path).values()) == {1}
    batch = _rows(spark, [(f"k{i}", -i) for i in range(0, 80, 3)])
    upsert_by_key(table, batch, key="hn_code")
    assert set(_files_per_bucket(table.path).values()) == {1}
    assert delete_beyond_watermark(table, F.col("v") >= 50) > 0
    assert set(_files_per_bucket(table.path).values()) == {1}
    assert len(_files_per_bucket(table.path)) == 8
