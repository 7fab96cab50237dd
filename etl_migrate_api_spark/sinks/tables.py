"""Parquet-backed tables with atomic replace — the test-harness stand-in
for a transactional table format (Delta/Iceberg) or a JDBC sink.

The reference relies on Postgres transactions (X3) and ON CONFLICT
(PH10); Spark's equivalent in a plain-files world is write-new +
atomic-rename. A production deployment swaps these classes for Delta
(`MERGE INTO`, `replaceWhere`) or the JDBC staging-table pattern in
sinks/upsert.py — call sites don't change.

Two flavors:

- ``ParquetTable``: whole-table replace. Fine for small control tables
  (audit log) and as the legacy harness path.
- ``HashBucketedTable``: directory-partitioned by ``pmod(xxhash64(key),
  n_buckets)`` with **bucket-pruned replace** — per-batch write cost
  scales with the batch's key buckets, not the table size. This is the
  plain-files analogue of Delta ``replaceWhere`` and matches the
  reference's touch-only-the-batch's-rows behavior
  (saveToPostgres.js:315-409).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_migrate_api_spark.localdf import local_df


def _footer_max(dirpath: str, cols: tuple[str, ...]) -> dict[str, object]:
    """Per-column max over every parquet file under ``dirpath``, read
    from ROW-GROUP FOOTER STATISTICS only — no data pages are touched,
    no Spark job runs. A column missing stats in any row group (or with
    a non-JSON-serializable max) is omitted: 'unknown' is the safe
    answer for an upper bound."""
    import pyarrow.parquet as pq

    maxes: dict[str, object] = {}
    poisoned: set[str] = set()
    for root, _dirs, files in os.walk(dirpath):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(root, fn))
            for rg in range(md.num_row_groups):
                group = md.row_group(rg)
                for ci in range(group.num_columns):
                    col = group.column(ci)
                    name = col.path_in_schema
                    if name not in cols:
                        continue
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        poisoned.add(name)
                        continue
                    v = st.max
                    prev = maxes.get(name)
                    maxes[name] = v if prev is None or v > prev else prev
    out: dict[str, object] = {}
    for c, v in maxes.items():
        try:
            json.dumps(v)
        except TypeError:
            poisoned.add(c)
    for c in poisoned:
        out[c] = None  # rows exist but their max is unknowable
    for c, v in maxes.items():
        if c not in poisoned:
            out[c] = v
    return out


class ParquetTable:
    """A named parquet directory with read / append / replace.

    Replace is crash-SAFE rather than strictly atomic: a reader sees the
    old table or the new one, and a crash in the rename window is
    repaired on the next ``exists()``/``read()`` (a lone ``.old-*`` dir
    is renamed back). The un-recoverable window is the two ``os.rename``
    calls themselves — microseconds, and a re-run's X2 recovery delete
    makes even that idempotent."""

    #: Max-bound sidecars: an UPPER BOUND on max(col) per tracked column,
    #: underscore-prefixed so Spark's file listing ignores them. The BASE
    #: file is written only by full rewrites (``replace``/``compact`` via
    #: ``_write``) and marks "tracking covers everything in this dir";
    #: incremental writes (append / bucket-pruned upsert) each publish
    #: their OWN uuid-named shard — no read-modify-write anywhere, so
    #: concurrent writers can never clobber each other's bound (a lost
    #: update would UNDER-state the max and let bounded recovery skip
    #: real victims). ``max_bound`` merges base + shards; a full replace
    #: swaps the directory, discarding stale shards with it. Ordering is
    #: overestimate-safe: bounds land before the data they cover becomes
    #: visible, so a crash can only leave a bound that is too high —
    #: which merely disables a short-circuit. Deletes shrink the true
    #: max and leave the bound a stale (still valid) overestimate.
    MAXBOUND_FILE = "_maxbound.json"
    MAXBOUND_SHARD_GLOB = "_maxbound-*.json"

    def __init__(
        self, spark: SparkSession, path: str, track_max: tuple[str, ...] = ()
    ):
        self.spark = spark
        self.path = path
        self.track_max = tuple(track_max)

    # -- max-bound sidecar -------------------------------------------------
    def max_bound(self, col: str):
        """Upper bound on max(col) over the table, or None when unknown.
        Unknown when: the base sidecar is absent (untracked column, a
        table predating tracking, or one never fully rewritten while
        tracked — a shard alone can't vouch for pre-existing rows), any
        record poisons the column to null (footer stats unavailable), or
        a sidecar is unreadable. ``delete_beyond_watermark`` uses this
        to skip the victim scan when the watermark covers the table."""
        self._recover()
        base = os.path.join(self.path, self.MAXBOUND_FILE)
        if not os.path.exists(base):
            return None
        vals = []
        for p in [base, *glob.glob(os.path.join(glob.escape(self.path), self.MAXBOUND_SHARD_GLOB))]:
            try:
                with open(p) as f:
                    rec = json.load(f)
            except (OSError, ValueError):
                return None  # torn/unreadable record — unknown is safe
            if col in rec:
                if rec[col] is None:
                    return None  # poisoned: stats were unavailable
                vals.append(rec[col])
        return max(vals) if vals else None

    def _write_bounds(self, dirpath: str, bounds: dict[str, object]) -> None:
        """The BASE sidecar (full-rewrite path) — atomic tmp+rename."""
        tmp = os.path.join(dirpath, f".{self.MAXBOUND_FILE}.tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            json.dump(bounds, f)
        os.replace(tmp, os.path.join(dirpath, self.MAXBOUND_FILE))

    def _publish_bound_shard(self, bounds: dict[str, object]) -> None:
        """Publish one incremental writer's bounds as a NEW uuid shard —
        lock-free (no read of other writers' records, nothing to lose in
        a race). Empty bounds publish nothing: an empty batch cannot
        raise the true max. Shards accumulate one file per incremental
        write until the next full replace/compact sweeps them."""
        if not self.track_max or not bounds:
            return
        os.makedirs(self.path, exist_ok=True)
        name = f"_maxbound-{uuid.uuid4().hex[:8]}.json"
        tmp = os.path.join(self.path, f".{name}.tmp")
        with open(tmp, "w") as f:
            json.dump(bounds, f)
        os.replace(tmp, os.path.join(self.path, name))
        self._merge_bound_shards()

    #: Fold shards into one record once this many accumulate. Without a
    #: bound, an append-only table grows one sidecar file per micro-batch
    #: forever — at 100k batches, max_bound() pays a 100k-file listing +
    #: parse on every recovery check.
    MAXBOUND_MERGE_THRESHOLD = 16

    def _merge_bound_shards(self) -> None:
        """Bound the shard count: past the threshold, fold the current
        shards into ONE merged shard and delete exactly the files that
        were folded in. Lock-free and crash-safe by ordering: the merged
        record is published (atomic tmp+rename) BEFORE any source is
        deleted, so every intermediate state holds redundant — never
        missing — bounds. Concurrent publishers are untouched (a shard
        that appears after the glob is not in the fold set, so it is
        never deleted); two concurrent mergers produce two valid merged
        records and tolerate each other's deletes."""
        shards = glob.glob(os.path.join(glob.escape(self.path), self.MAXBOUND_SHARD_GLOB))
        if len(shards) < self.MAXBOUND_MERGE_THRESHOLD:
            return
        merged: dict[str, object] = {}
        folded: list[str] = []
        for p in shards:
            try:
                with open(p) as f:
                    rec = json.load(f)
            except (OSError, ValueError):
                continue  # unreadable: leave in place; max_bound handles it
            for c, v in rec.items():
                if v is None or merged.get(c, v) is None:
                    merged[c] = None  # a poisoned column stays poisoned
                elif c in merged:
                    merged[c] = max(merged[c], v)
                else:
                    merged[c] = v
            folded.append(p)
        if len(folded) < 2:
            return
        name = f"_maxbound-{uuid.uuid4().hex[:8]}.json"
        tmp = os.path.join(self.path, f".{name}.tmp")
        with open(tmp, "w") as f:
            json.dump(merged, f)
        os.replace(tmp, os.path.join(self.path, name))
        for p in folded:
            try:
                os.remove(p)
            except OSError:
                pass  # a racing merger got it first — already gone

    # -- crash recovery ----------------------------------------------------
    def _recover(self) -> None:
        """If a crash between the two renames in ``replace`` left the
        table path missing with data stranded in a ``.old-*`` dir,
        restore the old table instead of silently reporting 'empty'."""
        if os.path.exists(self.path):
            return
        olds = glob.glob(glob.escape(self.path) + ".old-*")
        if olds:
            # multiple .old-* dirs are possible after a silently-failed
            # rmtree (ignore_errors); uuid order is arbitrary, so pick
            # the NEWEST snapshot — restoring an older one would
            # resurrect stale data and delete the newer state
            olds.sort(key=os.path.getmtime, reverse=True)
            os.rename(olds[0], self.path)
            for leftover in olds[1:]:
                shutil.rmtree(leftover, ignore_errors=True)

    def _has_parquet(self) -> bool:
        return os.path.isdir(self.path) and any(
            f.endswith(".parquet") for f in os.listdir(self.path)
        )

    def exists(self) -> bool:
        self._recover()
        return self._has_parquet()

    def read(self) -> DataFrame:
        self._recover()
        return self.spark.read.parquet(self.path)

    def read_or_empty(self, schema) -> DataFrame:
        if self.exists():
            return self.read()
        return local_df(self.spark, [], schema)

    def _append_bump(self, df: DataFrame) -> DataFrame:
        """Bound maintenance for append paths: snapshot the batch
        (localCheckpoint — the agg and the write must see the SAME rows;
        two separate evaluations of a nondeterministic source could
        write rows above the bound the agg saw), then publish the shard
        BEFORE the write so a crash in between leaves an overestimate.
        A max of None (empty batch / all-NULL column) is dropped, not
        recorded: no rows were added that could raise the true max, and
        NULL values can never satisfy a ``col > wm`` predicate — the
        existing bound stays valid."""
        df = df.localCheckpoint(eager=True)
        row = df.agg(*[F.max(c).alias(c) for c in self.track_max]).collect()[0]
        bounds: dict[str, object] = {}
        for c, v in row.asDict().items():
            if v is None:
                continue  # empty batch / all-NULL: existing bound stays valid
            try:
                json.dumps(v)
            except TypeError:
                # timestamp/date/decimal maxes aren't JSON scalars — POISON
                # the column (null => max_bound unknown => full scan), the
                # same direction _footer_max takes; silently dropping the
                # record would UNDER-state a growing max and let bounded
                # recovery skip real victims
                bounds[c] = None
            else:
                bounds[c] = v
        self._publish_bound_shard(bounds)
        return df

    def append(self, df: DataFrame) -> None:
        # recover FIRST: appending to a path a crashed replace() left
        # missing would recreate the table with only the new batch and
        # permanently strand the .old-* snapshot (every later _recover
        # would see the path exists and skip restoration)
        self._recover()
        if self.track_max:
            df = self._append_bump(df)
        df.write.mode("append").parquet(self.path)

    def _write(self, df: DataFrame, path: str) -> None:
        df.write.mode("overwrite").parquet(path)
        if self.track_max:
            # fresh exact stats from the just-written files' footers
            # (metadata-only, no extra scan); becomes visible with the
            # same rename that publishes the data
            self._write_bounds(path, _footer_max(path, self.track_max))

    def compact(self) -> int:
        """Rewrite the table as one compacted copy and return the file
        count before compaction. Append-only tables (the audit log)
        accumulate one small file per append — at 100k micro-batches
        that's 100k-file read amplification; run this periodically (the
        plain-files analogue of Delta OPTIMIZE). Safe concurrent with
        readers (same swap as ``replace``)."""
        if not self.exists():
            return 0
        n_files = sum(
            1
            for _root, _dirs, files in os.walk(self.path)
            for f in files
            if f.endswith(".parquet")
        )
        self.replace(self.read())
        return n_files

    def replace(self, df: DataFrame) -> None:
        """Overwrite via write-to-scratch + rename swap. Readers see the
        old or the new table; a crash mid-swap is repaired by
        ``_recover`` (X3 analogue, key to idempotent re-runs X2)."""
        tmp = f"{self.path}.tmp-{uuid.uuid4().hex[:8]}"
        old = f"{self.path}.old-{uuid.uuid4().hex[:8]}"
        self._write(df, tmp)
        if os.path.exists(self.path):
            os.rename(self.path, old)
        os.rename(tmp, self.path)
        if os.path.exists(old):
            shutil.rmtree(old, ignore_errors=True)


class HashBucketedTable(ParquetTable):
    """Parquet table directory-partitioned on a stable key hash with
    partition-pruned replace.

    Layout: ``path/_bucket=N/part-*.parquet`` where
    ``_bucket = pmod(xxhash64(key), n_buckets)``. ``replace_buckets``
    rewrites ONLY the bucket directories named — untouched buckets'
    files are not read, not rewritten, not even listed by the write.
    Every write leaves one file per bucket directory it writes.

    A batch rewrites every bucket one of its keys hashes to, so pruning
    only pays when a batch's keys cover few buckets: a 1,000-key batch
    over 16 buckets touches all 16 and rewrites the whole table. At
    100 TB, size ``n_buckets`` so a bucket ≈ a few GB (e.g. 4096); a
    micro-batch then rewrites at most |batch keys| buckets, not the
    table.
    On Delta/Iceberg the same call site becomes
    ``MERGE INTO``/``replaceWhere`` — semantics identical.
    """

    BUCKET_COL = "_bucket"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str,
        n_buckets: int = 32,
        track_max: tuple[str, ...] = (),
    ):
        super().__init__(spark, path, track_max=track_max)
        self.key = key
        self.n_buckets = n_buckets

    def bucket_expr(self) -> Column:
        return F.pmod(F.xxhash64(F.col(self.key)), F.lit(self.n_buckets)).cast("int")

    def _recover(self) -> None:
        """On top of the whole-table recovery: restore any bucket dir
        stranded mid-swap by a crash in ``replace_buckets`` (renamed to
        ``path.bucketold-N-*`` but never replaced). Restoring is always
        the safe direction — it can only re-expose rows a crashed
        delete targeted, and the X2 recovery re-run re-deletes those."""
        super()._recover()
        by_bucket: dict[str, list[str]] = {}
        for trash in glob.glob(glob.escape(self.path) + ".bucketold-*"):
            b = os.path.basename(trash).split("bucketold-", 1)[1].split("-", 1)[0]
            by_bucket.setdefault(b, []).append(trash)
        for b, trashes in by_bucket.items():
            # multiple snapshots of one bucket are possible after a
            # silently-failed rmtree: restore the NEWEST (same rule as
            # the base _recover — an older one would resurrect stale
            # rows and delete the newer state), drop the rest
            trashes.sort(key=os.path.getmtime, reverse=True)
            dst = os.path.join(self.path, f"{self.BUCKET_COL}={b}")
            if not os.path.isdir(dst):
                os.rename(trashes[0], dst)
                trashes = trashes[1:]
            for leftover in trashes:
                shutil.rmtree(leftover, ignore_errors=True)

    def _has_parquet(self) -> bool:
        if not os.path.isdir(self.path):
            return False
        if glob.glob(os.path.join(glob.escape(self.path), "_bucket=*", "*.parquet")):
            return True
        if glob.glob(os.path.join(glob.escape(self.path), "*.parquet")):
            # refuse to silently treat (and later clobber) a legacy
            # flat-layout table as empty — migrate explicitly:
            #   HashBucketedTable(...).replace(ParquetTable(...).read())
            raise ValueError(
                f"{self.path} holds a non-bucketed parquet table; migrate "
                "it explicitly with replace() before bucketed use"
            )
        return False

    def read(self) -> DataFrame:
        """Full read (bucket column stays internal)."""
        self._recover()
        return self.spark.read.parquet(self.path).drop(self.BUCKET_COL)

    def append(self, df: DataFrame) -> None:
        self._recover()  # same stranded-snapshot hazard as the base append
        if self.track_max:
            df = self._append_bump(df)
        self._by_bucket(df).write.mode("append").partitionBy(self.BUCKET_COL).parquet(
            self.path
        )

    def read_buckets(self, buckets: list[int]) -> DataFrame:
        """Partition-pruned read: only the named bucket directories are
        scanned (the filter is on the partition column, so Spark prunes
        at file-listing time, not per-row)."""
        self._recover()
        return (
            self.spark.read.parquet(self.path)
            .where(F.col(self.BUCKET_COL).isin([int(b) for b in buckets]))
            .drop(self.BUCKET_COL)
        )

    def buckets_of(self, df: DataFrame) -> list[int]:
        """Distinct buckets the given rows' keys hash to (≤ n_buckets
        values — a driver-side scalar set, like a watermark read)."""
        return [
            int(r[0])
            for r in df.select(self.bucket_expr().alias("b")).distinct().collect()
        ]

    def _by_bucket(self, df: DataFrame) -> DataFrame:
        """``df`` with its bucket column, hash-partitioned on it so each
        bucket's rows land in one write task: one file per bucket
        directory per write. Without the repartition every write task
        puts a file in every bucket it holds rows of."""
        return df.withColumn(self.BUCKET_COL, self.bucket_expr()).repartition(
            self.BUCKET_COL
        )

    def _write(self, df: DataFrame, path: str) -> None:
        self._by_bucket(df).write.mode("overwrite").partitionBy(self.BUCKET_COL).parquet(path)
        if self.track_max:
            self._write_bounds(path, _footer_max(path, self.track_max))

    def replace_buckets(self, df: DataFrame, buckets: list[int]) -> None:
        """Rewrite ONLY the named bucket dirs with ``df``'s rows (caller
        guarantees df's keys hash into ``buckets``). A bucket with no
        rows in ``df`` is removed — that's how pruned deletes empty a
        bucket. Each bucket swap is a rename pair; a crash mid-swap
        leaves the old bucket in a recoverable ``.bucketold-N-*`` dir
        that ``_recover`` restores on the next read (never data loss),
        and a crash mid-loop leaves a bucket-consistent table that the
        pipeline's X2 recovery delete repairs on re-run."""
        if not os.path.isdir(self.path):
            self.replace(df)
            return
        tmp = f"{self.path}.tmp-{uuid.uuid4().hex[:8]}"
        self._write(df, tmp)
        if self.track_max:
            # publish the new rows' bounds as a shard BEFORE any bucket
            # becomes visible (crash in between = overestimate, safe).
            # tmp's own base sidecar — just computed by _write from the
            # written footers — is the source, so the footers aren't
            # walked a second time; it is then discarded with tmp.
            with open(os.path.join(tmp, self.MAXBOUND_FILE)) as f:
                self._publish_bound_shard(json.load(f))
        try:
            for b in buckets:
                src = os.path.join(tmp, f"{self.BUCKET_COL}={int(b)}")
                dst = os.path.join(self.path, f"{self.BUCKET_COL}={int(b)}")
                # trash lives OUTSIDE the table root (partition discovery
                # must never see it) and names its bucket so _recover can
                # put it back if we die between the two renames
                trash = f"{self.path}.bucketold-{int(b)}-{uuid.uuid4().hex[:8]}"
                if os.path.exists(dst):
                    os.rename(dst, trash)
                if os.path.isdir(src):
                    os.rename(src, dst)
                shutil.rmtree(trash, ignore_errors=True)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
