"""Kafka-shaped replayable log: a file-backed topic with per-partition
append-only, offset-ordered segments, plus the two consumption shapes
real pipelines use against Kafka (SURVEY.md §2 X1/X2 against a
replayable source — the reference's keyset cursor is a one-way stream;
this adapter supplies the offset-commit contract it never had):

``OffsetLogTopic`` / ``OffsetLogConsumer``
    The consumer API: ``poll()`` returns records plus per-partition
    offset RANGES ``{p: (from, to)}``; ``commit()`` advances the group
    cursor only after the caller's sink committed — crash between sink
    and commit replays the range (at-least-once), and range-keyed
    idempotent sinks upgrade that to exactly-once.

``TransactionalStateSink`` + ``offset_log_fold_loop``
    The Kafka-Streams EOS recipe: consumed offsets are committed IN THE
    SAME atomic swap as the output state (offsets-with-output), so the
    sink itself is the consumer group — a kill -9 anywhere either
    leaves the old (state, offsets) pair intact (the batch replays in
    full) or the new pair (the batch is done); a half-applied batch is
    unobservable. Exercised under a real SIGKILL in
    tests/test_kill9_recovery.py.

``OffsetLogDataSource``
    Structured-Streaming integration via the Spark 4 Python DataSource
    streaming API — ``spark.readStream.format("offset_log")`` with
    Spark's own checkpoint as the offset store. The
    SimpleDataSourceStreamReader contract IS the Kafka source contract:
    ``initialOffset``/``read(start) -> (rows, next)`` plan the batch,
    ``readBetweenOffsets(start, end)`` serves post-crash REPLAY of a
    planned-but-unfinished batch, ``commit(end)`` acknowledges. This
    reader prefetches on the driver (the "simple" API); at 100 TB the
    same layout is read by the partition-planned batch path
    (``read_range`` — executor-parallel with partition pruning on p and
    footer min/max pruning on offset), with one driver task per
    (partition, segment-range) slice.

Topic layout (all appends atomic via tmp-write + rename):

    topic/_meta.json                   {"n_partitions": N}
    topic/p=<k>/seg=<base>/*.parquet   records (offset, key, value, ts)

Offsets are dense per partition: segment dir name = its base offset,
``end_offset = base + rows`` — end-offsets come from a directory
listing plus one footer row-count per LAST segment, never a data scan.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Iterator
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_migrate_api_spark.localdf import local_df

RECORD_SCHEMA = "offset bigint, key string, value string, ts timestamp"


def _atomic_write_json(path: str, obj) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _read_json(path: str):
    with open(path) as f:
        return json.load(f)


class OffsetLogTopic:
    """A file-backed topic. ``append`` is the producer; per-partition
    segment publication is a single directory rename, so a producer
    dying mid-append leaves whole segments or nothing per partition
    (Kafka's per-partition atomicity — there is deliberately no
    cross-partition producer transaction here)."""

    def __init__(
        self, spark: SparkSession, topic_dir: str, n_partitions: int = 4
    ):
        self.spark = spark
        self.dir = topic_dir
        meta_path = os.path.join(topic_dir, "_meta.json")
        if os.path.exists(meta_path):
            self.n_partitions = int(_read_json(meta_path)["n_partitions"])
        else:
            os.makedirs(topic_dir, exist_ok=True)
            self.n_partitions = n_partitions
            _atomic_write_json(meta_path, {"n_partitions": n_partitions})

    # -------------------------------------------------------------- produce

    def append(self, records: DataFrame) -> dict[int, int]:
        """Append ``(key, value, ts)`` rows; partition = hash(key) like
        Kafka's default partitioner, offsets dense per partition.
        Within one append, per-partition order is (key, value, ts) —
        a DataFrame carries no producer order, so the tiebreak makes
        appends deterministic. Returns the new end offsets."""
        ends = self.end_offsets()
        base = local_df(
            self.spark, [(p, ends[p]) for p in range(self.n_partitions)], "p int, base bigint"
        )
        from pyspark.sql import Window

        part = F.pmod(F.xxhash64("key"), F.lit(self.n_partitions)).cast("int")
        w = Window.partitionBy("p").orderBy("key", "value", "ts")
        staged = (
            records.select("key", "value", "ts", part.alias("p"))
            .join(F.broadcast(base), "p")
            .select(
                "p",
                (F.row_number().over(w) - 1 + F.col("base")).alias("offset"),
                "key",
                "value",
                "ts",
            )
        )
        tmp = os.path.join(self.dir, f"_tmp-{uuid.uuid4().hex[:8]}")
        staged.write.partitionBy("p").parquet(tmp)
        new_ends = dict(ends)
        for name in sorted(os.listdir(tmp)):
            if not name.startswith("p="):
                continue
            p = int(name.split("=", 1)[1])
            n_rows = sum(
                _parquet_num_rows(os.path.join(tmp, name, f))
                for f in os.listdir(os.path.join(tmp, name))
                if f.endswith(".parquet")
            )
            if n_rows == 0:
                continue
            pdir = os.path.join(self.dir, name)
            os.makedirs(pdir, exist_ok=True)
            os.rename(
                os.path.join(tmp, name),
                os.path.join(pdir, f"seg={ends[p]}"),
            )
            new_ends[p] = ends[p] + n_rows
        shutil.rmtree(tmp, ignore_errors=True)
        return new_ends

    # -------------------------------------------------------------- consume

    def _segments(self, p: int) -> list[tuple[int, str]]:
        pdir = os.path.join(self.dir, f"p={p}")
        if not os.path.isdir(pdir):
            return []
        segs = [
            (int(name.split("=", 1)[1]), os.path.join(pdir, name))
            for name in os.listdir(pdir)
            if name.startswith("seg=")
        ]
        return sorted(segs)

    def end_offsets(self) -> dict[int, int]:
        """Directory listing + one footer row count for the LAST
        segment per partition — never a data scan (offsets are dense:
        end = last base + last row count)."""
        ends = {}
        for p in range(self.n_partitions):
            segs = self._segments(p)
            if not segs:
                ends[p] = 0
                continue
            base, path = segs[-1]
            rows = sum(
                _parquet_num_rows(os.path.join(path, f))
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
            ends[p] = base + rows
        return ends

    def read_range(
        self, frm: dict[int, int], to: dict[int, int]
    ) -> DataFrame:
        """Records with ``frm[p] <= offset < to[p]`` as an
        executor-parallel scan: partition pruning on p=, segment
        pruning by base offset from the path listing, then parquet
        footer min/max finishes the job on the offset predicate."""
        paths = []
        for p, lo in frm.items():
            hi = to.get(p, lo)
            if hi <= lo:
                continue
            segs = self._segments(p)
            for i, (base, path) in enumerate(segs):
                nxt = segs[i + 1][0] if i + 1 < len(segs) else None
                if (nxt is None or nxt > lo) and base < hi:
                    paths.append(path)
        if not paths:
            return self.spark.createDataFrame([], RECORD_SCHEMA).withColumn(
                "p", F.lit(0).cast("int")
            )
        cond = None
        for p, lo in frm.items():
            hi = to.get(p, lo)
            if hi <= lo:
                continue
            c = (
                (F.col("p") == p)
                & (F.col("offset") >= lo)
                & (F.col("offset") < hi)
            )
            cond = c if cond is None else (cond | c)
        df = self.spark.read.option("basePath", self.dir).parquet(*paths)
        return df.where(cond).select("p", "offset", "key", "value", "ts")


def _parquet_num_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


class OffsetLogConsumer:
    """The plain Kafka consumer contract: ``poll`` → records + ranges,
    ``commit`` advances the group cursor AFTER the caller's sink is
    durable. Crash between the two replays the range — pair with a
    range-keyed idempotent sink for exactly-once, or use
    TransactionalStateSink to put the offsets inside the output
    commit."""

    def __init__(
        self, topic: OffsetLogTopic, group_dir: str,
        max_records_per_partition: Optional[int] = None,
    ):
        self.topic = topic
        self.group_dir = group_dir
        self.max_per_part = max_records_per_partition
        os.makedirs(group_dir, exist_ok=True)

    def committed(self) -> dict[int, int]:
        path = os.path.join(self.group_dir, "committed.json")
        if not os.path.exists(path):
            return {p: 0 for p in range(self.topic.n_partitions)}
        raw = _read_json(path)
        return {int(k): int(v) for k, v in raw.items()}

    def poll(self) -> tuple[DataFrame, dict[int, tuple[int, int]]]:
        frm = self.committed()
        end = self.topic.end_offsets()
        if self.max_per_part is not None:
            end = {
                p: min(end[p], frm[p] + self.max_per_part) for p in end
            }
        ranges = {
            p: (frm[p], end[p]) for p in frm if end.get(p, 0) > frm[p]
        }
        df = self.topic.read_range(frm, end)
        return df, ranges

    def commit(self, ranges: dict[int, tuple[int, int]]) -> None:
        nxt = self.committed()
        for p, (_, hi) in ranges.items():
            nxt[p] = max(nxt.get(p, 0), hi)
        _atomic_write_json(
            os.path.join(self.group_dir, "committed.json"),
            {str(p): v for p, v in nxt.items()},
        )


class TransactionalStateSink:
    """Versioned (state, offsets) pairs with a CURRENT pointer — the
    offsets-with-output transaction (Kafka Streams EOS). Commit
    protocol: write ``v-<n>.tmp/{state/, offsets.json}`` fully, publish
    with ONE directory rename to ``v-<n>``, then swap the CURRENT
    pointer file (os.replace — atomic on POSIX). Readers resolve
    CURRENT and never see a torn pair; a crash leaves either the old or
    the new version current, so the in-flight batch replays in full or
    not at all."""

    def __init__(self, spark: SparkSession, sink_dir: str):
        self.spark = spark
        self.dir = sink_dir
        os.makedirs(sink_dir, exist_ok=True)

    def _current(self) -> Optional[str]:
        path = os.path.join(self.dir, "CURRENT")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return f.read().strip()

    def read(self) -> tuple[Optional[DataFrame], dict[int, int], int]:
        """(state, consumed offsets, version). The offsets ARE the
        consumer position: there is no separate group cursor to drift
        from the output."""
        cur = self._current()
        if cur is None:
            return None, {}, -1
        vdir = os.path.join(self.dir, cur)
        offsets = {
            int(k): int(v)
            for k, v in _read_json(
                os.path.join(vdir, "offsets.json")
            ).items()
        }
        state = self.spark.read.parquet(os.path.join(vdir, "state"))
        return state, offsets, int(cur.split("-", 1)[1])

    def commit(
        self, state: DataFrame, offsets: dict[int, int], version: int
    ) -> None:
        name = f"v-{version}"
        tmp = os.path.join(self.dir, f"{name}.tmp")
        final = os.path.join(self.dir, name)
        # a stale same-version dir can only be the corpse of a crashed
        # attempt that never reached the pointer swap (CURRENT still
        # names an older version) — safe to clear and redo
        if os.path.exists(final) and self._current() != name:
            shutil.rmtree(final)
        shutil.rmtree(tmp, ignore_errors=True)
        state.write.parquet(os.path.join(tmp, "state"))
        _atomic_write_json(
            os.path.join(tmp, "offsets.json"),
            {str(p): v for p, v in offsets.items()},
        )
        os.rename(tmp, final)
        self._swap_current(name)

    def _swap_current(self, name: str) -> None:
        # separate method: the kill -9 suite SIGKILLs here to prove the
        # pre-swap window replays without duplicates
        tmp = os.path.join(self.dir, f"CURRENT.tmp.{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            f.write(name)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self.dir, "CURRENT"))


def _eos_fold_loop(
    spark: SparkSession,
    topic_dir: str,
    sink_dir: str,
    fold,
    max_records_per_partition: Optional[int] = None,
    max_batches: int = 1000,
) -> Optional[DataFrame]:
    """The shared micro-batch EOS driver (X1): per batch — read
    (state, offsets) from the sink, poll the topic beyond those
    offsets (optionally clamped for bounded batches), apply
    ``fold(state_or_None, batch) -> new_state``, commit (state',
    offsets') in one atomic version swap. Restart-safe at any kill
    point; re-running after completion is a no-op (offsets equal end).
    Returns the final state, or None if nothing was ever committed."""
    topic = OffsetLogTopic(spark, topic_dir)
    sink = TransactionalStateSink(spark, sink_dir)
    for _ in range(max_batches):
        state, offsets, version = sink.read()
        frm = {p: offsets.get(p, 0) for p in range(topic.n_partitions)}
        end = topic.end_offsets()
        if max_records_per_partition is not None:
            end = {
                p: min(end[p], frm[p] + max_records_per_partition)
                for p in end
            }
        if all(end[p] <= frm[p] for p in end):
            break
        new_state = fold(state, topic.read_range(frm, end))
        sink.commit(new_state, end, version + 1)
    state, _, _ = sink.read()
    return state


def offset_log_fold_loop(
    spark: SparkSession,
    topic_dir: str,
    sink_dir: str,
    max_records_per_partition: Optional[int] = None,
    max_batches: int = 1000,
) -> DataFrame:
    """Per-key counting over the replayable log with EOS (the simplest
    _eos_fold_loop instance). Returns the final state (key, n)."""

    def fold(state, batch):
        delta = batch.groupBy("key").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
        if state is None:
            return delta
        return (
            state.unionByName(delta)
            .groupBy("key")
            .agg(F.sum("n").cast("bigint").alias("n"))
        )

    state = _eos_fold_loop(
        spark, topic_dir, sink_dir, fold,
        max_records_per_partition, max_batches,
    )
    if state is None:
        return spark.createDataFrame([], "key string, n bigint")
    return state


_DEDUP_STATE_SCHEMA = (
    "kind string, k string, n_docs bigint, n_exact_dup bigint"
)


def dedup_report_loop(
    spark: SparkSession,
    topic_dir: str,
    sink_dir: str,
    max_records_per_partition: Optional[int] = None,
    max_batches: int = 1000,
) -> DataFrame:
    """Streaming twin of llm_dedup_report's exact-dup leg: documents
    arrive on the offset log as (key=source, value=text); per
    micro-batch the loop fingerprints the batch, marks a doc an exact
    duplicate if its fingerprint was already seen EARLIER IN
    CONSUMPTION ORDER (in the persisted fingerprint store, or earlier
    within the batch by the deterministic (p, offset) order), folds
    per-source (n_docs, n_exact_dup) counters, and commits counters +
    fingerprint store + consumed offsets in ONE TransactionalStateSink
    version swap — so a crash anywhere replays the in-flight batch
    exactly once and the counters can never double-count (the X2/X3
    contract, applied to a curation metric instead of a contact fold).

    Semantics contract (any Kafka-shaped consumer has it): WITHIN a
    (partition, fingerprint) the first copy wins deterministically,
    and the TOTAL duplicate count is batch-boundary-invariant (exactly
    one copy of each fingerprint is ever 'first'). But cross-partition
    consumption order is a property of the micro-batching, so when
    copies of one text arrive under DIFFERENT sources on different
    partitions, which source absorbs the dup count can shift with
    batch boundaries — a stream has no global (p, offset) order, only
    per-partition order. Callers needing order-independent attribution
    should key the attribution to the fingerprint's min source in a
    batch job (llm_dedup_report's keeper rule), not to arrival.

    State is one DataFrame with a kind column: ('fp', fingerprint)
    rows are the seen-set, ('src', source) rows carry the counters —
    one sink version holds both, which is exactly why they cannot
    drift. 100 TB shape: the seen-set union is a distinct on the
    fingerprint hash (one shuffle over batch-sized input + store); at
    real scale the store side stays bucketed by fingerprint so the
    anti join is co-located. Returns the per-source counter table."""
    fp = F.md5(
        F.lower(
            F.regexp_replace(F.trim(F.col("value")), r"[ \t\r\n\f]+", " ")
        )
    )

    def fold(state, raw_batch):
        batch = raw_batch.select(
            F.col("key").alias("source"), fp.alias("f"), "p", "offset"
        )
        if state is None:
            store = spark.createDataFrame([], "f string")
            counters = spark.createDataFrame(
                [], "k string, n_docs bigint, n_exact_dup bigint"
            )
        else:
            store = state.where(F.col("kind") == "fp").select(
                F.col("k").alias("f")
            )
            counters = state.where(F.col("kind") == "src").select(
                "k", "n_docs", "n_exact_dup"
            )
        w = Window.partitionBy("f").orderBy("p", "offset")
        flagged = (
            batch.withColumn("rn", F.row_number().over(w))
            .join(
                store.select(F.col("f"), F.lit(1).alias("seen")),
                "f",
                "left_outer",
            )
            .select(
                "source",
                "f",
                ((F.col("rn") > 1) | F.col("seen").isNotNull())
                .cast("int")
                .alias("is_dup"),
            )
        )
        delta = flagged.groupBy(F.col("source").alias("k")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("is_dup").cast("bigint").alias("n_exact_dup"),
        )
        new_counters = (
            counters.unionByName(delta)
            .groupBy("k")
            .agg(
                F.sum("n_docs").cast("bigint").alias("n_docs"),
                F.sum("n_exact_dup").cast("bigint").alias("n_exact_dup"),
            )
        )
        new_store = store.unionByName(flagged.select("f")).distinct()
        return new_counters.select(
            F.lit("src").alias("kind"), "k", "n_docs", "n_exact_dup"
        ).unionByName(
            new_store.select(
                F.lit("fp").alias("kind"),
                F.col("f").alias("k"),
                F.lit(None).cast("bigint").alias("n_docs"),
                F.lit(None).cast("bigint").alias("n_exact_dup"),
            )
        )

    state = _eos_fold_loop(
        spark, topic_dir, sink_dir, fold,
        max_records_per_partition, max_batches,
    )
    if state is None:
        return spark.createDataFrame(
            [], "k string, n_docs bigint, n_exact_dup bigint"
        )
    return state.where(F.col("kind") == "src").select(
        "k", "n_docs", "n_exact_dup"
    )


# ---------------------------------------------------------------------------
# Structured Streaming integration (Spark 4 Python DataSource)
# ---------------------------------------------------------------------------


def _scan_topic_rows(
    topic_dir: str, start: dict, end: dict
) -> Iterator[tuple]:
    """Driver-side record scan for the simple stream reader: walk only
    the segments overlapping [start, end) per partition (same pruning
    as read_range, pyarrow instead of a Spark job)."""
    import pyarrow.parquet as pq

    for p_name in sorted(os.listdir(topic_dir)):
        if not p_name.startswith("p="):
            continue
        p = int(p_name.split("=", 1)[1])
        lo = int(start.get(str(p), 0))
        hi = int(end.get(str(p), 0))
        if hi <= lo:
            continue
        pdir = os.path.join(topic_dir, p_name)
        segs = sorted(
            (int(s.split("=", 1)[1]), os.path.join(pdir, s))
            for s in os.listdir(pdir)
            if s.startswith("seg=")
        )
        for i, (base, seg_path) in enumerate(segs):
            nxt = segs[i + 1][0] if i + 1 < len(segs) else None
            if (nxt is not None and nxt <= lo) or base >= hi:
                continue
            for f in sorted(os.listdir(seg_path)):
                if not f.endswith(".parquet"):
                    continue
                t = pq.read_table(os.path.join(seg_path, f))
                for row in t.to_pylist():
                    off = int(row["offset"])
                    if lo <= off < hi:
                        yield (p, off, row["key"], row["value"], row["ts"])


try:  # pragma: no cover - import surface depends on the PySpark build
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    class OffsetLogStreamReader(SimpleDataSourceStreamReader):
        """The Kafka source contract, verbatim: ``initialOffset`` =
        earliest, ``read(start)`` plans a batch and returns its END
        offset, ``readBetweenOffsets`` REPLAYS a planned batch after a
        restart (Spark persists the planned range in its checkpoint —
        exactly Kafka's offsets-as-ranges recovery), ``commit`` is the
        ack. Batch size is bounded by maxRecordsPerPartition so
        availableNow runs produce a real multi-batch history."""

        def __init__(self, options: dict):
            self.topic_dir = options["path"]
            self.max_per_part = int(
                options.get("maxrecordsperpartition", "0")
            ) or None

        def _ends(self) -> dict:
            ends = {}
            for p_name in os.listdir(self.topic_dir):
                if not p_name.startswith("p="):
                    continue
                p = int(p_name.split("=", 1)[1])
                pdir = os.path.join(self.topic_dir, p_name)
                segs = sorted(
                    (int(s.split("=", 1)[1]), os.path.join(pdir, s))
                    for s in os.listdir(pdir)
                    if s.startswith("seg=")
                )
                if not segs:
                    ends[str(p)] = 0
                    continue
                base, path = segs[-1]
                rows = sum(
                    _parquet_num_rows(os.path.join(path, f))
                    for f in os.listdir(path)
                    if f.endswith(".parquet")
                )
                ends[str(p)] = base + rows
            n = _read_json(os.path.join(self.topic_dir, "_meta.json"))[
                "n_partitions"
            ]
            for p in range(int(n)):
                ends.setdefault(str(p), 0)
            return ends

        def initialOffset(self) -> dict:
            return {
                p: 0
                for p in map(
                    str,
                    range(
                        int(
                            _read_json(
                                os.path.join(self.topic_dir, "_meta.json")
                            )["n_partitions"]
                        )
                    ),
                )
            }

        def read(self, start: dict):
            end = self._ends()
            if self.max_per_part:
                end = {
                    p: min(
                        end[p], int(start.get(p, 0)) + self.max_per_part
                    )
                    for p in end
                }
            # a LIST, not a generator: Spark's prefetch cache copies
            # planned batches (datasource_internal.getCache), and
            # generators cannot be copied/pickled
            return list(_scan_topic_rows(self.topic_dir, start, end)), end

        def readBetweenOffsets(self, start: dict, end: dict):
            return list(_scan_topic_rows(self.topic_dir, start, end))

    class OffsetLogDataSource(DataSource):
        """``spark.readStream.format("offset_log")`` over an
        OffsetLogTopic directory; register with
        ``spark.dataSource.register(OffsetLogDataSource)``."""

        @classmethod
        def name(cls) -> str:
            return "offset_log"

        def schema(self) -> str:
            return "p int, " + RECORD_SCHEMA

        def simpleStreamReader(self, schema):
            return OffsetLogStreamReader(self.options)

except ImportError:  # pragma: no cover
    OffsetLogDataSource = None  # type: ignore[assignment]


def hll_distinct_loop(
    spark: SparkSession,
    topic_dir: str,
    sink_dir: str,
    max_records_per_partition: Optional[int] = None,
    max_batches: int = 1000,
) -> DataFrame:
    """Streaming DISTINCT-COUNT over the replayable log with EOS — the
    sketch + stream composition: per micro-batch, the batch's
    (key=group, value=element) rows sketch into HyperLogLog registers
    (plans/stats_ops.py) which merge into the persisted register store
    by element-wise MAX; registers + consumed offsets commit in one
    TransactionalStateSink version swap. State is the SKETCH, never
    the key set: ≤ 256 rows per group forever, no matter how many
    distinct elements flow past — the property that makes per-user /
    per-source distinct counters feasible on an unbounded stream.

    Redelivery is idempotent twice over: by offsets (the X2 contract),
    AND by algebra — max-merge of already-merged data is a no-op, so
    even an at-least-once seam (crash between commit and an external
    ack) cannot move a register. The batch-boundary-invariance test
    pins that any chunking of the stream yields the identical register
    store. Returns (key, estimate_micro)."""
    # lazy import: streaming reuses the sketch primitives, plans must
    # not import streaming back
    from etl_migrate_api_spark.plans.stats_ops import (
        hll_estimate,
        hll_registers,
    )

    def fold(state, batch):
        delta = hll_registers(
            batch.select("key", "value"), ["key"], "value"
        )
        if state is None:
            return delta
        return (
            state.unionByName(delta)
            .groupBy("key", "bucket")
            .agg(F.max("rho").alias("rho"))
        )

    state = _eos_fold_loop(
        spark, topic_dir, sink_dir, fold,
        max_records_per_partition, max_batches,
    )
    if state is None:
        return spark.createDataFrame([], "key string, estimate_micro bigint")
    return hll_estimate(state, ["key"])
