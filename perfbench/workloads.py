"""The benchmark's workloads, driven through the engine's public entry
points: the query registry plus the noop sink, and ``ContactEtlJob``."""

from __future__ import annotations

import os
import re
import statistics
import sys
import time
from collections import defaultdict

import tracing

BENCH = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(BENCH, "data", "sf0.01")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
LLM_QUERIES = (
    "llm_exact_dedup",
    "llm_minhash_lsh_dedup",
    "llm_simhash_neardup",
    "llm_embedding_neardup",
    "llm_curation_pipeline",
)
# Untimed noop passes after the cold pass. In six runs of four timed
# passes, the mean of the first two passes after the cold one varied by
# 13% from run to run (quartile spread / median), that of the third and
# fourth by 4%: the JVM is still compiling hot code during the first two.
LLM_WARM_PASSES = 2
PRELOAD = 8000  # records written before timing: about 7k stored keys
PAGE = 1000  # the reference's keyset page size
# The JVM still compiles hot code for several batches after the warm-up,
# so one timed batch varied by 15-45% from run to run and two by 3-11%.
# A round of two keeps the number of samples the same on fast and slow hosts.
BATCHES_PER_ROUND = 2
LOG_METHODS = (
    "last_successful_id", "next_batch_no", "_next_log_id",
    "_append_log", "_crashed_mid_batch",
)
_MB = 1024.0 * 1024.0


class Run:
    """State and measurements of one benchmark run."""

    def __init__(self, spark, args, started: float, work: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.seconds = args.seconds
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.started = started
        self.work = work
        self.start_s = time.time() - started
        self.spans = tracing.Spans()
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.rounds = 0
        self.batches = 0  # timed batches, failed ones included
        self.op_times: dict[str, list[float]] = defaultdict(list)
        self.batch_times: list[float] = []  # a pass of queries; a page
        self.status_jobs = 0
        self.timed_groups: list[str] = []  # job groups of the timed batches
        self.shuffle_mb = 0.0
        self.records = 0  # input records of the timed batches
        self.written_mb = 0.0
        self.layer: dict[str, float] = defaultdict(float)
        self.result_rows: dict[str, int] = {}
        self.event_groups: dict[str, dict] | None = None

    def group(self, g: str) -> None:
        """Tag the Spark jobs that follow with job group ``g``."""
        self.sc.setJobGroup(g, g)
        self.spans.group = g

    def jobs_of(self, g: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(g))

    def sweep(self) -> int:
        """Release what the last operation left cached; return how many
        RDDs were still persisted."""
        n = 0
        try:
            m = self.sc._jsc.getPersistentRDDs()
            n = m.size()
            self.spark.catalog.clearCache()
            for rid in list(m.keySet().toArray()):
                r = m.get(rid)
                if r is not None:
                    r.unpersist()
        except Exception:  # noqa: BLE001 — no JVM handle: caches stay
            self.spark.catalog.clearCache()
        return n

    def fail(self, what: str, ex: BaseException) -> None:
        """Count a failed operation. Its time and records are left out of
        the figures, so the run is marked incorrect: a run that skips
        work must not read as a faster one."""
        self.failed += 1
        self.problems.append(f"{what} failed: {type(ex).__name__}: {ex}"[:500])

    def warmed(self) -> None:
        self.setup_s = time.time() - self.started

    def timed(self, one_batch) -> None:
        """Run whole rounds of ``BATCHES_PER_ROUND`` batches until
        ``seconds`` have passed (at least one round)."""
        cpu0, py0 = tracing.tree_cpu_s(), tracing.python_worker_cpu_s()
        t0 = time.perf_counter()
        while self.rounds == 0 or time.perf_counter() - t0 < self.seconds:
            for _ in range(BATCHES_PER_ROUND):
                one_batch(self.batches)
                self.batches += 1
            self.rounds += 1
        n = self.batches
        self.cpu_s = (tracing.tree_cpu_s() - cpu0) / n
        self.layer["operators.python_worker_cpu_s"] = (tracing.python_worker_cpu_s() - py0) / n
        self.layer["session.peak_rss_mb"] = tracing.peak_rss_mb()

    def count_shuffle(self) -> None:
        """Shuffle and spill bytes written by the stages of the timed job
        groups, from Spark's status store (the figures of its event log)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store, tracker = jsc.statusStore(), self.sc.statusTracker()
        stages = set()
        for g in self.timed_groups:
            for j in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(j)
                stages.update(info.stageIds if info else ())
        total = 0
        for sid in stages:
            d = store.lastStageAttempt(sid)
            total += d.shuffleWriteBytes() + d.diskBytesSpilled()
        self.shuffle_mb = total / _MB

    # -- reports ---------------------------------------------------------------
    def end_to_end(self) -> dict[str, float]:
        busy = sum(self.batch_times)  # 0 only when every operation failed
        return {
            "setup_s": self.setup_s,
            "query_s": sum(statistics.median(v) for v in self.op_times.values()),
            "batch_s": statistics.median(self.batch_times) if busy else 0.0,
            "records_per_s": self.records / busy if busy else 0.0,
            "written_mb": self.written_mb,
            "cpu_s": self.cpu_s,
        }

    def _timed_groups(self, suffix: str = "") -> list[dict]:
        return [
            s for g, s in (self.event_groups or {}).items()
            if g.startswith("t:") and g.endswith(suffix)
        ]

    def layer_metrics(self) -> dict[str, float]:
        r = self.batches
        out = {
            k: self.layer[k] / r
            for k in ("plans.persisted_after", "sinks.files_written", "sinks.buckets_rewritten")
        }
        out["operators.python_worker_cpu_s"] = self.layer["operators.python_worker_cpu_s"]
        out["session.peak_rss_mb"] = self.layer["session.peak_rss_mb"]
        out["session.start_s"] = self.start_s
        out["session.warmup_s"] = self.setup_s - self.start_s
        for name, layer in (
            ("catalog.load_s", "catalog"),
            ("sources.page_s", "sources.page"),
            ("pipelines.log_s", "pipelines.log"),
            ("sinks.upsert_s", "sinks.upsert"),
            ("sinks.delete_s", "sinks.delete"),
            ("plans.build_s", "build"),
        ):
            out[name] = self.spans.total(layer) / r
        build = self._timed_groups(":build")
        out["plans.build_jobs"] = sum(s["jobs"] for s in build) / r
        out["plans.build_tasks"] = sum(s["tasks"] for s in build) / r
        out["catalog.schema_jobs"] = sum(s["schema_jobs"] for s in build) / r
        # the sink action of a query; every job of a micro-batch
        exec_groups = self._timed_groups(":exec") or self._timed_groups(":batch")
        for name, key in (
            ("exec.jobs", "jobs"), ("exec.stages", "stages"), ("exec.tasks", "tasks"),
            ("exec.shuffle_write_mb", "shuffle_write_mb"), ("exec.spill_mb", "spill_mb"),
            ("exec.executor_cpu_s", "cpu_s"),
        ):
            out[name] = sum(s[key] for s in exec_groups) / r
        plan_s = exec_s = 0.0
        for layer, g, t0, t1 in self.spans.items:
            if layer == "exec" and g.startswith("t:"):
                first = (self.event_groups.get(g) or {}).get("first_submit") or t1
                first = min(max(first, t0), t1)
                plan_s += first - t0
                exec_s += t1 - first
        out["exec.plan_s"] = plan_s / r
        out["exec.exec_s"] = exec_s / r
        batch = self._timed_groups(":batch")
        out["pipelines.batch_jobs"] = sum(s["jobs"] for s in batch) / r
        out["sinks.schema_jobs"] = sum(s["schema_jobs"] for s in batch) / r
        banded = defaultdict(int)
        for g, s in self.event_groups.items():
            if g.startswith("t:") and s["banded_rows"]:
                banded[g.split(":")[2]] += s["banded_rows"]
        out["operators.candidate_pairs"] = sum(banded.values()) / r
        out["operators.verified_pairs"] = float(
            sum(self.result_rows.get(q, 0) for q in banded)
        )
        return out

    def jobs_line(self) -> str:
        n = self.batches
        line = f"perfbench: spark jobs per batch: statusTracker {self.status_jobs / n:g}"
        if self.event_groups is not None:
            line += f", event log {sum(s['jobs'] for s in self._timed_groups()) / n:g}"
        line += f"; shuffle+spill MB per batch: status store {self.shuffle_mb / n:.6f}"
        if self.event_groups is not None:
            mb = sum(s["shuffle_write_mb"] + s["spill_mb"] for s in self._timed_groups())
            line += f", event log {mb / n:.6f}"
        return line


# -- llm_dedup --------------------------------------------------


def _input_rows(sql: str) -> int:
    import pyarrow.parquet as pq

    used = set(re.findall(r"\b(" + "|".join(TABLES) + r")\b", sql.lower()))
    return sum(pq.read_metadata(os.path.join(DATA, f"{t}.parquet")).num_rows for t in used)


def query_pass(run: Run, fns: dict, rows: dict[str, int], r: int) -> None:
    """One timed batch of ``llm_dedup``: build each query and write it to
    the noop sink. Only queries that succeed add their time and their
    input ``rows``."""
    total, records = 0.0, 0
    for n in LLM_QUERIES:
        run.attempted += 1
        b, e = f"t:{r}:{n}:build", f"t:{r}:{n}:exec"
        run.timed_groups += [b, e]
        try:
            t0 = time.time()
            run.group(b)
            df = fns[n](run.spark, DATA)
            t1 = time.time()
            run.group(e)
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
        except Exception as ex:  # noqa: BLE001 — counted, the run goes on
            run.fail(n, ex)
            run.sweep()
            continue
        print(f"perfbench: {n} build {t1 - t0:.2f}s exec {t2 - t1:.2f}s", file=sys.stderr)
        run.spans.items += [("build", b, t0, t1), ("exec", e, t1, t2)]
        run.op_times[n].append(t2 - t0)
        total += t2 - t0
        records += rows[n]
        run.status_jobs += run.jobs_of(b) + run.jobs_of(e)
        run.layer["plans.persisted_after"] += run.sweep()
    if records:
        run.batch_times.append(total)
        run.records += records


def llm_dedup(run: Run) -> None:
    from etl_migrate_api_spark.plans.registry import oracle_sql_map, query_map

    spark = run.spark
    fns, oracles = query_map(), oracle_sql_map()
    if run.trace:
        tracing.wrap_everywhere("etl_migrate_api_spark.catalog", "load", "catalog", run.spans)

    # warm-up, whose collected results are the ones checked
    results = {}
    for n in LLM_QUERIES:
        run.attempted += 1
        t0 = time.time()
        try:
            run.group(f"warm:{n}:build")
            df = fns[n](spark, DATA)
            run.group(f"warm:{n}:exec")
            results[n] = df.toPandas()
        except Exception as ex:  # noqa: BLE001 — counted, the run goes on
            run.fail(n, ex)
        run.sweep()
        print(f"perfbench: warm-up {n} {time.time() - t0:.2f}s", file=sys.stderr)
    for w in range(LLM_WARM_PASSES):
        for n in LLM_QUERIES:
            run.attempted += 1
            try:
                run.group(f"warm{w}:{n}")
                fns[n](spark, DATA).write.format("noop").mode("overwrite").save()
            except Exception as ex:  # noqa: BLE001
                run.fail(n, ex)
            run.sweep()
    run.warmed()

    rows = {n: _input_rows(oracles.get(n, "")) for n in LLM_QUERIES}
    run.timed(lambda r: query_pass(run, fns, rows, r))
    run.count_shuffle()
    # a noop sink writes no table: what the pass writes is shuffle and
    # spill files
    run.written_mb = run.shuffle_mb / run.batches

    import duckdb

    import frames

    run.group("check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(DATA, t)}.parquet')"
        )
    for n, got in results.items():
        run.result_rows[n] = len(got)
        if n not in oracles:
            run.problems.append(f"{n}: no oracle SQL")
            continue
        why = frames.compare(got, con.execute(oracles[n]).fetchdf())
        if why:
            run.problems.append(f"{n}: {why}")
    con.close()


# -- contact_incremental ------------------------------------------------------------


class _TimedSource:
    """Times each page the source produces (traced runs)."""

    def __init__(self, source, spans: tracing.Spans):
        self.source = source
        self.spans = spans

    def pages(self, last_id: int = 0):
        it = self.source.pages(last_id)
        while True:
            t0 = time.time()
            try:
                item = next(it)
            except StopIteration:
                return
            finally:
                self.spans.add("sources.page", t0, time.time())
            yield item


def _files(paths: list[str]) -> dict[str, tuple[int, int]]:
    out = {}
    for root in paths:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                out[p] = (st.st_mtime_ns, st.st_size)
    return out


def contact_incremental(run: Run) -> None:
    from contacts import RECORD_SCHEMA, ContactStream, check_contacts

    from etl_migrate_api_spark.pipelines.contact_job import ContactEtlJob
    from etl_migrate_api_spark.sources.http_cursor import CursorSource

    spark = run.spark
    if run.trace:
        for attr, layer in (
            ("upsert_by_key", "sinks.upsert"),
            ("delete_beyond_watermark", "sinks.delete"),
        ):
            tracing.wrap_everywhere("etl_migrate_api_spark.sinks.upsert", attr, layer, run.spans)
        tracing.wrap_methods(ContactEtlJob, LOG_METHODS, "pipelines.log", run.spans)

    stream = ContactStream(run.seed, PRELOAD, PAGE)
    base = os.path.join(run.work, "contact")
    counters: list[tuple[int, int]] = []

    def batch(job) -> bool:
        run.attempted += 1
        try:
            res = job.run(max_batches=1)
        except Exception as ex:  # noqa: BLE001 — counted, the run goes on
            run.fail("batch", ex)
            return False
        counters.append((res.insert_count, res.update_count))
        return True

    # the preload page writes the stored keys and warms every step of a batch
    run.group("warm:preload")
    batch(ContactEtlJob(spark, CursorSource(spark, stream.fetch, RECORD_SCHEMA, limit=PRELOAD), base))
    run.warmed()

    source = CursorSource(spark, stream.fetch, RECORD_SCHEMA, limit=PAGE)
    job = ContactEtlJob(spark, _TimedSource(source, run.spans) if run.trace else source, base)
    tables = [job.sink.path, job.state.path, job.log.path]

    def one_page(r: int) -> None:
        stream.ensure(len(stream.records) + PAGE)  # generated outside the timing
        before = _files(tables)
        g = f"t:{r}:batch"
        run.timed_groups.append(g)
        run.group(g)
        t0 = time.time()
        ok = batch(job)
        t1 = time.time()
        run.status_jobs += run.jobs_of(g)
        if not ok:  # a failed page adds no time and no records
            return
        run.op_times["batch"].append(t1 - t0)
        run.batch_times.append(t1 - t0)
        run.records += PAGE
        new = {p: v for p, v in _files(tables).items() if before.get(p) != v}
        run.written_mb += sum(size for _, size in new.values()) / _MB
        run.layer["sinks.files_written"] += len(new)
        run.layer["sinks.buckets_rewritten"] += len(
            {os.path.dirname(p) for p in new if os.path.basename(os.path.dirname(p)).startswith("_bucket=")}
        )

    run.timed(one_page)
    run.count_shuffle()
    run.written_mb /= run.batches

    run.group("check")
    sink = [r.asDict() for r in job.sink.read().collect()]
    state = [r.asDict() for r in job.state.read().collect()]
    run.problems += check_contacts(
        stream.records, counters, sink, state, job.last_successful_id()
    )
