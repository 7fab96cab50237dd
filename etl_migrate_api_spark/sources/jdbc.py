"""Partitioned JDBC read/write helpers — the production path for the
reference's Postgres tables (SURVEY.md §2 S4/PH1 keyset pagination →
Spark's partitioned JDBC scan; K2/K3/PH10 ON CONFLICT → staging+MERGE).

No database ships in the test container, so these helpers build the
reader/writer configurations and the per-partition upsert runner; the
executable harness equivalents live in sinks/tables.py + sinks/upsert.py
(same call shapes). Unit tests cover option construction; the SQL text
is shared with sinks/upsert.py::jdbc_upsert_stage_sql.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame


def partitioned_jdbc_options(
    url: str,
    table: str,
    partition_column: str,
    lower_bound: int,
    upper_bound: int,
    num_partitions: int = 32,
    fetch_size: int = 5000,
    properties: dict[str, str] | None = None,
) -> dict[str, str]:
    """Options for a partitioned JDBC scan — subsumes the reference's
    manual 5000-row keyset pagination (preloadRedis.js:41-52): Spark
    issues ``num_partitions`` range-bounded queries in parallel."""
    opts = {
        "url": url,
        "dbtable": table,
        "partitionColumn": partition_column,
        "lowerBound": str(lower_bound),
        "upperBound": str(upper_bound),
        "numPartitions": str(num_partitions),
        "fetchsize": str(fetch_size),
    }
    opts.update(properties or {})
    return opts


def jdbc_append_options(batch_size: int = 1000, isolation: str = "READ_COMMITTED") -> dict[str, str]:
    """Writer options matching the reference's 1000-row multi-VALUES
    chunks (saveToPostgres.js:313) — Spark's JDBC writer batches
    statements itself."""
    return {"batchsize": str(batch_size), "isolationLevel": isolation}


def default_lock_sql(staging: str) -> str:
    """Postgres attempt-serialization lock on the staging table (held to
    end of transaction)."""
    return f"LOCK TABLE {staging} IN ACCESS EXCLUSIVE MODE"


def default_truncate_sql(staging: str) -> str:
    """Postgres/ANSI staging wipe. Engines without TRUNCATE (sqlite)
    pass ``truncate_sql_for=lambda s: f"DELETE FROM {s}"`` — same
    idempotency guarantee, both run inside the upsert transaction."""
    return f"TRUNCATE TABLE {staging}"


def satisfies_hash_on_key(df: DataFrame, key_cols: list[str]) -> bool:
    """True when ``df`` is already hash-partitioned such that every row
    sharing the full merge key lands in one partition — i.e. its plan's
    top node is a ``RepartitionByExpression`` over plain column
    references forming a non-empty SUBSET of ``key_cols``.

    Subset (not equality) is the right containment: hashing on fewer
    columns is coarser, so equal full keys still collide into the same
    partition; hashing on any column OUTSIDE the key would split equal
    keys and break MERGE disjointness. Conservative by design — any
    plan shape this can't prove (filters above the repartition, joins,
    AQE-coalesced exchanges) returns False and the caller repartitions;
    a false negative costs one batch shuffle, a false positive would
    cost silent lost updates."""
    try:
        node = df._jdf.queryExecution().analyzed()
        if node.getClass().getSimpleName() != "RepartitionByExpression":
            return False
        exprs = node.partitionExpressions()
        cols = []
        for i in range(exprs.size()):
            e = exprs.apply(i)
            if e.getClass().getSimpleName() != "AttributeReference":
                return False
            cols.append(e.name())
        return bool(cols) and set(cols) <= set(key_cols)
    except Exception:  # any py4j/plan-shape surprise → shuffle (safe)
        return False


def upsert_foreach_partition(
    df: DataFrame,
    key: str | list[str],
    connect: Callable[[], Any],
    merge_sql_for: Callable[[str], str],
    insert_staging_sql_for: Callable[[str], str],
    staging_prefix: str = "staging_upsert",
    batch_size: int = 1000,
    lock_sql_for: Callable[[str], str] | None = default_lock_sql,
    truncate_sql_for: Callable[[str], str] = default_truncate_sql,
) -> None:
    """Executor-parallel transactional upsert: each partition stages its
    rows into its OWN per-partition staging table (``{prefix}_{pid}``,
    created/truncated before load) and runs one MERGE inside a
    transaction (the PH10 pattern; MERGE text from
    sinks/upsert.py::jdbc_upsert_stage_sql, parameterized by the staging
    name).

    Why per-partition staging (not one shared table):
    - concurrent MERGEs from one shared staging would each re-merge the
      other partitions' rows, and two MERGEs inserting the same new key
      can deadlock or raise unique violations (MERGE has no ON CONFLICT
      semantics);
    - TRUNCATE-before-load makes re-runs idempotent — a failed prior
      attempt's stale staging rows are never re-applied.

    Concurrent per-partition MERGEs require the upserted keys to be
    partition-disjoint, so the runner ENFORCES it: ``df`` is hash-
    repartitioned on ``key`` here (an extra shuffle of the batch — cheap
    insurance against the silent same-key-in-two-MERGEs deadlock/lost-
    update a mis-partitioned caller would otherwise hit). A caller that
    already ``repartition(n, key)``-ed pays nothing: the insurance
    shuffle is skipped when ``satisfies_hash_on_key`` proves the plan is
    hash-on-key at the top.

    Stage retries / speculative duplicates of the SAME partition share
    one staging table, so the transaction's first statement locks it
    (``lock_sql_for``, default Postgres ``LOCK TABLE … IN ACCESS
    EXCLUSIVE MODE``): two live attempts serialize — the loser re-runs
    TRUNCATE → load → MERGE after the winner commits, and re-merging
    identical rows is idempotent. (Postgres' TRUNCATE takes the same
    lock implicitly; the explicit statement makes the guarantee hold on
    engines where it doesn't.) Pass ``lock_sql_for=None`` explicitly
    only if ``spark.speculation`` is disabled and stage retries are
    acceptable risks.

    ``connect`` must be a serializable zero-arg factory (executors open
    their own connections — never ship a live connection from the
    driver). ``merge_sql_for`` / ``insert_staging_sql_for`` MUST be
    callables taking the per-partition staging table name — the runner
    owns that name (it truncates the table before loading), so SQL that
    references a different staging table cannot be expressed."""
    if not callable(merge_sql_for) or not callable(insert_staging_sql_for):
        raise TypeError(
            "merge_sql_for/insert_staging_sql_for must be callables taking "
            "the staging table name (the runner truncates that exact table)"
        )
    key_cols = [key] if isinstance(key, str) else list(key)
    # enforce the disjointness contract: same key -> same partition ->
    # same staging table — but skip the insurance shuffle when the
    # caller's plan provably already hash-partitions on the key
    if not satisfies_hash_on_key(df, key_cols):
        df = df.repartition(df.rdd.getNumPartitions(), *key_cols)

    def run_with_pid(pid: int, rows: Iterator) -> Iterator:
        # empty partitions (common after the insurance repartition on
        # small batches) must not open a connection, take the exclusive
        # staging lock, TRUNCATE, and MERGE nothing — nor require a
        # staging_upsert_N table for a pid that carries no rows
        rows = iter(rows)
        first = next(rows, None)
        if first is None:
            return iter(())
        import itertools

        rows = itertools.chain([first], rows)
        staging = f"{staging_prefix}_{pid}"
        conn = connect()
        try:
            cur = conn.cursor()
            if lock_sql_for is not None:
                # serialize concurrent attempts of this partition (stage
                # retry / speculation) on the shared staging table
                cur.execute(lock_sql_for(staging))
            # staging DDL is deployment-time (CREATE TABLE staging_upsert_N
            # LIKE target); here we only guarantee idempotency per run
            cur.execute(truncate_sql_for(staging))
            insert_sql = insert_staging_sql_for(staging)
            merge_sql = merge_sql_for(staging)
            buf = []
            for row in rows:
                buf.append(tuple(row))
                if len(buf) >= batch_size:
                    cur.executemany(insert_sql, buf)
                    buf.clear()
            if buf:
                cur.executemany(insert_sql, buf)
            cur.execute(merge_sql)
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()
        return iter(())

    df.rdd.mapPartitionsWithIndex(
        lambda pid, rows: run_with_pid(pid, rows)
    ).count()
