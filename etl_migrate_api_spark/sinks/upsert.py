"""Upsert + recovery primitives — the reference's idempotency toolkit
(K2 ``ON CONFLICT DO NOTHING`` saveToPostgres.js:369, K3 keyed UPDATE
saveToPostgres.js:375-409, X2 delete-beyond-watermark
contactpoint.controller.js:105-118) re-expressed as DataFrame set logic
over an atomically-replaced table.

Spark has no native ON CONFLICT for JDBC; `jdbc_upsert_stage_sql`
emits the staging-table MERGE a production JDBC sink runs inside
foreachPartition — here documented + unit-tested as SQL text, while the
parquet path below is the executable harness implementation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_migrate_api_spark.sinks.tables import HashBucketedTable, ParquetTable


def upsert_by_key(table: ParquetTable, batch: DataFrame, key: str) -> None:
    """MERGE semantics: replace existing rows with matching key, insert
    the rest (K2+K3 combined: the reference writes each key once with
    its final merged value — saveToPostgres.js:315-409 touches only the
    batch's rows).

    On a ``HashBucketedTable`` this is partition-pruned: only the key
    buckets present in the batch are read (anti-join side) and
    rewritten — per-batch cost ∝ batch's buckets, not table size. When
    the batch has more keys than the table has buckets, that is usually
    every bucket (a 1,000-key batch over 16 buckets rewrites all 16).
    On a plain ``ParquetTable`` it falls back to whole-table replace
    (the documented harness stand-in for Delta MERGE / JDBC
    staging+MERGE)."""
    if not table.exists():
        table.replace(batch)
        return
    if isinstance(table, HashBucketedTable):
        if table.key != key:
            # hard error, not assert: stripped asserts (python -O) would
            # let rows land in wrong buckets and pruned reads miss them
            raise ValueError(
                f"table bucketed on {table.key!r}, upsert on {key!r}"
            )
        # the batch is evaluated twice (bucket collect + the write) —
        # persist it so an expensive upstream plan (the merge fold)
        # computes once per micro-batch
        batch = batch.persist()
        try:
            buckets = table.buckets_of(batch)
            current = table.read_buckets(buckets)
            kept = current.join(batch.select(key).distinct(), key, "left_anti")
            table.replace_buckets(kept.unionByName(batch), buckets)
        finally:
            batch.unpersist()
        return
    current = table.read()
    kept = current.join(batch.select(key).distinct(), key, "left_anti")
    table.replace(kept.unionByName(batch))


def delete_beyond_watermark(
    table: ParquetTable,
    predicate: Column,
    bound: tuple[str, object] | None = None,
) -> int:
    """X2 recovery: drop rows a failed previous run may have written
    (``recid > lastId AND rectype = …``) before re-writing the batch.
    Returns the number of rows removed. The chunked-DELETE dance of the
    reference (D1/D2) collapses to one filtered replace.

    ``bound=(col, wm)`` declares that every victim satisfies
    ``col > wm`` (the caller's own predicate must imply it). When the
    table tracks an upper bound on ``max(col)`` (``track_max=`` +
    ``_maxbound.json`` sidecar) and that bound is ≤ wm, NO row can be a
    victim and the call returns 0 without reading a single data file —
    the common per-batch case on a healthy pipeline, where an unbounded
    recovery scan of a 100 TB sink would dominate the batch cost.

    Otherwise, on a ``HashBucketedTable`` only buckets that actually
    contain victims are rewritten (the victim scan reads the full
    table — the predicate is on arbitrary columns, not the bucket
    key)."""
    if not table.exists():
        return 0
    if bound is not None:
        col, wm = bound
        ub = table.max_bound(col)
        if ub is not None and wm is not None and ub <= wm:
            return 0
    current = table.read()
    # NULL predicate ≡ not a victim: plain where(~pred) would silently
    # drop rows where the predicate evaluates to NULL (NOT NULL = NULL)
    is_victim = F.coalesce(predicate, F.lit(False))
    if isinstance(table, HashBucketedTable):
        # ONE full-table victim scan yields both the count and the
        # bucket list (a separate .count() + buckets_of() pair would
        # read the whole table twice — exactly the amplification the
        # bound short-circuit above exists to avoid)
        per_bucket = (
            current.where(is_victim)
            .groupBy(table.bucket_expr().alias("b"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        victims = sum(int(r["n"]) for r in per_bucket)
        if victims:
            buckets = [int(r["b"]) for r in per_bucket]
            survivors = table.read_buckets(buckets).where(~is_victim)
            table.replace_buckets(survivors, buckets)
        return victims
    victims = current.where(is_victim).count()
    if victims:
        table.replace(current.where(~is_victim))
    return victims


def jdbc_upsert_stage_sql(
    target: str,
    staging: str,
    key: str,
    columns: list[str],
    dialect: str = "merge",
) -> str:
    """The production JDBC path: load the batch into a staging table
    with ``df.write.jdbc``, then run ONE set-based statement
    transactionally. Two dialects of the same contract (reference
    parity: ``ON CONFLICT`` saveToPostgres.js:369, server.js:114):

    - ``"merge"`` — Postgres ≥15 / ANSI ``MERGE INTO … USING staging``.
    - ``"on_conflict"`` — ``INSERT INTO … SELECT … FROM staging ON
      CONFLICT (key) DO UPDATE SET c = excluded.c``; one template that
      runs verbatim on Postgres, DuckDB and sqlite ≥3.24 (round-tripped
      against the latter two for real in
      tests/test_real_engine_upsert.py — no Postgres in this sandbox).
      Requires the staged batch to be key-unique (Postgres/DuckDB
      reject a second hit on one row per statement); the engine's
      merge fold emits exactly one row per key, satisfying this.

    A key-only table (no non-key columns) has nothing to update —
    MATCHED/CONFLICT becomes DO NOTHING (an empty UPDATE SET is a
    syntax error). Identifiers are validated, not quoted: this is a
    statement TEMPLATE for trusted schema names, and a name needing
    quoting should fail loudly here rather than at the database."""
    for ident in (target, staging, key, *columns):
        if not ident.replace("_", "").replace(".", "").isalnum():
            raise ValueError(f"identifier needs quoting, refusing: {ident!r}")
    cols = ", ".join(columns)
    sets = ", ".join(f"{c} = s.{c}" for c in columns if c != key)
    if dialect == "merge":
        vals = ", ".join(f"s.{c}" for c in columns)
        matched = (
            f"WHEN MATCHED THEN UPDATE SET {sets} "
            if sets
            else "WHEN MATCHED THEN DO NOTHING "
        )
        return (
            f"MERGE INTO {target} t USING {staging} s ON t.{key} = s.{key} "
            + matched
            + f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
        )
    if dialect == "on_conflict":
        conflict = (
            "DO UPDATE SET "
            + ", ".join(f"{c} = excluded.{c}" for c in columns if c != key)
            if sets
            else "DO NOTHING"
        )
        # WHERE true disambiguates sqlite's parse (ON would otherwise
        # read as a join clause of the SELECT — documented sqlite upsert
        # quirk); Postgres and DuckDB accept it unchanged
        return (
            f"INSERT INTO {target} ({cols}) SELECT {cols} FROM {staging} "
            f"WHERE true ON CONFLICT ({key}) {conflict}"
        )
    raise ValueError(f"unknown dialect {dialect!r}; use 'merge' or 'on_conflict'")
