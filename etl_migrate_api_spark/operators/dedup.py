"""Deduplication operators for LLM training-data pipelines
(BASELINE.json north star — absent from the reference, standard public
techniques: Broder MinHash-LSH, Charikar SimHash, n-gram Jaccard).

Design for 100 TB:
- Hashing is md5-based and engine-agnostic → the DuckDB oracle computes
  the *same* signatures (determinism is also what makes reruns/resumes
  idempotent at scale).
- Everything is pure column expressions until the candidate-pair
  self-join; LSH banding turns the O(n²) pair space into an equi-join on
  (band_idx, band_key) — shuffle-partitioned by band key, broadcast-free,
  skew handled by AQE.
- Exact dedup is a single hash aggregation (map-side partial) on the
  fingerprint.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_migrate_api_spark.functions.text import fingerprint

# PERF NOTE (measured 25× at sf0.1): an expression referenced inside a
# higher-order-function lambda is RE-EVALUATED PER ARRAY ELEMENT — Spark
# does no common-subexpression elimination into lambda bodies. Computing
# shingles as transform(seq, i -> substring(<regex-normalize(text)>, i, 5))
# runs the regex once per shingle. Every heavy operator below therefore
# materializes normalized text / token arrays as plain attribute columns
# (with a repartition barrier so CollapseProject can't inline them back,
# which also spreads CPU across cores when the input is a few small
# parquet splits).


def _materialize_and_release(out: DataFrame, *caches: DataFrame) -> DataFrame:
    """Eagerly compute the (small) result, then free the fat intermediate
    caches. Repeated operator invocations in a long-lived session would
    otherwise accumulate orphaned cached blocks (each call builds fresh
    DataFrames, so old caches are never reused — only leaked).

    The RETURNED DataFrame stays persisted (it's small — pairs/groups,
    not the corpus): callers that invoke an operator repeatedly in a
    long-lived session own calling ``.unpersist()`` when done with it."""
    out = out.persist()
    out.count()
    for c in caches:
        c.unpersist()
    return out


def num_partitions(df: DataFrame) -> int:
    """Partition count of ``df``'s physical plan.

    Probes the Java-side RDD first: same physical plan and count as
    ``df.rdd``, but skips wrapping it in the Python pickle serializer —
    measured 2x cheaper per call (0.06-0.09s vs 0.11-0.33s), and every
    :func:`_spread` pays it once per operator. ``_jdf`` is a private
    py4j surface (absent under Spark Connect), so any failure falls
    back to the public ``df.rdd``."""
    try:
        return df._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:
        return df.rdd.getNumPartitions()


def _spread_n(df: DataFrame) -> tuple[DataFrame, int]:
    """:func:`_spread` plus the resulting partition count, so callers
    can stack further shuffle-free ``coalesce(n)`` fences WITHOUT a
    second partition probe (each one re-plans the query on the
    driver — measured ~0.1 s per call on the fence-heavy operators)."""
    n = num_partitions(df)
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if n < parallelism:
        return df.repartition(parallelism), parallelism
    return df.coalesce(n), n


def _spread(df: DataFrame) -> DataFrame:
    """Projection barrier + parallelism for CPU-heavy narrow maps.

    Under-parallel inputs (a handful of parquet splits — the sf gate's
    single small files) get a real repartition: it spreads the regex /
    shingle CPU across every core AND blocks CollapseProject from
    inlining the materialized projection back into per-element lambda
    bodies (the measured 25× trap in the PERF NOTE above).

    Inputs that already arrive in >= defaultParallelism splits (any real
    100 TB scan) must NOT pay a corpus-wide shuffle just for the barrier:
    ``coalesce(n)`` plans a shuffle-free ``Repartition n, false`` node,
    which is an equally effective CollapseProject fence (plan-asserted in
    tests/test_plans.py) with zero data movement."""
    return _spread_n(df)[0]


def _spread_project(df: DataFrame, *cols) -> DataFrame:
    """Spread the RAW input first, THEN evaluate the heavy projection —
    at full parallelism — behind its own shuffle-free fence.

    ``_spread(df.select(id, heavy_expr))`` evaluates ``heavy_expr`` in
    the map stage BELOW the exchange, i.e. at the *input split count*
    (the sf gate's parquet files scan as 1-3 splits, so the tokenize /
    md5 chain that the spread exists to parallelize ran on 1-3 cores —
    measured: the simhash signature pass spent 1.9 s of its 2.5 s in
    that 3-task stage). Shuffling the raw text instead costs the same
    bytes and moves the heavy projection above the exchange, onto every
    core; the trailing ``coalesce`` fence keeps the projection an
    attribute column (CollapseProject cannot inline it into consumers'
    lambda bodies — the PERF NOTE trap). On already-parallel inputs
    (any real 100 TB scan) both branches stay shuffle-free.

    Filters belong on ``df`` (raw columns, below the exchange) — a
    filter on a PROJECTED column is predicate-pushed through the fence
    and re-evaluates the projection expression per row (the measured
    trap in minhash_lsh_candidates' note)."""
    spread, m = _spread_n(df)
    return spread.select(*cols).coalesce(m)


def _norm_text(c: str) -> Column:
    from etl_migrate_api_spark.functions.text import WS_CLASS

    return F.lower(F.regexp_replace(F.trim(F.col(c)), WS_CLASS, " "))


def _shingles_of_attr(t: str, k: int = 5) -> Column:
    """k-shingles of an ALREADY-NORMALIZED attribute column (cheap
    substring per element — safe inside the lambda)."""
    n = F.length(t)
    sh = F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)), lambda i: F.substring(F.col(t), i, k)
    )
    return F.when(n >= k, sh).otherwise(F.array().cast("array<string>"))

N_HASHES = 16
# 2 bands × 8 rows → LSH threshold ≈ (1/2)^(1/8) ≈ 0.92. Deliberately
# tight: the synthetic corpus draws from a tiny shingle vocabulary
# (~2k distinct shingles — measured), so looser bands (4×4, thr≈0.71)
# produce ~half a million low-jaccard candidates at sf0.1 and the verify
# join becomes the quadratic bottleneck. Near-dup detection wants the
# high-threshold regime anyway.
BAND_SIZE = 8

# Classic MinHash hash family: ONE md5 per shingle → 60-bit int, then
# n_hashes cheap modular permutations h_s = (a_s·h + b_s) mod P.
# (The first draft md5'd every (seed, shingle) pair — 16× the hashing
# and the dominant cost at sf0.1.) Constants are Knuth/Murmur-style
# multipliers reduced mod P; both engines evaluate the same literals.
MINHASH_P = 2_147_483_647  # 2^31 - 1


def _mh_coeff(tag: str, s: int, lo: int) -> int:
    """Independent per-seed coefficient from md5(tag, s) — NOT a linear
    function of s. The first version used a_s = (s+1)·A mod P,
    b_s = (s+1)·B mod P, which makes every permutation a scalar
    multiple of the first: π_s(h) = (s+1)·π_0(h) mod P. A shingle
    whose π_0 value is tiny then stays the minimum across MANY seeds
    at once (no mod wraparound until (s+1)·v ≥ P), so any two docs
    sharing one such popular shingle agreed on whole 8-row bands —
    measured 140× the theoretical band-collision rate on a Zipf corpus
    (1.1M candidate pairs at jaccard < 0.2 at sf1). Independent
    coefficients restore P(minhash match) = jaccard per seed."""
    import hashlib

    h = int(hashlib.md5(f"{tag}:{s}".encode()).hexdigest()[:15], 16)
    return lo + h % (MINHASH_P - lo)


MINHASH_PARAMS: list[tuple[int, int, int]] = [
    (s, _mh_coeff("a", s, 1), _mh_coeff("b", s, 0))
    for s in range(N_HASHES)
]


def minhash_params_sql_values() -> str:
    """(s, a, b) literals as a SQL VALUES list — the oracle uses the
    exact same hash family."""
    return ", ".join(f"({s}, {a}, {b})" for s, a, b in MINHASH_PARAMS)


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-duplicate groups: md5 fingerprint of normalized text →
    (fingerprint, keeper_id = min id, n_dups) for groups of size > 1."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .where(F.col("n_dups") > 1)
    )


def shingle_hashes(sh: Column) -> Column:
    """One 60-bit md5-derived int per shingle, reduced mod P."""
    return F.transform(
        sh,
        lambda x: F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("bigint")
        % MINHASH_P,
    )


def minhash_signature_from_hashes(hv: Column) -> Column:
    """MinHash signature as array<bigint> from a PRE-MATERIALIZED
    attribute column of shingle hash ints (see PERF NOTE — passing a
    hash *expression* here would re-run the md5s once per seed):
    sig[s] = min over shingles of (a_s·h + b_s) mod P."""
    a_arr = F.array(*[F.lit(a) for _, a, _ in MINHASH_PARAMS])
    b_arr = F.array(*[F.lit(b) for _, _, b in MINHASH_PARAMS])
    return F.transform(
        F.sequence(F.lit(0), F.lit(N_HASHES - 1)),
        lambda s: F.array_min(
            F.transform(
                hv,
                lambda x: (F.element_at(a_arr, s + 1) * x + F.element_at(b_arr, s + 1))
                % MINHASH_P,
            )
        ),
    )


def lsh_band_keys(sig: Column, n_hashes: int = N_HASHES, band_size: int = BAND_SIZE) -> Column:
    """Band the signature: array of (n_hashes/band_size) md5 band keys
    over the stringified signature ints."""
    n_bands = n_hashes // band_size
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.md5(
            F.array_join(
                F.transform(
                    F.slice(sig, b * band_size + 1, band_size),
                    lambda x: x.cast("string"),
                ),
                "|",
            )
        ),
    )


def _prefix_filter_candidates(base: DataFrame, prefix_len, pair_filter=None) -> DataFrame:
    """Shared AllPairs prefix-filter scaffold (used by both the Jaccard
    and the edit-distance matcher): give every token a global rare-first
    order (ascending document frequency, ties by token), explode each
    row's prefix, and equi-join on (blk, prefix-token).

    ``base``: (id, blk, g array) — persisted by the caller.
    ``prefix_len``: size-Column → length-Column; the operator-specific
    lossless bound (|g|-ceil(t·|g|)+1 for Jaccard ≥ t, k·n+1 for edit
    distance ≤ k). Returns candidate pairs (id_a < id_b), one row per
    shared prefix token — the caller takes the distinct.

    ``pair_filter``: optional (sz_a, sz_b, pos_a, pos_b) → bool Column
    evaluated INSIDE the join on each shared prefix token (positions are
    1-based within the globally-ordered gram array). A pair survives if
    ANY shared token passes — so any per-token predicate that is implied
    for *every* common token whenever the pair truly matches (PPJoin's
    length + positional filters are of this form) keeps the candidate
    set lossless while pruning it before the expensive verify join."""
    ex = base.select("id", "blk", F.explode("g").alias("gram"))
    freq = ex.groupBy("gram").agg(F.count(F.lit(1)).alias("df_g"))
    ordered = (
        ex.join(freq, "gram")
        .groupBy("id", "blk")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df_g", "gram"))),
                lambda s: s["gram"],
            ).alias("gs")
        )
    )
    pref = ordered.select(
        "id",
        "blk",
        F.size("gs").alias("sz"),
        F.posexplode(F.slice("gs", 1, prefix_len(F.size("gs")))).alias("p", "gram"),
    )
    on_pair = None
    if pair_filter is not None:
        on_pair = pair_filter(
            F.col("a.sz"),
            F.col("b.sz"),
            F.col("a.p") + 1,  # posexplode is 0-based; filters want 1-based
            F.col("b.p") + 1,
        )
    return band_self_join_pairs(pref, ["blk", "gram"], on_pair)


def fuzzy_match_pairs(
    df: DataFrame,
    text_col: str = "nm",
    id_col: str = "id",
    block_col: str | None = None,
    max_edit: int = 2,
    n: int = 2,
) -> DataFrame:
    """Fuzzy record matching: pairs within a blocking key whose
    Levenshtein distance ≤ ``max_edit`` — via the LOSSLESS ED-Join
    count-filter (Xiao/Wang/Lin, VLDB'08): k edits destroy at most k·n
    character n-grams, so under a global (rare-first) gram order two
    strings with ed ≤ k MUST share one of their first k·n+1 prefix
    grams. Candidates come from an equi-join on (blk, prefix-gram);
    exact Levenshtein is verified on candidates only — a hot block
    (one dominant brand) never goes all-pairs.

    Strings with ≤ k·n distinct grams carry no count-filter guarantee;
    they fall back to a within-(blk, |len| ≤ k window) candidate set —
    rare by construction (len < ~k·n+n), and pairs must satisfy the
    length filter |len_a − len_b| ≤ k anyway."""
    kn = max_edit * n
    s = F.col("t")
    gram_arr = F.when(
        F.length(s) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(s) - F.lit(n - 1)),
                lambda i: F.substring(s, i, n),
            )
        ),
    ).otherwise(F.array(s))
    base = (
        _spread(
            df.select(
                F.col(id_col).alias("id"),
                (F.col(block_col) if block_col else F.lit(1)).alias("blk"),
                F.col(text_col).alias("t"),
            )
        )
        .select("id", "blk", "t", gram_arr.alias("g"))
        .persist()
    )
    base.count()

    longs = base.where(F.size("g") > kn)
    cand_long = _prefix_filter_candidates(longs, lambda sz: F.lit(kn + 1))
    # short-string fallback: no count-filter guarantee → candidate with
    # every same-block string within the edit-distance length window
    shorts = base.where(F.size("g") <= kn).select("id", "blk", F.length("t").alias("ln"))
    others = base.select("id", "blk", F.length("t").alias("ln"))
    cand_short = (
        shorts.alias("s")
        .join(
            others.alias("o"),
            (F.col("s.blk") == F.col("o.blk"))
            & (F.col("s.id") != F.col("o.id"))
            & (F.abs(F.col("s.ln") - F.col("o.ln")) <= max_edit),
        )
        .select(
            F.least("s.id", "o.id").alias("id_a"),
            F.greatest("s.id", "o.id").alias("id_b"),
        )
    )
    cand = cand_long.unionByName(cand_short).distinct()
    dist = F.levenshtein(F.col("ta"), F.col("tb"))
    out = (
        attach_pair_sides(cand, base, {"t": ("ta", "tb")})
        .select("id_a", "id_b", dist.cast("int").alias("dist"))
        .where(F.col("dist") <= max_edit)
    )
    return _materialize_and_release(out, base)


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """(id, root) component labels for the undirected pair graph — the
    clustering step between near-dup PAIRS and a deduplicated corpus
    (keep one doc per component). Iterative min-label propagation:
    every node repeatedly adopts the smallest label among itself and
    its neighbors until a fixed point; root = the component's minimum
    id, so labels are deterministic.

    Each iteration is one join + one aggregate over the EDGE list
    (O(|E|) per round, ≤ diameter rounds — near-dup graphs are shallow
    star-ish clusters, so 2-3 rounds in practice); convergence is
    driver-checked, the standard Spark iterative-graph pattern. Label
    propagation is the scalable CC algorithm (GraphX/GraphFrames use
    the same shape)."""
    # localCheckpoint (not persist): iterative self-referencing plans
    # grow EXPONENTIALLY in the optimizer (each round embeds the prior
    # round's plan twice) — lineage must be truncated per round. On a
    # real cluster with lineage-loss concerns, swap for checkpoint()
    # against reliable storage.
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .unionByName(
            pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("root", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.v == labels.id)
            .groupBy("u")
            .agg(F.min("root").alias("nbr_root"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.u, "left_outer")
            .select(
                "id",
                F.least(
                    F.col("root"), F.coalesce(F.col("nbr_root"), F.col("root"))
                ).alias("root"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.root") != F.col("o.root"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter) — raise max_iter; "
            "returning partial labels would silently split components"
        )
    return labels


def band_self_join_pairs(
    banded: DataFrame, keys: list[str], pair_filter: Column | None = None
) -> DataFrame:
    """Candidate pairs (id_a < id_b) of an ``id``-keyed band table that
    agree on every column of ``keys``: the ONE join shape behind the
    whole near-dup family (MinHash bands, 64-bit hash chunks, embedding
    sign-bit bands, and the prefix-filter token joins all route through
    here). Kept as a named function so the skew-hardening tests exercise
    the exact production join: a boilerplate-heavy corpus makes one band
    key's shuffle partition quadratically hot, and AQE skew-join
    splitting (enabled in session.py) is the mitigation.

    ``pair_filter``: optional extra join predicate over the two sides,
    aliased ``a`` and ``b`` (e.g. ``F.col("a.sz") <= F.col("b.sz")``).

    Returns one row per shared band key; callers take the distinct —
    once, after unioning in any other candidate source (a distinct here
    and another after the union would cost a second shuffle)."""
    a = banded.alias("a")
    b = banded.alias("b")
    cond = reduce(
        lambda x, y: x & y, [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    ) & (F.col("a.id") < F.col("b.id"))
    if pair_filter is not None:
        cond = cond & pair_filter
    return a.join(b, cond).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
    )


def attach_pair_sides(
    pairs: DataFrame,
    side: DataFrame,
    cols: dict[str, tuple[str, str]],
    ids: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """The verify step's input: ``pairs`` joined twice to the ``id``-keyed
    ``side`` table, once per pair column of ``ids``. Each entry
    ``c: (name_a, name_b)`` of ``cols`` attaches ``side.c`` of the first
    id as ``name_a`` and of the second id as ``name_b``."""
    ia, ib = ids
    sa = side.select(
        F.col("id").alias(ia), *[F.col(c).alias(na) for c, (na, _) in cols.items()]
    )
    sb = side.select(
        F.col("id").alias(ib), *[F.col(c).alias(nb) for c, (_, nb) in cols.items()]
    )
    return pairs.join(sa, ia).join(sb, ib)


def _jaccard(a: str, b: str) -> Column:
    """Exact set Jaccard of two array columns, named ``jaccard``."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return (inter / union).alias("jaccard")


def minhash_signature_tables(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """(signatures, bands) for a corpus — the write-once MinHash store
    that makes near-dup detection INCREMENTAL at 100 TB.

    ``signatures``: (id, hv array<bigint>) — distinct shingle-hash ints
    (what exact-Jaccard verification needs).
    ``bands``: (id, band_idx, band_key) — the LSH index side.

    Persist both once (bands bucketed/partitioned by (band_idx,
    band_key), signatures by id); then each new ingest batch runs
    :func:`minhash_lsh_candidates_incremental` against them — cost ∝
    batch, not corpus. Deterministic md5 hashing means append-only
    updates never invalidate existing rows."""
    base = (
        _spread(df.select(F.col(id_col).alias("id"), _norm_text(text_col).alias("t")))
        .where(F.length("t") >= 5)
        .select(
            "id",
            F.array_distinct(shingle_hashes(_shingles_of_attr("t"))).alias("hv"),
        )
    )
    bands = base.select(
        "id",
        F.posexplode(lsh_band_keys(minhash_signature_from_hashes(F.col("hv")))).alias(
            "band_idx", "band_key"
        ),
    ).select("id", "band_idx", "band_key")
    return base, bands


def minhash_lsh_candidates_incremental(
    new_df: DataFrame,
    corpus_signatures: DataFrame,
    corpus_bands: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    new_tables: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Near-dup candidates of a NEW batch against an existing corpus
    store (plus within the batch itself), exact-Jaccard verified —
    without touching corpus text. Returns (id_a, id_b, jaccard) with
    id_a < id_b under the same contract as minhash_lsh_candidates.

    Scale shape: batch signatures are small → the bands join probes the
    corpus band index on (band_idx, band_key) (partition-pruned when the
    store is bucketed by band); the verify join fetches only candidate
    ids' signatures.

    CONTRACT: batch and corpus id spaces must be disjoint (same as the
    embedding twin) — a re-ingested id would duplicate signature rows
    and multiply its verify-join output; dedupe upstream by dropping
    already-stored ids from the batch first.

    ``new_tables``: optionally pass the batch's (signatures, bands) —
    already persisted by the caller — to avoid recomputing the
    normalize/shingle/md5/minhash chain when the caller also writes the
    tables to the store (the streaming ingest pass does); the operator
    then does NOT unpersist them."""
    if new_tables is not None:
        new_sigs, nb = new_tables
        owned: tuple[DataFrame, ...] = ()
    else:
        new_sigs, new_bands = minhash_signature_tables(new_df, text_col, id_col)
        new_sigs = new_sigs.persist()
        new_sigs.count()
        nb = new_bands.persist()
        nb.count()
        owned = (new_sigs, nb)
    # batch × corpus candidates
    cross = (
        nb.alias("n")
        .join(
            corpus_bands.alias("c"),
            (F.col("n.band_idx") == F.col("c.band_idx"))
            & (F.col("n.band_key") == F.col("c.band_key"))
            & (F.col("n.id") != F.col("c.id")),
        )
        .select(
            F.least("n.id", "c.id").alias("id_a"),
            F.greatest("n.id", "c.id").alias("id_b"),
        )
    )
    # batch × batch candidates
    within = band_self_join_pairs(nb, ["band_idx", "band_key"])
    pairs = cross.unionByName(within).distinct()
    sigs = corpus_signatures.unionByName(new_sigs)
    out = attach_pair_sides(pairs, sigs, {"hv": ("sh_a", "sh_b")}).select(
        "id_a", "id_b", _jaccard("sh_a", "sh_b")
    )
    return _materialize_and_release(out, *owned)


def minhash_lsh_candidates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-duplicate candidate pairs (id_a < id_b) sharing ≥1 LSH band,
    with exact shingle-Jaccard attached for verification.

    Plan shape: narrow map (signature) → posexplode bands → self
    equi-join on (band_idx, band_key) → distinct pairs → join back the
    two shingle sets → Jaccard as array_intersect/array_union sizes.
    """
    # Shingle STRINGS never leave the first projection: every downstream
    # consumer (signature, Jaccard verify) works on the md5-derived 60-bit
    # ints instead. Int arrays are ~10× cheaper to cache and to intersect
    # than 5-char string arrays, and md5 collisions at 2^60 are
    # negligible — the oracle hashes identically, so even a collision
    # would agree. At 100 TB `base` becomes a signature table written once.
    # Guard on length(t), NOT on size(hv): a size(hv)>0 filter gets
    # predicate-pushed below the repartition and re-evaluates the whole
    # shingle+hash chain at input-file parallelism (measured 4× slowdown).
    base = (
        _spread(df.select(F.col(id_col).alias("id"), _norm_text(text_col).alias("t")))
        .where(F.length("t") >= 5)
        .select(
            "id",
            F.array_distinct(shingle_hashes(_shingles_of_attr("t"))).alias("hv"),
        )
        .persist()
    )

    base.count()  # eager: branches below would otherwise race to compute it

    banded = base.select(
        "id",
        F.posexplode(lsh_band_keys(minhash_signature_from_hashes(F.col("hv")))).alias(
            "band_idx", "band_key"
        ),
    ).persist()
    pairs = band_self_join_pairs(banded, ["band_idx", "band_key"]).distinct()
    out = attach_pair_sides(pairs, base, {"hv": ("sh_a", "sh_b")}).select(
        "id_a", "id_b", _jaccard("sh_a", "sh_b")
    )
    return _materialize_and_release(out, base, banded)


# --------------------------------------------------------------------------
# SimHash (Charikar): 64-bit signature from md5 bits of distinct tokens,
# packed into two bigint halves (lo = bits 0..31, hi = 32..63) so hamming
# distance is bit_count(xor) — engine-agnostic and O(1) per pair.
# --------------------------------------------------------------------------

# Single pass over the token array: parse the md5 hex into two 32-bit
# ints ONCE per token (2 conv+substring — the previous nibble-at-a-time
# layout paid 16 conv+substring per token and allocated 16 nested
# 4-arrays; this cut the signature stage a further ~25% at sf0.1),
# expand to a 64-element 0/1 bit array with integer shifts only, and
# zip_with-accumulate per-bit ONES counts. Bit j of the simhash is 1
# iff the ±1 vote sum is positive, i.e. 2·ones[j] > n_tokens. The bit
# layout matches the original formulation exactly — bit j ← bit (j%4)
# of hex nibble (j div 4) + 1 (1-based): b1 big-endian-parses hex chars
# 1-8, so nibble p sits at shift 4·(8-p), giving bit j the shift
# 4·(7 - j div 4) + j%4 = 28 - 4·(j div 4) + j%4 (b2 likewise for hex
# chars 9-16 / bits 32-63). Verified bit-identical to the nibble layout
# on the full planted corpus and pinned in tests/test_spread_project.py.
#
# The first implementation evaluated a separate aggregate() over the
# token array PER BIT — 64 array passes each doing a substring+conv
# string parse per token (Spark does no CSE into lambda bodies, see the
# PERF NOTE above). Measured at sf0.1: 3.7 s → ~0.6 s for the
# signature stage with the one-pass layout.
#
# {hashes}: expression for array<struct<b1:bigint, b2:bigint>> — the
# parsed md5 halves per token (see _simhash_token_bits).
_SIMHASH_ONES = """
aggregate(
  {hashes},
  array_repeat(0L, 64),
  (acc, s) -> zip_with(
    acc,
    transform(sequence(0, 63),
      i -> if(i < 32,
              shiftright(s.b1, 28 - 4 * (i div 4) + i % 4),
              shiftright(s.b2, 28 - 4 * ((i - 32) div 4) + (i - 32) % 4)) & 1),
    (a, x) -> a + x))
"""


def _simhash_token_bits(hashes: str) -> str:
    """array<struct<b1,b2>> of parsed md5 halves from ``hashes`` (SQL
    expression for array<string> of md5 hex digests). ``h`` is a lambda
    VARIABLE, so each digest is read (not recomputed) per field."""
    return (
        f"transform({hashes}, "
        "h -> struct(cast(conv(substring(h, 1, 8), 16, 10) as bigint) as b1, "
        "cast(conv(substring(h, 9, 8), 16, 10) as bigint) as b2))"
    )


# Full chain from raw text to the parsed-halves array: tokenize →
# distinct → md5 (inner transform; evaluated once per token) → parse
# halves (outer transform over the md5 lambda variable).
_SIMHASH_TEXT_BITS = (
    "transform(transform(array_distinct(filter(split(lower(trim({t})), "
    "'[ \\\\t\\\\r\\\\n\\\\f]+'), x -> x != '')), t -> md5(t)), "
    "h -> struct(cast(conv(substring(h, 1, 8), 16, 10) as bigint) as b1, "
    "cast(conv(substring(h, 9, 8), 16, 10) as bigint) as b2))"
)

#: a document contributes a signature iff it has ≥1 token after the
#: [ \t\r\n\f]+ split — i.e. iff the RAW text has one non-separator
#: char. Filtering on this (cheap, raw-column) predicate below the
#: spread exchange is exactly equivalent to size(tokens) > 0 but cannot
#: be predicate-pushed into a re-evaluation of the tokenize chain.
_HAS_TOKEN_RE = "[^ \\t\\r\\n\\f]"

# Pack ones-counts back into a bigint half: bit i of the half (i in
# 0..31) is set iff 2·ones[{base} + i] > n (strict majority of +1
# votes — identical to "vote sum > 0" since sum = 2·ones − n).
_SIMHASH_PACK_HALF = """
aggregate(
  sequence(0, 31),
  cast(0 as bigint),
  (a, i) -> a + if(2 * element_at(ones, i + {base} + 1) > n,
                   shiftleft(cast(1 as bigint), i), cast(0 as bigint)))
"""


def simhash_df(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash_lo, simhash_hi) per document.

    Two materialization fences above the spread: the parsed token-hash
    structs first (ones + size both read them), then the ones array +
    token count (both halves read it 32× — without the fence
    CollapseProject would inline the whole one-pass aggregate into each
    half and run it twice). The tokenize+md5 chain itself evaluates
    ABOVE the spread exchange — on every core, not at input-split
    parallelism (see _spread_project)."""
    raw, m = _spread_n(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
        # token-less (empty/whitespace-only) docs: the oracle's sig CTE
        # has no row for them (group-by over zero tok rows), and every
        # such doc would get signature (0,0) — m empty docs pair
        # m²/2-fold at hamming 0 through one (chunk, 0) shuffle
        # partition. Drop them BEFORE banding, like the minhash path's
        # length>=5 filter — on the RAW column (exactly equivalent to
        # size(tokens) > 0, and not re-evaluable by predicate pushdown).
        .where(F.col("_t").rlike(_HAS_TOKEN_RE))
    )
    tb = raw.select(
        "id", F.expr(_SIMHASH_TEXT_BITS.format(t="_t")).alias("tb")
    ).coalesce(m)
    ones = tb.select(
        "id",
        F.expr(_SIMHASH_ONES.format(hashes="tb")).alias("ones"),
        F.size("tb").alias("n"),
    )
    # shuffle-free CollapseProject fence (same trick as _spread's
    # coalesce branch): keeps `ones` evaluated once, not once per half.
    ones = ones.coalesce(m)
    lo = F.expr(_SIMHASH_PACK_HALF.format(base=0))
    hi = F.expr(_SIMHASH_PACK_HALF.format(base=32))
    return ones.select("id", lo.alias("simhash_lo"), hi.alias("simhash_hi"))


# The classic Manku/Jain/Das Sarma (WWW'07) 64-bit layout: 4 × 16-bit
# chunks. Pigeonhole: hamming ≤ 3 < 4 chunks ⇒ at least one chunk is
# IDENTICAL, so equality-blocking on chunks has guaranteed 100% recall —
# this is the full-scale SimHash index layout, not a lossy approximation.
SIMHASH_CHUNKS: list[tuple[str, int, int]] = [
    # (half of an (id, lo, hi) signature table, start_bit_within_half, width)
    ("lo", 0, 16),
    ("lo", 16, 16),
    ("hi", 0, 16),
    ("hi", 16, 16),
]


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """ALL pairs with simhash hamming distance ≤ max_hamming (default 3,
    the production near-dup threshold for 64-bit SimHash).

    Scale path: each signature is cut into 4 × 16-bit chunks;
    candidates are pairs sharing any (chunk_idx, chunk_value) — an
    equi-join, never a cross-join — and exact hamming is verified on
    candidates. By pigeonhole (max_hamming < 4) the blocking loses
    NOTHING, so the result is the exact ≤-max_hamming pair set and the
    oracle is the plain all-pairs formulation."""
    if max_hamming >= len(SIMHASH_CHUNKS):
        raise ValueError(
            f"pigeonhole recall guarantee needs max_hamming < {len(SIMHASH_CHUNKS)}"
        )
    s = simhash_df(df, text_col, id_col).persist()  # both sides of the self-join
    s.count()
    out = hamming64_pairs(
        s.select(
            "id",
            F.col("simhash_lo").alias("lo"),
            F.col("simhash_hi").alias("hi"),
        ),
        max_hamming,
    )
    return _materialize_and_release(out, s)


def hamming64_pairs(sigs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """ALL pairs from a 64-bit signature table ``(id, lo, hi)`` with
    hamming distance ≤ ``max_hamming`` — the Manku 4×16-bit pigeonhole
    blocking shared by text SimHash and image pHash (any 64-bit
    perceptual signature routes through here): candidates share one
    identical 16-bit chunk (guaranteed-lossless for max_hamming < 4),
    exact ``bit_count(xor)`` verifies. The input should be cheap to
    recompute or persisted by the caller (read 3×: banding + both
    verify sides)."""
    if max_hamming >= len(SIMHASH_CHUNKS):
        raise ValueError(
            f"pigeonhole recall guarantee needs max_hamming < {len(SIMHASH_CHUNKS)}"
        )
    chunks = F.array(
        *[
            F.shiftright(F.col(half), start).bitwiseAND(F.lit((1 << width) - 1))
            for half, start, width in SIMHASH_CHUNKS
        ]
    )
    banded = sigs.select("id", F.posexplode(chunks).alias("ci", "cv"))
    cand = band_self_join_pairs(banded, ["ci", "cv"]).distinct()
    ham = F.expr("bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b)")
    return (
        attach_pair_sides(cand, sigs, {"lo": ("lo_a", "lo_b"), "hi": ("hi_a", "hi_b")})
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
    n: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """Word n-gram Jaccard ≥ threshold for pairs within a blocking key,
    via a LOSSLESS prefix filter (AllPairs / PPJoin, Bayardo et al.
    WWW'07): under a global token order, two sets with Jaccard ≥ t must
    share a token within each side's first |g| - ceil(t·|g|) + 1 tokens.
    Candidates come from an equi-join on (blk, prefix-token); exact
    Jaccard is verified on candidates only. Ordering tokens by ascending
    global frequency puts rare grams in the prefix, so a hot block (one
    dominant source) no longer goes |block|² — pair cost follows shared-
    rare-gram document frequency, and results are EXACTLY the all-pairs
    answer (the filter has zero false negatives, so the oracle stays the
    plain within-block formulation)."""
    # tokens as an attribute column first (PERF NOTE above), then n-grams
    # as cheap slice/join over the attribute
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), "[ \\t\\r\\n\\f]+"),
        lambda x: x != ""
    )
    with_toks = _spread(
        df.select(
            F.col(id_col).alias("id"),
            (F.col(block_col) if block_col else F.lit(1)).alias("blk"),
            toks.alias("tk"),
        )
    )
    cnt = F.size("tk")
    grams = F.transform(
        F.sequence(F.lit(1), cnt - F.lit(n - 1)),
        lambda i: F.array_join(F.slice(F.col("tk"), i, n), " "),
    )
    # gram STRINGS never leave this projection: downstream (frequency
    # count, prefix explode, exact-Jaccard verify) works on md5-derived
    # 60-bit ints — ~10× cheaper to shuffle/cache/intersect, and
    # distinct-gram counts are identical barring 2⁻⁶⁰ collisions (the
    # same accepted trade as the MinHash shingle path above).
    # Guard on the cheap token count, not on size(grams) — a size filter
    # would be predicate-pushed below the repartition and re-evaluate the
    # gram chain at input parallelism (see minhash note above).
    base = (
        with_toks.where(cnt >= n)
        .select("id", "blk", F.array_distinct(shingle_hashes(grams)).alias("g"))
        .persist()
    )
    base.count()  # eager: freq + prefix + verify branches reuse it

    # PPJoin length + positional filters (Xiao/Wang/Lin/Yu, WWW'08),
    # both lossless: Jaccard(a,b) ≥ t ⟺ overlap ≥ α := ⌈t/(1+t)·(sa+sb)⌉
    # (ε guards float-exact-integer ceil flips — pruning-only, verify is
    # exact). For ANY token common to a and b at ordered positions
    # (pa, pb): common tokens before it ≤ min(pa,pb)−1 (global order!),
    # after it ≤ min(sa−pa, sb−pb), so overlap ≤ min(pa,pb) +
    # min(sa−pa, sb−pb). Pairs where no prefix token meets the bound
    # cannot reach α — measured at sf0.1 this cuts the candidate set
    # 648k → ~4k pairs for the same 256-pair answer.
    def _ppjoin_filter(sa, sb, pa, pb):
        alpha = F.ceil(F.lit(threshold / (1.0 + threshold)) * (sa + sb) - F.lit(1e-9))
        overlap_ub = F.least(pa, pb) + F.least(sa - pa, sb - pb)
        return (F.least(sa, sb) >= alpha) & (overlap_ub >= alpha)

    cand = _prefix_filter_candidates(
        base,
        lambda sz: (sz - F.ceil(F.lit(threshold) * sz) + 1).cast("int"),
        pair_filter=_ppjoin_filter,
    ).distinct()
    out = (
        attach_pair_sides(cand, base, {"g": ("ga", "gb")})
        .select("id_a", "id_b", _jaccard("ga", "gb"))
        .where(F.col("jaccard") >= threshold)
    )
    return _materialize_and_release(out, base)


# ---------------------------------------------------------------------------
# C4-style span dedup (sub-document): shared by the batch queries
# (plans/llm_curation.py llm_span_dedup / llm_span_dedup_incremental)
# and the streaming ingest pass (streaming/pipeline.py span_dedup_stream)
# ---------------------------------------------------------------------------


def doc_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 10,
) -> DataFrame:
    """(id, span_idx, span, n_spans_total): consecutive ``span_words``-
    word spans per document — pure expressions (transform over sequence
    + slice), no Python. ``n_spans_total`` is the doc's pre-dedup span
    count (one narrow window over the doc key)."""
    w_doc = Window.partitionBy(id_col)
    tk = F.split(text_col, " ")
    n_spans = F.ceil(F.size(tk) / F.lit(float(span_words))).cast("int")
    return docs.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.array_join(
                    F.slice(tk, i * span_words + 1, span_words), " "
                ),
            )
        ).alias("span_idx", "span"),
    ).withColumn("n_spans_total", F.count(F.lit(1)).over(w_doc).cast("int"))


def span_first_occurrence(spans: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Keep each distinct span's first occurrence by (id, span_idx) —
    the C4 rule. One shuffle, hash-partitioned on the span text (the
    span travels anyway for reassembly); a boilerplate-heavy hot span's
    duplicate set IS its partition, AQE skew-split handles pathology."""
    w = Window.partitionBy("span").orderBy(id_col, "span_idx")
    return (
        spans.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def reassemble_spans(kept: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Surviving spans → (id, text_dedup, n_spans_kept, n_spans_total);
    docs with zero surviving spans vanish (C4 semantics)."""
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("span_idx", "span"))),
                lambda s: s.span,
            ),
            " ",
        ).alias("text_dedup"),
        F.count(F.lit(1)).cast("int").alias("n_spans_kept"),
        F.max("n_spans_total").alias("n_spans_total"),
    )


def span_dedup_surviving(
    batch_docs: DataFrame,
    store_hashes: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 10,
) -> DataFrame:
    """The ONE store-anti-join contract (md5(span) vs store.h) shared by
    the batch operator and the streaming ingest pass: the batch's spans
    with every already-stored span removed, reduced to first occurrences.
    ``store_hashes=None`` ≡ empty store (first batch)."""
    spans = doc_spans(batch_docs, text_col, id_col, span_words)
    if store_hashes is not None:
        spans = spans.join(
            store_hashes, F.md5(spans.span) == store_hashes.h, "left_anti"
        )
    return span_first_occurrence(spans, id_col)


def span_dedup_incremental(
    batch_docs: DataFrame,
    store_hashes: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 10,
) -> tuple[DataFrame, DataFrame]:
    """Clean a NEW batch against the persisted span-hash store:
    returns ``(cleaned_docs, fresh_hashes)`` where ``fresh_hashes`` is
    the batch's surviving distinct md5(span) hashes — exactly the rows
    to append to the store. The store is 16-byte hashes, not raw spans
    (at 100 TB ~2% of corpus bytes; the anti-join shuffles hashes only);
    corpus text is never rescanned. Callers that consume BOTH outputs
    should persist span_dedup_surviving's result themselves (as the
    streaming pass does) — each output re-runs the span chain
    otherwise."""
    kept = span_dedup_surviving(
        batch_docs, store_hashes, text_col, id_col, span_words
    )
    cleaned = reassemble_spans(kept, id_col)
    fresh = kept.select(F.md5("span").alias("h")).distinct()
    return cleaned, fresh
