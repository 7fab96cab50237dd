"""Planted-skew hardening for the band-join dedup family.

The classic web-scrape failure mode: 20% of the corpus shares a
boilerplate template, so every one of those documents lands identical
LSH bands — ONE (band_idx, band_key) shuffle partition goes
quadratically hot and becomes the stage straggler at 100 TB. The
mitigation is AQE skew-join splitting (enabled in ``session.py``).

These tests plant that skew, shrink the AQE size thresholds to
test-data scale (the *mechanism* is scale-invariant; only the byte
thresholds differ from production), execute the exact production join
(:func:`operators.dedup.band_self_join_pairs` — the one join shape
behind the whole near-dup family: MinHash-LSH bands, 64-bit hash chunks
(SimHash, pHash), embedding sign-bit bands and the prefix-filter token
joins), and assert on the FINAL adaptive plan that the hot partition
was actually split (``SortMergeJoin(skew=true)``) — plus that the split
changed no results.
"""

from __future__ import annotations

import random
from contextlib import contextmanager

import pyspark.sql.functions as F
import pytest

from etl_migrate_api_spark.operators.dedup import (
    SIMHASH_CHUNKS,
    _norm_text,
    _shingles_of_attr,
    _spread,
    band_self_join_pairs,
    lsh_band_keys,
    minhash_signature_from_hashes,
    shingle_hashes,
    simhash_df,
)
from etl_migrate_api_spark.operators.similarity import embedding_band_table

N_DOCS = 4000
HOT_IDS = frozenset(range(0, N_DOCS, 5))  # 20% boilerplate


@pytest.fixture(scope="module")
def skewed_corpus(spark):
    boiler = (
        "subscribe to our newsletter terms of service apply all rights "
        "reserved click here to unsubscribe privacy policy cookie settings "
    ) * 3
    rows = [
        (
            i,
            boiler
            if i in HOT_IDS
            # diverse pseudo-random tokens: cold docs share (almost) no
            # bands, so the hot band dominates the shuffle distribution
            else " ".join(f"w{(i * 31 + j * 17) % 9973}" for j in range(30)),
        )
        for i in range(N_DOCS)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@contextmanager
def _aqe_skew_at_test_scale(spark):
    """Shrink AQE's skew thresholds to test-data sizes and force the
    shuffled join path (broadcast would dodge the shuffle entirely).
    Restores every key afterwards — other tests must see stock configs."""
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512b",
    }
    old = {}
    for k in overrides:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _minhash_banded(df):
    base = (
        _spread(df.select(F.col("doc_id").alias("id"), _norm_text("text").alias("t")))
        .where(F.length("t") >= 5)
        .select(
            "id",
            F.array_distinct(shingle_hashes(_shingles_of_attr("t"))).alias("hv"),
        )
    )
    return base.select(
        "id",
        F.posexplode(
            lsh_band_keys(minhash_signature_from_hashes(F.col("hv")))
        ).alias("band_idx", "band_key"),
    )


def _simhash_banded(df):
    s = simhash_df(df, "text", "doc_id").select(
        "id", F.col("simhash_lo").alias("lo"), F.col("simhash_hi").alias("hi")
    )
    chunks = F.array(
        *[
            F.shiftright(F.col(half), start).bitwiseAND(F.lit((1 << width) - 1))
            for half, start, width in SIMHASH_CHUNKS
        ]
    )
    return s.select("id", F.posexplode(chunks).alias("ci", "cv"))


def _embedding_banded(spark):
    """Embedding sign-bit bands: every boilerplate doc embeds to the same
    vector (one source label), so it lands one identical key per band.
    2 bands x 16 planes keep the cold vectors spread over 2^16 keys."""
    rng = random.Random(7)
    hot_vec = [rng.uniform(-1, 1) for _ in range(64)]
    rows = [
        (i, 0, hot_vec)
        if i in HOT_IDS
        else (i, i % 4, [rng.uniform(-1, 1) for _ in range(64)])
        for i in range(N_DOCS)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    return embedding_band_table(emb, n_bands=2, band_size=16)


def _assert_skew_split(spark, banded, keys):
    pairs = band_self_join_pairs(banded, keys).distinct()
    with _aqe_skew_at_test_scale(spark):
        # collect() executes THIS DataFrame's own query execution — the
        # only way the executedPlan below is the finalized adaptive plan
        # of the join we're asserting on (count() would plan separately)
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, (
        "AQE did not split the planted hot band:\n"
        + "\n".join(l for l in plan.splitlines() if "Join" in l)
    )
    # the split is a physical re-plan only — every boilerplate pair must
    # still be found exactly once (distinct output, full hot clique)
    hot = sorted(HOT_IDS)
    n_hot_pairs = len(hot) * (len(hot) - 1) // 2
    assert sum((a in HOT_IDS) and (b in HOT_IDS) for a, b in got) == n_hot_pairs
    return got


def test_minhash_band_join_splits_hot_band(spark, skewed_corpus):
    _assert_skew_split(spark, _minhash_banded(skewed_corpus), ["band_idx", "band_key"])


def test_simhash_chunk_join_splits_hot_chunk(spark, skewed_corpus):
    _assert_skew_split(spark, _simhash_banded(skewed_corpus), ["ci", "cv"])


def test_embedding_band_join_splits_hot_band(spark):
    _assert_skew_split(spark, _embedding_banded(spark), ["blk", "band_idx", "band_key"])
