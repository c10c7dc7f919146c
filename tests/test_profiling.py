"""Cap-profile advisor (VERDICT r7 #3): the recommendation must
reproduce the measured SCALE.md tables, not just run.

The measured facts it is held to:
- natural sf1.0 bucket profile = 29,695 buckets / max 79 / p99.9 30,
  where every cap was a no-op → the advisor must say None;
- planted 5000-doc skew tier: caps in [100, 1000] cut 34.2 s → 2.3 s
  keeping 702/702 natural edges → the advisor's cap must land inside
  that band;
- sf1.0 df table: max df well under 10× p99.9 (caps were no-ops /
  pure window cost) → None.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from acled_spark.profiling import profile_buckets, profile_caps
from acled_spark.queries.dedup import (
    lsh_candidate_edges,
    minhash_bands_spark,
    ngram_jaccard_pairs,
)
from acled_spark.tables import load

SF_DIR = "/root/testdata/sf0.001"
HEAVY_DIR = ".benchdata/sf1"


def test_profile_exact_percentiles_decades_and_recommendation(spark):
    """Hand-computable distribution: 990 singleton buckets, 9 of size
    20, one 5000-doc monster.  Exact percentiles (no sketch), decade
    histogram, and the tail rule rec = 10 * p999."""
    rows = []
    doc = 0
    for k in range(990):
        rows.append((doc, 0, f"s{k}")); doc += 1
    for k in range(9):
        for _ in range(20):
            rows.append((doc, 0, f"m{k}")); doc += 1
    for _ in range(5000):
        rows.append((doc, 0, "hot")); doc += 1
    bands = spark.createDataFrame(
        rows, "doc_id long, band_id int, band_key string"
    )
    p = profile_buckets(bands)
    assert (p.n_keys, p.total, p.max_size) == (1000, 6170, 5000)
    assert (p.p50, p.p99, p.p999) == (1, 1, 20)
    assert p.decades == [(0, 990), (1, 9), (3, 1)]
    assert p.tail_detected and p.recommended_cap == 200


def test_profile_empty_frame(spark):
    bands = spark.createDataFrame(
        [], "doc_id long, band_id int, band_key string"
    )
    p = profile_buckets(bands)
    assert p.n_keys == 0 and p.recommended_cap is None


def test_bounded_natural_corpus_recommends_no_cap(spark):
    """sf0.001 natural documents: bounded df and bucket tails — the
    advisor must NOT recommend a cap (a no-op cap still pays its
    df-window shuffle, the measured +25% lesson)."""
    docs = load(spark, SF_DIR, "documents", spread=True)
    assert profile_caps(docs).recommended_cap is None
    assert profile_buckets(minhash_bands_spark(docs)).recommended_cap is None


def test_boilerplate_tail_detected_and_cap_keeps_signal(spark):
    """A 1500-doc boilerplate gram over an otherwise-unique corpus:
    the advisor detects the tail, and engaging ITS cap drops the
    quadratic mass while the genuine near-dup pair survives."""
    boiler = "all rights reserved"
    rows = [
        (i, f"unique body {i} alpha{i} beta{i} gamma{i} {boiler}",
         "en", "t", 40)
        for i in range(1500)
    ] + [
        (9001, "the quick brown fox jumps over the lazy dog today",
         "en", "t", 50),
        (9002, "the quick brown fox jumps over the lazy dog tonight",
         "en", "t", 51),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    p = profile_caps(docs)
    assert p.tail_detected
    assert p.max_size == 1500          # the planted gram's df
    assert p.recommended_cap < 1500    # the cap actually engages
    got = ngram_jaccard_pairs(docs, max_doc_freq=p.recommended_cap)
    pairs = {(r["doc1"], r["doc2"]) for r in got.collect()}
    assert (9001, 9002) in pairs       # true near-dup evidence kept
    assert len(pairs) < 1000           # the ~1.1M boilerplate pairs gone


@pytest.mark.skipif(
    not os.path.isdir(HEAVY_DIR),
    reason="heavy tier not generated (tools/gen_heavy_tier.py)",
)
def test_sf1_profiles_reproduce_measured_tables(spark):
    """The advisor against the ACTUAL corpora the SCALE.md tables were
    measured on.  Natural tier: the exact recorded bucket profile
    (29,695 / max 79 / p99.9 30) and no cap on either knob.  Planted
    5000-doc skew (the round-7 measurement's construction): a cap
    inside the measured-good [100, 1000] band."""
    docs = load(spark, HEAVY_DIR, "documents", spread=True)
    pb = profile_buckets(minhash_bands_spark(docs))
    assert (pb.n_keys, pb.max_size, pb.p999) == (29695, 79, 30)
    assert pb.recommended_cap is None
    pc = profile_caps(docs)
    assert pc.recommended_cap is None  # max df 140 <= 10 * p999 100
    from acled_spark.profiling import profile_blocks

    pe = profile_blocks(load(spark, HEAVY_DIR, "embeddings"))
    # 10 uniform ~2,000-vector quantizer cells (max 2,180, median
    # 1,960): no tail, no cap — the SCALE.md §max_block natural row
    assert pe.n_keys == 10 and pe.max_size == 2180
    assert pe.recommended_cap is None

    planted = docs.unionByName(
        spark.range(5000).select(
            # clear of the tier's own doc_id + k*100_000_000 ranges
            # (k<=9): a collision would MERGE shingle sets per doc_id
            # and fragment the planted bucket
            (F.col("id") + 5_000_000_000).alias("doc_id"),
            F.lit("fixed boilerplate body repeated verbatim").alias("text"),
            F.lit("en").alias("lang"),
            F.lit("planted").alias("source"),
            F.lit(41).cast("long").alias("n_chars"),
        )
    )
    ps = profile_buckets(minhash_bands_spark(planted))
    assert ps.max_size == 5000
    assert ps.tail_detected
    assert 100 <= ps.recommended_cap <= 1000
    # the advisor's cap keeps every natural edge: capped edges over the
    # planted corpus ⊇ un-capped edges over the natural corpus
    nat = {
        (r["u"], r["v"])
        for r in lsh_candidate_edges(minhash_bands_spark(docs))
        .limit(1_000_000).collect()
    }
    capped = {
        (r["u"], r["v"])
        for r in lsh_candidate_edges(
            minhash_bands_spark(planted), max_bucket=ps.recommended_cap
        ).collect()
    }
    assert nat <= capped


def test_profile_blocks_small_key_fallback_detects_runaway_cell(spark):
    """Label-block profiles have tens of keys, not the shingle index's
    millions — p99.9 degenerates to the max there, so the bulk
    statistic falls back to the MEDIAN (SMALL_PROFILE_KEYS).  30
    natural 5-vector cells + one 500-vector runaway: detected, cap a
    decade above the bulk, and engaging it keeps every natural pair."""
    from acled_spark.profiling import profile_blocks
    from acled_spark.queries.dedup import embedding_cosine_pairs
    from acled_spark.queries.similarity import DIM

    def vec(seed):
        return [((seed * 31 + j * 7) % 13) / 13.0 for j in range(DIM)]

    rows = []
    vid = 0
    for lab in range(30):
        for k in range(5):
            rows.append((vid, lab, vec(lab * 10 + k))); vid += 1
    rows += [(10_000 + k, 99, vec(4)) for k in range(500)]
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    p = profile_blocks(emb)
    assert p.n_keys == 31 and p.max_size == 500 and p.p50 == 5
    assert p.tail_detected and p.recommended_cap == 50
    natural = {
        (r["vec1"], r["vec2"])
        for r in embedding_cosine_pairs(emb.filter(F.col("label") != 99)).collect()
    }
    capped = {
        (r["vec1"], r["vec2"])
        for r in embedding_cosine_pairs(emb, max_block=p.recommended_cap).collect()
    }
    assert capped == natural  # all natural pairs kept, runaway gone


def test_median_fallback_scoped_to_profile_blocks_only(spark):
    """ADVICE r9: the small-key MEDIAN fallback is profile_blocks'
    opt-in, not shared behavior — the SAME 31-key skewed distribution
    that makes profile_blocks recommend a cap must leave
    profile_buckets (and profile_caps' shared path) at None, because a
    sub-1000-key bucket/df population with spread sizes is a natural
    shape there and a median-based cap would wholesale-drop legitimate
    large keys (drop semantics lose all their pairs)."""
    rows = []
    doc = 0
    for k in range(30):
        for _ in range(5):
            rows.append((doc, 0, f"nat{k}")); doc += 1
    for _ in range(500):
        rows.append((doc, 0, "big")); doc += 1
    bands = spark.createDataFrame(
        rows, "doc_id long, band_id int, band_key string"
    )
    p = profile_buckets(bands)
    # identical histogram to the profile_blocks runaway test (30×5 +
    # 1×500) — there it fires with cap 50; here p99.9 degenerates to
    # the max, the tail test cannot fire, and that is the POINT
    assert p.n_keys == 31 and p.max_size == 500 and p.p50 == 5
    assert p.p999 == 500
    assert p.recommended_cap is None


def test_profile_blocks_uniform_cells_recommend_no_cap(spark):
    """Uniform quantizer cells (the natural embeddings shape at every
    tier): no tail, no cap — a cap here would only delete signal."""
    from acled_spark.profiling import profile_blocks

    emb = spark.range(600).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 12).cast("int").alias("label"),
        F.array(F.lit(1.0)).alias("embedding"),
    )
    p = profile_blocks(emb)
    assert p.n_keys == 12 and p.max_size == 50 and p.p50 == 50
    assert p.recommended_cap is None


def test_profile_blocks_excludes_null_labels(spark):
    """NULL-label vectors never pair (the blocking join is
    null-unsafe), so they must not distort the profile."""
    from acled_spark.profiling import profile_blocks

    emb = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.when(F.col("id") < 10, F.lit(0)).cast("int").alias("label"),
        F.array(F.lit(1.0)).alias("embedding"),
    )
    p = profile_blocks(emb)
    assert p.n_keys == 1 and p.max_size == 10
