"""Hot-shingle (degenerate LSH bucket) hardening for MinHash dedup.

A boilerplate footer shared by every document puts a globally-common
shingle's hash as the band minimum for a large fraction of the corpus —
one band bucket then holds hundreds of docs and its pairs go
quadratic. The MAX_BAND_WIDTH cap must (a) collapse that blowup and
(b) still surface genuine near-duplicate pairs, whose matching bands come
from their SHARED CONTENT shingles (bucket width ≈ 2, far under the cap).
"""

import random

import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark.operators.dedup import (
    MAX_BAND_WIDTH,
    lsh_band_candidates,
    minhash_lsh_pairs,
    minhash_signatures,
)

N_DOCS = 200
FOOTER = " ".join(f"legal{i} boiler{i}" for i in range(30))  # 60 words → ~58 hot shingles


@pytest.fixture(scope="module")
def hot_docs(spark):
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(500)]
    rows = []
    for d in range(N_DOCS):
        words = [vocab[rng.randrange(500)] for _ in range(40)]
        rows.append((d, " ".join(words) + " " + FOOTER))
    # one genuine near-dup pair: same base text, 1 word changed
    base = [vocab[rng.randrange(500)] for _ in range(40)]
    rows.append((N_DOCS, " ".join(base) + " " + FOOTER))
    mutated = list(base)
    mutated[3] = "changed"
    rows.append((N_DOCS + 1, " ".join(mutated) + " " + FOOTER))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_cap_collapses_hot_band_blowup(spark, hot_docs):
    sigs = minhash_signatures(hot_docs).localCheckpoint(eager=False)
    uncapped = lsh_band_candidates(sigs, max_band_width=1 << 30).count()
    capped = lsh_band_candidates(sigs, max_band_width=MAX_BAND_WIDTH).count()
    # the footer drives most of the corpus into a handful of band buckets
    assert uncapped > 3000, uncapped
    # the cap drops those degenerate buckets: candidates shrink by >5×
    assert capped * 5 < uncapped, (capped, uncapped)


def test_python_signatures_match_min_sigs_twin(spark, hot_docs):
    """The r7 one-stage Arrow signature computation must emit the exact
    md5 min-hashes of the _min_sigs SQL twin (the seed/hash format the
    DuckDB oracle mirrors), and the same doc set (zero-shingle docs
    dropped) plus identical gram lists as grams_udf."""
    from pdf_extraction_spark.operators.dedup import _min_sigs, grams_udf

    docs = hot_docs.unionByName(
        spark.createDataFrame(
            [(9001, "one two"), (9002, ""), (9003, None)],
            "doc_id long, text string",
        )
    )
    got = minhash_signatures(docs).orderBy("doc_id").collect()
    grams = docs.select("doc_id", grams_udf(F.col("text")).alias("grams"))
    want = (
        grams.join(_min_sigs(grams), "doc_id", "inner")
        .orderBy("doc_id")
        .collect()
    )
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for a, b in zip(got, want):
        assert a["grams"] == b["grams"], a["doc_id"]
        for s in range(8):
            assert a[f"mh{s}"] == b[f"mh{s}"], (a["doc_id"], s)


def test_true_neardup_pair_survives_cap(spark, hot_docs):
    pairs = minhash_lsh_pairs(hot_docs, max_band_width=MAX_BAND_WIDTH)
    hit = pairs.filter((F.col("doc_a") == N_DOCS) & (F.col("doc_b") == N_DOCS + 1)).collect()
    assert len(hit) == 1
    assert hit[0]["jaccard"] > 0.8  # near-identical docs


def test_neardup_clusters_chain_and_islands(spark, monkeypatch):
    """Min-label propagation: a 4-doc chain (diameter 3 — needs multiple
    rounds), a 2-doc island, and a triangle all resolve to their min-id
    keeper; docs absent from pairs never appear. Both connected-components
    paths: the driver union-find (default edge cap) and the distributed
    star contraction (cap 0)."""
    from pdf_extraction_spark.operators import dedup

    pairs = spark.createDataFrame(
        # chain 1-2-3-4, island 10-11, triangle 20-21-22
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "doc_a long, doc_b long",
    )
    for cap in (dedup.CC_LOCAL_EDGE_CAP, 0):
        monkeypatch.setattr(dedup, "CC_LOCAL_EDGE_CAP", cap)
        got = {r["doc_id"]: r["keeper"] for r in dedup.neardup_clusters(pairs).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_salted_join_equals_plain_join(spark):
    """Salting is internal: the salted join's output must equal the plain
    join's, including under a pathologically hot key."""
    from pdf_extraction_spark.operators.skew import salted_join

    facts = spark.createDataFrame(
        [(1, float(i)) for i in range(500)] + [(2, 1.0), (3, 2.0)],
        "k long, v double",
    )  # key 1 is hot: 500 of 502 rows
    dim = spark.createDataFrame([(1, "a"), (2, "b"), (4, "d")], "k long, tag string")
    got = salted_join(facts, dim, "k").orderBy("k", "v").collect()
    want = facts.join(dim, "k").orderBy("k", "v").collect()
    assert got == want
    # salt actually spreads the hot key across sub-partitions
    from pyspark.sql import functions as F

    n_salts = (
        facts.withColumn("_salt", F.pmod(F.xxhash64("k", "v"), F.lit(8)))
        .filter(F.col("k") == 1).select("_salt").distinct().count()
    )
    assert n_salts >= 4


def test_salted_join_rejects_dim_preserving_outer(spark):
    """right/full outer would emit each unmatched dim row n_salt times;
    the operator must refuse rather than silently diverge from the plain
    join (r2 advice)."""
    import pytest as _pytest

    from pdf_extraction_spark.operators.skew import salted_join

    facts = spark.createDataFrame([(1, "a")], "k int, v string")
    dim = spark.createDataFrame([(1, "x"), (2, "y")], "k int, d string")
    for how in ("right", "full", "outer", "left_anti"):
        with _pytest.raises(ValueError):
            salted_join(facts, dim, "k", how=how)
    # the fact-preserving forms still work
    assert salted_join(facts, dim, "k", how="inner").count() == 1
    assert salted_join(facts, dim, "k", how="left").count() == 1


def test_grams_udf_matches_hof_sql_twin(spark):
    """grams_udf (vectorized hot path) must equal _grams_col (interpreted
    SQL-twin documentation form) EXACTLY — same strings, same
    first-occurrence-distinct order — on real corpus text plus edge cases
    (NULL, empty, < shingle words, repeated grams, double spaces)."""
    from pyspark.sql import functions as F

    from pdf_extraction_spark.operators.dedup import _grams_col, grams_udf

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    edge = spark.createDataFrame(
        [(10001, None), (10002, ""), (10003, "one two"), (10004, "a b a b a b"),
         (10005, "x  y  z"), (10006, "A B c A B c")],
        "doc_id long, text string",
    )
    both = docs.select("doc_id", "text").union(edge).select(
        "doc_id",
        _grams_col(F.col("text")).alias("hof"),
        grams_udf(F.col("text")).alias("np"),
    )
    for sh in (2, 4):
        both = both.union(
            edge.select(
                "doc_id",
                _grams_col(F.col("text"), sh).alias("hof"),
                grams_udf(F.col("text"), sh).alias("np"),
            )
        )
    bad = both.filter(
        ~((F.col("hof") == F.col("np")) | (F.col("hof").isNull() & F.col("np").isNull()))
    )
    assert bad.count() == 0, bad.collect()[:5]


def test_incremental_lsh_equals_batch_restriction(spark):
    """Delta contract of the incremental LSH index: pairs from
    incremental_minhash_pairs(old_index, new_batch) == batch
    minhash_lsh_pairs(old ∪ new) restricted to pairs touching a new doc —
    exactly, including hot-bucket cap behavior (cap over UNION widths).
    The widest band bucket at sf0.001 holds 5 docs, so the default cap
    never binds; cap 2 drops buckets on both sides."""
    from pyspark.sql import functions as F

    from pdf_extraction_spark.operators.dedup import (
        build_minhash_index,
        incremental_minhash_pairs,
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    old = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0)

    bands, grams = build_minhash_index(old)
    n_pairs = {}
    for cap in (MAX_BAND_WIDTH, 2):
        got = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in incremental_minhash_pairs(bands, grams, new, max_band_width=cap).collect()
        }
        want = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in minhash_lsh_pairs(docs, max_band_width=cap).collect()
            if r.doc_a % 10 == 0 or r.doc_b % 10 == 0
        }
        assert got, f"new batch should produce near-dup pairs at sf0.001, cap {cap}"
        assert got == want, cap
        n_pairs[cap] = len(got)
    assert n_pairs[2] < n_pairs[MAX_BAND_WIDTH], n_pairs  # the tight cap binds


# ---------------------------------------------------------------- bloom
def test_bloom_prefilter_never_misses_a_true_dup(spark):
    """Bloom's one-sided guarantee: every exact dup in the new batch MUST
    be flagged as a candidate (no false negatives, by construction of the
    bit probes); false positives are allowed but bounded by the m/n=16
    sizing. The fixture corpus injects exactly |new|/2 true dups."""
    from pdf_extraction_spark.operators.dedup import q_bloom_prefilter

    r = q_bloom_prefilter(spark, "/root/testdata/sf0.001").collect()[0]
    assert r["n_true_dups"] == r["n_new"] // 2  # injected half
    assert r["n_candidates"] >= r["n_true_dups"]  # no false negative
    assert r["n_false_positives"] == r["n_candidates"] - r["n_true_dups"]
    # sizing invariant: m = 16 * |store|, word table spans <= m/32 rows
    assert r["m_bits"] == 16 * (500 - r["n_new"])
    assert r["n_filter_words"] <= r["m_bits"] // 32
    assert 0 < r["n_set_bits"] <= 32 * r["n_filter_words"]


def test_bloom_filter_word_table_is_broadcast(spark):
    """The probe join must reach the filter as a broadcast hash join —
    shuffling the probe side against a <=2-rows-per-store-doc table would
    be the wrong plan at any scale."""
    from pdf_extraction_spark.operators.dedup import q_bloom_prefilter

    plan = (
        q_bloom_prefilter(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
