"""SemDeDup structural invariants (bit-level correctness vs DuckDB is the
oracle sweep's job; these pin the semantic contracts: group structure,
quality-keeper rule, cluster containment, and the size-reduction /
within-cluster recall properties)."""

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")


@pytest.fixture(scope="module")
def sem(spark):
    from pdf_extraction_spark.operators.semdedup import semantic_members

    assigned, members = semantic_members(spark, SF_DIR)
    return (
        {r["vec_id"]: r["sem_cluster"] for r in assigned.select("vec_id", "sem_cluster").collect()},
        [r.asDict() for r in members.collect()],
    )


def test_groups_are_nonsingleton_and_keep_exactly_one(sem):
    _, members = sem
    assert members, "testdata should contain semantic duplicates at SEM_TAU"
    by_group = {}
    for m in members:
        by_group.setdefault(m["group_id"], []).append(m)
    for gid, ms in by_group.items():
        assert len(ms) >= 2, f"singleton group {gid} emitted"
        ids = {m["vec_id"] for m in ms}
        assert gid == min(ids), "group_id must be the component min"
        bests = {m["best_id"] for m in ms}
        assert len(bests) == 1 and bests <= ids, "exactly one in-group keeper"


def test_keeper_is_longest_doc_ties_to_lowest_id(spark, sem):
    _, members = sem
    n_chars = {
        r["doc_id"]: r["n_chars"]
        for r in spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .select("doc_id", "n_chars").collect()
    }
    by_group = {}
    for m in members:
        by_group.setdefault(m["group_id"], []).append(m["vec_id"])
    for gid, ids in by_group.items():
        expect = min(ids, key=lambda v: (-n_chars[v], v))
        got = next(m["best_id"] for m in members if m["group_id"] == gid)
        assert got == expect, (gid, got, expect)


def test_groups_never_cross_kmeans_clusters(sem):
    assigned, members = sem
    by_group = {}
    for m in members:
        assert m["sem_cluster"] == assigned[m["vec_id"]]
        by_group.setdefault(m["group_id"], set()).add(m["sem_cluster"])
    for gid, clusters in by_group.items():
        assert len(clusters) == 1, f"group {gid} spans clusters {clusters}"


def test_within_cluster_recall(spark, sem):
    """Every same-cluster pair at cosine >= SEM_TAU must land in the same
    duplicate group (components can only merge threshold pairs, never
    split them)."""
    from pdf_extraction_spark.operators.semdedup import SEM_TAU
    from pdf_extraction_spark.operators.similarity import (
        quantized_scores,
        valid_embeddings,
    )
    from pdf_extraction_spark.sources.tables import load_testdata as T

    assigned, members = sem
    group_of = {m["vec_id"]: m["group_id"] for m in members}
    emb = valid_embeddings(T(spark, SF_DIR, "embeddings"))
    a = emb.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    pairs = (
        a.join(b, F.col("va") < F.col("vb"))
        .select("va", "vb", F.round(quantized_scores("ea", "eb")["cos"], 6).alias("cos"))
        .filter(F.col("cos") >= SEM_TAU)
        .collect()
    )
    checked = 0
    for r in pairs:
        if assigned[r["va"]] == assigned[r["vb"]]:
            assert group_of[r["va"]] == group_of[r["vb"]], (r["va"], r["vb"])
            checked += 1
    assert checked > 0, "no same-cluster threshold pairs in testdata"


def test_size_reduction(spark):
    from pdf_extraction_spark.operators.semdedup import q_semantic_dedup_stats

    rows = q_semantic_dedup_stats(spark, SF_DIR).collect()
    total = sum(r["n_vectors"] for r in rows)
    dropped = sum(r["n_dropped"] for r in rows)
    groups = sum(r["n_dup_groups"] for r in rows)
    assert total == 500  # the fixed embeddings corpus
    assert 0 < dropped < total
    # one keeper survives per group: dropped = members - groups
    assert dropped >= groups
    for r in rows:
        assert 0 <= r["n_dropped"] < r["n_vectors"]


def _clustered_emb(spark, n_clusters, width, seed=7, dim=64):
    """Deterministic clustered corpus: n_clusters well-separated centers,
    `width` near-identical members each (within-cluster cosine ≈ 1,
    cross-cluster ≈ 0), interleaved so the first-k-by-vec_id k-means init
    sees one point per true cluster (the test_similarity_ivf layout)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim)) * 5.0
    pts = centers[:, None, :] + rng.standard_normal((n_clusters, width, dim)) * 0.01
    M = pts.transpose(1, 0, 2).reshape(-1, dim).astype(np.float32)
    rows = [(int(i), [float(x) for x in M[i]]) for i in range(len(M))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _pair_volume(assigned):
    sizes = [r["n"] for r in
             assigned.groupBy("sem_cluster").agg(F.count("*").alias("n")).collect()]
    return sum(c * (c - 1) // 2 for c in sizes)


def test_default_k_scales_with_corpus(spark):
    """The REGISTERED (driver-checked) path is the non-quadratic form:
    semantic_assign with centroids=None derives k = max(SEM_K, n //
    SEM_WIDTH) from the corpus itself, so a 4× corpus gets 4× centroids
    and the within-cluster pair volume Σ|c|(|c|−1)/2 grows ~4× (linear),
    not 16× (the fixed-k quadratic). Measured on two synthetic corpora
    sized onto the escalation leg (n = 32·SEM_WIDTH and 128·SEM_WIDTH);
    at the sf-table scales the same formula resolves to k = SEM_K, which
    keeps every DuckDB oracle bit-identical."""
    from pdf_extraction_spark.operators.semdedup import (
        SEM_WIDTH,
        semantic_assign,
        sem_k_for,
    )

    n_small, n_large = 32 * SEM_WIDTH, 128 * SEM_WIDTH
    assert sem_k_for(n_small) == 32 and sem_k_for(n_large) == 128
    # interleaved layout: the first-k-by-vec_id init sees one point per
    # true cluster, so assignment recovers the planted clustering
    small = _clustered_emb(spark, 32, SEM_WIDTH)
    large = _clustered_emb(spark, 128, SEM_WIDTH)
    vol_small = _pair_volume(semantic_assign(spark, sf="", embeddings=small))
    vol_large = _pair_volume(semantic_assign(spark, sf="", embeddings=large))
    assert vol_small > 0
    # 4× data → ~4× pair volume; 2× slack for imperfect splits. The fixed-k
    # shape would give 16× — well outside the bound.
    assert vol_large <= 8 * vol_small, (vol_small, vol_large)


def test_k_escalation_bounds_pair_volume(spark):
    """The k ∝ n escalation path the module docstring promises: semantic
    dedup at scale trains `ivf_train` centroids with k proportional to
    corpus size, keeping the within-cluster comparison volume Σ|c|²
    LINEAR in n. Measured here: a 4× corpus with 4× centroids must grow
    pair volume ~4× (not 16× — the fixed-k behaviour, also measured for
    contrast), and the full semantic_members pipeline runs end-to-end on
    ivf_train centroids at k=256."""
    from pdf_extraction_spark.operators.semdedup import semantic_members
    from pdf_extraction_spark.operators.similarity import ivf_assign, ivf_train

    WIDTH = 8
    small = _clustered_emb(spark, 64, WIDTH)    # n = 512,  k = 64
    large = _clustered_emb(spark, 256, WIDTH)   # n = 2048, k = 256

    cent_small = ivf_train(small, k=64, iters=2)
    cent_large = ivf_train(large, k=256, iters=2)
    vol_small = _pair_volume(
        ivf_assign(small, cent_small).withColumnRenamed("ivf_list", "sem_cluster"))
    vol_large = _pair_volume(
        ivf_assign(large, cent_large).withColumnRenamed("ivf_list", "sem_cluster"))
    # escalated k: 4× data → ~4× pair volume (linear); allow 2× slack for
    # imperfect k-means splits
    assert vol_large <= 8 * vol_small, (vol_small, vol_large)
    # contrast: the SAME large corpus under the small (fixed-k) centroid
    # count pays quadratically more comparisons — the cost the escalation
    # avoids
    vol_fixed_k = _pair_volume(
        ivf_assign(large, ivf_train(large, k=64, iters=2))
        .withColumnRenamed("ivf_list", "sem_cluster"))
    assert vol_fixed_k >= 3 * vol_large, (vol_large, vol_fixed_k)

    # end-to-end semantic dedup on the k=256 ivf_train centroids via the
    # escalation seam (embeddings + quality overrides; the oracle path's
    # first-k centroids are untouched)
    quality = large.select(
        "vec_id", (F.col("vec_id") % 1000).cast("int").alias("n_chars"))
    _assigned, members = semantic_members(
        spark, sf="", centroids=cent_large, embeddings=large, quality=quality)
    m = [r.asDict() for r in members.collect()]
    assert len(m) >= int(0.9 * 2048)  # near-identical members dedup together
    by_group = {}
    for r in m:
        by_group.setdefault(r["group_id"], set()).add(r["vec_id"])
    # ~one group per true cluster, one keeper each → ~7/8 dropped
    assert 200 <= len(by_group) <= 300
    dropped = sum(len(v) - 1 for v in by_group.values())
    assert dropped >= int(0.8 * 2048 * (WIDTH - 1) / WIDTH)


def test_grouped_scores_match_pairwise_udf(spark):
    """r7: the per-cluster matmul scoring must emit the exact doubles of
    the per-pair scoring kernel (quantized_scores(...).cos) for every
    within-cluster pair at or above the tau floor — same quantized int64
    dots, same IEEE division."""
    from pdf_extraction_spark.operators.semdedup import (
        SEM_TAU,
        semantic_assign,
    )
    from pdf_extraction_spark.operators.similarity import quantized_scores

    assigned = semantic_assign(spark, SF_DIR)
    a = assigned.select("sem_cluster", F.col("vec_id").alias("va"),
                        F.col("embedding").alias("ea"))
    b = assigned.select(F.col("sem_cluster").alias("sc_b"),
                        F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    want = {
        (r["va"], r["vb"]): r["cos"]
        for r in (
            a.join(b, (F.col("sem_cluster") == F.col("sc_b")) & (F.col("va") < F.col("vb")))
            .select("va", "vb",
                    F.round(quantized_scores(F.col("ea"), F.col("eb"))["cos"], 6).alias("cos"))
            .filter(F.col("cos") >= SEM_TAU)
            .collect()
        )
    }
    from pdf_extraction_spark.operators.semdedup import scored_pairs, semantic_members

    # the matmul path emits exactly the UDF's (va, vb) -> cos pairs
    got = {(r["va"], r["vb"]): r["cos"] for r in scored_pairs(assigned).collect()}
    _assigned, members = semantic_members(spark, SF_DIR)
    # the registered pipeline's members derive from exactly those pairs
    member_ids = {m["vec_id"] for m in [r.asDict() for r in members.collect()]}
    udf_ids = {v for pair in want for v in pair}
    assert got == want
    assert member_ids == udf_ids
    assert want, "fixture should produce threshold-passing pairs"
