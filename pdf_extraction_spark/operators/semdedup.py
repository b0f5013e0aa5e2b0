"""Semantic deduplication (SemDeDup-style) — close the loop between the
embedding stack and the dedup stack. Public reference: Abbas, Tirumala,
Simig, Ganguli, Morcos, "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication" (2023): cluster embeddings with k-means,
compare pairs only WITHIN a cluster, and drop all but one member of each
semantic-duplicate group.

This implementation keeps every stage deterministic and oracle-checkable:

- centroids  : the k = max(SEM_K, n // SEM_WIDTH) embeddings with the
               smallest vec_id — the same first-k init `ivf_train` uses,
               with ZERO Lloyd iterations, so no float averaging enters
               and the centroid matrix is a pure function of the table
               (k itself is a pure function of the table's row count,
               mirrored by a scalar-subquery LIMIT in the oracle).
- assignment : nearest centroid under INTEGER-QUANTIZED squared distance
               (round(x*10⁴) per component by `similarity._np_quant`, the
               package's one quantizer; exact int64 — |Σ(qx−qc)²| ≪ 2⁶³),
               ties to the lowest centroid index: bit-identical in Spark
               (numpy matmul per Arrow batch) and DuckDB.
- duplicates : within-cluster pairs with quantized cosine ≥ SEM_TAU
               (the cosine of `similarity.quantized_scores`, computed for
               a whole cluster with one matmul; the oracle's pair predicate
               is built from the same `_qd_sql` as
               `embedding_neardup_pairs`), then exact
               connected components via the star-contraction engine
               (`dedup.neardup_clusters`) — a semantic-duplicate GROUP is
               a component, exactly as near-dup clustering treats MinHash
               pairs.
- keeper     : quality-aware representative per group — longest document
               (documents.n_chars, vec_id = doc_id), ties to the lowest
               vec_id — the `dedup_cluster_best` rule.

Scale notes (100 TB): the all-pairs comparison never happens — the
self-join is keyed on the cluster id, so the shuffle is one hash exchange
and the comparison cost is Σ|cluster|², bounded because the REGISTERED
query runs k = max(SEM_K, n // SEM_WIDTH) — k ∝ n, so Σ|cluster|² ≈
n · SEM_WIDTH, linear in corpus size (resolves to k=16 on the
500-2000-vector test corpus; a 10⁹-vector deployment trains k~10⁶ coarse
centroids with `ivf_train` and assigns with the same
one-matmul-per-batch UDF). Skewed
clusters fall under AQE skew-join handling; the component step touches
only vertices of threshold-passing pairs (sparse by construction).

The DuckDB oracles replay assignment (integer distances), pairing
(quantized cosine), components (recursive transitive-closure CTE — the
`dedup_clusters` pattern), and keeper selection bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from pdf_extraction_spark.operators.dedup import neardup_clusters
from pdf_extraction_spark.operators.similarity import (
    DIM,
    _np_quant,
    _qd_sql,
    valid_embeddings,
)
from pdf_extraction_spark.sources.tables import load_testdata as T

SEM_K = 16
SEM_TAU = 0.35
# Target mean cluster width for the DEFAULT centroid count: the registered
# queries run k = max(SEM_K, n_vectors // SEM_WIDTH), so the within-cluster
# comparison volume Σ|c|² ≈ n · SEM_WIDTH stays LINEAR in corpus size
# instead of quadratic at fixed k. At the driver's test scale factors
# (500-2000 vectors) this resolves to k = SEM_K = 16, so every oracle stays
# bit-identical; the escalation leg is pinned by
# tests/test_semdedup.py::test_default_k_scales_with_corpus.
SEM_WIDTH = 256


def sem_k_for(n_vectors: int) -> int:
    """Data-dependent centroid count: k = max(SEM_K, n // SEM_WIDTH).
    Mirrored bit-for-bit by the oracle's scalar-subquery LIMIT."""
    return max(SEM_K, n_vectors // SEM_WIDTH)


def _nearest_centroid_q(centroids):
    """Nearest centroid under exact int64 quantized squared distance,
    ties to the lowest index (numpy argmin takes the first minimum).
    Unlike `similarity._nearest_centroid_udf` (float64, used inside Lloyd
    iterations where the centroids are float averages anyway), this is
    bit-reproducible in SQL — the point of the zero-iteration design."""
    Cq = _np_quant(centroids)
    c2 = (Cq * Cq).sum(axis=1)

    @F.pandas_udf("int")
    def assign(embs: pd.Series) -> pd.Series:
        Q = _np_quant(embs)
        # argmin_c Σ(q−c)² = argmin_c (|c|² − 2 q·c); |q|² is constant per row
        d = c2[None, :] - 2 * (Q @ Cq.T)
        return pd.Series(d.argmin(axis=1).astype("int32"))

    return assign


def semantic_assign(spark: SparkSession, sf: str, centroids=None,
                    embeddings: DataFrame | None = None) -> DataFrame:
    """Assignment stage alone: (vec_id, embedding, sem_cluster), lazily
    checkpointed: its first consumer fills it, and every later one reads
    the same rows.
    When ``centroids`` is None the DEFAULT, driver-checked path derives
    k = sem_k_for(n) from the corpus itself (one 1-row count + k tiny rows
    on the driver). k grows ∝ n, so the driver-held centroid matrix is
    n/SEM_WIDTH × dim — at 10⁹ vectors that is ~4M rows, past the point
    where a deployment flips to the `ivf_train` escalation seam (trained
    coarse centroids, same assignment UDF); the registered form stays
    non-quadratic either way."""
    emb = valid_embeddings(embeddings if embeddings is not None
                           else T(spark, sf, "embeddings"))
    if centroids is None:
        k = sem_k_for(emb.count())
        cent_rows = emb.orderBy("vec_id").limit(k).select("embedding").collect()
        centroids = [[float(x) for x in r["embedding"]] for r in cent_rows]
    # assigned feeds the pair scoring, the component join-back, and the
    # stats rollup — compute it once
    return emb.withColumn(
        "sem_cluster", _nearest_centroid_q(centroids)(F.col("embedding"))
    ).localCheckpoint(eager=False)


def scored_pairs(assigned: DataFrame, tau: float = SEM_TAU) -> DataFrame:
    """(va, vb, cos) for every within-cluster pair va < vb of ``assigned``
    (vec_id, sem_cluster, embedding) whose quantized cosine, rounded to 6
    places, is at least ``tau``."""
    # r7 (guide §4.1/§4.2 — ship columns once, compute batched): the
    # cluster-keyed self-join + per-pair cosine UDF moved every embedding
    # across the Arrow boundary ONCE PER PAIR (Σ|c|² ≈ n·SEM_WIDTH pairs ×
    # 2×DIM doubles ≈ 2.5 GB at sf1.0). Grouping by cluster instead ships
    # each embedding once per CLUSTER and scores all pairs with one exact
    # int64 matmul: D=QQᵀ gives the identical quantized dot products and
    # diag(D) the identical norms, so cos = D/(nᵢnⱼ) is the same IEEE
    # division the per-pair kernel `quantized_scores` performs (parity
    # pinned in tests/test_semdedup.py::test_grouped_scores_match_pairwise_udf).
    # The Python side under-filters at tau−1e-6; the authoritative gate
    # stays the Spark-side round(·,6) ≥ tau, unchanged. Still cluster-
    # keyed — one hash exchange, never all-pairs (same Σ|c|² bound).
    tau_floor = float(tau) - 1e-6

    def _score(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy(np.int64)
        if len(ids) < 2:
            return pd.DataFrame({"va": pd.Series([], dtype="int64"),
                                 "vb": pd.Series([], dtype="int64"),
                                 "cos": pd.Series([], dtype="float64")})
        Q = _np_quant(pdf["embedding"])
        D = Q @ Q.T  # exact int64 (|component| ≤ 1e4, DIM=64 → ≪ 2^63)
        n = np.sqrt(np.diag(D).astype(np.float64))
        C = D / np.outer(n, n)
        iu, ju = np.triu_indices(len(ids), k=1)  # i < j ⇒ va < vb (sorted)
        c = C[iu, ju]
        keep = c >= tau_floor
        return pd.DataFrame({"va": ids[iu[keep]], "vb": ids[ju[keep]], "cos": c[keep]})

    scored = (
        assigned.select("sem_cluster", "vec_id", "embedding")
        .groupBy("sem_cluster")
        .applyInPandas(_score, "va long, vb long, cos double")
    )
    return scored.select("va", "vb", F.round("cos", 6).alias("cos")).filter(F.col("cos") >= tau)


def semantic_members(spark: SparkSession, sf: str, centroids=None,
                     embeddings: DataFrame | None = None,
                     quality: DataFrame | None = None,
                     tau: float = SEM_TAU):
    """Shared pipeline: returns (assigned, members) where assigned =
    (vec_id, sem_cluster) for every vector and members = (vec_id,
    sem_cluster, group_id, best_id) for every member of a non-singleton
    semantic-duplicate group.

    ``centroids`` (optional, k × dim) is the k ∝ n ESCALATION SEAM: the
    oracle path uses the default first-sem_k_for(n) deterministic
    centroids (bit-reproducible in SQL), while a large deployment passes
    `similarity.ivf_train`-produced k-means centroids (k ~ n /
    target_cluster_width, e.g. k=256+ — same one-matmul-per-batch
    assignment UDF) so Σ|cluster|² stays bounded as the corpus grows —
    demonstrated with measured pair volumes in
    tests/test_semdedup.py::test_k_escalation_bounds_pair_volume.
    ``embeddings`` (optional) overrides the sf-dir embeddings table with a
    caller-provided (vec_id, embedding) frame — the curation chain feeds
    feature-hashed text embeddings through this seam. ``quality``
    (optional, (vec_id, n_chars)) overrides the keeper-quality source the
    same way; ``tau`` the duplicate-cosine threshold."""
    assigned = semantic_assign(spark, sf, centroids=centroids,
                               embeddings=embeddings)
    pairs = scored_pairs(assigned, tau).select(
        F.col("va").alias("doc_a"), F.col("vb").alias("doc_b")
    )
    labels = neardup_clusters(pairs).select(
        F.col("doc_id").alias("vec_id"), F.col("keeper").alias("group_id")
    )
    docs = (
        quality if quality is not None
        else T(spark, sf, "documents").select(F.col("doc_id").alias("vec_id"), "n_chars")
    )
    # LEFT join + n_chars -1 sentinel: a vector whose document row is
    # missing (doc dropped upstream of embedding refresh) must still get a
    # dedup decision — an inner join would silently erase its whole group
    # (no keeper, no drops: duplicate retention). Doc-less members rank
    # LAST for keeper selection; the SQL oracle uses the same
    # LEFT JOIN + coalesce(-1).
    j = labels.join(docs, "vec_id", "left").withColumn(
        "n_chars", F.coalesce("n_chars", F.lit(-1))
    )
    rk = F.row_number().over(
        W.partitionBy("group_id").orderBy(F.desc("n_chars"), F.asc("vec_id"))
    )
    best = (
        j.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select("group_id", F.col("vec_id").alias("best_id"))
    )
    members = (
        labels.join(best, "group_id")
        .join(assigned.select("vec_id", "sem_cluster"), "vec_id")
        .select("vec_id", "sem_cluster", "group_id", "best_id")
    )
    return assigned, members


def q_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Row-grain semantic-dedup decisions: one row per member of a
    non-singleton semantic-duplicate group, with its k-means cluster, its
    component (group) id, the group's quality keeper, and whether this
    member survives."""
    _assigned, members = semantic_members(spark, sf)
    return members.select(
        "vec_id", "sem_cluster", "group_id", "best_id",
        (F.col("vec_id") == F.col("best_id")).alias("is_kept"),
    ).orderBy("vec_id")


def q_semantic_dedup_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-cluster rollup of the same pipeline: vectors assigned, semantic
    duplicate groups found, and members dropped by the keeper rule."""
    assigned, members = semantic_members(spark, sf)
    return (
        assigned.select("vec_id", "sem_cluster")
        .join(members.select("vec_id", "group_id", "best_id"), "vec_id", "left")
        .groupBy("sem_cluster")
        .agg(
            F.count("*").alias("n_vectors"),
            F.countDistinct("group_id").alias("n_dup_groups"),
            F.sum(
                F.when(
                    F.col("group_id").isNotNull() & (F.col("vec_id") != F.col("best_id")),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("n_dropped"),
        )
        .orderBy("sem_cluster")
    )


_SQL_SEM_COMMON = f"""
WITH cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx, embedding AS ce
  FROM (SELECT vec_id, embedding FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) = {DIM}
        ORDER BY vec_id
        LIMIT (SELECT greatest({SEM_K}, count(*) // {SEM_WIDTH})
               FROM embeddings
               WHERE embedding IS NOT NULL AND len(embedding) = {DIM}))
),
dist AS (
  SELECT e.vec_id, c.cidx,
    CAST(list_sum(list_transform(generate_series(1, {DIM}),
      i -> (CAST(round(CAST(e.embedding[i] AS DOUBLE) * 10000) AS BIGINT)
            - CAST(round(CAST(c.ce[i] AS DOUBLE) * 10000) AS BIGINT))
         * (CAST(round(CAST(e.embedding[i] AS DOUBLE) * 10000) AS BIGINT)
            - CAST(round(CAST(c.ce[i] AS DOUBLE) * 10000) AS BIGINT)))) AS BIGINT) AS d
  FROM embeddings e CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, cidx AS sem_cluster FROM (
    SELECT vec_id, cidx, row_number() OVER (PARTITION BY vec_id ORDER BY d, cidx) AS rn
    FROM dist
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM embeddings a
  JOIN assign aa ON aa.vec_id = a.vec_id
  JOIN embeddings b ON a.vec_id < b.vec_id
  JOIN assign ab ON ab.vec_id = b.vec_id AND ab.sem_cluster = aa.sem_cluster
  WHERE round({_qd_sql('a.embedding', 'b.embedding')}
        / (sqrt({_qd_sql('a.embedding', 'a.embedding')})
           * sqrt({_qd_sql('b.embedding', 'b.embedding')})), 6) >= {SEM_TAU}
),
edges AS (SELECT va AS src, vb AS dst FROM pairs UNION SELECT vb, va FROM pairs),
reach AS (
  WITH RECURSIVE r(a, b) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.a, e.dst FROM r JOIN edges e ON r.b = e.src WHERE e.dst <> r.a
  )
  SELECT a, b FROM r
),
labels AS (
  SELECT v.vec_id, least(v.vec_id, coalesce(min(r.b), v.vec_id)) AS group_id
  FROM (SELECT DISTINCT src AS vec_id FROM edges) v
  LEFT JOIN reach r ON r.a = v.vec_id
  GROUP BY v.vec_id
),
best AS (
  SELECT group_id, vec_id AS best_id FROM (
    SELECT l.group_id, l.vec_id,
           row_number() OVER (PARTITION BY l.group_id
                              ORDER BY coalesce(d.n_chars, -1) DESC, l.vec_id) AS rk
    FROM labels l LEFT JOIN documents d ON d.doc_id = l.vec_id
  ) WHERE rk = 1
)
"""

_SQL_SEMANTIC_DEDUP = _SQL_SEM_COMMON + """
SELECT l.vec_id, a.sem_cluster, l.group_id, b.best_id,
       (l.vec_id = b.best_id) AS is_kept
FROM labels l
JOIN assign a USING (vec_id)
JOIN best b USING (group_id)
ORDER BY l.vec_id
"""

_SQL_SEMANTIC_STATS = _SQL_SEM_COMMON + """
SELECT a.sem_cluster, count(*) AS n_vectors,
       count(DISTINCT l.group_id) AS n_dup_groups,
       CAST(sum(CASE WHEN l.vec_id IS NOT NULL AND l.vec_id <> b.best_id
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM assign a
LEFT JOIN labels l ON l.vec_id = a.vec_id
LEFT JOIN best b ON b.group_id = l.group_id
GROUP BY a.sem_cluster ORDER BY a.sem_cluster
"""


QUERIES = {
    "semantic_dedup": (q_semantic_dedup, _SQL_SEMANTIC_DEDUP),
    "semantic_dedup_stats": (q_semantic_dedup_stats, _SQL_SEMANTIC_STATS),
}
