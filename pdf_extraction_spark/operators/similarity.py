"""Similarity search over embedding columns (array<float>).

- cosine_topk   : brute-force cosine top-k against a query vector. Ranking
                  and similarity use INTEGER-QUANTIZED dot products
                  (round(x*10000) per component) so Spark and the DuckDB
                  oracle compute bit-identical values regardless of float
                  summation order; the final cosine divides exact integers
                  (IEEE-identical in both engines). Every embedding score
                  in the package comes from ONE kernel, `quantized_scores`
                  (struct(qdot, cos), one exact int64 numpy pass per Arrow
                  batch, built on the one quantizer `_np_quant`) — the
                  higher-order-function column form is kept ONLY as
                  documentation of the SQL twin (it is CodegenFallback:
                  interpreted lambdas, ~10⁴ rows/s/core — a wall at 10⁹
                  vectors; parity with the kernel is asserted in
                  tests/test_similarity_ivf.py).
- ann_lsh       : random-hyperplane (sign) LSH bucketing — the scale path:
                  bucket once, then search only the query's bucket. Plane
                  matrix derives deterministically from md5; fully oracled
                  via the integer plane family.

Scale notes: brute force is a map-only scan (broadcast query vector, no
shuffle; Arrow-batched numpy scoring keeps it compute-light) — right up to
~10⁹ vectors per query batch. The LSH variant turns top-k into a
bucket-pruned scan: at 100 TB the bucket table is written
bucket-partitioned so a query touches 1/2^n_planes of the data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from pdf_extraction_spark.operators.dedup import bucket_pairs
from pdf_extraction_spark.sources.tables import load_testdata as T

QUERY_VEC_ID = 0
TOP_K = 10
N_PLANES = 8
DIM = 64


def _quant(x):
    return F.round(x.cast("double") * 10000).cast("bigint")


def _qdot_hof(a, b):
    """SQL-twin documentation form of the quantized dot product. DO NOT use
    in hot paths: F.aggregate/zip_with lambdas are CodegenFallback
    (interpreted). quantized_scores below is bit-identical (exact int64) and
    ~100× faster; parity is pinned by tests/test_similarity_ivf.py."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: _quant(x) * _quant(y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _qnorm2_hof(a):
    """SQL-twin documentation form of the quantized squared norm (see
    _qdot_hof — interpreted, not for hot paths)."""
    return F.aggregate(
        F.transform(a, lambda x: _quant(x) * _quant(x)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _np_quant(vectors) -> np.ndarray:
    """The one quantizer: every component rounded to x·10⁴ as an exact
    int64 — the integer grid the scoring kernel, the LSH plane dots, the
    SemDeDup assignment and every SQL oracle share. ``vectors`` is one
    vector or any sequence of equal-length vectors (a list, or a pandas
    Series of Arrow arrays). Ties round half away from zero, as DuckDB's
    ``round`` and Spark's HALF_UP ``F.round`` do; 0.49999999999999994 stays 0."""
    y = np.array(list(vectors), dtype=np.float64) * 10000.0
    t = np.trunc(y)
    return (t + np.copysign(np.abs(y - t) >= 0.5, y)).astype(np.int64)


def _np_scores(A: np.ndarray, B: np.ndarray):
    """Row-wise (dot, cos) of two int64 matrices: an exact int64 dot and
    squared norms (at DIM=64 and |component| ≤ 10⁴ every sum is < 2⁵³, so
    nothing overflows or rounds), then one IEEE double division — the
    same operations, in the same order, as ``round(qdot / (sqrt(qn_a) *
    sqrt(qn_b)), 6)`` in Spark and in the DuckDB oracle. A zero-norm row
    scores NaN, which Arrow returns as NULL, as DuckDB does for 0/0."""
    dot = (A * B).sum(axis=1)
    na = np.sqrt((A * A).sum(axis=1).astype(np.float64))
    nb = np.sqrt((B * B).sum(axis=1).astype(np.float64))
    with np.errstate(divide="ignore", invalid="ignore"):
        return dot, dot / (na * nb)


@F.pandas_udf(StructType([StructField("qdot", LongType()), StructField("cos", DoubleType())]))
def quantized_scores(a: pd.Series, b: pd.Series) -> pd.DataFrame:
    """The integer-quantized scoring kernel: struct(qdot, cos) of two
    embedding columns, one numpy pass per Arrow batch. ``qdot`` is
    bit-identical to _qdot_hof (and ``quantized_scores(e, e).qdot`` to
    _qnorm2_hof); ``cos`` to the oracle's quantized cosine before its
    round. Rank by ``qdot``, report ``round(cos, 6)``."""
    dot, cos = _np_scores(_np_quant(a), _np_quant(b))
    return pd.DataFrame({"qdot": dot, "cos": cos})


def valid_embeddings(emb: DataFrame, dim: int = DIM) -> DataFrame:
    """Drop rows whose embedding is NULL or ragged (wrong dimension): a
    poison row must degrade to a dropped candidate, not an Arrow-batch
    numpy crash that kills the task (C3). A no-op on the testdata corpus
    (no nulls), so every oracle stays bit-identical; pinned by
    tests/test_similarity_ivf.py on a corpus WITH poison rows."""
    return emb.filter(F.col("embedding").isNotNull() & (F.size("embedding") == dim))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """(vec_id, cosine) of the k rows of ``scored`` (vec_id, s =
    quantized_scores struct) with the highest qdot, ties to the lowest
    vec_id — the oracle's ``ORDER BY qdot DESC, vec_id ASC LIMIT k``."""
    return (
        scored.orderBy(F.desc("s.qdot"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", F.round("s.cos", 6).alias("cosine"))
    )


def q_ann_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    emb = valid_embeddings(T(spark, sf, "embeddings"))
    qv = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("qe"))
    scored = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(qv))  # 1-row broadcast: map-only, no shuffle
        .select("vec_id", quantized_scores(F.col("embedding"), F.col("qe")).alias("s"))
    )
    return _top_k(scored, TOP_K)


_SQL_ANN = f"""
WITH qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
scored AS (
  SELECT vec_id,
    CAST(list_sum(list_transform(generate_series(1, {DIM}),
        i -> CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)
           * CAST(round(CAST(qe[i] AS DOUBLE) * 10000) AS BIGINT))) AS BIGINT) AS qdot,
    CAST(list_sum(list_transform(generate_series(1, {DIM}),
        i -> CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)
           * CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT))) AS BIGINT) AS qn_a,
    CAST(list_sum(list_transform(generate_series(1, {DIM}),
        i -> CAST(round(CAST(qe[i] AS DOUBLE) * 10000) AS BIGINT)
           * CAST(round(CAST(qe[i] AS DOUBLE) * 10000) AS BIGINT))) AS BIGINT) AS qn_b
  FROM embeddings CROSS JOIN qv WHERE vec_id <> {QUERY_VEC_ID}
)
SELECT vec_id, round(qdot / (sqrt(qn_a) * sqrt(qn_b)), 6) AS cosine
FROM scored ORDER BY qdot DESC, vec_id ASC LIMIT {TOP_K}
"""


# --------------------------------------------------------------------------
def q_ann_lsh_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Sign-LSH bucket histogram over one 8-plane table: the bucket-pruned
    search layout (bucket = Σ_p (dot(v, plane_p) > 0) << p). Uses the
    integer plane family (quantized dots, exact int64), so the histogram is
    bit-identical in DuckDB — a full oracle check, not rows-only."""
    emb = valid_embeddings(T(spark, sf, "embeddings"))
    sigs = lsh_band_signatures(emb, n_bands=1, planes_per_band=N_PLANES)
    return (
        sigs.groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"))
        .orderBy("bucket")
    )


_SQL_LSH_BUCKETS = f"""
WITH planes AS (
  SELECT pp.p, jj.j,
         CAST(('0x' || substring(md5('plane:' || pp.p || ':' || jj.j), 1, 7)) AS INTEGER)
           - 134217728 AS comp
  FROM (SELECT unnest(generate_series(0, {N_PLANES - 1})) AS p) pp,
       (SELECT unnest(generate_series(0, {DIM - 1})) AS j) jj
),
dots AS (
  SELECT e.vec_id, pl.p,
         sum(CAST(round(CAST(e.embedding[pl.j + 1] AS DOUBLE) * 10000) AS BIGINT) * pl.comp) AS dot
  FROM embeddings e, planes pl
  GROUP BY e.vec_id, pl.p
),
sig AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id
)
SELECT bucket, count(*) AS n_vectors FROM sig GROUP BY bucket ORDER BY bucket
"""


NEARDUP_COSINE = 0.33


def q_embedding_neardup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact all-pairs reference
    implementation; the LSH bucketing above is the >10⁹-vector scale path —
    bucket first, compare only within buckets). Quantized-dot cosine keeps
    the oracle bit-identical."""
    emb = valid_embeddings(T(spark, sf, "embeddings"))
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    pairs = a.join(b, F.col("vec_a") < F.col("vec_b"))
    cos = F.round(quantized_scores(F.col("ea"), F.col("eb"))["cos"], 6)
    return (
        pairs.select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= NEARDUP_COSINE)
        .orderBy("vec_a", "vec_b")
    )


def _qd_sql(x: str, y: str) -> str:
    return (
        f"CAST(list_sum(list_transform(generate_series(1, {DIM}), "
        f"i -> CAST(round(CAST({x}[i] AS DOUBLE) * 10000) AS BIGINT) "
        f"* CAST(round(CAST({y}[i] AS DOUBLE) * 10000) AS BIGINT))) AS BIGINT)"
    )


_SQL_NEARDUP = f"""
WITH p AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round({_qd_sql('a.embedding', 'b.embedding')}
               / (sqrt({_qd_sql('a.embedding', 'a.embedding')})
                  * sqrt({_qd_sql('b.embedding', 'b.embedding')})), 6) AS cosine
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine FROM p WHERE cosine >= {NEARDUP_COSINE}
ORDER BY vec_a, vec_b
"""


# --------------------------------------------------------------------------
# Bucketed near-dup pairs — the 100 TB path for near-duplicate DETECTION
# (the all-pairs query above is the small-scale oracle twin). Pipeline:
#
#   sign-LSH multi-band bucketing (map-only; INTEGER plane dots so Spark and
#   DuckDB agree bit-for-bit) → dedup.bucket_pairs: per-(band,bucket) width
#   cap (drops degenerate buckets before they go quadratic), then pairs from
#   each capped bucket's collected members, distinct → exact
#   quantized-cosine verify on candidates only.
#
# Emitted pairs are a SUBSET of the exact all-pairs result (identical verify
# formula + threshold); the recall bound vs exact is asserted in
# tests/test_neardup_bucketed.py. Parameter scaling: planes_per_band ≈
# log2(n / target_bucket_width) keeps buckets O(1); n_bands sets recall
# (1-(1-p^ppb)^nb). The registered query fixes (16, 4) for the testdata's
# low threshold (cos 0.33 ⇒ per-plane p≈0.61 — an unusually hard regime;
# at production near-dup thresholds ≥0.8 the same operator prunes to <1%
# of pairs, see the synthetic high-threshold test).
#
# Plane components are deterministic md5-derived integers in
# [-2^27, 2^27): python hashlib here (plan stays literal-only — no 4k-node
# md5 expression trees to fold), the IDENTICAL md5 in the SQL oracle.

import hashlib as _hashlib

NB_BANDS = 16
PLANES_PER_BAND = 4
MAX_BUCKET_WIDTH = 512


def _plane_comps(p: int):
    return [
        int(_hashlib.md5(f"plane:{p}:{j}".encode()).hexdigest()[:7], 16) - (1 << 27)
        for j in range(DIM)
    ]


def lsh_band_signatures(emb: DataFrame, n_bands: int, planes_per_band: int) -> DataFrame:
    """(vec_id, band, bucket) rows via ONE Arrow-vectorized stage.

    All math is EXACT int64 (quantized embedding × integer plane matrix, a
    numpy matmul), so the bucket ids match the SQL oracle bit-for-bit —
    float summation order never enters. Vectorized pandas UDF rather than
    column expressions: 64 per-plane aggregate expressions cost a
    multi-second Janino codegen per stage, and the higher-order-function
    form is CodegenFallback (interpreted lambdas: measured ~14 s for 500
    rows × 64 planes); the matmul does the same work in microseconds and
    is exactly how a 100 TB deployment would batch it. Map-only, no
    shuffle; the tiny plane matrix (n_planes × dim int64) ships in the
    task closure."""
    np_total = n_bands * planes_per_band
    P = np.array([_plane_comps(p) for p in range(np_total)], dtype=np.int64)

    @F.pandas_udf("array<bigint>")
    def bucket_vec(embs: pd.Series) -> pd.Series:
        bits = (_np_quant(embs) @ P.T > 0).astype(np.int64)  # exact: |q·c| << 2^63
        B = np.zeros((len(embs), n_bands), dtype=np.int64)
        for b in range(n_bands):
            for i in range(planes_per_band):
                B[:, b] |= bits[:, b * planes_per_band + i] << i
        return pd.Series(list(B))

    return emb.select(
        "vec_id", F.posexplode(bucket_vec("embedding")).alias("band", "bucket")
    )


def neardup_bucketed_pairs(
    emb: DataFrame,
    n_bands: int = NB_BANDS,
    planes_per_band: int = PLANES_PER_BAND,
    max_bucket_width: int = MAX_BUCKET_WIDTH,
    threshold: float = NEARDUP_COSINE,
) -> DataFrame:
    """LSH-bucketed near-duplicate pairs with exact cosine verification:
    candidates are vectors sharing a (band, bucket) of at most
    ``max_bucket_width`` vectors (``dedup.bucket_pairs``, every vector
    fresh). The pairs come in no particular order."""
    # checkpoint: the (band, bucket) rows feed the width aggregate AND the
    # capped member lists — without it the signature stage runs twice.
    # Whichever consumer runs first fills it.
    bands = lsh_band_signatures(emb, n_bands, planes_per_band).localCheckpoint(eager=False)
    rows = bands.select("band", "bucket", F.col("vec_id").alias("id"),
                        F.lit(True).alias("fresh"))
    cand = bucket_pairs(rows, ["band", "bucket"], max_bucket_width).toDF("vec_a", "vec_b")
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    cos = F.round(quantized_scores(F.col("ea"), F.col("eb"))["cos"], 6)
    return (
        cand.join(ea, "vec_a").join(eb, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def q_neardup_bucketed_pairs(spark: SparkSession, sf: str) -> DataFrame:
    return neardup_bucketed_pairs(
        valid_embeddings(T(spark, sf, "embeddings"))
    ).orderBy("vec_a", "vec_b")


_NP_TOTAL = NB_BANDS * PLANES_PER_BAND

_SQL_NEARDUP_BUCKETED = f"""
WITH planes AS (
  SELECT pp.p, jj.j,
         CAST(('0x' || substring(md5('plane:' || pp.p || ':' || jj.j), 1, 7)) AS INTEGER)
           - 134217728 AS comp
  FROM (SELECT unnest(generate_series(0, {_NP_TOTAL - 1})) AS p) pp,
       (SELECT unnest(generate_series(0, {DIM - 1})) AS j) jj
),
dots AS (
  SELECT e.vec_id, pl.p,
         sum(CAST(round(CAST(e.embedding[pl.j + 1] AS DOUBLE) * 10000) AS BIGINT) * pl.comp) AS dot
  FROM embeddings e, planes pl
  GROUP BY e.vec_id, pl.p
),
sig AS (
  SELECT vec_id, p // {PLANES_PER_BAND} AS band,
         CAST(sum(CASE WHEN dot > 0 THEN 1 << (p % {PLANES_PER_BAND}) ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id, p // {PLANES_PER_BAND}
),
wid AS (SELECT band, bucket, count(*) AS w FROM sig GROUP BY band, bucket),
sigf AS (SELECT sig.vec_id, sig.band, sig.bucket
         FROM sig JOIN wid ON sig.band = wid.band AND sig.bucket = wid.bucket
         WHERE wid.w <= {MAX_BUCKET_WIDTH}),
cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         FROM sigf a JOIN sigf b
           ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
v AS (
  SELECT c.vec_a, c.vec_b,
         round({_qd_sql('ea.embedding', 'eb.embedding')}
               / (sqrt({_qd_sql('ea.embedding', 'ea.embedding')})
                  * sqrt({_qd_sql('eb.embedding', 'eb.embedding')})), 6) AS cosine
  FROM cand c JOIN embeddings ea ON ea.vec_id = c.vec_a
              JOIN embeddings eb ON eb.vec_id = c.vec_b
)
SELECT vec_a, vec_b, cosine FROM v WHERE cosine >= {NEARDUP_COSINE}
ORDER BY vec_a, vec_b
"""


QUERIES = {
    "ann_cosine_topk": (q_ann_cosine_topk, _SQL_ANN),
    "ann_lsh_buckets": (q_ann_lsh_buckets, _SQL_LSH_BUCKETS),
    "embedding_neardup_pairs": (q_embedding_neardup_pairs, _SQL_NEARDUP),
    "neardup_bucketed_pairs": (q_neardup_bucketed_pairs, _SQL_NEARDUP_BUCKETED),
}


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN — the >10⁹-vector scale path. Coarse k-means
# centroids (deterministic init, few Lloyd iterations), vectors assigned to
# their nearest centroid list; a query scans only the n_probe nearest lists.
# The centroid matrix is the ONLY driver-side state (k × dim floats); every
# assignment/update is a distributed aggregation. The iterative k-means
# state has no portable SQL twin, so oracle coverage is split: the
# exhaustive-probe form (`ann_ivf_topk`) is bit-identical to brute force
# and fully SQL-oracled; the pruned form is envelope-gated
# (`ann_ivf_recall`) and RECALL-bounded vs exact top-k in
# tests/test_similarity_ivf.py (k=16 on testdata AND k=256 on a clustered
# synthetic corpus).

IVF_K = 16
IVF_ITERS = 3
IVF_NPROBE = 4


def _nearest_centroid_udf(centroids):
    """Vectorized argmin over centroids: one numpy matmul per Arrow batch
    against the k × dim matrix shipped in the task closure (131 KB at
    k=256 — Spark's broadcast-in-closure path; at k in the tens of
    thousands the same matrix is an explicit sc.broadcast, never a
    Catalyst expression: a per-centroid expression tree caps k at ~low
    hundreds and pays seconds of codegen). argmin takes the FIRST minimum
    → lowest centroid index on ties, deterministic."""
    C = np.array(centroids, dtype=np.float64)  # k × dim
    c2 = (C * C).sum(axis=1)

    @F.pandas_udf("int")
    def assign(embs: pd.Series) -> pd.Series:
        M = np.array(embs.tolist(), dtype=np.float64)
        # |x-c|² = |x|² - 2x·c + |c|²; |x|² is constant per row → drop it
        dist = c2[None, :] - 2.0 * (M @ C.T)
        return pd.Series(dist.argmin(axis=1).astype("int32"))

    return assign


def ivf_train(emb: DataFrame, k: int = IVF_K, iters: int = IVF_ITERS):
    """Deterministic coarse k-means. Returns the centroid list (k × dim).
    Init: the k vectors with the smallest vec_id (deterministic, no RNG —
    Date/random are unavailable and unnecessary). Each Lloyd step is one
    map-only assignment + one groupBy of k×dim partial means (map-side
    combine; only k result rows reach the driver)."""
    init_rows = emb.orderBy("vec_id").limit(k).select("embedding").collect()  # k tiny rows
    centroids = [[float(x) for x in r["embedding"]] for r in init_rows]
    for _ in range(iters):
        assign = _nearest_centroid_udf(centroids)
        assigned = emb.select(assign("embedding").alias("c"), "embedding")
        agg = (
            assigned.select(
                "c", *[F.element_at("embedding", i + 1).cast("double").alias(f"x{i}") for i in range(DIM)]
            )
            .groupBy("c")
            .agg(*[F.avg(f"x{i}").alias(f"x{i}") for i in range(DIM)], F.count("*").alias("n"))
            .collect()  # k rows — metadata-sized
        )
        new = list(centroids)
        for r in agg:
            new[r["c"]] = [r[f"x{i}"] for i in range(DIM)]
        centroids = new
    return centroids


def ivf_assign(emb: DataFrame, centroids) -> DataFrame:
    """vec → inverted-list id. At scale this is written bucket-partitioned
    by `ivf_list` so a probe reads only n_probe partitions."""
    assign = _nearest_centroid_udf(centroids)
    return emb.withColumn("ivf_list", assign("embedding"))


def ivf_search(assigned: DataFrame, centroids, query_vec, k: int = TOP_K,
               n_probe: int = IVF_NPROBE) -> DataFrame:
    """Probe the n_probe nearest lists, exact quantized-cosine within them."""
    import math

    def d2(c):
        return sum((float(a) - float(b)) ** 2 for a, b in zip(query_vec, c))

    probe = sorted(range(len(centroids)), key=lambda i: (d2(centroids[i]), i))[:n_probe]
    qarr = F.array(*[F.lit(float(x)) for x in query_vec])
    cand = assigned.filter(F.col("ivf_list").isin([int(p) for p in probe]))
    scored = cand.select("vec_id", quantized_scores(F.col("embedding"), qarr).alias("s"))
    return _top_k(scored, k)


def q_ann_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-ANN top-k for the standard query vector, run with EXHAUSTIVE
    probing (n_probe = every list). With all lists probed the list pruning
    is a no-op, so the result is bit-identical to the exact quantized-cosine
    top-k — which makes this a FULL DuckDB-oracle check of the whole IVF
    machinery (train → assign → probe-filter → score → rank): if k-means
    drops a vector, assignment misroutes, or the probe filter leaks/loses
    rows, the hash gate fails. The PRUNED path (n_probe={IVF_NPROBE} of
    {IVF_K}) is what a deployment runs; its approximation quality is
    oracle-gated at the envelope grain by `ann_ivf_recall` below and
    recall-bounded in tests/test_similarity_ivf.py — the raw pruned list
    depends on iterative k-means float state and has no portable SQL twin.
    (Through r3 this entry was the registry's one rows-only check.)"""
    emb = valid_embeddings(T(spark, sf, "embeddings"))
    centroids = ivf_train(emb)
    assigned = ivf_assign(emb.filter(F.col("vec_id") != QUERY_VEC_ID), centroids)
    qv = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select("embedding").collect()[0]["embedding"]
    return ivf_search(assigned, centroids, list(qv), n_probe=len(centroids))


# exhaustive probing ≡ brute-force scan under the same quantized ordering →
# the brute-force SQL is the exact oracle
QUERIES["ann_ivf_topk"] = (q_ann_ivf_topk, _SQL_ANN)


IVF_RECALL_MIN = 0.5  # the bound tests/test_similarity_ivf.py guarantees


def q_ann_ivf_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Oracle-gated envelope for the IVF path (the sketch_accuracy pattern):
    the raw IVF neighbor list depends on the iterative k-means state and
    stays rows-only, but its RECALL against the exact top-k is a checkable
    contract. This query computes both sides in-engine and emits the exact
    top-k's row count and integer qdot checksum (bit-exact in DuckDB) plus
    a boolean asserting IVF recall ≥ {IVF_RECALL_MIN}. The oracle expects
    (k, true, checksum): if k-means drifts, probing breaks, or recall
    degrades below the envelope, the driver's hash gate fails."""
    emb = valid_embeddings(T(spark, sf, "embeddings"))
    centroids = ivf_train(emb)
    assigned = ivf_assign(emb.filter(F.col("vec_id") != QUERY_VEC_ID), centroids)
    qv = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select("embedding").collect()[0]["embedding"]
    approx = ivf_search(assigned, centroids, list(qv))

    qvdf = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("qe"))
    exact = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(qvdf))
        .select("vec_id", quantized_scores(F.col("embedding"), F.col("qe"))["qdot"].alias("qdot"))
        .orderBy(F.desc("qdot"), F.asc("vec_id"))
        .limit(TOP_K)
    )
    flagged = exact.join(
        approx.select("vec_id").withColumn("_hit", F.lit(1)), "vec_id", "left"
    )
    return flagged.agg(
        F.count("*").alias("k"),
        (F.sum(F.coalesce("_hit", F.lit(0))) >= F.lit(int(TOP_K * IVF_RECALL_MIN))).alias("recall_ok"),
        F.sum("qdot").alias("exact_qdot_sum"),
    )


_SQL_IVF_RECALL = f"""
WITH qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
scored AS (
  SELECT vec_id,
    CAST(list_sum(list_transform(generate_series(1, {DIM}),
        i -> CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)
           * CAST(round(CAST(qe[i] AS DOUBLE) * 10000) AS BIGINT))) AS BIGINT) AS qdot
  FROM embeddings CROSS JOIN qv WHERE vec_id <> {QUERY_VEC_ID}
), top AS (
  SELECT vec_id, qdot FROM scored ORDER BY qdot DESC, vec_id ASC LIMIT {TOP_K}
)
SELECT count(*) AS k, true AS recall_ok, CAST(sum(qdot) AS BIGINT) AS exact_qdot_sum
FROM top
"""

QUERIES["ann_ivf_recall"] = (q_ann_ivf_recall, _SQL_IVF_RECALL)


# --------------------------------------------------------------------------
# Bucket-pruned LSH top-k — the LSH counterpart of ivf_search and the
# query-side completion of the sign-LSH story: brute force is the oracle
# reference, IVF probes centroid lists, THIS probes the query's (band,
# bucket) cells across all bands and exact-scores only those candidates.
# At 10⁹ vectors with the bucket table written bucket-partitioned, a query
# touches n_bands/2^planes_per_band of the data instead of all of it.
# Fully SQL-oracled (integer plane family + quantized cosine).


def _query_buckets(query_vec, n_bands: int = NB_BANDS, planes_per_band: int = PLANES_PER_BAND):
    """The query vector's (band, bucket) cells — driver-side numpy over the
    same integer plane family the distributed signature stage uses (exact
    int64: bit-identical to the SQL oracle)."""
    P = np.array([_plane_comps(p) for p in range(n_bands * planes_per_band)], dtype=np.int64)
    bits = (P @ _np_quant(query_vec) > 0).astype(np.int64)
    return [
        (b, int(sum(bits[b * planes_per_band + i] << i for i in range(planes_per_band))))
        for b in range(n_bands)
    ]


def q_ann_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k by exact quantized cosine WITHIN the query's LSH cells."""
    emb = valid_embeddings(T(spark, sf, "embeddings"))
    qrow = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select("embedding").collect()  # 1 row
    query_vec = list(qrow[0]["embedding"])
    probe = spark.createDataFrame(_query_buckets(query_vec), "band int, bucket long")

    sigs = lsh_band_signatures(emb, NB_BANDS, PLANES_PER_BAND)
    cand_ids = (
        sigs.join(F.broadcast(probe), ["band", "bucket"])
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id")
        .distinct()
    )
    qarr = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = cand_ids.join(emb, "vec_id").select(
        "vec_id", quantized_scores(F.col("embedding"), qarr).alias("s")
    )
    return _top_k(scored, TOP_K)


_SQL_LSH_TOPK = f"""
WITH planes AS (
  SELECT pp.p, jj.j,
         CAST(('0x' || substring(md5('plane:' || pp.p || ':' || jj.j), 1, 7)) AS INTEGER)
           - 134217728 AS comp
  FROM (SELECT unnest(generate_series(0, {_NP_TOTAL - 1})) AS p) pp,
       (SELECT unnest(generate_series(0, {DIM - 1})) AS j) jj
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
qdots AS (
  SELECT pl.p,
         sum(CAST(round(CAST(q.qe[pl.j + 1] AS DOUBLE) * 10000) AS BIGINT) * pl.comp) AS dot
  FROM q, planes pl GROUP BY pl.p
),
qsig AS (
  SELECT p // {PLANES_PER_BAND} AS band,
         CAST(sum(CASE WHEN dot > 0 THEN 1 << (p % {PLANES_PER_BAND}) ELSE 0 END) AS BIGINT) AS bucket
  FROM qdots GROUP BY p // {PLANES_PER_BAND}
),
dots AS (
  SELECT e.vec_id, pl.p,
         sum(CAST(round(CAST(e.embedding[pl.j + 1] AS DOUBLE) * 10000) AS BIGINT) * pl.comp) AS dot
  FROM embeddings e, planes pl GROUP BY e.vec_id, pl.p
),
sig AS (
  SELECT vec_id, p // {PLANES_PER_BAND} AS band,
         CAST(sum(CASE WHEN dot > 0 THEN 1 << (p % {PLANES_PER_BAND}) ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id, p // {PLANES_PER_BAND}
),
cand AS (
  SELECT DISTINCT s.vec_id
  FROM sig s JOIN qsig ON s.band = qsig.band AND s.bucket = qsig.bucket
  WHERE s.vec_id <> {QUERY_VEC_ID}
),
scored AS (
  SELECT c.vec_id,
         {_qd_sql('e.embedding', 'q.qe')} AS qdot,
         {_qd_sql('e.embedding', 'e.embedding')} AS qn_a,
         {_qd_sql('q.qe', 'q.qe')} AS qn_b
  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id CROSS JOIN q
)
SELECT vec_id, round(qdot / (sqrt(qn_a) * sqrt(qn_b)), 6) AS cosine
FROM scored ORDER BY qdot DESC, vec_id ASC LIMIT {TOP_K}
"""


QUERIES["ann_lsh_topk"] = (q_ann_lsh_topk, _SQL_LSH_TOPK)


# --------------------------------------------------------------------------
# Hard-negative mining — the embedding-training op layered on the same
# integer-exact cosine family: for each anchor vector, the K_NEG most
# similar vectors bearing a DIFFERENT label (the "hard" negatives a
# contrastive/e5-style trainer pairs with each anchor). Cosine is reported
# in exact micro units (round(cos * 1e6) of IEEE-identical doubles), so the
# whole result is integer-hashable by the oracle.
N_ANCHORS = 8
K_NEG = 5
# per-anchor top-k is a two-phase tree: partial top-k per (anchor, salt)
# group, then final top-k over the n_salts * K_NEG survivors. NEG_SALTS
# bounds the collect_list per task to |candidates| / NEG_SALTS rows —
# deployments size it with the corpus (n / NEG_SALTS rows must fit a task),
# the same knob family as the LSH hot-bucket cap.
NEG_SALTS = 32


def hard_negative_topk(emb: DataFrame, anchors: DataFrame,
                       k: int = K_NEG, n_salts: int = NEG_SALTS) -> DataFrame:
    """(anchor_id, rank, vec_id, label, cos_micro): per anchor, the k
    highest-cosine vectors whose label differs from the anchor's
    (rank by cos_micro DESC, then vec_id — fully deterministic).

    Shape at 10^9 vectors: the anchor table broadcasts (a few rows) into a
    map-only nested-loop against the scan — the ONLY place a
    BroadcastNestedLoopJoin is the right plan: the build side is
    N_ANCHORS rows and the label predicate is a non-equi filter, so there
    is nothing to hash on and nothing to shuffle. Scoring is the Arrow
    numpy path; top-k never sorts globally — partial per-salt heads, then
    one tiny final reduce per anchor."""
    a = anchors.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("ae"),
        F.col("label").alias("alabel"),
    )
    scored = (
        emb.join(F.broadcast(a), emb["label"] != a["alabel"])
        .select(
            "anchor_id", "vec_id", "label",
            F.round(quantized_scores(F.col("embedding"), F.col("ae"))["cos"] * 1e6)
            .cast("long")
            .alias("cos_micro"),
        )
    )
    # a zero-norm vector scores a NULL cos_micro, ranked after every scored
    # one as the oracle's ORDER BY cos_micro DESC (NULLS LAST) does
    elem = F.struct(F.col("cos_micro").isNull().alias("no_cos"),
                    (-F.col("cos_micro")).alias("neg_cos"), "vec_id", "label",
                    "cos_micro")
    partial = (
        scored.withColumn("salt", F.pmod(F.xxhash64("vec_id"), F.lit(n_salts)))
        .groupBy("anchor_id", "salt")
        .agg(F.slice(F.array_sort(F.collect_list(elem)), 1, k).alias("head"))
        .select("anchor_id", F.explode("head").alias("s"))
    )
    final = (
        partial.groupBy("anchor_id")
        .agg(F.slice(F.array_sort(F.collect_list("s")), 1, k).alias("top"))
        .select("anchor_id", F.posexplode("top").alias("r", "s"))
        .select(
            "anchor_id",
            (F.col("r") + 1).cast("int").alias("rank"),
            F.col("s.vec_id").alias("vec_id"),
            F.col("s.label").alias("label"),
            F.col("s.cos_micro").alias("cos_micro"),
        )
    )
    return final.orderBy("anchor_id", "rank")


def q_ann_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    emb = valid_embeddings(T(spark, sf, "embeddings"))
    anchors = emb.filter(F.col("vec_id") < N_ANCHORS)
    return hard_negative_topk(emb, anchors)


_SQL_HARD_NEG = f"""
WITH anchors AS (
  SELECT vec_id AS anchor_id, embedding AS ae, label AS alabel
  FROM embeddings WHERE vec_id < {N_ANCHORS}
),
scored AS (
  SELECT a.anchor_id, e.vec_id, e.label,
         CAST(round(
           {_qd_sql('e.embedding', 'a.ae')}
           / (sqrt({_qd_sql('e.embedding', 'e.embedding')})
              * sqrt({_qd_sql('a.ae', 'a.ae')})) * 1000000
         ) AS BIGINT) AS cos_micro
  FROM embeddings e CROSS JOIN anchors a
  WHERE e.label <> a.alabel
),
ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY anchor_id ORDER BY cos_micro DESC, vec_id
         ) AS rank
  FROM scored
)
SELECT anchor_id, CAST(rank AS INTEGER) AS rank, vec_id, label, cos_micro
FROM ranked WHERE rank <= {K_NEG}
ORDER BY anchor_id, rank
"""


QUERIES["ann_hard_negatives"] = (q_ann_hard_negatives, _SQL_HARD_NEG)
