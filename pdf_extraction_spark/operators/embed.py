"""Deterministic text embeddings via the feature-hashing trick
(Weinberger et al., "Feature Hashing for Large Scale Multitask Learning",
ICML 2009 — a published public algorithm): word counts are scattered into
a fixed-dimension integer vector by a hash-derived index and ±1 sign.

This closes the loop on the similarity stack: every ANN / near-dup
operator upstream consumes an ``embedding`` column that had to come from
somewhere — here it comes FROM TEXT, with no model weights, fully
deterministically, and (because every component is an exact integer sum)
with a bit-identical DuckDB oracle. The md5-derived index/sign family is
the same engine-portable construction as the sign-LSH plane family.

Shapes: embedding is ONE Arrow-batched pandas UDF (per-batch word→(j,s)
memo; numpy scatter-add) — map-only, no shuffle. The registered query
verifies the embeddings through their USE — exact all-pairs integer
cosine at a near-dup threshold, computed by the scoring body of
``similarity.quantized_scores`` without its quantization step (the
components are already integers) — which is the oracle twin; at corpus
scale the same vectors feed ``neardup_bucketed_pairs`` / ``ann_lsh_topk``
(their int values are exact in float32/quantized form), making the
bucketed operators the scale path for text too.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

from pdf_extraction_spark.operators.similarity import (
    DIM as _SIM_DIM,
    _np_scores,
    quantized_scores,
    valid_embeddings,
)
from pdf_extraction_spark.sources.tables import load_testdata as T

EMBED_DIM = 64
NEARDUP_COS = 0.9

@F.pandas_udf(ArrayType(LongType()))
def hash_embed(texts: pd.Series) -> pd.Series:
    """text → array<bigint> feature-hash embedding of EMBED_DIM components.
    Index = md5('dim:'+w) first 7 hex chars mod EMBED_DIM; sign = parity of
    md5('sign:'+w) first 2 hex chars; value = Σ sign·count over the doc's
    words. One Arrow batch per task, the word → (index, sign) map memoized
    across it."""
    memo: dict = {}

    def slot(w: str):
        js = memo.get(w)
        if js is None:
            j = int(hashlib.md5(f"dim:{w}".encode()).hexdigest()[:7], 16) % EMBED_DIM
            s = 1 if int(hashlib.md5(f"sign:{w}".encode()).hexdigest()[:2], 16) % 2 == 0 else -1
            memo[w] = js = (j, s)
        return js

    out = []
    for t in texts:
        v = np.zeros(EMBED_DIM, dtype=np.int64)
        for w in (t.lower().split(" ") if isinstance(t, str) else []):
            j, s = slot(w)
            v[j] += s
        out.append(v)
    return pd.Series(out)


@F.pandas_udf(DoubleType())
def int_cosine(a: pd.Series, b: pd.Series) -> pd.Series:
    """Exact integer cosine: the scoring kernel's int64 dot, norms and one
    IEEE division (``similarity._np_scores``) applied to the raw
    components. No quantization: the inputs are already integers, and
    sqrt(10⁸·k) does not round like 10⁴·sqrt(k)."""
    _dot, cos = _np_scores(np.array(a.tolist(), dtype=np.int64),
                           np.array(b.tolist(), dtype=np.int64))
    return pd.Series(cos)


def q_text_embed_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup pairs by feature-hash embedding cosine ≥ NEARDUP_COS —
    text → embedding → similarity, end to end, exactly oracled (the
    all-pairs form IS the oracle twin; bucketed LSH is the scale path)."""
    docs = T(spark, sf, "documents")
    vecs = docs.select("doc_id", hash_embed(F.col("text")).alias("vec"))
    a = vecs.select(F.col("doc_id").alias("doc_a"), F.col("vec").alias("va"))
    b = vecs.select(F.col("doc_id").alias("doc_b"), F.col("vec").alias("vb"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.round(int_cosine("va", "vb"), 6).alias("cosine"))
        .filter(F.col("cosine") >= NEARDUP_COS)
        .orderBy("doc_a", "doc_b")
    )


_SQL_TEXT_EMBED = f"""
WITH w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents),
wc AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY doc_id, word),
h AS (SELECT doc_id,
        ('0x' || substring(md5('dim:' || word), 1, 7))::INTEGER % {EMBED_DIM} AS j,
        CASE WHEN ('0x' || substring(md5('sign:' || word), 1, 2))::INTEGER % 2 = 0
             THEN 1 ELSE -1 END AS s,
        c
      FROM wc),
dims AS (SELECT doc_id, j, CAST(sum(s * c) AS BIGINT) AS v FROM h GROUP BY doc_id, j),
vecs AS (
  SELECT d.doc_id, list(coalesce(m.v, 0) ORDER BY i.i) AS vec
  FROM (SELECT DISTINCT doc_id FROM dims) d
  CROSS JOIN (SELECT unnest(generate_series(0, {EMBED_DIM - 1})) AS i) i
  LEFT JOIN dims m ON m.doc_id = d.doc_id AND m.j = i.i
  GROUP BY d.doc_id
),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
     round(
       list_sum([a.vec[i] * b.vec[i] for i in generate_series(1, {EMBED_DIM})]) /
       (sqrt(list_sum([a.vec[i] * a.vec[i] for i in generate_series(1, {EMBED_DIM})])) *
        sqrt(list_sum([b.vec[i] * b.vec[i] for i in generate_series(1, {EMBED_DIM})]))), 6) AS cosine
  FROM vecs a JOIN vecs b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, cosine FROM p WHERE cosine >= {NEARDUP_COS}
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
def q_assemble_training_records(spark: SparkSession, sf: str) -> DataFrame:
    """Training-sample assembly: the last pipeline stage before a training
    loader — join each document to its embedding row (doc_id == vec_id),
    nest (text metadata, embedding, label) into ONE record struct, and
    report per-language integrity stats: record counts, embedding
    coverage, and an integer norm checksum (sum of quantized ||e||², exact
    in both engines) that detects any truncated/reordered vector. The
    nested struct is what actually gets written at scale (one
    self-contained row per sample, column-pruned reads); here the stats
    aggregate proves the assembly. Left join: docs without embeddings are
    KEPT and counted (the loader decides policy), never silently dropped."""
    docs = T(spark, sf, "documents")
    # norm checksum computed on the embedding side BEFORE the join — the
    # vectorized scoring kernel (its self-dot is the quantized squared
    # norm; no interpreted HOF), and no null handling needed
    emb = valid_embeddings(T(spark, sf, "embeddings")).select(
        F.col("vec_id").alias("doc_id"), "embedding", "label",
        quantized_scores(F.col("embedding"), F.col("embedding"))["qdot"].alias("qnorm2"),
    )
    rec = docs.join(emb, "doc_id", "left").select(
        "lang",
        F.struct(
            F.col("doc_id"), F.col("text"), F.col("n_chars"),
            F.col("embedding"), F.col("label"),
        ).alias("record"),
        F.when(F.col("embedding").isNotNull(), 1).otherwise(0).alias("has_emb"),
        F.coalesce(F.col("qnorm2"), F.lit(0)).alias("qnorm2"),
    )
    return (
        rec.select("lang", F.col("record.n_chars").alias("n_chars"), "has_emb", "qnorm2")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_records"),
            F.sum("has_emb").alias("n_with_embedding"),
            F.round(F.sum("has_emb") / F.count("*"), 6).alias("coverage"),
            F.sum("qnorm2").alias("qnorm2_checksum"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


_SQL_ASSEMBLE = f"""
SELECT d.lang, count(*) AS n_records,
       CAST(sum(CASE WHEN e.embedding IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_embedding,
       round(sum(CASE WHEN e.embedding IS NOT NULL THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS coverage,
       CAST(coalesce(sum(list_sum(list_transform(e.embedding,
            x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)
               * CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)))), 0) AS BIGINT) AS qnorm2_checksum,
       CAST(sum(d.n_chars) AS BIGINT) AS total_chars
FROM documents d LEFT JOIN
     (SELECT * FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = {_SIM_DIM}) e
  ON d.doc_id = e.vec_id
GROUP BY d.lang ORDER BY d.lang
"""


QUERIES = {
    "text_embed_neardup": (q_text_embed_neardup, _SQL_TEXT_EMBED),
    "assemble_training_records": (q_assemble_training_records, _SQL_ASSEMBLE),
}


# --------------------------------------------------------------------------
# int8 embedding quantization — the vector-store prep step: per vector,
# symmetric max-abs scaling to int8 ([-127, 127]) plus exact integer
# reconstruction-error statistics. The scale is quantized to micro units
# FIRST (one round of an identical double), so the whole downstream chain
# (q components, nano-unit errors) is a deterministic function both engines
# compute bit-identically — the same integer-exactness discipline as the
# quantized-cosine family in operators/similarity.py.
@F.pandas_udf(StructType([StructField("scale_micro", LongType()),
                          StructField("sum_abs_err_nano", LongType()),
                          StructField("max_abs_err_nano", LongType())]))
def int8_quant_stats(emb: pd.Series) -> pd.DataFrame:
    """struct(scale_micro, sum_abs_err_nano, max_abs_err_nano) per vector,
    numpy-vectorized per Arrow batch (the hot path at 10^9 vectors; the
    SQL twin in _SQL_INT8 documents the exact arithmetic). Zero vectors
    quantize to all-zero with zero error."""
    A = np.array(emb.tolist(), dtype=np.float64)
    scale_micro = np.round(np.abs(A).max(axis=1) * 1e6).astype(np.int64)
    scale_d = scale_micro / 1e6
    safe = np.where(scale_d > 0, scale_d, 1.0)[:, None]
    q = np.round(A / safe * 127)
    q[scale_micro == 0] = 0.0
    err_nano = np.abs(
        np.round((A - q * safe / 127) * 1e9).astype(np.int64)
    )
    return pd.DataFrame(
        {
            "scale_micro": scale_micro,
            "sum_abs_err_nano": err_nano.sum(axis=1),
            "max_abs_err_nano": err_nano.max(axis=1),
        }
    )


def q_embed_int8_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label int8-quantization report: vector counts, total scale
    mass, and the summed/worst reconstruction error in exact nano units —
    the acceptance gate a vector-store migration runs before swapping
    float32 embeddings for int8. Map-only (one Arrow stage on the scan)
    plus a single partial-aggregated groupBy(label)."""
    emb = valid_embeddings(T(spark, sf, "embeddings"))
    s = emb.select("label", int8_quant_stats(F.col("embedding")).alias("s"))
    return (
        s.groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum("s.scale_micro").alias("sum_scale_micro"),
            F.sum("s.sum_abs_err_nano").alias("sum_abs_err_nano"),
            F.max("s.max_abs_err_nano").alias("max_abs_err_nano"),
        )
        .orderBy("label")
    )


_SQL_INT8 = f"""
WITH s AS (
  SELECT label, embedding,
         CAST(round(list_max(list_transform(embedding,
                x -> abs(CAST(x AS DOUBLE)))) * 1000000) AS BIGINT) AS scale_micro
  FROM embeddings
),
q AS (
  SELECT label, scale_micro, embedding,
         list_transform(embedding,
           x -> CASE WHEN scale_micro = 0 THEN 0.0
                ELSE round(CAST(x AS DOUBLE) / (scale_micro / 1000000.0) * 127)
                END) AS qv
  FROM s
),
e AS (
  SELECT label, scale_micro,
         list_transform(range(1, {_SIM_DIM} + 1),
           i -> abs(CAST(round((CAST(embedding[i] AS DOUBLE)
                    - qv[i] * (CASE WHEN scale_micro = 0 THEN 1.0
                               ELSE scale_micro / 1000000.0 END) / 127)
                    * 1000000000) AS BIGINT))) AS err
  FROM q
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(scale_micro) AS BIGINT) AS sum_scale_micro,
       CAST(sum(list_sum(err)) AS BIGINT) AS sum_abs_err_nano,
       CAST(max(list_max(err)) AS BIGINT) AS max_abs_err_nano
FROM e GROUP BY label ORDER BY label
"""


QUERIES["embed_int8_stats"] = (q_embed_int8_stats, _SQL_INT8)
