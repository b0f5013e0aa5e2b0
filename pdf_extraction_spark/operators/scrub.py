"""Corpus scrubbing operators for training-data pipelines: PII redaction
and benchmark decontamination.

No reference-repo analogue (the reference redacts nothing and has no
benchmark notion); these are the standard pre-training hygiene passes a
100 TB text pipeline runs between dedup and tokenization:

- ``redact_pii``    : regex masking of emails/phone numbers with per-doc
  hit counts. Pure codegen'd string expressions (regexp_replace /
  regexp_count) — no Python, no shuffle: a map-only pass that rewrites the
  text column in place. Patterns are written in the common Java-regex ∩
  RE2 subset so the DuckDB oracle applies the IDENTICAL expressions.
  The testdata corpus is synthetic word-soup with no organic PII, so the
  query first APPENDS deterministic doc_id-derived PII to a subset of
  rows (same arithmetic in SQL) — the redaction is then verifiably
  non-degenerate: counts are nonzero and masked text hashes must match.
- ``contamination`` : n-gram-overlap decontamination — flag corpus docs
  sharing any word 4-gram with a held-out benchmark set (here: every
  50th doc stands in for the benchmark; 4 balances realism against the
  synthetic corpus's gram sparsity — at 5 only 1-2 docs overlap, degenerate
  evidence). Shape: explode distinct 4-grams
  on both sides, equi-join on the gram, count distinct shared grams per
  doc. The benchmark side is orders of magnitude smaller than the corpus,
  so it is BROADCAST — the corpus-side explode stays map-local and never
  shuffles (the aggregation shuffles only matched (doc, gram) rows, a
  tiny fraction of the corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_extraction_spark.operators.dedup import grams_udf
from pdf_extraction_spark.parallel import broadcast_within, fan_out
from pdf_extraction_spark.sources.tables import load_testdata as T

# Java-regex ∩ RE2 subset: no lookarounds, no backrefs — identical
# semantics in Spark and DuckDB.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?\d{3}[- ]\d{3}[- ]\d{4}"

CONTAM_SHINGLE = 4
BENCH_EVERY = 50


def with_synthetic_pii(docs: DataFrame) -> DataFrame:
    """Deterministically inject PII into a subset of rows (doc_id % 4):
    0 → email, 1 → phone, 2 → both, 3 → untouched. The SQL oracle builds
    the identical strings, so redaction is verified end-to-end."""
    email = F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com"))
    phone = F.concat(
        F.lit(" call +1"), F.lpad((F.col("doc_id") % 1000).cast("string"), 2, "0"),
        F.lit("-555-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    m = F.col("doc_id") % 4
    return docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(m == 0, email)
            .when(m == 1, phone)
            .when(m == 2, F.concat(email, phone))
            .otherwise(F.lit("")),
        ),
    )


def redact_pii(docs: DataFrame) -> DataFrame:
    """(doc_id, clean_text, n_emails, n_phones) — map-only codegen'd pass."""
    return docs.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ).alias("clean_text"),
        F.regexp_count("text", F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count("text", F.lit(PHONE_RE)).alias("n_phones"),
    )


def q_redact_pii(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc PII hits + a corpus digest of the MASKED text (md5), proving
    the rewritten strings — not just the counts — match the oracle."""
    # r7: measured fan_out here as neutral-to-negative (1.4 s plain vs
    # 1.6 s widened at sf1.0) — the two regexp_counts are too light to
    # beat one exchange of the full text; left narrow deliberately
    red = redact_pii(with_synthetic_pii(T(spark, sf, "documents")))
    return (
        red.select("doc_id", "n_emails", "n_phones", F.md5("clean_text").alias("clean_md5"))
        .filter((F.col("n_emails") > 0) | (F.col("n_phones") > 0))
        .orderBy("doc_id")
    )


# the email/phone builders appear in two CASE arms — define once
_EMAIL_SQL = "' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'"
_PHONE_SQL = (
    "' call +1' || lpad(CAST(doc_id % 1000 AS VARCHAR), 2, '0')"
    " || '-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)

_PII_AUG = f"""
  SELECT doc_id,
         text || CASE CAST(doc_id % 4 AS INTEGER)
           WHEN 0 THEN {_EMAIL_SQL}
           WHEN 1 THEN {_PHONE_SQL}
           WHEN 2 THEN {_EMAIL_SQL} || {_PHONE_SQL}
           ELSE '' END AS text
  FROM documents
"""

_SQL_REDACT = f"""
WITH aug AS ({_PII_AUG}),
red AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                        '{PHONE_RE}', '<PHONE>', 'g') AS clean_text,
         CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS INTEGER) AS n_emails,
         CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS INTEGER) AS n_phones
  FROM aug
)
SELECT doc_id, n_emails, n_phones, md5(clean_text) AS clean_md5
FROM red WHERE n_emails > 0 OR n_phones > 0 ORDER BY doc_id
"""


# --------------------------------------------------------------------------
def q_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus docs sharing ≥1 word 4-gram with the benchmark subset
    (doc_id % BENCH_EVERY == 0): (doc_id, n_shared_grams). The benchmark
    gram set is broadcast; corpus grams never shuffle pre-join."""
    docs = T(spark, sf, "documents")
    # r7: filter each branch BEFORE the shingle UDF (the doc_id predicate
    # does not depend on the UDF output, so pre-filtering is free column
    # pruning of the expensive work — the bench side then shingles 2% of
    # the corpus instead of all of it) and fan_out the one-task scan
    # (guide §2.2/§4.1).
    shingled = lambda d: fan_out(d, "doc_id").select(  # noqa: E731
        "doc_id", F.explode(grams_udf(F.col("text"), CONTAM_SHINGLE)).alias("g")
    )
    bench_docs = docs.filter(F.col("doc_id") % BENCH_EVERY == 0)
    bench = shingled(bench_docs).select("g").distinct()
    # upper bound on the gram set's bytes, from the text: at most one gram
    # per word, 40 bytes of row plus CONTAM_SHINGLE - 1 separators each, and
    # each word's bytes in at most CONTAM_SHINGLE grams
    text = F.lower(F.col("text"))
    n_bytes = bench_docs.agg(F.sum(
        (40 + CONTAM_SHINGLE - 1) * F.size(F.split(text, " "))
        + CONTAM_SHINGLE * F.octet_length(text)
    )).first()[0] or 0
    corpus = shingled(docs.filter(F.col("doc_id") % BENCH_EVERY != 0))
    return (
        corpus.join(broadcast_within(bench, n_bytes), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_shared_grams"))
        .orderBy("doc_id")
    )


_SQL_CONTAM = f"""
WITH ws AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
sh AS (SELECT doc_id,
         CASE WHEN len(w) >= {CONTAM_SHINGLE}
              THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                                  for i in generate_series(1, len(w)-{CONTAM_SHINGLE - 1})])
              ELSE [] END AS grams
       FROM ws),
ex AS (SELECT doc_id, unnest(grams) AS g FROM sh),
bench AS (SELECT DISTINCT g FROM ex WHERE doc_id % {BENCH_EVERY} = 0)
SELECT e.doc_id, count(DISTINCT e.g) AS n_shared_grams
FROM ex e JOIN bench b ON e.g = b.g
WHERE e.doc_id % {BENCH_EVERY} <> 0
GROUP BY e.doc_id ORDER BY doc_id
"""


QUERIES = {
    "redact_pii": (q_redact_pii, _SQL_REDACT),
    "contamination_check": (q_contamination, _SQL_CONTAM),
}
