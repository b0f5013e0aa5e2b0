"""Text-analysis operators for training-data pipelines — pure column
expressions (JVM-side), except the fingerprint's one Arrow-batched UDF.

- lang_id         : stopword-ratio n-gram heuristic language guess
- text_quality    : length / punctuation / stopword-ratio quality flags
- token_count     : whitespace tokens + BPE-ish regex tokens + len//4 est.
- doc_fingerprint : min-hash fingerprint over word trigrams (winnowing-style
                    content fingerprint, engine-portable via md5 hex min)
- sessionize      : lag/cumsum sessionization over the events stream table
                    (the window-function workload class, SURVEY.md §2.5)
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from pdf_extraction_spark.operators.dedup import word_shingles
from pdf_extraction_spark.sources.tables import load_testdata as T

STOPWORDS = ("a", "the", "and", "of", "to", "in", "is", "on", "for", "with")
SESSION_GAP_MIN = 30


def q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    docs = T(spark, sf, "documents")
    words = F.split(F.lower(F.col("text")), " ")
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(words, lambda x: F.array_contains(sw, x)))
    ratio = F.round(n_stop.cast("double") / F.greatest(F.size(words), F.lit(1)), 6)
    guess = F.when(ratio >= 0.05, "en").otherwise("other")
    return (
        docs.select(guess.alias("lang_guess"), ratio.alias("stop_ratio"), "lang")
        .groupBy("lang_guess")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("stop_ratio"), 6).alias("avg_stop_ratio"),
            F.sum(F.when(F.col("lang_guess") == F.col("lang"), 1).otherwise(0)).alias("n_agree"),
        )
        .orderBy("lang_guess")
    )


_STOP_LIST_SQL = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"

_SQL_LANG_ID = f"""
WITH r AS (
  SELECT lang,
    round(CAST(len(list_filter(string_split(lower(text), ' '),
                    x -> list_contains({_STOP_LIST_SQL}, x))) AS DOUBLE)
          / greatest(len(string_split(lower(text), ' ')), 1), 6) AS stop_ratio
  FROM documents
), g AS (
  SELECT CASE WHEN stop_ratio >= 0.05 THEN 'en' ELSE 'other' END AS lang_guess,
         stop_ratio, lang
  FROM r
)
SELECT lang_guess, count(*) AS n, round(avg(stop_ratio), 6) AS avg_stop_ratio,
       CAST(sum(CASE WHEN lang_guess = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
FROM g GROUP BY lang_guess ORDER BY lang_guess
"""


# --------------------------------------------------------------------------
def q_text_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Quality flags: too_short / punct_heavy / ok, by simple ratios."""
    docs = T(spark, sf, "documents")
    n = F.length("text")
    n_punct = F.coalesce(F.regexp_count(F.col("text"), F.lit(r"[^\w\s]")), F.lit(0))
    punct_ratio = F.round(n_punct.cast("double") / F.greatest(n, F.lit(1)), 6)
    n_words = F.size(F.split(F.col("text"), " "))
    flag = (
        F.when(n < 100, "too_short")
        .when(punct_ratio > 0.1, "punct_heavy")
        .otherwise("ok")
    )
    return (
        docs.select(flag.alias("flag"), punct_ratio.alias("pr"), n_words.alias("nw"))
        .groupBy("flag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("pr"), 6).alias("avg_punct_ratio"),
            F.round(F.avg("nw"), 6).alias("avg_words"),
        )
        .orderBy("flag")
    )


_SQL_TEXT_QUALITY = r"""
WITH r AS (
  SELECT round(CAST(length(regexp_replace(text, '[\w\s]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1), 6) AS pr,
         len(string_split(text, ' ')) AS nw,
         length(text) AS n
  FROM documents
), f AS (
  SELECT CASE WHEN n < 100 THEN 'too_short'
              WHEN pr > 0.1 THEN 'punct_heavy'
              ELSE 'ok' END AS flag, pr, nw
  FROM r
)
SELECT flag, count(*) AS n, round(avg(pr), 6) AS avg_punct_ratio,
       round(avg(nw), 6) AS avg_words
FROM f GROUP BY flag ORDER BY flag
"""


# --------------------------------------------------------------------------
def q_token_count(spark: SparkSession, sf: str) -> DataFrame:
    """Three tokenizers side by side: whitespace, BPE-ish regex, len//4."""
    docs = T(spark, sf, "documents")
    ws_tokens = F.size(F.split(F.col("text"), F.lit(r"\s+")))
    bpe_tokens = F.coalesce(F.regexp_count(F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")), F.lit(0))
    est_tokens = F.floor(F.length("text") / 4)
    return (
        docs.select("source", ws_tokens.alias("ws"), bpe_tokens.alias("bpe"), est_tokens.alias("est"))
        .groupBy("source")
        .agg(
            F.sum("ws").cast("bigint").alias("ws_tokens"),
            F.sum("bpe").cast("bigint").alias("bpe_tokens"),
            F.sum("est").cast("bigint").alias("est_tokens"),
        )
        .orderBy("source")
    )


_SQL_TOKEN_COUNT = r"""
SELECT source,
       CAST(sum(len(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS ws_tokens,
       CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS bpe_tokens,
       CAST(sum(floor(length(text) / 4)) AS BIGINT) AS est_tokens
FROM documents GROUP BY source ORDER BY source
"""


# --------------------------------------------------------------------------
@F.pandas_udf(StringType())
def _fingerprint_udf(texts: pd.Series) -> pd.Series:
    """Vectorized fingerprint: min md5 hex over the word trigrams
    (``dedup.word_shingles``), one Arrow batch per task; None below three
    words. Min over distinct grams equals min over all of them, so this
    matches the SQL oracle exactly."""
    out = []
    for t in texts:
        grams = word_shingles(t, 3)
        out.append(min(hashlib.md5(g.encode("utf-8")).hexdigest() for g in grams)
                   if grams else None)
    return pd.Series(out)


def q_doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Content fingerprint: lexicographic-min md5 over word trigrams
    (1-permutation MinHash — a deterministic winnowing-style fingerprint)."""
    docs = T(spark, sf, "documents")
    return (
        docs.select(
            "doc_id", F.coalesce(_fingerprint_udf(F.col("text")), F.lit("")).alias("fingerprint")
        )
        .orderBy("doc_id")
    )


_SQL_FINGERPRINT = """
WITH ws AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
SELECT doc_id,
       coalesce(CASE WHEN len(w) >= 3
                     THEN list_min([md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                                    for i in generate_series(1, len(w)-2)])
                     ELSE NULL END, '') AS fingerprint
FROM ws ORDER BY doc_id
"""


# --------------------------------------------------------------------------
def q_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (lag + running sum of gap>threshold)."""
    ev = T(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap_min = (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))) / 60.0
    new_sess = F.when(gap_min.isNull() | (gap_min > SESSION_GAP_MIN), 1).otherwise(0)
    sess = (
        ev.withColumn("new_sess", new_sess)
        .withColumn("session_id", F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, 0)))
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("sess_len"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("sess_len").alias("max_session_len"),
            F.sum("sess_len").alias("n_events"),
        )
        .orderBy("user_id")
    )


_SQL_SESSIONIZE = f"""
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('second', lag(ts) OVER w, ts) / 60.0 > {SESSION_GAP_MIN}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), s AS (
  SELECT user_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g
), per_sess AS (
  SELECT user_id, session_id, count(*) AS sess_len FROM s GROUP BY user_id, session_id
)
SELECT user_id, count(*) AS n_sessions, max(sess_len) AS max_session_len,
       CAST(sum(sess_len) AS BIGINT) AS n_events
FROM per_sess GROUP BY user_id ORDER BY user_id
"""


QUERIES = {
    "lang_id": (q_lang_id, _SQL_LANG_ID),
    "text_quality": (q_text_quality, _SQL_TEXT_QUALITY),
    "token_count": (q_token_count, _SQL_TOKEN_COUNT),
    "doc_fingerprint": (q_doc_fingerprint, _SQL_FINGERPRINT),
    "sessionize": (q_sessionize, _SQL_SESSIONIZE),
}


# --------------------------------------------------------------------------
def q_dedup_consecutive(spark: SparkSession, sf: str) -> DataFrame:
    """Collapse consecutive duplicate entries per key (a transcript-cleaning
    staple: repeated identical turns / retried tool outputs). lag() window,
    keep the first of each run; emits per-user kept/dropped counts."""
    ev = T(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    dup = (F.col("event_type") == F.lag("event_type").over(w)).cast("int")
    return (
        ev.withColumn("is_dup", F.coalesce(dup, F.lit(0)))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("is_dup").alias("n_dropped"),
            (F.count("*") - F.sum("is_dup")).alias("n_kept"),
        )
        .orderBy("user_id")
    )


_SQL_DEDUP_CONSECUTIVE = """
WITH d AS (
  SELECT user_id,
         CASE WHEN event_type = lag(event_type)
                   OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
              THEN 1 ELSE 0 END AS is_dup
  FROM events
)
SELECT user_id, count(*) AS n_events,
       CAST(sum(is_dup) AS BIGINT) AS n_dropped,
       CAST(count(*) - sum(is_dup) AS BIGINT) AS n_kept
FROM d GROUP BY user_id ORDER BY user_id
"""


QUERIES["dedup_consecutive"] = (q_dedup_consecutive, _SQL_DEDUP_CONSECUTIVE)


# --------------------------------------------------------------------------
# Corpus-level vocabulary statistics + Gopher-style repetition signals
# (r3). Both are single-purpose training-data passes with no reference
# analogue; shapes:
#   vocab_stats  : explode words → ONE groupBy(token) with map-side partial
#                  aggregation → global top-k (TakeOrdered, no full sort).
#   repetition   : per-doc duplicate-word mass — explode → (doc, word)
#                  counts → per-doc max/sum. Two shuffles, both keyed on
#                  doc_id-containing keys so skew follows document length,
#                  which the corpus bounds.

VOCAB_TOP_K = 20
REPETITION_MIN_TOP_FRAC = 0.15


def q_vocab_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Top-K corpus vocabulary: (token, n_occurrences, n_docs), ties broken
    by token for determinism."""
    from pdf_extraction_spark.parallel import fan_out

    docs = T(spark, sf, "documents")
    # r7 fan_out: word explode + partial agg on a one-task scan (guide §2.2)
    words = fan_out(docs, "doc_id").select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
    )
    return (
        words.groupBy("token")
        .agg(F.count("*").alias("n_occ"), F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.desc("n_occ"), F.asc("token"))
        .limit(VOCAB_TOP_K)
    )


_SQL_VOCAB = f"""
WITH w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
SELECT token, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
FROM w GROUP BY token ORDER BY n_occ DESC, token ASC LIMIT {VOCAB_TOP_K}
"""


def q_repetition_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition flags: per doc the fraction of word mass in
    the single most frequent word (top_frac) and the duplicate-word mass
    (1 - distinct/total); emit docs above the top_frac threshold."""
    docs = T(spark, sf, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    per_word = words.groupBy("doc_id", "w").agg(F.count("*").alias("n"))
    per_doc = per_word.groupBy("doc_id").agg(
        F.sum("n").alias("n_words"),
        F.max("n").alias("top_n"),
        F.count("*").alias("n_distinct"),
    )
    return (
        per_doc.select(
            "doc_id",
            "n_words",
            F.round(F.col("top_n") / F.col("n_words"), 6).alias("top_frac"),
            F.round(1 - F.col("n_distinct") / F.col("n_words"), 6).alias("dup_frac"),
        )
        .filter(F.col("top_frac") >= REPETITION_MIN_TOP_FRAC)
        .orderBy("doc_id")
    )


_SQL_REPETITION = f"""
WITH w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents),
pw AS (SELECT doc_id, w, count(*) AS n FROM w GROUP BY doc_id, w),
pd AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_words, max(n) AS top_n,
              count(*) AS n_distinct
       FROM pw GROUP BY doc_id)
SELECT doc_id, n_words,
       round(CAST(top_n AS DOUBLE) / n_words, 6) AS top_frac,
       round(1 - CAST(n_distinct AS DOUBLE) / n_words, 6) AS dup_frac
FROM pd WHERE CAST(top_n AS DOUBLE) / n_words >= {REPETITION_MIN_TOP_FRAC}
ORDER BY doc_id
"""


QUERIES["vocab_stats"] = (q_vocab_stats, _SQL_VOCAB)
QUERIES["repetition_stats"] = (q_repetition_stats, _SQL_REPETITION)
