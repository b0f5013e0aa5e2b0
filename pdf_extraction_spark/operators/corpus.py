"""Corpus-curation analytics — four fully-oracled operators that round out
the training-data surface, all pure column expressions (JVM-side, zero
Python in the hot path, every shuffle keyed and partial-aggregated):

- scd2_user_segments : gaps-and-islands SCD Type-2 history build — per-user
                       daily activity segment collapsed into validity
                       intervals (valid_from/valid_to). The classic
                       warehouse change-tracking pattern (the reference
                       keeps only latest-state rows, e.g. processing_jobs
                       status in app/db/processing_jobs.py; this derives
                       the full history a warehouse would retain).
- pack_sequences     : token-budget sequence packing — stream documents
                       into ~BUDGET-token packs via a running-sum window
                       (the pretraining "sequence packing" step; greedy
                       stream-packing semantics: a doc joins the pack its
                       START falls into, so a pack may overflow by at most
                       one document).
- tfidf_top_terms    : per-language top-5 terms by summed tf-idf. The idf
                       weight is an INTEGER surrogate (N*1e6 // df,
                       integer division) so Spark and DuckDB agree
                       bit-exactly — float ln() is libm-dependent and
                       would make the oracle hash fragile.
- chunk_dedup_stats  : chunk-grain exact dedup (the word-window form of
                       exact-substring dedup, Lee et al. 2022 "Deduplicating
                       Training Data Makes Language Models Better"):
                       non-overlapping word 10-grams, global keep-first by
                       chunk content, per-source duplicate mass.

Scale notes (100 TB):
- scd2: two shuffles on user_id (daily rollup reuses the same hash
  partitioning for the island window — Catalyst reuses the exchange).
- pack_sequences: ONE shuffle on source; the running sum is evaluated
  inside the sorted partition. At petabyte scale the pack key would be
  (source, day)-grained to bound partition width; the window itself is
  O(rows-per-group) with no self-join.
- tfidf: word-grain shuffle (vocab-bounded, partial-aggregated map-side),
  then a broadcast-sized df table joined back; no row explosion survives
  the first groupBy.
- chunk_dedup: one shuffle on the chunk hash — identical shape to
  dedup_exact but at sub-document grain; dup decision is a keep-first
  window, not a self-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from pdf_extraction_spark.sources.tables import load_testdata as T

PACK_BUDGET = 512
CHUNK_WORDS = 10


# --------------------------------------------------------------------------
def q_scd2_user_segments(spark: SparkSession, sf: str) -> DataFrame:
    """SCD Type-2 interval build via gaps-and-islands: per user-day event
    counts → integer-threshold segment (hot>=5 / warm>=2 / cold) → runs of
    CONSECUTIVE same-segment days collapse into one validity interval.
    Island key = day - row_number() within (user, segment): constant across
    a consecutive run, breaks on any gap or segment flip. Integer counts
    only — no float aggregate can diverge between engines."""
    ev = T(spark, sf, "events")
    daily = (
        ev.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n_ev"))
        .withColumn(
            "segment",
            F.when(F.col("n_ev") >= 5, "hot").when(F.col("n_ev") >= 2, "warm").otherwise("cold"),
        )
    )
    rn = F.row_number().over(W.partitionBy("user_id", "segment").orderBy("day"))
    islands = daily.withColumn("anchor", F.date_sub(F.col("day"), rn))
    return (
        islands.groupBy("user_id", "segment", "anchor")
        .agg(
            F.min("day").alias("valid_from"),
            F.max("day").alias("valid_to"),
            F.count("*").alias("n_days"),
            F.sum("n_ev").alias("n_events"),
        )
        .select("user_id", "segment", "valid_from", "valid_to", "n_days", "n_events")
        .orderBy("user_id", "valid_from", "segment")
    )


_SQL_SCD2 = """
WITH d AS (
  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_ev
  FROM events GROUP BY user_id, CAST(ts AS DATE)
), s AS (
  SELECT user_id, day, n_ev,
         CASE WHEN n_ev >= 5 THEN 'hot' WHEN n_ev >= 2 THEN 'warm' ELSE 'cold' END AS segment
  FROM d
), g AS (
  SELECT user_id, day, segment, n_ev,
         day - CAST(row_number() OVER (PARTITION BY user_id, segment ORDER BY day) AS INTEGER) AS anchor
  FROM s
)
SELECT user_id, segment, min(day) AS valid_from, max(day) AS valid_to,
       count(*) AS n_days, CAST(sum(n_ev) AS BIGINT) AS n_events
FROM g GROUP BY user_id, segment, anchor
ORDER BY user_id, valid_from, segment
"""


# --------------------------------------------------------------------------
def q_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget sequence packing: within each source stream (ordered by
    doc_id — the growth-stable order), a running token sum assigns each doc
    to pack floor(preceding_tokens / BUDGET). Greedy stream packing: packs
    can overflow by at most one doc (reported), never underfill by more
    than the next doc's length. All-integer arithmetic."""
    docs = T(spark, sf, "documents")
    t = docs.select(
        "source", "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tok")
    )
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    c = t.withColumn("cum", F.sum("n_tok").over(w))
    p = c.withColumn(
        "pack_id",
        F.floor((F.col("cum") - F.col("n_tok")) / F.lit(float(PACK_BUDGET))).cast("bigint"),
    )
    return (
        p.groupBy("source", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("pack_tokens"),
            F.greatest(F.sum("n_tok") - PACK_BUDGET, F.lit(0)).cast("bigint").alias("overflow"),
        )
        .orderBy("source", "pack_id")
    )


_SQL_PACK = f"""
WITH t AS (
  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
), c AS (
  SELECT source, doc_id, n_tok,
         sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
), p AS (
  SELECT source, CAST(floor((cum - n_tok) / {PACK_BUDGET}.0) AS BIGINT) AS pack_id, n_tok
  FROM c
)
SELECT source, pack_id, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
       CAST(greatest(sum(n_tok) - {PACK_BUDGET}, 0) AS BIGINT) AS overflow
FROM p GROUP BY source, pack_id ORDER BY source, pack_id
"""


# --------------------------------------------------------------------------
def q_tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language top-5 terms by summed tf-idf. idf is the integer
    surrogate (n_docs * 1_000_000) div df — exact in both engines, ordinal
    within a corpus identical to ln(N/df) ranking up to ties (both are
    strictly decreasing in df); ties broken by word. The df table is
    vocab-sized → broadcast back onto the tf aggregate."""
    from pdf_extraction_spark.parallel import broadcast_within, fan_out

    docs = T(spark, sf, "documents")
    split = F.split(F.lower(F.col("text")), " ")
    # one job: the doc count, and an upper bound on the df table's bytes as
    # a hash relation — 48 plus the UTF-8 bytes per distinct word of each
    # doc (the planner estimate starts from compressed parquet bytes)
    uniq = F.array_distinct(split)
    n_docs, df_bytes = docs.agg(
        F.count("*"), F.sum(48 * F.size(uniq) + F.octet_length(F.array_join(uniq, "")))
    ).first()
    # r7 fan_out: the word explode + (doc,word) partial aggregation is the
    # heavy map work and the scan is one task — widen first (guide §2.2)
    words = fan_out(docs, "doc_id").select(
        "doc_id", "lang", F.explode(split).alias("word")
    ).filter(F.col("word") != "")
    tf = words.groupBy("doc_id", "lang", "word").agg(F.count("*").alias("tf"))
    df_tbl = tf.groupBy("word").agg(F.count("*").alias("df"))
    idf = F.expr(f"CAST({n_docs} AS BIGINT) * 1000000 div df")
    sc = (
        tf.join(broadcast_within(df_tbl, df_bytes or 0), "word")
        .groupBy("lang", "word")
        .agg(F.sum(F.col("tf") * idf).alias("score"))
    )
    rk = F.row_number().over(W.partitionBy("lang").orderBy(F.desc("score"), F.asc("word")))
    return (
        sc.withColumn("rk", rk)
        .filter(F.col("rk") <= 5)
        .select("lang", "word", "score", "rk")
        .orderBy("lang", "rk")
    )


_SQL_TFIDF = """
WITH w AS (
  SELECT doc_id, lang, u.word FROM documents,
  LATERAL unnest(string_split(lower(text), ' ')) AS u(word)
  WHERE u.word <> ''
), tf AS (
  SELECT doc_id, lang, word, count(*) AS tf FROM w GROUP BY doc_id, lang, word
), df AS (
  SELECT word, count(*) AS df FROM tf GROUP BY word
), n AS (SELECT count(*) AS n_docs FROM documents),
sc AS (
  SELECT tf.lang, tf.word, sum(tf.tf * ((n.n_docs * 1000000) // df.df)) AS score
  FROM tf JOIN df USING (word) CROSS JOIN n
  GROUP BY tf.lang, tf.word
), rk AS (
  SELECT lang, word, CAST(score AS BIGINT) AS score,
         row_number() OVER (PARTITION BY lang ORDER BY score DESC, word) AS rk
  FROM sc
)
SELECT lang, word, score, rk FROM rk WHERE rk <= 5 ORDER BY lang, rk
"""


# --------------------------------------------------------------------------
def chunk_dup_fractions(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Per-document chunk-duplicate mass: (id, n_chunks, n_dup_chunks,
    dup_frac) from global keep-first over non-overlapping word 10-grams,
    ordered by (id, chunk_idx). Reused by the oracled query below and by
    the curation chain's repetition filter."""
    from pdf_extraction_spark.parallel import fan_out

    words = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(words) / F.lit(float(CHUNK_WORDS))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(words, i * CHUNK_WORDS + 1, CHUNK_WORDS), " "),
    )
    # r7 fan_out: the chunking transform is an interpreted higher-order
    # lambda (CodegenFallback) over every word — the heaviest map work in
    # this query — and the scan is one task; widen first (guide §2.2)
    c = fan_out(docs, id_col).select(
        F.col(id_col).alias("_id"), F.posexplode(chunks).alias("chunk_idx", "chunk")
    )
    rn = F.row_number().over(W.partitionBy("chunk").orderBy("_id", "chunk_idx"))
    return (
        c.withColumn("is_dup", (rn > 1).cast("int"))
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("is_dup").alias("n_dup_chunks"),
            F.round(F.sum("is_dup") / F.count("*"), 6).alias("dup_frac"),
        )
        .withColumnRenamed("_id", id_col)
    )


def q_chunk_dedup_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Chunk-grain exact dedup: split each doc into non-overlapping word
    10-grams, keep-first globally by chunk CONTENT (window over the chunk,
    ordered by (doc_id, chunk_idx) — the same stable order the corpus is
    read in), report per-source duplicate chunk mass. The word-window form
    of exact-substring dedup (Lee et al. 2022); at corpus scale the window
    partitions by a 64-bit chunk hash instead of the raw string (same
    shuffle shape, 8-byte keys)."""
    docs = T(spark, sf, "documents")
    fracs = chunk_dup_fractions(docs)  # ONE implementation, shared with curation
    return (
        fracs.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.sum("n_chunks").alias("n_chunks"),
            F.sum("n_dup_chunks").alias("n_dup_chunks"),
            F.round(F.sum("n_dup_chunks") / F.sum("n_chunks"), 6).alias("dup_frac"),
        )
        .orderBy("source")
    )


_SQL_CHUNK_DEDUP = f"""
WITH w AS (
  SELECT doc_id, source, string_split(text, ' ') AS words FROM documents
), c AS (
  SELECT doc_id, source, s.item AS chunk_idx,
         array_to_string(words[s.item*{CHUNK_WORDS}+1 : s.item*{CHUNK_WORDS}+{CHUNK_WORDS}], ' ') AS chunk
  FROM w, LATERAL unnest(generate_series(0, CAST(ceil(len(words)/{CHUNK_WORDS}.0) AS BIGINT) - 1)) AS s(item)
), r AS (
  SELECT source, chunk,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
  FROM c
)
SELECT source, count(*) AS n_chunks,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       round(CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_frac
FROM r GROUP BY source ORDER BY source
"""


# --------------------------------------------------------------------------
TARGET_MIX = {"en": 0.40, "de": 0.15, "fr": 0.15, "es": 0.15, "zh": 0.15}


def q_source_mix_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Data mixing: resample the corpus toward a TARGET language mix with
    the largest feasible output — per-language keep rate is the target/
    actual ratio normalized so the most-undersampled language keeps 100%,
    applied via the deterministic md5-fraction filter (same rows every run,
    every engine). Rates are derived IN-QUERY from corpus counts: the
    lang-count table is tiny → broadcast back; the corpus side stays a
    map-only filter. All float steps (ratio, max-normalize, compare) are
    single exactly-rounded IEEE ops — bit-identical across engines."""
    from pdf_extraction_spark.operators.sampling import hash_fraction

    docs = T(spark, sf, "documents")
    target = F.create_map(*[F.lit(x) for kv in sorted(TARGET_MIX.items()) for x in kv])
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_lang"))
    ratio = (target[F.col("lang")] / F.col("n_lang")).alias("ratio")
    rates = counts.select("lang", "n_lang", ratio)
    # scalar max over the LANG-COUNT table (a handful of rows), not the
    # corpus: a global window here is a single-partition pass over ~|langs|
    # rows, avoiding the 1-row cross join a scalar subquery would plan
    rates = rates.withColumn("mr", F.max("ratio").over(W.partitionBy())).select(
        "lang", "n_lang", (F.col("ratio") / F.col("mr")).alias("rate")
    )
    kept = docs.join(F.broadcast(rates), "lang").filter(
        hash_fraction(F.col("doc_id"), salt="mix") < F.col("rate")
    )
    # kept already carries n_lang from the rates join — group on it rather
    # than re-joining the rates table afterwards
    return (
        kept.groupBy("lang", "n_lang")
        .agg(F.count("*").alias("n_kept"))
        .select("lang", "n_lang", "n_kept",
                F.round(F.col("n_kept") / F.col("n_lang"), 6).alias("kept_frac"))
        .orderBy("lang")
    )


_TARGET_CASE = " ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(TARGET_MIX.items()))

_SQL_SOURCE_MIX = f"""
WITH c AS (
  SELECT lang, count(*) AS n_lang,
         (CASE lang {_TARGET_CASE} ELSE 0.0 END) / count(*) AS ratio
  FROM documents GROUP BY lang
), r AS (
  SELECT lang, n_lang, ratio / (SELECT max(ratio) FROM c) AS rate FROM c
), kept AS (
  SELECT d.lang, d.doc_id
  FROM documents d JOIN r USING (lang)
  WHERE CAST(('0x' || substring(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 7)) AS INTEGER)
        / 268435456.0 < r.rate
)
SELECT lang, r.n_lang AS n_lang, count(*) AS n_kept,
       round(count(*) / CAST(r.n_lang AS DOUBLE), 6) AS kept_frac
FROM kept JOIN r USING (lang)
GROUP BY lang, r.n_lang ORDER BY lang
"""


# --------------------------------------------------------------------------
def q_adaptive_length_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language adaptive length clipping (the CCNet-style curation step:
    fixed global length cuts mis-clip languages with different length
    distributions). Exact p05/p95 of n_chars per language (Spark
    `percentile` ≡ DuckDB `quantile_cont`, bit-identical linear
    interpolation), broadcast back, keep rows inside [p05, p95]. Report
    per-language survivor stats + the bounds applied."""
    docs = T(spark, sf, "documents")
    bounds = docs.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.05)").alias("p05"),
        F.expr("percentile(n_chars, 0.95)").alias("p95"),
    )
    kept = docs.join(F.broadcast(bounds), "lang").filter(
        (F.col("n_chars") >= F.col("p05")) & (F.col("n_chars") <= F.col("p95"))
    )
    return (
        kept.groupBy("lang", "p05", "p95")
        .agg(F.count("*").alias("n_kept"), F.sum("n_chars").alias("kept_chars"))
        .select("lang", F.round("p05", 6).alias("p05"), F.round("p95", 6).alias("p95"),
                "n_kept", "kept_chars")
        .orderBy("lang")
    )


_SQL_ADAPTIVE_LEN = """
WITH b AS (
  SELECT lang, quantile_cont(n_chars, 0.05) AS p05, quantile_cont(n_chars, 0.95) AS p95
  FROM documents GROUP BY lang
)
SELECT d.lang, round(b.p05, 6) AS p05, round(b.p95, 6) AS p95,
       count(*) AS n_kept, CAST(sum(d.n_chars) AS BIGINT) AS kept_chars
FROM documents d JOIN b ON d.lang = b.lang
WHERE d.n_chars >= b.p05 AND d.n_chars <= b.p95
GROUP BY d.lang, b.p05, b.p95 ORDER BY d.lang
"""


# --------------------------------------------------------------------------
# Token-budget mixture/epoch planner — the "data mixing ledger" a training
# run prepares from its curated corpus (the per-source token-budget ×
# mixing-weight arithmetic published in the LLaMA / OLMo / Pile reports):
# given target mixing weights and a total token budget, compute each
# source's available tokens, its target share, and the implied number of
# epochs (repetition factor) in exact milli-epochs — sources whose target
# exceeds one epoch get flagged (repeating data is a deliberate,
# documented decision post-Muennighoff 2023). All integer arithmetic:
# weights are small ints, shares are budget·w DIV Σw, epochs are
# target·1000 DIV available. One groupBy(source) over the scan plus two
# 1-row broadcast aggregates — at 100 TB the plan is a partial-aggregated
# count per source, nothing else.
MIX_BUDGET_TOKENS = 1_000_000


def q_mixture_epoch_plan(spark: SparkSession, sf: str) -> DataFrame:
    docs = T(spark, sf, "documents")
    # deterministic target weight per source: (numeric suffix % 4) + 1.
    # tokens_available is a per-doc FLOOR (length DIV 4, the token_estimate
    # convention) summed as int64 — no float summation anywhere.
    per_src = docs.groupBy("source").agg(
        F.sum(F.expr("CAST(length(text) DIV 4 AS BIGINT)")).alias("tokens_available")
    ).withColumn("weight", (F.substring("source", 4, 10).cast("int") % 4 + 1).cast("long"))
    tot = per_src.agg(F.sum("weight").alias("sum_w")).withColumn("k", F.lit(1))
    return (
        per_src.withColumn("k", F.lit(1))
        .join(F.broadcast(tot), "k")
        .select(
            "source",
            "weight",
            "tokens_available",
            F.expr(f"CAST({MIX_BUDGET_TOKENS} * weight DIV sum_w AS BIGINT)").alias(
                "target_tokens"
            ),
            F.expr(
                f"CAST(({MIX_BUDGET_TOKENS} * weight DIV sum_w) * 1000"
                " DIV tokens_available AS BIGINT)"
            ).alias("epochs_milli"),
            F.expr(
                f"(({MIX_BUDGET_TOKENS} * weight DIV sum_w) * 1000"
                " DIV tokens_available) > 1000"
            ).alias("flag_repeats"),
        )
        .orderBy("source")
    )


_SQL_MIX_PLAN = f"""
WITH per_src AS (
  SELECT source,
         CAST(sum(len(text) // 4) AS BIGINT) AS tokens_available,
         CAST(substring(source, 4)::INTEGER % 4 + 1 AS BIGINT) AS weight
  FROM documents GROUP BY source
),
tot AS (SELECT sum(weight) AS sum_w FROM per_src)
SELECT source, weight, tokens_available,
       CAST({MIX_BUDGET_TOKENS} * weight // sum_w AS BIGINT) AS target_tokens,
       CAST(({MIX_BUDGET_TOKENS} * weight // sum_w) * 1000
            // tokens_available AS BIGINT) AS epochs_milli,
       (({MIX_BUDGET_TOKENS} * weight // sum_w) * 1000
            // tokens_available) > 1000 AS flag_repeats
FROM per_src, tot ORDER BY source
"""


# --------------------------------------------------------------------------
# Training-shard manifest — the final-mile step before the trainer: give the
# curated corpus a DETERMINISTIC global pseudorandom order (md5 of the doc
# key — no RNG, reproducible across reruns/engines, membership stable under
# corpus growth, same construction as sampling.hash_fraction) and assign
# each doc to one of N_SHARDS output shards. Shard = top-60-bits-of-md5 MOD
# N_SHARDS: statistically balanced (each shard gets a uniform slice of the
# hash space) and exactly reproducible in DuckDB — unlike Spark's
# repartitionByRange, whose sampled range boundaries are not deterministic.
# The manifest is the bounded artifact shipped with the data: per-shard doc
# and token counts plus the first/last doc in shard-local order, so a
# trainer (or auditor) can verify a delivered shard set without re-reading
# the corpus. ONE partial-aggregated groupBy(shard) over a map-only hash
# projection — at 100 TB this is a scan-shaped job; the companion writer
# `write_training_shards` produces the actual files with one
# repartition(shard) + sortWithinPartitions(order_key) shuffle.
N_SHARDS = 8


def _order_key(key: Column | str) -> Column:
    """Deterministic pseudorandom order key: the top 60 bits of
    md5('shard:' || key) as a BIGINT. An integer (not the hex string) so
    the manifest's min_by/max_by keep a fixed-width aggregation buffer —
    Spark plans a HashAggregate instead of the SortAggregate fallback a
    var-length string buffer forces (which would add a per-partition full
    sort to every manifest build at scale)."""
    c = F.col(key) if isinstance(key, str) else key
    h = F.md5(F.concat_ws(":", F.lit("shard"), c.cast("string")))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long")


def shard_assign(df: DataFrame, key: str, n_shards: int = N_SHARDS) -> DataFrame:
    """Add ``order_key`` (global pseudorandom sort key, int64) and
    ``shard`` (hash-bucket shard id in [0, n_shards)) columns. Map-only."""
    okey = _order_key(key)
    return df.withColumn("order_key", okey).withColumn(
        "shard", F.pmod(okey, F.lit(n_shards)).cast("int")
    )


def write_training_shards(df: DataFrame, path: str, key: str,
                          n_shards: int = N_SHARDS) -> None:
    """Materialize the shard set: one repartition on shard (each output
    partition = one shard), docs sorted by order_key within the shard →
    every shard file is internally pseudorandom-ordered yet byte-reproducible
    run over run. Partitioned by shard so a trainer reads shard k via
    partition pruning."""
    (
        shard_assign(df, key, n_shards)
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "order_key", key)  # key breaks 60-bit ties
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def q_shard_manifest(spark: SparkSession, sf: str) -> DataFrame:
    docs = T(spark, sf, "documents")
    s = shard_assign(
        docs.select("doc_id", F.expr("CAST(length(text) DIV 4 AS BIGINT)").alias("n_tok")),
        "doc_id",
    )
    return (
        s.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.min_by("doc_id", "order_key").alias("first_doc"),
            F.max_by("doc_id", "order_key").alias("last_doc"),
        )
        .orderBy("shard")
    )


_SQL_SHARD_MANIFEST = f"""
WITH s AS (
  SELECT doc_id, CAST(length(text) // 4 AS BIGINT) AS n_tok,
         CAST(('0x' || substring(md5('shard:' || doc_id), 1, 15)) AS BIGINT) AS order_key,
         CAST(CAST(('0x' || substring(md5('shard:' || doc_id), 1, 15)) AS BIGINT)
              % {N_SHARDS} AS INTEGER) AS shard
  FROM documents
)
SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       arg_min(doc_id, order_key) AS first_doc,
       arg_max(doc_id, order_key) AS last_doc
FROM s GROUP BY shard ORDER BY shard
"""


QUERIES = {
    "scd2_user_segments": (q_scd2_user_segments, _SQL_SCD2),
    "mixture_epoch_plan": (q_mixture_epoch_plan, _SQL_MIX_PLAN),
    "pack_sequences": (q_pack_sequences, _SQL_PACK),
    "tfidf_top_terms": (q_tfidf_top_terms, _SQL_TFIDF),
    "chunk_dedup_stats": (q_chunk_dedup_stats, _SQL_CHUNK_DEDUP),
    "source_mix_sample": (q_source_mix_sample, _SQL_SOURCE_MIX),
    "adaptive_length_filter": (q_adaptive_length_filter, _SQL_ADAPTIVE_LEN),
    "shard_manifest": (q_shard_manifest, _SQL_SHARD_MANIFEST),
}
