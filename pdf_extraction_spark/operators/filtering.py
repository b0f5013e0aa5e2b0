"""Corpus-level quality filtering and data-selection operators — the
published curation passes a pre-training pipeline runs between dedup and
tokenization, each re-expressed as declarative DataFrame plans with
bit-exact DuckDB oracles:

- ``dsir_importance_sample`` : Data Selection with Importance Resampling
  (Xie et al., NeurIPS 2023 — public). Documents are scored by the
  log-likelihood ratio of a TARGET distribution (here: the ``lang='en'``
  slice) vs the RAW corpus distribution over hashed word-bigram features,
  then the top-N by importance weight are selected. Shape: ONE pass over
  exploded bigrams computes both distributions (a single vocab-bounded
  groupBy on the 256-bucket hash space: c_raw and c_target per bucket in
  the same aggregate); bucket weights become a 256-row BROADCAST table;
  per-doc scores are one (doc_id, bucket) partial-agg shuffle + a
  broadcast join + one groupBy(doc_id). Laplace-smoothed log-ratios are
  quantized to INTEGER MICRO-NATS before the per-doc sum, so every
  downstream aggregate is exact int64 arithmetic — no float summation
  order anywhere, which is what makes the DuckDB oracle hash-exact.
  At 100 TB the bucket table is still 256 rows; cost is the bigram
  explode + one partial-aggregated shuffle — linear, skew-free.

- ``gopher_quality_filters`` : the document-level quality rules of
  Gopher (Rae et al. 2021, Appendix A — public), complementing
  ``repetition_stats`` (which covers that paper's repetition section):
  word-count bounds, mean-word-length band, symbol-to-word ratio caps
  (# and ellipsis), minimum fraction of words containing an alphabetic
  character, and the ≥2-distinct-English-stopwords rule. Pure Column
  expressions over the split word array — a map-only pass, no shuffle,
  fully inside whole-stage codegen. The synthetic corpus is clean
  word-soup, so (same pattern as scrub.with_synthetic_pii) deterministic
  defects are first injected into doc_id-derived slices to make every
  rule's firing verifiable in the oracle.

- ``ccnet_perplexity_filter`` : CCNet-style language-model quality
  bucketing (Wenzek et al., LREC 2020 — public): score each document by
  its average per-token negative log-likelihood under a unigram LM fit
  on the corpus itself, then bucket into head/middle/tail tiers.
  Shape: ONE vocab-bounded word-count groupBy fits the LM; per-word
  NLLs are quantized to integer micro-nats in a BROADCAST vocab table;
  per-doc sums are exact int64; the per-doc average is an exact integer
  floor-division (nano-nats/token). Tier cutoffs are RELATIVE to the
  exact corpus-wide average (CCNet uses offline per-language cutoffs;
  a corpus-relative cutoff is the self-contained analogue) via integer
  cross-multiplication — head < 99.7% of corpus avg NLL (most
  predictable), tail > 100.3%. The only scalars that move driver-wards are two 1-row
  totals frames, joined back by broadcast — no collect, no global sort.

- ``line_quality_filters`` : the LINE-level cleaning pass of C4
  (Raffel et al., JMLR 2020 §2.2 — public), complementing the doc-level
  Gopher rules: keep only lines that end in terminal punctuation, have
  ≥3 words, and do not mention javascript; drop WHOLE pages containing
  "lorem ipsum" or a curly brace. The synthetic corpus has no line
  structure, so it is synthesized deterministically (8-word
  '.'-terminated lines from the word stream, defect lines injected by
  doc_id class) — the oracle builds identical strings. The operator
  proper is one map-only pass: split on newline, F.filter with pure
  Column predicates, array_join reassembly, md5 of the kept text as the
  compact reassembly witness. No shuffle at all — at 100 TB this is a
  free rider on the scan.

No reference-repo analogue (the reference curates nothing); these extend
the training-data layer alongside operators/scrub.py and textstats.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_extraction_spark.parallel import broadcast_within, fan_out
from pdf_extraction_spark.sources.tables import load_testdata as T

# ---------------------------------------------------------------- DSIR
DSIR_BUCKETS = 256
DSIR_TOP_N = 50
_MICRO = 1_000_000


def _bigram_buckets(words):
    """words array → array of hashed-bigram bucket ids (int64, one per
    adjacent word pair). md5-derived so the oracle reproduces it."""
    n = F.size(words)
    grams = F.zip_with(
        F.slice(words, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(words, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit("_"), b),
    )
    return F.transform(
        grams,
        lambda g: F.pmod(
            F.conv(F.substring(F.md5(g), 1, 7), 16, 10).cast("long"),
            F.lit(DSIR_BUCKETS),
        ),
    )


def dsir_scores(docs: DataFrame, target: F.Column) -> DataFrame:
    """(doc_id, score_micro_nats): Σ_b c_b(doc) · round(1e6 · log-ratio(b)),
    all-int64 after the per-bucket quantization.

    Cross-engine fragility note: the round() input is double ln()
    arithmetic computed independently by the JVM and the oracle engine;
    neither guarantees correctly-rounded ln, so a value landing within
    ~2e-8 of a .5 boundary could quantize differently per engine. This is
    monitored, not assumed away: test_quantization_boundary_margins
    measures the minimum boundary distance over every bucket (and every
    CCNet vocab word) at both oracle scale factors and fails if any value
    comes within 1e-5 of a boundary — ≥500× the worst plausible ln
    divergence — so a dataset regen that lands near a boundary is caught
    before the driver hash gate sees it."""
    words = F.split(F.lower(F.col("text")), " ")
    # r7: the bigram hash explode (md5+conv per adjacent word pair) is the
    # dominant map work and the documents scan is one task — widen first
    # (guide §2.2; no-op on already-parallel inputs)
    ex = fan_out(docs, "doc_id").select(
        "doc_id", target.alias("is_target"), F.explode(_bigram_buckets(words)).alias("b")
    )
    ex = ex.localCheckpoint(eager=False)  # feeds the distribution fit AND the per-doc scoring

    dist = ex.groupBy("b").agg(
        F.count("*").alias("c_raw"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("c_t"),
    )
    totals = dist.agg(
        F.sum("c_raw").alias("t_raw"), F.sum("c_t").alias("t_t")
    ).withColumn("k", F.lit(1))
    half_b = float(DSIR_BUCKETS) * 0.5
    weights = (
        dist.withColumn("k", F.lit(1))
        .join(F.broadcast(totals), "k")
        .select(
            "b",
            F.round(
                (
                    F.log(F.col("c_t") + 0.5)
                    - F.log(F.col("t_t") + half_b)
                    - F.log(F.col("c_raw") + 0.5)
                    + F.log(F.col("t_raw") + half_b)
                )
                * _MICRO
            )
            .cast("long")
            .alias("r_micro"),
        )
    )
    # per-occurrence broadcast join, then ONE partial-aggregated groupBy —
    # Σ r_micro over occurrences ≡ Σ c_b · r_micro over buckets
    return (
        ex.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(F.sum("r_micro").alias("score_micro_nats"))
    )


def q_dsir_importance_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Top-DSIR_TOP_N docs by target-vs-raw importance weight (target =
    lang='en'), deterministic tie-break on doc_id. English docs should
    dominate the head — the lang column never enters the score, so rank
    concentration is end-to-end evidence the ratio estimator works."""
    docs = T(spark, sf, "documents")
    scored = dsir_scores(
        docs.select("doc_id", "text", "lang"), target=F.col("lang") == "en"
    )
    return (
        scored.join(docs.select("doc_id", "lang"), "doc_id")
        .orderBy(F.col("score_micro_nats").desc(), "doc_id")
        .limit(DSIR_TOP_N)
        .select("doc_id", "lang", "score_micro_nats")
    )


_SQL_DSIR = f"""
WITH w AS (
  SELECT doc_id, lang = 'en' AS is_target,
         string_split(lower(text), ' ') AS ws
  FROM documents
),
ex AS (
  SELECT doc_id, is_target,
         ('0x' || substring(md5(g), 1, 7))::BIGINT % {DSIR_BUCKETS} AS b
  FROM (
    SELECT doc_id, is_target,
           unnest(list_transform(range(1, greatest(len(ws), 1)),
                                 i -> ws[i] || '_' || ws[i + 1])) AS g
    FROM w
  )
),
dist AS (
  SELECT b, count(*) AS c_raw,
         sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS c_t
  FROM ex GROUP BY b
),
tot AS (SELECT sum(c_raw) AS t_raw, sum(c_t) AS t_t FROM dist),
weights AS (
  SELECT b,
         CAST(round((ln(c_t + 0.5) - ln(t_t + {DSIR_BUCKETS} * 0.5)
                   - ln(c_raw + 0.5) + ln(t_raw + {DSIR_BUCKETS} * 0.5))
                    * {_MICRO}) AS BIGINT) AS r_micro
  FROM dist, tot
),
scored AS (
  SELECT ex.doc_id, CAST(sum(wt.r_micro) AS BIGINT) AS score_micro_nats
  FROM ex JOIN weights wt USING (b)
  GROUP BY ex.doc_id
)
SELECT s.doc_id, d.lang, s.score_micro_nats
FROM scored s JOIN documents d USING (doc_id)
ORDER BY s.score_micro_nats DESC, s.doc_id
LIMIT {DSIR_TOP_N}
"""


# -------------------------------------------------------------- Gopher
WORDS_MIN, WORDS_MAX = 50, 100_000
MWL_MIN, MWL_MAX = 3.0, 10.0
SYMBOL_RATIO_MAX = 0.1
ALPHA_FRAC_MIN = 0.8
STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
STOPWORDS_MIN = 2


def with_quality_defects(docs: DataFrame) -> DataFrame:
    """Deterministically inject rule violations (doc_id % 11): 0 → symbol
    spam (# flood), 1 → ellipsis spam, 2 → numeric/non-alpha words,
    3 → single-char word flood (drags mean word length < 3); every other
    doc gets a stopword-enrichment tail (the synthetic word-soup carries
    only 'the' from the stoplist, so without it the ≥2-stopwords rule
    would fire vacuously on ALL docs). The oracle builds identical
    strings, so each rule's firing is verified end-to-end rather than
    vacuously true on clean synthetic text."""
    m = F.col("doc_id") % 11
    hashes = F.concat(F.lit(" "), F.array_join(F.array_repeat(F.lit("##"), 8), " "))
    dots = F.concat(F.lit(" "), F.array_join(F.array_repeat(F.lit("…"), 8), " "))
    nums = F.concat(F.lit(" "), F.array_join(F.array_repeat(F.lit("123 456"), 8), " "))
    ones = F.concat(F.lit(" "), F.array_join(F.array_repeat(F.lit("a b c d"), 40), " "))
    return docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(m == 0, hashes).when(m == 1, dots).when(m == 2, nums)
            .when(m == 3, ones).otherwise(F.lit(" the of and with")),
        ),
    )


def gopher_flags(docs: DataFrame) -> DataFrame:
    """Per-doc rule flags + keep verdict. Map-only pure-Column pass."""
    words = F.split(F.lower(F.col("text")), " ")
    n = F.size(words)
    sum_len = F.aggregate(
        F.transform(words, lambda w: F.length(w).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    mwl = F.round(sum_len.cast("double") / n, 4)
    n_sym = F.regexp_count(F.col("text"), F.lit("#")) + F.regexp_count(
        F.col("text"), F.lit("…")
    )
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    n_stop = F.size(F.array_intersect(F.array_distinct(words), F.array(*[F.lit(s) for s in STOPWORDS])))
    return docs.select(
        "doc_id",
        n.alias("n_words"),
        mwl.alias("mean_word_len"),
        ((n < WORDS_MIN) | (n > WORDS_MAX)).alias("flag_word_count"),
        ((mwl < MWL_MIN) | (mwl > MWL_MAX)).alias("flag_mean_word_len"),
        (n_sym.cast("double") / n > SYMBOL_RATIO_MAX).alias("flag_symbol_ratio"),
        (n_alpha.cast("double") / n < ALPHA_FRAC_MIN).alias("flag_alpha"),
        (n_stop < STOPWORDS_MIN).alias("flag_stopwords"),
    ).withColumn(
        "keep",
        ~(
            F.col("flag_word_count")
            | F.col("flag_mean_word_len")
            | F.col("flag_symbol_ratio")
            | F.col("flag_alpha")
            | F.col("flag_stopwords")
        ),
    )


def q_gopher_quality_filters(spark: SparkSession, sf: str) -> DataFrame:
    """All docs with per-rule flags over the defect-injected corpus."""
    return gopher_flags(with_quality_defects(T(spark, sf, "documents"))).orderBy(
        "doc_id"
    )


_STOPLIST_SQL = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"

_DEFECT_AUG = """
  SELECT doc_id,
         text || CASE CAST(doc_id % 11 AS INTEGER)
           WHEN 0 THEN ' ' || array_to_string(list_transform(range(8), i -> '##'), ' ')
           WHEN 1 THEN ' ' || array_to_string(list_transform(range(8), i -> '…'), ' ')
           WHEN 2 THEN ' ' || array_to_string(list_transform(range(8), i -> '123 456'), ' ')
           WHEN 3 THEN ' ' || array_to_string(list_transform(range(40), i -> 'a b c d'), ' ')
           ELSE ' the of and with' END AS text
  FROM documents
"""

_SQL_GOPHER = f"""
WITH aug AS ({_DEFECT_AUG}),
feat AS (
  SELECT doc_id,
         string_split(lower(text), ' ') AS ws,
         len(string_split(lower(text), ' ')) AS n,
         round(CAST(list_sum(list_transform(string_split(lower(text), ' '),
                                            w -> len(w))) AS DOUBLE)
               / len(string_split(lower(text), ' ')), 4) AS mwl,
         len(regexp_extract_all(text, '#'))
           + len(regexp_extract_all(text, '…')) AS n_sym,
         len(list_filter(string_split(lower(text), ' '),
                         w -> regexp_matches(w, '[a-z]'))) AS n_alpha,
         len(list_intersect(list_distinct(string_split(lower(text), ' ')),
                            {_STOPLIST_SQL})) AS n_stop
  FROM aug
)
SELECT doc_id,
       CAST(n AS INTEGER) AS n_words,
       mwl AS mean_word_len,
       (n < {WORDS_MIN} OR n > {WORDS_MAX}) AS flag_word_count,
       (mwl < {MWL_MIN} OR mwl > {MWL_MAX}) AS flag_mean_word_len,
       (CAST(n_sym AS DOUBLE) / n > {SYMBOL_RATIO_MAX}) AS flag_symbol_ratio,
       (CAST(n_alpha AS DOUBLE) / n < {ALPHA_FRAC_MIN}) AS flag_alpha,
       (n_stop < {STOPWORDS_MIN}) AS flag_stopwords,
       NOT ((n < {WORDS_MIN} OR n > {WORDS_MAX})
         OR (mwl < {MWL_MIN} OR mwl > {MWL_MAX})
         OR (CAST(n_sym AS DOUBLE) / n > {SYMBOL_RATIO_MAX})
         OR (CAST(n_alpha AS DOUBLE) / n < {ALPHA_FRAC_MIN})
         OR (n_stop < {STOPWORDS_MIN})) AS keep
FROM feat
ORDER BY doc_id
"""


# --------------------------------------------------------------- CCNet
# tier cutoffs as exact rationals of the corpus-average NLL:
# head < 997/1000 (99.7%), tail > 1003/1000 (100.3%) — integer
# comparisons only; nll_nano·1000 (~5e12) is far inside int64 at any
# corpus size. The band is narrow because the synthetic word-soup's
# per-doc NLL concentrates within ±0.7% of the corpus average (real
# CCNet uses head/tail terciles of an offline LM's score distribution;
# the corpus-relative rational cutoff is the deterministic analogue).
HEAD_NUM, TAIL_NUM, CUT_DEN = 997, 1003, 1000


def ccnet_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_words, nll_nano, tier): average per-token negative
    log-likelihood under the corpus unigram LM, in exact integer
    nano-nats/token; tier by integer cross-multiplication vs the exact
    corpus average."""
    words = F.split(F.lower(F.col("text")), " ")
    ex = docs.select("doc_id", F.explode(words).alias("w"))
    ex = ex.localCheckpoint(eager=False)  # LM fit + per-doc scoring share the explode

    counts = ex.groupBy("w").agg(F.count("*").alias("c"))
    # the lm side's measured bytes (one 48-byte row plus its UTF-8 per
    # distinct word): the planner estimate undercounts strings
    lm_bytes = counts.agg(F.sum(48 + F.octet_length("w"))).first()[0] or 0
    totals = counts.agg(F.sum("c").alias("t")).withColumn("k", F.lit(1))
    lm = (
        counts.withColumn("k", F.lit(1))
        .join(F.broadcast(totals), "k")
        .select(
            "w",
            F.round((F.log(F.col("t")) - F.log(F.col("c"))) * _MICRO)
            .cast("long")
            .alias("nll_micro"),
        )
    )
    per_doc = (
        ex.join(broadcast_within(lm, lm_bytes), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("nll_micro").alias("sum_micro"),
        )
        .select(
            "doc_id",
            F.col("n_words").cast("int").alias("n_words"),
            F.floor(F.col("sum_micro") * 1000 / F.col("n_words")).alias("nll_nano"),
        )
    )
    # exact integer corpus average (word-weighted): avg_nano = Σ(nll·n) DIV Σn.
    # DIV keeps everything int64-exact — a double division of ~1e17-scale
    # sums would lose ulps past 2^53 and could flip a tier boundary.
    # (Σ(nll·n) ~ 3e12 per doc: int64 carries ~3M-doc corpora per partition
    # of headroom; petabyte deployments widen this one accumulator to
    # DECIMAL(38,0) — the comparisons below never grow with corpus size.)
    corpus = per_doc.agg(
        F.expr(
            "CAST(sum(nll_nano * n_words) DIV sum(n_words) AS BIGINT)"
        ).alias("avg_nano")
    ).withColumn("k", F.lit(1))
    return (
        per_doc.withColumn("k", F.lit(1))
        .join(F.broadcast(corpus), "k")
        .select(
            "doc_id",
            "n_words",
            "nll_nano",
            F.when(
                F.col("nll_nano") * CUT_DEN < F.col("avg_nano") * HEAD_NUM,
                F.lit("head"),
            )
            .when(
                F.col("nll_nano") * CUT_DEN > F.col("avg_nano") * TAIL_NUM,
                F.lit("tail"),
            )
            .otherwise(F.lit("middle"))
            .alias("tier"),
        )
    )


def q_ccnet_perplexity_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Per-tier doc counts + exact-integer NLL aggregates — compact and
    fully deterministic (every value is int64 arithmetic)."""
    scored = ccnet_scores(T(spark, sf, "documents").select("doc_id", "text"))
    tiers = scored.groupBy("tier").agg(
        F.count("*").alias("n_docs"),
        F.min("nll_nano").alias("min_nll_nano"),
        F.max("nll_nano").alias("max_nll_nano"),
        F.sum(F.col("nll_nano") * F.col("n_words")).alias("mass_nano"),
    )
    return tiers.orderBy("tier")


_SQL_CCNET = f"""
WITH ex AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents
),
counts AS (SELECT w, count(*) AS c FROM ex GROUP BY w),
tot AS (SELECT sum(c) AS t FROM counts),
lm AS (
  SELECT w, CAST(round((ln(t) - ln(c)) * {_MICRO}) AS BIGINT) AS nll_micro
  FROM counts, tot
),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_words,
         CAST(floor(CAST(sum(nll_micro) AS DOUBLE) * 1000 / count(*)) AS BIGINT)
           AS nll_nano
  FROM ex JOIN lm USING (w)
  GROUP BY doc_id
),
corpus AS (
  SELECT CAST(sum(nll_nano * n_words) // sum(n_words) AS BIGINT) AS avg_nano
  FROM per_doc
),
tiered AS (
  SELECT doc_id, n_words, nll_nano,
         CASE
           WHEN nll_nano * {CUT_DEN} < avg_nano * {HEAD_NUM} THEN 'head'
           WHEN nll_nano * {CUT_DEN} > avg_nano * {TAIL_NUM} THEN 'tail'
           ELSE 'middle'
         END AS tier
  FROM per_doc, corpus
)
SELECT tier, count(*) AS n_docs,
       min(nll_nano) AS min_nll_nano, max(nll_nano) AS max_nll_nano,
       CAST(sum(nll_nano * n_words) AS BIGINT) AS mass_nano
FROM tiered
GROUP BY tier ORDER BY tier
"""


# ------------------------------------------------------------ C4 lines
LINE_WORDS = 8
LINE_MIN_WORDS = 3
# line defects by doc_id % 7: 0 → javascript mention, 1 → too-short line,
# 2 → no terminal punctuation, 3 → lorem-ipsum page killer, 4 → code
# (curly-brace) page killer, 5/6 → clean
_DEFECT_LINES = [
    "please enable javascript to continue.",
    "too short.",
    "this line just trails off",
    "lorem ipsum dolor sit amet.",
    "function foo() { return 1; }.",
]


def with_line_structure(docs: DataFrame) -> DataFrame:
    """Deterministic line synthesis: the word stream chunked into
    LINE_WORDS-word lines, each '.'-terminated (so clean lines pass the
    terminal-punctuation rule), newline-joined; one defect line appended
    by doc_id class. A doc's trailing short line (n % LINE_WORDS words)
    naturally exercises the ≥3-words rule in both directions."""
    words = F.split(F.col("text"), " ")
    n_lines = F.expr(f"CAST((size(split(text, ' ')) + {LINE_WORDS - 1}) DIV {LINE_WORDS} AS INT)")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.concat(
            F.array_join(F.slice(words, i * LINE_WORDS + 1, LINE_WORDS), " "),
            F.lit("."),
        ),
    )
    m = F.col("doc_id") % 7
    defect = F.when(m == 0, F.lit(_DEFECT_LINES[0]))
    for j in range(1, 5):
        defect = defect.when(m == j, F.lit(_DEFECT_LINES[j]))
    aug = F.when(defect.isNull(), lines).otherwise(F.concat(lines, F.array(defect)))
    return docs.withColumn("text", F.array_join(aug, "\n"))


def c4_line_filter(docs: DataFrame) -> DataFrame:
    """Map-only C4 line cleaning: per-doc line counts, page-level ban
    flag, and the md5 of the reassembled kept text."""
    lines = F.split(F.col("text"), "\n")
    banned = F.lower(F.col("text")).contains("lorem ipsum") | F.col("text").contains("{")
    keep_line = lambda l: (  # noqa: E731
        l.rlike('[.!?"]$')
        & (F.size(F.split(l, " ")) >= LINE_MIN_WORDS)
        & ~F.lower(l).contains("javascript")
    )
    kept = F.filter(lines, keep_line)
    return docs.select(
        "doc_id",
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_lines_kept"),
        banned.alias("flag_doc_banned"),
        F.when(banned, F.lit(None).cast("string"))
        .otherwise(F.md5(F.array_join(kept, "\n")))
        .alias("kept_md5"),
    )


def q_line_quality_filters(spark: SparkSession, sf: str) -> DataFrame:
    return c4_line_filter(
        with_line_structure(T(spark, sf, "documents").select("doc_id", "text"))
    ).orderBy("doc_id")


_SQL_C4 = f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
structured AS (
  SELECT doc_id,
         list_transform(
           range(CAST((len(w) + {LINE_WORDS - 1}) // {LINE_WORDS} AS BIGINT)),
           i -> array_to_string(w[i * {LINE_WORDS} + 1 : i * {LINE_WORDS} + {LINE_WORDS}], ' ') || '.'
         ) AS lines
  FROM base
),
aug AS (
  SELECT doc_id,
         CASE CAST(doc_id % 7 AS INTEGER)
           WHEN 0 THEN list_append(lines, '{_DEFECT_LINES[0]}')
           WHEN 1 THEN list_append(lines, '{_DEFECT_LINES[1]}')
           WHEN 2 THEN list_append(lines, '{_DEFECT_LINES[2]}')
           WHEN 3 THEN list_append(lines, '{_DEFECT_LINES[3]}')
           WHEN 4 THEN list_append(lines, 'function foo() {{ return 1; }}.')
           ELSE lines END AS lines
  FROM structured
),
f AS (
  SELECT doc_id, lines, array_to_string(lines, chr(10)) AS text FROM aug
),
k AS (
  SELECT doc_id,
         len(lines) AS n_lines,
         (contains(lower(text), 'lorem ipsum') OR contains(text, '{{')) AS banned,
         list_filter(lines, l -> regexp_matches(l, '[.!?"]$')
                              AND len(string_split(l, ' ')) >= {LINE_MIN_WORDS}
                              AND NOT contains(lower(l), 'javascript')) AS kept
  FROM f
)
SELECT doc_id,
       CAST(n_lines AS INTEGER) AS n_lines,
       CAST(len(kept) AS INTEGER) AS n_lines_kept,
       banned AS flag_doc_banned,
       CASE WHEN banned THEN NULL
            ELSE md5(array_to_string(kept, chr(10))) END AS kept_md5
FROM k ORDER BY doc_id
"""


# --------------------------------------------- CCNet line-grain dedup


def ccnet_line_dedup(docs: DataFrame) -> DataFrame:
    """CCNet's paragraph-grain dedup stage (Wenzek et al. 2020 §3.1 —
    there the unit is a paragraph; over our lined docs it is a line):
    normalize each line (lowercase, strip non-letter characters, collapse
    whitespace), hash, keep only the corpus-FIRST occurrence of each
    distinct normalized line (first = smallest (doc_id, line position)),
    and reassemble the surviving raw lines per document. Lines whose
    normalization is empty carry no content signal and are always kept.
    Returns (doc_id, n_lines, n_lines_removed, n_chars_removed, new_text).

    Shape at 100 TB: one map-local posexplode; keep-first is a
    groupBy(line_key).min — partial aggregation collapses hot lines
    map-side (boilerplate lines ARE the hot keys: a banner appearing on
    1/7 of all pages is one key with n/7 occurrences, which is why this
    is NOT a row_number window — a window would sort the whole hot key
    in one partition) — then an equi-join back on the key (AQE skew-join
    splits the hot probe side) and one groupBy(doc_id) reassembly. Two
    linear shuffles, no skewed windows, nothing driver-side."""
    lines = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), "\n")).alias("line_idx", "line")
    )
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("line")), "[^a-z ]", ""), " +", " "
        )
    )
    # corpus-first position is a STRUCT arg-min, not an int64 packing:
    # doc_id may be a full-range hash (the curation chain feeds
    # xxhash64 ids), so any doc_id * 2^k packing overflows ANSI mode
    ex = lines.select(
        "doc_id", "line_idx", "line",
        F.md5(norm).alias("k"),
        (norm == "").alias("blank"),
        F.struct("doc_id", "line_idx").alias("pos"),
    )
    first = ex.filter(~F.col("blank")).groupBy("k").agg(F.min("pos").alias("first_pos"))
    kept = ex.join(first, "k", "left").withColumn(
        "keep", F.col("blank") | (F.col("pos") == F.col("first_pos"))
    )
    return kept.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("n_lines_removed"),
        F.sum(F.when(~F.col("keep"), F.length("line")).otherwise(0)).alias(
            "n_chars_removed"
        ),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("line_idx", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("new_text"),
    )


def q_ccnet_line_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Registered form: line-structure the documents table (same
    deterministic synthesis as line_quality_filters — its per-class defect
    lines are exactly the hot boilerplate this stage exists to remove),
    dedup at line grain, and report per-source removal mass plus an
    order-free checksum over every reassembled text (Σ of each new_text's
    md5-prefix int), so the oracle pins the full rewritten corpus, not
    just the counts."""
    docs = T(spark, sf, "documents")
    # r7 fan_out: line synthesis + per-line normalize/md5 is the heavy map
    # work and the scan is one task — widen first (guide §2.2)
    dd = ccnet_line_dedup(with_line_structure(
        fan_out(docs.select("doc_id", "text"), "doc_id")
    ))
    return (
        dd.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_lines").alias("n_lines"),
            F.sum("n_lines_removed").alias("n_lines_removed"),
            F.sum("n_chars_removed").alias("n_chars_removed"),
            F.sum(
                F.conv(F.substring(F.md5("new_text"), 1, 7), 16, 10).cast("long")
            ).alias("kept_text_check"),
        )
        .orderBy("source")
    )


_SQL_LINE_DEDUP = f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
structured AS (
  SELECT doc_id,
         list_transform(
           range(CAST((len(w) + {LINE_WORDS - 1}) // {LINE_WORDS} AS BIGINT)),
           i -> array_to_string(w[i * {LINE_WORDS} + 1 : i * {LINE_WORDS} + {LINE_WORDS}], ' ') || '.'
         ) AS lines
  FROM base
),
aug AS (
  SELECT doc_id,
         CASE CAST(doc_id % 7 AS INTEGER)
           WHEN 0 THEN list_append(lines, '{_DEFECT_LINES[0]}')
           WHEN 1 THEN list_append(lines, '{_DEFECT_LINES[1]}')
           WHEN 2 THEN list_append(lines, '{_DEFECT_LINES[2]}')
           WHEN 3 THEN list_append(lines, '{_DEFECT_LINES[3]}')
           WHEN 4 THEN list_append(lines, 'function foo() {{ return 1; }}.')
           ELSE lines END AS lines
  FROM structured
),
ex AS (
  SELECT doc_id, s.line_idx, s.line,
         md5(s.norm) AS k, s.norm = '' AS blank,
         {{'doc_id': doc_id, 'line_idx': s.line_idx}} AS pos
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(len(lines)), i -> {{
             'line_idx': i,
             'line': lines[i + 1],
             'norm': trim(regexp_replace(regexp_replace(lower(lines[i + 1]),
                          '[^a-z ]', '', 'g'), ' +', ' ', 'g'))
           }})) AS s
    FROM aug
  )
),
first AS (
  SELECT k, min(pos) AS first_pos FROM ex WHERE NOT blank GROUP BY k
),
kept AS (
  SELECT ex.*, (ex.blank OR ex.pos = f.first_pos) AS keep
  FROM ex LEFT JOIN first f USING (k)
),
per_doc AS (
  SELECT doc_id,
         count(*) AS n_lines,
         sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS n_lines_removed,
         sum(CASE WHEN NOT keep THEN length(line) ELSE 0 END) AS n_chars_removed,
         coalesce(string_agg(line, chr(10) ORDER BY line_idx)
                    FILTER (WHERE keep), '') AS new_text
  FROM kept GROUP BY doc_id
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(p.n_lines) AS BIGINT) AS n_lines,
       CAST(sum(p.n_lines_removed) AS BIGINT) AS n_lines_removed,
       CAST(sum(p.n_chars_removed) AS BIGINT) AS n_chars_removed,
       CAST(sum(('0x' || substring(md5(p.new_text), 1, 7))::BIGINT) AS BIGINT)
         AS kept_text_check
FROM per_doc p JOIN documents d USING (doc_id)
GROUP BY d.source ORDER BY d.source
"""


# ------------------------------------------------- split-leakage audit
LEAK_SHINGLE = 10  # training-chunk grain — matches the derep operators


def split_leakage_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Train/held-out leakage audit over an already-split corpus
    (doc_id, split, <text_col>): per held split, the count of val/test
    documents sharing any word-{LEAK_SHINGLE}-gram with a train document,
    the implicated train docs, and the distinct shared grams. This is the
    between-split dedup check The Pile/C4 run before publishing splits —
    contamination_check's internal-partition twin (there the reference
    set is an external benchmark; here it is the model's own eval slice).
    Shape: only the held side's grams cross the join; one text-only
    aggregate bounds their bytes for the broadcast gate, which flips to a
    gram-keyed shuffle_hash join past the budget — the train-side explode
    stays map-local either way."""
    from pdf_extraction_spark.operators.dedup import grams_udf

    grams = docs.select(
        "doc_id", "split",
        F.explode(grams_udf(F.col(text_col), LEAK_SHINGLE)).alias("g"),
    )
    held = (
        grams.filter(F.col("split") != "train")
        .select(F.col("doc_id").alias("held_doc"), F.col("split").alias("held_split"), "g")
    )
    train = grams.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), "g"
    )
    # bound from the held text, not the grams (no second UDF pass): at most
    # one (held_doc, held_split, g) row of 64 B per word, and each word is
    # repeated in at most LEAK_SHINGLE grams
    text = F.col(text_col)
    n_bytes = docs.filter(F.col("split") != "train").agg(F.sum(
        64 * F.size(F.split(text, " ")) + LEAK_SHINGLE * F.octet_length(text)
    )).first()[0] or 0
    joined = train.join(broadcast_within(held, n_bytes), "g")
    return (
        joined.groupBy("held_split")
        .agg(
            F.countDistinct("held_doc").alias("n_held_docs_leaking"),
            F.countDistinct("train_doc").alias("n_train_docs_implicated"),
            F.countDistinct("g").alias("n_shared_grams"),
        )
        .orderBy("held_split")
    )


def q_split_leakage_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Registered form of ``split_leakage_stats``: apply the deterministic
    hash split (sampling.dataset_split — same assignment training jobs
    use) to the documents table, then audit. The curation chain composes
    the same function over its curated output (--audit-leakage)."""
    from pdf_extraction_spark.operators.sampling import dataset_split

    docs = dataset_split(
        T(spark, sf, "documents").select("doc_id", "text"), "doc_id"
    )
    return split_leakage_stats(docs, "text")


def _leak_gram_list() -> str:
    parts = " || ' ' || ".join(f"w[i+{j}]" for j in range(LEAK_SHINGLE))
    return (
        f"CASE WHEN len(w) >= {LEAK_SHINGLE} "
        f"THEN list_distinct([{parts} "
        f"for i in generate_series(1, len(w)-{LEAK_SHINGLE - 1})]) "
        f"ELSE [] END"
    )


_SQL_LEAK = f"""
WITH ws AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
sh AS (SELECT doc_id, {_leak_gram_list()} AS grams FROM ws),
sp AS (
  SELECT doc_id,
         CASE WHEN {{hf}} < 0.8 THEN 'train'
              WHEN {{hf}} < 0.9 THEN 'val'
              ELSE 'test' END AS split,
         grams
  FROM sh
),
ex AS (SELECT doc_id, split, unnest(grams) AS g FROM sp),
held AS (SELECT doc_id AS held_doc, split AS held_split, g
         FROM ex WHERE split <> 'train'),
train AS (SELECT doc_id AS train_doc, g FROM ex WHERE split = 'train')
SELECT h.held_split,
       count(DISTINCT h.held_doc) AS n_held_docs_leaking,
       count(DISTINCT t.train_doc) AS n_train_docs_implicated,
       count(DISTINCT h.g) AS n_shared_grams
FROM train t JOIN held h USING (g)
GROUP BY h.held_split ORDER BY h.held_split
"""


def _sql_leak() -> str:
    from pdf_extraction_spark.operators.sampling import _hf_sql

    return _SQL_LEAK.format(hf=_hf_sql("doc_id", "split"))


QUERIES = {
    "dsir_importance_sample": (q_dsir_importance_sample, _SQL_DSIR),
    "gopher_quality_filters": (q_gopher_quality_filters, _SQL_GOPHER),
    "ccnet_perplexity_filter": (q_ccnet_perplexity_filter, _SQL_CCNET),
    "line_quality_filters": (q_line_quality_filters, _SQL_C4),
    "ccnet_line_dedup": (q_ccnet_line_dedup, _SQL_LINE_DEDUP),
    "split_leakage_audit": (q_split_leakage_audit, _sql_leak()),
}
