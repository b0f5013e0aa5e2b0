"""Deduplication operators for training-data pipelines.

- exact_dedup      : hash-groupBy keep-first (reference J1/C1 semantics —
                     content-hash identity, app/db/extractions.py:161-180 —
                     generalized to a full-corpus dedup).
- minhash_lsh      : word-shingle MinHash signatures → LSH banding →
                     candidate pairs → exact n-gram Jaccard verify.
                     The per-seed min-hash uses LEXICOGRAPHIC MIN OVER
                     md5 HEX STRINGS — engine-portable (identical in Spark
                     and DuckDB, no integer-hash divergence) and
                     rank-preserving, so it is a valid MinHash family.
- simhash          : 16-bit SimHash blocking prefix (top 16 bits of the
                     64-bit fingerprint) from md5 word hashes, computed in
                     ONE Arrow-vectorized stage (numpy bit votes; md5 is
                     memoized per batch). md5 — not xxhash64 — so the
                     DuckDB oracle reproduces the buckets bit-for-bit:
                     a FULL oracle check (upgraded from rows-only in r3).
                     The earlier column-expression form (64 F.aggregate
                     bit-votes) was CodegenFallback — interpreted lambdas,
                     ~10⁴ rows/s/core — and is gone.
- neardup_clusters : verified pairs → connected components → min-id keeper,
                     via alternating LARGE-STAR / SMALL-STAR edge contraction
                     (Kiveris et al., SoCC 2014 — O(log² n) rounds worst-case)
                     with per-round localCheckpoint plan truncation and a
                     RAISE on non-convergence.

Scale notes: exact dedup is one shuffle on the hash. MinHash avoids the n²
comparison: signatures are computed in ONE groupBy (k min-aggregates, no
seed-row blowup), banding buckets the docs, and the exact-Jaccard verify
touches only candidate pairs. Every LSH candidate set here (batch and
incremental MinHash, embedding sign-LSH in operators/similarity.py) comes
from ``bucket_pairs``: two items are candidates when they share a bucket of
at most a capped number of members. Degenerate buckets (one globally-common
shingle owning the min-hash of a band → every doc in one bucket → quadratic
pairs) are found with one width aggregate and dropped with one BROADCAST
LEFT-ANTI join before any member list is gathered, so no task ever holds
more than ``cap`` members of one bucket; the survivors' members are
collected per bucket and emitted as combinations — no self-join. The cap
trades recall only on pairs whose EVERY matching band is degenerate — at 64
it is far above the widths organic near-dup clusters produce (observed max
5 at sf0.01, 22 at sf0.1) while bounding the worst bucket at 64²
comparisons. The oracle applies the same cap, so correctness stays exact.

An intermediate with several consumers (the signatures) is reused through
a lazy ``localCheckpoint``: the operator's own first action fills it, and
its blocks go when the frame is no longer referenced. Library pair sets
are unordered; the driver queries sort them.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StringType

from pdf_extraction_spark.parallel import broadcast_within, fan_out
from pdf_extraction_spark.sources.tables import load_testdata as T

N_HASHES = 8
SHINGLE = 3
JACCARD_MIN = 0.1
MAX_BAND_WIDTH = 64


# --------------------------------------------------------------------------
def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup: md5 groups, keep min doc_id, count members."""
    docs = T(spark, sf, "documents")
    return (
        docs.select(F.md5("text").alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_members"))
        .select("keep_id", "n_members")
        .orderBy("keep_id")
    )


_SQL_DEDUP_EXACT = """
SELECT min(doc_id) AS keep_id, count(*) AS n_members
FROM documents GROUP BY md5(text) ORDER BY keep_id
"""


# --------------------------------------------------------------------------
def _grams_col(text_col, shingle: int = SHINGLE):
    """SQL-twin documentation form of the distinct word n-gram shingles
    (lowercased, space-tokenized). DO NOT use in hot paths: the per-gram
    F.transform lambda is CodegenFallback — interpreted, measured ~31k
    grams/s/invocation (8.3 s for one pass at sf0.1). ``grams_udf`` below
    is the vectorized twin (exact same strings, first-occurrence-distinct
    order included; parity pinned by tests/test_dedup_cap.py)."""
    w = F.split(F.lower(text_col), " ")
    n = F.size(w)
    idx = F.sequence(F.lit(1), n - (shingle - 1))
    gram = lambda i: F.concat_ws(" ", *[F.element_at(w, i + off) for off in range(shingle)])
    return F.when(n >= shingle, F.array_distinct(F.transform(idx, gram))).otherwise(
        F.array().cast("array<string>")
    )


def word_shingles(text, n: int = SHINGLE) -> list:
    """The distinct word n-grams of ``text``, in first-occurrence order:
    lower → split(' ') (empty tokens kept, as in Java split limit=-1 and
    DuckDB string_split) → n-grams joined by ' '. [] for non-str input and
    below ``n`` words. The one Python form of the rule ``_grams_col`` and
    the oracles spell in SQL."""
    w = text.lower().split(" ") if isinstance(text, str) else []
    return list(dict.fromkeys(" ".join(w[i : i + n]) for i in range(len(w) - n + 1)))


@F.pandas_udf(ArrayType(StringType()))
def _grams(texts: pd.Series, n: pd.Series) -> pd.Series:
    return pd.Series([word_shingles(t, int(k)) for t, k in zip(texts, n)])


def grams_udf(text_col, shingle: int = SHINGLE):
    """Vectorized twin of ``_grams_col``: ``word_shingles`` over one Arrow
    batch per task. Identical output, first-occurrence-distinct order
    included; [] below ``shingle`` words or for NULL text."""
    return _grams(text_col, F.lit(shingle))


def _min_sigs(grams: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """SQL-twin documentation form of the signature computation: (doc_id,
    mh0..mh{k-1}) from (doc_id, grams) via ONE groupBy of k min-aggregates
    over the exploded shingles. DO NOT use in hot paths since r7: joining
    the wide gram arrays back to this aggregate shuffles + sorts the whole
    gram payload (~400 MB at sf1.0 — measured as the bulk of the signature
    stage), which `minhash_signatures` now avoids by computing the same
    md5 min-hashes inside the shingling Arrow stage. Parity is pinned by
    tests/test_dedup_cap.py::test_python_signatures_match_min_sigs_twin —
    this remains the single SQL-shaped definition of the seed/hash format
    the DuckDB oracle mirrors."""
    exploded = grams.select("doc_id", F.explode("grams").alias("g"))
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{s}:"), F.col("g")))).alias(f"mh{s}")
        for s in range(n_hashes)
    ]
    return exploded.groupBy("doc_id").agg(*aggs)


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """One row per doc with ≥1 shingle: (doc_id, grams, mh0..mh{N_HASHES-1}),
    SHINGLE-word grams (the ``grams_udf`` grams the incremental index
    verifies against).

    r7 shape (guide §2.4 — remove shuffles outright): ONE Arrow stage
    computes shingles AND the k md5 min-hashes per document. The previous
    form aggregated min-hashes JVM-side over exploded shingles and joined
    them back to the gram arrays — a sort-merge join that shuffled + sorted
    the whole gram payload twice for zero information gain (the signatures
    are a pure per-document function). Python md5 over 'seed:gram' is
    byte-identical to F.md5 (lowercase hex; min over the 16-byte digests
    orders exactly like min over their hex strings — hex encoding is
    order-preserving), so signatures, bands and the oracle are unchanged.
    Docs with zero shingles are dropped, matching the previous inner join
    against the exploded aggregate. fan_out widens the narrow single-file
    scan first (guide §2.2; no-op on already-parallel inputs)."""
    prefixes = [f"{s}:".encode("utf-8") for s in range(N_HASHES)]
    schema = "doc_id long, grams array<string>, " + ", ".join(
        f"mh{s} string" for s in range(N_HASHES)
    )

    def gen(batches):
        md5 = hashlib.md5
        for pdf in batches:
            out_ids, out_grams = [], []
            out_mh: list = [[] for _ in range(N_HASHES)]
            for doc_id, t in zip(pdf["doc_id"].values, pdf["text"].values):
                grams = word_shingles(t)
                if not grams:
                    continue
                best = [None] * N_HASHES
                for g in grams:
                    gb = g.encode("utf-8")
                    for s in range(N_HASHES):
                        d = md5(prefixes[s] + gb).digest()
                        if best[s] is None or d < best[s]:
                            best[s] = d
                out_ids.append(doc_id)
                out_grams.append(grams)
                for s in range(N_HASHES):
                    out_mh[s].append(best[s].hex())
            cols = {"doc_id": pd.Series(out_ids, dtype="int64"),
                    "grams": pd.Series(out_grams, dtype="object")}
            for s in range(N_HASHES):
                cols[f"mh{s}"] = pd.Series(out_mh[s], dtype="object")
            yield pd.DataFrame(cols)

    return fan_out(docs, "doc_id").select("doc_id", "text").mapInPandas(gen, schema)


def _band_rows(sigs: DataFrame) -> DataFrame:
    """(doc_id, seed, mh) long form of the wide signature columns."""
    stack_expr = "stack({}, {}) as (seed, mh)".format(
        N_HASHES, ", ".join(f"'{s}', mh{s}" for s in range(N_HASHES))
    )
    return sigs.selectExpr("doc_id", stack_expr)


def bucket_pairs(rows: DataFrame, keys: list, cap: int) -> DataFrame:
    """(a, b) id pairs, a < b, of ``rows`` ``(*keys, id, fresh)`` that share
    a bucket of at most ``cap`` rows, keeping pairs that touch a fresh row.

    The over-cap buckets (tiny, usually empty) come from one width aggregate
    and leave through one broadcast anti-join, map-side, so no member list
    below grows past ``cap`` (a count window over the keys has the same
    semantics but sorts every row; measured 1.3 s → 7 s at sf0.1). Each
    capped bucket's members are then collected sorted by id, every member
    is paired with the ones after it, and one distinct folds pairs that
    share several buckets."""
    hot = rows.groupBy(*keys).count().filter(F.col("count") > cap).select(*keys)
    members = (
        rows.join(broadcast_within(hot), keys, "left_anti")
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("id", "fresh"))).alias("m"))
    )
    x, y = F.col("x"), F.col("y")
    return (
        members.select("m", F.posexplode("m").alias("i", "x"))
        .select("x", F.explode(F.slice("m", F.col("i") + 2, F.size("m"))).alias("y"))
        .filter((x.id < y.id) & (x.fresh | y.fresh))
        .select(x.id.alias("a"), y.id.alias("b"))
        .distinct()
    )


def lsh_band_candidates(sigs: DataFrame, max_band_width: int = MAX_BAND_WIDTH) -> DataFrame:
    """(doc_a, doc_b) candidate pairs: docs sharing a band bucket of at most
    ``max_band_width`` docs (``bucket_pairs``, every doc fresh)."""
    rows = _band_rows(sigs).select("seed", "mh", F.col("doc_id").alias("id"),
                                   F.lit(True).alias("fresh"))
    return bucket_pairs(rows, ["seed", "mh"], max_band_width).toDF("doc_a", "doc_b")


def _gram_row_bytes(grams):
    """Broadcast bytes of one (doc_id, grams) row: 48 fixed, 8 per gram,
    the gram bytes (the join separators stand in for word padding)."""
    return 48 + F.octet_length(F.array_join(grams, " ")) + 8 * F.size(grams)


def _verify_jaccard(cand: DataFrame, grams: DataFrame,
                    n_bytes: int | None = None) -> DataFrame:
    """Exact shingle-Jaccard verification of candidate (doc_a, doc_b)
    pairs; emits pairs whose ROUNDED jaccard (6 dp — matching the oracle's
    filter exactly) clears JACCARD_MIN. Shared by the batch and the
    incremental pipelines so the delta==batch contract can't drift.

    r7 (guide §8 — never shuffle a heavy payload per pair): attaching the
    gram arrays with two sort-merge joins shuffled both docs' shingle
    arrays PER CANDIDATE PAIR — multi-GB in flight for 3.9M pairs at
    sf1.0, measured 20.5 s → 10.3 s when the attach stopped moving pair
    rows. When the caller's measure of the gram table (``n_bytes``) fits
    the broadcast budget, both gram sides are BROADCAST instead, so the
    pair set never moves and the payload crosses once as one broadcast per
    side. Above it (or unmeasured) both sides shuffle — exact either way.
    |A∪B| is computed as |A|+|B|−|A∩B| (the same integer, so the rounded
    division is bit-identical) to drop the second per-pair set build."""
    base = grams.select("doc_id", "grams")
    # gate the IDENTICAL subplan for both sides (aliases above the
    # exchange, not projections below it) so ReuseExchange builds the hash
    # relation once and probes it for doc_a and doc_b; an unmeasured side
    # gates as over budget (the planner estimate undercounts payloads)
    n_bytes = float("inf") if n_bytes is None else n_bytes
    ga = broadcast_within(base.alias("ga"), n_bytes)
    gb = broadcast_within(base.alias("gb"), n_bytes)
    inter = F.size(F.array_intersect("ga.grams", "gb.grams"))
    return (
        cand.join(ga, F.col("doc_a") == F.col("ga.doc_id"))
        .join(gb, F.col("doc_b") == F.col("gb.doc_id"))
        .select("doc_a", "doc_b", F.size("ga.grams").alias("_na"),
                F.size("gb.grams").alias("_nb"), inter.alias("_i"))
        .select(
            "doc_a", "doc_b",
            F.round(
                F.col("_i").cast("double") / (F.col("_na") + F.col("_nb") - F.col("_i")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_MIN)
    )


def minhash_lsh_pairs(docs: DataFrame, max_band_width: int = MAX_BAND_WIDTH) -> DataFrame:
    """LSH candidate pairs (1 row per band match, r=1 bands) verified with
    exact shingle Jaccard; emits pairs with jaccard >= JACCARD_MIN, in no
    particular order."""
    # the signature stage feeds THREE consumers (bands + both jaccard join
    # sides); checkpoint it or Catalyst recomputes the shingle/minhash
    # subtree per consumer (measured 25s → 3s at sf0.1)
    sigs = minhash_signatures(docs).localCheckpoint(eager=False)
    # the byte measure materializes the checkpoint the three consumers need
    # anyway and feeds the broadcast gate of the verify attach (guide §3.1)
    n_bytes = sigs.agg(F.sum(_gram_row_bytes(F.col("grams")))).first()[0] or 0
    cand = lsh_band_candidates(sigs, max_band_width)
    return _verify_jaccard(cand, sigs.select("doc_id", "grams"), n_bytes=n_bytes)


def q_minhash_lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    return minhash_lsh_pairs(T(spark, sf, "documents")).orderBy("doc_a", "doc_b")


def build_minhash_index(docs: DataFrame):
    """The persistent LSH index state an incremental pipeline maintains
    between runs: banded signature rows + gram sets. At scale both live as
    tables bucketed by (seed, mh) / doc_id, appended per batch — signatures
    are computed ONCE per document, ever.

    PERSIST ADJUDICATION, re-opened r5: the r4 measurement (no-persist ≈
    narrow-persist 5.8 s ≈ the recorded shape) was comparing two
    IDENTICAL executions — the persist was silently defeated. Root
    cause: old and new docs are filters of the same source, the
    analyzer's self-join de-duplication re-aliases one branch of every
    consumer plan, and Spark's cache substitution misses for the
    re-aliased branch (minimal repro in the r5 commit message;
    discovered via the incremental exact-substring path, see
    sarray.build_gram_index). localCheckpoint cuts the shared lineage —
    the in-session stand-in for the bucketed band TABLE a deployment
    reads — and every consumer reads materialized rows: measured 13.5 →
    4.4 s warm (same slow-box phase, same 53 result rows) with
    checkpointed bands + new-batch signatures. Grams stay lazy: their
    recompute is the cheap column-pruned shingling map pass, and
    checkpointing the wide gram arrays is the r4 shape-(b) cost that
    LOST the adjudication."""
    # r7: signatures come from the one-stage Arrow form (see
    # minhash_signatures) — no gram-payload join; grams stay a SEPARATE
    # lazy shingling projection (cheap map pass, per the r4 adjudication
    # against checkpointing the wide arrays)
    grams = fan_out(docs, "doc_id").select(
        "doc_id", grams_udf(F.col("text")).alias("grams")
    )
    sigs = minhash_signatures(docs)
    # coalesce to core count: downstream these rows are UNIONED with the
    # new batch's bands, and a union of two shuffle-partitioned relations
    # scans n+m partitions — at 128 shuffle partitions that is ~256
    # near-empty tasks of pure scheduling overhead per consumer. Narrow
    # (no extra shuffle).
    dp = docs.sparkSession.sparkContext.defaultParallelism
    # localCheckpoint, not persist: old and new docs are filters of the
    # same source, and the analyzer's self-join de-duplication re-aliases
    # one branch of every consumer plan — Spark's cache substitution
    # MISSES for the re-aliased branch (verified on 4.1; discovered via
    # the incremental exact-substring path, see sarray.build_gram_index),
    # so a persist here is silently ignored and the old-corpus min-agg
    # shuffle re-runs per consumer. Checkpointing cuts the shared lineage
    # — the in-session stand-in for the bucketed band TABLE a deployment
    # reads — and makes every consumer read materialized rows.
    bands = _band_rows(sigs).coalesce(dp).localCheckpoint(eager=True)
    return bands, grams


def incremental_minhash_pairs(
    index_bands: DataFrame,
    index_grams: DataFrame,
    new_docs: DataFrame,
    max_band_width: int = MAX_BAND_WIDTH,
    n_bytes: int | None = None,
) -> DataFrame:
    """Incremental LSH index maintenance: near-dup pairs INVOLVING the new
    batch, without recomputing any old-corpus signature. The index bands are
    first semi-joined to the new batch's (seed, mh) keys (a broadcast of the
    new keys, so the index is only scanned map-side), then unioned with the
    new bands marked fresh; ``bucket_pairs`` caps each bucket by its UNION
    width, so the result is EXACTLY the batch `minhash_lsh_pairs(old ∪ new)`
    restricted to pairs touching a new doc (equality asserted in
    tests/test_dedup_cap.py). The one thing the delta can't do is retract
    old-old pairs whose bucket a new batch pushes over the cap — the
    standard append-only-index tradeoff, documented here. Per batch this
    shuffles O(|new| + matched bucket members), not O(|corpus|)."""
    dp = new_docs.sparkSession.sparkContext.defaultParallelism
    new_sigs = minhash_signatures(new_docs).coalesce(dp).localCheckpoint(eager=True)
    keys = ["seed", "mh"]
    new_bands = _band_rows(new_sigs)
    matched = index_bands.join(broadcast_within(new_bands.select(*keys)), keys, "left_semi")
    rows = matched.withColumn("fresh", F.lit(False)).unionByName(
        new_bands.withColumn("fresh", F.lit(True)))
    cand = bucket_pairs(rows.withColumnRenamed("doc_id", "id"), keys,
                        max_band_width).toDF("doc_a", "doc_b")
    grams_all = index_grams.unionByName(new_sigs.select("doc_id", "grams"))
    # n_bytes (the caller's measure of the union gram table) gates the
    # broadcast attach inside the verify — see _verify_jaccard
    return _verify_jaccard(cand, grams_all, n_bytes=n_bytes)


def q_incremental_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Driver query: docs with doc_id % 10 == 0 are 'the new batch'; the
    rest are the already-indexed corpus. Oracle = the batch LSH SQL over
    the full table, restricted to pairs touching the new batch.

    BENCH NOTE: this query's recorded time is dominated by building the
    old-corpus index in-query (necessary for a self-contained oracle
    check); a deployment reads the persisted band/gram tables instead,
    paying only the new-batch signature + keyed join cost."""
    docs = T(spark, sf, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    bands, grams = build_minhash_index(old)
    # the union gram table stays lazy, so the verify's broadcast gate gets an
    # upper bound from the text: at most one shingle per word, each repeating
    # SHINGLE words (16 covers the 8-byte slot and the separators)
    text = F.col("text")
    bound = 48 + SHINGLE * F.octet_length(text) + 16 * F.size(F.split(text, " "))
    n_bytes = docs.agg(F.sum(bound)).first()[0] or 0
    return incremental_minhash_pairs(bands, grams, new, n_bytes=n_bytes).orderBy("doc_a", "doc_b")


_SQL_MINHASH = f"""
WITH ws AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
sh AS (SELECT doc_id,
         CASE WHEN len(w) >= {SHINGLE}
              THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                  for i in generate_series(1, len(w)-{SHINGLE - 1})])
              ELSE [] END AS grams
       FROM ws),
ex AS (SELECT doc_id, unnest(grams) AS g FROM sh),
mh AS (SELECT doc_id, s.seed, min(md5(CAST(s.seed AS VARCHAR) || ':' || g)) AS mh
       FROM ex CROSS JOIN (SELECT unnest(generate_series(0, {N_HASHES - 1})) AS seed) s
       GROUP BY doc_id, s.seed),
mhf AS (SELECT doc_id, seed, mh FROM
          (SELECT doc_id, seed, mh, count(*) OVER (PARTITION BY seed, mh) AS w FROM mh)
        WHERE w <= {MAX_BAND_WIDTH}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM mhf a JOIN mhf b ON a.seed = b.seed AND a.mh = b.mh AND a.doc_id < b.doc_id)
SELECT c.doc_a, c.doc_b,
       round(CAST(len(list_intersect(sa.grams, sb.grams)) AS DOUBLE)
             / len(list_distinct(sa.grams || sb.grams)), 6) AS jaccard
FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b
WHERE round(CAST(len(list_intersect(sa.grams, sb.grams)) AS DOUBLE)
      / len(list_distinct(sa.grams || sb.grams)), 6) >= {JACCARD_MIN}
ORDER BY doc_a, doc_b
"""


# Oracle: the batch SQL restricted to pairs touching the "new batch"
# (doc_id % 10 == 0) — the exact delta contract of incremental maintenance.
_SQL_INCREMENTAL = _SQL_MINHASH.replace(
    "WHERE round(",
    "WHERE (c.doc_a % 10 = 0 OR c.doc_b % 10 = 0)\n  AND round(",
)
assert _SQL_INCREMENTAL != _SQL_MINHASH, "restriction splice did not match"




# --------------------------------------------------------------------------
# SimHash blocking prefix. A document's 64-bit SimHash is the per-bit
# majority vote over its distinct words' 64-bit hashes; near-duplicate
# blocking groups on the top-16-bit prefix. Since each bit votes
# independently, computing ONLY bits 48..63 yields the identical prefix at a
# quarter of the work. Word hash = first 16 hex chars of md5 (the one hash
# both engines share), so the DuckDB oracle is bit-identical — and the whole
# stage is one Arrow-vectorized pandas UDF (numpy bit matrix; md5 memoized
# across the batch), never interpreted per-row lambdas.

_PREFIX_BITS = np.arange(48, 64, dtype=np.uint64)


@F.pandas_udf(LongType())
def simhash_prefix16(texts: pd.Series) -> pd.Series:
    """Top-16-bit SimHash prefix over a text column, one Arrow batch per
    task. Its words are the distinct tokens of lower → split(' '), NULL
    text counting as '' (the oracle's rule, not the shingler's)."""
    memo: dict = {}

    def word_hash(w: str) -> int:
        h = memo.get(w)
        if h is None:
            h = int(hashlib.md5(w.encode("utf-8")).hexdigest()[:16], 16)
            memo[w] = h
        return h

    out = np.zeros(len(texts), dtype=np.int64)
    weights = (1 << np.arange(16, dtype=np.int64))
    for i, t in enumerate(texts):
        words = set(("" if t is None else t).lower().split(" "))
        hs = np.fromiter((word_hash(w) for w in words), dtype=np.uint64, count=len(words))
        bits = ((hs[:, None] >> _PREFIX_BITS) & np.uint64(1)).astype(np.int64)
        votes = (2 * bits - 1).sum(axis=0)
        out[i] = int(((votes > 0).astype(np.int64) * weights).sum())
    return pd.Series(out)


def q_simhash_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash blocking buckets: docs grouped by top-16-bit prefix.
    Full DuckDB oracle (md5 word hashes match bit-for-bit)."""
    docs = T(spark, sf, "documents")
    sims = fan_out(docs, "doc_id").select(
        "doc_id", simhash_prefix16(F.col("text")).alias("prefix")
    )  # r7 fan_out: see minhash_signatures
    return (
        sims.groupBy("prefix")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc"))
        .orderBy("prefix")
    )


_SQL_SIMHASH = """
WITH ws AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS w FROM documents),
ex AS (SELECT doc_id, unnest(w) AS word FROM ws),
h AS (SELECT doc_id, ('0x' || substring(md5(word), 1, 16))::UBIGINT AS hw FROM ex),
votes AS (
  SELECT doc_id, b.b,
         sum(CASE WHEN (hw >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h CROSS JOIN (SELECT unnest(generate_series(48, 63)) AS b) b
  GROUP BY doc_id, b.b
),
sig AS (
  SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN 1 << (b - 48) ELSE 0 END) AS BIGINT) AS prefix
  FROM votes GROUP BY doc_id
)
SELECT prefix, count(*) AS n_docs, min(doc_id) AS min_doc
FROM sig GROUP BY prefix ORDER BY prefix
"""


# --------------------------------------------------------------------------
# Bloom-filter dedup PREFILTER — the membership gate a 100 TB ingest runs
# BEFORE the exact anti-join (Bloom 1970; the distributed filter-as-table
# form is the standard Spark/Flink runtime-filter pattern). The filter is
# NOT an opaque sketch blob: it is a TABLE (word_idx, bits) of 32-bit
# words, built with one bounded groupBy (k·|store| rows → ≤ BLOOM_M/32
# rows) and BROADCAST to the probe side; a new doc is a candidate dup iff
# all k probed bits are set. Deterministic md5-derived hash positions make
# the DuckDB oracle reproduce the filter bit-for-bit.
#
# Scale: the filter is SIZED FROM THE STORE — m = BLOOM_BITS_PER_KEY ·
# |store| bits (the classic m/n=16, k=4 point: theoretical FP ≈
# (1-e^{-kn/m})^k ≈ 0.2%), carried as a 1-row broadcast scalar INTO the
# hash arithmetic, so the same operator is correctly loaded at any corpus
# size. The broadcast word table is m/32 rows (~2 rows per store doc,
# int64 each); the probe side needs one map-local explode (k rows/doc),
# one broadcast join, one groupBy(doc). When the store grows to where the
# word table exceeds broadcast range, the SAME representation
# range-partitions on word_idx and the probe join becomes a bucketed
# equi-join — nothing about the operator changes shape. 32-bit words (not
# 64) keep every mask value positive in both engines, dodging int64
# sign-semantics divergence on bit 63.
BLOOM_BITS_PER_KEY = 16
BLOOM_K = 4  # hash functions
_BLOOM_WORD = 32


def _bloom_probes():
    """k md5-derived (word_idx, mask) probe structs for the columns
    `h` (text hash) and `m_bits` (filter size, joined in as a 1-row
    broadcast scalar). Built as a SQL expression: shiftleft needs a
    column bit count."""
    structs = []
    for j in range(BLOOM_K):
        pos = (
            f"pmod(CAST(conv(substring(md5(concat(h, '#{j}')), 1, 15), 16, 10)"
            f" AS BIGINT), m_bits)"
        )
        structs.append(
            f"struct(CAST({pos} DIV {_BLOOM_WORD} AS BIGINT) AS word_idx, "
            f"shiftleft(CAST(1 AS BIGINT), CAST({pos} % {_BLOOM_WORD} AS INT)) AS mask)"
        )
    return F.expr("array(" + ", ".join(structs) + ")")


def _probe_words(df: DataFrame, m_bits) -> DataFrame:
    """k (word_idx, mask) probe rows per row of ``df``, which has column
    h. ``m_bits`` is the filter size: an int, or the column of ``df``
    holding a joined-in size scalar (that column is not carried over)."""
    keep = [c for c in df.columns if c != "m_bits"]
    return df.withColumn("m_bits", F.lit(m_bits)).select(*keep, F.inline(_bloom_probes()))


def bloom_words(hashes: DataFrame, m_bits) -> DataFrame:
    """The Bloom filter word table (word_idx, bits) of ``hashes`` (column
    h): every row's k probe masks OR-ed into their 32-bit words, in one
    bounded groupBy. ``m_bits`` as in ``_probe_words``."""
    return (
        _probe_words(hashes, m_bits)
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_all_hit(docs: DataFrame, words: DataFrame, m_bits,
                  n_bytes: int | None = None) -> DataFrame:
    """The Bloom membership probe: one row per row of ``docs`` (column h,
    plus any key columns), with ``all_hit`` 1 iff every one of its k
    probes finds its mask set in the filter word table ``words``
    (word_idx, bits), else 0. ``m_bits`` as in ``_probe_words``; the word
    table joins through ``broadcast_within(words, n_bytes)``."""
    keep = [c for c in docs.columns if c != "m_bits"]
    hit = F.col("bits").isNotNull() & (F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask"))
    return (
        _probe_words(docs, m_bits)
        .join(broadcast_within(words, n_bytes), "word_idx", "left")
        .groupBy(*keep)
        .agg(F.min(hit.cast("int")).alias("all_hit"))
    )


def q_bloom_prefilter(spark: SparkSession, sf: str) -> DataFrame:
    """One-row summary of the prefilter over the store (doc_id % 5 != 0)
    vs the new batch (doc_id % 5 == 0): candidates flagged by the filter,
    exact true dups (semi join on the text hash), false positives, and
    the filter's physical size and load (m_bits, nonzero words, set
    bits). The synthetic corpus has no exact cross-doc dups, so half the
    new batch (doc_id % 10 == 0) deterministically borrows its successor
    doc's text — a store member — making the no-false-negative guarantee
    (every true dup IS a candidate) verifiable, not vacuous."""
    base = T(spark, sf, "documents").select("doc_id", "text")
    store = base.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id", F.md5("text").alias("h")
    )
    donor = base.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("donor_text")
    )
    new = (
        base.filter(F.col("doc_id") % 5 == 0)
        .join(donor, "doc_id")
        .select(
            "doc_id",
            F.md5(
                F.when(F.col("doc_id") % 10 == 0, F.col("donor_text")).otherwise(
                    F.col("text")
                )
            ).alias("h"),
        )
    )
    sizing = (
        store.agg(F.count("*").alias("n_store"))
        .select((F.col("n_store") * BLOOM_BITS_PER_KEY).alias("m_bits"))
        .withColumn("k", F.lit(1))
    )
    with_m = lambda df: df.withColumn("k", F.lit(1)).join(F.broadcast(sizing), "k")  # noqa: E731

    filt = bloom_words(with_m(store).select("h", "m_bits"), F.col("m_bits"))
    hits = bloom_all_hit(with_m(new).drop("k"), filt, F.col("m_bits"))
    true_dup = new.join(store.select("h").distinct(), "h", "left_semi").select("doc_id")
    n_true = true_dup.agg(F.count("*").alias("c")).withColumn("k", F.lit(1))
    load = filt.agg(
        F.count("*").alias("n_filter_words"),
        F.sum(F.bit_count("bits")).alias("n_set_bits"),
    ).withColumn("k", F.lit(1))
    summary = hits.agg(
        F.count("*").alias("n_new"),
        F.sum("all_hit").alias("n_candidates"),
    ).withColumn("k", F.lit(1))
    return (
        summary.join(F.broadcast(n_true), "k")
        .join(F.broadcast(load), "k")
        .join(F.broadcast(sizing), "k")
        .select(
            "n_new",
            "n_candidates",
            F.col("c").alias("n_true_dups"),
            (F.col("n_candidates") - F.col("c")).alias("n_false_positives"),
            "m_bits",
            "n_filter_words",
            "n_set_bits",
        )
    )


_SQL_BLOOM = f"""
WITH store AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 5 <> 0
),
new_b AS (
  SELECT d.doc_id,
         md5(CASE WHEN d.doc_id % 10 = 0 THEN d2.text ELSE d.text END) AS h
  FROM documents d JOIN documents d2 ON d2.doc_id = d.doc_id + 1
  WHERE d.doc_id % 5 = 0
),
sizing AS (SELECT count(*) * {BLOOM_BITS_PER_KEY} AS m_bits FROM store),
store_p AS (
  SELECT ('0x' || substring(md5(h || '#' || j), 1, 15))::BIGINT % m_bits AS pos
  FROM store, sizing, range({BLOOM_K}) t(j)
),
filt AS (
  SELECT pos // {_BLOOM_WORD} AS word_idx,
         bit_or(1::BIGINT << CAST(pos % {_BLOOM_WORD} AS INTEGER)) AS bits
  FROM store_p GROUP BY 1
),
new_p AS (
  SELECT doc_id, h,
         ('0x' || substring(md5(h || '#' || j), 1, 15))::BIGINT % m_bits AS pos
  FROM new_b, sizing, range({BLOOM_K}) t(j)
),
hits AS (
  SELECT n.doc_id, n.h,
         min(CASE WHEN f.bits IS NOT NULL
                   AND (f.bits & (1::BIGINT << CAST(n.pos % {_BLOOM_WORD} AS INTEGER)))
                       = (1::BIGINT << CAST(n.pos % {_BLOOM_WORD} AS INTEGER))
                  THEN 1 ELSE 0 END) AS all_hit
  FROM new_p n LEFT JOIN filt f ON n.pos // {_BLOOM_WORD} = f.word_idx
  GROUP BY n.doc_id, n.h
),
truth AS (
  SELECT count(*) AS n_true FROM new_b
  WHERE h IN (SELECT h FROM store)
),
load AS (
  SELECT count(*) AS n_filter_words, sum(bit_count(bits)) AS n_set_bits FROM filt
)
SELECT count(*) AS n_new,
       CAST(sum(all_hit) AS BIGINT) AS n_candidates,
       (SELECT n_true FROM truth) AS n_true_dups,
       CAST(sum(all_hit) - (SELECT n_true FROM truth) AS BIGINT) AS n_false_positives,
       (SELECT m_bits FROM sizing) AS m_bits,
       (SELECT n_filter_words FROM load) AS n_filter_words,
       CAST((SELECT n_set_bits FROM load) AS BIGINT) AS n_set_bits
FROM hits
"""


QUERIES = {
    "dedup_exact": (q_dedup_exact, _SQL_DEDUP_EXACT),
    "dedup_bloom_prefilter": (q_bloom_prefilter, _SQL_BLOOM),
    "dedup_minhash_lsh": (q_minhash_lsh_pairs, _SQL_MINHASH),
    "dedup_incremental_lsh": (q_incremental_lsh, _SQL_INCREMENTAL),
    "dedup_simhash_buckets": (q_simhash_buckets, _SQL_SIMHASH),
}


# --------------------------------------------------------------------------
# Near-dup CLUSTERING: pairs → connected components → canonical keeper.
# The step a production dedup pipeline runs after pair generation (keep one
# doc per duplicate cluster, drop the rest). Spark form: ALTERNATING
# LARGE-STAR / SMALL-STAR edge contraction (Kiveris, Lattanzi, Mirrokni,
# Rastogi, Vassilvitskii: "Connected Components in MapReduce and Beyond",
# SoCC 2014 — a published public algorithm):
#
#   large-star: every node links its LARGER neighbors to the minimum of its
#               closed neighborhood;
#   small-star: every node links its smaller neighbors (and itself) to that
#               minimum.
#
# Both steps preserve connectivity; alternating them strictly shrinks a
# potential function until the graph is a STAR FOREST whose centers are the
# component minima — in O(log² n) rounds worst-case, a handful in practice
# (measured: 7 rounds for a 200-edge path, diameter 200). This replaces the
# r2 min-label propagation, which moved labels ONE hop per round (linear in
# component diameter — long near-dup chains A~B~C~… made it both slow and,
# past its silent 20-round cap, WRONG). Each round is two groupBy+join
# passes over the current edge set; the driver touches one (count, xor)
# checksum per round. The edge set is localCheckpoint'ed EVERY round:
# a persisted frame keeps its logical plan, which otherwise grows
# per round until plan stringification OOMs the driver (r2 defect).
# Non-convergence RAISES instead of returning split clusters.
#
# The DuckDB oracle computes the same components with a recursive
# transitive-closure CTE — feasible because verified near-dup pair sets are
# sparse (vertices ≪ corpus).

MAX_CC_ROUNDS = 100  # alternation converges in O(log² n) rounds; real pair
                     # graphs take < 10 — 100 is a raise-guard, not a cap

# r7: below this edge count the components are solved with one driver-side
# union-find instead of the distributed star contraction. Rationale (guide
# §1.2/§7.3): each contraction round costs 2 eager checkpoints + 1
# signature collect = dozens of scheduler stages over a pair graph that is
# SPARSE BY CONSTRUCTION (verified near-dup pairs), so wall-clock is pure
# driver/scheduling overhead — measured ~10 s at sf1.0 for ~2k edges. The
# cap bounds driver memory (2M edges ≈ 32 MB of longs — the same order as
# the gated centroid/broadcast collects elsewhere in the repo); above it
# the exact distributed path runs unchanged, so 100 TB-scale pair graphs
# keep the star-contraction shape.
CC_LOCAL_EDGE_CAP = 2_000_000


def _local_components(spark, E: DataFrame) -> DataFrame:
    """(doc_id, keeper) via driver union-find over a CAPPED edge list —
    bit-identical to the star-contraction fixed point (keeper = component
    minimum; every edge vertex labelled)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in E.select("a", "b").toPandas().itertuples(index=False):
        a, b = int(a), int(b)
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for v in parent:
        r = find(v)
        m = comp_min.get(r)
        if m is None or v < m:
            comp_min[r] = v
    rows = pd.DataFrame(
        {"doc_id": list(parent), "keeper": [comp_min[find(v)] for v in parent]}
    ).astype("int64").sort_values("doc_id")
    return spark.createDataFrame(rows, "doc_id long, keeper long")


def _large_star(E: DataFrame) -> DataFrame:
    """Edges (a,b), a<b → for every node, link its larger neighbors to the
    min of its closed neighborhood. Output stays canonical (a<b)."""
    sym = E.union(E.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mins = (
        sym.groupBy("a").agg(F.min("b").alias("mb"))
        .select("a", F.least("mb", "a").alias("m"))
    )
    # m ≤ a < b, so (m, b) is canonical and never a self-loop
    return (
        sym.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("m").alias("a"), "b")
        .distinct()
    )


def _small_star(E: DataFrame) -> DataFrame:
    """Edges (a,b), a<b → every node links its smaller neighbors and itself
    to the min of those neighbors."""
    d = E.select(F.col("b").alias("u"), F.col("a").alias("v"))  # v < u
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    leaves = (
        d.join(mins, "u")
        .filter(F.col("v") != F.col("m"))  # m ≤ v: drop the self-loop
        .select(F.col("m").alias("a"), F.col("v").alias("b"))
    )
    selfe = mins.select(F.col("m").alias("a"), F.col("u").alias("b"))
    return leaves.union(selfe).distinct()


def _edge_sig(E: DataFrame):
    """(count, xor-of-xxhash64) content signature — ONE scalar action per
    round to detect convergence (bit_xor is order-insensitive and
    overflow-free under Spark 4 ANSI mode)."""
    r = E.agg(
        F.count("*").alias("n"), F.bit_xor(F.xxhash64("a", "b")).alias("x")
    ).collect()[0]
    return (r["n"], r["x"])


def neardup_clusters(pairs: DataFrame, stats: dict | None = None) -> DataFrame:
    """(doc_id, keeper) for every doc in a duplicate cluster; keeper is the
    cluster's min doc_id. ``pairs`` must have (doc_a, doc_b) with
    doc_a < doc_b.

    Raises RuntimeError if the star contraction has not converged after
    MAX_CC_ROUNDS rounds — wrong clusters are never returned silently.
    ``stats`` (optional) receives {"rounds", "edges"} for scale telemetry.
    """
    E = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sig = _edge_sig(E)
    # r7 fast path: sparse pair graphs (the overwhelmingly common case —
    # verified near-dup pairs) are solved on the driver under the edge cap;
    # the distributed contraction below is the at-scale fallback.
    if 0 < sig[0] <= CC_LOCAL_EDGE_CAP:
        if stats is not None:
            stats["rounds"] = 0
            stats["edges"] = sig[0]
        return _local_components(pairs.sparkSession, E)
    # from the checkpointed edge set, so ``pairs`` is read once
    verts = E.select(F.col("a").alias("doc_id")).union(E.select("b")).distinct()
    rounds = 0
    if sig[0]:
        for rounds in range(1, MAX_CC_ROUNDS + 1):
            # checkpoint between the phases too: small-star reads its input
            # twice (min agg + join), and checkpoint both truncates the plan
            # and caches the data (dropped rounds are GC'd by the context
            # cleaner once unreferenced)
            L = _large_star(E).localCheckpoint(eager=True)
            E = _small_star(L).localCheckpoint(eager=True)
            new_sig = _edge_sig(E)
            if new_sig == sig:
                break
            sig = new_sig
        else:
            raise RuntimeError(
                f"neardup_clusters star contraction did not converge within "
                f"{MAX_CC_ROUNDS} rounds — refusing to return split clusters"
            )
    if stats is not None:
        stats["rounds"] = rounds
        stats["edges"] = sig[0]
    # fixed point = star forest: centers (a-side) are component minima;
    # every other vertex appears exactly once as a b-side leaf
    return (
        verts.join(
            E.select(F.col("b").alias("doc_id"), F.col("a").alias("_keeper")),
            "doc_id",
            "left",
        )
        .select("doc_id", F.coalesce("_keeper", "doc_id").alias("keeper"))
    )


def _clustered_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Shared clustering preamble: star-contraction components of the
    verified MinHash pairs (``neardup_clusters`` checkpoints the edge set
    it re-reads every round)."""
    return neardup_clusters(minhash_lsh_pairs(T(spark, sf, "documents")))


def q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster the verified MinHash near-dup pairs; per cluster report the
    keeper, member count, and dropped-doc count (the dedup decision)."""
    clusters = _clustered_docs(spark, sf)
    return (
        clusters.groupBy("keeper")
        .agg(
            F.count("*").alias("n_members"),
            F.sum(F.when(F.col("doc_id") != F.col("keeper"), 1).otherwise(0)).alias("n_dropped"),
        )
        .orderBy("keeper")
    )


_SQL_CLUSTERS = f"""
WITH ws AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
sh AS (SELECT doc_id,
         CASE WHEN len(w) >= {SHINGLE}
              THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                  for i in generate_series(1, len(w)-{SHINGLE - 1})])
              ELSE [] END AS grams
       FROM ws),
ex AS (SELECT doc_id, unnest(grams) AS g FROM sh),
mh AS (SELECT doc_id, s.seed, min(md5(CAST(s.seed AS VARCHAR) || ':' || g)) AS mh
       FROM ex CROSS JOIN (SELECT unnest(generate_series(0, {N_HASHES - 1})) AS seed) s
       GROUP BY doc_id, s.seed),
mhf AS (SELECT doc_id, seed, mh FROM
          (SELECT doc_id, seed, mh, count(*) OVER (PARTITION BY seed, mh) AS w FROM mh)
        WHERE w <= {MAX_BAND_WIDTH}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM mhf a JOIN mhf b ON a.seed = b.seed AND a.mh = b.mh AND a.doc_id < b.doc_id),
pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b
  WHERE round(CAST(len(list_intersect(sa.grams, sb.grams)) AS DOUBLE)
        / len(list_distinct(sa.grams || sb.grams)), 6) >= {JACCARD_MIN}
),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach AS (
  WITH RECURSIVE r(a, b) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.a, e.dst FROM r JOIN edges e ON r.b = e.src WHERE e.dst <> r.a
  )
  SELECT a, b FROM r
),
labels AS (
  SELECT v.doc_id, least(v.doc_id, coalesce(min(r.b), v.doc_id)) AS keeper
  FROM (SELECT DISTINCT src AS doc_id FROM edges) v
  LEFT JOIN reach r ON r.a = v.doc_id
  GROUP BY v.doc_id
)
SELECT keeper, count(*) AS n_members,
       CAST(sum(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM labels GROUP BY keeper ORDER BY keeper
"""


QUERIES["dedup_clusters"] = (q_dedup_clusters, _SQL_CLUSTERS)


# --------------------------------------------------------------------------
def q_cluster_best_keeper(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-aware representative selection: production dedup keeps the
    BEST member of each near-dup cluster (here: longest text, ties to the
    lowest doc_id), not the arbitrary min-id. Cluster labels come from the
    star-contraction components; the representative is one row_number
    window over (cluster, quality desc) — at corpus scale this is the same
    single shuffle the clustering already pays, reusing its partitioning."""
    from pyspark.sql import Window as W

    clusters = _clustered_docs(spark, sf)  # (doc_id, keeper=cluster label)
    docs = T(spark, sf, "documents").select("doc_id", "n_chars")
    j = clusters.join(docs, "doc_id")
    w = W.partitionBy("keeper").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    best = j.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    members = j.groupBy("keeper").agg(F.count("*").alias("n_members"))
    return (
        best.select(
            F.col("keeper").alias("cluster_id"),
            F.col("doc_id").alias("best_id"),
            F.col("n_chars").alias("best_chars"),
        )
        .join(members.withColumnRenamed("keeper", "cluster_id"), "cluster_id")
        .orderBy("cluster_id")
    )


_CLUSTERS_FINAL_SELECT = """SELECT keeper, count(*) AS n_members,
       CAST(sum(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM labels GROUP BY keeper ORDER BY keeper
"""

_SQL_CLUSTER_BEST = _SQL_CLUSTERS.replace(
    _CLUSTERS_FINAL_SELECT,
    """SELECT b.cluster_id, b.doc_id AS best_id, b.n_chars AS best_chars, m.n_members
FROM (
  SELECT l.keeper AS cluster_id, d.doc_id, d.n_chars,
         row_number() OVER (PARTITION BY l.keeper ORDER BY d.n_chars DESC, d.doc_id) AS rk
  FROM labels l JOIN documents d USING (doc_id)
) b
JOIN (SELECT keeper AS cluster_id, count(*) AS n_members FROM labels GROUP BY keeper) m
  USING (cluster_id)
WHERE b.rk = 1 ORDER BY cluster_id
""",
)
assert _SQL_CLUSTER_BEST != _SQL_CLUSTERS, "final SELECT replacement did not match"

QUERIES["dedup_cluster_best"] = (q_cluster_best_keeper, _SQL_CLUSTER_BEST)
