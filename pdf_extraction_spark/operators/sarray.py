"""Suffix-array exact-substring deduplication — the full algorithm the
chunk-grain form (`operators/corpus.py::chunk_dedup_stats`, non-overlapping
10-grams) approximates. Public SOTA reference: Lee, Ippolito, Nystrom,
Zhang, Eck, Callison-Burch, Carlini, "Deduplicating Training Data Makes
Language Models Better" (ACL 2022) — their ExactSubstr dedup marks every
position covered by a substring of ≥ W tokens that occurs anywhere else in
the corpus (including elsewhere in the same document).

Semantics (exact, not approximate): a word position is DUPLICATED iff it is
covered by at least one duplicated substring of length ≥ W. That is
equivalent to: covered by at least one SLIDING W-token window whose exact
token sequence occurs at ≥ 2 distinct (doc, offset) corpus positions —
every duplicated substring of length ≥ W contains a duplicated W-window,
and every duplicated W-window is itself a duplicated substring. The oracle
checks this reduction directly in SQL; the engine computes it with
partition-local suffix arrays.

Spark plan (one Arrow stage + one keyed shuffle + one window):
1. ``mapInPandas`` batch stage: concatenate the batch's documents into one
   UTF-8 byte blob; find every token boundary with one vectorized space
   scan; group the fixed-length W-token windows by their CONTIGUOUS BYTE
   SLICES with a single hash factorize (equality of w-token windows is
   byte-slice equality, since each gram is a contiguous substring of its
   document — exact, no lossy hashing; r7 replaced the full Manber–Myers
   suffix array, which sorts far more than a fixed-W grouping needs, at
   3.8× the cost — ``suffix_array`` stays as the tested reference
   implementation). Emit ONE ROW PER DISTINCT GRAM: (md5 of the gram
   string, local occurrence count, packed occurrence list). Within-batch
   repeats — the dominant kind in boilerplate-heavy corpora — are
   compressed to a single row here.
2. groupBy gram_key WITHOUT payloads: global count = Σ local counts; the
   dup-key set then joins BACK to the class rows and only those explode
   their occurrence lists — no row ever holds more than one batch's
   occurrences of one gram, so a boilerplate line repeated 10⁹ times
   cannot concentrate into one unbounded array. Cross-batch equality
   rides the 128-bit md5 of the raw gram string (collision odds ~2⁻⁶⁴ at
   10¹² distinct grams — and md5 is what the DuckDB oracle reproduces).
3. Interval-union per document via ONE window (same-length intervals
   sorted by offset: covered_new = (off+W) − max(off, prev_max_end),
   clamped at 0) — exact duplicated-token mass, no position explosion.

Scale notes (100 TB): the shuffle carries one row per distinct gram per
batch (~key + count + one packed struct per occurrence), not one row per
corpus position with an L-token string — the naive sliding-gram explode
ships ~W× the corpus text. Hot grams (a boilerplate line repeated 10⁹
times) compress to one row per batch BEFORE the shuffle, so the count
groupBy sees at most n_batches rows per gram, and the dup-key join-back
explodes positions at per-batch grain — total exploded volume is the true
occurrence count of duplicated grams (the quantity any exact algorithm
must materialize to mark positions), never concentrated in one row. AQE
skew handling covers residual imbalance. The coverage window shuffles only
duplicated positions.

Correctness evidence: property test of the suffix array vs a pure-Python
sorted-suffixes reference + brute-force duplicated-mass reference + a
partitioning-invariance test (tests/test_sarray.py), and the full DuckDB
oracle at the per-source grain.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from pdf_extraction_spark.parallel import broadcast_within, fan_out
from pdf_extraction_spark.sources.tables import load_testdata as T

SA_WINDOW = 10  # minimum duplicated-substring length, in whitespace tokens


def suffix_array(seq: np.ndarray) -> np.ndarray:
    """Suffix array of an integer sequence (any int dtype, negatives fine)
    by Manber–Myers prefix doubling: ranks by first 2^k tokens per round,
    each round one numpy lexsort — O(n log n) work per round, O(log n)
    rounds, no Python per-element loop. Returns positions in lexicographic
    suffix order (shorter suffix sorts first on equal prefix, matching
    Python slice comparison — the property test pins this)."""
    n = len(seq)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    rank = np.unique(seq, return_inverse=True)[1].astype(np.int64)
    k = 1
    while True:
        # secondary key: rank of the suffix starting k tokens later; -1
        # (less than every real rank) for suffixes shorter than k — this is
        # exactly why shorter suffixes order first on equal prefixes
        key2 = np.full(n, -1, dtype=np.int64)
        if k < n:
            key2[: n - k] = rank[k:]
        order = np.lexsort((key2, rank))
        r1, r2 = rank[order], key2[order]
        changed = np.ones(n, dtype=bool)
        changed[1:] = (r1[1:] != r1[:-1]) | (r2[1:] != r2[:-1])
        new_rank = np.empty(n, dtype=np.int64)
        new_rank[order] = np.cumsum(changed) - 1
        rank = new_rank
        if rank[order[-1]] == n - 1:  # all ranks distinct → fully sorted
            return order
        k *= 2


def _adjacent_window_equal(seq: np.ndarray, sa: np.ndarray, w: int) -> np.ndarray:
    """For adjacent suffix-array entries, whether both suffixes start a
    full w-token window AND those windows are token-identical (the
    LCP ≥ w predicate, evaluated as one strided numpy comparison instead
    of a Python-loop Kasai pass — only the ≥ w decision is needed)."""
    n = len(seq)
    m = len(sa) - 1
    eq = np.zeros(max(m, 0), dtype=bool)
    if n < w or m <= 0:
        return eq
    valid = sa <= n - w
    ok = np.flatnonzero(valid[:-1] & valid[1:])
    if len(ok):
        win = np.lib.stride_tricks.sliding_window_view(seq, w)  # (n-w+1, w) view
        eq[ok] = (win[sa[ok]] == win[sa[ok + 1]]).all(axis=1)
    return eq


def _batch_gram_classes(doc_ids, texts, w: int) -> pd.DataFrame:
    """One batch of documents → one row per DISTINCT w-token window class:
    (gram_key=md5 hex of the gram string, n_local, occ_d=[doc...],
    occ_o=[off...] parallel occurrence arrays).

    r7 optimization (guide §4.2 — vectorize the per-task work): the class
    grouping no longer builds a full suffix array. Equality of FIXED-length
    w-token windows only needs grouping by window CONTENT, and because every
    gram is a contiguous substring of its document, its UTF-8 bytes are a
    contiguous SLICE of the document's encoded bytes — so the batch is
    concatenated once, token boundaries come from one vectorized space scan
    (0x20 never occurs inside a multi-byte UTF-8 sequence), each valid
    window is one byte-slice, and classes fall out of a single hash
    factorize over those slices. md5(gram bytes) is unchanged — the slice
    IS utf8(" ".join(tokens)) — so cross-batch keys, the shuffle contract
    and the DuckDB oracle are untouched. Measured on the sf1.0 corpus
    (2M-token batch): 19.0 s → 5.0 s with byte-identical classes; the
    property tests pin equality with the suffix-array reference
    (tests/test_sarray.py::test_batch_classes_match_suffix_array_reference).

    Interpreted Python touches only O(docs) (encode loop), O(valid
    positions) slice creation (C-level bytes slicing), and one md5 per
    distinct gram (irreducible: the oracle replays it per gram string).
    "" encodes to one empty token; None/NaN → no tokens — exactly the
    split(" ") semantics of the previous suffix-array form.
    """
    n_docs = len(texts)
    empty = pd.DataFrame(
        {
            "gram_key": pd.Series([], dtype="object"),
            "n_local": pd.Series([], dtype="int64"),
            "occ_d": pd.Series([], dtype="object"),
            "occ_o": pd.Series([], dtype="object"),
        }
    )
    if n_docs == 0:
        return empty
    parts = []
    is_str = np.zeros(n_docs, dtype=bool)
    for i, t in enumerate(texts):
        if isinstance(t, str):
            parts.append(t.encode("utf-8"))
            is_str[i] = True
        else:
            parts.append(b"")
    blob = b"\x00".join(parts)  # 1-byte doc separator keeps end arithmetic
    # uniform; doc boundaries ride doc_start/doc_len, never the separator
    buf = np.frombuffer(blob, dtype=np.uint8)
    doc_len = np.fromiter((len(p) for p in parts), dtype=np.int64, count=n_docs)
    doc_start = np.concatenate(([0], np.cumsum(doc_len + 1)[:-1]))
    sp = np.flatnonzero(buf == 0x20)  # every token boundary in one pass
    sp_doc = np.searchsorted(doc_start, sp, side="right") - 1
    n_spaces = np.bincount(sp_doc, minlength=n_docs)
    n_tok = np.where(is_str, n_spaces + 1, 0)
    # flat token-start table, one sentinel start per non-null doc so that
    # end(tok j) == start(j+1) - 1 holds for the last token too
    seg = n_tok + is_str.astype(np.int64)
    base = np.concatenate(([0], np.cumsum(seg)[:-1]))
    starts = np.empty(int(seg.sum()), dtype=np.int64)
    starts[base[is_str]] = doc_start[is_str]
    sp_base = np.concatenate(([0], np.cumsum(n_spaces)[:-1]))
    rank_in_doc = np.arange(len(sp), dtype=np.int64) - sp_base[sp_doc]
    starts[base[sp_doc] + 1 + rank_in_doc] = sp + 1
    starts[(base + n_tok)[is_str]] = (doc_start + doc_len + 1)[is_str]
    # valid window starts: off + w <= n_tok
    v = np.maximum(n_tok - (w - 1), 0)
    nv = int(v.sum())
    if nv == 0:
        return empty
    vdoc = np.repeat(np.arange(n_docs, dtype=np.int64), v)
    voff = np.arange(nv, dtype=np.int64) - np.repeat(np.cumsum(v) - v, v)
    vidx = base[vdoc] + voff
    gs = starts[vidx]
    ge = starts[vidx + w] - 1
    grams = np.empty(nv, dtype=object)
    grams[:] = [blob[s:e] for s, e in zip(gs.tolist(), ge.tolist())]
    codes, uniq = pd.factorize(grams, sort=False)
    n_local = np.bincount(codes)
    order = np.argsort(codes, kind="stable")
    occ_doc = np.asarray(doc_ids, dtype=np.int64)[vdoc[order]]
    occ_off = voff[order].astype(np.int32)
    bounds = np.cumsum(n_local)
    lo = np.concatenate(([0], bounds[:-1]))
    # occurrence lists as numpy slice VIEWS at class grain — no
    # per-occurrence Python objects ever materialize
    occ_d = [occ_doc[s:e] for s, e in zip(lo, bounds)]
    occ_o = [occ_off[s:e] for s, e in zip(lo, bounds)]
    out_key = [hashlib.md5(g).hexdigest() for g in uniq]
    return pd.DataFrame(
        {
            "gram_key": pd.Series(out_key, dtype="object"),
            "n_local": pd.Series(n_local, dtype="int64"),
            "occ_d": pd.Series(occ_d, dtype="object"),
            "occ_o": pd.Series(occ_o, dtype="object"),
        }
    )


_CLASS_SCHEMA = "gram_key string, n_local int, occ_d array<bigint>, occ_o array<int>"


# suffix-array granularity: tokens accumulated per SA build (trades
# per-group compression against worker working-set)
SA_BATCH_TOKENS = 2_000_000


def gram_classes(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    window: int = SA_WINDOW,
) -> DataFrame:
    """Distinct-gram class rows (gram_key, n_local, occ_d, occ_o) from the
    partition-local suffix-array stage — the shared base of the dedup-mass
    query and the boilerplate report. Lazily checkpointed: every caller
    consumes it at least twice (count + join-back), the first consumer
    fills it and the rest read the same rows.

    Incoming Arrow batches (session maxRecordsPerBatch, 1024 rows) are
    ACCUMULATED up to ``SA_BATCH_TOKENS`` tokens before each suffix-array
    build: within-group repeats compress to one class row BEFORE the
    shuffle, and at 1024-row granularity a boilerplate line shared by 10³
    documents almost never co-occurs in a batch (measured: compression
    1.005 at the 1M-doc stress), while at ~2M-token granularity (~30k
    docs) the hot grams collapse group-wide. The suffix array over 2M
    int64 tokens is a few lexsort rounds (~1 s, ~50 MB working set) —
    far below executor memory; results are batching-invariant (pinned by
    tests/test_sarray.py's partitioning-invariance cases)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf: list = []
        buf_tokens = 0
        for pdf in batches:
            buf.append(pdf)
            # tokens ≈ spaces + 1 per non-null doc (vectorized estimate)
            buf_tokens += int(pdf[text_col].str.count(" ").fillna(0).sum()) + len(pdf)
            if buf_tokens >= SA_BATCH_TOKENS:
                g = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
                yield _batch_gram_classes(g[id_col].values, g[text_col].values, window)
                buf, buf_tokens = [], 0
        if buf:
            g = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
            yield _batch_gram_classes(g[id_col].values, g[text_col].values, window)

    # r7: widen the narrow single-file scan to the session's parallelism
    # before the Arrow stage (guide §2.2/§6.1 — the testdata tables are
    # one-row-group files, so without this the whole gram stage runs as
    # 1-2 tasks); no-op when the input is already parallel. Results are
    # batching-invariant (pinned by the partitioning-invariance tests).
    return (
        fan_out(docs.select(id_col, text_col), id_col)
        .mapInPandas(gen, _CLASS_SCHEMA)
        .localCheckpoint(eager=False)
    )


def _duplicated_starts(classes: DataFrame, dup_keys: DataFrame, id_col: str) -> DataFrame:
    """(id, off) of every occurrence of the ``dup_keys`` grams: the class
    rows joined back on gram_key, their per-batch occurrence arrays
    exploded."""
    return (
        classes.join(dup_keys, "gram_key")
        .select(F.explode(F.arrays_zip("occ_d", "occ_o")).alias("oc"))
        .select(F.col("oc.occ_d").alias(id_col), F.col("oc.occ_o").alias("off"))
    )


def exact_substring_starts(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    window: int = SA_WINDOW,
) -> DataFrame:
    """(doc_id, off) start offsets of every w-token window whose token
    sequence occurs at ≥ 2 corpus positions. One Arrow suffix-array stage +
    one groupBy on the gram key."""
    classes = gram_classes(docs, id_col, text_col, window)
    # count first WITHOUT the occurrence payloads, then join the dup-key set
    # back and explode per-batch occ arrays. A collect_list over them would
    # concentrate EVERY occurrence of a hot gram (a boilerplate line
    # repeated 10⁹ times) into one unbounded row; this shape keeps every
    # row ≤ one batch's occurrences and lets AQE spread hot keys.
    dup_keys = (
        classes.groupBy("gram_key")
        .agg(F.sum("n_local").alias("n_global"))
        .filter(F.col("n_global") >= 2)
        .select("gram_key")
    )
    return _duplicated_starts(classes, dup_keys, id_col)


def _coverage_mass(starts: DataFrame, id_col: str, window: int) -> DataFrame:
    """(id, dup_words) interval-union mass from duplicated-window start
    offsets. Same-length intervals sorted by start have monotone ends, so
    the union is one running-max window: gain = (off+W) − max(off,
    prev_max_end), clamped at 0. Shared by the batch and the incremental
    pipelines so the coverage semantics cannot drift between them."""
    win = W.partitionBy(id_col).orderBy("off").rowsBetween(W.unboundedPreceding, -1)
    prev_end = F.max(F.col("off") + window).over(win)
    gain = (F.col("off") + window) - F.greatest(
        F.col("off"), F.coalesce(prev_end, F.col("off"))
    )
    return (
        starts.withColumn("gain", F.greatest(gain, F.lit(0)))
        .groupBy(id_col)
        .agg(F.sum("gain").alias("dup_words"))
    )


def duplicated_token_mass(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    window: int = SA_WINDOW,
) -> DataFrame:
    """Per-document exact duplicated-token mass: (id, dup_words) = size of
    the union of all duplicated ≥ W-token spans."""
    return _coverage_mass(
        exact_substring_starts(docs, id_col, text_col, window), id_col, window
    )


def q_suffix_array_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source duplicated-span mass under exact-substring (suffix-array)
    dedup: total words, words covered by a duplicated ≥ 10-token substring,
    and the duplicated fraction."""
    docs = T(spark, sf, "documents")
    per_doc = duplicated_token_mass(docs)
    base = docs.select(
        "doc_id", "source", F.size(F.split(F.col("text"), " ")).alias("n_words")
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.sum("n_words").alias("n_words"),
            F.sum(F.coalesce("dup_words", F.lit(0))).cast("bigint").alias("n_dup_words"),
            F.round(
                F.sum(F.coalesce("dup_words", F.lit(0)))
                / F.sum("n_words"),
                6,
            ).alias("dup_frac"),
        )
        .orderBy("source")
    )


_SQL_SA_DEDUP = f"""
WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM documents),
p AS (
  SELECT doc_id, s.i AS off,
         array_to_string(words[s.i + 1 : s.i + {SA_WINDOW}], ' ') AS gram
  FROM w, LATERAL unnest(generate_series(0, len(words) - {SA_WINDOW})) AS s(i)
),
g AS (SELECT gram FROM p GROUP BY gram HAVING count(*) >= 2),
d AS (SELECT p.doc_id, p.off FROM p JOIN g USING (gram)),
cov AS (
  SELECT doc_id, off,
         greatest(off + {SA_WINDOW} - greatest(off, coalesce(
           max(off + {SA_WINDOW}) OVER (
             PARTITION BY doc_id ORDER BY off
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), off)), 0) AS gain
  FROM d
),
pd AS (SELECT doc_id, sum(gain) AS dup_words FROM cov GROUP BY doc_id)
SELECT w.source,
       CAST(sum(len(w.words)) AS BIGINT) AS n_words,
       CAST(sum(coalesce(pd.dup_words, 0)) AS BIGINT) AS n_dup_words,
       round(CAST(sum(coalesce(pd.dup_words, 0)) AS DOUBLE) / sum(len(w.words)), 6) AS dup_frac
FROM w LEFT JOIN pd USING (doc_id)
GROUP BY w.source ORDER BY w.source
"""


# --------------------------------------------------------------------------
# INCREMENTAL exact-substring dedup — the `incremental_minhash_pairs`
# pattern applied to the gram-class rows: the persistent state an
# append-only pipeline maintains between batches is the per-gram global
# count index (gram_key, n_old) — one row per distinct gram ever seen,
# pre-aggregated, bucketed by gram_key at deployment scale. A new batch
# pays ONLY its own suffix-array stage + one keyed join of its distinct
# gram keys against the index: per-batch shuffle O(|new batch grams| +
# matched index rows), never O(|corpus|). The one thing the delta can't do
# is UPDATE old documents whose content a new batch re-duplicates (their
# mass grows); that retraction-free contract is the same append-only-index
# tradeoff `incremental_minhash_pairs` documents — reconciled by a
# periodic batch recompute, while the delta keeps admission decisions for
# NEW data exact and cheap.


def build_gram_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    window: int = SA_WINDOW,
) -> DataFrame:
    """(gram_key, n_old) persistent gram-count index over an already-
    ingested corpus: the suffix-array Arrow stage + ONE count groupBy —
    md5 keys only through the shuffle, occurrence payloads dropped.
    Append-mergeable: a batch appends its own (gram_key, n) rows and
    compaction re-sums — counts are associative."""
    counts = (
        gram_classes(docs, id_col, text_col, window)
        .groupBy("gram_key")
        .agg(F.sum("n_local").alias("n_old"))
    )
    # MATERIALIZE the index and cut its lineage — the in-session stand-in
    # for the persisted index TABLE a deployment reads. Not an
    # optimization: when old and new docs are filters of the same source,
    # the analyzer de-duplicates the self-join by re-aliasing one branch,
    # and Spark's cache substitution MISSES for the re-aliased branch
    # (verified on 4.1: the persisted index plan is silently recomputed
    # from the full corpus inside every delta join — O(corpus) per batch,
    # exactly what this module promises not to pay). localCheckpoint
    # breaks the shared lineage so the delta join reads materialized
    # rows, like the table read it models.
    return counts.localCheckpoint(eager=True)


# one md5-hex gram_key row as a hash relation (the broadcast_within
# convention: 32 per row + 8 for the column + 32 UTF-8 bytes)
_KEY_ROW_BYTES = 72


def incremental_duplicated_mass(
    index_counts: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = SA_WINDOW,
    new_classes: DataFrame | None = None,
) -> DataFrame:
    """Exact duplicated-token mass for the NEW batch against (old corpus ∪
    new batch), from the persisted index alone: a new-doc window is
    duplicated iff its gram's global count n_new + n_old ≥ 2 — which
    covers within-batch repeats (n_new ≥ 2) and old-corpus matches
    (n_old ≥ 1) exactly as the batch recompute would. Equality with the
    batch form restricted to new docs is pinned in tests/test_sarray.py.

    ``new_classes``: optionally pass the batch's gram_classes frame when
    the caller also consumes it (plans/incremental.append_batch derives
    the index adds from the same rows) — sharing the literal DataFrame
    shares its one checkpoint, so the Arrow stage runs ONCE (a second
    ``gram_classes`` call would be a second checkpoint)."""
    if new_classes is None:
        new_classes = gram_classes(new_docs, id_col, text_col, window)
    new_counts = new_classes.groupBy("gram_key").agg(F.sum("n_local").alias("n_new"))
    # A gram qualifies iff n_new + n_old ≥ 2 ⟺ n_new ≥ 2 (within-batch
    # repeat, no index contact needed) OR n_new == 1 AND the gram exists
    # in the index (n_old ≥ 1 for every index row). Splitting the
    # disjunction lets the index lookup be an INNER join with the O(new)
    # key set BROADCAST: the index side is streamed map-side — never
    # shuffled, never sorted — so per-batch index cost is one scan with
    # no exchange (and on a deployment's gram_key-bucketed index table,
    # a bucket-pruned scan). A left-join formulation instead shuffles
    # the WHOLE index per batch: broadcast-left-outer isn't a supported
    # build shape, so Spark falls back to a sort-merge join.
    within = new_counts.filter(F.col("n_new") >= 2).select("gram_key")
    single = new_counts.filter(F.col("n_new") == 1).select("gram_key")
    # The broadcast is only sound while the SINGLE-occurrence key set is
    # batch-sized: a bulk load (a 500k-doc initial batch carries ~20M
    # distinct grams, >1 GB serialized) OOMs the driver-side broadcast
    # build (observed at the 500k ingest stress). Counting `single` costs
    # one batch-bounded partial-agg job over the checkpointed class rows;
    # above the broadcast budget the lookup degrades to a shuffled join —
    # one extra exchange, still exact. The empty-index bulk-load case (the
    # ingest plan's first append) skips the lookup entirely: nothing can match.
    n_single = single.count()
    if n_single == 0 or index_counts.isEmpty():
        matched = single.limit(0)
    else:
        lookup = broadcast_within(single, n_single * _KEY_ROW_BYTES)
        # distinct: the index may hold MULTIPLE rows per gram — the
        # append-only ingest (plans/incremental.py) appends one
        # pre-aggregated row per gram PER BATCH and compacts periodically,
        # so between compactions a hot gram matches several index rows;
        # without the distinct each extra row would duplicate the gram's
        # occurrence explosion downstream. Costs one O(|new dup keys|)
        # shuffle — batch-bounded.
        matched = (index_counts.join(lookup, "gram_key", "inner")
                   .select("gram_key").distinct())
    dup_keys = (
        within.unionByName(matched)  # disjoint by construction
        # O(|new-batch duplicated grams|) rows, materialized once: the
        # count below reads it and the coverage join reuses it.
        .localCheckpoint(eager=True)
    )
    # The same batch-sized-only discipline applies to the join-back: Spark
    # auto-broadcasts the materialized dup_keys when its byte size clears
    # the threshold, and on a BULK LOAD dup_keys is corpus-scale (~10M md5
    # rows at the 500k stress — the third driver-heap broadcast OOM that
    # run surfaced). The checkpoint is eager, so counting it is free;
    # broadcast explicitly when delta-sized, force the shuffle otherwise.
    join_keys = broadcast_within(dup_keys, dup_keys.count() * _KEY_ROW_BYTES)
    return _coverage_mass(_duplicated_starts(new_classes, join_keys, id_col), id_col, window)


def q_incremental_exact_substring(spark: SparkSession, sf: str) -> DataFrame:
    """Driver query: docs with doc_id % 10 == 0 are 'the new batch', the
    rest the already-indexed corpus (the `dedup_incremental_lsh` split).
    Per new doc: total words and exact duplicated-token mass vs the full
    corpus, computed through the incremental index path. Oracle = the
    batch sliding-window SQL over ALL documents, restricted to new docs.

    BENCH NOTE: like `dedup_incremental_lsh`, the recorded time includes
    building the old-corpus index in-query (needed for a self-contained
    oracle); a deployment reads the persisted (gram_key, n_old) table and
    pays only the new-batch stage + keyed join."""
    docs = T(spark, sf, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    index = build_gram_index(old)
    mass = incremental_duplicated_mass(index, new)
    return (
        new.select("doc_id", F.size(F.split(F.col("text"), " ")).alias("n_words"))
        .join(mass, "doc_id", "left")
        .select(
            "doc_id", "n_words",
            F.coalesce("dup_words", F.lit(0)).cast("bigint").alias("dup_words"),
        )
        .orderBy("doc_id")
    )


_SQL_INCREMENTAL_SA = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
p AS (
  SELECT doc_id, s.i AS off,
         array_to_string(words[s.i + 1 : s.i + {SA_WINDOW}], ' ') AS gram
  FROM w, LATERAL unnest(generate_series(0, len(words) - {SA_WINDOW})) AS s(i)
),
g AS (SELECT gram FROM p GROUP BY gram HAVING count(*) >= 2),
d AS (SELECT p.doc_id, p.off FROM p JOIN g USING (gram) WHERE p.doc_id % 10 = 0),
cov AS (
  SELECT doc_id, off,
         greatest(off + {SA_WINDOW} - greatest(off, coalesce(
           max(off + {SA_WINDOW}) OVER (
             PARTITION BY doc_id ORDER BY off
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), off)), 0) AS gain
  FROM d
),
pd AS (SELECT doc_id, sum(gain) AS dup_words FROM cov GROUP BY doc_id)
SELECT w.doc_id, CAST(len(w.words) AS INTEGER) AS n_words,
       CAST(coalesce(pd.dup_words, 0) AS BIGINT) AS dup_words
FROM w LEFT JOIN pd USING (doc_id)
WHERE w.doc_id % 10 = 0
ORDER BY w.doc_id
"""


TOP_GRAMS = 10


def q_top_duplicated_grams(spark: SparkSession, sf: str) -> DataFrame:
    """Boilerplate report: the TOP_GRAMS most-repeated 10-token windows
    corpus-wide, with occurrence counts and the reconstructed text — the
    headline artifact of an exact-substring dedup analysis (Lee et al.
    2022 report exactly these). The gram text is NOT shipped through the
    shuffle: counting rides the md5 keys; only the winning keys join back
    to one minimal (doc, offset) occurrence each, and the text is
    re-sliced from the source document — at 100 TB the report costs the
    count groupBy plus a TOP_GRAMS-row join, never a corpus of gram
    strings in flight. Ties in count break on gram_key (deterministic)."""
    docs = T(spark, sf, "documents")
    classes = gram_classes(docs)
    top = (
        classes.groupBy("gram_key")
        .agg(F.sum("n_local").alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= 2)
        .orderBy(F.desc("n_occurrences"), F.asc("gram_key"))
        .limit(TOP_GRAMS)
    )
    first_occ = (
        classes.join(F.broadcast(top.select("gram_key")), "gram_key")
        .select("gram_key", F.explode(F.arrays_zip("occ_d", "occ_o")).alias("oc"))
        .groupBy("gram_key")
        .agg(F.min(F.struct(F.col("oc.occ_d").alias("d"), F.col("oc.occ_o").alias("o"))).alias("fo"))
    )
    gram_text = F.array_join(
        F.slice(F.split(F.col("text"), " "), F.col("fo.o") + 1, SA_WINDOW), " "
    )
    return (
        top.join(first_occ, "gram_key")
        .join(docs.select(F.col("doc_id").alias("_d"), "text"),
              F.col("fo.d") == F.col("_d"))
        .select("gram_key", "n_occurrences", gram_text.alias("gram"))
        .orderBy(F.desc("n_occurrences"), F.asc("gram_key"))
    )


_SQL_TOP_GRAMS = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
p AS (
  SELECT doc_id, s.i AS off,
         array_to_string(words[s.i + 1 : s.i + {SA_WINDOW}], ' ') AS gram
  FROM w, LATERAL unnest(generate_series(0, len(words) - {SA_WINDOW})) AS s(i)
),
g AS (SELECT gram, md5(gram) AS gram_key, count(*) AS n_occurrences
      FROM p GROUP BY gram HAVING count(*) >= 2)
SELECT gram_key, n_occurrences, gram
FROM g ORDER BY n_occurrences DESC, gram_key LIMIT {TOP_GRAMS}
"""


QUERIES = {
    "suffix_array_dedup": (q_suffix_array_dedup, _SQL_SA_DEDUP),
    "top_duplicated_grams": (q_top_duplicated_grams, _SQL_TOP_GRAMS),
    "incremental_exact_substring": (q_incremental_exact_substring, _SQL_INCREMENTAL_SA),
}
