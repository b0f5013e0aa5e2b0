"""Append-only corpus ingest over PERSISTED index tables — the deployment
flow the incremental operators' BENCH NOTEs reference (their driver
queries rebuild the old-corpus index in-query for a self-contained
oracle; this module is the table-backed form where per-batch cost is
genuinely O(|new| + matched index rows)).

Warehouse layout (all through the TableIO seam — parquet fallback here,
Iceberg tables with ``bucket(n, gram_key)`` partitioning on a cluster).
Every table is partitioned by batch_id so existence probes and the
end-of-append summary are partition-pruned reads of ONE directory, never
a table scan:

- ``corpus``     : (batch_id, doc_id, text) — accepted documents.
- ``gram_index`` : (batch_id, gram_key, n_old) — exact-substring gram
  counts, ONE pre-aggregated row per distinct gram PER BATCH. Appends
  are O(|new batch|); counts are associative, so readers treat multiple
  rows per gram as partial sums and ``compact_gram_index`` periodically
  re-sums to one row per gram (the compaction contract
  ``operators/sarray.build_gram_index`` documents).
- ``doc_hashes`` : (batch_id, doc_id, h) — md5 identity of every ADMITTED
  document (admission mode only): the exact-duplicate membership store,
  ~36 bytes/doc. On a deployment this table is bucketed by ``h`` so the
  exact candidate check below is a bucket-local join, not a table
  shuffle.
- ``bloom``      : (batch_id, word_idx, bits) — the Bloom dedup prefilter
  AS A TABLE of 32-bit words (``operators/dedup`` q_bloom_prefilter's
  representation), one partial filter per batch. bit_or is associative,
  so readers OR-merge the per-batch rows exactly like gram_index readers
  sum partial counts; ``rebuild_bloom`` is the compaction/resize
  analogue of ``compact_gram_index``.
- ``bloom_meta`` : 1 row (m_bits) — the filter size every batch's probe
  arithmetic MUST share (bit positions are ``hash % m_bits``; OR-merging
  filters of different sizes would be meaningless).
- ``dup_report`` : (batch_id, doc_id, n_words, dup_words) — the batch's
  exact duplicated-token mass vs (indexed corpus ∪ batch), written LAST.

Crash-resume contract (any crash point, DURING or between writes): every
per-batch write uses dynamic partition OVERWRITE of the batch's own
partition, so a partial task-commit left by a crash is REPLACED whole on
resume — never skipped, never double-counted. Batch completion is
certified by a driver-written marker file (``_markers/<batch_id>.done``,
created atomically AFTER the final table write; the parquet analogue of
an Iceberg snapshot commit — on Iceberg the marker is the snapshot
itself). Every recomputation on resume reads the store EXCLUDING the
batch's own partitions, so the replay is a pure function of
(pre-batch store state, batch input) and any resume converges on the
byte-identical final state — pinned by tests/test_incremental_ingest.py
including a crash DURING the dup_report write (partial partition).
Retraction-free contract: an already-ingested document's dup mass is
never updated by later batches (`operators/sarray.py` line ~384
documents the tradeoff and the periodic batch recompute that reconciles
it).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import Window as W

from pdf_extraction_spark.operators.dedup import (
    _BLOOM_WORD,
    BLOOM_BITS_PER_KEY,
    bloom_all_hit,
    bloom_words,
)
from pdf_extraction_spark.operators.sarray import (
    SA_WINDOW,
    gram_classes,
    incremental_duplicated_mass,
)
from pdf_extraction_spark.sources.tables import TableIO

_INDEX_SCHEMA = "batch_id string, gram_key string, n_old bigint"

# First-batch filter sizing: m = BLOOM_BITS_PER_KEY · n_first · HEADROOM
# bits, floor BLOOM_MIN_BITS — headroom keeps the classic m/n=16 (FP
# ≈0.2%) holding until the store reaches HEADROOM× the first batch, after
# which `rebuild_bloom` resizes from the true corpus count.
BLOOM_HEADROOM = 8
BLOOM_MIN_BITS = 1 << 14


def _marker_path(io: TableIO, batch_id: str) -> str:
    return os.path.join(io.root, "_markers", f"{batch_id}.done")


def _is_done(io: TableIO, batch_id: str) -> bool:
    """Batch completion probe: O(1) file stat, not a table read. Row
    presence in dup_report is NOT completion evidence — a crash DURING
    that write leaves a partial partition whose rows would fool a
    row-probe into skipping the batch forever (the r5 review finding)."""
    return os.path.exists(_marker_path(io, batch_id))


def _mark_done(io: TableIO, batch_id: str) -> None:
    """Atomic completion marker: temp-file + rename, created only after
    every table write for the batch has returned."""
    p = _marker_path(io, batch_id)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        f.write("")
    os.replace(tmp, p)


def _not_this_batch(df: DataFrame, batch_id: str) -> DataFrame:
    """Exclude the batch's OWN partition from a store read: a resume after
    a crash that already wrote this batch's rows must replay against the
    pre-batch store, or novel docs gain phantom dup mass / every admitted
    doc matches its own hash. No-op on a clean run, partition-pruned
    either way. cast('string') pins the comparison against partition-
    column type inference on numeric-looking ids."""
    return df.filter(F.col("batch_id").cast("string") != batch_id)


def _bloom_filter_words(io: TableIO, batch_id: str) -> DataFrame | None:
    """OR-merged filter words from every prior batch's partial filter
    (bit_or is associative — the gram_index partial-sum contract)."""
    if not io.exists("bloom"):
        return None
    return (
        _not_this_batch(io.read("bloom"), batch_id)
        .groupBy("word_idx")
        .agg(F.bit_or("bits").alias("bits"))
    )


_REBUILT_STAMP_RE = r"^__rebuilt_m(\d+)__$"


def _bloom_meta(io: TableIO, n_batch: int) -> int:
    """Read (or create, first admission batch) the shared filter size.

    r7 ADVICE fix (atomicity): ``rebuild_bloom`` stamps the new m_bits INTO
    the rebuilt partition's batch_id (``__rebuilt_m<bits>__``), so the bit
    geometry travels atomically with the filter words in ONE staged swap.
    A crash between that swap and the bloom_meta overwrite previously left
    words built at the new m_bits while probes read the old m_bits —
    misaligned bit positions ⇒ silent FALSE NEGATIVES (store duplicates
    admitted). Now the stamp is authoritative: on mismatch (or missing
    meta) the meta row is re-derived from the stamp and the probe geometry
    always matches the words it probes."""
    import re

    stamp: int | None = None
    if io.exists("bloom"):
        for r in io.read("bloom").select("batch_id").distinct().collect():
            m = re.match(_REBUILT_STAMP_RE, str(r["batch_id"]))
            if m:
                stamp = int(m.group(1))
                break
    meta: int | None = None
    if io.exists("bloom_meta"):
        meta = int(io.read("bloom_meta").collect()[0]["m_bits"])
    if stamp is not None and stamp != meta:
        io.write(
            io.frame([(stamp,)], "m_bits bigint"),
            "bloom_meta", mode="overwrite",
        )
        return stamp
    if meta is not None:
        return meta
    m_bits = max(BLOOM_MIN_BITS, BLOOM_BITS_PER_KEY * n_batch * BLOOM_HEADROOM)
    io.write(
        io.frame([(m_bits,)], "m_bits bigint"),
        "bloom_meta", mode="overwrite",
    )
    return m_bits


def _admit(
    io: TableIO, new_docs: DataFrame, batch_id: str
) -> tuple[DataFrame, dict]:
    """Admission gate: exact-duplicate documents (by md5(text)) are
    rejected against BOTH the batch itself (keep-first by doc_id) and the
    already-ingested store. The store check runs the Bloom prefilter
    FIRST: only documents whose k filter probes ALL hit become candidates
    for the exact hash anti-join — the filter's no-false-negative
    guarantee means non-candidates are admitted with zero join work, so
    the exact check's probe side is |candidates| ≈ |true dups| + 0.2%·|batch|,
    not |batch|. Returns (admitted docs with h, admission counts)."""
    hashed = new_docs.select("doc_id", "text", F.md5("text").alias("h"))
    rk = F.row_number().over(W.partitionBy("h").orderBy("doc_id"))
    uniq = hashed.withColumn("is_batch_dup", rk > 1).localCheckpoint(eager=False)
    n_in, n_batch_dups = uniq.agg(
        F.count("*"), F.sum(F.col("is_batch_dup").cast("bigint"))
    ).collect()[0]
    n_batch_dups = int(n_batch_dups or 0)
    batch_unique = uniq.filter(~F.col("is_batch_dup")).drop("is_batch_dup")

    m_bits = _bloom_meta(io, int(n_in))
    filt = _bloom_filter_words(io, batch_id)
    if filt is None:
        # first batch: no store yet — every unique doc is admitted
        candidates = batch_unique.limit(0)
        n_candidates = 0
    else:
        # store-sized word table: ≤ m_bits/32 (word_idx, bits) rows of 48 B
        hit_docs = (
            bloom_all_hit(batch_unique.select("doc_id", "h"), filt, m_bits,
                          n_bytes=m_bits // _BLOOM_WORD * 48)
            .filter(F.col("all_hit") == 1)
            .drop("all_hit")
        )
        candidates = batch_unique.join(hit_docs, ["doc_id", "h"]).localCheckpoint(eager=False)
        n_candidates = candidates.count()

    if n_candidates > 0 and io.exists("doc_hashes"):
        # exact check over CANDIDATES ONLY — on a deployment doc_hashes is
        # bucketed by h, making this a bucket-local probe of the matched
        # buckets rather than a store-wide shuffle
        store_h = _not_this_batch(io.read("doc_hashes"), batch_id).select("h")
        store_dups = candidates.join(store_h, "h", "left_semi").select("doc_id")
        admitted = batch_unique.join(store_dups, "doc_id", "left_anti")
        n_store_dups = store_dups.count()
    else:
        admitted = batch_unique
        n_store_dups = 0

    counts = {
        "n_in": int(n_in),
        "n_batch_dups": n_batch_dups,
        "n_bloom_candidates": int(n_candidates),
        "n_store_dups": int(n_store_dups),
        "n_admitted": int(n_in) - n_batch_dups - int(n_store_dups),
        "bloom_m_bits": m_bits,
    }
    return admitted, counts


def append_batch(
    spark: SparkSession,
    root: str,
    new_docs: DataFrame,
    batch_id: str,
    window: int = SA_WINDOW,
    admit_unique: bool = False,
) -> dict:
    """Ingest one batch: compute its exact duplicated-token mass against
    (indexed corpus ∪ batch) from the gram_index table alone, then write
    the batch's documents, gram counts, and report. Returns a summary.

    ``admit_unique=True`` runs the Bloom-prefiltered exact-dedup
    admission gate first (see ``_admit``): only novel documents reach the
    corpus/gram/report tables, and the batch additionally appends its
    ``doc_hashes`` and partial ``bloom`` filter rows. The mode is a
    per-warehouse choice — admission reads the hash/filter tables that
    only admission-mode batches write.

    Every write OVERWRITES the batch's own partition (dynamic partition
    overwrite), so re-running after a crash at ANY point — including
    mid-write partial task commits — replaces partial state instead of
    skipping or doubling it; the completion marker written last makes a
    finished batch a pure O(1) no-op."""
    io = TableIO(spark, root)
    if _is_done(io, batch_id):
        return {"batch_id": batch_id, "skipped": True}

    counts: dict = {}
    if admit_unique:
        docs, counts = _admit(io, new_docs, batch_id)
        docs = docs.localCheckpoint(eager=False)
    else:
        docs = new_docs

    if io.exists("gram_index"):
        index = _not_this_batch(io.read("gram_index"), batch_id).select(
            "gram_key", "n_old"
        )
    else:
        index = spark.createDataFrame([], _INDEX_SCHEMA).select("gram_key", "n_old")

    # ONE gram stage for the whole ingest: the same class rows feed the
    # delta mass AND the index adds (passing the frame down shares its one
    # checkpoint; a second gram_classes call would run the stage again).
    cls = gram_classes(docs.select("doc_id", "text"), window=window)
    mass = incremental_duplicated_mass(
        index, docs.select("doc_id", "text"), window=window, new_classes=cls
    )
    # shuffle_hash: never broadcast the mass side — on a BULK LOAD it is
    # corpus-sized, and even batch-sized it drags the whole coverage
    # lineage into a driver-side broadcast build that competes with the
    # checkpointed gram stage for the same heap (observed OOM at the 500k
    # ingest stress). A doc_id-keyed shuffle between two batch-sized
    # relations is cheap and its memory use is bounded per task.
    report = (
        docs.select("doc_id", F.size(F.split(F.col("text"), " ")).alias("n_words"))
        .join(mass.hint("shuffle_hash"), "doc_id", "left")
        .select(
            F.lit(batch_id).alias("batch_id"),
            "doc_id",
            "n_words",
            F.coalesce("dup_words", F.lit(0)).cast("bigint").alias("dup_words"),
        )
    )

    io.write(
        docs.select(F.lit(batch_id).alias("batch_id"), "doc_id", "text"),
        "corpus", mode="overwrite_partitions", partition_by=["batch_id"],
    )
    adds = (
        cls.groupBy("gram_key")
        .agg(F.sum("n_local").alias("n_old"))
        .select(F.lit(batch_id).alias("batch_id"), "gram_key", "n_old")
    )
    io.write(adds, "gram_index", mode="overwrite_partitions",
             partition_by=["batch_id"])
    if admit_unique:
        io.write(
            docs.select(F.lit(batch_id).alias("batch_id"), "doc_id", "h"),
            "doc_hashes", mode="overwrite_partitions", partition_by=["batch_id"],
        )
        part_filter = bloom_words(docs.select("h"), counts["bloom_m_bits"]).select(
            F.lit(batch_id).alias("batch_id"), "word_idx", "bits"
        )
        io.write(part_filter, "bloom", mode="overwrite_partitions",
                 partition_by=["batch_id"])
    io.write(report, "dup_report", mode="overwrite_partitions",
             partition_by=["batch_id"])
    _mark_done(io, batch_id)

    # summarize from the WRITTEN table (partition-pruned to this batch):
    # aggregating the `report` plan would re-execute the entire coverage
    # computation a second time — the write is the only full pass.
    stats = (
        io.read("dup_report")
        .filter(F.col("batch_id").cast("string") == batch_id)
        .agg(F.count("*").alias("n_docs"), F.sum("dup_words").alias("dup_words"))
        .collect()[0]
    )
    out = {
        "batch_id": batch_id,
        "skipped": False,
        "n_docs": int(stats["n_docs"]),
        "dup_words": int(stats["dup_words"] or 0),
    }
    out.update(counts)
    return out


def compact_gram_index(spark: SparkSession, root: str) -> dict:
    """Re-sum the gram_index to one row per gram (batch_id collapses to
    the marker '__compacted__'). Counts are associative, so delta results
    are identical before and after (pinned in tests); the rewrite is
    verified against total-count preservation BEFORE the swap."""
    io = TableIO(spark, root)
    before = io.read("gram_index")
    total = before.agg(F.sum("n_old")).collect()[0][0] or 0
    compacted = (
        before.groupBy("gram_key")
        .agg(F.sum("n_old").alias("n_old"))
        .select(F.lit("__compacted__").alias("batch_id"), "gram_key", "n_old")
    )

    def verify(staged: DataFrame) -> None:
        got = staged.agg(F.sum("n_old")).collect()[0][0] or 0
        if got != total:
            raise ValueError(f"compaction lost counts: {got} != {total}")

    io.rewrite(compacted, "gram_index", partition_by=["batch_id"], verify=verify)
    n = io.read("gram_index").count()
    return {"rows": int(n), "total_count": int(total)}


def rebuild_bloom(spark: SparkSession, root: str) -> dict:
    """Resize + compact the Bloom filter from the TRUE store size: m =
    BLOOM_BITS_PER_KEY · |doc_hashes| · 2 (headroom for the next doubling
    — the scalable-Bloom growth step; probe positions are hash % m, so a
    resize must rebuild every word, it cannot OR old filters). Verified
    BEFORE the swap: every stored hash must probe all-hit against the
    staged filter (the no-false-negative invariant), or the rewrite
    aborts with the old filter untouched."""
    io = TableIO(spark, root)
    n_store = io.read("doc_hashes").count()
    m_bits = max(BLOOM_MIN_BITS, BLOOM_BITS_PER_KEY * n_store * 2)
    hashes = io.read("doc_hashes").select("h")
    rebuilt = (
        bloom_words(hashes, m_bits)
        # the m_bits stamp in the partition value makes filter words and
        # bit geometry atomic under the single staged swap (see _bloom_meta)
        .select(F.lit(f"__rebuilt_m{m_bits}__").alias("batch_id"), "word_idx", "bits")
    )

    def verify(staged: DataFrame) -> None:
        misses = (
            bloom_all_hit(hashes, staged.select("word_idx", "bits"), m_bits)
            .filter(F.col("all_hit") == 0)
            .count()
        )
        if misses:
            raise ValueError(f"rebuilt filter misses {misses} stored hashes")

    io.rewrite(rebuilt, "bloom", partition_by=["batch_id"], verify=verify)
    io.write(
        io.frame([(m_bits,)], "m_bits bigint"),
        "bloom_meta", mode="overwrite",
    )
    words = io.read("bloom").count()
    return {"m_bits": int(m_bits), "n_filter_words": int(words),
            "n_store": int(n_store)}
