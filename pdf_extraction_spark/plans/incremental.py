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
- ``bloom``      : (batch_id, m_bits, word_idx, bits) — the Bloom dedup
  prefilter AS A TABLE of 32-bit words (``operators/dedup``
  q_bloom_prefilter's representation), one partial filter per batch.
  bit_or is associative, so readers OR-merge the per-batch rows exactly
  like gram_index readers sum partial counts; ``rebuild_bloom`` is the
  compaction/resize analogue of ``compact_gram_index``. Every row carries
  the filter size (bit positions are ``hash % m_bits``), so the size
  commits with its words and a resumed batch's overwrite replaces both.
- ``dup_report`` : (batch_id, doc_id, n_words, dup_words) — the batch's
  exact duplicated-token mass vs (indexed corpus ∪ batch), written LAST.

Crash-resume contract (any crash point, DURING or between writes): every
per-batch write uses dynamic partition OVERWRITE of the batch's own
partition, so a partial task-commit left by a crash is REPLACED whole on
resume — never skipped, never double-counted. Batch completion is
certified by a driver-written marker file (``_markers/<batch_id>.done``,
created atomically AFTER the final table write; the parquet analogue of
an Iceberg snapshot commit — on Iceberg the marker is the snapshot
itself). Store reads see committed batches only (``_committed``: marked
batches plus the ``__compacted__``/``__rebuilt__`` maintenance
partitions), so a resume replays the batch against the pre-batch store
and converges on the byte-identical final state, and a crashed batch's
partial partitions are invisible to every other reader, maintenance
included — pinned by tests/test_incremental_ingest.py.
Retraction-free contract: an already-ingested document's dup mass is
never updated by later batches (`operators/sarray.py` line ~384
documents the tradeoff and the periodic batch recompute that reconciles
it).
"""

from __future__ import annotations

import os
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import Window as W
from pyspark.sql.types import StringType, StructField, StructType

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


def _committed(io: TableIO, name: str) -> DataFrame | None:
    """The rows of table ``name`` whose batch has a completion marker, plus
    the partitions committed by compact_gram_index's / rebuild_bloom's
    staged swap — a partition-pruned ``isin``; None if there are none.
    batch_id is read as the string it was written as: partition-type
    inference would read ``batch_id=007`` as 7, which misses ``007.done``."""
    if not io.exists(name):
        return None
    markers = os.path.join(io.root, "_markers")
    done = {f[: -len(".done")] for f in os.listdir(markers)
            if f.endswith(".done")} if os.path.isdir(markers) else set()
    keep = {unquote(d.split("=", 1)[1]) for d in os.listdir(io.path(name))
            if d.startswith("batch_id=")} & (done | {"__compacted__", "__rebuilt__"})
    if not keep:
        return None
    schema = StructType([StructField(f.name, StringType()) if f.name == "batch_id" else f
                         for f in io.read(name).schema])
    return io.spark.read.schema(schema).parquet(io.path(name)).filter(
        F.col("batch_id").isin(*sorted(keep)))


def _filter_bits(n_keys: int, headroom: int) -> int:
    return max(BLOOM_MIN_BITS, BLOOM_BITS_PER_KEY * n_keys * headroom)


def _bloom_filter(io: TableIO) -> tuple[int | None, DataFrame | None]:
    """(m_bits, OR-merged words) of the committed filter, or (None, None)."""
    bloom = _committed(io, "bloom")
    if bloom is None:
        return None, None
    if "m_bits" not in bloom.columns:
        raise ValueError("bloom predates its m_bits column: run rebuild_bloom once to migrate it")
    sizes = bloom.select("m_bits").distinct().collect()
    if len(sizes) != 1:  # a partition holds one size; a resize replaces them all
        raise ValueError(f"committed bloom holds {len(sizes)} filter sizes: run rebuild_bloom")
    # bit_or is associative — the gram_index partial-sum contract
    return int(sizes[0][0]), bloom.groupBy("word_idx").agg(F.bit_or("bits").alias("bits"))


def _admit(io: TableIO, new_docs: DataFrame) -> tuple[DataFrame, dict, DataFrame | None]:
    """Admission gate: exact-duplicate documents (by md5(text)) are
    rejected against BOTH the batch itself (keep-first by doc_id) and the
    committed store. The store check runs the Bloom prefilter FIRST: only
    documents whose k filter probes ALL hit become candidates for the
    exact hash anti-join — the filter's no-false-negative guarantee means
    non-candidates are admitted with zero join work, so the exact check's
    probe side is |candidates| ≈ |true dups| + 0.2%·|batch|, not |batch|.
    A store with no committed filter (bloom lost) sends every unique doc
    to the exact check and returns its hashes as ``uncovered``, which the
    batch's partial filter must hold too, sized as ``rebuild_bloom`` sizes
    store ∪ batch. Returns (admitted docs with h, admission counts, uncovered or None)."""
    hashed = new_docs.select("doc_id", "text", F.md5("text").alias("h"))
    rk = F.row_number().over(W.partitionBy("h").orderBy("doc_id"))
    uniq = hashed.withColumn("is_batch_dup", rk > 1).localCheckpoint(eager=False)
    n_in, n_batch_dups = uniq.agg(
        F.count("*"), F.sum(F.col("is_batch_dup").cast("bigint"))
    ).collect()[0]
    n_batch_dups = int(n_batch_dups or 0)
    batch_unique = uniq.filter(~F.col("is_batch_dup")).drop("is_batch_dup")

    m_bits, filt = _bloom_filter(io)
    store = _committed(io, "doc_hashes")
    if m_bits is None:
        m_bits = (_filter_bits(int(n_in), BLOOM_HEADROOM) if store is None
                  else _filter_bits(store.count() + int(n_in), 2))
    uncovered = None
    if store is None:
        # first batch: no store yet — every unique doc is admitted
        n_candidates = 0
    elif filt is None:
        candidates, uncovered = batch_unique, store.select("h")
        n_candidates = int(n_in) - n_batch_dups
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

    if n_candidates > 0:
        # exact check over CANDIDATES ONLY — on a deployment doc_hashes is
        # bucketed by h, making this a bucket-local probe of the matched
        # buckets rather than a store-wide shuffle
        store_dups = candidates.join(store.select("h"), "h", "left_semi").select("doc_id")
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
    return admitted, counts, uncovered


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
        docs, counts, uncovered = _admit(io, new_docs)
        docs = docs.localCheckpoint(eager=False)
    else:
        docs = new_docs

    index = _committed(io, "gram_index")
    if index is None:
        index = spark.createDataFrame([], _INDEX_SCHEMA)
    index = index.select("gram_key", "n_old")

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
        m_bits, hashes = counts["bloom_m_bits"], docs.select("h")
        part_filter = bloom_words(hashes if uncovered is None else hashes.union(uncovered), m_bits).select(
            F.lit(batch_id).alias("batch_id"), F.lit(m_bits).alias("m_bits"), "word_idx", "bits")
        io.write(part_filter, "bloom", mode="overwrite_partitions",
                 partition_by=["batch_id"])
    io.write(report, "dup_report", mode="overwrite_partitions",
             partition_by=["batch_id"])
    _mark_done(io, batch_id)

    # summarize from the WRITTEN table (partition-pruned to this batch):
    # aggregating the `report` plan would re-execute the entire coverage
    # computation a second time — the write is the only full pass.
    stats = (
        _committed(io, "dup_report")
        .filter(F.col("batch_id") == batch_id)
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
    """Re-sum the committed gram_index to one row per gram (batch_id
    collapses to '__compacted__'). Counts are associative, so delta
    results are identical before and after (pinned in tests); the rewrite
    is verified against total-count preservation BEFORE the swap. The
    swap replaces the whole table, so an unfinished batch's partial
    partition is dropped; that batch rewrites it when it resumes."""
    io = TableIO(spark, root)
    before = _committed(io, "gram_index")
    if before is None:
        return {"rows": 0, "total_count": 0}
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
    n = _committed(io, "gram_index").count()
    return {"rows": int(n), "total_count": int(total)}


def rebuild_bloom(spark: SparkSession, root: str) -> dict:
    """Resize + compact the Bloom filter from the TRUE committed store size:
    m = BLOOM_BITS_PER_KEY · |doc_hashes| · 2 (headroom for the next doubling
    — the scalable-Bloom growth step; probe positions are hash % m, so a
    resize must rebuild every word, it cannot OR old filters). ONE
    '__rebuilt__' partition replaces the table, words and m_bits together;
    this also migrates a bloom written before m_bits was a column. Verified
    BEFORE the swap: every stored hash must probe all-hit against the
    staged filter (the no-false-negative invariant), or the rewrite aborts
    with the old filter untouched."""
    io = TableIO(spark, root)
    store = _committed(io, "doc_hashes")
    if store is None:
        raise ValueError("no committed doc_hashes to rebuild the bloom filter from")
    hashes = store.select("h")
    n_store = hashes.count()
    m_bits = _filter_bits(n_store, 2)
    rebuilt = bloom_words(hashes, m_bits).select(
        F.lit("__rebuilt__").alias("batch_id"), F.lit(m_bits).alias("m_bits"), "word_idx", "bits")

    def verify(staged: DataFrame) -> None:
        misses = (
            bloom_all_hit(hashes, staged.select("word_idx", "bits"), m_bits)
            .filter(F.col("all_hit") == 0)
            .count()
        )
        if misses:
            raise ValueError(f"rebuilt filter misses {misses} stored hashes")

    io.rewrite(rebuilt, "bloom", partition_by=["batch_id"], verify=verify)
    words = _committed(io, "bloom").count()
    return {"m_bits": int(m_bits), "n_filter_words": int(words),
            "n_store": int(n_store)}
