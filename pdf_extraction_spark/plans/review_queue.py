"""Review-queue lifecycle (C5) + keyed backfill update-join.

Re-expression of the reference's review-queue semantics as Spark tables:

- enqueue      : reference app/routers/extraction.py:332-355 routes items
                 whose extraction failed (or exhausted retries) into
                 ``review_queue`` rows (migrations/002_create_review_queue
                 .sql) with an ``error_type`` taxonomy.
- list pending : app/routers/review_queue.py:27 (``status='pending'``).
- resolve      : app/routers/review_queue.py:105,176 +
                 app/db/review_queue.py:121 — sets ``status='resolved'``
                 and records a ``resolution`` string. Here that is an
                 update-in-place: read → transform → rewrite, partitioned by
                 ``status`` so an Iceberg deployment touches only the two
                 affected partitions via MERGE INTO; the parquet fallback
                 stages and swaps (TableIO.rewrite).
- requeue      : resolve(..., resolution='requeue') flips the item back to
                 'pending' with attempt context preserved (reference
                 app/routers/review_queue.py:176).

``backfill_update_join`` is the reference's scraped-file backfill
(app/routers/batch.py:157-169 + migrations/008_add_scraped_file_id.sql):
a keyed UPDATE ... FROM enrichment expressed as a left join + coalesce +
rewrite — the second exemplar of the MERGE pattern.

Scale notes: queue tables are metadata-sized relative to the corpus (one
row per failure, not per turn); the rewrite is a full scan OF THE QUEUE
only. The enrichment join broadcasts when the mapping side is small.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_extraction_spark.parallel import broadcast_within
from pdf_extraction_spark.sources.tables import TableIO

REVIEW_TABLE = "review_queue"

REVIEW_SCHEMA = (
    "item_id string, kind string, run_id string, bucket int, conv_id string, "
    "turn_idx int, error_type string, resolution string"
)


def _finish(df: DataFrame) -> DataFrame:
    return df.withColumn("status", F.lit("pending")).withColumn(
        "enqueued_ts", F.current_timestamp()
    ).withColumn("resolved_ts", F.lit(None).cast("timestamp"))


def enqueue_buckets(io: TableIO, run_id: str, buckets: List[int],
                    error_type: str = "retries_exhausted") -> int:
    """Escalate whole buckets whose retry budget is spent (C2 → C5)."""
    new = [b for b in sorted(set(int(b) for b in buckets)) if b >= 0]
    if not new:
        return 0
    # idempotent: skip items already enqueued (any status)
    existing = set()
    if io.exists(REVIEW_TABLE):
        rows = (
            io.read(REVIEW_TABLE)
            .filter((F.col("run_id") == run_id) & (F.col("kind") == "bucket"))
            .select("bucket").distinct().collect()  # metadata-sized
        )
        existing = {r["bucket"] for r in rows}
    new = [b for b in new if b not in existing]
    if not new:
        return 0
    df = io.frame(
        [(f"bucket:{run_id}:{b}", "bucket", run_id, b, None, None, error_type, None)
         for b in new],
        REVIEW_SCHEMA,
    )
    io.write(_finish(df), REVIEW_TABLE, mode="append", partition_by=["status"])
    return len(new)


def enqueue_failed_turns(io: TableIO, extracted: DataFrame, run_id: str) -> None:
    """Per-turn escalation: rows the extractor marked failed become pending
    review items with their error taxonomy (reference error_type column)."""
    items = (
        extracted.filter(F.col("status") == "failed")
        .select(
            F.concat_ws(":", F.lit("turn"), F.lit(run_id), "conv_id",
                        F.col("turn_idx").cast("string")).alias("item_id"),
            F.lit("turn").alias("kind"),
            F.lit(run_id).alias("run_id"),
            F.col("bucket").cast("int").alias("bucket"),
            "conv_id",
            "turn_idx",
            F.coalesce(F.col("error"), F.lit("unknown")).alias("error_type"),
            F.lit(None).cast("string").alias("resolution"),
        )
    )
    io.write(_finish(items), REVIEW_TABLE, mode="append", partition_by=["status"])


def pending(io: TableIO) -> DataFrame:
    """List pending items (reference review_queue.py:27). With the table
    partitioned by status this is a partition-pruned scan."""
    return io.read(REVIEW_TABLE).filter(F.col("status") == "pending")


def resolve(io: TableIO, item_ids: List[str], resolution: str) -> int:
    """Resolve (or requeue) items: the update-in-place exemplar.
    resolution='requeue' re-opens the item; anything else closes it."""
    rq = io.read(REVIEW_TABLE)
    hit = F.col("item_id").isin(list(item_ids))
    reopen = resolution == "requeue"
    new_status = F.lit("pending") if reopen else F.lit("resolved")
    new_resolved = F.lit(None).cast("timestamp") if reopen else F.current_timestamp()
    updated = (
        rq.withColumn("resolution", F.when(hit, F.lit(resolution)).otherwise(F.col("resolution")))
        .withColumn("resolved_ts", F.when(hit, new_resolved).otherwise(F.col("resolved_ts")))
        .withColumn("status", F.when(hit, new_status).otherwise(F.col("status")))
    )
    n = rq.filter(hit).count()
    io.rewrite(updated, REVIEW_TABLE, partition_by=["status"])
    return int(n)


# ---------------------------------------------------------------------------
def backfill_update_join(
    target: DataFrame,
    mapping: DataFrame,
    key: str,
    fill_col: str,
    source_col: Optional[str] = None,
    only_null: bool = True,
) -> DataFrame:
    """Keyed UPDATE ... FROM: enrich ``target[fill_col]`` from
    ``mapping[source_col]`` on ``key``. ``only_null=True`` fills gaps only
    (the reference backfill touched rows whose scraped_file_id was NULL).
    The mapping side is broadcast while it fits the broadcast budget; the
    result is written back with TableIO.rewrite (Iceberg: MERGE INTO)."""
    source_col = source_col or fill_col
    m = mapping.select(F.col(key), F.col(source_col).alias("__fill")).dropDuplicates([key])
    joined = target.join(broadcast_within(m), key, "left")
    if only_null and fill_col in target.columns:
        filled = F.coalesce(F.col(fill_col), F.col("__fill"))
    else:
        filled = F.coalesce(F.col("__fill"), F.col(fill_col)) if fill_col in target.columns else F.col("__fill")
    out_cols = [c for c in target.columns if c != fill_col] + [fill_col]
    return joined.withColumn(fill_col, filled).select(*out_cols)
