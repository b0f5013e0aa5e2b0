"""Adaptive input fan-out for compute-heavy map stages, and the one
broadcast-vs-shuffle gate every join with a data-sized side goes through.

The driver-generated testdata tables are SINGLE parquet files with one row
group each (documents/events/embeddings), so a scan yields ONE task no
matter what ``spark.sql.files.maxPartitionBytes`` says — row groups are the
smallest splittable unit. Every expensive per-row stage downstream of such
a scan (Arrow mapInPandas / pandas UDFs, heavy regex/hash expressions) then
runs on one core of the whole machine (measured round 7: the suffix-array,
MinHash-shingle, classifier-cascade and DSIR stages all executed as 1-2
tasks on local[32]).

``fan_out`` widens a narrow input to the session's default parallelism with
one small exchange, and is a NO-OP when the input is already at least that
wide — the 100 TB case, where a table scan arrives as thousands of splits
and the repartition would be pure cost. The target is derived from
``sparkContext.defaultParallelism`` (cores in local mode, cluster size on a
real deployment), never a constant, per the scale-adaptive-partitioning
rule (optimization guide §2.2/§2.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# One hash-build budget for every gated broadcast: the side is built in full
# on the driver and on each executor, so the limit is a byte size, not a
# row count (rows of md5 keys, bloom words and gram arrays differ 10x).
BROADCAST_BUDGET_BYTES = 128 << 20


def fan_out(df: DataFrame, *cols: str, factor: int = 1) -> DataFrame:
    """Repartition ``df`` up to ``defaultParallelism * factor`` partitions
    (hash-partitioned on ``cols`` when given — deterministic, no
    sort-before-repartition pass — else round-robin) IF the current plan
    produces fewer partitions; otherwise return ``df`` unchanged.

    Use immediately before an expensive per-row stage whose cost dwarfs one
    exchange of its (projected) input. Results are unaffected: every caller
    feeds a per-row map or a batching-invariant aggregation.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    try:
        current = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - defensive: unplannable input
        current = 0
    if current >= target:
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)


def broadcast_within(df: DataFrame, n_bytes: int | None = None) -> DataFrame:
    """``F.broadcast(df)`` while the side fits ``BROADCAST_BUDGET_BYTES``,
    else ``df.hint("shuffle_hash")`` — hash-partitioned on the join key and
    built per task, which Spark never turns back into a broadcast.

    ``n_bytes`` is the caller's measured size of the side as a hash
    relation: about 32 bytes per row, plus 8 per column, plus the UTF-8
    bytes of its strings (and 8 per array element). Pass it for text or
    array payloads. Without it the planner's ``sizeInBytes`` of the analyzed
    plan is used (about 1 ms; the optimized plan's costs 10-25 ms and gives
    the same figure for such frames). That estimate starts from compressed
    file bytes, so it is sound only for fixed-width key and aggregate frames.
    """
    if n_bytes is None:
        n_bytes = df._jdf.queryExecution().analyzed().stats().sizeInBytes()
    if n_bytes <= BROADCAST_BUDGET_BYTES:
        return F.broadcast(df)
    return df.hint("shuffle_hash")
