"""Structured Streaming jobs.

The reference is strictly bounded-batch (SURVEY.md §2.9: its "batch jobs"
are ≤100-file synchronous batches, reference app/routers/batch.py:15,
324-333), so streaming is an ENGINE capability, not a parity requirement:

- ``stream_events_windowed``  : watermarked tumbling-window aggregation over
  an events directory — the continuous analogue of the stats queries
  (A3/A4, reference app/routers/stats.py).
- ``stream_extraction``       : the SAME extraction transform
  (``extract_stage`` — mapInPandas composes with streaming) run as an
  incremental job over a transcript landing directory. The file-source +
  checkpointLocation pair gives exactly-once sink semantics — the streaming
  twin of the batch pipeline's lineage ledger.

- ``stream_ingest_gram_index`` : continuous form of the exact-substring
  warehouse ingest (``plans/incremental.append_batch`` under foreachBatch;
  per-epoch batch_id idempotency × checkpoint replay = exactly-once).

Scale notes: the file source tracks processed files in the checkpoint (no
re-listing races); ``maxFilesPerTrigger`` bounds per-micro-batch memory; at
real scale the source becomes Kafka/Iceberg-CDC with identical plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_extraction_spark.parallel import broadcast_within

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)

TRANSCRIPTS_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)

DEDUP_OUT_SCHEMA = "conv_id string, turn_idx int, text_hash string, state_size int"


def _read(spark: SparkSession, schema: str, src_dir: str, max_files: int) -> DataFrame:
    """The parquet file source every job reads: a fixed schema (no
    inference on a landing directory) and at most ``max_files`` new files
    per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(src_dir)
    )


def _write_parquet(df: DataFrame, out_dir: str, checkpoint_dir: str, **trigger):
    """Start ``df`` into an append-mode parquet sink at ``out_dir``; the
    checkpoint makes the sink exactly-once. Returns the StreamingQuery."""
    return (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(**trigger)
        .start()
    )


def _dedup_batch(pdfs, seen_list: list, state_cap: int):
    """Shared micro-batch body of BOTH stateful-dedup deployments
    (availableNow + continuous — one implementation, no drift): sort for a
    deterministic in-batch winner (lowest turn_idx; group row order within
    a micro-batch is not guaranteed), hash, drop already-seen via
    vectorized isin, append only the batch's new hashes, FIFO-evict past
    the cap. Returns (fresh_rows_with_state_size, new_seen)."""
    import hashlib

    import pandas as pd

    pdf = pd.concat(list(pdfs), ignore_index=True)
    pdf = pdf.sort_values("turn_idx", kind="mergesort")
    hashes = pdf["text"].fillna("").map(
        lambda t: hashlib.md5(t.encode("utf-8")).hexdigest()
    )
    pdf = pdf.assign(text_hash=hashes.values)
    fresh = pdf[~pdf["text_hash"].isin(seen_list)].drop_duplicates(
        "text_hash", keep="first"
    )
    new_seen = seen_list + fresh["text_hash"].tolist()  # incremental append
    if len(new_seen) > state_cap:
        new_seen = new_seen[-state_cap:]  # FIFO eviction
    out = fresh[["conv_id", "turn_idx", "text_hash"]].copy()
    out["state_size"] = len(new_seen)
    return out, new_seen


def stream_events_windowed(
    spark: SparkSession,
    src_dir: str,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """readStream(events) → watermark → tumbling-window counts/sums."""
    events = _read(spark, EVENTS_SCHEMA, src_dir, max_files_per_trigger)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type", "n", "sum_value",
        )
    )


def stream_extraction(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 8,
):
    """Incremental extraction over a transcript landing directory.
    Returns the started StreamingQuery (caller drives the trigger)."""
    from pdf_extraction_spark.plans.pipeline import extract_stage

    transcripts = _read(spark, TRANSCRIPTS_SCHEMA, src_dir, max_files_per_trigger)
    extracted = extract_stage(transcripts)
    return _write_parquet(extracted, out_dir, checkpoint_dir, availableNow=True)


def stream_dedup_turns(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
    state_ttl_minutes: float = 24 * 60,
    state_cap: int = 100_000,
):
    """Custom STATEFUL streaming operator (applyInPandasWithState): emit each
    (conv_id, text-hash) only the FIRST time it is seen — a streaming exact
    dedup whose state survives across micro-batches via the checkpoint.

    State per conv_id: the APPEND-ONLY list of md5 hashes already emitted —
    each micro-batch appends only the batch's new hashes (no re-sort, no
    full rewrite of prior entries), membership is a vectorized
    ``Series.isin`` against the existing list, and which row wins an
    in-batch duplicate is deterministic (lowest ``turn_idx``; the group's
    row order within a micro-batch is not guaranteed, so it is sorted).
    Two bounds keep state finite for long-lived conversations:

    - ``state_ttl_minutes``: an expiry timestamp stored IN the state — a
      conversation idle past the TTL has its hash set discarded on next
      touch (its next message re-opens a fresh window, the same trade
      Kafka-compaction dedup makes). The TTL is state-resident rather than
      a GroupStateTimeout because ``Trigger.AvailableNow`` (this batch-
      incremental deployment) cannot finish a run while engine timeouts
      are registered — the post-data "cleaning up state" batch blocks until
      they fire (measured: the run never terminates). A continuous
      (processingTime-trigger) deployment flips to ProcessingTimeTimeout +
      ``state.remove()`` so idle keys leave the RocksDB store eagerly;
    - ``state_cap``: FIFO eviction of the oldest hashes past the cap — a
      duplicate of an evicted hash would re-emit, bounding memory at the
      cost of very-long-range recall.

    Each emitted row carries ``state_size`` (post-update |seen|) as
    telemetry, so state growth is observable from the sink itself. At
    10^12-turn scale the state store is RocksDB-backed and partitioned by
    conv_id like everything else. This is the streaming twin of the batch
    C1/C4 dedup ledger.
    """
    from typing import Iterable, Iterator, Tuple

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    transcripts = _read(spark, TRANSCRIPTS_SCHEMA, src_dir, max_files_per_trigger)

    state_schema = "expires_at bigint, seen array<string>"
    ttl_ms = int(state_ttl_minutes * 60 * 1000)

    def dedup(key: Tuple[str], pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        import time as _time

        now_ms = int(_time.time() * 1000)
        seen_list: list = []
        if state.exists:
            expires_at, seen = state.get
            if now_ms <= expires_at:  # window still live; else fresh window
                seen_list = list(seen)
        out, new_seen = _dedup_batch(pdfs, seen_list, state_cap)
        state.update((now_ms + ttl_ms, new_seen))
        yield out

    deduped = transcripts.groupBy("conv_id").applyInPandasWithState(
        dedup, DEDUP_OUT_SCHEMA, state_schema, "append", GroupStateTimeout.NoTimeout
    )
    return _write_parquet(deduped, out_dir, checkpoint_dir, availableNow=True)


def stream_enrich_events(
    spark: SparkSession,
    src_dir: str,
    dim: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 16,
):
    """Stream-static enrichment join: streaming events LEFT-joined to a
    static per-key dimension, broadcast to every micro-batch (the standard
    'decorate the firehose with reference data' topology). The static side
    is hash-broadcast within the broadcast budget — each micro-batch pays
    a map-side lookup, no stream-side shuffle. Unmatched keys keep their
    rows (left join) with null enrichment, so the stream never drops
    events because reference data lags. Returns the started StreamingQuery."""
    events = _read(spark, EVENTS_SCHEMA, src_dir, max_files_per_trigger)
    enriched = events.join(broadcast_within(dim), "user_id", "left")
    return _write_parquet(enriched, out_dir, checkpoint_dir, availableNow=True)


def stream_events_sessions(
    spark: SparkSession,
    src_dir: str,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """Stateful streaming sessionization with the NATIVE session-window
    operator: per-user sessions merge while events keep arriving inside
    the gap; the watermark closes a session once event time moves past
    session_end + delay, and append mode emits each closed session exactly
    once. The batch twin (`session_window_stats`) is oracle-checked
    against DuckDB — the streaming form must emit a subset of exactly
    those rows (asserted in tests)."""
    events = _read(spark, EVENTS_SCHEMA, src_dir, max_files_per_trigger)
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events", "sum_value",
        )
    )


EXPIRED_SENTINEL = "__expired__"


def stream_dedup_turns_continuous(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
    state_ttl_seconds: float = 24 * 3600,
    state_cap: int = 100_000,
    trigger_interval: str = "1 second",
):
    """Continuous (processingTime-trigger) deployment of the streaming
    dedup: identical first-seen semantics, but idle-conversation expiry is
    handled by the ENGINE — ``ProcessingTimeTimeout`` + ``state.remove()``
    — so idle keys leave the state store EAGERLY instead of waiting to be
    touched again (the state-resident TTL of ``stream_dedup_turns`` only
    discards a window when its next message arrives). The engine schedules
    data-less micro-batches on the trigger interval to fire due timeouts;
    that is exactly why this form CANNOT run under ``Trigger.AvailableNow``
    (the post-data timeout batch blocks termination — see
    ``stream_dedup_turns``'s docstring) and vice versa.

    A timed-out key emits one tombstone row
    ``(conv_id, turn_idx=-1, text_hash=EXPIRED_SENTINEL, state_size=0)``
    before removal, so state lifecycle is observable from the sink — the
    continuous twin of the ``state_size`` telemetry column.

    Returns the started StreamingQuery; the caller owns ``stop()``.
    """
    from typing import Iterable, Iterator, Tuple

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    transcripts = _read(spark, TRANSCRIPTS_SCHEMA, src_dir, max_files_per_trigger)

    state_schema = "seen array<string>"
    ttl_ms = int(state_ttl_seconds * 1000)

    def dedup(key: Tuple[str], pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # idle past the TTL: drop the hash set from the store entirely
            # and leave a tombstone in the sink
            state.remove()
            yield pd.DataFrame(
                {"conv_id": [key[0]], "turn_idx": [-1],
                 "text_hash": [EXPIRED_SENTINEL], "state_size": [0]}
            )
            return
        seen_list: list = list(state.get[0]) if state.exists else []
        out, new_seen = _dedup_batch(pdfs, seen_list, state_cap)
        state.update((new_seen,))
        state.setTimeoutDuration(ttl_ms)  # any new data re-arms the TTL
        yield out

    deduped = transcripts.groupBy("conv_id").applyInPandasWithState(
        dedup, DEDUP_OUT_SCHEMA, state_schema, "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )
    return _write_parquet(deduped, out_dir, checkpoint_dir, processingTime=trigger_interval)


DOCS_SCHEMA = "doc_id bigint, text string"


def stream_ingest_gram_index(
    spark: SparkSession,
    src_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
    stream_id: str = "stream",
    max_files_per_trigger: int = 8,
    window: int | None = None,
    admit_unique: bool = False,
):
    """Continuous form of ``plans/incremental.append_batch``: each
    micro-batch of landed documents is appended to the persisted
    exact-substring warehouse (corpus / gram_index / dup_report), its
    duplicated-token mass computed against everything ingested BEFORE it.

    Exactly-once composes from both ends: the file source replays a failed
    micro-batch with the SAME epoch id from the checkpoint, and
    append_batch's per-table ``batch_id = {stream_id}-{epoch_id}``
    idempotency turns the replay into a no-op — the foreachBatch analogue
    of the batch CLI's --run-id resume. ``stream_id`` namespaces epochs so
    a checkpoint reset (which restarts epoch numbering at 0) cannot alias
    an already-ingested batch unless the caller keeps the same id on
    purpose (the recovery semantics the test pins).

    ``admit_unique`` forwards the Bloom-prefiltered exact-dedup admission
    gate: a document whose text already landed in ANY earlier micro-batch
    (or earlier in the same one) is rejected before it reaches the
    warehouse — the streaming form of ``--ingest --admit-unique``."""
    from pdf_extraction_spark.plans.incremental import append_batch
    from pdf_extraction_spark.operators.sarray import SA_WINDOW

    docs = _read(spark, DOCS_SCHEMA, src_dir, max_files_per_trigger)

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        append_batch(
            batch_df.sparkSession,
            warehouse_root,
            batch_df,
            batch_id=f"{stream_id}-{epoch_id}",
            window=window if window is not None else SA_WINDOW,
            admit_unique=admit_unique,
        )

    return (
        docs.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
