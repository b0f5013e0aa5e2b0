"""The extraction pipeline: the flagship Spark program of this engine.

Stages (SURVEY.md §7):
  1. bucket assignment  — ``pmod(xxhash64(conv_id), n_buckets)``: the unit of
     idempotent commit + resume (Iceberg ``bucket(conv_id)`` analogue).
  2. resume anti-join   — drop buckets already ledgered 'done' for this
     run_id (reference dedup short-circuit, app/routers/extraction.py:110-125,
     re-expressed as C4 checkpoint semantics).
  3. salt + repartition — ``repartition(P, bucket, salt)`` where
     ``salt = turn_idx // salt_turns`` splits whale conversations across
     tasks (extraction is per-turn, so correctness is unaffected; skew is).
  4. extraction         — ONE ``mapInPandas`` stage running the
     deterministic core per Arrow batch; per-row try/except inside the
     batch yields status='failed' rows instead of killing tasks (reference
     PartialExtractionError semantics, app/services/pdf_extractor.py:588-633).
  5. wave commit        — buckets are processed in bounded waves; each wave
     writes data partitions (dynamic overwrite → idempotent re-run). Every
     wave but the last then reads its buckets back and appends their
     lineage rows before the next wave starts; the last wave's lineage
     rows come from the run aggregate of stage 6. A crash between waves
     loses at most one uncommitted wave; resume re-runs only missing
     buckets.
     DEFAULT n_waves=1: each wave is a full input scan when the input is not
     bucket-partitioned (the bucket filter can't push down a computed
     column), so multi-wave commit is only worth it when (a) the input IS
     Iceberg bucket(conv_id)-partitioned — then the filter prunes at the
     manifest level — or (b) the run is long enough that losing a whole run
     to a cluster failure costs more than the extra scans. Within one wave,
     Spark task retries already absorb transient failures.
  6. run aggregate      — ONE read-back of every bucket this run wrote,
     aggregated by ``GROUPING SETS ((bucket), (route))``: the bucket rows
     are the last wave's lineage (n_turns + checksum of the on-disk rows),
     the route rows are the run's metrics (replaces the reference's
     row-at-a-time batch_jobs counters, app/db/batch_jobs.py:86-183), and
     its executed plan is recorded in ``op_metrics``. Lineage, metrics and
     op_metrics rows are written from driver-built Arrow tables
     (``TableIO.frame``): JVM-only tasks, one file per write.

Scale notes (100 TB / 10^12 turns): no driver-side data movement — the only
collects are the ledger's bucket-status list and the run aggregate
(≤ n_buckets + routes rows of metadata).
The extraction stage is map-only (no shuffle beyond the explicit
repartition, which doubles as the write-partitioning). Output is
bucket-partitioned so downstream conv_id joins/groupBys can pre-prune.
"""

from __future__ import annotations

import time
from typing import Iterable, Iterator, List, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_extraction_spark.core.extractor import _EMPTY, EXTRACT_FIELDS, extract_turn
from pdf_extraction_spark.plans.checkpoint import Ledger, row_hash, stats_of
from pdf_extraction_spark.sources.tables import TableIO

SPANS_TYPE = (
    "array<struct<span_idx:int,kind:string,text:string,page:int,"
    "bbox:struct<x1:double,y1:double,x2:double,y2:double>>>"
)

EXTRACTED_SCHEMA = (
    "conv_id string, turn_idx int, role string, tool string, ts timestamp, "
    f"extracted_text string, spans {SPANS_TYPE}, quality_score double, "
    "doc_kind string, classify_method string, route string, status string, "
    "error string, extract_ms double"
)

METRICS_SCHEMA = (
    "run_id string, route string, n_turns bigint, n_ok bigint, n_partial bigint, "
    "n_failed bigint, avg_quality double, p95_extract_ms double, "
    "throughput_turns_per_sec double"
)

_PASS_COLS = ["conv_id", "turn_idx", "role", "tool", "ts"]


def _extract_batches(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: Arrow batch in → Arrow batch out, memory-flat."""
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        outs: List[dict] = []
        timings: List[float] = []
        texts = pdf["text"].tolist()
        tools = pdf["tool"].tolist()
        for text, tool in zip(texts, tools):
            t0 = time.perf_counter()
            try:
                outs.append(extract_turn(text, tool if isinstance(tool, str) else None))
            except Exception as exc:  # C3: a poison row must not kill the task
                outs.append({**_EMPTY, "error": f"extract_error:{type(exc).__name__}"})
            timings.append((time.perf_counter() - t0) * 1000.0)
        res = pdf[_PASS_COLS].copy()
        for col in EXTRACT_FIELDS:
            res[col] = [o[col] for o in outs]
        res["extract_ms"] = timings
        yield res


def extract_stage(transcripts: DataFrame) -> DataFrame:
    """The vectorized extraction transform (no shuffle of its own)."""
    cols = transcripts.columns
    missing = [c for c in _PASS_COLS if c not in cols]
    if missing:
        raise ValueError(f"transcripts missing columns: {missing}")
    return transcripts.select(*_PASS_COLS, "text").mapInPandas(_extract_batches, EXTRACTED_SCHEMA)


def _with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int"))


def run_extraction(
    spark: SparkSession,
    transcripts: DataFrame,
    out_root: str,
    run_id: str,
    n_buckets: int = 32,
    salt_turns: int = 1000,
    n_waves: int = 1,
    partitions: Optional[int] = None,
    resume: bool = True,
    input_fp: Optional[str] = None,
) -> dict:
    """Run the pipeline; returns a small summary dict (counts + timing).

    Failure semantics (C2/C3): a wave whose Spark action raises marks every
    bucket in that wave 'failed' (attempt N) in the ledger and the run
    CONTINUES with the remaining waves (partial results beat dead runs).
    On resume, failed buckets are retried until their attempt count reaches
    ``MAX_ATTEMPTS`` (5, the reference's retry cap); after that they are
    escalated to the ``review_queue`` table and never re-run under this
    run_id (the reference's poison-row guarantee,
    app/routers/extraction.py:332-355). Failure granularity is the wave —
    run with ``n_waves == n_buckets`` for per-bucket isolation.

    ``input_fp`` (optional): caller-supplied fingerprint of the input
    (e.g. an Iceberg snapshot id). Stamped into the ledger; resuming the
    same run_id with a different fingerprint — or a different n_buckets —
    fails fast instead of silently skipping re-mapped buckets.
    """
    from pdf_extraction_spark.plans.checkpoint import MAX_ATTEMPTS
    from pdf_extraction_spark.plans.review_queue import enqueue_buckets

    io = TableIO(spark, out_root)
    ledger = Ledger(io, run_id, n_buckets=n_buckets, input_fp=input_fp)
    t0 = time.monotonic()

    df = _with_bucket(transcripts, n_buckets)

    if resume:
        state = ledger.bucket_state()  # fails fast on n_buckets/input_fp drift
    else:
        state = {"done": frozenset(), "retryable": frozenset(), "exhausted": frozenset()}
    done, exhausted = state["done"], state["exhausted"]
    # exhausted buckets found at startup may come from a previous run that
    # crashed before escalating — enqueue is idempotent, so always sweep.
    n_escalated = enqueue_buckets(io, run_id, sorted(exhausted)) if exhausted else 0
    todo = sorted(set(range(n_buckets)) - done - exhausted)
    if not todo:
        return {"run_id": run_id, "buckets_done": len(done), "buckets_run": 0,
                "buckets_failed": 0, "buckets_escalated": n_escalated,
                "n_turns": 0, "elapsed_s": 0.0, "resumed": True}

    partitions = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    total_turns = 0
    failed_buckets: List[int] = []
    ran_buckets: List[int] = []
    last_wave: List[int] = []  # ledgered from the run aggregate, not per wave
    waves = [todo[i::n_waves] for i in range(min(n_waves, len(todo)))]
    for i, wave in enumerate(waves):
        # explicit (bucket, salt) repartition: balances whale
        # conversations across tasks and clusters the write
        wave_df = (
            df.filter(F.col("bucket").isin([int(b) for b in wave]))
            .withColumn("salt", (F.col("turn_idx") / F.lit(salt_turns)).cast("int"))
            .repartition(partitions, "bucket", "salt")
            .drop("salt")
        )
        try:
            extracted = extract_stage(wave_df.drop("bucket"))
            extracted = _with_bucket(extracted, n_buckets)

            io.write(extracted, "extracted", mode="overwrite_partitions",
                     partition_by=["bucket"])
        except Exception:  # wave-level failure: ledger it, keep going (C3)
            # attempt numbering is PER BUCKET: a never-failed bucket that
            # shares a wave with an almost-exhausted one must be recorded
            # at ITS OWN attempt 1, not inherit the wave maximum (which
            # would silently escalate it on its first failure)
            prior = ledger.attempts()
            per_bucket = {int(b): prior.get(int(b), 0) + 1 for b in wave}
            for att in sorted(set(per_bucket.values())):
                ledger.mark_failed(
                    [b for b, a in per_bucket.items() if a == att], att
                )
            failed_buckets.extend(per_bucket)
            exhausted_now = sorted(
                b for b, a in per_bucket.items() if a >= MAX_ATTEMPTS
            )
            if exhausted_now:
                n_escalated += enqueue_buckets(io, run_id, exhausted_now)
            continue

        ran_buckets.extend(int(b) for b in wave)
        if i == len(waves) - 1:
            last_wave = [int(b) for b in wave]
            continue
        # an earlier wave commits now: its lineage must land before the
        # next wave starts. Lineage rows are computed FROM WHAT WAS
        # WRITTEN — the ledger certifies on-disk state, not in-flight state.
        written = io.read("extracted").filter(F.col("bucket").isin([int(b) for b in wave]))
        total_turns += _commit(ledger, ledger.bucket_stats(written), wave)

    elapsed = time.monotonic() - t0
    if ran_buckets:
        # ONE read-back of the ran buckets yields both the last wave's
        # lineage rows and the run's route metrics
        agg = _run_aggregate(io.read("extracted").filter(F.col("bucket").isin(ran_buckets)))
        rows = agg.collect()  # ≤ ran buckets + routes rows: metadata-sized
        if last_wave:
            in_wave = set(last_wave)
            stats = stats_of(r for r in rows if not r["by_route"] and r["bucket"] in in_wave)
            total_turns += _commit(ledger, stats, last_wave)
        elapsed = time.monotonic() - t0
        _write_metrics(io, run_id, elapsed, [r for r in rows if r["by_route"]], total_turns, agg)
    return {
        "run_id": run_id,
        "buckets_done": len(done),
        "buckets_run": len(ran_buckets),
        "buckets_failed": len(failed_buckets),
        "buckets_escalated": n_escalated,
        "n_turns": total_turns,
        "elapsed_s": round(elapsed, 3),
        "resumed": bool(done),
    }


def _commit(ledger: Ledger, stats: List[dict], wave: List[int]) -> int:
    """Mark a wave's buckets done; returns the turns it wrote. Buckets
    with zero input rows still count as done (else they re-run on every
    resume forever)."""
    nonempty = {s["bucket"] for s in stats}
    stats = stats + [{"bucket": int(b), "n_turns": 0, "checksum": 0}
                     for b in wave if int(b) not in nonempty]
    ledger.mark_done(stats)
    return sum(s["n_turns"] for s in stats)


def _run_aggregate(written: DataFrame) -> DataFrame:
    """Per-bucket ledger stats and per-route metrics of the written rows in
    one aggregate: ``GROUPING SETS ((bucket), (route))``. The row hash is
    computed once per row, below the Expand that duplicates rows into the
    two sets, so the Expand carries no text. ``by_route`` tells the two
    row kinds apart; on bucket rows the route columns are unused, and on
    route rows the checksum is."""
    return (
        written.withColumn("row_hash", row_hash())
        .groupingSets([["bucket"], ["route"]], "bucket", "route")
        .agg(
            F.grouping("bucket").alias("by_route"),
            F.count("*").alias("n_turns"),
            F.bit_xor("row_hash").alias("checksum"),
            F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("n_ok"),
            F.sum(F.when(F.col("status") == "partial", 1).otherwise(0)).alias("n_partial"),
            F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)).alias("n_failed"),
            F.avg("quality_score").alias("avg_quality"),
            F.percentile_approx("extract_ms", 0.95).alias("p95_extract_ms"),
        )
    )


def _write_metrics(io: TableIO, run_id: str, elapsed_s: float, route_rows: List,
                   n_turns_run: int, agg: DataFrame) -> None:
    """Per-run metrics table (FIXTURES.md §4; reference stats A3-A6,
    app/routers/stats.py:57-260 + app/db/batch_jobs.py:127-183 collapsed
    into one aggregate). ``route_rows`` are the route rows of the run
    aggregate, which is scoped to THE BUCKETS THIS INVOCATION PROCESSED —
    a resumed run (or a shared warehouse) must not claim the whole table's
    rows under its own run_id, and throughput divides the turns THIS run
    produced by THIS run's elapsed time.

    The aggregate was collected, not written: ONE execution both yields
    the metrics rows and populates the executed plan, whose per-operator
    numbers (rows scanned, shuffle bytes, spill, peak memory) are appended
    as the op_metrics table — the operator-grain stats the reference keeps
    per batch job (app/db/batch_jobs.py:127-183). A write would run its own
    QueryExecution and leave these at zero."""
    from pdf_extraction_spark.plans.observe import OP_METRICS_SCHEMA, op_metrics_rows

    tps = float(n_turns_run / max(elapsed_s, 1e-9))
    rows = [
        (run_id, r["route"], r["n_turns"], r["n_ok"], r["n_partial"], r["n_failed"],
         r["avg_quality"], r["p95_extract_ms"], tps)
        for r in route_rows
    ]
    io.write(io.frame(rows, METRICS_SCHEMA), "metrics", mode="append")
    io.write(io.frame(op_metrics_rows(agg, run_id, stage="run_metrics"), OP_METRICS_SCHEMA),
             "op_metrics", mode="append")
