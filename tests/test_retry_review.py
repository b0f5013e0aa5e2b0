"""C2 retry-with-cap escalation + C5 review-queue lifecycle + backfill join.

Reference semantics being matched:
- retry cap 5 then escalate (app/utils/retry.py:37-39,
  app/routers/extraction.py:332-355): a deterministically-failing bucket
  must NOT re-run forever — after MAX_ATTEMPTS it lands in review_queue.
- review queue list-pending / resolve / requeue with a resolution column
  (app/routers/review_queue.py:27,105,176; app/db/review_queue.py:121).
- scraped-file backfill update-join (app/routers/batch.py:157-169,
  migrations/008_add_scraped_file_id.sql).
"""

import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark import fixtures
from pdf_extraction_spark.plans import review_queue as rqmod
from pdf_extraction_spark.plans.checkpoint import (
    MAX_ATTEMPTS,
    Ledger,
    LedgerParamsMismatch,
)
from pdf_extraction_spark.plans.pipeline import run_extraction
from pdf_extraction_spark.sources.tables import TableIO


@pytest.fixture()
def tiny_transcripts(spark):
    pdf = fixtures.transcripts_pandas(n_convs=8, whale_every=100, whale_len=10)
    return spark.createDataFrame(pdf)


def _poison_extract_stage(real, poison_bucket: int, n_buckets: int):
    """Wrap extract_stage so any row of `poison_bucket` kills its task at
    action time (an uncatchable task failure, unlike per-row poison rows
    which C3 converts to status='failed')."""

    def stage(df):
        out = real(df)
        ok = F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)) != poison_bucket
        # assert_true raises for poison rows; returns NULL (→ keep) otherwise
        return out.filter(F.assert_true(ok, F.lit("injected bucket failure")).isNull())

    return stage


def test_failing_bucket_escalates_after_retry_cap(spark, tiny_transcripts, tmp_path, monkeypatch):
    import pdf_extraction_spark.plans.pipeline as pl

    root = str(tmp_path / "w")
    n_buckets = 4
    poison = 1
    monkeypatch.setattr(
        pl, "extract_stage", _poison_extract_stage(pl.extract_stage, poison, n_buckets)
    )

    # attempt 1: poison bucket fails, the rest succeed (partial results, C3)
    s1 = run_extraction(spark, tiny_transcripts, root, run_id="r", n_buckets=n_buckets,
                        n_waves=n_buckets)
    assert s1["buckets_failed"] == 1
    assert s1["buckets_run"] == n_buckets - 1

    # attempts 2..5: only the poison bucket re-runs, and keeps failing
    for attempt in range(2, MAX_ATTEMPTS + 1):
        s = run_extraction(spark, tiny_transcripts, root, run_id="r",
                           n_buckets=n_buckets, n_waves=n_buckets)
        assert s["buckets_failed"] == 1 and s["buckets_run"] == 0

    io = TableIO(spark, root)
    led = Ledger(io, "r", n_buckets=n_buckets)
    assert led.attempts()[poison] == MAX_ATTEMPTS

    # 6th resume: the bucket is exhausted — NOT retried, sits in review_queue
    s6 = run_extraction(spark, tiny_transcripts, root, run_id="r",
                        n_buckets=n_buckets, n_waves=n_buckets)
    assert s6["buckets_failed"] == 0 and s6["buckets_run"] == 0

    pend = rqmod.pending(io).filter(F.col("kind") == "bucket").collect()
    assert len(pend) == 1
    assert pend[0]["bucket"] == poison
    assert pend[0]["error_type"] == "retries_exhausted"
    # escalation is idempotent: another resume must not duplicate the item
    run_extraction(spark, tiny_transcripts, root, run_id="r",
                   n_buckets=n_buckets, n_waves=n_buckets)
    assert rqmod.pending(io).filter(F.col("kind") == "bucket").count() == 1


def test_resume_with_different_n_buckets_fails_fast(spark, tiny_transcripts, tmp_path):
    root = str(tmp_path / "w")
    run_extraction(spark, tiny_transcripts, root, run_id="r", n_buckets=8)
    with pytest.raises(LedgerParamsMismatch):
        run_extraction(spark, tiny_transcripts, root, run_id="r", n_buckets=16)


def test_resume_with_different_input_fp_fails_fast(spark, tiny_transcripts, tmp_path):
    root = str(tmp_path / "w")
    run_extraction(spark, tiny_transcripts, root, run_id="r", n_buckets=8,
                   input_fp="snap-1")
    with pytest.raises(LedgerParamsMismatch):
        run_extraction(spark, tiny_transcripts, root, run_id="r", n_buckets=8,
                       input_fp="snap-2")


def test_review_queue_lifecycle_roundtrip(spark, tmp_path):
    io = TableIO(spark, str(tmp_path / "w"))
    n = rqmod.enqueue_buckets(io, "r", [3, 5], error_type="retries_exhausted")
    assert n == 2
    assert rqmod.enqueue_buckets(io, "r", [3]) == 0  # idempotent

    assert {r["bucket"] for r in rqmod.pending(io).collect()} == {3, 5}

    # resolve one item → it leaves pending, carries its resolution
    assert rqmod.resolve(io, ["bucket:r:3"], "manually fixed") == 1
    assert {r["bucket"] for r in rqmod.pending(io).collect()} == {5}
    resolved = io.read(rqmod.REVIEW_TABLE).filter(F.col("status") == "resolved").collect()
    assert len(resolved) == 1
    assert resolved[0]["resolution"] == "manually fixed"
    assert resolved[0]["resolved_ts"] is not None

    # requeue flips it back to pending
    assert rqmod.resolve(io, ["bucket:r:3"], "requeue") == 1
    assert {r["bucket"] for r in rqmod.pending(io).collect()} == {3, 5}


def test_enqueue_failed_turns(spark, tmp_path):
    io = TableIO(spark, str(tmp_path / "w"))
    extracted = spark.createDataFrame(
        [("c1", 0, "ok", None, 2), ("c1", 1, "failed", "extract_error:ValueError", 2),
         ("c2", 0, "failed", None, 3)],
        "conv_id string, turn_idx int, status string, error string, bucket int",
    )
    rqmod.enqueue_failed_turns(io, extracted, "r")
    rows = {r["item_id"]: r for r in rqmod.pending(io).collect()}
    assert set(rows) == {"turn:r:c1:1", "turn:r:c2:0"}
    assert rows["turn:r:c1:1"]["error_type"] == "extract_error:ValueError"
    assert rows["turn:r:c2:0"]["error_type"] == "unknown"


def test_backfill_update_join(spark):
    target = spark.createDataFrame(
        [(1, None), (2, "keep"), (3, None), (4, None)],
        "id int, tag string",
    )
    mapping = spark.createDataFrame(
        [(1, "a"), (2, "CLOBBER"), (3, "b")], "id int, tag string"
    )
    out = rqmod.backfill_update_join(target, mapping, "id", "tag").orderBy("id").collect()
    # only_null: fills gaps, never clobbers existing values; unmatched stays null
    assert [(r["id"], r["tag"]) for r in out] == [(1, "a"), (2, "keep"), (3, "b"), (4, None)]


def test_shared_wave_failure_attempts_are_per_bucket(spark, tiny_transcripts, tmp_path, monkeypatch):
    """A never-failed bucket that shares a failing wave with an
    almost-exhausted bucket must be recorded at ITS OWN attempt 1 — not the
    wave maximum, which would escalate it on its first failure and silently
    drop its output from every future resume (r2 advice, medium)."""
    import pdf_extraction_spark.plans.pipeline as pl

    root = str(tmp_path / "w")
    n_buckets = 4
    poison = 1
    io = TableIO(spark, root)
    led = Ledger(io, "r", n_buckets=n_buckets)
    # the poison bucket arrives at this wave one failure short of the cap
    for a in range(1, MAX_ATTEMPTS):
        led.mark_failed([poison], a)

    # one wave holds ALL buckets (n_waves=1) and the poison row kills it
    real = pl.extract_stage
    monkeypatch.setattr(
        pl, "extract_stage", _poison_extract_stage(real, poison, n_buckets)
    )
    s = run_extraction(spark, tiny_transcripts, root, run_id="r",
                       n_buckets=n_buckets, n_waves=1)
    assert s["buckets_failed"] == n_buckets

    attempts = led.attempts()
    assert attempts[poison] == MAX_ATTEMPTS          # exhausted, escalated
    for b in range(n_buckets):
        if b != poison:
            assert attempts[b] == 1, f"bucket {b} inherited the wave maximum"
    assert {r["bucket"] for r in rqmod.pending(io).filter(F.col("kind") == "bucket").collect()} == {poison}

    # with the failure gone, the fresh buckets must still be retryable —
    # only the genuinely exhausted bucket is skipped
    monkeypatch.setattr(pl, "extract_stage", real)
    s2 = run_extraction(spark, tiny_transcripts, root, run_id="r",
                        n_buckets=n_buckets, n_waves=1)
    assert s2["buckets_run"] == n_buckets - 1
    assert s2["buckets_failed"] == 0


def test_ledger_reads_pre_r2_schema(spark, tmp_path):
    """A lineage dir written by the pre-r2 ledger (no attempt / n_buckets /
    input_fp columns) must still resume — including after NEW-format rows
    are appended into the same dir (mixed parquet schemas need mergeSchema;
    a plain read picks one file's footer nondeterministically)."""
    io = TableIO(spark, str(tmp_path / "w"))
    old = spark.createDataFrame(
        [("r", 0, "done", 5, "123")],
        "run_id string, bucket int, status string, n_turns bigint, checksum string",
    ).withColumn("ts", F.current_timestamp())
    io.write(old, "lineage", mode="append")

    led = Ledger(io, "r", n_buckets=4, input_fp="snap")
    st = led.bucket_state()  # must not raise AnalysisException / Mismatch
    assert st["done"] == frozenset({0})

    led.mark_failed([2], 1)  # new-format append into the same directory
    st2 = led.bucket_state()
    assert st2["done"] == frozenset({0})
    assert st2["retryable"] == frozenset({2})
    assert led.attempts() == {0: 0, 2: 1}
