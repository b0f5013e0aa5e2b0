"""Checkpoint ledger: per-bucket lineage + idempotent resume (C1/C4) and
retry-with-cap escalation (C2).

Re-expression of the reference's idempotency machinery — content-hash dedup
short-circuit (app/routers/extraction.py:110-125), duplicate-insert
resolution (app/db/extractions.py:98-104), retry-state gating with a hard
attempt cap (app/utils/retry.py:37-39, cap=5; escalation to the review
queue app/routers/extraction.py:332-355) — as a tiny append-only ledger:

    lineage(run_id, bucket, status, attempt, n_turns, checksum,
            n_buckets, input_fp, ts)

``status`` is 'done' or 'failed'. A bucket that keeps failing accumulates
'failed' rows; once its attempt count reaches ``MAX_ATTEMPTS`` the pipeline
stops re-running it and escalates it to the ``review_queue`` table instead
(the reference's poison-row guarantee: a deterministic failure must not
retry forever).

The ledger also records the RUN PARAMETERS that make bucket ids meaningful:
``n_buckets`` (bucket = pmod(xxhash64(conv_id), n_buckets)) and an optional
caller-supplied ``input_fp`` fingerprint. Resuming a run_id with different
parameters would silently skip buckets that now map to different
conversations — so ``bucket_state`` FAILS FAST on any mismatch.

The checksum is ORDER-INSENSITIVE and overflow-free:
``bit_xor(xxhash64(conv_id, turn_idx, sha2(extracted_text, 256)))`` over the
bucket's written rows — XOR is commutative, so partition enumeration order
and Spark 4's ANSI overflow rules are both non-issues. Resume =
set-difference of bucket ids (bounded metadata: ≤ n_buckets rows collected
to the driver; no data rows ever leave executors).
"""

from __future__ import annotations

from typing import Dict, FrozenSet, List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdf_extraction_spark.sources.tables import TableIO

LEDGER_TABLE = "lineage"
MAX_ATTEMPTS = 5  # reference app/utils/retry.py:37-39 (max_retries=5)

LEDGER_SCHEMA = (
    "run_id string, bucket int, status string, attempt int, n_turns bigint, "
    "checksum string, n_buckets int, input_fp string"
)


def row_hash() -> Column:
    """The per-row hash whose ``bit_xor`` over a bucket is its checksum."""
    return F.xxhash64("conv_id", "turn_idx", F.sha2(F.col("extracted_text"), 256))


def stats_of(rows) -> List[Dict]:
    """Ledger stats dicts from aggregate rows with bucket / n_turns /
    checksum fields."""
    return [
        {"bucket": int(r["bucket"]), "n_turns": int(r["n_turns"]), "checksum": int(r["checksum"])}
        for r in rows
    ]


class LedgerParamsMismatch(RuntimeError):
    """Resuming a run_id with different n_buckets / input fingerprint."""


class Ledger:
    def __init__(self, io: TableIO, run_id: str, n_buckets: int = 0,
                 input_fp: Optional[str] = None):
        self.io = io
        self.run_id = run_id
        self.n_buckets = int(n_buckets)
        self.input_fp = input_fp or ""

    def _run_rows(self) -> List[Dict]:
        if not self.io.exists(LEDGER_TABLE):
            return []
        # mergeSchema: a ledger dir may mix files from a pre-r2 writer
        # (no attempt/n_buckets/input_fp columns) with current ones; a
        # plain read picks one file's schema nondeterministically. Columns
        # still absent entirely (pure old-format ledger) default to
        # 0 / 0 / '' — the semantics those writers had implicitly.
        df = self.io.read(LEDGER_TABLE, merge_schema=True)
        defaults = {"attempt": F.lit(0), "n_buckets": F.lit(0), "input_fp": F.lit("")}
        for col, default in defaults.items():
            if col not in df.columns:
                df = df.withColumn(col, default)
        rows = (
            df.filter(F.col("run_id") == self.run_id)
            .select("bucket", "status", "attempt", "n_buckets", "input_fp")
            .collect()  # metadata-sized: ≤ n_buckets × attempts rows
        )
        return [r.asDict() for r in rows]

    def _check_params(self, rows: List[Dict]) -> None:
        for r in rows:
            if self.n_buckets and r["n_buckets"] and r["n_buckets"] != self.n_buckets:
                raise LedgerParamsMismatch(
                    f"run_id={self.run_id!r} was ledgered with n_buckets="
                    f"{r['n_buckets']}, resume requested n_buckets={self.n_buckets}; "
                    "bucket ids are not comparable — use a new run_id."
                )
            if self.input_fp and r["input_fp"] and r["input_fp"] != self.input_fp:
                raise LedgerParamsMismatch(
                    f"run_id={self.run_id!r} was ledgered with input_fp="
                    f"{r['input_fp']!r}, resume provided {self.input_fp!r}; "
                    "the input changed — use a new run_id."
                )

    def bucket_state(self) -> Dict[str, FrozenSet[int]]:
        """done / failed-retryable / exhausted bucket sets for this run_id.
        Fails fast if the ledgered run parameters differ from ours."""
        rows = self._run_rows()
        self._check_params(rows)
        done = {r["bucket"] for r in rows if r["status"] == "done"}
        attempts: Dict[int, int] = {}
        for r in rows:
            if r["status"] == "failed" and r["bucket"] not in done:
                attempts[r["bucket"]] = max(attempts.get(r["bucket"], 0), r["attempt"] or 0)
        exhausted = {b for b, a in attempts.items() if a >= MAX_ATTEMPTS}
        retryable = set(attempts) - exhausted
        return {
            "done": frozenset(done),
            "retryable": frozenset(retryable),
            "exhausted": frozenset(exhausted),
        }

    def attempts(self) -> Dict[int, int]:
        """Highest recorded attempt number PER bucket — one ledger read."""
        rows = self._run_rows()
        out: Dict[int, int] = {}
        for r in rows:
            out[r["bucket"]] = max(out.get(r["bucket"], 0), r["attempt"] or 0)
        return out

    @staticmethod
    def bucket_stats(written: DataFrame) -> List[Dict]:
        """Per-bucket n_turns + order-insensitive checksum of written rows."""
        rows = (
            written.groupBy("bucket")
            .agg(F.count("*").alias("n_turns"), F.bit_xor(row_hash()).alias("checksum"))
            .collect()  # ≤ buckets-per-wave rows
        )
        return stats_of(rows)

    def _append(self, tuples: List[tuple]) -> None:
        df = self.io.frame(tuples, LEDGER_SCHEMA).withColumn("ts", F.current_timestamp())
        self.io.write(df, LEDGER_TABLE, mode="append")

    def mark_done(self, stats: List[Dict], attempt: int = 1) -> None:
        if not stats:
            return
        self._append(
            [
                (self.run_id, s["bucket"], "done", attempt, s["n_turns"],
                 str(s["checksum"]), self.n_buckets, self.input_fp)
                for s in stats
            ]
        )

    def mark_failed(self, buckets: List[int], attempt: int) -> None:
        """Record one failed attempt for each bucket (C2: attempts as data)."""
        if not buckets:
            return
        self._append(
            [
                (self.run_id, int(b), "failed", attempt, 0, "",
                 self.n_buckets, self.input_fp)
                for b in buckets
            ]
        )
