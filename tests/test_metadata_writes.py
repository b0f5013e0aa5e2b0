"""Driver-built metadata writes (``TableIO.frame``) and the pipeline's one
fused read-back (the run aggregate)."""

import os

import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark import fixtures
from pdf_extraction_spark.plans.checkpoint import LEDGER_SCHEMA
from pdf_extraction_spark.plans.observe import OP_METRICS_SCHEMA
from pdf_extraction_spark.plans.pipeline import METRICS_SCHEMA, run_extraction
from pdf_extraction_spark.sources.tables import TableIO

LEDGER_ROWS = [("r", b, "done", 1, 10 * b, str(-(b + 1) * 987654321), 32, "")
               for b in range(32)] + [("r", 40, "failed", 2, 0, "", 32, None)]
METRICS_ROWS = [("r", "primary", 55, 55, 0, 0, 0.77, 1.14, 58.9),
                ("r", "fallback", 478, 461, 3, 14, None, None, 58.9)]
OP_ROWS = [  # dicts, as op_metrics_rows returns them; absent keys are NULL
    {"run_id": "r", "stage": "run_metrics", "depth": 0, "node": "AdaptiveSparkPlan"},
    {"run_id": "r", "stage": "run_metrics", "depth": 3, "node": "Exchange",
     "rows_out": None, "shuffle_bytes_written": 5120, "shuffle_records_written": 8},
    {"run_id": "r", "stage": "run_metrics", "depth": 5, "node": "Scan parquet",
     "rows_out": 533, "files_read": 8, "spill_bytes": 0, "peak_memory": None},
]


def _parquet_files(path):
    return [f for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]


@pytest.mark.parametrize("schema,rows,ts", [
    (LEDGER_SCHEMA, LEDGER_ROWS, True),
    (METRICS_SCHEMA, METRICS_ROWS, False),
    (OP_METRICS_SCHEMA, OP_ROWS, False),
], ids=["lineage", "metrics", "op_metrics"])
def test_frame_writes_one_file_without_python_tasks(spark, tmp_path, schema, rows, ts):
    io = TableIO(spark, str(tmp_path))
    new = io.frame(rows, schema)
    old = spark.createDataFrame(rows, schema)
    if ts:  # the ledger stamps ts in the JVM, at write time
        new, old = (d.withColumn("ts", F.current_timestamp()) for d in (new, old))
    assert new.schema == old.schema

    io.write(new, "t", mode="append")
    assert len(_parquet_files(io.path("t"))) == 1
    plan = new._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan  # no pickled Python RDD, no Python task

    got = io.read("t")
    want_cols = [c for c in old.columns if c != "ts"]
    assert sorted(got.select(want_cols).collect()) == sorted(old.select(want_cols).collect())
    if ts:
        assert dict(got.dtypes)["ts"] == "timestamp"
        assert got.filter(F.col("ts").isNull()).count() == 0


# ---------------------------------------------------------------- read-back

@pytest.fixture()
def small_transcripts(spark):
    return spark.createDataFrame(
        fixtures.transcripts_pandas(n_convs=16, whale_every=8, whale_len=40))


def _lineage(io):
    return sorted((r["bucket"], r["n_turns"], r["checksum"])
                  for r in io.read("lineage").collect())


# p95_extract_ms and throughput_turns_per_sec are wall-clock figures of
# the run that wrote them; every other metrics column is a function of
# the written rows (avg_quality up to the order its partial sums merge in)
_METRIC_COLS = ["run_id", "route", "n_turns", "n_ok", "n_partial", "n_failed"]


def test_fused_readback_equal_across_waves(spark, small_transcripts, tmp_path, monkeypatch):
    reads = []
    real_read = TableIO.read

    def counting_read(self, name, *a, **k):
        reads.append(name)
        return real_read(self, name, *a, **k)

    monkeypatch.setattr(TableIO, "read", counting_read)
    one = TableIO(spark, str(tmp_path / "one"))
    s1 = run_extraction(spark, small_transcripts, one.root, run_id="w", n_buckets=8, n_waves=1)
    assert reads.count("extracted") == 1

    three = TableIO(spark, str(tmp_path / "three"))
    s3 = run_extraction(spark, small_transcripts, three.root, run_id="w", n_buckets=8, n_waves=3)
    monkeypatch.undo()

    assert s1["n_turns"] == s3["n_turns"] > 0
    assert s1["buckets_run"] == s3["buckets_run"] == 8
    lin = _lineage(one)
    assert lin == _lineage(three)
    assert sorted(b for b, _, _ in lin) == list(range(8))
    assert sum(n for _, n, _ in lin) == s1["n_turns"]

    def metrics(io):
        return sorted(tuple(r) for r in io.read("metrics").select(
            *_METRIC_COLS, F.round("avg_quality", 12)).collect())

    assert metrics(one) == metrics(three)
    for io in (one, three):
        for t in ("metrics", "op_metrics"):
            assert len(_parquet_files(io.path(t))) == 1
    assert len(_parquet_files(one.path("lineage"))) == 1
