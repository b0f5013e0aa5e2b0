"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``  : flagship extraction pipeline on sf0.001 (documents →
  synthetic transcripts → vectorized mapInPandas extraction → route/status
  aggregate).
- ``queries()``     : one entry per implemented operator (SURVEY.md §2 +
  the training-data operator set), each ``(spark, sf_dir) -> DataFrame``.
- ``oracle_sql()``  : DuckDB-runnable ANSI SQL twins, identically aliased.
  Every registered query has an oracle (since r4: the IVF top-k runs with
  exhaustive probing, making it bit-identical to the brute-force SQL; the
  pruned-probe path is envelope-gated by ``ann_ivf_recall``). SimHash (md5
  word hashes) and sign-LSH buckets (integer plane family) are likewise
  bit-identical.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: run the extraction stage over transcripts synthesized
    deterministically from the sf0.001 documents table; return per
    (route, status, doc_kind) counts + avg quality."""
    from pyspark.sql import Window as W

    from pdf_extraction_spark.plans.pipeline import extract_stage

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    w = W.partitionBy("conv_id").orderBy("doc_id")
    transcripts = (
        docs.withColumn("conv_id", F.concat(F.lit("conv_"), F.lpad((F.col("doc_id") % 20).cast("string"), 6, "0")))
        .withColumn("turn_idx", (F.row_number().over(w) - 1).cast("int"))
        .withColumn("role", F.element_at(F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
                                         (F.col("turn_idx") % 3) + 1))
        .withColumn("tool", F.when(F.col("role") == "tool", F.lit("web_fetch")))
        .withColumn("ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(secs=F.col("turn_idx") * 17))
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    )
    extracted = extract_stage(transcripts)
    return (
        extracted.groupBy("route", "status", "doc_kind")
        .agg(
            F.count("*").alias("n_turns"),
            F.round(F.avg("quality_score"), 6).alias("avg_quality"),
            F.sum(F.length("extracted_text")).alias("total_chars"),
        )
        .orderBy("route", "status", "doc_kind")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from pdf_extraction_spark.operators import all_queries

    return {name: fn for name, (fn, _sql) in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    from pdf_extraction_spark.operators import all_queries

    return {name: sql for name, (_fn, sql) in all_queries().items() if sql is not None}
