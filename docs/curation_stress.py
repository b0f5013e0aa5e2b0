#!/usr/bin/env python
"""End-to-end curation-chain stress: the COMPOSED pipeline
(plans/curation.py: quality gate → exact dedup → MinHash/LSH near-dup
clusters → chunk de-repetition → PII/split/pack stats) at ~1M synthetic
extraction-output docs, run at TWO corpus sizes (N/4 and N) so per-stage
scaling is evidenced, not asserted. Generation is JVM-side with
deliberate duplicate structure:

- EXACT dups: every doc with doc_key % 19 == 0 reuses the text of
  doc_key-1 (~5% of the corpus collapses at the exact stage);
- NEAR dups: 5-member families share their first 20 of ~40-80 words
  (shingle Jaccard ≈ 0.19 > 0.1 — LSH-visible, exact-stage-invisible);
- chunk repetition: the shared prefixes create 5-deep hot chunk keys.

Prints one JSON line with per-stage wall seconds at both sizes and the
time ratios (4× data → ratio ≲ 5-6 means nothing went super-linear;
n log n stages legitimately exceed 4.0 slightly). Record in
BENCH/SCALE.md. Run: python docs/curation_stress.py
(env: STRESS_DOCS, default 1_000_000 — the LARGE size;
STRESS_SEMDEDUP=1 enables the optional SemDeDup stage, exercising the
ivf_train k ∝ n escalation inside the composed chain).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_DOCS = int(os.environ.get("STRESS_DOCS", "1000000"))
VOCAB = 4096
FAMILY_SIZE = 5
PREFIX_WORDS = 20


def _gen_extracted(spark, n_docs: int):
    """Synthetic extract_stage output (conv_id, turn_idx, extracted_text,
    quality_score, status), JVM-side only."""
    from pyspark.sql import functions as F

    vocab = F.array(*[F.lit(f"w{i:04d}") for i in range(VOCAB)])
    # doc_key: the content identity; exact dups point at doc_key - 1
    doc_key = F.when(
        (F.col("id") % 19 == 0) & (F.col("id") > 0), F.col("id") - 1
    ).otherwise(F.col("id"))
    n_words = (F.pmod(F.xxhash64(doc_key, F.lit("len")), F.lit(41)) + 40).cast("int")
    family = F.floor(doc_key / FAMILY_SIZE)

    def word_at(i):
        key = F.when(i <= PREFIX_WORDS, F.xxhash64(family, i, F.lit("pfx"))).otherwise(
            F.xxhash64(doc_key, i, F.lit("body"))
        )
        return F.element_at(vocab, (F.pmod(key, F.lit(VOCAB)) + 1).cast("int"))

    return (
        spark.range(n_docs)
        .select(
            F.concat(F.lit("conv_"), (F.col("id") / 50).cast("long").cast("string")).alias("conv_id"),
            (F.col("id") % 50).cast("int").alias("turn_idx"),
            F.array_join(F.transform(F.sequence(F.lit(1), n_words), word_at), " ").alias(
                "extracted_text"
            ),
            (F.pmod(F.xxhash64(F.col("id"), F.lit("q")), F.lit(1000)) / 1000.0).alias(
                "quality_score"
            ),
            F.when(F.col("id") % 40 == 7, F.lit("failed")).otherwise(F.lit("ok")).alias(
                "status"
            ),
        )
        .localCheckpoint(eager=True)  # generation is NOT part of any timing
    )


def main() -> None:
    from pdf_extraction_spark.plans.curation import curate_corpus
    from pdf_extraction_spark.session import build_session

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # single-JVM local mode: driver heap IS the executor heap. The default
    # 8g fits the oracle/test workloads; at 1M docs the LSH verify stage's
    # runtime-sized AQE broadcasts plus the stage checkpoints need the heap
    # a real 32-core executor would have (first attempt died building a
    # ~1 GB broadcast into 8g).
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    spark = build_session(app_name="curation_stress", master=f"local[{cpus}]",
                          shuffle_partitions=4 * cpus)
    semdedup = os.environ.get("STRESS_SEMDEDUP", "0") == "1"
    out: dict = {"cpus": cpus, "semdedup": semdedup, "sizes": {}}
    for n in (N_DOCS // 4, N_DOCS):
        ext = _gen_extracted(spark, n)
        timings: dict = {}
        t0 = time.monotonic()
        stats = curate_corpus(spark, ext, out_root=None, stage_timings=timings,
                              semdedup=semdedup)
        total = round(time.monotonic() - t0, 1)
        out["sizes"][str(n)] = {
            "total_s": total,
            "stages_s": timings,
            "counts": {k: v for k, v in stats.items() if isinstance(v, int)},
        }
        del ext  # its checkpoint blocks go with the last reference
    small, large = (out["sizes"][str(N_DOCS // 4)], out["sizes"][str(N_DOCS)])
    out["stage_time_ratio_4x"] = {
        k: round(large["stages_s"][k] / max(small["stages_s"][k], 1e-3), 2)
        for k in large["stages_s"]
    }
    out["total_time_ratio_4x"] = round(large["total_s"] / max(small["total_s"], 1e-3), 2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
