#!/usr/bin/env python
"""spark-submit entrypoint for the extraction pipeline (north rule: the job
runs via ``spark-submit --py-files`` on a multi-executor cluster).

Packaging + launch:

    cd /root/repo && zip -qr /tmp/pdf_extraction_spark.zip pdf_extraction_spark
    spark-submit --py-files /tmp/pdf_extraction_spark.zip run_job.py \
        --input  <transcripts dir/table> \
        --output <warehouse root> \
        --run-id nightly-2024-01-01 \
        --n-buckets 4096 --salt-turns 1000 --resume

On a real cluster drop the --master flag (inherit from spark-submit); in
this sandbox it defaults to local[$SPARK_GRAFT_CPUS]. The job is idempotent:
re-running with the same --run-id resumes from the lineage ledger.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="transcript main-content extraction")
    ap.add_argument("--input", required=True, help="transcripts parquet dir (or Iceberg table path)")
    ap.add_argument("--output", required=True, help="warehouse root for extracted/lineage/metrics")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--n-buckets", type=int, default=256)
    ap.add_argument("--salt-turns", type=int, default=1000)
    ap.add_argument("--n-waves", type=int, default=1)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--resume", action="store_true", default=True)
    ap.add_argument("--no-resume", dest="resume", action="store_false")
    ap.add_argument("--master", default=None, help="override only for local runs")
    ap.add_argument(
        "--curate", action="store_true",
        help="after extraction, run the curation chain (quality gate → exact "
             "dedup → near-dup clustering → PII mask → splits) into "
             "<output>/curated (+ curation_stats)",
    )
    ap.add_argument(
        "--derep", choices=("chunk", "exact"), default="chunk",
        help="repetition filter for --curate: 'chunk' = aligned word-10-gram "
             "keep-first (cheap approximation), 'exact' = full suffix-array "
             "exact-substring coverage (Lee et al. 2022)",
    )
    ap.add_argument(
        "--line-dedup", action="store_true",
        help="add CCNet's corpus-wide line-grain dedup stage to --curate "
             "(normalize/hash each extracted line, keep the corpus-first "
             "occurrence, reassemble; drops docs whose text empties)",
    )
    ap.add_argument(
        "--semdedup", action="store_true",
        help="add the optional semantic-dedup stage to --curate (feature-"
             "hash embeddings, ivf_train k ∝ n centroids, SemDeDup "
             "within-cluster groups, longest-member keeper)",
    )
    ap.add_argument(
        "--audit-leakage", action="store_true",
        help="after --curate's split stage, run the train/held-out "
             "word-10-gram leakage audit over the curated corpus (writes a "
             "leakage_audit table next to curated; the published-splits gate "
             "The Pile/C4 run)",
    )
    ap.add_argument(
        "--leakage-fail-frac", type=float, default=None,
        help="with --audit-leakage: exit non-zero if any held split's "
             "leaking-doc fraction exceeds this (tables are still written "
             "for inspection)",
    )
    ap.add_argument(
        "--compact", action="store_true",
        help="after extraction, binpack the extracted table's bucket "
             "partitions (checksum-verified; resumed/wave-committed runs "
             "fragment partitions into many small files)",
    )
    ap.add_argument(
        "--ingest", action="store_true",
        help="INSTEAD of extraction: treat --input as a document batch "
             "(doc_id, text) and append it to the persisted exact-substring "
             "warehouse at --output (corpus / gram_index / dup_report tables; "
             "plans/incremental.py). --run-id is the batch id — re-running "
             "the same id is a no-op, a crashed run resumes",
    )
    ap.add_argument(
        "--compact-index", action="store_true",
        help="with --ingest: after the append, re-sum gram_index to one row "
             "per gram (verified staged swap; delta results are invariant)",
    )
    ap.add_argument(
        "--admit-unique", action="store_true",
        help="with --ingest: run the Bloom-prefiltered exact-dedup admission "
             "gate — only documents novel to (batch ∪ store) reach the "
             "warehouse; maintains doc_hashes + bloom filter tables",
    )
    ap.add_argument(
        "--rebuild-bloom", action="store_true",
        help="with --ingest --admit-unique: after the append, resize the "
             "Bloom filter from the true store size (verified staged swap); "
             "also the one-time migration of a bloom table written before "
             "the filter size became its m_bits column",
    )
    args = ap.parse_args(argv)

    from pdf_extraction_spark.plans.pipeline import run_extraction
    from pdf_extraction_spark.session import build_session

    if args.ingest:
        from pdf_extraction_spark.plans.incremental import (
            append_batch,
            compact_gram_index,
            rebuild_bloom,
        )

        spark = build_session(app_name=f"ingest:{args.run_id}", master=args.master)
        docs = spark.read.parquet(args.input).select("doc_id", "text")
        summary = append_batch(spark, args.output, docs, batch_id=args.run_id,
                               admit_unique=args.admit_unique)
        if args.compact_index:
            summary["index_compaction"] = compact_gram_index(spark, args.output)
        if args.rebuild_bloom:
            summary["bloom_rebuild"] = rebuild_bloom(spark, args.output)
        print(json.dumps(summary))
        spark.stop()
        return 0

    spark = build_session(app_name=f"extract:{args.run_id}", master=args.master)
    transcripts = spark.read.parquet(args.input)
    summary = run_extraction(
        spark,
        transcripts,
        args.output,
        run_id=args.run_id,
        n_buckets=args.n_buckets,
        salt_turns=args.salt_turns,
        n_waves=args.n_waves,
        partitions=args.partitions,
        resume=args.resume,
    )
    if args.compact:
        from pdf_extraction_spark.sources.maintenance import compact_table
        from pdf_extraction_spark.sources.tables import TableIO

        summary["compaction"] = compact_table(
            TableIO(spark, args.output), "extracted", partition_by=["bucket"]
        )

    if args.curate:
        from pdf_extraction_spark.plans.curation import (
            CurationLeakageError,
            curate_corpus,
        )
        from pdf_extraction_spark.sources.tables import TableIO

        extracted = TableIO(spark, args.output).read("extracted")
        try:
            summary["curation"] = curate_corpus(
                spark, extracted, out_root=args.output,
                derep=args.derep, line_dedup=args.line_dedup,
                semdedup=args.semdedup,
                audit_leakage=args.audit_leakage,
                leakage_fail_frac=args.leakage_fail_frac,
            )
        except CurationLeakageError as e:
            print(json.dumps({**summary, "curation_error": str(e)}))
            spark.stop()
            return 3

    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
