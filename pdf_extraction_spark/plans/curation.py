"""Corpus curation: the end-to-end training-data pipeline composed from
this engine's operators — what a user actually runs between raw
transcripts and a training corpus.

    extract_stage output
      → quality gate        (status == ok, quality_score ≥ threshold)
      → exact dedup         (md5 keep-first — C1 generalized corpus-wide)
      → near-dup dedup      (MinHash/LSH pairs → star-contraction clusters
                             → keep each cluster's canonical member)
      → semantic dedup      (OPTIONAL, --semdedup: feature-hash embeddings
                             → ivf_train k ∝ n centroids → SemDeDup
                             within-cluster groups → keep the longest
                             member — catches paraphrase-grade duplicates
                             the token-overlap stages cannot)
      → chunk de-repetition (drop docs whose word-10-gram duplicate mass
                             vs earlier corpus content exceeds the cap —
                             the Lee et al. 2022 exact-substring form)
      → PII redaction       (codegen regex mask, hit counts kept as columns)
      → deterministic split (hash-range train/val/test — growth-stable,
                             resumable: a row's split never depends on the
                             rest of the corpus)
      → curated table       (written split-partitioned) + per-stage stats
                             incl. per-split token-budget pack counts

Every stage is one of the independently-oracled operators; this module
only composes them, so its correctness surface is (a) stage counts are
monotone non-increasing through the filters, (b) the output has no
duplicate content hash, (c) the whole pipeline is deterministic
(re-running produces a bit-identical table). All three are pinned in
tests/test_curation.py.

Each counted stage ends in ``_materialize``: a lazy ``localCheckpoint``
whose row count is the one job that materializes it (an eager checkpoint
spends a second job counting the same rows and throws that count away).
The counts go into one ordered stage record of ``(name, n_docs)``; the
returned stats, the ``stage_timings`` laps and the ``curation_stats``
table are all read off it, so each optional stage is chosen in one place.

Scale notes: the doc key is ``xxhash64(conv_id, turn_idx)`` — deterministic
under re-execution (a row_number would not be). The near-dup stage
dominates cost and inherits the capped-band LSH plan; everything else is
map-only or single-shuffle. Stats are one row per stage (driver-safe).
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_extraction_spark.operators.corpus import PACK_BUDGET, chunk_dup_fractions
from pdf_extraction_spark.operators.dedup import minhash_lsh_pairs, neardup_clusters
from pdf_extraction_spark.operators.sampling import dataset_split
from pdf_extraction_spark.operators.scrub import EMAIL_RE, PHONE_RE
from pdf_extraction_spark.sources.tables import TableIO

MIN_QUALITY = 0.3


class CurationLeakageError(RuntimeError):
    """Raised by curate_corpus when --audit-leakage runs with a fail
    threshold and a held split's leaking-doc fraction exceeds it. The
    curated table is already written (the audit reads it back in spirit —
    it runs over the same curated relation), so the caller can inspect
    the leakage_audit table before deciding to republish splits."""


def _keep_first(docs: DataFrame) -> DataFrame:
    """md5 keep-first: (re)compute ``text_md5`` and keep one row per hash,
    the min doc_id (deterministic)."""
    hashed = docs.withColumn("text_md5", F.md5("extracted_text"))
    keep = hashed.groupBy("text_md5").agg(F.min("doc_id").alias("doc_id"))
    return hashed.join(keep, ["text_md5", "doc_id"], "left_semi")


def _materialize(df: DataFrame, *sums: str) -> Tuple[DataFrame, List[int]]:
    """Checkpoint ``df`` lazily; one aggregate — the row count, then the
    sum of each ``sums`` column — is the job that materializes it. Returns
    the checkpointed frame and ``[n_rows, *column_sums]``."""
    df = df.localCheckpoint(eager=False)
    row = df.agg(F.count("*"), *(F.sum(c) for c in sums)).collect()[0]
    return df, [int(v or 0) for v in row]


SEM_DEDUP_TAU = 0.8  # feature-hash cosine for the optional semantic stage;
# stricter than SemDeDup's 0.35 embedding-space default — hash embeddings
# share common-word mass across unrelated docs, so the duplicate bar is
# higher


def curate_corpus(
    spark: SparkSession,
    extracted: DataFrame,
    out_root: Optional[str] = None,
    min_quality: float = MIN_QUALITY,
    max_chunk_dup: float = 0.8,
    stage_timings: Optional[dict] = None,
    derep: str = "chunk",
    line_dedup: bool = False,
    semdedup: bool = False,
    sem_tau: float = SEM_DEDUP_TAU,
    audit_leakage: bool = False,
    leakage_fail_frac: Optional[float] = None,
) -> dict:
    """Run the curation chain over extraction output; returns per-stage
    stats. When ``out_root`` is given the curated corpus is written there
    (table ``curated``, partitioned by split) along with a one-row-per-
    stage ``curation_stats`` table. ``stage_timings`` (optional) receives
    per-stage wall seconds — each counted stage ends in its materializing
    count (``_materialize``), so the laps measure actual work, not
    lazy-plan assembly. Used by docs/curation_stress.py for the
    composed-chain scaling evidence. ``derep`` is validated before any
    Spark job runs."""
    if derep not in ("chunk", "exact"):
        raise ValueError(f"derep must be 'chunk' or 'exact', got {derep!r}")
    import time as _time

    stages: List[Tuple[str, int]] = []  # (name, n_docs) in chain order
    _t = _time.monotonic()

    def _lap(name: str) -> None:
        nonlocal _t
        now = _time.monotonic()
        if stage_timings is not None:
            stage_timings[name] = round(now - _t, 3)
        _t = now

    def _stage(name: str, n_docs: int) -> None:
        stages.append((name, n_docs))
        _lap(name)

    docs = extracted.select(
        F.xxhash64("conv_id", "turn_idx").alias("doc_id"),
        "conv_id", "turn_idx", "extracted_text", "quality_score", "status",
    )
    # 1. quality gate — the reference's routing threshold logic as a
    # filter; input + gated counts come from ONE pass over the input
    passes = (F.col("status") == "ok") & (F.col("quality_score") >= min_quality)
    counts = docs.agg(
        F.count("*").alias("n_in"),
        F.sum(passes.cast("int")).alias("n_ok"),
    ).collect()[0]
    stages.append(("input", int(counts["n_in"])))
    gated = docs.filter(passes)
    _stage("quality_gate", int(counts["n_ok"] or 0))

    # 2. exact dedup: md5 keep-first. Checkpointed: `exact` feeds the
    # near-dup corpus, the anti-join AND its own count — without it the
    # gate→md5→dedup subtree re-runs for every downstream action
    exact, (n,) = _materialize(_keep_first(gated))
    _stage("exact_dedup", n)

    # 2b. OPTIONAL corpus-wide line-grain dedup (--line-dedup): CCNet's
    # paragraph dedup stage (Wenzek et al. 2020 §3.1) over the extracted
    # lines — boilerplate that repeats ACROSS documents (nav banners,
    # footers) survives document-grain dedup and is removed here line by
    # line, keeping each distinct normalized line's corpus-first
    # occurrence. Docs whose rewritten text is empty are dropped; the
    # exact keep-first is re-applied to the rewritten text (two docs can
    # collapse to the same residue — e.g. both reduce to blank-normalized
    # lines — and the downstream invariant is "curated text_md5 is
    # unique").
    n_lines_removed = n_line_chars_removed = 0
    if line_dedup:
        from pdf_extraction_spark.operators.filtering import ccnet_line_dedup

        ld = ccnet_line_dedup(
            exact.select("doc_id", F.col("extracted_text").alias("text"))
        )
        rewritten = exact.drop("extracted_text").join(
            ld.select(
                "doc_id",
                F.col("new_text").alias("extracted_text"),
                "n_lines_removed",
                "n_chars_removed",
            ),
            "doc_id",
        )
        exact, (n, n_lines_removed, n_line_chars_removed) = _materialize(
            _keep_first(rewritten.filter(F.trim("extracted_text") != "")),
            "n_lines_removed", "n_chars_removed",
        )
        exact = exact.drop("n_lines_removed", "n_chars_removed")
        _stage("line_dedup", n)

    # 3. near-dup dedup over the survivors: verified pairs → components →
    #    keep each cluster's min-id member. neardup_clusters checkpoints
    #    the edge set it re-reads, so the pair lineage runs once.
    corpus = exact.select("doc_id", F.col("extracted_text").alias("text"))
    clusters = neardup_clusters(minhash_lsh_pairs(corpus))
    dropped = clusters.filter(F.col("doc_id") != F.col("keeper")).select("doc_id")
    neardup, (n,) = _materialize(exact.join(dropped, "doc_id", "left_anti"))
    _stage("neardup_dedup", n)

    # 3a. OPTIONAL semantic dedup (SemDeDup, Abbas et al. 2023): drop docs
    # that are semantically near-identical to a surviving higher-quality
    # doc even when their token overlap is below the MinHash bar
    # (paraphrases, re-renderings). Embeddings are the deterministic
    # feature-hash vectors (operators/embed.py); centroids come from
    # `ivf_train` with k ∝ corpus size — the escalation seam — so the
    # within-cluster comparison volume stays linear in n.
    if semdedup:
        from pdf_extraction_spark.operators.embed import hash_embed
        from pdf_extraction_spark.operators.semdedup import sem_k_for, semantic_members
        from pdf_extraction_spark.operators.similarity import ivf_train

        emb_frame = neardup.select(
            F.col("doc_id").alias("vec_id"),
            hash_embed(F.col("extracted_text")).alias("embedding"),
        ).localCheckpoint(eager=True)  # ivf_train re-scans per Lloyd iteration
        cents = ivf_train(emb_frame, k=sem_k_for(n), iters=2)
        quality = neardup.select(
            F.col("doc_id").alias("vec_id"),
            F.length("extracted_text").alias("n_chars"),
        )
        _assigned, members = semantic_members(
            spark, sf="", centroids=cents, embeddings=emb_frame,
            quality=quality, tau=sem_tau,
        )
        sem_drop = members.filter(F.col("vec_id") != F.col("best_id")).select(
            F.col("vec_id").alias("doc_id")
        )
        neardup, (n,) = _materialize(neardup.join(sem_drop, "doc_id", "left_anti"))
        _stage("semantic_dedup", n)

    # 3b. repetition filter: a doc that survived document-grain dedup can
    # still be MOSTLY content already seen elsewhere in the corpus
    # (template spam, boilerplate mosaics). Two selectable forms:
    #   derep="chunk" (default): word-10-gram NON-OVERLAPPING keep-first
    #     (the cheap aligned approximation; first occurrence of any
    #     repeated content always survives);
    #   derep="exact": the full Lee et al. 2022 ExactSubstr mass from the
    #     suffix-array operator — positions covered by ANY repeated
    #     ≥10-token substring, sliding. Per doc exact_frac ≥ chunk_frac
    #     (every duplicated aligned chunk is a duplicated sliding window),
    #     so "exact" drops a superset at the same threshold — pinned in
    #     tests/test_curation.py.
    corpus_txt = neardup.select("doc_id", F.col("extracted_text").alias("text"))
    if derep == "chunk":
        fracs = chunk_dup_fractions(corpus_txt)
    else:
        from pdf_extraction_spark.operators.sarray import duplicated_token_mass

        n_words = corpus_txt.select(
            "doc_id", F.size(F.split("text", " ")).alias("_nw")
        )
        fracs = (
            n_words.join(duplicated_token_mass(corpus_txt), "doc_id", "left")
            .select(
                "doc_id",
                F.round(F.coalesce("dup_words", F.lit(0)) / F.col("_nw"), 6).alias("dup_frac"),
            )
        )
    too_dup = fracs.filter(F.col("dup_frac") > max_chunk_dup).select("doc_id")
    # checkpointed like the sibling stages: the chunk window is the
    # heaviest new subtree and feeds both this count and the redaction
    dereped, (n,) = _materialize(neardup.join(too_dup, "doc_id", "left_anti"))
    # stage name carries the active mode ('derep_chunk' / 'derep_exact') so
    # stress/telemetry output says which algorithm the lap measured
    _stage(f"derep_{derep}", n)

    # 4. PII redaction — same codegen mask as the oracled redact_pii query
    redacted = dereped.select(
        "doc_id", "conv_id", "turn_idx", "quality_score", "text_md5",
        F.regexp_replace(
            F.regexp_replace("extracted_text", EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ).alias("text"),
        (F.regexp_count("extracted_text", F.lit(EMAIL_RE))
         + F.regexp_count("extracted_text", F.lit(PHONE_RE))).alias("n_pii_hits"),
    )

    # 5. growth-stable split on the doc key. Checkpointed lazily: the
    # curated relation serves the stats AND the write, and the stats
    # aggregate below reads every row of it anyway, so it materializes the
    # redaction pass once; split mix and PII count share one aggregation
    curated = dataset_split(redacted, "doc_id").localCheckpoint(eager=False)
    # per-split packing stats (token-budget sequence packing over the
    # curated output: what the training loader consumes) — the running-sum
    # window rides the same split/doc ordering the write uses
    from pyspark.sql import Window as W

    wtok = W.partitionBy("split").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    with_tok = curated.withColumn("_tok", F.size(F.split("text", " ")))
    with_pack = with_tok.withColumn(
        "pack_id",
        F.floor((F.sum("_tok").over(wtok) - F.col("_tok")) / F.lit(float(PACK_BUDGET))).cast("bigint"),
    )
    stat_rows = with_pack.groupBy("split").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("n_pii_hits") > 0, 1).otherwise(0)).alias("n_pii"),
        # countDistinct, not max+1: a doc longer than PACK_BUDGET makes the
        # running-sum floor skip pack ids, and phantom empty packs must not
        # be counted (overflow-by-one semantics — the oversized doc owns one
        # real pack, the skipped ids never exist)
        F.countDistinct("pack_id").alias("n_packs"),
    ).collect()
    mix = {r["split"]: int(r["n"]) for r in stat_rows}
    n_pii = sum(int(r["n_pii"] or 0) for r in stat_rows)
    n_packs = {r["split"]: int(r["n_packs"]) for r in stat_rows}
    _lap("redact_split_stats")

    # 6. OPTIONAL split-leakage audit (--audit-leakage): the published-
    # splits gate The Pile/C4 run — after the split is final, no held-out
    # document may share a training-grain word 10-gram with a train doc.
    # Same oracled operator as the `split_leakage_audit` query, composed
    # over the curated relation (it gates its own held-gram broadcast).
    leak_rows: list = []
    if audit_leakage:
        from pdf_extraction_spark.operators.filtering import split_leakage_stats

        leak_rows = split_leakage_stats(
            curated.select("doc_id", "split", "text"), "text"
        ).collect()  # ≤ one row per held split
        _lap("leakage_audit")

    # stage counts → stats keys, in chain order; a stage the options left
    # out passes its input's count through
    recorded = dict(stages)
    stats: dict = {}
    n = 0
    for name, key in (
        ("input", "n_input"),
        ("quality_gate", "n_quality_gated"),
        ("exact_dedup", "n_after_exact_dedup"),
        ("line_dedup", "n_after_line_dedup"),
        ("neardup_dedup", "n_after_neardup"),
        ("semantic_dedup", "n_after_semdedup"),
        (f"derep_{derep}", "n_after_derep"),
    ):
        n = recorded.get(name, n)
        stats[key] = n
    stats.update(
        line_dedup_enabled="line_dedup" in recorded,
        n_dedup_lines_removed=n_lines_removed,
        n_dedup_line_chars_removed=n_line_chars_removed,
        semdedup_enabled="semantic_dedup" in recorded,
        derep_mode=derep,
        n_docs_with_pii=n_pii,
        split_mix=dict(sorted(mix.items())),
        pack_counts=dict(sorted(n_packs.items())),
    )
    if audit_leakage:
        # zero rows for held splits with no leakage (the groupBy only emits
        # splits with >=1 leaking doc) so the audit always covers every
        # held split present in the mix
        by_split = {r["held_split"]: r for r in leak_rows}
        stats["leakage"] = {
            split: {
                "n_held_docs_leaking": int(r["n_held_docs_leaking"]) if r else 0,
                "n_train_docs_implicated": int(r["n_train_docs_implicated"]) if r else 0,
                "n_shared_grams": int(r["n_shared_grams"]) if r else 0,
                "leak_frac": round(
                    (int(r["n_held_docs_leaking"]) if r else 0)
                    / max(mix.get(split, 0), 1), 6
                ),
            }
            for split, r in sorted(
                (s, by_split.get(s)) for s in mix if s != "train"
            )
        }

    if out_root:
        io = TableIO(spark, out_root)
        io.write(curated, "curated", mode="overwrite", partition_by=["split"])
        io.write(
            io.frame(stages, "stage string, n_docs bigint"),
            "curation_stats", mode="overwrite",
        )
        if audit_leakage:
            io.write(
                io.frame(
                    [(split, v["n_held_docs_leaking"],
                      v["n_train_docs_implicated"], v["n_shared_grams"])
                     for split, v in sorted(stats["leakage"].items())],
                    "held_split string, n_held_docs_leaking bigint, "
                    "n_train_docs_implicated bigint, n_shared_grams bigint",
                ),
                "leakage_audit", mode="overwrite",
            )
        _lap("write")

    if audit_leakage and leakage_fail_frac is not None:
        worst = max(
            (v["leak_frac"] for v in stats["leakage"].values()), default=0.0
        )
        if worst > leakage_fail_frac:
            raise CurationLeakageError(
                f"held-out leakage {worst:.4f} exceeds --leakage-fail-frac "
                f"{leakage_fail_frac}: {stats['leakage']} (curated + "
                f"leakage_audit tables are written for inspection)"
            )
    return stats
