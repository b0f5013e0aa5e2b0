"""End-to-end corpus curation (plans/curation.py): stage monotonicity,
dedup guarantees, PII masking, and full-pipeline determinism."""

import os

import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark import fixtures
from pdf_extraction_spark.plans.curation import curate_corpus
from pdf_extraction_spark.plans.pipeline import extract_stage
from pdf_extraction_spark.sources.tables import TableIO


@pytest.fixture(scope="module")
def extracted(spark):
    pdf = fixtures.transcripts_pandas(n_convs=30, whale_every=10, whale_len=40)
    df = spark.createDataFrame(pdf)
    # inject PII + an exact duplicate pair so the respective stages have
    # observable work even if fixtures drift
    df = df.withColumn(
        "text",
        F.when(F.col("turn_idx") == 1,
               F.concat(F.col("text"), F.lit(" reach me at probe@example.com")))
        .otherwise(F.col("text")),
    )
    return extract_stage(df).localCheckpoint(eager=True)


# curation_stats stage name -> the returned stats key holding its count
_STAGE_STAT = {
    "input": "n_input",
    "quality_gate": "n_quality_gated",
    "exact_dedup": "n_after_exact_dedup",
    "line_dedup": "n_after_line_dedup",
    "neardup_dedup": "n_after_neardup",
    "semantic_dedup": "n_after_semdedup",
    "derep_chunk": "n_after_derep",
}


def _assert_views_agree(io, stats, timings, stages, laps):
    """The three views of the stage record cannot drift: the
    curation_stats rows are exactly ``stages`` with the returned counts,
    and the stage_timings keys are ``laps`` in chain order."""
    table = {r["stage"]: r["n_docs"] for r in io.read("curation_stats").collect()}
    assert table == {s: stats[_STAGE_STAT[s]] for s in stages}
    assert list(timings) == laps


def test_curation_stage_invariants(spark, extracted, tmp_path):
    out = str(tmp_path / "cur")
    timings: dict = {}
    stats = curate_corpus(spark, extracted, out_root=out, stage_timings=timings)

    # monotone shrink through the filtering stages
    assert (stats["n_input"] >= stats["n_quality_gated"]
            >= stats["n_after_exact_dedup"] >= stats["n_after_neardup"]
            >= stats["n_after_derep"])
    assert stats["n_after_derep"] > 0
    # splits cover the survivors exactly
    assert sum(stats["split_mix"].values()) == stats["n_after_derep"]
    assert set(stats["split_mix"]) <= {"train", "val", "test"}
    # pack counts: at least one pack per non-empty split, and no more
    # packs than docs
    for split, n in stats["split_mix"].items():
        assert 1 <= stats["pack_counts"][split] <= n
    # the injected addresses survive gating and are masked
    assert stats["n_docs_with_pii"] > 0

    io = TableIO(spark, out)
    curated = io.read("curated")
    # no duplicate content remains
    n = curated.count()
    assert curated.select("text_md5").distinct().count() == n
    # no unmasked PII text anywhere
    assert curated.filter(F.col("text").contains("probe@example.com")).count() == 0
    assert curated.filter(F.col("text").contains("<EMAIL>")).count() > 0
    # stage stats table and laps mirror the returned dict
    _assert_views_agree(
        io, stats, timings,
        ["input", "quality_gate", "exact_dedup", "neardup_dedup", "derep_chunk"],
        ["quality_gate", "exact_dedup", "neardup_dedup", "derep_chunk",
         "redact_split_stats", "write"],
    )


def test_curation_is_deterministic(spark, extracted, tmp_path):
    """Re-running the whole chain must produce the identical corpus —
    resumable curation depends on it (hash keys, not row order)."""
    a = curate_corpus(spark, extracted, out_root=str(tmp_path / "a"))
    b = curate_corpus(spark, extracted, out_root=str(tmp_path / "b"))
    assert a == b

    def checksum(root):
        df = TableIO(spark, root).read("curated")
        return df.agg(
            F.count("*"),
            F.bit_xor(F.xxhash64(*[F.col(c) for c in sorted(df.columns)])),
        ).collect()[0]

    assert checksum(str(tmp_path / "a")) == checksum(str(tmp_path / "b"))


def test_exact_derep_mode_drops_superset(spark, extracted, tmp_path):
    """derep='exact' (suffix-array sliding coverage) vs derep='chunk'
    (aligned 10-gram keep-first): per doc exact_frac >= chunk_frac —
    every duplicated aligned chunk is a duplicated sliding window — so at
    the same threshold the exact mode drops a SUPERSET of documents, and
    with a low threshold it has observable extra work on the whale-heavy
    fixture corpus."""
    chunk = curate_corpus(spark, extracted, max_chunk_dup=0.3)
    exact = curate_corpus(spark, extracted, max_chunk_dup=0.3, derep="exact")
    # identical upstream stages
    for k in ("n_input", "n_quality_gated", "n_after_exact_dedup", "n_after_neardup"):
        assert chunk[k] == exact[k]
    assert exact["n_after_derep"] <= chunk["n_after_derep"]
    assert exact["n_after_derep"] > 0
    # determinism holds for the exact mode too
    again = curate_corpus(spark, extracted, max_chunk_dup=0.3, derep="exact")
    assert exact == again


def test_semdedup_stage_ordering_and_determinism(spark, extracted, tmp_path):
    """Optional semantic-dedup stage: sits between near-dup and derep,
    keeps the count chain monotone, is deterministic, and drops strictly
    more at a looser cosine threshold (threshold monotonicity)."""
    base = curate_corpus(spark, extracted)
    assert base["semdedup_enabled"] is False
    assert base["n_after_semdedup"] == base["n_after_neardup"]  # pass-through

    on = curate_corpus(spark, extracted, out_root=str(tmp_path / "sem"), semdedup=True)
    assert on["semdedup_enabled"] is True
    # stage ordering: neardup >= semdedup >= derep, upstream identical
    for k in ("n_input", "n_quality_gated", "n_after_exact_dedup", "n_after_neardup"):
        assert on[k] == base[k]
    assert on["n_after_neardup"] >= on["n_after_semdedup"] >= on["n_after_derep"] > 0
    assert sum(on["split_mix"].values()) == on["n_after_derep"]
    # the stats table records the stage
    stages = {r["stage"]: r["n_docs"]
              for r in TableIO(spark, str(tmp_path / "sem")).read("curation_stats").collect()}
    assert stages["semantic_dedup"] == on["n_after_semdedup"]
    # deterministic (out_root does not affect the stats)
    again = curate_corpus(spark, extracted, semdedup=True)
    assert on == again
    # looser tau can only drop more (every >= tau' pair is >= tau for tau' <= tau)
    loose = curate_corpus(spark, extracted, semdedup=True, sem_tau=0.3)
    assert loose["n_after_semdedup"] <= on["n_after_semdedup"]


def test_derep_mode_validated(spark, extracted):
    """An invalid derep mode fails before the chain starts any Spark job."""
    sc = spark.sparkContext
    group = "test_derep_mode_validated"
    sc.setJobGroup(group, "invalid derep mode")
    try:
        with pytest.raises(ValueError, match="derep"):
            curate_corpus(spark, extracted, derep="bogus")
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_leakage_audit_stage(spark, extracted, tmp_path):
    """--audit-leakage: the train/held-out 10-gram audit runs over the
    curated relation, covers every held split in the mix (zeros when no
    leakage), mirrors into the leakage_audit table, and is deterministic."""
    out = str(tmp_path / "aud")
    stats = curate_corpus(spark, extracted, out_root=out, audit_leakage=True)

    held = {s for s in stats["split_mix"] if s != "train"}
    assert set(stats["leakage"]) == held
    for split, v in stats["leakage"].items():
        assert 0 <= v["n_held_docs_leaking"] <= stats["split_mix"][split]
        assert 0.0 <= v["leak_frac"] <= 1.0
        assert v["n_train_docs_implicated"] >= 0
        # leaking docs imply shared grams and implicated train docs
        if v["n_held_docs_leaking"]:
            assert v["n_shared_grams"] > 0 and v["n_train_docs_implicated"] > 0

    table = {r["held_split"]: r
             for r in TableIO(spark, out).read("leakage_audit").collect()}
    assert set(table) == held
    for split, v in stats["leakage"].items():
        assert int(table[split]["n_held_docs_leaking"]) == v["n_held_docs_leaking"]
        assert int(table[split]["n_shared_grams"]) == v["n_shared_grams"]

    again = curate_corpus(spark, extracted, audit_leakage=True)
    assert again["leakage"] == stats["leakage"]
    # the audit is read-only over the curated relation: every other stat
    # is unchanged vs a no-audit run
    base = curate_corpus(spark, extracted)
    assert {k: v for k, v in again.items() if k != "leakage"} == base


def test_leakage_fail_threshold(spark, extracted, tmp_path):
    """--leakage-fail-frac: exceeding the bar raises CurationLeakageError
    AFTER the tables are written (inspectable); a generous bar passes."""
    from pdf_extraction_spark.plans.curation import CurationLeakageError

    out = str(tmp_path / "gate")
    # any leak_frac >= 0 exceeds a negative bar — deterministic trigger
    with pytest.raises(CurationLeakageError, match="leakage"):
        curate_corpus(spark, extracted, out_root=out,
                      audit_leakage=True, leakage_fail_frac=-0.5)
    # tables were still written for inspection
    assert TableIO(spark, out).read("leakage_audit").count() > 0
    assert TableIO(spark, out).read("curated").count() > 0
    # a bar of 1.0 can never trip (leak_frac <= 1)
    ok = curate_corpus(spark, extracted, audit_leakage=True,
                       leakage_fail_frac=1.0)
    assert "leakage" in ok


def test_leakage_stats_broadcast_flip_bit_equal(spark, monkeypatch):
    """split_leakage_stats: the byte-gated broadcast and the gram-keyed
    shuffle_hash fallback (budget 0) are bit-equal, and counts match a
    hand-computed corpus (one val doc shares a 10-gram with two train docs;
    test split is clean)."""
    from pdf_extraction_spark import parallel
    from pdf_extraction_spark.operators.filtering import split_leakage_stats
    from tests.plan_probe import executed_plans, join_kinds

    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    rows = [
        ("t1", "train", shared + " kilo lima"),
        ("t2", "train", "zero " + shared),
        ("t3", "train", "nothing in common with any held out document "
                        "at all whatsoever here truly"),
        ("v1", "val", "prefix words " + shared),
        ("v2", "val", "completely disjoint ten gram free short text"),
        ("x1", "test", "another disjoint held out document with no overlap "
                       "against training data rows"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, split string, text string")

    audit = lambda: split_leakage_stats(docs).collect()  # noqa: E731
    bcast, plans = executed_plans(spark, audit)
    assert join_kinds(plans, "g") == {"BroadcastHashJoin"}
    monkeypatch.setattr(parallel, "BROADCAST_BUDGET_BYTES", 0)
    shuf, plans = executed_plans(spark, audit)
    assert join_kinds(plans, "g") == {"ShuffledHashJoin"}
    key = lambda r: r["held_split"]  # noqa: E731
    assert sorted(bcast, key=key) == sorted(shuf, key=key)

    got = {r["held_split"]: r for r in bcast}
    assert set(got) == {"val"}  # test split is clean -> no row
    assert got["val"]["n_held_docs_leaking"] == 1
    assert got["val"]["n_train_docs_implicated"] == 2


def test_line_dedup_stage(spark, extracted, tmp_path):
    """--line-dedup: the CCNet line-grain stage sits between exact dedup
    and near-dup, removes cross-document boilerplate lines (the whale
    repeats in the fixture corpus guarantee work), keeps the count chain
    monotone, preserves the unique-text_md5 invariant on the curated
    output, and is deterministic."""
    base = curate_corpus(spark, extracted)
    assert base["line_dedup_enabled"] is False
    assert base["n_after_line_dedup"] == base["n_after_exact_dedup"]

    out = str(tmp_path / "ld")
    on = curate_corpus(spark, extracted, out_root=out, line_dedup=True)
    assert on["line_dedup_enabled"] is True
    # upstream stages identical; the stage only ever drops docs
    for k in ("n_input", "n_quality_gated", "n_after_exact_dedup"):
        assert on[k] == base[k]
    assert on["n_after_exact_dedup"] >= on["n_after_line_dedup"] > 0
    assert on["n_after_line_dedup"] >= on["n_after_neardup"] >= on["n_after_derep"] > 0
    # cross-doc repeated lines exist in the fixture corpus -> real work
    assert on["n_dedup_lines_removed"] > 0
    assert on["n_dedup_line_chars_removed"] > 0

    io = TableIO(spark, out)
    curated = io.read("curated")
    n = curated.count()
    assert curated.select("text_md5").distinct().count() == n
    # no normalized non-blank line survives twice corpus-wide in the
    # curated text (the stage's core guarantee, post-redaction aside:
    # redaction only rewrites PII spans, which the fixture corpus keeps
    # line-unique)
    import re

    seen = set()
    for r in curated.select("text").collect():
        for line in r["text"].split("\n"):
            norm = re.sub(" +", " ", re.sub("[^a-z ]", "", line.lower())).strip()
            if norm:
                assert norm not in seen, norm
                seen.add(norm)
    stages = {r["stage"]: r["n_docs"] for r in io.read("curation_stats").collect()}
    assert stages["line_dedup"] == on["n_after_line_dedup"]

    again = curate_corpus(spark, extracted, line_dedup=True)
    assert on == again


def test_all_optional_stages_compose(spark, extracted, tmp_path):
    """Every optional stage at once (--line-dedup --semdedup --audit-leakage
    with a permissive fail bar): the chain runs end-to-end, the count
    chain stays monotone through ALL stages, the stats table records each
    one, and the curated output keeps the unique-text invariant."""
    out = str(tmp_path / "all")
    timings: dict = {}
    stats = curate_corpus(
        spark, extracted, out_root=out, stage_timings=timings,
        line_dedup=True, semdedup=True,
        audit_leakage=True, leakage_fail_frac=1.0,
    )
    assert (stats["n_input"] >= stats["n_quality_gated"]
            >= stats["n_after_exact_dedup"] >= stats["n_after_line_dedup"]
            >= stats["n_after_neardup"] >= stats["n_after_semdedup"]
            >= stats["n_after_derep"] > 0)
    assert sum(stats["split_mix"].values()) == stats["n_after_derep"]
    assert set(stats["leakage"]) == {s for s in stats["split_mix"] if s != "train"}

    io = TableIO(spark, out)
    _assert_views_agree(
        io, stats, timings, list(_STAGE_STAT),
        ["quality_gate", "exact_dedup", "line_dedup", "neardup_dedup",
         "semantic_dedup", "derep_chunk", "redact_split_stats",
         "leakage_audit", "write"],
    )
    curated = io.read("curated")
    assert curated.select("text_md5").distinct().count() == curated.count()
    assert io.read("leakage_audit").count() >= 1
