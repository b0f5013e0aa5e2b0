"""Contract tests for the append-only persisted-index ingest
(plans/incremental.py): per-batch reports equal the batch recompute,
writes are idempotent per batch_id, a crash between table writes resumes
to the same final state, and index compaction is result-invariant."""

import json

import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark.operators.sarray import (
    build_gram_index,
    duplicated_token_mass,
    incremental_duplicated_mass,
)
from pdf_extraction_spark.plans.incremental import append_batch, compact_gram_index
from pdf_extraction_spark.sources.tables import TableIO

W = 3

BATCH_A = [
    (1, "a b c d e f"),
    (2, "z a b c d q a b c d"),   # dup vs doc 1 + self-repeat
    (3, "b c d e f g"),
    (4, "n o p q r s"),           # unique until batch B arrives
]
BATCH_B = [
    (10, "a b c d e f"),          # full dup of A's doc 1
    (11, "n o p q r s t"),        # re-duplicates A-unique doc 4
    (12, "u v w u v w u v w"),    # within-batch self-repeat only
    (13, "h i j k l m"),          # genuinely novel
]
BATCH_C = [
    (20, "a b c d z z z"),        # grams fragmented across A and B rows
    (21, "fresh words only here"),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _report(io, batch_id):
    return {
        r["doc_id"]: r["dup_words"]
        for r in io.read("dup_report")
        .filter(F.col("batch_id") == batch_id)
        .collect()
        if r["dup_words"] > 0
    }


def _batch_ref(spark, all_rows, keep_ids):
    """Batch-form ground truth over the full corpus, restricted to one
    batch's docs — what each batch's persisted report must equal."""
    return {
        r["doc_id"]: r["dup_words"]
        for r in duplicated_token_mass(_df(spark, all_rows), window=W).collect()
        if r["doc_id"] in keep_ids
    }


def test_sequential_appends_equal_batch_recompute(spark, tmp_path):
    root = str(tmp_path / "w")
    s1 = append_batch(spark, root, _df(spark, BATCH_A), "b-a", window=W)
    s2 = append_batch(spark, root, _df(spark, BATCH_B), "b-b", window=W)
    assert not s1["skipped"] and not s2["skipped"]
    assert s1["n_docs"] == 4 and s2["n_docs"] == 4

    io = TableIO(spark, root)
    # batch A saw only itself; batch B saw A ∪ B.
    assert _report(io, "b-a") == _batch_ref(spark, BATCH_A, {1, 2, 3, 4})
    assert _report(io, "b-b") == _batch_ref(
        spark, BATCH_A + BATCH_B, {10, 11, 12, 13}
    )
    # retraction-free contract: batch A's rows are frozen even though B
    # re-duplicated A's doc 4 (its mass would grow under a recompute).
    assert 4 not in _report(io, "b-a")
    # corpus and index carry both batches.
    assert io.read("corpus").count() == 8
    n_grams_a = io.read("gram_index").filter(F.col("batch_id") == "b-a").count()
    n_grams_b = io.read("gram_index").filter(F.col("batch_id") == "b-b").count()
    assert n_grams_a > 0 and n_grams_b > 0


def test_reappend_is_idempotent_noop(spark, tmp_path):
    root = str(tmp_path / "w")
    append_batch(spark, root, _df(spark, BATCH_A), "b-a", window=W)
    io = TableIO(spark, root)
    before = {t: io.read(t).count() for t in ("corpus", "gram_index", "dup_report")}

    again = append_batch(spark, root, _df(spark, BATCH_A), "b-a", window=W)
    assert again == {"batch_id": "b-a", "skipped": True}
    after = {t: io.read(t).count() for t in ("corpus", "gram_index", "dup_report")}
    assert after == before


@pytest.mark.parametrize("crash_after", ["corpus", "gram_index"])
def test_crash_between_writes_resumes_to_same_state(spark, tmp_path, crash_after):
    """Simulate a crash one OR two writes into the corpus → gram_index →
    dup_report sequence: re-running append_batch completes the batch
    without double-writing, and the final state equals an uncrashed run.
    The gram_index crash point is the sharp one: the resumed delta must
    NOT count the batch against its own already-written index rows
    (novel docs would gain phantom dup mass); the running batch has no
    marker, so its rows are not committed and no store read sees them."""
    crash_root = str(tmp_path / "crash")
    clean_root = str(tmp_path / "clean")
    for root in (crash_root, clean_root):
        append_batch(spark, root, _df(spark, BATCH_A), "b-a", window=W)

    io = TableIO(spark, crash_root)
    io.write(
        _df(spark, BATCH_B).select(F.lit("b-b").alias("batch_id"), "doc_id", "text"),
        "corpus", mode="append", partition_by=["batch_id"],
    )
    if crash_after == "gram_index":
        from pdf_extraction_spark.operators.sarray import gram_classes

        adds = (
            gram_classes(_df(spark, BATCH_B), window=W)
            .groupBy("gram_key")
            .agg(F.sum("n_local").alias("n_old"))
            .select(F.lit("b-b").alias("batch_id"), "gram_key", "n_old")
        )
        io.write(adds, "gram_index", mode="append", partition_by=["batch_id"])

    resumed = append_batch(spark, crash_root, _df(spark, BATCH_B), "b-b", window=W)
    assert not resumed["skipped"]

    append_batch(spark, clean_root, _df(spark, BATCH_B), "b-b", window=W)
    clean = TableIO(spark, clean_root)
    for t in ("corpus", "gram_index", "dup_report"):
        got = sorted(map(tuple, io.read(t).collect()))
        want = sorted(map(tuple, clean.read(t).collect()))
        assert got == want, t
    # the novel doc must stay at zero dup mass after either resume
    novel = (
        io.read("dup_report")
        .filter((F.col("doc_id") == 13) & (F.col("dup_words") > 0))
        .count()
    )
    assert novel == 0


def test_fragmented_index_matches_compacted_and_rebuilt(spark, tmp_path):
    """Between compactions a hot gram holds one row PER BATCH; the delta
    must be invariant to that fragmentation, and compaction must collapse
    to exactly the from-scratch index."""
    root = str(tmp_path / "w")
    append_batch(spark, root, _df(spark, BATCH_A), "b-a", window=W)
    append_batch(spark, root, _df(spark, BATCH_B), "b-b", window=W)
    io = TableIO(spark, root)

    # precondition: the shared gram really is fragmented across 2 rows.
    frag = (
        io.read("gram_index").groupBy("gram_key")
        .agg(F.count("*").alias("n"), F.sum("n_old").alias("n_old"))
    )
    assert frag.filter(F.col("n") >= 2).count() > 0

    new = _df(spark, BATCH_C)
    delta_frag = {
        r["doc_id"]: r["dup_words"]
        for r in incremental_duplicated_mass(
            io.read("gram_index").select("gram_key", "n_old"), new, window=W
        ).collect()
    }
    # ground truth #1: the same delta against a from-scratch index.
    rebuilt = build_gram_index(_df(spark, BATCH_A + BATCH_B), window=W)
    delta_rebuilt = {
        r["doc_id"]: r["dup_words"]
        for r in incremental_duplicated_mass(rebuilt, new, window=W).collect()
    }
    assert delta_frag == delta_rebuilt
    # ground truth #2: the batch recompute restricted to the new docs.
    assert delta_frag == _batch_ref(spark, BATCH_A + BATCH_B + BATCH_C, {20, 21})
    assert 20 in delta_frag and 21 not in delta_frag

    # compaction: one row per gram, counts preserved, delta unchanged.
    summary = compact_gram_index(spark, root)
    compacted = io.read("gram_index")
    assert compacted.groupBy("gram_key").count().filter(F.col("count") > 1).count() == 0
    assert summary["rows"] == compacted.count()
    got = {
        (r["gram_key"], r["n_old"])
        for r in compacted.select("gram_key", "n_old").collect()
    }
    want = {(r["gram_key"], r["n_old"]) for r in rebuilt.collect()}
    assert got == want
    delta_compact = {
        r["doc_id"]: r["dup_words"]
        for r in incremental_duplicated_mass(
            compacted.select("gram_key", "n_old"), new, window=W
        ).collect()
    }
    assert delta_compact == delta_frag


def test_run_job_ingest_mode(spark, tmp_path, monkeypatch, capsys):
    """The --ingest CLI path: append a batch per --run-id, idempotent
    re-run, --compact-index compaction — driven through run_job.main()
    with the session factory patched to the test session."""
    import pdf_extraction_spark.session as sess
    import run_job

    monkeypatch.setattr(sess, "build_session", lambda **kw: spark)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)

    src_a = str(tmp_path / "batch_a")
    src_b = str(tmp_path / "batch_b")
    _df(spark, BATCH_A).write.parquet(src_a)
    _df(spark, BATCH_B).write.parquet(src_b)
    wh = str(tmp_path / "wh")

    def run(argv):
        assert run_job.main(argv) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    s1 = run(["--input", src_a, "--output", wh, "--run-id", "b-a", "--ingest"])
    assert s1["n_docs"] == 4 and not s1["skipped"]
    s1_again = run(["--input", src_a, "--output", wh, "--run-id", "b-a", "--ingest"])
    assert s1_again["skipped"]
    s2 = run(["--input", src_b, "--output", wh, "--run-id", "b-b",
              "--ingest", "--compact-index"])
    assert s2["n_docs"] == 4 and "index_compaction" in s2

    io = TableIO(spark, wh)
    assert io.read("corpus").count() == 8
    # compaction ran: one row per gram, batch ids collapsed to the marker.
    idx = io.read("gram_index")
    assert idx.groupBy("gram_key").count().filter(F.col("count") > 1).count() == 0
    assert {r["batch_id"] for r in idx.select("batch_id").distinct().collect()} \
        == {"__compacted__"}
    # note: the CLI window is the default SA_WINDOW (10 words), so these
    # short fixtures report near-zero dup mass — the WINDOW-sensitive
    # equality contracts are pinned by the direct append_batch tests above.


def test_idempotency_probe_is_partition_pruned(spark, tmp_path):
    """The batch-existence probe must read ONE batch_id partition, not
    scan the table: at deployment scale dup_report has a row per ingested
    document, and an O(table) probe per append would defeat the
    O(|new| + matched) cost model."""
    root = str(tmp_path / "w")
    append_batch(spark, root, _df(spark, BATCH_A), "b-a", window=W)
    append_batch(spark, root, _df(spark, BATCH_B), "b-b", window=W)

    io = TableIO(spark, root)
    probe = (
        io.read("dup_report")
        .filter(F.col("batch_id").cast("string") == "b-a")
        .limit(1)
    )
    plan = probe._sc._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "batch_id" in m.group(1), plan
    assert probe.count() == 1

    # every store read keeps committed batches through the same pruning
    from pdf_extraction_spark.plans.incremental import _committed

    store = _committed(io, "gram_index")
    plan = store._sc._jvm.PythonSQLUtils.explainString(
        store._jdf.queryExecution(), "formatted"
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "batch_id" in m.group(1), plan


def test_stream_ingest_matches_sequential_appends(spark, tmp_path):
    """Structured-Streaming ingest == the batch API: two landing waves
    become two epochs whose warehouse state equals sequential
    append_batch calls; a checkpoint reset replays epoch 0 under the
    same stream id and the batch_id idempotency makes it a no-op."""
    from pdf_extraction_spark.streaming.jobs import stream_ingest_gram_index

    src = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    wh_s = str(tmp_path / "wh_stream")
    wh_b = str(tmp_path / "wh_batch")

    append_batch(spark, wh_b, _df(spark, BATCH_A), "b-a", window=W)
    append_batch(spark, wh_b, _df(spark, BATCH_B), "b-b", window=W)

    def run_wave(checkpoint):
        q = stream_ingest_gram_index(spark, src, wh_s, checkpoint, window=W)
        q.awaitTermination(120)

    _df(spark, BATCH_A).coalesce(1).write.mode("append").parquet(src)
    run_wave(ckpt)                      # epoch 0 = batch A
    _df(spark, BATCH_B).coalesce(1).write.mode("append").parquet(src)
    run_wave(ckpt)                      # epoch 1 = batch B (checkpoint skips A)

    io_s, io_b = TableIO(spark, wh_s), TableIO(spark, wh_b)
    for t, cols in (
        ("corpus", ["doc_id", "text"]),
        ("gram_index", ["gram_key", "n_old"]),
        ("dup_report", ["doc_id", "n_words", "dup_words"]),
    ):
        got = sorted(map(tuple, io_s.read(t).select(*cols).collect()))
        want = sorted(map(tuple, io_b.read(t).select(*cols).collect()))
        assert got == want, t
    epochs = {r["batch_id"] for r in io_s.read("dup_report").select("batch_id").distinct().collect()}
    assert epochs == {"stream-0", "stream-1"}

    # checkpoint reset: epoch numbering restarts at 0, both waves land in
    # one replayed micro-batch — already-ingested 'stream-0' short-circuits.
    before = io_s.read("dup_report").count()
    run_wave(str(tmp_path / "ckpt2"))
    assert io_s.read("dup_report").count() == before


def test_compaction_abort_preserves_index(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "w")
    append_batch(spark, root, _df(spark, BATCH_A), "b-a", window=W)
    io = TableIO(spark, root)
    before = sorted(map(tuple, io.read("gram_index").collect()))

    import pdf_extraction_spark.plans.incremental as inc

    real_read = TableIO.read

    def corrupting(self, name, merge_schema=False):
        df = real_read(self, name, merge_schema)
        if name.endswith("__tmp"):
            return df.limit(1)  # staged table loses rows → verify must abort
        return df

    monkeypatch.setattr(TableIO, "read", corrupting)
    with pytest.raises(ValueError, match="compaction lost counts"):
        inc.compact_gram_index(spark, root)
    monkeypatch.undo()
    assert sorted(map(tuple, io.read("gram_index").collect())) == before


# ---------------------------------------------------------- admission gate

ADM_A = [
    (1, "alpha beta gamma"),
    (2, "delta epsilon zeta"),
    (3, "alpha beta gamma"),     # intra-batch exact dup of doc 1
    (4, "eta theta iota"),
]
ADM_B = [
    (10, "delta epsilon zeta"),  # store dup of A's doc 2
    (11, "kappa lambda mu"),     # novel
    (12, "kappa lambda mu"),     # intra-batch dup of doc 11
    (13, "alpha beta gamma"),    # store dup of A's doc 1
    (14, "nu xi omicron"),       # novel
]


def test_admission_rejects_exact_dups_keep_first(spark, tmp_path):
    """The Bloom-prefiltered admission gate: intra-batch exact duplicates
    keep the lowest doc_id; store duplicates are rejected; every true dup
    was a Bloom candidate (no false negatives); only admitted docs reach
    corpus / doc_hashes / dup_report."""
    root = str(tmp_path / "w")
    s1 = append_batch(spark, root, _df(spark, ADM_A), "b-a", window=W,
                      admit_unique=True)
    assert (s1["n_in"], s1["n_batch_dups"], s1["n_store_dups"],
            s1["n_admitted"]) == (4, 1, 0, 3)
    s2 = append_batch(spark, root, _df(spark, ADM_B), "b-b", window=W,
                      admit_unique=True)
    assert (s2["n_in"], s2["n_batch_dups"], s2["n_store_dups"],
            s2["n_admitted"]) == (5, 1, 2, 2)
    # no false negatives: both true store dups were flagged candidates
    assert s2["n_bloom_candidates"] >= s2["n_store_dups"]

    io = TableIO(spark, root)
    got = sorted(r["doc_id"] for r in io.read("corpus").collect())
    assert got == [1, 2, 4, 11, 14]
    assert sorted(r["doc_id"] for r in io.read("doc_hashes").collect()) == got
    assert sorted(r["doc_id"] for r in io.read("dup_report").collect()) == got
    # report counts match the written-table summary
    assert s1["n_docs"] == 3 and s2["n_docs"] == 2


def test_admission_candidate_reduction_no_false_negatives(spark, tmp_path):
    """At m/n=16 bits per key the exact check's probe side shrinks to
    ≈ true dups (+~0.2% FP): a mostly-novel batch against a 200-doc store
    must flag every true dup as a candidate while passing the bulk of the
    batch straight through with zero join work."""
    root = str(tmp_path / "w")
    store_rows = [(i, f"store doc number {i} unique words") for i in range(200)]
    append_batch(spark, root, _df(spark, store_rows), "b-0", window=W,
                 admit_unique=True)
    dup_ids = list(range(1000, 1010))  # duplicate store docs 0..9
    batch_rows = [(1000 + j, f"store doc number {j} unique words") for j in range(10)]
    batch_rows += [(2000 + j, f"novel text {j} nothing shared") for j in range(90)]
    s = append_batch(spark, root, _df(spark, batch_rows), "b-1", window=W,
                     admit_unique=True)
    assert s["n_store_dups"] == 10 and s["n_admitted"] == 90
    # every true dup IS a candidate, and the filter passed most of the batch
    assert 10 <= s["n_bloom_candidates"] <= 20, s
    io = TableIO(spark, root)
    admitted = {r["doc_id"] for r in io.read("corpus")
                .filter(F.col("batch_id") == "b-1").collect()}
    assert admitted.isdisjoint(dup_ids) and len(admitted) == 90


def test_admission_crash_during_report_write_resumes(spark, tmp_path):
    """A crash DURING the dup_report write leaves a PARTIAL partition —
    previously undetectable (any row made the batch look complete; the r5
    review finding). Completion is now marker-gated and every write
    overwrites its own partition, so the resume REPLACES the partial
    state and converges on the clean two-batch result across all five
    tables."""
    crash_root = str(tmp_path / "crash")
    clean_root = str(tmp_path / "clean")
    for root in (crash_root, clean_root):
        append_batch(spark, root, _df(spark, ADM_A), "b-a", window=W,
                     admit_unique=True)

    io = TableIO(spark, crash_root)
    # simulate the partial task-commit: HALF of batch B's report rows (and
    # a partial corpus write), no completion marker
    io.write(
        _df(spark, ADM_B[:2]).select(F.lit("b-b").alias("batch_id"),
                                     "doc_id", "text"),
        "corpus", mode="append", partition_by=["batch_id"],
    )
    io.write(
        _df(spark, ADM_B[:1]).select(
            F.lit("b-b").alias("batch_id"), "doc_id",
            F.lit(3).alias("n_words"), F.lit(99).cast("bigint").alias("dup_words"),
        ),
        "dup_report", mode="append", partition_by=["batch_id"],
    )
    resumed = append_batch(spark, crash_root, _df(spark, ADM_B), "b-b",
                           window=W, admit_unique=True)
    assert not resumed["skipped"] and resumed["n_admitted"] == 2

    append_batch(spark, clean_root, _df(spark, ADM_B), "b-b", window=W,
                 admit_unique=True)
    clean = TableIO(spark, clean_root)
    for t in ("corpus", "gram_index", "doc_hashes", "bloom", "dup_report"):
        got = sorted(map(tuple, io.read(t).collect()))
        want = sorted(map(tuple, clean.read(t).collect()))
        assert got == want, t
    # the injected phantom 99-dup-words row must be gone
    assert io.read("dup_report").filter(F.col("dup_words") == 99).count() == 0

    # completed batches are marker-certified O(1) no-ops
    again = append_batch(spark, crash_root, _df(spark, ADM_B), "b-b",
                         window=W, admit_unique=True)
    assert again["skipped"]


def test_rebuild_bloom_resizes_and_preserves_admission(spark, tmp_path):
    """The scalable-Bloom growth step: rebuild from the true store count,
    verify no member hash is dropped (staged swap aborts otherwise), and
    admission behaves identically after the resize."""
    from pdf_extraction_spark.plans.incremental import rebuild_bloom

    root = str(tmp_path / "w")
    append_batch(spark, root, _df(spark, ADM_A), "b-a", window=W,
                 admit_unique=True)
    append_batch(spark, root, _df(spark, ADM_B), "b-b", window=W,
                 admit_unique=True)
    out = rebuild_bloom(spark, root)
    io = TableIO(spark, root)
    n_store = io.read("doc_hashes").count()
    assert out["n_store"] == n_store == 5
    # the size is the partition value of the one rebuilt partition
    parts = {(r["m_bits"], r["batch_id"])
             for r in io.read("bloom").select("m_bits", "batch_id").distinct().collect()}
    assert parts == {(out["m_bits"], "__rebuilt__")}
    # post-rebuild batch: one dup of each earlier batch + one novel doc
    s = append_batch(
        spark, root,
        _df(spark, [(30, "alpha beta gamma"), (31, "kappa lambda mu"),
                    (32, "totally new sentence")]),
        "b-c", window=W, admit_unique=True)
    assert s["n_store_dups"] == 2 and s["n_admitted"] == 1
    assert sorted(r["doc_id"] for r in io.read("corpus")
                  .filter(F.col("batch_id") == "b-c").collect()) == [32]


def test_rebuild_bloom_abort_preserves_filter(spark, tmp_path, monkeypatch):
    """A staged filter that lost a word fails the no-false-negative check
    (some stored hash no longer probes all-hit), so rebuild_bloom raises
    before the swap and leaves bloom as it was."""
    import pdf_extraction_spark.plans.incremental as inc

    root = str(tmp_path / "w")
    append_batch(spark, root, _df(spark, ADM_A), "b-a", window=W,
                 admit_unique=True)
    io = TableIO(spark, root)
    before = {"bloom": sorted(map(tuple, io.read("bloom").collect()))}

    real = inc.bloom_words

    def lossy(hashes, m_bits):
        words = real(hashes, m_bits)
        lost = words.agg(F.min("word_idx")).collect()[0][0]
        return words.filter(F.col("word_idx") != lost)

    monkeypatch.setattr(inc, "bloom_words", lossy)
    with pytest.raises(ValueError, match=r"rebuilt filter misses [1-9]\d* stored hashes"):
        inc.rebuild_bloom(spark, root)
    monkeypatch.undo()
    assert {t: sorted(map(tuple, io.read(t).collect())) for t in before} == before
    assert not io.exists("bloom__tmp")


def test_stream_ingest_admit_unique_rejects_cross_epoch_dups(spark, tmp_path):
    """Streaming ingest with admit_unique=True: a document whose exact
    text landed in an earlier epoch (doc 10 == doc 1) or earlier in the
    same epoch is rejected at the gate; the warehouse equals the batch
    API's admit_unique state for the same waves."""
    from pdf_extraction_spark.streaming.jobs import stream_ingest_gram_index

    src = str(tmp_path / "landing")
    wh_s = str(tmp_path / "wh_stream")
    wh_b = str(tmp_path / "wh_batch")

    append_batch(spark, wh_b, _df(spark, BATCH_A), "b-a", window=W,
                 admit_unique=True)
    append_batch(spark, wh_b, _df(spark, BATCH_B), "b-b", window=W,
                 admit_unique=True)

    _df(spark, BATCH_A).coalesce(1).write.mode("append").parquet(src)
    q = stream_ingest_gram_index(spark, src, wh_s, str(tmp_path / "c1"),
                                 window=W, admit_unique=True)
    q.awaitTermination(120)
    _df(spark, BATCH_B).coalesce(1).write.mode("append").parquet(src)
    q = stream_ingest_gram_index(spark, src, wh_s, str(tmp_path / "c1"),
                                 window=W, admit_unique=True)
    q.awaitTermination(120)

    io_s, io_b = TableIO(spark, wh_s), TableIO(spark, wh_b)
    got_corpus = {r["doc_id"] for r in io_s.read("corpus").select("doc_id").collect()}
    want_corpus = {r["doc_id"] for r in io_b.read("corpus").select("doc_id").collect()}
    assert got_corpus == want_corpus
    assert 10 not in got_corpus  # exact dup of doc 1, landed one epoch later
    assert {11, 12, 13} <= got_corpus  # novel texts admitted
    # state tables equal up to batch_id naming (stream-N vs b-x)
    for t, cols in (("gram_index", ["gram_key", "n_old"]), ("doc_hashes", ["h"])):
        got = sorted(map(tuple, io_s.read(t).select(*cols).collect()))
        want = sorted(map(tuple, io_b.read(t).select(*cols).collect()))
        assert got == want, t


# ------------------------------------------------- committed-state reads


def test_compaction_skips_unfinished_batch_and_resume_matches_clean(spark, tmp_path):
    """Compaction sums committed rows only: an unfinished batch's gram_index
    partition (written, no marker) is dropped by the staged swap, and the
    resumed batch rewrites it against the compacted index — the final
    gram_index and the batch's report equal an uncrashed run."""
    crash_root = str(tmp_path / "crash")
    clean_root = str(tmp_path / "clean")
    for root in (crash_root, clean_root):
        append_batch(spark, root, _df(spark, BATCH_A), "b-a", window=W)

    from pdf_extraction_spark.operators.sarray import gram_classes

    io = TableIO(spark, crash_root)
    adds = (
        gram_classes(_df(spark, BATCH_B), window=W)
        .groupBy("gram_key")
        .agg(F.sum("n_local").alias("n_old"))
        .select(F.lit("b-b").alias("batch_id"), "gram_key", "n_old")
    )
    io.write(adds, "gram_index", mode="append", partition_by=["batch_id"])
    compact_gram_index(spark, crash_root)
    append_batch(spark, crash_root, _df(spark, BATCH_B), "b-b", window=W)

    compact_gram_index(spark, clean_root)
    append_batch(spark, clean_root, _df(spark, BATCH_B), "b-b", window=W)
    clean = TableIO(spark, clean_root)
    assert sorted(map(tuple, io.read("gram_index").collect())) \
        == sorted(map(tuple, clean.read("gram_index").collect()))
    assert _report(io, "b-b") == _report(clean, "b-b")
    assert 13 not in _report(io, "b-b")


def test_admission_without_committed_filter_checks_every_doc(spark, tmp_path):
    """A store whose bloom table is gone still rejects store duplicates:
    every unique doc goes to the exact check (doc 10 copies doc 1), and
    that batch's filter covers the whole store, so a later copy of a
    batch-A doc is still a candidate (doc 40 copies doc 2)."""
    import shutil

    root = str(tmp_path / "w")
    append_batch(spark, root, _df(spark, BATCH_A), "b-a", window=W,
                 admit_unique=True)
    shutil.rmtree(TableIO(spark, root).path("bloom"))
    s = append_batch(spark, root, _df(spark, BATCH_B), "b-b", window=W,
                     admit_unique=True)
    assert (s["n_bloom_candidates"], s["n_store_dups"], s["n_admitted"]) == (4, 1, 3)
    s = append_batch(spark, root, _df(spark, [(40, BATCH_A[1][1]), (41, "brand new words here")]),
                     "b-c", window=W, admit_unique=True)
    assert (s["n_store_dups"], s["n_admitted"]) == (1, 1)


def test_lost_filter_is_sized_for_store_and_batch(spark, tmp_path):
    """A batch that writes its partial filter over a whole store whose
    filter is gone sizes it as rebuild_bloom does, for store ∪ batch — not
    for its own count: a large store's keys in a batch-sized filter drive
    the false-positive rate toward 1 and every later doc to the exact
    check."""
    import shutil

    from pdf_extraction_spark.plans.incremental import BLOOM_BITS_PER_KEY

    root = str(tmp_path / "w")
    store_rows = [(i, f"store doc number {i} unique words") for i in range(600)]
    append_batch(spark, root, _df(spark, store_rows), "b-0", window=W, admit_unique=True)
    shutil.rmtree(TableIO(spark, root).path("bloom"))
    s = append_batch(spark, root, _df(spark, BATCH_B), "b-1", window=W, admit_unique=True)
    assert s["bloom_m_bits"] == BLOOM_BITS_PER_KEY * (600 + 4) * 2
    batch = [(1000 + j, f"store doc number {j} unique words") for j in range(5)]
    batch += [(2000 + j, f"novel text {j} nothing shared") for j in range(95)]
    s = append_batch(spark, root, _df(spark, batch), "b-2", window=W, admit_unique=True)
    assert s["n_store_dups"] == 5 and s["n_bloom_candidates"] <= 15, s


@pytest.mark.parametrize("then", ["read", "append"])
def test_rewrite_crash_between_renames_keeps_table(spark, tmp_path, monkeypatch, then):
    """A crash after the staged swap's first rename (the old table moved
    aside, the verified copy not yet in place) loses nothing: the next
    read, or an append before any read, finishes the swap first, so the
    table holds the compacted rows (plus the appended one)."""
    import os

    root = str(tmp_path / "w")
    append_batch(spark, root, _df(spark, BATCH_A), "b-a", window=W)
    append_batch(spark, root, _df(spark, BATCH_B), "b-b", window=W)
    io = TableIO(spark, root)
    want = {(r["gram_key"], r["n_old"]) for r in io.read("gram_index")
            .groupBy("gram_key").agg(F.sum("n_old").alias("n_old")).collect()}

    real_rename = os.rename

    def crashing(src, dst):
        if dst == io.path("gram_index"):
            monkeypatch.setattr(os, "rename", real_rename)
            raise OSError("simulated crash between the swap's renames")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crashing)
    with pytest.raises(OSError, match="simulated crash"):
        compact_gram_index(spark, root)
    monkeypatch.undo()
    assert not os.path.isdir(io.path("gram_index"))

    batches = {"__compacted__"}
    if then == "append":
        io.write(spark.createDataFrame([("b-x", "zz zz zz", 1)], "batch_id string, gram_key string, n_old bigint"),
                 "gram_index", mode="append", partition_by=["batch_id"])
        want.add(("zz zz zz", 1))
        batches.add("b-x")
    got = io.read("gram_index").collect()
    assert {r["batch_id"] for r in got} == batches
    assert {(r["gram_key"], r["n_old"]) for r in got} == want
    assert not any(os.path.isdir(io.path(f"gram_index__{s}")) for s in ("tmp", "old"))


def test_first_batch_resume_after_another_keeps_one_bloom_size(spark, tmp_path):
    """The filter size commits with its words, so probes never mix
    geometries: a first batch that crashed after its bloom write (sized
    from its own 200 docs) and resumes after another first batch sized
    the filter from 4 docs overwrites its whole partition under the
    committed size, and admission keeps working without a rebuild."""
    import os

    root = str(tmp_path / "w")
    big = [(100 + i, f"bulk doc {i} words") for i in range(200)]
    io = TableIO(spark, root)
    # a crash just before the marker: every table written, nothing committed
    append_batch(spark, root, _df(spark, big), "b-big", window=W, admit_unique=True)
    os.remove(os.path.join(root, "_markers", "b-big.done"))
    s = append_batch(spark, root, _df(spark, ADM_A), "b-a", window=W, admit_unique=True)
    assert s["n_admitted"] == 3
    s = append_batch(spark, root, _df(spark, big), "b-big", window=W, admit_unique=True)
    assert s["bloom_m_bits"] == 1 << 14
    sizes = {r["m_bits"] for r in io.read("bloom").select("m_bits").distinct().collect()}
    assert sizes == {1 << 14}

    s = append_batch(spark, root, _df(spark, ADM_B + [(15, "bulk doc 7 words")]),
                     "b-b", window=W, admit_unique=True)
    assert (s["n_store_dups"], s["n_admitted"]) == (3, 2)


def test_resumed_first_admission_batch_matches_clean(spark, tmp_path):
    """A first admission batch that crashed before its marker left
    doc_hashes rows but no committed ones: the resume takes the no-store
    path, as a clean first batch does, instead of checking every doc
    against an empty store."""
    import os

    crash_root = str(tmp_path / "crash")
    clean_root = str(tmp_path / "clean")
    append_batch(spark, crash_root, _df(spark, ADM_A), "b-a", window=W, admit_unique=True)
    os.remove(os.path.join(crash_root, "_markers", "b-a.done"))
    got = append_batch(spark, crash_root, _df(spark, ADM_A), "b-a", window=W, admit_unique=True)
    want = append_batch(spark, clean_root, _df(spark, ADM_A), "b-a", window=W, admit_unique=True)
    assert got == want and got["n_bloom_candidates"] == 0


def test_numeric_looking_batch_ids_stay_committed(spark, tmp_path):
    """Partition-type inference reads batch_id=001 back as the int 1;
    store reads pin batch_id to its written string, so batches "001" and
    "002" stay committed: admission rejects "001"'s copies in "002", and
    compaction keeps every gram count and the rebuild every stored hash."""
    from pdf_extraction_spark.plans.incremental import rebuild_bloom

    num_root = str(tmp_path / "num")
    ref_root = str(tmp_path / "ref")
    runs = {}
    for root, ids in ((num_root, ("001", "002")), (ref_root, ("b-a", "b-b"))):
        s1 = append_batch(spark, root, _df(spark, ADM_A), ids[0], window=W, admit_unique=True)
        s2 = append_batch(spark, root, _df(spark, ADM_B), ids[1], window=W, admit_unique=True)
        runs[root] = [{k: v for k, v in s.items() if k != "batch_id"} for s in (s1, s2)]
    assert runs[num_root] == runs[ref_root]
    assert runs[num_root][1]["n_store_dups"] == 2 and runs[num_root][1]["n_docs"] == 2

    comp = {root: compact_gram_index(spark, root) for root in (num_root, ref_root)}
    assert comp[num_root] == comp[ref_root] and comp[num_root]["total_count"] > 0
    grams = {root: sorted(map(tuple, TableIO(spark, root).read("gram_index").collect()))
             for root in (num_root, ref_root)}
    assert grams[num_root] == grams[ref_root]
    assert rebuild_bloom(spark, num_root)["n_store"] == 5


def test_old_bloom_layout_raises_until_rebuild_migrates(spark, tmp_path):
    """A bloom table written before m_bits became a column of its rows
    (the size kept in a side table) is refused with a message naming
    rebuild_bloom; the rebuild rewrites it in the new layout and
    admission then rejects every store duplicate."""
    from pdf_extraction_spark.plans.incremental import rebuild_bloom

    root = str(tmp_path / "w")
    append_batch(spark, root, _df(spark, ADM_A), "b-a", window=W, admit_unique=True)
    io = TableIO(spark, root)
    io.rewrite(io.read("bloom").drop("m_bits"), "bloom", partition_by=["batch_id"])
    assert "m_bits" not in io.read("bloom").columns

    with pytest.raises(ValueError, match="rebuild_bloom"):
        append_batch(spark, root, _df(spark, ADM_B), "b-b", window=W, admit_unique=True)
    out = rebuild_bloom(spark, root)
    assert {(r["m_bits"], r["batch_id"]) for r in
            io.read("bloom").select("m_bits", "batch_id").distinct().collect()} \
        == {(out["m_bits"], "__rebuilt__")}
    s = append_batch(spark, root, _df(spark, ADM_B), "b-b", window=W, admit_unique=True)
    assert (s["n_store_dups"], s["n_admitted"]) == (2, 2)
