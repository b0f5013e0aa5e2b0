"""Physical-plan regression tests: the optimizer properties we rely on at
100 TB must stay visible in the plan (pushdown, pruning, broadcast,
partial aggregation, map-only extraction)."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def count_exchanges(plan: str) -> int:
    """Number of Exchange NODES in a formatted plan (tree lines only, not
    the per-node detail headers)."""
    import re

    return len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M))


def test_filter_pushdown_and_column_pruning(spark):
    from pdf_extraction_spark.operators.relational import q_tpch_q1

    plan = plan_of(q_tpch_q1(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # pruned scan: only the 6 referenced columns, not all 16
    read = [l for l in plan.splitlines() if l.startswith("ReadSchema")][0]
    assert read.count(":") - 1 <= 7  # col:type pairs
    assert "l_comment" not in plan
    # map-side partial aggregation present
    assert "partial_sum" in plan


def test_anti_join_is_broadcast(spark):
    from pdf_extraction_spark.operators.relational import q_dedup_anti_new_work

    plan = plan_of(q_dedup_anti_new_work(spark, SF))
    assert "BroadcastHashJoin LeftAnti" in plan


def test_element_lookup_broadcast(spark):
    from pdf_extraction_spark.operators.relational import q_element_lookup

    plan = plan_of(q_element_lookup(spark, SF))
    assert "Broadcast" in plan


def test_extract_stage_is_map_only(spark, transcripts_df):
    """The extraction transform must add NO shuffle of its own."""
    from pdf_extraction_spark.plans.pipeline import extract_stage

    plan = plan_of(extract_stage(transcripts_df))
    assert "Exchange" not in plan
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower()


def test_quality_route_has_no_python_udf(spark):
    """Scoring/routing/classification are pure codegen — no Python in plan."""
    from pdf_extraction_spark.operators.relational import (
        q_classifier_cascade,
        q_quality_route,
    )

    for q in (q_quality_route, q_classifier_cascade):
        plan = plan_of(q(spark, SF))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "MapInPandas" not in plan


def test_neardup_bucketed_never_goes_cartesian(spark):
    """The bucketed near-dup path must stay a keyed (band,bucket) grouping
    with an Arrow-vectorized signature stage — never a cartesian/nested-loop
    product (the O(n²) failure mode it exists to replace)."""
    from pdf_extraction_spark.operators.similarity import q_neardup_bucketed_pairs

    plan = plan_of(q_neardup_bucketed_pairs(spark, SF))
    assert "ArrowEvalPython" in plan          # vectorized signature + verify
    assert "LeftAnti" in plan                  # bucket-width cap (broadcast anti-join)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_suffix_array_plan_shape(spark):
    """One suffix-array Arrow stage, CHECKPOINTED once and read by its two
    consumers (the gram-count aggregate and the dup-key join-back): the
    only plan with the MapInPandas subtree is the checkpoint's, and the
    query scans that one checkpointed RDD twice, with no cartesian join and
    no unbounded collect_list aggregate."""
    import re

    from pdf_extraction_spark.operators.sarray import q_suffix_array_dedup
    from tests.plan_probe import executed_plans

    _, plans = executed_plans(spark, lambda: q_suffix_array_dedup(spark, SF).collect())
    assert sum("MapInPandas" in p for p in plans) == 1  # the gram stage, once
    scans = [r for p in plans for r in re.findall(r"(\w+RDD\[\d+\]) at localCheckpoint", p)]
    assert len(scans) >= 2 and len(set(scans)) == 1, scans  # both read the one checkpoint
    for plan in plans:
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
        assert "collect_list" not in plan  # hot grams must not concentrate in one row


def test_semantic_dedup_join_is_cluster_keyed(spark):
    """The SemDeDup comparison join must be keyed on the cluster id —
    never an all-pairs product — with Arrow-vectorized assignment/cosine."""
    from pdf_extraction_spark.operators.semdedup import (
        SEM_K,
        _nearest_centroid_q,
        valid_embeddings,
    )
    from pdf_extraction_spark.operators.similarity import quantized_scores
    from pdf_extraction_spark.sources.tables import load_testdata as T

    emb = valid_embeddings(T(spark, SF, "embeddings"))
    cents = [[float(x) for x in r["embedding"]]
             for r in emb.orderBy("vec_id").limit(SEM_K).select("embedding").collect()]
    assigned = emb.withColumn("sem_cluster", _nearest_centroid_q(cents)(F.col("embedding")))
    a = assigned.select("sem_cluster", F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = assigned.select(F.col("sem_cluster").alias("sc_b"), F.col("vec_id").alias("vb"),
                        F.col("embedding").alias("eb"))
    pairs = (
        a.join(b, (F.col("sem_cluster") == F.col("sc_b")) & (F.col("va") < F.col("vb")))
        .select("va", "vb",
                F.round(quantized_scores(F.col("ea"), F.col("eb"))["cos"], 6).alias("cos"))
    )
    plan = plan_of(pairs)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" in plan
    # the equi-key must reach the join condition (hash-partitionable)
    assert "sem_cluster" in plan


# queries whose plan INTENTIONALLY contains a BroadcastNestedLoopJoin:
# either a ONE-ROW broadcast side (the query vector / its norm) cross-
# joined onto a scan (map-only), or single-row AGGREGATES crossed into one
# summary row (1×1×1 — funnel). Everything else in the driver-priority
# window must stay keyed.
_ONE_ROW_BROADCAST_CROSS = {
    "ann_ivf_topk", "text_embed_neardup", "assemble_training_records",
    "funnel_view_click_purchase",
    # r5 rotation brought these back under the guard: the two ANN queries
    # broadcast the ONE-ROW query vector / its norm onto the scan
    # (map-only); embedding_neardup_pairs is the documented all-pairs
    # oracle-twin form whose scale path is neardup_bucketed_pairs
    # (operators/similarity.py module docstring)
    "ann_cosine_topk", "ann_ivf_recall", "embedding_neardup_pairs",
    # filtering: the ONE-ROW totals / corpus-average aggregate frames are
    # broadcast-crossed onto the 256-row bucket table / vocab LM / per-doc
    # scores (operators/filtering.py) — constant-size small side by design
    "dsir_importance_sample", "ccnet_perplexity_filter",
    # bloom prefilter / mixture planner: 1-row count/load/total aggregates
    # broadcast-crossed onto the summary row (operators/dedup.py::q_bloom_prefilter,
    # operators/corpus.py::q_mixture_epoch_plan)
    "dedup_bloom_prefilter", "mixture_epoch_plan",
    # hard negatives: the N_ANCHORS-row anchor table broadcast into a
    # non-equi (label <>) nested loop against the scan — the documented
    # legitimate BNLJ (operators/similarity.py::hard_negative_topk)
    "ann_hard_negatives",
}


def test_priority_queries_have_no_accidental_cross_join(spark):
    """Every query in the driver's priority window (the first-50 sweep
    sample) must plan WITHOUT CartesianProduct, and without
    BroadcastNestedLoopJoin except the documented one-row-broadcast
    cases. Catches a lost equi-key (e.g. a condition rewritten into a
    non-equi predicate) before the driver or a deployment does."""
    from pdf_extraction_spark.operators import _PRIORITY, all_queries

    qs = all_queries()
    offenders = {}
    for name in _PRIORITY:
        plan = plan_of(qs[name][0](spark, SF))
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in _ONE_ROW_BROADCAST_CROSS:
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, offenders


def test_package_never_persists():
    """CI guard: the package reuses an intermediate only through a lazy
    localCheckpoint, whose blocks go with the frame. A persisted plan stays
    cached in the session until someone unpersists it, so a later query
    could silently reuse another call's cached data."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "pdf_extraction_spark"
    reuse = re.compile(r"\.persist\(|\.cache\(\)|pdf_extraction_spark\.cache\b")
    offenders = [
        f"{p.relative_to(root)}:{i}: {line.strip()}"
        for p in root.rglob("*.py")
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if reuse.search(line)
    ]
    assert not offenders, offenders


def test_no_per_row_python_udfs_in_codebase():
    """CI guard (SURVEY.md §7): hot-path code never registers row-at-a-time
    Python UDFs; Python enters only via mapInPandas/pandas_udf."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "pdf_extraction_spark"
    offenders = []
    for p in root.rglob("*.py"):
        src = p.read_text()
        if "F.udf(" in src or "@udf" in src:
            offenders.append(str(p))
        if ".collect()" in src and p.name not in (
            "checkpoint.py", "similarity.py", "review_queue.py", "dedup.py",
            "maintenance.py", "curation.py", "semdedup.py", "pipeline.py",
            "incremental.py",
        ):
            # allowed: checkpoint.py (≤ n_buckets ledger rows),
            # similarity.py (k×dim IVF centroid matrix + 1 query vector),
            # review_queue.py (already-enqueued bucket-id dedup set),
            # dedup.py (_edge_sig: ONE (count, xor) scalar pair per
            # star-contraction round — convergence detection),
            # maintenance.py (_table_checksum: one (count, xor) row for
            # compaction content verification),
            # curation.py (per-stage scalar counts + the ≤3-row split mix),
            # semdedup.py (SEM_K×dim centroid rows — same class as the IVF
            # centroid matrix),
            # pipeline.py (the run aggregate: ≤ n_buckets lineage rows +
            # route-grain metrics rows, collected so ONE execution feeds
            # the last wave's ledger commit, the metrics write and the
            # op_metrics executed-plan capture),
            # incremental.py (one-row batch-summary aggregate per ingest +
            # the one-scalar total-count compaction check) —
            # all metadata-sized driver state, never data rows
            offenders.append(f"{p}: collect outside ledger/centroids")
    assert not offenders, offenders


# F.broadcast / .hint("shuffle_hash") sites allowed outside parallel.py:
# (file, frame) -> why its size is bounded by a constant (or, for the one
# forced shuffle, why it must never broadcast). Every other join side whose
# size grows with the data goes through parallel.broadcast_within.
_UNGATED_JOIN_HINTS = {
    ("similarity.py", "qv"): "1-row query vector",
    ("similarity.py", "qvdf"): "1-row query vector",
    ("similarity.py", "probe"): "NB_BANDS probe rows of one query",
    ("similarity.py", "a"): "N_ANCHORS anchor rows",
    ("sarray.py", "top"): "TOP_GRAMS rows",
    ("filtering.py", "weights"): "DSIR_BUCKETS weight rows",
    ("filtering.py", "totals"): "global aggregate: one row",
    ("filtering.py", "corpus"): "global aggregate: one row",
    ("corpus.py", "rates"): "one row per language",
    ("corpus.py", "bounds"): "one row per language",
    ("corpus.py", "tot"): "global aggregate: one row",
    ("dedup.py", "sizing"): "global aggregate: one row",
    ("dedup.py", "n_true"): "global aggregate: one row",
    ("dedup.py", "load"): "global aggregate: one row",
    ("relational.py", "target"): "global aggregate: one row",
    ("relational.py", "nation"): "TPC-H fixed-size dim (25 rows)",
    ("relational.py", "region"): "TPC-H fixed-size dim (5 rows)",
    ("incremental.py", "mass"): "forced shuffle: the coverage side must never broadcast",
}


def test_join_hints_go_through_the_broadcast_gate():
    """CI guard: no hand-written broadcast or shuffle_hash hint on a frame
    that grows with the data — those go through parallel.broadcast_within,
    the one byte-budget gate. The allowlist must not go stale either."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "pdf_extraction_spark"
    hint = re.compile(r"F\.broadcast\((\w+)|(\w+)\.hint\([\"']shuffle_hash[\"']\)")
    found = {
        (p.name, a or b)
        for p in root.rglob("*.py") if p.name != "parallel.py"
        for a, b in hint.findall(p.read_text())
    }
    assert found - set(_UNGATED_JOIN_HINTS) == set()
    assert set(_UNGATED_JOIN_HINTS) - found == set()


# The package's environment reads, each with the reason it is a knob. A new
# one needs a measured reason before it joins this list.
_ENV_KNOBS = {
    "SPARK_GRAFT_CPUS": "local master width: the host's core count",
    "SPARK_DRIVER_MEMORY": "driver heap sized to the host",
    "SPARK_LOCAL_DIRS": "shuffle/spill directory is a property of the host",
    "SPARK_FILES_MAX_PARTITION_BYTES": "scan split: 32m splits the one-file "
                                       "testdata per row group; big files want 256m-1g",
}


def test_env_reads_are_allowlisted():
    """CI guard: every os.environ / getenv read in the package names an
    allowlisted variable with a literal, and the allowlist is not stale."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "pdf_extraction_spark"
    access = re.compile(r"\b(?:environ|getenv)\b")
    named = re.compile(r"""\b(?:environ(?:\.get)?|getenv)\s*[\[(]\s*["'](\w+)["']""")
    found = set()
    for p in root.rglob("*.py"):
        for line in p.read_text().splitlines():
            if access.search(line):
                names = named.findall(line)
                found.update(names or [f"{p.name}: {line.strip()}"])
    assert found - set(_ENV_KNOBS) == set()
    assert set(_ENV_KNOBS) - found == set()


def test_contamination_bench_side_is_broadcast(spark):
    """The benchmark gram set must broadcast: the corpus-side explode stays
    map-local with no pre-join shuffle (at 100 TB a sort-merge here would
    shuffle every corpus gram)."""
    from pdf_extraction_spark.operators.scrub import q_contamination

    plan = plan_of(q_contamination(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_redact_pii_is_pure_codegen(spark):
    """PII masking is regexp_replace/regexp_count only — no Python eval in
    the plan (the whole rewrite rides whole-stage codegen)."""
    from pdf_extraction_spark.operators.scrub import q_redact_pii

    plan = plan_of(q_redact_pii(spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_vocab_stats_has_partial_aggregation(spark):
    """Token counting must combine map-side before the shuffle, and top-k
    must be TakeOrdered (no global sort of the vocabulary)."""
    from pdf_extraction_spark.operators.textstats import q_vocab_stats

    plan = plan_of(q_vocab_stats(spark, SF))
    assert "partial_count" in plan or "partial" in plan
    assert "TakeOrderedAndProject" in plan


def test_range_join_is_binned_equi_join(spark):
    """The point-in-interval join must plan as a day-binned equi-join —
    never the BroadcastNestedLoopJoin a bare BETWEEN predicate produces
    (O(|events|·|windows|) comparisons at scale)."""
    from pdf_extraction_spark.operators.eventstats import q_range_join_windows

    plan = plan_of(q_range_join_windows(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_corpus_ops_stay_jvm_side(spark):
    """The corpus-curation operators are pure column expressions: no Python
    eval anywhere, no cartesian products, and the vocab-sized df table in
    tf-idf must broadcast (a sort-merge there would shuffle every exploded
    corpus token a second time)."""
    from pdf_extraction_spark.operators.corpus import (
        q_adaptive_length_filter,
        q_chunk_dedup_stats,
        q_pack_sequences,
        q_scd2_user_segments,
        q_source_mix_sample,
        q_tfidf_top_terms,
    )

    for q in (q_scd2_user_segments, q_pack_sequences, q_tfidf_top_terms,
              q_chunk_dedup_stats, q_source_mix_sample, q_adaptive_length_filter):
        plan = plan_of(q(spark, SF))
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert "MapInPandas" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    assert "BroadcastHashJoin" in plan_of(q_tfidf_top_terms(spark, SF))
    # packing: one shuffle on source feeds BOTH the running-sum window and
    # the (source, pack_id) aggregate — Catalyst must reuse the exchange.
    # (+1 allowed for the final orderBy's range exchange)
    pack_plan = plan_of(q_pack_sequences(spark, SF))
    assert count_exchanges(pack_plan) <= 2, pack_plan


def test_aqe_splits_skewed_sort_merge_join(spark):
    """Runtime-evidence twin of the explicit salted join (operators/skew.py):
    when a shuffle join skews and broadcast is off the table (both sides
    big at 100 TB), the engine relies on AQE's OptimizeSkewedJoin to split
    the hot partition. Pin that contract: a 90%-hot-key join under
    production-shaped thresholds must execute as SortMergeJoin(skew=true)
    in the FINAL adaptive plan — if an upgrade or conf change silently
    disables it, hot keys go back to single-task stragglers."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",     # force the SMJ path
        # scaled-down thresholds: same ratios a real cluster uses (factor
        # over median, advisory target < hot partition size)
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32768",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        fact = (
            spark.range(0, 120_000)
            .withColumn("k", F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id") % 1000))
            .withColumn("pad", F.repeat(F.lit("x"), 200))
        )
        dim = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("k") * 2).alias("attr"))
        j = fact.join(dim, "k")
        assert len(j.toPandas()) == 120_000  # full execution finalizes AQE
        plan = plan_of(j)
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not split the hot partition"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_tpch_q5_broadcasts_dimension_chain(spark):
    """At the default broadcast budget the six-table Q5 join is a chain of
    broadcast hash joins: region/nation always (TPC-H fixed-size dims),
    supplier, customer and the date-filtered orders through the byte gate
    (they fit at testdata scale; tests/test_broadcast_gate.py covers the
    orders flip to a shuffle_hash join past the budget)."""
    from pdf_extraction_spark.operators.relational import q_tpch_q5_regional_revenue

    plan = plan_of(q_tpch_q5_regional_revenue(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_candidates_join_no_bucket_to_itself(spark):
    """Every LSH candidate set comes from dedup.bucket_pairs: the only joins
    keyed on a bucket (MinHash ``(seed, mh)``, embedding ``(band, bucket)``)
    are the width cap's anti-join and, in the incremental index, the
    semi-join of the index bands to the new batch's buckets. A bucket
    self-join (or new × all join) would show up as an Inner join here."""
    from pdf_extraction_spark.operators import all_queries
    from tests.plan_probe import executed_plans, joins

    qs = all_queries()
    want = {
        "dedup_minhash_lsh": {"LeftAnti"},
        "dedup_incremental_lsh": {"LeftAnti", "LeftSemi"},
        "neardup_bucketed_pairs": {"LeftAnti"},
    }
    for name, how in want.items():
        _, plans = executed_plans(spark, lambda: qs[name][0](spark, SF).collect())
        got = {t for key in ("mh", "bucket") for _, t in joins(plans, key)}
        assert got == how, (name, got)


def test_width_cap_is_written_once():
    """CI guard: the capped-bucket rule (a groupBy count filtered by ``>``
    and anti-joined away) is written in one function, dedup.bucket_pairs."""
    import ast
    import pathlib
    import re

    width = re.compile(r"\.groupBy\([^)]*\)\s*\.(?:count\(\)|agg\(F\.count\()[^>]*?\.filter\([^\n]*>")
    root = pathlib.Path(__file__).resolve().parent.parent / "pdf_extraction_spark"
    found = set()
    for p in root.rglob("*.py"):
        src = p.read_text()
        for fn in ast.walk(ast.parse(src)):
            if isinstance(fn, ast.FunctionDef):
                body = ast.get_source_segment(src, fn)
                if width.search(body) and "left_anti" in body:
                    found.add((p.name, fn.name))
    assert found == {("dedup.py", "bucket_pairs")}, found


def test_quantization_is_written_once():
    """CI guard: the integer grid every embedding score shares (round(x·10⁴)
    per component) is defined once per language — numpy's ``* 10000.0``
    only in similarity._np_quant, and the SQL oracle's quantized dot only in
    similarity._qd_sql (the oracle strings themselves are module-level
    data, not definitions)."""
    import ast
    import pathlib
    import re

    patterns = {"numpy": re.compile(r"\*\s*10000\.0\b"),
                "sql": re.compile(r"AS DOUBLE\) \* 10000\)")}
    root = pathlib.Path(__file__).resolve().parent.parent / "pdf_extraction_spark"
    found = set()
    for p in root.rglob("*.py"):
        src = p.read_text()
        for fn in ast.parse(src).body:
            if isinstance(fn, ast.FunctionDef):
                body = ast.get_source_segment(src, fn)
                found.update((kind, p.name, fn.name)
                             for kind, pat in patterns.items() if pat.search(body))
    assert found == {("numpy", "similarity.py", "_np_quant"),
                     ("sql", "similarity.py", "_qd_sql")}, found


def test_no_lazy_udf_singletons():
    """CI guard: every stateless pandas UDF is defined once at module level
    with a ``pyspark.sql.types`` return type, so no kernel hides behind a
    lazily filled module global: no ``global`` statement in the package."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "pdf_extraction_spark"
    found = {(p.name, node.lineno, tuple(node.names))
             for p in root.rglob("*.py")
             for node in ast.walk(ast.parse(p.read_text()))
             if isinstance(node, ast.Global)}
    assert not found, found


def test_shingles_are_written_once():
    """CI guard: the word n-gram rule (the ``w[i : i + n]`` slice joined by
    ' ') is written once in Python, in dedup.word_shingles; the SQL twin
    ``_grams_col`` and the oracle strings spell it in SQL."""
    import ast
    import pathlib
    import re

    gram = re.compile(r"\.join\(\s*\w+\[\s*\w+\s*:\s*\w+\s*\+")
    root = pathlib.Path(__file__).resolve().parent.parent / "pdf_extraction_spark"
    found = set()
    for p in root.rglob("*.py"):
        src = p.read_text()
        for fn in ast.walk(ast.parse(src)):
            if isinstance(fn, ast.FunctionDef) and gram.search(ast.get_source_segment(src, fn)):
                found.add((p.name, fn.name))
    assert found == {("dedup.py", "word_shingles")}, found


def test_store_reads_are_committed():
    """CI guard: the completion marker is the ingest warehouse's only
    commit record, so every store read in plans/incremental.py goes
    through ``_committed`` (marked batches plus the maintenance
    partitions): no literal ``io.read`` of a store table."""
    import ast
    import pathlib

    p = (pathlib.Path(__file__).resolve().parent.parent
         / "pdf_extraction_spark" / "plans" / "incremental.py")
    store = {"corpus", "gram_index", "doc_hashes", "bloom"}
    found = {(node.lineno, node.args[0].value)
             for node in ast.walk(ast.parse(p.read_text()))
             if isinstance(node, ast.Call)
             and isinstance(node.func, ast.Attribute) and node.func.attr == "read"
             and isinstance(node.func.value, ast.Name) and node.func.value.id == "io"
             and node.args and isinstance(node.args[0], ast.Constant)
             and node.args[0].value in store}
    assert not found, found


def test_bloom_size_has_no_side_table():
    """CI guard: the Bloom filter size is the ``m_bits`` column of the
    bloom table's rows, committed with its words — no ``bloom_meta`` table
    is written or read anywhere in the package."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "pdf_extraction_spark"
    found = [p.name for p in root.rglob("*.py") if "bloom_meta" in p.read_text()]
    assert not found, found


def test_ann_cosine_topk_evaluates_one_udf_per_row(spark):
    """The scoring kernel returns qdot and cos as one struct: the executed
    plan of ann_cosine_topk evaluates ONE Python UDF per row (ranked by
    s.qdot, reported as round(s.cos, 6)), not a dot and two norms."""
    import re

    from pdf_extraction_spark.operators.similarity import q_ann_cosine_topk
    from tests.plan_probe import executed_plans

    _, plans = executed_plans(spark, lambda: q_ann_cosine_topk(spark, SF).collect())
    udf_lists = [u for p in plans for u in re.findall(r"Arguments: \[(.*)\], \[pythonUDF", p)]
    assert udf_lists, plans
    assert all(len(re.findall(r"\)#\d+", u)) == 1 for u in udf_lists), udf_lists
