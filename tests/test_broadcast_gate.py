"""The byte-budget broadcast gate (``parallel.broadcast_within``), one case
per gated join family: at the default budget the gated side joins as a
BroadcastHashJoin; with the budget patched to 0 the same join runs as a
ShuffledHashJoin (no broadcast of that side) and returns the same rows.
The sarray lookup/join-back and the leakage audit are covered the same
way in tests/test_sarray.py and tests/test_curation.py."""

import pytest

from pdf_extraction_spark import parallel
from tests.plan_probe import executed_plans, join_kinds

SF = "/root/testdata/sf0.001"


def _verify_batch(spark, tmp_path):
    from pdf_extraction_spark.operators.dedup import q_minhash_lsh_pairs

    return q_minhash_lsh_pairs(spark, SF).collect()


def _verify_incremental(spark, tmp_path):
    from pdf_extraction_spark.operators.dedup import q_incremental_lsh

    return q_incremental_lsh(spark, SF).collect()


def _bloom_query(spark, tmp_path):
    from pdf_extraction_spark.operators.dedup import q_bloom_prefilter

    return q_bloom_prefilter(spark, SF).collect()


def _bloom_ingest(spark, tmp_path):
    """Second append: its admission gate probes the first batch's filter."""
    from pdf_extraction_spark.plans.incremental import append_batch
    from pdf_extraction_spark.sources.tables import TableIO

    root = str(tmp_path / f"ingest_{parallel.BROADCAST_BUDGET_BYTES}")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")  # noqa: E731
    append_batch(spark, root, mk([(1, "a b c d e f"), (2, "n o p q r s")]), "b1",
                 window=3, admit_unique=True)
    stats = append_batch(spark, root, mk([(10, "a b c d e f"), (11, "u v w x y z")]),
                         "b2", window=3, admit_unique=True)
    report = TableIO(spark, root).read("dup_report").orderBy("batch_id", "doc_id").collect()
    return [stats["n_admitted"], stats["n_store_dups"], report]


def _q5_orders(spark, tmp_path):
    from pdf_extraction_spark.operators.relational import q_tpch_q5_regional_revenue

    return q_tpch_q5_regional_revenue(spark, SF).collect()


def _retry_prior(spark, tmp_path):
    from pdf_extraction_spark.operators.relational import q_retry_state_join

    return q_retry_state_join(spark, SF).collect()


def _backfill(spark, tmp_path):
    from pdf_extraction_spark.operators.relational import q_backfill_update_join

    return q_backfill_update_join(spark, SF).collect()


# family -> (run, a join key of the gated side)
FAMILIES = {
    "verify_attach_batch": (_verify_batch, "doc_a"),
    "verify_attach_incremental": (_verify_incremental, "doc_a"),
    "bloom_probe_query": (_bloom_query, "word_idx"),
    "bloom_probe_ingest": (_bloom_ingest, "word_idx"),
    "q5_orders": (_q5_orders, "o_orderkey"),
    "retry_prior": (_retry_prior, "o_custkey"),
    "review_queue_backfill": (_backfill, "o_custkey"),
}


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_zero_budget_shuffles_gated_side_with_equal_rows(spark, tmp_path, monkeypatch, family):
    run, key = FAMILIES[family]
    want, plans = executed_plans(spark, lambda: run(spark, tmp_path))
    assert "BroadcastHashJoin" in join_kinds(plans, key)

    monkeypatch.setattr(parallel, "BROADCAST_BUDGET_BYTES", 0)
    got, plans = executed_plans(spark, lambda: run(spark, tmp_path))
    kinds = join_kinds(plans, key)
    assert "ShuffledHashJoin" in kinds and "BroadcastHashJoin" not in kinds, kinds
    assert got == want
