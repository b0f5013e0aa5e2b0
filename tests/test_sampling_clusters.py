"""Deterministic sampling/split invariants + property-based check of the
connected-components clustering against a pure-python union-find."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pdf_extraction_spark.operators import dedup
from pdf_extraction_spark.operators.dedup import neardup_clusters
from pdf_extraction_spark.operators.sampling import (
    SAMPLE_RATES,
    dataset_split,
    stratified_sample,
)

SF = "/root/testdata/sf0.001"
# edge caps selecting each connected-components path: the driver
# union-find (default) and the distributed star contraction (0)
CC_PATHS = (dedup.CC_LOCAL_EDGE_CAP, 0)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_sample_is_deterministic_and_stratified(spark, docs):
    a = {r["doc_id"] for r in stratified_sample(docs, "doc_id", "lang", SAMPLE_RATES).collect()}
    b = {r["doc_id"] for r in stratified_sample(docs, "doc_id", "lang", SAMPLE_RATES).collect()}
    assert a == b and a  # same rows every run — resumable sampling
    # zero-rate stratum drops everything; rate-1.0 keeps everything
    none = stratified_sample(docs, "doc_id", "lang", {}, default_rate=0.0).count()
    full = stratified_sample(docs, "doc_id", "lang", {}, default_rate=1.0).count()
    assert none == 0 and full == docs.count()


def test_split_is_stable_under_corpus_growth(spark, docs):
    """A row's split depends only on its own key: computing splits on a
    subset must agree with the full corpus (no rank/count dependence)."""
    full = {r["doc_id"]: r["split"] for r in dataset_split(docs, "doc_id").collect()}
    sub_df = docs.filter(F.col("doc_id") % 3 == 0)
    sub = {r["doc_id"]: r["split"] for r in dataset_split(sub_df, "doc_id").collect()}
    assert sub and all(full[k] == v for k, v in sub.items())
    mix = {s: 0 for s in ("train", "val", "test")}
    for s in full.values():
        mix[s] += 1
    n = len(full)
    assert 0.7 < mix["train"] / n < 0.9  # ~80/10/10
    assert mix["val"] > 0 and mix["test"] > 0


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_clusters_long_path_converges(spark, monkeypatch):
    """Diameter-25 path graph: min-label propagation alone needs 25 rounds
    (the r2 defect silently truncated at 20); pointer jumping converges in
    O(log n) and the result must be the exact single component, on both
    connected-components paths."""
    pairs = [(i, i + 1) for i in range(25)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    for cap in CC_PATHS:
        monkeypatch.setattr(dedup, "CC_LOCAL_EDGE_CAP", cap)
        stats: dict = {}
        got = {r["doc_id"]: r["keeper"] for r in neardup_clusters(df, stats).collect()}
        assert got == {i: 0 for i in range(26)}
        if cap == 0:
            assert 0 < stats["rounds"] < 25, stats


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
        min_size=1, max_size=40,
    )
)
def test_clusters_match_union_find(spark, monkeypatch, edges):
    pairs = sorted({(min(a, b), max(a, b)) for a, b in edges})
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    want = _union_find(pairs)
    for cap in CC_PATHS:
        monkeypatch.setattr(dedup, "CC_LOCAL_EDGE_CAP", cap)
        got = {r["doc_id"]: r["keeper"] for r in neardup_clusters(df).collect()}
        assert got == want


def test_clusters_empty_pairs(spark, monkeypatch):
    """Zero verified pairs → zero clusters (the contraction loop must not
    run and the empty bit_xor signature must not crash)."""
    df = spark.createDataFrame([], "doc_a long, doc_b long")
    for cap in CC_PATHS:
        monkeypatch.setattr(dedup, "CC_LOCAL_EDGE_CAP", cap)
        assert neardup_clusters(df).count() == 0


def test_classifier_training_set_balance_and_determinism(spark):
    """classifier_training_set: exactly CLS_N per class, labels honor the
    proxy, the per-class pick is the first-CLS_N by md5(doc_id) order
    (growth-stable, no RNG), invariant under repartitioning, and the plan
    is TakeOrdered (never a global sort of the corpus)."""
    import hashlib

    from pdf_extraction_spark.operators.sampling import (
        CLS_MIN_CHARS,
        CLS_N,
        classifier_training_set,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = classifier_training_set(docs).collect()
    pos = [r for r in out if r["label"] == 1]
    neg = [r for r in out if r["label"] == 0]
    assert len(pos) == CLS_N and len(neg) == CLS_N
    for r in pos:
        assert r["lang"] == "en" and r["n_chars"] >= CLS_MIN_CHARS
    for r in neg:
        assert not (r["lang"] == "en" and r["n_chars"] >= CLS_MIN_CHARS)

    # first-n-by-hash: replay the ranking in pure Python
    all_docs = docs.select("doc_id", "lang", "n_chars").collect()
    key = lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d)  # noqa: E731
    want_pos = sorted(
        (r["doc_id"] for r in all_docs
         if r["lang"] == "en" and r["n_chars"] >= CLS_MIN_CHARS),
        key=key,
    )[:CLS_N]
    assert sorted(r["doc_id"] for r in pos) == sorted(want_pos)

    again = classifier_training_set(docs.repartition(13)).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in out]

    plan = classifier_training_set(docs)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrdered" in plan
