"""Bucketed near-dup pairs: recall vs the exact all-pairs oracle twin, and
the scale-regime pruning behavior the operator exists for.

Two regimes:
- testdata (sf0.01, threshold 0.33 ⇒ θ≈71°, per-plane p≈0.61): the hardest
  regime for sign-LSH — recall must still clear 0.9 with the registered
  (16 bands × 4 planes) config, and every emitted pair must be exactly a
  pair the brute-force query emits (same verify formula + threshold).
- production near-dup thresholds (planted pairs at cos≈0.99, 8 bands × 10
  planes): candidates collapse to ~1% of all pairs while recall stays ≈1 —
  the 100 TB justification for bucketing before verification.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark.operators.similarity import (
    NB_BANDS,
    PLANES_PER_BAND,
    lsh_band_signatures,
    neardup_bucketed_pairs,
    q_embedding_neardup_pairs,
    q_neardup_bucketed_pairs,
)

SF_DIR = "/root/testdata/sf0.01"


@pytest.mark.skipif(not __import__("os").path.isdir(SF_DIR), reason="driver testdata absent")
def test_recall_vs_exact_pairs(spark):
    exact = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in q_embedding_neardup_pairs(spark, SF_DIR).collect()
    }
    bucketed = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in q_neardup_bucketed_pairs(spark, SF_DIR).collect()
    }
    # precision is exact by construction: bucketed ⊆ exact with equal cosines
    assert set(bucketed) <= set(exact)
    for k, v in bucketed.items():
        assert v == exact[k]
    recall = len(bucketed) / len(exact)
    assert recall >= 0.90, f"recall {recall:.3f} (got {len(bucketed)}/{len(exact)})"


@pytest.mark.skipif(not __import__("os").path.isdir(SF_DIR), reason="driver testdata absent")
def test_bucket_cap_matches_driver_reference(spark):
    """Under a cap below the widest (band, bucket) of sf0.01 (62 vectors),
    the pairs are exactly the exact-cosine pairs that share a bucket of at
    most ``cap`` vectors — the reference grouping done on the driver from
    the collected signature rows."""
    from collections import defaultdict
    from itertools import combinations

    from pdf_extraction_spark.operators.similarity import valid_embeddings

    cap = 40
    emb = valid_embeddings(spark.read.parquet(f"{SF_DIR}/embeddings.parquet"))
    buckets = defaultdict(list)
    for r in lsh_band_signatures(emb, NB_BANDS, PLANES_PER_BAND).collect():
        buckets[(r["band"], r["bucket"])].append(r["vec_id"])
    assert max(map(len, buckets.values())) > cap  # the cap binds
    cand = {
        pair
        for ids in buckets.values() if len(ids) <= cap
        for pair in combinations(sorted(ids), 2)
    }
    exact = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in q_embedding_neardup_pairs(spark, SF_DIR).collect()
    }
    want = {k: v for k, v in exact.items() if k in cand}
    got = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in neardup_bucketed_pairs(emb, max_bucket_width=cap).collect()
    }
    assert got, "the cap should leave pairs"
    assert got == want


@pytest.fixture(scope="module")
def planted_embeddings(spark):
    rng = np.random.default_rng(11)
    base = rng.standard_normal((50, 64))
    dup = base + 0.05 * rng.standard_normal((50, 64))  # cos ≈ 0.997
    other = rng.standard_normal((900, 64))
    M = np.vstack([base, dup, other])
    rows = [(int(i), [float(x) for x in M[i]]) for i in range(len(M))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), len(M)


def test_high_threshold_regime_prunes_and_recalls(spark, planted_embeddings):
    emb, n = planted_embeddings
    nb, ppb = 8, 10

    bands = lsh_band_signatures(emb, nb, ppb)
    a, b = bands.alias("a"), bands.alias("b")
    n_cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select("a.vec_id", "b.vec_id").distinct().count()
    )
    all_pairs = n * (n - 1) // 2
    assert n_cand / all_pairs < 0.02, f"candidates {n_cand}/{all_pairs}"

    pairs = neardup_bucketed_pairs(
        emb, n_bands=nb, planes_per_band=ppb, threshold=0.9
    ).collect()
    found = {(r["vec_a"], r["vec_b"]) for r in pairs}
    planted = {(i, i + 50) for i in range(50)}
    recall = len(found & planted) / 50
    assert recall >= 0.95, f"planted recall {recall}"
