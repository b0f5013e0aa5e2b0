"""IVF-ANN: deterministic training + recall bound vs the exact top-k."""

from pyspark.sql import functions as F

from pdf_extraction_spark.operators.similarity import (
    IVF_K,
    QUERY_VEC_ID,
    TOP_K,
    ivf_assign,
    ivf_train,
    q_ann_cosine_topk,
    q_ann_ivf_topk,
)

SF = "/root/testdata/sf0.01"


def test_ivf_deterministic_and_recall(spark):
    exact = [r["vec_id"] for r in q_ann_cosine_topk(spark, SF).collect()]
    approx1 = [r["vec_id"] for r in q_ann_ivf_topk(spark, SF).collect()]
    approx2 = [r["vec_id"] for r in q_ann_ivf_topk(spark, SF).collect()]
    assert approx1 == approx2  # deterministic end-to-end
    recall = len(set(exact) & set(approx1)) / TOP_K
    assert recall >= 0.5, f"IVF recall {recall} too low vs exact {exact} / {approx1}"


def test_ivf_k256_clustered_recall(spark):
    """k=256 — the regime literal-expression assignment could not reach
    (Catalyst caps per-centroid expression trees at ~low hundreds); the
    vectorized matmul assignment trains and probes it directly."""
    import numpy as np

    from pdf_extraction_spark.operators.similarity import ivf_search

    rng = np.random.default_rng(5)
    centers = rng.standard_normal((256, 64)) * 5.0
    pts = centers[:, None, :] + rng.standard_normal((256, 16, 64))
    # interleave clusters so the deterministic init (first k by vec_id)
    # sees one point per cluster
    M = pts.transpose(1, 0, 2).reshape(-1, 64).astype(np.float32)
    rows = [(int(i), [float(x) for x in M[i]]) for i in range(len(M))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    centroids = ivf_train(emb, k=256, iters=2)
    assert len(centroids) == 256
    assigned = ivf_assign(emb.filter(F.col("vec_id") != 0), centroids)
    got = [r["vec_id"] for r in
           ivf_search(assigned, centroids, [float(x) for x in M[0]],
                      k=TOP_K, n_probe=8).collect()]

    # ivf_search ranks by the quantized DOT product (like ann_cosine_topk
    # and its SQL oracle) — mirror that here
    Q = np.round(M.astype(np.float64) * 10000.0).astype(np.int64)
    sims = Q @ Q[0]
    sims[0] = np.iinfo(np.int64).min  # exclude the query itself
    exact = set(np.argsort(-sims, kind="stable")[:TOP_K].tolist())
    recall = len(exact & set(got)) / TOP_K
    assert recall >= 0.9, f"k=256 recall {recall}: {sorted(exact)} vs {sorted(got)}"


def test_ivf_lists_cover_all_vectors(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    centroids = ivf_train(emb)
    assert len(centroids) == IVF_K
    assigned = ivf_assign(emb, centroids)
    hist = {r["ivf_list"]: r["n"] for r in
            assigned.groupBy("ivf_list").agg(F.count("*").alias("n")).collect()}
    assert sum(hist.values()) == emb.count()
    assert min(hist) >= 0 and max(hist) < IVF_K


def test_numpy_scoring_matches_hof_sql_twin(spark):
    """The scoring kernel's dot (quantized_scores(e, qe).qdot) and squared
    norm (quantized_scores(e, e).qdot) must be bit-identical to the
    interpreted higher-order-function column form kept as the SQL-twin
    documentation (_qdot_hof / _qnorm2_hof) — every quantized
    intermediate is an exact int64, so equality is exact, not
    approximate. A tie vector (every x·10⁴ on .5: components i/64 with
    i ≡ 2 mod 4) pins the rounding: half away from zero, as Spark's
    HALF_UP round and DuckDB's round."""
    from pdf_extraction_spark.operators.similarity import (
        DIM,
        _qdot_hof,
        _qnorm2_hof,
        quantized_scores,
    )

    tie = [(-1) ** j * (2 + 4 * (j % 16)) / 64 for j in range(DIM)]
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .unionByName(spark.createDataFrame([(-1, tie)], "vec_id long, embedding array<float>"))
    )
    qv = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("qe"))
    both = (
        emb.join(F.broadcast(qv))
        .select(
            quantized_scores(F.col("embedding"), F.col("qe"))["qdot"].alias("np_dot"),
            _qdot_hof(F.col("embedding"), F.col("qe")).alias("hof_dot"),
            quantized_scores(F.col("embedding"), F.col("embedding"))["qdot"].alias("np_n2"),
            _qnorm2_hof(F.col("embedding")).alias("hof_n2"),
        )
        .filter((F.col("np_dot") != F.col("hof_dot")) | (F.col("np_n2") != F.col("hof_n2")))
    )
    assert both.count() == 0


def test_lsh_topk_recall_vs_exact(spark):
    """Bucket-pruned LSH top-k must recover most of the exact top-k (the
    prune trades the tail, not the head)."""
    from pdf_extraction_spark.operators.similarity import q_ann_lsh_topk

    exact = [r["vec_id"] for r in q_ann_cosine_topk(spark, SF).collect()]
    pruned = [r["vec_id"] for r in q_ann_lsh_topk(spark, SF).collect()]
    assert len(pruned) == TOP_K
    recall = len(set(exact) & set(pruned)) / TOP_K
    assert recall >= 0.7, f"LSH top-k recall {recall}: exact={exact} pruned={pruned}"


def test_similarity_tolerates_poison_embeddings(spark, tmp_path):
    """NULL and ragged embedding rows must degrade to dropped candidates,
    never an Arrow-batch numpy crash (C3). Built on a copy of the real
    corpus plus poison rows; results must equal the clean corpus's."""
    import os

    from pdf_extraction_spark.operators.similarity import (
        q_ann_cosine_topk,
        q_neardup_bucketed_pairs,
        valid_embeddings,
    )

    sfdir = str(tmp_path / "sf")
    os.makedirs(sfdir)
    base = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    poison = spark.createDataFrame(
        [(900001, None), (900002, [1.0, 2.0])],
        "vec_id bigint, embedding array<double>",
    ).select("vec_id", F.col("embedding").cast(dict(base.dtypes)["embedding"]).alias("embedding"))
    base.unionByName(poison, allowMissingColumns=True).write.parquet(
        os.path.join(sfdir, "embeddings.parquet")
    )

    clean = {r["vec_id"]: r["cosine"] for r in q_ann_cosine_topk(spark, SF).collect()}
    dirty = {r["vec_id"]: r["cosine"] for r in q_ann_cosine_topk(spark, sfdir).collect()}
    assert dirty == clean

    n_clean = q_neardup_bucketed_pairs(spark, SF).count()
    n_dirty = q_neardup_bucketed_pairs(spark, sfdir).count()
    assert n_dirty == n_clean

    emb = spark.read.parquet(os.path.join(sfdir, "embeddings.parquet"))
    assert emb.count() == valid_embeddings(emb).count() + 2


def test_hard_negatives_semantics_and_salt_invariance(spark):
    """ann_hard_negatives: (a) every mined negative bears a label different
    from its anchor's; (b) ranks are cos_micro-descending with vec_id
    tie-break; (c) the two-phase tree top-k (salted partial heads → final
    reduce) is bit-equal to the single-group form (n_salts=1) AND to a
    numpy brute force over the whole corpus."""
    import numpy as np

    from pdf_extraction_spark.operators.similarity import (
        K_NEG,
        N_ANCHORS,
        hard_negative_topk,
        q_ann_hard_negatives,
        valid_embeddings,
    )

    sf = "/root/testdata/sf0.001"
    rows = q_ann_hard_negatives(spark, sf).collect()
    emb = {r["vec_id"]: (np.array(r["embedding"], dtype=np.float64), r["label"])
           for r in spark.read.parquet(f"{sf}/embeddings.parquet").collect()}

    assert len(rows) == N_ANCHORS * K_NEG
    by_anchor = {}
    for r in rows:
        assert emb[r["vec_id"]][1] == r["label"]
        assert r["label"] != emb[r["anchor_id"]][1]
        by_anchor.setdefault(r["anchor_id"], []).append(r)
    for anchor_id, rs in by_anchor.items():
        assert [r["rank"] for r in rs] == list(range(1, K_NEG + 1))
        keys = [(-r["cos_micro"], r["vec_id"]) for r in rs]
        assert keys == sorted(keys)

        # numpy brute force over every different-label candidate
        aq = np.round(emb[anchor_id][0] * 10000.0).astype(np.int64)
        alabel = emb[anchor_id][1]
        cands = []
        for vid, (v, lab) in emb.items():
            if lab == alabel:
                continue
            q = np.round(v * 10000.0).astype(np.int64)
            cos = int(np.rint((q @ aq) / (np.sqrt(q @ q) * np.sqrt(aq @ aq)) * 1e6))
            cands.append((-cos, vid))
        want = sorted(cands)[:K_NEG]
        assert [( -r["cos_micro"], r["vec_id"]) for r in rs] == want

    e = valid_embeddings(spark.read.parquet(f"{sf}/embeddings.parquet"))
    anchors = e.filter(e.vec_id < N_ANCHORS)
    single = hard_negative_topk(e, anchors, n_salts=1).collect()
    assert [tuple(r) for r in single] == [tuple(r) for r in rows]


def test_int8_quant_stats_roundtrip_and_zero_vector(spark):
    """embed_int8_stats building block: (a) pure-numpy replay matches the
    Arrow stage bit-for-bit; (b) the per-component reconstruction error is
    bounded by scale/254 (symmetric int8 guarantee), in nano units;
    (c) a zero vector quantizes to zero scale and zero error."""
    import numpy as np

    from pdf_extraction_spark.operators.embed import int8_quant_stats

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = {
        r["vec_id"]: r["s"]
        for r in emb.select(
            "vec_id", int8_quant_stats(F.col("embedding")).alias("s")
        ).collect()
    }
    for r in emb.collect():
        A = np.array(r["embedding"], dtype=np.float64)
        scale_micro = int(np.round(np.abs(A).max() * 1e6))
        s = got[r["vec_id"]]
        assert s["scale_micro"] == scale_micro
        # error bound: |x - q*scale/127| <= scale/(2*127) per component
        bound_nano = scale_micro / 1e6 / 254 * 1e9 + 1
        assert s["max_abs_err_nano"] <= bound_nano, (s, bound_nano)
        assert s["sum_abs_err_nano"] <= len(A) * bound_nano

    z = spark.createDataFrame(
        [(0, [0.0] * 4), (1, [0.5, -1.0, 0.25, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {
        r["vec_id"]: r["s"]
        for r in z.select("vec_id", int8_quant_stats(F.col("embedding")).alias("s")).collect()
    }
    assert tuple(rows[0]) == (0, 0, 0)
    # non-representable components: replay the exact arithmetic (0.5 is
    # NOT a multiple of 1/127, so the error is real and deterministic)
    A = np.array([0.5, -1.0, 0.25, 0.0], dtype=np.float64)
    scale_micro = int(np.round(np.abs(A).max() * 1e6))
    q = np.round(A / (scale_micro / 1e6) * 127)
    err = np.abs(np.round((A - q * (scale_micro / 1e6) / 127) * 1e9).astype(np.int64))
    assert rows[1]["scale_micro"] == scale_micro == 1_000_000
    assert rows[1]["sum_abs_err_nano"] == int(err.sum())
    assert rows[1]["max_abs_err_nano"] == int(err.max())


def test_zero_vector_scores_null_cosine_without_warning(spark):
    """A zero-norm vector scores qdot 0 and a NULL cos against any vector,
    as DuckDB's 0.0/0.0 and 1.0/0.0 are NULL, and the kernel's numpy body
    (the code the Python worker runs) emits no RuntimeWarning for it."""
    import warnings

    import duckdb
    import pandas as pd

    from pdf_extraction_spark.operators.similarity import DIM, quantized_scores

    zero, unit = [0.0] * DIM, [0.5] * DIM
    df = spark.createDataFrame(
        [(0, zero, zero), (1, zero, unit), (2, unit, unit)],
        "id long, a array<float>, b array<float>",
    )
    got = {r["id"]: tuple(r["s"]) for r in
           df.select("id", quantized_scores(F.col("a"), F.col("b")).alias("s")).collect()}
    assert got == {0: (0, None), 1: (0, None), 2: (DIM * 5000 * 5000, 1.0)}
    assert duckdb.sql("SELECT 0.0 / 0.0, 1.0 / 0.0").fetchall() == [(None, None)]

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = quantized_scores.func(pd.Series([zero, zero]), pd.Series([zero, unit]))
    assert out["qdot"].tolist() == [0, 0] and out["cos"].isna().all()


def test_hard_negatives_rank_zero_vector_last_as_oracle(spark, tmp_path):
    """A zero-norm candidate scores a NULL cos_micro: ann_hard_negatives
    ranks it after every scored candidate, as its DuckDB oracle's
    ``ORDER BY cos_micro DESC`` (NULLS LAST) does."""
    import duckdb
    import numpy as np

    from pdf_extraction_spark.operators.similarity import (
        _SQL_HARD_NEG,
        DIM,
        K_NEG,
        N_ANCHORS,
        q_ann_hard_negatives,
    )

    rng = np.random.RandomState(0)
    rows = [(i, rng.uniform(-1, 1, DIM).astype(np.float32).tolist(), int(i >= N_ANCHORS))
            for i in range(N_ANCHORS + K_NEG - 1)]
    rows += [(N_ANCHORS + K_NEG - 1, [0.0] * DIM, 1)]
    spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int") \
        .coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))

    got = [tuple(r) for r in q_ann_hard_negatives(spark, str(tmp_path)).collect()]
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{tmp_path}/embeddings.parquet/*.parquet')")
    want = [tuple(r) for r in con.sql(_SQL_HARD_NEG).fetchall()]
    assert got == want
    assert [r[1:3] for r in got if r[4] is None] == [(K_NEG, N_ANCHORS + K_NEG - 1)] * N_ANCHORS
