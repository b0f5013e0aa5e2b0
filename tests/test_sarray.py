"""Suffix-array exact-substring dedup: property tests vs pure-Python
references (the DuckDB oracle covers the per-source query; these pin the
algorithm itself and the cross-batch reconciliation)."""

import numpy as np
import pytest

from pdf_extraction_spark.operators.sarray import (
    SA_WINDOW,
    _adjacent_window_equal,
    duplicated_token_mass,
    suffix_array,
)


def _ref_suffix_array(seq):
    return sorted(range(len(seq)), key=lambda i: list(seq[i:]))


@pytest.mark.parametrize("seed,n,alpha", [
    (0, 1, 2), (1, 2, 1), (2, 17, 1), (3, 50, 2), (4, 200, 3),
    (5, 500, 5), (6, 300, 2), (7, 1000, 4), (8, 64, 1), (9, 257, 7),
])
def test_suffix_array_matches_sorted_suffixes(seed, n, alpha):
    rng = np.random.RandomState(seed)
    seq = rng.randint(-alpha, alpha + 1, size=n).astype(np.int64)
    assert suffix_array(seq).tolist() == _ref_suffix_array(seq)


def test_suffix_array_empty():
    assert suffix_array(np.empty(0, dtype=np.int64)).tolist() == []


def test_adjacent_window_equal_matches_slices():
    rng = np.random.RandomState(42)
    for w in (2, 3, 5):
        seq = rng.randint(0, 3, size=120).astype(np.int64)
        sa = suffix_array(seq)
        eq = _adjacent_window_equal(seq, sa, w)
        n = len(seq)
        for i in range(len(sa) - 1):
            a, b = sa[i], sa[i + 1]
            expect = (
                a <= n - w and b <= n - w
                and seq[a : a + w].tolist() == seq[b : b + w].tolist()
            )
            assert bool(eq[i]) == expect, (i, a, b, w)


def _ref_batch_classes(doc_ids, texts, w):
    """Suffix-array-grounded reference for the r7 byte-slice grouping in
    _batch_gram_classes: enumerate every valid w-window per doc (split(' ')
    semantics: '' → [''], None → no words), group by exact token sequence.
    Returns {md5(gram): (count, sorted occurrence multiset)}."""
    import hashlib
    from collections import defaultdict

    occs = defaultdict(list)
    for doc_id, text in zip(doc_ids, texts):
        words = text.split(" ") if isinstance(text, str) else []
        for off in range(len(words) - w + 1):
            occs[" ".join(words[off : off + w])].append((doc_id, off))
    return {
        hashlib.md5(g.encode("utf-8")).hexdigest(): (len(ps), sorted(ps))
        for g, ps in occs.items()
    }


@pytest.mark.parametrize("seed,w", [(0, 3), (1, 2), (2, 10), (3, 1), (4, 4)])
def test_batch_classes_match_suffix_array_reference(seed, w):
    """The r7 vectorized byte-slice grouping must produce the identical
    class set (keys, counts, occurrence multisets) as per-window
    enumeration — including empty docs, None text, repeated and multi-byte
    tokens, and consecutive spaces (empty tokens)."""
    from pdf_extraction_spark.operators.sarray import _batch_gram_classes

    rng = np.random.RandomState(seed)
    vocab = ["a", "bb", "ccc", "ümlaut", "文字", "", "x"]
    texts, ids = [], []
    for d in range(40):
        ids.append(d * 7)
        kind = rng.randint(5)
        if kind == 0:
            texts.append(None)
        elif kind == 1:
            texts.append("")
        else:
            n = rng.randint(0, 30)
            texts.append(" ".join(vocab[i] for i in rng.randint(0, len(vocab), n)))
    got = _batch_gram_classes(ids, texts, w)
    want = _ref_batch_classes(ids, texts, w)
    assert sorted(got.gram_key) == sorted(want)
    for _, row in got.iterrows():
        n_ref, occ_ref = want[row.gram_key]
        assert row.n_local == n_ref
        assert sorted(zip(row.occ_d.tolist(), row.occ_o.tolist())) == occ_ref


def _ref_dup_mass(docs, w):
    """Brute force: count positions covered by a sliding w-gram occurring
    at >= 2 (doc, off) locations."""
    from collections import defaultdict

    occs = defaultdict(list)
    for doc_id, text in docs:
        words = text.split(" ")
        for off in range(len(words) - w + 1):
            occs[" ".join(words[off : off + w])].append((doc_id, off))
    covered = defaultdict(set)
    for gram, ps in occs.items():
        if len(ps) >= 2:
            for doc_id, off in ps:
                covered[doc_id].update(range(off, off + w))
    return {d: len(s) for d, s in covered.items()}


CORPUS = [
    (1, "a b c d e f g h i j"),                      # exactly one window
    (2, "a b c d e f g h i j"),                      # full duplicate of 1
    (3, "x a b c d e f g h i j y z w v u t s r q"),  # contains 1 as substring
    (4, "p q r s t u v w x y z " * 3),               # self-repetition
    (5, "one two three four five six seven eight"),  # < W words: never dup
    (6, "m n o p q r s t u v w x"),                  # overlaps doc 4's tail?
    (7, ""),                                          # empty text
]


@pytest.mark.parametrize("n_parts", [1, 5])
def test_dup_mass_matches_bruteforce(spark, n_parts):
    """End-to-end vs the brute-force reference, at 1 partition (all work in
    one suffix array) AND 5 partitions (cross-batch reconciliation through
    the gram-key shuffle must give the identical answer)."""
    df = spark.createDataFrame(CORPUS, "doc_id long, text string").repartition(n_parts)
    got = {
        r["doc_id"]: r["dup_words"]
        for r in duplicated_token_mass(df, window=SA_WINDOW).collect()
    }
    assert got == _ref_dup_mass(CORPUS, SA_WINDOW)
    # sanity on the fixture itself: full-dup docs are fully covered
    assert got[1] == 10 and got[2] == 10
    assert 3 in got and 4 in got and 5 not in got and 7 not in got


@pytest.mark.parametrize("n_parts", [1, 4])
def test_incremental_mass_equals_batch(spark, n_parts):
    """The delta==batch contract of the incremental index path: for every
    split of the corpus into (old index, new batch), the incremental mass
    of the new docs — computed from the (gram_key, n_old) index alone —
    equals the batch recompute over old ∪ new restricted to new docs.
    Exercised at two partitionings (the index and the new batch cross the
    gram-key shuffle with different batch boundaries)."""
    from pyspark.sql import functions as F

    from pdf_extraction_spark.operators.sarray import (
        build_gram_index,
        incremental_duplicated_mass,
    )

    w = 3
    corpus = [
        (1, "a b c d e f"),
        (2, "z a b c d q a b c d"),   # dup vs doc 1 + self-repeat
        (3, "b c d e f g"),
        (4, "n o p q r s"),           # unique in old corpus...
        (10, "a b c d e f"),          # new: full dup of old doc 1
        (11, "n o p q r s t"),        # new: re-duplicates old-unique doc 4
        (12, "u v w u v w u v w"),    # new: within-batch self-repeat only
        (13, "h i j k l m"),          # new: genuinely novel
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string").repartition(n_parts)
    old = df.filter(F.col("doc_id") < 10)
    new = df.filter(F.col("doc_id") >= 10)

    index = build_gram_index(old, window=w)
    inc = {
        r["doc_id"]: r["dup_words"]
        for r in incremental_duplicated_mass(index, new, window=w).collect()
    }
    batch = {
        r["doc_id"]: r["dup_words"]
        for r in duplicated_token_mass(df, window=w).collect()
        if r["doc_id"] >= 10
    }
    assert inc == batch
    # the fixture exercises all three duplication sources
    ref = _ref_dup_mass(corpus, w)
    assert inc == {d: m for d, m in ref.items() if d >= 10}
    assert inc[10] == 6      # cross old-new duplicate
    assert inc[11] >= w      # window shared with old-unique doc 4
    assert inc[12] == 9      # within-batch self-repeat
    assert 13 not in inc     # novel doc has zero mass (no row)


def test_incremental_bulk_load_and_cap_fallback(spark, monkeypatch):
    """The two non-broadcast lookup paths added after the 500k ingest
    stress OOM'd the driver-side broadcast build: (a) an EMPTY index (the
    ingest plan's first bulk load) skips the lookup and must equal the
    batch recompute over the batch alone; (b) above the broadcast budget
    the lookup and the join-back degrade to shuffled joins with
    bit-identical results and no broadcast of the key sets."""
    from pyspark.sql import functions as F

    from pdf_extraction_spark import parallel
    from pdf_extraction_spark.operators.sarray import (
        build_gram_index,
        incremental_duplicated_mass,
    )

    w = 3
    corpus = [
        (1, "a b c d e f"),
        (2, "z a b c d q a b c d"),
        (3, "b c d e f g"),
        (10, "a b c d e f"),
        (11, "u v w u v w u v w"),
        (12, "h i j k l m"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    new = df.filter(F.col("doc_id") >= 10)

    # (a) bulk load: empty index == batch form over the batch alone
    empty = spark.createDataFrame([], "gram_key string, n_old bigint")
    got = {
        r["doc_id"]: r["dup_words"]
        for r in incremental_duplicated_mass(empty, new, window=w).collect()
    }
    want = {
        r["doc_id"]: r["dup_words"]
        for r in duplicated_token_mass(new, window=w).collect()
    }
    assert got == want and 11 in got and 12 not in got

    # (b) budget fallback: budget 0 forces the shuffle_hash lookup and
    # join-back — masses must be bit-identical to the broadcast path
    from tests.plan_probe import executed_plans, join_kinds

    index = build_gram_index(df.filter(F.col("doc_id") < 10), window=w)
    mass = lambda: {  # noqa: E731
        r["doc_id"]: r["dup_words"]
        for r in incremental_duplicated_mass(index, new, window=w).collect()
    }
    bcast, plans = executed_plans(spark, mass)
    assert join_kinds(plans, "gram_key") == {"BroadcastHashJoin"}
    monkeypatch.setattr(parallel, "BROADCAST_BUDGET_BYTES", 0)
    shuf, plans = executed_plans(spark, mass)
    assert join_kinds(plans, "gram_key") == {"ShuffledHashJoin"}
    assert shuf == bcast
    assert shuf[10] == 6  # cross old-new duplicate survives both paths


def test_dup_mass_small_window_interval_union(spark):
    """Window W=3 with overlapping duplicated spans: the running-max
    interval union must not double-count overlapping windows."""
    corpus = [
        (1, "a b c d e f"),
        (2, "z a b c d q a b c d"),  # 'a b c d' dup + self-repeat
        (3, "b c d e f g"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {r["doc_id"]: r["dup_words"] for r in duplicated_token_mass(df, window=3).collect()}
    assert got == _ref_dup_mass(corpus, 3)
