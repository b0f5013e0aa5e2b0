#!/usr/bin/env python
"""Scale-stress the star-contraction connected-components operator
(operators/dedup.py neardup_clusters) on an adversarial synthetic graph —
evidence that the r3 rewrite holds at corpus scale, not just the sf0.01
near-dup cliques. Run: python docs/cluster_stress.py

Graph (deterministic, seeded): 500k vertices / ~500k edges mixing the
shapes real near-dup graphs produce —
  - 20k cliques of size 5-20 (boilerplate families; the common case)
  - 200 chains of length 1,000 (template drift A~B~C~…; diameter 1,000 —
    the shape that made the r2 min-label loop both slow and wrong)
  - 100k random edges over a 400k-id space (noise / cross-links)
The graph is under the driver union-find edge cap, so the script sets
``dedup.CC_LOCAL_EDGE_CAP = 0`` to force the distributed star contraction
it stresses. Verified against a driver-side union-find (fine at this size;
the Spark path never sees the python structure). Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_edges():
    rng = random.Random(1234)
    ids = list(range(1_000_000))
    rng.shuffle(ids)
    it = iter(ids)
    edges = set()
    # cliques (star edges suffice for the same components; add a few extras)
    for _ in range(20_000):
        size = rng.randint(5, 20)
        members = [next(it) for _ in range(size)]
        root = members[0]
        for m in members[1:]:
            edges.add((min(root, m), max(root, m)))
        edges.add((min(members[1], members[-1]), max(members[1], members[-1])))
    # long chains — diameter 1000
    for _ in range(200):
        chain = [next(it) for _ in range(1_000)]
        for a, b in zip(chain, chain[1:]):
            edges.add((min(a, b), max(a, b)))
    # random noise edges over a bounded id space (collides with the above)
    for _ in range(100_000):
        a, b = rng.randrange(400_000), rng.randrange(400_000)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    return sorted(edges)


def union_find(pairs):
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


def main() -> None:
    from pdf_extraction_spark.operators import dedup
    from pdf_extraction_spark.session import build_session

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session(app_name="cluster_stress", master=f"local[{cpus}]",
                          shuffle_partitions=2 * cpus)
    edges = build_edges()
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")

    dedup.CC_LOCAL_EDGE_CAP = 0  # the star contraction, not the driver union-find
    stats: dict = {}
    t0 = time.monotonic()
    got = {r["doc_id"]: r["keeper"] for r in dedup.neardup_clusters(df, stats=stats).collect()}
    wall = time.monotonic() - t0

    want = union_find(edges)
    assert got == want, "cluster labels diverge from union-find"
    n_clusters = len(set(got.values()))
    print(json.dumps({
        "metric": "cluster_stress",
        "edges": len(edges),
        "vertices": len(want),
        "clusters": n_clusters,
        "contraction_rounds": stats.get("rounds"),
        "wall_s": round(wall, 2),
        "correct_vs_union_find": True,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
