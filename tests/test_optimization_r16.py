"""Focused tests for the r16 optimization-round internals.

The optimizations must be INVISIBLE except for speed: the kmeans /
pagerank work-pins are released when the operator returns (VERDICT r15
item 9's finally-unpersist contract), with at most the ONE materialized
result checkpoint left alive (it frees via the ContextCleaner when the
caller drops the frame), and results are unchanged.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _cache_manager_empty(spark) -> bool:
    """True when no DataFrame.persist entry is live. persist() registers
    in the CacheManager; localCheckpoint blocks do NOT — so this censuses
    exactly the pins the finally-unpersist contract must release, without
    counting the (ContextCleaner-scoped) result checkpoints."""
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture()
def emb(spark):
    # 60 ids x 8 dims, deterministic values in [-1, 1]
    return spark.range(0, 60).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.round(F.sin(F.col("id") * (i + 1)), 3)
                  for i in range(8)]).alias("embedding"))


def test_kmeans_labels_releases_work_pin(spark, emb):
    from walmart_project_etl_spark.operators.similarity import kmeans_labels

    assert _cache_manager_empty(spark), "dirty cache manager at entry"
    out = kmeans_labels(emb, "vec_id", "embedding", k=4, iters=2)
    n = out.count()
    assert n == 60
    # the persisted work frame must be gone; the eagerly checkpointed
    # result (not a CacheManager entry) is the only thing left alive
    assert _cache_manager_empty(spark), \
        "kmeans_labels leaked its work pin"


def test_kmeans_labels_broadcast_path_matches_literal_path(spark, emb):
    """k above/below KMEANS_LITERAL_K_MAX must label identically —
    guards the result while the pin scoping changes around it."""
    import walmart_project_etl_spark.operators.similarity as sim

    lit = sim.kmeans_labels(emb, "vec_id", "embedding", k=4, iters=1)
    old_max = sim.KMEANS_LITERAL_K_MAX
    sim.KMEANS_LITERAL_K_MAX = 0        # force the broadcast-join path
    try:
        bc = sim.kmeans_labels(emb, "vec_id", "embedding", k=4, iters=1)
        a = {r["vec_id"]: (r["cluster"], r["centroid_sim"])
             for r in lit.collect()}
        b = {r["vec_id"]: (r["cluster"], r["centroid_sim"])
             for r in bc.collect()}
        assert a == b
    finally:
        sim.KMEANS_LITERAL_K_MAX = old_max


def test_pagerank_releases_graph_pins(spark):
    from walmart_project_etl_spark.operators.graph import pagerank

    edges = spark.range(0, 200).select(
        (F.col("id") % 40).alias("src"),
        ((F.col("id") * 7 + 3) % 40).alias("dst"))
    assert _cache_manager_empty(spark), "dirty cache manager at entry"
    pr = pagerank(edges, iters=3)
    rows = pr.collect()
    # src s always links to (7s + 3) % 40 (280 ≡ 0 mod 40), a permutation
    # of the 40 nodes: every node has in- and out-degree 1, so each round
    # maps 1/40 to 0.15/40 + 0.85 * 1/40 = 1/40 — the ranks stay uniform
    assert {r["node"] for r in rows} == set(range(40))
    assert all(r["pagerank"] == pytest.approx(0.025, abs=1e-10)
               for r in rows)
    assert _cache_manager_empty(spark), \
        "pagerank leaked a static-graph pin"
    with pytest.raises(ValueError, match="iters"):
        pagerank(edges, iters=0)
    assert _cache_manager_empty(spark), "iters=0 left a pin behind"


def test_pagerank_values_stable_under_pin_scoping(spark):
    """Round-10 fixed-point ranks are partitioning-independent; the
    eager final checkpoint must not change a digit."""
    from walmart_project_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1)], "src int, dst int")
    got = {r["node"]: r["pagerank"]
           for r in pagerank(edges, iters=2).collect()}
    # hand-rolled reference: pr0 = 1/4 each, d=0.85, base=0.0375
    # out: 1->2, 2->3, 3->1, 4->1
    pr = {v: 0.25 for v in (1, 2, 3, 4)}
    for _ in range(2):
        contrib = {1: pr[3] + pr[4], 2: pr[1], 3: pr[2]}
        pr = {v: round(0.15 / 4 + 0.85 * contrib.get(v, 0.0), 10)
              for v in (1, 2, 3, 4)}
    assert got == pr
