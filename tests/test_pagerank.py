"""Golden-graph + NetworkX-oracle tests for the PageRank kernel
(SURVEY.md §5.2 items 1-4; fixtures from FIXTURES.md F2/F3).

The reference has no tests; its correctness claim is "aligns with NetworkX"
(MR/PageRankDriver.java:101-111). We operationalize that claim.
"""

from __future__ import annotations

import random

import pytest

from pagerank_giraph_vs_mapreduce_spark.graph.builder import build_graph
from pagerank_giraph_vs_mapreduce_spark.graph.pagerank import pagerank, top_k
from tests.conftest import make_edges
from tests.py_oracle import py_pagerank


def ranks_dict(result):
    return {r["id"]: r["pr"] for r in result.ranks.collect()}


def test_cycle2(spark):
    """F2 cycle2: 1→2, 2→1 ⇒ PR = (0.5, 0.5) exactly."""
    res = pagerank(make_edges(spark, [(1, 2), (2, 1)]), max_iter=50, tol=1e-12)
    pr = ranks_dict(res)
    assert pr[1] == pytest.approx(0.5, abs=1e-9)
    assert pr[2] == pytest.approx(0.5, abs=1e-9)
    assert res.converged


def test_ring_k(spark):
    """F2 ring: i→(i+1 mod 10) ⇒ PR = 1/10 each, from iteration 0."""
    n = 10
    res = pagerank(make_edges(spark, [(i, (i + 1) % n) for i in range(n)]), max_iter=30)
    pr = ranks_dict(res)
    for v in pr.values():
        assert v == pytest.approx(1.0 / n, abs=1e-9)


def test_dup_edges_dedup(spark):
    """F2 dup_edges: 1→2 ×3 plus 2→1 must equal cycle2 (A2 dedup semantics)."""
    res = pagerank(
        make_edges(spark, [(1, 2), (1, 2), (1, 2), (2, 1)]), max_iter=50, tol=1e-12
    )
    pr = ranks_dict(res)
    assert pr[1] == pytest.approx(0.5, abs=1e-9)


def test_dangling_pair(spark):
    """F2 dangling_pair 1→2: fixed point of C1 with uniform dangling
    redistribution (same fixed point as networkx.pagerank alpha=0.85)."""
    res = pagerank(make_edges(spark, [(1, 2)]), max_iter=200, tol=1e-14)
    pr = ranks_dict(res)
    exp = py_pagerank([(1, 2)])
    assert pr[1] == pytest.approx(exp[1], abs=1e-8)
    assert pr[2] == pytest.approx(exp[2], abs=1e-8)


def test_total_pr_invariant(spark):
    """A6 invariant: Σpr ≈ 1.0 every recorded iteration."""
    edges = [(i, (i * 7 + 1) % 23) for i in range(40)]
    res = pagerank(make_edges(spark, edges), max_iter=20)
    assert res.history, "expected per-iteration stats"
    for it in res.history:
        assert it.total_pr == pytest.approx(1.0, abs=1e-9)


def test_networkx_oracle_random_graph(spark):
    """§5.2 item 3: seeded random digraph vs an independent oracle, L∞ < 1e-7.

    Includes dangling vertices, dst-only vertices, self-loops, dup edges —
    every structural feature of FIXTURES.md F1.
    """
    rng = random.Random(42)
    n = 300
    edges = [(rng.randrange(n), rng.randrange(int(n * 1.3))) for _ in range(1500)]
    edges += edges[:20]  # duplicates
    exp = py_pagerank(edges, tol=1e-14)

    res = pagerank(make_edges(spark, edges), max_iter=200, tol=1e-10, min_iter=5)
    pr = ranks_dict(res)
    assert set(pr) == set(exp)
    linf = max(abs(pr[k] - exp[k]) for k in exp)
    assert linf < 1e-7, f"L-inf vs networkx = {linf}"


def test_convergence_monotone_and_stops(spark):
    edges = [(i, (i + 1) % 50) for i in range(50)] + [(0, 25), (10, 30)]
    res = pagerank(make_edges(spark, edges), max_iter=100, tol=1e-9, min_iter=5)
    assert res.converged
    assert res.iterations < 100
    diffs = [h.avg_diff for h in res.history]
    assert diffs[-1] <= 1e-9


def test_build_graph_counts(spark):
    """J3/U1/A3: dst-only vertex 9 counted; A2: dup edge deduped in links;
    P2: the vertex table flags 9 (dst-only) and 7 (bare extra id) as
    dangling, and not 5, whose only edge is a self-loop."""
    g = build_graph(
        make_edges(spark, [(1, 2), (1, 2), (2, 9), (5, 5)]),
        extra_vertices=spark.createDataFrame([(7,)], "id bigint"),
    )
    assert g.n_vertices == 5
    rows = {(r["src"], r["dst"], r["outdeg"]) for r in g.links.collect()}
    assert rows == {(1, 2, 1), (2, 9, 1), (5, 5, 1)}
    flags = {r["id"]: r["dangling"] for r in g.vertices.collect()}
    assert flags == {1: False, 2: False, 5: False, 7: True, 9: True}
    g.unpersist()


def test_top_k_ties_deterministic(spark):
    res = pagerank(make_edges(spark, [(i, (i + 1) % 6) for i in range(6)]), max_iter=10)
    t = top_k(res.ranks, 3).collect()
    assert [r["id"] for r in t] == [0, 1, 2]  # all tied at 1/6, id tie-break


def test_weighted_pagerank_uniform_weights_match_unweighted(spark):
    """Uniform weights must reduce the weighted kernel exactly to the
    unweighted one (w/wsum == 1/outdeg for every edge)."""
    from pyspark.sql import functions as F

    from pagerank_giraph_vs_mapreduce_spark.graph.pagerank import (
        pagerank,
        pagerank_weighted,
    )

    edges = make_edges(spark, [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1), (2, 5)])
    wedges = edges.distinct().select("src", "dst", F.lit(1.0).alias("w"))
    plain = {r["id"]: r["pr"] for r in pagerank(edges, max_iter=4, tol=-1.0, min_iter=0).ranks.collect()}
    weighted = {
        r["id"]: r["pr"]
        for r in pagerank_weighted(wedges, max_iter=4, tol=-1.0, min_iter=0).ranks.collect()
    }
    assert set(plain) == set(weighted)
    for k in plain:
        assert weighted[k] == pytest.approx(plain[k], abs=1e-12)


def test_weighted_pagerank_weights_shift_mass(spark):
    """A heavier edge pulls proportionally more rank to its head: with
    1->2 weighted 3x vs 1->3 weighted 1x, vertex 2 outranks vertex 3."""
    from pagerank_giraph_vs_mapreduce_spark.graph.pagerank import (
        pagerank_weighted,
    )

    wedges = spark.createDataFrame(
        [(1, 2, 3.0), (1, 3, 1.0), (2, 1, 1.0), (3, 1, 1.0)],
        "src bigint, dst bigint, w double",
    )
    got = {
        r["id"]: r["pr"]
        for r in pagerank_weighted(wedges, max_iter=10, tol=-1.0, min_iter=0).ranks.collect()
    }
    assert got[2] > got[3]
    assert abs(sum(got.values()) - 1.0) < 1e-9


def _cached_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def _jobs_in_group(spark, group: str, action) -> int:
    """Spark jobs ``action`` submits, counted by job group (the status
    store is fed asynchronously, so the listener bus is drained first)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_pagerank_setup_runs_only_rank_init(spark):
    """On a built graph, pagerank(max_iter=0) submits exactly the jobs of
    rank init: Setup does not rescan the links cache."""
    from pyspark.sql import functions as F

    from pagerank_giraph_vs_mapreduce_spark.graph.pagerank import _init_ranks

    edges = make_edges(spark, [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1), (2, 5)])
    g = build_graph(edges)

    def init_alone():
        ranks, _ = _init_ranks(g.vertices, F.lit(1.0 / g.n_vertices).alias("pr"))
        ranks.unpersist()

    try:
        n_init = _jobs_in_group(spark, "setup-jobs-init", init_alone)
        n_run = _jobs_in_group(
            spark,
            "setup-jobs-pagerank",
            lambda: pagerank(edges, max_iter=0, graph=g),
        )
    finally:
        g.unpersist()
    assert n_init >= 1
    assert n_run == n_init


def test_operators_release_their_caches(spark):
    """Every PageRank-family, graph-kernel, dedup and GD-trainer call leaves
    Spark's cache manager holding as many entries as before it ran —
    PageRank's max_iter=0 included, where the result is the initial
    ranks. getPersistentRDDs() would not do here:
    it also counts localCheckpoint RDDs, which the ContextCleaner frees
    on the JVM's GC timing."""
    from pyspark.sql import functions as F

    from pagerank_giraph_vs_mapreduce_spark.graph.communities import (
        label_propagation,
        louvain_one_level,
    )
    from pagerank_giraph_vs_mapreduce_spark.graph.components import (
        connected_components,
    )
    from pagerank_giraph_vs_mapreduce_spark.graph.hits import hits
    from pagerank_giraph_vs_mapreduce_spark.graph.motifs import kcore_survivors
    from pagerank_giraph_vs_mapreduce_spark.graph.pagerank import (
        pagerank_weighted,
        personalized_pagerank,
        personalized_pagerank_multi,
    )
    from pagerank_giraph_vs_mapreduce_spark.graph.paths import (
        bfs_distances,
        multi_bfs,
        sssp_distances,
    )
    from pagerank_giraph_vs_mapreduce_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_candidate_pairs_star,
        minhash_near_dups,
        minhash_signatures,
        shingles,
    )
    from pagerank_giraph_vs_mapreduce_spark.operators.mlfit import logreg_gd

    edges = make_edges(spark, [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1), (2, 5)])
    wedges = edges.select("src", "dst", F.lit(2.0).alias("w"))
    train = spark.createDataFrame(
        [(0.1, 0.9, 1.0), (0.8, 0.2, 0.0), (0.3, 0.7, 1.0), (0.9, 0.1, 0.0)],
        "f1 double, f2 double, y double",
    )
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "pack my box with five dozen liquor jugs"),
        ],
        "doc_id bigint, text string",
    )
    calls = {
        "pagerank": lambda: pagerank(edges, max_iter=2).ranks,
        "pagerank max_iter=0": lambda: pagerank(edges, max_iter=0).ranks,
        "personalized_pagerank": lambda: personalized_pagerank(
            edges, sources=[1], max_iter=2
        ).ranks,
        "personalized_pagerank_multi": lambda: personalized_pagerank_multi(
            edges, seeds=[1, 2], k=2
        ),
        "pagerank_weighted": lambda: pagerank_weighted(wedges, max_iter=2).ranks,
        "hits": lambda: hits(edges),
        "connected_components": lambda: connected_components(edges).components,
        "label_propagation": lambda: label_propagation(edges),
        "louvain_one_level": lambda: louvain_one_level(edges),
        "bfs_distances": lambda: bfs_distances(edges, source=1).distances,
        "multi_bfs": lambda: multi_bfs(edges, sources=[1, 4]).distances,
        "sssp_distances": lambda: sssp_distances(wedges, source=1).distances,
        "kcore_survivors": lambda: kcore_survivors(edges, k=2),
        "logreg_gd": lambda: logreg_gd(train, ["f1", "f2"], "y"),
        # Distinct shingle lengths give each dedup call its own plan, so the
        # cache manager cannot fold one call's entry into an earlier one's.
        "shingles": lambda: shingles(docs, "doc_id", "text", shingle_len=4),
        "minhash_near_dups": lambda: minhash_near_dups(docs, "doc_id", "text"),
        "minhash_near_dups star": lambda: minhash_near_dups(
            docs, "doc_id", "text", shingle_len=6, star=True
        ),
        "minhash_signatures": lambda: minhash_signatures(
            docs, "doc_id", "text", shingle_len=7
        ),
        "lsh_candidate_pairs": lambda: lsh_candidate_pairs(
            minhash_signatures(docs, "doc_id", "text", shingle_len=3)
        ),
        "lsh_candidate_pairs_star": lambda: lsh_candidate_pairs_star(
            minhash_signatures(docs, "doc_id", "text", shingle_len=2)
        ),
    }
    for name, call in calls.items():
        before = _cached_entries(spark)
        out = call()
        assert _cached_entries(spark) == before, name
        assert out.count() > 0, name  # the result outlives the caches


def test_ppr_from_every_vertex_equals_pagerank(spark):
    """With every vertex a source, PPR's reset vector is the uniform 1/N,
    so its update rule reduces to the uniform kernel's: after a fixed 6
    supersteps the two agree to rounding, dangling (dst-only) vertices
    included."""
    from pagerank_giraph_vs_mapreduce_spark.graph.pagerank import (
        personalized_pagerank,
    )

    rng = random.Random(11)
    pairs = [(rng.randrange(60), rng.randrange(80)) for _ in range(240)]
    pairs = [(a, b) for a, b in pairs if a != b]
    verts = {v for p in pairs for v in p}
    assert verts - {a for a, _ in pairs}  # dst-only vertices exist
    edges = make_edges(spark, pairs)
    fixed = dict(max_iter=6, tol=-1.0, min_iter=0)
    uniform = pagerank(edges, **fixed)
    ppr = personalized_pagerank(edges, sources=sorted(verts), **fixed)
    assert uniform.iterations == ppr.iterations == 6
    a, b = ranks_dict(uniform), ranks_dict(ppr)
    assert a.keys() == b.keys() == verts
    assert max(abs(a[k] - b[k]) for k in a) <= 1e-12
