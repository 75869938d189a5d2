"""Partition-aware edge placement (graph/placement.py): the consumer
loop for the multilevel partition family. Pins, on a ring-of-cliques
fixture where a good partition exists:

- placement is REAL: every Spark partition of the placed table holds
  exactly one graph part;
- the gather superstep's results are EXACTLY equal under placed and
  hash distribution (integer min — order-independent);
- the gather exchange writes STRICTLY fewer records when placed (the
  map-side combine argument: a non-boundary destination's in-messages
  all combine in one partition).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import make_edges


def _ring_of_cliques(n_blocks: int, m: int) -> list[tuple[int, int]]:
    pairs = [
        (b * 10 + i, b * 10 + j)
        for b in range(n_blocks)
        for i in range(m)
        for j in range(m)
        if i < j
    ]
    pairs += [
        (b * 10 + m - 1, ((b + 1) % n_blocks) * 10) for b in range(n_blocks)
    ]
    return pairs


def test_placed_gather_fewer_shuffle_records_same_result(spark):
    from pagerank_giraph_vs_mapreduce_spark.graph.motifs import (
        multilevel_partition_k4,
        undirect_dedup,
    )
    from pagerank_giraph_vs_mapreduce_spark.graph.placement import (
        exchange_metrics,
        hash_placed_edges,
        place_edges,
        wcc_gather_round,
    )

    edges = make_edges(spark, _ring_of_cliques(8, 5))
    parts = multilevel_partition_k4(
        edges, top_levels=(2,), top_sweeps=2, side_levels=(2,), side_sweeps=2
    ).localCheckpoint(eager=True)
    und = undirect_dedup(edges)
    sym = und.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(und.select(F.col("v").alias("src"), F.col("u").alias("dst")))

    placed = place_edges(sym, parts, num_partitions=4)
    hashed = hash_placed_edges(sym, num_partitions=4)

    # placement is real: no graph part is SPLIT across Spark partitions
    # (hash collisions may merge two parts into one pid — harmless: every
    # destination's in-messages still combine in a single partition)
    per_part = (
        placed.withColumn("pid", F.spark_partition_id())
        .groupBy("part")
        .agg(F.countDistinct("pid").alias("npids"))
        .collect()
    )
    assert per_part and all(r["npids"] == 1 for r in per_part), per_part

    m_placed = exchange_metrics(wcc_gather_round(placed))
    m_hashed = exchange_metrics(wcc_gather_round(hashed))

    r_placed = {
        (r["dst"], r["nbr_min"])
        for r in wcc_gather_round(placed).collect()
    }
    r_hashed = {
        (r["dst"], r["nbr_min"])
        for r in wcc_gather_round(hashed).collect()
    }
    assert r_placed == r_hashed  # integer-exact invariant
    assert m_placed["rows_out"] == m_hashed["rows_out"]
    assert 0 < m_placed["shuffle_records"] < m_hashed["shuffle_records"], (
        m_placed,
        m_hashed,
    )


def test_place_edges_total_with_missing_parts(spark):
    """ADVICE r12: place_edges must never DROP an edge whose destination
    lacks a part row. Pins (a) totality — stragglers survive with the
    pmod fallback part; (b) no-op equivalence — with a TOTAL parts table
    the left-join+coalesce output equals the inner-join output exactly."""
    from pagerank_giraph_vs_mapreduce_spark.graph.placement import place_edges

    sym = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 9), (9, 3)], "src bigint, dst bigint"
    )
    # parts covers 1,2,3 but NOT 9 -> edge (3, 9) has a straggler dst
    parts = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1)], "id bigint, part int"
    )
    placed = place_edges(sym, parts, num_partitions=4)
    rows = {(r["src"], r["dst"], r["part"]) for r in placed.collect()}
    assert len(rows) == 4, rows  # all 4 edges survive
    assert (3, 9, 9 % 4) in rows  # straggler got the pmod fallback part

    # totality no-op: with full coverage the fallback never fires
    parts_total = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1), (9, 1)], "id bigint, part int"
    )
    placed_total = place_edges(sym, parts_total, num_partitions=4)
    inner = {
        (r["src"], r["dst"], r["part"])
        for r in sym.join(
            parts_total.select(F.col("id").alias("dst"), "part"), "dst"
        ).collect()
    }
    got = {(r["src"], r["dst"], r["part"]) for r in placed_total.collect()}
    assert got == inner


def test_placed_pagerank_exact_equal_fewer_shuffle(spark):
    """VERDICT r12 item 2: the placement loop closed on the FLAGSHIP.
    Runs the real pagerank kernel over a k4-placed links build and over
    the default hash build on a community graph; pins

    - ranks equal at the engine's %.10f output contract (C4) and to
      1e-12 relative, same iteration count. NOT bit-equal: the gather's
      double sum is order-DEPENDENT in the last ulp and placement
      changes the combine order — the exact rule the oracle registry
      docstring states for double aggregates. The part column never
      enters the iteration math; the residual is pure summation order;
    - the superstep plan (scatter join + gather + update join) writes
      STRICTLY fewer shuffle records under placement (part-local
      map-side combine at the gather).
    """
    from pagerank_giraph_vs_mapreduce_spark.graph.builder import build_graph
    from pagerank_giraph_vs_mapreduce_spark.graph.motifs import (
        multilevel_partition_k4,
    )
    from pagerank_giraph_vs_mapreduce_spark.graph.pagerank import (
        pagerank,
        scatter_gather,
    )
    from pagerank_giraph_vs_mapreduce_spark.graph.placement import (
        build_placed_graph,
        exchange_metrics,
    )

    edges = make_edges(spark, _ring_of_cliques(24, 6))
    parts = multilevel_partition_k4(
        edges, top_levels=(2,), top_sweeps=2, side_levels=(2,), side_sweeps=2
    ).localCheckpoint(eager=True)

    g_hash = build_graph(edges, num_partitions=4)
    g_placed = build_placed_graph(edges, parts, num_partitions=4)
    assert "part" in g_placed.links.columns

    r_hash = pagerank(
        edges, max_iter=3, tol=0.0, min_iter=3, graph=g_hash
    )
    r_placed = pagerank(
        edges, max_iter=3, tol=0.0, min_iter=3, graph=g_placed
    )
    assert r_hash.iterations == r_placed.iterations == 3
    h = {r["id"]: r["pr"] for r in r_hash.ranks.collect()}
    p = {r["id"]: r["pr"] for r in r_placed.ranks.collect()}
    assert set(h) == set(p)
    assert all(f"{h[k]:.10f}" == f"{p[k]:.10f}" for k in h)  # C4 contract
    assert all(abs(h[k] - p[k]) <= 1e-12 * max(abs(h[k]), 1e-30) for k in h)

    # superstep shuffle A/B on the real scatter+gather plan. ranks0 is
    # checkpoint-backed (the kernel's per-superstep reality) and
    # auto-broadcast is off for the measurement: at scale neither join
    # side fits a broadcast (links is E rows, ranks V rows) — on this
    # test-sized fixture Spark would otherwise broadcast links itself,
    # which both destroys the part-locality under test and could never
    # happen at the scale the A/B is about.
    def superstep_df(g):
        cols = ["id", "pr"] + (["part"] if g.parts is not None else [])
        n = g.n_vertices
        ranks0 = g.vertices.select(
            "id", F.lit(1.0 / n).alias("pr")
        )
        if g.parts is not None:
            ranks0 = ranks0.join(g.parts, "id")
        ranks0 = ranks0.select(*cols).localCheckpoint(eager=True)
        return scatter_gather(g.links, ranks0)

    # subset co-partitioning (the conf the kernel scopes around its own
    # loop) must be on here too — the superstep is measured OUTSIDE
    # pagerank()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_cp = spark.conf.get("spark.sql.requireAllClusterKeysForCoPartition")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
        m_hash = exchange_metrics(superstep_df(g_hash))
        m_placed = exchange_metrics(superstep_df(g_placed))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set(
            "spark.sql.requireAllClusterKeysForCoPartition", prev_cp
        )
    assert m_placed["rows_out"] == m_hash["rows_out"]
    assert 0 < m_placed["shuffle_records"] < m_hash["shuffle_records"], (
        m_placed,
        m_hash,
    )
    g_hash.unpersist()
    g_placed.unpersist()
