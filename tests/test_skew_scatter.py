"""Hub-skew on the J1 scatter join.

The reference documents the pathology (README.md:417-418: heavy-hub
graphs dominate a worker). These tests pin what holds for this engine:

1. AQE's OptimizeSkewedJoin is structurally UNAVAILABLE to the superstep
   loop — the links side is cached pre-partitioned, so the join has no
   shuffle stage to split. Measured here, not assumed: the same join
   with uncached inputs and lowered thresholds DOES get ``skew=true``;
   through the cache it does not. So a hub's out-edges, which the
   src-partitioned cache holds on one partition, are joined by one task.
2. Skew costs time, never exactness: PageRank on a graph where one
   source owns 30 % of the edges matches the pure-Python oracle.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _executed(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture
def skew_confs(spark):
    """Lower AQE skew thresholds so test-sized data can trigger a split,
    and disable broadcast so the join shape is the at-scale SMJ."""
    keys = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8k",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    prior = {k: spark.conf.get(k, None) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    yield
    for k, v in prior.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def _hub_edges(spark, n=200_000, hub_share=3):
    """~n edges where src=0 holds hub_share/10 of all edges."""
    return spark.range(n).select(
        F.when(F.col("id") % 10 < hub_share, F.lit(0))
        .otherwise(F.col("id") % 5000)
        .cast("long")
        .alias("src"),
        (F.col("id") % 7919).cast("long").alias("dst"),
    )


def test_aqe_skew_split_fires_on_uncached_scatter_join(spark, skew_confs):
    """Control experiment: the raw (uncached) scatter join IS split by
    AQE under skew — proving the thresholds and fixture are sufficient,
    so the cached case below fails to split for structural reasons, not
    fixture weakness."""
    edges = _hub_edges(spark)
    ranks = spark.range(5000).select(
        F.col("id").alias("src"), (F.col("id") * 0.001).alias("pr")
    )
    j = (
        edges.join(ranks, "src")
        .select("dst", (F.col("pr") / 2).alias("contrib"))
        .groupBy("dst")
        .agg(F.sum("contrib").alias("c"))
    )
    plan = _executed(j)
    assert "skew=true" in plan, plan


def test_aqe_cannot_split_the_cached_links_join(spark, skew_confs):
    """Through build_graph's cached pre-partitioned links, the same join
    reads InMemoryTableScan on the links side — no shuffle stage, so
    OptimizeSkewedJoin never fires."""
    from pagerank_giraph_vs_mapreduce_spark.graph.builder import build_graph
    from pagerank_giraph_vs_mapreduce_spark.graph.pagerank import (
        scatter_gather,
    )

    g = build_graph(_hub_edges(spark))
    try:
        ranks = g.vertices.select("id", F.lit(0.001).alias("pr"))
        plan = _executed(scatter_gather(g.links, ranks))
        assert "InMemoryTableScan" in plan
        assert "skew=true" not in plan, plan
    finally:
        g.unpersist()


def test_skewed_pagerank_matches_oracle(spark):
    """PageRank on the 30 %-hub graph equals tests/py_oracle.py's
    independent implementation, superstep for superstep, within 1e-12."""
    from pagerank_giraph_vs_mapreduce_spark.graph.pagerank import pagerank
    from tests.py_oracle import py_pagerank

    edges = _hub_edges(spark, n=20_000)
    pairs = [(r["src"], r["dst"]) for r in edges.collect()]
    exp = py_pagerank(pairs, max_iter=5, tol=-1.0)
    res = pagerank(edges, max_iter=5, tol=-1.0, min_iter=0)
    got = {r["id"]: r["pr"] for r in res.ranks.collect()}
    assert res.iterations == 5
    assert set(got) == set(exp)
    assert max(abs(got[k] - exp[k]) for k in exp) < 1e-12
