"""Partition-aware edge placement — the consumer that turns the
multilevel partition family (graph/motifs.py:multilevel_partition_k4)
from an observed quality number into an engine feature.

The reference's documented pathology is hash partitioning's shuffle
hot-spot (README.md:386, 417-418): every superstep's gather moves a
message per (edge, key) pair to wherever the hash sends it. Placing
edges by a computed graph partition changes the physics of the SAME
DataFrame plan: Spark's partial (map-side) aggregation combines all
messages to a destination within each input partition BEFORE the
exchange, so the exchange writes one row per (input partition,
destination) pair. Under random/hash placement a destination with
in-degree d receives from ~min(d, P) partitions; under a low-cut
placement its in-neighbors are co-located, so it receives from ~1.
The gather exchange therefore shrinks from ~P rows per hot vertex to
~1+cut-degree — measured by ``exchange_metrics`` below and pinned
(placed <= hash, results exactly equal) by tests/test_placement.py.

At cluster scale the same placed table would be written
bucket-partitioned (sinks.py's bucketed-join path) so every superstep
of every downstream run inherits the placement for free; locally we
localCheckpoint the placed table, which freezes the physical
distribution the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def place_edges(
    edges_sym: DataFrame, parts: DataFrame, num_partitions: int
) -> DataFrame:
    """Co-locate a symmetric edge table (src, dst) by the graph part of
    its DESTINATION: one V-row broadcast-able join to attach the label,
    then a repartition on the part column, materialized so downstream
    plans start from the frozen distribution. Keying by dst's part means
    a gather's map-side combine sees every in-message of a non-boundary
    vertex in one place. ``parts`` is (id, part) from the partition
    family; the join is V-row, never E-self.

    Contract: a hash collision on the part column may MERGE two parts
    into one Spark partition (costing parallelism, never correctness or
    combine locality) but can never SPLIT a part — pinned by
    tests/test_placement.py. A production table would instead be
    bucket-WRITTEN by part (sinks.py bucketed path), which both
    eliminates collisions and persists the placement across runs.

    ``parts`` should be total over the edge destinations, but the join
    is LEFT so an edge whose destination lacks a part row is never
    dropped: stragglers fall back to hash placement (pmod(dst, k)) —
    they lose combine locality, never rows. When parts is total the
    coalesce is a no-op and results are bit-identical to the inner
    join (pinned by tests/test_placement.py totality test)."""
    pd = parts.select(F.col("id").alias("dst"), "part")
    return (
        edges_sym.join(pd, "dst", "left")
        .withColumn(
            "part",
            F.coalesce(
                "part", F.pmod(F.col("dst"), F.lit(num_partitions)).cast("int")
            ),
        )
        .repartition(num_partitions, "part")
        .localCheckpoint(eager=True)
    )


def build_placed_graph(
    edges: DataFrame, parts: DataFrame, num_partitions: int
):
    """PLACED twin of graph/builder.py:build_graph for the PageRank
    kernel (the reference's hot-spot pathology,
    README.md:386,417-418, is a PageRank-shuffle claim; this closes the
    placement loop on PageRank itself, not only WCC).

    Layout: ``links`` carries part = part(SRC) and is cached
    repartition(num_partitions, "part") + sortWithinPartitions(part,
    src). The kernel's scatter join then runs on (part, src): Spark's
    HashPartitioning([part]) satisfies ClusteredDistribution([part,
    src]), so the cached E-row side joins WITHOUT an exchange — only
    the V-row ranks shuffle per superstep, by part instead of by
    hash(src), same V-row volume. The win lands at the GATHER: the
    scatter output is part-local, and for a low-cut partition
    part(src) = part(dst) on all non-cut edges, so a destination's
    in-messages partial-combine in its home partition and the gather
    exchange writes ~V + cut rows instead of ~sum(min(indeg, P)) —
    the same map-side-combine physics the WCC A/B measured, now under
    the flagship kernel.

    ``parts`` is made total the same way place_edges does: stragglers
    fall back to pmod(id, num_partitions), costing locality, never
    rows. Results are exactly equal to the hash build's (pinned by
    tests/test_placement.py): the iteration arithmetic never sees the
    part column.

    At cluster scale the same table would be written through the
    bucketed-sink path (sinks.py bucketBy) keyed on part, persisting
    the placement across runs; locally the cache freezes the same
    distribution. num_partitions should be >= the partition family's k
    (a part never splits; several parts may share a Spark partition,
    costing parallelism only)."""
    from pagerank_giraph_vs_mapreduce_spark.graph.builder import (
        GraphTables,
        build_graph,
    )

    base = build_graph(edges)
    pt = parts.select("id", "part")
    p_src = pt.select(F.col("id").alias("src"), "part")
    placed_links = (
        base.links.join(p_src, "src", "left")
        .withColumn(
            "part",
            F.coalesce(
                "part", F.pmod(F.col("src"), F.lit(num_partitions)).cast("int")
            ),
        )
        .repartition(num_partitions, "part")
        .sortWithinPartitions("part", "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    placed_links.count()  # materialize the frozen distribution
    base.links.unpersist()
    p_total = (
        base.vertices.join(pt, "id", "left")
        .select(
            "id",
            F.coalesce(
                "part", F.pmod(F.col("id"), F.lit(num_partitions)).cast("int")
            ).alias("part"),
        )
        .localCheckpoint(eager=True)
    )
    return GraphTables(
        vertices=base.vertices,
        links=placed_links,
        n_vertices=base.n_vertices,
        n_edges=base.n_edges,
        parts=p_total,
    )


def hash_placed_edges(edges_sym: DataFrame, num_partitions: int) -> DataFrame:
    """The A-side control: the same edge table round-robin/hash
    distributed (what a plain shuffle produces — the reference's
    default placement), materialized identically."""
    return edges_sym.repartition(num_partitions).localCheckpoint(eager=True)


def wcc_gather_round(placed: DataFrame) -> DataFrame:
    """ONE WCC min-label gather superstep with initial label(v) = v:
    new_nbr_min(dst) = min over in-edges of src. Integer min is
    order-independent, so placed and hash runs must agree EXACTLY —
    the invariant the A/B measurement is checked against. The single
    exchange after the partial aggregate is the object under test."""
    return placed.groupBy("dst").agg(F.min("src").alias("nbr_min"))


def exchange_metrics(df: DataFrame) -> dict:
    """Execute ``df`` and read its exchanges' actual shuffle
    bytes/records from the executed plan's SQLMetrics (a walk of the
    executed plan, packaged for the placement A/B): returns rows_out /
    exchanges / shuffle_records / shuffle_bytes."""
    n_rows = len(df.collect())
    jvm = df.sparkSession._jvm

    def walk(node):
        yield node
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))
        cls = node.getClass().getSimpleName()
        if "QueryStageExec" in cls:
            yield from walk(node.plan())
        if cls == "AdaptiveSparkPlanExec":
            yield from walk(node.finalPhysicalPlan())

    shuffle_bytes = 0
    shuffle_records = 0
    n_exchanges = 0
    seen = set()
    for n in walk(df._jdf.queryExecution().executedPlan()):
        nid = n.id()
        if nid in seen:
            continue
        seen.add(nid)
        if n.getClass().getSimpleName() == "ShuffleExchangeExec":
            n_exchanges += 1
            jm = jvm.scala.collection.JavaConverters.mapAsJavaMap(n.metrics())
            for k in jm.keySet():
                if k == "shuffleBytesWritten":
                    shuffle_bytes += jm.get(k).value()
                elif k == "shuffleRecordsWritten":
                    shuffle_records += jm.get(k).value()
    return {
        "rows_out": n_rows,
        "exchanges": n_exchanges,
        "shuffle_records": shuffle_records,
        "shuffle_bytes": shuffle_bytes,
    }
