"""Graph-build phase: the Spark rendering of the reference's preprocess job
(MR/GraphBuilderMapper+Reducer, GI input loading).

Reference semantics reproduced here:
- J3/U1 vertex universe: every id appearing as src OR dst is a vertex — the
  reference forces dst-only vertices into existence with a ``"!"`` placeholder
  emit (MR/GraphBuilderMapper.java:40-43, MR/GraphBuilderReducer.java:20-28);
  here ``vertex_table`` takes both endpoints from the deduped links.
- A2 edge dedup: duplicate (src,dst) pairs contribute once — LinkedHashSet in
  MR/GraphBuilderReducer.java:16-28, LongNullHashSetEdges in
  GI/PageRankDriver.java:81-82 ("align with NetworkX").
- A3 N = COUNT(DISTINCT vertex): MR/GraphBuilderReducer.java:30-32.
- P2 dangling classification: a vertex with no out-edges
  (MR/PageRankReducer.java:75, GI/PageRankVertex.java:54-60). The
  reference reads it off an empty R2 adjacency list; ``vertex_table``
  decides it in the same aggregate as the universe, so every PageRank
  kernel reads ``dangling`` from ``GraphTables.vertices``.

Scale notes: the edge-list text is parsed once, into the deduped links;
the vertex table is aggregated from the links cache. The build pays
distinct()'s (src, dst) exchange with MAP-SIDE partial aggregation, then
the by-src exchange into the merge join — two E-row shuffles,
deliberately. A one-exchange rewrite (repartition("src")
first, dedup exchange-free on the subset-distribution rule — the
``dedup_src_sorted`` shape the non-PageRank kernels use) was tried in r13
and REVERTED for this flagship build: with no partial aggregation before
the shuffle, the dedup becomes one full-partition hash aggregate per task
(E/P-row hash tables live concurrently), and the measured ladder showed
build 28-33 s → 58-212 s and the supersteps AFTER the build 3.95 → 7.03
s/iter median in the same JVM at S3 scale. We keep ``links(src, dst,
outdeg)`` as flat rows rather than the reference's ``collect_list``
adjacency encoding (R2): flat rows shuffle-join without exploding
arrays and stay columnar. The hub-vertex hot-key pathology the reference
documents (README.md:417-418) stays: the links cache is hash-partitioned
by src, so a hub's out-edges land on one partition, and AQE's skew join
never fires through the cached links (``graph/pagerank.py:scatter_gather``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


@dataclass
class GraphTables:
    """Cached build artifacts consumed by the iterative kernel.

    ``parts`` (id, part), when set, marks a PLACED build
    (graph/placement.py:build_placed_graph): ``links`` then carries a
    ``part`` column = part(src), is distributed by it, and the kernel's
    scatter join runs on (part, src) so the cached distribution is
    reused — the graph-partition-aware twin of the default
    hash-by-src layout."""

    vertices: DataFrame  # (id BIGINT, dangling BOOLEAN)
    links: DataFrame  # (src BIGINT, dst BIGINT, outdeg BIGINT) — deduped
    n_vertices: int
    n_edges: int = 0  # deduped edge count (the links materialization count)
    parts: DataFrame | None = None  # (id BIGINT, part INT) when placed

    def unpersist(self) -> None:
        self.vertices.unpersist()
        self.links.unpersist()


def dedup_src_sorted(edge_rows: DataFrame, agg: list | None = None) -> DataFrame:
    """ONE-exchange (src, dst[, payload]) dedup/merge, hash-partitioned
    and sorted by ``src`` — the shared build step for every kernel's
    cached edge table (WCC/BFS/SSSP/LPA/Louvain/walks/betweenness).

    ``repartition("src")`` FIRST establishes the cache layout; the
    per-(src, dst) dedup (or ``agg`` merge) then plans NO exchange of its
    own, because hash(src) already co-locates equal (src, dst) rows — the
    clustered-distribution subset rule (HashPartitioning on a subset of
    the grouping keys satisfies the aggregate). The previous build
    (distinct()/groupBy first, repartition("src") after) paid TWO E-row
    shuffles for the same table; this pays one (optimization guide §2.4
    "remove shuffles outright").

    ``agg``: aggregate expressions for merging parallel edges (e.g.
    ``[F.min("w").alias("w")]``). Callers project to exactly the columns
    the cache keeps BEFORE calling, so the single exchange ships nothing
    extra (§2.3 "project before the exchange").
    """
    out = edge_rows.repartition("src")
    if agg is None:
        out = out.dropDuplicates(["src", "dst"])
    else:
        out = out.groupBy("src", "dst").agg(*agg)
    return out.sortWithinPartitions("src")


def vertex_table(
    links: DataFrame, extra_vertices: DataFrame | None = None
) -> DataFrame:
    """(id, dangling) for every vertex of ``links`` — the J3/U1 universe
    and the P2 classification in one aggregate. Each src contributes
    (src, false), each dst and each ``extra_vertices`` id (single-column
    ``id``) contributes (id, true); a vertex is dangling iff it never
    appears as a src. A self-loop makes its vertex a src, so not
    dangling, as in the reference."""
    ends = links.select(F.col("src").alias("id"), F.lit(False).alias("d")).union(
        links.select(F.col("dst").alias("id"), F.lit(True).alias("d"))
    )
    if extra_vertices is not None:
        ends = ends.union(extra_vertices.select("id", F.lit(True).alias("d")))
    return ends.groupBy("id").agg(F.bool_and("d").alias("dangling"))


def build_graph(
    edges: DataFrame,
    num_partitions: int | None = None,
    extra_vertices: DataFrame | None = None,
) -> GraphTables:
    """edges(src, dst) → cached (vertices(id, dangling), links-with-outdeg, N).

    ``links`` is hash-partitioned by ``src`` and cached so the per-iteration
    scatter join reuses the partitioning (exchange reuse) instead of
    re-shuffling the edge table every superstep — the Giraph memory-resident
    design (README.md:283) rather than MR's per-iteration HDFS round-trip.

    ``extra_vertices`` (single-column ``id``) forces ids with no edges into
    the universe — needed for Giraph adjacency input where a bare-id line
    declares an isolated (dangling) vertex.
    """
    dedup = edges.select("src", "dst").distinct()
    outdeg = dedup.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # The dedup ⋈ outdeg equi-join on src leaves its output hash-partitioned
    # by src ONLY if it is planned as a shuffle join; outdeg is a small V-row
    # aggregate that Catalyst/AQE may broadcast, which would silently leave
    # the cache partitioned by the wrong key and re-shuffle the E-row side
    # every superstep. The merge hint pins the shuffle-by-src distribution
    # AND leaves the cached output SORTED by src, so every superstep's
    # links ⋈ ranks sort-merge join skips both the exchange and the sort on
    # the E side. (shuffle_hash would pin the distribution too, but its
    # unsorted output makes each superstep re-sort the E rows — measured 4x
    # per-superstep cost at the 69M-edge scale.)
    links = dedup.join(outdeg.hint("merge"), "src")
    if num_partitions:
        links = links.repartition(num_partitions, "src")
    links = links.persist(StorageLevel.MEMORY_AND_DISK)
    n_edges = links.count()  # materialize before the loop starts
    vertices = vertex_table(links, extra_vertices).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_vertices = vertices.count()

    return GraphTables(
        vertices=vertices,
        links=links,
        n_vertices=n_vertices,
        n_edges=n_edges,
    )
