"""Weakly-connected components: a second iterative kernel on the same
cached-DataFrame superstep skeleton as PageRank (SURVEY.md §7.0) —
min-label propagation until fixpoint.

The reference implements only PageRank; this kernel demonstrates the
engine's iteration machinery (I1-I4: driver loop, cache discipline, lazy
localCheckpoint lineage truncation, single stats action per superstep) is
a general vertex-program substrate, not a one-off.

Scale notes: the symmetrized edge table shuffles once and is cached
partitioned by src; each superstep shuffles only the V-row label table.
Label propagation converges in O(diameter) supersteps; for graphs with
huge diameter, switch to the large-star/small-star algorithm (same loop
shape, different message rule).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from pagerank_giraph_vs_mapreduce_spark.graph.builder import dedup_src_sorted


@dataclass
class ComponentsResult:
    components: DataFrame  # (id BIGINT, component BIGINT = min vertex id)
    n_vertices: int
    iterations: int
    converged: bool
    history: list[tuple[int, int, float]] = field(default_factory=list)
    # (iteration, labels_changed, seconds)


def build_sym_cache(edges: DataFrame) -> DataFrame:
    """The symmetrized deduped edge cache every WCC phase iterates over:
    ONE E-row shuffle (dedup_src_sorted), persisted hash-partitioned and
    sorted by ``src`` so each superstep's sort-merge join reads it with
    neither an Exchange nor a Sort on the E-row side. Exposed so a
    caller running several phases over the SAME edge set (e.g. the
    incremental-vs-full A/B) builds it once and passes it via
    ``sym_edges`` instead of paying the build per phase (guide §5
    reuse); the caller owns its lifetime (persist/unpersist)."""
    return dedup_src_sorted(
        edges.select("src", "dst").union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    ).persist(StorageLevel.MEMORY_AND_DISK)


def _min_label_loop(
    sym: DataFrame, labels: DataFrame, frontier: DataFrame, max_iter: int
) -> ComponentsResult:
    """The WCC superstep loop: ``frontier`` (id, label) scatters its
    labels along ``sym``, each vertex keeps the min of its own label and
    its neighbours', and the next frontier is the vertices whose label
    just dropped. A neighbour whose label did not change was already
    taken in an earlier superstep, so a full run (``frontier=labels``)
    gets the same labels, changed counts and iterations as scattering
    every label every superstep. ``labels`` is persisted by the caller,
    counted (N) and released here; later labels are checkpoint-backed."""
    n = labels.count()
    history: list[tuple[int, int, float]] = []
    converged = False
    iterations = 0
    for i in range(max_iter):
        t0 = time.monotonic()
        msgs = (
            sym.join(frontier.select(F.col("id").alias("src"), "label"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nbr_min"))
        )
        new = (
            labels.select("id", F.col("label").alias("old"))
            .join(msgs, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("old"), F.coalesce(F.col("nbr_min"), F.col("old"))
                ).alias("label"),
                "old",
            )
        )
        new = new.localCheckpoint(eager=False)
        changed = int(
            new.agg(
                F.count(F.when(F.col("label") != F.col("old"), 1)).alias("c")
            ).first()["c"]
        )
        labels.unpersist()
        labels = new.select("id", "label")
        frontier = new.filter(F.col("label") != F.col("old")).select("id", "label")
        iterations = i + 1
        history.append((iterations, changed, time.monotonic() - t0))
        if changed == 0:
            converged = True
            break
    return ComponentsResult(
        components=labels.select("id", F.col("label").alias("component")),
        n_vertices=n,
        iterations=iterations,
        converged=converged,
        history=history,
    )


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    sym_edges: DataFrame | None = None,
) -> ComponentsResult:
    """Min-label propagation over the undirected view of edges(src, dst).

    ``sym_edges``: a pre-built ``build_sym_cache(edges)`` to share across
    phases; when given, this function neither builds nor unpersists it.
    """
    sym = sym_edges if sym_edges is not None else build_sym_cache(edges)
    vertices = sym.select(F.col("src").alias("id")).distinct()
    labels = vertices.select("id", F.col("id").alias("label")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    result = _min_label_loop(sym, labels, labels, max_iter)
    if sym_edges is None:
        sym.unpersist()
    return result


def connected_components_incremental(
    base_labels: DataFrame,
    all_edges: DataFrame,
    delta_edges: DataFrame,
    max_iter: int = 50,
    sym_edges: DataFrame | None = None,
) -> ComponentsResult:
    """Warm-start WCC maintenance under edge ADDITIONS: given the
    converged labels of the base graph and a batch of new edges,
    recompute components touching only what the delta can change.

    Edge additions only MERGE components, so min-label propagation
    starting from (old label, or own id for new vertices) converges to
    the updated graph's true labels: the final label of a vertex is the
    min of the INITIAL labels across its merged component, and each old
    component's initial label is itself a vertex id in that component.
    Because the base graph was at fixpoint (every base edge connects
    same-label endpoints), the ONLY change sources are the delta edges —
    so the frontier starts as the delta endpoints, and each superstep
    scatters ONLY vertices whose label just dropped. Per-superstep cost
    is O(frontier out-degree), not O(E): a small daily delta touches the
    few components it merges and nothing else.

    ``all_edges`` must be base ∪ delta (the caller usually has it
    already); ``base_labels`` is (id, component) from a prior
    ``connected_components`` run (absent ids seed as new vertices).
    ``sym_edges``: a pre-built ``build_sym_cache(all_edges)`` to share
    across phases; when given, neither built nor unpersisted here.
    """
    sym = (
        sym_edges if sym_edges is not None else build_sym_cache(all_edges)
    )
    vertices = sym.select(F.col("src").alias("id")).distinct()
    labels = (
        vertices.join(
            base_labels.select("id", F.col("component").alias("prev")), "id", "left"
        )
        .select("id", F.coalesce(F.col("prev"), F.col("id")).alias("label"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    frontier = (
        delta_edges.select(F.col("src").alias("id"))
        .union(delta_edges.select(F.col("dst").alias("id")))
        .distinct()
        .join(labels, "id")
    )

    result = _min_label_loop(sym, labels, frontier, max_iter)
    if sym_edges is None:
        sym.unpersist()
    return result
