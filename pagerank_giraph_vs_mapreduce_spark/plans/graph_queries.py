"""Declared graph queries (SURVEY.md §2.1-2.8 operator surface) with DuckDB
oracles over the derived ``edges`` graph (sources/tables.py).

The fixed-k PageRank oracle is the reference's full semantics unrolled into
ANSI SQL CTEs (uniform init C3, dedup A2, scatter J1/C2, gather A1,
dangling A4/I3, update C1) — giving even the iterative kernel a SQL oracle
(SURVEY.md §5.2 item 5).

Float-determinism notes: per-row double arithmetic is bit-identical across
engines; grouped double sums are order-dependent, so gather sums go through
exact per-row DECIMAL casts and PageRank values are rounded to 9 decimals
(error from summation order is ~1e-18, far below the rounding grain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pagerank_giraph_vs_mapreduce_spark.graph.builder import build_graph
from pagerank_giraph_vs_mapreduce_spark.graph.motifs import (
    MATCH_HASH_A,
    MATCH_HASH_B,
    MATCH_HASH_C,
    MATCH_HASH_P,
    MLP_BFS_ROUNDS,
    MLP_DIST_INF,
    kcore_survivors,
    ktruss_edges,
    local_clustering,
    triangle_count,
    two_hop_count,
)
from pagerank_giraph_vs_mapreduce_spark.graph.pagerank import pagerank
from pagerank_giraph_vs_mapreduce_spark.plans.registry import query
from pagerank_giraph_vs_mapreduce_spark.sources.tables import (
    EDGES_SQL,
    derived_edges,
    load_table,
)

# Shared CTE prelude: dedup edges (A2), vertex universe (J3/U1), out-degrees.
GRAPH_CTES = f"""WITH raw AS ({EDGES_SQL}),
edges AS (SELECT DISTINCT src, dst FROM raw),
verts AS (SELECT src AS id FROM edges UNION SELECT dst AS id FROM edges),
deg AS (SELECT src AS id, count(*) AS outdeg FROM edges GROUP BY src)"""


def _graph_parts(spark: SparkSession, sf_dir: str):
    raw = derived_edges(spark, sf_dir)
    edges = raw.select("src", "dst").distinct()
    verts = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    deg = edges.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("outdeg"))
    return raw, edges, verts, deg


@query(
    "g_vertex_universe",
    oracle=f"{GRAPH_CTES} SELECT id FROM verts",
)
def g_vertex_universe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/U1: every id appearing as src or dst (the reference's "!" trick)."""
    _, _, verts, _ = _graph_parts(spark, sf_dir)
    return verts


@query(
    "g_graph_counts",
    oracle=f"""{GRAPH_CTES}
SELECT (SELECT count(*) FROM verts) AS n_vertices,
       (SELECT count(*) FROM edges) AS n_edges_dedup,
       (SELECT count(*) FROM raw) AS n_edges_raw,
       (SELECT count(*) FROM edges WHERE src = dst) AS n_self_loops""",
)
def g_graph_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 vertex count + A2 dedup accounting in one scan-shaped summary."""
    raw, edges, verts, _ = _graph_parts(spark, sf_dir)
    return (
        verts.agg(F.count(F.lit(1)).alias("n_vertices"))
        .crossJoin(edges.agg(F.count(F.lit(1)).alias("n_edges_dedup")))
        .crossJoin(raw.agg(F.count(F.lit(1)).alias("n_edges_raw")))
        .crossJoin(
            edges.filter(F.col("src") == F.col("dst")).agg(
                F.count(F.lit(1)).alias("n_self_loops")
            )
        )
    )


@query(
    "g_out_degree",
    oracle=f"""{GRAPH_CTES}
SELECT v.id, coalesce(d.outdeg, 0) AS outdeg
FROM verts v LEFT JOIN deg d ON v.id = d.id""",
)
def g_out_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-degree per vertex over deduped edges (0 for dangling)."""
    _, _, verts, deg = _graph_parts(spark, sf_dir)
    return verts.join(deg, "id", "left").select(
        "id", F.coalesce(F.col("outdeg"), F.lit(0)).cast("bigint").alias("outdeg")
    )


@query(
    "g_dangling",
    oracle=f"""{GRAPH_CTES}
SELECT id FROM verts WHERE id NOT IN (SELECT id FROM deg)""",
)
def g_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: vertices with no out-edges (left-anti join against degree table)."""
    _, _, verts, deg = _graph_parts(spark, sf_dir)
    return verts.join(deg, "id", "left_anti")


@query(
    "g_scatter_contribs",
    oracle=f"""{GRAPH_CTES}
SELECT e.src, e.dst,
       (1.0 / (SELECT count(*) FROM verts)) / d.outdeg AS contrib
FROM edges e JOIN deg d ON e.src = d.id""",
)
def g_scatter_contribs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/C2 as a static query: per-edge contribution from uniform init.

    Per-row double math — bit-identical across engines, no rounding needed.
    """
    _, edges, verts, deg = _graph_parts(spark, sf_dir)
    n = verts.count()
    return edges.join(deg, edges.src == deg.id).select(
        "src", "dst", (F.lit(1.0 / n) / F.col("outdeg")).alias("contrib")
    )


@query(
    "g_gather_sum",
    oracle=f"""{GRAPH_CTES},
contribs AS (
  SELECT e.dst, (1.0 / (SELECT count(*) FROM verts)) / d.outdeg AS contrib
  FROM edges e JOIN deg d ON e.src = d.id)
SELECT dst AS id,
       CAST(round(sum(CAST(contrib AS DECIMAL(38,30))), 15) AS DOUBLE) AS sum_contrib
FROM contribs GROUP BY dst""",
)
def g_gather_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 gather: per-dst contribution sum. DECIMAL(38,30) per-row cast makes
    the sum exact and order-independent (grouped double sums are not); the
    exact sum is rounded to 15 dp BEFORE the double cast because DuckDB's
    wide-decimal→double conversion double-rounds (int128/10^30), while a
    15-dp decimal converts identically in both engines."""
    _, edges, verts, deg = _graph_parts(spark, sf_dir)
    n = verts.count()
    return (
        edges.join(deg, edges.src == deg.id)
        .select(
            "dst",
            (F.lit(1.0 / n) / F.col("outdeg")).cast("decimal(38,30)").alias("contrib"),
        )
        .groupBy("dst")
        .agg(F.round(F.sum("contrib"), 15).cast("double").alias("sum_contrib"))
        .select(F.col("dst").alias("id"), "sum_contrib")
    )


def _pagerank_unrolled_sql(k: int, d: float = 0.85) -> str:
    """The kernel's exact semantics as k unrolled SQL iterations."""
    ctes = [
        f"r0 AS (SELECT id, 1.0 / (SELECT count(*) FROM verts) AS pr FROM verts)",
    ]
    for i in range(1, k + 1):
        p = f"r{i - 1}"
        ctes.append(
            f"""dang{i} AS (
  SELECT coalesce(sum(pr), 0.0) AS dm FROM {p}
  WHERE id NOT IN (SELECT id FROM deg))"""
        )
        ctes.append(
            f"""c{i} AS (
  SELECT e.dst AS id, sum(r.pr / g.outdeg) AS contrib
  FROM edges e JOIN {p} r ON e.src = r.id JOIN deg g ON g.id = e.src
  GROUP BY e.dst)"""
        )
        ctes.append(
            f"""r{i} AS (
  SELECT v.id,
         (1 - {d}) / (SELECT count(*) FROM verts)
         + {d} * ((SELECT dm FROM dang{i}) / (SELECT count(*) FROM verts)
                  + coalesce(c.contrib, 0.0)) AS pr
  FROM verts v LEFT JOIN c{i} c ON v.id = c.id)"""
        )
    return f"{GRAPH_CTES},\n" + ",\n".join(ctes) + f"\nSELECT id, round(pr, 9) AS pr FROM r{k}"


def _wcc_unrolled_sql(k: int) -> str:
    """Min-label propagation unrolled k supersteps (undirected view)."""
    ctes = [
        "sym AS (SELECT src, dst FROM edges UNION SELECT dst AS src, src AS dst FROM edges)",
        "uverts AS (SELECT DISTINCT src AS id FROM sym)",
        "l0 AS (SELECT id, id AS label FROM uverts)",
    ]
    for i in range(1, k + 1):
        p = f"l{i - 1}"
        ctes.append(
            f"""m{i} AS (
  SELECT s.dst AS id, min(l.label) AS nm
  FROM sym s JOIN {p} l ON s.src = l.id GROUP BY s.dst)"""
        )
        ctes.append(
            f"""l{i} AS (
  SELECT l.id, least(l.label, coalesce(m.nm, l.label)) AS label
  FROM {p} l LEFT JOIN m{i} m ON l.id = m.id)"""
        )
    return (
        f"{GRAPH_CTES},\n"
        + ",\n".join(ctes)
        + f"\nSELECT id, label AS component FROM l{k}"
    )


WCC_K = 4


@query("g_wcc_k4", oracle=_wcc_unrolled_sql(WCC_K))
def g_wcc_k4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components kernel, k=4 supersteps, vs unrolled SQL oracle.
    (If the graph converges earlier, further supersteps are identities, so
    fixed-k oracle equality holds either way.)"""
    from pagerank_giraph_vs_mapreduce_spark.graph.components import (
        connected_components,
    )

    res = connected_components(derived_edges(spark, sf_dir), max_iter=WCC_K)
    return res.components


PAGERANK_K = 3


@query("g_pagerank_k3", oracle=_pagerank_unrolled_sql(PAGERANK_K))
def g_pagerank_k3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The iterative kernel itself, fixed at k=3 supersteps, vs the unrolled
    SQL oracle. Rounded to 9 dp (summation-order noise ~1e-18)."""
    res = pagerank(derived_edges(spark, sf_dir), max_iter=PAGERANK_K, tol=-1.0, min_iter=0)
    return res.ranks.select("id", F.round("pr", 9).alias("pr"))


@query(
    "g_pagerank_top20",
    oracle=_pagerank_unrolled_sql(PAGERANK_K).replace(
        f"SELECT id, round(pr, 9) AS pr FROM r{PAGERANK_K}",
        f"SELECT id, round(pr, 9) AS pr FROM r{PAGERANK_K} "
        "ORDER BY round(pr, 9) DESC, id LIMIT 20",
    ),
)
def g_pagerank_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 top-k over kernel output; ties broken on rounded pr then id so both
    engines select the identical row set."""
    res = pagerank(derived_edges(spark, sf_dir), max_iter=PAGERANK_K, tol=-1.0, min_iter=0)
    return (
        res.ranks.select("id", F.round("pr", 9).alias("pr"))
        .orderBy(F.desc("pr"), F.asc("id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Additional kernels beyond the reference's PageRank: BFS shortest paths,
# personalized PageRank, triangle counting, degree distribution. Same derived
# graph, same oracle discipline.

BFS_SOURCE = 0
BFS_HOPS = 4

_BFS_SQL = (
    GRAPH_CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + f""",
bfs AS (
  SELECT CAST({BFS_SOURCE} AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist
  UNION
  SELECT e.dst AS id, b.dist + 1 AS dist
  FROM bfs b JOIN edges e ON e.src = b.id
  WHERE b.dist < {BFS_HOPS})
SELECT id, min(dist) AS dist FROM bfs GROUP BY id"""
)


@query("g_bfs_hops_k4", oracle=_BFS_SQL)
def g_bfs_hops_k4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier BFS kernel (graph/paths.py) vs a bounded recursive-CTE
    oracle: min hop count from vertex 0 within 4 hops. Integer-exact —
    no float tolerance needed."""
    from pagerank_giraph_vs_mapreduce_spark.graph.paths import bfs_distances

    res = bfs_distances(derived_edges(spark, sf_dir), source=BFS_SOURCE, max_hops=BFS_HOPS)
    return res.distances


PPR_SOURCES = [0, 1, 2, 3]  # |S| = 4 → reset weight 0.25, exact in binary
PPR_K = 3


def _ppr_unrolled_sql(k: int, sources: list[int], d: float = 0.85) -> str:
    """personalized_pagerank's exact semantics as k unrolled SQL iterations.

    Reset weights (0.25/0.0) are binary-exact and CAST to DOUBLE so both
    engines run identical IEEE arithmetic; remaining noise is summation
    order (~1e-17), absorbed by round(9) like the uniform oracle.
    """
    ids = ", ".join(str(s) for s in sources)
    w = 1.0 / len(sources)
    reset = f"CAST(CASE WHEN {{alias}}id IN ({ids}) THEN {w!r} ELSE 0.0 END AS DOUBLE)"
    ctes = [f"p0 AS (SELECT id, {reset.format(alias='')} AS pr FROM verts)"]
    for i in range(1, k + 1):
        p = f"p{i - 1}"
        ctes.append(
            f"""pdang{i} AS (
  SELECT coalesce(sum(pr), 0.0) AS dm FROM {p}
  WHERE id NOT IN (SELECT id FROM deg))"""
        )
        ctes.append(
            f"""pc{i} AS (
  SELECT e.dst AS id, sum(r.pr / g.outdeg) AS contrib
  FROM edges e JOIN {p} r ON e.src = r.id JOIN deg g ON g.id = e.src
  GROUP BY e.dst)"""
        )
        ctes.append(
            f"""p{i} AS (
  SELECT v.id,
         (1 - {d}) * {reset.format(alias='v.')}
         + {d} * (coalesce(c.contrib, 0.0)
                  + (SELECT dm FROM pdang{i}) * {reset.format(alias='v.')}) AS pr
  FROM verts v LEFT JOIN pc{i} c ON v.id = c.id)"""
        )
    return f"{GRAPH_CTES},\n" + ",\n".join(ctes) + f"\nSELECT id, round(pr, 9) AS pr FROM p{k}"


@query("g_ppr_k3", oracle=_ppr_unrolled_sql(PPR_K, PPR_SOURCES))
def g_ppr_k3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (random walk with restart to sources {0..3}),
    k=3 supersteps, vs its unrolled SQL oracle."""
    from pagerank_giraph_vs_mapreduce_spark.graph.pagerank import (
        personalized_pagerank,
    )

    res = personalized_pagerank(
        derived_edges(spark, sf_dir),
        sources=PPR_SOURCES,
        max_iter=PPR_K,
        tol=-1.0,
        min_iter=0,
    )
    return res.ranks.select("id", F.round("pr", 9).alias("pr"))


def _ppr_multi_sql(k: int, seeds: list[int], d: float = 0.85) -> str:
    """personalized_pagerank_multi unrolled: per-seed sparse PPR state —
    an absent (s, id) row is an exact 0.0 because the reset vector is
    e_s — advanced k rounds, each one scatter aggregate, one per-seed
    dangling sum, one full-outer merge with the seed boosts."""
    vals = ", ".join(f"({s})" for s in seeds)
    ctes = [
        f"""pseeds AS (
  SELECT CAST(x AS BIGINT) AS s FROM (VALUES {vals}) t(x)),
mp0 AS (SELECT s, s AS id, CAST(1.0 AS DOUBLE) AS pr FROM pseeds)"""
    ]
    for i in range(1, k + 1):
        p = f"mp{i - 1}"
        ctes.append(
            f"""mpd{i} AS (
  SELECT sd.s, coalesce(sum(p.pr), 0.0) AS dm
  FROM pseeds sd LEFT JOIN {p} p
    ON p.s = sd.s AND p.id NOT IN (SELECT id FROM deg)
  GROUP BY sd.s)"""
        )
        ctes.append(
            f"""mpc{i} AS (
  SELECT r.s, e.dst AS id, sum(r.pr / g.outdeg) AS contrib
  FROM edges e JOIN {p} r ON e.src = r.id JOIN deg g ON g.id = e.src
  GROUP BY r.s, e.dst)"""
        )
        # {1.0 - d!r}: the Python double, verbatim — DuckDB's (1 - 0.85)
        # would be exact DECIMAL 0.15 (1 ulp from the Spark side's
        # lit(1.0 - damping)), and that ulp surfaced as a 9-dp rounding
        # tie at sf0.001
        ctes.append(
            f"""mp{i} AS (
  SELECT coalesce(c.s, b.s) AS s, coalesce(c.id, b.id) AS id,
         {d!r} * coalesce(c.contrib, 0.0) + coalesce(b.boost, 0.0) AS pr
  FROM mpc{i} c FULL JOIN (
    SELECT s, s AS id, {(1.0 - d)!r} + {d!r} * dm AS boost FROM mpd{i}) b
    ON c.s = b.s AND c.id = b.id)"""
        )
    return (
        f"{GRAPH_CTES},\n"
        + ",\n".join(ctes)
        + f"\nSELECT s, id, round(pr, 9) AS pr FROM mp{k}"
    )


@query("g_ppr_multi_k3", oracle=_ppr_multi_sql(PPR_K, PPR_SOURCES))
def g_ppr_multi_k3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One INDEPENDENT personalized-PageRank vector per seed (seeds 0..3),
    batched through a single edge pass per superstep — the recsys
    "related items for every anchor" shape, where g_ppr_k3's shared
    teleport set is one blended walk. Sparse (s, id, pr) state (absent
    row = exact 0.0 since the reset vector is e_s); implementation:
    graph/pagerank.py:personalized_pagerank_multi."""
    from pagerank_giraph_vs_mapreduce_spark.graph.pagerank import (
        personalized_pagerank_multi,
    )

    state = personalized_pagerank_multi(
        derived_edges(spark, sf_dir), seeds=PPR_SOURCES, k=PPR_K
    )
    return state.select("s", "id", F.round("pr", 9).alias("pr"))


_TRI_CTES = f"""{GRAPH_CTES},
eo AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges WHERE src <> dst)"""


@query(
    "g_triangle_count",
    oracle=f"""{_TRI_CTES}
SELECT count(*) AS n_triangles
FROM eo a
JOIN eo b ON b.u = a.v
JOIN eo c ON c.u = a.u AND c.v = b.v""",
)
def g_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count on the undirected deduped graph (self-loops
    dropped), degree-oriented: every undirected edge is directed from its
    lower-(degree, id) endpoint to its higher-(degree, id) endpoint, wedges
    are enumerated per oriented source, and closed against the oriented
    edge set.

    Degree orientation bounds every vertex's oriented out-degree by
    O(sqrt(E)), so the per-key wedge load is O(E) total even on power-law
    graphs — a hub with degree d receives the wedge work of its *lower*
    -degree neighbors instead of keying Sigma C(d, 2) rows on one task
    (the id-oriented plan's failure mode when a hub has a low id). The
    count is orientation-invariant, so the SQL oracle keeps the simpler
    low-id orientation; only the physical key distribution differs.
    Implementation: graph/motifs.py:triangle_count.
    """
    _, edges, _, _ = _graph_parts(spark, sf_dir)
    return triangle_count(edges)


@query(
    "g_clustering_coeff",
    oracle=f"""{_TRI_CTES},
tri AS (
  SELECT a.u AS x, a.v AS y, b.v AS z
  FROM eo a
  JOIN eo b ON b.u = a.v
  JOIN eo c ON c.u = a.u AND c.v = b.v),
vtris AS (
  SELECT id, count(*) AS t FROM (
    SELECT x AS id FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri)
  GROUP BY id),
udeg AS (
  SELECT id, count(*) AS d FROM (
    SELECT u AS id FROM eo UNION ALL SELECT v AS id FROM eo)
  GROUP BY id)
SELECT ud.id,
       round(CASE WHEN ud.d >= 2
                  THEN 2.0 * coalesce(vt.t, 0) / (ud.d * (ud.d - 1))
                  ELSE 0.0 END, 9) AS clustering
FROM udeg ud LEFT JOIN vtris vt ON vt.id = ud.id""",
)
def g_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex Watts-Strogatz local clustering coefficient:
    2*T(v)/(d(v)*(d(v)-1)) over the undirected deduped graph, 0 for
    degree-1 vertices. Triangle closure is the same degree-oriented
    O(E^1.5) plan as g_triangle_count (count is orientation-invariant,
    so the oracle keeps low-id orientation); the per-vertex roll-up is
    an explode to triangle corners + map-side-combined count + one V-row
    degree join. Implementation: graph/motifs.py:local_clustering."""
    _, edges, _, _ = _graph_parts(spark, sf_dir)
    return local_clustering(edges)


@query(
    "g_degree_hist",
    oracle=f"""{GRAPH_CTES}
SELECT coalesce(d.outdeg, 0) AS outdeg, count(*) AS n_vertices
FROM verts v LEFT JOIN deg d ON v.id = d.id
GROUP BY coalesce(d.outdeg, 0)""",
)
def g_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-degree histogram over the full vertex universe (dangling vertices
    land in the 0 bucket — P2 as a distribution, the degree-skew summary
    README.md:410-414 tabulates for its datasets)."""
    _, _, verts, deg = _graph_parts(spark, sf_dir)
    return (
        verts.join(deg, "id", "left")
        .select(F.coalesce(F.col("outdeg"), F.lit(0)).alias("outdeg"))
        .groupBy("outdeg")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
    )


# Intermediate vertices with out-degree above this do not transit 2-hop
# paths: the self-join fan-out is Sigma over mids of in(m)*out(m), and a
# single hub mid can dominate it (quadratic blow-up). The cap is part of
# the query's declared semantics and is mirrored in the oracle.
TWO_HOP_MID_OUTDEG_CAP = 64


@query(
    "g_two_hop_count",
    oracle=f"""{GRAPH_CTES}
SELECT a.src AS id, count(DISTINCT b.dst) AS n_two_hop
FROM edges a
JOIN deg dm ON dm.id = a.dst AND dm.outdeg <= {TWO_HOP_MID_OUTDEG_CAP}
JOIN edges b ON b.src = a.dst
GROUP BY a.src""",
)
def g_two_hop_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 2-hop neighborhood size per vertex through non-hub
    intermediates — the multi-join graph query shape (friend-of-friend).

    The unbounded self-join materializes Sigma in(m)*out(m) rows, which a
    single hub intermediate makes quadratic; bounding transit to mids with
    outdeg <= TWO_HOP_MID_OUTDEG_CAP caps per-mid fan-out at in(m)*cap and
    keeps the plan linear in E. The cap is declared semantics
    (friend-of-friend through broadcast hubs is rarely the intended signal)
    and the oracle applies the identical predicate. countDistinct's partial
    map-side dedup bounds shuffle volume by distinct (src, dst2) pairs per
    partition. Implementation: graph/motifs.py:two_hop_count.
    """
    _, edges, _, _ = _graph_parts(spark, sf_dir)
    return two_hop_count(edges, mid_outdeg_cap=TWO_HOP_MID_OUTDEG_CAP)


KCORE_K = 64
KCORE_ROUNDS = 4


def _kcore_oracle(k: int, rounds: int) -> str:
    parts = [
        f"""{GRAPH_CTES},
sym AS (
  SELECT src, dst FROM edges WHERE src <> dst
  UNION
  SELECT dst AS src, src AS dst FROM edges WHERE src <> dst),
v0 AS (SELECT DISTINCT src AS id FROM sym)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
d{i} AS (
  SELECT s.src AS id, count(*) AS d
  FROM sym s JOIN v{i - 1} a ON s.src = a.id JOIN v{i - 1} b ON s.dst = b.id
  GROUP BY s.src),
v{i} AS (SELECT id FROM d{i} WHERE d >= {k})"""
        )
    parts.append(f"\nSELECT id FROM v{rounds}")
    return "".join(parts)


@query("g_kcore64_r4", oracle=_kcore_oracle(KCORE_K, KCORE_ROUNDS))
def g_kcore64_r4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four rounds of 64-core peeling on the undirected deduped graph —
    the degree-threshold iterative kernel (community-core extraction).
    Fixed round count keeps it expressible as an unrolled SQL oracle;
    implementation: graph/motifs.py:kcore_survivors (per-round degree
    aggregation over the shrinking survivor set)."""
    _, edges, _, _ = _graph_parts(spark, sf_dir)
    return kcore_survivors(edges, k=KCORE_K, rounds=KCORE_ROUNDS)


KTRUSS_K = 4
KTRUSS_ROUNDS = 3
# Truss fixture moduli — deliberately SPARSER than the shared 997/1500
# graph. The shared derived graph at sf0.1 is uniformly dense (median
# degree ~700, 43M triangles/round), 2-3 orders of magnitude more
# triangles per edge than a real web/social graph at the same |E| — a
# suite entry on it measures the fixture, not the peeling plan.
# mod(4001,6000) at sf0.1: ~576k edges / ~10k vertices / 1.85M round-1
# triangles — triangle-per-edge ratio ~3.2, the soc-LiveJournal1
# ballpark (69M E / 286M tri ~ 4.1) — and the sf0.01 gate keeps a
# nonempty 84-edge 4-truss. The convergence query
# uses mod(3001,4500), the fixture where the fixed 3-round peel provably
# UNDER-peels at sf0.01 (round 4 still removes 61 edges: 300 -> 239).
TRUSS_SRC_MOD = 4001
TRUSS_DST_MOD = 6000
TRUSS_CONV_SRC_MOD = 3001
TRUSS_CONV_DST_MOD = 4500
# 8 unrolled rounds reach the peeling fixpoint on every driver scale
# (measured: sf0.001 stable at round 3, sf0.01 at round 5, sf0.1 at
# round 2), so the fixed unroll IS the k-truss there — the oracle for
# the rounds=None convergence mode.
TRUSS_CONV_UNROLL = 8


def _truss_edges(spark: SparkSession, sf_dir: str, src_mod: int, dst_mod: int):
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_orderkey") % src_mod).alias("src"),
        (F.col("l_partkey") % dst_mod).alias("dst"),
    )


def _ktruss_oracle(k: int, rounds: int, src_mod: int, dst_mod: int) -> str:
    """Unrolled k-truss peel: per round, canonical triangle enumeration
    (u < v edges, so each triangle x < y < z appears once), per-edge
    support via 3 pair projections, filter support >= k-2.

    Every per-round CTE is MATERIALIZED: e{i} references e{i-1} three
    times, so DuckDB's default CTE inlining would re-scan the base table
    3^rounds times — the 8-round convergence unroll would open the
    parquet file ~6.5k times (measured: fd exhaustion). Materialization
    makes each round one pass, the same thing the Spark side's eager
    localCheckpoint per round does."""
    parts = [
        f"""WITH raw AS (
  SELECT l_orderkey % {src_mod} AS src, l_partkey % {dst_mod} AS dst
  FROM lineitem),
e0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM raw WHERE src <> dst)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
tri{i} AS MATERIALIZED (
  SELECT a.u AS x, a.v AS y, b.v AS z
  FROM e{i - 1} a
  JOIN e{i - 1} b ON b.u = a.v
  JOIN e{i - 1} c ON c.u = a.u AND c.v = b.v),
supp{i} AS (
  SELECT u, v, count(*) AS c FROM (
    SELECT x AS u, y AS v FROM tri{i}
    UNION ALL SELECT x AS u, z AS v FROM tri{i}
    UNION ALL SELECT y AS u, z AS v FROM tri{i})
  GROUP BY u, v),
e{i} AS MATERIALIZED (SELECT u, v FROM supp{i} WHERE c >= {k - 2})"""
        )
    parts.append(f"\nSELECT u, v FROM e{rounds}")
    return "".join(parts)


@query(
    "g_ktruss4_r3",
    oracle=_ktruss_oracle(KTRUSS_K, KTRUSS_ROUNDS, TRUSS_SRC_MOD, TRUSS_DST_MOD),
)
def g_ktruss4_r3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rounds of 4-truss peeling — the edge-cohesion kernel one
    step up from k-core: every surviving edge must close >= k-2 = 2
    triangles among current survivors each round. Fixed round count
    keeps it expressible as an unrolled SQL oracle (the g_kcore64_r4
    discipline); implementation: graph/motifs.py:ktruss_edges
    (degree-oriented per-round triangle enumeration, O(E^1.5) wedge
    work, eager localCheckpoint per round on the shrinking edge set).
    Runs on the sparse truss fixture (see TRUSS_SRC_MOD note): a
    realistic triangle-per-edge ratio, so the suite entry measures the
    peeling plan, not a 43M-triangle stress."""
    edges = _truss_edges(spark, sf_dir, TRUSS_SRC_MOD, TRUSS_DST_MOD)
    return ktruss_edges(edges, k=KTRUSS_K, rounds=KTRUSS_ROUNDS)


@query(
    "g_ktruss4_conv",
    oracle=_ktruss_oracle(
        KTRUSS_K, TRUSS_CONV_UNROLL, TRUSS_CONV_SRC_MOD, TRUSS_CONV_DST_MOD
    ),
)
def g_ktruss4_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss peeling TO CONVERGENCE (rounds=None): loop until the edge
    set is stable — the actual k-truss, where the fixed 3-round slice
    provably under-peels (on this fixture at sf0.01, round 4 still
    removes 61 edges). The Spark side stops on a per-round count check
    (monotone shrink makes count equality set equality); the oracle
    unrolls TRUSS_CONV_UNROLL=8 rounds, past the measured fixpoint on
    every driver scale, with MATERIALIZED per-round CTEs (see
    _ktruss_oracle). Implementation: graph/motifs.py:ktruss_edges."""
    edges = _truss_edges(
        spark, sf_dir, TRUSS_CONV_SRC_MOD, TRUSS_CONV_DST_MOD
    )
    return ktruss_edges(edges, k=KTRUSS_K, rounds=None)


LPA_ROUNDS = 3


def _lpa_oracle(rounds: int) -> str:
    parts = [
        f"""{GRAPH_CTES},
sym AS (
  SELECT src, dst FROM edges WHERE src <> dst
  UNION
  SELECT dst AS src, src AS dst FROM edges WHERE src <> dst),
l0 AS (SELECT DISTINCT src AS id, src AS label FROM sym)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
v{i} AS (
  SELECT s.dst AS id, l.label, count(*) AS n
  FROM sym s JOIN l{i - 1} l ON l.id = s.src
  GROUP BY s.dst, l.label),
l{i} AS (
  SELECT id, label FROM (
    SELECT id, label, row_number() OVER (PARTITION BY id ORDER BY n DESC, label) AS rn
    FROM v{i}) WHERE rn = 1)"""
        )
    parts.append(f"\nSELECT id, label FROM l{rounds}")
    return "".join(parts)


LOUVAIN_ROUNDS = 2


def _louvain_oracle(rounds: int, weighted: bool = False) -> str:
    """graph/communities.py:louvain_one_level unrolled: per round,
    every vertex's candidate communities (neighbors' + own), the
    gain score kin - k*(tot - [own] k)/2m, the monotone-labels
    restriction (cc <= current c), and a row_number argmax with the
    same (score DESC, community ASC) tie-break. ``weighted`` swaps the
    deduped symmetric edges for integer raw-multiplicity weights
    (reverse directions merged by sum) and every count for a weight
    sum — all quantities stay integers, so exactness is unchanged."""
    if weighted:
        head = f"""{GRAPH_CTES},
wraw AS (
  SELECT src, dst, count(*) AS w FROM raw WHERE src <> dst GROUP BY 1, 2),
sym AS (
  SELECT src, dst, sum(w) AS w FROM (
    SELECT src, dst, w FROM wraw
    UNION ALL SELECT dst AS src, src AS dst, w FROM wraw)
  GROUP BY 1, 2),
kdeg AS (SELECT src AS id, sum(w) AS k FROM sym GROUP BY src),
mm AS (SELECT CAST(sum(w) AS DOUBLE) AS m2 FROM sym),
c0 AS (SELECT id, id AS c FROM kdeg)"""
        kin = "sum(s.w)"
    else:
        head = f"""{GRAPH_CTES},
sym AS (
  SELECT src, dst FROM edges WHERE src <> dst
  UNION
  SELECT dst AS src, src AS dst FROM edges WHERE src <> dst),
kdeg AS (SELECT src AS id, count(*) AS k FROM sym GROUP BY src),
mm AS (SELECT CAST(count(*) AS DOUBLE) AS m2 FROM sym),
c0 AS (SELECT id, id AS c FROM kdeg)"""
        kin = "count(*)"
    parts = [head]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(
            f""",
ct{i} AS (SELECT c, sum(k) AS tot FROM c{p} JOIN kdeg USING (id) GROUP BY c),
nb{i} AS (
  SELECT s.src AS id, cm.c AS cc, {kin} AS kin
  FROM sym s JOIN c{p} cm ON cm.id = s.dst GROUP BY 1, 2),
cd{i} AS (
  SELECT id, cc, sum(kin) AS kin FROM (
    SELECT id, cc, kin FROM nb{i}
    UNION ALL SELECT id, c AS cc, 0 AS kin FROM c{p})
  GROUP BY id, cc),
sc{i} AS (
  SELECT cd.id, cd.cc,
    CAST(cd.kin AS DOUBLE)
      - CAST(kd.k AS DOUBLE)
        * CAST(ct.tot - CASE WHEN cd.cc = cm.c THEN kd.k ELSE 0 END AS DOUBLE)
        / mm.m2 AS score
  FROM cd{i} cd
  JOIN kdeg kd ON kd.id = cd.id
  JOIN c{p} cm ON cm.id = cd.id
  JOIN ct{i} ct ON ct.c = cd.cc, mm
  WHERE cd.cc <= cm.c),
c{i} AS (
  SELECT id, cc AS c FROM (
    SELECT id, cc,
           row_number() OVER (PARTITION BY id ORDER BY score DESC, cc) AS rn
    FROM sc{i}) WHERE rn = 1)"""
        )
    parts.append(f"\nSELECT id, c AS community FROM c{rounds}")
    return "".join(parts)


def _louvain2_oracle(r1: int, r2: int) -> str:
    """louvain_two_level unrolled: the level-1 CTE chain, the community
    aggregation (condensed symmetric multigraph WITH self rows — the
    sym join counts both directions, so w(C,C) lands at 2 x internal
    edges automatically), and r2 weighted sweeps whose kin sums exclude
    the self rows while kdeg/tot/2m include them."""
    head = _louvain_oracle(r1)
    head = head[: head.rindex("\nSELECT ")]  # keep the CTE chain only
    parts = [
        head
        + f""",
cond AS (
  SELECT a.c AS src, b.c AS dst, count(*) AS w
  FROM sym s
  JOIN c{r1} a ON a.id = s.src
  JOIN c{r1} b ON b.id = s.dst
  GROUP BY 1, 2),
kdeg2 AS (SELECT src AS id, sum(w) AS k FROM cond GROUP BY src),
mm2 AS (SELECT CAST(sum(w) AS DOUBLE) AS m2 FROM cond),
d0 AS (SELECT id, id AS c FROM kdeg2)"""
    ]
    for i in range(1, r2 + 1):
        p = i - 1
        parts.append(
            f""",
dt{i} AS (SELECT c, sum(k) AS tot FROM d{p} JOIN kdeg2 USING (id) GROUP BY c),
dn{i} AS (
  SELECT s.src AS id, dm.c AS cc, sum(s.w) AS kin
  FROM cond s JOIN d{p} dm ON dm.id = s.dst
  WHERE s.src <> s.dst GROUP BY 1, 2),
dd{i} AS (
  SELECT id, cc, sum(kin) AS kin FROM (
    SELECT id, cc, kin FROM dn{i}
    UNION ALL SELECT id, c AS cc, 0 AS kin FROM d{p})
  GROUP BY id, cc),
ds{i} AS (
  SELECT dd.id, dd.cc,
    CAST(dd.kin AS DOUBLE)
      - CAST(kd.k AS DOUBLE)
        * CAST(dt.tot - CASE WHEN dd.cc = dm.c THEN kd.k ELSE 0 END AS DOUBLE)
        / mm2.m2 AS score
  FROM dd{i} dd
  JOIN kdeg2 kd ON kd.id = dd.id
  JOIN d{p} dm ON dm.id = dd.id
  JOIN dt{i} dt ON dt.c = dd.cc, mm2
  WHERE dd.cc <= dm.c),
d{i} AS (
  SELECT id, cc AS c FROM (
    SELECT id, cc,
           row_number() OVER (PARTITION BY id ORDER BY score DESC, cc) AS rn
    FROM ds{i}) WHERE rn = 1)"""
        )
    parts.append(
        f"""
SELECT l1.id, d{r2}.c AS community
FROM c{r1} l1 JOIN d{r2} ON d{r2}.id = l1.c"""
    )
    return "".join(parts)


@query("g_louvain_l2", oracle=_louvain2_oracle(LOUVAIN_ROUNDS, LOUVAIN_ROUNDS))
def g_louvain_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL Louvain loop one aggregation deep: level-1 local moves,
    community aggregation into a condensed weighted multigraph (self
    rows carry internal mass so super-vertex degrees stay correct), and
    two weighted sweeps on the condensed graph — where one-level sweeps
    plateau (two bridged 4-cliques: one level leaves the bridge
    community unmerged at Q=0.24; the aggregated pass reaches the true
    optimum Q=0.42, pytest-pinned with exact Fractions). Deterministic
    at both levels => the whole two-phase algorithm unrolls into one
    SQL oracle. Implementation: graph/communities.py:louvain_two_level."""
    from pagerank_giraph_vs_mapreduce_spark.graph.communities import (
        louvain_two_level,
    )

    _, edges, _, _ = _graph_parts(spark, sf_dir)
    return louvain_two_level(
        edges, rounds1=LOUVAIN_ROUNDS, rounds2=LOUVAIN_ROUNDS
    )


def _modularity_oracle(rounds: int) -> str:
    """Newman modularity of the louvain assignment, as ONE exact integer
    division: Q = (in_total*2m - sum_C tot_C^2) / (2m)^2 — in_total
    (half-edges inside communities), tot_C (community degree sums) and
    2m are integers, so both engines compute the identical numerator and
    denominator and perform a single IEEE division."""
    head = _louvain_oracle(rounds)
    head = head[: head.rindex("\nSELECT ")]  # keep the CTE chain only
    return (
        head
        + f""",
intot AS (
  SELECT count(*) AS it FROM sym s
  JOIN c{rounds} a ON a.id = s.src
  JOIN c{rounds} b ON b.id = s.dst
  WHERE a.c = b.c),
ctots AS (
  SELECT cm.c, sum(kd.k) AS tot
  FROM c{rounds} cm JOIN kdeg kd ON kd.id = cm.id GROUP BY cm.c),
parts AS (
  SELECT (SELECT count(*) FROM ctots) AS n_communities,
         (SELECT it FROM intot) AS it,
         (SELECT sum(tot * tot) FROM ctots) AS st2,
         (SELECT count(*) FROM sym) AS m2)
SELECT CAST(n_communities AS BIGINT) AS n_communities,
       CAST(it * m2 - st2 AS DOUBLE) / CAST(m2 * m2 AS DOUBLE)
         AS modularity
FROM parts"""
    )


@query("g_modularity_score", oracle=_modularity_oracle(LOUVAIN_ROUNDS))
def g_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The community-quality METRIC itself as a query: Newman modularity
    Q of the g_louvain_r2 assignment — what a graph-curation pipeline
    actually reports on a dashboard (community count + partition
    quality). Computed as exact integers until one final division:
    Q = (in_total*2m - sum_C tot_C^2) / (2m)^2, so no
    summation-order noise can reach the value hash. Scale shape: two
    V-row joins of the assignment onto the symmetric edge table and two
    map-side-combined aggregates; the scalars meet in one broadcast
    1-row crossJoin chain."""
    from pagerank_giraph_vs_mapreduce_spark.graph.communities import (
        louvain_one_level,
    )

    _, edges, _, _ = _graph_parts(spark, sf_dir)
    comm = louvain_one_level(edges, rounds=LOUVAIN_ROUNDS)
    noself = edges.filter(F.col("src") != F.col("dst")).select("src", "dst")
    # three subtrees below (in_total, ctots, 2m) all read sym — eager
    # localCheckpoint materializes the union+distinct ONCE instead of 3x
    # (same lineage discipline as the kernels; ContextCleaner reclaims it)
    sym = (
        noself.unionAll(
            noself.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    kdeg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("k")
    )
    intot = (
        sym.join(comm.select(F.col("id").alias("src"), F.col("community").alias("ca")), "src")
        .join(comm.select(F.col("id").alias("dst"), F.col("community").alias("cb")), "dst")
        .filter(F.col("ca") == F.col("cb"))
        .agg(F.count(F.lit(1)).alias("it"))
    )
    ctots = (
        comm.join(kdeg, "id")
        .groupBy("community")
        .agg(F.sum("k").alias("tot"))
    )
    st2 = ctots.agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.sum(F.col("tot") * F.col("tot")).alias("st2"),
    )
    m2 = sym.agg(F.count(F.lit(1)).alias("m2"))
    return (
        st2.crossJoin(F.broadcast(intot))
        .crossJoin(F.broadcast(m2))
        .select(
            F.col("n_communities").cast("bigint").alias("n_communities"),
            (
                (F.col("it") * F.col("m2") - F.col("st2")).cast("double")
                / (F.col("m2") * F.col("m2")).cast("double")
            ).alias("modularity"),
        )
    )



@query("g_louvain_w_r2", oracle=_louvain_oracle(LOUVAIN_ROUNDS, weighted=True))
def g_louvain_w_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED one-level modularity sweeps: edge strength = raw-edge
    multiplicity (the information the A2 dedup discards — the same
    weighting g_pagerank_weighted_k3 uses), reverse directions merged by
    integer sum. Weighted modularity's k/kin/tot/2m all remain integers,
    so the score stays two exact products + one IEEE division and the
    argmax agrees bit-for-bit across engines; uniform weights reduce
    exactly to g_louvain_r2 (pytest-asserted). Implementation:
    graph/communities.py:louvain_one_level(weight_col=)."""
    from pagerank_giraph_vs_mapreduce_spark.graph.communities import (
        louvain_one_level,
    )

    raw = derived_edges(spark, sf_dir)
    wedges = raw.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w"))
    return louvain_one_level(wedges, rounds=LOUVAIN_ROUNDS, weight_col="w")


@query("g_louvain_r2", oracle=_louvain_oracle(LOUVAIN_ROUNDS))
def g_louvain_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two synchronous one-level MODULARITY-optimization sweeps (the
    Louvain local-move phase, determinized with min-community-id
    tie-breaks): community detection by the metric
    a real graph-curation pipeline actually reports, where LPA
    (g_lpa_r3) only finds frequency communities. Every vertex scores
    joining each neighboring community by the Blondel et al. gain
    (k_in - k_i*Sigma_tot/2m, exact-integer inputs, one IEEE division)
    and argmaxes among communities with id <= its own (monotone labels —
    the swap-cycle breaker). Deterministic => unrolled SQL oracle; the modularity
    non-decrease property is pinned per round on seeded graphs in
    tests/test_round10_ops.py. Implementation:
    graph/communities.py:louvain_one_level."""
    from pagerank_giraph_vs_mapreduce_spark.graph.communities import (
        louvain_one_level,
    )

    _, edges, _, _ = _graph_parts(spark, sf_dir)
    return louvain_one_level(edges, rounds=LOUVAIN_ROUNDS)


@query("g_lpa_r3", oracle=_lpa_oracle(LPA_ROUNDS))
def g_lpa_r3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three synchronous label-propagation rounds (community detection) on
    the undirected deduped graph: each vertex adopts its neighbors'
    most frequent previous-round label, smallest label on ties —
    deterministic, so the unrolled SQL oracle reproduces it exactly.
    Implementation: graph/communities.py:label_propagation (per-round
    map-side-combined vote counts + one max_by aggregate per vertex)."""
    from pagerank_giraph_vs_mapreduce_spark.graph.communities import (
        label_propagation,
    )

    _, edges, _, _ = _graph_parts(spark, sf_dir)
    return label_propagation(edges, rounds=LPA_ROUNDS)


HITS_ROUNDS = 2

_D = "DECIMAL(38,12)"


def _hits_oracle(rounds: int) -> str:
    parts = [
        f"""{GRAPH_CTES},
h0 AS (SELECT id, 1.0 AS hub FROM verts)"""
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(
            f""",
a{i}r AS (
  SELECT v.id, coalesce(s.auth, 0.0) AS auth
  FROM verts v LEFT JOIN (
    SELECT e.dst AS id, CAST(sum(CAST(h.hub AS {_D})) AS DOUBLE) AS auth
    FROM edges e JOIN h{p} h ON h.id = e.src GROUP BY e.dst) s ON s.id = v.id),
a{i} AS (
  SELECT id, round(auth / (SELECT CAST(sum(CAST(auth AS {_D})) AS DOUBLE) FROM a{i}r), 9) AS auth
  FROM a{i}r),
h{i}r AS (
  SELECT v.id, coalesce(s.hub, 0.0) AS hub
  FROM verts v LEFT JOIN (
    SELECT e.src AS id, CAST(sum(CAST(a.auth AS {_D})) AS DOUBLE) AS hub
    FROM edges e JOIN a{i} a ON a.id = e.dst GROUP BY e.src) s ON s.id = v.id),
h{i} AS (
  SELECT id, round(hub / (SELECT CAST(sum(CAST(hub AS {_D})) AS DOUBLE) FROM h{i}r), 9) AS hub
  FROM h{i}r)"""
        )
    parts.append(
        f"\nSELECT a.id, a.auth, h.hub FROM a{rounds} a JOIN h{rounds} h ON a.id = h.id"
    )
    return "".join(parts)


@query("g_hits_k2", oracle=_hits_oracle(HITS_ROUNDS))
def g_hits_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two alternating HITS rounds (Kleinberg hubs/authorities) on the
    deduped directed graph — the PageRank-family link-analysis sibling.
    L1 normalization (sqrt-free) with exact-decimal sums keeps both
    engines bit-identical at 9 dp; the L1 scalars are in-plan broadcast
    crossJoins, not driver values. Implementation: graph/hits.py."""
    from pagerank_giraph_vs_mapreduce_spark.graph.hits import hits

    _, edges, _, _ = _graph_parts(spark, sf_dir)
    return hits(edges, rounds=HITS_ROUNDS)


_SCC_SQL = (
    GRAPH_CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + f""",
fwd AS (
  SELECT CAST({BFS_SOURCE} AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist
  UNION
  SELECT e.dst AS id, f.dist + 1 AS dist
  FROM fwd f JOIN edges e ON e.src = f.id
  WHERE f.dist < {BFS_HOPS}),
bwd AS (
  SELECT CAST({BFS_SOURCE} AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist
  UNION
  SELECT e.src AS id, b.dist + 1 AS dist
  FROM bwd b JOIN edges e ON e.dst = b.id
  WHERE b.dist < {BFS_HOPS})
SELECT f.id FROM (SELECT DISTINCT id FROM fwd) f
JOIN (SELECT DISTINCT id FROM bwd) b ON b.id = f.id"""
)


@query("g_scc_of_source_k4", oracle=_SCC_SQL)
def g_scc_of_source_k4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The strongly-connected component containing BFS_SOURCE, bounded at
    4 hops each way: forward-reachable ∩ backward-reachable vertex sets
    (the Kosaraju pivot step as a declared query). Both reaches run the
    frontier-collapsing BFS kernel — the backward one on the reversed
    edge view, which costs nothing extra: the edge table re-shuffles by
    dst once and per-hop work tracks the frontier, not the graph. With
    hops >= diameter this is the exact SCC of the source; the fixed bound
    keeps the oracle an unrolled recursive CTE (same discipline as
    g_bfs_hops_k4)."""
    from pagerank_giraph_vs_mapreduce_spark.graph.paths import bfs_distances

    edges = derived_edges(spark, sf_dir)
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    fwd = bfs_distances(edges, source=BFS_SOURCE, max_hops=BFS_HOPS).distances
    bwd = bfs_distances(rev, source=BFS_SOURCE, max_hops=BFS_HOPS).distances
    return fwd.select("id").join(bwd.select("id"), "id")


@query(
    "g_degree_assortativity",
    oracle=f"""{GRAPH_CTES},
sym AS (SELECT src, dst FROM edges WHERE src <> dst
        UNION SELECT dst AS src, src AS dst FROM edges WHERE src <> dst),
udeg AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY src),
pairs AS (
  SELECT dx.d AS x, dy.d AS y
  FROM sym s
  JOIN udeg dx ON dx.id = s.src
  JOIN udeg dy ON dy.id = s.dst),
sums AS (
  SELECT count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM pairs)
SELECT round(
  (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
  / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
     * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
  6) AS assortativity,
  n AS n_directed_pairs
FROM sums""",
)
def g_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002): Pearson correlation of endpoint
    degrees over the symmetrized undirected edge list — THE one-number
    summary of hub-to-hub vs hub-to-leaf wiring, negative on web-like
    graphs (the reference's datasets, README.md:410-414). Every sum is an
    exact integer (degree products fit bigint by orders of magnitude);
    the correlation is one double formula over six scalars, rounded to
    6 dp — so the oracle matches bit-for-bit despite the 2E-row join."""
    _, edges, _, _ = _graph_parts(spark, sf_dir)
    noself = edges.filter(F.col("src") != F.col("dst"))
    sym = noself.union(
        noself.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    udeg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("d")
    )
    dx = udeg.select(F.col("id").alias("src"), F.col("d").alias("x"))
    dy = udeg.select(F.col("id").alias("dst"), F.col("d").alias("y"))
    x, y = F.col("x"), F.col("y")
    sums = (
        sym.join(dx, "src")
        .join(dy, "dst")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(x * y).alias("sxy"),
            F.sum(x * x).alias("sxx"),
            F.sum(y * y).alias("syy"),
        )
    )
    n = F.col("n").cast("double")
    return sums.select(
        F.round(
            (n * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
            / (
                F.sqrt(n * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
                * F.sqrt(n * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
            ),
            6,
        ).alias("assortativity"),
        F.col("n").alias("n_directed_pairs"),
    )


MULTI_SOURCES = (0, 1, 2)

_MBFS_SQL = (
    GRAPH_CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + f""",
mbfs AS (
  SELECT CAST(s.v AS BIGINT) AS id, CAST(s.v AS BIGINT) AS source,
         CAST(0 AS BIGINT) AS dist
  FROM (VALUES {', '.join(f'({s})' for s in MULTI_SOURCES)}) s(v)
  UNION
  SELECT e.dst AS id, b.source, b.dist + 1 AS dist
  FROM mbfs b JOIN edges e ON e.src = b.id
  WHERE b.dist < {BFS_HOPS})
SELECT id, source, min(dist) AS dist FROM mbfs GROUP BY id, source"""
)


@query("g_multi_bfs_k4", oracle=_MBFS_SQL)
def g_multi_bfs_k4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BFS from three sources in ONE shared traversal
    (graph/paths.py:multi_bfs): the frontier carries (vertex, source)
    pairs, so each hop is a single pass over the cached edge table no
    matter how many sources are live — the standard amortization behind
    diameter/closeness estimation, where K separate kernels would scan
    the edges K times per hop. Oracle: a multi-seed recursive CTE with
    per-source min-dist."""
    from pagerank_giraph_vs_mapreduce_spark.graph.paths import multi_bfs

    res = multi_bfs(
        derived_edges(spark, sf_dir), list(MULTI_SOURCES), max_hops=BFS_HOPS
    )
    return res.distances


def _wpagerank_unrolled_sql(k: int, d: float = 0.85) -> str:
    """Weighted kernel semantics (contrib = pr * w / wsum, weights = raw
    edge multiplicity) unrolled into k SQL iterations."""
    ctes = [
        "wedges AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w FROM raw GROUP BY src, dst)",
        "wdeg AS (SELECT src AS id, sum(w) AS wsum FROM wedges GROUP BY src)",
        "r0 AS (SELECT id, 1.0 / (SELECT count(*) FROM verts) AS pr FROM verts)",
    ]
    for i in range(1, k + 1):
        p = f"r{i - 1}"
        ctes.append(
            f"""dang{i} AS (
  SELECT coalesce(sum(pr), 0.0) AS dm FROM {p}
  WHERE id NOT IN (SELECT id FROM wdeg))"""
        )
        ctes.append(
            f"""c{i} AS (
  SELECT e.dst AS id, sum(r.pr * e.w / g.wsum) AS contrib
  FROM wedges e JOIN {p} r ON e.src = r.id JOIN wdeg g ON g.id = e.src
  GROUP BY e.dst)"""
        )
        ctes.append(
            f"""r{i} AS (
  SELECT v.id,
         (1 - {d}) / (SELECT count(*) FROM verts)
         + {d} * ((SELECT dm FROM dang{i}) / (SELECT count(*) FROM verts)
                  + coalesce(c.contrib, 0.0)) AS pr
  FROM verts v LEFT JOIN c{i} c ON v.id = c.id)"""
        )
    return (
        f"{GRAPH_CTES},\n"
        + ",\n".join(ctes)
        + f"\nSELECT id, round(pr, 9) AS pr FROM r{k}"
    )


@query("g_pagerank_weighted_k3", oracle=_wpagerank_unrolled_sql(3))
def g_pagerank_weighted_k3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three supersteps of WEIGHTED PageRank (graph/pagerank.py:
    pagerank_weighted) with weights = raw-edge multiplicity — the
    information the A2 dedup discards becomes the edge strength, so the
    kernel family extends to weighted graphs while uniform weights reduce
    exactly to the unweighted kernel (pytest-asserted). Same oracle
    discipline as g_pagerank_k3: full semantics unrolled into SQL CTEs,
    ranks rounded to 9 dp."""
    from pagerank_giraph_vs_mapreduce_spark.graph.pagerank import (
        pagerank_weighted,
    )

    raw = derived_edges(spark, sf_dir)
    wedges = raw.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("double").alias("w")
    )
    res = pagerank_weighted(wedges, max_iter=3, tol=-1.0, min_iter=0)
    return res.ranks.select("id", F.round("pr", 9).alias("pr"))


@query(
    "g_harmonic_k4",
    oracle=_MBFS_SQL.replace(
        "SELECT id, source, min(dist) AS dist FROM mbfs GROUP BY id, source",
        """SELECT source, round(sum(1.0 / dist), 9) AS harmonic
FROM (SELECT id, source, min(dist) AS dist FROM mbfs GROUP BY id, source)
WHERE dist > 0 GROUP BY source""",
    ),
)
def g_harmonic_k4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality (Boldi-Vigna) of the three probe sources,
    truncated at 4 hops: sum of 1/dist over reached vertices — the
    centrality estimate batched BFS exists to serve (K probe sources per
    shared edge pass; sampling more sources refines the estimate without
    changing per-hop cost). 1/dist sums are grouped double sums over at
    most V terms of magnitude <= 1 — rounded to 9 dp, far above the
    summation-order noise."""
    from pagerank_giraph_vs_mapreduce_spark.graph.paths import multi_bfs

    res = multi_bfs(
        derived_edges(spark, sf_dir), list(MULTI_SOURCES), max_hops=BFS_HOPS
    )
    return (
        res.distances.filter(F.col("dist") > 0)
        .groupBy("source")
        .agg(F.round(F.sum(1.0 / F.col("dist")), 9).alias("harmonic"))
    )


_REC_BFS_BODY = """walk (id, dist) AS (
  SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist
  UNION ALL
  SELECT e.dst AS id, w.dist + 1 AS dist
  FROM walk w JOIN {edges} e ON e.src = w.id
  WHERE w.dist < 3)
SELECT id, min(dist) AS dist FROM walk GROUP BY id"""


@query(
    "sql_recursive_bfs_k3",
    oracle=(
        GRAPH_CTES.replace("WITH ", "WITH RECURSIVE ", 1)
        + ",\n"
        + _REC_BFS_BODY.format(edges="edges")
    ),
)
def sql_recursive_bfs_k3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS as a DECLARATIVE Spark SQL recursive CTE (Spark 4's WITH
    RECURSIVE) — the same traversal the imperative superstep kernel runs,
    expressed entirely inside one SQL statement and proved against the
    byte-identical recursive CTE in DuckDB. UNION ALL recursion
    enumerates walks (finite under the dist < 3 bound), and min(dist)
    collapses them to shortest hops — identical finite semantics in both
    engines. The kernel (graph/paths.py) remains the scale path: walk
    enumeration grows with path counts, the frontier kernel with
    vertex counts; this query certifies the engine SURFACE."""
    edges = derived_edges(spark, sf_dir).select("src", "dst").distinct()
    edges.createOrReplaceTempView("edges_rec")
    return spark.sql(
        "WITH RECURSIVE " + _REC_BFS_BODY.format(edges="edges_rec")
    )


WALK_STEPS = 3
WALK_MOD = 50


def _walks_oracle(steps: int) -> str:
    ctes = [f"w0 AS (SELECT id AS walk, id AS v FROM verts WHERE id % {WALK_MOD} = 0)"]
    for s in range(1, steps + 1):
        ctes.append(
            f"""s{s} AS (
  SELECT walk, v FROM (
    SELECT w.walk, e.dst AS v,
           row_number() OVER (PARTITION BY w.walk
               ORDER BY md5(CAST(w.walk AS VARCHAR) || '|{s}|'
                            || CAST(e.dst AS VARCHAR)), e.dst) AS rn
    FROM {'w0' if s == 1 else f's{s - 1}'} w JOIN edges e ON e.src = w.v)
  WHERE rn = 1)"""
        )
    selects = ["SELECT walk, CAST(0 AS INT) AS step, v AS vertex FROM w0"] + [
        f"SELECT walk, CAST({s} AS INT) AS step, v AS vertex FROM s{s}"
        for s in range(1, steps + 1)
    ]
    return (
        f"{GRAPH_CTES},\n" + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)
    )


@query("g_random_walks_k3", oracle=_walks_oracle(WALK_STEPS))
def g_random_walks_k3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random walks (graph/paths.py:random_walks) from every
    vertex with id % 50 == 0 — the node2vec/DeepWalk corpus-generation
    step with a hash-seeded successor choice (min md5 of walk|step|dst)
    so the unrolled-SQL oracle and any retried task replay the identical
    walk. Per step: frontier equi-join + per-walk struct-min aggregate —
    O(live walks x out-degree) messages, never O(E)."""
    from pagerank_giraph_vs_mapreduce_spark.graph.paths import random_walks

    _, edges, verts, _ = _graph_parts(spark, sf_dir)
    sources = verts.filter(F.col("id") % WALK_MOD == 0)
    return random_walks(edges, sources, steps=WALK_STEPS)


def _pagerank_incremental_sql(k0: int, k1: int, d: float = 0.85) -> str:
    """Two-phase unrolled oracle for WARM-START PageRank: k0 iterations
    on the base graph, ranks carried onto the UPDATED graph (delta =
    reversed src%7==0 edges) as the init — vertices new to the updated
    graph seed at 1/N_updated — then k1 more iterations under the
    updated degrees/dangling set. Mirrors pagerank(initial_ranks=...)
    exactly (no renormalization of the carried ranks)."""
    ctes = [
        "delta AS (SELECT dst AS src, src AS dst FROM edges WHERE src % 7 = 0)",
        "uedges AS (SELECT src, dst FROM edges UNION SELECT src, dst FROM delta)",
        "uverts AS (SELECT src AS id FROM uedges UNION SELECT dst AS id FROM uedges)",
        "udeg AS (SELECT src AS id, count(*) AS outdeg FROM uedges GROUP BY src)",
        "r0 AS (SELECT id, 1.0 / (SELECT count(*) FROM verts) AS pr FROM verts)",
    ]
    for i in range(1, k0 + 1):
        p = f"r{i - 1}"
        ctes.append(
            f"""dang{i} AS (
  SELECT coalesce(sum(pr), 0.0) AS dm FROM {p}
  WHERE id NOT IN (SELECT id FROM deg))"""
        )
        ctes.append(
            f"""c{i} AS (
  SELECT e.dst AS id, sum(r.pr / g.outdeg) AS contrib
  FROM edges e JOIN {p} r ON e.src = r.id JOIN deg g ON g.id = e.src
  GROUP BY e.dst)"""
        )
        ctes.append(
            f"""r{i} AS (
  SELECT v.id,
         (1 - {d}) / (SELECT count(*) FROM verts)
         + {d} * ((SELECT dm FROM dang{i}) / (SELECT count(*) FROM verts)
                  + coalesce(c.contrib, 0.0)) AS pr
  FROM verts v LEFT JOIN c{i} c ON v.id = c.id)"""
        )
    ctes.append(
        f"""w0 AS (
  SELECT v.id, coalesce(r.pr, 1.0 / (SELECT count(*) FROM uverts)) AS pr
  FROM uverts v LEFT JOIN r{k0} r ON r.id = v.id)"""
    )
    for i in range(1, k1 + 1):
        p = f"w{i - 1}"
        ctes.append(
            f"""udang{i} AS (
  SELECT coalesce(sum(pr), 0.0) AS dm FROM {p}
  WHERE id NOT IN (SELECT id FROM udeg))"""
        )
        ctes.append(
            f"""uc{i} AS (
  SELECT e.dst AS id, sum(r.pr / g.outdeg) AS contrib
  FROM uedges e JOIN {p} r ON e.src = r.id JOIN udeg g ON g.id = e.src
  GROUP BY e.dst)"""
        )
        ctes.append(
            f"""w{i} AS (
  SELECT v.id,
         (1 - {d}) / (SELECT count(*) FROM uverts)
         + {d} * ((SELECT dm FROM udang{i}) / (SELECT count(*) FROM uverts)
                  + coalesce(c.contrib, 0.0)) AS pr
  FROM uverts v LEFT JOIN uc{i} c ON v.id = c.id)"""
    )
    return (
        f"{GRAPH_CTES},\n"
        + ",\n".join(ctes)
        + f"\nSELECT id, round(pr, 9) AS pr FROM w{k1}"
    )


@query("g_pagerank_incremental", oracle=_pagerank_incremental_sql(2, 2))
def g_pagerank_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL-update PageRank, driver-certified end-to-end: 2
    supersteps on the base graph, the resulting ranks warm-start 2 more
    supersteps on the graph grown by a deterministic edge delta (the
    daily-crawl-update shape — graph/pagerank.py:initial_ranks, the same
    machinery durable-checkpoint resume uses). Vertices new to the
    updated graph seed at 1/N_updated; carried ranks are NOT
    renormalized (the next iteration's dangling/damping arithmetic is
    state-free). The oracle unrolls BOTH phases into SQL, so the
    init-carry semantics — not just each phase — land in the value
    hash."""
    from pagerank_giraph_vs_mapreduce_spark.graph.pagerank import pagerank

    _raw, edges, _verts, _deg = _graph_parts(spark, sf_dir)
    delta = edges.filter(F.col("src") % 7 == 0).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    updated = edges.unionAll(delta).distinct()
    res0 = pagerank(edges, damping=0.85, max_iter=2, tol=-1.0, min_iter=0)
    res = pagerank(
        updated,
        damping=0.85,
        max_iter=2,
        tol=-1.0,
        min_iter=0,
        initial_ranks=res0.ranks,
    )
    return res.ranks.select("id", F.round("pr", 9).alias("pr"))


SSSP_ROUNDS = 4


def _sssp_unrolled_sql(rounds: int) -> str:
    """Full Bellman-Ford unrolled: round i relaxes EVERY settled vertex.
    The kernel's delta-frontier relaxes only last-round improvers — result-
    identical after the same number of rounds (a non-improver's scatter is
    a repeat of the round after it last improved)."""
    ctes = [
        f"d0 AS (SELECT CAST({BFS_SOURCE} AS BIGINT) AS id, "
        "CAST(0 AS BIGINT) AS dist)"
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""d{i} AS (SELECT id, min(dist) AS dist FROM (
  SELECT id, dist FROM d{i - 1}
  UNION ALL
  SELECT e.dst AS id, d.dist + e.w AS dist
  FROM d{i - 1} d JOIN wedges e ON e.src = d.id) GROUP BY id)"""
        )
    return (
        GRAPH_CTES
        + ",\nwedges AS (SELECT src, dst, (src + dst) % 7 + 1 AS w FROM edges),\n"
        + ",\n".join(ctes)
        + f"\nSELECT id, dist FROM d{rounds}"
    )


@query("g_sssp_k4", oracle=_sssp_unrolled_sql(SSSP_ROUNDS))
def g_sssp_k4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted SSSP (graph/paths.py:sssp_distances — delta-frontier
    Bellman-Ford on the superstep skeleton) from vertex 0, 4 relaxation
    rounds, deterministic integer weights w = (src+dst)%7+1. BIGINT
    distances — integer-exact against the unrolled oracle."""
    from pagerank_giraph_vs_mapreduce_spark.graph.paths import sssp_distances

    _raw, edges, _verts, _deg = _graph_parts(spark, sf_dir)
    weighted = edges.withColumn(
        "w", (F.col("src") + F.col("dst")) % 7 + F.lit(1)
    )
    res = sssp_distances(weighted, source=BFS_SOURCE, rounds=SSSP_ROUNDS)
    return res.distances


_WCC_INC_SQL = (
    GRAPH_CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + """,
delta AS (
  SELECT DISTINCT src, src + 1 AS dst FROM edges WHERE src % 13 = 0),
alle AS (SELECT src, dst FROM edges UNION SELECT src, dst FROM delta),
sym AS (SELECT src, dst FROM alle
        UNION SELECT dst AS src, src AS dst FROM alle),
verts2 AS (SELECT src AS id FROM sym),
reach AS (
  SELECT DISTINCT id, id AS r FROM verts2
  UNION
  SELECT s.dst AS id, r.r
  FROM reach r JOIN sym s ON s.src = r.id)
SELECT id, min(r) AS component FROM reach GROUP BY id"""
)


@query("g_wcc_incremental", oracle=_WCC_INC_SQL)
def g_wcc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL component maintenance (graph/components.py:
    connected_components_incremental): converge WCC on the base graph,
    then fold in a deterministic edge delta (src%13==0 → src+1, which
    both bridges existing components and attaches brand-new vertices)
    starting from the old labels with ONLY the delta endpoints as the
    initial frontier — per-superstep cost tracks the merge wavefront,
    not E. The oracle is the CONVERGED undirected min-reach closure of
    the union graph, so the check certifies the incremental path lands
    on exactly the full-recompute answer."""
    from pagerank_giraph_vs_mapreduce_spark.graph.components import (
        connected_components,
        connected_components_incremental,
    )

    _raw, edges, _verts, _deg = _graph_parts(spark, sf_dir)
    base = connected_components(edges)
    delta = (
        edges.filter(F.col("src") % 13 == 0)
        .select("src", (F.col("src") + 1).alias("dst"))
        .distinct()
    )
    res = connected_components_incremental(
        base.components, edges.unionAll(delta), delta
    )
    return res.components


_WCC_STREAM_SQL = (
    GRAPH_CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + """,
sym AS (SELECT src, dst FROM edges
        UNION SELECT dst AS src, src AS dst FROM edges),
verts2 AS (SELECT src AS id FROM sym),
reach AS (
  SELECT DISTINCT id, id AS r FROM verts2
  UNION
  SELECT s.dst AS id, r.r
  FROM reach r JOIN sym s ON s.src = r.id)
SELECT id, min(r) AS component FROM reach GROUP BY id"""
)

_WCC_STREAM_SHARDS: dict[str, str] = {}


@query("g_wcc_delta_stream", oracle=_WCC_STREAM_SQL)
def g_wcc_delta_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING WCC maintenance, driver-certified end-to-end (the
    incremental-maintenance family's streaming twin):
    the derived edge table arrives as three file shards (src % 3,
    modification-time order) through a real Structured Streaming file
    source; each micro-batch appends its edges to a durable
    batch_id-partitioned edge table and advances a durable label table
    by running connected_components_incremental with ONLY the delta as
    the frontier (streaming/graph_maintenance.py — every write is a
    dynamic-partition overwrite, idempotent under foreachBatch replay).
    Returns the final converged labeling; the oracle is the recursive
    min-reach closure of the FULL edge set, so the check certifies the
    maintained labels land on exactly the full-recompute answer.
    Replay/restart behavior is pinned by tests/test_graph_maintenance.py
    (no batch oracle can express a mid-stream crash)."""
    import atexit
    import glob as globmod
    import os
    import shutil
    import tempfile

    from pagerank_giraph_vs_mapreduce_spark.streaming.graph_maintenance import (
        latest_labels,
        run_streaming_wcc,
    )

    edges = derived_edges(spark, sf_dir).select("src", "dst")
    src = _WCC_STREAM_SHARDS.get(sf_dir)
    if src is None:
        shard_root = tempfile.mkdtemp(prefix="stream_wcc_shards_")
        atexit.register(shutil.rmtree, shard_root, ignore_errors=True)
        src = os.path.join(shard_root, "shards")
        os.makedirs(src)
        for b in range(3):
            staging = os.path.join(shard_root, f"stage{b}")
            (
                edges.filter(F.col("src") % 3 == b)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(staging)
            )
            part = globmod.glob(os.path.join(staging, "part-*.parquet"))[0]
            dest = os.path.join(src, f"b{b}.parquet")
            shutil.copy(part, dest)
            t = 1_700_000_000 + b * 60  # mtime order fixes batch order
            os.utime(dest, (t, t))
        _WCC_STREAM_SHARDS[sf_dir] = src
    work = tempfile.mkdtemp(prefix="stream_wcc_run_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    e_t, l_t = "stream_wcc_edges_q", "stream_wcc_labels_q"
    for t_ in (e_t, l_t):
        spark.sql(f"DROP TABLE IF EXISTS {t_}")
    stream = (
        spark.readStream.schema("src bigint, dst bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    run_streaming_wcc(
        stream,
        edges_table=e_t,
        edges_path=os.path.join(work, "edges"),
        labels_table=l_t,
        labels_path=os.path.join(work, "labels"),
        checkpoint_dir=os.path.join(work, "ckpt"),
    )
    return latest_labels(spark, l_t)


def _pagerank_warm_delete_sql(k0: int, k1: int, d: float = 0.85) -> str:
    """Two-phase unrolled oracle for warm-start PageRank under edge
    DELETIONS: k0 iterations on the base graph, then the (src+dst)%9==0
    edges are REMOVED, the universe/degrees/dangling set rebuilt from
    the survivors, carried ranks restricted to the surviving universe
    (a vertex that lost every edge leaves the graph — its rank mass is
    simply gone, exactly what pagerank(initial_ranks=...) over the
    shrunk edge set computes), and k1 more iterations run."""
    ctes = [
        "dedges AS (SELECT src, dst FROM edges WHERE (src + dst) % 9 <> 0)",
        "dverts AS (SELECT src AS id FROM dedges UNION SELECT dst AS id FROM dedges)",
        "ddeg AS (SELECT src AS id, count(*) AS outdeg FROM dedges GROUP BY src)",
        "r0 AS (SELECT id, 1.0 / (SELECT count(*) FROM verts) AS pr FROM verts)",
    ]
    for i in range(1, k0 + 1):
        p = f"r{i - 1}"
        ctes.append(
            f"""dang{i} AS (
  SELECT coalesce(sum(pr), 0.0) AS dm FROM {p}
  WHERE id NOT IN (SELECT id FROM deg))"""
        )
        ctes.append(
            f"""c{i} AS (
  SELECT e.dst AS id, sum(r.pr / g.outdeg) AS contrib
  FROM edges e JOIN {p} r ON e.src = r.id JOIN deg g ON g.id = e.src
  GROUP BY e.dst)"""
        )
        ctes.append(
            f"""r{i} AS (
  SELECT v.id,
         (1 - {d}) / (SELECT count(*) FROM verts)
         + {d} * ((SELECT dm FROM dang{i}) / (SELECT count(*) FROM verts)
                  + coalesce(c.contrib, 0.0)) AS pr
  FROM verts v LEFT JOIN c{i} c ON v.id = c.id)"""
        )
    ctes.append(
        f"""w0 AS (
  SELECT v.id, coalesce(r.pr, 1.0 / (SELECT count(*) FROM dverts)) AS pr
  FROM dverts v LEFT JOIN r{k0} r ON r.id = v.id)"""
    )
    for i in range(1, k1 + 1):
        p = f"w{i - 1}"
        ctes.append(
            f"""ddang{i} AS (
  SELECT coalesce(sum(pr), 0.0) AS dm FROM {p}
  WHERE id NOT IN (SELECT id FROM ddeg))"""
        )
        ctes.append(
            f"""dc{i} AS (
  SELECT e.dst AS id, sum(r.pr / g.outdeg) AS contrib
  FROM dedges e JOIN {p} r ON e.src = r.id JOIN ddeg g ON g.id = e.src
  GROUP BY e.dst)"""
        )
        ctes.append(
            f"""w{i} AS (
  SELECT v.id,
         (1 - {d}) / (SELECT count(*) FROM dverts)
         + {d} * ((SELECT dm FROM ddang{i}) / (SELECT count(*) FROM dverts)
                  + coalesce(c.contrib, 0.0)) AS pr
  FROM dverts v LEFT JOIN dc{i} c ON v.id = c.id)"""
        )
    return (
        f"{GRAPH_CTES},\n"
        + ",\n".join(ctes)
        + f"\nSELECT id, round(pr, 9) AS pr FROM w{k1}"
    )


@query("g_pagerank_warm_delta", oracle=_pagerank_warm_delete_sql(2, 2))
def g_pagerank_warm_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warm-start PageRank under edge DELETIONS — the other half of the
    insert/delete maintenance surface (g_pagerank_incremental covers
    additions): 2 supersteps on the base graph, then the deterministic
    (src+dst)%9==0 slice of edges is retired (link-rot / policy
    takedowns in a crawl), the graph rebuilt from the survivors —
    shrunk universe, reduced degrees, regrown dangling set — and 2 more
    supersteps run from the carried ranks. Vertices that lost every
    edge leave the universe (their carried mass is dropped, not
    redistributed — declared, mirrored in the oracle); survivors whose
    out-degree fell scatter larger per-edge contributions immediately.
    The oracle unrolls both phases, so the deletion semantics land in
    the value hash."""
    from pagerank_giraph_vs_mapreduce_spark.graph.pagerank import pagerank

    _raw, edges, _verts, _deg = _graph_parts(spark, sf_dir)
    remaining = edges.filter((F.col("src") + F.col("dst")) % 9 != 0)
    res0 = pagerank(edges, damping=0.85, max_iter=2, tol=-1.0, min_iter=0)
    res = pagerank(
        remaining,
        damping=0.85,
        max_iter=2,
        tol=-1.0,
        min_iter=0,
        initial_ranks=res0.ranks,
    )
    return res.ranks.select("id", F.round("pr", 9).alias("pr"))


AA_HUB_CAP = 256
AA_TOP_K = 20

_AA_SQL = f"""{GRAPH_CTES},
und AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v
        FROM edges WHERE src <> dst GROUP BY 1, 2),
sym AS (SELECT u AS node, v AS nbr FROM und
        UNION ALL SELECT v AS node, u AS nbr FROM und),
dg AS (SELECT node, count(*) AS d FROM sym GROUP BY node),
tr AS (SELECT s.node, s.nbr, g.d FROM sym s JOIN dg g USING (node)
       WHERE g.d <= {AA_HUB_CAP}),
pr AS (SELECT s1.nbr AS a, s2.nbr AS b,
              CAST(round(1.0 / ln(s1.d), 9) AS DECIMAL(20,9)) AS w
       FROM tr s1 JOIN tr s2 ON s1.node = s2.node AND s1.nbr < s2.nbr),
sc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS common_neighbors,
              round(CAST(sum(w) AS DOUBLE), 6) AS aa_score
       FROM pr GROUP BY a, b)
SELECT a, b, common_neighbors, aa_score FROM sc
WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.u = sc.a AND und.v = sc.b)
ORDER BY aa_score DESC, a, b LIMIT {AA_TOP_K}"""


@query("g_link_adamic_adar", oracle=_AA_SQL)
def g_link_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction: top-20 non-adjacent pairs by Adamic-Adar score
    (Σ 1/ln deg over common neighbors, hub-capped transit — see
    graph/motifs.py:adamic_adar_topk for the power-law fan-out bound).
    The mining counterpart of the reference's structural queries: which
    edges are MISSING, the relatedness signal a corpus-curation pipeline
    uses to link near-topic documents."""
    from pagerank_giraph_vs_mapreduce_spark.graph.motifs import adamic_adar_topk

    raw = derived_edges(spark, sf_dir)
    return adamic_adar_topk(raw, hub_cap=AA_HUB_CAP, k=AA_TOP_K)


AA_PV_K = 3

_AA_PV_SQL = f"""{GRAPH_CTES},
und AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v
        FROM edges WHERE src <> dst GROUP BY 1, 2),
sym AS (SELECT u AS node, v AS nbr FROM und
        UNION ALL SELECT v AS node, u AS nbr FROM und),
dg AS (SELECT node, count(*) AS d FROM sym GROUP BY node),
tr AS (SELECT s.node, s.nbr, g.d FROM sym s JOIN dg g USING (node)
       WHERE g.d <= {AA_HUB_CAP}),
pr AS (SELECT s1.nbr AS a, s2.nbr AS b,
              CAST(round(1.0 / ln(s1.d), 9) AS DECIMAL(20,9)) AS w
       FROM tr s1 JOIN tr s2 ON s1.node = s2.node AND s1.nbr < s2.nbr),
sc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS common_neighbors,
              round(CAST(sum(w) AS DOUBLE), 6) AS aa_score
       FROM pr GROUP BY a, b),
nsc AS (SELECT * FROM sc
        WHERE NOT EXISTS (SELECT 1 FROM und
                          WHERE und.u = sc.a AND und.v = sc.b)),
pv AS (SELECT a AS id, b AS cand, common_neighbors, aa_score FROM nsc
       UNION ALL
       SELECT b AS id, a AS cand, common_neighbors, aa_score FROM nsc)
SELECT id, cand, common_neighbors, aa_score, CAST(rk AS INT) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY id
            ORDER BY aa_score DESC, cand) AS rk FROM pv)
WHERE rk <= {AA_PV_K}"""


@query("g_link_aa_pervertex", oracle=_AA_PV_SQL)
def g_link_aa_pervertex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex link-prediction shortlist (graph/motifs.py:
    adamic_adar_pervertex): every vertex's top-3
    non-adjacent Adamic-Adar partners via a window rank over the SAME
    hub-capped scored-pair table as g_link_adamic_adar — the product
    "k candidates per node" shape. The extra cost over the global
    top-20 is one explode + one window shuffle of the aggregated
    candidate pairs, never of the edges."""
    from pagerank_giraph_vs_mapreduce_spark.graph.motifs import (
        adamic_adar_pervertex,
    )

    raw = derived_edges(spark, sf_dir)
    return adamic_adar_pervertex(raw, hub_cap=AA_HUB_CAP, k=AA_PV_K)


COOC_WINDOW = 2
COOC_TOP_K = 20


def _walk_cooc_oracle(steps: int, window: int, k: int) -> str:
    """Reuse the unrolled deterministic-walk CTEs, wrap the step UNION
    into a ``walks`` CTE, then count skip-gram pairs within the window."""
    ctes = [f"w0 AS (SELECT id AS walk, id AS v FROM verts WHERE id % {WALK_MOD} = 0)"]
    for s in range(1, steps + 1):
        ctes.append(
            f"""s{s} AS (
  SELECT walk, v FROM (
    SELECT w.walk, e.dst AS v,
           row_number() OVER (PARTITION BY w.walk
               ORDER BY md5(CAST(w.walk AS VARCHAR) || '|{s}|'
                            || CAST(e.dst AS VARCHAR)), e.dst) AS rn
    FROM {'w0' if s == 1 else f's{s - 1}'} w JOIN edges e ON e.src = w.v)
  WHERE rn = 1)"""
        )
    selects = ["SELECT walk, CAST(0 AS INT) AS step, v AS vertex FROM w0"] + [
        f"SELECT walk, CAST({s} AS INT) AS step, v AS vertex FROM s{s}"
        for s in range(1, steps + 1)
    ]
    walks = "\nUNION ALL\n".join(selects)
    return f"""{GRAPH_CTES},
{','.join(ctes)},
walks AS ({walks})
SELECT least(a.vertex, b.vertex) AS v_a,
       greatest(a.vertex, b.vertex) AS v_b,
       CAST(count(*) AS BIGINT) AS n_cooc
FROM walks a JOIN walks b
  ON a.walk = b.walk AND a.step < b.step AND b.step - a.step <= {window}
GROUP BY 1, 2
ORDER BY n_cooc DESC, v_a, v_b LIMIT {k}"""


@query(
    "g_walk_cooccurrence",
    oracle=_walk_cooc_oracle(WALK_STEPS, COOC_WINDOW, COOC_TOP_K),
)
def g_walk_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk/node2vec training-pair generation: skip-gram
    co-occurrence counts over the deterministic walk corpus (vertex
    pairs within ±COOC_WINDOW steps of the same walk, unordered, top-20).
    The step that turns a graph into an embedding-training dataset —
    downstream is any word2vec-style trainer. Scale shape: the pair
    generator is a per-walk self-join bounded by walk_len x window
    (never O(E)); counts are one map-side-combined aggregate keyed on
    the pair. Walks replay identically across engines/retries
    (hash-seeded successor choice), so the oracle unrolls them
    exactly."""
    from pagerank_giraph_vs_mapreduce_spark.graph.paths import random_walks

    _, edges, verts, _ = _graph_parts(spark, sf_dir)
    sources = verts.filter(F.col("id") % WALK_MOD == 0)
    walks = random_walks(edges, sources, steps=WALK_STEPS)
    a = walks.select(
        F.col("walk"), F.col("step").alias("s_a"), F.col("vertex").alias("x_a")
    )
    b = walks.select(
        F.col("walk"), F.col("step").alias("s_b"), F.col("vertex").alias("x_b")
    )
    pairs = a.join(b, "walk").filter(
        (F.col("s_a") < F.col("s_b"))
        & (F.col("s_b") - F.col("s_a") <= COOC_WINDOW)
    )
    return (
        pairs.groupBy(
            F.least("x_a", "x_b").alias("v_a"),
            F.greatest("x_a", "x_b").alias("v_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_cooc"))
        .orderBy(F.desc("n_cooc"), "v_a", "v_b")
        .limit(COOC_TOP_K)
    )


_BC_SRC_VALUES = ", ".join(f"({s})" for s in MULTI_SOURCES)

# Truncated Brandes unrolled for max_hops=3: forward sigma levels l1-l3
# (each excludes all earlier levels — first arrival is the shortest), then
# the backward dependency fold d2 <- l3 (leaves), d1 <- l2 with d2's
# deltas. A vertex sits in exactly one level per source, so the final sum
# never double-counts.
_BC_SQL = (
    GRAPH_CTES
    + f""",
bsrc(s) AS (VALUES {_BC_SRC_VALUES}),
l1 AS (
  SELECT bsrc.s, e.dst AS v, CAST(count(*) AS DOUBLE) AS sigma
  FROM bsrc JOIN edges e ON e.src = bsrc.s
  WHERE e.dst <> bsrc.s
  GROUP BY bsrc.s, e.dst),
l2 AS (
  SELECT l1.s, e.dst AS v, SUM(l1.sigma) AS sigma
  FROM l1 JOIN edges e ON e.src = l1.v
  WHERE e.dst <> l1.s
    AND NOT EXISTS (SELECT 1 FROM l1 x WHERE x.s = l1.s AND x.v = e.dst)
  GROUP BY l1.s, e.dst),
l3 AS (
  SELECT l2.s, e.dst AS v, SUM(l2.sigma) AS sigma
  FROM l2 JOIN edges e ON e.src = l2.v
  WHERE e.dst <> l2.s
    AND NOT EXISTS (SELECT 1 FROM l1 x WHERE x.s = l2.s AND x.v = e.dst)
    AND NOT EXISTS (SELECT 1 FROM l2 x WHERE x.s = l2.s AND x.v = e.dst)
  GROUP BY l2.s, e.dst),
d2 AS (
  SELECT l2.s, l2.v, SUM(l2.sigma / l3.sigma) AS delta
  FROM l2 JOIN edges e ON e.src = l2.v
       JOIN l3 ON l3.s = l2.s AND l3.v = e.dst
  GROUP BY l2.s, l2.v),
d1 AS (
  SELECT l1.s, l1.v,
         SUM(l1.sigma / l2.sigma * (1 + COALESCE(d2.delta, 0))) AS delta
  FROM l1 JOIN edges e ON e.src = l1.v
       JOIN l2 ON l2.s = l1.s AND l2.v = e.dst
       LEFT JOIN d2 ON d2.s = l2.s AND d2.v = l2.v
  GROUP BY l1.s, l1.v)
SELECT v AS id, round(SUM(delta), 9) AS bc
FROM (SELECT s, v, delta FROM d1 UNION ALL SELECT s, v, delta FROM d2)
GROUP BY v"""
)


@query("g_betweenness_k3", oracle=_BC_SQL)
def g_betweenness_k3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-source hop-limited betweenness centrality
    (graph/paths.py:truncated_betweenness — Brandes 2001, truncated):
    forward per-(source, vertex) path counts level by level with the
    sources batched through one edge pass per hop (the multi_bfs
    amortization), then the backward dependency fold with the horizon as
    leaves. Exact all-pairs Brandes is O(V*E) and inherently sequential
    per source; sampling sources and bounding the horizon is the
    standard scale approximation, and both are knobs here. Oracle: the
    3-hop Brandes recurrence unrolled into sigma/delta CTEs."""
    from pagerank_giraph_vs_mapreduce_spark.graph.paths import (
        truncated_betweenness,
    )

    return truncated_betweenness(
        derived_edges(spark, sf_dir), list(MULTI_SOURCES), max_hops=3
    )


# Normalized variant: same sigma/delta CTEs, final select applies the
# NetworkX directed rescale n / (k (n-1) (n-2)). Both engines compute
# the scale from the vertex count with the same IEEE ops (double(n)
# divided by the exact integer product).
_BC_NORM_SQL = _BC_SQL.replace(
    """SELECT v AS id, round(SUM(delta), 9) AS bc
FROM (SELECT s, v, delta FROM d1 UNION ALL SELECT s, v, delta FROM d2)
GROUP BY v""",
    f"""SELECT v AS id,
  round(SUM(delta) * (CAST(n AS DOUBLE)
        / ({len(MULTI_SOURCES)} * (n - 1) * (n - 2))), 9) AS bc
FROM (SELECT s, v, delta FROM d1 UNION ALL SELECT s, v, delta FROM d2),
     (SELECT count(*) AS n FROM verts)
GROUP BY v, n""",
)
assert _BC_NORM_SQL != _BC_SQL


@query("g_betweenness_k3_norm", oracle=_BC_NORM_SQL)
def g_betweenness_k3_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """g_betweenness_k3 with the standard directed-Brandes normalization
    (graph/paths.py:truncated_betweenness(normalized=True)):
    bc * n / (k (n-1) (n-2)), the NetworkX rescale combining
    pair normalization with the sampled-source n/k correction, pinned to
    networkx.betweenness_centrality by the seeded-digraph property test
    in tests/test_round9_ops.py."""
    from pagerank_giraph_vs_mapreduce_spark.graph.paths import (
        truncated_betweenness,
    )

    return truncated_betweenness(
        derived_edges(spark, sf_dir),
        list(MULTI_SOURCES),
        max_hops=3,
        normalized=True,
    )


# ---------------------------------------------------------------------------
# 4-cycle (square) counting and neighbor-Jaccard link prediction (round 10).

SQ_HUB_CAP = 256

_SQ_SQL = f"""{GRAPH_CTES},
und AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v
        FROM edges WHERE src <> dst GROUP BY 1, 2),
sym AS (SELECT u AS node, v AS nbr FROM und
        UNION ALL SELECT v AS node, u AS nbr FROM und),
dg AS (SELECT node, count(*) AS d FROM sym GROUP BY node),
keep AS (SELECT node FROM dg WHERE d <= {SQ_HUB_CAP}),
ind AS (SELECT s.node, s.nbr FROM sym s
        JOIN keep k1 ON s.node = k1.node
        JOIN keep k2 ON s.nbr = k2.node),
pr AS (SELECT s1.nbr AS a, s2.nbr AS b, count(*) AS c
       FROM ind s1 JOIN ind s2
         ON s1.node = s2.node AND s1.nbr < s2.nbr
       GROUP BY 1, 2)
SELECT CAST(coalesce(sum(c * (c - 1)) // 4, 0) AS BIGINT) AS n_squares,
       CAST(coalesce(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_diag_pairs
FROM pr"""


@query("g_square_count", oracle=_SQ_SQL)
def g_square_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global 4-cycle count on the hub-capped induced subgraph
    (graph/motifs.py:square_count). Squares are the smallest even cycle —
    the bipartite-community / spam-farm motif that triangle counting is
    blind to. Diagonal identity: Σ_{{a<b}} c·(c-1) = 4·#squares where c =
    common-neighbor count, so the value is a pure integer — no float
    crosses the engine boundary. Inducing on degree <= SQ_HUB_CAP is
    declared semantics (star centers dominate raw C4 mass with no cycle
    signal) and bounds the wedge self-join fan-out at Σ min(deg,cap)²."""
    from pagerank_giraph_vs_mapreduce_spark.graph.motifs import square_count

    return square_count(derived_edges(spark, sf_dir), hub_cap=SQ_HUB_CAP)


JACC_TOP_K = 20

_JACC_SQL = f"""{GRAPH_CTES},
und AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v
        FROM edges WHERE src <> dst GROUP BY 1, 2),
sym AS (SELECT u AS node, v AS nbr FROM und
        UNION ALL SELECT v AS node, u AS nbr FROM und),
dg AS (SELECT node, count(*) AS d FROM sym GROUP BY node),
tr AS (SELECT s.node, s.nbr FROM sym s JOIN dg g USING (node)
       WHERE g.d <= {AA_HUB_CAP}),
itc AS (SELECT s1.nbr AS a, s2.nbr AS b, CAST(count(*) AS BIGINT) AS inter
        FROM tr s1 JOIN tr s2 ON s1.node = s2.node AND s1.nbr < s2.nbr
        GROUP BY 1, 2),
ne AS (SELECT * FROM itc
       WHERE NOT EXISTS (SELECT 1 FROM und
                         WHERE und.u = itc.a AND und.v = itc.b))
SELECT ne.a, ne.b, ne.inter AS common_neighbors,
       ga.d AS deg_a, gb.d AS deg_b,
       round(ne.inter / (ga.d + gb.d - ne.inter), 6) AS jaccard
FROM ne JOIN dg ga ON ga.node = ne.a JOIN dg gb ON gb.node = ne.b
ORDER BY jaccard DESC, ne.a, ne.b LIMIT {JACC_TOP_K}"""


@query("g_link_jaccard", oracle=_JACC_SQL)
def g_link_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 non-adjacent pairs by neighbor-set Jaccard similarity
    (graph/motifs.py:jaccard_topk) — the normalized common-neighbor
    score, Adamic-Adar's multiplicative dual over the SAME hub-capped
    wedge core. Intersection counts capped transit only (declared,
    mirrored here); the union denominator uses FULL degrees, so scores
    are conservative lower bounds. jaccard = ONE bigint/bigint IEEE
    division rounded to 6 dp; ties on (a, b)."""
    from pagerank_giraph_vs_mapreduce_spark.graph.motifs import jaccard_topk

    return jaccard_topk(derived_edges(spark, sf_dir), hub_cap=AA_HUB_CAP, k=JACC_TOP_K)


_DIAM_SQL = (
    _MBFS_SQL.replace(
        "SELECT id, source, min(dist) AS dist FROM mbfs GROUP BY id, source",
        """, per AS (SELECT id, source, min(dist) AS dist
       FROM mbfs GROUP BY id, source)
SELECT source, max(dist) AS ecc_lb,
       CAST(count(*) AS BIGINT) AS n_reached,
       (SELECT max(dist) FROM per) AS diameter_lb
FROM per GROUP BY source""",
    )
)
assert _DIAM_SQL != _MBFS_SQL


@query("g_diameter_lb_k4", oracle=_DIAM_SQL)
def g_diameter_lb_k4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diameter/eccentricity lower bounds from the SAME shared multi-seed
    traversal as g_multi_bfs_k4 (graph/paths.py:multi_bfs): per seed the
    max hop distance reached within the bound (reaching a vertex at
    dist d proves ecc >= d, so truncation preserves the bound's
    validity), plus the global max as diameter_lb — the standard
    sampled-BFS diameter estimator (iFUB's seeding step). Zero cost
    beyond the BFS itself: one aggregate over the (vertex, source)
    distance pairs and one broadcast of the 3-row per-seed maxima."""
    from pagerank_giraph_vs_mapreduce_spark.graph.paths import multi_bfs

    res = multi_bfs(
        derived_edges(spark, sf_dir), list(MULTI_SOURCES), max_hops=BFS_HOPS
    )
    per = res.distances.groupBy("source").agg(
        F.max("dist").alias("ecc_lb"),
        F.count(F.lit(1)).alias("n_reached"),
    )
    glob = per.agg(F.max("ecc_lb").alias("diameter_lb"))
    return per.crossJoin(F.broadcast(glob))


# Hybrid degree bins for the distributed Gini (the fn_quantile_sketch
# discipline applied to a rank statistic): degrees below GINI_D0 get an
# IDENTITY bin each (zero within-bin dispersion — exactly where the
# power-law mass lives), degrees >= GINI_D0 get sqrt-spaced bins
# GINI_D0 + floor(sqrt(d - GINI_D0)) whose relative width peaks at
# (2k+1)/(GINI_D0+k^2) = 65/2048 ~ 3.2% (k=32). sqrt is CORRECTLY
# ROUNDED under IEEE 754 (unlike log2), so the bin id is bit-identical
# across engines — safe for the exact-hash oracle gate. Bin-table size
# is bounded by GINI_D0 + sqrt(max_degree) (~33k rows even at
# max_degree 1e9), so the cumulative window runs over the BIN table,
# never the V-row degree table.
GINI_D0 = 1024

_GINI_SQL = f"""{GRAPH_CTES},
b AS (
  SELECT CASE WHEN outdeg < {GINI_D0} THEN outdeg
         ELSE {GINI_D0} + CAST(floor(sqrt(outdeg - {GINI_D0})) AS BIGINT)
         END AS bin,
         count(*) AS n, sum(outdeg) AS s
  FROM deg GROUP BY 1),
c AS (
  SELECT bin, n, s,
         coalesce(sum(n) OVER (ORDER BY bin
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS cb
  FROM b),
t AS (SELECT sum(n) AS nn, sum(s) AS ss, count(*) AS n_bins,
             sum(CAST(s AS HUGEINT) * (2 * cb + n + 1)) AS tt
      FROM c)
SELECT CAST(nn AS BIGINT) AS n_vertices,
       CAST(ss AS BIGINT) AS sum_deg,
       CAST(n_bins AS BIGINT) AS n_bins,
       round((CAST(tt AS DOUBLE) - (nn + 1.0) * ss) / (1.0 * nn * ss), 9)
         AS gini
FROM t"""


@query("g_degree_gini", oracle=_GINI_SQL)
def g_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the out-degree distribution — the single
    number that says HOW skewed the graph is (0 = regular, ->1 = one
    hub owns everything): the statistic behind every hub-cap/salting
    decision this engine makes (the two_hop/AA/square caps). DEFAULT =
    the binned form:
    one map-side-combined aggregate folds V degree rows into the hybrid
    bin table (see GINI_D0 — identity bins below 1024, sqrt bins above),
    then the grouped rank-sum identity
    G = (Σ_b s_b·(2·C_before + n_b + 1) − (N+1)·S) / (N·S)
    uses only per-bin integer sums; the cumulative window runs over the
    BOUNDED bin table, never the vertices. Underestimates the exact G by
    at most (65/2048)·(1 + N/S) — zero error whenever max degree < 1024
    (every sub-D0 bin is a single degree value) — bound pinned by pytest
    against the exact form; plan pinned to contain no row_number and no
    V-row window. Exact single-partition form: g_degree_gini_exact."""
    _, _, _, deg = _graph_parts(spark, sf_dir)
    return binned_degree_gini(deg)


def binned_degree_gini(deg: DataFrame) -> DataFrame:
    """Grouped rank-sum Gini over the hybrid bin table (see GINI_D0) for
    any DataFrame with an integer ``outdeg`` column — the g_degree_gini
    plan body, factored so the error-bound pytest can drive it on
    synthetic hub-heavy degree tables."""
    from pyspark.sql import Window as W

    b = (
        deg.select(
            F.when(F.col("outdeg") < GINI_D0, F.col("outdeg"))
            .otherwise(
                GINI_D0 + F.floor(F.sqrt(F.col("outdeg") - GINI_D0))
            )
            .cast("bigint")
            .alias("bin"),
            F.col("outdeg"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("outdeg").alias("s"),
        )
    )
    w_bef = W.orderBy("bin").rowsBetween(W.unboundedPreceding, -1)
    c = b.select(
        "bin",
        "n",
        "s",
        F.coalesce(F.sum("n").over(w_bef), F.lit(0)).alias("cb"),
    )
    # The T sum can exceed int64 at 100 TB scale (T ~ S*N): exact
    # decimal on the Spark side mirrors DuckDB's automatic HUGEINT.
    term = F.col("s").cast("decimal(19,0)") * (
        2 * F.col("cb") + F.col("n") + 1
    ).cast("decimal(19,0)")
    return c.agg(
        F.sum("n").cast("bigint").alias("n_vertices"),
        F.sum("s").cast("bigint").alias("sum_deg"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.round(
            (F.sum(term).cast("double") - (F.sum("n") + F.lit(1.0)) * F.sum("s"))
            / (F.lit(1.0) * F.sum("n") * F.sum("s")),
            9,
        ).alias("gini"),
    )


_GINI_EXACT_SQL = f"""{GRAPH_CTES},
rk AS (
  SELECT outdeg AS d,
         row_number() OVER (ORDER BY outdeg, id) AS r
  FROM deg)
SELECT CAST(count(*) AS BIGINT) AS n_vertices,
       CAST(sum(d) AS BIGINT) AS sum_deg,
       round((2.0 * sum(r * d) - (count(*) + 1) * sum(d))
             / (count(*) * sum(d)), 9) AS gini
FROM rk"""


@query("g_degree_gini_exact", oracle=_GINI_EXACT_SQL)
def g_degree_gini_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT degree Gini via the sorted-rank identity
    G = (2·Σ r·d − (n+1)·Σd)/(n·Σd), r the (degree, id) rank — integer
    sums into ONE final division. The global row_number is a
    single-partition sort of the V-row degree table — DECLARED
    bounded-V-only (same family as exact AUC, where the window input is
    small by construction): use it when V fits one task, e.g. to
    calibrate the binned default's error; g_degree_gini (binned) is the
    100 TB path."""
    _, _, _, deg = _graph_parts(spark, sf_dir)
    from pyspark.sql import Window as W

    rk = deg.select(
        F.col("outdeg").alias("d"),
        F.row_number().over(W.orderBy("outdeg", "id")).alias("r"),
    )
    return rk.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vertices"),
        F.sum("d").cast("bigint").alias("sum_deg"),
        F.round(
            (
                F.lit(2.0) * F.sum(F.col("r") * F.col("d"))
                - (F.count(F.lit(1)) + F.lit(1)) * F.sum("d")
            )
            / (F.count(F.lit(1)) * F.sum("d")),
            9,
        ).alias("gini"),
    )


MATCHING_ROUNDS = 3


def _matching_oracle(rounds: int) -> str:
    parts = [
        f"""{GRAPH_CTES},
und AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v
        FROM edges WHERE src <> dst GROUP BY 1, 2),
sym AS (SELECT u AS node, v AS nbr FROM und
        UNION ALL SELECT v AS node, u AS nbr FROM und),
live0 AS (SELECT DISTINCT node FROM sym)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
aa{r} AS (SELECT s.node, s.nbr FROM sym s
          JOIN live{r - 1} a ON s.node = a.node
          JOIN live{r - 1} b ON s.nbr = b.node),
pr{r} AS (SELECT node, min(nbr) AS prop FROM aa{r} GROUP BY node),
m{r} AS (SELECT p1.node AS u, p2.node AS v
         FROM pr{r} p1 JOIN pr{r} p2
           ON p1.prop = p2.node AND p2.prop = p1.node
          AND p1.node < p2.node),
live{r} AS (SELECT node FROM live{r - 1} l
            WHERE NOT EXISTS (SELECT 1 FROM m{r}
                              WHERE m{r}.u = l.node OR m{r}.v = l.node))"""
        )
    finals = "\nUNION ALL\n".join(
        f"SELECT u, v, CAST({r} AS INT) AS round FROM m{r}"
        for r in range(1, rounds + 1)
    )
    return "".join(parts) + "\n" + finals


@query("g_matching_r3", oracle=_matching_oracle(MATCHING_ROUNDS))
def g_matching_r3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rounds of deterministic mutual-minimum matching
    (graph/motifs.py:greedy_matching) — the coarsening primitive under
    multilevel partitioners and community aggregation: every live vertex
    proposes to its min-id live neighbor, mutual proposals match and
    leave. Min-id proposals make each round a pure function of the edge
    set, so the whole run unrolls into SQL (the k-core discipline);
    per-round cost is one V-sized min-aggregate plus a self-join of the
    PROPOSAL table (V rows), never of the edges. Disjointness is
    structural (matched vertices leave the live set) and pinned by
    pytest. NOTE: this query keeps the id-priority rule as its
    documented contract; the multilevel partition family coarsens with
    greedy_matching(priority="hash") instead, because id priorities
    stall on dense graphs (see graph/motifs.py:edge_priority)."""
    from pagerank_giraph_vs_mapreduce_spark.graph.motifs import greedy_matching

    return greedy_matching(derived_edges(spark, sf_dir), rounds=MATCHING_ROUNDS)


_MATCHED_UNION = "\nUNION ALL\n".join(
    f"SELECT u, v FROM m{r}" for r in range(1, MATCHING_ROUNDS + 1)
)

_COARSEN_SQL = (
    _matching_oracle(MATCHING_ROUNDS).split("\nSELECT u, v", 1)[0]
    + f""",
matched AS ({_MATCHED_UNION}),
mapping AS (
  SELECT node, node AS super FROM live0
  WHERE NOT EXISTS (SELECT 1 FROM matched
                    WHERE matched.u = node OR matched.v = node)
  UNION ALL SELECT u AS node, u AS super FROM matched
  UNION ALL SELECT v AS node, u AS super FROM matched),
ce AS (
  SELECT least(mu.super, mv.super) AS cu,
         greatest(mu.super, mv.super) AS cv,
         count(*) AS weight
  FROM und JOIN mapping mu ON mu.node = und.u
           JOIN mapping mv ON mv.node = und.v
  WHERE mu.super <> mv.super
  GROUP BY 1, 2)
SELECT cu, cv, CAST(weight AS BIGINT) AS weight FROM ce"""
)


@query("g_coarsen_r3", oracle=_COARSEN_SQL)
def g_coarsen_r3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilevel graph coarsening — the step AFTER g_matching_r3 in a
    METIS-style partitioner: contract every matched pair into a
    super-vertex (named by the pair's min id; unmatched vertices map to
    themselves), drop the intra-pair edges, and aggregate parallel edges
    into integer weights — the same condensation shape as
    g_louvain_l2's aggregation phase, driven by the matching instead of
    communities. One V-row mapping join per endpoint + one
    map-side-combined weight aggregate; the condensed graph is the
    recursion input of the multilevel scheme. All-integer output."""
    from pagerank_giraph_vs_mapreduce_spark.graph.motifs import (
        greedy_matching,
        undirect_dedup,
    )

    und = undirect_dedup(derived_edges(spark, sf_dir))
    m = greedy_matching(derived_edges(spark, sf_dir), rounds=MATCHING_ROUNDS)
    verts = und.select(F.col("u").alias("node")).union(
        und.select(F.col("v").alias("node"))
    ).distinct()
    gone = m.select(F.col("u").alias("node")).union(
        m.select(F.col("v").alias("node"))
    )
    mapping = (
        verts.join(gone, "node", "left_anti")
        .select("node", F.col("node").alias("super"))
        .unionByName(m.select(F.col("u").alias("node"), F.col("u").alias("super")))
        .unionByName(m.select(F.col("v").alias("node"), F.col("u").alias("super")))
    )
    mu = mapping.select(F.col("node").alias("u"), F.col("super").alias("su"))
    mv = mapping.select(F.col("node").alias("v"), F.col("super").alias("sv"))
    return (
        und.join(mu, "u")
        .join(mv, "v")
        .filter(F.col("su") != F.col("sv"))
        .groupBy(
            F.least("su", "sv").alias("cu"),
            F.greatest("su", "sv").alias("cv"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("weight"))
    )


MLP_LEVEL_ROUNDS = (3, 2, 2)


def _replace_or_raise(sql: str, old: str, new: str) -> str:
    """str.replace that refuses to silently no-op: the cut_stats oracle
    swaps the refined oracle's finisher for a metrics finisher, and a
    constant drift (e.g. MLP_SWEEPS changing the finisher's CTE name)
    must fail at import time, not degenerate to the (id, part) oracle."""
    if old not in sql:
        raise AssertionError(
            "oracle rewrite target not found; finisher out of sync: "
            + old
        )
    return sql.replace(old, new)


def _mlp_level_sql(
    lv: int, src_e: str, src_v: str, rounds: int, px: str = ""
) -> str:
    """One coarsening level of the multilevel-partition oracle:
    mutual-min matching under HASH edge priorities (the SQL twin of
    graph/motifs.py:edge_priority — pure BIGINT modular arithmetic,
    identical on both engines; the two-step min-h-then-min-nbr pair of
    CTEs is the engine-portable argmin) over the edge CTE
    ``src_e``(u, v, weight), a total (node, super) mapping over the
    FULL vertex CTE ``src_v``(id), and the weighted contraction
    {px}e{lv} / its vertex set {px}v{lv}."""
    hp, ha, hb, hc = MATCH_HASH_P, MATCH_HASH_A, MATCH_HASH_B, MATCH_HASH_C
    parts = [
        f""",
{px}sym{lv} AS MATERIALIZED (SELECT u AS node, v AS nbr FROM {src_e}
        UNION ALL SELECT v AS node, u AS nbr FROM {src_e}),
{px}liv{px}e{lv}_0 AS MATERIALIZED (SELECT DISTINCT node FROM {px}sym{lv})"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
{px}aa{lv}_{r} AS MATERIALIZED (SELECT s.node, s.nbr,
          ((least(s.node, s.nbr) % {hp}) * {ha} % {hp}
           + (greatest(s.node, s.nbr) % {hp}) * {hb} % {hp}
           + ((least(s.node, s.nbr) % {hp})
              * (greatest(s.node, s.nbr) % {hp}) % {hp}) * {hc} % {hp})
          % {hp} AS h
          FROM {px}sym{lv} s
          JOIN {px}liv{px}e{lv}_{r - 1} a ON s.node = a.node
          JOIN {px}liv{px}e{lv}_{r - 1} b ON s.nbr = b.node),
{px}mh{lv}_{r} AS MATERIALIZED (SELECT node, min(h) AS mh
          FROM {px}aa{lv}_{r} GROUP BY node),
{px}pr{lv}_{r} AS MATERIALIZED (SELECT t.node, min(t.nbr) AS prop
          FROM {px}aa{lv}_{r} t
          JOIN {px}mh{lv}_{r} m ON m.node = t.node AND t.h = m.mh
          GROUP BY t.node),
{px}m{lv}_{r} AS MATERIALIZED (SELECT p1.node AS u, p2.node AS v
         FROM {px}pr{lv}_{r} p1 JOIN {px}pr{lv}_{r} p2
           ON p1.prop = p2.node AND p2.prop = p1.node
          AND p1.node < p2.node),
{px}liv{px}e{lv}_{r} AS MATERIALIZED (SELECT node FROM {px}liv{px}e{lv}_{r - 1} l
            WHERE NOT EXISTS (SELECT 1 FROM {px}m{lv}_{r}
                              WHERE {px}m{lv}_{r}.u = l.node
                                 OR {px}m{lv}_{r}.v = l.node))"""
        )
    matched = "\n    UNION ALL ".join(
        f"SELECT u, v FROM {px}m{lv}_{r}" for r in range(1, rounds + 1)
    )
    parts.append(
        f""",
{px}matched{lv} AS MATERIALIZED ({matched}),
{px}map{lv} AS MATERIALIZED (
  SELECT id AS node, id AS super FROM {src_v}
  WHERE NOT EXISTS (SELECT 1 FROM {px}matched{lv}
                    WHERE {px}matched{lv}.u = id OR {px}matched{lv}.v = id)
  UNION ALL SELECT u AS node, u AS super FROM {px}matched{lv}
  UNION ALL SELECT v AS node, u AS super FROM {px}matched{lv}),
{px}e{lv} AS MATERIALIZED (
  SELECT least(a.super, b.super) AS u, greatest(a.super, b.super) AS v,
         CAST(sum(e.weight) AS BIGINT) AS weight
  FROM {src_e} e JOIN {px}map{lv} a ON a.node = e.u
                 JOIN {px}map{lv} b ON b.node = e.v
  WHERE a.super <> b.super GROUP BY 1, 2),
{px}v{lv} AS MATERIALIZED (SELECT DISTINCT super AS id FROM {px}map{lv})"""
    )
    return "".join(parts)


def _mlp_cte_prefix(level_rounds: tuple[int, ...], px: str = "") -> str:
    """Shared CTE prefix of the multilevel-partition oracles: base graph
    (unprefixed chains only), all coarsening levels, leaf->coarsest
    composition ({px}comp), leaf weights ({px}lw), and the initial
    region-grown assignment as {px}p0 — the SQL twin of
    graph/motifs.py:region_grow_bipartition (seed = heaviest
    edge-touching super, MLP_BFS_ROUNDS unrolled BFS hop-distance CTEs
    plus the same number of min-id label-propagation CTEs grouping the
    supers the ball can't reach, then a (dist, group, w DESC, super)-
    ordered cumulative-weight fill where a super joins part 0 iff it is
    first or its weight midpoint lies before the global midpoint —
    all-integer, exact on both engines).
    With a prefix, the caller must define {px}e0(u, v, weight) and
    {px}v0(id) beforehand (used for the k-way recursion's induced side
    subgraphs)."""
    n = len(level_rounds)
    if px:
        sql = []
    else:
        sql = [
            f"""WITH raw AS MATERIALIZED ({EDGES_SQL}),
edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM raw),
e0 AS MATERIALIZED (SELECT least(src, dst) AS u, greatest(src, dst) AS v,
              CAST(1 AS BIGINT) AS weight
       FROM edges WHERE src <> dst GROUP BY 1, 2, 3),
v0 AS MATERIALIZED (SELECT u AS id FROM e0 UNION SELECT v AS id FROM e0)"""
        ]
    for lv, rounds in enumerate(level_rounds, start=1):
        sql.append(
            _mlp_level_sql(lv, f"{px}e{lv - 1}", f"{px}v{lv - 1}", rounds, px)
        )
    comp_joins = "\n         ".join(
        f"JOIN {px}map{lv} mm{lv} ON mm{lv}.node = mm{lv - 1}.super"
        for lv in range(2, n + 1)
    )
    sql.append(
        f""",
{px}comp AS MATERIALIZED (SELECT mm1.node AS id, mm{n}.super AS super
         FROM {px}map1 mm1
         {comp_joins}),
{px}lw AS MATERIALIZED (SELECT super, count(*) AS w FROM {px}comp GROUP BY super),
{px}seed AS MATERIALIZED (
  SELECT lw.super FROM {px}lw lw
  WHERE EXISTS (SELECT 1 FROM {px}e{n} e
                WHERE e.u = lw.super OR e.v = lw.super)
  ORDER BY lw.w DESC, lw.super LIMIT 1),
{px}bf0 AS MATERIALIZED (SELECT super, 0 AS dist FROM {px}seed)"""
    )
    for r in range(1, MLP_BFS_ROUNDS + 1):
        sql.append(
            f""",
{px}bf{r} AS MATERIALIZED (
  SELECT super, min(dist) AS dist FROM (
    SELECT super, dist FROM {px}bf{r - 1}
    UNION ALL
    SELECT e.v AS super, d.dist + 1 AS dist
    FROM {px}e{n} e JOIN {px}bf{r - 1} d ON d.super = e.u
    UNION ALL
    SELECT e.u AS super, d.dist + 1 AS dist
    FROM {px}e{n} e JOIN {px}bf{r - 1} d ON d.super = e.v) s
  GROUP BY super)"""
        )
    sql.append(
        f""",
{px}lb0 AS MATERIALIZED (SELECT super, super AS lbl FROM {px}lw)"""
    )
    for r in range(1, MLP_BFS_ROUNDS + 1):
        sql.append(
            f""",
{px}lb{r} AS MATERIALIZED (
  SELECT super, min(lbl) AS lbl FROM (
    SELECT super, lbl FROM {px}lb{r - 1}
    UNION ALL
    SELECT e.v AS super, d.lbl AS lbl
    FROM {px}e{n} e JOIN {px}lb{r - 1} d ON d.super = e.u
    UNION ALL
    SELECT e.u AS super, d.lbl AS lbl
    FROM {px}e{n} e JOIN {px}lb{r - 1} d ON d.super = e.v) s
  GROUP BY super)"""
        )
    sql.append(
        f""",
{px}fill AS MATERIALIZED (
  SELECT lw.super, lw.w,
         COALESCE(b.dist, {MLP_DIST_INF}) AS dist,
         CASE WHEN b.dist IS NOT NULL THEN -1 ELSE lb.lbl END AS grp
  FROM {px}lw lw
  LEFT JOIN {px}bf{MLP_BFS_ROUNDS} b ON b.super = lw.super
  JOIN {px}lb{MLP_BFS_ROUNDS} lb ON lb.super = lw.super),
{px}p0 AS MATERIALIZED (
  SELECT super,
         CAST(CASE WHEN rn = 1 OR 2 * cum - w < total THEN 0 ELSE 1 END
              AS INT) AS part
  FROM (SELECT super, w,
               row_number() OVER (ORDER BY dist, grp, w DESC, super) AS rn,
               sum(w) OVER (ORDER BY dist, grp, w DESC, super
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum,
               sum(w) OVER () AS total
        FROM {px}fill) t)"""
    )
    return "".join(sql)


def _mlp_oracle(level_rounds: tuple[int, ...]) -> str:
    return (
        _mlp_cte_prefix(level_rounds)
        + "\nSELECT comp.id, p0.part FROM comp"
        + " JOIN p0 ON p0.super = comp.super"
    )


def _mlp_sweep_sql(
    tag: str, prev: str, e_cte: str, lw_cte: str, out: str
) -> str:
    """One refinement sweep of the refined/V-cycle oracles — the SQL
    twin of graph/motifs.py:refine_partition_sweep: side weights by leaf
    count, heavier side (tie -> part 0), per-super flip gains from two
    per-edge contributions, positive-gain heavier-side candidates,
    beaten-by-adjacent-candidate elimination (total order by gain then
    smaller id), independent-set flip. ``prev`` is the incoming
    (super, part) CTE, ``lw_cte`` the (super, w) leaf weights of this
    level, ``out`` the produced (super, part) CTE name."""
    return f""",
sw_{tag} AS MATERIALIZED (
  SELECT p.part, sum(lw.w) AS tw
  FROM {prev} p JOIN {lw_cte} lw ON lw.super = p.super GROUP BY p.part),
hv_{tag} AS MATERIALIZED (
  SELECT part FROM sw_{tag} ORDER BY tw DESC, part ASC LIMIT 1),
gc_{tag} AS MATERIALIZED (
  SELECT e.u, e.v,
         CASE WHEN pu.part <> pv.part THEN e.weight ELSE -e.weight END AS c
  FROM {e_cte} e JOIN {prev} pu ON pu.super = e.u
                 JOIN {prev} pv ON pv.super = e.v),
gn_{tag} AS MATERIALIZED (
  SELECT super, sum(c) AS gain FROM (
    SELECT u AS super, c FROM gc_{tag}
    UNION ALL SELECT v AS super, c FROM gc_{tag}) s GROUP BY super),
cd_{tag} AS MATERIALIZED (
  SELECT g.super, g.gain FROM gn_{tag} g
  JOIN {prev} p ON p.super = g.super
  JOIN hv_{tag} h ON h.part = p.part
  WHERE g.gain > 0),
bt_{tag} AS MATERIALIZED (
  SELECT ca.super FROM {e_cte} e
    JOIN cd_{tag} ca ON ca.super = e.u JOIN cd_{tag} cb ON cb.super = e.v
  WHERE cb.gain > ca.gain OR (cb.gain = ca.gain AND cb.super < ca.super)
  UNION
  SELECT cb.super FROM {e_cte} e
    JOIN cd_{tag} ca ON ca.super = e.u JOIN cd_{tag} cb ON cb.super = e.v
  WHERE ca.gain > cb.gain OR (ca.gain = cb.gain AND ca.super < cb.super)),
mv_{tag} AS MATERIALIZED (
  SELECT super FROM cd_{tag}
  WHERE super NOT IN (SELECT super FROM bt_{tag})),
{out} AS MATERIALIZED (
  SELECT p.super,
         CAST(CASE WHEN m.super IS NULL THEN p.part ELSE 1 - p.part END
              AS INT) AS part
  FROM {prev} p LEFT JOIN mv_{tag} m ON m.super = p.super)"""


def _mlp_refined_oracle(level_rounds: tuple[int, ...], sweeps: int) -> str:
    n = len(level_rounds)
    sql = [_mlp_cte_prefix(level_rounds)]
    for r in range(1, sweeps + 1):
        sql.append(_mlp_sweep_sql(str(r), f"p{r - 1}", f"e{n}", "lw", f"p{r}"))
    sql.append(
        f"\nSELECT comp.id, p{sweeps}.part FROM comp"
        f" JOIN p{sweeps} ON p{sweeps}.super = comp.super"
    )
    return "".join(sql)


def _mlp_vcycle_oracle(
    level_rounds: tuple[int, ...], coarsest_sweeps: int, sweeps_per_level: int
) -> str:
    """The full V-cycle unrolled: coarsest region-grown init + refinement sweeps,
    then per level downward a projection CTE (part of a level-k node =
    part of its level-k+1 super) followed by sweeps on THAT level's
    graph with THAT level's leaf weights. Level-0 output rows ARE the
    leaves."""
    n = len(level_rounds)
    sql = [_mlp_cte_prefix(level_rounds)]
    # per-level leaf->level-k compositions and leaf weights
    sql.append(
        """,
comp1 AS MATERIALIZED (SELECT node AS id, super FROM map1),
lw0 AS MATERIALIZED (SELECT id AS super, CAST(1 AS BIGINT) AS w FROM v0)"""
    )
    for k in range(2, n):
        sql.append(
            f""",
comp{k} AS MATERIALIZED (SELECT c.id, m.super FROM comp{k - 1} c
         JOIN map{k} m ON m.node = c.super)"""
        )
    for k in range(1, n):
        sql.append(
            f""",
lw{k} AS MATERIALIZED (SELECT super, count(*) AS w FROM comp{k}
       GROUP BY super)"""
        )
    # coarsest refinement (lw == lw{n} from the prefix)
    prev = "p0"
    for s in range(1, coarsest_sweeps + 1):
        out = f"q{n}_{s}"
        sql.append(_mlp_sweep_sql(f"{n}_{s}", prev, f"e{n}", "lw", out))
        prev = out
    # uncoarsen: project + sweeps at each finer level
    for k in range(n - 1, -1, -1):
        out = f"q{k}_0"
        sql.append(
            f""",
{out} AS MATERIALIZED (SELECT m.node AS super, p.part
        FROM map{k + 1} m JOIN {prev} p ON p.super = m.super)"""
        )
        prev = out
        for s in range(1, sweeps_per_level + 1):
            out = f"q{k}_{s}"
            sql.append(
                _mlp_sweep_sql(f"{k}_{s}", prev, f"e{k}", f"lw{k}", out)
            )
            prev = out
    sql.append(f"\nSELECT super AS id, part FROM {prev}")
    return "".join(sql)


@query("g_partition_k2", oracle=_mlp_oracle(MLP_LEVEL_ROUNDS))
def g_partition_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METIS-shaped multilevel 2-way partition
    (graph/motifs.py:multilevel_partition_k2) — the recursion the
    matching/coarsening pair exists for, and the engine's answer to the
    hash-partitioning skew problem the reference documents for its own
    shuffle (README.md:417-418): three mutual-min-matching + weighted-
    contraction levels (rounds 3/2/2) under hash edge priorities, a
    region-grown 2-coloring of the coarsest super-vertices (BFS ball +
    component-grouped weight fill), and an exact projection back
    through the composed mappings to every leaf vertex. Fully
    deterministic (hash-priority proposals, integer weights,
    total-order ranking), so all three levels unroll into one SQL
    oracle. Per-level
    cost is V-row joins + map-side-combined weight aggregates; the one
    global ranking runs over the COARSEST table only (a production run
    adds levels until that table is node-bounded). Edge-cut conservation
    across levels is pinned by pytest."""
    from pagerank_giraph_vs_mapreduce_spark.graph.motifs import (
        multilevel_partition_k2,
    )

    return multilevel_partition_k2(
        derived_edges(spark, sf_dir), level_rounds=MLP_LEVEL_ROUNDS
    )


MLP_SWEEPS = 2


@query(
    "g_partition_k2_refined",
    oracle=_mlp_refined_oracle(MLP_LEVEL_ROUNDS, MLP_SWEEPS),
)
def g_partition_k2_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """g_partition_k2 + two deterministic KL-style boundary sweeps at the
    coarsest level before projection
    (graph/motifs.py:refine_partition_sweep) — closing the refinement
    seam the unrefined query declares: per sweep, positive-flip-gain
    supers on the HEAVIER side (balance guard) move iff no adjacent
    candidate beats them (total order by gain then smaller id), so the
    movers are an independent set, no cut edge flips both ends, and the
    cut drops by exactly the summed gains — monotone non-increase is
    structural, pinned by pytest alongside the balance guard. Sweep
    cost is two V_coarse-row joins + map-side-combined gain sums + one
    2-row side aggregate; the oracle unrolls both sweeps on top of the
    three coarsening levels (every CTE materialized)."""
    from pagerank_giraph_vs_mapreduce_spark.graph.motifs import (
        multilevel_partition_k2_refined,
    )

    return multilevel_partition_k2_refined(
        derived_edges(spark, sf_dir),
        level_rounds=MLP_LEVEL_ROUNDS,
        sweeps=MLP_SWEEPS,
    )


@query(
    "g_partition_k2_vcycle",
    oracle=_mlp_vcycle_oracle(MLP_LEVEL_ROUNDS, MLP_SWEEPS, 1),
)
def g_partition_k2_vcycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL METIS V-cycle
    (graph/motifs.py:multilevel_partition_k2_vcycle): after the coarsest
    refinement, the assignment is UNCOARSENED — projected one level down
    at a time with one boundary sweep on each finer graph, where the
    contraction's blocks regain per-member freedom (a level-k super
    moves whole; its members can split across the cut at level k-1).
    Balance guards use each level's LEAF weights, so every sweep pushes
    the same global balance; cut non-increase per sweep is the same
    independent-set argument as g_partition_k2_refined, now holding
    through the projections too (projection preserves the cut exactly —
    the conservation pytest — and sweeps only lower it). Level-0 sweeps
    touch the full vertex set but stay aggregate-shaped (gain sums +
    anti-joins, no window, no sort). All 3 + 2 + 4 stages unroll into
    one materialized-CTE oracle."""
    from pagerank_giraph_vs_mapreduce_spark.graph.motifs import (
        multilevel_partition_k2_vcycle,
    )

    return multilevel_partition_k2_vcycle(
        derived_edges(spark, sf_dir),
        level_rounds=MLP_LEVEL_ROUNDS,
        coarsest_sweeps=MLP_SWEEPS,
        sweeps_per_level=1,
    )


@query(
    "g_partition_cut_stats",
    oracle=_replace_or_raise(
        _mlp_refined_oracle(MLP_LEVEL_ROUNDS, MLP_SWEEPS),
        f"\nSELECT comp.id, p{MLP_SWEEPS}.part FROM comp"
        f" JOIN p{MLP_SWEEPS} ON p{MLP_SWEEPS}.super = comp.super",
        f""",
leafp AS MATERIALIZED (
  SELECT comp.id, p{MLP_SWEEPS}.part FROM comp
  JOIN p{MLP_SWEEPS} ON p{MLP_SWEEPS}.super = comp.super)
SELECT CAST(sum(CASE WHEN pa.part <> pb.part THEN 1 ELSE 0 END) AS BIGINT)
         AS edge_cut,
       CAST(count(*) AS BIGINT) AS n_edges,
       CAST((SELECT count(*) FROM leafp WHERE part = 0) AS BIGINT) AS n_part0,
       CAST((SELECT count(*) FROM leafp WHERE part = 1) AS BIGINT) AS n_part1
FROM e0 JOIN leafp pa ON pa.id = e0.u JOIN leafp pb ON pb.id = e0.v""",
    ),
)
def g_partition_cut_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition QUALITY observability — the two numbers a partitioner
    is judged by, as one aggregate row: leaf edge cut and per-side
    vertex counts for g_partition_k2_refined's assignment. This is what
    an operator would monitor before trusting a partition for shuffle
    placement (the reference's skew problem, README.md:417-418). Plan:
    the assignment V-row table joined twice onto the undirected edge
    list, one map-side-combined aggregate — no new algorithmic machinery
    beyond the partitioner itself, so the oracle is the refined oracle's
    CTE chain with a metrics finisher."""
    from pagerank_giraph_vs_mapreduce_spark.graph.motifs import (
        multilevel_partition_k2_refined,
        undirect_dedup,
    )

    und = undirect_dedup(derived_edges(spark, sf_dir))
    parts = multilevel_partition_k2_refined(
        derived_edges(spark, sf_dir),
        level_rounds=MLP_LEVEL_ROUNDS,
        sweeps=MLP_SWEEPS,
    )
    pa = parts.select(F.col("id").alias("u"), F.col("part").alias("pa"))
    pb = parts.select(F.col("id").alias("v"), F.col("part").alias("pb"))
    side = parts.groupBy("part").agg(F.count(F.lit(1)).alias("n"))
    # coalesce to 0 on an empty side (e.g. a graph that coarsens to a
    # single super) to match the oracle's COUNT(*) subqueries
    sides = side.agg(
        F.coalesce(
            F.sum(F.when(F.col("part") == 0, F.col("n"))), F.lit(0)
        ).alias("n_part0"),
        F.coalesce(
            F.sum(F.when(F.col("part") == 1, F.col("n"))), F.lit(0)
        ).alias("n_part1"),
    )
    return (
        und.join(pa, "u")
        .join(pb, "v")
        .agg(
            F.sum(F.when(F.col("pa") != F.col("pb"), 1).otherwise(0))
            .cast("bigint")
            .alias("edge_cut"),
            F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        )
        .crossJoin(F.broadcast(sides))
        .select(
            "edge_cut",
            "n_edges",
            F.col("n_part0").cast("bigint").alias("n_part0"),
            F.col("n_part1").cast("bigint").alias("n_part1"),
        )
    )


K4_SIDE_LEVELS = (3, 2)
K4_SIDE_SWEEPS = 1


def _mlp_k4_oracle(
    top_levels: tuple[int, ...],
    top_sweeps: int,
    side_levels: tuple[int, ...],
    side_sweeps: int,
) -> str:
    """Recursive-bisection 4-way oracle: the unprefixed k2+refinement
    chain produces the top assignment (tleaf); each side's INDUCED
    subgraph (both endpoints on the side) seeds a prefixed chain
    ('a'/'b') whose base {px}e0/{px}v0 this function defines, and the
    final part is top*2 + side-local bit (vertices isolated inside
    their side — every edge crossing — default to sub-part 0 on both
    engines)."""
    n_t, n_s = len(top_levels), len(side_levels)
    sql = [_mlp_cte_prefix(top_levels)]
    prev = "p0"
    for s in range(1, top_sweeps + 1):
        out = f"tp{s}"
        sql.append(_mlp_sweep_sql(f"t{s}", prev, f"e{n_t}", "lw", out))
        prev = out
    sql.append(
        f""",
tleaf AS MATERIALIZED (
  SELECT comp.id, {prev}.part FROM comp
  JOIN {prev} ON {prev}.super = comp.super)"""
    )
    for px, side in (("a", 0), ("b", 1)):
        sql.append(
            f""",
{px}e0 AS MATERIALIZED (
  SELECT e.u, e.v, CAST(1 AS BIGINT) AS weight
  FROM e0 e JOIN tleaf pa ON pa.id = e.u AND pa.part = {side}
            JOIN tleaf pb ON pb.id = e.v AND pb.part = {side}),
{px}v0 AS MATERIALIZED (SELECT u AS id FROM {px}e0
        UNION SELECT v AS id FROM {px}e0)"""
        )
        sql.append(_mlp_cte_prefix(side_levels, px=px))
        prev_s = f"{px}p0"
        for s in range(1, side_sweeps + 1):
            out = f"{px}p{s}"
            sql.append(
                _mlp_sweep_sql(f"{px}{s}", prev_s, f"{px}e{n_s}", f"{px}lw", out)
            )
            prev_s = out
        sql.append(
            f""",
{px}leaf AS MATERIALIZED (
  SELECT {px}comp.id, {prev_s}.part FROM {px}comp
  JOIN {prev_s} ON {prev_s}.super = {px}comp.super)"""
        )
    sql.append(
        """
SELECT t.id,
       CAST(t.part * 2 + coalesce(a.part, b.part, 0) AS INT) AS part
FROM tleaf t
LEFT JOIN aleaf a ON a.id = t.id
LEFT JOIN bleaf b ON b.id = t.id"""
    )
    return "".join(sql)


def _k4_parts_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k4 assignment — computed FRESH on every call. (A prior build
    commit memoized this per (session, sf_dir) so the cut-stats twin
    priced only its finisher; the r13 optimization rules prohibit
    module-level result memos outright, so both suite entries now pay
    the full recursive bisection and the suite honestly prices the k4
    machinery twice per round.)"""
    from pagerank_giraph_vs_mapreduce_spark.graph.motifs import (
        multilevel_partition_k4,
    )

    return multilevel_partition_k4(
        derived_edges(spark, sf_dir),
        top_levels=MLP_LEVEL_ROUNDS,
        top_sweeps=MLP_SWEEPS,
        side_levels=K4_SIDE_LEVELS,
        side_sweeps=K4_SIDE_SWEEPS,
    )


# the k4 oracle's finisher — interpolated from the same constants the
# generator uses, so a constant drift fails at import (_replace_or_raise),
# never silently no-ops
_K4_FINISHER = """
SELECT t.id,
       CAST(t.part * 2 + coalesce(a.part, b.part, 0) AS INT) AS part
FROM tleaf t
LEFT JOIN aleaf a ON a.id = t.id
LEFT JOIN bleaf b ON b.id = t.id"""


@query(
    "g_partition_k4_cut_stats",
    oracle=_replace_or_raise(
        _mlp_k4_oracle(
            MLP_LEVEL_ROUNDS, MLP_SWEEPS, K4_SIDE_LEVELS, K4_SIDE_SWEEPS
        ),
        _K4_FINISHER,
        """,
k4leaf AS MATERIALIZED (
  SELECT t.id,
         CAST(t.part * 2 + coalesce(a.part, b.part, 0) AS INT) AS part
  FROM tleaf t
  LEFT JOIN aleaf a ON a.id = t.id
  LEFT JOIN bleaf b ON b.id = t.id)
SELECT CAST(sum(CASE WHEN pa.part <> pb.part THEN 1 ELSE 0 END) AS BIGINT)
         AS edge_cut,
       CAST(count(*) AS BIGINT) AS n_edges,
       CAST((SELECT count(*) FROM k4leaf WHERE part = 0) AS BIGINT) AS n_part0,
       CAST((SELECT count(*) FROM k4leaf WHERE part = 1) AS BIGINT) AS n_part1,
       CAST((SELECT count(*) FROM k4leaf WHERE part = 2) AS BIGINT) AS n_part2,
       CAST((SELECT count(*) FROM k4leaf WHERE part = 3) AS BIGINT) AS n_part3
FROM e0 JOIN k4leaf pa ON pa.id = e0.u JOIN k4leaf pb ON pb.id = e0.v""",
    ),
)
def g_partition_k4_cut_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way partition QUALITY observability: the
    k4 leaf edge cut plus all four side sizes — the exact quantities the
    placement consumer (graph/placement.py) relies on when it keys the
    edge table by a 4-part assignment, where g_partition_cut_stats only
    reports the 2-way refined cut. Same plan shape as the k2 finisher:
    the V-row assignment joined twice onto the undirected edge list, one
    map-side-combined aggregate, side counts via coalesce-to-0 so an
    empty part matches the oracle's COUNT(*) subqueries."""
    from pagerank_giraph_vs_mapreduce_spark.graph.motifs import (
        undirect_dedup,
    )

    und = undirect_dedup(derived_edges(spark, sf_dir))
    parts = _k4_parts_df(spark, sf_dir)
    pa = parts.select(F.col("id").alias("u"), F.col("part").alias("pa"))
    pb = parts.select(F.col("id").alias("v"), F.col("part").alias("pb"))
    side = parts.groupBy("part").agg(F.count(F.lit(1)).alias("n"))
    sides = side.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("part") == k, F.col("n"))), F.lit(0)
            )
            .cast("bigint")
            .alias(f"n_part{k}")
            for k in range(4)
        ]
    )
    return (
        und.join(pa, "u")
        .join(pb, "v")
        .agg(
            F.sum(F.when(F.col("pa") != F.col("pb"), 1).otherwise(0))
            .cast("bigint")
            .alias("edge_cut"),
            F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        )
        .crossJoin(F.broadcast(sides))
        .select(
            "edge_cut",
            "n_edges",
            "n_part0",
            "n_part1",
            "n_part2",
            "n_part3",
        )
    )


@query(
    "g_partition_k4",
    oracle=_mlp_k4_oracle(
        MLP_LEVEL_ROUNDS, MLP_SWEEPS, K4_SIDE_LEVELS, K4_SIDE_SWEEPS
    ),
)
def g_partition_k4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-WAY partitioning by recursive bisection — how METIS builds k
    parts from its 2-way kernel: the refined top-level bisection splits
    the graph, each side's INDUCED subgraph (cross edges dropped — they
    are already paid for in the top cut) is bisected again by the same
    multilevel machinery on half the data, and the final label is
    top*2 + side bit. Vertices isolated inside their side (every
    incident edge crosses the top cut) keep sub-part 0 — declared and
    mirrored in the oracle. Recursion depth is log2(k); each level's
    total work is ONE pass over the (shrinking) edge set across all
    branches, so k-way costs ~log2(k) times the bisection — the METIS
    argument, preserved here because the branches are independent
    DataFrame plans. Returns (id, part) with part in 0..3."""
    return _k4_parts_df(spark, sf_dir)
