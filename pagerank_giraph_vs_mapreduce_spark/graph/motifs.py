"""Motif-counting operators over an ``edges(src, dst)`` DataFrame:
degree-oriented triangle counting and bounded-fan-out 2-hop counts.

These are the multi-join graph shapes beyond the reference's PageRank
surface; the designs are the standard distributed formulations (degree
orientation for triangles, hub-capped transit for friend-of-friend) so
per-task work stays bounded on power-law graphs — the skew pathology the
reference documents for its own shuffle (README.md:417-418).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def undirect_dedup(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set ``(u < v)``, self-loops dropped."""
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
    )


def closed_triangles(edges: DataFrame) -> DataFrame:
    """Every triangle of the undirected deduped graph as one (x, y, z)
    row, degree-oriented.

    Every undirected edge is directed from its lower-(degree, id) endpoint
    to its higher-(degree, id) endpoint; wedges are enumerated per oriented
    source and closed against the oriented edge set. Degree orientation
    bounds every oriented out-degree by O(sqrt(E)), so wedge work is O(E^1.5)
    total and — unlike low-id orientation — no hub can key Sigma C(deg, 2)
    wedge rows on a single task. Each triangle appears exactly once (its
    three vertices in some orientation-determined order).
    """
    return closed_triangles_of(undirect_dedup(edges))


def closed_triangles_of(eo: DataFrame) -> DataFrame:
    """closed_triangles over an ALREADY-canonical edge set ``(u < v,
    deduped, no self-loops)`` — the per-round entry point for k-truss
    peeling, where re-canonicalizing the shrinking survivor set every
    round would waste a distinct per iteration.

    Plan: degree-oriented adjacency-array intersection. Each edge is
    oriented from its lower-(degree, id) endpoint to the higher; the
    oriented out-neighborhood N+(x) is collected into one array per
    vertex (oriented out-degree is bounded by O(sqrt E) on ANY graph, so
    no hub can blow up a single row). A triangle {x<y<z in rank order}
    has oriented edges x->y, x->z, y->z, so enumerating z in
    N+(x) ∩ N+(y) per oriented edge (x, y) yields each triangle exactly
    once. array_intersect runs inside whole-stage codegen, so the
    O(Σ wedges) = O(E^1.5) exploration happens JVM-side per edge row —
    unlike the wedge self-join formulation, which shuffled every
    non-closing wedge (measured at the sf0.1 truss fixture: 16M wedge
    rows materialized per round for 1.85M triangles, 3x the runtime)."""
    # Undirected degree: each canonical edge contributes to both endpoints.
    ud = (
        eo.select(F.col("u").alias("id"))
        .unionAll(eo.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = ud.select(F.col("id").alias("u"), F.col("d").alias("du"))
    dv = ud.select(F.col("id").alias("v"), F.col("d").alias("dv"))
    u_first = F.struct("du", "u") < F.struct("dv", "v")
    eod = (
        eo.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("x"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("y"),
        )
    )
    adj = eod.groupBy(F.col("x").alias("id")).agg(
        F.collect_list("y").alias("nbrs")
    )
    with_nx = eod.join(adj.withColumnRenamed("id", "x"), "x").select(
        "x", "y", F.col("nbrs").alias("nx")
    )
    # left join: y may have an empty oriented out-neighborhood
    with_both = with_nx.join(
        adj.select(F.col("id").alias("y"), F.col("nbrs").alias("ny")),
        "y",
        "left",
    )
    return with_both.select(
        "x",
        "y",
        F.explode(
            F.array_intersect("nx", F.coalesce("ny", F.array()))
        ).alias("z"),
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact triangle count (see closed_triangles for the degree-oriented
    enumeration). Returns a 1-row DataFrame ``n_triangles``."""
    return closed_triangles(edges).agg(F.count(F.lit(1)).alias("n_triangles"))


def local_clustering(edges: DataFrame) -> DataFrame:
    """Per-vertex local clustering coefficient on the undirected deduped
    graph: 2*T(v) / (d(v) * (d(v) - 1)), 0.0 for degree-1 vertices —
    Watts-Strogatz local clustering, the standard per-vertex cohesion
    score. Returns (id, clustering) for every vertex with >= 1 undirected
    neighbor, rounded to 9 dp.

    Scale shape: the triangle closure is the O(E^1.5)-bounded
    degree-oriented plan; the per-vertex count is an explode of each
    triangle row to its three corners followed by a map-side-combined
    aggregation, then one V-row left join against the degree table —
    nothing keys on a hub's full neighborhood."""
    tri = closed_triangles(edges)
    vt = (
        tri.select(
            F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).alias("id")
        )
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    eo = undirect_dedup(edges)
    ud = (
        eo.select(F.col("u").alias("id"))
        .unionAll(eo.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    d = F.col("d")
    return ud.join(vt, "id", "left").select(
        "id",
        F.round(
            F.when(
                d >= 2,
                F.lit(2.0)
                * F.coalesce(F.col("t"), F.lit(0).cast("bigint"))
                / (d * (d - 1)),
            ).otherwise(0.0),
            9,
        ).alias("clustering"),
    )


def kcore_survivors(edges: DataFrame, k: int = 3, rounds: int = 4) -> DataFrame:
    """Vertices surviving ``rounds`` rounds of k-core peeling on the
    undirected deduped graph (self-loops dropped): each round removes
    vertices whose degree among current survivors is < k. With enough
    rounds this converges to the k-core; a fixed round count keeps the
    computation expressible as an unrolled SQL oracle (same discipline as
    the fixed-k PageRank/WCC queries).

    Scale shape: each round is one degree aggregation over the surviving
    edge set (two semi-joins + groupBy — map-side combined); the edge
    table is cached once and only shrinks. The V-row survivor set is
    materialized per round (eager localCheckpoint) — the same lineage
    discipline as the PageRank loop; without it round r re-executes all
    rounds before it. Returns (id BIGINT).
    """
    noself = edges.filter(F.col("src") != F.col("dst")).select("src", "dst")
    sym = (
        noself.unionAll(
            noself.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .persist()
    )
    survivors = sym.select(F.col("src").alias("id")).distinct()
    for _ in range(rounds):
        alive = sym.join(
            survivors.select(F.col("id").alias("src")), "src", "left_semi"
        ).join(survivors.select(F.col("id").alias("dst")), "dst", "left_semi")
        deg = alive.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        survivors = (
            deg.filter(F.col("d") >= k)
            .select(F.col("src").alias("id"))
            .localCheckpoint(eager=True)
        )
    sym.unpersist()
    return survivors


def two_hop_count(edges: DataFrame, mid_outdeg_cap: int | None = 64) -> DataFrame:
    """Distinct 2-hop neighborhood size per origin, transiting only
    intermediates with out-degree <= ``mid_outdeg_cap`` (``None`` = exact,
    unbounded — quadratic on hub mids, small-graph/test use only).

    The self-join fan-out is Sigma over mids of in(m)*out(m); the cap keeps
    it linear in E on power-law graphs. Deduped edges assumed (``distinct``
    upstream); countDistinct's partial map-side dedup bounds shuffle volume
    by distinct (origin, dst2) pairs per partition.
    """
    edges = edges.select("src", "dst").distinct()
    b = edges
    if mid_outdeg_cap is not None:
        deg = edges.groupBy(F.col("src").alias("mid")).agg(
            F.count(F.lit(1)).alias("outdeg")
        )
        mid_ok = deg.filter(F.col("outdeg") <= mid_outdeg_cap).select("mid")
        b = edges.join(mid_ok, edges.src == mid_ok.mid, "left_semi")
    a, b = edges.alias("a"), b.alias("b")
    return (
        a.join(b, F.col("b.src") == F.col("a.dst"))
        .groupBy(F.col("a.src").alias("id"))
        .agg(F.countDistinct(F.col("b.dst")).alias("n_two_hop"))
    )


def _aa_scored_non_edges(edges: DataFrame, hub_cap: int) -> DataFrame:
    """Shared Adamic-Adar core: non-adjacent undirected pairs (a < b)
    with ≥1 common neighbor, scored Σ_z 1/ln(deg(z)) over hub-capped
    transit vertices z. See adamic_adar_topk for the fan-out bound and
    determinism contract."""
    und = undirect_dedup(edges)
    sym = und.select(F.col("u").alias("node"), F.col("v").alias("nbr")).union(
        und.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    transit = (
        sym.join(deg, "node")
        .filter(F.col("d") <= hub_cap)
        .select("node", "nbr", "d")
    )
    s1 = transit.alias("s1")
    s2 = transit.select("node", "nbr").alias("s2")
    pairs = (
        s1.join(s2, F.col("s1.node") == F.col("s2.node"))
        .filter(F.col("s1.nbr") < F.col("s2.nbr"))
        .select(
            F.col("s1.nbr").alias("a"),
            F.col("s2.nbr").alias("b"),
            F.round(F.lit(1.0) / F.log(F.col("s1.d")), 9)
            .cast("decimal(20,9)")
            .alias("w"),
        )
    )
    scored = pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        F.round(F.sum("w").cast("double"), 6).alias("aa_score"),
    )
    return scored.join(
        und, (scored.a == und.u) & (scored.b == und.v), "left_anti"
    )


def adamic_adar_pervertex(
    edges: DataFrame, hub_cap: int = 256, k: int = 3
) -> DataFrame:
    """Per-vertex link-prediction candidates (VERDICT r07 item 6): for
    EVERY vertex, its top-``k`` non-adjacent Adamic-Adar partners —
    the product shape ("k recommendations per node"), vs the global
    top-20 demo shape of ``adamic_adar_topk``.

    Scale shape: the expensive part — capped pair generation + scoring
    — is IDENTICAL to the global variant (same Σ deg(z)² fan-out bound);
    the per-vertex cut adds one explode of the scored pairs into both
    directions and a window rank partitioned by vertex, i.e. one extra
    shuffle of the (already aggregated) candidate-pair table, never of
    the edge data. Row output is ≤ V·k.

    Determinism: rank on (aa_score desc 6-dp, cand asc) — reproducible
    across engines; rk is emitted so downstream consumers keep the
    order."""
    scored = _aa_scored_non_edges(edges, hub_cap)
    # one explode per pair row — a unionAll of two scored projections
    # would re-execute the whole wedge-join + aggregate + anti-join
    # subplan once per leg (measured 2x at the sf1 graph spot-run; the
    # same defect class as the k-truss 3-way union, fixed r09)
    both = scored.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("id"), F.col("b").alias("cand")),
                F.struct(F.col("b").alias("id"), F.col("a").alias("cand")),
            )
        ).alias("p"),
        "common_neighbors",
        "aa_score",
    ).select("p.id", "p.cand", "common_neighbors", "aa_score")
    w = Window.partitionBy("id").orderBy(F.desc("aa_score"), F.asc("cand"))
    return (
        both.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select("id", "cand", "common_neighbors", "aa_score", "rk")
    )


def adamic_adar_topk(
    edges: DataFrame, hub_cap: int = 256, k: int = 20
) -> DataFrame:
    """Link prediction over the undirected graph: for each non-adjacent
    pair (a, b) sharing ≥1 neighbor, score = Σ_z 1/ln(deg(z)) over common
    neighbors z — Adamic-Adar, the standard common-neighbor weighting
    (rare shared neighbors count more). Returns the top-``k`` candidate
    edges (a < b) with common-neighbor count and score.

    Scale shape: the pair generation is a self-join of the symmetric
    adjacency on the shared neighbor z — fan-out Σ_z deg(z)², quadratic
    in hub degree, so z is capped at deg ≤ ``hub_cap`` (the two_hop_count
    discipline). The cap is also statistically principled here: a hub's
    contribution 1/ln(deg) → 0, so dropping super-hubs loses almost no
    score mass while bounding per-task work on power-law graphs.

    Determinism: 1/ln(deg) is rounded to 9 dp per term and summed as
    DECIMAL (order-independent — the text_lm_score discipline), final
    score rounded to 6 dp; ties break on (a, b).
    """
    return _aa_scored_non_edges(edges, hub_cap).orderBy(
        F.desc("aa_score"), F.asc("a"), F.asc("b")
    ).limit(k)


def ktruss_edges(
    edges: DataFrame, k: int = 4, rounds: int | None = 3
) -> DataFrame:
    """k-truss peeling on the undirected deduped graph: each round
    computes per-edge triangle support (the number of triangles the edge
    closes among CURRENT survivors) and keeps edges with support >= k-2.
    ``rounds=None`` loops until the edge set is stable — the actual
    k-truss (every surviving edge sits in >= k-2 surviving triangles);
    a fixed round count keeps one peel slice expressible as an unrolled
    SQL oracle, the g_kcore64_r4 / g_pagerank_k3 discipline, but
    UNDER-peels graphs whose support decays slowly (a round-r survivor
    may lose support in round r+1).

    Scale shape: each round is one degree-oriented triangle enumeration
    over the surviving canonical edge set (closed_triangles_of — wedge
    work O(E^1.5), no hub-keyed quadratic task), one map-side-combined
    support aggregate over 3 pair projections, one filter. The edge set
    only shrinks; survivors materialize per round via eager
    localCheckpoint (the PageRank-loop lineage discipline — without it
    round r re-executes every round before it). Edges in no triangle
    have support 0 and are dropped in round 1 for any k >= 3.

    Convergence check: survivors are a SUBSET of the previous round's
    edges (peeling is monotone), so count equality is set equality — one
    cheap count() action per round on the already-checkpointed survivors
    decides the stop, no expensive anti-join.

    Orientation: edges are ranked ONCE by initial (degree, id) and the
    loop stays in oriented space. Correctness needs only SOME total
    vertex order (each triangle x<y<z in rank order is found exactly once
    at its (x, y) edge via z ∈ N+(x) ∩ N+(y)); the initial-degree order
    additionally bounds per-round array sizes the way degree orientation
    bounds wedge work, and NOT re-ranking by the shrinking survivor set
    saves a degree aggregation plus two rank joins per round. Per round:
    one collect_list shuffle, two adjacency joins (PINNED shuffle-merge —
    see the in-loop comment: the r12 adjudication of the r11 bench
    plan_change flag found AQE's broadcast flip at the 10 MB boundary
    both unstable and 2x slower), one codegen array_intersect + explode,
    one map-side-combined support count, one filter.

    Returns the surviving canonical edges ``(u BIGINT, v BIGINT)``, u < v.
    """
    e0 = undirect_dedup(edges)
    # one-time (degree, id) rank orientation — see docstring
    ud = (
        e0.select(F.col("u").alias("id"))
        .unionAll(e0.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = ud.select(F.col("id").alias("u"), F.col("d").alias("du"))
    dv = ud.select(F.col("id").alias("v"), F.col("d").alias("dv"))
    u_first = F.struct("du", "u") < F.struct("dv", "v")
    e = (
        e0.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("x"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("y"),
        )
        .localCheckpoint(eager=True)
    )
    n_prev = e.count() if rounds is None else -1
    r = 0
    while rounds is None or r < rounds:
        r += 1
        # materialized: both adjacency joins consume adj, and without the
        # checkpoint each join would re-run the collect_list aggregation
        # independently. The joins are PINNED to shuffle-merge: the
        # adjacency's serialized size hovers at AQE's 10 MB broadcast
        # boundary on the bench fixture, and the flip is both
        # environment-sensitive (the r11 bench arbitration's one
        # plan_change flag) and WRONG — broadcasting the array-heavy
        # V-row table measured 2x slower per round than the merge join
        # it displaced (12.7 s vs 6.2 s, round 1 at sf0.1); at scale the
        # adjacency exceeds the threshold anyway, so the pin only
        # removes the boundary regime, never a win.
        adj = (
            e.groupBy(F.col("x").alias("id"))
            .agg(F.collect_list("y").alias("nbrs"))
            .localCheckpoint(eager=True)
            .hint("shuffle_merge")
        )
        with_nx = e.join(adj.withColumnRenamed("id", "x"), "x").select(
            "x", "y", F.col("nbrs").alias("nx")
        )
        tri = (
            with_nx.join(
                adj.select(F.col("id").alias("y"), F.col("nbrs").alias("ny")),
                "y",
                "left",
            )
            .select(
                "x",
                "y",
                F.explode(
                    F.array_intersect("nx", F.coalesce("ny", F.array()))
                ).alias("z"),
            )
        )
        # each triangle (x, y, z) is rank-ordered, so all three of its
        # edges (x,y) (x,z) (y,z) are already oriented pairs — no
        # re-canonicalization inside the loop. One explode per triangle
        # row, NOT a 3-way unionAll of tri projections: each union leg
        # would re-execute the whole enumeration subplan (the SQL oracle
        # needs MATERIALIZED for the same reason; measured 2x per-round
        # cost before this)
        pairs = tri.select(
            F.explode(
                F.array(
                    F.struct(F.col("x").alias("a"), F.col("y").alias("b")),
                    F.struct(F.col("x").alias("a"), F.col("z").alias("b")),
                    F.struct(F.col("y").alias("a"), F.col("z").alias("b")),
                )
            ).alias("p")
        ).select(F.col("p.a").alias("x"), F.col("p.b").alias("y"))
        supp = pairs.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c"))
        e = (
            supp.filter(F.col("c") >= k - 2)
            .select("x", "y")
            .localCheckpoint(eager=True)
        )
        if rounds is None:
            n = e.count()
            if n == n_prev:
                break
            n_prev = n
    return e.select(
        F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v")
    )


def square_count(edges: DataFrame, hub_cap: int = 256) -> DataFrame:
    """Global 4-cycle (square) count of the subgraph induced on vertices
    with undirected degree <= ``hub_cap`` — one row
    ``(n_squares, n_diag_pairs)``.

    Identity: every square a-m1-b-m2-a is seen from exactly its two
    diagonal pairs {a,b} and {m1,m2}, each contributing C(c,2) mid-pair
    choices where c = |N(a) ∩ N(b)|, so Σ_{a<b} c·(c-1) = 4·#squares —
    an integer identity, so the count is cross-engine exact with no
    float in sight. The wedge self-join fans out Σ_m deg(m)² rows, which
    one hub makes quadratic (the two_hop_count pathology squared: C4
    counts on power-law graphs are dominated by star centers that carry
    no cycle structure); inducing on deg <= hub_cap is the declared
    semantics, mirrored in the oracle, and keeps per-mid fan-out at
    cap². ``n_diag_pairs`` = pairs with >= 2 common neighbors (the
    candidate diagonals), a free byproduct used as a sanity invariant
    (n_diag_pairs = 0 ⇒ n_squares = 0).
    """
    und = undirect_dedup(edges)
    sym = und.select(F.col("u").alias("node"), F.col("v").alias("nbr")).union(
        und.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    keep = deg.filter(F.col("d") <= hub_cap).select("node")
    # induced subgraph: BOTH endpoints under the cap (unlike the AA/two-hop
    # transit cap, which bounds only the mid role — a square needs all four
    # corners, so the diagonal identity only holds on an induced subgraph)
    ind = sym.join(keep, "node", "left_semi").join(
        keep.withColumnRenamed("node", "nbr"), "nbr", "left_semi"
    )
    s1 = ind.alias("s1")
    s2 = ind.alias("s2")
    per_pair = (
        s1.join(s2, F.col("s1.node") == F.col("s2.node"))
        .filter(F.col("s1.nbr") < F.col("s2.nbr"))
        .groupBy(F.col("s1.nbr").alias("a"), F.col("s2.nbr").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return per_pair.agg(
        # DIV, not `/`: float division of the bigint sum would round past
        # 2^53 — the identity is exact integer arithmetic end to end
        F.coalesce(
            F.expr("sum(c * (c - 1)) DIV 4").cast("bigint"),
            F.lit(0).cast("bigint"),
        ).alias("n_squares"),
        F.coalesce(
            F.sum(F.when(F.col("c") >= 2, 1).otherwise(0)).cast("bigint"),
            F.lit(0).cast("bigint"),
        ).alias("n_diag_pairs"),
    )


def jaccard_topk(edges: DataFrame, hub_cap: int = 256, k: int = 20) -> DataFrame:
    """Neighbor-set Jaccard link prediction: for each non-adjacent
    undirected pair (a < b) sharing >= 1 common neighbor, score
    |N(a) ∩ N(b)| / |N(a) ∪ N(b)| and return the global top-``k``.

    The multiplicative dual of Adamic-Adar (same wedge-join core, same
    hub-cap discipline): the intersection is counted over transit
    vertices with degree <= ``hub_cap`` (declared semantics, mirrored in
    the oracle — a super-hub shared by everyone carries no similarity
    signal), while the union denominator deg(a)+deg(b)-inter uses FULL
    degrees, so the score is a conservative lower bound that cannot
    inflate a hub-adjacent pair. Determinism: inter and both degrees are
    integers; jaccard is ONE final IEEE bigint/bigint division rounded
    to 6 dp, ties broken on (a, b) — the g_modularity_score discipline.
    """
    und = undirect_dedup(edges)
    sym = und.select(F.col("u").alias("node"), F.col("v").alias("nbr")).union(
        und.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    transit = (
        sym.join(deg, "node").filter(F.col("d") <= hub_cap).select("node", "nbr")
    )
    s1 = transit.alias("s1")
    s2 = transit.alias("s2")
    inter = (
        s1.join(s2, F.col("s1.node") == F.col("s2.node"))
        .filter(F.col("s1.nbr") < F.col("s2.nbr"))
        .groupBy(F.col("s1.nbr").alias("a"), F.col("s2.nbr").alias("b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    non_edges = inter.join(
        und, (inter.a == und.u) & (inter.b == und.v), "left_anti"
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("deg_b"))
    return (
        non_edges.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            F.col("inter").alias("common_neighbors"),
            "deg_a",
            "deg_b",
            F.round(
                F.col("inter")
                / (F.col("deg_a") + F.col("deg_b") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), F.asc("a"), F.asc("b"))
        .limit(k)
    )


MATCH_HASH_P = 2147483647
MATCH_HASH_A = 1103515245
MATCH_HASH_B = 2654435761
MATCH_HASH_C = 2246822519  # xxHash PRIME32_2 — the quadratic mixer


def edge_priority(node, nbr):
    """Deterministic pseudo-random priority of the UNDIRECTED edge
    {node, nbr} — a multiplicative hash in pure BIGINT modular
    arithmetic (every intermediate < 2^63, so Spark, DuckDB, and Python
    compute the identical value; ids are assumed non-negative, as every
    source in this engine produces). Mutual-min matching under RANDOM
    edge priorities (Luby-style) matches a constant expected fraction
    per round on ANY degree profile — min-ID proposals collapse on
    dense graphs, where whole neighborhoods propose to the same vertex
    (measured on the sf0.01-density proxy: 20 pairs matched in 3
    rounds by id vs 786 by hash on 2,000 vertices).

    The lo*hi term is load-bearing: a purely AFFINE hash
    (lo*A + hi*B) mod p is an arithmetic progression along any
    arithmetic id progression, so on chain/ring/grid graphs with
    regularly spaced ids the priorities are MONOTONE along the chain —
    one local minimum, ONE matched pair per round, and coarsening
    degenerates to shrink-by-2 per level (measured on a 600-ring:
    600 -> 300 -> 151 -> 149 -> 147 ... affine vs
    600 -> 345 -> 201 -> 116 -> 65 with the quadratic term, which is
    degree-2 in the position and cannot be monotone along a long
    progression). Sequential ids are exactly what chain-shaped graphs
    get in practice, so this is a real-input case, not an adversary."""
    lo, hi = F.least(node, nbr), F.greatest(node, nbr)
    p = F.lit(MATCH_HASH_P).cast("bigint")
    lo_m, hi_m = lo % p, hi % p
    return (
        lo_m * F.lit(MATCH_HASH_A) % p
        + hi_m * F.lit(MATCH_HASH_B) % p
        + (lo_m * hi_m % p) * F.lit(MATCH_HASH_C) % p
    ) % p


def greedy_matching(
    edges: DataFrame, rounds: int = 3, priority: str = "id"
) -> DataFrame:
    """Deterministic distributed matching by mutual-minimum proposals —
    the coarsening primitive under multilevel partitioners (METIS-style)
    and Louvain-type aggregation: per round every live vertex proposes
    to its minimum live neighbor under ``priority``, an edge matches iff
    the proposals are mutual, and matched vertices leave the graph.
    Deterministic proposals make every round a pure function of the
    edge set, so a fixed-round run unrolls into a SQL oracle (the
    k-core discipline); each round is one aggregate (min neighbor per
    vertex) + one self-join of the V-sized proposal table — never an
    edge-table self-join. Matched pairs accumulate; ``rounds`` is a
    declared knob.

    ``priority``: "id" proposes to the minimum-id neighbor (the
    g_matching_r3 contract — greedy from the low ids, star matches
    (center, min leaf)); "hash" proposes to the neighbor minimizing
    (edge_priority, id) — the rule the multilevel partitioner uses,
    because id-priority stalls on dense graphs (see edge_priority).

    Returns (u, v, round) with u < v, disjoint across rows.
    """
    if priority not in ("id", "hash"):
        raise ValueError(
            f"greedy_matching priority must be 'id' or 'hash', got {priority!r}"
        )
    sym = undirect_dedup(edges)
    live = sym.select(F.col("u").alias("node")).union(
        sym.select(F.col("v").alias("node"))
    ).distinct()
    # The adjacency is read by EVERY round's proposal pass (twice, via
    # the p1/p2 aliases) and previously re-derived the symmetrize+dedup
    # lineage per action; persist it once for the matching's lifetime
    # (guide §5 — reuse-justified, unpersisted before return).
    adj = sym.select(F.col("u").alias("node"), F.col("v").alias("nbr")).union(
        sym.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    matched_parts = []
    for r in range(1, rounds + 1):
        alive_adj = adj.join(live, "node", "left_semi").join(
            live.withColumnRenamed("node", "nbr"), "nbr", "left_semi"
        )
        if priority == "hash":
            prop = (
                alive_adj.withColumn(
                    "h", edge_priority(F.col("node"), F.col("nbr"))
                )
                .groupBy("node")
                .agg(F.min(F.struct("h", "nbr")).alias("s"))
                .select("node", F.col("s.nbr").alias("prop"))
            )
        else:
            prop = alive_adj.groupBy("node").agg(F.min("nbr").alias("prop"))
        # Lazy checkpoint: the mutual-match self-join consumes prop under
        # TWO different hash keys (p1 by prop, p2 by node), so without
        # this the whole proposal aggregate is planned — and computed —
        # twice per round (no exchange reuse across different keys).
        # Lazy costs no extra job; the round's action materializes it
        # once and both join sides read the cached rows.
        prop = prop.localCheckpoint(eager=False)
        p1 = prop.alias("p1")
        p2 = prop.alias("p2")
        pairs = (
            p1.join(
                p2,
                (F.col("p1.prop") == F.col("p2.node"))
                & (F.col("p2.prop") == F.col("p1.node"))
                & (F.col("p1.node") < F.col("p2.node")),
            )
            .select(
                F.col("p1.node").alias("u"),
                F.col("p2.node").alias("v"),
                F.lit(r).cast("int").alias("round"),
            )
            # Lazy checkpoint: materialized by this round's live update
            # (one action per round instead of two); the LAST round has
            # no live update, so it checkpoints eagerly — which also
            # lets adj unpersist safely below (no lazy lineage left).
            .localCheckpoint(eager=(r == rounds))
        )
        matched_parts.append(pairs)
        if r < rounds:
            gone = pairs.select(F.col("u").alias("node")).union(
                pairs.select(F.col("v").alias("node"))
            )
            live = live.join(gone, "node", "left_anti").localCheckpoint(
                eager=True
            )
    adj.unpersist()
    out = matched_parts[0]
    for p in matched_parts[1:]:
        out = out.unionByName(p)
    return out


def matching_mapping(
    edges_uv: DataFrame,
    verts: DataFrame,
    rounds: int,
    priority: str = "id",
) -> DataFrame:
    """(node, super) contraction mapping from one matching pass: matched
    pairs map both endpoints to the pair's min id, every other vertex of
    ``verts`` (the FULL vertex set of this level — including supers left
    isolated by a previous contraction, which the edge table no longer
    mentions) maps to itself. The unmatched branch is an anti-join
    against the matched endpoints; no row of ``verts`` is ever lost, so
    multilevel composition is total."""
    m = greedy_matching(
        edges_uv.select(F.col("u").alias("src"), F.col("v").alias("dst")),
        rounds=rounds,
        priority=priority,
    )
    gone = m.select(F.col("u").alias("node")).union(
        m.select(F.col("v").alias("node"))
    )
    return (
        verts.join(gone, "node", "left_anti")
        .select("node", F.col("node").alias("super"))
        .unionByName(m.select(F.col("u").alias("node"), F.col("u").alias("super")))
        .unionByName(m.select(F.col("v").alias("node"), F.col("u").alias("super")))
    )


def contract_weighted(e: DataFrame, mapping: DataFrame) -> DataFrame:
    """Contract a weighted undirected edge list (u, v, weight) through a
    (node, super) mapping: intra-super edges drop, parallel edges merge
    by SUMMING weights (the invariant the edge-cut-conservation pytest
    pins: total cross-super weight is preserved level to level). One
    V-row mapping join per endpoint + one map-side-combined aggregate —
    the g_louvain_l2 condensation shape."""
    mu = mapping.select(F.col("node").alias("u"), F.col("super").alias("su"))
    mv = mapping.select(F.col("node").alias("v"), F.col("super").alias("sv"))
    return (
        e.join(mu, "u")
        .join(mv, "v")
        .filter(F.col("su") != F.col("sv"))
        .groupBy(
            F.least("su", "sv").alias("u"),
            F.greatest("su", "sv").alias("v"),
        )
        .agg(F.sum("weight").cast("bigint").alias("weight"))
    )


def _multilevel_pipeline(
    edges: DataFrame,
    level_rounds: tuple[int, ...],
    coarsest_max: int | None = None,
    sym_edges: DataFrame | None = None,
):
    """Shared coarsening pipeline for the multilevel partitioners:
    coarsen ``len(level_rounds)`` levels by mutual-min matching under
    HASH edge priorities (see edge_priority — id priorities stall on
    dense graphs) + weighted contraction, 2-color the COARSEST graph by
    deterministic BFS region growing (see region_grow_bipartition:
    part 0 is a contiguous ball grown from the heaviest edge-touching
    super until the leaf weight crosses half — cut-aware where the
    round-11 LPT alternation was cut-blind). Every step is
    deterministic (hash-priority proposals, integer weights,
    total-order ranking), so fixed level counts unroll into SQL
    oracles.

    Scale contract: matching/contraction per level are V-row joins and
    map-side-combined aggregates (never edge self-joins); each level
    shrinks the vertex set geometrically. With ``coarsest_max`` set the
    pipeline ADDS LEVELS until the coarsest table holds at most that
    many supers (the production mode — level count becomes ~log V); the
    fixed-level mode keeps the certified oracles' unrolled-CTE
    semantics. Either way region_grow_bipartition RAISES before
    collecting an over-bound coarsest table — the bound is enforced by
    code, not contract.

    Returns (comp leaf->coarsest (id, super), coarsest weighted edges
    (u, v, weight), leaf weights per super (super, w), initial
    assignment (super, part)).
    """
    levels, mappings, comps, part = _multilevel_pipeline_full(
        edges, level_rounds, coarsest_max=coarsest_max, sym_edges=sym_edges
    )
    comp = comps[-1]
    leaf_w = comp.groupBy("super").agg(F.count(F.lit(1)).alias("w"))
    return comp, levels[-1], leaf_w, part


# Declared node-bound for the serial coarsest fill: the largest coarsest
# table region_grow_bipartition will agree to collect to the driver.
# 2^20 (super, w) + adjacency rows is a few tens of MB — far inside any
# driver heap — while the AUTO mode coarsens to far below it; the bound
# exists so a FIXED-level run on a huge graph fails loudly instead of
# OOMing the driver (VERDICT r12 What's-wrong #1).
MLP_COARSEST_MAX = 1 << 20
# Matching rounds per auto-added level and the level-count safety stop
# (geometric shrink from 2^63 vertices reaches any bound inside 63
# halvings; the stop only matters if matching stalls completely).
MLP_AUTO_ROUNDS = 2
MLP_MAX_AUTO_LEVELS = 64


def _coarsen_once(e, verts, comp, rounds: int):
    """One coarsening level: hash-priority matching (id priorities stall
    on dense graphs — measured 1500 -> 1492 over three id-priority
    levels on the sf0.1 derived graph; see edge_priority), composition
    update, weighted contraction. Returns (mapping, comp, e, verts)."""
    # Lazy checkpoint: the contraction's eager checkpoint below is the
    # level's one materialization action and computes the mapping as a
    # dependency, caching it for the composition update and the next
    # level's vertex set — one job per level instead of two.
    mapping = matching_mapping(
        e.select("u", "v"), verts, rounds, priority="hash"
    ).localCheckpoint(eager=False)
    if comp is None:
        comp = mapping.select(F.col("node").alias("id"), "super")
    else:
        nxt = mapping.select(
            F.col("node").alias("super"),
            F.col("super").alias("super_next"),
        )
        # Lazy checkpoint: the composition chain is read by leaf_w, the
        # refinement sweeps' balance aggregate and the final projection;
        # without this each of those re-joined every level's mapping.
        # Lazy costs no extra job — the first consumer materializes it.
        comp = (
            comp.join(nxt, "super")
            .select("id", F.col("super_next").alias("super"))
            .localCheckpoint(eager=False)
        )
    e = contract_weighted(e, mapping).localCheckpoint(eager=True)
    verts = mapping.select(F.col("super").alias("node")).distinct()
    return mapping, comp, e, verts


def _multilevel_pipeline_full(
    edges: DataFrame,
    level_rounds: tuple[int, ...],
    coarsest_max: int | None = None,
    sym_edges: DataFrame | None = None,
):
    """The pipeline with every per-level artifact exposed (for the
    V-cycle's per-level refinement): returns (levels — weighted edge
    DataFrames e_0..e_n, mappings — m_1..m_n each (node, super), comps —
    leaf->level-k composition for k=1..n, initial coarsest assignment
    (super, part)).

    ``coarsest_max=None`` runs exactly ``level_rounds`` levels (the
    certified-oracle mode — a fixed count unrolls into SQL CTEs).
    ``coarsest_max=N`` is the production mode: after the fixed prefix it
    keeps adding MLP_AUTO_ROUNDS-round levels until the coarsest vertex
    count is <= N, counting (one bounded action) per added level and
    stopping early only if matching makes no progress — in which case
    region_grow_bipartition's collect guard raises. Auto-added levels
    appear in levels/mappings/comps like fixed ones, so the V-cycle
    refines through them transparently (it iterates len(mappings), not
    len(level_rounds)).

    ``sym_edges``, when given, is the canonical weighted leaf table
    (u < v deduped, ``weight`` column, ALREADY materialized via
    localCheckpoint) and ``edges`` is ignored — the k4 recursion passes
    it so the symmetrize+dedup E-row exchange and its materialization
    are paid once per k4 invocation instead of once per bisection
    (guide §5 reuse; r13 ADVICE: the top call and the side semi-joins
    each re-materialized the same table)."""
    if sym_edges is not None:
        e = sym_edges
    else:
        und = undirect_dedup(edges)
        # ONE materialization of the leaf edge table. Without this, every
        # matching round, refinement sweep and eager checkpoint below
        # re-evaluates the symmetrize+dedup lineage from the raw scan (and,
        # under k4's recursive bisection, the side-subgraph semi-joins too) —
        # measured as the dominant cost of the whole family (guide §5:
        # reuse-justified cache; §2.4: the re-planned dedup exchange per
        # action disappears). Same discipline as every kernel's persisted
        # edge cache; the contracted levels were already checkpointed.
        e = (
            und.withColumn("weight", F.lit(1).cast("bigint"))
            .localCheckpoint(eager=True)
        )
    verts = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
    )
    levels = [e]
    mappings = []
    comps = []
    comp = None
    for rounds in level_rounds:
        mapping, comp, e, verts = _coarsen_once(e, verts, comp, rounds)
        mappings.append(mapping)
        comps.append(comp)
        levels.append(e)
    if coarsest_max is not None:
        n_coarse = verts.count()
        while (
            n_coarse > coarsest_max
            and len(mappings) < len(level_rounds) + MLP_MAX_AUTO_LEVELS
        ):
            mapping, comp2, e2, verts2 = _coarsen_once(
                e, verts, comp, MLP_AUTO_ROUNDS
            )
            n_next = verts2.count()
            if n_next >= n_coarse:
                # Matching stalled — zero pairs matched, the level is an
                # identity contraction and further levels cannot shrink
                # the graph; fall through to region_grow's loud guard.
                break
            comp, e, verts = comp2, e2, verts2
            mappings.append(mapping)
            comps.append(comp)
            levels.append(e)
            n_coarse = n_next
    leaf_w = comp.groupBy("super").agg(F.count(F.lit(1)).alias("w"))
    part = region_grow_bipartition(levels[-1], leaf_w)
    return levels, mappings, comps, part


MLP_BFS_ROUNDS = 12
MLP_DIST_INF = 2147483647


def region_grow_bipartition(
    e: DataFrame,
    leaf_w: DataFrame,
    bfs_rounds: int = MLP_BFS_ROUNDS,
    collect_max: int | None = None,
) -> DataFrame:
    """Deterministic region-growing (METIS GGP-style) initial 2-coloring
    of the coarsest graph — replaces the round-11 LPT alternation, which
    was balance-optimal but cut-BLIND (it scattered tightly-knit blocks
    across the cut, capping the whole family ~5x off ideal on
    clique-chain fixtures). Part 0 is GROWN as a contiguous BFS ball:

    - seed = the heaviest super that touches an edge (tie -> min id; a
      graph with no coarse edges has no seed and degrades to a pure
      group-ordered fill, where any coloring has cut 0);
    - hop distances from the seed for a FIXED ``bfs_rounds`` rounds
      (unreached supers get a sentinel distance, so they fill last —
      they are far from the seed, exactly where part 1 should live);
    - supers the BFS cannot reach (other CONNECTED COMPONENTS, or past
      the fixed horizon) are grouped by an approximate component label
      (``bfs_rounds`` synchronous rounds of min-id label propagation),
      so whole components/neighborhoods pack CONTIGUOUSLY into the
      fill instead of interleaving by weight (measured on 5 disjoint
      graph copies: a weight-ordered tail split four copies, cut 811k;
      grouped, the boundary falls inside one copy);
    - supers fill part 0 in (dist ASC, group, leaf-weight DESC, id)
      order (group = -1 for BFS-reached supers, so the reached ball
      keeps pure distance order) until the running weight crosses
      half: super s joins part 0 iff it is the first row or its weight
      MIDPOINT lies before the global midpoint (2*cum - w < total, all
      integers — exact against the SQL oracles). The last row always
      lands in part 1, so both sides are non-empty whenever the
      coarsest graph has >= 2 supers.

    Execution: SERIALLY ON THE DRIVER over the collected coarsest
    table — the textbook multilevel design (METIS computes its initial
    partition serially on the coarsest graph; making that graph
    node-bounded is the entire point of coarsening, and a production
    run ADDS LEVELS until it is — the same declared-bounded contract
    as the family's coarsest-table ranking window and exact AUC's eval
    set). The first, distributed cut of this function ran the two
    propagations as 24 eagerly-checkpointed micro-jobs per pipeline
    and dominated the family's in-suite cost (k2 32 s vs 21 s in r11);
    two bounded collects replace them. Every rule above is a pure
    function of the collected rows, so the SQL oracles (the unrolled
    BFS/label CTEs in plans/graph_queries.py:_mlp_cte_prefix) pin the
    driver computation exactly.

    The serial fill is correct design ONLY while the coarsest graph is
    node-bounded, so the collect is GUARDED: if the coarsest table holds
    more than ``collect_max`` supers (default MLP_COARSEST_MAX) this
    raises instead of silently OOMing the driver — the caller should
    coarsen further (``coarsest_max=`` on the pipeline entry points adds
    levels until bounded) or raise the declared bound consciously."""
    spark = e.sparkSession
    bound = MLP_COARSEST_MAX if collect_max is None else collect_max
    # Guarded collect in ONE action (previously count then collect — two
    # evaluations of the composition aggregate): limit(bound+1) caps the
    # driver transfer at the declared bound no matter how large the
    # coarsest table is, and overflowing it raises exactly as before.
    lw_rows = leaf_w.limit(bound + 1).collect()
    if len(lw_rows) > bound:
        raise RuntimeError(
            f"region_grow_bipartition: coarsest table has more than "
            f"{bound} supers, over the declared serial-fill bound. Coarsen "
            "further (pass coarsest_max= to the multilevel pipeline to "
            "auto-add levels) instead of collecting an unbounded table "
            "to the driver."
        )
    lw = {r["super"]: r["w"] for r in lw_rows}
    adj: dict = {}
    for r in e.select("u", "v").collect():
        adj.setdefault(r["u"], set()).add(r["v"])
        adj.setdefault(r["v"], set()).add(r["u"])
    dist: dict = {}
    if adj:
        seed = min(adj, key=lambda s: (-lw[s], s))
        dist[seed] = 0
        frontier = [seed]
        for d in range(1, bfs_rounds + 1):
            nxt = []
            for n in frontier:
                for m in adj[n]:
                    if m not in dist:
                        dist[m] = d
                        nxt.append(m)
            frontier = nxt
    lbl = {s: s for s in lw}
    for _ in range(bfs_rounds):
        prev = dict(lbl)  # synchronous rounds: read prev only
        lbl = {
            s: min(
                prev[s],
                min((prev[x] for x in adj.get(s, ())), default=prev[s]),
            )
            for s in lw
        }
    order = sorted(
        lw,
        key=lambda s: (
            dist.get(s, MLP_DIST_INF),
            -1 if s in dist else lbl[s],
            -lw[s],
            s,
        ),
    )
    total = sum(lw.values())
    out = []
    cum = 0
    for i, s in enumerate(order):
        cum += lw[s]
        part = 0 if i == 0 or 2 * cum - lw[s] < total else 1
        out.append((s, part))
    return spark.createDataFrame(out, "super bigint, part int")

def multilevel_partition_k2(
    edges: DataFrame,
    level_rounds: tuple[int, ...] = (3, 2, 2),
    coarsest_max: int | None = None,
) -> DataFrame:
    """METIS-shaped multilevel 2-way partition — coarsen, region-grow a
    2-coloring of the coarsest supers, project back to the leaves (see _multilevel_pipeline
    for the full contract; refinement lives in
    multilevel_partition_k2_refined). ``coarsest_max`` switches on
    coarsen-until-bounded (production mode — adds levels until the
    coarsest table is node-bounded); the default fixed-level mode keeps
    the certified oracles' exact semantics and still fails loudly on an
    over-bound coarsest collect. Returns (id, part) for every vertex of
    the undirected graph."""
    comp, _, _, part = _multilevel_pipeline(
        edges, level_rounds, coarsest_max=coarsest_max
    )
    return comp.join(part, "super").select("id", "part")


def refine_partition_sweep(
    e: DataFrame, part: DataFrame, leaf_w: DataFrame
) -> DataFrame:
    """ONE deterministic KL-style boundary sweep on the coarse graph —
    the refinement seam multilevel_partition_k2's docstring names:

    - gain(s) = external − internal edge weight of flipping super s
      under the CURRENT assignment (two per-edge contributions, one
      map-side-combined aggregate);
    - candidates = positive-gain supers on the HEAVIER side (by leaf
      weight, tie → part 0) — the balance guard, so refinement can only
      push toward balance, never away;
    - movers = candidates not BEATEN by an adjacent candidate (beaten =
      neighbor has larger gain, or equal gain and smaller id). Beating
      is a total order per edge, so movers form an INDEPENDENT SET: no
      cut edge flips both ends, the cut change decomposes per mover,
      and cut strictly drops by Σ gains — monotone non-increase is
      structural, pinned by pytest.

    Every step is a V_coarse-row join or a 2-row aggregate; nothing
    touches leaf rows. Deterministic, so fixed sweep counts unroll into
    the SQL oracle."""
    side = (
        part.join(leaf_w, "super")
        .groupBy("part")
        .agg(F.sum("w").alias("tw"))
    )
    heavier = side.orderBy(F.desc("tw"), F.asc("part")).limit(1).select("part")
    pu = part.select(F.col("super").alias("u"), F.col("part").alias("p_u"))
    pv = part.select(F.col("super").alias("v"), F.col("part").alias("p_v"))
    # Lazy checkpoint: the per-endpoint contribution union reads `both`
    # twice (one projection per endpoint), which otherwise plans — and
    # computes — the e ⋈ part ⋈ part join twice per sweep. No extra job;
    # the sweep's one action materializes it once.
    both = e.join(pu, "u").join(pv, "v").localCheckpoint(eager=False)
    c_expr = F.when(F.col("p_u") != F.col("p_v"), F.col("weight")).otherwise(
        -F.col("weight")
    )
    gain = (
        both.select(F.col("u").alias("super"), c_expr.alias("c"))
        .unionAll(both.select(F.col("v").alias("super"), c_expr.alias("c")))
        .groupBy("super")
        .agg(F.sum("c").alias("gain"))
    )
    # Lazy checkpoints, same rationale as `both`: cand is read three
    # times (cu, cv, movers) and the candidate adjacency twice (one
    # beaten-direction filter each).
    cand = (
        gain.filter(F.col("gain") > 0)
        .join(part, "super")
        .join(F.broadcast(heavier), "part", "left_semi")
        .select("super", "gain")
        .localCheckpoint(eager=False)
    )
    cu = cand.select(F.col("super").alias("u"), F.col("gain").alias("g_u"))
    cv = cand.select(F.col("super").alias("v"), F.col("gain").alias("g_v"))
    adj = e.join(cu, "u").join(cv, "v").localCheckpoint(eager=False)
    beaten = (
        adj.filter(
            (F.col("g_v") > F.col("g_u"))
            | ((F.col("g_v") == F.col("g_u")) & (F.col("v") < F.col("u")))
        )
        .select(F.col("u").alias("super"))
        .union(
            adj.filter(
                (F.col("g_u") > F.col("g_v"))
                | ((F.col("g_u") == F.col("g_v")) & (F.col("u") < F.col("v")))
            ).select(F.col("v").alias("super"))
        )
        .distinct()
    )
    movers = cand.select("super").join(beaten, "super", "left_anti")
    return part.join(
        movers.withColumn("mv", F.lit(1)), "super", "left"
    ).select(
        "super",
        F.when(F.col("mv").isNotNull(), 1 - F.col("part"))
        .otherwise(F.col("part"))
        .cast("int")
        .alias("part"),
    )


def multilevel_partition_k2_refined(
    edges: DataFrame,
    level_rounds: tuple[int, ...] = (3, 2, 2),
    sweeps: int = 2,
    coarsest_max: int | None = None,
    sym_edges: DataFrame | None = None,
) -> DataFrame:
    """multilevel_partition_k2 + ``sweeps`` deterministic boundary
    refinement sweeps at the coarsest level (see refine_partition_sweep)
    before projecting down — the full V-cycle shape minus per-level
    re-refinement. Cut non-increase per sweep is structural (independent-
    set movers); the leaf cut equals the refined coarse cut by the same
    conservation argument the unrefined projection pins."""
    comp, e, leaf_w, part = _multilevel_pipeline(
        edges, level_rounds, coarsest_max=coarsest_max, sym_edges=sym_edges
    )
    for _ in range(sweeps):
        part = refine_partition_sweep(e, part, leaf_w).localCheckpoint(
            eager=True
        )
    return comp.join(part, "super").select("id", "part")


def multilevel_partition_k2_vcycle(
    edges: DataFrame,
    level_rounds: tuple[int, ...] = (3, 2, 2),
    coarsest_sweeps: int = 2,
    sweeps_per_level: int = 1,
    coarsest_max: int | None = None,
) -> DataFrame:
    """The FULL METIS V-cycle: coarsen, region-grow-color and refine the coarsest
    graph (multilevel_partition_k2_refined's shape), then UNCOARSEN —
    project the assignment one level down at a time and run
    ``sweeps_per_level`` refine_partition_sweep passes on EACH finer
    graph, where boundary vertices regain the freedom the contraction
    took away (a super-vertex moves as a block at level k; its members
    can split across the cut at level k-1). Balance guards use the
    LEAF weight carried by each level-k node, so every level's sweeps
    push toward the same global balance.

    Scale: level-k sweeps are V_k-row joins + map-side-combined gain
    sums; level-0 sweeps touch the full vertex set but remain
    aggregate-shaped (no window, no sort). Deterministic end to end —
    fixed level/sweep counts unroll into the SQL oracle.

    Returns (id, part) for every vertex of the undirected graph."""
    levels, mappings, comps, part = _multilevel_pipeline_full(
        edges, level_rounds, coarsest_max=coarsest_max
    )
    # auto-added levels (coarsest_max mode) refine like fixed ones:
    # the uncoarsening walk runs over what the pipeline actually built
    n = len(mappings)
    # leaf weight per level-k node: k=0 -> 1 per vertex, else comp counts
    def lw_at(k: int) -> DataFrame:
        if k == 0:
            return (
                levels[0]
                .select(F.col("u").alias("super"))
                .union(levels[0].select(F.col("v").alias("super")))
                .distinct()
                .withColumn("w", F.lit(1).cast("bigint"))
            )
        return comps[k - 1].groupBy("super").agg(F.count(F.lit(1)).alias("w"))

    for _ in range(coarsest_sweeps):
        part = refine_partition_sweep(levels[n], part, lw_at(n)).localCheckpoint(
            eager=True
        )
    for k in range(n - 1, -1, -1):
        # project level-(k+1) parts onto level-k nodes via mapping_{k+1}
        part = (
            mappings[k]
            .join(
                part.select(
                    F.col("super").alias("up"), F.col("part").alias("part")
                ),
                F.col("super") == F.col("up"),
            )
            .select(F.col("node").alias("super"), "part")
        )
        for _ in range(sweeps_per_level):
            part = refine_partition_sweep(
                levels[k], part, lw_at(k)
            ).localCheckpoint(eager=True)
    return part.select(F.col("super").alias("id"), "part")


def multilevel_partition_k4(
    edges: DataFrame,
    top_levels: tuple[int, ...] = (3, 2, 2),
    top_sweeps: int = 2,
    side_levels: tuple[int, ...] = (3, 2),
    side_sweeps: int = 1,
    coarsest_max: int | None = None,
) -> DataFrame:
    """k-way partition by recursive bisection (k=4): refined top
    bisection, then an independent refined bisection of each side's
    induced subgraph; final label = top*2 + side bit. Vertices isolated
    inside their side default to sub-part 0 (every incident edge
    crosses the top cut, so their side-local placement is free). The
    two side pipelines are independent plans over disjoint edge sets —
    at scale they run concurrently, which is the METIS cost argument
    (k-way ~ log2(k) x one-bisection work over a shrinking graph). The
    driver runs the two sides one after the other."""
    # ONE materialization of the symmetrized weighted leaf table, shared
    # by the top bisection (via sym_edges) AND both side semi-joins —
    # previously the top call materialized its own copy of the identical
    # symmetrize+dedup lineage (r13 ADVICE: the same table was
    # materialized twice per k4 invocation; guide §5 reuse).
    und_w = (
        undirect_dedup(edges)
        .withColumn("weight", F.lit(1).cast("bigint"))
        .localCheckpoint(eager=True)
    )
    top = multilevel_partition_k2_refined(
        edges,
        top_levels,
        top_sweeps,
        coarsest_max=coarsest_max,
        sym_edges=und_w,
    ).localCheckpoint(eager=True)
    und = und_w.select("u", "v")

    def _side_assign(side: int) -> DataFrame:
        vs = top.filter(F.col("part") == side).select("id")
        e_side = und.join(
            vs.select(F.col("id").alias("u")), "u", "left_semi"
        ).join(vs.select(F.col("id").alias("v")), "v", "left_semi")
        # Materialize the side's induced subgraph once and hand it to the
        # pipeline as the pre-symmetrized leaf — e_side is already
        # canonical (u < v, deduped: a semi-join filter of und), so the
        # per-side re-dedup exchange the pipeline would otherwise plan is
        # pure waste (§2.4).
        side_sym = e_side.withColumn(
            "weight", F.lit(1).cast("bigint")
        ).localCheckpoint(eager=True)
        sub = multilevel_partition_k2_refined(
            e_side.select(
                F.col("u").alias("src"), F.col("v").alias("dst")
            ),
            side_levels,
            side_sweeps,
            coarsest_max=coarsest_max,
            sym_edges=side_sym,
        )
        return sub.select("id", F.col("part").alias(f"sp{side}"))

    subs = [_side_assign(side) for side in (0, 1)]
    return (
        top.join(subs[0], "id", "left")
        .join(subs[1], "id", "left")
        .select(
            "id",
            (
                F.col("part") * 2
                + F.coalesce(F.col("sp0"), F.col("sp1"), F.lit(0))
            )
            .cast("int")
            .alias("part"),
        )
    )
