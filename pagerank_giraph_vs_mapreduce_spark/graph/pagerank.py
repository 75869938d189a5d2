"""PageRank kernel: cached-DataFrame superstep loop (reference I1-I5, C1-C5,
A1, A4-A6, J1-J2).

Semantics (both reference engines agree on these, SURVEY.md §2.8/§4.3):
- uniform init pr = 1/N (MR/PageRankDriver.java:394-437 "align with NetworkX";
  GI/PageRankVertex.java:21-27)
- update: new = (1-d)/N + d*(dangling_sum/N + Σ contrib)
  (MR/PageRankReducer.java:100-115; GI/PageRankVertex.java:40-43)
- contribution = pr/outdeg scattered along each deduped out-edge
  (MR/PageRankMapper.java:83-95; GI/PageRankVertex.java:56-58)
- dangling mass redistributed uniformly; the reference applies iteration i's
  mass in iteration i+1 via counter/aggregator lag — we compute it from the
  *current* ranks inside each iteration, which is mathematically identical
  (SURVEY.md §4.3 note 2) without the lag plumbing.
- stop when avg |Δpr| = Σ|Δ|/N <= tol AND iter >= min_iter, or at max_iter
  (MR/PageRankDriver.java:207-216; GI/PageRankMasterCompute.java:105-117).
- numeric: full doubles throughout (Giraph semantics); we do NOT reproduce
  the MR side's %.10f truncation at iteration boundaries (C4) — the two
  reference engines already disagree at ~1e-10 because of it.

Execution shape (the whole point of the Spark design):
- one superstep driver, ``_supersteps``, runs every single-vector kernel:
  uniform ``pagerank``, ``personalized_pagerank`` (the same loop with a
  static ``reset`` column in the update rule) and ``pagerank_weighted``
  (the same loop with a ``pr * w / wsum`` edge share). Each kernel is a
  short setup that hands the driver its links table, its initial ranks
  and its update rule.
- graph structure (``links``) is shuffled ONCE at build, partitioned by src,
  and cached; each superstep re-shuffles only the V-row ranks table.
- per-superstep driver work is two actions: the scatter+gather+update plan,
  and one global aggregate returning (Σ|Δ|, dangling mass, Σpr) in a single
  pass — replacing the reference's three fixed-point Hadoop counters
  (MR/PageRankDriver.java:195-216) and Giraph DoubleSumAggregators.
- ``localCheckpoint`` EVERY superstep truncates lineage (the Spark
  analog of the reference's iteration-dir GC, MR/PageRankDriver.java:177-185).
  This is load-bearing: each superstep references the previous ranks twice
  (scatter join + update join), so without truncation the logical plan —
  and Catalyst's analysis time — doubles per iteration (measured: 1.7s →
  15s/iter by iteration 5 on a 4-vertex graph). The checkpoint materializes
  the new ranks, which we need anyway for the stats aggregate; superseded
  checkpoint RDDs are unpersisted by Spark's ContextCleaner once the driver
  drops its reference.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from pagerank_giraph_vs_mapreduce_spark.graph.builder import GraphTables, build_graph

# "auto" hub-split floor: below this out-degree a src can't meaningfully
# straggle a task, so tiny/test graphs (where E/partitions rounds to a few)
# never take the broadcast branch and keep the exact unsplit plan.
HUB_AUTO_FLOOR = 4096


@dataclass
class IterationStats:
    iteration: int
    avg_diff: float
    dangling_sum: float
    total_pr: float
    seconds: float
    # Per-phase split within the superstep (the MR PerformanceMonitor
    # setup/map/reduce analog, MR/PerformanceMonitor.java:49-79):
    # plan = driver-side DataFrame construction;
    # compute = the checkpoint call — physical planning plus AQE
    #   query-stage materialization (most of the scatter/gather work on
    #   large graphs; the full update materialization when phase_timing
    #   makes the checkpoint eager);
    # stats = the global aggregate action (finishes any deferred work).
    plan_seconds: float = 0.0
    compute_seconds: float = 0.0
    stats_seconds: float = 0.0


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id BIGINT, pr DOUBLE)
    n_vertices: int
    iterations: int
    converged: bool
    history: list[IterationStats] = field(default_factory=list)
    # Graph build + rank init wall time — the reference's Setup phase
    # (Giraph's 19.06 s graph load on web-Google, README.md:228).
    build_seconds: float = 0.0
    # Hub sources routed through the broadcast scatter branch (empty =
    # plain path). Observability for the "auto" threshold: a uniform
    # graph must report [] here.
    hub_ids: list[int] = field(default_factory=list)


def latest_checkpoint(spark, checkpoint_dir: str):
    """Most recent completed durable checkpoint under ``checkpoint_dir``,
    as ``(iteration, ranks_df)``, or ``None`` if none exists.

    Only directories with a committed ``_SUCCESS`` marker count — a write
    interrupted by the very failure the checkpoint exists for is invisible
    here, so recovery always resumes from a consistent table. Uses the
    Hadoop FileSystem API, so ``checkpoint_dir`` may be local, HDFS or
    object storage — the same namespaces a cluster job would write to."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(checkpoint_dir)
    fs = root.getFileSystem(hconf)
    if not fs.exists(root):
        return None
    best = None
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("iter_")):
            continue
        try:
            it = int(name[len("iter_"):])
        except ValueError:
            continue
        marker = jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
        if not fs.exists(marker):
            continue
        if best is None or it > best[0]:
            best = (it, st.getPath().toString())
    if best is None:
        return None
    return best[0], spark.read.parquet(best[1]).select("id", "pr")


def scatter_gather(
    links: DataFrame,
    ranks: DataFrame,
    hub_ids: list[int] | None = None,
    share: Column | None = None,
) -> DataFrame:
    """One J1/C2/A1 superstep message pass: scatter ``share`` (default
    pr/outdeg; the weighted kernel passes pr*w/wsum) along the cached
    links, gather by dst. ``hub_ids`` (hot out-degree sources,
    precomputed once per graph) routes the hub edge mass through a
    BROADCAST join of just those sources' ranks — the hub rows never
    shuffle and never pile one join partition onto one task.

    Why not AQE skew-join: ``links`` is cached pre-partitioned and the
    SMJ reads it via InMemoryTableScan — there is NO shuffle stage on
    either join side for OptimizeSkewedJoin to split (measured: the same
    join with uncached inputs and lowered thresholds does get
    ``skew=true``; through the cache it never does —
    tests/test_skew_scatter.py pins both). Explicit hub splitting is the
    plan-stable fix: hot srcs are few by definition (outdeg above a cap
    bounds their count at E/cap), so their (src, pr) rows broadcast for
    pennies while their edge rows — the actual mass — stay put.

    PLACED mode (ranks carry the static ``part`` label that ``pagerank``
    adds for a placed build — see graph/placement.py:build_placed_graph;
    the links then carry it too): the join runs on
    (part, src) instead of src. src functionally determines part, so
    the join is semantically identical, but the cached links side's
    HashPartitioning([part]) satisfies the clustered distribution and
    the E rows never re-shuffle; the scatter output stays part-local,
    which is what shrinks the gather exchange under a low-cut
    placement."""
    placed = "part" in ranks.columns
    if placed:
        ranks_src = ranks.select(F.col("id").alias("src"), "pr", "part")
        join_keys: list[str] | str = ["part", "src"]
    else:
        ranks_src = ranks.select(F.col("id").alias("src"), "pr")
        join_keys = "src"
    if share is None:
        share = F.col("pr") / F.col("outdeg")
    contrib = lambda df: df.select(  # noqa: E731
        F.col("dst").alias("id"), share.alias("contrib")
    )
    if hub_ids:
        hot = F.col("src").isin(hub_ids)
        scattered = contrib(
            links.filter(~hot).join(ranks_src.filter(~hot), join_keys)
        ).unionAll(
            contrib(
                links.filter(hot).join(
                    F.broadcast(ranks_src.filter(hot)), join_keys
                )
            )
        )
    else:
        scattered = contrib(links.join(ranks_src, join_keys))
    return scattered.groupBy("id").agg(F.sum("contrib").alias("contrib"))


def _dangling_mass() -> Column:
    return F.sum(F.when(F.col("dangling"), F.col("pr")).otherwise(0.0))


def _init_ranks(
    state: DataFrame, links: DataFrame, *cols: Column
) -> tuple[DataFrame, float]:
    """Rank init shared by the single-vector kernels: persist
    (id, *cols, dangling) for every vertex of ``state`` — ``dangling``
    is static, so each superstep's one stats action also yields the next
    dangling mass (A4+A5+A6) — and take the first dangling mass. Callers
    run it before stamping their build time: it is part of graph load,
    the reference's Setup phase."""
    out_src = links.select("src").distinct()
    ranks = (
        state.join(out_src, state.id == out_src.src, "left")
        .select("id", *cols, F.col("src").isNull().alias("dangling"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return ranks, float(ranks.agg(_dangling_mass()).first()[0] or 0.0)


def _uniform_update(damping: float, n: int):
    """C1 update with uniform teleport and same-iteration dangling
    redistribution: (1-d)/N + d*(Σ contrib + dangling_sum/N)."""
    base = (1.0 - damping) / n
    return lambda contrib, dsum: F.lit(base) + F.lit(damping) * (
        contrib + F.lit(dsum / n)
    )


def _supersteps(
    links: DataFrame,
    ranks: DataFrame,
    dangling_sum: float,
    update,
    n: int,
    max_iter: int,
    tol: float,
    min_iter: int,
    share: Column | None = None,
    hub_ids: list[int] | None = None,
    phase_timing: bool = False,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
) -> PageRankResult:
    """The superstep loop every single-vector PageRank kernel runs.

    ``ranks`` is the persisted frame from ``_init_ranks``; each superstep
    scatters ``share`` along ``links``, gathers by dst, and sets
    ``pr = update(contrib, dangling_sum)``, where ``contrib`` is the
    gathered mass (0.0 for a vertex no edge reaches) and
    ``dangling_sum`` the dangling mass of the current ranks. Every other
    ranks column (``dangling``, PPR's ``reset``, placed mode's ``part``)
    rides along unchanged. The initial ranks are released on every exit
    path; later ranks are checkpoint-backed."""
    init = ranks
    carry = [c for c in ranks.columns if c != "pr"]
    history: list[IterationStats] = []
    converged = False
    try:
        for i in range(max_iter):
            t0 = time.monotonic()
            # J1/C2 scatter + A1 gather: links is cached pre-partitioned by
            # src, so only the V-row ranks side shuffles here; hub sources
            # (if any) scatter via broadcast instead.
            msgs = scatter_gather(links, ranks, hub_ids, share)
            new = (
                ranks.select(*carry, F.col("pr").alias("pr_old"))
                .join(msgs, "id", "left")
                .select(
                    *carry,
                    "pr_old",
                    update(
                        F.coalesce(F.col("contrib"), F.lit(0.0)), dangling_sum
                    ).alias("pr"),
                )
            )
            # Lazy localCheckpoint truncates the logical plan immediately
            # (the returned DF is LogicalRDD-backed) while deferring
            # materialization to the stats aggregate below — ONE action per
            # superstep. Under phase_timing the checkpoint is eager instead,
            # splitting the wall time into a compute job and a stats job.
            t_plan = time.monotonic()
            new = new.localCheckpoint(eager=phase_timing)
            t_compute = time.monotonic()
            stats = new.agg(
                F.sum(F.abs(F.col("pr") - F.col("pr_old"))).alias("diff"),
                _dangling_mass().alias("dsum"),
                F.sum("pr").alias("total"),
            ).first()
            t_stats = time.monotonic()

            ranks.unpersist()
            ranks = new.select(*init.columns)
            dangling_sum = float(stats["dsum"] or 0.0)
            avg_diff = float(stats["diff"] or 0.0) / n
            iterations = i + 1
            history.append(
                IterationStats(
                    iteration=iterations,
                    avg_diff=avg_diff,
                    dangling_sum=dangling_sum,
                    total_pr=float(stats["total"] or 0.0),
                    seconds=time.monotonic() - t0,
                    # The lazy localCheckpoint call spans physical planning
                    # AND AQE query-stage materialization (.rdd on an
                    # adaptive plan executes intermediate shuffle stages
                    # synchronously), so on large graphs it is mostly
                    # compute; it lands in compute either way, with plan
                    # covering only DF construction.
                    plan_seconds=t_plan - t0,
                    compute_seconds=t_compute - t_plan,
                    stats_seconds=t_stats - t_compute,
                )
            )
            if iterations >= min_iter and avg_diff <= tol:
                converged = True
                break
            if checkpoint_dir is not None and iterations % checkpoint_every == 0:
                # One extra V-row action per checkpoint_every supersteps; the
                # ranks are already materialized by the stats aggregate, so
                # this rescans the LogicalRDD, not the superstep lineage.
                ranks.select("id", "pr").write.mode("overwrite").parquet(
                    f"{checkpoint_dir}/iter_{iterations:05d}"
                )
    finally:
        init.unpersist()
    return PageRankResult(
        ranks.select("id", "pr"), n, len(history), converged, history
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 100,
    tol: float = 1e-6,
    min_iter: int = 5,
    graph: GraphTables | None = None,
    initial_ranks: DataFrame | None = None,
    phase_timing: bool = False,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    hub_split_outdeg: int | None | str = "auto",
) -> PageRankResult:
    """Run PageRank over edges(src, dst); returns ranks + convergence history.

    Arg contract mirrors the reference CLI ``<in> <out> [maxIter] [damping]
    [threshold] [minIter]`` (MR/PageRankDriver.java:64-71; experiments use
    maxIter=100, threshold=1e-8, README.md:125-128).

    ``phase_timing=True`` makes the per-superstep checkpoint eager so the
    scatter/gather/update materialization and the stats aggregate are
    timed as separate phases (the MR map-vs-reduce wall split,
    MR/PerformanceMonitor.java:49-79) — at the cost of a second job per
    superstep that rescans the materialized V rows; leave False on the
    performance path, where both fuse into one action.

    ``initial_ranks`` (id, pr) resumes from previously materialized state —
    e.g. an R2 state file written by sources/statefile.py or by the
    reference itself. This keeps MR's durability property (restart from the
    last materialized iteration, MR/PageRankDriver.java:120-161) as an
    opt-in, without paying the per-iteration materialization tax that is
    MR's documented 3.7× slowdown. Vertices missing from the provided state
    are seeded uniformly at 1/N.

    ``hub_split_outdeg`` caps the per-task cost of hub SOURCES: srcs
    whose out-degree exceeds the cap scatter through a broadcast join of
    just their ranks (see ``scatter_gather``) instead of piling their
    edge rows' join work onto the single task that owns their hash
    partition. Default ``"auto"`` (VERDICT r07 item 7) derives the cap
    at build time as ``max(HUB_AUTO_FLOOR, E // shuffle_partitions)`` —
    a src owning more edges than one partition's fair share IS the
    straggler bound on a 1000-executor cluster, while the floor keeps
    test-sized graphs (where E/P rounds to a few) off the split path.
    On uniform graphs no src exceeds the fair share, so hub_ids is
    empty and the plan is bit-identical to the unsplit path (pinned by
    tests/test_skew_scatter.py). Pass an int to pin the cap manually or
    ``None`` to disable; the id list collects at most E/cap entries.

    ``checkpoint_dir`` (default off — local behavior unchanged) writes the
    ranks table durably every ``checkpoint_every`` supersteps as parquet
    under ``<checkpoint_dir>/iter_<i>``, the cluster-durability knob
    SCALING.md §8 prescribes: ``localCheckpoint`` state dies with an
    executor, so a long run on preemptible hardware periodically pays one
    V-row write instead of risking a from-scratch restart. Recovery is
    ``latest_checkpoint(spark, dir)`` → ``initial_ranks=`` in a fresh
    session — the reference's own restart-from-materialized-iteration
    property (MR/PageRankDriver.java:120-161) at 1/``checkpoint_every``
    of its every-iteration cost, and the iteration arithmetic is state-
    free (dangling mass is recomputed from the ranks themselves), so a
    resumed run continues bit-identically.
    """
    if checkpoint_dir is not None and checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}"
        )
    t_setup = time.monotonic()
    spark = edges.sparkSession
    own_graph = graph is None
    g = graph or build_graph(edges)
    try:
        n = g.n_vertices
        if n == 0:
            empty = spark.createDataFrame([], "id bigint, pr double")
            return PageRankResult(empty, 0, 0, True, [])

        # A PLACED build (g.parts set) carries the static `part` label so
        # the scatter join can run on (part, src) against the
        # part-distributed links cache — see scatter_gather.
        placed = g.parts is not None
        state = g.vertices.join(g.parts, "id") if placed else g.vertices
        init_pr = F.lit(1.0 / n)
        if initial_ranks is not None:
            state = state.join(
                initial_ranks.select("id", F.col("pr").alias("pr0")), "id", "left"
            )
            init_pr = F.coalesce(F.col("pr0"), init_pr)
        ranks, dangling_sum = _init_ranks(
            state, g.links, init_pr.alias("pr"), *(["part"] if placed else [])
        )
        # Hub split (README.md:417-418 pathology): sources above the
        # out-degree cap are collected ONCE here — a bounded driver list (at
        # most E/cap ids, e.g. ≤100 for cap=1M on 100M edges; same
        # plan-constant class as the per-superstep stats action) — and their
        # scatter rides a broadcast join every superstep (see scatter_gather).
        hub_ids: list[int] = []
        if hub_split_outdeg == "auto":
            shuffle_parts = int(
                spark.conf.get("spark.sql.shuffle.partitions", "200")
            )
            hub_split_outdeg = max(
                HUB_AUTO_FLOOR, g.n_edges // max(shuffle_parts, 1)
            )
        if hub_split_outdeg is not None:
            hub_ids = [
                r["src"]
                for r in g.links.filter(F.col("outdeg") > hub_split_outdeg)
                .select("src")
                .distinct()
                .collect()
            ]
        build_seconds = time.monotonic() - t_setup

        # Placed mode leans on SUBSET co-partitioning: the links cache is
        # HashPartitioning([part]) and the scatter joins on (part, src) —
        # valid co-location (equal (part, src) implies equal part) that
        # Spark >= 3.3 rejects by default (requireAllClusterKeysForCoPartition,
        # a skew-conservatism default aimed at low-cardinality prefixes; a
        # graph partition is balance-guarded by construction). Scoped to the
        # iteration loop and restored after, so no other query's planning
        # changes.
        copart_key = "spark.sql.requireAllClusterKeysForCoPartition"
        copart_prev = spark.conf.get(copart_key, "true")
        if placed:
            spark.conf.set(copart_key, "false")
        try:
            result = _supersteps(
                g.links, ranks, dangling_sum, _uniform_update(damping, n), n,
                max_iter, tol, min_iter,
                hub_ids=hub_ids,
                phase_timing=phase_timing,
                checkpoint_dir=checkpoint_dir,
                checkpoint_every=checkpoint_every,
            )
        finally:
            if placed:
                spark.conf.set(copart_key, copart_prev)
    finally:
        if own_graph:
            g.unpersist()
    result.build_seconds = build_seconds
    result.hub_ids = hub_ids
    return result


def personalized_pagerank(
    edges: DataFrame,
    sources: list[int],
    damping: float = 0.85,
    max_iter: int = 100,
    tol: float = 1e-6,
    min_iter: int = 5,
    graph: GraphTables | None = None,
) -> PageRankResult:
    """PageRank with teleport restricted to ``sources`` (random-walk-with-
    restart relevance scores).

    Not in the reference (its teleport is uniform, GI/PageRankVertex.java:40-43);
    this is the standard personalization extension of the same C1 formula:
    the uniform reset 1/N becomes a reset vector v with v_i = 1/|S| for
    i ∈ S else 0, and dangling mass redistributes along v instead of
    uniformly:

        pr = (1-d)*v + d*(Σ contrib + dangling_sum * v)

    Init pr = v (the walk starts at the sources). The ranks carry v as a
    static ``reset`` column and run the one superstep driver,
    ``_supersteps``, with this update rule. Sources absent from the graph
    contribute no mass (their reset weight is simply never materialized),
    keeping results well-defined on any input.
    """
    own_graph = graph is None
    g = graph or build_graph(edges)
    try:
        n = g.n_vertices
        if n == 0 or not sources:
            empty = edges.sparkSession.createDataFrame([], "id bigint, pr double")
            return PageRankResult(empty, n, 0, True, [])
        src_ids = [int(s) for s in sources]
        reset = F.when(
            F.col("id").isin(src_ids), F.lit(1.0 / len(sources))
        ).otherwise(F.lit(0.0))
        ranks, dangling_sum = _init_ranks(
            g.vertices, g.links, reset.alias("reset"), reset.alias("pr")
        )

        def update(contrib: Column, dsum: float) -> Column:
            return F.lit(1.0 - damping) * F.col("reset") + F.lit(damping) * (
                contrib + F.lit(dsum) * F.col("reset")
            )

        return _supersteps(
            g.links, ranks, dangling_sum, update, n, max_iter, tol, min_iter
        )
    finally:
        if own_graph:
            g.unpersist()


def personalized_pagerank_multi(
    edges: DataFrame,
    seeds: list[int],
    damping: float = 0.85,
    k: int = 3,
    graph: GraphTables | None = None,
) -> DataFrame:
    """One INDEPENDENT PPR vector per seed, all seeds batched through a
    single edge pass per superstep — the recsys "similar items for every
    anchor" shape, where personalized_pagerank's shared teleport set
    answers a different question (one blended walk).

    State is SPARSE: rows (s, id, pr) exist only where the walk from s
    has positive mass, so the per-superstep scatter is
    Σ_s |frontier_s|-proportional (the multi_bfs / batched-Brandes
    amortization), never K*V — and since the per-seed reset vector is
    e_s, an absent (s, id) row IS the exact 0.0 the dense formula gives.
    Per superstep: one links join keyed on the SAME cached partitioning
    the uniform kernel uses, one (s, id) gather aggregate, one K-row
    dangling aggregate, one full-outer merge with the K boost rows;
    state localCheckpoints per round (the kernel's lineage discipline).

    Returns (s, id, pr) after exactly ``k`` supersteps (unrolled-SQL
    oracle discipline; convergence looping belongs to the single-vector
    kernels)."""
    spark = edges.sparkSession
    own_graph = graph is None
    g = graph or build_graph(edges)
    state = spark.createDataFrame(
        [(int(s), int(s), 1.0) for s in seeds], "s bigint, id bigint, pr double"
    ).localCheckpoint(eager=True)
    seeds_df = spark.createDataFrame([(int(s),) for s in seeds], "s bigint")
    out_src = g.links.select("src").distinct()
    for _ in range(k):
        contribs = (
            state.join(g.links, state.id == g.links.src)
            .select(
                "s",
                F.col("dst").alias("id"),
                (F.col("pr") / F.col("outdeg")).alias("c"),
            )
            .groupBy("s", "id")
            .agg(F.sum("c").alias("contrib"))
        )
        dang = (
            state.join(out_src, state.id == out_src.src, "left_anti")
            .groupBy("s")
            .agg(F.sum("pr").alias("dm"))
        )
        boosts = seeds_df.join(dang, "s", "left").select(
            "s",
            F.col("s").alias("id"),
            (
                F.lit(1.0 - damping)
                + F.lit(damping) * F.coalesce("dm", F.lit(0.0))
            ).alias("boost"),
        )
        state = (
            contribs.join(boosts, ["s", "id"], "full")
            .select(
                "s",
                "id",
                (
                    F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
                    + F.coalesce("boost", F.lit(0.0))
                ).alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
    # state is eagerly checkpointed, so it outlives the graph's cache
    if own_graph:
        g.unpersist()
    return state


def top_k(ranks: DataFrame, k: int = 50) -> DataFrame:
    """T1: top-K vertices by PR (reference K=50, MR/PageRankDriver.java:352-384).

    ``orderBy(desc).limit(k)`` compiles to TakeOrderedAndProject — the
    distributed version of the reference's driver-side bounded min-heap.
    Ties broken by id for determinism (the reference heap's tie order is
    arrival order, i.e. unspecified).
    """
    return ranks.orderBy(F.desc("pr"), F.asc("id")).limit(k)


def pagerank_weighted(
    edges: DataFrame,
    weight_col: str = "w",
    damping: float = 0.85,
    max_iter: int = 100,
    tol: float = 1e-6,
    min_iter: int = 5,
) -> PageRankResult:
    """Weight-proportional PageRank: contribution along each edge is
    pr * w / wsum(src) instead of pr / outdeg — the natural weighted
    extension of the reference's C1/C2 formulas (its graph is unweighted,
    GI/PageRankVertex.java:56-58; uniform weights reduce exactly to the
    unweighted kernel, which the pytest asserts).

    Contract: ``edges(src, dst, w)`` carries ONE row per (src, dst) with a
    positive weight (e.g. raw-edge multiplicity from the A2 dedup — the
    information the unweighted kernel throws away). The weighted edge
    table shuffles once at build (carrying w and its per-src sum) and
    stays cached sorted by src; the supersteps are the one driver,
    ``_supersteps``, with the uniform update rule and a pr*w/wsum edge
    share."""
    w = F.col(weight_col)
    wedges = edges.select("src", "dst", w.cast("double").alias("w"))
    # ONE E-row shuffle for the build: the E rows move once
    # (repartition("src")); the per-src weight sums arrive PARTIAL-
    # aggregated through their own V-row exchange on the same key; and
    # the merge join runs exchange-free on the shared hash(src) layout,
    # leaving the cache SORTED by src. The previous build paid the
    # join's E-row exchange, then re-shuffled the joined E rows AGAIN
    # through repartition("src") — and at cluster scale its V-row
    # broadcast of wdeg is a driver-memory hazard the co-partitioned
    # merge join does not have (guide §2.4/§3.1).
    wdeg = wedges.groupBy("src").agg(F.sum("w").alias("wsum"))
    links = (
        wedges.repartition("src")
        .join(wdeg.hint("merge"), "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        verts = (
            wedges.select(F.col("src").alias("id"))
            .union(wedges.select(F.col("dst").alias("id")))
            .distinct()
        )
        n = verts.count()
        if n == 0:
            empty = edges.sparkSession.createDataFrame([], "id bigint, pr double")
            return PageRankResult(empty, 0, 0, True, [])
        ranks, dangling_sum = _init_ranks(
            verts, links, F.lit(1.0 / n).alias("pr")
        )
        return _supersteps(
            links, ranks, dangling_sum, _uniform_update(damping, n), n,
            max_iter, tol, min_iter,
            share=F.col("pr") * F.col("w") / F.col("wsum"),
        )
    finally:
        links.unpersist()
