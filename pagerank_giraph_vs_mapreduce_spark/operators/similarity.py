"""Similarity search over an embedding column (ARRAY<FLOAT>).

Brute-force cosine top-k is the exactness baseline; the LSH-bucketed
variant is the scale path (prune to one hyperplane-sign bucket before
scoring). Embedding math casts FLOAT→DOUBLE per element BEFORE any
arithmetic: float ops differ between engines, double ops are IEEE-identical
(cast is exact), keeping DuckDB oracles bit-stable up to a final rounding.

Scale notes: scoring is a broadcast of the (tiny) query vector against a
narrow map over the embeddings table — no shuffle until top-k
(TakeOrderedAndProject). The LSH variant adds one narrow bucket-id map and
a bucket-equality filter, which at scale becomes a partition-pruned read
when the table is written bucketed/partitioned by bucket id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_scores(
    emb: DataFrame,
    query: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(id, cos_sim[, keep...]) raw cosine of every ``emb`` row against the
    single-row ``query`` — the builtin higher-order-function scoring
    kernel (broadcast query, narrow map, no shuffle)."""
    q = F.broadcast(query.select(_as_double(F.col(vec_col)).alias("qv")))
    # try_divide: a zero-norm vector (or query) scores NULL — identically
    # under ANSI (where bare `/` would THROW mid-scan) and non-ANSI mode.
    # NULL sorts last under desc, so degenerate rows can never enter top-k.
    return emb.crossJoin(q).select(
        F.col(id_col),
        F.try_divide(
            _dot(_as_double(F.col(vec_col)), F.col("qv")),
            _norm(_as_double(F.col(vec_col))) * _norm(F.col("qv")),
        ).alias("cos_sim"),
        *keep,
    )


def cosine_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Brute-force cosine top-k of ``emb`` rows against the single-row
    ``query`` DataFrame (same vec_col). Deterministic tie-break on id.
    ``keep`` carries extra ``emb`` columns (e.g. metadata the caller
    filtered on) through scoring into the result."""
    scored = cosine_scores(emb, query, id_col, vec_col, keep)
    return (
        scored.select(id_col, F.round("cos_sim", 6).alias("cos_sim"), *keep)
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def cosine_scores_vectorized(
    emb: DataFrame,
    query: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-vectorized twin of the cosine scoring kernel: a scalar
    pandas_udf that lifts each Arrow batch into one numpy matmul instead
    of evaluating the aggregate-lambda higher-order expression per row.
    The HOF form (``_dot``/``_norm``) does not whole-stage-codegen, so at
    100 TB the distance kernel — the hot loop of every ANN probe — is
    worth a measured comparison per scale (decision
    in SCALING.md §10). Plan shape is identical to ``cosine_topk``:
    broadcast 1-row query, narrow map over the scan, no shuffle.

    Arithmetic: elements are cast FLOAT→DOUBLE before multiplication
    (exact), but BLAS sums in a different order than the sequential HOF
    fold — the difference is ~1e-15, absorbed by the 6-dp rounding
    contract both kernels already publish."""
    from pyspark.sql.functions import pandas_udf

    # no type hints: the module's `from __future__ import annotations`
    # stringifies them and pandas_udf can't resolve `pd` from here —
    # the explicit returnType + legacy scalar form carries the contract
    def _cos_batch_fn(vecs, qvs):
        import numpy as np
        import pandas as pd

        if len(vecs) == 0:
            return pd.Series([], dtype="float64")
        m = np.asarray(vecs.tolist(), dtype=np.float64)
        q = np.asarray(qvs.iloc[0], dtype=np.float64)
        dots = m @ q
        norms = np.sqrt((m * m).sum(axis=1)) * np.sqrt((q * q).sum())
        # zero-norm parity with the HOF kernel: Spark's non-ANSI Divide
        # yields NULL on a zero divisor, while numpy would yield nan/inf
        # (which sorts FIRST under desc, flipping top-k on degenerate
        # vectors) — mask zero norms to true nulls via the nullable dtype
        with np.errstate(divide="ignore", invalid="ignore"):
            out = pd.Series(dots / norms, dtype="Float64")
        out[norms == 0] = pd.NA
        return out

    _cos_batch = pandas_udf(_cos_batch_fn, returnType="double")

    q = F.broadcast(query.select(_as_double(F.col(vec_col)).alias("qv")))
    return emb.crossJoin(q).select(
        F.col(id_col),
        _cos_batch(_as_double(F.col(vec_col)), F.col("qv")).alias("cos_sim"),
    )


def cosine_topk_vectorized(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``cosine_topk`` with the Arrow/numpy scoring kernel; same
    deterministic contract (round 6 dp, id tie-break, TakeOrdered)."""
    scored = cosine_scores_vectorized(emb, query, id_col, vec_col)
    return (
        scored.select(id_col, F.round("cos_sim", 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def hyperplane_bucket(
    emb: DataFrame,
    planes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_id: str = "plane_id",
) -> DataFrame:
    """LSH bucket id = bit vector of sign(dot(x, plane_i)).

    ``planes`` is a small (plane_id, embedding) DataFrame — here derived
    deterministically from the data itself (first vectors of the table) so
    the DuckDB oracle can reconstruct identical planes.
    """
    p = F.broadcast(
        planes.select(
            F.col(plane_id), _as_double(F.col(vec_col)).alias("pv")
        )
    )
    signs = emb.crossJoin(p).select(
        F.col(id_col),
        plane_id,
        F.when(_dot(_as_double(F.col(vec_col)), F.col("pv")) > 0, 1).otherwise(0).alias(
            "bit"
        ),
    )
    return signs.groupBy(id_col).agg(
        # SQL expr: F.shiftleft only takes a literal shift amount
        F.sum(F.expr(f"shiftleft(bit, cast({plane_id} as int))"))
        .cast("long")
        .alias("bucket")
    )


def multitable_buckets(
    emb: DataFrame,
    planes: DataFrame,
    bits_per_table: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table hyperplane LSH: one (id, tbl, bucket) row per hash table.

    ``planes`` is (plane_id, embedding) with consecutive plane_ids; table
    t owns planes [t*b, (t+1)*b). L tables of b bits trade candidate-set
    size for recall: a neighbor at angle theta collides in one table with
    p = (1 - theta/pi)^b, and across L tables recall is 1 - (1 - p)^L —
    the knob the single-bucket variant lacks. At scale the (tbl, bucket)
    pair is the shuffle/bucketing key and each table's candidate join is
    an equi-join, never a cross product.
    """
    b = bits_per_table
    p = F.broadcast(
        planes.select(F.col("plane_id"), _as_double(F.col(vec_col)).alias("pv"))
    )
    signs = emb.crossJoin(p).select(
        F.col(id_col),
        F.col("plane_id"),
        F.when(_dot(_as_double(F.col(vec_col)), F.col("pv")) > 0, 1)
        .otherwise(0)
        .alias("bit"),
    )
    return signs.groupBy(
        id_col, F.expr(f"plane_id DIV {b}").cast("int").alias("tbl")
    ).agg(
        F.sum(F.expr(f"shiftleft(bit, cast(plane_id % {b} as int))"))
        .cast("long")
        .alias("bucket")
    )


def _codebook(
    centroids: DataFrame, vec_col: str, centroid_id: str
) -> DataFrame:
    """Collapse the (tiny) centroid table into ONE broadcast row holding
    ``cbook: array<struct<cid, cv>>`` — the shuffle-free carrier for
    per-row argmax/top-nprobe expressions."""
    return F.broadcast(
        centroids.select(
            F.struct(
                F.col(centroid_id).alias("cid"),
                _as_double(F.col(vec_col)).alias("cv"),
            ).alias("c")
        ).agg(F.array_sort(F.collect_list("c")).alias("cbook"))
    )


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its max-dot-product
    centroid (deterministic tie-break: round(dot, 6) desc, centroid id asc).

    Shuffle-free by construction: the (tiny) codebook is collapsed into ONE
    broadcast row holding ``array<struct<cid, cv>>``, and the argmax is a
    per-row higher-order expression (``transform`` + ``array_max`` over
    ``struct(dot, -cid)``) — no window, no N×k row fan-out, zero exchanges
    on the N-row side. At 100 TB this is a narrow map over the scan;
    writing the table partitioned by ``centroid_id`` turns probe-time reads
    into partition pruning.

    ``keep`` carries extra ``emb`` columns through (e.g. the vector itself),
    so callers that need (id, centroid, vec) avoid a join back onto ``emb``.
    """
    cbook = _codebook(centroids, vec_col, centroid_id)
    vec_d = _as_double(F.col(vec_col))
    # (round(dot,6), -cid) pairs: array_max picks max dot, then max(-cid)
    # == min cid — identical ordering to the SQL oracle's row_number.
    scored_arr = F.transform(
        F.col("cbook"),
        lambda c: F.struct(
            F.round(_dot(vec_d, c["cv"]), 6).alias("dot"),
            (-c["cid"]).alias("ncid"),
        ),
    )
    return emb.crossJoin(cbook).select(
        F.col(id_col),
        (-F.array_max(scored_arr)["ncid"]).alias(centroid_id),
        *keep,
    )


def kmeans_fit(
    emb: DataFrame,
    centroids: DataFrame,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
) -> DataFrame:
    """Fixed-iteration Lloyd k-means refinement of an initial codebook —
    the distributed IVF-training step (assignment by max dot product,
    update by element-wise mean of assigned vectors; empty cells keep
    their previous centroid).

    Determinism discipline (so a SQL oracle can replay it exactly):
    assignment ranks on round(dot, 6) with centroid-id tie-break (same
    as ivf_assign); means are computed as exact DECIMAL sums divided by
    counts and rounded to 9 dp before the next iteration's dot products.

    Scale shape per iteration: a shuffle-free per-row argmax against the
    broadcast codebook (the vector column rides along via ``keep``, so
    there is no join back onto ``emb``), then posexplode to (cell, dim)
    rows and one map-side-combined aggregation of k*dim cells — exactly
    one exchange per iteration. The codebook stays tiny and driver-free.
    Returns (centroid_id, embedding ARRAY<DOUBLE>).
    """
    c = centroids.select(
        F.col(centroid_id), _as_double(F.col(vec_col)).alias(vec_col)
    )
    for _ in range(iters):
        assigned = ivf_assign(emb, c, id_col, vec_col, centroid_id, keep=(vec_col,))
        upd = (
            assigned.select(centroid_id, F.posexplode(_as_double(F.col(vec_col))))
            .groupBy(centroid_id, "pos")
            .agg(
                # exact decimal sum -> double, then IEEE division + 9-dp
                # round: bit-identical in Spark and the SQL oracle
                # (decimal/decimal division scale rules differ between
                # engines; double division does not).
                F.round(
                    F.sum(F.col("col").cast("decimal(38,12)")).cast("double")
                    / F.count(F.lit(1)),
                    9,
                ).alias("val")
            )
            .groupBy(centroid_id)
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "val"))),
                    lambda s: s.val,
                ).alias("upd_emb")
            )
        )
        c = (
            c.join(upd, centroid_id, "left")
            .select(
                centroid_id,
                F.coalesce(F.col("upd_emb"), F.col(vec_col)).alias(vec_col),
            )
            .localCheckpoint(eager=False)
        )
    return c


def ivf_query_cells(
    query: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
) -> DataFrame:
    """The query's ``nprobe`` nearest coarse cells as ONE row holding
    ``qcells: array<cid>`` (ordered by round(dot,6) desc, cid asc — the
    same tie-break as ivf_assign). Shuffle-free: sort + slice of the
    broadcast codebook array per query row.

    Contract: ``query`` is a single query vector. The frame is
    ``limit(1)``-ed here so a multi-row input cannot silently emit one
    qcells row per input row and duplicate candidates in the downstream
    crossJoin (batch multi-query probing would need the query id carried
    through and an equi-join on it instead)."""
    query = query.limit(1)
    cbook = _codebook(centroids, vec_col, centroid_id)
    vec_d = _as_double(F.col(vec_col))
    # ascending sort of (-dot, cid) == (dot desc, cid asc)
    ranked = F.array_sort(
        F.transform(
            F.col("cbook"),
            lambda c: F.struct(
                (-F.round(_dot(vec_d, c["cv"]), 6)).alias("ndot"),
                c["cid"].alias("cid"),
            ),
        )
    )
    return query.crossJoin(cbook).select(
        F.transform(F.slice(ranked, 1, nprobe), lambda s: s["cid"]).alias(
            "qcells"
        )
    )


def ivf_cosine_topk(
    emb: DataFrame,
    query: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: score only vectors in the query's ``nprobe`` nearest coarse
    cells — the standard recall/latency knob (nprobe=k recovers brute force).

    Candidate pruning is shuffle-free: the assignment rides the scan
    (``keep=vec``), the query's probe cells are a 1-row broadcast array,
    so the whole probe is scan → filter → top-k (TakeOrderedAndProject).
    With the table written partitioned by ``centroid_id``, the cell filter
    becomes partition pruning and only nprobe/k of the data is read.
    """
    assign = ivf_assign(emb, centroids, id_col, vec_col, keep=(vec_col,))
    qcells = ivf_query_cells(query, centroids, nprobe, vec_col)
    candidates = (
        assign.crossJoin(F.broadcast(qcells))
        .filter(F.array_contains("qcells", F.col("centroid_id")))
        .select(id_col, vec_col)
    )
    return cosine_topk(candidates, query, k, id_col, vec_col)


def embedding_near_dups(
    emb: DataFrame,
    planes: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos ≥ threshold).

    Candidate pairs are restricted to same-LSH-bucket vectors (identical/
    near-identical vectors always share a bucket), so the self-join is per
    bucket, not the full cross product; exact cosine then filters. At scale
    the bucket column becomes the shuffle/bucketing key.
    """
    buckets = hyperplane_bucket(emb, planes, id_col, vec_col)
    withb = emb.join(buckets, id_col)
    a = withb.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "bucket"
    )
    b = withb.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "bucket"
    )
    pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    # try_divide: zero-norm vectors score NULL (never enter any pair
    # set) instead of aborting the job under ANSI mode
    cos = F.try_divide(
        _dot(_as_double(F.col("va")), _as_double(F.col("vb"))),
        _norm(_as_double(F.col("va"))) * _norm(_as_double(F.col("vb"))),
    )
    return (
        pairs.select("id_a", "id_b", F.round(cos, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
) -> DataFrame:
    """SemDedup-style semantic deduplication (Abbas et al. 2023, "SemDedup:
    Data-efficient learning at web-scale through semantic deduplication"):
    cluster every embedding against a (k-means) codebook, then inside each
    cluster drop any vector whose cosine to a SMALLER-id cluster-mate is
    ≥ ``threshold`` — the smallest id of each semantic near-dup group
    survives. Returns surviving ``(id, centroid_id)`` rows.

    Spark shape: :func:`ivf_assign`'s broadcast-codebook argmax tags every
    row with its cluster (zero exchanges on the N-row side), then ONE
    equi-self-join on ``centroid_id`` produces within-cluster candidate
    pairs — never all-pairs; at scale k grows with N so cluster sizes stay
    bounded and ``centroid_id`` is the shuffle/bucketing key. Dominated
    ids are removed with a left-anti join (null-safe, no distinct needed).

    Determinism: dominance is an EXISTS over *all* smaller-id mates (not a
    sequential greedy chain), so the survivor set is order-independent and
    a SQL oracle can replay it exactly; cosine rounds to 6 dp before the
    threshold compare, same discipline as :func:`embedding_near_dups`.
    """
    assigned = ivf_assign(
        emb, centroids, id_col, vec_col, centroid_id, keep=(vec_col,)
    )
    a = assigned.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), centroid_id
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), centroid_id
    )
    # try_divide: zero-norm vectors score NULL (never enter any pair
    # set) instead of aborting the job under ANSI mode
    cos = F.try_divide(
        _dot(_as_double(F.col("va")), _as_double(F.col("vb"))),
        _norm(_as_double(F.col("va"))) * _norm(_as_double(F.col("vb"))),
    )
    dominated = (
        a.join(b, centroid_id)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.round(cos, 6) >= threshold)
        .select(F.col("id_b").alias(id_col))
    )
    return assigned.select(id_col, centroid_id).join(
        dominated, id_col, "left_anti"
    )


def lsh_cosine_topk(
    emb: DataFrame,
    query: DataFrame,
    planes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN: score only vectors in the query's hyperplane-sign bucket."""
    buckets = hyperplane_bucket(emb, planes, id_col, vec_col)
    qbucket = hyperplane_bucket(query, planes, id_col, vec_col).select(
        F.col("bucket").alias("qb")
    )
    candidates = (
        emb.join(buckets, id_col)
        .crossJoin(F.broadcast(qbucket))
        .filter(F.col("bucket") == F.col("qb"))
        .select(id_col, vec_col)
    )
    return cosine_topk(candidates, query, k, id_col, vec_col)


def pq_encode(
    emb: DataFrame,
    centroids: DataFrame,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Product quantization encode: split each ``dim``-d vector into ``m``
    subvectors of ``dim/m`` dims and store, per subspace, the id of the
    nearest (min squared-L2, round(.,6), centroid-id tie-break) codebook
    entry — ``codes: array<bigint>`` of length ``m``. With k centroids the
    vector compresses to m*log2(k) bits (here 4 bytes vs 256), the memory
    step that makes billion-vector ANN indexes fit in RAM (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", PAMI 2011).

    ``centroids`` holds full-width vectors; subspace s of centroid j is its
    s-th slice — one shared table stands in for the m per-subspace
    codebooks so a SQL oracle can reconstruct them by slicing. Shuffle-free
    by the same construction as ivf_assign: the codebook collapses to ONE
    broadcast row and the per-subspace argmin is a nested higher-order
    expression (outer ``transform`` over subspace indexes, inner argmin
    over the codebook array) — zero exchanges on the N-row side; at 100 TB
    this is a narrow map over the scan emitting 4-byte codes.
    """
    d = dim // m
    cbook = _codebook(centroids, vec_col, centroid_id)
    vec_d = _as_double(F.col(vec_col))

    def sub_l2(s: Column, cv: Column) -> Column:
        a = F.slice(vec_d, s * d + 1, d)
        b = F.slice(cv, s * d + 1, d)
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    codes = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.array_min(
            F.transform(
                F.col("cbook"),
                lambda c: F.struct(
                    F.round(sub_l2(s, c["cv"]), 6).alias("dist"),
                    c["cid"].alias("cid"),
                ),
            )
        )["cid"],
    )
    return emb.crossJoin(cbook).select(
        F.col(id_col), codes.alias("codes"), *keep
    )


def pq_adc_topk(
    codes: DataFrame,
    query: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: approximate squared-L2 from the
    query to each encoded vector as the sum over subspaces of the distance
    from the query's s-th subvector to the centroid named by ``codes[s]``.

    The whole query-side work is one m x k lookup table built from the
    broadcast codebook (``lut: array<array<decimal>>``, subspace-major);
    each data row then costs m array lookups and one exact DECIMAL fold —
    no vector math against the original embeddings at all, which is the
    point: at scale the scan reads only the 4-byte codes column, never the
    256-byte vectors. Per-entry distances are rounded to 6 dp and summed
    as DECIMAL(28,6) (exact, order-independent) so the DuckDB oracle's
    arbitrary-order SUM is bit-identical. Returns (id, adc_dist) ascending,
    id tie-break. ``query``: single-row contract, limit(1)-ed like
    ivf_query_cells."""
    d = dim // m
    cbook = _codebook(centroids, vec_col, centroid_id)
    qvec = _as_double(F.col(vec_col))

    def q_sub_l2(s: Column, cv: Column) -> Column:
        a = F.slice(qvec, s * d + 1, d)
        b = F.slice(cv, s * d + 1, d)
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    # lut[s+1][cid+1] = round(d(q_s, c_cid,s), 6) as exact decimal; the
    # codebook array is cid-sorted (see _codebook) so position == cid.
    lut = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.transform(
            F.col("cbook"),
            lambda c: F.round(q_sub_l2(s, c["cv"]), 6).cast("decimal(18,6)"),
        ),
    )
    qlut = F.broadcast(
        query.limit(1).crossJoin(cbook).select(lut.alias("lut"))
    )
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0).cast("decimal(28,6)"),
        lambda acc, s: (
            acc
            + F.element_at(
                F.element_at(F.col("lut"), s.cast("int") + 1),
                F.element_at(F.col("codes"), s.cast("int") + 1).cast("int")
                + 1,
            )
        ).cast("decimal(28,6)"),
        lambda acc: acc.cast("double"),
    )
    return (
        codes.crossJoin(qlut)
        .select(F.col(id_col), F.round(adc, 6).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(k)
    )


def quantize_int8(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 quantization — the embedding-compression
    stage of a vector index (4x smaller than float32, the usual first
    step before IVF/PQ): scale = 127/max|x| per vector, q_i =
    floor(x_i * scale) (floor, not round — banker's-vs-half-up rounding
    differs across engines, floor nowhere does), dequantized error
    reported per vector.

    Returns (id, q_min, q_max, mean_abs_err): bounds prove the int8
    range; the reconstruction error is the quality metric a pipeline
    monitors. All per-element math is double (exact FLOAT->DOUBLE casts),
    one fold + division rounded to 6 dp. Pure narrow codegen'd array
    exprs — scan-bound, shuffle-free, same scale shape as ivf_assign."""
    v = _as_double(F.col(vec_col))
    amax = F.array_max(F.transform(v, F.abs))
    scale = F.when(amax == F.lit(0.0), F.lit(1.0)).otherwise(
        F.lit(127.0) / amax
    )
    qv = F.transform(v, lambda x: F.floor(x * scale))
    errs = F.zip_with(v, qv, lambda x, q: F.abs(x - q / scale))
    return emb.select(
        F.col(id_col),
        F.array_min(qv).alias("q_min"),
        F.array_max(qv).alias("q_max"),
        F.round(
            F.aggregate(errs, F.lit(0.0), lambda acc, x: acc + x)
            / F.size(F.col(vec_col)),
            6,
        ).alias("mean_abs_err"),
    )


def write_ivf_index(
    emb: DataFrame,
    centroids: DataFrame,
    table: str,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
) -> None:
    """Persist the IVF assignment as a DURABLE parquet table PARTITIONED
    by coarse cell — the serving-side artifact of an ANN index. Layout is
    one directory per centroid, so a probe that joins on ``centroid_id``
    reads only its nprobe cells via partition pruning: at a billion
    vectors with k=1024 cells and nprobe=8, a probe touches <1% of the
    files no matter how many probes run concurrently.

    The write is one ``ivf_assign`` pass (broadcast-codebook argmax, zero
    shuffle) plus the partitioned write's own exchange — paid once; every
    probe afterwards is pruned-scan → dot-product → top-k with no join
    against the full table."""
    assign = ivf_assign(emb, centroids, id_col, vec_col, centroid_id, keep=(vec_col,))
    (
        assign.write.partitionBy(centroid_id)
        .option("path", path)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )


def probe_ivf_index(
    spark: SparkSession,
    table: str,
    query: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    eager_cells: bool = True,
) -> DataFrame:
    """Cosine top-k against a durable IVF index written by
    ``write_ivf_index``, reading ONLY the query's nprobe cell
    directories (pinned by tests/test_ivf_index.py).

    ``eager_cells=True`` (the serving default) resolves the nprobe cell
    ids up front — one sub-second job over the k-row codebook returning
    ≤nprobe scalar ints (plan constants, the same driver-touch class as
    the PageRank loop's per-superstep stats action; the index data
    itself never moves) — and prunes the scan STATICALLY via ``isin``:
    the partition filter is literal, so pruning is guaranteed under any
    planner mode. The alternative (``eager_cells=False``) keeps the
    probe one fully-lazy plan via a broadcast equi-join on the partition
    column and relies on dynamic partition pruning — which Spark DROPS
    under AQE when the build side isn't a reusable broadcast stage (the
    cells derivation contains a nested-loop crossJoin), degrading to a
    post-scan filter: correct, but a full index read. Use it only when
    the probe must stay inside one composed lazy plan.

    Rescoring is exact cosine on the surviving cells, then one
    TakeOrderedAndProject."""
    cells = ivf_query_cells(query, centroids, nprobe, vec_col, centroid_id).select(
        F.explode("qcells").alias(centroid_id)
    )
    idx = spark.table(table)
    if eager_cells:
        cell_ids = [r[centroid_id] for r in cells.collect()]
        candidates = idx.filter(F.col(centroid_id).isin(cell_ids)).select(
            id_col, vec_col
        )
    else:
        candidates = idx.join(F.broadcast(cells), centroid_id).select(
            id_col, vec_col
        )
    return cosine_topk(candidates, query, k, id_col, vec_col)


def append_ivf_index(
    emb: DataFrame,
    centroids: DataFrame,
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
) -> None:
    """Fold NEW vectors into a durable IVF index written by
    ``write_ivf_index`` — the maintenance half of a living ANN index
    (today's embeddings become probe-able tomorrow without rebuilding
    the corpus index). The batch is assigned against the SAME codebook
    (coarse cells must stay stable between generations; re-training
    centroids is a rebuild, not an append) and appended as new files
    under the existing cell directories, so probes keep their literal
    partition pruning with zero changes. Each append adds one file per
    touched cell; fold them back on the usual compaction cadence.

    The dynamic-overwrite variant (replace exactly this batch's
    partitions) is the replay-idempotent form streaming ingest uses —
    see streaming/incremental_dedup.py for that discipline; batch
    append here composes with an upstream exact-dedup of vector ids."""
    assign = ivf_assign(emb, centroids, id_col, vec_col, centroid_id, keep=(vec_col,))
    (
        assign.select(id_col, vec_col, centroid_id)
        .write.partitionBy(centroid_id)
        .mode("append")
        .format("parquet")
        .saveAsTable(table)
    )
    emb.sparkSession.catalog.refreshTable(table)


def delete_from_ivf_index(
    spark: SparkSession,
    table: str,
    deleted_ids: DataFrame,
    id_col: str = "vec_id",
    centroid_id: str = "centroid_id",
    cells: list[int] | None = None,
) -> dict:
    """Remove vectors from a durable IVF index by id — the GDPR-delete /
    retention half of a living ANN index, done CELL-PRUNED: only the
    partitions that actually contain deleted ids are rewritten; every
    other cell's files are untouched (pinned by tests/test_ivf_index.py
    via file-mtime equality on an unaffected cell).

    Steps: (1) locate affected cells — a column-pruned (id, cell) scan
    semi-joined to the broadcast delete set, collecting the ≤|cells|
    affected cell ids (pass ``cells`` to skip this scan when the caller
    already knows the id→cell mapping, e.g. from an upsert log);
    (2) rewrite ONLY those partitions with an anti-join via dynamic
    partition overwrite; (3) cells left EMPTY by the delete are cleared
    by removing their directories (dynamic overwrite cannot touch a
    partition absent from its input — the classic emptied-partition
    trap). Re-running the same delete is a no-op (idempotent), so a
    crash mid-rewrite is repaired by retrying.

    Returns {"n_deleted", "cells_rewritten", "cells_emptied"}."""
    from pagerank_giraph_vs_mapreduce_spark.operators.dedup import (
        _delete_path,
        _table_location,
    )

    spark.catalog.refreshTable(table)
    idx = spark.table(table)
    ids = deleted_ids.select(F.col(id_col)).distinct()
    if cells is None:
        cells = [
            r[centroid_id]
            for r in idx.join(F.broadcast(ids), id_col, "left_semi")
            .select(centroid_id)
            .distinct()
            .collect()
        ]
    if not cells:
        return {"n_deleted": 0, "cells_rewritten": 0, "cells_emptied": 0}
    affected = idx.filter(F.col(centroid_id).isin(cells))
    n_before = affected.count()
    # eager localCheckpoint: materialize the surviving rows BEFORE the
    # overwrite so the write's plan is a LogicalRDD, not a read of the
    # very partitions it replaces (Spark rejects overwrite-what-you-read)
    surviving = affected.join(F.broadcast(ids), id_col, "left_anti").localCheckpoint(
        eager=True
    )
    n_surviving = surviving.count()
    kept_cells = {
        r[centroid_id]
        for r in surviving.select(centroid_id).distinct().collect()
    }
    if kept_cells:
        pom_key = "spark.sql.sources.partitionOverwriteMode"
        prior = spark.conf.get(pom_key)
        spark.conf.set(pom_key, "dynamic")
        try:
            surviving.write.mode("overwrite").insertInto(table)
        finally:
            spark.conf.set(pom_key, prior)
        spark.catalog.refreshTable(table)
    location = _table_location(spark, table)
    emptied = [c for c in cells if c not in kept_cells]
    for c in emptied:
        _delete_path(spark, f"{location}/{centroid_id}={c}")
    if emptied:
        spark.catalog.refreshTable(table)
    return {
        "n_deleted": int(n_before - n_surviving),
        "cells_rewritten": len(kept_cells),
        "cells_emptied": len(emptied),
    }


def matryoshka_topk(
    emb: DataFrame,
    query: DataFrame,
    prefix_dims: int = 16,
    shortlist: int = 50,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage matryoshka retrieval: shortlist by cosine over the FIRST
    ``prefix_dims`` dimensions, then rerank the shortlist with the full
    vector. With MRL-trained embeddings (Kusupati et al. 2022) the prefix
    is itself a valid low-rank embedding, so the cheap pass is a real
    ranking, not a heuristic.

    Scale shape: the corpus-wide stage reads ``prefix_dims/dim`` of the
    vector bytes per row (with a column layout that stores the prefix
    separately, it prunes I/O too, like sim_quantize_int8's int8 pass) and
    is a narrow map + TakeOrdered; only ``shortlist`` rows reach the
    full-width kernel — the same filter-then-rerank economics as IVF/PQ
    but with zero index build, and composable with both (prefix scoring
    inside each IVF probe cell).

    Determinism: shortlist membership cuts on the 6-dp-rounded prefix
    score with id tie-break — the cut is reproducible across engines, and
    the final top-k reranks on the full-width 6-dp cosine."""
    pre = emb.select(
        F.col(id_col),
        F.col(vec_col),
        F.slice(F.col(vec_col), 1, prefix_dims).alias("_prefix"),
    )
    qpre = query.select(F.slice(F.col(vec_col), 1, prefix_dims).alias("_prefix"))
    short = (
        cosine_scores(pre, qpre, id_col, "_prefix", keep=(vec_col,))
        .select(id_col, F.round("cos_sim", 6).alias("pre_sim"), vec_col)
        .orderBy(F.desc("pre_sim"), F.asc(id_col))
        .limit(shortlist)
    )
    return cosine_topk(short, query, k=k, id_col=id_col, vec_col=vec_col)


def _pack_sign_bits(vec: Column, offset: int, width: int = 32) -> Column:
    """BIGINT with bit d set iff ``vec[offset+d] > 0`` — 32 dims per
    word keeps every bit below the sign bit (no ANSI overflow, and the
    unrolled when-chain stays inside whole-stage codegen).

    Uses ``try_element_at`` so a vector shorter than ``offset+width``
    contributes sign bit 0 for the absent dims (NULL > 0 is NULL →
    otherwise-branch) instead of throwing INVALID_ARRAY_INDEX mid-scan
    under ANSI mode; callers that require exactly 64 dims assert via
    ``_require_dim`` before packing."""
    total = F.lit(0).cast("long")
    for d in range(width):
        total = total + F.when(
            F.try_element_at(vec, F.lit(offset + d + 1)) > 0,
            F.lit(1 << d).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
    return total


def binary_quantize(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """1-bit (sign) quantization of a 64-dim embedding into two BIGINT
    words — 32x smaller than float32, and Hamming distance (two
    xor+popcount ops) replaces 64 fused-multiply-adds. The coarsest
    point on the quantization curve sim_quantize_int8 starts (int8 = 4x;
    binary = 32x), and the standard first-pass filter for billion-vector
    search when even int8 doesn't fit memory."""
    return emb.select(
        F.col(id_col),
        _pack_sign_bits(F.col(vec_col), 0).alias("b0"),
        _pack_sign_bits(F.col(vec_col), 32).alias("b1"),
        *keep,
    )


def binary_rerank_topk(
    emb: DataFrame,
    query: DataFrame,
    shortlist: int = 50,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage binary search: Hamming shortlist over the sign-bit
    signatures (integer-exact, so the cut is deterministic with the id
    tie-break — no rounding contract needed), full-precision cosine
    rerank of the shortlist. Same filter-then-rerank economics as
    matryoshka_topk at a 32x compression point; the corpus-wide pass
    touches 16 bytes/row and no floats."""
    sigs = binary_quantize(emb, id_col, vec_col, keep=(vec_col,))
    qsig = F.broadcast(
        binary_quantize(query, id_col, vec_col).select(
            F.col("b0").alias("qb0"), F.col("b1").alias("qb1")
        )
    )
    ham = F.bit_count(F.col("b0").bitwiseXOR(F.col("qb0"))) + F.bit_count(
        F.col("b1").bitwiseXOR(F.col("qb1"))
    )
    short = (
        sigs.crossJoin(qsig)
        .select(id_col, vec_col, ham.alias("hamming"))
        .orderBy(F.asc("hamming"), F.asc(id_col))
        .limit(shortlist)
    )
    return cosine_topk(short, query, k=k, id_col=id_col, vec_col=vec_col)
