"""Declared similarity-search queries with DuckDB oracles.

Brute-force cosine is the baseline; the hyperplane-LSH variant is the ANN
scale path. Hyperplanes are data-derived (embeddings of vec_id 1..6) so the
oracle reconstructs identical planes without shipping constants. FLOAT
elements are cast to DOUBLE before any arithmetic (float ops differ across
engines; the cast is exact), and cosine values are rounded to 6 dp — the
cross-engine summation-order noise is ~1e-15.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pagerank_giraph_vs_mapreduce_spark.operators.similarity import (
    cosine_topk,
    lsh_cosine_topk,
)
from pagerank_giraph_vs_mapreduce_spark.plans.registry import query
from pagerank_giraph_vs_mapreduce_spark.sources.tables import load_table

QUERY_ID = 0
N_PLANES = 6
TOP_K = 10

_DOT = (
    "list_sum(list_transform(list_zip({a}::DOUBLE[], {b}::DOUBLE[]),"
    " p -> p[1] * p[2]))"
)


def _sql_cos(a: str, b: str) -> str:
    return (
        f"({_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)})))"
    )


@query(
    "sim_cosine_top10",
    oracle=f"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_ID})
SELECT e.vec_id, round({_sql_cos('e.embedding', 'q.embedding')}, 6) AS cos_sim
FROM embeddings e, q
ORDER BY cos_sim DESC, e.vec_id LIMIT {TOP_K}""",
)
def sim_cosine_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against the vec_id=0 embedding."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == QUERY_ID)
    top = cosine_topk(emb, q, k=TOP_K)
    return top.select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))


@query(
    "sim_cosine_top10_vectorized",
    oracle=f"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_ID})
SELECT e.vec_id, round({_sql_cos('e.embedding', 'q.embedding')}, 6) AS cos_sim
FROM embeddings e, q
ORDER BY cos_sim DESC, e.vec_id LIMIT {TOP_K}""",
)
def sim_cosine_top10_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow/numpy distance-kernel twin of sim_cosine_top10
    (operators/similarity.py:cosine_topk_vectorized):
    same oracle, same 6-dp contract — certifying that the vectorized
    kernel is drop-in value-identical to the higher-order-function form.
    Which one wins depends on scale (SCALING.md §10)."""
    from pagerank_giraph_vs_mapreduce_spark.operators.similarity import (
        cosine_topk_vectorized,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == QUERY_ID)
    return cosine_topk_vectorized(emb, q, k=TOP_K)


_PLANES_SQL = f"""planes AS (
  SELECT vec_id - 1 AS plane_id, embedding FROM embeddings
  WHERE vec_id BETWEEN 1 AND {N_PLANES})"""

_BUCKET_SQL = f"""buckets AS (
  SELECT e.vec_id,
         CAST(sum(CASE WHEN {_DOT.format(a='e.embedding', b='p.embedding')} > 0
                  THEN 1 << CAST(p.plane_id AS INT) ELSE 0 END) AS BIGINT) AS bucket
  FROM embeddings e, planes p GROUP BY e.vec_id)"""


@query(
    "sim_lsh_buckets",
    oracle=f"""WITH {_PLANES_SQL},
{_BUCKET_SQL}
SELECT vec_id, bucket FROM buckets""",
)
def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-sign LSH bucket id per vector (6 planes → 64 buckets)."""
    from pagerank_giraph_vs_mapreduce_spark.operators.similarity import (
        hyperplane_bucket,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    planes = emb.filter(
        (F.col("vec_id") >= 1) & (F.col("vec_id") <= N_PLANES)
    ).select((F.col("vec_id") - 1).alias("plane_id"), "embedding")
    return hyperplane_bucket(emb, planes)


N_CENTROIDS = 8

_CENTROIDS_SQL = f"""cents AS (
  SELECT vec_id - 10 AS centroid_id, embedding FROM embeddings
  WHERE vec_id BETWEEN 10 AND {10 + N_CENTROIDS - 1})"""

_ASSIGN_SQL = """assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round({dot}, 6) DESC, c.centroid_id) AS rn
    FROM embeddings e, cents c)
  WHERE rn = 1)""".format(dot=_DOT.format(a="e.embedding", b="c.embedding"))


def _centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(
        (F.col("vec_id") >= 10) & (F.col("vec_id") < 10 + N_CENTROIDS)
    ).select((F.col("vec_id") - 10).alias("centroid_id"), "embedding")


@query(
    "sim_ivf_assign",
    oracle=f"""WITH {_CENTROIDS_SQL},
{_ASSIGN_SQL}
SELECT vec_id, centroid_id FROM assign""",
)
def sim_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization: max-dot centroid per vector (8 data-derived
    centroids standing in for a k-means codebook)."""
    from pagerank_giraph_vs_mapreduce_spark.operators.similarity import ivf_assign

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_assign(emb, _centroids(spark, sf_dir))


@query(
    "sim_ivf_top5",
    oracle=f"""WITH {_CENTROIDS_SQL},
{_ASSIGN_SQL},
q AS (SELECT e.embedding, a.centroid_id AS qc FROM embeddings e
      JOIN assign a ON e.vec_id = a.vec_id WHERE e.vec_id = {QUERY_ID})
SELECT e.vec_id, round({_sql_cos('e.embedding', 'q.embedding')}, 6) AS cos_sim
FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id, q
WHERE a.centroid_id = q.qc
ORDER BY cos_sim DESC, e.vec_id LIMIT 5""",
)
def sim_ivf_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (nprobe=1): cosine top-5 within the query's coarse cell."""
    from pagerank_giraph_vs_mapreduce_spark.operators.similarity import (
        ivf_cosine_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == QUERY_ID)
    top = ivf_cosine_topk(emb, q, _centroids(spark, sf_dir), k=5)
    return top.select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))


NPROBE = 2


@query(
    "sim_ivf_top5_nprobe2",
    oracle=f"""WITH {_CENTROIDS_SQL},
{_ASSIGN_SQL},
qc AS (SELECT c.centroid_id
       FROM embeddings e, cents c WHERE e.vec_id = {QUERY_ID}
       ORDER BY round({_DOT.format(a='e.embedding', b='c.embedding')}, 6) DESC,
                c.centroid_id
       LIMIT {NPROBE}),
q AS (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_ID})
SELECT e.vec_id, round({_sql_cos('e.embedding', 'q.embedding')}, 6) AS cos_sim
FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id, q
WHERE a.centroid_id IN (SELECT centroid_id FROM qc)
ORDER BY cos_sim DESC, e.vec_id LIMIT 5""",
)
def sim_ivf_top5_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe=2: candidates from the query's two nearest
    coarse cells — the recall/latency knob over the nprobe=1 twin. The
    probe-cell list is computed shuffle-free from the broadcast codebook
    (operators/similarity.py:ivf_query_cells)."""
    from pagerank_giraph_vs_mapreduce_spark.operators.similarity import (
        ivf_cosine_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == QUERY_ID)
    top = ivf_cosine_topk(emb, q, _centroids(spark, sf_dir), k=5, nprobe=NPROBE)
    return top.select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))


_EMB2_SQL = """emb2 AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0)"""


@query(
    "dedup_embedding_cosine",
    oracle=f"""WITH {_EMB2_SQL}
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_sql_cos('a.embedding', 'b.embedding')}, 6) AS cos_sim
FROM emb2 a JOIN emb2 b ON a.vec_id < b.vec_id
WHERE round({_sql_cos('a.embedding', 'b.embedding')}, 6) >= 0.99""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over embeddings + planted verbatim
    copies (vec_id % 10 == 0 at +1000000000). Spark prunes candidates through
    LSH buckets; the oracle brute-forces all pairs — same survivors."""
    from pagerank_giraph_vs_mapreduce_spark.operators.similarity import (
        embedding_near_dups,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dups = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000000).alias("vec_id"), "embedding"
    )
    emb2 = emb.unionAll(dups)
    planes = emb.filter(
        (F.col("vec_id") >= 1) & (F.col("vec_id") <= N_PLANES)
    ).select((F.col("vec_id") - 1).alias("plane_id"), "embedding")
    return embedding_near_dups(emb2, planes, threshold=0.99)


_ASSIGN2_SQL = """assign2 AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round({dot}, 6) DESC, c.centroid_id) AS rn
    FROM emb2 e, cents c)
  WHERE rn = 1)""".format(dot=_DOT.format(a="e.embedding", b="c.embedding"))


@query(
    "dedup_semantic",
    oracle=f"""WITH {_CENTROIDS_SQL},
{_EMB2_SQL},
{_ASSIGN2_SQL},
dom AS (
  SELECT DISTINCT b.vec_id
  FROM assign2 a JOIN emb2 ea ON ea.vec_id = a.vec_id
       JOIN assign2 b ON b.centroid_id = a.centroid_id AND b.vec_id > a.vec_id
       JOIN emb2 eb ON eb.vec_id = b.vec_id
  WHERE round({_sql_cos('ea.embedding', 'eb.embedding')}, 6) >= 0.99)
SELECT a.vec_id, a.centroid_id FROM assign2 a
WHERE a.vec_id NOT IN (SELECT vec_id FROM dom)""",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup: cluster-then-prune semantic deduplication over embeddings
    + planted verbatim copies (vec_id % 10 == 0 replanted at +1000000000). The
    codebook is the 8 data-derived centroids; each planted copy shares its
    original's cluster (identical vector → identical argmax) and is
    dominated by it at cos=1.0, so no +1000000000 id survives. The oracle
    replays assignment and the EXISTS-dominance rule brute-force; Spark
    routes pairs through the centroid_id equi-join only
    (operators/similarity.py:semantic_dedup)."""
    from pagerank_giraph_vs_mapreduce_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dups = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000000).alias("vec_id"), "embedding"
    )
    return semantic_dedup(
        emb.unionAll(dups), _centroids(spark, sf_dir), threshold=0.99
    )


@query(
    "sim_lsh_ann_top5",
    oracle=f"""WITH {_PLANES_SQL},
{_BUCKET_SQL},
q AS (SELECT e.embedding, b.bucket FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id
      WHERE e.vec_id = {QUERY_ID})
SELECT e.vec_id, round({_sql_cos('e.embedding', 'q.embedding')}, 6) AS cos_sim
FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id, q
WHERE b.bucket = q.bucket
ORDER BY cos_sim DESC, e.vec_id LIMIT 5""",
)
def sim_lsh_ann_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: cosine top-5 restricted to the query's LSH bucket."""
    emb = load_table(spark, sf_dir, "embeddings")
    planes = emb.filter(
        (F.col("vec_id") >= 1) & (F.col("vec_id") <= N_PLANES)
    ).select((F.col("vec_id") - 1).alias("plane_id"), "embedding")
    q = emb.filter(F.col("vec_id") == QUERY_ID)
    top = lsh_cosine_topk(emb, q, planes, k=5)
    return top.select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))


KMEANS_ITERS = 2


def _kmeans_ctes(iters: int) -> str:
    """Unrolled Lloyd iterations: assignment by round(dot, 6) argmax with
    centroid-id tie-break; update = exact-decimal-sum mean rounded to
    9 dp; empty cells carry the previous centroid."""
    parts = [
        f"""WITH c0 AS (
  SELECT vec_id - 10 AS cid, embedding::DOUBLE[] AS emb FROM embeddings
  WHERE vec_id BETWEEN 10 AND {10 + N_CENTROIDS - 1})"""
    ]
    for i in range(1, iters + 1):
        p = f"c{i - 1}"
        dot = _DOT.format(a="e.embedding", b=f"c.emb")
        parts.append(
            f""",
a{i} AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round({dot}, 6) DESC, c.cid) AS rn
    FROM embeddings e, {p} c) WHERE rn = 1),
u{i} AS (
  SELECT a.cid, r.pos - 1 AS pos,
         round(CAST(sum(CAST(e.embedding[r.pos]::DOUBLE AS DECIMAL(38,12))) AS DOUBLE)
               / count(*), 9) AS val
  FROM a{i} a JOIN embeddings e ON e.vec_id = a.vec_id,
       unnest(range(1, len(e.embedding) + 1)) AS r(pos)
  GROUP BY a.cid, r.pos),
c{i} AS (
  SELECT p.cid, coalesce(n.emb, p.emb) AS emb
  FROM {p} p LEFT JOIN (
    SELECT cid, list(val ORDER BY pos) AS emb FROM u{i} GROUP BY cid) n
  ON n.cid = p.cid)"""
        )
    return "".join(parts)


def _kmeans_oracle(iters: int) -> str:
    return (
        _kmeans_ctes(iters)
        + f"""
SELECT c.cid AS centroid_id, r.pos - 1 AS pos, c.emb[r.pos] AS val
FROM c{iters} c, unnest(range(1, len(c.emb) + 1)) AS r(pos)"""
    )


@query("sim_kmeans_2iter", oracle=_kmeans_oracle(KMEANS_ITERS))
def sim_kmeans_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations refining the 8-vector data-derived codebook —
    the distributed IVF-training step (operators/similarity.py:kmeans_fit).
    Output is the final codebook exploded to (centroid_id, pos, val) rows
    so the hash comparison is array-layout-independent."""
    from pagerank_giraph_vs_mapreduce_spark.operators.similarity import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    fit = kmeans_fit(emb, _centroids(spark, sf_dir), iters=KMEANS_ITERS)
    return fit.select("centroid_id", F.posexplode("embedding").alias("pos", "val"))


_TRAINED_ASSIGN = f"""aT AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round({_DOT.format(a='e.embedding', b='c.emb')}, 6) DESC,
                                       c.cid) AS rn
    FROM embeddings e, c{KMEANS_ITERS} c) WHERE rn = 1)"""


@query(
    "sim_ivf_trained_top5",
    oracle=f"""{_kmeans_ctes(KMEANS_ITERS)},
{_TRAINED_ASSIGN},
q AS (SELECT e.embedding, a.cid AS qc FROM embeddings e
      JOIN aT a ON e.vec_id = a.vec_id WHERE e.vec_id = {QUERY_ID})
SELECT e.vec_id, round({_sql_cos('e.embedding', 'q.embedding')}, 6) AS cos_sim
FROM embeddings e JOIN aT a ON e.vec_id = a.vec_id, q
WHERE a.cid = q.qc
ORDER BY cos_sim DESC, e.vec_id LIMIT 5""",
)
def sim_ivf_trained_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end IVF: train the codebook with two Lloyd iterations, then
    ANN-probe the query's trained cell — the full train->index->probe
    composition (kmeans_fit + ivf_cosine_topk)."""
    from pagerank_giraph_vs_mapreduce_spark.operators.similarity import (
        ivf_cosine_topk,
        kmeans_fit,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    fit = kmeans_fit(emb, _centroids(spark, sf_dir), iters=KMEANS_ITERS)
    q = emb.filter(F.col("vec_id") == QUERY_ID)
    top = ivf_cosine_topk(emb, q, fit, k=5)
    return top.select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))


# Recall@k measurement: multi-table LSH ANN vs brute-force ground truth,
# computed in-plan over 5 query vectors. Parameters chosen for measured mean
# recall >= 0.9 on the sf0.01 embeddings (b=4 bits x L=16 tables -> 0.90 at
# ~63% candidate coverage). The synthetic embeddings are near-isotropic —
# true top-10 neighbors sit at cos ~ 0.35 — so recall is necessarily paid
# for with coverage (no sublinear method beats that on isotropic data);
# on clustered real-world embeddings the same (tbl, bucket) machinery
# prunes far harder at equal recall.
ANN_QIDS = (0, 20, 40, 60, 80)
RECALL_K = 10
MT_BITS = 4
MT_TABLES = 16
MT_PLANE_BASE = 100

_QIDS_SQL = ", ".join(str(q) for q in ANN_QIDS)

_MT_SQL = f"""planes AS (
  SELECT vec_id - {MT_PLANE_BASE} AS plane_id, embedding FROM embeddings
  WHERE vec_id BETWEEN {MT_PLANE_BASE} AND {MT_PLANE_BASE + MT_BITS * MT_TABLES - 1}),
qs AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id IN ({_QIDS_SQL})),
bk AS (
  SELECT e.vec_id, CAST(p.plane_id // {MT_BITS} AS INT) AS tbl,
         CAST(sum(CASE WHEN {_DOT.format(a='e.embedding', b='p.embedding')} > 0
                  THEN 1 << CAST(p.plane_id % {MT_BITS} AS INT) ELSE 0 END) AS BIGINT) AS bucket
  FROM embeddings e, planes p GROUP BY e.vec_id, p.plane_id // {MT_BITS}),
cand AS (
  SELECT DISTINCT qb.vec_id AS qid, b.vec_id
  FROM bk b JOIN bk qb ON b.tbl = qb.tbl AND b.bucket = qb.bucket
  WHERE qb.vec_id IN ({_QIDS_SQL})),
brute AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, e.vec_id,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY round({_sql_cos('e.embedding', 'q.embedding')}, 6) DESC,
                                       e.vec_id) AS rn
    FROM embeddings e, qs q) WHERE rn <= {RECALL_K}),
ann AS (
  SELECT qid, vec_id FROM (
    SELECT c.qid, e.vec_id,
           row_number() OVER (PARTITION BY c.qid
                              ORDER BY round({_sql_cos('e.embedding', 'q.embedding')}, 6) DESC,
                                       e.vec_id) AS rn
    FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
    JOIN qs q ON q.qid = c.qid) WHERE rn <= {RECALL_K})"""


@query(
    "sim_ann_recall",
    oracle=f"""WITH {_MT_SQL}
SELECT b.qid, CAST(count(a.vec_id) AS DOUBLE) / {RECALL_K}.0 AS recall_at_k
FROM brute b LEFT JOIN ann a ON a.qid = b.qid AND a.vec_id = b.vec_id
GROUP BY b.qid""",
)
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of multi-table-LSH ANN vs in-plan brute-force ground
    truth, per query vector — the measured-recall row (like
    fn_sketch_bounds for sketches): the driver's hash check certifies the
    recall numbers themselves, so the documented operating point
    (b=4, L=16 -> mean 0.90 on sf0.01) is driver-verified, not asserted.
    """
    from pyspark.sql import Window

    from pagerank_giraph_vs_mapreduce_spark.operators.similarity import (
        _as_double,
        _dot,
        _norm,
        multitable_buckets,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planes = emb.filter(
        (F.col("vec_id") >= MT_PLANE_BASE)
        & (F.col("vec_id") < MT_PLANE_BASE + MT_BITS * MT_TABLES)
    ).select((F.col("vec_id") - MT_PLANE_BASE).alias("plane_id"), "embedding")
    qs = F.broadcast(
        emb.filter(F.col("vec_id").isin(*ANN_QIDS)).select(
            F.col("vec_id").alias("qid"), _as_double(F.col("embedding")).alias("qv")
        )
    )

    def scored(df: DataFrame) -> DataFrame:
        cos = _dot(_as_double(F.col("embedding")), F.col("qv")) / (
            _norm(_as_double(F.col("embedding"))) * _norm(F.col("qv"))
        )
        return df.select("qid", "vec_id", F.round(cos, 6).alias("cos_sim"))

    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    brute = (
        scored(emb.crossJoin(qs))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= RECALL_K)
        .select("qid", "vec_id")
    )
    bk = multitable_buckets(emb, planes, MT_BITS)
    qbk = bk.filter(F.col("vec_id").isin(*ANN_QIDS)).select(
        F.col("vec_id").alias("qid"), "tbl", "bucket"
    )
    cand = bk.join(qbk, ["tbl", "bucket"]).select("qid", "vec_id").distinct()
    ann = (
        scored(cand.join(emb, "vec_id").join(qs, "qid"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= RECALL_K)
        .select("qid", "vec_id", F.lit(1).alias("hit"))
    )
    return (
        brute.join(ann, ["qid", "vec_id"], "left")
        .groupBy("qid")
        .agg(
            (F.count("hit").cast("double") / RECALL_K).alias("recall_at_k")
        )
    )


@query(
    "sim_quantize_int8",
    oracle="""WITH s AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
sc AS (
  SELECT vec_id, v,
         CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0 THEN 1.0
              ELSE 127.0 / list_max(list_transform(v, x -> abs(x))) END AS scale
  FROM s),
q AS (
  SELECT vec_id, v, scale,
         list_transform(v, x -> CAST(floor(x * scale) AS BIGINT)) AS qv
  FROM sc)
SELECT vec_id,
       list_min(qv) AS q_min,
       list_max(qv) AS q_max,
       round(list_sum(list_transform(range(1, len(v) + 1),
                 i -> abs(v[i] - qv[i] / scale))) / len(v), 6) AS mean_abs_err
FROM q""",
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 embedding quantization with per-vector
    reconstruction-error report (operators/similarity.py:quantize_int8) —
    floor-based so no cross-engine rounding-mode hazard; error fold is
    double arithmetic rounded to 6 dp (differences between summation
    orders are ~1e-16, nine orders below the rounding grain)."""
    from pagerank_giraph_vs_mapreduce_spark.operators.similarity import (
        quantize_int8,
    )

    return quantize_int8(load_table(spark, sf_dir, "embeddings"))


PQ_M = 4
PQ_D = 16  # 64-dim vectors / 4 subspaces
PQ_K = 8  # centroids per subspace (full-width vectors vec_id 20..27)

_PQ_CTES = f"""pqc AS (
  SELECT vec_id - 20 AS cid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings WHERE vec_id BETWEEN 20 AND {20 + PQ_K - 1}),
ev AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
subs AS (SELECT unnest(range(0, {PQ_M})) AS s),
dists AS (
  SELECT e.vec_id, subs.s, c.cid,
         round(list_sum(list_transform(
             list_zip(list_slice(e.v, subs.s*{PQ_D}+1, subs.s*{PQ_D}+{PQ_D}),
                      list_slice(c.cv, subs.s*{PQ_D}+1, subs.s*{PQ_D}+{PQ_D})),
             p -> (p[1]-p[2]) * (p[1]-p[2]))), 6) AS dist
  FROM ev e, subs, pqc c),
best AS (
  SELECT vec_id, s, cid,
         row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cid) AS rn
  FROM dists)"""


def _pq_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(
        (F.col("vec_id") >= 20) & (F.col("vec_id") < 20 + PQ_K)
    ).select((F.col("vec_id") - 20).alias("centroid_id"), "embedding")


@query(
    "sim_pq_encode",
    oracle=f"""WITH {_PQ_CTES}
SELECT vec_id,
       array_to_string(list(CAST(cid AS VARCHAR) ORDER BY s), '_') AS codes
FROM best WHERE rn = 1 GROUP BY vec_id""",
)
def sim_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (operators/similarity.py:pq_encode):
    each 64-d vector becomes 4 subspace codes against an 8-entry codebook
    per subspace (full-width vectors vec_id 20..27 sliced per subspace so
    the oracle reconstructs identical codebooks) — 256 bytes -> 4 bytes,
    the compression step that makes billion-vector indexes RAM-resident.
    Shuffle-free nested higher-order argmin against the one-row broadcast
    codebook, same plan family as sim_ivf_assign. The codes array is
    emitted '_'-joined as a string: the driver's value canonicalizer can't
    hash array cells, and the underscore join is lossless for the
    code-sequence comparison (order + every element land in the hash)."""
    from pagerank_giraph_vs_mapreduce_spark.operators.similarity import (
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    enc = pq_encode(emb, _pq_centroids(spark, sf_dir), m=PQ_M, dim=64)
    return enc.select(
        "vec_id", F.concat_ws("_", F.col("codes").cast("array<string>")).alias("codes")
    )


@query(
    "sim_pq_adc_top5",
    oracle=f"""WITH {_PQ_CTES},
codes AS (SELECT vec_id, s, cid FROM best WHERE rn = 1),
q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = {QUERY_ID}),
lut AS (
  SELECT subs.s, c.cid,
         CAST(round(list_sum(list_transform(
             list_zip(list_slice(q.qv, subs.s*{PQ_D}+1, subs.s*{PQ_D}+{PQ_D}),
                      list_slice(c.cv, subs.s*{PQ_D}+1, subs.s*{PQ_D}+{PQ_D})),
             p -> (p[1]-p[2]) * (p[1]-p[2]))), 6) AS DECIMAL(18,6)) AS d
  FROM q, subs, pqc c)
SELECT co.vec_id, round(CAST(sum(l.d) AS DOUBLE), 6) AS adc_dist
FROM codes co JOIN lut l ON l.s = co.s AND l.cid = co.cid
GROUP BY co.vec_id
ORDER BY adc_dist, co.vec_id LIMIT 5""",
)
def sim_pq_adc_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-5 for the vec_id=0 query
    (operators/similarity.py:pq_adc_topk): the query builds an m x k
    lookup table from the broadcast codebook, then each encoded vector
    costs 4 table lookups and one exact DECIMAL fold — the scan touches
    only the codes column, never the original embeddings. Entries rounded
    to 6 dp and summed as DECIMAL so the oracle's arbitrary-order SUM is
    bit-identical."""
    from pagerank_giraph_vs_mapreduce_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _pq_centroids(spark, sf_dir)
    codes = pq_encode(emb, cents, m=PQ_M, dim=64)
    q = emb.filter(F.col("vec_id") == QUERY_ID)
    return pq_adc_topk(codes, q, cents, k=5, m=PQ_M, dim=64)


KNN_K = 3


@query(
    "sim_knn_join_top3",
    oracle=f"""WITH {_PLANES_SQL},
{_BUCKET_SQL},
pairs AS (
  SELECT ba.vec_id AS qid, bb.vec_id AS nid,
         round({_sql_cos('ea.embedding', 'eb.embedding')}, 6) AS cos_sim
  FROM buckets ba
  JOIN buckets bb ON bb.bucket = ba.bucket AND bb.vec_id <> ba.vec_id
  JOIN embeddings ea ON ea.vec_id = ba.vec_id
  JOIN embeddings eb ON eb.vec_id = bb.vec_id),
ranked AS (
  SELECT qid, nid, cos_sim,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos_sim DESC, nid) AS rn
  FROM pairs)
SELECT qid AS vec_id, nid AS neighbor_id, cos_sim
FROM ranked WHERE rn <= {KNN_K}""",
)
def sim_knn_join_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL-vectors k-NN join (each vector's top-3 cosine neighbors), the
    multi-query ANN shape the single-query probes don't cover: the LSH
    bucket column turns the quadratic all-pairs problem into a
    bucket-equi-self-join (candidates share a 6-bit hyperplane signature),
    scored pairs then reduce to per-query top-k with sort_array +
    slice over a collect_list bounded by bucket size — no global window,
    no N^2. At 100 TB the bucket join is the shuffle key and skewed
    buckets split under AQE; recall tunes with bands/tables exactly as in
    sim_ann_recall. Deterministic: round(cos,6) desc, neighbor id asc."""
    from pagerank_giraph_vs_mapreduce_spark.operators.similarity import (
        _as_double,
        _dot,
        _norm,
        hyperplane_bucket,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    planes = emb.filter(
        (F.col("vec_id") >= 1) & (F.col("vec_id") <= N_PLANES)
    ).select((F.col("vec_id") - 1).alias("plane_id"), "embedding")
    buckets = hyperplane_bucket(emb, planes)
    side_a = buckets.join(emb, "vec_id").select(
        F.col("vec_id").alias("qid"),
        F.col("bucket"),
        _as_double(F.col("embedding")).alias("va"),
    )
    side_b = buckets.join(emb, "vec_id").select(
        F.col("vec_id").alias("nid"),
        F.col("bucket"),
        _as_double(F.col("embedding")).alias("vb"),
    )
    pairs = (
        side_a.join(side_b, "bucket")
        .filter(F.col("nid") != F.col("qid"))
        .select(
            "qid",
            "nid",
            F.round(
                _dot(F.col("va"), F.col("vb"))
                / (_norm(F.col("va")) * _norm(F.col("vb"))),
                6,
            ).alias("cos_sim"),
        )
    )
    return (
        pairs.groupBy("qid")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            (-F.col("cos_sim")).alias("nc"),
                            F.col("nid").alias("nid"),
                            F.col("cos_sim").alias("cs"),
                        )
                    )
                ),
                1,
                KNN_K,
            ).alias("top")
        )
        .select("qid", F.explode("top").alias("t"))
        .select(
            F.col("qid").alias("vec_id"),
            F.col("t.nid").alias("neighbor_id"),
            F.col("t.cs").alias("cos_sim"),
        )
    )


@query(
    "sim_ivfpq_top5",
    oracle=f"""WITH {_CENTROIDS_SQL},
{_ASSIGN_SQL},
{_PQ_CTES},
codes AS (SELECT vec_id, s, cid FROM best WHERE rn = 1),
qc AS (SELECT c.centroid_id
       FROM embeddings e, cents c WHERE e.vec_id = {QUERY_ID}
       ORDER BY round({_DOT.format(a='e.embedding', b='c.embedding')}, 6) DESC,
                c.centroid_id
       LIMIT {NPROBE}),
q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = {QUERY_ID}),
lut AS (
  SELECT subs.s, c.cid,
         CAST(round(list_sum(list_transform(
             list_zip(list_slice(q.qv, subs.s*{PQ_D}+1, subs.s*{PQ_D}+{PQ_D}),
                      list_slice(c.cv, subs.s*{PQ_D}+1, subs.s*{PQ_D}+{PQ_D})),
             p -> (p[1]-p[2]) * (p[1]-p[2]))), 6) AS DECIMAL(18,6)) AS d
  FROM q, subs, pqc c)
SELECT co.vec_id, round(CAST(sum(l.d) AS DOUBLE), 6) AS adc_dist
FROM codes co
JOIN assign a ON a.vec_id = co.vec_id
JOIN lut l ON l.s = co.s AND l.cid = co.cid
WHERE a.centroid_id IN (SELECT centroid_id FROM qc)
GROUP BY co.vec_id
ORDER BY adc_dist, co.vec_id LIMIT 5""",
)
def sim_ivfpq_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ — the production billion-vector ANN shape (FAISS IVFPQ):
    coarse-quantize every vector to an IVF cell, prune candidates to the
    query's nprobe=2 nearest cells, then rank ONLY by PQ asymmetric
    distance — the scan touches the cell id and the 4-byte codes, never
    the raw vectors. Composes ivf_assign + ivf_query_cells + pq_encode +
    pq_adc_topk; both codebooks are one-row broadcasts, so candidate
    pruning and ranking are shuffle-free. With the codes table written
    partitioned by cell id, the nprobe filter becomes partition pruning
    and the search reads nprobe/k of an already-64x-smaller table."""
    from pagerank_giraph_vs_mapreduce_spark.operators.similarity import (
        ivf_assign,
        ivf_query_cells,
        pq_adc_topk,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    ivf_cents = _centroids(spark, sf_dir)
    pq_cents = _pq_centroids(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == QUERY_ID)
    assign = ivf_assign(emb, ivf_cents)
    qcells = ivf_query_cells(q, ivf_cents, nprobe=NPROBE)
    codes = pq_encode(emb, pq_cents, m=PQ_M, dim=64)
    candidates = (
        codes.join(assign, "vec_id")
        .crossJoin(F.broadcast(qcells))
        .filter(F.array_contains("qcells", F.col("centroid_id")))
        .select("vec_id", "codes")
    )
    return pq_adc_topk(candidates, q, pq_cents, k=5, m=PQ_M, dim=64)


FILTER_LABEL = 1


@query(
    "sim_filtered_top5",
    oracle=f"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_ID})
SELECT e.vec_id, e.label,
       round({_sql_cos('e.embedding', 'q.embedding')}, 6) AS cos_sim
FROM embeddings e, q
WHERE e.label = {FILTER_LABEL}
ORDER BY cos_sim DESC, e.vec_id LIMIT 5""",
)
def sim_filtered_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search with PRE-filter semantics: the
    label predicate prunes the candidate set before any scoring, so the
    result always holds 5 rows of the requested label — unlike
    post-filtering a top-k, which silently under-fills when matches are
    scarce. The filter is a pushed parquet predicate ahead of the
    broadcast-query scoring map (same plan as sim_cosine_top10 on a
    smaller scan); composed with IVF/LSH, label becomes a second
    partition column and the probe prunes on (cell AND label)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == QUERY_ID)
    top = cosine_topk(
        emb.filter(F.col("label") == FILTER_LABEL),
        q,
        k=5,
        keep=("label",),
    )
    return top.select(
        "vec_id", "label", F.round("cos_sim", 6).alias("cos_sim")
    )


@query(
    "sim_range_search",
    oracle=f"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_ID})
SELECT e.vec_id, round({_sql_cos('e.embedding', 'q.embedding')}, 6) AS cos_sim
FROM embeddings e, q
WHERE e.vec_id <> {QUERY_ID}
  AND round({_sql_cos('e.embedding', 'q.embedding')}, 6) >= 0.2""",
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE similarity search — ALL vectors within a cosine radius of
    the query, not a fixed top-k. The retrieval mode dedup/clustering
    pipelines need (\"everything at least this similar\"), where result
    size is data-dependent. Same broadcast-query scoring kernel as
    cosine_topk; the radius predicate is a post-scoring row-local filter,
    so the plan is scan → narrow map → filter with NO shuffle at all
    (top-k at least needs a TakeOrdered reduction) — at 100 TB the
    output streams straight to the sink. Threshold compares the 6-dp
    ROUNDED score on both engines so the boundary is bit-stable."""
    from pagerank_giraph_vs_mapreduce_spark.operators.similarity import (
        cosine_scores,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == QUERY_ID)
    scored = cosine_scores(emb.filter(F.col("vec_id") != QUERY_ID), q)
    return scored.select(
        "vec_id", F.round("cos_sim", 6).alias("cos_sim")
    ).filter(F.col("cos_sim") >= 0.2)


_IVF_INDEX: dict[str, str] = {}


def _ivf_index_table(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir) the durable cell-partitioned IVF index over
    the embeddings table; returns the catalog table name."""
    if sf_dir in _IVF_INDEX:
        return _IVF_INDEX[sf_dir]
    import atexit
    import hashlib
    import shutil
    import tempfile

    from pagerank_giraph_vs_mapreduce_spark.operators.similarity import (
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    table = f"ivf_index_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    path = tempfile.mkdtemp(prefix="ivf_index_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    write_ivf_index(emb, _centroids(spark, sf_dir), table, path)
    _IVF_INDEX[sf_dir] = table
    return table


@query(
    "sim_ivf_indexed_top5",
    oracle=f"""WITH {_CENTROIDS_SQL},
{_ASSIGN_SQL},
qc AS (SELECT c.centroid_id
       FROM embeddings e, cents c WHERE e.vec_id = {QUERY_ID}
       ORDER BY round({_DOT.format(a='e.embedding', b='c.embedding')}, 6) DESC,
                c.centroid_id
       LIMIT {NPROBE}),
q AS (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_ID})
SELECT e.vec_id, round({_sql_cos('e.embedding', 'q.embedding')}, 6) AS cos_sim
FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id, q
WHERE a.centroid_id IN (SELECT centroid_id FROM qc)
ORDER BY cos_sim DESC, e.vec_id LIMIT 5""",
)
def sim_ivf_indexed_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN against the DURABLE cell-partitioned index
    (operators/similarity.py:write_ivf_index): the serving shape. The
    index is laid down once, one directory per coarse cell; the probe
    resolves its nprobe=2 cells from the broadcast codebook and reads
    ONLY those two directories — a literal partition filter, so pruning
    is planner-mode-proof (tests/test_ivf_index.py pins scanned rows ==
    probed-cell rows). Value-identical to the in-plan nprobe=2 twin
    (sim_ivf_top5_nprobe2); at a billion vectors the difference is
    reading nprobe/k of the data instead of assigning the whole table
    per query."""
    from pagerank_giraph_vs_mapreduce_spark.operators.similarity import (
        probe_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == QUERY_ID)
    table = _ivf_index_table(spark, sf_dir)
    top = probe_ivf_index(
        spark, table, q, _centroids(spark, sf_dir), k=5, nprobe=NPROBE
    )
    return top.select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))


MATRYOSHKA_PREFIX = 16
MATRYOSHKA_SHORTLIST = 50
MATRYOSHKA_K = 5

_MAT_SQL = f"""WITH q AS (
  SELECT embedding, list_slice(embedding, 1, {MATRYOSHKA_PREFIX}) AS pe
  FROM embeddings WHERE vec_id = {QUERY_ID}),
pre AS (
  SELECT e.vec_id, e.embedding,
         round({_sql_cos(f'list_slice(e.embedding, 1, {MATRYOSHKA_PREFIX})', 'q.pe')}, 6)
           AS pre_sim
  FROM embeddings e, q),
short AS (
  SELECT vec_id, embedding FROM pre
  ORDER BY pre_sim DESC, vec_id LIMIT {MATRYOSHKA_SHORTLIST})
SELECT s.vec_id, round({_sql_cos('s.embedding', 'q.embedding')}, 6) AS cos_sim
FROM short s, q
ORDER BY cos_sim DESC, s.vec_id LIMIT {MATRYOSHKA_K}"""


@query("sim_matryoshka_rerank", oracle=_MAT_SQL)
def sim_matryoshka_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka two-stage retrieval: 16-dim-prefix cosine shortlists 50
    candidates (4x fewer FLOPs/bytes per corpus row than full width),
    full 64-dim cosine reranks to top-5 — the filter-then-rerank
    economics of IVF/PQ with zero index build (operators/similarity.py:
    matryoshka_topk). Same 6-dp/id-tiebreak determinism contract as
    sim_cosine_top10."""
    from pagerank_giraph_vs_mapreduce_spark.operators.similarity import (
        matryoshka_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == QUERY_ID)
    return matryoshka_topk(
        emb, q, MATRYOSHKA_PREFIX, MATRYOSHKA_SHORTLIST, MATRYOSHKA_K
    )


BINQ_SHORTLIST = 50
BINQ_K = 5


def _binq_pack_sql(vec: str, offset: int) -> str:
    return (
        f"list_sum(list_transform(range(0, 32), d -> CASE WHEN {vec}[d + {offset} + 1] > 0 "
        f"THEN CAST(1 AS BIGINT) << CAST(d AS INT) ELSE 0 END))"
    )


_BINQ_SQL = f"""WITH q AS (
  SELECT embedding,
         {_binq_pack_sql('embedding', 0)} AS qb0,
         {_binq_pack_sql('embedding', 32)} AS qb1
  FROM embeddings WHERE vec_id = {QUERY_ID}),
sg AS (
  SELECT e.vec_id, e.embedding,
         bit_count(xor({_binq_pack_sql('e.embedding', 0)}, q.qb0))
         + bit_count(xor({_binq_pack_sql('e.embedding', 32)}, q.qb1)) AS hamming
  FROM embeddings e, q),
short AS (
  SELECT vec_id, embedding FROM sg
  ORDER BY hamming ASC, vec_id LIMIT {BINQ_SHORTLIST})
SELECT s.vec_id, round({_sql_cos('s.embedding', 'q.embedding')}, 6) AS cos_sim
FROM short s, q
ORDER BY cos_sim DESC, s.vec_id LIMIT {BINQ_K}"""


@query("sim_binary_rerank", oracle=_BINQ_SQL)
def sim_binary_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized two-stage search: sign-bit signatures (32x
    compression, 2 BIGINTs/vector), Hamming shortlist of 50, full
    cosine rerank to top-5 (operators/similarity.py:binary_rerank_topk).
    The integer Hamming cut needs no rounding contract — exact across
    engines by construction."""
    from pagerank_giraph_vs_mapreduce_spark.operators.similarity import (
        binary_rerank_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == QUERY_ID)
    return binary_rerank_topk(emb, q, BINQ_SHORTLIST, BINQ_K)
