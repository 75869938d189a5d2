"""Declared corpus-curation pipeline queries (operators/curation.py) with
exact DuckDB oracles.

The oracle composes the SAME SQL fragments the component queries already
use — text signal expressions from plans/text_queries.py and the MinHash/
LSH/Jaccard CTE chain from plans/dedup_queries.py — so the pipeline check
certifies the composition, not a re-derivation.

Input is ``docs3``: documents plus two planted duplicate classes that
exercise both dedup stages —

  +DUP_OFFSET    verbatim copies of doc_id %% 10 == 0  (caught by exact dedup)
  +2*DUP_OFFSET  near-copies of doc_id %% 10 == 5 with ' zz' appended
                 (same md5? no — caught by MinHash at jaccard >= 0.8)

DUP_OFFSET is 1e9, not a table-sized constant: a fixed +10000 silently
collides with real doc_ids once the documents table exceeds 10000 rows
(sf >= ~1) and the planted "duplicates" become id-aliased real docs —
the same trap applies to vec_ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pagerank_giraph_vs_mapreduce_spark.operators.curation import (
    curate_corpus,
    curate_corpus_staged,
    curation_funnel,
)
from pagerank_giraph_vs_mapreduce_spark.plans.dedup_queries import (
    BANDED_SQL,
    CAND_STAR_SQL,
    JACCARD_SQL,
    SHINGLES_SQL,
    SIG_SQL,
)
from pagerank_giraph_vs_mapreduce_spark.plans.registry import query
from pagerank_giraph_vs_mapreduce_spark.plans.text_queries import (
    LANG_CASES_SQL,
    LANG_GREATEST_SQL,
    LANG_SCORES_SQL,
    N_TOKENS_SQL,
    QUALITY_SQL,
)
from pagerank_giraph_vs_mapreduce_spark.sources.tables import load_table

LANG = "en"
MIN_QUALITY = 0.5
NEAR_THRESHOLD = 0.8
# Planted-duplicate id offset — far past any realistic doc_id range so the
# synthetic dup classes never alias real documents at higher scale factors.
DUP_OFFSET = 1_000_000_000

# Pipeline CTE chain shared by both queries. The exact-dedup survivors are
# named ``docs2`` because dedup_queries' SHINGLES_SQL/SIG_SQL fragments
# shingle whatever relation carries that name.
PIPELINE_CTES = f"""docs3 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {DUP_OFFSET} AS doc_id, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + {2 * DUP_OFFSET} AS doc_id, text || ' zz' AS text
  FROM documents WHERE doc_id % 10 = 5),
padded_docs AS (
  SELECT doc_id, text, concat(' ', text, ' ') AS padded FROM docs3),
scored AS (
  SELECT doc_id, text,
{LANG_SCORES_SQL},
  greatest({LANG_GREATEST_SQL}) AS best
  FROM padded_docs),
sigs AS (
  SELECT doc_id, text,
    CASE WHEN best = 0 THEN 'unknown'
{LANG_CASES_SQL}
    ELSE 'unknown' END AS lang_pred,
    {QUALITY_SQL} AS quality,
    {N_TOKENS_SQL} AS n_tokens
  FROM scored),
gated AS (
  SELECT * FROM sigs WHERE lang_pred = '{LANG}' AND quality >= {MIN_QUALITY}),
keep AS (
  SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
docs2 AS (
  SELECT g.doc_id, g.text FROM gated g JOIN keep k ON g.doc_id = k.doc_id),
{SHINGLES_SQL},
{SIG_SQL},
{BANDED_SQL},
{CAND_STAR_SQL},
{JACCARD_SQL},
drop_ids AS (
  SELECT DISTINCT id_b FROM jac WHERE jaccard >= {NEAR_THRESHOLD}),
final AS (
  SELECT g.doc_id, g.lang_pred, g.quality, g.n_tokens
  FROM gated g
  JOIN keep k ON g.doc_id = k.doc_id
  LEFT JOIN drop_ids d ON g.doc_id = d.id_b
  WHERE d.id_b IS NULL)"""


def _docs3(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    verbatim = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + DUP_OFFSET).alias("doc_id"), "text"
    )
    near = docs.filter(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 2 * DUP_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    return docs.unionAll(verbatim).unionAll(near)


@query(
    "pipeline_curation",
    oracle=f"WITH {PIPELINE_CTES}\nSELECT doc_id, lang_pred, quality, n_tokens FROM final",
)
def pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full curation pipeline: signal extraction -> lang/quality gate ->
    exact dedup (min-id per md5) -> MinHash-LSH near-dup removal with
    STAR candidates (drop every doc >= 0.8 Jaccard against its LSH
    bucket's min-id representative — B-1 candidate edges per bucket;
    the all-pairs form measured 525x shuffle records at 10x docs on the
    replica-heavy sf1 corpus). Surviving docs with their signals."""
    return curate_corpus(
        _docs3(spark, sf_dir),
        "doc_id",
        "text",
        lang=LANG,
        min_quality=MIN_QUALITY,
        near_threshold=NEAR_THRESHOLD,
    )


@query(
    "pipeline_curation_funnel",
    oracle=f"""WITH {PIPELINE_CTES}
SELECT (SELECT count(*) FROM docs3) AS n_input,
       (SELECT count(*) FROM gated) AS n_gated,
       (SELECT count(*) FROM docs2) AS n_exact,
       (SELECT count(*) FROM final) AS n_final""",
)
def pipeline_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-row per-stage funnel (input/gated/exact/final counts) as one lazy
    plan of broadcast-crossJoined scalar aggregates."""
    return curation_funnel(
        _docs3(spark, sf_dir),
        "doc_id",
        "text",
        lang=LANG,
        min_quality=MIN_QUALITY,
        near_threshold=NEAR_THRESHOLD,
    )


def _staged(spark: SparkSession, sf_dir: str):
    """Run the staged pipeline into a fresh scratch dir (one run per query
    call — the driver's collect then reads the staged parquet back)."""
    import tempfile

    stage_dir = tempfile.mkdtemp(prefix="curation_stage_")
    return curate_corpus_staged(
        _docs3(spark, sf_dir),
        stage_dir,
        "doc_id",
        "text",
        lang=LANG,
        min_quality=MIN_QUALITY,
        near_threshold=NEAR_THRESHOLD,
    )


@query(
    "pipeline_curation_staged",
    oracle=f"WITH {PIPELINE_CTES}\nSELECT doc_id, lang_pred, quality, n_tokens FROM final",
)
def pipeline_curation_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staged-materialization variant of pipeline_curation: survivor
    tables written to parquet between stages and read back (the 100 TB
    shape named in operators/curation.py), so each stage scans only its
    predecessor's pruned output and a failed stage restarts from durable
    state. Same oracle as the one-plan variant — staging must not change
    a single surviving row."""
    return _staged(spark, sf_dir).final


@query(
    "pipeline_curation_staged_funnel",
    oracle=f"""WITH {PIPELINE_CTES}
SELECT (SELECT count(*) FROM docs3) AS n_input,
       (SELECT count(*) FROM gated) AS n_gated,
       (SELECT count(*) FROM docs2) AS n_exact,
       (SELECT count(*) FROM final) AS n_final""",
)
def pipeline_curation_staged_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel derived from the staged tables: n_input from an observe()
    metric captured on the stage-1 scan, n_gated/n_exact/n_final as
    columnless counts of the staged parquet — zero recompute of any stage
    chain, vs the one-plan funnel's ~4x shared-lineage recompute. Same
    oracle as pipeline_curation_funnel."""
    return _staged(spark, sf_dir).funnel


@query(
    "pipeline_chunk_dedup",
    oracle=f"""WITH docs3 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {DUP_OFFSET} AS doc_id, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + {2 * DUP_OFFSET} AS doc_id, text || ' zz' AS text
  FROM documents WHERE doc_id % 10 = 5),
base AS (
  SELECT doc_id, text,
         greatest(1, CAST(ceil((length(text) - 50) / 150.0) AS INT)) AS n_chunks
  FROM docs3),
chunks AS (
  SELECT doc_id, CAST(r.i AS INT) AS chunk_id,
         substr(text, CAST(r.i * 150 + 1 AS INT), 200) AS chunk
  FROM base, LATERAL unnest(range(0, n_chunks)) AS r(i))
SELECT md5(chunk) AS fp, min(doc_id) AS keep_doc,
       CAST(count(*) AS BIGINT) AS copies
FROM chunks GROUP BY md5(chunk) HAVING count(*) >= 2""",
)
def pipeline_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup (repeated-passage detection): chunk every doc
    into 200/50 windows, hash-group the chunks, report passages appearing
    in 2+ places with the surviving (minimum) doc id — the paragraph-
    granularity dedup pass corpus pipelines run after document-level
    dedup. Map-side-combined single aggregation over the chunk fan-out;
    scan-bound at scale."""
    from pagerank_giraph_vs_mapreduce_spark.operators.text import (
        chunk_documents,
    )

    chunks = chunk_documents(_docs3(spark, sf_dir), "doc_id", "text",
                             chunk_chars=200, overlap=50)
    return (
        chunks.groupBy(F.md5(F.col("chunk")).alias("fp"))
        .agg(
            F.min("doc_id").alias("keep_doc"),
            F.count(F.lit(1)).alias("copies"),
        )
        .filter(F.col("copies") >= 2)
    )


QUOTA = 50


@query(
    "pipeline_class_balance",
    oracle=f"""WITH counts AS (
  SELECT lang, count(*) AS c FROM documents GROUP BY lang)
SELECT d.doc_id, d.lang
FROM documents d JOIN counts USING (lang)
WHERE c <= {QUOTA}
   OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
      < printf('%08x', CAST(floor({QUOTA} * 4294967296.0 / c) AS BIGINT))""",
)
def pipeline_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced corpus sampling: downsample each language toward a
    ~{QUOTA}-doc quota with a deterministic two-pass scheme — (1) tiny
    per-class count table, broadcast back; (2) keep rows whose md5-prefix
    percentile falls under quota/count. The md5 gate is the fn_hash_sample
    discipline: row-local, engine-independent, stable under retries and
    repartitioning. No sort, no window, no per-class shuffle — the scan
    applies a broadcast-joined predicate, which is the only shape that
    survives a 100 TB corpus with a 3-order-of-magnitude class skew
    (per-class exact top-N would sort the majority class for no benefit;
    a quota sampler needs only the fraction)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    threshold_hex = F.lower(
        F.lpad(
            F.conv(
                F.floor(F.lit(QUOTA * 4294967296.0) / F.col("c")).cast("string"),
                10,
                16,
            ),
            8,
            "0",
        )
    )
    return (
        docs.join(F.broadcast(counts), "lang")
        .filter(
            (F.col("c") <= QUOTA)
            | (
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
                < threshold_hex
            )
        )
        .select("doc_id", "lang")
    )


DECON_N = 5
DECON_MOD = 97


@query(
    "pipeline_decontaminate",
    oracle=f"""WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
                             t -> t != '') AS l
  FROM documents),
shingles AS (
  SELECT doc_id, g.gram FROM toks, LATERAL unnest(
    list_distinct(list_transform(range(1, len(l) - {DECON_N - 2}),
        i -> array_to_string(list_slice(l, i, i + {DECON_N - 1}), ' ')))
  ) AS g(gram)),
bench AS (
  SELECT DISTINCT gram FROM shingles WHERE doc_id % {DECON_MOD} = 0),
hits AS (
  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
  FROM shingles s JOIN bench b ON s.gram = b.gram
  WHERE s.doc_id % {DECON_MOD} <> 0
  GROUP BY s.doc_id)
SELECT d.doc_id,
       COALESCE(h.n_shared_grams, 0) AS n_shared_grams,
       COALESCE(h.n_shared_grams, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % {DECON_MOD} <> 0""",
)
def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/curation.py:decontaminate):
    flag corpus documents sharing any word 5-gram with the held-out
    benchmark slice (doc_id % 97 == 0 — deterministic, so the oracle
    reconstructs the same split). The benchmark's distinct shingles are
    broadcast, the corpus side is scan -> in-row shingle -> explode ->
    broadcast equi-join -> map-side-combined count: nothing all-pairs,
    no corpus-vs-corpus shuffle — the GPT-3/Llama n-gram-overlap hygiene
    check in its 100 TB shape."""
    from pagerank_giraph_vs_mapreduce_spark.operators.curation import (
        decontaminate,
    )

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % DECON_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % DECON_MOD != 0)
    return decontaminate(corpus, bench, "doc_id", "text", n=DECON_N)


MIX_BUDGET = 200


@query(
    "pipeline_domain_mix",
    oracle=f"""WITH counts AS (
  SELECT source, count(*) AS c, CAST(sum(count(*)) OVER () AS BIGINT) AS n_total
  FROM documents GROUP BY source),
wts AS (
  SELECT source, c,
         CAST(round(sqrt(CAST(c AS DOUBLE) / n_total), 12)
              AS DECIMAL(20,12)) AS w
  FROM counts),
tot AS (SELECT sum(w) AS sumw FROM wts),
rates AS (
  SELECT source,
         least(1.0, {MIX_BUDGET}.0 * CAST(w AS DOUBLE)
               / CAST(sumw AS DOUBLE) / c) AS frac
  FROM wts, tot)
SELECT d.doc_id, d.source
FROM documents d JOIN rates r USING (source)
WHERE r.frac >= 1.0
   OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
      < printf('%08x', CAST(floor(r.frac * 4294967296.0) AS BIGINT))""",
)
def pipeline_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixing (T=2, budget {MIX_BUDGET}):
    rebalance the corpus across `source` domains with sampling rates
    proportional to share^(1/2) — the multilingual-training rule that
    upweights tail domains — realized through the deterministic
    md5-percentile gate (operators/curation.py:domain_mix_sample). One
    tiny domain aggregate broadcast back as a scan predicate; no sort,
    no window, no per-domain shuffle."""
    from pagerank_giraph_vs_mapreduce_spark.operators.curation import (
        domain_mix_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return domain_mix_sample(docs, "source", "doc_id", budget=MIX_BUDGET)


PACK_BUDGET = 512
PACK_SHARDS = 8  # per-domain parallel packing lanes


@query(
    "pipeline_pack_sequences",
    oracle=f"""WITH toks AS (
  SELECT doc_id, source,
         CAST((length(text) - length(replace(text, ' ', ''))) + 1 AS BIGINT)
           AS n_toks,
         md5(CAST(doc_id AS VARCHAR)) AS okey,
         doc_id % {PACK_SHARDS} AS shard
  FROM documents),
streamed AS (
  SELECT doc_id, source, shard, n_toks,
         sum(n_toks) OVER (PARTITION BY source, shard ORDER BY okey
                           ROWS UNBOUNDED PRECEDING) AS cum
  FROM toks),
shard_bins AS (
  SELECT source, shard,
         CAST(floor((sum(n_toks) + {PACK_BUDGET} - 1) / {PACK_BUDGET})
              AS BIGINT) AS n_bins
  FROM toks GROUP BY source, shard),
bases AS (
  SELECT source, shard,
         COALESCE(sum(n_bins) OVER (
             PARTITION BY source ORDER BY shard
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bin_base
  FROM shard_bins)
SELECT s.doc_id, s.source, s.n_toks,
       CAST(b.bin_base
            + floor(CAST(s.cum - s.n_toks AS DOUBLE) / {PACK_BUDGET})
         AS BIGINT) AS bin,
       CAST((s.cum - s.n_toks) % {PACK_BUDGET} AS BIGINT) AS offset_in_bin
FROM streamed s
JOIN bases b ON b.source = s.source AND b.shard = s.shard""",
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the training-prep step that lays documents into
    fixed-token-budget streams ({PACK_BUDGET} tokens here): documents are
    concatenated in a deterministic hash order and each is assigned the
    bin (training sequence) where it STARTS plus its offset inside that
    bin; documents straddle bin boundaries exactly as real packed
    pretraining batches do.

    The running-sum window is keyed on (source, shard) with
    shard = doc_id % {PACK_SHARDS} — NOT on raw source:
    at 100 TB a whale domain would serialize its entire running sum
    through one task, so each domain is split into {PACK_SHARDS}
    deterministic shards that pack independently and in parallel. Global
    bin ids stay deterministic via per-shard bin bases: shard s's bins
    start after the ceil(tokens/budget) bins of shards < s, computed by a
    tiny per-(source, shard) aggregate (|sources|*{PACK_SHARDS} rows)
    whose prefix-sum window is negligible and which broadcast-joins back
    onto the stream. Each shard's final partial bin is padded, exactly
    like real per-worker packing. The stream order within a shard is
    md5(doc_id), so retries and the oracle replay the identical layout."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    n_toks = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    ).cast("bigint")
    toks = docs.select(
        "doc_id",
        "source",
        n_toks.alias("n_toks"),
        F.md5(F.col("doc_id").cast("string")).alias("okey"),
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
    )
    w = (
        Window.partitionBy("source", "shard")
        .orderBy("okey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    streamed = toks.withColumn("cum", F.sum("n_toks").over(w))
    shard_bins = toks.groupBy("source", "shard").agg(
        F.floor((F.sum("n_toks") + PACK_BUDGET - 1) / PACK_BUDGET)
        .cast("bigint")
        .alias("n_bins")
    )
    w_base = (
        Window.partitionBy("source")
        .orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bases = shard_bins.select(
        "source",
        "shard",
        F.coalesce(F.sum("n_bins").over(w_base), F.lit(0)).alias("bin_base"),
    )
    start = F.col("cum") - F.col("n_toks")
    return streamed.join(
        F.broadcast(bases), ["source", "shard"]
    ).select(
        "doc_id",
        "source",
        "n_toks",
        (F.col("bin_base") + F.floor(start.cast("double") / PACK_BUDGET))
        .cast("bigint")
        .alias("bin"),
        (start % PACK_BUDGET).cast("bigint").alias("offset_in_bin"),
    )


@query(
    "pipeline_quality_bins",
    oracle=f"""WITH q AS (SELECT doc_id, {QUALITY_SQL} AS q FROM documents),
th AS (SELECT
  round(percentile_cont(0.25) WITHIN GROUP (ORDER BY q), 9) AS t1,
  round(percentile_cont(0.50) WITHIN GROUP (ORDER BY q), 9) AS t2,
  round(percentile_cont(0.75) WITHIN GROUP (ORDER BY q), 9) AS t3
  FROM q)
SELECT (CASE WHEN q.q > th.t1 THEN 1 ELSE 0 END
      + CASE WHEN q.q > th.t2 THEN 1 ELSE 0 END
      + CASE WHEN q.q > th.t3 THEN 1 ELSE 0 END) AS bin,
  CAST(count(*) AS BIGINT) AS n_docs,
  round(CAST(sum(CAST(q.q AS DECIMAL(38,12))) AS DOUBLE) / count(*), 9)
    AS avg_q,
  min(q.q) AS min_q,
  max(q.q) AS max_q
FROM q, th GROUP BY 1""",
)
def pipeline_quality_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum/quality binning WITHOUT a global sort: quartile
    thresholds of the heuristic quality score come from one scalar
    percentile aggregate, broadcast back as three constants, and the bin
    id is a per-row threshold count. The ntile() alternative is a single
    totally-ordered window — one all-data range-exchange plus a full
    sort, the classic 100 TB anti-pattern; this shape is two map-side
    aggregations and a broadcast, with ties handled identically on both
    engines (strict '>' against 9-dp-rounded thresholds)."""
    from pagerank_giraph_vs_mapreduce_spark.operators.text import quality_col

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", quality_col(F.col("text")).alias("q")
    )
    th = docs.agg(
        *[
            F.round(
                F.expr(f"percentile_cont({p}) WITHIN GROUP (ORDER BY q)"), 9
            ).alias(f"t{i}")
            for i, p in ((1, 0.25), (2, 0.50), (3, 0.75))
        ]
    )
    binned = docs.crossJoin(F.broadcast(th)).select(
        (
            (F.col("q") > F.col("t1")).cast("int")
            + (F.col("q") > F.col("t2")).cast("int")
            + (F.col("q") > F.col("t3")).cast("int")
        ).alias("bin"),
        "q",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(
            F.sum(F.col("q").cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("avg_q"),
        F.min("q").alias("min_q"),
        F.max("q").alias("max_q"),
    )


DSIR_TARGET = "src0"
DSIR_TOP = 100

# The featurization CTEs must stay textually in lockstep with
# text_feature_hash_64's oracle (same polyhash, same 64 dims) — DSIR's
# guarantees hold only if target and pool share the feature space.
_DSIR_COO_SQL = """toks AS (
  SELECT doc_id, t.tok
  FROM documents, LATERAL unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(tok)
  WHERE t.tok != ''),
dims AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(1, length(tok) + 1),
                  i -> CAST(ascii(substr(tok, CAST(i AS INT), 1)) AS BIGINT)
                       * ((i % 32) + 1))) % 64 AS INT) AS dim
  FROM toks),
coo AS (
  SELECT doc_id, dim, CAST(count(*) AS BIGINT) AS val
  FROM dims GROUP BY doc_id, dim)"""


@query(
    "pipeline_dsir_resample",
    oracle=f"""WITH {_DSIR_COO_SQL},
tgt AS (SELECT c.dim, sum(c.val) AS ct
        FROM coo c JOIN documents d ON c.doc_id = d.doc_id
        WHERE d.source = '{DSIR_TARGET}' GROUP BY c.dim),
srcs AS (SELECT dim, sum(val) AS cs FROM coo GROUP BY dim),
tots AS (SELECT (SELECT sum(ct) FROM tgt) AS tt,
                (SELECT sum(cs) FROM srcs) AS ts),
delta AS (SELECT s.dim,
  ln((coalesce(t.ct, 0) + 1.0) / (tots.tt + 64))
  - ln((s.cs + 1.0) / (tots.ts + 64)) AS d
  FROM srcs s LEFT JOIN tgt t ON s.dim = t.dim, tots)
SELECT c.doc_id,
  round(CAST(sum(CAST(round(c.val * dl.d, 9) AS DECIMAL(38,12))) AS DOUBLE),
        6) AS log_w
FROM coo c JOIN delta dl ON c.dim = dl.dim
GROUP BY c.doc_id
ORDER BY log_w DESC, c.doc_id LIMIT {DSIR_TOP}""",
)
def pipeline_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every pool
    document by the log importance ratio of a target domain's hashed
    n-gram distribution over the pool's (add-1 smoothed over the 64
    hashed dims), and keep the top-{DSIR_TOP}. Here the target is the
    ``{DSIR_TARGET}`` source split standing in for the curated domain.

    Scale shape: both distribution estimates come from ONE aggregation
    over the COO rows (pool and target counts as two aggregates of the
    same groupBy), the 64-row log-ratio table broadcasts back, and
    scoring is one per-doc aggregation — two featurize passes total,
    one with the COO persisted/staged (see the in-body note). Nothing
    but the (doc, dim, val) COO rows ever shuffles.
    Determinism: per-term round(·, 9) then exact DECIMAL summation, so
    the ranking is immune to double-addition order across engines and
    partitionings (same discipline as PQ's ADC distances)."""
    from pagerank_giraph_vs_mapreduce_spark.plans.text_queries import (
        FEATURE_DIMS,
        text_feature_hash_64,
    )

    coo = text_feature_hash_64(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("source") == DSIR_TARGET).alias("is_t")
    )
    # Both distribution estimates from ONE pass over the COO rows: the
    # pool count and the target count are two aggregates of the same
    # groupBy, so the corpus featurizes twice total (here + the scoring
    # join below), not once per distribution. At 100 TB persist the COO
    # (or stage it to parquet) to make it exactly one scan — the same
    # staged-materialization tradeoff the curation pipeline documents.
    dists = (
        coo.join(docs, "doc_id")
        .groupBy("dim")
        .agg(
            F.sum("val").alias("cs"),
            F.sum(F.when(F.col("is_t"), F.col("val")).otherwise(0)).alias("ct"),
        )
    )
    tots = dists.agg(F.sum("cs").alias("ts"), F.sum("ct").alias("tt"))
    delta = (
        dists.crossJoin(F.broadcast(tots))
        .select(
            "dim",
            (
                F.log(
                    (F.col("ct") + F.lit(1.0))
                    / (F.col("tt") + F.lit(float(FEATURE_DIMS)))
                )
                - F.log(
                    (F.col("cs") + F.lit(1.0))
                    / (F.col("ts") + F.lit(float(FEATURE_DIMS)))
                )
            ).alias("d"),
        )
    )
    w = (
        coo.join(F.broadcast(delta), "dim")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(
                    F.round(F.col("val") * F.col("d"), 9).cast("decimal(38,12)")
                ).cast("double"),
                6,
            ).alias("log_w")
        )
    )
    return w.orderBy(F.desc("log_w"), F.asc("doc_id")).limit(DSIR_TOP)


@query(
    "pipeline_stratified_sample",
    oracle="""SELECT doc_id, source
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <
      substr('0123456789abcdef',
             ((ascii(substr(source, 1, 1)) % 5) + 1) + 1, 1)""",
)
def pipeline_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic downsampling — the corpus-rebalancing
    primitive (cap an over-represented domain at rate r, keep the rest
    denser). Each source gets its own keep rate (here k/16 with
    k = ascii(source[0]) % 5 + 1 — a stand-in for a broadcast
    rate table); a row is kept iff its md5 first hex digit < k's digit.
    md5 makes the SAME rows survive on any engine, any partitioning, any
    retry — unlike rng TABLESAMPLE, whose selection is seed- and
    split-dependent. At 100 TB this is a pure row-local predicate: it
    pushes to the scan, shuffles nothing, and composes with any
    downstream operator; changing the mix is a rate-table edit, not a
    recluster."""
    d = load_table(spark, sf_dir, "documents")
    # per-source keep rate k/16, encoded as the k-th hex digit threshold
    thr = F.expr(
        "substr('0123456789abcdef', ((ascii(substr(source,1,1)) % 5) + 1) + 1, 1)"
    )
    return d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < thr
    ).select("doc_id", "source")


RAG_DIMS = 8
RAG_TOPK = 5
_RAG_STRIDE = 150  # CHUNK_CHARS 200 - CHUNK_OVERLAP 50, as in text_chunks
_RAG_POLYHASH = """CAST(list_sum(list_transform(range(1, length(tok) + 1),
    i -> CAST(ascii(substr(tok, CAST(i AS INT), 1)) AS BIGINT)
         * ((i % 32) + 1))) % {dims} AS INT)"""


@query(
    "pipeline_rag_retrieve",
    oracle=f"""WITH base AS (
  SELECT doc_id, text,
         greatest(1, CAST(ceil((length(text) - 50) / {_RAG_STRIDE}.0) AS INT)) AS n_chunks
  FROM documents),
chunks AS (
  SELECT doc_id, CAST(r.i AS INT) AS chunk_id,
         substr(text, CAST(r.i * {_RAG_STRIDE} + 1 AS INT), 200) AS chunk
  FROM base, LATERAL unnest(range(0, n_chunks)) AS r(i)),
toks AS (
  SELECT doc_id, chunk_id, t.tok
  FROM chunks, LATERAL unnest(string_split_regex(lower(chunk), '[^a-z]+')) AS t(tok)
  WHERE t.tok != ''),
cvec AS (
  SELECT doc_id, chunk_id, {_RAG_POLYHASH.format(dims=RAG_DIMS)} AS dim,
         CAST(count(*) AS BIGINT) AS cnt
  FROM toks GROUP BY 1, 2, 3),
qvec AS (SELECT dim, cnt FROM cvec WHERE doc_id = 0 AND chunk_id = 0),
dots AS (
  SELECT c.doc_id, c.chunk_id, sum(c.cnt * q.cnt) AS dot
  FROM cvec c JOIN qvec q USING (dim) GROUP BY 1, 2),
norms AS (
  SELECT doc_id, chunk_id, sqrt(sum(cnt * cnt)) AS nrm
  FROM cvec GROUP BY 1, 2),
qn AS (SELECT sqrt(sum(cnt * cnt)) AS qnrm FROM qvec)
SELECT d.doc_id, d.chunk_id,
       round(CAST(d.dot AS DOUBLE) / (n.nrm * qn.qnrm), 6) AS cos_sim
FROM dots d JOIN norms n USING (doc_id, chunk_id), qn
WHERE n.nrm > 0
ORDER BY cos_sim DESC, d.doc_id, d.chunk_id LIMIT {RAG_TOPK}""",
)
def pipeline_rag_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RAG retrieval in ONE lazy plan: chunk the corpus
    (operators/text.py:chunk_documents, same 200/50 window as
    text_chunks), embed every chunk with a deterministic
    8-dim hashed bag-of-words vector built IN-ROW (token →
    position-weighted polyhash → dim histogram, all codegen'd array
    ops), then cosine-score against the query chunk (doc 0's first
    chunk — self-retrieval, so rank 1 is the query itself: a built-in
    sanity check) and TakeOrderedAndProject the top 5.

    Scale shape: the corpus side is scan → explode(chunks) → per-row
    vector+score → top-k. ZERO shuffles — embedding is row-local, the
    query vector is a 1-row broadcast crossJoin, and top-k needs no
    exchange. Swapping the hashed embedding for a real encoder changes
    one projection (mapInPandas over the chunk column); the retrieval
    plan is unchanged. Integer dot/norm sums keep both engines
    bit-identical; division happens once in doubles, rounded to 6dp
    before ordering."""
    return _rag_score_topk(_rag_embedded(spark, sf_dir))


def _rag_embedded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, chunk_id, vec array<long>): the chunk → in-row hashed
    embedding stage shared by retrieval and MMR rerank."""
    from pagerank_giraph_vs_mapreduce_spark.operators.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, "doc_id", "text", chunk_chars=200, overlap=50)

    toks = F.filter(
        F.split(F.lower(F.col("chunk")), "[^a-z]+"), lambda t: t != ""
    )
    # per-token dim: SAME polyhash as text_feature_hash_64 (position-
    # weighted ascii sum mod dims) so the oracle shares the formula;
    # computed via the one-pass char-array helper
    from pagerank_giraph_vs_mapreduce_spark.functions.hashing import (
        position_weighted_sum,
    )

    def _dim(t):
        return (position_weighted_sum(t, 32) % RAG_DIMS).cast("int")

    dims_arr = F.transform(toks, _dim)
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(RAG_DIMS - 1)),
        lambda j: F.size(F.filter(dims_arr, lambda d: d == j)).cast("long"),
    )
    return chunks.select("doc_id", "chunk_id", vec.alias("vec"))


def _rag_score_topk(embedded: DataFrame) -> DataFrame:
    """Cosine top-k of ``(doc_id, chunk_id, vec array<long>)`` against the
    query chunk (doc 0's first chunk). Encoder-agnostic: the retrieval
    plan (1-row broadcast crossJoin + per-row integer dot/norm +
    TakeOrderedAndProject, ZERO shuffle exchanges) is identical whatever
    produced ``vec`` — the hashed embedding or a mapInPandas model."""
    qvec = embedded.filter(
        (F.col("doc_id") == 0) & (F.col("chunk_id") == 0)
    ).select(F.col("vec").alias("qvec"))

    def _sq_sum(v):
        return F.aggregate(
            F.transform(v, lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    dot = F.aggregate(
        F.zip_with(F.col("vec"), F.col("qvec"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    nrm = F.sqrt(_sq_sum(F.col("vec")).cast("double"))
    qnrm = F.sqrt(_sq_sum(F.col("qvec")).cast("double"))
    return (
        embedded.crossJoin(F.broadcast(qvec))
        .filter(_sq_sum(F.col("vec")) > 0)
        .select(
            "doc_id",
            "chunk_id",
            F.round(dot.cast("double") / (nrm * qnrm), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "doc_id", "chunk_id")
        .limit(RAG_TOPK)
    )


MMR_POOL = 10
MMR_K = 3
MMR_LAM = 0.7
MMR_MU = 0.3  # NOT 1-MMR_LAM: Python's 1-0.7 is 0.30000000000000004


@query(
    "pipeline_rag_mmr",
    oracle=f"""WITH base AS (
  SELECT doc_id, text,
         greatest(1, CAST(ceil((length(text) - 50) / {_RAG_STRIDE}.0) AS INT)) AS n_chunks
  FROM documents),
chunks AS (
  SELECT doc_id, CAST(r.i AS INT) AS chunk_id,
         substr(text, CAST(r.i * {_RAG_STRIDE} + 1 AS INT), 200) AS chunk
  FROM base, LATERAL unnest(range(0, n_chunks)) AS r(i)),
toks AS (
  SELECT doc_id, chunk_id, t.tok
  FROM chunks, LATERAL unnest(string_split_regex(lower(chunk), '[^a-z]+')) AS t(tok)
  WHERE t.tok != ''),
cvec AS MATERIALIZED (
  SELECT doc_id, chunk_id, {_RAG_POLYHASH.format(dims=RAG_DIMS)} AS dim,
         CAST(count(*) AS BIGINT) AS cnt
  FROM toks GROUP BY 1, 2, 3),
qvec AS (SELECT dim, cnt FROM cvec WHERE doc_id = 0 AND chunk_id = 0),
dots AS (
  SELECT c.doc_id, c.chunk_id, sum(c.cnt * q.cnt) AS dot
  FROM cvec c JOIN qvec q USING (dim) GROUP BY 1, 2),
norms AS MATERIALIZED (
  SELECT doc_id, chunk_id, sqrt(sum(cnt * cnt)) AS nrm
  FROM cvec GROUP BY 1, 2),
qn AS (SELECT sqrt(sum(cnt * cnt)) AS qnrm FROM qvec),
rel AS (
  SELECT d.doc_id, d.chunk_id,
         round(CAST(d.dot AS DOUBLE) / (n.nrm * qn.qnrm), 6) AS rel
  FROM dots d JOIN norms n USING (doc_id, chunk_id), qn
  WHERE n.nrm > 0),
pool AS MATERIALIZED (
  SELECT * FROM rel ORDER BY rel DESC, doc_id, chunk_id LIMIT {MMR_POOL}),
pdots AS (
  SELECT a.doc_id AS a_doc, a.chunk_id AS a_chunk,
         b.doc_id AS b_doc, b.chunk_id AS b_chunk,
         sum(ca.cnt * cb.cnt) AS dot
  FROM pool a JOIN pool b
    ON NOT (a.doc_id = b.doc_id AND a.chunk_id = b.chunk_id)
  JOIN cvec ca ON ca.doc_id = a.doc_id AND ca.chunk_id = a.chunk_id
  JOIN cvec cb ON cb.doc_id = b.doc_id AND cb.chunk_id = b.chunk_id
             AND cb.dim = ca.dim
  GROUP BY 1, 2, 3, 4),
psim AS MATERIALIZED (
  SELECT p.a_doc, p.a_chunk, p.b_doc, p.b_chunk,
         round(CAST(p.dot AS DOUBLE) / (na.nrm * nb.nrm), 6) AS sim
  FROM pdots p
  JOIN norms na ON na.doc_id = p.a_doc AND na.chunk_id = p.a_chunk
  JOIN norms nb ON nb.doc_id = p.b_doc AND nb.chunk_id = p.b_chunk),
s1 AS MATERIALIZED (
  SELECT doc_id, chunk_id, rel, rel AS mmr FROM pool
  ORDER BY rel DESC, doc_id, chunk_id LIMIT 1),
c2 AS (
  SELECT p.doc_id, p.chunk_id, p.rel,
         CAST({MMR_LAM} AS DOUBLE) * p.rel
         - CAST({MMR_MU} AS DOUBLE) * max(coalesce(ps.sim, 0)) AS mmr
  FROM pool p
  JOIN s1 ON NOT (p.doc_id = s1.doc_id AND p.chunk_id = s1.chunk_id)
  LEFT JOIN psim ps ON ps.a_doc = p.doc_id AND ps.a_chunk = p.chunk_id
                   AND ps.b_doc = s1.doc_id AND ps.b_chunk = s1.chunk_id
  GROUP BY 1, 2, 3),
s2 AS MATERIALIZED (
  SELECT doc_id, chunk_id, rel, mmr FROM c2
  ORDER BY mmr DESC, doc_id, chunk_id LIMIT 1),
c3 AS (
  SELECT p.doc_id, p.chunk_id, p.rel,
         CAST({MMR_LAM} AS DOUBLE) * p.rel
         - CAST({MMR_MU} AS DOUBLE) * max(coalesce(ps.sim, 0)) AS mmr
  FROM pool p
  JOIN s1 ON NOT (p.doc_id = s1.doc_id AND p.chunk_id = s1.chunk_id)
  JOIN s2 ON NOT (p.doc_id = s2.doc_id AND p.chunk_id = s2.chunk_id)
  LEFT JOIN psim ps ON ps.a_doc = p.doc_id AND ps.a_chunk = p.chunk_id
                   AND ((ps.b_doc = s1.doc_id AND ps.b_chunk = s1.chunk_id)
                     OR (ps.b_doc = s2.doc_id AND ps.b_chunk = s2.chunk_id))
  GROUP BY 1, 2, 3),
s3 AS (
  SELECT doc_id, chunk_id, rel, mmr FROM c3
  ORDER BY mmr DESC, doc_id, chunk_id LIMIT 1),
ranked AS (
  SELECT 1 AS mmr_rank, * FROM s1
  UNION ALL SELECT 2, * FROM s2
  UNION ALL SELECT 3, * FROM s3)
SELECT doc_id, chunk_id, CAST(mmr_rank AS INT) AS mmr_rank,
       round(rel, 6) AS rel, round(mmr, 6) AS mmr_score
FROM ranked""",
)
def pipeline_rag_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversification on top of RAG retrieval (Carbonell &
    Goldstein 1998): from the top-{MMR_POOL} relevance pool, greedily
    pick {MMR_K} results maximizing
    ``λ·rel − (1−λ)·max_sim_to_already_selected`` (λ=0.7) — the rerank
    that keeps a context window from filling with near-copies of the
    same chunk (which a near-dup-heavy corpus otherwise guarantees).

    Scale shape: the corpus-sized work is exactly the retrieval plan
    (zero shuffles, top-pool TakeOrderedAndProject); the greedy loop
    then runs over the POOL (≤{MMR_POOL} rows) as {MMR_K} unrolled lazy
    rounds of broadcast crossJoins — pool-sized, never corpus-sized, the
    same bounded-rerank discipline production retrieval uses. All
    similarities are integer dot/norm cosines rounded to 6dp before the
    λ-mix, so both engines pick identical argmaxes (ties broken by
    doc_id, chunk_id)."""
    emb = _rag_embedded(spark, sf_dir)

    def _sq(v):
        return F.aggregate(
            F.transform(v, lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    def _cos(a, b):
        dot = F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        return F.round(
            dot.cast("double") / (F.sqrt(_sq(a)) * F.sqrt(_sq(b))), 6
        )

    qvec = emb.filter(
        (F.col("doc_id") == 0) & (F.col("chunk_id") == 0)
    ).select(F.col("vec").alias("qvec"))
    # EAGER localCheckpoint: the greedy rounds reference the pool ~8
    # times across union branches; a lazy persist lets the first job's
    # parallel stages race the cache and re-embed the corpus per branch
    # (measured 30.7 s vs ~10 s). Materializing the 10-row pool up front
    # costs one bounded action and makes every later branch a cache read
    # of a truncated plan.
    pool = (
        emb.crossJoin(F.broadcast(qvec))
        .filter(_sq(F.col("vec")) > 0)
        .select(
            "doc_id",
            "chunk_id",
            "vec",
            _cos(F.col("vec"), F.col("qvec")).alias("rel"),
        )
        .orderBy(F.desc("rel"), "doc_id", "chunk_id")
        .limit(MMR_POOL)
        .localCheckpoint(eager=True)
    )

    sel = pool.orderBy(F.desc("rel"), "doc_id", "chunk_id").limit(1)
    out = sel.select(
        "doc_id",
        "chunk_id",
        F.lit(1).cast("int").alias("mmr_rank"),
        "rel",
        F.col("rel").alias("mmr"),
    )
    selected = sel
    for r in range(2, MMR_K + 1):
        others = pool.join(
            selected.select("doc_id", "chunk_id"),
            ["doc_id", "chunk_id"],
            "left_anti",
        )
        sv = selected.select(F.col("vec").alias("svec"))
        cand = (
            others.crossJoin(F.broadcast(sv))
            .select(
                "doc_id",
                "chunk_id",
                "rel",
                _cos(F.col("vec"), F.col("svec")).alias("s"),
            )
            .groupBy("doc_id", "chunk_id")
            .agg(F.first("rel").alias("rel"), F.max("s").alias("maxsim"))
            .select(
                "doc_id",
                "chunk_id",
                "rel",
                (
                    F.lit(MMR_LAM) * F.col("rel")
                    - F.lit(MMR_MU) * F.col("maxsim")
                ).alias("mmr"),
            )
        )
        pick = cand.orderBy(F.desc("mmr"), "doc_id", "chunk_id").limit(1)
        out = out.unionAll(
            pick.select(
                "doc_id",
                "chunk_id",
                F.lit(r).cast("int").alias("mmr_rank"),
                "rel",
                "mmr",
            )
        )
        selected = selected.unionAll(
            pool.join(
                pick.select("doc_id", "chunk_id"),
                ["doc_id", "chunk_id"],
                "left_semi",
            )
        )
    return out.select(
        "doc_id",
        "chunk_id",
        "mmr_rank",
        F.round("rel", 6).alias("rel"),
        F.round("mmr", 6).alias("mmr_score"),
    )


RAG_ENC_DIMS = 6  # projected model dims (32-dim hist -> 6-dim embedding)


@query(
    "pipeline_rag_retrieve_encoder",
    oracle=f"""WITH base AS (
  SELECT doc_id, text,
         greatest(1, CAST(ceil((length(text) - 50) / {_RAG_STRIDE}.0) AS INT)) AS n_chunks
  FROM documents),
chunks AS (
  SELECT doc_id, CAST(r.i AS INT) AS chunk_id,
         substr(text, CAST(r.i * {_RAG_STRIDE} + 1 AS INT), 200) AS chunk
  FROM base, LATERAL unnest(range(0, n_chunks)) AS r(i)),
toks AS (
  SELECT doc_id, chunk_id, t.tok
  FROM chunks, LATERAL unnest(string_split_regex(lower(chunk), '[^a-z]+')) AS t(tok)
  WHERE t.tok != ''),
hist AS (
  SELECT doc_id, chunk_id, {_RAG_POLYHASH.format(dims=32)} AS dim,
         CAST(count(*) AS BIGINT) AS cnt
  FROM toks GROUP BY 1, 2, 3),
proj AS (
  SELECT h.doc_id, h.chunk_id, j.j,
         CAST(sum(h.cnt * (((h.dim * 31 + j.j * 17) % 7) - 3)) AS BIGINT) AS x
  FROM hist h CROSS JOIN (SELECT unnest(range(0, {RAG_ENC_DIMS})) AS j) j
  GROUP BY 1, 2, 3),
qvec AS (SELECT j, x FROM proj WHERE doc_id = 0 AND chunk_id = 0),
dots AS (
  SELECT p.doc_id, p.chunk_id, sum(p.x * q.x) AS dot
  FROM proj p JOIN qvec q USING (j) GROUP BY 1, 2),
norms AS (
  SELECT doc_id, chunk_id, sqrt(sum(x * x)) AS nrm
  FROM proj GROUP BY 1, 2),
qn AS (SELECT sqrt(sum(x * x)) AS qnrm FROM qvec)
SELECT d.doc_id, d.chunk_id,
       round(CAST(d.dot AS DOUBLE) / (n.nrm * qn.qnrm), 6) AS cos_sim
FROM dots d JOIN norms n USING (doc_id, chunk_id), qn
WHERE n.nrm > 0
ORDER BY cos_sim DESC, d.doc_id, d.chunk_id LIMIT {RAG_TOPK}""",
)
def pipeline_rag_retrieve_encoder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL-ENCODER swap the RAG plan promises:
    identical retrieval to pipeline_rag_retrieve, but the embedding
    projection is a ``mapInPandas`` MODEL — an Arrow-batched Python
    stage standing in for any transformer forward pass. The stand-in is
    deterministic so a DuckDB oracle can certify the whole path: token
    histogram (32 dims, same polyhash) multiplied by a fixed integer
    random-projection matrix P[d][j] = ((31*d + 17*j) % 7) - 3 down to
    6 dims, all integer → bit-identical across engines.

    Scale shape: the encoder is a narrow per-partition map (Arrow in,
    Arrow out — batch size bounded by spark.sql.execution.arrow
    .maxRecordsPerBatch); the retrieval plan around it is UNCHANGED —
    still zero shuffle exchanges, 1-row broadcast query vector,
    TakeOrderedAndProject (pinned by tests/test_plan_shapes.py). At
    100 TB, swapping in a real model changes only this function's body
    (load weights per worker, batch the forward pass)."""
    import re as _re

    import numpy as np
    import pandas as pd

    from pagerank_giraph_vs_mapreduce_spark.operators.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(
        docs, "doc_id", "text", chunk_chars=200, overlap=50
    ).select("doc_id", "chunk_id", "chunk")

    n_hist, n_out = 32, RAG_ENC_DIMS
    # fixed "model weights": the same matrix on every worker, every run
    proj = np.fromfunction(
        lambda d, j: ((31 * d + 17 * j) % 7) - 3, (n_hist, n_out), dtype=int
    ).astype(np.int64)
    tok_re = _re.compile(r"[^a-z]+")

    def encode(batches):
        for pdf in batches:
            vecs = []
            for s in pdf["chunk"]:
                h = np.zeros(n_hist, dtype=np.int64)
                for t in tok_re.split(s.lower()):
                    if not t:
                        continue
                    code = 0
                    for p, ch in enumerate(t):
                        code += ord(ch) * (((p + 1) % 32) + 1)
                    h[code % n_hist] += 1
                vecs.append((h @ proj).tolist())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "chunk_id": pdf["chunk_id"],
                    "vec": vecs,
                }
            )

    embedded = chunks.mapInPandas(
        encode, "doc_id bigint, chunk_id int, vec array<bigint>"
    )
    return _rag_score_topk(embedded)


SHUFFLE_A = 1103515245
SHUFFLE_B = 12345
SHUFFLE_M = 2147483647
N_SHARDS = 8

_SHUFFLE_SQL = f"""WITH keyed AS (
  SELECT doc_id,
         (doc_id * {SHUFFLE_A} + {SHUFFLE_B}) % {SHUFFLE_M} AS k
  FROM documents)
SELECT doc_id,
       CAST(k % {N_SHARDS} AS BIGINT) AS shard_id,
       CAST(row_number() OVER (PARTITION BY k % {N_SHARDS}
                               ORDER BY k, doc_id) AS BIGINT) AS pos
FROM keyed"""


@query("pipeline_shuffle_shards", oracle=_SHUFFLE_SQL)
def pipeline_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle + sharding: a seeded affine
    permutation key (doc_id·A + B mod 2³¹−1 — bijective below the prime,
    so it IS a permutation, reproducible across runs/engines with no RNG
    state) assigns each doc a shard by key range and a position by
    per-shard key order. The epoch-shuffle every trainer needs, with the
    scale-honest shape: NO global sort — shard assignment is per-row
    arithmetic, position is a per-shard local window (repartition by
    shard + sortWithinPartitions at 100 TB; shards sort independently).
    Re-keying with a new seed pair is a full reshuffle for the next
    epoch."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        ((F.col("doc_id") * SHUFFLE_A + SHUFFLE_B) % SHUFFLE_M).alias("k"),
    )
    w = Window.partitionBy(F.col("k") % N_SHARDS).orderBy("k", "doc_id")
    return keyed.select(
        "doc_id",
        (F.col("k") % N_SHARDS).cast("bigint").alias("shard_id"),
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


@query(
    "pipeline_corpus_build",
    oracle=f"""WITH {{PIPELINE_CTES}},
toks AS (
  SELECT doc_id, n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS okey,
         doc_id % {{PACK_SHARDS}} AS shard
  FROM final),
streamed AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY okey
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM toks),
shard_bins AS (
  SELECT shard,
         CAST(floor((sum(n_tokens) + {{PACK_BUDGET}} - 1) / {{PACK_BUDGET}})
              AS BIGINT) AS n_bins
  FROM toks GROUP BY shard),
bases AS (
  SELECT shard,
         COALESCE(sum(n_bins) OVER (
             ORDER BY shard
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bin_base
  FROM shard_bins)
SELECT s.doc_id, s.n_tokens,
       CAST(b.bin_base
            + floor(CAST(s.cum - s.n_tokens AS DOUBLE) / {{PACK_BUDGET}})
         AS BIGINT) AS bin,
       CAST((s.cum - s.n_tokens) % {{PACK_BUDGET}} AS BIGINT) AS offset_in_bin
FROM streamed s JOIN bases b ON b.shard = s.shard""".format(
        PIPELINE_CTES=PIPELINE_CTES,
        PACK_SHARDS=PACK_SHARDS,
        PACK_BUDGET=PACK_BUDGET,
    ),
)
def pipeline_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus build in ONE lazy plan — the capstone
    composition a pretraining-data user actually runs: signal extraction
    -> lang/quality gate -> exact dedup -> MinHash near-dup removal
    (= pipeline_curation's survivors) -> shard-parallel sequence packing
    of the survivors into {PACK_BUDGET}-token bins (the
    pipeline_pack_sequences discipline: per-shard running sums, global
    bin ids from broadcast per-shard bases, no whale-domain
    serialization). Nothing materializes between stages: Catalyst fuses
    the gate predicates into the scan, the near-dup joins run over the
    gated survivors only, and the packing windows see just (doc_id,
    n_tokens) — the narrowest possible stream at 100 TB."""
    from pyspark.sql import Window

    survivors = curate_corpus(
        _docs3(spark, sf_dir),
        "doc_id",
        "text",
        lang=LANG,
        min_quality=MIN_QUALITY,
        near_threshold=NEAR_THRESHOLD,
    )
    toks = survivors.select(
        "doc_id",
        "n_tokens",
        F.md5(F.col("doc_id").cast("string")).alias("okey"),
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("okey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    streamed = toks.withColumn("cum", F.sum("n_tokens").over(w))
    shard_bins = toks.groupBy("shard").agg(
        F.floor((F.sum("n_tokens") + PACK_BUDGET - 1) / PACK_BUDGET)
        .cast("bigint")
        .alias("n_bins")
    )
    w_base = Window.orderBy("shard").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bases = shard_bins.select(
        "shard",
        F.coalesce(F.sum("n_bins").over(w_base), F.lit(0)).alias("bin_base"),
    )
    return (
        streamed.join(F.broadcast(bases), "shard")
        .select(
            "doc_id",
            "n_tokens",
            (
                F.col("bin_base")
                + F.floor(
                    (F.col("cum") - F.col("n_tokens")).cast("double")
                    / PACK_BUDGET
                )
            )
            .cast("bigint")
            .alias("bin"),
            ((F.col("cum") - F.col("n_tokens")) % PACK_BUDGET)
            .cast("bigint")
            .alias("offset_in_bin"),
        )
    )


WSAMPLE_K = 64
WSAMPLE_SHARDS = 8


@query(
    "pipeline_weighted_sample",
    oracle=f"""WITH w AS (
  SELECT doc_id, n_chars AS w, doc_id % {WSAMPLE_SHARDS} AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS okey
  FROM documents),
lc AS (
  SELECT doc_id, w, shard,
         CAST(sum(w) OVER (PARTITION BY shard ORDER BY okey, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS lcum
  FROM w),
st AS (SELECT shard, CAST(sum(w) AS BIGINT) AS tot FROM w GROUP BY shard),
bs AS (
  SELECT shard,
         CAST(COALESCE(sum(tot) OVER (ORDER BY shard
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS base
  FROM st),
tw AS (SELECT CAST(sum(w) AS BIGINT) AS tot_w FROM w),
c AS (
  SELECT l.doc_id, l.w, b.base + l.lcum AS cum
  FROM lc l JOIN bs b ON l.shard = b.shard),
p AS (
  SELECT doc_id, w,
         CAST((cum * {WSAMPLE_K}) // tot_w
              - ((cum - w) * {WSAMPLE_K}) // tot_w AS BIGINT) AS n_picks
  FROM c, tw)
SELECT doc_id, w, n_picks FROM p WHERE n_picks >= 1""",
)
def pipeline_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional systematic sample of 64 slots over the
    documents table (weight = n_chars) — the deterministic weighted
    subsampling step of a data-mixing pipeline (sample tokens, not docs).

    Every row owns the half-open weight interval (cum-w, cum] of a global
    weight axis; slot s lands at weight (s + 1) * W / K, so a row is
    picked once per slot boundary its interval crosses:
    n_picks = floor(cum*K/W) - floor((cum-w)*K/W). A doc heavier than
    W/K can take several slots (multiplicity reported in ``n_picks``, the
    with-replacement fact of systematic sampling); zero-weight docs own an
    empty interval and are never picked.

    Design for determinism AND scale — the alternative A-ES exponential
    sort (-ln(u)/w keys) needs libm transcendentals whose last ulp is
    engine-specific, so it cannot hash-match a second engine; this
    formulation is pure BIGINT arithmetic (``div``, not double division —
    exact at every boundary). The global cumulative sum is NOT a global
    sort: per-shard window cumsums + broadcast per-shard bases (the
    pipeline_pack_sequences discipline), so the only serialized work is
    the 8-row base prefix-sum.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").alias("w")
    )
    keyed = docs.select(
        "doc_id",
        "w",
        (F.col("doc_id") % WSAMPLE_SHARDS).alias("shard"),
        F.md5(F.col("doc_id").cast("string")).alias("okey"),
    )
    ws = (
        Window.partitionBy("shard")
        .orderBy("okey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lc = keyed.withColumn("lcum", F.sum("w").over(ws))
    st = keyed.groupBy("shard").agg(F.sum("w").alias("tot"))
    wb = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    bs = st.select(
        "shard", F.coalesce(F.sum("tot").over(wb), F.lit(0)).alias("base")
    )
    tot = docs.agg(F.sum("w").alias("tot_w"))
    c = (
        lc.join(F.broadcast(bs), "shard")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "w",
            (F.col("base") + F.col("lcum")).alias("cum"),
            "tot_w",
        )
    )
    p = c.select(
        "doc_id",
        "w",
        (
            F.expr(f"(cum * {WSAMPLE_K}) div tot_w")
            - F.expr(f"((cum - w) * {WSAMPLE_K}) div tot_w")
        ).alias("n_picks"),
    )
    return p.filter(F.col("n_picks") >= 1)


DOMAIN_CAP = 40


@query(
    "pipeline_domain_cap",
    oracle=f"""WITH ranked AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (PARTITION BY source
              ORDER BY n_chars DESC, doc_id) AS INT) AS rk
  FROM documents)
SELECT doc_id, source, rk FROM ranked WHERE rk <= {DOMAIN_CAP}""",
)
def pipeline_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain frequency cap: keep at most 40 documents per
    ``source``, by deterministic priority (longest first, doc_id
    tie-break) — the anti-domination gate every web-corpus build runs so
    one boilerplate-heavy domain cannot own the training mix.

    Scale shape: a naive row_number() window keys EVERY row of a domain
    onto one task — a whale domain (100M pages of one site in a crawl) is
    a straggler by construction. This plan is the two-phase top-k: first
    a window over (source, input partition) keeps at most 40
    rows per domain PER PARTITION (each task sees only its own split's
    rows), then the global window ranks the <= cap * n_partitions
    survivors per domain — bounded regardless of domain size. The final
    ranking is partition-layout-independent because the priority order
    (n_chars DESC, doc_id) is a strict total order and phase 1 keeps a
    superset of every global top-40.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    local = Window.partitionBy("source", "pid").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    pruned = (
        docs.withColumn("pid", F.spark_partition_id())
        .withColumn("lrk", F.row_number().over(local))
        .filter(F.col("lrk") <= DOMAIN_CAP)
    )
    final = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        pruned.withColumn("rk", F.row_number().over(final))
        .filter(F.col("rk") <= DOMAIN_CAP)
        .select("doc_id", "source", "rk")
    )


@query(
    "pipeline_k_anonymity",
    oracle="""SELECT doc_id, lang,
  CASE WHEN count(*) OVER (PARTITION BY lang, source) >= 8
       THEN source ELSE '*' END AS source_k8,
  count(*) OVER (PARTITION BY lang, source) < 8 AS suppressed
FROM documents""",
)
def pipeline_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity suppression gate over the (lang, source) quasi-identifier.

    Training-data release discipline: any document whose quasi-identifier
    combination is shared by fewer than k=8 documents has that identifier
    suppressed to '*' before the corpus ships (small QI groups are what
    re-identification attacks join against). The oracle states the
    semantics as a window count; the engine-side plan avoids the window
    shuffle-and-sort entirely: QI group sizes are a map-side-combinable
    groupBy whose output is the QI CARDINALITY (|langs| x |sources| —
    hundreds of rows at any corpus size), broadcast back onto the
    documents. At 100 TB that is one scan + one broadcast hash join; the
    window form would shuffle every row by (lang, source) — including the
    skewed giant groups — just to count them."""
    docs = load_table(spark, sf_dir, "documents")
    k = 8
    qi = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("qi_cnt"))
    return docs.join(F.broadcast(qi), ["lang", "source"]).select(
        "doc_id",
        "lang",
        F.when(F.col("qi_cnt") >= k, F.col("source"))
        .otherwise(F.lit("*"))
        .alias("source_k8"),
        (F.col("qi_cnt") < k).alias("suppressed"),
    )


def _logreg_oracle(iters: int = 3) -> str:
    """The logreg_gd trajectory unrolled into SQL CTEs — same rational
    squash, same left-associated arithmetic, same 12-dp round points,
    same DECIMAL(38,12) order-independent gradient sums."""
    names = ("bias", "f_len", "f_space")
    z = "(wb*bias + wl*f_len + ws*f_space)"
    p = f"(0.5 + {z}/(2*(1+abs({z}))))"
    ctes = [
        """feats AS (
  SELECT 1.0 AS bias,
         CAST(length(text) AS DOUBLE) / 1000.0 AS f_len,
         CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
           / CAST(length(text) AS DOUBLE) AS f_space,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM documents WHERE length(text) > 0)""",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM feats)",
        "w0 AS (SELECT 0.0 AS wb, 0.0 AS wl, 0.0 AS ws)",
    ]
    for i in range(1, iters + 1):
        gs = ", ".join(
            f"sum(CAST(round({c} * (y - {p}), 12) AS DECIMAL(38,12))) AS g_{c}"
            for c in names
        )
        ctes.append(f"g{i} AS (SELECT {gs} FROM feats, w{i - 1})")
        up = ", ".join(
            f"round({w} + round(CAST(g_{c} AS DOUBLE) * 1.0 / n, 12), 12) AS {w}"
            for w, c in zip(("wb", "wl", "ws"), names)
        )
        ctes.append(f"w{i} AS (SELECT {up} FROM g{i}, w{i - 1}, nn)")
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT wb AS w_bias, wl AS w_f_len, ws AS w_f_space,
       round(avg(CASE WHEN ({p} >= 0.5) = (y >= 0.5)
                      THEN 1.0 ELSE 0.0 END), 9) AS accuracy
FROM feats, w{iters}
GROUP BY wb, wl, ws"""
    )


@query("pipeline_train_quality_lr", oracle=_logreg_oracle(3))
def pipeline_train_quality_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-in-the-loop curation: train a linear quality/language
    classifier with full-batch gradient descent ON THE ENGINE
    (operators/mlfit.py:logreg_gd) — 3 GD steps over (length, space-
    ratio) features predicting lang=='en', each step one scan + one
    map-side-combined global aggregate whose 1-row weight output
    crossJoins the next scan. The whole training run is one lazy plan
    with ZERO driver-side weight syncs; at 100 TB each step moves |w|+1
    numbers per partition. The libm sigmoid is replaced by the rational
    squash 0.5 + z/(2(1+|z|)) and gradients sum as rounded
    DECIMAL(38,12), so the full 3-step trajectory (and the training
    accuracy) hash-matches the unrolled DuckDB oracle exactly —
    a distributed TRAINER under the same oracle discipline as every
    query here."""
    from pagerank_giraph_vs_mapreduce_spark.operators.mlfit import logreg_gd

    docs = load_table(spark, sf_dir, "documents")
    feats = docs.filter(F.length("text") > 0).select(
        (F.length("text").cast("double") / F.lit(1000.0)).alias("f_len"),
        (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))))
            .cast("double")
            / F.length("text").cast("double")
        ).alias("f_space"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
    )
    return logreg_gd(feats, ["f_len", "f_space"], "y", iters=3, lr=1.0)


MB_BUCKETS = 4
MB_ITERS = 5
MB_LR = 1.0
MB_L2 = 0.01


def _logreg_mb_oracle(
    iters: int = MB_ITERS,
    n_buckets: int = MB_BUCKETS,
    lr: float = MB_LR,
    l2: float = MB_L2,
) -> str:
    """logreg_gd's MINI-BATCH trajectory unrolled into SQL: step i trains
    on md5-bucket (i-1) % n_buckets only, and the L2 shrink term is its
    own 12-dp round — identical op order to operators/mlfit.py."""
    names = ("bias", "f_len", "f_space")
    z = "(wb*bias + wl*f_len + ws*f_space)"
    p = f"(0.5 + {z}/(2*(1+abs({z}))))"
    shrink = repr(lr * l2)
    ctes = [
        """feats AS (
  SELECT 1.0 AS bias,
         CAST(length(text) AS DOUBLE) / 1000.0 AS f_len,
         CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
           / CAST(length(text) AS DOUBLE) AS f_space,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS UBIGINT) % """
        + str(n_buckets)
        + """ AS bkt
  FROM documents WHERE length(text) > 0)""",
        "w0 AS (SELECT 0.0 AS wb, 0.0 AS wl, 0.0 AS ws)",
    ]
    for b in sorted({(i - 1) % n_buckets for i in range(1, iters + 1)}):
        ctes.append(
            f"nn{b} AS (SELECT CAST(count(*) AS DOUBLE) AS n "
            f"FROM feats WHERE bkt = {b})"
        )
    for i in range(1, iters + 1):
        b = (i - 1) % n_buckets
        gs = ", ".join(
            f"sum(CAST(round({c} * (y - {p}), 12) AS DECIMAL(38,12))) AS g_{c}"
            for c in names
        )
        ctes.append(f"g{i} AS (SELECT {gs} FROM feats, w{i - 1} WHERE bkt = {b})")
        # Guard the empty-bucket case exactly like the Spark trainer does
        # (operators/mlfit.py `if n_t == 0: continue` — weights unchanged,
        # L2 shrink skipped too): without it a 0-row bucket yields NULL
        # gradient sums and an n=0 division here while Spark no-ops.
        up = ", ".join(
            f"CASE WHEN n = 0 THEN {w} ELSE "
            f"round({w} + round(CAST(g_{c} AS DOUBLE) * {repr(lr)} / n, 12)"
            f" - round({shrink} * {w}, 12), 12) END AS {w}"
            for w, c in zip(("wb", "wl", "ws"), names)
        )
        ctes.append(f"w{i} AS (SELECT {up} FROM g{i}, w{i - 1}, nn{b})")
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT wb AS w_bias, wl AS w_f_len, ws AS w_f_space,
       round(avg(CASE WHEN ({p} >= 0.5) = (y >= 0.5)
                      THEN 1.0 ELSE 0.0 END), 9) AS accuracy
FROM feats, w{iters}
GROUP BY wb, wl, ws"""
    )


@query("pipeline_train_quality_lr_mb", oracle=_logreg_mb_oracle())
def pipeline_train_quality_lr_mb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mini-batch + L2 variant of the distributed GD trainer:
    full-batch GD at 100 TB means every step scans everything,
    so step t aggregates only the rows whose deterministic md5 bucket
    (the repo's sampling discipline) equals t % 4 — each step's gradient
    input shrinks to ~1/4 of the corpus, and the bucket predicate is a
    plain WHERE both engines apply identically. L2 weight decay
    (lr*l2 = 0.01) enters as its own 12-dp-rounded shrink term so the
    5-step trajectory stays hash-exact against the unrolled DuckDB
    oracle. Training accuracy is still evaluated over the FULL dataset.
    Implementation: operators/mlfit.py:logreg_gd(batch_col=, l2=)."""
    from pagerank_giraph_vs_mapreduce_spark.operators.mlfit import logreg_gd

    docs = load_table(spark, sf_dir, "documents")
    feats = docs.filter(F.length("text") > 0).select(
        (F.length("text").cast("double") / F.lit(1000.0)).alias("f_len"),
        (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))))
            .cast("double")
            / F.length("text").cast("double")
        ).alias("f_space"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
            ).cast("bigint")
            % MB_BUCKETS
        ).alias("bkt"),
    )
    return logreg_gd(
        feats,
        ["f_len", "f_space"],
        "y",
        iters=MB_ITERS,
        lr=MB_LR,
        l2=MB_L2,
        batch_col="bkt",
        n_batches=MB_BUCKETS,
    )


def _model_gate_oracle(iters: int = 3) -> str:
    """Train (same CTEs as _logreg_oracle, with doc_id carried) and then
    gate: emit every doc the trained classifier scores >= 0.5."""
    base = _logreg_oracle(iters)
    head, _tail = base.rsplit("\nSELECT ", 1)
    head = head.replace(
        "SELECT 1.0 AS bias,", "SELECT doc_id, 1.0 AS bias,", 1
    )
    z = "(wb*bias + wl*f_len + ws*f_space)"
    p = f"(0.5 + {z}/(2*(1+abs({z}))))"
    return (
        head
        + f""",
scored AS (
  SELECT doc_id, {p} AS p FROM feats, w{iters}),
thr AS (
  SELECT round(CAST(sum(CAST(round(p, 12) AS DECIMAL(38,12))) AS DOUBLE)
               / count(*), 12) AS mean_p
  FROM scored)
SELECT doc_id, round(p, 9) AS score
FROM scored, thr
WHERE round(p, 12) >= mean_p"""
    )


@query("pipeline_model_gate", oracle=_model_gate_oracle(3))
def pipeline_model_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full model-in-the-loop curation gate in ONE lazy plan: train
    the quality classifier (pipeline_train_quality_lr's 3 GD steps) and
    immediately apply it — the trained 1-row weight frame crossJoins the
    corpus and every doc scoring at or above the CORPUS MEAN score
    passes — a relative gate, because an absolute 0.5 cut is
    class-balance-dependent (a majority-negative corpus pushes every
    score below 0.5 and empties it). The mean is an order-independent
    decimal sum (the repo's aggregate discipline), computed in the same
    lazy plan and broadcast back. This is the deployment shape
    of learned curation at 100 TB: the model is bytes (broadcast), the
    gate is a codegen'd per-row expression, and nothing about training
    or scoring touches the driver."""
    from pagerank_giraph_vs_mapreduce_spark.operators.mlfit import (
        logreg_gd,
        squash,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = docs.filter(F.length("text") > 0).select(
        "doc_id",
        (F.length("text").cast("double") / F.lit(1000.0)).alias("f_len"),
        (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))))
            .cast("double")
            / F.length("text").cast("double")
        ).alias("f_space"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
    )
    w = logreg_gd(
        feats.select("f_len", "f_space", "y"), ["f_len", "f_space"], "y"
    ).select("w_bias", "w_f_len", "w_f_space")
    z = (
        F.col("w_bias") * F.lit(1.0)
        + F.col("w_f_len") * F.col("f_len")
        + F.col("w_f_space") * F.col("f_space")
    )
    scored = feats.crossJoin(F.broadcast(w)).select(
        "doc_id", squash(z).alias("p")
    )
    thr = scored.agg(
        F.round(
            F.sum(F.round("p", 12).cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1)),
            12,
        ).alias("mean_p")
    )
    return (
        scored.crossJoin(F.broadcast(thr))
        .filter(F.round("p", 12) >= F.col("mean_p"))
        .select("doc_id", F.round("p", 9).alias("score"))
    )


def _grouped_logreg_oracle(iters: int = 3) -> str:
    """Per-group GD trajectories unrolled: same recurrence as
    _logreg_oracle but every CTE keyed by ``source``."""
    z = "(wb*bias + wl*f_len + ws*f_space)"
    p = f"(0.5 + {z}/(2*(1+abs({z}))))"
    names = ("bias", "f_len", "f_space")
    ctes = [
        """feats AS (
  SELECT source, 1.0 AS bias,
         CAST(length(text) AS DOUBLE) / 1000.0 AS f_len,
         CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
           / CAST(length(text) AS DOUBLE) AS f_space,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM documents WHERE length(text) > 0)""",
        "nn AS (SELECT source, CAST(count(*) AS DOUBLE) AS n FROM feats GROUP BY source)",
        "w0 AS (SELECT source, 0.0 AS wb, 0.0 AS wl, 0.0 AS ws FROM nn)",
    ]
    for i in range(1, iters + 1):
        gs = ", ".join(
            f"sum(CAST(round({c} * (y - {p}), 12) AS DECIMAL(38,12))) AS g_{c}"
            for c in names
        )
        ctes.append(
            f"""g{i} AS (
  SELECT f.source, {gs}
  FROM feats f JOIN w{i - 1} w ON w.source = f.source
  GROUP BY f.source)"""
        )
        up = ", ".join(
            f"round({w} + round(CAST(g_{c} AS DOUBLE) * 1.0 / n, 12), 12) AS {w}"
            for w, c in zip(("wb", "wl", "ws"), names)
        )
        ctes.append(
            f"""w{i} AS (
  SELECT g.source, {up}
  FROM g{i} g JOIN w{i - 1} w ON w.source = g.source
       JOIN nn ON nn.source = g.source)"""
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT w.source, wb AS w_bias, wl AS w_f_len, ws AS w_f_space,
       CAST(n AS BIGINT) AS n_rows
FROM w{iters} w JOIN nn ON nn.source = w.source"""
    )


@query("pipeline_train_per_source_lr", oracle=_grouped_logreg_oracle(3))
def pipeline_train_per_source_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A FLEET of models — one language classifier per document source —
    trained with ``applyInPandas`` (operators/mlfit.py:logreg_gd_grouped):
    one shuffle groups each source's rows onto a task, the pandas fit
    runs the identical rational-squash/12-dp GD recurrence as the
    distributed trainer, and gradients sum as exact Fractions (the
    in-Python analog of the DECIMAL(38,12) order-independent sum). The
    result hash-matches the per-group unrolled DuckDB oracle — the
    Arrow/pandas ML path held to the same exactness bar as the JVM
    plans. The grouped shape is how per-domain gates train at 100 TB:
    group count = model count, each group's data never leaves its task."""
    from pagerank_giraph_vs_mapreduce_spark.operators.mlfit import (
        logreg_gd_grouped,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = docs.filter(F.length("text") > 0).select(
        "source",
        (F.length("text").cast("double") / F.lit(1000.0)).alias("f_len"),
        (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))))
            .cast("double")
            / F.length("text").cast("double")
        ).alias("f_space"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
    )
    return logreg_gd_grouped(feats, "source", ["f_len", "f_space"], "y")


# ----------------------------------------------------------- URL dedup

# Deterministic raw-URL fixture: every doc gets a crawl-shaped URL whose
# page identity is (source, doc_id % 10, ref) but whose SURFACE form is
# scrambled by md5(doc_id) hex digits — scheme/host case, an explicit
# :443 default port, a trailing slash, utm tracking params, a fragment.
# Docs 20 apart share source AND page, so canonical groups exist at
# every driver scale. md5 is the engine-parity primitive (the
# fn_hash_sample discipline): both engines derive the identical surface.
_URL_RAW_SQL = """SELECT doc_id,
  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
       THEN 'https' ELSE 'HTTPS' END
  || '://'
  || CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 2, 1) < '8'
          THEN source || '.example.com'
          ELSE upper(source || '.example.com') END
  || CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 3, 1) < '4'
          THEN ':443' ELSE '' END
  || '/p/' || CAST(doc_id % 10 AS VARCHAR)
  || CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 4, 1) < '8'
          THEN '/' ELSE '' END
  || CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 5, 1) < '4'
          THEN '?utm_source=' || substr(md5(CAST(doc_id AS VARCHAR)), 6, 1)
       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 5, 1) < '8'
          THEN '?ref=' || CAST(doc_id % 3 AS VARCHAR) || '&utm_campaign=c'
       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 5, 1) < 'c'
          THEN '?ref=' || CAST(doc_id % 3 AS VARCHAR)
       ELSE '' END
  || CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 7, 1) < '8'
          THEN '#sec' ELSE '' END AS url
FROM documents"""

_URL_DEDUP_SQL = f"""WITH raw AS ({_URL_RAW_SQL}),
nf AS (SELECT doc_id, regexp_replace(url, '#.*$', '', 'g') AS u FROM raw),
sp AS (SELECT doc_id, u,
              regexp_extract(u, '^([^/?#]*://[^/?#]*)', 1) AS pre0 FROM nf),
cn AS (SELECT doc_id,
  regexp_replace(
    regexp_replace(lower(pre0), '^http://(.*):80$', 'http://\\1', 'g'),
    '^https://(.*):443$', 'https://\\1', 'g')
  ||
  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
    regexp_replace(
      regexp_replace(substr(u, length(pre0) + 1),
                     '([?&])(utm_[a-z]+|fbclid)=[^&#]*', '\\1', 'g'),
      '&&+', '&', 'g'),
    '\\?&', '?', 'g'), '[?&]+$', '', 'g'), '/\\?', '?', 'g'),
    '/$', '', 'g') AS canonical_url
  FROM sp)
SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_variants,
       min(doc_id) AS keep_doc_id
FROM cn GROUP BY canonical_url"""


@query("pipeline_url_dedup", oracle=_URL_DEDUP_SQL)
def pipeline_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonical dedup (operators/curation.py:url_canonicalize): group
    crawl records by canonical URL — fragment/tracking-param/case/default-
    port/trailing-slash noise collapsed — keeping the min doc_id per page.
    The step a crawl pipeline runs BEFORE content dedup: it needs no text
    reads at all, so at 100 TB it prunes re-crawl duplicates for the cost
    of one string-expression scan + one map-side-combined hash agg on the
    canonical key. Every transform is a built-in regexp/string expression
    (whole-stage codegen; the oracle mirrors each step with DuckDB's 'g'
    flag — see url_canonicalize's cross-engine note)."""
    from pagerank_giraph_vs_mapreduce_spark.operators.curation import (
        url_canonicalize,
    )

    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    hx = lambda i: F.substring(h, i, 1)  # noqa: E731
    host = F.concat(F.col("source"), F.lit(".example.com"))
    raw = docs.select(
        "doc_id",
        F.concat(
            F.when(hx(1) < "8", F.lit("https")).otherwise(F.lit("HTTPS")),
            F.lit("://"),
            F.when(hx(2) < "8", host).otherwise(F.upper(host)),
            F.when(hx(3) < "4", F.lit(":443")).otherwise(F.lit("")),
            F.lit("/p/"),
            (F.col("doc_id") % 10).cast("string"),
            F.when(hx(4) < "8", F.lit("/")).otherwise(F.lit("")),
            F.when(hx(5) < "4", F.concat(F.lit("?utm_source="), hx(6)))
            .when(
                hx(5) < "8",
                F.concat(
                    F.lit("?ref="),
                    (F.col("doc_id") % 3).cast("string"),
                    F.lit("&utm_campaign=c"),
                ),
            )
            .when(
                hx(5) < "c",
                F.concat(F.lit("?ref="), (F.col("doc_id") % 3).cast("string")),
            )
            .otherwise(F.lit("")),
            F.when(hx(7) < "8", F.lit("#sec")).otherwise(F.lit("")),
        ).alias("url"),
    )
    return (
        raw.select("doc_id", url_canonicalize(F.col("url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def _model_auc_oracle(iters: int = 3) -> str:
    """Train (the _logreg_oracle CTEs with doc_id carried) then rank-sum
    AUC over the scored corpus: rank by (12-dp score, doc_id) — the
    declared deterministic tie-break — and apply the Mann-Whitney
    identity with ONE final double division."""
    base = _logreg_oracle(iters)
    head, _tail = base.rsplit("\nSELECT ", 1)
    head = head.replace("SELECT 1.0 AS bias,", "SELECT doc_id, 1.0 AS bias,", 1)
    z = "(wb*bias + wl*f_len + ws*f_space)"
    p = f"(0.5 + {z}/(2*(1+abs({z}))))"
    return (
        head
        + f""",
scored AS (SELECT doc_id, y, round({p}, 12) AS p FROM feats, w{iters}),
rk AS (SELECT y, row_number() OVER (ORDER BY p, doc_id) AS r FROM scored),
agg AS (SELECT
  CAST(sum(CASE WHEN y >= 0.5 THEN r ELSE 0 END) AS BIGINT) AS rank_sum_pos,
  CAST(count(CASE WHEN y >= 0.5 THEN 1 END) AS BIGINT) AS n_pos,
  CAST(count(CASE WHEN y < 0.5 THEN 1 END) AS BIGINT) AS n_neg
  FROM rk)
SELECT n_pos, n_neg, rank_sum_pos,
       round((rank_sum_pos - n_pos * (n_pos + 1) / 2.0)
             / (n_pos * n_neg), 9) AS auc
FROM agg"""
    )


@query("pipeline_model_auc", oracle=_model_auc_oracle(3))
def pipeline_model_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation closing the trainer family's loop: train the
    quality model (pipeline_train_quality_lr's exact 3-step trajectory),
    score the corpus, and compute AUC by the Mann-Whitney rank-sum
    identity — (Σ ranks of positives − n_pos(n_pos+1)/2) / (n_pos·n_neg),
    integers until ONE final division. Ranking ties break on (12-dp
    score, doc_id), declared and mirrored in the oracle, so the value is
    reproducible across engines. Scale note: the global rank is a true
    total order — Spark executes it as a single-partition window, which
    is the DECLARED cost of exact AUC and is bounded by the EVAL set,
    not the corpus (at 100 TB you evaluate on a sample that fits one
    node; the training pass stays fully distributed)."""
    from pagerank_giraph_vs_mapreduce_spark.operators.mlfit import (
        logreg_gd,
        squash,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = docs.filter(F.length("text") > 0).select(
        "doc_id",
        (F.length("text").cast("double") / F.lit(1000.0)).alias("f_len"),
        (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))))
            .cast("double")
            / F.length("text").cast("double")
        ).alias("f_space"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
    )
    w = logreg_gd(
        feats.select("f_len", "f_space", "y"), ["f_len", "f_space"], "y"
    ).select("w_bias", "w_f_len", "w_f_space")
    z = (
        F.col("w_bias") * F.lit(1.0)
        + F.col("w_f_len") * F.col("f_len")
        + F.col("w_f_space") * F.col("f_space")
    )
    scored = feats.crossJoin(F.broadcast(w)).select(
        "doc_id", "y", F.round(squash(z), 12).alias("p")
    )
    win = Window.orderBy("p", "doc_id")
    rk = scored.select("y", F.row_number().over(win).alias("r"))
    agg = rk.agg(
        F.sum(F.when(F.col("y") >= 0.5, F.col("r")).otherwise(0))
        .cast("bigint")
        .alias("rank_sum_pos"),
        F.count(F.when(F.col("y") >= 0.5, 1)).cast("bigint").alias("n_pos"),
        F.count(F.when(F.col("y") < 0.5, 1)).cast("bigint").alias("n_neg"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        "rank_sum_pos",
        F.round(
            (
                F.col("rank_sum_pos")
                - F.col("n_pos") * (F.col("n_pos") + 1) / F.lit(2.0)
            )
            / (F.col("n_pos") * F.col("n_neg")),
            9,
        ).alias("auc"),
    )


_SPAN_CORRUPT_SQL = """WITH toks AS (
  SELECT doc_id AS id, r.k AS pos, string_split(text, ' ')[r.k + 1] AS tok
  FROM documents,
       LATERAL unnest(range(0, len(string_split(text, ' ')))) AS r(k)),
t AS (
  SELECT id, pos, tok,
         substr(md5(CAST(id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)),
                1, 1) < '3' AS m
  FROM toks),
ti AS (
  SELECT id, pos, tok, m,
         pos - row_number() OVER (PARTITION BY id, m ORDER BY pos) AS grp
  FROM t),
spans AS (
  SELECT id, grp, min(pos) AS first_pos, count(*) AS span_len,
         string_agg(tok, ' ' ORDER BY pos) AS span_text
  FROM ti WHERE m GROUP BY id, grp),
sp AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY id ORDER BY first_pos) - 1
                 AS BIGINT) AS span_id
  FROM spans),
pieces AS (
  SELECT id, pos, tok FROM ti WHERE NOT m
  UNION ALL
  SELECT id, first_pos AS pos,
         '<extra_id_' || CAST(span_id AS VARCHAR) || '>' AS tok
  FROM sp),
inp AS (
  SELECT id, string_agg(tok, ' ' ORDER BY pos) AS input_masked
  FROM pieces GROUP BY id),
tgt AS (
  SELECT id,
         string_agg('<extra_id_' || CAST(span_id AS VARCHAR) || '> '
                    || span_text, ' ' ORDER BY span_id) AS target,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(span_len) AS BIGINT) AS n_masked_tokens
  FROM sp GROUP BY id)
SELECT i.id, i.input_masked,
       coalesce(g.target, '') AS target,
       coalesce(g.n_spans, 0) AS n_spans,
       coalesce(g.n_masked_tokens, 0) AS n_masked_tokens
FROM inp i LEFT JOIN tgt g USING (id)"""


@query("pipeline_span_corrupt", oracle=_SPAN_CORRUPT_SQL)
def pipeline_span_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2 denoising data prep (operators/text.py:span_corrupt): mask
    ~19% of whitespace tokens by a pure md5(doc:pos) gate, collapse each
    masked RUN to one numbered sentinel, and emit (input_masked, target)
    training pairs — the corruption step between curation and packing in
    an LLM pretraining pipeline. Runs are found with gaps-and-islands
    (pos − row_number over the masked rows) and every reassembly sorts
    only WITHIN a doc (array_sort(collect_list(struct(pos, …)))) — three
    doc_id-keyed shuffles, no global order anywhere, so the plan is
    per-document parallel at any corpus size. The oracle replays the
    identical mask, islands, and string assembly in SQL."""
    from pagerank_giraph_vs_mapreduce_spark.operators.text import span_corrupt

    return span_corrupt(load_table(spark, sf_dir, "documents"))
