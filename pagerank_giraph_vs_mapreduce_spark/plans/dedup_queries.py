"""Declared dedup queries with exact DuckDB oracles (north-star extension
surface). The oracle SQL is generated from the same constants as the Spark
operators (functions/hashing.py) so both engines hash identically.

The testdata documents are all-distinct at sf0.01, so near-dup queries run
over ``docs2`` — documents plus verbatim copies of every doc_id % 10 == 0
under id+1000000000 — giving known true duplicates while keeping everything
reconstructable in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pagerank_giraph_vs_mapreduce_spark.functions.hashing import (
    minhash_sql,
    shingle_code_sql,
)
from pagerank_giraph_vs_mapreduce_spark.operators.dedup import (
    SIMHASH_BITS,
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_near_dups,
    minhash_signatures,
    shingles,
    simhash,
)
from pagerank_giraph_vs_mapreduce_spark.plans.registry import query
from pagerank_giraph_vs_mapreduce_spark.sources.tables import load_table

SHINGLE_LEN = 5
N_HASHES = 24
BANDS = 4
ROWS_PER_BAND = 6

DOCS2_SQL = """docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0)"""

# Distinct (id, code) shingle codes — mirrors operators.dedup.shingles.
SHINGLES_SQL = f"""sh AS (
  SELECT DISTINCT doc_id AS id,
         {shingle_code_sql(f"substr(text, CAST(i AS INT), {SHINGLE_LEN})", SHINGLE_LEN)} AS code
  FROM (SELECT doc_id, text, unnest(range(1, length(text) - {SHINGLE_LEN - 2})) AS i
        FROM docs2 WHERE length(text) >= {SHINGLE_LEN}))"""

_sig_cols = ", ".join(
    f"min({minhash_sql('code', j)}) AS mh{j}" for j in range(N_HASHES)
)
SIG_SQL = f"sig AS (SELECT id, {_sig_cols} FROM sh GROUP BY id)"

_band_selects = " UNION ALL ".join(
    "SELECT id, {b} AS band, concat_ws('_', {cols}) AS bkey FROM sig".format(
        b=b,
        cols=", ".join(
            f"CAST(mh{b * ROWS_PER_BAND + r} AS VARCHAR)"
            for r in range(ROWS_PER_BAND)
        ),
    )
    for b in range(BANDS)
)
BANDED_SQL = f"banded AS ({_band_selects})"

CAND_SQL = """cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
  WHERE a.id < b.id)"""

# Star-shaped candidates (lsh_candidate_pairs_star): each bucket member
# pairs with the bucket-min id only — the generator the curation pipeline
# uses (B-1 edges per bucket; all-pairs is quadratic in cluster size).
CAND_STAR_SQL = """cand AS (
  SELECT DISTINCT r.id_a, m.id AS id_b
  FROM banded m
  JOIN (SELECT band, bkey, min(id) AS id_a FROM banded GROUP BY band, bkey) r
    ON m.band = r.band AND m.bkey = r.bkey
  WHERE m.id <> r.id_a)"""

JACCARD_SQL = """sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c JOIN sh a ON a.id = c.id_a JOIN sh b ON b.id = c.id_b AND b.code = a.code
  GROUP BY c.id_a, c.id_b),
jac AS (
  SELECT i.id_a, i.id_b,
         CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i) AS jaccard
  FROM inter i JOIN sizes sa ON sa.id = i.id_a JOIN sizes sb ON sb.id = i.id_b)"""


def _docs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000000).alias("doc_id"), "text"
    )
    return docs.unionAll(dups)


@query(
    "dedup_exact",
    oracle=f"""WITH {DOCS2_SQL}
SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS copies
FROM docs2 GROUP BY md5(text)""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy: survivor id + copy count per content."""
    d = exact_dedup(_docs2(spark, sf_dir), ["text"], "doc_id")
    return d.select(F.md5("text").alias("fp"), "keep_id", "copies")


@query(
    "dedup_minhash_sig",
    oracle=f"WITH {DOCS2_SQL},\n{SHINGLES_SQL},\n{SIG_SQL} SELECT * FROM sig",
)
def dedup_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (24 universal hashes over 5-char shingles)."""
    return minhash_signatures(
        _docs2(spark, sf_dir), "doc_id", "text", N_HASHES, SHINGLE_LEN
    )


@query(
    "dedup_lsh_candidates",
    oracle=f"""WITH {DOCS2_SQL},
{SHINGLES_SQL},
{SIG_SQL},
{BANDED_SQL},
{CAND_SQL}
SELECT id_a, id_b FROM cand""",
)
def dedup_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding (4 bands × 6 rows): candidate pairs sharing a bucket.

    r=6 keeps candidate acceptance at ~6%% for jaccard-0.5 pairs while
    retaining ~95%% recall at jaccard 0.9 (1-(1-j^6)^4) — the 4×3 config
    accepted 41%% of j=0.5 pairs, flooding verification on vocab-shared
    corpora."""
    sigs = minhash_signatures(
        _docs2(spark, sf_dir), "doc_id", "text", N_HASHES, SHINGLE_LEN
    )
    return lsh_candidate_pairs(sigs, BANDS, ROWS_PER_BAND)


@query(
    "dedup_minhash_near_dups",
    oracle=f"""WITH {DOCS2_SQL},
{SHINGLES_SQL},
{SIG_SQL},
{BANDED_SQL},
{CAND_SQL},
{JACCARD_SQL}
SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.8""",
)
def dedup_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash→LSH→exact-Jaccard pipeline at threshold 0.8 — catches
    the planted verbatim copies (jaccard = 1.0)."""
    return minhash_near_dups(
        _docs2(spark, sf_dir),
        "doc_id",
        "text",
        threshold=0.8,
        n_hashes=N_HASHES,
        shingle_len=SHINGLE_LEN,
        bands=BANDS,
    )


_bit_sums = ", ".join(
    f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
    for b in range(SIMHASH_BITS)
)
_bit_assemble = " + ".join(
    f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(SIMHASH_BITS)
)
SIMHASH_SQL = f"""rehashed AS (SELECT id, {minhash_sql('code', 0)} AS h FROM sh),
perbit AS (SELECT id, {_bit_sums} FROM rehashed GROUP BY id),
simh AS (SELECT id, CAST({_bit_assemble} AS BIGINT) AS simhash FROM perbit)"""


@query(
    "dedup_simhash",
    oracle=f"""WITH {DOCS2_SQL},
{SHINGLES_SQL},
{SIMHASH_SQL}
SELECT id, simhash FROM simh""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """31-bit SimHash per document (sign-aggregated shingle hashes)."""
    return simhash(_docs2(spark, sf_dir), "doc_id", "text", SHINGLE_LEN)


@query(
    "dedup_simhash_near_dups",
    oracle=f"""WITH {DOCS2_SQL},
{SHINGLES_SQL},
{SIMHASH_SQL}
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM simh a JOIN simh b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 6""",
)
def dedup_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming ≤ 6. The Spark plan blocks with
    multi-probe pigeonhole banding (exact for this radius — operators/
    dedup.py:simhash_pairs_from_sigs); the oracle is the literal all-pairs
    comparison, so this row checks RECALL of the blocking, not just
    agreement with it."""
    from pagerank_giraph_vs_mapreduce_spark.operators.dedup import (
        simhash_near_dups,
    )

    df = simhash_near_dups(
        _docs2(spark, sf_dir), "doc_id", "text", max_hamming=6,
        shingle_len=SHINGLE_LEN,
    )
    return df.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


_bit_sums0 = ", ".join(
    f"sum(CASE WHEN (h0 >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
    for b in range(31)
)
_bit_sums1 = ", ".join(
    f"sum(CASE WHEN (h1 >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS t{b}"
    for b in range(31)
)
_assemble64 = " + ".join(
    f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(31)
) + " + " + " + ".join(
    f"CASE WHEN t{b} > 0 THEN {1 << (31 + b)} ELSE 0 END" for b in range(31)
)
SIMHASH64_SQL = f"""rehash2 AS (
  SELECT id, {minhash_sql('code', 0)} AS h0, {minhash_sql('code', 1)} AS h1 FROM sh),
perbit64 AS (SELECT id, {_bit_sums0}, {_bit_sums1} FROM rehash2 GROUP BY id),
simh64 AS (SELECT id, CAST({_assemble64} AS BIGINT) AS simhash FROM perbit64)"""


@query(
    "dedup_simhash64_near_dups",
    oracle=f"""WITH {DOCS2_SQL},
{SHINGLES_SQL},
{SIMHASH64_SQL}
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM simh64 a JOIN simh64 b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 6""",
)
def dedup_simhash64_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """62-bit SimHash near-dups at hamming ≤ 6 — the web-scale fingerprint
    width (15/16-bit multi-probe blocks keep candidate buckets sparse at
    corpus sizes where the 31-bit signature's 8-bit blocks would degrade).
    Oracle is the all-pairs comparison: a recall check, like the 31-bit
    twin."""
    from pagerank_giraph_vs_mapreduce_spark.operators.dedup import (
        SIMHASH64_BITS,
        simhash_pairs_from_sigs,
        simhash_wide,
    )

    s = simhash_wide(_docs2(spark, sf_dir), "doc_id", "text", SHINGLE_LEN)
    df = simhash_pairs_from_sigs(s, max_hamming=6, bits=SIMHASH64_BITS)
    return df.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


@query(
    "dedup_ngram_jaccard",
    oracle=f"""WITH docs2 AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 60),
{SHINGLES_SQL},
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.code = b.code AND a.id < b.id
  GROUP BY 1, 2)
SELECT i.id_a, i.id_b,
       CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i) AS jaccard
FROM inter i JOIN sizes sa ON sa.id = i.id_a JOIN sizes sb ON sb.id = i.id_b
WHERE CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i) >= 0.3""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs n-gram Jaccard on a 60-doc subset (the no-LSH baseline)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 60)
        .select("doc_id", "text")
    )
    sh = shingles(docs, "doc_id", "text", SHINGLE_LEN)
    return jaccard_pairs(sh).filter(F.col("jaccard") >= 0.3)


def _pairs_wcc_sql(k: int) -> str:
    """Min-label propagation over the near-dup pair graph, unrolled k
    rounds (the transitive-closure step of industrial dedup)."""
    return _pairs_wcc_ctes(k) + f"""
SELECT id AS doc_id, label AS canonical_id FROM pl{k}"""


def _pairs_wcc_ctes(k: int) -> str:
    """Just the label-propagation CTE chain (pl0..pl{k}) — shared by the
    canonical-id query and the leakage-safe split query."""
    ctes = [
        "pe AS (SELECT id_a AS src, id_b AS dst FROM jac WHERE jaccard >= 0.8)",
        "psym AS (SELECT src, dst FROM pe UNION SELECT dst AS src, src AS dst FROM pe)",
        "pl0 AS (SELECT DISTINCT src AS id, src AS label FROM psym)",
    ]
    for i in range(1, k + 1):
        p = f"pl{i - 1}"
        ctes.append(
            f"""pm{i} AS (
  SELECT s.dst AS id, min(l.label) AS nm
  FROM psym s JOIN {p} l ON s.src = l.id GROUP BY s.dst)"""
        )
        ctes.append(
            f"""pl{i} AS (
  SELECT l.id, least(l.label, coalesce(m.nm, l.label)) AS label
  FROM {p} l LEFT JOIN pm{i} m ON l.id = m.id)"""
        )
    return ",\n".join(ctes)


@query(
    "dedup_wcc_canonical",
    oracle=f"""WITH {DOCS2_SQL},
{SHINGLES_SQL},
{SIG_SQL},
{BANDED_SQL},
{CAND_SQL},
{JACCARD_SQL},
{_pairs_wcc_sql(4)}""",
)
def dedup_wcc_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-closure dedup — the industrial alternative to the greedy
    drop-higher-id rule: near-dup PAIRS (MinHash->LSH->Jaccard >= 0.8)
    become an undirected graph, connected components assign every involved
    doc its canonical (minimum) id, so A~B and B~C dedupe to one canonical
    doc even when A~C was never directly detected. Composes the dedup
    machinery with the WCC kernel (graph/components.py) — the pair graph
    is orders of magnitude smaller than the corpus, so the iterative step
    runs on the skeleton's V-row economics. Fixed 4 rounds keeps the
    unrolled SQL oracle (pair-graph chains converge in O(diameter))."""
    from pagerank_giraph_vs_mapreduce_spark.graph.components import (
        connected_components,
    )

    pairs = minhash_near_dups(
        _docs2(spark, sf_dir),
        "doc_id",
        "text",
        threshold=0.8,
        n_hashes=N_HASHES,
        shingle_len=SHINGLE_LEN,
        bands=BANDS,
    )
    pair_edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    res = connected_components(pair_edges, max_iter=4)
    return res.components.select(
        F.col("id").alias("doc_id"), F.col("component").alias("canonical_id")
    )


TEST_FRAC_HEX = "33333333"  # floor(0.2 * 2^32) — 20% test split


@query(
    "pipeline_split_leakage_safe",
    oracle=f"""WITH {DOCS2_SQL},
{SHINGLES_SQL},
{SIG_SQL},
{BANDED_SQL},
{CAND_SQL},
{JACCARD_SQL},
{_pairs_wcc_ctes(4)},
canon AS (
  SELECT d.doc_id, coalesce(l.label, d.doc_id) AS canonical_id
  FROM docs2 d LEFT JOIN pl4 l ON d.doc_id = l.id)
SELECT doc_id, canonical_id,
       CASE WHEN substr(md5(CAST(canonical_id AS VARCHAR)), 1, 8)
                 < '{TEST_FRAC_HEX}'
            THEN 'test' ELSE 'train' END AS split
FROM canon""",
)
def pipeline_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split: hash-split by near-dup CLUSTER, not
    by document, so no near-duplicate pair ever straddles the split — the
    eval-hygiene rule naive per-doc random splits violate. Composes the
    MinHash->LSH->Jaccard pair graph, the WCC canonical id (transitive
    closure), and the deterministic md5-percentile gate: docs not in any
    near-dup pair are their own cluster. ~20% test by cluster-id hash.
    Scale shape: the pair graph is tiny next to the corpus, the canonical
    join is id-equi, and the split gate is a row-local expression — one
    broadcast-size iterative kernel plus a narrow map over the scan."""
    from pagerank_giraph_vs_mapreduce_spark.graph.components import (
        connected_components,
    )

    docs = _docs2(spark, sf_dir)
    pairs = minhash_near_dups(
        docs,
        "doc_id",
        "text",
        threshold=0.8,
        n_hashes=N_HASHES,
        shingle_len=SHINGLE_LEN,
        bands=BANDS,
    )
    pair_edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components(pair_edges, max_iter=4).components
    canon = (
        docs.select("doc_id")
        .join(comp, docs["doc_id"] == comp["id"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias(
                "canonical_id"
            ),
        )
    )
    return canon.select(
        "doc_id",
        "canonical_id",
        F.when(
            F.substring(F.md5(F.col("canonical_id").cast("string")), 1, 8)
            < TEST_FRAC_HEX,
            "test",
        )
        .otherwise("train")
        .alias("split"),
    )


@query(
    "dedup_recall_planted",
    oracle=f"""WITH {DOCS2_SQL},
{SHINGLES_SQL},
{SIG_SQL},
{BANDED_SQL},
{CAND_SQL},
{JACCARD_SQL},
detected AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.8),
planted AS (
  SELECT doc_id AS id_a, doc_id + 1000000000 AS id_b FROM documents
  WHERE doc_id % 10 = 0),
hit AS (
  SELECT count(*) AS n_hit FROM planted p
  JOIN detected d ON d.id_a = p.id_a AND d.id_b = p.id_b)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM planted) AS n_planted,
       (SELECT CAST(count(*) AS BIGINT) FROM detected) AS n_detected,
       CAST(n_hit AS BIGINT) AS n_detected_planted,
       round(CAST(n_hit AS DOUBLE)
             / (SELECT count(*) FROM planted), 6) AS recall
FROM hit""",
)
def dedup_recall_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup quality measurement — the 'measure, don't guess' companion to
    the MinHash pipeline: recall of minhash_near_dups against the KNOWN
    planted duplicates (doc_id ↔ doc_id+1000000000 exact copies in the doubled
    corpus). Planted exact dups have identical signatures, so every banded
    bucket contains both — recall must be 1.0; n_detected additionally
    counts organic near-dup pairs the word-salad corpus happens to
    contain. One broadcast-size metrics row; the heavy lifting reuses the
    audited candidate-routed pipeline (never all-pairs)."""
    pairs = minhash_near_dups(
        _docs2(spark, sf_dir),
        "doc_id",
        "text",
        threshold=0.8,
        n_hashes=N_HASHES,
        shingle_len=SHINGLE_LEN,
        bands=BANDS,
    ).select("id_a", "id_b")
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1000000000).alias("id_b"),
    )
    hit = planted.join(pairs, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        hit.crossJoin(
            F.broadcast(planted.agg(F.count(F.lit(1)).alias("n_planted")))
        )
        .crossJoin(
            F.broadcast(pairs.agg(F.count(F.lit(1)).alias("n_detected")))
        )
        .select(
            "n_planted",
            "n_detected",
            F.col("n_hit").alias("n_detected_planted"),
            F.round(
                F.col("n_hit").cast("double") / F.col("n_planted"), 6
            ).alias("recall"),
        )
    )


@query(
    "dedup_incremental",
    oracle=f"""WITH docs2 AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
  UNION ALL
  SELECT doc_id + 1000000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0),
newb AS (
  SELECT doc_id + 2000000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0),
alld AS (SELECT * FROM docs2 UNION ALL SELECT * FROM newb),
{SHINGLES_SQL.replace("FROM docs2", "FROM alld")},
{SIG_SQL},
{BANDED_SQL},
cand AS (
  SELECT DISTINCT a.id AS id_new, b.id AS id_old
  FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
  WHERE a.id >= 2000000000 AND b.id < 2000000000),
{JACCARD_SQL.replace("c.id_a", "c.id_new").replace("c.id_b", "c.id_old")
             .replace("i.id_a", "i.id_new").replace("i.id_b", "i.id_old")
             .replace("id_a,", "id_new,").replace("id_a AS", "id_new AS")
             .replace("id_b,", "id_old,").replace("id_b AS", "id_old AS")}
SELECT id_new, min(id_old) AS dup_of, round(max(jaccard), 6) AS best_jaccard
FROM jac WHERE jaccard >= 0.8
GROUP BY id_new""",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (new-batch-vs-corpus) dedup — the daily-ingest shape:
    only the NEW batch's signatures probe the existing corpus's LSH
    buckets (asymmetric candidate join new x old, never old x old, never
    all-pairs), so daily cost tracks batch size while the corpus index is
    a static bucketed table. Fixture: corpus = docs with doc_id % 5 != 0
    plus the usual planted +1000000000 copies; batch = the % 5 == 0 docs
    re-ingested at +2000000000 — every batch doc whose original text also
    appears in the corpus must be flagged. Returns (id_new, dup_of,
    best_jaccard) for flagged batch docs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 5 != 0).unionAll(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000000).alias("doc_id"), "text"
        )
    )
    batch = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2000000000).alias("doc_id"), "text"
    )
    alld = corpus.unionAll(batch)
    from pagerank_giraph_vs_mapreduce_spark.operators.dedup import (
        banded_keys,
        jaccard_pairs,
        minhash_signatures,
    )

    sig = minhash_signatures(alld, "doc_id", "text", N_HASHES, SHINGLE_LEN)
    banded = banded_keys(sig, bands=BANDS, rows_per_band=ROWS_PER_BAND)
    a = banded.select(F.col("id").alias("id_new"), "band", "bkey")
    b = banded.select(F.col("id").alias("id_old"), "band", "bkey")
    cand = (
        a.join(b, ["band", "bkey"])
        .filter((F.col("id_new") >= 2000000000) & (F.col("id_old") < 2000000000))
        .select("id_new", "id_old")
        .distinct()
    )
    from pagerank_giraph_vs_mapreduce_spark.operators.dedup import shingles

    sh = shingles(alld, "doc_id", "text", SHINGLE_LEN)
    jac = jaccard_pairs(
        sh, cand.select(F.col("id_new").alias("id_a"), F.col("id_old").alias("id_b"))
    )
    return (
        jac.filter(F.col("jaccard") >= 0.8)
        .groupBy(F.col("id_a").alias("id_new"))
        .agg(
            F.min("id_b").alias("dup_of"),
            F.round(F.max("jaccard"), 6).alias("best_jaccard"),
        )
    )


# The durable band index is written once per (sf_dir) and reused across
# invocations — the point of the exercise is that the corpus is NOT
# re-banded per batch.
_BAND_INDEX: dict[str, str] = {}
# At most one persisted candidate-pair DF stays alive per session (see
# dedup_incremental_indexed): the previous invocation's blocks are
# unpersisted when a new invocation persists its own.
_CAND_CACHE: dict[str, DataFrame] = {}
# Deterministic stream-shard dirs, one per sf_dir per session.
_SID_SHARDS: dict[str, str] = {}


def _corpus_band_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) the durable bucketed LSH band index for the incremental
    fixture's corpus; returns the catalog table name."""
    if sf_dir in _BAND_INDEX:
        return _BAND_INDEX[sf_dir]
    import atexit
    import hashlib
    import shutil
    import tempfile

    from pagerank_giraph_vs_mapreduce_spark.operators.dedup import (
        banded_keys,
        write_band_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 5 != 0).unionAll(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000000).alias("doc_id"), "text"
        )
    )
    sig = minhash_signatures(corpus, "doc_id", "text", N_HASHES, SHINGLE_LEN)
    banded = banded_keys(sig, bands=BANDS, rows_per_band=ROWS_PER_BAND)
    # stable digest, not hash(): PYTHONHASHSEED randomizes str hash per
    # process, which made the catalog name nondeterministic across runs
    table = f"band_index_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    path = tempfile.mkdtemp(prefix="band_index_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    write_band_index(banded, table, path, buckets=16)
    _BAND_INDEX[sf_dir] = table
    return table


@query(
    "dedup_incremental_indexed",
    oracle=f"""WITH docs2 AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
  UNION ALL
  SELECT doc_id + 1000000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0),
newb AS (
  SELECT doc_id + 2000000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0),
alld AS (SELECT * FROM docs2 UNION ALL SELECT * FROM newb),
{SHINGLES_SQL.replace("FROM docs2", "FROM alld")},
{SIG_SQL},
{BANDED_SQL},
cand AS (
  SELECT DISTINCT a.id AS id_new, b.id AS id_old
  FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
  WHERE a.id >= 2000000000 AND b.id < 2000000000),
{JACCARD_SQL.replace("c.id_a", "c.id_new").replace("c.id_b", "c.id_old")
             .replace("i.id_a", "i.id_new").replace("i.id_b", "i.id_old")
             .replace("id_a,", "id_new,").replace("id_a AS", "id_new AS")
             .replace("id_b,", "id_old,").replace("id_b AS", "id_old AS")}
SELECT id_new, min(id_old) AS dup_of, round(max(jaccard), 6) AS best_jaccard
FROM jac WHERE jaccard >= 0.8
GROUP BY id_new""",
)
def dedup_incremental_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against the DURABLE band index:
    the corpus's LSH bands are written ONCE as a bucketed(16 on band,
    bkey) sorted parquet table (operators/dedup.py:write_band_index) and
    every new batch probes it via probe_band_index — a sort-merge join in
    which the index side is scanned in place with NO exchange (bucketing
    matches the join key; pinned by test_plan_shapes) while only the
    batch-sized probe rows shuffle. Same fixture and same oracle as
    dedup_incremental; what changes is the corpus side's physical shape —
    the daily-ingest cost at 100 TB becomes O(batch), with the corpus
    banding amortized to index-build time. Jaccard verification then
    touches only candidate ids' shingles."""
    from pagerank_giraph_vs_mapreduce_spark.operators.dedup import (
        banded_keys,
        probe_band_index,
    )

    table = _corpus_band_index(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2000000000).alias("doc_id"), "text"
    )
    sig_new = minhash_signatures(batch, "doc_id", "text", N_HASHES, SHINGLE_LEN)
    banded_new = banded_keys(sig_new, bands=BANDS, rows_per_band=ROWS_PER_BAND)
    from pyspark.storagelevel import StorageLevel

    # candidates feed BOTH the old-doc semi-join and the jaccard verify:
    # persist the (small) pair set so the probe evaluates once. Bound the
    # cache to ONE live copy: repeated gate/driver invocations in a session
    # would otherwise accumulate cached blocks (each call makes a new DF).
    prev = _CAND_CACHE.pop("cand", None)
    if prev is not None:
        prev.unpersist()
    cand = probe_band_index(spark, table, banded_new).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    _CAND_CACHE["cand"] = cand

    corpus = docs.filter(F.col("doc_id") % 5 != 0).unionAll(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000000).alias("doc_id"), "text"
        )
    )
    # verify cost is O(batch + MATCHED old docs), never O(corpus): only
    # corpus docs that appear as a candidate's id_old get re-shingled
    # (semi-join; in production the shingle/signature table is stored and
    # this is a keyed lookup instead). Measured at sf0.1 the semi-join is
    # actually ~2x slower warm (3.4 s vs 1.5 s) — the corpus is so small
    # that a full re-shingle beats adding the probe into the shingle
    # path's critical chain — but the full scan is O(corpus) per daily
    # batch, which is the one shape that CANNOT survive 100 TB, so the
    # pruned form stays.
    matched_old = corpus.join(
        cand.select(F.col("id_old").alias("doc_id")).distinct(), "doc_id"
    )
    sh = shingles(matched_old.unionAll(batch), "doc_id", "text", SHINGLE_LEN)
    jac = jaccard_pairs(
        sh,
        cand.select(
            F.col("id_new").alias("id_a"), F.col("id_old").alias("id_b")
        ),
    )
    return (
        jac.filter(F.col("jaccard") >= 0.8)
        .groupBy(F.col("id_a").alias("id_new"))
        .agg(
            F.min("id_b").alias("dup_of"),
            F.round(F.max("jaccard"), 6).alias("best_jaccard"),
        )
    )


@query(
    "stream_incremental_dedup",
    oracle=f"""WITH docs2 AS (SELECT doc_id, text FROM documents),
{SHINGLES_SQL},
{SIG_SQL},
{BANDED_SQL}
SELECT DISTINCT a.id AS id_new, b.id AS id_old
FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
WHERE (a.id % 3) > (b.id % 3)""",
)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONTINUOUS-ingest dedup loop, driver-certified end-to-end:
    the documents table arrives as three file shards (doc_id % 3, in
    modification-time order) through a real Structured Streaming file
    source; each micro-batch probes the durable batch_id-partitioned
    bucketed band index for near-dups against every EARLIER batch, then
    folds itself in (streaming/incremental_dedup.py — writes are
    dynamic-partition overwrites, idempotent under foreachBatch replay).
    Returns the accumulated dup-sink pairs; the oracle computes the same
    strictly-earlier-batch LSH collisions in one batch SQL pass. The
    replay/restart behavior itself is pinned by
    tests/test_stream_incremental_dedup.py (no batch oracle can express
    a mid-stream crash)."""
    import atexit
    import glob as globmod
    import os
    import shutil
    import tempfile

    from pagerank_giraph_vs_mapreduce_spark.streaming.incremental_dedup import (
        run_streaming_incremental_dedup,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # shards are deterministic per sf_dir: build once per session and
    # reuse (only the checkpoint/table dirs are per-invocation) — gate +
    # bench + sweep in one session must not accumulate documents copies
    src = _SID_SHARDS.get(sf_dir)
    if src is None:
        shard_root = tempfile.mkdtemp(prefix="stream_sid_shards_")
        atexit.register(shutil.rmtree, shard_root, ignore_errors=True)
        src = os.path.join(shard_root, "shards")
        os.makedirs(src)
        for b in range(3):
            staging = os.path.join(shard_root, f"stage{b}")
            (
                docs.filter(F.col("doc_id") % 3 == b)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(staging)
            )
            part = globmod.glob(os.path.join(staging, "part-*.parquet"))[0]
            dest = os.path.join(src, f"b{b}.parquet")
            shutil.copy(part, dest)
            t = 1_700_000_000 + b * 60  # mtime order fixes batch order
            os.utime(dest, (t, t))
        _SID_SHARDS[sf_dir] = src
    work = tempfile.mkdtemp(prefix="stream_sid_run_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    idx_t, dup_t = "stream_sid_index_q", "stream_sid_dups_q"
    for t_ in (idx_t, dup_t):
        spark.sql(f"DROP TABLE IF EXISTS {t_}")
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    run_streaming_incremental_dedup(
        stream,
        index_table=idx_t,
        index_path=os.path.join(work, "idx"),
        dup_table=dup_t,
        dup_path=os.path.join(work, "dups"),
        n_hashes=N_HASHES,
        shingle_len=SHINGLE_LEN,
        bands=BANDS,
        buckets=16,
        checkpoint_dir=os.path.join(work, "ckpt"),
    )
    return spark.table(dup_t).select("id_new", "id_old")


@query(
    "dedup_lsh_star_candidates",
    oracle=f"""WITH {DOCS2_SQL},
{SHINGLES_SQL},
{SIG_SQL},
{BANDED_SQL},
rep AS (
  SELECT band, bkey, min(id) AS id_a FROM banded GROUP BY band, bkey)
SELECT DISTINCT r.id_a, b.id AS id_b
FROM banded b JOIN rep r ON r.band = b.band AND r.bkey = b.bkey
WHERE b.id <> r.id_a""",
)
def dedup_lsh_star_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mega-cluster-safe LSH candidates (operators/dedup.py:
    lsh_candidate_pairs_star): each bucket member pairs with the bucket
    representative only — B-1 edges per bucket instead of C(B,2), so a
    pathological boilerplate bucket cannot go quadratic, while
    transitive closure still recovers identical clusters (SCALING.md §13
    mitigation, measured against the 40x stress fixture)."""
    from pagerank_giraph_vs_mapreduce_spark.operators.dedup import (
        lsh_candidate_pairs_star,
    )

    sigs = minhash_signatures(
        _docs2(spark, sf_dir), "doc_id", "text", N_HASHES, SHINGLE_LEN
    )
    return lsh_candidate_pairs_star(sigs, BANDS, ROWS_PER_BAND)


@query(
    "dedup_containment",
    oracle=f"""WITH docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 30000 AS doc_id, substr(text, 1, 80) AS text
  FROM documents WHERE doc_id % 7 = 0),
{SHINGLES_SQL.replace("FROM docs2", "FROM docs2")},
{SIG_SQL},
{BANDED_SQL},
{CAND_SQL},
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c JOIN sh a ON a.id = c.id_a JOIN sh b ON b.id = c.id_b AND b.code = a.code
  GROUP BY c.id_a, c.id_b)
SELECT i.id_a, i.id_b,
       round(CAST(i.i AS DOUBLE) / least(sa.sz, sb.sz), 6) AS containment
FROM inter i JOIN sizes sa ON sa.id = i.id_a JOIN sizes sb ON sb.id = i.id_b
WHERE CAST(i.i AS DOUBLE) / least(sa.sz, sb.sz) >= 0.9""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup: containment = |A∩B| / min(|A|,|B|) — catches
    an EXCERPT inside a longer document (planted here: 80-char prefixes
    of every doc_id%7==0 doc), which symmetric Jaccard misses because
    the union is dominated by the longer side. Same LSH candidate
    routing as the Jaccard path (a true excerpt shares the prefix's
    shingles, so its bands collide); only the verify formula changes.
    The standard signal for quote/boilerplate-fragment removal in
    training corpora."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    excerpts = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 30000).alias("doc_id"),
        F.substring("text", 1, 80).alias("text"),
    )
    d2 = docs.unionAll(excerpts)
    sigs = minhash_signatures(d2, "doc_id", "text", N_HASHES, SHINGLE_LEN)
    cand = lsh_candidate_pairs(sigs, BANDS, ROWS_PER_BAND)
    sh = shingles(d2, "doc_id", "text", SHINGLE_LEN)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.withColumnsRenamed({"id": "id_a"})
    b = sh.withColumnsRenamed({"id": "id_b"})
    inter = (
        cand.join(a, "id_a")
        .join(b, ["id_b", "code"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"})
    sb = sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"})
    cont = F.col("i").cast("double") / F.least("sz_a", "sz_b")
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(cont >= 0.9)
        .select("id_a", "id_b", F.round(cont, 6).alias("containment"))
    )


CDC_W = 8
CDC_D = 64


def _cdc_oracle(w: int, d: int) -> str:
    from pagerank_giraph_vs_mapreduce_spark.functions.hashing import CODE_MOD, MULT

    terms = " + ".join(
        f"CAST(ascii(substr(dd.text, s + {k}, 1)) AS BIGINT) * {MULT ** (w - 1 - k)}"
        for k in range(w)
    )
    code = f"(({terms}) % {CODE_MOD})"
    return f"""WITH docs AS (
  SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) >= 1),
b AS (
  SELECT doc_id, text, n,
         list_filter(range(1, greatest(n - {w} + 1, 0) + 1),
                     s -> {code} % {d} = 0) AS bstarts
  FROM docs dd),
e AS (
  SELECT doc_id, text, n, list_transform(bstarts, s -> s + {w} - 1) AS bends
  FROM b),
e2 AS (
  SELECT doc_id, text, n,
         CASE WHEN len(bends) > 0 AND bends[-1] = n THEN bends
              ELSE list_append(bends, n) END AS ends
  FROM e),
ch AS (
  SELECT doc_id,
         list_transform(range(1, len(ends) + 1),
           i -> substr(text, CASE WHEN i = 1 THEN 0 ELSE ends[i-1] END + 1,
                       ends[i] - CASE WHEN i = 1 THEN 0 ELSE ends[i-1] END)) AS cl
  FROM e2),
fl AS (SELECT doc_id, unnest(cl) AS chunk FROM ch)
SELECT md5(chunk) AS chunk_md5, length(chunk) AS chunk_len,
       CAST(count(*) AS BIGINT) AS n_occ,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM fl GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, chunk_md5 LIMIT 20"""


@query("dedup_cdc_chunks", oracle=_cdc_oracle(CDC_W, CDC_D))
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking boilerplate detector: CDC-chunk every
    document (rolling-hash boundaries — see operators/dedup.py:
    cdc_chunk_table for why CDC, not fixed blocks), hash chunks, and
    report the top spans repeated across ≥2 distinct documents — the
    sub-document dedup pass (headers, licence blocks, templated pages)
    that document-level MinHash cannot see. Whole pipeline is one narrow
    per-row map + one map-side-combined aggregate on chunk_md5."""
    from pagerank_giraph_vs_mapreduce_spark.operators.dedup import (
        cdc_repeated_chunks,
    )

    docs = load_table(spark, sf_dir, "documents")
    rep = cdc_repeated_chunks(docs, "doc_id", "text", CDC_W, CDC_D)
    return (
        rep.select("chunk_md5", "chunk_len", "n_occ", "n_docs")
        .orderBy(F.desc("n_docs"), "chunk_md5")
        .limit(20)
    )


CDC_STRIP_MIN_DOCS = 10


def _cdc_strip_oracle(w: int, d: int, min_docs: int) -> str:
    from pagerank_giraph_vs_mapreduce_spark.functions.hashing import CODE_MOD, MULT

    terms = " + ".join(
        f"CAST(ascii(substr(dd.text, s + {k}, 1)) AS BIGINT) * {MULT ** (w - 1 - k)}"
        for k in range(w)
    )
    code = f"(({terms}) % {CODE_MOD})"
    return f"""WITH docs AS (
  SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) >= 1),
b AS (
  SELECT doc_id, text, n,
         list_filter(range(1, greatest(n - {w} + 1, 0) + 1),
                     s -> {code} % {d} = 0) AS bstarts
  FROM docs dd),
e2 AS (
  SELECT doc_id, text, n,
         CASE WHEN len(bends) > 0 AND bends[-1] = n THEN bends
              ELSE list_append(bends, n) END AS ends
  FROM (SELECT doc_id, text, n,
               list_transform(bstarts, s -> s + {w} - 1) AS bends FROM b)),
fl AS (
  SELECT doc_id, u.idx AS chunk_idx, u.chunk AS chunk
  FROM (SELECT doc_id,
               list_transform(range(1, len(ends) + 1),
                 i -> struct_pack(idx := i,
                      chunk := substr(text,
                        CASE WHEN i = 1 THEN 0 ELSE ends[i-1] END + 1,
                        ends[i] - CASE WHEN i = 1 THEN 0 ELSE ends[i-1] END))) AS cl
        FROM e2) t,
       LATERAL (SELECT unnest(cl, recursive := true)) u),
blocklist AS (
  SELECT md5(chunk) AS bmd5 FROM fl
  GROUP BY 1 HAVING count(DISTINCT doc_id) >= {min_docs}),
marked AS (
  SELECT f.doc_id, f.chunk_idx, f.chunk,
         (bl.bmd5 IS NOT NULL) AS dropped
  FROM fl f LEFT JOIN blocklist bl ON bl.bmd5 = md5(f.chunk)),
agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_chunks,
         CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         string_agg(CASE WHEN dropped THEN '' ELSE chunk END, ''
                    ORDER BY chunk_idx) AS clean
  FROM marked GROUP BY doc_id)
SELECT doc_id AS id, n_chunks, n_dropped,
       CAST(length(clean) AS BIGINT) AS clean_len,
       md5(clean) AS clean_md5
FROM agg"""


@query(
    "dedup_cdc_strip",
    oracle=_cdc_strip_oracle(CDC_W, CDC_D, CDC_STRIP_MIN_DOCS),
)
def dedup_cdc_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaner half of the CDC boilerplate story: chunks repeated in
    ≥10 distinct docs form the blocklist (a tiny aggregate, broadcast
    back), blocklisted chunks are dropped, and each doc's remaining
    chunks reassemble in order — emitted as (n_chunks, n_dropped,
    clean_len, clean_md5) so corruption anywhere in the strip/reassembly
    is a hash mismatch (operators/dedup.py:cdc_strip_boilerplate)."""
    from pagerank_giraph_vs_mapreduce_spark.operators.dedup import (
        cdc_strip_boilerplate,
    )

    docs = load_table(spark, sf_dir, "documents")
    return cdc_strip_boilerplate(
        docs, "doc_id", "text", CDC_W, CDC_D, CDC_STRIP_MIN_DOCS
    )
