"""Declared text-analysis queries with DuckDB oracles (operators/text.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pagerank_giraph_vs_mapreduce_spark.operators.text import (
    LANG_MARKERS,
    chunk_documents,
    fingerprints,
    language_id,
    quality_score,
    token_stats,
    vocabulary,
)
from pagerank_giraph_vs_mapreduce_spark.plans.registry import query
from pagerank_giraph_vs_mapreduce_spark.sources.tables import load_table


def _occ_sql(text: str, needle: str) -> str:
    n = needle.replace("'", "''")
    return (
        f"CAST((length({text}) - length(replace({text}, '{n}', ''))) / {len(needle)}"
        " AS BIGINT)"
    )


@query(
    "text_token_stats",
    oracle=f"""SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_measured,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       {_occ_sql('text', ' ')} + 1 AS n_tokens,
       round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
             / ({_occ_sql('text', ' ')} + 1), 9) AS avg_token_len
FROM documents""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + length stats (regex-free, portable)."""
    return token_stats(load_table(spark, sf_dir, "documents"), "doc_id", "text")


# Reusable fragments (also composed by plans/pipeline_queries.py).
N_TOKENS_SQL = f"{_occ_sql('text', ' ')} + 1"
QUALITY_SQL = f"""round(1.0
        - CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
          / length(text)
        - CASE WHEN length(text) < 100 THEN 0.5 ELSE 0.0 END
        + CAST({_occ_sql('text', ' the ')} + {_occ_sql('text', ' a ')} AS DOUBLE)
          / ({N_TOKENS_SQL}) * 0.1, 9)"""


@query(
    "text_quality",
    oracle=f"""SELECT doc_id,
  round(CAST({_occ_sql('text', ' the ')} + {_occ_sql('text', ' a ')} AS DOUBLE)
        / ({N_TOKENS_SQL}), 9) AS stopword_ratio,
  round(CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
        / length(text), 9) AS digit_ratio,
  length(text) < 100 AS too_short,
  {QUALITY_SQL} AS quality
FROM documents""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/stopword/digit-ratio quality heuristics."""
    return quality_score(load_table(spark, sf_dir, "documents"), "doc_id", "text")


def _lang_score_sql(lang: str) -> str:
    markers = LANG_MARKERS[lang]
    return " + ".join(_occ_sql("padded", m) for m in markers)


_lang_cases = "\n".join(
    f"  WHEN s_{lang} = best THEN '{lang}'" for lang in sorted(LANG_MARKERS)
)
_lang_scores = ",\n".join(
    f"  {_lang_score_sql(lang)} AS s_{lang}" for lang in sorted(LANG_MARKERS)
)
_greatest = ", ".join(f"s_{lang}" for lang in sorted(LANG_MARKERS))

# Public aliases for composition (plans/pipeline_queries.py).
LANG_SCORES_SQL = _lang_scores
LANG_CASES_SQL = _lang_cases
LANG_GREATEST_SQL = _greatest


@query(
    "text_lang_id",
    oracle=f"""WITH padded_docs AS (
  SELECT doc_id, concat(' ', text, ' ') AS padded FROM documents),
scored AS (
  SELECT doc_id,
{_lang_scores},
  greatest({_greatest}) AS best
  FROM padded_docs)
SELECT doc_id,
  CASE WHEN best = 0 THEN 'unknown'
{_lang_cases}
  ELSE 'unknown' END AS lang_pred
FROM scored""",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language voting (argmax, alphabetic tie-break)."""
    return language_id(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "text_fingerprint",
    oracle="""SELECT doc_id,
  md5(text) AS fp_md5,
  CAST(list_sum(list_transform(range(1, length(text) + 1),
           i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT)
                * ((i % 64) + 1))) % 1000000007 AS BIGINT) AS fp_checksum
FROM documents""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 exact-dup key + position-weighted rolling checksum."""
    return fingerprints(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "text_vocab_top20",
    oracle="""WITH toks AS (
  SELECT doc_id, t.tok
  FROM documents, LATERAL unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(tok)
  WHERE t.tok != '')
SELECT tok, CAST(count(*) AS BIGINT) AS n_occ,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM toks GROUP BY tok
ORDER BY n_occ DESC, tok LIMIT 20""",
)
def text_vocab_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-20 tokens by term frequency with document
    frequency — the TF-IDF input (operators/text.py:vocabulary)."""
    return vocabulary(load_table(spark, sf_dir, "documents"), "doc_id", "text")


ZIPF_TOP = 100


@query(
    "text_zipf_fit",
    oracle=f"""WITH toks AS (
  SELECT t.tok
  FROM documents,
       LATERAL unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(tok)
  WHERE t.tok != ''),
vocab AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS total_tokens,
         count(*) AS vocab_size,
         count(*) FILTER (WHERE n = 1) AS n_hapax
  FROM vocab),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rk
  FROM vocab ORDER BY n DESC, tok LIMIT {ZIPF_TOP}),
fit AS (
  SELECT count(*) AS k,
    CAST(sum(CAST(round(ln(rk), 6) AS DECIMAL(18,6))) AS DOUBLE) AS sx,
    CAST(sum(CAST(round(ln(n), 6) AS DECIMAL(18,6))) AS DOUBLE) AS sy,
    CAST(sum(CAST(round(ln(rk), 6) AS DECIMAL(18,6))
             * CAST(round(ln(n), 6) AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
    CAST(sum(CAST(round(ln(rk), 6) AS DECIMAL(18,6))
             * CAST(round(ln(rk), 6) AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
    CAST(sum(CASE WHEN rk <= 10 THEN n ELSE 0 END) AS BIGINT) AS top10
  FROM ranked)
SELECT vocab_size, total_tokens,
  round(CAST(n_hapax AS DOUBLE) / vocab_size, 9) AS hapax_rate,
  round(CAST(top10 AS DOUBLE) / total_tokens, 9) AS top10_mass,
  round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS zipf_slope
FROM tot, fit""",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics QA: Zipf rank-frequency fit over the top-100
    vocabulary — the distribution check a training-corpus health
    dashboard runs (natural text fits ln(freq) ~ slope * ln(rank) with
    slope near -1; template/boilerplate-heavy or synthetic corpora bend
    it). Emits vocab size, total tokens, hapax rate (fraction of
    single-occurrence types — OCR/noise indicator), top-10 token mass
    (boilerplate indicator), and the OLS slope of the log-log rank curve.

    Scale shape: one tokenize + map-side-combined vocab count (the
    text_vocab pass); the fit runs on the top-100 rows
    (TakeOrderedAndProject) and the corpus-level counts are one
    aggregate. Cross-engine exactness: ln is libm (not correctly
    rounded), so each term is rounded to 6 dp FIRST (the fn_math
    precedent) and the regression sums run as exact DECIMAL products;
    the closed-form slope is then IEEE-deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    tot = vocab.agg(
        F.sum("n").cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        F.count_if(F.col("n") == 1).alias("n_hapax"),
    )
    from pyspark.sql import Window

    ranked = (
        vocab.orderBy(F.desc("n"), F.asc("tok"))
        .limit(ZIPF_TOP)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.desc("n"), F.asc("tok"))
            ),
        )
    )
    x = F.round(F.log("rk"), 6).cast("decimal(18,6)")
    y = F.round(F.log("n"), 6).cast("decimal(18,6)")
    fit = ranked.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(F.when(F.col("rk") <= 10, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("top10"),
    )
    return (
        tot.crossJoin(F.broadcast(fit))
        .select(
            "vocab_size",
            "total_tokens",
            F.round(
                F.col("n_hapax").cast("double") / F.col("vocab_size"), 9
            ).alias("hapax_rate"),
            F.round(
                F.col("top10").cast("double") / F.col("total_tokens"), 9
            ).alias("top10_mass"),
            F.round(
                (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")),
                6,
            ).alias("zipf_slope"),
        )
    )


CHUNK_CHARS = 200
CHUNK_OVERLAP = 50
_STRIDE = CHUNK_CHARS - CHUNK_OVERLAP


@query(
    "text_chunks",
    oracle=f"""WITH base AS (
  SELECT doc_id, text,
         greatest(1, CAST(ceil((length(text) - {CHUNK_OVERLAP}) / {_STRIDE}.0) AS INT)) AS n_chunks
  FROM documents)
SELECT doc_id, CAST(r.i AS INT) AS chunk_id,
       substr(text, CAST(r.i * {_STRIDE} + 1 AS INT), {CHUNK_CHARS}) AS chunk,
       CAST(length(substr(text, CAST(r.i * {_STRIDE} + 1 AS INT), {CHUNK_CHARS})) AS BIGINT) AS chunk_len
FROM base, LATERAL unnest(range(0, n_chunks)) AS r(i)""",
)
def text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: CHUNK_CHARS-char chunks with CHUNK_OVERLAP
    overlap (operators/text.py:chunk_documents) — the corpus prep stage
    before embedding/tokenization."""
    return chunk_documents(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        chunk_chars=CHUNK_CHARS,
        overlap=CHUNK_OVERLAP,
    )


@query(
    "text_regexp_tokens",
    oracle="""SELECT doc_id,
  CAST(length(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_word_tokens,
  CAST(length(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num_tokens
FROM documents""",
)
def text_regexp_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token classes (alpha runs / digit runs)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit("[a-z]+")).cast("bigint").alias("n_word_tokens"),
        F.regexp_count("text", F.lit("[0-9]+")).cast("bigint").alias("n_num_tokens"),
    )


@query(
    "text_tfidf_top_term",
    oracle="""WITH toks AS (
  SELECT doc_id, t.tok
  FROM documents, LATERAL unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(tok)
  WHERE t.tok != ''),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, tok AS top_term, score FROM (
  SELECT t.doc_id, t.tok,
         round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6) AS score,
         row_number() OVER (PARTITION BY t.doc_id
                            ORDER BY round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6) DESC,
                                     t.tok) AS rn
  FROM tf t JOIN df d ON d.tok = t.tok, n)
WHERE rn = 1""",
)
def text_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top TF-IDF term: term frequency x ln(N/df), rounded to
    6 dp (the module's libm discipline — see fn_math), deterministic
    tie-break by term. Composes the vocabulary machinery into the classic
    relevance score; the df table is tiny and broadcasts, N is an in-plan
    1-row crossJoin. The per-doc argmax is a ``min_by`` aggregate over
    (-score, tok) — same rank-1 row as a row_number window but with
    map-side partial aggregation instead of a per-doc sort (the LPA
    argmax idiom, graph/communities.py; min_by because the asc string
    tie-break can't be negated into a max_by ordering)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("tok"),
    ).filter(F.col("tok") != "")
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("score"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.min_by(
                F.struct(F.col("tok").alias("top_term"), F.col("score")),
                F.struct((-F.col("score")).alias("ns"), F.col("tok")),
            ).alias("best")
        )
        .select("doc_id", F.col("best.top_term"), F.col("best.score"))
    )


FEATURE_DIMS = 64


@query(
    "text_feature_hash_64",
    oracle=f"""WITH toks AS (
  SELECT doc_id, t.tok
  FROM documents, LATERAL unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(tok)
  WHERE t.tok != ''),
dims AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(1, length(tok) + 1),
                  i -> CAST(ascii(substr(tok, CAST(i AS INT), 1)) AS BIGINT)
                       * ((i % 32) + 1))) % {FEATURE_DIMS} AS INT) AS dim
  FROM toks)
SELECT doc_id, dim, CAST(count(*) AS BIGINT) AS val
FROM dims GROUP BY doc_id, dim""",
)
def text_feature_hash_64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing document vectors (the hashing trick): each token
    maps to dim = polyhash(token) mod 64 and collisions accumulate —
    the deterministic sparse featurization stage between chunking and
    ANN indexing, emitted as (doc, dim, val) COO rows so the driver can
    hash the result. Pure per-row integer arithmetic inside codegen,
    one map-side-combined aggregation; no Python, no floats."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("tok"),
    ).filter(F.col("tok") != "")
    from pagerank_giraph_vs_mapreduce_spark.functions.hashing import (
        position_weighted_sum,
    )

    polyhash = position_weighted_sum(F.col("tok"), 32)
    return (
        toks.select("doc_id", (polyhash % FEATURE_DIMS).cast("int").alias("dim"))
        .groupBy("doc_id", "dim")
        .agg(F.count(F.lit(1)).alias("val"))
    )


@query(
    "text_repetition",
    oracle="""WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
                             t -> t != '') AS l
  FROM documents),
base AS (
  SELECT doc_id, l,
         list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i + 1]) AS bg
  FROM toks),
tops AS (
  SELECT doc_id, l, bg,
         list_min(list_transform(list_distinct(bg),
             g -> {'nc': -len(list_filter(bg, x -> x = g)), 'g': g})) AS top
  FROM base)
SELECT doc_id,
  CAST(len(l) AS BIGINT) AS n_tokens,
  round(CASE WHEN len(l) > 0
        THEN CAST(len(l) - len(list_distinct(l)) AS DOUBLE) / len(l)
        ELSE 0.0 END, 9) AS dup_token_frac,
  round(CASE WHEN len(bg) > 0
        THEN CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg)
        ELSE 0.0 END, 9) AS dup_bigram_frac,
  CASE WHEN len(bg) > 0 THEN top.g ELSE '' END AS top_bigram,
  round(CASE WHEN len(bg) > 0
        THEN CAST(-top.nc AS DOUBLE) / len(bg)
        ELSE 0.0 END, 9) AS top_bigram_share
FROM tops""",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document
    (operators/text.py:repetition_stats): duplicate-token fraction,
    duplicate-bigram fraction, and the most-frequent-bigram share —
    the filters Rae et al. use to drop repetitious low-quality pages.
    All in-row higher-order array math, zero shuffles, scan-bound."""
    from pagerank_giraph_vs_mapreduce_spark.operators.text import (
        repetition_stats,
    )

    return repetition_stats(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )


@query(
    "text_bigrams_top20",
    oracle="""WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
                     t -> t != '') AS l
  FROM documents),
bigrams AS (
  SELECT t.bg FROM toks, LATERAL unnest(
    list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i + 1])
  ) AS t(bg))
SELECT bg AS bigram, CAST(count(*) AS BIGINT) AS n
FROM bigrams GROUP BY bg ORDER BY n DESC, bg LIMIT 20""",
)
def text_bigrams_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts (the n-gram language-model statistic): adjacent
    token pairs via an in-row zip_with of the token array against its own
    1-shifted slice — pure codegen'd array ops, no self-join — then one
    map-side-combined count and a TakeOrderedAndProject top-20. The same
    shape extends to any n by widening the slice; at corpus scale this
    stays scan-bound exactly like the vocabulary query."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != ""
    )
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, n1),
        F.slice(toks, 2, n1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(20)
    )


BPE_MERGES = 3


def _bpe_ctes(
    merges: int, full_rounds: bool, gate_hexmax: str | None = None
) -> list[str]:
    """Classic BPE unrolled into SQL: per round, pair counts + top-1, then
    a windowed greedy-leftmost merge replay (gaps-and-islands picks every
    other position inside a run of identical overlapping pairs, which only
    occurs when a == b). ``full_rounds`` also materializes the FINAL
    round's merge replay (s{merges}) — needed by the encode oracle, not by
    the merge-table oracle. ``gate_hexmax`` replicates bpe_learn_scaled's
    deterministic md5 training-sample gate."""
    gate = (
        f"\n  WHERE substr(md5(text), 1, 1) < '{gate_hexmax}'"
        if gate_hexmax is not None
        else ""
    )
    ctes = [
        f"""words AS MATERIALIZED (
  SELECT t.tok AS w, count(*) AS cnt
  FROM documents, LATERAL unnest(
    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x != '')
  ) AS t(tok){gate}
  GROUP BY t.tok)""",
        """s0 AS MATERIALIZED (
  SELECT w, cnt,
         list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)) AS syms
  FROM words)""",
    ]
    for r in range(1, merges + 1):
        p = f"s{r - 1}"
        ctes.append(
            f"""p{r} AS MATERIALIZED (
  SELECT l.pair, CAST(sum(cnt) AS BIGINT) AS n_occ
  FROM {p}, LATERAL unnest(list_transform(range(1, len(syms)),
       i -> syms[i] || ' ' || syms[i + 1])) AS l(pair)
  GROUP BY l.pair)"""
        )
        ctes.append(
            f"t{r} AS MATERIALIZED (SELECT pair, n_occ FROM p{r} "
            "ORDER BY n_occ DESC, pair LIMIT 1)"
        )
        if r == merges and not full_rounds:
            break
        ctes.append(
            f"""e{r} AS MATERIALIZED (
  SELECT w, cnt, p.pos, syms[p.pos] AS s,
         CASE WHEN p.pos < len(syms) THEN syms[p.pos + 1] END AS nxts,
         COALESCE(CASE WHEN p.pos < len(syms)
                  THEN syms[p.pos] || ' ' || syms[p.pos + 1] END
                  = (SELECT pair FROM t{r}), false) AS ism
  FROM {p}, LATERAL unnest(range(1, len(syms) + 1)) AS p(pos))"""
        )
        ctes.append(
            f"""mm{r} AS MATERIALIZED (
  SELECT w, pos, pos - row_number() OVER (PARTITION BY w ORDER BY pos) AS grp
  FROM e{r} WHERE ism)"""
        )
        ctes.append(
            f"""sel{r} AS MATERIALIZED (
  SELECT w, pos FROM (
    SELECT w, pos, row_number() OVER (PARTITION BY w, grp ORDER BY pos) AS rk
    FROM mm{r}) WHERE rk % 2 = 1)"""
        )
        ctes.append(
            f"""s{r} AS MATERIALIZED (
  SELECT e.w, e.cnt,
         list(CASE WHEN sl.pos IS NOT NULL THEN e.s || e.nxts ELSE e.s END
              ORDER BY e.pos) AS syms
  FROM e{r} e
  LEFT JOIN sel{r} sl ON sl.w = e.w AND sl.pos = e.pos
  LEFT JOIN sel{r} sp ON sp.w = e.w AND sp.pos = e.pos - 1
  WHERE sp.pos IS NULL
  GROUP BY e.w, e.cnt)"""
        )
    return ctes


def _bpe_oracle(merges: int, gate_hexmax: str | None = None) -> str:
    ctes = _bpe_ctes(merges, full_rounds=False, gate_hexmax=gate_hexmax)
    selects = [
        f"SELECT CAST({r} AS INT) AS merge_round, pair, n_occ FROM t{r}"
        for r in range(1, merges + 1)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


def _bpe_encode_oracle(merges: int) -> str:
    """Per-doc BPE token counts with the learned merges: every distinct
    word's final symbol list comes from the full merge replay (s{merges});
    documents just join their words to it."""
    ctes = _bpe_ctes(merges, full_rounds=True)
    ctes.append(
        """docw AS (
  SELECT doc_id, t.tok AS w
  FROM documents, LATERAL unnest(
    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x != '')
  ) AS t(tok))"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(v.syms)) AS BIGINT) AS n_bpe_tokens
FROM docw d JOIN s{merges} v ON v.w = d.w
GROUP BY d.doc_id"""
    )


@query("text_bpe_merges_k3", oracle=_bpe_oracle(BPE_MERGES))
def text_bpe_merges_k3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training, 3 merge rounds
    (operators/text.py:bpe_learn): word-frequency-weighted pair counts,
    global top-1 (count desc, pair asc), and an in-row greedy-leftmost
    fold merge — one lazy plan with zero driver actions, where only the
    initial vocabulary aggregation touches the corpus; every round after
    runs on the tiny vocab table. Oracle replays the merges with windowed
    gaps-and-islands SQL."""
    from pagerank_giraph_vs_mapreduce_spark.operators.text import bpe_learn

    return bpe_learn(
        load_table(spark, sf_dir, "documents"), "text", merges=BPE_MERGES
    )


BPE_MERGES_SCALED = 64
BPE_SAMPLE_HEXMAX = "4"  # md5 first-hex gate: ~25% of docs train the vocab


@query(
    "text_bpe_merges_k64",
    oracle=_bpe_oracle(BPE_MERGES_SCALED, gate_hexmax=BPE_SAMPLE_HEXMAX),
)
def text_bpe_merges_k64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training at depth (operators/text.py:bpe_learn_scaled):
    64 merge rounds over a deterministic 25%
    md5-sampled training corpus. Unlike the lazy 3-round chain, each
    round materializes the vocabulary with an eager localCheckpoint
    (plan depth O(1), not O(merges)) and collects exactly one
    vocabulary-sized top-pair row — the real vocab-training cost curve.
    The oracle replays all 64 rounds with the same unrolled
    gaps-and-islands SQL as the k=3 twin, gated by the same md5 sample."""
    from pagerank_giraph_vs_mapreduce_spark.operators.text import (
        bpe_learn_scaled,
    )

    return bpe_learn_scaled(
        load_table(spark, sf_dir, "documents"),
        "text",
        merges=BPE_MERGES_SCALED,
        sample_hexmax=BPE_SAMPLE_HEXMAX,
    )


BPE_BATCH = 16  # merges per driver round in the batched trainer
BPE_BATCH_ROUNDS = 8  # oracle unroll depth (engine needs ~ceil(64/13) rounds)


def _bpe_batched_oracle(
    merges: int, batch: int, rounds: int, gate_hexmax: str
) -> str:
    """DuckDB replay of operators/text.py:bpe_learn_batched: per round,
    rank the pair counts, greedy-select up to ``batch`` symbol-disjoint
    pairs from the top-``4*batch`` candidate pool with a RECURSIVE CTE
    (the linear scan carrying the used-symbol list), then apply the
    whole batch in one gaps-and-islands merge replay. Rounds past the
    point where ``merges`` total pairs are selected pick nothing and
    replay as identity, so a fixed ``rounds`` unroll ≥ the engine's
    data-dependent round count reproduces its output exactly."""
    pool = 4 * batch
    ctes = [
        f"""bw AS MATERIALIZED (
  SELECT t.tok AS w, count(*) AS cnt
  FROM documents, LATERAL unnest(
    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x != '')
  ) AS t(tok)
  WHERE substr(md5(text), 1, 1) < '{gate_hexmax}'
  GROUP BY t.tok)""",
        """bs0 AS MATERIALIZED (
  SELECT w, cnt,
         list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)) AS syms
  FROM bw)""",
    ]
    for r in range(1, rounds + 1):
        prev = f"bs{r - 1}"
        picked_so_far = (
            " - ".join(
                [str(merges)]
                + [f"(SELECT count(*) FROM bk{j})" for j in range(1, r)]
            )
            if r > 1
            else str(merges)
        )
        ctes.append(
            f"""bp{r} AS MATERIALIZED (
  SELECT l.pair, CAST(sum(cnt) AS BIGINT) AS n_occ
  FROM {prev}, LATERAL unnest(list_transform(range(1, len(syms)),
       i -> syms[i] || ' ' || syms[i + 1])) AS l(pair)
  GROUP BY l.pair)"""
        )
        ctes.append(
            f"""bc{r} AS MATERIALIZED (
  SELECT pair, n_occ,
         row_number() OVER (ORDER BY n_occ DESC, pair) AS rk,
         LEAST({batch}, {picked_so_far}) AS cap
  FROM bp{r} ORDER BY n_occ DESC, pair LIMIT {pool})"""
        )
        # greedy non-overlap scan: rank by rank, carrying the used set
        sel_cond = (
            "g.n_sel < c.cap"
            " AND NOT list_contains(g.used, string_split(c.pair, ' ')[1])"
            " AND NOT list_contains(g.used, string_split(c.pair, ' ')[2])"
            " AND NOT list_contains(g.used, replace(c.pair, ' ', ''))"
        )
        ctes.append(
            f"""bg{r} AS (
  SELECT 0 AS rk, CAST(NULL AS VARCHAR) AS pair,
         CAST(NULL AS BIGINT) AS n_occ, false AS sel,
         CAST([] AS VARCHAR[]) AS used, 0 AS n_sel
  UNION ALL
  SELECT c.rk, c.pair, c.n_occ, {sel_cond} AS sel,
         CASE WHEN {sel_cond} THEN list_concat(g.used,
              [string_split(c.pair, ' ')[1], string_split(c.pair, ' ')[2],
               replace(c.pair, ' ', '')]) ELSE g.used END AS used,
         g.n_sel + CASE WHEN {sel_cond} THEN 1 ELSE 0 END AS n_sel
  FROM bg{r} g JOIN bc{r} c ON c.rk = g.rk + 1)"""
        )
        ctes.append(
            f"""bk{r} AS MATERIALIZED (
  SELECT pair, n_occ, row_number() OVER (ORDER BY rk) AS rn
  FROM bg{r} WHERE sel)"""
        )
        if r == rounds:
            break
        ctes.append(
            f"""be{r} AS MATERIALIZED (
  SELECT w, cnt, p.pos, syms[p.pos] AS s,
         CASE WHEN p.pos < len(syms) THEN syms[p.pos + 1] END AS nxts,
         COALESCE(CASE WHEN p.pos < len(syms)
                  THEN syms[p.pos] || ' ' || syms[p.pos + 1] END
                  IN (SELECT pair FROM bk{r}), false) AS ism
  FROM {prev}, LATERAL unnest(range(1, len(syms) + 1)) AS p(pos))"""
        )
        ctes.append(
            f"""bmm{r} AS MATERIALIZED (
  SELECT w, pos, pos - row_number() OVER (PARTITION BY w ORDER BY pos) AS grp
  FROM be{r} WHERE ism)"""
        )
        ctes.append(
            f"""bsl{r} AS MATERIALIZED (
  SELECT w, pos FROM (
    SELECT w, pos, row_number() OVER (PARTITION BY w, grp ORDER BY pos) AS rk
    FROM bmm{r}) WHERE rk % 2 = 1)"""
        )
        ctes.append(
            f"""bs{r} AS MATERIALIZED (
  SELECT e.w, e.cnt,
         list(CASE WHEN sl.pos IS NOT NULL THEN e.s || e.nxts ELSE e.s END
              ORDER BY e.pos) AS syms
  FROM be{r} e
  LEFT JOIN bsl{r} sl ON sl.w = e.w AND sl.pos = e.pos
  LEFT JOIN bsl{r} sp ON sp.w = e.w AND sp.pos = e.pos - 1
  WHERE sp.pos IS NULL
  GROUP BY e.w, e.cnt)"""
        )
    selects = []
    for r in range(1, rounds + 1):
        offset = " + ".join(
            ["0"] + [f"(SELECT count(*) FROM bk{j})" for j in range(1, r)]
        )
        selects.append(
            f"SELECT CAST({offset} + rn AS INT) AS merge_round, pair, n_occ"
            f" FROM bk{r}"
        )
    return (
        "WITH RECURSIVE "
        + ",\n".join(ctes)
        + "\n"
        + "\nUNION ALL\n".join(selects)
    )


@query(
    "text_bpe_merges_k64_batched",
    oracle=_bpe_batched_oracle(
        BPE_MERGES_SCALED, BPE_BATCH, BPE_BATCH_ROUNDS, BPE_SAMPLE_HEXMAX
    ),
)
def text_bpe_merges_k64_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BPE training (operators/text.py:bpe_learn_batched):
    64 merges in ~5 driver rounds instead of 64, by
    greedy-selecting the top-16 symbol-disjoint pairs per round and
    applying them in ONE map-literal fold. Symbol-disjointness makes the
    simultaneous apply equal the sequential apply, so the only classic-BPE
    deviation is that in-round counts are measured at round start —
    documented in the operator and bounded by tests/test_round8_ops.py
    (B=1 ≡ bpe_learn_scaled, batched ≡ pure-Python oracle). The DuckDB
    oracle replays the greedy scan with a recursive CTE."""
    from pagerank_giraph_vs_mapreduce_spark.operators.text import (
        bpe_learn_batched,
    )

    return bpe_learn_batched(
        load_table(spark, sf_dir, "documents"),
        "text",
        merges=BPE_MERGES_SCALED,
        merges_per_round=BPE_BATCH,
        sample_hexmax=BPE_SAMPLE_HEXMAX,
    )


@query("text_bpe_encode", oracle=_bpe_encode_oracle(BPE_MERGES))
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLY (operators/text.py:bpe_encode_counts): per-doc
    (n_words, n_bpe_tokens) encoding with the merges learned in-plan by
    the 3-round trainer. The scale shape: each DISTINCT word is encoded
    once in the vocabulary-sized merge replay; documents broadcast-join
    their exploded words to the (word → token count) table — corpus-sized
    work is one explode + one aggregated join, never per-doc re-encoding.
    The oracle replays the same merges in windowed SQL and joins docs to
    the final symbol table."""
    from pagerank_giraph_vs_mapreduce_spark.operators.text import (
        bpe_encode_counts,
    )

    return bpe_encode_counts(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        merges=BPE_MERGES,
    )


@query(
    "text_lm_score",
    oracle="""WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
                             t -> t != '') AS l
  FROM documents),
inst AS (
  SELECT doc_id, b.bg, string_split(b.bg, ' ')[1] AS w1
  FROM toks, LATERAL unnest(
    list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i + 1])
  ) AS b(bg)),
uni AS (
  SELECT t.tok AS w1, count(*) AS c1
  FROM toks, LATERAL unnest(l) AS t(tok) GROUP BY t.tok),
bgc AS (SELECT bg, count(*) AS cbg FROM inst GROUP BY bg),
scored AS (
  SELECT i.doc_id,
         CAST(round(ln(CAST(b.cbg AS DOUBLE) / u.c1), 9)
              AS DECIMAL(20,9)) AS lp
  FROM inst i JOIN bgc b ON b.bg = i.bg JOIN uni u ON u.w1 = i.w1),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS lm_score
  FROM scored GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(p.n_bigrams, 0) AS n_bigrams,
       p.lm_score AS lm_score
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id""",
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM fluency scoring (the CCNet-style perplexity-proxy quality
    filter): each document's mean log bigram probability under the
    corpus's own bigram model — ln(count(w1 w2) / count(w1)) averaged over
    the doc's bigram instances. Low scores mark gibberish/outlier docs;
    no external model needed. Determinism: each ln is rounded to 9 dp and
    summed as DECIMAL (order-independent), mean rounded to 6 dp.

    Scale shape: two corpus-wide map-side-combined counts (unigram,
    bigram), then equi-joins from the exploded doc bigrams onto them and
    one per-doc aggregate — all shuffle keys are the gram strings (swap
    for xxhash64 at 100 TB to cut width); nothing all-pairs, no window."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != ""
    )
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, n1),
        F.slice(toks, 2, n1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    base = docs.select(F.col("doc_id"), toks.alias("l"), bigrams.alias("bg"))
    inst = base.select(
        "doc_id", F.explode("bg").alias("bg")
    ).withColumn("w1", F.element_at(F.split(F.col("bg"), " "), 1))
    uni = (
        base.select(F.explode("l").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    bgc = inst.groupBy("bg").agg(F.count(F.lit(1)).alias("cbg"))
    scored = (
        inst.join(bgc, "bg")
        .join(uni, "w1")
        .select(
            "doc_id",
            F.round(
                F.log(F.col("cbg").cast("double") / F.col("c1")), 9
            )
            .cast("decimal(20,9)")
            .alias("lp"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.round(
            F.sum("lp").cast("double") / F.count(F.lit(1)), 6
        ).alias("lm_score"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0))
            .cast("bigint")
            .alias("n_bigrams"),
            F.col("lm_score"),
        )
    )


@query(
    "text_pii_scrub",
    oracle="""WITH pii AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
            ELSE '' END
         || CASE WHEN doc_id % 11 = 0
            THEN ' call 555-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
            ELSE '' END AS ptext
  FROM documents),
scrub AS (
  SELECT doc_id, ptext,
         regexp_replace(regexp_replace(ptext,
             '[a-z0-9]+@[a-z]+\\.[a-z]+', '<EMAIL>', 'g'),
             '555-[0-9]{4}', '<PHONE>', 'g') AS stext
  FROM pii)
SELECT doc_id,
  CAST(length(regexp_extract_all(ptext, '[a-z0-9]+@[a-z]+\\.[a-z]+')) AS BIGINT) AS n_emails,
  CAST(length(regexp_extract_all(ptext, '555-[0-9]{4}')) AS BIGINT) AS n_phones,
  md5(stext) AS scrubbed_md5,
  CAST(length(regexp_extract_all(stext, '[a-z0-9]+@[a-z]+\\.[a-z]+'))
       + length(regexp_extract_all(stext, '555-[0-9]{4}')) AS BIGINT) AS n_residual
FROM scrub""",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (operators/text.py:pii_scrub) over the corpus with
    DETERMINISTICALLY planted synthetic PII (the parquet fixtures contain
    none): docs with doc_id % 7 == 0 get an email, % 11 == 0 a phone —
    both derived from doc_id so the oracle plants the identical strings.
    Verifies counts, the scrubbed-text md5, and the residual-match count
    (must be 0 everywhere — the production alert column)."""
    from pagerank_giraph_vs_mapreduce_spark.operators.text import pii_scrub

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("ptext"),
    )
    return pii_scrub(planted, "doc_id", "ptext")


@query(
    "text_dedup_paragraphs",
    oracle="""WITH chunks AS (
  SELECT doc_id,
         list_filter(
           list_transform(string_split_regex(text, '\\.\\s+'),
                          c -> lower(trim(c))),
           c -> c != '') AS cl
  FROM documents)
SELECT doc_id,
       CAST(len(cl) AS BIGINT) AS n_chunks,
       CAST(len(list_distinct(cl)) AS BIGINT) AS n_unique,
       round(CAST(len(list_distinct(cl)) AS DOUBLE) / len(cl), 6)
         AS unique_ratio
FROM chunks WHERE len(cl) > 0""",
)
def text_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTRA-document dedup audit — the within-doc repetition-removal
    preprocessing step (boilerplate paragraphs, templated sentences
    repeated inside one document, the kind corpus-level MinHash cannot
    see). Text splits into sentence chunks on '. ', chunks normalize to
    lower+trim, and the per-doc unique ratio is emitted; the removal
    variant is the same plan with array_distinct kept instead of
    counted. Entirely per-row array expressions — zero shuffle, scales
    linearly, pushes the text column scan only."""
    d = load_table(spark, sf_dir, "documents")
    cl = F.filter(
        F.transform(
            F.split(F.col("text"), "\\.\\s+"),
            lambda c: F.lower(F.trim(c)),
        ),
        lambda c: c != "",
    )
    out = d.select(
        "doc_id",
        F.size(cl).cast("bigint").alias("n_chunks"),
        F.size(F.array_distinct(cl)).cast("bigint").alias("n_unique"),
    ).filter(F.col("n_chunks") > 0)
    return out.withColumn(
        "unique_ratio",
        F.round(F.col("n_unique") / F.col("n_chunks"), 6),
    )


NGRAM_SPAN = 5


@query(
    "text_repeated_ngrams",
    oracle=f"""WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z]+'),
                     t -> t != '') AS l
  FROM documents),
grams AS (
  SELECT DISTINCT doc_id, g.g FROM toks, LATERAL unnest(
    list_transform(range(1, len(l) - {NGRAM_SPAN - 2}),
                   i -> array_to_string(l[i:i + {NGRAM_SPAN - 1}], ' '))
  ) AS g(g))
SELECT g AS ngram, CAST(count(*) AS BIGINT) AS n_docs
FROM grams GROUP BY g HAVING count(*) >= 2
ORDER BY n_docs DESC, ngram LIMIT 20""",
)
def text_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-span detection — the n-gram form of exact substring
    dedup (the "memorized boilerplate" signal: spans that recur VERBATIM
    across documents). Per doc, every {NGRAM_SPAN}-token window is built
    in-row from the token array (slice+transform, codegen'd, no
    self-join), deduped within the doc, then one map-side-combined
    COUNT(DISTINCT doc) per gram keeps only cross-document repeats.

    Scale: the explode produces ~tokens-per-doc rows per doc — the same
    volume the vocabulary/TF-IDF queries already shuffle — and the HAVING
    >= 2 filter is applied post-aggregation where the data is already
    per-gram. For a 100 TB corpus the standard refinement is a two-level
    count (hash-partition pre-count, then global), which Spark's partial
    aggregation already performs; truly-unique grams (the vast majority)
    die in the map-side combine."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != ""
    )
    # sequence(1, 0) would count DOWN ([1, 0] — slice index 0 is an ANSI
    # error), so short docs get an explicit empty window list
    n = F.size(toks) - F.lit(NGRAM_SPAN - 1)
    grams = F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, NGRAM_SPAN)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select("doc_id", F.explode(grams).alias("ngram"))
        .distinct()
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), "ngram")
        .limit(20)
    )


_ENTROPY_SQL = """WITH base AS (
  SELECT doc_id, length(text) AS n,
         list_transform(string_split(text, ''), c -> ascii(c)) AS codes
  FROM documents WHERE length(text) >= 1),
wd AS (
  SELECT doc_id, n, list_sort(list_distinct(codes)) AS dist, codes FROM base),
t AS (
  SELECT doc_id, n, len(dist) AS n_distinct_chars,
         list_sum(list_transform(dist,
           c -> CAST(round(len(list_filter(codes, x -> x = c))
                           * log2(len(list_filter(codes, x -> x = c))), 9)
                     AS DECIMAL(20,9)))) AS s
  FROM wd)
SELECT doc_id, CAST(n_distinct_chars AS BIGINT) AS n_distinct_chars,
       round(log2(n) - CAST(s AS DOUBLE) / n, 6) AS entropy_bits
FROM t"""


@query("text_entropy", oracle=_ENTROPY_SQL)
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality gate (operators/text.py:char_entropy):
    bits/char Shannon entropy + distinct-char count per document — the
    gibberish/binary-spill detector that complements the ratio-based
    text_quality features. Zero-shuffle per-row computation."""
    from pagerank_giraph_vs_mapreduce_spark.operators.text import char_entropy

    docs = load_table(spark, sf_dir, "documents")
    return char_entropy(docs, "doc_id", "text")


_READABILITY_SQL = """SELECT doc_id,
  CAST(length(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_words,
  CAST(greatest(length(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
    AS n_sentences,
  CAST(length(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
    AS n_syllables,
  round(206.835
        - 1.015 * (CAST(length(regexp_extract_all(text, '\\S+')) AS DOUBLE)
                   / greatest(length(regexp_extract_all(text, '[.!?]+')), 1))
        - 84.6 * (CAST(length(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
                  / greatest(length(regexp_extract_all(text, '\\S+')), 1)),
        6) AS flesch
FROM documents"""


@query("text_readability", oracle=_READABILITY_SQL)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document from three regexp counters —
    words (non-space runs), sentences ([.!?]+ boundary runs, floored at
    1 so unpunctuated corpora like this fixture score as one long
    sentence; the boundary path itself is pinned on punctuated hand text
    in tests/test_round10b_ops.py), and the standard vowel-group
    syllable proxy. The readability gate a curation pipeline runs next
    to text_quality: all three counts are integers, the score is one
    fixed arithmetic tree over their ratios (identical IEEE sequence
    both engines, 6 dp). Pure per-row regexp_count — codegen, zero
    shuffle."""
    d = load_table(spark, sf_dir, "documents")
    n_words = F.regexp_count("text", F.lit(r"\S+")).cast("bigint")
    n_sent = F.greatest(
        F.regexp_count("text", F.lit("[.!?]+")), F.lit(1)
    ).cast("bigint")
    n_syl = F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+")).cast(
        "bigint"
    )
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syl.alias("n_syllables"),
        F.round(
            F.lit(206.835)
            - F.lit(1.015)
            * (n_words.cast("double") / F.greatest(n_sent, F.lit(1).cast("bigint")))
            - F.lit(84.6)
            * (
                n_syl.cast("double")
                / F.greatest(n_words, F.lit(1).cast("bigint"))
            ),
            6,
        ).alias("flesch"),
    )


PMI_MIN_COUNT = 5
PMI_TOP_K = 20

_PMI_SQL = f"""WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
                     t -> t != '') AS l
  FROM documents),
uni AS (
  SELECT t.tok, count(*) AS cu
  FROM toks, LATERAL unnest(l) AS t(tok) GROUP BY t.tok),
nn AS (SELECT sum(cu) AS n FROM uni),
bg AS (
  SELECT t.bg, count(*) AS cb FROM toks, LATERAL unnest(
    list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i + 1])
  ) AS t(bg) GROUP BY t.bg HAVING count(*) >= {PMI_MIN_COUNT}),
mm AS (SELECT sum(cb) AS m FROM (
  SELECT t.bg, count(*) AS cb FROM toks, LATERAL unnest(
    list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i + 1])
  ) AS t(bg) GROUP BY t.bg))
SELECT b.bg AS bigram, b.cb, ux.cu AS cx, uy.cu AS cy,
       round(ln(b.cb) + ln(n) + ln(n) - ln(m) - ln(ux.cu) - ln(uy.cu), 6)
         AS pmi
FROM bg b
JOIN uni ux ON ux.tok = string_split(b.bg, ' ')[1]
JOIN uni uy ON uy.tok = string_split(b.bg, ' ')[2],
     nn, mm
ORDER BY pmi DESC, bigram LIMIT {PMI_TOP_K}"""


@query("text_pmi_bigrams", oracle=_PMI_SQL)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by pointwise mutual information —
    ln(P(xy) / (P(x)P(y))) — the statistic that separates real
    collocations from frequent-word coincidence (what
    text_bigrams_top20's raw counts cannot do). Counts are integers;
    PMI is computed as a SUM OF LOGS of exact-integer doubles in one
    fixed order (ln cb + 2 ln N − ln M − ln cx − ln cy, rounded 6 dp) so
    no bigint product can overflow at corpus scale. min-count {mc}
    floors the variance. Plan: the bigram/unigram aggregates are the
    corpus-scan shapes of the count queries; the two unigram joins key
    on the vocabulary (bounded), never the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != ""
    )
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, n1),
        F.slice(toks, 2, n1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    uni = (
        docs.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    nn = uni.agg(F.sum("cu").alias("n"))
    bg_all = (
        docs.select(F.explode(bigrams).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    mm = bg_all.agg(F.sum("cb").alias("m"))
    bg = bg_all.filter(F.col("cb") >= PMI_MIN_COUNT)
    ux = uni.select(F.col("tok").alias("_x"), F.col("cu").alias("cx"))
    uy = uni.select(F.col("tok").alias("_y"), F.col("cu").alias("cy"))
    return (
        bg.withColumn("_x", F.split(F.col("bg"), " ")[0])
        .withColumn("_y", F.split(F.col("bg"), " ")[1])
        .join(ux, "_x")
        .join(uy, "_y")
        .crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(mm))
        .select(
            F.col("bg").alias("bigram"),
            "cb",
            "cx",
            "cy",
            F.round(
                F.log(F.col("cb"))
                + F.log(F.col("n"))
                + F.log(F.col("n"))
                - F.log(F.col("m"))
                - F.log(F.col("cx"))
                - F.log(F.col("cy")),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "bigram")
        .limit(PMI_TOP_K)
    )
