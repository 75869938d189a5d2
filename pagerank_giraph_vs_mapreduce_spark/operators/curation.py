"""End-to-end corpus curation: the composite pipeline a training-data
engine actually runs over raw documents — per-row signal extraction,
language + quality gating, exact dedup, near-dup removal, and a funnel
accounting of what each stage dropped.

This composes the already-audited building blocks (operators/text.py
signal expressions, operators/dedup.py MinHash-LSH) into ONE lazy plan:

  stage 1  signals   narrow per-row map (lang vote, quality, token count)
                     — codegen'd, shuffle-free, scan-bound at 100 TB
  stage 2  gate      pushed-down filter on the stage-1 expressions
  stage 3  exact     hash-agg on md5(text) keeping min id (map-side
                     partial agg), then an id-equi-join back to rows
  stage 4  near-dup  MinHash signatures -> banded LSH bucket join ->
                     exact-Jaccard verify on candidates only; drop the
                     higher id of every pair >= threshold (greedy,
                     deterministic, SQL-expressible — NOT connected
                     components, which would need an iterative kernel)

Scale posture: the only E-row-like shuffles are the md5 agg, the LSH
bucket join and the candidate-routed intersection counts — all equi-keyed
and AQE-splittable; no stage is all-pairs. The funnel is four 1-row
aggregates broadcast-crossJoined, so the whole report is one job with no
driver-side loop.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from pagerank_giraph_vs_mapreduce_spark.operators.dedup import (
    minhash_near_dups,
)
from pagerank_giraph_vs_mapreduce_spark.operators.text import (
    lang_pred_col,
    quality_col,
    token_count_col,
)


def curation_signals(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stage 1: per-row curation signals in a single narrow select."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.col(text_col),
        lang_pred_col(t).alias("lang_pred"),
        quality_col(t).alias("quality"),
        token_count_col(t).alias("n_tokens"),
    )


def _curation_stages(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang: str,
    min_quality: float,
    near_threshold: float,
    n_hashes: int = 24,
    shingle_len: int = 5,
    bands: int = 4,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(gated, exact, final) stage outputs sharing one lineage.

    ``exact`` feeds three consumers (the MinHash shingle table, the
    near-dup anti-join, and the funnel count); each recompute re-runs the
    scan + gate + md5-agg-join chain. We deliberately do NOT persist it:
    caching materializes every column (including the full text) and blocks
    column pruning through the lineage, while the recomputes are pruned,
    codegen'd scans — measured 40% slower WITH the persist at sf0.1
    (12.1 s vs 8.7 s warm). A production run at 100 TB would instead WRITE
    the survivor table between stages (durable, pruned, partitioned) and
    read it back — the distributed analog of this recompute choice.
    """
    gated = curation_signals(df, id_col, text_col).filter(
        (F.col("lang_pred") == lang) & (F.col("quality") >= min_quality)
    )
    # Exact dedup: survivor id = min id per content hash. The agg output is
    # tiny relative to the corpus (one row per distinct content), so the
    # join back is on the unique id key.
    keep = gated.groupBy(F.md5(F.col(text_col)).alias("fp")).agg(
        F.min(id_col).alias(id_col)
    )
    exact = gated.join(keep.select(id_col), id_col)
    # Near-dup removal among exact survivors: STAR candidates (each
    # bucket member vs the bucket-min representative, B-1 edges/bucket)
    # — drop every member >= the Jaccard threshold against its
    # representative. All-pairs-per-bucket is quadratic in cluster size
    # (525x shuffle records for 10x docs on the sf1 replica corpus);
    # anchor dedup is the shape that survives a boilerplate-heavy 100 TB
    # corpus.
    pairs = minhash_near_dups(
        exact.select(id_col, text_col),
        id_col,
        text_col,
        threshold=near_threshold,
        n_hashes=n_hashes,
        shingle_len=shingle_len,
        bands=bands,
        star=True,
    )
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    final = exact.join(drop, id_col, "left_anti").select(
        id_col, "lang_pred", "quality", "n_tokens"
    )
    return gated, exact, final


def curate_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str = "en",
    min_quality: float = 0.5,
    near_threshold: float = 0.8,
    n_hashes: int = 24,
    shingle_len: int = 5,
    bands: int = 4,
) -> DataFrame:
    """Full curation pipeline; returns surviving (id, lang_pred, quality,
    n_tokens) rows. See module docstring for the stage/shuffle anatomy."""
    return _curation_stages(
        df,
        id_col,
        text_col,
        lang,
        min_quality,
        near_threshold,
        n_hashes,
        shingle_len,
        bands,
    )[2]


@dataclass
class StagedCuration:
    """Handles to a staged curation run: the three survivor-table parquet
    paths, the final survivors read back from durable storage, and a
    funnel whose counts come from the staged tables instead of recomputing
    the stage chain."""

    gated_path: str
    exact_path: str
    final_path: str
    final: DataFrame
    funnel: DataFrame


def curate_corpus_staged(
    df: DataFrame,
    stage_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str = "en",
    min_quality: float = 0.5,
    near_threshold: float = 0.8,
    n_hashes: int = 24,
    shingle_len: int = 5,
    bands: int = 4,
) -> StagedCuration:
    """Staged-materialization curation: the 100 TB shape of the pipeline.

    ``curate_corpus`` runs as ONE lazy plan and deliberately recomputes
    the shared ``exact`` lineage for each of its three consumers — the
    right local tradeoff (see _curation_stages), but at 100 TB each
    recompute is a full corpus scan. This variant instead WRITES each
    stage's survivor table to ``stage_dir`` as parquet and reads it back,
    so every stage scans only its predecessor's (strictly smaller,
    column-pruned) output:

      write gated   scan raw corpus once; input size counted via
                    ``observe()`` on the same pass (no second scan)
      write exact   scan gated only (md5 agg + min-id join)
      write final   scan exact only (MinHash-LSH near-dup anti-join)

    The funnel derives n_gated/n_exact/n_final from columnless counts of
    the staged parquet tables and n_input from the observe() metric —
    zero recompute of any stage chain. Stages are also durable: a failed
    stage restarts from its predecessor's table, not from raw input.

    On a cluster, point ``stage_dir`` at the shared filesystem and
    repartition each write by the downstream join key (the id column) so
    the read-back feeds the next stage's shuffle pre-partitioned; local
    runs keep the writes as-is.
    """
    spark = df.sparkSession
    gated_path = f"{stage_dir}/gated"
    exact_path = f"{stage_dir}/exact"
    final_path = f"{stage_dir}/final"

    # Stage 1+2: signals + gate, input rows counted on the same scan.
    obs = Observation("curation_input")
    gated_w = curation_signals(
        df.observe(obs, F.count(F.lit(1)).alias("n_input")),
        id_col,
        text_col,
    ).filter((F.col("lang_pred") == lang) & (F.col("quality") >= min_quality))
    gated_w.write.mode("overwrite").parquet(gated_path)
    n_input = int(obs.get["n_input"])

    # Stage 3: exact dedup over the staged gate survivors.
    gated = spark.read.parquet(gated_path)
    keep = gated.groupBy(F.md5(F.col(text_col)).alias("fp")).agg(
        F.min(id_col).alias(id_col)
    )
    gated.join(keep.select(id_col), id_col).write.mode("overwrite").parquet(
        exact_path
    )

    # Stage 4: near-dup removal over the staged exact survivors.
    exact = spark.read.parquet(exact_path)
    pairs = minhash_near_dups(
        exact.select(id_col, text_col),
        id_col,
        text_col,
        threshold=near_threshold,
        n_hashes=n_hashes,
        shingle_len=shingle_len,
        bands=bands,
        star=True,
    )
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    exact.join(drop, id_col, "left_anti").select(
        id_col, "lang_pred", "quality", "n_tokens"
    ).write.mode("overwrite").parquet(final_path)

    final = spark.read.parquet(final_path)
    funnel = (
        spark.range(1)
        .select(F.lit(n_input).cast("bigint").alias("n_input"))
        .crossJoin(
            F.broadcast(gated.agg(F.count(F.lit(1)).alias("n_gated")))
        )
        .crossJoin(
            F.broadcast(exact.agg(F.count(F.lit(1)).alias("n_exact")))
        )
        .crossJoin(
            F.broadcast(final.agg(F.count(F.lit(1)).alias("n_final")))
        )
    )
    return StagedCuration(gated_path, exact_path, final_path, final, funnel)


def ngram_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 5
) -> DataFrame:
    """(id, gram) rows of distinct word ``n``-grams per document —
    lowercase alpha-run tokens, in-row window + dedup before the explode
    so the fan-out is bounded by distinct grams. Documents shorter than
    ``n`` tokens emit nothing."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda t: t != ""
    )
    grams = F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                # sequence(a, b) counts DOWN when b < a — the >= n guard
                # keeps the bound non-degenerate.
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(F.col(id_col), F.explode(grams).alias("gram"))


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3/Llama training-set hygiene
    step): flag every corpus document sharing at least one word ``n``-gram
    with the held-out ``benchmark`` set. Returns one row per corpus doc:
    (id, n_shared_grams, contaminated).

    Scale shape: the benchmark's distinct grams are a small table —
    broadcast equi-join on the gram, so the corpus side is scan ->
    in-row shingle -> explode -> broadcast semi-match -> one
    map-side-combined count; no shuffle of corpus grams against each
    other and nothing all-pairs. At a 100 TB corpus the gram string can
    be replaced by its md5/xxhash64 to cut join-key width; kept raw here
    so the DuckDB oracle is directly comparable."""
    bench_grams = F.broadcast(
        ngram_shingles(benchmark, id_col, text_col, n)
        .select("gram")
        .distinct()
    )
    hits = (
        ngram_shingles(df, id_col, text_col, n)
        .join(bench_grams, "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_shared_grams"), F.lit(0))
            .cast("long")
            .alias("n_shared_grams"),
            (F.coalesce(F.col("n_shared_grams"), F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


def domain_mix_sample(
    df: DataFrame,
    domain_col: str = "source",
    id_col: str = "doc_id",
    budget: int = 200,
    temperature: float = 2.0,
) -> DataFrame:
    """Temperature-scaled domain mixing (the multilingual/multi-domain
    rebalancing rule: sample domain s with probability proportional to
    share^(1/T), T>1 flattening the mix toward uniform): compute each
    domain's corpus share, reweight by the 1/T power, allocate the
    ``budget`` across domains by normalized weight, and keep rows via the
    deterministic md5-percentile gate (fn_hash_sample discipline —
    row-local, retry- and partition-stable).

    Determinism for the SQL oracle: weights are rounded to 12 dp and
    summed as DECIMAL (exact, order-independent); the remaining math is
    per-domain IEEE double with explicit left-associative order. T=2 uses
    sqrt (correctly-rounded by IEEE, bit-identical across engines) —
    other temperatures go through pow, whose last-bit behavior is
    libm-dependent, so oracle-checked queries should stick to T=2.

    Scale shape: one tiny per-domain aggregate broadcast back onto the
    scan as a filter predicate — no sort, no window, no per-domain
    shuffle; the same only-shape-that-survives-100-TB argument as the
    class-balance quota sampler."""
    share = F.col("c").cast("double") / F.col("n_total")
    wexpr = (
        F.sqrt(share)
        if temperature == 2.0
        else F.pow(share, 1.0 / temperature)
    )
    counts = (
        df.groupBy(domain_col)
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(
            F.broadcast(df.agg(F.count(F.lit(1)).alias("n_total")))
        )
        .select(
            domain_col,
            "c",
            F.round(wexpr, 12).cast("decimal(20,12)").alias("w"),
        )
    )
    sumw = F.broadcast(counts.agg(F.sum("w").alias("sumw")))
    frac = F.least(
        F.lit(1.0),
        F.lit(float(budget))
        * F.col("w").cast("double")
        / F.col("sumw").cast("double")
        / F.col("c"),
    )
    rates = counts.crossJoin(sumw).select(
        domain_col, frac.alias("frac")
    )
    threshold_hex = F.lower(
        F.lpad(
            F.conv(
                F.floor(F.col("frac") * F.lit(4294967296.0)).cast("string"),
                10,
                16,
            ),
            8,
            "0",
        )
    )
    return (
        df.join(F.broadcast(rates), domain_col)
        .filter(
            (F.col("frac") >= 1.0)
            | (
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 8)
                < threshold_hex
            )
        )
        .select(id_col, domain_col)
    )


def curation_funnel(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str = "en",
    min_quality: float = 0.5,
    near_threshold: float = 0.8,
) -> DataFrame:
    """1-row stage-by-stage funnel: input -> gated -> exact-deduped ->
    final, as broadcast-crossJoined scalar aggregates over the SHARED
    stage lineage (one lazy plan, no driver actions)."""
    gated, exact, final = _curation_stages(
        df, id_col, text_col, lang, min_quality, near_threshold
    )
    n_input = df.agg(F.count(F.lit(1)).alias("n_input"))
    n_gated = gated.agg(F.count(F.lit(1)).alias("n_gated"))
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_final = final.agg(F.count(F.lit(1)).alias("n_final"))
    return (
        n_input.crossJoin(F.broadcast(n_gated))
        .crossJoin(F.broadcast(n_exact))
        .crossJoin(F.broadcast(n_final))
    )


def url_canonicalize(url):
    """Canonical form of a URL column — the dedup key a crawl pipeline
    groups on before content hashing (trackers, mirrors and case noise
    otherwise multiply every page): strip the fragment, lowercase
    scheme+authority (never the path — paths are case-significant),
    drop explicit default ports (http:80, https:443), remove
    utm_*/fbclid tracking params with separator repair, and strip one
    trailing slash. Pure string/regexp expressions — whole-stage
    codegen, no UDF, no shuffle.

    Cross-engine note for the oracle twin: Spark regexp_replace replaces
    ALL matches and backrefs are ``$1``; DuckDB replaces FIRST match
    unless passed the ``'g'`` flag and backrefs are ``\\1`` — the oracle
    in plans/pipeline_queries.py mirrors each step with the 'g' flag.
    """
    no_frag = F.regexp_replace(url, "#.*$", "")
    pre = F.regexp_extract(no_frag, "^([^/?#]*://[^/?#]*)", 1)
    rest = no_frag.substr(F.length(pre) + F.lit(1), F.length(no_frag))
    pre = F.lower(pre)
    pre = F.regexp_replace(pre, "^http://(.*):80$", "http://$1")
    pre = F.regexp_replace(pre, "^https://(.*):443$", "https://$1")
    # Anchored to the ?/& separator (kept via backref) so longer param
    # names that merely END in a tracker name (?xfbclid=, ?myutm_foo=)
    # are never substring-mangled; the repair steps below then collapse
    # the doubled separators the removal leaves behind.
    rest = F.regexp_replace(rest, "([?&])(utm_[a-z]+|fbclid)=[^&#]*", "$1")
    rest = F.regexp_replace(rest, "&&+", "&")
    rest = F.regexp_replace(rest, "\\?&", "?")
    rest = F.regexp_replace(rest, "[?&]+$", "")
    rest = F.regexp_replace(rest, "/\\?", "?")
    rest = F.regexp_replace(rest, "/$", "")
    return F.concat(pre, rest)
