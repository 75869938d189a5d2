"""Text-analysis operators: token stats, quality scoring, language ID,
document fingerprinting. All built from engine-portable scalar functions
(length/replace/regexp/ascii arithmetic) so each keeps a DuckDB oracle.

Everything is a narrow per-row map — no shuffle, fully codegen'd,
scale-free (bounded by scan throughput at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword markers for the n-gram/stopword-voting
# heuristic. Deliberately small and ASCII so the oracle SQL is identical.
LANG_MARKERS = {
    "en": (" the ", " and "),
    "es": (" el ", " los "),
    "fr": (" le ", " les "),
    "de": (" der ", " und "),
    "zh": (" de ", " shi "),
}


def _count_occurrences(text: Column, needle: str) -> Column:
    """Occurrence count via length arithmetic (portable, regex-free)."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def token_count_col(t: Column) -> Column:
    """Whitespace token count as a reusable column expression."""
    return _count_occurrences(t, " ") + 1


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace token count, byte/char lengths, average token length."""
    t = F.col(text_col)
    n_tokens = token_count_col(t).alias("n_tokens")
    return df.select(
        F.col(id_col),
        F.length(t).cast("long").alias("n_chars_measured"),
        F.octet_length(t).cast("long").alias("n_bytes"),
        n_tokens,
        F.round(
            (F.length(F.replace(t, F.lit(" "), F.lit(""))))
            / (_count_occurrences(t, " ") + 1),
            9,
        ).alias("avg_token_len"),
    )


def quality_col(t: Column) -> Column:
    """The (fixed, arbitrary) quality score as a reusable expression.
    try_divide on the length ratio: an EMPTY document scores NULL instead
    of aborting the whole job under ANSI mode — at corpus scale empty
    rows exist and one of them must not kill a 100 TB pass."""
    n_tokens = _count_occurrences(t, " ") + 1
    stop_hits = _count_occurrences(t, " the ") + _count_occurrences(t, " a ")
    digits = F.length(t) - F.length(F.regexp_replace(t, "[0-9]", ""))
    return F.round(
        F.lit(1.0)
        - F.try_divide(digits, F.length(t))
        - F.when(F.length(t) < 100, 0.5).otherwise(0.0)
        + (stop_hits / n_tokens) * 0.1,
        9,
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic quality signals: stopword ratio, digit ratio, short-doc flag.

    The score formula is arbitrary but fixed; per-row double math keeps it
    oracle-exact.
    """
    t = F.col(text_col)
    n_tokens = _count_occurrences(t, " ") + 1
    stop_hits = _count_occurrences(t, " the ") + _count_occurrences(t, " a ")
    digits = F.length(t) - F.length(F.regexp_replace(t, "[0-9]", ""))
    stop_ratio = stop_hits / n_tokens  # n_tokens >= 1 always
    digit_ratio = F.try_divide(digits, F.length(t))  # empty doc -> NULL
    return df.select(
        F.col(id_col),
        F.round(stop_ratio, 9).alias("stopword_ratio"),
        F.round(digit_ratio, 9).alias("digit_ratio"),
        (F.length(t) < 100).alias("too_short"),
        quality_col(t).alias("quality"),
    )


def lang_pred_col(t: Column) -> Column:
    """Stopword-marker language vote as a reusable expression: argmax over
    per-language marker hit counts, ties broken by language code order
    ('unknown' when zero hits)."""
    padded = F.concat(F.lit(" "), t, F.lit(" "))
    scores = [
        (
            lang,
            sum(
                (_count_occurrences(padded, m) for m in markers),
                F.lit(0).cast("long"),
            ),
        )
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    best = F.greatest(*[s for _, s in scores])
    pred: Column = F.lit("unknown")
    for lang, s in reversed(scores):
        pred = F.when((best > 0) & (s == best), lang).otherwise(pred)
    return pred


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-marker voting — see lang_pred_col."""
    return df.select(
        F.col(id_col), lang_pred_col(F.col(text_col)).alias("lang_pred")
    )


def vocabulary(
    df: DataFrame, id_col: str, text_col: str, top_n: int = 20
) -> DataFrame:
    """Corpus vocabulary with term + document frequency — the TF-IDF
    building block (and the wordcount of LLM-corpus pipelines): lowercase
    alpha-run tokens, top ``top_n`` by occurrence count (ties broken by
    token, so the cut is deterministic).

    Scale shape: explode is a narrow row fan-out; the single groupBy gets
    map-side partial aggregation for the count and a two-phase distinct
    for document frequency. Top-n is TakeOrderedAndProject — no global
    sort."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("tok"),
    ).filter(F.col("tok") != "")
    return (
        toks.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct(id_col).alias("n_docs"),
        )
        .orderBy(F.desc("n_occ"), "tok")
        .limit(top_n)
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_chars: int = 200,
    overlap: int = 50,
) -> DataFrame:
    """Split documents into fixed-size overlapping character windows — the
    context-window chunking stage of a training/RAG corpus pipeline.

    Chunk i covers [i*stride + 1, i*stride + chunk_chars] (1-based,
    stride = chunk_chars - overlap); chunks are the minimal set of
    stride-aligned windows covering the text (n_chunks =
    ceil((len - overlap) / stride), min 1), so trailing text shorter
    than a full chunk is kept and no window starts past the covered
    suffix. Pure row fan-out (sequence +
    posexplode + substring) — narrow, codegen'd, shuffle-free; at 100 TB
    this is scan-bound and the natural place to repartition by chunk count
    before a downstream embed step."""
    if overlap >= chunk_chars:
        raise ValueError(
            f"overlap ({overlap}) must be < chunk_chars ({chunk_chars})"
        )
    stride = chunk_chars - overlap
    t = F.col(text_col)
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.length(t) - F.lit(overlap)) / F.lit(stride)).cast("int"),
    )
    starts = F.sequence(
        F.lit(0), (n_chunks - 1) * stride, F.lit(stride)
    )
    return df.select(
        F.col(id_col),
        F.posexplode(starts).alias("chunk_id", "start"),
        t.alias("_t"),
    ).select(
        F.col(id_col),
        F.col("chunk_id"),
        F.substring(F.col("_t"), F.col("start") + 1, F.lit(chunk_chars)).alias(
            "chunk"
        ),
        F.length(
            F.substring(F.col("_t"), F.col("start") + 1, F.lit(chunk_chars))
        ).cast("long").alias("chunk_len"),
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1: "repetitious
    documents are strongly correlated with low quality"): per document, the
    duplicate-token fraction, duplicate-bigram fraction, and the share of
    bigram occurrences taken by the single most frequent bigram (tie broken
    by lexicographically smallest bigram).

    Everything is computed IN-ROW with higher-order array expressions
    (split -> shifted-zip bigrams -> array_distinct / per-distinct-gram
    occurrence counts) — a narrow codegen'd map with zero shuffles, the
    same scan-bound shape as quality_score. The per-row cost is
    O(distinct_grams * grams), fine for context-window-sized documents; for
    book-length inputs the same signals fall out of an explode +
    groupBy(doc, gram) at the price of one shuffle."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda t: t != ""
    )
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, n1),
        F.slice(toks, 2, n1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )

    def dup_frac(arr: Column) -> Column:
        n = F.size(arr)
        return F.round(
            F.when(
                n > 0,
                (n - F.size(F.array_distinct(arr))).cast("double") / n,
            ).otherwise(F.lit(0.0)),
            9,
        )

    return (
        df.select(F.col(id_col), toks.alias("l"), bigrams.alias("bg"))
        .select(
            F.col(id_col),
            F.col("l"),
            F.col("bg"),
            F.array_min(
                F.transform(
                    F.array_distinct(F.col("bg")),
                    lambda g: F.struct(
                        (
                            -F.size(
                                F.filter(F.col("bg"), lambda x: x == g)
                            )
                        ).alias("nc"),
                        g.alias("g"),
                    ),
                )
            ).alias("top"),
        )
        .select(
            F.col(id_col),
            F.size("l").cast("long").alias("n_tokens"),
            dup_frac(F.col("l")).alias("dup_token_frac"),
            dup_frac(F.col("bg")).alias("dup_bigram_frac"),
            F.when(F.size("bg") > 0, F.col("top.g"))
            .otherwise(F.lit(""))
            .alias("top_bigram"),
            F.round(
                F.when(
                    F.size("bg") > 0,
                    (-F.col("top.nc")).cast("double") / F.size("bg"),
                ).otherwise(F.lit(0.0)),
                9,
            ).alias("top_bigram_share"),
        )
    )


PII_EMAIL_RE = "[a-z0-9]+@[a-z]+\\.[a-z]+"
PII_PHONE_RE = "555-[0-9]{4}"


def pii_scrub(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII redaction (the release-hygiene pass of a training corpus):
    count and replace email/phone matches with typed placeholders and
    report a residual count that must be zero — the monitoring column a
    production scrub job alerts on. Patterns deliberately use the
    regex-feature intersection of Java regex and RE2 (character classes,
    bounded repeats; no lookaround) so one definition serves engine and
    oracle. Pure per-row regexp codegen — scan-bound, shuffle-free.
    Returns (id, n_emails, n_phones, scrubbed_md5, n_residual); the md5
    stands in for the scrubbed text to keep the result narrow."""
    t = F.col(text_col)
    scrubbed = F.regexp_replace(
        F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return df.select(
        F.col(id_col),
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(t, F.lit(PII_PHONE_RE)).cast("bigint").alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_md5"),
        (
            F.regexp_count(scrubbed, F.lit(PII_EMAIL_RE))
            + F.regexp_count(scrubbed, F.lit(PII_PHONE_RE))
        )
        .cast("bigint")
        .alias("n_residual"),
    )


def bpe_learn(
    df: DataFrame, text_col: str, merges: int = 3
) -> DataFrame:
    """Distributed BPE vocabulary learning (Sennrich et al. 2016): learn
    ``merges`` byte-pair merges over the corpus and return the merge
    table (merge_round, pair, n_occ) — the tokenizer-training step of an
    LLM data pipeline, here as ONE lazy plan with zero driver actions.

    Round structure (classic BPE, word-frequency weighted):
      1. vocab: distinct lowercase alpha tokens with corpus counts — the
         only corpus-sized aggregation; everything after runs on the
         (tiny) vocabulary.
      2. pair counts: in-row adjacent symbol pairs (shifted zip), explode,
         one map-side-combined sum weighted by word count. Overlapping
         occurrences all count, as in the reference implementation.
      3. top pair: global top-1 (count desc, pair asc) —
         TakeOrderedAndProject, not a sort.
      4. merge: the 1-row top pair is broadcast-crossJoined back and each
         word's symbol array is rebuilt by an in-row left-to-right fold:
         append, or replace the last symbol with a||b when (last, cur) ==
         (a, b). Greedy leftmost non-overlapping — after a merge the new
         last symbol is a||b which can never equal a, so "a a a" merges
         once, "a a a a" twice, exactly the reference behavior.

    The merge chain is lazy: round r+1's counts depend on round r's
    broadcast winner, so Catalyst sees one DAG ``merges`` rounds deep.
    At 100 TB only step 1 touches the corpus; rounds iterate over the
    vocabulary (multi-K rows), which is why BPE training is feasible at
    corpus scale at all."""
    results, _vocab = _bpe_rounds_impl(df, text_col, merges)
    return results


def _bpe_rounds_impl(
    df: DataFrame, text_col: str, merges: int
) -> tuple[DataFrame, DataFrame]:
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda t: t != ""
    )
    words = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cur = words.select(
        "w",
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.substring(F.col("w"), i, F.lit(1)),
        ).alias("syms"),
        "cnt",
    )
    results: DataFrame | None = None
    for r in range(1, merges + 1):
        n1 = F.greatest(F.size("syms") - 1, F.lit(0))
        pairs = cur.select(
            F.explode(
                F.zip_with(
                    F.slice("syms", 1, n1),
                    F.slice("syms", 2, n1),
                    lambda x, y: F.concat(x, F.lit(" "), y),
                )
            ).alias("pair"),
            "cnt",
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("cnt").alias("n_occ"))
            .orderBy(F.desc("n_occ"), F.asc("pair"))
            .limit(1)
        )
        row = top.select(
            F.lit(r).cast("int").alias("merge_round"), "pair", "n_occ"
        )
        results = row if results is None else results.unionAll(row)
        a = F.element_at(F.split(F.col("pair"), " "), 1)
        b = F.element_at(F.split(F.col("pair"), " "), 2)
        merged = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == a)
                & (x == b),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat(a, b)),
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        cur = cur.crossJoin(F.broadcast(top)).select(
            "w", merged.alias("syms"), "cnt"
        )
    assert results is not None
    return results, cur


def bpe_learn_scaled(
    df: DataFrame,
    text_col: str,
    merges: int = 64,
    sample_hexmax: str | None = "4",
) -> DataFrame:
    """BPE training at REAL vocabulary sizes — the
    100 TB discipline ``bpe_learn``'s docstring promises, enforced:

    1. **Bounded training corpus**: a deterministic md5 gate keeps docs
       whose ``md5(text)`` first hex digit < ``sample_hexmax`` (default
       "4" = 25%) — the same engine/partitioning/retry-stable sampling
       as pipeline_stratified_sample. Tokenizer training never needs the
       full corpus; it needs a representative sample (every production
       BPE/unigram tokenizer is trained this way).
    2. **One corpus-sized pass**: the word-count aggregation touches the
       (sampled) corpus once; the merge loop then iterates over the
       VOCABULARY (Heaps'-law small), eagerly localCheckpoint'ed each
       round so plan depth stays O(1) instead of O(merges) — the lazy
       ``bpe_learn`` chain is Catalyst-hostile past ~10 rounds.
    3. **One driver round per merge, vocabulary-sized**: each round
       collects exactly ONE (pair, count) row — the classic BSP shape
       (same class as PageRank's per-superstep stats action). 32k merges
       = 32k vocab-table aggregations.

    Returns the merge table (merge_round, pair, n_occ), stopping early
    if the vocabulary merges to single symbols before ``merges`` rounds.
    Greedy leftmost non-overlapping apply, ties broken (count desc,
    pair asc) — identical semantics to ``bpe_learn`` (pinned by
    tests/test_round7_ops.py against a pure-Python oracle)."""
    spark = df.sparkSession
    gated = (
        df.filter(
            F.substring(F.md5(F.col(text_col)), 1, 1) < F.lit(sample_hexmax)
        )
        if sample_hexmax is not None
        else df
    )
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda t: t != ""
    )
    words = (
        gated.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cur = words.select(
        "w",
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.substring(F.col("w"), i, F.lit(1)),
        ).alias("syms"),
        "cnt",
    ).localCheckpoint(eager=True)

    merge_rows: list[tuple[int, str, int]] = []
    for r in range(1, merges + 1):
        n1 = F.greatest(F.size("syms") - 1, F.lit(0))
        pairs = cur.select(
            F.explode(
                F.zip_with(
                    F.slice("syms", 1, n1),
                    F.slice("syms", 2, n1),
                    lambda x, y: F.concat(x, F.lit(" "), y),
                )
            ).alias("pair"),
            "cnt",
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("cnt").alias("n_occ"))
            .orderBy(F.desc("n_occ"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not top:
            break  # vocabulary fully merged
        pair, n_occ = top[0]["pair"], top[0]["n_occ"]
        merge_rows.append((r, pair, int(n_occ)))
        a, b = pair.split(" ")
        merged = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (x == F.lit(b)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.lit(a + b)),
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        nxt = cur.select("w", merged.alias("syms"), "cnt").localCheckpoint(
            eager=True
        )
        cur.unpersist()
        cur = nxt
    cur.unpersist()
    return spark.createDataFrame(
        merge_rows, "merge_round int, pair string, n_occ bigint"
    )


def _bpe_greedy_select(
    ranked: list[tuple[str, int]], max_pairs: int
) -> list[tuple[str, int]]:
    """Greedy non-overlapping selection over a ranked candidate pool
    (count desc, pair asc): scan in rank order, keep a pair (a, b) iff
    neither a, b, nor the would-be merged symbol a||b collides with any
    symbol already claimed by a kept pair (members OR merged results —
    the merged-symbol check is what stops ("a","b")→"ab" colliding with
    an existing "ab" symbol used by a higher-ranked pair). Stops after
    ``max_pairs``. Deterministic; the DuckDB oracle replays it with a
    recursive CTE."""
    used: set[str] = set()
    out: list[tuple[str, int]] = []
    for pair, n_occ in ranked:
        if len(out) >= max_pairs:
            break
        a, b = pair.split(" ")
        if a in used or b in used or (a + b) in used:
            continue
        used.update((a, b, a + b))
        out.append((pair, n_occ))
    return out


def bpe_learn_batched(
    df: DataFrame,
    text_col: str,
    merges: int = 64,
    merges_per_round: int = 16,
    sample_hexmax: str | None = "4",
) -> DataFrame:
    """Batched BPE training: ``bpe_learn_scaled``
    pays ONE driver round per merge — measured at 0.165-0.312 s/merge,
    i.e. ~2.8 h for a production 32k-merge vocab. This mode takes the
    top-B symbol-disjoint pairs per round instead, cutting driver rounds
    by ~B× (64 merges at B=16 = 4 rounds).

    Deviation from classic BPE, documented and bounded: within a round,
    the 2nd..Bth merges are chosen from counts measured BEFORE the
    round's merges apply (classic recounts after every merge). Because
    the selected pairs share no symbols — ``_bpe_greedy_select`` rejects
    any candidate whose members or merged symbol collide with an already
    kept pair — applying them simultaneously in one fold equals applying
    them sequentially, and consecutive overlapping matches can only be
    the same a==b pair (two distinct pairs matching at adjacent
    positions would share the middle symbol), so the greedy-leftmost
    fold semantics carry over unchanged. B=1 reproduces
    ``bpe_learn_scaled`` exactly (pinned by tests/test_round8_ops.py).

    Candidate pool per round = top ``4*merges_per_round`` pairs by
    (count desc, pair asc) — fixed so the engine and the SQL oracle
    greedy-scan the identical list. The merged fold is a broadcast map
    literal lookup (O(1) per symbol, whole-stage codegen), not a
    B-deep when-chain."""
    spark = df.sparkSession
    gated = (
        df.filter(
            F.substring(F.md5(F.col(text_col)), 1, 1) < F.lit(sample_hexmax)
        )
        if sample_hexmax is not None
        else df
    )
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda t: t != ""
    )
    words = (
        gated.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cur = words.select(
        "w",
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.substring(F.col("w"), i, F.lit(1)),
        ).alias("syms"),
        "cnt",
    ).localCheckpoint(eager=True)

    pool = 4 * merges_per_round
    merge_rows: list[tuple[int, str, int]] = []
    while len(merge_rows) < merges:
        n1 = F.greatest(F.size("syms") - 1, F.lit(0))
        pairs = cur.select(
            F.explode(
                F.zip_with(
                    F.slice("syms", 1, n1),
                    F.slice("syms", 2, n1),
                    lambda x, y: F.concat(x, F.lit(" "), y),
                )
            ).alias("pair"),
            "cnt",
        )
        ranked = (
            pairs.groupBy("pair")
            .agg(F.sum("cnt").alias("n_occ"))
            .orderBy(F.desc("n_occ"), F.asc("pair"))
            .limit(pool)
            .collect()
        )
        if not ranked:
            break  # vocabulary fully merged
        picked = _bpe_greedy_select(
            [(r["pair"], int(r["n_occ"])) for r in ranked],
            min(merges_per_round, merges - len(merge_rows)),
        )
        if not picked:
            break  # pool exhausted by conflicts — cannot make progress
        base = len(merge_rows)
        merge_rows += [
            (base + i + 1, p, n) for i, (p, n) in enumerate(picked)
        ]
        # one fold applies the whole batch: map (a||' '||b) -> a||b
        kv: list[Column] = []
        for p, _ in picked:
            a, b = p.split(" ")
            kv += [F.lit(p), F.lit(a + b)]
        mmap = F.create_map(*kv)
        merged = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & mmap[
                    F.concat(F.element_at(acc, -1), F.lit(" "), x)
                ].isNotNull(),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(
                        mmap[F.concat(F.element_at(acc, -1), F.lit(" "), x)]
                    ),
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        nxt = cur.select("w", merged.alias("syms"), "cnt").localCheckpoint(
            eager=True
        )
        cur.unpersist()
        cur = nxt
    cur.unpersist()
    return spark.createDataFrame(
        merge_rows, "merge_round int, pair string, n_occ bigint"
    )


def bpe_encode_counts(
    df: DataFrame, id_col: str, text_col: str, merges: int = 3
) -> DataFrame:
    """BPE tokenizer APPLY: (id, n_words, n_bpe_tokens) per document,
    encoding with the merges learned by ``bpe_learn`` over the same
    corpus. The scale shape that makes encoding feasible: every DISTINCT
    word is encoded exactly once (the vocabulary-sized ``_bpe_rounds``
    fold — corpus-size work is only the word explode), and documents just
    broadcast-join their words to the (w → token-count) table. Documents
    with zero alpha tokens drop (inner join), matching the oracle. This
    is the token-budget counter real packing/pricing uses once a real
    tokenizer's merge table replaces the in-plan learned one."""
    _results, vocab = _bpe_rounds_impl(df, text_col, merges)
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda t: t != ""
    )
    docw = df.select(F.col(id_col), F.explode(toks).alias("w"))
    vt = vocab.select("w", F.size("syms").alias("n_toks"))
    return (
        docw.join(F.broadcast(vt), "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_toks").cast("bigint").alias("n_bpe_tokens"),
        )
    )


def fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Two document fingerprints: md5 (exact-dup key, portable) and a
    position-weighted checksum (cheap shift-insensitive-ish signature)."""
    from pagerank_giraph_vs_mapreduce_spark.functions.hashing import (
        position_weighted_sum,
    )

    t = F.col(text_col)
    checksum = position_weighted_sum(t, 64) % F.lit(1_000_000_007)
    return df.select(
        F.col(id_col),
        F.md5(t).alias("fp_md5"),
        checksum.alias("fp_checksum"),
    )


def char_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Character-level Shannon entropy per document (bits/char) — the
    classic gibberish/binary-spill gate: natural prose sits ~4-4.5 bits,
    single-char spam near 0, random bytes ~8. Emitted alongside the
    distinct-char count (its integer cousin).

    Zero-shuffle: H is per-row — char codes O(len), counts via one
    filter-per-distinct-char pass (O(len·distinct), distinct ≤ alphabet),
    no explode/groupBy. H = log2(n) − (Σ c·log2 c)/n over per-char counts
    c, each c·log2 c rounded to 9 dp and summed as DECIMAL in sorted-code
    order (the text_lm_score determinism discipline), H rounded to 6 dp.
    """
    t = F.col(text_col)
    codes = F.transform(F.split(t, ""), lambda ch: F.ascii(ch).cast("long"))
    pre = df.filter(F.length(t) >= 1).select(
        F.col(id_col),
        F.length(t).cast("bigint").alias("_n"),
        codes.alias("_codes"),
    )
    dist = F.array_sort(F.array_distinct(F.col("_codes")))
    cnt = lambda c: F.size(F.filter(F.col("_codes"), lambda x: x == c))  # noqa: E731
    terms = F.transform(
        dist,
        lambda c: F.round(cnt(c).cast("double") * F.log2(cnt(c)), 9).cast(
            "decimal(20,9)"
        ),
    )
    ssum = F.aggregate(
        terms,
        F.lit(0).cast("decimal(30,9)"),
        lambda acc, x: (acc + x).cast("decimal(30,9)"),
    )
    return pre.select(
        F.col(id_col),
        F.size(dist).cast("bigint").alias("n_distinct_chars"),
        F.round(
            F.log2(F.col("_n")) - ssum.cast("double") / F.col("_n"), 6
        ).alias("entropy_bits"),
    )


def span_corrupt(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rate_hex: str = "3",
) -> DataFrame:
    """T5/UL2-style span corruption: deterministically mask ~rate of the
    whitespace tokens (first md5(doc_id:pos) hex digit < ``rate_hex``,
    so '3' ≈ 3/16 ≈ 19%), collapse each RUN of masked tokens to one
    numbered sentinel in the input, and emit the denoising target
    (sentinel → original span, in order) — the data-prep step that turns
    a curated corpus into denoising training pairs.

    Returns (id, input_masked, target, n_spans, n_masked_tokens); docs
    with no masked token keep their original text and an empty target.

    Determinism/scale shape: the mask is a pure md5 expression (the
    fn_hash_sample parity primitive — the oracle reproduces it
    bit-for-bit); runs are found with the gaps-and-islands trick (pos −
    row_number over masked rows), and every reassembly is
    array_sort(collect_list(struct(pos, …))) → array_join, i.e. ordered
    WITHIN each doc's own rows — three narrow shuffles keyed by doc_id
    (explode → window → re-agg), never a global sort. At 100 TB this is
    embarrassingly parallel per document.
    """
    from pyspark.sql import Window

    win_tok = F.split(F.col(text_col), " ")
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(win_tok).alias("pos", "tok"),
    )
    h = F.substring(
        F.md5(
            F.concat(
                F.col("id").cast("string"), F.lit(":"), F.col("pos").cast("string")
            )
        ),
        1,
        1,
    )
    t = toks.withColumn("m", h < rate_hex)
    wm = Window.partitionBy("id", "m").orderBy("pos")
    t = t.withColumn("grp", F.col("pos") - F.row_number().over(wm))

    masked = t.filter(F.col("m"))
    spans = masked.groupBy("id", "grp").agg(
        F.min("pos").alias("first_pos"),
        F.count(F.lit(1)).alias("span_len"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("span_text"),
    )
    ws = Window.partitionBy("id").orderBy("first_pos")
    spans = spans.withColumn("span_id", F.row_number().over(ws) - 1)
    sentinel = F.concat(
        F.lit("<extra_id_"), F.col("span_id").cast("string"), F.lit(">")
    )

    pieces = (
        t.filter(~F.col("m")).select("id", "pos", "tok")
        .unionAll(
            spans.select(
                "id", F.col("first_pos").alias("pos"), sentinel.alias("tok")
            )
        )
    )
    inp = pieces.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("input_masked")
    )
    tgt = spans.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "span_id",
                            F.concat(sentinel, F.lit(" "), F.col("span_text")).alias(
                                "piece"
                            ),
                        )
                    )
                ),
                lambda x: x["piece"],
            ),
            " ",
        ).alias("target"),
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum("span_len").cast("bigint").alias("n_masked_tokens"),
    )
    return (
        inp.join(tgt, "id", "left")
        .select(
            "id",
            "input_masked",
            F.coalesce(F.col("target"), F.lit("")).alias("target"),
            F.coalesce(F.col("n_spans"), F.lit(0).cast("bigint")).alias("n_spans"),
            F.coalesce(
                F.col("n_masked_tokens"), F.lit(0).cast("bigint")
            ).alias("n_masked_tokens"),
        )
    )
