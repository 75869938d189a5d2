"""Deduplication operators for a training-data pipeline: exact,
MinHash+LSH near-dup, SimHash, and n-gram Jaccard.

All hashing uses the cross-engine primitives in functions/hashing.py so
every operator keeps an exact DuckDB oracle (integer arithmetic only).

Scale notes (100 TB posture):
- shingling AND MinHash/SimHash signatures are pure per-row array
  expressions (char-code array → shingle-code array → array_min per hash):
  ZERO shuffles; the whole signature stage is scan-bound.
- LSH banding re-keys by (band, band_key); hot buckets (boilerplate docs)
  are the skew risk — AQE skew-join splitting plus the candidate
  `distinct` keep the pair explosion bounded; exact-Jaccard verification
  touches only candidate pairs, never the full cross product. Band width
  sets the precision/recall point: 4 bands × 6 rows over 24 hashes accepts
  ~6% of jaccard-0.5 pairs while keeping ~95% recall at jaccard 0.9.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pagerank_giraph_vs_mapreduce_spark.functions.hashing import (
    CODE_MOD,
    HASH_MOD,
    MINHASH_A,
    MINHASH_B,
    MULT,
    minhash_col,
)


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: one survivor (min id) per distinct key, with copy count."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("copies")
    )


def shingle_code_array(
    df: DataFrame, id_col: str, text_col: str, shingle_len: int = 5
) -> DataFrame:
    """(id, codes ARRAY<BIGINT>) — distinct shingle codes per document,
    computed entirely per-row: a narrow map, NO shuffle. Documents shorter
    than ``shingle_len`` are dropped.

    The text is first exploded into a char-code array (one O(len) pass);
    each shingle code is then ``shingle_len`` O(1) ``element_at`` lookups.
    Computing ``substring(t, i, L)`` per index instead would be O(i) per
    call (UTF-8 codepoint traversal) — quadratic per document, measured
    12s for 5500 docs vs ~1s this way."""
    t = F.col(text_col)
    chars = F.transform(F.split(t, ""), lambda ch: F.ascii(ch).cast("long"))
    pre = df.filter(F.length(t) >= shingle_len).select(
        F.col(id_col).alias("id"),
        chars.alias("_chars"),
        # clamp ≥1: sequence(1, n<1) would descend through index 0; the
        # inferred-predicate evaluation (see code_at note) can reach short
        # rows even though the length filter drops them from the output
        F.greatest(F.length(t) - F.lit(shingle_len - 1), F.lit(1)).alias("_n"),
    )
    weights = [MULT ** (shingle_len - 1 - k) for k in range(shingle_len)]

    def code_at(i):  # i is 1-based shingle start
        total = None
        for k, w in enumerate(weights):
            # try_element_at: Catalyst infers a `size(codes) > 0` predicate
            # from the downstream explode and may evaluate it BEFORE the
            # length filter; strict element_at would throw on short rows.
            # Valid rows are never out of bounds, so semantics are equal.
            term = F.try_element_at(F.col("_chars"), i + F.lit(k)) * F.lit(w)
            total = term if total is None else total + term
        return total % F.lit(CODE_MOD)

    codes = F.array_distinct(
        F.transform(F.sequence(F.lit(1), F.col("_n")), code_at)
    )
    return pre.select("id", codes.alias("codes"))


def shingles(
    df: DataFrame, id_col: str, text_col: str, shingle_len: int = 5
) -> DataFrame:
    """Exploded (id, code) view of shingle_code_array (distinct by
    construction — the dedup happened per-row, shuffle-free).

    The array frame is materialized BEFORE the explode: whole-stage
    codegen inlines a computed generator input into the Generate loop, so
    an unmaterialized ``explode(codes)`` re-evaluates the O(len)
    code-array expression once per OUTPUT row — O(len²) per document,
    measured 270 s vs ~2 s at sf0.1 (5000 docs x ~200 shingles). A lazy
    ``localCheckpoint`` computes each row's array exactly once, on the
    first action, and leaves no cache-manager entry behind (the same
    discipline minhash_near_dups applies); at 100 TB this table is the
    corpus's shingle table and would instead be a written intermediate."""
    arr = shingle_code_array(df, id_col, text_col, shingle_len).localCheckpoint(
        eager=False
    )
    return arr.select("id", F.explode("codes").alias("code"))


def _signatures(arr: DataFrame, n_hashes: int) -> DataFrame:
    """(id, mh0..mh{n-1}) over a code-array frame (id, codes): component
    j is ``array_min(transform(codes, h_j))``."""
    assert n_hashes <= len(MINHASH_A)
    return arr.select(
        "id",
        *[
            F.array_min(
                F.transform(F.col("codes"), lambda c: minhash_col(c, j))
            ).alias(f"mh{j}")
            for j in range(n_hashes)
        ],
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 24,
    shingle_len: int = 5,
) -> DataFrame:
    """(id, mh0..mh{n-1}) MinHash signature.

    Each component is ``array_min(transform(codes, h_j))`` over the per-row
    code array — the whole signature stage is a narrow projection with ZERO
    shuffles (the earlier explode+groupBy formulation shuffled |doc|×|text|
    rows; this shuffles nothing)."""
    return _signatures(
        shingle_code_array(df, id_col, text_col, shingle_len), n_hashes
    )


def banded_keys(
    sigs: DataFrame, bands: int = 4, rows_per_band: int = 3
) -> DataFrame:
    """(id, band, bkey) LSH bucket rows — one row per band per doc. This
    is the durable index table of incremental dedup: written bucketed by
    (band, bkey), a new batch probes it with an equi-join and never
    rescans the corpus."""
    banded = None
    for b in range(bands):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        part = sigs.select(
            "id",
            F.lit(b).alias("band"),
            F.concat_ws("_", *[c.cast("string") for c in cols]).alias("bkey"),
        )
        banded = part if banded is None else banded.unionAll(part)
    return banded


def write_band_index(
    banded: DataFrame, table: str, path: str, buckets: int = 16
) -> None:
    """Persist an LSH band index (the ``banded_keys`` output) as a DURABLE
    bucketed+sorted parquet table — the corpus-side artifact of
    incremental dedup. Bucketing on the join key (band, bkey) means every
    future new-batch probe sort-merge-joins against the index with ZERO
    exchange on the index side: at 100 TB the corpus index is laid down
    once and daily probes shuffle only the (batch-sized) new rows into
    the index's bucketing. ``buckets`` sizes the static parallelism of
    every future probe — pick it for the CORPUS size, not the batch."""
    (
        banded.write.bucketBy(buckets, "band", "bkey")
        .sortBy("band", "bkey")
        .option("path", path)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )


def append_band_index(banded: DataFrame, table: str, buckets: int = 16) -> None:
    """Fold a new batch's band rows INTO the durable index after its
    probe — the maintenance half of incremental dedup (probe against the
    index, then index the batch so tomorrow's batch sees it). Append mode
    preserves the table's (band, bkey) bucketing (``buckets`` must match
    the spec the table was created with — Spark rejects a mismatch): each
    append writes one more file per bucket, so probes stay exchange-free
    on the index side; periodic compaction (the
    sources/sinks.py:compact_parquet discipline) folds the accumulated
    per-batch files back to one per bucket."""
    (
        banded.write.bucketBy(buckets, "band", "bkey")
        .sortBy("band", "bkey")
        .mode("append")
        .format("parquet")
        .saveAsTable(table)
    )
    # the append lands on disk but other sessions' cached relation (file
    # listing) can go stale — notably streaming foreachBatch, which hands
    # the batch a CLONED session (measured: appended rows invisible to the
    # outer session until refresh). Refresh here for this session; readers
    # refresh again in probe_band_index, which covers the cross-session case.
    banded.sparkSession.catalog.refreshTable(table)


def _table_location(spark: SparkSession, table: str) -> str:
    return (
        spark.sql(f"DESCRIBE FORMATTED {table}")
        .filter(F.col("col_name") == "Location")
        .first()["data_type"]
    )


def _delete_path(spark: SparkSession, location: str) -> None:
    """Recursive delete through the Hadoop FileSystem API — works for any
    scheme the cluster can read (file:, hdfs:, s3a:, ...)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(location)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(p, True)


_GEN_RE = re.compile(r"^(.*?)__gen(\d+)$")


def compact_band_index(
    spark: SparkSession,
    table: str,
    buckets: int = 16,
    tombstones: DataFrame | None = None,
) -> int:
    """Maintenance compaction for an appended band index: each
    ``append_band_index`` adds one file per bucket, so after B batches a
    probe opens B files per bucket — correctness is unaffected (bucketing
    holds per file) but open/seek overhead accretes. Returns the row
    count preserved (cheap invariant for callers to assert). At 100 TB
    this runs on the usual table-maintenance cadence, amortized across
    every probe in between.

    Failure-atomic generation swap (never overwrite the only durable
    copy in place): the compacted rows are written to a FRESH sibling
    location (``<base>__gen<k+1>``) under a scratch table name while the
    current generation stays intact and readable; only after that write
    commits is the catalog name repointed (metadata-only drop+rename) and
    only after the repoint are the previous generation's files deleted.
    A crash at any step leaves at least one complete durable generation
    on disk: before the repoint the old table still serves reads; between
    drop and rename the catalog entry is briefly absent but BOTH
    generations persist (re-run the compaction or re-register the table
    to recover — no data loss window).

    Visibility contract: the drop→rename gap means a probe
    issued DURING the repoint can fail with TABLE_NOT_FOUND — Spark's
    session catalog has no atomic rename-over / CREATE OR REPLACE for
    external bucketed tables, so the gap cannot be closed here. Callers
    must QUIESCE probes for the duration of the compaction — e.g. run
    it between micro-batches inside a foreachBatch handler, which is
    single-threaded by construction (the pattern
    streaming/incremental_dedup.py:compact_stream_index documents and
    tests); where a real metastore offers an atomic swap, use it at
    this commit point instead.

    ``tombstones`` (one ``id`` column) physically purges those
    documents' band rows during the rewrite — the second half of the
    tombstone delete protocol: ``probe_band_index(tombstones=...)``
    hides deleted docs immediately (a broadcast anti-join, no index
    write at all), and the next scheduled compaction makes the delete
    durable for free, since it was rewriting every bucket anyway. The
    bucketed index has no per-document partitioning to prune (its keys
    are (band, bkey)), so eager physical deletes would always be a full
    rewrite — which is exactly what compaction already is."""
    spark.catalog.refreshTable(table)
    location = _table_location(spark, table)
    m = _GEN_RE.match(location)
    base, gen = (m.group(1), int(m.group(2))) if m else (location, 1)
    new_location = f"{base}__gen{gen + 1}"
    scratch = f"{table}__compacting"
    spark.sql(f"DROP TABLE IF EXISTS {scratch}")
    # a crashed previous attempt left orphan files at the same next-gen
    # path (it is only ever referenced by the catalog AFTER the rename
    # commit, so an unreferenced copy is safe to clear for the retry)
    _delete_path(spark, new_location)
    # Force the BUCKETED scan for the rewrite: one task per bucket reads
    # all of that bucket's generation files and writes exactly one file —
    # a zero-shuffle, per-bucket-local file merge. (The planner treats a
    # repartition on the bucket columns as redundant against the bucket
    # spec and then auto-DISABLES the bucketed read as "not useful",
    # which would leave file-split partitioning and multi-file buckets —
    # pinning autoBucketedScan off here closes that trap.)
    abs_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prior = spark.conf.get(abs_key)
    spark.conf.set(abs_key, "false")
    try:
        rows = spark.table(table)
        if tombstones is not None:
            rows = rows.join(
                F.broadcast(tombstones.select("id").distinct()),
                "id",
                "left_anti",
            )
        n = rows.count()
        (
            rows.write.bucketBy(buckets, "band", "bkey")
            .sortBy("band", "bkey")
            .option("path", new_location)
            .mode("errorifexists")
            .format("parquet")
            .saveAsTable(scratch)
        )
    finally:
        spark.conf.set(abs_key, prior)
    # commit point: repoint the public name at the new generation
    spark.sql(f"DROP TABLE {table}")
    spark.sql(f"ALTER TABLE {scratch} RENAME TO {table}")
    spark.catalog.refreshTable(table)
    _delete_path(spark, location)
    return n


def probe_band_index(
    spark: SparkSession,
    table: str,
    batch_banded: DataFrame,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Candidate (id_new, id_old) pairs from probing a durable band index
    written by ``write_band_index`` with a new batch's band rows. The
    equi-join keys equal the index's bucket columns, so the index side is
    scanned in place (no Exchange below its FileScan — pinned by
    tests/test_plan_shapes.py:test_band_index_probe_does_not_shuffle_index);
    only the batch side is shuffled into the index's bucketing.

    ``tombstones`` (one ``id`` column — deleted/retired documents)
    hides those ids from the probe with a broadcast anti-join: the
    LOGICAL half of the delete protocol, effective immediately with no
    index write; ``compact_band_index(tombstones=...)`` purges them
    physically on the next maintenance pass."""
    # see append_band_index: appends from another session (streaming
    # foreachBatch clones) leave this session's cached file listing stale
    spark.catalog.refreshTable(table)
    idx = spark.table(table).select(
        F.col("id").alias("id_old"), "band", "bkey"
    )
    if tombstones is not None:
        idx = idx.join(
            F.broadcast(
                tombstones.select(F.col("id").alias("id_old")).distinct()
            ),
            "id_old",
            "left_anti",
        )
    return (
        batch_banded.select(F.col("id").alias("id_new"), "band", "bkey")
        .join(idx, ["band", "bkey"])
        .select("id_new", "id_old")
        .distinct()
    )


def lsh_candidate_pairs(
    sigs: DataFrame, bands: int = 4, rows_per_band: int = 3
) -> DataFrame:
    """Distinct candidate (id_a, id_b) pairs sharing ≥1 LSH band bucket."""
    banded = banded_keys(sigs, bands, rows_per_band)
    left = banded.select("band", "bkey", F.col("id").alias("id_a"))
    right = banded.select("band", "bkey", F.col("id").alias("id_b"))
    return (
        left.join(right, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_pairs(
    sh: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """Exact Jaccard over shingle sets.

    With ``pairs`` given (the LSH path), intersections are computed by
    routing through the candidate list — (pairs ⋈ shingles_a) ⋈ shingles_b
    on (id_b, code) — which scales with Σ_candidates |shingles|, NOT with
    the all-pairs shingle join (Σ_code count(code)² — quadratic in docs per
    shingle, explosive when shingles are common). ``pairs=None`` takes the
    all-pairs route and is only sane for small/subset inputs.
    """
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    if pairs is not None:
        a = sh.withColumnsRenamed({"id": "id_a"})
        b = sh.withColumnsRenamed({"id": "id_b"})
        inter = (
            pairs.join(a, "id_a")
            .join(b, ["id_b", "code"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        a = sh.select(F.col("id").alias("id_a"), "code")
        b = sh.select(F.col("id").alias("id_b"), "code")
        inter = (
            a.join(b, "code")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    n_hashes: int = 24,
    shingle_len: int = 5,
    bands: int = 4,
    star: bool = False,
) -> DataFrame:
    """Full MinHash→LSH→exact-verify near-dup pipeline (id_a, id_b, jaccard).

    The per-row code-array table feeds BOTH the (shuffle-free) signature
    stage and the exact-Jaccard verification — a lazy localCheckpoint, so
    shingling runs once, on the pipeline's first action, and no
    cache-manager entry outlives the call; the only shuffles in the whole
    pipeline are the LSH bucket join and the candidate-routed intersection
    counts.

    ``star=True`` swaps the all-pairs-per-bucket candidate generator for
    ``lsh_candidate_pairs_star`` (each bucket member pairs with the
    bucket-min id only): candidate count drops from C(B,2) to B-1 per
    bucket, which is the difference between quadratic and linear when the
    corpus contains large near-duplicate clusters — the sf1 spot-run
    measured the all-pairs form at 525x shuffle records for 10x docs on a
    replica-heavy corpus, vs ~13x for the star form. The
    trade: only member↔representative similarity is verified, so a pair
    of cluster members neither of which is the bucket min is not emitted
    — the right contract for DEDUP-style "keep one representative"
    consumers, not for exhaustive pair mining."""
    rows_per_band = n_hashes // bands
    arr = shingle_code_array(df, id_col, text_col, shingle_len).localCheckpoint(
        eager=False
    )
    gen = lsh_candidate_pairs_star if star else lsh_candidate_pairs
    cands = gen(_signatures(arr, n_hashes), bands, rows_per_band)
    sh = arr.select("id", F.explode("codes").alias("code"))
    return jaccard_pairs(sh, cands).filter(F.col("jaccard") >= threshold)


SIMHASH_BITS = 31  # stays within the 31-bit universal hash range


def _simhash_part(col: str, n_bits: int, bit_offset: int) -> str:
    """SQL expr: sign-aggregate the hash array ``col`` into signature bits
    [bit_offset, bit_offset + n_bits).

    Single pass over the array with an array-of-counters accumulator
    (bit b set iff 2 * count_of_set_bits > n). The per-bit-aggregate
    formulation (n_bits separate array scans) generates an expression
    tree that blows up whole-stage codegen — measured 15 s vs ~2 s on
    the 62-bit signature at sf0.1.
    """
    cnts = (
        f"aggregate({col}, transform(sequence(0, {n_bits - 1}), x -> 0),"
        f" (acc, h) -> zip_with(acc,"
        f" transform(sequence(0, {n_bits - 1}),"
        f" b -> CAST(shiftright(h, CAST(b AS INT)) & 1 AS INT)),"
        f" (x, y) -> x + y))"
    )
    return (
        f"aggregate(zip_with({cnts}, sequence(0, {n_bits - 1}),"
        f" (c, b) -> CASE WHEN 2 * c > size({col})"
        f" THEN shiftleft(CAST(1 AS BIGINT), CAST(b AS INT) + {bit_offset})"
        f" ELSE CAST(0 AS BIGINT) END),"
        f" CAST(0 AS BIGINT), (a, x) -> a + x)"
    )


def simhash(
    df: DataFrame, id_col: str, text_col: str, shingle_len: int = 5
) -> DataFrame:
    """31-bit SimHash per document: bit b is the sign of Σ_shingles ±1
    (weight +1 if bit b of the shingle hash is set).

    Computed entirely per-row over the code array (rehash via transform,
    one-pass counter-array sign aggregation) — like the MinHash stage, a
    narrow shuffle-free projection."""
    arr = shingle_code_array(df, id_col, text_col, shingle_len).select(
        "id", F.transform("codes", lambda c: minhash_col(c, 0)).alias("hs")
    )
    return arr.select(
        "id", F.expr(_simhash_part("hs", SIMHASH_BITS, 0)).alias("simhash")
    )


SIMHASH64_BITS = 62  # two independent 31-bit rehashes


def simhash_wide(
    df: DataFrame, id_col: str, text_col: str, shingle_len: int = 5
) -> DataFrame:
    """62-bit SimHash per document — the web-scale fingerprint width
    (Manku et al. use 64 bits): bits 0-30 from the seed-0 rehash, bits
    31-61 from the independent seed-1 rehash. Wider signatures make the
    multi-probe blocks 15-16 bits instead of 8, so near-dup candidate
    buckets stay sparse at corpus sizes where 8-bit blocks would degrade
    toward all-pairs. Same shuffle-free per-row shape as ``simhash``."""
    arr = shingle_code_array(df, id_col, text_col, shingle_len).select(
        "id",
        F.transform("codes", lambda c: minhash_col(c, 0)).alias("h0"),
        F.transform("codes", lambda c: minhash_col(c, 1)).alias("h1"),
    )
    sig = (
        f"{_simhash_part('h0', 31, 0)}"
        f" + {_simhash_part('h1', SIMHASH64_BITS - 31, 31)}"
    )
    return arr.select("id", F.expr(sig).alias("simhash"))


SIMHASH_PROBE_BLOCKS = 4


def _simhash_blocks(bits: int = SIMHASH_BITS, n_blocks: int = SIMHASH_PROBE_BLOCKS):
    """Contiguous (offset, width) blocks partitioning the signature bits."""
    base, rem = divmod(bits, n_blocks)
    blocks, off = [], 0
    for i in range(n_blocks):
        w = base + (1 if i < rem else 0)
        blocks.append((off, w))
        off += w
    return blocks


def simhash_pairs_from_sigs(
    sigs: DataFrame, max_hamming: int = 6, bits: int = SIMHASH_BITS
) -> DataFrame:
    """All pairs from a ``(id, simhash)`` DataFrame with Hamming distance
    ≤ ``max_hamming`` — EXACT recall via pigeonhole multi-probe blocking.

    The signature is split into ``SIMHASH_PROBE_BLOCKS`` contiguous blocks;
    a pair within hamming ``h ≤ 2*n_blocks - 1`` must have some block with
    ≤ 1 differing bit (all-blocks-≥2 needs ≥ 2*n_blocks errors). Side A
    emits each block's exact key; side B emits the exact key plus every
    1-bit flip of it, so the equi-join on (block, key) finds every such
    pair — the multi-probe analog of MinHash banding, vs the old
    single-high-block join that missed ~2/3 of hamming≤6 pairs. Candidates
    are deduped before the exact hamming filter, so the result equals the
    all-pairs answer (the oracle checks against literally that).

    Blow-up: B emits ``n_blocks + bits`` rows per doc (35 for 31 bits);
    bucket join fan-out is governed by block width — ~8 bits for the
    31-bit signature (fine to ~1e6 docs), 15-16 bits for the 62-bit
    ``simhash_wide`` signature (the Manku et al. web-scale shape).
    """
    if max_hamming > 2 * SIMHASH_PROBE_BLOCKS - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the exact-recall bound "
            f"{2 * SIMHASH_PROBE_BLOCKS - 1} of {SIMHASH_PROBE_BLOCKS}-block "
            "1-bit-flip probing"
        )
    # Materialize the signatures before the probe fan-out: Catalyst's
    # projection collapsing would otherwise inline the (large, non-codegen
    # higher-order) signature expression into every one of the ~n_blocks +
    # bits probe-key expressions — recomputing each signature ~66x per row.
    sigs = sigs.localCheckpoint(eager=False)
    blocks = _simhash_blocks(bits)

    def block_key(i: int) -> Column:
        off, w = blocks[i]
        return F.shiftright(F.col("simhash"), off).bitwiseAND(F.lit((1 << w) - 1))

    exact_keys = [
        F.struct(F.lit(i).alias("blk"), block_key(i).alias("key"))
        for i in range(len(blocks))
    ]
    probe_keys = list(exact_keys)
    for i, (_, w) in enumerate(blocks):
        probe_keys += [
            F.struct(
                F.lit(i).alias("blk"),
                block_key(i).bitwiseXOR(F.lit(1 << j)).alias("key"),
            )
            for j in range(w)
        ]
    a = sigs.select(
        F.col("id").alias("id_a"),
        F.col("simhash").alias("sh_a"),
        F.explode(F.array(*exact_keys)).alias("pk"),
    ).select("id_a", "sh_a", "pk.blk", "pk.key")
    b = sigs.select(
        F.col("id").alias("id_b"),
        F.col("simhash").alias("sh_b"),
        F.explode(F.array(*probe_keys)).alias("pk"),
    ).select("id_b", "sh_b", "pk.blk", "pk.key")
    cands = (
        a.join(b, ["blk", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    return cands.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 6,
    shingle_len: int = 5,
) -> DataFrame:
    """Pairs with SimHash Hamming distance ≤ ``max_hamming`` — exact
    (equivalent to the all-pairs answer) via multi-probe pigeonhole
    blocking; see ``simhash_pairs_from_sigs``."""
    s = simhash(df, id_col, text_col, shingle_len)
    return simhash_pairs_from_sigs(s, max_hamming)


def lsh_candidate_pairs_star(
    sigs: DataFrame, bands: int = 4, rows_per_band: int = 3
) -> DataFrame:
    """STAR-shaped LSH candidates: per (band, bkey) bucket, each member
    pairs with the bucket's MIN id only — B-1 edges per bucket instead
    of C(B,2). Loses no clusters (every bucket member is connected to
    the representative, so transitive closure over these edges yields
    the same components as the full pair set) — it drops only redundant
    edges, which is exactly the mega-cluster mitigation SCALING.md §13
    prescribes: a boilerplate bucket with 10k members emits 9,999 pairs
    instead of ~50M. The trade: pairwise Jaccard is verified against the
    representative rather than every member, so per-EDGE thresholding is
    star-local; cluster-level dedup (the WCC canonicalization path) is
    unaffected."""
    banded = banded_keys(sigs, bands, rows_per_band)
    rep = banded.groupBy("band", "bkey").agg(F.min("id").alias("id_a"))
    return (
        banded.join(rep, ["band", "bkey"])
        .filter(F.col("id") != F.col("id_a"))
        .select("id_a", F.col("id").alias("id_b"))
        .distinct()
    )


def cdc_chunk_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    divisor: int = 64,
) -> DataFrame:
    """Content-defined chunking: split each document at positions where
    the rolling hash of the ``window``-char gram ends satisfies
    ``code % divisor == 0`` → ``(id, chunk_idx, chunk, chunk_len)``.

    Boundaries depend only on local content, so a shared paragraph
    chunks identically regardless of byte offset — insert one sentence
    at the top of a mirrored page and fixed-size blocks all shift
    (every block hash changes) while CDC boundaries downstream of the
    edit are unchanged. That shift-resilience is why sub-document dedup
    (boilerplate headers/footers, licence blocks, templated pages) uses
    CDC chunk hashes rather than fixed blocks.

    Scale shape: the whole chunker is ONE narrow per-row map — char
    codes O(len), window codes via the O(1)-per-position element_at
    trick (dedup.py:43 discipline), boundary filter, substring per
    chunk — zero shuffles before the caller's chunk-hash aggregate.
    Expected chunk length is ``divisor`` chars; production CDC adds
    min/max chunk clamps (omitted here — the synthetic corpus's ~300
    char docs don't need them, and clamps are one extra filter on the
    boundary array).
    """
    t = F.col(text_col)
    n = F.length(t)
    chars = F.transform(F.split(t, ""), lambda ch: F.ascii(ch).cast("long"))
    pre = df.filter(n >= 1).select(
        F.col(id_col).alias("id"),
        t.alias("_t"),
        n.alias("_n"),
        chars.alias("_chars"),
        # number of window positions (may be 0 for docs shorter than the
        # window — guarded below: sequence(1, 0) would count DOWN)
        F.greatest(n - F.lit(window - 1), F.lit(0)).alias("_ns"),
    )
    weights = [MULT ** (window - 1 - k) for k in range(window)]

    def wcode(s):  # rolling code of the window starting at 1-based s
        total = None
        for k, w in enumerate(weights):
            term = F.try_element_at(F.col("_chars"), s + F.lit(k)) * F.lit(w)
            total = term if total is None else total + term
        return total % F.lit(CODE_MOD)

    bstarts = F.when(
        F.col("_ns") >= 1,
        F.filter(
            F.sequence(F.lit(1), F.greatest(F.col("_ns"), F.lit(1))),
            lambda s: wcode(s) % divisor == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    bends = F.transform(bstarts, lambda s: (s + F.lit(window - 1)).cast("long"))
    ends = F.when(
        (F.size(bends) > 0) & (F.element_at(bends, -1) == F.col("_n")), bends
    ).otherwise(F.concat(bends, F.array(F.col("_n").cast("long"))))
    withe = pre.select("id", "_t", ends.alias("_ends"))
    def prev_end(i):
        # i == 1 → chunk starts at offset 0; element_at(_, 0) is an ERROR
        # in Spark (indices are 1-based), so the base case is explicit.
        return F.when(i == 1, F.lit(0).cast("long")).otherwise(
            F.try_element_at(F.col("_ends"), i - 1)
        )

    chunk_at = F.transform(
        F.sequence(F.lit(1), F.size(F.col("_ends"))),
        lambda i: F.struct(
            i.alias("idx"),
            F.substring(
                F.col("_t"),
                prev_end(i).cast("int") + 1,
                (F.try_element_at(F.col("_ends"), i) - prev_end(i)).cast("int"),
            ).alias("chunk"),
        ),
    )
    exploded = withe.select("id", F.explode(chunk_at).alias("c"))
    return exploded.select(
        "id",
        F.col("c.idx").cast("bigint").alias("chunk_idx"),
        F.col("c.chunk").alias("chunk"),
        F.length("c.chunk").cast("bigint").alias("chunk_len"),
    )


def cdc_repeated_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    divisor: int = 64,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated CDC chunks (the boilerplate detector):
    chunk every doc, hash each chunk (md5 — cheap, and chunk-local so
    the hash survives document edits elsewhere), keep hashes seen in
    ≥ ``min_docs`` distinct docs. One map-side-combined aggregate on
    chunk_md5 after the narrow chunker; at 100 TB the output is the
    boilerplate blocklist joined back (broadcast — it's tiny) to strip
    repeated spans before training."""
    chunks = cdc_chunk_table(df, id_col, text_col, window, divisor)
    return (
        chunks.groupBy(
            F.md5("chunk").alias("chunk_md5"),
            F.col("chunk_len"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct("id").alias("n_docs"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def cdc_strip_boilerplate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    divisor: int = 64,
    min_docs: int = 10,
) -> DataFrame:
    """Remove cross-document boilerplate spans: CDC-chunk every doc,
    build the repeated-chunk blocklist (chunks in ≥ ``min_docs`` docs),
    drop blocklisted chunks, reassemble the remaining chunks in order →
    ``(id, n_chunks, n_dropped, clean_len, clean_md5)``. The cleaner
    half of the cdc_repeated_chunks detector — what a curation pipeline
    actually applies before training.

    Scale shape: the blocklist is the tiny aggregate output (broadcast
    back onto the chunk stream — never a shuffle of the corpus), and
    reassembly is one per-doc aggregate over (idx, chunk) pairs.
    min_docs sets the precision/recall point: high thresholds only
    strip truly pervasive spans (licences, navigation chrome)."""
    chunks = cdc_chunk_table(df, id_col, text_col, window, divisor)
    block = (
        chunks.groupBy(F.md5("chunk").alias("chunk_md5"))
        .agg(F.countDistinct("id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("chunk_md5")
    )
    marked = chunks.join(
        F.broadcast(block),
        F.md5(F.col("chunk")) == block.chunk_md5,
        "left",
    ).select(
        "id",
        "chunk_idx",
        "chunk",
        F.col("chunk_md5").isNotNull().alias("dropped"),
    )
    kept_sorted = F.array_sort(
        F.collect_list(
            F.when(
                ~F.col("dropped"),
                F.struct(F.col("chunk_idx").alias("idx"), F.col("chunk").alias("c")),
            )
        )
    )
    return (
        marked.groupBy(F.col("id"))
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.col("dropped").cast("bigint")).alias("n_dropped"),
            F.concat_ws(
                "", F.transform(kept_sorted, lambda s: s["c"])
            ).alias("_clean"),
        )
        .select(
            "id",
            "n_chunks",
            "n_dropped",
            F.length("_clean").cast("bigint").alias("clean_len"),
            F.md5("_clean").alias("clean_md5"),
        )
    )
