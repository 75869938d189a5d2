"""Bloom-filter runtime join pruning, built from DataFrame primitives.

Spark's own runtime bloom filters (`spark.sql.optimizer.runtime.bloomFilter.*`)
only inject when the optimizer's selectivity heuristics fire, and the
underlying `bloom_filter_agg` expression is not SQL-exposed — so this module
provides the same mechanism as an explicit, composable operator: build a
bitmap over the (already filtered) dimension keys, broadcast it as ONE row,
and pre-filter the fact side with pure bit-arithmetic BEFORE the real join.

Representation: the filter is a ``map<int, bigint>`` from 64-bit word index
to word bits — built with one map-side-combined ``bit_or`` aggregation over
``n_hashes`` exploded (word, mask) pairs per key, then folded to a single
row with ``map_from_entries``. At the default 2^16 bits that is ≤1024 map
entries ≈ 8 KB broadcast — negligible even at thousands of executors, and
the probe is whole-stage-codegen'd hash + shift + AND per fact row, no
Python, no shuffle, no join.

Why it matters at 100 TB: a selective dim predicate means most fact rows
lose the join; without a runtime filter they are still shuffled (or at best
broadcast-hash-probed AFTER a full scan on the fact side). The bloom probe
drops them right after the scan, so downstream shuffle/join volume tracks
the SELECTED fraction, with false positives bounded by the classic
(1 - e^{-kn/m})^k rate. The exact join afterwards removes false positives —
the operator never changes semantics, only data volume.

False-negative-freedom is structural: every bit a key sets at build time is
tested at probe time with the same hash family (xxhash64 seeded by the
probe index), so a key present in the dim always passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_BITS = 1 << 16
DEFAULT_HASHES = 3


def _pos_sql(key_sql: str, j: int, n_bits: int) -> str:
    return f"pmod(xxhash64({key_sql}, {j}), {n_bits})"


def _word_sql(key_sql: str, j: int, n_bits: int) -> str:
    # DIV (integer division) on both build and probe sides — the two MUST
    # agree bit-for-bit or membership breaks.
    return f"CAST({_pos_sql(key_sql, j, n_bits)} DIV 64 AS INT)"


def _mask_sql(key_sql: str, j: int, n_bits: int) -> str:
    return (
        f"shiftleft(CAST(1 AS BIGINT), "
        f"CAST({_pos_sql(key_sql, j, n_bits)} % 64 AS INT))"
    )


def bloom_build(
    keys: DataFrame,
    key_col: str,
    n_bits: int = DEFAULT_BITS,
    n_hashes: int = DEFAULT_HASHES,
) -> DataFrame:
    """ONE-row DataFrame ``(bloom map<int,bigint>)`` over ``keys[key_col]``.

    Distributed build: per key, ``n_hashes`` (word, mask) structs in-row,
    one explode, one ``bit_or`` groupBy (map-side combined, at most
    n_bits/64 groups), one map_from_entries fold. Nothing touches the
    driver until the ≤8 KB result is broadcast by the caller.
    """
    k = "__bloom_key"
    tagged = keys.select(F.col(key_col).alias(k))
    structs = ", ".join(
        f"struct({_word_sql(k, j, n_bits)} AS word, {_mask_sql(k, j, n_bits)} AS mask)"
        for j in range(n_hashes)
    )
    pairs = tagged.select(F.expr(f"explode(array({structs}))").alias("wm"))
    words = pairs.groupBy(F.col("wm.word").alias("word")).agg(
        F.bit_or(F.col("wm.mask")).alias("bits")
    )
    return words.agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("word", "bits")))
        ).alias("bloom")
    )


def bloom_might_contain(
    facts: DataFrame,
    key_col: str,
    bloom: DataFrame,
    n_bits: int = DEFAULT_BITS,
    n_hashes: int = DEFAULT_HASHES,
) -> DataFrame:
    """Rows of ``facts`` whose ``key_col`` MIGHT be in the filter (never
    drops a true member). The 1-row ``bloom`` side is broadcast, the probe
    is per-row bit tests — ``try_element_at`` so an absent word (no dim key
    ever set a bit there) reads NULL and the conjunct is false, not an
    ANSI map-key error.

    Robustness: the broadcast column is attached under the
    reserved name ``__bloom_bits`` (not ``bloom``, which a fact table may
    legitimately carry), and ``key_col`` is backtick-quoted into the
    generated expressions so names needing quoting probe correctly."""
    key_sql = f"`{key_col.replace('`', '``')}`"
    probed = facts.crossJoin(F.broadcast(bloom.toDF("__bloom_bits")))
    cond = F.lit(True)
    for j in range(n_hashes):
        word = _word_sql(key_sql, j, n_bits)
        mask = _mask_sql(key_sql, j, n_bits)
        hit = F.expr(
            f"coalesce((try_element_at(__bloom_bits, {word}) & {mask}) = {mask},"
            " false)"
        )
        cond = cond & hit
    return probed.filter(cond).drop("__bloom_bits")


def bloom_semi_join(
    facts: DataFrame,
    fact_key: str,
    dim_keys: DataFrame,
    dim_key: str,
    n_bits: int = DEFAULT_BITS,
    n_hashes: int = DEFAULT_HASHES,
) -> DataFrame:
    """Exact LEFT SEMI join of ``facts`` against ``dim_keys``, with the
    bloom pre-filter cutting the fact volume that reaches the join. Result
    is identical to the plain semi join (false positives die in the exact
    join; false negatives cannot occur)."""
    bloom = bloom_build(dim_keys, dim_key, n_bits, n_hashes)
    pre = bloom_might_contain(facts, fact_key, bloom, n_bits, n_hashes)
    dim = dim_keys.select(F.col(dim_key).alias(fact_key)).distinct()
    return pre.join(dim, fact_key, "left_semi")
