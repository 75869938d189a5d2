"""Deterministic cross-engine hashing primitives for dedup/similarity.

Everything here is expressible identically in Spark SQL and ANSI/DuckDB SQL
using only integer arithmetic and ``ascii``/``substr`` — so MinHash, SimHash
and LSH queries keep exact DuckDB oracles (engine-native hash functions like
Spark's xxhash64 or DuckDB's hash() differ and would force rows-only checks).

Scheme: a character shingle of fixed length L maps to a polynomial code
``Σ ascii(ch_i) * 131^(L-i)  mod 1_000_000_007``; MinHash permutations are
universal hashes ``(A_j * code + B_j) mod (2^31 - 1)`` with fixed odd
constants. All intermediates stay < 2^63 (ANSI-mode overflow-safe).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

CODE_MOD = 1_000_000_007
HASH_MOD = 2_147_483_647  # 2^31 - 1
MULT = 131

# Fixed universal-hash constants (classic LCG multipliers/increments; any odd
# constants work — these are pinned so oracle SQL and Spark agree forever).
MINHASH_A = (
    1103515245, 1103592907, 134775813, 214013, 69069, 1664525,
    22695477, 1103515221, 48271, 16807, 69621, 40692,
    741103597, 887987685, 259336153, 76886297, 630360016, 251033993,
    442577113, 988033853, 127136089, 670443841, 374441957, 21403699,
)
MINHASH_B = (
    12345, 2531011, 1, 13849, 5, 1013904223,
    1, 11, 7, 3, 23, 17,
    29, 31, 37, 41, 43, 47,
    53, 59, 61, 67, 71, 73,
)


def shingle_code_sql(sh_expr: str, length: int) -> str:
    """Same polynomial code as ANSI SQL text (oracle side)."""
    # explicit BIGINT casts: DuckDB would otherwise multiply in INT32
    terms = [
        f"CAST(ascii(substr({sh_expr}, {i}, 1)) AS BIGINT) * {MULT ** (length - i)}"
        for i in range(1, length + 1)
    ]
    return f"(({' + '.join(terms)}) % {CODE_MOD})"


def position_weighted_sum(t: Column, weight_mod: int) -> Column:
    """``Σ ascii(ch_p) * ((p % weight_mod) + 1)`` over 1-based char
    positions ``p`` — the shared polyhash under text_feature_hash_64,
    the RAG hashed embedding, and the fingerprint checksum.

    ONE O(len) pass: explode the string into a char array once, then an
    indexed ``transform``. The ``substring(t, p, 1)``-per-position
    formulation costs O(p) per call (UTF-8 codepoint traversal from the
    start) — quadratic per string; this is the dedup.py:43 char-code
    trick applied to the shared polyhash (measured 12x there)."""
    return F.aggregate(
        F.transform(
            F.split(t, ""),
            lambda ch, i: F.ascii(ch).cast("long")
            * (((i + F.lit(1)) % weight_mod) + 1),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def minhash_col(code: Column, j: int) -> Column:
    return (code * F.lit(MINHASH_A[j]) + F.lit(MINHASH_B[j])) % F.lit(HASH_MOD)


def minhash_sql(code_expr: str, j: int) -> str:
    return f"(({code_expr} * {MINHASH_A[j]} + {MINHASH_B[j]}) % {HASH_MOD})"
