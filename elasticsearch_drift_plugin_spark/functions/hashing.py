"""Deterministic, cross-engine-reproducible hashing.

The dedup / fingerprint operators need a string→int hash that produces the
SAME value in Spark (JVM) and in the DuckDB correctness oracle. Spark's
``xxhash64``/``hash`` have no DuckDB twin, so we derive a 60-bit integer from
the first 15 hex chars of ``md5`` (md5 is available and byte-identical in
both engines; 60 bits keeps the value comfortably inside a signed 64-bit
long under Spark's ANSI casts).

Spark:   conv(substring(md5(s), 1, 15), 16, 10)::long
DuckDB:  ('0x' || substr(md5(s), 1, 15))::BIGINT
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_BITS = 60
HASH_MOD = 1 << HASH_BITS

# DuckDB SQL template: format with the string expression to hash.
HEX15_SQL_FN = "CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def md5_hash60(col: Column) -> Column:
    """60-bit non-negative hash of a string column, identical in DuckDB via
    :data:`HEX15_SQL_FN`."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


# --- MinHash permutation family -------------------------------------------
# h_j(x) = (a_j * (x mod P) + b_j) mod P with P = 2^31 - 1. Keeping operands
# under 2^31 makes every product < 2^62: exact in 64-bit integer arithmetic
# in BOTH engines (no overflow, no doubles).
MINHASH_P = 2147483647


def minhash_coeffs(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs via a splitmix-style integer recurrence —
    reproducible anywhere, no RNG library dependence."""
    coeffs = []
    state = seed & 0x7FFFFFFF
    for _ in range(num_perm):
        state = (state * 48271 + 11) % MINHASH_P
        a = state or 1
        state = (state * 48271 + 11) % MINHASH_P
        b = state
        coeffs.append((a, b))
    return coeffs


def minhash_sql(hash_expr: str, a: int, b: int) -> str:
    """One permuted hash value as exact long math, in DuckDB SQL."""
    return f"(({a} * (({hash_expr}) % {MINHASH_P}) + {b}) % {MINHASH_P})"
