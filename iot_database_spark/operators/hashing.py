"""Portable 60-bit hashing shared by dedup/fingerprint operators.

Spark's builtin hash() is Murmur3 and DuckDB's hash() is different —
results could never cross-check. Instead both sides parse the first 15
hex chars of md5 (60 bits, fits BIGINT):

    Spark : conv(substring(md5(x), 1, 15), 16, 10)::bigint
    DuckDB: ('0x' || substring(md5(x), 1, 15))::BIGINT

Verified identical on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hash64(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def duck_hash64(expr: str) -> str:
    """DuckDB SQL text computing the same hash for oracle queries."""
    return f"CAST(('0x' || substring(md5({expr}), 1, 15)) AS BIGINT)"


# Fixed XOR constants — a cheap universal permutation family for MinHash:
# instead of re-running md5 per seed (16x the hashing cost), hash each
# shingle ONCE and derive per-seed values as h XOR C_seed (a bijection on
# the hash domain, so min-wise sampling still holds). Constants are the
# 60-bit md5 prefixes of 'seed0'..'seed63', identical in the DuckDB
# oracle texts via xor(h, <literal>).
import hashlib as _hashlib

XOR_SEEDS: tuple[int, ...] = tuple(
    int(_hashlib.md5(f"seed{i}".encode()).hexdigest()[:15], 16)
    for i in range(64)
)


def xor_permute(h: Column, seed: int) -> Column:
    return h.bitwiseXOR(F.lit(XOR_SEEDS[seed]))


def duck_xor_permute(expr: str, seed: int) -> str:
    return f"xor({expr}, CAST({XOR_SEEDS[seed]} AS BIGINT))"
