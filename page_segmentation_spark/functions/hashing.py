"""Portable deterministic hashing (Spark <-> ANSI-SQL parity).

``h32(s) = int(md5(s)[0:8], 16)`` — an unsigned 32-bit value computable
identically in Spark (`conv(substr(md5(s),1,8),16,10)`) and DuckDB
(`('0x' || substr(md5(s),1,8))::BIGINT`), used for splits, minhash
permutations, simhash bits and fingerprints so every dedup operator has a
DuckDB-checkable oracle.  Replaces the reference's
``np.random.shuffle``-based splitting (lib/dataset.py:270-276) with a
deterministic hash-bucket policy (SURVEY §2.7 X2).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_P = 2147483647  # 2^31 - 1, modulus for minhash permutations


def h32(col: Column) -> Column:
    """Unsigned 32-bit int from the md5 hex prefix of a string column."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def h32_py(s: str) -> int:
    """Python twin of :func:`h32` (oracle/test side)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)


def h32_sql(expr: str) -> str:
    """DuckDB twin of :func:`h32` as a SQL fragment."""
    return f"(('0x' || substr(md5({expr}), 1, 8))::BIGINT)"


def h32b(col: Column) -> Column:
    """Second unsigned 32-bit int from md5 hex chars 9-16 — an
    independent bit source so 64-bit simhash gets 64 distinct hash bits
    without any unsigned-64 overflow on either engine."""
    return F.conv(F.substring(F.md5(col), 9, 8), 16, 10).cast("long")


def h32b_sql(expr: str) -> str:
    """DuckDB twin of :func:`h32b` as a SQL fragment."""
    return f"(('0x' || substr(md5({expr}), 9, 8))::BIGINT)"


#: fixed permutation parameters (odd a), deterministic across sides.
PERMS = [
    (1610612741, 12582917),
    (805306457, 25165843),
    (402653189, 50331653),
    (201326611, 100663319),
    (100663319, 201326611),
    (50331653, 402653189),
    (25165843, 805306457),
    (12582917, 1610612741),
]
