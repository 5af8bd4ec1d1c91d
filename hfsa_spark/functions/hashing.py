"""Portable deterministic hashing — identical values in Spark SQL and
ANSI/DuckDB SQL, which is what lets the dedup/similarity operators carry
exact value-level oracles (CORRECTNESS gate) instead of weaker rows-only
checks.

``portable_hash64(x) = int(md5(x)[:15], 16)`` — 60 bits, seeded by
prefixing the input. Spark: ``conv(substr(md5(x),1,15),16,10)::long``;
DuckDB: ``('0x' || substr(md5(x),1,15))::bigint``. Both verified to agree.

MD5 here is a deterministic mixing function, not a security primitive.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def portable_hash64(c: Column | str, seed: int | None = None) -> Column:
    """60-bit integer hash of a string column, optionally seeded."""
    col = F.col(c) if isinstance(c, str) else c
    if seed is not None:
        col = F.concat(F.lit(f"{seed}:"), col)
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def portable_hash_hex(c: Column | str, seed: int | None = None, length: int = 16) -> Column:
    """Fixed-width lowercase hex hash string; lexicographic min == numeric
    min, so ``min()`` over these is engine-portable."""
    col = F.col(c) if isinstance(c, str) else c
    if seed is not None:
        col = F.concat(F.lit(f"{seed}:"), col)
    return F.substring(F.md5(col), 1, length)
