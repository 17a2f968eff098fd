"""Deterministic, engine-portable hashing expressions.

We hash with md5 (available and bit-identical in Spark, DuckDB, and
Python's hashlib) rather than Spark's murmur3 ``hash()`` so every
hash-based operator (minhash, simhash, LSH bucketing) has an exact SQL
oracle. The reference uses FNV-32a only to route shuffle buckets
(mr/worker.go:25-29); the hash function itself is not semantically
visible, so portability wins over speed-of-hash here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_long(col: Column, seed: int | Column = 0, bits: int = 60) -> Column:
    """First ``bits`` bits of md5(seed || ':' || col) as a non-negative
    BIGINT. bits <= 60 keeps the value inside a signed 64-bit range so
    Spark's conv() and DuckDB's 0x-cast agree exactly.

    DuckDB mirror:
        CAST(concat('0x', substr(md5(concat(seed, ':', col)), 1, B/4)) AS BIGINT)
    """
    assert bits % 4 == 0 and 0 < bits <= 60
    hexchars = bits // 4
    seed_col = F.lit(str(seed)) if isinstance(seed, int) else seed.cast("string")
    h = F.md5(F.concat(seed_col, F.lit(":"), col.cast("string")))
    return F.conv(F.substring(h, 1, hexchars), 16, 10).cast("bigint")

