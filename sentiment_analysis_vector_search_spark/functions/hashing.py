"""Engine-portable deterministic hashing.

Spark's xxhash64 and DuckDB's hash() disagree, so every hash that crosses
the oracle boundary is derived from md5 (bit-identical everywhere):

- :func:`md5_long` — first 15 hex digits (60 bits) for fingerprints / exact
  dedup keys (never multiplied, so no overflow).
- :func:`md5_int31` — first 7 hex digits (28 bits) as the base for the
  universal-hash family ``(a*h + b) mod (2^31 - 1)`` used by minhash:
  28-bit h x 31-bit a stays under 2^59, safely inside int64 on both engines.

Seeded constants (a, b) are generated once (numpy, seed 42) and embedded as
literals into both the Spark plan and the oracle SQL.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MOD31 = (1 << 31) - 1


def md5_long(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative bigint (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def sql_md5_long(expr: str) -> str:
    """DuckDB equivalent of :func:`md5_long`."""
    return f"cast(concat('0x', substring(md5({expr}), 1, 15)) as bigint)"


def md5_int31(col: Column) -> Column:
    """First 28 bits of md5 as a bigint (universal-hash base)."""
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("bigint")


def sql_md5_int31(expr: str) -> str:
    return f"cast(concat('0x', substring(md5({expr}), 1, 7)) as bigint)"


def minhash_params(n_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Seeded (a, b) pairs for the universal hash family."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, 1 << 31, size=n_hashes).tolist()
    b = rng.randint(0, 1 << 31, size=n_hashes).tolist()
    return list(zip(a, b))
