"""Portable deterministic hashing — bit-identical in Spark, DuckDB and Python.

Everything downstream (minhash, simhash, LSH buckets, fingerprints) builds on
``md5_long``: the first 15 hex chars (60 bits) of MD5, as a non-negative
int64. MD5 is identical everywhere; 15 hex chars always fit int64:

- Spark : ``conv(substr(md5(x), 1, 15), 16, 10)`` cast long
- DuckDB : ``('0x' || substr(md5(x), 1, 15))::BIGINT``
- Python : ``int(hashlib.md5(x).hexdigest()[:15], 16)``

MinHash permutations run in the Mersenne-31 field: ``h_i(x) = (a_i*(x mod P)
+ b_i) mod P`` with ``P = 2^31 - 1`` so the multiply never overflows int64.
"""

from __future__ import annotations

import hashlib
import random

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE31 = 2_147_483_647

# deterministic permutation constants (seed fixed forever — part of the
# on-disk signature format)
_rng = random.Random(0xCDC)
MINHASH_PERMS: tuple[tuple[int, int], ...] = tuple(
    (_rng.randrange(1, MERSENNE31), _rng.randrange(0, MERSENNE31)) for _ in range(16)
)


# --- Spark side ------------------------------------------------------------

def md5_long(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_long_sql(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def md5_long_py(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
