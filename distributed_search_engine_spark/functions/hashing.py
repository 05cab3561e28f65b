"""Portable md5-prefix hashing — THE cross-engine deterministic hash.

Every operator that needs a reproducible uniform or bucket hash (Bloom
positions, join salts, sampling decisions, feature buckets) uses the
same arithmetic: the first 8 hex chars of md5(salt + value) parsed as
an integer. The DuckDB oracle twin is

    ('0x' || substr(md5(<salt> || <value>), 1, 8))::bigint

so the two engines agree bit-for-bit. Centralized here because the
arithmetic MUST stay identical across all call sites and the oracle —
a drift (e.g. substring width) would be a silent cross-engine mismatch.

The driver-side integer mixer that seeds data-independent literals
(MinHash coefficients, k-means seed centroids, LSH hyperplane weights)
lives here for the same reason: splitmix64_mix is its one copy.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MD5_PREFIX_SPAN = float(16**8)

# splitmix64 (Steele, Lea & Flood, OOPSLA'14): golden-ratio increment and
# the two finalizer multipliers
M64 = (1 << 64) - 1
SM_GAMMA = 0x9E3779B97F4A7C15
SM_M1 = 0xBF58476D1CE4E5B9
SM_M2 = 0x94D049BB133111EB


def splitmix64_mix(x: int) -> int:
    """The splitmix64 finalizer (xor-shifts 30, 27, 31) of a 64-bit int."""
    x &= M64
    x ^= x >> 30
    x = (x * SM_M1) & M64
    x ^= x >> 27
    x = (x * SM_M2) & M64
    return x ^ (x >> 31)


def md5_prefix_long(value: Column, salt: str = "") -> Column:
    """First 8 md5 hex chars of (salt + value) as a long in [0, 16^8)."""
    keyed = (
        F.concat(F.lit(salt), value.cast("string")) if salt else value.cast("string")
    )
    return F.conv(F.substring(F.md5(keyed), 1, 8), 16, 10).cast("long")


def md5_uniform(value: Column, salt: str = "") -> Column:
    """Deterministic uniform double in [0, 1)."""
    return md5_prefix_long(value, salt).cast("double") / F.lit(MD5_PREFIX_SPAN)


def md5_bucket(value: Column, m: int, salt: str = "") -> Column:
    """Deterministic bucket id in [0, m)."""
    return F.pmod(md5_prefix_long(value, salt), F.lit(m))
