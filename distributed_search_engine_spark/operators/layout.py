"""Physical-layout helpers: Z-order (Morton) clustering keys.

Writing a fact table sorted by z(a, b) makes per-file min/max
statistics selective for BOTH columns — 2-D predicates then prune
files the way partition pruning prunes directories (the OPTIMIZE
ZORDER pattern). The z-value is pure bit arithmetic, identical in the
DuckDB oracle, so the layout key itself is hash-gated.
"""

from __future__ import annotations


def zvalue(a, b, bits: int = 16):
    """Morton/Z-order interleave of two non-negative ints (a's bits at
    odd positions): the locality-preserving sort key behind
    OPTIMIZE ZORDER-style layout. Writing a fact table ordered by
    z(a, b) makes min/max file statistics selective for BOTH columns,
    so 2-D predicates prune files — the layout analog of partition
    pruning. Pure bit arithmetic (sum of shifted bits), identical in
    the SQL oracle."""
    from pyspark.sql import functions as F

    acc = F.lit(0).cast("long")
    for i in range(bits):
        acc = acc + (
            F.shiftleft(F.shiftright(a.cast("long"), i) % 2, 2 * i + 1)
            + F.shiftleft(F.shiftright(b.cast("long"), i) % 2, 2 * i)
        )
    return acc

