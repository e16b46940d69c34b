"""Z-order (Morton) interleaving for multi-dimensional data clustering.

Delta/Iceberg expose ``OPTIMIZE ... ZORDER BY (a, b)`` so point/range
lookups on EITHER column skip files via min/max stats (the reference's
ClickHouse side gets the same effect from its MergeTree ORDER BY key,
03_fact_tables.sql:54 — but only for the leading key). Interleaving the
bits of both keys gives locality in both dimensions at once.

The code below is a pure Catalyst expression (32 shift/mask/add terms —
whole-stage codegen, no UDF), so it runs JVM-side at write time and the
same formula is expressible verbatim in any SQL dialect with bit ops.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ZORDER_BITS = 16  # 16 bits per dimension -> 32-bit codes


def morton2(x: Column, y: Column, bits: int = ZORDER_BITS) -> Column:
    """Interleave the low ``bits`` bits of two non-negative longs:
    x's bit i lands at position 2i, y's at 2i+1. Disjoint targets, so
    summing the terms equals OR-ing them."""
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def sql_morton2(x: str, y: str, bits: int = ZORDER_BITS) -> str:
    """Dialect-portable textual twin of :func:`morton2` (DuckDB/ANSI-ish)."""
    parts = []
    for i in range(bits):
        parts.append(f"((({x} >> {i}) & 1) << {2 * i})")
        parts.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(parts)


def zorder_cluster(df, a: str, b: str, n_files: int | None = None):
    """Range-partition + sort ``df`` by the Morton interleave of two key
    columns (each masked to ZORDER_BITS), optionally pinning the output
    partition count. The write-time clustering step behind the txnlog's
    ``zorder_by`` (append and compact) — per-file min/max stats then
    prune on EITHER key."""
    mask = (1 << ZORDER_BITS) - 1
    code = morton2(
        F.col(a).cast("long").bitwiseAND(F.lit(mask)),
        F.col(b).cast("long").bitwiseAND(F.lit(mask)),
    )
    out = df.withColumn("_zorder", code)
    parts = [n_files] if n_files else []
    return (
        out.repartitionByRange(*parts, "_zorder")
        .sortWithinPartitions("_zorder")
        .drop("_zorder")
    )
