"""Physical table layout for 100 TB: bucketing and clustering keys.

The reference plans its parallel snapshot scan by physical CTID block
ranges (copy.rs:53-58,132-161) — the layout decision that makes the copy
parallel. At Spark scale the analogous decision is **bucketing**: persist
fact tables bucketed by their join/merge key so repeated joins (orders ⋈
lineitem, CDC merge by pk) are co-located and shuffle-free — the single
biggest recurring-cost lever on a big cluster. Read both tables back with
``spark.table`` so Catalyst sees the bucket spec, and a plain ``join``
plans with no exchange on either side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def bucket_table(
    df: DataFrame,
    name: str,
    keys: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist ``df`` as a bucketed (+ optionally sorted) managed table.

    Joins and merges between tables bucketed on the same keys with the same
    bucket count skip the exchange entirely (SortMergeJoin over co-located
    buckets); sorting within buckets also skips the sort. This is the
    layout a CDC current-state table should have: merge-by-pk becomes a
    local operation per bucket.
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *keys)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)


def zorder_key(a, b, bits: int = 16):
    """Morton/Z-order interleave of the low ``bits`` bits of two integer
    columns — the multi-dimensional clustering key behind lakehouse
    OPTIMIZE ZORDER (Delta/Iceberg) layouts.

    Writing a fact table ``repartitionByRange(zorder_key(dim1, dim2))
    .sortWithinPartitions(...)`` makes every file a tile in BOTH
    dimensions, so min/max file statistics prune scans filtered on either
    dimension (or both) — single-column sort layouts only prune one. Pure
    column algebra (64 shift/mask terms at bits=16), whole-stage codegen,
    zero shuffle to compute.
    """
    from pyspark.sql import functions as F

    # Widen both inputs to 64-bit BEFORE shifting: shiftleft on an
    # IntegerType operand wraps at bit 31 (b=32768 at bits=16 would yield
    # z=-2^31), producing negative, non-monotonic Morton keys that break
    # range-partitioned tiling. Long-side shifts keep every term positive.
    a = a.cast("long")
    b = b.cast("long")
    z = F.lit(0).cast("long")
    for j in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(a, j).bitwiseAND(F.lit(1)), 2 * j)
            + F.shiftleft(F.shiftright(b, j).bitwiseAND(F.lit(1)), 2 * j + 1)
        )
    return z.cast("long")
