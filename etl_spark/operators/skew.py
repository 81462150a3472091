"""Skew mitigation: two-phase aggregation and two-phase top-k.

AQE's skew-join splitting (on in session.py) handles most skew at runtime;
these operators are for the cases AQE can't fix:

- high-cardinality aggregation where a handful of hot keys serialize the
  reduce stage (partial aggregation helps only when the map side sees
  repeats; a hot key spread across every input partition still funnels into
  one reducer);
- per-key top-k over Zipfian keys, where one window puts a hot key's
  entire sort in one task.

Salting trades one extra narrow stage for even task sizes — the standard
fix (e.g. Spark summit folklore; MMDS ch.2 combiner discussion).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, str],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation for hot grouping keys: groupBy(key, salt) →
    partial per-salt results → groupBy(key) final merge.

    ``aggs`` maps column → one of sum/count/min/max (the re-aggregatable
    functions; avg = sum/count composed by the caller). The first shuffle
    carries at most ``n_salts`` rows per key per function — the hot key's
    reduce work parallelizes across ``n_salts`` tasks.
    """
    mergeable = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    refold = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    for fn in aggs.values():
        if fn not in mergeable:
            raise ValueError(f"{fn} is not re-aggregatable; use sum/count/min/max")

    salt = (F.rand(seed=42) * n_salts).cast("int")
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(*[mergeable[fn](c).alias(f"__p_{c}") for c, fn in aggs.items()])
    )
    final = partial.groupBy(*keys).agg(
        *[refold[fn](f"__p_{c}").alias(f"{fn}_{c}") for c, fn in aggs.items()]
    )
    return final


def salted_topk_per_key(
    df: DataFrame,
    keys: list[str],
    order_by: list[Column],
    k: int,
    salt_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase top-k per key for SKEWED keys (the per-domain document
    cap shape: domains are Zipfian, so a single row_number window puts a
    hot domain's entire sort in one task).

    Phase 1 windows over ``(key, salt)`` and keeps k rows per shard —
    each task sorts at most one shard of the hot key. Phase 2 windows
    over ``key`` on the ≤ ``n_salts * k`` survivors. The union of
    per-shard top-k sets is a superset of the global top-k under any
    row→shard assignment, so the result is row-identical to the naive
    single window with ``rank <= k``; ``order_by`` must be a total order
    (tie-broken) and ``salt_col`` a deterministic row attribute, making
    reruns byte-stable.

    Adds a ``rank`` output column (1..k per key) and uses ``__salt`` /
    ``__lr`` internally; inputs already carrying any of these are
    REJECTED rather than silently overwritten (ADVICE r10).
    """
    from pyspark.sql import Window

    clash = {"__salt", "__lr", "rank"}.intersection(df.columns)
    if clash:
        raise ValueError(
            f"salted_topk_per_key: input already has column(s) {sorted(clash)}; "
            "the operator adds a 'rank' output column and uses '__salt'/'__lr' "
            "internally — rename or drop them first"
        )
    salt = F.pmod(F.xxhash64(F.col(salt_col)), F.lit(n_salts))
    w_local = Window.partitionBy(*keys, "__salt").orderBy(*order_by)
    w_final = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__salt", salt)
        .withColumn("__lr", F.row_number().over(w_local))
        .filter(F.col("__lr") <= k)
        .drop("__lr")
        .withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= k)
        .drop("__salt")
    )
