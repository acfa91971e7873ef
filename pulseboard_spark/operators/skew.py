"""Skew-handling utilities: salted two-phase aggregation.

At 100 TB a handful of hot keys (a bot entity emitting millions of
events/hour, a boilerplate LSH bucket) turn one reducer into the job's
critical path.  AQE's skew-join splitting covers *joins*; skewed
*aggregations* need salting: spread each key over N salt buckets, partial-
aggregate per (key, salt), then merge the partials — valid for any
algebraic aggregate (sum/count/min/max and compositions like avg =
sum/count).  Cost: one extra (tiny) shuffle over the partials; benefit:
the heavy first shuffle is uniform by construction.

This is the documented escape hatch referenced in SCALE.md for the
trailing-window and profile layers; the default plans rely on AQE and
don't pay the extra phase.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: merge function for each algebraic aggregate's partials
_MERGE = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
) -> DataFrame:
    """Two-phase aggregation immune to key skew.

    ``aggs`` maps output column → (op, input column) with op in
    sum/count/min/max.  Phase 1 groups by (keys…, salt) — uniform by
    construction — and phase 2 merges the ≤ 32 partial rows per key.
    Result is identical to ``df.groupBy(keys).agg(...)`` for these
    algebraic ops regardless of data distribution.
    """
    for out, (op, _col) in aggs.items():
        if op not in _MERGE:
            raise ValueError(f"{out}: op must be one of {sorted(_MERGE)}, got {op!r}")

    salt = (F.abs(F.xxhash64(*[F.col(k) for k in keys], F.monotonically_increasing_id())) % 32).alias(
        "__salt"
    )
    phase1 = (
        df.select(*df.columns, salt)
        .groupBy(*keys, "__salt")
        .agg(
            *[
                (F.count(F.lit(1)) if op == "count" else getattr(F, op)(F.col(col))).alias(out)
                for out, (op, col) in aggs.items()
            ]
        )
    )
    return phase1.groupBy(*keys).agg(
        *[_MERGE[op](F.col(out)).alias(out) for out, (op, _col) in aggs.items()]
    )


def key_skew_audit(df: DataFrame, key: str, column_name: str | None = None) -> DataFrame:
    """One-row skew diagnostic for a candidate shuffle/join key: how many
    distinct keys, how the rows-per-key distribution looks (max, lower
    discrete p50/p99), and a skew ratio — the number that tells you
    whether a groupBy/join on this key needs :func:`salted_agg`, AQE skew
    splitting, or is safe as-is.  This is the measurement half of this
    module: salt when the audit says so, not by guess.

    skew_ratio_ppm = (max_per_key · 1e6) // (total_rows // n_keys) —
    hottest key vs the mean key, in ppm: 1e6 means perfectly uniform,
    50e6 means the hottest key holds 50x its fair share (at 1000
    executors that key IS the straggler).  The mean divides first so the
    product stays far from int64 range at any corpus size.

    All surfaces are exact integers (counts, discrete quantiles via
    cumulative histogram-of-histogram, integer ppm) — engine-portable.

    Scale: one shuffle on the audited key (the same shuffle the real
    query would pay — partial counts map-side combine), then the
    counts-of-counts table is at most |distinct per-key sizes| rows;
    everything after is arithmetic on that tiny table.
    """
    from pyspark.sql import Window

    name = column_name or key
    per_key = df.groupBy(F.col(key)).agg(F.count(F.lit(1)).alias("c"))
    hh = per_key.groupBy("c").agg(F.count(F.lit(1)).alias("k"))
    w = Window.orderBy("c")
    cum = (
        hh.withColumn("cum", F.sum("k").over(w))
        .withColumn("n_keys", F.sum("k").over(Window.partitionBy()))
        .withColumn("total", F.sum(F.col("c") * F.col("k")).over(Window.partitionBy()))
    )
    agg = cum.agg(
        F.max("n_keys").alias("n_keys"),
        F.max("total").alias("total_rows"),
        F.max("c").alias("max_per_key"),
        F.min(F.when(F.expr("cum >= (n_keys + 1) div 2"), F.col("c"))).alias("p50_per_key"),
        F.min(F.when(F.expr("cum * 100 >= n_keys * 99"), F.col("c"))).alias("p99_per_key"),
    )
    return agg.select(
        F.lit(name).alias("column_name"),
        "n_keys",
        "total_rows",
        "max_per_key",
        "p50_per_key",
        "p99_per_key",
        F.expr("(max_per_key * 1000000) div greatest(total_rows div n_keys, 1)").alias(
            "skew_ratio_ppm"
        ),
    )
