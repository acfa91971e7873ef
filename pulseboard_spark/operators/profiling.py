"""Table profiling: the null/distinct census a pipeline runs before
trusting a new dataset.

The naive form is one scan per column (how the SQL oracle spells it —
N UNION ALL branches).  The engine form is ONE pass.  The exact path
unpivots each row into (column_index, string_value) pairs with a single
``posexplode`` and aggregates twice: first by (column, value) — the
shuffle key every executor shares, map-side-combined down to the
per-partition distinct pairs — then by column.  A wide multi-
``countDistinct`` aggregate would instead go through Catalyst's Expand
rewrite with ONE global group, funnelling every distinct state into a
single reducer task (measured 2.7× slower at sf0.1 even on local[32];
at fact scale it is a straight single-task bottleneck).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pulseboard_spark.session import local_df


def profile_table(df: DataFrame) -> DataFrame:
    """One row per column: total rows, non-null count, distinct count —
    computed in a single pass over the table.

    Exact distinct counts are taken over each value's string image —
    injective for the scalar types profiled here (Spark's casts are
    round-trippable), and it lets every column ride one explode."""
    cols = df.columns
    # posexplode keeps null elements, so count(*) per column index is the
    # table's row count — no second scan for n_rows.
    arr = F.array(*[F.col(c).cast("string") for c in cols])
    pairs = df.select(F.posexplode(arr).alias("i", "v"))
    lvl1 = pairs.groupBy("i", "v").agg(F.count(F.lit(1)).alias("c"))
    per = lvl1.groupBy("i").agg(
        F.sum("c").alias("n_rows"),
        F.sum(
            F.when(F.col("v").isNotNull(), F.col("c")).otherwise(F.lit(0))
        ).alias("n_nonnull"),
        F.count("v").alias("n_distinct"),
    )
    # names scaffold (|columns| literal rows, broadcast-joined): an EMPTY
    # table explodes to zero pairs, but the census contract — like the
    # oracle's N UNION branches — is one all-zeros row per column, not a vanishing schema.
    names_df = local_df(
        df.sparkSession, [(i, c) for i, c in enumerate(cols)], "i int, column_name string"
    )
    return (
        # broadcast the aggregated (right) side — the preserved side of a
        # left join cannot be the broadcast side
        names_df.join(F.broadcast(per), "i", "left")
        .select(
            "column_name",
            F.coalesce("n_rows", F.lit(0)).cast("long").alias("n_rows"),
            F.coalesce("n_nonnull", F.lit(0)).cast("long").alias("n_nonnull"),
            F.coalesce("n_distinct", F.lit(0)).cast("long").alias("n_distinct"),
        )
    )
