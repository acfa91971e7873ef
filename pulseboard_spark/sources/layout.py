"""Physical data layout: bucketed tables and partitioned writes.

The reference keeps everything in heap maps, so "layout" doesn't exist for
it (`ingest/WindowStore.kt`, `cdp/store/ProfileStore.kt` — SURVEY §2.1).
At 100 TB, layout is the single biggest lever this engine has:

  * **Bucketing** pre-shuffles a table ONCE at write time.  Every later
    join or aggregation on the bucket key reads co-located buckets and
    skips its Exchange entirely — for a fact⋈fact join that is the
    dominant cost of the query.  Bucket counts should match between
    co-joined tables (Spark joins bucketed tables exchange-free when the
    bucket counts are equal, or one is a multiple of the other with
    ``spark.sql.bucketing.coalesceBucketsInJoin.enabled``).
  * **Partitioned writes** (directory partitioning on a low-cardinality
    time/category column) turn time-range predicates into partition
    pruning: files outside the range are never opened — the plan shows
    them under ``PartitionFilters``.
  * **Sorted-within-partition writes** tighten parquet row-group min/max
    stats so even intra-file predicate pushdown skips pages.

Bucket-count sizing: target 128–512 MB of post-compression data per
bucket at the expected table size (so a 10 TB fact at 256 MB/bucket →
~40 k buckets); too few buckets caps join parallelism, too many makes
small files.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    path: str,
) -> None:
    """Persist ``df`` as a bucketed and bucket-sorted external table.

    Sorting by the bucket key lets sort-merge joins skip their Sort too
    when each bucket holds a single file — pre-repartitioning on the
    bucket key achieves that (one writer task per bucket).
    """
    cols = list(bucket_cols)
    writer = df.repartition(num_buckets, *cols).write.bucketBy(num_buckets, *cols).sortBy(*cols)
    writer.option("path", path).mode("overwrite").format("parquet").saveAsTable(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Directory-partitioned parquet write; optionally sorted within
    partitions so row-group min/max stats stay tight for pushdown."""
    out = df
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    out.write.partitionBy(*list(partition_cols)).mode("overwrite").parquet(path)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Read a previously written bucketed table (bucketing metadata comes
    from the catalog, so reads must go through the table name, not the
    path — a raw ``spark.read.parquet(path)`` loses bucket info)."""
    return spark.table(table)


def _spread_bits16(x):
    """Spread the low 16 bits of ``x`` so bit i lands at position 2i —
    classic Morton magic-number twiddling, pure int64 arithmetic that is
    bit-identical on any engine (the DuckDB oracle mirrors each step)."""
    from pyspark.sql import functions as F

    x = x.bitwiseAND(F.lit(0xFFFF))
    x = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(0x00FF00FF))
    x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
    x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(0x33333333))
    x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(0x55555555))
    return x


def zorder_key(a, b):
    """Z-order (Morton) key interleaving the low 16 bits of two columns —
    the multi-dimensional clustering primitive: sorting/range-partitioning
    a fact by this key co-locates rows that are close in BOTH dimensions,
    so a (user ∧ time) predicate prunes row groups on both axes at once,
    where a single-column sort only ever prunes one.  This is exactly what
    Delta's OPTIMIZE ZORDER BY computes; here it is a plain deterministic
    Column any writer can sortWithinPartitions / repartitionByRange on."""
    from pyspark.sql import functions as F

    return _spread_bits16(a).bitwiseOR(F.shiftleft(_spread_bits16(b), 1)).cast("long")


def zorder_layout_audit(ev) -> "DataFrame":
    """Layout audit for a Z-ordered (user, hour) clustering of the event
    fact: bucket the Morton key space evenly into 64 and report, per bucket, the
    row count and the spans it would confine a reader to — distinct
    users and the hour range.  Tight per-bucket spans on BOTH dimensions
    are the locality a z-layout buys (a pure time-sort shows one tight
    and one full-width column here).

    Each dimension is min/max-normalized into the full 16-bit space
    before interleaving (a 1-row broadcast stat join) — raw values
    cluster in a sliver of the key space (epoch-hours share their high
    bits), which would degenerate every row into one bucket.  All
    integer arithmetic; the rollup is one map-side-combined aggregate
    on the bucket id."""
    from pyspark.sql import functions as F

    base = ev.select(
        F.col("entity_id"),
        F.col("entity_id").cast("long").alias("_u"),
        F.expr("ts_ms div 3600000").alias("_hour"),
    )
    stats = base.agg(
        F.min("_u").alias("umin"),
        F.max("_u").alias("umax"),
        F.min("_hour").alias("hmin"),
        F.max("_hour").alias("hmax"),
    )
    norm = base.crossJoin(F.broadcast(stats)).select(
        "entity_id",
        "_hour",
        F.expr("((_u - umin) * 65535) div greatest(umax - umin, 1)").alias("_un"),
        F.expr("((_hour - hmin) * 65535) div greatest(hmax - hmin, 1)").alias("_hn"),
    )
    bucketed = norm.select(
        zorder_key(F.col("_un"), F.col("_hn")).alias("_z"),
        "entity_id",
        "_hour",
    ).select(
        # integer div keeps the bucket id engine-exact (the key space is
        # 32 bits wide: two interleaved 16-bit dimensions)
        F.expr(f"(_z * 64) div {1 << 32}").cast("long").alias("z_bucket"),
        "entity_id",
        "_hour",
    )
    return bucketed.groupBy("z_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("entity_id").cast("long").alias("n_users"),
        F.min("_hour").cast("long").alias("min_hour"),
        F.max("_hour").cast("long").alias("max_hour"),
    )
