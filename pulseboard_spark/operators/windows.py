"""Trailing (sliding, per-event) window aggregates — the WindowStore layer.

Reference: `core/WindowStore.kt` — per-(entityId, type) deques queried with
inclusive trailing ranges relative to "now":
  * ratePerMin  = count in [now-60s, now]            (`WindowStore.kt:55-67`)
  * sumIn(d)    = sum   in [now-d, now]              (`WindowStore.kt:72-84`)
  * countIn(d)  = count in [now-d, now]              (`WindowStore.kt:89-101`)
  * avgOverLast = sumIn/countIn over N minutes       (`WindowStore.kt:137-147`)

In the reference "now" is the processing-time clock at evaluation; events are
appended before rules run (`ingest/Processor.kt:79-128`), so the current
event is always inside its own window.  The batch twin is event-time exact:
"now" = the current row's ``ts``, expressed as a RANGE frame over epoch
micros — Catalyst evaluates all frames for one partition in a single sort,
no shuffle beyond the hash partition on (entity_id, type).

Scale posture: one shuffle on (entity_id, type); frames are bounded (≤1 h)
so state per key is small, but a key's whole partition runs on one task.
AQE splits skewed partitions only for joins (``OptimizeSkewedJoin``) and
rebalance hints, never for a window, so a hot entity is one straggler task;
pathological single-key skew needs a salted key (SCALE.md §Trailing
windows).  The streaming twin prunes each key's buffer to the 1 h horizon.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

US_PER_SEC = 1_000_000


def trailing_window(partition_cols: list[str], seconds: int) -> WindowSpec:
    """RANGE frame over ``ts_us`` covering the inclusive trailing
    ``seconds`` window."""
    return (
        Window.partitionBy(*partition_cols)
        .orderBy(F.col("ts_us"))
        .rangeBetween(-seconds * US_PER_SEC, 0)
    )


def with_trailing_aggs(df: DataFrame) -> DataFrame:
    """Add the full WindowStore aggregate surface over ``value`` per
    (entity_id, type) as columns.

    rate_1m (A2), sum_30s (A3), count_60s (A4), avg_5m / avg_1h (A5).
    All windows are inclusive of the current row, matching
    ``countInRange``'s closed interval (`WindowStore.kt:184-191`).

    Tie semantics: the reference evaluates PER ARRIVAL — an event never
    sees a later-arriving event, even at the same timestamp — and the
    engine's total order for arrival is (ts_us, event_id) (the same order
    the EWMA scan, LWW merges and the streaming in-order drain use).  A
    bare RANGE frame ordered by ts_us includes all timestamp PEERS, i.e.
    lets an event see same-ts events that arrive after it (found by
    tests/test_fuzz_rules.py), so each aggregate subtracts the
    contribution of peers with a larger event_id, taken from one ROWS
    frame over the same-ts peers ordered by event_id.  At zero ties that
    frame is empty, the adjustments are 0/0.0 and every value is exactly the
    bare RANGE frame's.

    Empty value windows are uniformly 0.0: ``sumInRange`` returns 0 when
    nothing (non-null) is in range (`WindowStore.kt:72-84`), so sum_30s
    coalesces the frame total before the peer subtraction — otherwise a
    window whose only rows are null-valued would be NULL while a window
    whose only non-null rows are later peers would be 0.0 (inconsistent,
    and neither matches the reference or the streaming kernel's prefix
    sums, which are 0.0 in both cases).

    Known tolerance (documented, fuzz-masked by a dyadic value alphabet):
    the batch side computes per-arrival sums as frame-total MINUS the
    later-peer suffix, while the streaming kernel sums the arrival-ordered
    prefix directly and the DuckDB oracle takes the suffix as peer total
    minus running prefix.  For non-dyadic float values the roundings can
    differ by ulps and flip a strict ``>`` at a rule threshold.  This is
    inherent to any subtract-vs-accumulate pair of float plans (the same
    class as Spark partial-agg reordering); rules round evidence columns
    before comparison, and at zero same-ts ties (the driver testdata and
    every real CDP feed keyed by event_id) the suffix is the empty sum 0.0
    and the plans are bit-identical.
    """
    cols = ["entity_id", "type"]
    w60 = trailing_window(cols, 60)
    w30 = trailing_window(cols, 30)
    w5m = trailing_window(cols, 300)
    w1h = trailing_window(cols, 3600)
    v = F.col("value")
    # later-peer suffix: same-ts rows with a larger event_id, as one ROWS
    # frame; Catalyst groups it into one Window node next to the RANGE node
    later = (
        Window.partitionBy(*cols, "ts_us")
        .orderBy("event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    # each distinct window aggregate is projected once (Catalyst does not
    # merge a repeated one: an inline reuse is evaluated again), then the
    # five columns are derived from the projected values
    aggs = {
        "__n60": F.count(F.lit(1)).over(w60),
        "__s30": F.sum(v).over(w30),
        "__c60": F.count(v).over(w60),
        "__c5m": F.count(v).over(w5m),
        "__s5m": F.sum(v).over(w5m),
        "__c1h": F.count(v).over(w1h),
        "__s1h": F.sum(v).over(w1h),
        "__rows_after": F.count(F.lit(1)).over(later),
        "__cnt_after": F.count(v).over(later),
        "__sum_after": F.sum(v).over(later),
    }
    cnt_after = F.col("__cnt_after")
    sum_after = F.coalesce(F.col("__sum_after"), F.lit(0.0))

    def adj_avg(span: str) -> Column:
        cnt = F.col(f"__c{span}") - cnt_after
        return F.when(cnt > 0, (F.col(f"__s{span}") - sum_after) / cnt).otherwise(0.0)

    return (
        df.select("*", *(a.alias(n) for n, a in aggs.items()))
        .select(
            "*",
            (F.col("__n60") - F.col("__rows_after")).cast("double").alias("rate_1m"),
            (F.coalesce(F.col("__s30"), F.lit(0.0)) - sum_after).alias("sum_30s"),
            (F.col("__c60") - cnt_after).alias("count_60s"),
            adj_avg("5m").alias("avg_5m"),
            adj_avg("1h").alias("avg_1h"),
        )
        .drop(*aggs)
    )


MINUTE_MS = 60_000


def minute_counts(df: DataFrame) -> DataFrame:
    """A9 batch twin (`core/StatsService.kt:19-55`): global per-minute
    tumbling event counts — the events/min ops gauge as an event-time table.
    One partial-aggregated groupBy."""
    m = (F.col("ts_ms") - F.col("ts_ms") % MINUTE_MS).alias("minute_ms")
    return df.groupBy(m).agg(F.count(F.lit(1)).cast("long").alias("n_events"))


def sliding_rate_5m(df: DataFrame) -> DataFrame:
    """A15 (`ui/src/lib/slidingWindow.ts:15-79`): per minute, the trailing
    5-minute sliding count and per-minute rate.

    Two-level: pre-aggregate to 1-min buckets (partial agg map-side), then a
    RANGE frame over the bucket table — the frame runs over minutes, not
    events, so the unpartitioned window is over an already-tiny series (the
    global ops gauge; at 100 TB partition the gauge by tenant/profile)."""
    per_min = minute_counts(df)
    w = Window.orderBy("minute_ms").rangeBetween(-(4 * MINUTE_MS), 0)
    cnt = F.sum("n_events").over(w)
    return per_min.select(
        "minute_ms",
        cnt.cast("long").alias("cnt_5m"),
        (cnt / F.lit(5.0)).alias("rate_per_min"),
    )


def unique_entities_5m(df: DataFrame) -> DataFrame:
    """A16 (`ui/src/lib/slidingWindow.ts:85-108`): distinct entity_ids per 5-min
    tumbling window.  Exact count_distinct (two-phase: partial distinct
    map-side); the 100 TB path is ``approx_count_distinct`` (HLL merge, no
    distinct shuffle) — same call shape, documented divergence."""
    w5 = (F.col("ts_ms") - F.col("ts_ms") % (5 * MINUTE_MS)).alias("window_ms")
    return df.groupBy(w5).agg(F.count_distinct(F.col("entity_id")).cast("long").alias("uniques"))
