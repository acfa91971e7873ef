"""Rolling counter (A7): per-key event counts over a bucketed trailing window.

Reference: `cdp/store/RollingCounter.kt` — 1-minute buckets
(toBucketTimestamp :164-168), count = sum of buckets >= floor(now − window)
(:80-110), eviction of older buckets (:118-159).

Batch twin: for each TRACK event ("query at event time"), count same-key
events at-or-before it (lexicographic (ts, eventId) order) whose bucket is
inside the trailing 24 h bucket range — exactly tailMap(cutoffBucket,
inclusive).

Implemented with window functions, ONE shuffle on (pid, name), no
self-join.  The algebra: because the 24 h horizon is a whole multiple of
the 1-min bucket, ``bucket(ts − 24h) = bucket(ts) − 24h``, so

    cnt(e) = #{e' ≤ e}                                  (row_number)
           − #{e' : bucket(e') < bucket(e) − 24h}       (RANGE-frame count)

— the second term needs no order tiebreak since an older bucket implies a
strictly smaller (ts, eventId).  Both windows share the partition key, so
Catalyst plans a single exchange with two sorts.  This form survives scale:
the earlier self-join twin was Σ k² per key; this is O(n log n) per
partition with map-side nothing to explode.  The streaming twin is the
minute-bucket counter ``profile_apply_stateful`` keeps per profile.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pulseboard_spark.operators.profiles import DAY_MS, MINUTE_MS, _bucket_ms


def rolling_counter_24h(cvalid: DataFrame) -> DataFrame:
    """Per TRACK event: trailing 24 h bucketed count for (pid, name).

    pid = primary identifier (user id, else anon id) — identity-independent
    counter key, the store's profileId argument."""
    trk = cvalid.filter((F.col("ctype") == "TRACK") & F.col("name").isNotNull()).select(
        "event_id",
        "ts_us",
        "ts_ms",
        "name",
        F.coalesce(F.col("nuser"), F.col("nanon")).alias("pid"),
        _bucket_ms(F.col("ts_ms")).alias("bucket_ms"),
    )
    w_rn = Window.partitionBy("pid", "name").orderBy("ts_us", "event_id")
    w_old = (
        Window.partitionBy("pid", "name")
        .orderBy("bucket_ms")
        .rangeBetween(Window.unboundedPreceding, -(DAY_MS + MINUTE_MS))
    )
    return trk.select(
        "event_id",
        "pid",
        "name",
        "ts_ms",
        (F.row_number().over(w_rn) - F.count(F.lit(1)).over(w_old)).cast("long").alias("cnt_24h"),
    )
