"""Slowly-changing-dimension (SCD2) history from event streams.

The reference's profile store is last-write-wins only: a trait update
overwrites the previous value and the history is gone
(`cdp/store/ProfileStore.kt:85-122`).  A warehouse wants the full type-2
history — one row per (profile, trait) value *interval* with
valid_from/valid_to bounds — so downstream joins can ask "what plan was
this profile on when the order happened".  This operator derives that
history from the same IDENTIFY stream the LWW merge consumes, making it a
strict superset of A12: the last interval of the history IS the LWW value.

Shape at scale: gaps-and-islands over one window pass.  The stream is
shuffled once by (profile_id, trait) and sorted by the LWW order key;
`lag` collapses consecutive repeats (an IDENTIFY that re-asserts the same
plan opens no new interval), `lead`/`row_number` close and number the
surviving change rows.  State per key is O(1) during the scan and the
output is bounded by the number of *changes*, not events — at 100 TB the
window input can be pre-shrunk with a (profile, trait, value)-change
pre-filter, but the single-pass form already avoids any self-join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pulseboard_spark.functions.core import lww_order_key


def changes_to_intervals(long: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Collapse an ordered (keys…, okey, value, ts_ms) change stream into
    SCD2 intervals: rows where the value differs from the previous value
    open an interval; ``valid_to`` is the next interval's ``valid_from``
    (NULL for the current one); ``version`` numbers intervals per key."""
    key_cols = [F.col(k) for k in keys]
    w = Window.partitionBy(*key_cols).orderBy("okey")
    changed = (
        long.withColumn("__prev", F.lag("value").over(w))
        .filter(F.col("__prev").isNull() | (F.col("__prev") != F.col("value")))
        .drop("__prev")
    )
    # Window input here is already reduced to change rows, so the second
    # pass is cheap; same partitioning → no extra exchange.
    return changed.select(
        *keys,
        "value",
        F.col("ts_ms").alias("valid_from_ms"),
        F.lead("ts_ms").over(w).alias("valid_to_ms"),
        F.row_number().over(w).cast("int").alias("version"),
    )


def trait_history(evprof: DataFrame) -> DataFrame:
    """SCD2 history of the plan and country profile traits from resolved
    IDENTIFY events.

    Input is the resolved event stream (``resolve_profiles`` output:
    profile_id + cvalid columns).  Traits are unpivoted to long form so one
    window pass covers every trait; the (ts_us, event_id) LWW order key
    gives the same deterministic total order the profile merge uses
    (`functions/core.py::lww_order_key`), so the open interval of this
    history always equals `build_profiles`' LWW trait value.
    """
    tv = F.explode(
        F.array(
            *[
                F.struct(F.lit(t).alias("trait"), F.col(t).alias("value"))
                for t in ("plan", "country")
            ]
        )
    )
    long = (
        evprof.filter(F.col("ctype") == "IDENTIFY")
        .select(
            "profile_id",
            "ts_ms",
            lww_order_key(F.col("ts_us"), F.col("event_id")).alias("okey"),
            tv.alias("tv"),
        )
        .select("profile_id", "ts_ms", "okey", F.col("tv.trait").alias("trait"), F.col("tv.value").alias("value"))
        .filter(F.col("value").isNotNull())
    )
    return changes_to_intervals(long, ["profile_id", "trait"])


def point_in_time_trait(evprof: DataFrame, history: DataFrame) -> DataFrame:
    """Point-in-time (temporal) join — the query the SCD2 history exists
    to answer: for each ALIAS event, which plan interval was in force at
    the event's timestamp ("what plan was this profile on when the
    purchase happened").  Intervals are half-open ``[valid_from, valid_to)`` and
    partition each profile's timeline, so at most one interval matches;
    events before the profile's first recorded value keep a NULL trait
    (left join) rather than dropping.

    Scale: an equi-join on profile_id with the interval bounds as
    residual conditions — Catalyst plans the hash/sort-merge on the
    equi key and evaluates the range residual in place, so there is no
    interval explosion; the history side is bounded by the number of
    trait *changes*, not events, and broadcasts while small."""
    ev = evprof.filter(F.col("ctype") == "ALIAS").select(
        "event_id", F.col("ts_ms").alias("event_ms"), "profile_id"
    )
    h = history.filter(F.col("trait") == "plan").select(
        F.col("profile_id").alias("h_profile_id"),
        F.col("value").alias("trait_value"),
        "valid_from_ms",
        "valid_to_ms",
        "version",
    )
    cond = (
        (ev["profile_id"] == h["h_profile_id"])
        & (ev["event_ms"] >= h["valid_from_ms"])
        & (h["valid_to_ms"].isNull() | (ev["event_ms"] < h["valid_to_ms"]))
    )
    return ev.join(h, cond, "left").select(
        "event_id", "profile_id", "event_ms", "trait_value", "version"
    )
