"""Anomaly rules R1–R5 as declarative DataFrame transforms.

Reference: `core/Rules.kt` (R1 :37-60, R2 :65-93, R3 :98-154, R4 :159-200,
severity :220-231).  Each rule evaluates per arriving event against
trailing windows; the batch twin computes the same predicate per row over
RANGE-frame aggregates (operators/windows.py) and the EWMA scan
(operators/ewma.py).

Output convention: ``*_eval`` functions return one row per evaluated event
with the rule's evidence metrics and a ``fired`` flag (richer than just the
fired subset, and exactly what the correctness oracle compares);
``alerts`` unions the fired rows into the reference's Alert shape
(`core/Alert.kt:6-20`), minus the random alert id (``uuid()`` is
non-deterministic by design — the oracle compares on the deterministic
columns, as FIXTURES.md prescribes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pulseboard_spark.functions.core import duck_round, severity
from pulseboard_spark.operators.ewma import ewma_scan
from pulseboard_spark.operators.windows import with_trailing_aggs

_R = lambda c, n=4: F.round(c, n)  # noqa: E731 — oracle-stable rounding

#: Rule thresholds as CONFIG, not code — the reference's values
#: (`core/Rules.kt` constants / `application.yml`); each ``*_eval`` reads
#: them at call time, so a threshold is one constant away from the
#: expression compiler.
R1_MULTIPLIER = 3.0
R1_MIN_RATE = 20.0
R2_MULTIPLIER = 4.0
R2_MIN_COUNT = 5
R4_AVG_MULTIPLIER = 10.0
R4_FLOOR = 1000.0


def r1_velocity_eval(entity: DataFrame) -> DataFrame:
    """R1 velocity spike: rate_now > R1_MULTIPLIER·avg_5m AND rate_now >= R1_MIN_RATE."""
    df = with_trailing_aggs(entity)
    threshold = F.col("avg_5m") * R1_MULTIPLIER
    fired = (F.col("rate_1m") > threshold) & (F.col("rate_1m") >= R1_MIN_RATE)
    return df.select(
        "event_id",
        "entity_id",
        "type",
        "profile",
        "ts_ms",
        _R(F.col("rate_1m")).alias("rate_now"),
        _R(F.col("avg_5m")).alias("avg_5m"),
        _R(threshold).alias("threshold"),
        fired.alias("fired"),
        F.when(fired, severity(F.col("rate_1m"), threshold)).alias("severity"),
    )


def r2_value_eval(entity: DataFrame) -> DataFrame:
    """R2 value spike: value > R2_MULTIPLIER·ewma_updated AND count_60s >= R2_MIN_COUNT.

    Null-valued events are skipped (`core/Rules.kt:66`).

    Physical shape: the windows' Exchange on (entity_id, type) is the
    query's ONLY shuffle — the EWMA scan rides the same clustering
    (``clustered=True``) and carries the evidence columns through the
    Arrow pass instead of re-attaching them with an event_id join (which
    re-shuffled both sides; 4 Exchanges → 1)."""
    df = ewma_scan(
        with_trailing_aggs(entity),
        carry=["profile", "ts_ms", "count_60s"],
        clustered=True,
    )
    threshold = F.col("ewma") * R2_MULTIPLIER
    fired = (F.col("value") > threshold) & (F.col("count_60s") >= R2_MIN_COUNT)
    return df.select(
        "event_id",
        "entity_id",
        "type",
        "profile",
        "ts_ms",
        _R(F.col("value")).alias("value_now"),
        # EWMA chains produce doubles in F.round's engine-ambiguous zone;
        # round the recurrence-derived outputs with the oracle's op order.
        duck_round(F.col("ewma"), 6).alias("ewma"),
        duck_round(threshold, 6).alias("threshold"),
        F.col("count_60s").cast("long").alias("count_60s"),
        fired.alias("fired"),
        F.when(fired, severity(F.col("value"), threshold)).alias("severity"),
    )


def _r3_conflicts(entity: DataFrame):
    """R3 geo/device mismatch join stage — implemented for real.

    The reference declares the rule (`docs/TICKETS.md:146`) but stubs the
    recent-event lookup to an empty list (`core/Rules.kt:207-215`), so it
    never fires there; we implement the declared spec: same entity, a prior
    event within 2 minutes carrying a different geo or device tag
    (`core/Rules.kt:98-154`).  Severity is constant MEDIUM.

    Physical shape: a RANGE-BUCKETED self-join — the standard interval-join
    decomposition.  A plain equi-join on entity_id alone makes the time
    predicate a post-join filter, so the engine materializes |events/entity|²
    pairs per entity before filtering (quadratic in per-key density; fatal
    for hot entities at 100 TB).  Instead both sides also equi-join on a
    2-minute bucket: each candidate predecessor is advertised at its own
    bucket and the next one, so every trailing-2-min pair lands in exactly
    one (entity_id, bucket) match and fan-out is bounded by per-bucket
    density, not total per-entity history.  The exact time + tie predicate
    remains as the residual filter; results are identical to the naive
    join (pinned by the DuckDB oracle).
    """
    bucket_us = 120 * 1_000_000
    e1 = entity.withColumn("__bkt", (F.col("ts_us") / bucket_us).cast("long")).alias("e1")
    b2 = (F.col("ts_us") / bucket_us).cast("long")
    e2 = (
        entity.withColumn("__bkt", F.explode(F.array(b2, b2 + 1)))
        .alias("e2")
    )
    joined = e1.join(
        e2,
        (F.col("e1.entity_id") == F.col("e2.entity_id"))
        & (F.col("e1.__bkt") == F.col("e2.__bkt"))
        & (F.col("e2.ts_us") >= F.col("e1.ts_us") - bucket_us)
        & (
            (F.col("e2.ts_us") < F.col("e1.ts_us"))
            | (
                (F.col("e2.ts_us") == F.col("e1.ts_us"))
                & (F.col("e2.event_id") < F.col("e1.event_id"))
            )
        ),
        "inner",
    )
    geo_conf = F.col("e1.geo").isNotNull() & F.col("e2.geo").isNotNull() & (
        F.col("e1.geo") != F.col("e2.geo")
    )
    dev_conf = F.col("e1.device").isNotNull() & F.col("e2.device").isNotNull() & (
        F.col("e1.device") != F.col("e2.device")
    )
    conflicts = joined.filter(geo_conf | dev_conf)
    return conflicts, geo_conf, dev_conf


def r3_geo_device_eval(entity: DataFrame) -> DataFrame:
    """Per-event R3 alerts: the conflict pairs of :func:`_r3_conflicts`
    aggregated per triggering event with latest-conflict evidence
    (deterministic (ts, event_id) pick).  Severity constant MEDIUM
    (`core/Rules.kt:98-154`)."""
    conflicts, geo_conf, dev_conf = _r3_conflicts(entity)
    order_key = F.concat(
        F.lpad(F.col("e2.ts_us").cast("string"), 20, "0"),
        F.lpad(F.col("e2.event_id").cast("string"), 12, "0"),
    )
    return (
        conflicts.groupBy(
            F.col("e1.event_id").alias("event_id"),
            F.col("e1.entity_id").alias("entity_id"),
            F.col("e1.type").alias("type"),
            F.col("e1.profile").alias("profile"),
            F.col("e1.ts_ms").alias("ts_ms"),
            F.col("e1.geo").alias("current_geo"),
            F.col("e1.device").alias("current_device"),
        )
        .agg(
            F.max(F.when(geo_conf, order_key)).isNotNull().alias("geo_conflict"),
            F.max(F.when(dev_conf, order_key)).isNotNull().alias("device_conflict"),
            F.max_by(F.when(geo_conf, F.col("e2.geo")), F.when(geo_conf, order_key)).alias("prev_geo"),
            F.max_by(F.when(dev_conf, F.col("e2.device")), F.when(dev_conf, order_key)).alias("prev_device"),
            F.count(F.lit(1)).cast("long").alias("n_conflicts"),
        )
        .withColumn("severity", F.lit("MEDIUM"))
    )


def r4_exfil_eval(entity: DataFrame) -> DataFrame:
    """R4 exfil (SASE only): sum_30s > max(floor(10·avg_1h), 1000).

    The threshold is the reference's P95 *fallback* (`core/Rules.kt:159-200`);
    the true trailing percentile is the ``win_p95_1h`` query.  Severity is
    always HIGH."""
    df = (
        with_trailing_aggs(entity)
        .filter((F.col("profile") == "SASE") & F.col("value").isNotNull())
    )
    p95_threshold = F.greatest(
        F.floor(F.col("avg_1h") * R4_AVG_MULTIPLIER).cast("double"), F.lit(R4_FLOOR)
    )
    fired = F.col("sum_30s") > p95_threshold
    return df.select(
        "event_id",
        "entity_id",
        "type",
        "profile",
        "ts_ms",
        _R(F.col("sum_30s")).alias("sum_30s"),
        _R(p95_threshold).alias("p95_threshold"),
        _R(F.col("value")).alias("current_value"),
        fired.alias("fired"),
        F.when(fired, F.lit("HIGH")).alias("severity"),
    )


def alerts(entity: DataFrame) -> DataFrame:
    """Union of fired R1/R2/R3/R4 rows in Alert shape.

    Columns: rule, entity_id, ts_ms, severity, event_id (deterministic join
    key back to evidence; the reference's random uuid alert id is
    intentionally not reproduced)."""
    shape = ["rule", "entity_id", "ts_ms", "severity", "event_id"]
    r1 = (
        r1_velocity_eval(entity)
        .filter("fired")
        .select(F.lit("R1_VELOCITY_SPIKE").alias("rule"), "entity_id", "ts_ms", "severity", "event_id")
    )
    r2 = (
        r2_value_eval(entity)
        .filter("fired")
        .select(F.lit("R2_VALUE_SPIKE").alias("rule"), "entity_id", "ts_ms", "severity", "event_id")
    )
    r3 = r3_geo_device_eval(entity).select(
        F.lit("R3_GEO_DEVICE_MISMATCH").alias("rule"), "entity_id", "ts_ms", "severity", "event_id"
    )
    r4 = (
        r4_exfil_eval(entity)
        .filter("fired")
        .select(F.lit("R4_EXFIL").alias("rule"), "entity_id", "ts_ms", "severity", "event_id")
    )
    return r1.select(shape).unionByName(r2.select(shape)).unionByName(r3.select(shape)).unionByName(r4.select(shape))
