"""Behavioral analytics over the event stream: sessionization, funnels,
retention cohorts.

The reference's only notion of a session is the `reengage` inactivity
timeout (`cdp/segments/SegmentEngine.kt:147-151` — SURVEY W10); these
operators generalize that into the standard product-analytics family a CDP
engine is expected to answer, as oracle-checked batch queries.

Scale notes:
  * ``sessionize`` is gaps-and-islands: one shuffle on the entity key, one
    ordered scan (lag + running sum share the same sort), then a partial
    aggregation on (entity, session_no).
  * ``funnel`` computes all step timestamps in ONE window pass per step
    over the same per-entity sort (no self-joins — the naive k-way
    step-join explodes on hot entities), then reduces to a k-row summary.
  * ``retention_cohorts`` uses pure integer epoch-week arithmetic, so the
    bucketing is engine-exact (no calendar/timezone drift between Spark
    and the oracle).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DAY_MS = 86_400_000
#: A session closes after this much inactivity (strictly greater gap).
SESSION_GAP_MS = 30 * 60 * 1000
#: The ordered funnel every funnel operator walks.
STEPS = ("view", "click", "purchase")
#: How far back a conversion looks for its first/last touch.
ATTRIBUTION_LOOKBACK_MS = DAY_MS


def session_numbers(
    df: DataFrame, key: str, gap_ms: int
) -> DataFrame:
    """THE gap-session boundary definition, single-sourced: a new session
    opens when the gap to the key's previous event (ordered by
    (ts_ms, event_id)) is STRICTLY greater than ``gap_ms``.  Adds a
    per-key 1-based ``session_no``.  Shared by :func:`sessionize` and
    `operators/identity.canonical_sessions` so the boundary rule cannot
    drift between the device-keyed and identity-stitched views."""
    w = Window.partitionBy(key).orderBy("ts_ms", "event_id")
    prev_ts = F.lag("ts_ms").over(w)
    is_new = (
        prev_ts.isNull() | ((F.col("ts_ms") - prev_ts) > F.lit(int(gap_ms)))
    ).cast("long")
    run = Window.partitionBy(key).orderBy("ts_ms", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        df.withColumn("_new", is_new)
        .withColumn("session_no", F.sum("_new").over(run))
        .drop("_new")
    )


def sessionize(ev: DataFrame) -> DataFrame:
    """Assign gap-based sessions and aggregate per session.

    A new session starts when the gap to the previous event of the same
    entity exceeds ``SESSION_GAP_MS`` (strictly greater).  Output one row
    per session: session_id, entity_id, session_start_ms, session_end_ms,
    duration_ms, n_events, sum_value.
    """
    with_sess = session_numbers(ev, "entity_id", SESSION_GAP_MS)
    return (
        with_sess.groupBy("entity_id", "session_no")
        .agg(
            F.min("ts_ms").alias("session_start_ms"),
            F.max("ts_ms").alias("session_end_ms"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(27,6)")).cast("double"), 4
            ).alias("sum_value"),
        )
        .select(
            F.concat(F.col("entity_id"), F.lit("#"), F.col("session_no").cast("string")).alias(
                "session_id"
            ),
            F.col("entity_id"),
            "session_start_ms",
            "session_end_ms",
            (F.col("session_end_ms") - F.col("session_start_ms")).alias("duration_ms"),
            "n_events",
            "sum_value",
        )
    )


def _step_times(ev: DataFrame, steps: Sequence[str], key: str) -> DataFrame:
    """Per-entity first-occurrence time of each funnel step, where step i
    must land STRICTLY AFTER the entity's step-(i-1) time — THE one
    definition of funnel step semantics, shared by :func:`funnel` (counts)
    and :func:`funnel_latency` (gaps) so the two can never disagree.
    Output: (key, t1..tk) — one row per entity, one entity-key shuffle."""
    w = Window.partitionBy(key)
    cur = ev
    prev_col = None
    for i, s in enumerate(steps, start=1):
        cond = F.col("type") == s
        if prev_col is not None:
            cond = cond & F.col(prev_col).isNotNull() & (F.col("ts_ms") > F.col(prev_col))
        cur = cur.withColumn(f"_t{i}", F.min(F.when(cond, F.col("ts_ms"))).over(w))
        prev_col = f"_t{i}"
    return cur.groupBy(key).agg(
        *[F.first(f"_t{i}").alias(f"t{i}") for i in range(1, len(steps) + 1)]
    )


def funnel(ev: DataFrame) -> DataFrame:
    """Ordered k-step funnel over ``STEPS``: an entity reaches step i when
    an event of ``STEPS[i]`` occurs strictly after its step-(i-1) time
    (first such occurrence counts).  Output one row per step: step_no,
    step, n_entities, conversion (fraction of step-1 entities, 4 dp).
    """
    per_entity = _step_times(ev, STEPS, "entity_id")
    counts = per_entity.agg(
        *[
            F.sum(F.col(f"t{i}").isNotNull().cast("long")).alias(f"n{i}")
            for i in range(1, len(STEPS) + 1)
        ]
    )
    stack_args = ", ".join(
        f"{i}, '{s}', n{i}" for i, s in enumerate(STEPS, start=1)
    )
    return counts.selectExpr(
        f"stack({len(STEPS)}, {stack_args}) AS (step_no, step, n_entities)"
    ).select(
        F.col("step_no").cast("int").alias("step_no"),
        "step",
        F.coalesce(F.col("n_entities"), F.lit(0)).alias("n_entities"),
        F.round(
            F.col("n_entities")
            / F.nullif(F.first("n_entities").over(Window.orderBy("step_no").rowsBetween(Window.unboundedPreceding, Window.currentRow)), F.lit(0)),
            4,
        ).alias("conversion"),
    )


def retention_cohorts(ev: DataFrame) -> DataFrame:
    """Weekly retention matrix: cohort_week = the entity's first active
    epoch-week; one output row per (cohort_week, week_offset) counting
    entities from that cohort active in that later week."""
    weekly = ev.select(
        F.col("entity_id"), F.expr(f"ts_ms div {7 * DAY_MS}").alias("week")
    ).distinct()
    w = Window.partitionBy("entity_id")
    with_cohort = weekly.withColumn("cohort_week", F.min("week").over(w))
    return (
        with_cohort.groupBy(
            "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


def funnel_latency(ev: DataFrame) -> DataFrame:
    """Time-to-convert between adjacent ``STEPS``: for every entity
    that reached step i+1, the gap between its step-i and step-(i+1)
    first-occurrence times (the same strictly-after step times as
    :func:`funnel`) — the "how long does conversion take" companion to
    the "how many convert" funnel.

    Latency stats are LOWER DISCRETE quantiles from a (pair, latency)
    histogram — actual data elements, integer-exact on both engines (the
    same cumulative-count pattern as `mad_outliers`): n_converted, median,
    p90, max, all in ms.

    Scale: one shuffle on the entity key computes every step time (k
    window passes over the same partitioning); the histogram shuffles
    (pair, latency_ms) rows — bounded by |converting entities|, and the
    quantile window runs over distinct latency values per pair.
    """
    per_entity = _step_times(ev, STEPS, "entity_id")
    pairs = None
    for i in range(1, len(STEPS)):
        leg = per_entity.where(F.col(f"t{i + 1}").isNotNull()).select(
            F.lit(f"{STEPS[i - 1]}>{STEPS[i]}").alias("step_pair"),
            (F.col(f"t{i + 1}") - F.col(f"t{i}")).alias("lat_ms"),
        )
        pairs = leg if pairs is None else pairs.unionByName(leg)
    hist = pairs.groupBy("step_pair", "lat_ms").agg(F.count(F.lit(1)).alias("c"))
    wp = Window.partitionBy("step_pair")
    cum = hist.withColumn("cum", F.sum("c").over(wp.orderBy("lat_ms"))).withColumn(
        "tot", F.sum("c").over(wp)
    )
    return cum.groupBy("step_pair").agg(
        F.max("tot").alias("n_converted"),
        F.min(F.when(F.expr("cum >= (tot + 1) div 2"), F.col("lat_ms"))).alias("med_latency_ms"),
        F.min(F.when(F.expr("cum * 10 >= tot * 9"), F.col("lat_ms"))).alias("p90_latency_ms"),
        F.max("lat_ms").alias("max_latency_ms"),
    )


def time_to_return(ev: DataFrame) -> DataFrame:
    """Inter-session return-time stats: for every session after an
    entity's first, the gap between the previous session's end and this
    session's start — the churn-risk signal product teams watch next to
    the funnel.  Aggregated per profile with
    the usual engine-exact surfaces: n gaps, lower-discrete median/p90,
    max (ms), and returning-entity count.

    Scale: rides :func:`sessionize`'s one entity-key shuffle (the lag
    over session starts reuses the same partitioning — sessions per
    entity are tiny), then a (group, gap) histogram; quantiles are
    cumulative-count arithmetic on distinct gap values.
    """
    sess = sessionize(ev).select("entity_id", "session_start_ms", "session_end_ms")
    groups = ev.select("entity_id", "profile").distinct()
    w = Window.partitionBy("entity_id").orderBy("session_start_ms")
    # cache(): the histogram and the returning-entity count are two
    # independent consumers of the session-bounded gap table (AQE does not
    # stitch them — the mad_outliers/label_cohesion precedent); the entry
    # is |sessions − entities| rows
    gaps = (
        sess.withColumn("prev_end", F.lag("session_end_ms").over(w))
        .where(F.col("prev_end").isNotNull())
        .select("entity_id", (F.col("session_start_ms") - F.col("prev_end")).alias("gap_ms"))
        .join(groups, "entity_id")
        .cache()
    )
    hist = gaps.groupBy("profile", "gap_ms").agg(F.count(F.lit(1)).alias("c"))
    wp = Window.partitionBy("profile")
    cum = hist.withColumn("cum", F.sum("c").over(wp.orderBy("gap_ms"))).withColumn(
        "tot", F.sum("c").over(wp)
    )
    ents = gaps.groupBy("profile").agg(F.count_distinct("entity_id").alias("n_returning"))
    stats = cum.groupBy("profile").agg(
        F.max("tot").alias("n_gaps"),
        F.min(F.when(F.expr("cum >= (tot + 1) div 2"), F.col("gap_ms"))).alias("med_gap_ms"),
        F.min(F.when(F.expr("cum * 10 >= tot * 9"), F.col("gap_ms"))).alias("p90_gap_ms"),
        F.max("gap_ms").alias("max_gap_ms"),
    )
    return stats.join(ents, "profile").select(
        "profile", "n_returning", "n_gaps", "med_gap_ms", "p90_gap_ms", "max_gap_ms"
    )


def session_basket_lift(ev: DataFrame) -> DataFrame:
    """Market-basket analysis over sessions: for every pair of event
    types that co-occur in a session, support and LIFT — does seeing
    type a in a session make type b more likely than its base rate?
    (lift > 1e6 ppm ⇒ positive association).  The classic retail
    affinity op, with sessions as baskets.

    All surfaces are exact integer rationals:
    lift_ppm = (n_ab · n_sessions · 1e6) // (n_a · n_b), with the
    numerator routed through DECIMAL(38,0): at production session counts
    (≥1e6 sessions) the three-way BIGINT product exceeds int64, where
    Spark (non-ANSI) would wrap silently and DuckDB would raise — the
    decimal route is exact in both engines and still surfaces BIGINT.

    Scale: sessionization's one entity shuffle, then baskets collapse to
    DISTINCT (session, type) rows — |sessions|·|types| at worst; the
    pair join is per session-key (bounded fan-out: ≤ |types|² per
    basket) and the rollup is map-side combined to ≤ |types|² rows.
    """
    sess = (
        session_numbers(ev.select("entity_id", "type", "ts_ms", "event_id"), "entity_id", SESSION_GAP_MS)
        .select(
            F.concat(F.col("entity_id"), F.lit("#"), F.col("session_no").cast("string")).alias("sid"),
            "type",
        )
        .distinct()
    )
    # 1-row broadcast stat join, not a driver count — nothing runs at
    # plan time and the total rides the plan like every other global stat
    totals = sess.agg(F.count_distinct("sid").alias("n_sessions"))
    per_type = sess.groupBy("type").agg(F.count(F.lit(1)).alias("n_t"))
    a = sess.select("sid", F.col("type").alias("type_a"))
    b = sess.select("sid", F.col("type").alias("type_b"))
    pairs = (
        a.join(b, "sid")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    na = per_type.select(F.col("type").alias("type_a"), F.col("n_t").alias("n_a"))
    nb = per_type.select(F.col("type").alias("type_b"), F.col("n_t").alias("n_b"))
    return (
        pairs.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .crossJoin(F.broadcast(totals))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            "n_a",
            "n_b",
            "n_sessions",
            F.expr(
                "CAST((CAST(n_ab AS DECIMAL(38,0)) * n_sessions * 1000000)"
                " div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


def retention_curve(ev: DataFrame) -> DataFrame:
    """Aggregate day-N-style retention curve (weekly grain): for each
    week offset k, the share of eligible cohort members still active k
    weeks after their first week — the single curve product reviews
    read, rolled up from the per-cohort retention matrix.

    Eligibility handles the observation triangle exactly: a cohort is
    eligible at offset k iff the data horizon reaches ``cohort_week +
    k`` — and an eligible cohort with ZERO actives at that offset stays
    in the denominator (the eligible grid is generated from the cohort
    base × its reachable offsets, then the sparse activity matrix
    left-joins on; filtering the matrix's own rows instead would
    silently drop fully-churned cohorts and inflate the curve).
    Retention is an exact integer ppm of summed actives over summed
    eligible cohort sizes.

    Scale: rides the same (entity, week) distinct collapse as
    :func:`retention_cohorts`; the generated grid is
    |cohorts|·|offsets| rows — metadata-sized."""
    matrix = retention_cohorts(ev)
    horizon = matrix.agg(
        F.max(F.col("cohort_week") + F.col("week_offset")).alias("_max_week")
    )
    base = matrix.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_active").alias("_base")
    )
    grid = (
        base.join(F.broadcast(horizon))
        .select(
            "cohort_week",
            "_base",
            F.explode(
                F.sequence(F.lit(0), F.col("_max_week") - F.col("cohort_week"))
            ).alias("week_offset"),
        )
    )
    return (
        grid.join(matrix, ["cohort_week", "week_offset"], "left")
        .groupBy("week_offset")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cohorts"),
            F.sum(F.coalesce("n_active", F.lit(0))).cast("long").alias("n_active"),
            F.sum("_base").cast("long").alias("n_eligible"),
            F.expr(
                "CAST((sum(coalesce(n_active, 0)) * 1000000) div sum(_base) AS BIGINT)"
            ).alias("retention_ppm"),
        )
    )


def purchase_attribution(ev: DataFrame) -> DataFrame:
    """Marketing attribution: for each conversion (``purchase``) event,
    the FIRST-touch and LAST-touch non-conversion event type within the
    trailing ``ATTRIBUTION_LOOKBACK_MS`` window — the two classic single-touch attribution
    models; a conversion with no touch inside the window keeps NULLs
    (organic / outside-window).

    Touches are reduced to a zero-padded sortable ``ts|event_id|type``
    key so min/max over a RANGE frame pick the first/last touch
    deterministically even under timestamp ties (the same tie-stable
    trick as the LWW order key) — no IGNORE NULLS window support needed
    on either engine, since aggregates skip NULLs natively.

    Scale: one shuffle on the entity key; both attribution models ride
    the same RANGE frame over the same sorted partition, and the frame
    holds at most the lookback's events per entity."""
    key = F.when(
        F.col("type") != "purchase",
        F.concat(
            F.lpad(F.col("ts_ms").cast("string"), 15, "0"),
            F.lit("|"),
            F.lpad(F.col("event_id").cast("string"), 12, "0"),
            F.lit("|"),
            F.col("type"),
        ),
    )
    w = (
        Window.partitionBy("entity_id")
        .orderBy("ts_ms")
        .rangeBetween(-ATTRIBUTION_LOOKBACK_MS, -1)
    )
    enriched = (
        ev.select("entity_id", "event_id", "ts_ms", "type", "value", key.alias("_tkey"))
        .withColumn("first_key", F.min("_tkey").over(w))
        .withColumn("last_key", F.max("_tkey").over(w))
    )
    # 3rd '|'-field (not "after the last pipe"), so a type that ever
    # contained the delimiter would parse identically to the oracle's
    # split_part(key, '|', 3) — same cross-engine image either way
    touch_type = lambda c: F.element_at(F.split(F.col(c), "\\|"), 3)  # noqa: E731
    return enriched.filter(F.col("type") == "purchase").select(
        "event_id",
        "entity_id",
        F.col("ts_ms").alias("purchase_ms"),
        "value",
        touch_type("first_key").alias("first_touch_type"),
        touch_type("last_key").alias("last_touch_type"),
    )


def attribution_report(ev: DataFrame) -> DataFrame:
    """Channel-credit rollup over :func:`purchase_attribution`: per
    (attribution model, touch type), conversion count and total value —
    the side-by-side comparison that shows how much credit moves between
    channels when switching first-touch to last-touch.  Conversions with
    no in-window touch report under 'organic'.

    Value totals route through DECIMAL(27,6) then round-4 the double
    image (the sessionize recipe), so the sum is shuffle-order-exact.

    Scale: the per-conversion attribution subtree is computed once and
    unpivoted to (model, touch) rows; the rollup output is bounded by
    |models| x |event types|."""
    att = purchase_attribution(ev)
    # unpivot via explode so the attribution window subtree executes
    # ONCE — a union of two selects would duplicate the whole
    # scan+window plan (Catalyst reuses identical Exchanges, not
    # arbitrary common subtrees)
    models = F.explode(
        F.array(
            F.struct(
                F.lit("first_touch").alias("model"),
                F.coalesce("first_touch_type", F.lit("organic")).alias("touch_type"),
            ),
            F.struct(
                F.lit("last_touch").alias("model"),
                F.coalesce("last_touch_type", F.lit("organic")).alias("touch_type"),
            ),
        )
    )
    long = att.select(models.alias("m"), "value").select(
        F.col("m.model").alias("model"), F.col("m.touch_type").alias("touch_type"), "value"
    )
    return long.groupBy("model", "touch_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_conversions"),
        F.round(
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double"), 4
        ).alias("total_value"),
    )


def cohort_ltv(ev: DataFrame) -> DataFrame:
    """Cohort lifetime-value curve: users are cohorted by their first-ever
    event week; for each (cohort_week, week_offset) the table reports how
    many cohort members were active that week, the week's purchase
    revenue, and the cohort's CUMULATIVE revenue up to that offset — the
    LTV curve a growth model reads off directly (pairs with
    `retention_curve`'s activity-only view).

    Revenue sums ride DECIMAL(27,6) end-to-end — including the cumulative
    window — and only the final surface rounds to a double image, so the
    running totals are shuffle-order-exact on both engines.

    Scale: one shuffle keys (entity, week) partial sums; the cohort week
    is a window-min over the per-(entity, week) rows — the
    retention_cohorts pattern, NOT a broadcast of the |users|-row
    first-week table (unbounded at fact scale); the cumulative window
    runs over the |cohorts|x|offsets| grid, never the event stream."""
    week = F.expr(f"ts_ms div {7 * DAY_MS}").alias("week")
    per_uw = (
        ev.select("entity_id", week, "type", "value")
        .groupBy("entity_id", "week")
        .agg(
            F.sum(
                F.when(F.col("type") == "purchase", F.col("value"))
                .otherwise(F.lit(0.0))
                .cast("decimal(27,6)")
            ).alias("wk_value")
        )
    )
    with_cohort = per_uw.withColumn(
        "cohort_week", F.min("week").over(Window.partitionBy("entity_id"))
    )
    grid = (
        with_cohort
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(
            # per_uw is unique per (entity, week) and offset is injective
            # per entity, so plain count == distinct entities — no
            # two-stage distinct rewrite over the user-week rows
            F.count(F.lit(1)).cast("long").alias("n_active"),
            F.sum("wk_value").alias("_rev"),
        )
    )
    w = Window.partitionBy("cohort_week").orderBy("week_offset").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return grid.select(
        "cohort_week",
        "week_offset",
        "n_active",
        F.round(F.col("_rev").cast("double"), 4).alias("revenue"),
        F.round(F.sum("_rev").over(w).cast("double"), 4).alias("cum_revenue"),
    )


def session_funnel(ev: DataFrame) -> DataFrame:
    """Funnel denominated in SESSIONS: a session converts step i when an
    event of ``STEPS[i]`` occurs strictly after its step-(i-1) time
    WITHIN THE SAME SESSION — the per-visit view of intent
    (:func:`funnel` spans an entity's whole history, so a view today and
    a purchase next month still "convert"; this one doesn't).  Reuses
    the single-sourced session boundary (:func:`session_numbers`) and
    step semantics (:func:`_step_times` keyed by session id).

    Output per step: step_no, step, n_sessions, share_ppm of step-1
    sessions — integer-exact.

    Scale: the session-number window shuffles once on the entity key;
    the step windows shuffle once on the session id (finer than the
    entity key, so no skew regression); the final rollup is k rows."""
    sid = F.concat(F.col("entity_id"), F.lit("#"), F.col("session_no").cast("string"))
    s = session_numbers(
        ev.select("entity_id", "type", "ts_ms", "event_id"), "entity_id", SESSION_GAP_MS
    ).select(sid.alias("sid"), "type", "ts_ms")
    per = _step_times(s, STEPS, "sid")
    counts = per.agg(
        *[
            F.sum(F.col(f"t{i}").isNotNull().cast("long")).alias(f"n{i}")
            for i in range(1, len(STEPS) + 1)
        ]
    )
    stack_args = ", ".join(f"{i}, '{s_}', n{i}" for i, s_ in enumerate(STEPS, start=1))
    return (
        counts.selectExpr(
            f"n1 AS _n1",
            f"stack({len(STEPS)}, {stack_args}) AS (step_no, step, n_sessions)",
        )
        .select(
            F.col("step_no").cast("int").alias("step_no"),
            "step",
            F.coalesce(F.col("n_sessions"), F.lit(0)).cast("long").alias("n_sessions"),
            F.expr(
                "CAST((coalesce(n_sessions, 0) * 1000000) div greatest(_n1, 1) AS BIGINT)"
            ).alias("share_ppm"),
        )
    )
