"""Time-series operators beyond the reference surface: inter-event gap
statistics (lag/lead) and grid resampling with forward-fill.

The reference's windowing layer (`ingest/WindowStore.kt`, SURVEY §2.4) only
maintains trailing aggregates; it has no way to ask "how long between
events?" or to produce a regular, gap-free series from an irregular event
stream — both bread-and-butter needs for training-data pipelines (feature
grids, activity resampling) and for ops dashboards.

Scale notes (100 TB posture):
  * ``inter_event_deltas`` is ONE shuffle on (entity, type) for the lag
    window; the follow-up per-type aggregate is map-side combined over the
    already-partitioned stream.  No self-join: lag over a sorted per-key
    frame is linear, the equivalent as-of self-join is quadratic on hot keys.
  * ``gap_fill_hours`` aggregates the raw stream FIRST (events → per-hour
    buckets, map-side combined), so the explode/grid/ffill machinery only
    ever touches the small bucketed table — grid size is bounded by
    entities × hours-of-span, independent of event volume.  The grid join
    and the ffill window share the entity_id partitioning.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pulseboard_spark.functions.core import duck_round

HOUR_MS = 3_600_000


def inter_event_deltas(ev: DataFrame) -> DataFrame:
    """Per-type statistics of the time between consecutive events of the
    same (entity, type): gap count, exact sum (avg = sum/count is left to
    the reader — emitting a rounded double broke cross-engine hash parity
    in round 1), min/max, and the exact *lower discrete median* — the
    smallest gap value whose cumulative count reaches ceil(n/2).  Every
    output column is an integer, so the result hashes identically on any
    engine regardless of float rounding or quantile-interpolation
    conventions.

    Ordering is (ts_ms, event_id) so tie gaps are deterministic.

    Scale: the lag window is ONE shuffle on (entity, type); the median is
    computed on the (type, gap_ms) *distinct-value counts* table (map-side
    combined), so the per-type ordered cumulative sum only ever sorts
    distinct gap values — bounded by value cardinality, not event volume.
    """
    w = Window.partitionBy("entity_id", "type").orderBy("ts_ms", "event_id")
    gaps = (
        ev.select("entity_id", "type", "ts_ms", "event_id")
        .withColumn("gap_ms", F.col("ts_ms") - F.lag("ts_ms").over(w))
        .where(F.col("gap_ms").isNotNull())
    )
    # (type, gap_ms) histogram — the fact is reduced ONCE (map-side
    # combined); stats AND median come from a single pass over the counts
    # table: cumulative count per type, then one aggregate where the
    # median is min(gap | cum ≥ ceil(n/2)).  One linear pipeline — the
    # fact is shuffled exactly once, for the lag.
    hist = gaps.groupBy("type", "gap_ms").agg(F.count(F.lit(1)).alias("c"))
    wt = Window.partitionBy("type")
    cum = (
        hist.withColumn("cum", F.sum("c").over(wt.orderBy("gap_ms")))
        .withColumn("tot", F.sum("c").over(wt))
    )
    return cum.groupBy("type").agg(
        F.max("tot").alias("n_gaps"),
        F.sum(F.col("gap_ms") * F.col("c")).alias("sum_gap_ms"),
        F.min("gap_ms").alias("min_gap_ms"),
        F.max("gap_ms").alias("max_gap_ms"),
        F.min(
            F.when(F.col("cum") >= F.expr("(tot + 1) div 2"), F.col("gap_ms"))
        ).alias("median_gap_ms"),
    )


def revenue_wow(orders: DataFrame) -> DataFrame:
    """Daily order revenue with week-over-week comparison: each day's
    revenue next to the revenue of exactly 7 days earlier (NULL when that
    day has no orders) and the WoW delta/pct.

    Alignment uses a RANGE frame pinned at exactly -7 on an integer
    day-number ordering (``range between 7 preceding and 7 preceding``) —
    missing days cannot shift the comparison the way ``lag(7)`` over a
    sparse series would.  Revenue sums are decimal-exact before the cast,
    so delta/pct are order-insensitive.

    Scale: the window runs on the already-aggregated per-day series
    (map-side-combined groupBy first), thousands of rows at any corpus
    size — the unpartitioned ordered frame is deliberate and safe.
    """
    r4 = lambda c: F.round(c, 4)  # noqa: E731
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias("day_num"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(27,6)"))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("day_num").rangeBetween(-7, -7)
    prev = F.sum("revenue").over(w)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        r4(F.col("revenue")).alias("revenue"),
        "n_orders",
        r4(prev).alias("rev_7d_ago"),
        r4(F.col("revenue") - prev).alias("wow_delta"),
        r4((F.col("revenue") - prev) / prev * 100).alias("wow_pct"),
    )


def gap_fill_hours(ev: DataFrame) -> DataFrame:
    """Resample the irregular event stream onto a dense per-entity hourly
    grid: every hour between an entity's first and last event appears
    exactly once, with a zero-filled event count and the forward-filled
    value of the entity's most recent non-null ``value`` at-or-before that
    hour (NULL before the first one).

    The per-hour representative value is the non-null value with the
    greatest event_id in that hour (``max_by`` ≡ DuckDB ``arg_max`` with a
    null-gated ordering key), which makes the fill deterministic.
    """
    per_h = ev.groupBy(
        "entity_id", F.floor(F.col("ts_ms") / F.lit(HOUR_MS)).alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max_by(
            "value",
            F.when(F.col("value").isNotNull(), F.col("event_id")),
        ).alias("last_value"),
    )
    spans = per_h.groupBy("entity_id").agg(
        F.min("hour").alias("mn"), F.max("hour").alias("mx")
    )
    grid = spans.select(
        "entity_id", F.explode(F.sequence("mn", "mx")).alias("hour")
    )
    w = (
        Window.partitionBy("entity_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(per_h, ["entity_id", "hour"], "left")
        .select(
            "entity_id",
            "hour",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.round(
                F.last("last_value", ignorenulls=True).over(w), 4
            ).alias("ffill_value"),
        )
    )


def hourly_trending(ev: DataFrame) -> DataFrame:
    """Top-3 event types per hour bucket — the "trending" leaderboard shape.

    Two-phase like every leaderboard here: the fact reduces map-side to
    (hour, type) counts; the rank window only sees the counts table.
    Deterministic ties: higher count first, then lexicographic type.
    Streaming twin: the same agg under a 1-hour tumbling window with
    watermark, rank applied in ``foreachBatch`` on the (tiny) per-window
    counts.
    """
    from pyspark.sql import Window

    hour_ms = F.col("ts_ms") - (F.col("ts_ms") % 3_600_000)
    counts = (
        ev.select(hour_ms.alias("hour_ms"), "type")
        .groupBy("hour_ms", "type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("hour_ms").orderBy(F.desc("n"), F.asc("type"))
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= 3)
        .select("hour_ms", "type", "n", "rnk")
    )


def seasonal_deviation(ev: DataFrame) -> DataFrame:
    """Seasonality-aware volume anomalies: each (type, hour) bucket scored
    against the baseline for its HOUR-OF-DAY — a Monday-9am spike is
    judged against other 9am hours, not against 3am.

    Two-level reduction: hourly counts first (the only fact-sized
    shuffle), then per-(type, hour-of-day) baseline moments over the tiny
    hourly table, broadcast back.  Variance comes from DECIMAL-exact
    (Σn, Σn²) so the baseline is engine-exact.  mu/sd/z surface as RAW
    doubles: both engines evaluate the identical IEEE expression shape on
    identical inputs, so the bits match — while a round() at the boundary
    is exactly the half-case drift class that failed round 1.
    Degenerate baselines (std = 0) flag any deviation from the mean.
    """
    hour_ms = (F.col("ts_ms") - (F.col("ts_ms") % 3_600_000)).alias("hour_ms")
    # cache the hourly rollup: both consumers below (baseline moments and
    # the scored side of the join) read it, and Spark shares no duplicate
    # subtrees — uncached, the fact-sized groupBy ran TWICE (r10; same
    # lifecycle convention as mad_outliers/cusum/doc_lm_score: tiny
    # |type × hours| table, materialized by the first action)
    hourly = ev.select("type", hour_ms).groupBy("type", "hour_ms").agg(
        F.count(F.lit(1)).alias("n")
    ).cache()
    hod = ((F.col("hour_ms") / 3_600_000).cast("long") % 24).cast("int")
    with_hod = hourly.withColumn("hod", hod)
    base = with_hod.groupBy("type", "hod").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(F.col("n").cast("decimal(27,6)")).cast("double").alias("s1"),
        F.sum((F.col("n") * F.col("n")).cast("decimal(27,6)")).cast("double").alias("s2"),
    )
    scored = with_hod.join(F.broadcast(base), ["type", "hod"])
    # LEAVE-ONE-OUT baseline: the scored hour is excluded from its own
    # mean/std (otherwise a big spike inflates the baseline enough to mask
    # itself) — pure arithmetic on the already-aggregated moments, no
    # second pass over the data
    m = F.col("n_obs") - 1
    loo_s1 = F.col("s1") - F.col("n")
    loo_s2 = F.col("s2") - F.col("n") * F.col("n")
    # a single-observation baseline leaves nothing after leave-one-out:
    # mu/sd are undefined (NULL), not a divide-by-zero (ANSI crash found
    # by the oracle-fuzz ties profile — a 4-hour corpus makes 1-obs
    # (type, hour-of-day) buckets routine); z/anomaly below already gate
    # on n_obs <= 1 explicitly
    mu = F.when(m >= 1, loo_s1 / m)
    var = F.when(
        m >= 1,
        F.greatest(
            (loo_s2 - loo_s1 * loo_s1 / m) / F.greatest(m - 1, F.lit(1)), F.lit(0.0)
        ),
    )
    scored = scored.withColumn("mu", mu).withColumn("sd", F.sqrt(var))
    # degenerate baseline (sd = 0, n != mean): z is undefined — NULL, but
    # still anomalous (a perfectly flat history makes ANY deviation an
    # anomaly); inf would poison downstream hashing/aggregation
    z = F.when(F.col("n_obs") <= 1, F.lit(0.0)).otherwise(
        F.when(F.col("sd") > 0, (F.col("n") - F.col("mu")) / F.col("sd")).otherwise(
            F.when(F.col("n") == F.col("mu"), F.lit(0.0)).otherwise(F.lit(None).cast("double"))
        )
    )
    anomaly = F.when(F.col("n_obs") <= 1, F.lit(False)).otherwise(
        F.when(F.col("sd") > 0, (F.col("n") - F.col("mu")) / F.col("sd") > 3.0)
        .otherwise(F.col("n") != F.col("mu"))
    )
    return scored.select(
        "type",
        "hour_ms",
        "hod",
        "n",
        F.col("mu").alias("baseline_mean"),
        F.col("sd").alias("baseline_sd"),
        z.alias("z"),
        anomaly.alias("is_anomaly"),
    )


def event_transitions(ev: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over each entity's event
    sequence: for every (from_type, to_type) pair, how often the second
    immediately follows the first, plus the conditional transition
    probability in ppm (integer-exact, truncated — the hash-safe surface
    for an exact rational; see ``inter_event_deltas``'s round-1 lesson).

    Sequence order is (ts_ms, event_id) — event_id is unique, so the
    per-entity ordering is a deterministic total order on both engines.

    Scale: the lag window is ONE shuffle on entity_id (same class as
    sessionization); the pair rollup map-side combines to at most
    |types|² rows, and the per-from_type total is a window over that tiny
    counts table.  No self-join — lag over the sorted per-key frame is
    linear in events.
    """
    w = Window.partitionBy("entity_id").orderBy("ts_ms", "event_id")
    pairs = (
        ev.select("entity_id", "type", "ts_ms", "event_id")
        .withColumn("from_type", F.lag("type").over(w))
        .where(F.col("from_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", F.col("type").alias("to_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wf = Window.partitionBy("from_type")
    return (
        counts.withColumn("n_from", F.sum("n").over(wf))
        .select(
            "from_type",
            "to_type",
            "n",
            "n_from",
            F.expr("(n * 1000000) div n_from").alias("p_ppm"),
        )
    )


def event_paths_topk(ev: DataFrame) -> DataFrame:
    """Top-20 event-type paths: the 3-long sequences of
    consecutive event types (per entity, ordered by (ts_ms, event_id))
    that occur most often across the corpus — the "what do users do in
    what order" product-analytics staple one step up from the first-order
    transition matrix (:func:`event_transitions`).

    Output: path (types joined by " > "), n, rank — the global top 20
    by (n DESC, path ASC), a deterministic total order.

    Scale: one shuffle on entity_id for the lag window (shared with
    sessionization / transitions — same key), then a map-side-combining
    rollup to at most |types|³ rows; the final top-k is a single
    window over that tiny counts table.  No self-join, no driver collect.
    """
    depth = 3
    w = Window.partitionBy("entity_id").orderBy("ts_ms", "event_id")
    steps = ev.select("entity_id", "type", "ts_ms", "event_id")
    for i in range(1, depth):
        steps = steps.withColumn(f"_t{i}", F.lag("type", depth - i).over(w))
    parts = [F.col(f"_t{i}") for i in range(1, depth)] + [F.col("type")]
    paths = steps.where(F.col("_t1").isNotNull()).select(
        F.concat_ws(" > ", *parts).alias("path")
    )
    counts = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n"))
    rk = F.row_number().over(Window.orderBy(F.col("n").desc(), F.col("path").asc()))
    return (
        counts.withColumn("rank", rk.cast("long"))
        .where(F.col("rank") <= 20)
        .select("path", "n", "rank")
    )


def micro_units(col) -> "F.Column":
    """THE one micro-quantization expression (duck_round(x·1e6) → int64)
    shared by the batch CUSUM and its parameter trainer — the two agree
    only if both quantize identically, so the expression has a single
    home."""
    return duck_round(col.cast("double") * F.lit(1000000.0), 0).cast("long")


def _cusum_values(ev: DataFrame) -> DataFrame:
    """Micro-quantized non-null value stream: (entity_id, type, ts_us,
    event_id, vu) — the shared input of the batch CUSUM and the
    parameter trainer."""
    return ev.filter(F.col("value").isNotNull()).select(
        "entity_id", "type", "ts_us", "event_id", micro_units(F.col("value")).alias("vu")
    )


#: CUSUM alarm threshold, in micro-MADs.
CUSUM_H_MADS = 5


def cusum_params(ev: DataFrame) -> DataFrame:
    """Per-type CUSUM parameters (type, mu, h) in micro units: truncated
    micro-mean center, h = CUSUM_H_MADS·max(micro-MAD, 1), trained on a
    batch window."""
    from pulseboard_spark.operators.mlprep import _hist_median

    # cache(): mu, the median, and the MAD regroup are three independent
    # consumers of the same fact pass — AQE does not stitch them into one
    # reused exchange (the mad_outliers precedent); the vh histogram entry
    # is |distinct (type, vu)| rows, vals is the narrow projected fact
    vals = _cusum_values(ev).cache()
    mu = vals.groupBy("type").agg(F.expr("sum(vu) div count(1)").alias("mu"))
    vh = vals.groupBy("type", "vu").agg(F.count(F.lit(1)).alias("_c")).cache()
    med = _hist_median(vh, "type", "vu", "_c", "med")
    ah = (
        vh.join(F.broadcast(med), "type")
        .groupBy("type", F.abs(F.col("vu") - F.col("med")).alias("adev"))
        .agg(F.sum("_c").alias("_c"))
    )
    mad = _hist_median(ah, "type", "adev", "_c", "mad")
    return mu.join(mad, "type").select(
        "type", "mu", (F.greatest(F.col("mad"), F.lit(1)) * CUSUM_H_MADS).alias("h")
    )


def cusum_changepoints(ev: DataFrame) -> DataFrame:
    """Per-(entity, type) CUSUM change-point detection — the classic
    drift detector the threshold rules (R1/R2) can't express: a rule
    fires on one extreme event, CUSUM fires when a RUN of individually
    unremarkable deviations accumulates (slow exfil, gradual metric
    drift, sensor bias).

    Fully integer-exact, so it is oracle-checkable despite being a
    per-key recurrence: values quantize to micro units
    (duck_round(v·1e6) — the `label_centroids` pattern), the per-type
    center is the truncated micro-mean, the scale is the micro-MAD
    (lower-discrete, histogram arithmetic), and the two-sided recurrence

        S⁺ = max(0, S⁺ + (v − μ));  alarm when S⁺ > h = CUSUM_H_MADS·max(MAD,1), then S⁺ := 0
        S⁻ = max(0, S⁻ − (v − μ));  symmetric

    runs in int64 (page 1 of Page 1954, public method).  Output per key:
    n_obs, n_alarms_up/down, max_cusum_up/down (pre-reset maxima, micro).

    Physical shape = the EWMA seam (`operators/ewma.py`): repartition on
    the key, sortWithinPartitions, ONE mapInPandas scan carrying a
    6-int state dict — but emitting one summary row per key at
    partition end instead of per-event rows, so the Python seam returns
    |keys| rows, not |events|.  The per-type μ/h table is broadcast.
    """
    vals = _cusum_values(ev)
    par = cusum_params(ev)
    narrow = vals.join(F.broadcast(par), "type").select(
        "entity_id", "type", "ts_us", "event_id",
        (F.col("vu") - F.col("mu")).alias("d"), "h",
    )

    def _scan(batches):
        state: dict = {}
        for pdf in batches:
            ds = pdf["d"].to_numpy(dtype="int64")
            hs = pdf["h"].to_numpy(dtype="int64")
            ents = pdf["entity_id"].to_numpy()
            typs = pdf["type"].to_numpy()
            get = state.get
            for i in range(len(ds)):
                k = (ents[i], typs[i])
                sp, sm, au, ad, mxu, mxd, n = get(k, (0, 0, 0, 0, 0, 0, 0))
                d = int(ds[i])
                h = int(hs[i])
                sp_raw = max(0, sp + d)
                sm_raw = max(0, sm - d)
                mxu = max(mxu, sp_raw)
                mxd = max(mxd, sm_raw)
                if sp_raw > h:
                    au += 1
                    sp = 0
                else:
                    sp = sp_raw
                if sm_raw > h:
                    ad += 1
                    sm = 0
                else:
                    sm = sm_raw
                state[k] = (sp, sm, au, ad, mxu, mxd, n + 1)
        rows = sorted(state.items())
        yield pd.DataFrame(
            {
                "entity_id": [k[0] for k, _ in rows],
                "type": [k[1] for k, _ in rows],
                "n_obs": pd.Series([v[6] for _, v in rows], dtype="int64"),
                "n_alarms_up": pd.Series([v[2] for _, v in rows], dtype="int64"),
                "n_alarms_down": pd.Series([v[3] for _, v in rows], dtype="int64"),
                "max_cusum_up": pd.Series([v[4] for _, v in rows], dtype="int64"),
                "max_cusum_down": pd.Series([v[5] for _, v in rows], dtype="int64"),
            }
        )

    return (
        narrow.repartition("entity_id", "type")
        .sortWithinPartitions("entity_id", "type", "ts_us", "event_id")
        .mapInPandas(
            _scan,
            schema=(
                "entity_id string, type string, n_obs bigint, "
                "n_alarms_up bigint, n_alarms_down bigint, "
                "max_cusum_up bigint, max_cusum_down bigint"
            ),
        )
    )


def active_user_stickiness(ev: DataFrame) -> DataFrame:
    """DAU/WAU engagement report: per UTC day, distinct active entities
    (DAU), the trailing-7-day distinct actives (WAU, inclusive of the
    day), and stickiness = DAU/WAU in basis points (integer — exact
    rational, never a float at the hash boundary).

    WAU is computed exactly from per-(entity, day) first-activity rows:
    an entity is WAU-active on day d if it has any event in (d-6 .. d],
    so the trailing distinct count is a groupBy over the exploded 7-day
    contribution range of each (entity, day) pair — |entities|·7 rows,
    never a re-scan of the fact, and no approximate sketch needed at
    audit granularity.  (At 100 TB the same shape holds: the fact
    collapses to per-(entity, day) pairs in one map-side-combined
    shuffle; the 7× explode is metadata-sized.)

    Output: day, dau, wau, stickiness_bp.
    """
    days = (
        ev.select(
            F.date_format(F.timestamp_millis(F.col("ts_ms")), "yyyy-MM-dd").alias("day"),
            "entity_id",
        )
        .distinct()
    )
    dau = days.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    # each (entity, active day) contributes WAU-activity to days d..d+6;
    # restrict to days that actually occur so the report has no phantom rows
    contrib = days.select(
        "entity_id",
        F.explode(
            F.expr(
                "transform(sequence(0, 6), i -> date_format(date_add(to_date(day), i), 'yyyy-MM-dd'))"
            )
        ).alias("day"),
    )
    wau = (
        contrib.distinct()
        .join(dau.select("day"), "day", "left_semi")
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select("day", "dau", "wau", F.expr("(dau * 10000) div wau").alias("stickiness_bp"))
    )


def daily_value_bands(ev: DataFrame) -> DataFrame:
    """Per-(type, UTC day) value envelope: n plus lower-discrete
    P10/P50/P90 — the SLO-band report ops teams chart under every metric
    (yesterday's P90 is today's alert threshold candidate).

    Quantiles are actual data elements picked by cumulative counts over
    the per-(type, day) value histogram (`cum·10 ≥ tot·k` — the
    engine-exact discrete convention used throughout this repo), so the
    surfaces are bit-identical doubles, never interpolations.

    Scale: one shuffle builds the (type, day, value) histogram map-side
    combined; the quantile window runs over distinct values per group —
    bounded by value cardinality, not event count.
    """
    vals = ev.filter(F.col("value").isNotNull()).select(
        "type",
        F.date_format(F.timestamp_millis(F.col("ts_ms")), "yyyy-MM-dd").alias("day"),
        F.col("value").cast("double").alias("v"),
    )
    hist = vals.groupBy("type", "day", "v").agg(F.count(F.lit(1)).alias("c"))
    wp = Window.partitionBy("type", "day")
    cum = hist.withColumn("cum", F.sum("c").over(wp.orderBy("v"))).withColumn(
        "tot", F.sum("c").over(wp)
    )
    return cum.groupBy("type", "day").agg(
        F.max("tot").alias("n_values"),
        F.min(F.when(F.expr("cum * 10 >= tot"), F.col("v"))).alias("p10_value"),
        F.min(F.when(F.expr("cum * 2 >= tot"), F.col("v"))).alias("p50_value"),
        F.min(F.when(F.expr("cum * 10 >= tot * 9"), F.col("v"))).alias("p90_value"),
    )


def transition_entropy(ev: DataFrame) -> DataFrame:
    """Per-from-type entropy of the first-order transition distribution —
    how predictable the next event is given the current one (0 = a
    deterministic flow, ln|types| = uniform chaos); the sequence-level
    complement to :func:`event_transitions`' pairwise matrix, and the
    signal that flags bot-like deterministic traffic.

    Entropy terms route ``round(x,10) → DECIMAL(27,12)`` (the
    ``doc_lm_score`` convention) so the float sum is order-free and
    engine-replayable.

    Scale: identical physical shape to :func:`event_transitions` — one
    entity-key lag shuffle, a ≤ |types|² rollup, windows over that tiny
    counts table only."""
    w = Window.partitionBy("entity_id").orderBy("ts_ms", "event_id")
    pairs = (
        ev.select("entity_id", "type", "ts_ms", "event_id")
        .withColumn("from_type", F.lag("type").over(w))
        .where(F.col("from_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", F.col("type").alias("to_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = F.sum("n").over(Window.partitionBy("from_type"))
    term = (F.col("n").cast("double") / F.col("_tot")) * (
        F.log(F.col("_tot").cast("double")) - F.log(F.col("n").cast("double"))
    )
    return (
        counts.withColumn("_tot", tot)
        .withColumn("_t", F.round(term, 10).cast("decimal(27,12)"))
        .groupBy("from_type")
        .agg(
            F.max("_tot").alias("n_transitions"),
            F.count(F.lit(1)).cast("long").alias("n_successors"),
            F.sum("_t").cast("double").alias("entropy"),
        )
    )


def value_autocorr(ev: DataFrame) -> DataFrame:
    """Lag-1 autocorrelation of the hourly mean value per event type —
    does this hour's level predict the next (persistence vs white
    noise)?  The stationarity probe behind alert-threshold and forecast
    design (a near-zero autocorrelation says Holt-style smoothing buys
    nothing).

    Integer-exact end to end: hourly means are truncated micro-unit
    rationals, deviations are integers around the truncated grand mean,
    and the correlation surfaces as ppm of Σd_t·d_{t+1} over Σd_t² with
    the products summed in DECIMAL(38,0) — no int64 wrap (d ≈ 1e8
    micro, d² ≈ 1e16, hours unbounded) and no float at any boundary.

    Scale: the fact collapses to the (type, hour) mean grid first; the
    lag + both sums are windows/aggs over ≤ |types|·|hours| rows."""
    hourly = (
        ev.filter(F.col("value").isNotNull())
        .groupBy("type", F.expr("ts_ms div 3600000").alias("hour_idx"))
        .agg(
            F.sum(micro_units(F.col("value"))).alias("_s"),
            F.count(F.lit(1)).alias("_c"),
        )
        .select("type", "hour_idx", F.expr("_s div _c").alias("mu"))
    )
    wt = Window.partitionBy("type")
    base = (
        hourly.withColumn("_sm", F.sum("mu").over(wt))
        .withColumn("_cn", F.count(F.lit(1)).over(wt))
        .withColumn("_gm", F.expr("_sm div _cn"))
    )
    lead = F.lead("mu").over(wt.orderBy("hour_idx"))
    dev = base.select(
        "type",
        "hour_idx",
        (F.col("mu") - F.col("_gm")).alias("d"),
        (lead - F.col("_gm")).alias("d_next"),
    )
    dd = F.col("d").cast("decimal(38,0)")
    return (
        dev.groupBy("type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum(dd * F.col("d")).alias("_den"),
            F.sum(F.when(F.col("d_next").isNotNull(), dd * F.col("d_next"))).alias("_num"),
        )
        .select(
            "type",
            "n_hours",
            F.expr(
                "CASE WHEN _den > 0 THEN CAST((_num * 1000000) div _den AS BIGINT) ELSE 0 END"
            ).alias("autocorr_ppm"),
        )
    )


def burst_windows(ev: DataFrame) -> DataFrame:
    """Hourly burst detection per event type: an hour is a burst when its
    event count reaches 2× the mean hourly rate of the previous
    24 hour-slots (absent hours count as zero traffic — a burst after a
    quiet day must fire, so the divisor is the 24-slot span, not the
    observed-hour count).  The volume companion to the value-based CUSUM
    change-points.

    The decision is the exact integer cross-multiplication
    ``n·24 ≥ 2·prev24_sum`` — no float rate at the boundary — and
    only fires after a full 24-slot warmup (``hour_idx ≥ first hour +
    24``): before that, the fixed divisor counts pre-history slots as
    quiet hours, which flags the first ~half-day of perfectly steady
    traffic as a burst (hour h of steady c/hr has prev24 = h·c, so
    h ≤ 12 would fire — the cold-start false-positive class).

    Scale: events collapse to the (type, hour) count grid first (map-side
    combine), so the RANGE window runs over ≤ |types|·|hours| rows —
    never raw events; one shuffle for the rollup, the warmup min and the
    RANGE frame ride the same type partitioning."""
    hours = ev.groupBy(
        "type", F.expr("ts_ms div 3600000").alias("hour_idx")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    wt = Window.partitionBy("type")
    w = wt.orderBy("hour_idx").rangeBetween(-24, -1)
    prev = F.coalesce(F.sum("n_events").over(w), F.lit(0)).cast("long")
    first = F.min("hour_idx").over(wt)
    return (
        hours.withColumn("prev24_sum", prev)
        .withColumn("_first", first)
        .select(
            "type",
            "hour_idx",
            "n_events",
            "prev24_sum",
            (
                (F.col("hour_idx") >= F.col("_first") + 24)
                & (F.col("prev24_sum") > 0)
                & (F.col("n_events") * 24 >= F.lit(2) * F.col("prev24_sum"))
            ).alias("is_burst"),
        )
    )


def weekly_seasonality(ev: DataFrame) -> DataFrame:
    """Per-(type, hour-of-week) traffic profile: event count and its
    parts-per-million share of the type's total — the 168-bucket weekly
    fingerprint behind "is this Tuesday 3am spike normal for Tuesday
    3am?" seasonal baselining (the profile :func:`seasonal_deviation`
    compares against, published as its own table).

    ``hour_of_week`` = epoch-hour mod 168 (bucket 0 = Thursday 00:00
    UTC — the epoch anchor; a pure integer both engines compute
    identically, no calendar functions at the hash boundary).  Shares
    are exact integer rationals.

    Scale: one map-side-combined rollup to ≤ |types|·168 rows; the
    per-type total rides a same-key window over that tiny table."""
    hw = F.expr("(ts_ms div 3600000) % 168")
    counts = ev.groupBy("type", hw.alias("hour_of_week")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    tot = F.sum("n_events").over(Window.partitionBy("type"))
    return counts.withColumn("_tot", tot).select(
        "type",
        "hour_of_week",
        "n_events",
        F.expr("(n_events * 1000000) div _tot").alias("share_ppm"),
    )


def holt_forecast(ev: DataFrame) -> DataFrame:
    """Holt double-exponential smoothing per (entity, type): level +
    linear trend, surfaced as the LAST state per key plus the one-step
    forecast — the next rung of the forecasting ladder above
    :func:`~pulseboard_spark.operators.ewma.with_ewma` (EWMA tracks a
    level; Holt also tracks where it is headed, so a steadily climbing
    metric forecasts ahead of its current value instead of lagging it).

        level_1 = v_1;  trend_1 = 0;  α = 0.2, β = 0.1
        level_t = α·v + (1−α)·(level_{t−1} + trend_{t−1})
        trend_t = β·(level_t − level_{t−1}) + (1−β)·trend_{t−1}

    Parity recipe is EWMA's exactly: the recurrence replays in the
    oracle's recursive CTE with the SAME operation order, complements
    come from Decimal (1.0−0.2 binary-differs from the parsed literal
    0.8 the SQL uses — the drift that flips round-6 boundaries), and the
    surface is round-6 via ``duck_round``.

    Physical shape = the CUSUM scan: one key shuffle, one Arrow pass,
    per-key dict state (level, trend, n), |keys| summary rows out.
    """
    from decimal import Decimal

    alpha, beta = 0.2, 0.1
    a_c = float(Decimal(1) - Decimal(str(alpha)))
    b_c = float(Decimal(1) - Decimal(str(beta)))
    narrow = ev.filter(F.col("value").isNotNull()).select(
        "entity_id", "type", "ts_us", "event_id", F.col("value").cast("double").alias("v")
    )

    def _scan(batches):
        state: dict = {}
        for pdf in batches:
            vs = pdf["v"].to_numpy(dtype="float64")
            ents = pdf["entity_id"].to_numpy()
            typs = pdf["type"].to_numpy()
            get = state.get
            for i in range(len(vs)):
                k = (ents[i], typs[i])
                prev = get(k)
                v = float(vs[i])
                if prev is None:
                    state[k] = (v, 0.0, 1)
                else:
                    pl, pt, n = prev
                    level = alpha * v + a_c * (pl + pt)
                    trend = beta * (level - pl) + b_c * pt
                    state[k] = (level, trend, n + 1)
        rows = sorted(state.items())
        yield pd.DataFrame(
            {
                "entity_id": [k[0] for k, _ in rows],
                "type": [k[1] for k, _ in rows],
                "n_obs": pd.Series([v[2] for _, v in rows], dtype="int64"),
                "level": pd.Series([v[0] for _, v in rows], dtype="float64"),
                "trend": pd.Series([v[1] for _, v in rows], dtype="float64"),
            }
        )

    out = (
        narrow.repartition("entity_id", "type")
        .sortWithinPartitions("entity_id", "type", "ts_us", "event_id")
        .mapInPandas(
            _scan,
            schema="entity_id string, type string, n_obs bigint, level double, trend double",
        )
    )
    return out.select(
        "entity_id",
        "type",
        "n_obs",
        duck_round(F.col("level"), 6).alias("level"),
        duck_round(F.col("trend"), 6).alias("trend"),
        duck_round(F.col("level") + F.col("trend"), 6).alias("forecast_next"),
    )
