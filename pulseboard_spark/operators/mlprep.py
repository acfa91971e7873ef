"""Feature-preparation operators for training-data pipelines: per-group
standardization (z-scores / outlier flags) and equal-frequency binning.

The reference has no feature layer at all — its only per-distribution
computation is the P95 window in rule R4 (`ingest/WindowStore.kt`,
SURVEY §2.4 A8).  These operators cover what an ML pipeline does right
before writing training shards: normalize features against per-group
statistics and discretize skewed numerics.

Scale notes (100 TB posture):
  * ``standardize`` is the aggregate-then-broadcast pattern: the stats
    table is |groups| rows (tiny), so rejoining it to the fact is a
    broadcast hash join — the fact is scanned once, never shuffled.
    Moments are DECIMAL-exact sums (same rationale as
    ``relational.value_stats_per_type``): a parallel ``stddev_samp`` has
    partition-order-dependent low bits; exact Σv/Σv² make every z-score
    reproducible across partitionings and engines.
  * ``quantile_bins`` is ntile over a per-group sort — one shuffle on the
    group key.  Equal-frequency bin EDGES could be computed from
    ``percentile`` without the full sort, but per-ROW bin assignment is
    the point here, and ntile's rank arithmetic is deterministic with the
    (value, id) tie-break where edge-interpolation binning is not.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pulseboard_spark.session import plan_probe


def group_moments(df: DataFrame, value: str, by: Sequence[str]) -> DataFrame:
    """Per-group n / mean / sample-std from decimal-exact moment sums.

    DECIMAL(38,6), not (30,6): squares of |value| ≥ 1e12 overflow (30,6)'s
    1e24 ceiling with an ANSI ArithmeticException (oracle-fuzz edges
    profile).  (38,6) raises the crash ceiling to |value| < 1e16; sums
    stay exact to 1e32 aggregate.  The oracle casts mirror this."""
    s1 = F.sum(F.col(value).cast("decimal(38,6)")).cast("double")
    s2 = F.sum((F.col(value) * F.col(value)).cast("decimal(38,6)")).cast("double")
    agged = df.where(F.col(value).isNotNull()).groupBy(*by).agg(
        F.count(F.lit(1)).alias("_n"), s1.alias("_s1"), s2.alias("_s2")
    )
    var = (F.col("_s2") - F.col("_s1") * F.col("_s1") / F.col("_n")) / (
        F.col("_n") - 1
    )
    return agged.select(
        *by,
        F.col("_n").alias("n"),
        (F.col("_s1") / F.col("_n")).alias("mean"),
        F.sqrt(var).alias("std"),
    )


def standardize(df: DataFrame, value: str, by: Sequence[str]) -> DataFrame:
    """Attach the per-group z-score of ``value`` to every row as ``zscore`` (NULL where
    the value is NULL or the group is degenerate: n < 2 or zero variance).
    Stats ride a broadcast join back onto the fact — one scan, no fact
    shuffle."""
    by = list(by)
    stats = group_moments(df, value, by)
    z = F.when(
        F.col("std") > 0, (F.col(value) - F.col("mean")) / F.col("std")
    )
    return (
        df.join(F.broadcast(stats), by, "left")
        .withColumn("zscore", z)
        .drop("n", "mean", "std")
    )


def value_outliers(ev: DataFrame) -> DataFrame:
    """Events whose value is a >3-sigma outlier within its event type —
    the query-shaped face of :func:`standardize`."""
    z = standardize(ev, "value", ["type"])
    return (
        z.where(F.abs(F.col("zscore")) > 3.0)
        .select(
            "event_id",
            "entity_id",
            "type",
            F.round("value", 4).alias("value"),
            F.round("zscore", 4).alias("zscore"),
        )
    )


#: Below this many rows an exact global rank runs as one single-partition
#: window task over an already-materialized table (cheaper than the
#: two-level rank's extra stages); above it, the single partition is the
#: scale-killer and the two-level path takes over.  Same guarded-routing
#: pattern as similarity.MAX_BROADCAST_INDEX_ROWS.
MAX_SINGLE_PARTITION_RANK_ROWS = 1_000_000

#: Value bins for the deterministic two-level rank.  Static — the
#: bin id must be a pure function of the row value and the broadcast
#: (min, max) stats so recomputation is deterministic without a pinning
#: checkpoint.  4096 bins × |groups| window partitions ≫ any core count,
#: and the offsets table (|groups|·bins rows) stays broadcast-sized.
NTILE_BINS = 4096


def _broadcast_join_null_safe(df: DataFrame, small: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Inner join with ``small`` broadcast, matching ``keys`` with
    ``eqNullSafe``; no keys is a cross join."""
    if not keys:
        return df.crossJoin(F.broadcast(small))
    right = small.select(
        *[F.col(k).alias(f"_r{k}") for k in keys],
        *[c for c in small.columns if c not in keys],
    )
    cond = [F.col(k).eqNullSafe(F.col(f"_r{k}")) for k in keys]
    return df.join(F.broadcast(right), cond).drop(*[f"_r{k}" for k in keys])


def distributed_ntile(
    df: DataFrame,
    order_cols: Sequence[str],
    n_tiles: int,
    out: str,
    by: Sequence[str] = (),
) -> DataFrame:
    """Exact ANSI ``ntile`` without the single-partition global window.

    ``F.ntile().over(Window.orderBy(...))`` moves EVERY row of the input
    into ONE partition (and ``partitionBy(group)`` moves every row of a
    group into one partition) — at entity- or fact-cardinality row counts
    that is the classic 100 TB scale-killer.  This computes the identical
    bucket assignment with two-level ranking:

    1. **deterministic value binning**: the lead order column maps
       to one of :data:`NTILE_BINS` bins via a pure function of the value
       and a broadcast per-group (min, max) aggregate — equal-width over
       the monotone ``sign·log1p|v|`` transform, so heavy-tailed domains
       still spread.  Equal values share a bin by construction, NULLs take
       bin −1 (the ASC NULLS FIRST slot), NaNs bin +NTILE_BINS (doubles
       sort NaN last);
    2. local rank within (group, bin): a window whose partitions are
       value-disjoint slices, each a tiny fraction of the group;
    3. per-(group, bin) counts (|groups|·bins rows, tiny) cumulated into
       rank offsets with a window over that tiny table, broadcast back;
    4. bucket from the exact global rank r and group size n via ANSI
       ntile arithmetic (first n % k buckets take one extra row) —
       bit-identical to ``F.ntile`` and DuckDB ``ntile`` (pinned by
       test and by the value_deciles / rfm_scores oracles).

    Every stage above is a deterministic function of row VALUES and
    order-insensitive aggregates, so recomputation is stable with NO
    checkpoint and NO sampling: construction runs zero jobs, the fact
    flows through one exchange (the (group, bin) window) plus two tiny
    aggregate passes, and every action recomputes from the source.  Both
    joins on ``by`` are null-safe: a NULL group key is a group, as in SQL
    ``PARTITION BY``.

    Skew caveat (documented, not hit at any tested tier): a single value
    holding most of a group lands in ONE bin — the in-bin sort serializes
    on that tie mass.  The escape at that extreme is one more level of the
    same trick keyed on an order-preserving encoding of the tie-break;
    ``order_cols`` must already be a total order (callers append a unique
    id).
    """
    by = list(by)
    order_cols = list(order_cols)
    lead = order_cols[0]
    lead_type = dict(df.dtypes).get(lead, "")
    fv = F.signum(F.col(lead).cast("double")) * F.log1p(F.abs(F.col(lead).cast("double")))
    is_nan = F.isnan(F.col(lead)) if lead_type in ("double", "float") else F.lit(False)
    base = df.withColumn("_fv", F.when(is_nan, F.lit(None)).otherwise(fv))
    stats = base.groupBy(*by).agg(
        F.min("_fv").alias("_lo"), F.max("_fv").alias("_hi")
    )
    joined = _broadcast_join_null_safe(base, stats, by)
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(NTILE_BINS))
    binned = joined.withColumn(
        "_bin",
        F.when(F.col(lead).isNull(), F.lit(-1))          # ASC NULLS FIRST
        .when(is_nan, F.lit(NTILE_BINS))                 # doubles: NaN sorts last
        # degenerate range (single value, ±inf, or NaN stats): one bin.
        # NaN compares GREATER than any double in Spark, so a NaN/inf width
        # fails the bounded-positive check and routes here.
        .when(
            ~(
                ((F.col("_hi") - F.col("_lo")) > 0)
                & ((F.col("_hi") - F.col("_lo")) < F.lit(1e300))
            ),
            F.lit(0),
        )
        .otherwise(
            F.least(
                F.floor((F.col("_fv") - F.col("_lo")) / width),
                F.lit(NTILE_BINS - 1),
            )
        )
        .cast("int"),
    ).drop("_fv", "_lo", "_hi")

    counts = binned.groupBy(*by, "_bin").agg(F.count(F.lit(1)).alias("_c"))
    gw = Window.partitionBy(*by) if by else Window.partitionBy()
    offsets = counts.select(
        *by,
        "_bin",
        F.coalesce(
            F.sum("_c").over(gw.orderBy("_bin").rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("_off"),
        F.sum("_c").over(gw.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).alias("_n"),
    )
    wloc = Window.partitionBy(*by, "_bin").orderBy(*[F.asc(c) for c in order_cols])
    local = _broadcast_join_null_safe(binned, offsets, [*by, "_bin"]).withColumn(
        "_lr", F.row_number().over(wloc)
    )

    # ANSI ntile from the exact global rank r = _off + _lr: with n rows and
    # k tiles, the first n % k buckets hold (n div k)+1 rows, the rest
    # n div k.  Pure integer arithmetic (`div` truncates) — no float ever
    # touches the bucket id.
    k = int(n_tiles)
    r = "(_off + _lr)"
    bucket = F.expr(
        f"CAST(CASE WHEN {r} <= (_n % {k}) * ((_n div {k}) + 1) "
        f"THEN ({r} - 1) div ((_n div {k}) + 1) "
        f"ELSE (_n % {k}) + ({r} - (_n % {k}) * ((_n div {k}) + 1) - 1) div (_n div {k}) "
        f"END + 1 AS INT)"
    )
    return local.withColumn(out, bucket).drop("_bin", "_lr", "_off", "_n")


def quantile_bins(
    df: DataFrame,
    value: str,
    by: Sequence[str],
    n_bins: int = 10,
    bin_col: str = "bin",
) -> DataFrame:
    """Equal-frequency bin assignment (ntile) of ``value`` within each
    group; ties broken deterministically by event_id so the binning is
    reproducible across engines and partitionings.  Routed through
    :func:`distributed_ntile`: a per-group window would gather each
    group into one partition (20 TB in one task for a 5-type fact at
    100 TB); the two-level rank keeps every partition parallel."""
    return distributed_ntile(
        df.where(F.col(value).isNotNull()),
        [value, "event_id"],
        n_bins,
        bin_col,
        by=by,
    )


def value_decile_profile(ev: DataFrame) -> DataFrame:
    """Per (type, decile) population and value range — the compact,
    query-shaped face of :func:`quantile_bins`.  Projects to the three
    needed columns first so the ranked rows stay narrow."""
    binned = quantile_bins(
        ev.select("type", "value", "event_id"), "value", ["type"], 10, "decile"
    )
    return binned.groupBy("type", "decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 4).alias("lo"),
        F.round(F.max("value"), 4).alias("hi"),
    )


def value_histogram(ev: DataFrame) -> DataFrame:
    """Per-type 20-bin equal-width histogram of ``value`` (the feature-profiling
    pass a training pipeline runs before choosing clips/transforms).

    Two-phase: the per-type min/max is a tiny aggregate broadcast back
    onto the fact — the fact table itself is shuffled exactly once, for
    the final (type, bin) count.  Bin index is
    ``floor((v - min) / ((max - min) / 20))`` clamped to the last
    bin so v == max lands in bin 19; a degenerate type (min == max)
    collapses to bin 0.  All arithmetic is double-precision IEEE in a
    fixed operation order so the DuckDB oracle reproduces it bit-exactly.
    """
    vals = ev.filter(F.col("value").isNotNull()).select(
        "type", F.col("value").cast("double").alias("v")
    )
    stats = vals.groupBy("type").agg(
        F.min("v").alias("vmin"), F.max("v").alias("vmax")
    )
    width = (F.col("vmax") - F.col("vmin")) / F.lit(20.0)
    binned = vals.join(F.broadcast(stats), "type").withColumn(
        "bin",
        F.when(F.col("vmax") == F.col("vmin"), F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col("v") - F.col("vmin")) / width),
                F.lit(19),
            )
        )
        .cast("int"),
    )
    return binned.groupBy("type", "bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min(F.col("vmin") + F.col("bin") * width), 4).alias("bin_lo"),
        F.round(F.min(F.col("vmin") + (F.col("bin") + 1) * width), 4).alias("bin_hi"),
    )


def _hist_median(hist: DataFrame, key: str, valcol: str, cnt: str, out: str) -> DataFrame:
    """Lower discrete median from a precomputed (key, value, count)
    histogram — lets a caller that already paid the fact pass reuse it."""
    w = Window.partitionBy(key)
    cum = hist.withColumn("_cum", F.sum(cnt).over(w.orderBy(valcol))).withColumn(
        "_tot", F.sum(cnt).over(w)
    )
    return (
        cum.where(F.col("_cum") >= F.expr("(_tot + 1) div 2"))
        .groupBy(key)
        .agg(F.min(valcol).alias(out))
    )


def mad_outliers(ev: DataFrame) -> DataFrame:
    """Robust per-type outlier stats via median absolute deviation.

    Unlike the z-score path (:func:`standardize`), MAD is immune to the
    outliers it hunts.  Medians are LOWER DISCRETE (:func:`_hist_median`)
    — actual data elements, engine-exact with no rounding at the surface —
    then median of |v − med|; a value is an outlier when
    |v − med| > 3 · 1.4826 · MAD (1.4826 scales MAD to σ under
    normality).  Degenerate types (MAD = 0) flag every v ≠ median.

    The fact is scanned and aggregated ONCE — into the per-(type, value)
    histogram — and everything downstream (both medians, the outlier
    count, n_values) is histogram arithmetic: the deviation histogram is
    a regroup of the value histogram, and the final outlier count weighs
    histogram rows by their counts instead of rescanning events.

    Cache lifecycle: hist/med/mad are ``cache()``d because the three
    consumers are independent subtrees that AQE does NOT stitch into one
    reused exchange (measured: 0 ReusedExchange, 3.3s -> 1.0s warm with
    the caches).  Entries live for the session, like the silver-table
    caches; they are |distinct (type, value)| and |types| rows.  For a
    CONTINUOUS value column at extreme scale the histogram approaches
    fact cardinality — there the exact-median contract itself is the
    costly part, and the documented sketch twin
    (``approx_value_quantiles`` / ``percentile_approx``) is the right
    tool; this operator's cache merely materializes what any exact
    multi-consumer plan would otherwise recompute three times.
    """
    vals = ev.filter(F.col("value").isNotNull()).select(
        "type", F.col("value").cast("double").alias("v")
    )
    # cache() the histogram: its three consumers (median window, deviation
    # regroup, final weighted count) are independent subtrees that AQE does
    # NOT stitch into one reused exchange; the CacheManager dedupes them by
    # canonical plan so the fact pass runs once.  Lazy — nothing plans or
    # runs at construction — and the entry is |distinct (type, value)| rows.
    hist = vals.groupBy("type", "v").agg(F.count(F.lit(1)).alias("_c")).cache()
    # med/mad are |types|-row tables consumed 2-3x each (deviation regroup,
    # mad join, final threshold) — caching them stops the median window
    # re-running per consumer; same lazy CacheManager dedupe as hist
    med = _hist_median(hist, "type", "v", "_c", "med").cache()
    ahist = (
        hist.join(F.broadcast(med), "type")
        .groupBy("type", F.abs(F.col("v") - F.col("med")).alias("adev"))
        .agg(F.sum("_c").alias("_c"))
    )
    mad = _hist_median(ahist, "type", "adev", "_c", "mad").join(med, "type").cache()
    flagged = hist.join(F.broadcast(mad), "type").withColumn(
        "is_out",
        F.abs(F.col("v") - F.col("med")) > F.lit(3.0) * F.lit(1.4826) * F.col("mad"),
    )
    return (
        flagged.groupBy("type")
        .agg(
            F.sum("_c").alias("n_values"),
            # raw doubles: discrete medians are data elements, identical
            # bits on any engine — rounding would REINTRODUCE drift
            F.min("med").alias("median_value"),
            F.min("mad").alias("mad_value"),
            F.sum(F.when(F.col("is_out"), F.col("_c")).otherwise(F.lit(0))).alias("n_outliers"),
        )
        # integer bp — the exact-rational count ratio must not round as a
        # double at the hash boundary
        .select(
            "type",
            "n_values",
            "median_value",
            "mad_value",
            "n_outliers",
            F.expr("(n_outliers * 10000) div n_values").alias("outlier_frac_bp"),
        )
    )


#: Quantile buckets of each RFM score (1..RFM_TILES).
RFM_TILES = 5


def rfm_scores(ev: DataFrame) -> DataFrame:
    """RFM behavioral features: per entity, recency (last event), frequency
    (event count), monetary (decimal-exact value sum), each quantile-scored
    into ``RFM_TILES`` buckets, plus the concatenated RFM segment label —
    the classic CDP-to-ML feature block.

    The three rankings are ONE ranking: the per-entity aggregate unpivots
    to (entity, metric) rows whose ``v`` is the metric as a double (order
    key only — ``last_ms`` < 2^53, so the cast is exact; the typed output
    columns ride along unchanged), ranks once per metric with the
    entity_id tie-break (equal metrics score identically on any engine or
    partitioning), and pivots back.  The kernel routes on the entity
    count: a small table takes the window ntile (one task per metric
    beats the two-level rank's extra stages), a large one the exact
    :func:`distributed_ntile`, whose stages stay parallel at 1e8+
    entities.  Both are the same ANSI arithmetic (equivalence pinned by
    ``test_distributed_ntile_matches_window_ntile``).  The routing count
    is a session-memoized size probe (:func:`session.plan_probe` — one
    count job on first construction, plan-only after).
    """
    agg = ev.groupBy("entity_id").agg(
        F.max("ts_ms").alias("last_ms"),
        F.count(F.lit(1)).alias("n_events"),
        # decimal-exact sum cast straight to double — unrounded, since both
        # engines cast the identical decimal identically; a round() here is
        # the cross-engine half-case drift class that failed round 1
        F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("total_value"),
    ).withColumn("total_value", F.coalesce(F.col("total_value"), F.lit(0.0)))
    metrics = {"r_score": "last_ms", "f_score": "n_events", "m_score": "total_value"}
    long = agg.select(
        "*",
        F.inline(F.array(*[
            F.struct(F.lit(s).alias("metric"), F.col(c).cast("double").alias("v"))
            for s, c in metrics.items()
        ])),
    )
    if plan_probe(agg, "rfm:n_entities", agg.count) <= MAX_SINGLE_PARTITION_RANK_ROWS:
        ranked = long.withColumn(
            "s", F.ntile(RFM_TILES).over(Window.partitionBy("metric").orderBy("v", "entity_id"))
        )
    else:
        ranked = distributed_ntile(long, ["v", "entity_id"], RFM_TILES, "s", by=["metric"])
    scores = [F.max(F.when(F.col("metric") == s, F.col("s"))).cast("int").alias(s) for s in metrics]
    return ranked.groupBy("entity_id").agg(
        *[F.max(c).alias(c) for c in metrics.values()], *scores
    ).withColumn("rfm", F.concat(*[F.col(s).cast("string") for s in metrics]))


def value_drift_psi(ev: DataFrame, value_rows: DataFrame | None = None) -> DataFrame:
    """Population stability index per event type: how far the value
    distribution drifted between the first and second half of the time
    range — the standard feature-drift monitor a training pipeline runs
    between corpus snapshots.

    Periods split at the integer midpoint of the global [min_ts, max_ts];
    both halves share 10 fixed equal-width bins from per-type global
    min/max (broadcast stats — the fact shuffles once, for the final
    (type, bin) count).  Laplace-smoothed shares avoid ln(0); each bin's
    PSI term is rounded then summed through DECIMAL so the ≤ 10
    additions are order-insensitive and engine-exact.

    Physical shape (r10): TWO passes over the fact, the minimum — one
    per-type rollup (ts bounds + value bounds, cached: |types| rows), one
    per-bin count.  The global ts midpoint derives from the per-type ts
    bounds (min-of-mins/max-of-maxes — includes NULL-value rows, exactly
    like the standalone bounds pass it replaces), and the period totals
    n_a/n_b derive from the bin counts themselves (every non-NULL value
    lands in exactly one bin, so the per-type sum over bins IS the period
    total) via a window over the tiny (type, bin) table — the fused
    stats+totals pass this replaces was still a second fact scan.  The
    per-(type, bin) a/b counts are direct conditional sums (the (type,
    period, bin) pre-count + pivot + fill they replaced produced the
    identical row set: a (type, bin) row exists iff at least one value
    landed in it, and an absent period sums to 0 exactly where the pivot
    filled NULL with 0).
    """
    # ONE fact pass: per-type ts bounds (over ALL rows, NULL values too —
    # the global midpoint must match the old unfiltered bounds pass) and
    # per-type value bounds (min/max skip NULLs natively).  Cached: both
    # the midpoint derivation and the bin join read it, and Spark shares
    # no duplicate subtrees (same tiny-rollup lifecycle convention as
    # seasonal_deviation / doc_lm_score).
    stats = ev.groupBy("type").agg(
        F.min("ts_ms").alias("_tmn"),
        F.max("ts_ms").alias("_tmx"),
        F.min(F.col("value").cast("double")).alias("vmin"),
        F.max(F.col("value").cast("double")).alias("vmax"),
    ).cache()
    # integer midpoint: `div` truncates identically on both engines; the
    # double-divide-then-cast it replaces truncated in Spark but rounded in
    # DuckDB, flipping the period of boundary events when min+max is odd
    bounds = stats.agg(F.min("_tmn").alias("_mn"), F.max("_tmx").alias("_mx")).select(
        F.expr("(_mn + _mx) div 2").alias("mid_ms")
    )
    # the bin pass only ever sees non-null-value rows, so a caller holding
    # the pre-filtered slice (registry ``_value_events``) passes it here;
    # the stats pass above MUST keep the full table (ts bounds include
    # NULL-value rows — the midpoint contract)
    vals = (
        (value_rows if value_rows is not None else ev.filter(F.col("value").isNotNull()))
        .crossJoin(F.broadcast(bounds))
        .select(
            "type",
            F.col("value").cast("double").alias("v"),
            F.when(F.col("ts_ms") < F.col("mid_ms"), F.lit("a")).otherwise(F.lit("b")).alias("period"),
        )
    )
    width = (F.col("vmax") - F.col("vmin")) / F.lit(10.0)
    binned = vals.join(F.broadcast(stats.select("type", "vmin", "vmax")), "type").withColumn(
        "bin",
        F.when(F.col("vmax") == F.col("vmin"), F.lit(0))
        .otherwise(F.least(F.floor((F.col("v") - F.col("vmin")) / width), F.lit(9)))
        .cast("int"),
    )
    wide = binned.groupBy("type", "bin").agg(
        F.sum((F.col("period") == "a").cast("long")).alias("a"),
        F.sum((F.col("period") == "b").cast("long")).alias("b"),
    )
    # period totals from the bin counts: exact BIGINT sums over the tiny
    # |type × bins| table — no third fact pass, no broadcast stats join
    wt = Window.partitionBy("type")
    j = wide.withColumn("n_a", F.sum("a").over(wt)).withColumn("n_b", F.sum("b").over(wt))
    p = (F.col("a") + F.lit(0.5)) / (F.col("n_a") + F.lit(0.5) * 10)
    q = (F.col("b") + F.lit(0.5)) / (F.col("n_b") + F.lit(0.5) * 10)
    term = F.round((p - q) * F.log(p / q), 10).cast("decimal(27,12)")
    return j.groupBy("type").agg(
        F.min("n_a").alias("n_a"),
        F.min("n_b").alias("n_b"),
        F.round(F.sum(term).cast("double"), 4).alias("psi"),
    )


def label_balance(embeddings: DataFrame) -> DataFrame:
    """Class-balance report over a labeled training set: per-label count,
    corpus share, and the inverse-frequency class weight a trainer feeds
    its loss (weight ∝ n_total / (n_classes · n_label), the scikit-learn
    "balanced" convention) — the first table anyone reads before
    training on labeled embeddings, and the input to re-sampling plans.

    All surfaces are exact integer rationals (ppm via truncating div).
    Scale: ONE map-side-combined rollup to |labels| rows; the totals are
    an unpartitioned window over that |labels|-row table (a broadcast
    stat join would re-aggregate the raw table for the totals side —
    Spark does not share the duplicate subtree — so the window halves
    the scan work; |labels| rows on one partition is metadata-sized)."""
    per_label = embeddings.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy()
    return (
        per_label.withColumn("_tot", F.sum("n").over(w))
        .withColumn("_k", F.count(F.lit(1)).over(w))
        .select(
            "label",
            "n",
            F.expr("(n * 1000000) div _tot").alias("share_ppm"),
            F.expr("(_tot * 1000000) div (_k * n)").alias("weight_ppm"),
        )
    )


def contrastive_pairs(documents: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
    """Contrastive training-pair construction over the corpus: positives
    are verified near-dup pairs whose Jaccard sits in the "similar but
    not identical" band [0.30, 0.95) (paraphrase-grade, below the dedup
    threshold); negatives are deterministic random-ish pairings —
    consecutive doc_ids within one of 50 stable hash buckets — anti-joined against the candidate
    graph so no accidental near-dup leaks in with a ``neg`` label.
    The output (doc_a, doc_b, label) is the input a bi-encoder /
    cross-encoder fine-tune consumes.

    Scale: positives ride the shared MinHash pair graph (no new candidate
    generation); negative pairing is one window over hash buckets
    (balanced by construction) and one anti-join on the pair key.  All
    decisions are deterministic given a corpus: the same input always
    yields the same pairs.  Positives are append-stable under corpus
    growth; NEGATIVES are not — a new doc landing between two bucket
    neighbors rewires the lead() pairing — so a consumer that needs a
    frozen training set snapshots this output rather than re-deriving it.
    """
    from pyspark.sql import Window

    from pulseboard_spark.operators.dedup import minhash_near_dups
    from pulseboard_spark.operators.sampling import hash_bucket

    if pairs is None:
        pairs = minhash_near_dups(documents)
    pos = pairs.filter(
        (F.col("jaccard_ppm") >= 300_000) & (F.col("jaccard_ppm") < 950_000)
    ).select("doc_a", "doc_b", F.lit("pos").alias("label"))
    w = Window.partitionBy("bucket").orderBy("doc_id")
    nxt = (
        documents.select(
            "doc_id", hash_bucket(F.col("doc_id"), 50).alias("bucket")
        )
        .withColumn("doc_b", F.lead("doc_id").over(w))
        .filter(F.col("doc_b").isNotNull())
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
    )
    neg = nxt.join(
        pairs.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti"
    ).select("doc_a", "doc_b", F.lit("neg").alias("label"))
    return pos.unionByName(neg)
