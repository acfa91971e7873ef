"""Relational analytics operators beyond the reference surface: as-of join,
top-N per group, rollup, pivot, per-group statistics.

The reference has no relational layer at all (SURVEY §2.4 note: "Our engine
gets these free from Spark SQL") — these operators make that claim concrete
as first-class, oracle-checked query surface.  Each is a pure
DataFrame→DataFrame function, shuffle-minimal and AQE-friendly.

Scale notes (100 TB posture):
  * ``asof_join`` is the union/last_value formulation — ONE shuffle on the
    join key, a single per-key ordered scan, and crucially NO row explosion:
    the naive range join (left × all-earlier-right, then rank) is quadratic
    per key and dies on hot keys; this form is linear and skew-tolerant
    (AQE can split a hot key's sort since last() is computed in one pass
    over a rows-frame).
  * top-N per group is rank-over-partial-aggregate: the heavy reduction
    (groupBy) happens map-side-combined BEFORE the rank window sees data.
  * rollup/pivot ride Catalyst's Expand + partial aggregation; pivot is
    given its value list explicitly so no extra distinct pass runs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    ts: str = "ts_ms",
    right_order: str | None = None,
) -> DataFrame:
    """Backward as-of join: for every left row, attach the most recent right
    row with ``right.ts <= left.ts`` on the same key (at-or-before match),
    carrying every right column but the key and ``ts``.

    Deterministic by construction: right rows at exactly the left row's ts
    DO match; among right rows sharing (key, ts), the one with the greatest
    ``right_order`` wins.  Left cardinality is always preserved, like a
    left join.

    Implementation: tag both sides, union, and take ``last(payload,
    ignorenulls=True)`` over a per-key (ts, side, order) rows-frame — the
    classic scalable as-of formulation (one shuffle, no pair explosion).
    """
    on = list(on)
    right_cols = [c for c in right.columns if c not in on and c != ts]
    payload_fields = [F.col(c).alias(c) for c in right_cols] + [
        F.col(ts).alias("_asof_matched_ts")
    ]
    ord_col = F.col(right_order) if right_order else F.lit(0)
    r = right.select(
        *on,
        F.col(ts).alias("_asof_ts"),
        F.lit(0).alias("_asof_side"),
        ord_col.alias("_asof_ord"),
        F.struct(*payload_fields).alias("_asof_payload"),
    )
    l = left.withColumn("_asof_ts", F.col(ts)).withColumn(
        "_asof_side", F.lit(1)
    )
    unioned = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(*on)
        .orderBy("_asof_ts", "_asof_side", "_asof_ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = unioned.withColumn(
        "_asof_m", F.last("_asof_payload", ignorenulls=True).over(w)
    ).filter(F.col("_asof_side") == 1)
    out_cols = [c for c in left.columns]
    out = matched.select(
        *out_cols,
        *[F.col(f"_asof_m.{c}").alias(c) for c in right_cols],
        F.col("_asof_m._asof_matched_ts").alias("matched_ts"),
    )
    return out


def top_n_per_group(
    df: DataFrame,
    group: Sequence[str],
    rank_by: Column,
    n: int,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Top-N rows per group by ``rank_by`` descending, with explicit
    deterministic tie-break columns (ascending)."""
    w = Window.partitionBy(*group).orderBy(
        rank_by.desc(), *[F.col(c).asc() for c in tiebreak]
    )
    return (
        df.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= n)
    )


def brand_part_revenue_topn(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Top-3 parts by revenue within each brand.

    Shape (r11): aggregate the fact by its OWN long key first, attach the
    dim after.  ``p_partkey`` is the part dim's primary key, so joining
    before or after the per-part reduction is the same function — but the
    after-join runs on |parts| rows instead of |lineitem| rows, the heavy
    aggregation hashes one LONG key instead of (string, long), and the
    probe side of the broadcast join shrinks by the fact/part ratio.

    Revenue accumulates EXACTLY, as the decimal's integer units: each
    row's DECIMAL(27,6)-rounded product (unchanged per-row rounding — the
    engine-exactness contract with the oracle) is carried as value·10⁶ in
    a LONG, so the hot aggregation buffer is a primitive word instead of a
    16-byte BigDecimal (measured 1.55× on the agg stage at the 16× tier;
    a per-(brand, part) revenue would have to exceed $9.0e9 — 2⁵³ units —
    before the long→double surfacing could even round, and 2⁶³ units to
    overflow; the 16× tier peaks ~$2e6).  Ordering by the integer units is
    ordering by the decimal, so the top-N cut is unchanged, and
    ``CAST(units AS DOUBLE)/1e6`` is the same correctly-rounded double the
    decimal→double cast produced (single IEEE rounding of the same
    rational in both).
    """
    rev_u6 = (
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(27,6)")
        * 1000000
    ).cast("long")
    per_part = lineitem.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
        F.sum(rev_u6).alias("revenue_u6")
    )
    joined = per_part.join(F.broadcast(part.select("p_partkey", "p_brand")), "p_partkey")
    ranked = top_n_per_group(
        joined, ["p_brand"], F.col("revenue_u6"), 3, tiebreak=["p_partkey"]
    )
    return ranked.select(
        "p_brand",
        "p_partkey",
        (F.col("revenue_u6").cast("double") / F.lit(1e6)).alias("revenue"),
        F.col("rnk").cast("int").alias("rnk"),
    )


def region_revenue_rollup(
    orders: DataFrame, customer: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """Order revenue with subtotals at (region, nation), (region), and grand
    total — ROLLUP via Catalyst's Expand node (one pass over the fact, the
    partial aggregation combines all grouping sets map-side).  Grouped-out
    levels surface as '(all)' so the output is NULL-free and hash-stable."""
    dims = (
        customer.join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "r_name", "n_name")
    )
    return (
        orders.join(F.broadcast(dims), F.col("o_custkey") == F.col("c_custkey"))
        .rollup("r_name", "n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(27,6)"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("(all)")).alias("r_name"),
            F.coalesce(F.col("n_name"), F.lit("(all)")).alias("n_name"),
            "revenue",
            "n_orders",
        )
    )


def region_status_cube(
    orders: DataFrame, customer: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """Order revenue at every (region, order-status) margin — CUBE emits the
    column-wise margins ROLLUP cannot express (the ``(all, status)`` slices
    alongside ``(region, all)`` and the grand total).  Same physical shape
    as :func:`region_revenue_rollup`: one Expand node over a single fact
    pass, all 4 grouping sets partially aggregated map-side, one shuffle."""
    dims = (
        customer.join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "r_name")
    )
    return (
        orders.join(F.broadcast(dims), F.col("o_custkey") == F.col("c_custkey"))
        .cube("r_name", "o_orderstatus")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(27,6)"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("(all)")).alias("r_name"),
            F.coalesce(F.col("o_orderstatus"), F.lit("(all)")).alias("o_orderstatus"),
            "revenue",
            "n_orders",
        )
    )


def group_mode(
    df: DataFrame,
    key: Sequence[str],
    value: str,
    top_col: str = "top_value",
) -> DataFrame:
    """Most frequent ``value`` per key group, with its count, the group
    total, and the share in integer basis points.  Ties break
    deterministically to the smallest value.  Two-phase: the heavy
    reduction (count per (key, value)) is map-side combined first; the
    argmax then runs as a second AGGREGATION over the counts table —
    |keys × distinct values| rows, not the fact.

    The argmax is ``min(struct(-_n, value))`` (r11): struct comparison is
    lexicographic, so the minimum is exactly the row the old rank-1 window
    kept (largest ``_n``, ties to the smallest ``value``, NULL value
    ordered first both ways) — but as an aggregate with map-side partials
    instead of Exchange → Sort → Window → Window → Filter.  The window
    shape forced a full sort of the counts table and a non-partial second
    pass; the aggregate pre-combines per map partition, so the second
    exchange carries at most |keys| rows per task.

    ``share_bp = (n_top * 10000) div n_total`` is computed in integer
    arithmetic so the value hashes identically on any engine — a rounded
    double here is exactly the kind of low-order-bit drift that broke
    cross-engine hash parity in round 1."""
    key = list(key)
    counts = df.groupBy(*key, value).agg(F.count(F.lit(1)).alias("_n"))
    best = counts.groupBy(*key).agg(
        F.min(F.struct((-F.col("_n")).alias("_neg_n"), F.col(value).alias("_v"))).alias("_b"),
        F.sum("_n").alias("_tot"),
    )
    return best.select(
        *key,
        F.col("_b._v").alias(top_col),
        (-F.col("_b._neg_n")).alias("n_top"),
        F.col("_tot").alias("n_total"),
        F.expr("((-_b._neg_n) * 10000) div _tot").alias("share_bp"),
    )


def dominant_event_type(ev: DataFrame) -> DataFrame:
    """Each entity's most common event type and its share of the entity's
    activity — the query-shaped face of :func:`group_mode`."""
    return group_mode(ev, ["entity_id"], "type", top_col="top_type")


EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def event_type_pivot(ev: DataFrame) -> DataFrame:
    """Per-entity event-type count matrix (long → wide).

    The pivot value list is explicit, so Spark skips the extra
    distinct-values job and plans a single partial-aggregated pivot pass.
    """
    wide = (
        ev.groupBy("entity_id")
        .pivot("type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    cols = [
        F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
        for t in EVENT_TYPES
    ]
    total = sum(F.coalesce(F.col(t), F.lit(0)) for t in EVENT_TYPES)
    return wide.select("entity_id", *cols, total.cast("long").alias("n_total"))


def value_stats_per_type(ev: DataFrame) -> DataFrame:
    """Distribution statistics of ``value`` per event type: count, sum, avg,
    sample stddev, min/max, exact interpolated median and p90
    (``percentile`` ≡ DuckDB ``quantile_cont``).  Nulls are skipped by every
    aggregate on both engines.

    The stddev is computed from DECIMAL-exact moment sums (Σv, Σv²) and a
    fixed double-precision expression rather than ``stddev_samp``: native
    one-pass stddev accumulates in partition order, so its low-order bits
    differ between Spark's parallel reduction and a sequential oracle —
    exact moments make the value order-insensitive and engine-exact.
    """
    r4 = lambda c: F.round(c, 4)  # noqa: E731
    agged = ev.groupBy("type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("value").alias("n_values"),
        # (38,6) not (30,6): squares of |value| >= 1e12 overflow the 1e24
        # ceiling with an ANSI error (oracle-fuzz edges profile)
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("s1"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,6)"))
        .cast("double")
        .alias("s2"),
        r4(F.avg("value")).alias("avg_value"),
        r4(F.min("value")).alias("min_value"),
        r4(F.max("value")).alias("max_value"),
        r4(F.percentile(F.col("value"), F.lit(0.5))).alias("median_value"),
        r4(F.percentile(F.col("value"), F.lit(0.9))).alias("p90_value"),
    )
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n_values")) / (
        F.col("n_values") - 1
    )
    return agged.select(
        "type",
        "n_events",
        "n_values",
        r4(F.col("s1")).alias("sum_value"),
        "avg_value",
        r4(F.sqrt(var)).alias("stddev_value"),
        "min_value",
        "max_value",
        "median_value",
        "p90_value",
    )


#: :func:`heavy_hitters`' share threshold, in basis points.
HEAVY_HITTER_MIN_SHARE_BP = 500


def heavy_hitters(df: DataFrame, key: Sequence[str], value: str) -> DataFrame:
    """Exact frequent items: every ``value`` whose share of its key group
    is >= ``HEAVY_HITTER_MIN_SHARE_BP`` basis points, with count and
    integer-bp share.  Threshold and share are pure integer arithmetic
    (``n * 10000`` vs ``threshold * n_total``) so the emitted values and the boundary
    predicate are engine-exact — no float rounding at the hash boundary.

    Same two-phase shape as :func:`group_mode` — the fact is reduced to a
    (key, value) counts table map-side, and the share window runs over
    counts only.  Output is bounded by 1/min_share rows per group
    regardless of data size (at most 20 values can each hold >= 5%), so
    this is safe to collect or broadcast downstream.  This is the exact
    twin of sketch-based heavy hitters (Misra-Gries / count-min): at
    100 TB the same plan holds because the counts table, not the fact,
    bounds the window input.
    """
    key = list(key)
    counts = df.groupBy(*key, value).agg(F.count(F.lit(1)).alias("n"))
    tot = F.sum("n").over(Window.partitionBy(*key))
    return (
        counts.withColumn("n_total", tot)
        .withColumn("share_bp", F.expr("(n * 10000) div n_total"))
        .where(F.col("n") * 10000 >= F.lit(HEAVY_HITTER_MIN_SHARE_BP) * F.col("n_total"))
        .select(*key, value, "n", "n_total", "share_bp")
    )


def order_gap_bands(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Inter-purchase cadence per market segment: for every customer with
    2+ orders, the day gaps between consecutive orders, rolled up to
    n / lower-discrete P50 / P90 / max per segment — the repurchase-cycle
    table behind replenishment and churn-window decisions.

    Days are epoch-day integers (``epoch_ms div 86_400_000`` — no
    calendar functions at the hash boundary); quantiles are the repo's
    cumulative-count discrete convention, integer-exact on both engines.

    Scale: one shuffle on o_custkey for the lag window; the segment
    dimension broadcasts; the (segment, gap) histogram collapses gap
    mass before the quantile window."""
    day = F.expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) div 86400000")
    w = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    gaps = (
        orders.select("o_orderkey", "o_custkey", day.alias("day"))
        .withColumn("_prev", F.lag("day").over(w))
        .where(F.col("_prev").isNotNull())
        .select("o_custkey", (F.col("day") - F.col("_prev")).alias("gap_days"))
    )
    seg = customer.select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    hist = (
        gaps.join(F.broadcast(seg), "o_custkey")
        .groupBy("c_mktsegment", "gap_days")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wp = Window.partitionBy("c_mktsegment")
    cum = hist.withColumn("cum", F.sum("c").over(wp.orderBy("gap_days"))).withColumn(
        "tot", F.sum("c").over(wp)
    )
    return cum.groupBy("c_mktsegment").agg(
        F.max("tot").alias("n_gaps"),
        F.min(F.when(F.expr("cum * 2 >= tot"), F.col("gap_days"))).alias("p50_gap_days"),
        F.min(F.when(F.expr("cum * 10 >= tot * 9"), F.col("gap_days"))).alias("p90_gap_days"),
        F.max("gap_days").alias("max_gap_days"),
    )


def supplier_concentration(lineitem: DataFrame, supplier: DataFrame, nation: DataFrame) -> DataFrame:
    """Supply-base concentration per nation: revenue Herfindahl index
    (HHI = Σ shareᵢ², 10 000 = monopoly) plus the top supplier's share —
    the sourcing-risk table procurement reads before a region melts down.

    Revenue is decimal-summed per supplier (the TPC-H convention), then
    FLOORED to integer units so the share arithmetic — top share bp and
    HHI bp — is exact integer rationals; squares are summed in
    DECIMAL(38,0), so nothing wraps int64 even at 1e12-unit revenues.

    Scale: one fact shuffle on l_suppkey (map-side combined), broadcast
    dims, |nations| output rows."""
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(27,6)")
    per_supp = lineitem.groupBy("l_suppkey").agg(
        F.floor(F.sum(rev)).cast("decimal(38,0)").alias("r")
    )
    dims = supplier.select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    ).join(
        nation.select(F.col("n_nationkey").alias("s_nationkey"), "n_name"),
        "s_nationkey",
    )
    return (
        per_supp.join(F.broadcast(dims), "l_suppkey")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.sum("r").alias("_tot"),
            F.sum(F.col("r") * F.col("r")).alias("_ssq"),
            F.max("r").alias("_top"),
        )
        .select(
            "n_name",
            "n_suppliers",
            F.expr("CAST(_tot AS BIGINT)").alias("total_revenue_units"),
            F.expr("CASE WHEN _tot > 0 THEN CAST((_top * 10000) div _tot AS BIGINT) ELSE 0 END").alias("top_share_bp"),
            F.expr("CASE WHEN _tot > 0 THEN CAST((_ssq * 10000) div (_tot * _tot) AS BIGINT) ELSE 0 END").alias("hhi_bp"),
        )
    )


def open_orders_timeline(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Daily open-order backlog: for every day in the horizon, how many
    orders were open (placed, not yet fully shipped), how many opened and
    how many closed that day — the interval-overlap sweep behind
    capacity/backlog charts.

    An order is open from its order day through its LAST lineitem ship
    day (orders with no lineitems close the day they open).  The sweep is
    the classic +1/−1 delta trick: emit (open_day, +1) and
    (close_day + 1, −1), collapse to per-day deltas, and take a running
    sum — entirely integer arithmetic on epoch days.

    Scale: one shuffle on l_orderkey collapses lineitems to a per-order
    close day; the ±1 deltas come from ONE explode over the joined spans
    (a union of two selects would recompute the whole orders ⋈ close
    subtree — Spark does not share unreferenced duplicate subtrees, so
    the explode halves the fact work); the delta table is day-grain
    (≤ a few thousand rows for any horizon), so the final ordered running
    sum over it is metadata-sized — the fact is never globally sorted."""
    day = F.expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) div 86400000")
    close = lineitem.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.max(F.expr("unix_millis(CAST(l_shipdate AS TIMESTAMP)) div 86400000")).alias("_ship_day")
    )
    spans = (
        orders.select("o_orderkey", day.alias("open_day"))
        .join(close, "o_orderkey", "left")
        .select(
            "open_day",
            F.coalesce(F.greatest("_ship_day", F.col("open_day")), F.col("open_day")).alias("close_day"),
        )
    )
    delta_pair = F.array(
        F.struct(F.col("open_day").alias("day"), F.lit(1).alias("opened"), F.lit(0).alias("closed")),
        F.struct((F.col("close_day") + 1).alias("day"), F.lit(0).alias("opened"), F.lit(1).alias("closed")),
    )
    deltas = (
        spans.select(F.explode(delta_pair).alias("e"))
        .select("e.day", "e.opened", "e.closed")
        .groupBy("day")
        .agg(
            F.sum("opened").cast("long").alias("n_opened"),
            F.sum("closed").cast("long").alias("n_closed"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return deltas.withColumn(
        "n_open", (F.sum("n_opened").over(w) - F.sum("n_closed").over(w)).cast("long")
    ).select("day", "n_opened", "n_closed", "n_open")
