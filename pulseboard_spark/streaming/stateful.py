"""Custom stateful streaming operators: the per-key logic Spark's built-in
windowed aggregations can't express.

All operators here are ``applyInPandasWithState`` (Arrow-batched keyed
state):

* :func:`alert_rules_stateful` — the streaming twin of the reference's
  WindowStore + Rules loop (`ingest/Processor.kt:79-128`): per
  (entity_id, type) it keeps the trailing point buffer + EWMA state and
  evaluates R1/R2/R4 per arriving event.  Exactly the batch semantics
  (operators/rules.py) when events arrive in event-time order — the
  equivalence is pinned by tests/test_streaming.py.  Its per-key cost is
  the stream's capacity, so the operator sees only the seven columns the
  kernel reads, and the kernel works in numpy alone and builds an output
  frame only for a key where a rule fires.

* :func:`r3_stateful` — R3's one streaming home, keyed by entity_id (the
  rule spans event types): a 2-minute tag-carrying predecessor buffer per
  entity, emitting the alert row of ``operators/rules.py::r3_geo_device_eval``.

* :func:`profile_apply_stateful` / :func:`segment_diff_stateful` /
  :func:`reengage_stateful` — the CDP apply loop, G4 membership diff
  (`cdp/segments/SegmentEngine.kt:79-119`), and the W10 inactivity timer.

State per key is pruned, keys are not evicted: a key's point buffer
prunes to the largest rule window relative to its newest point (1 h;
reference horizon is 5 m — `core/WindowStore.kt:46-49` — we keep 1 h
because R4's avg_1h needs it), R3's to its 2 m window, so a live key holds
O(events/hour).  But every operator except reengage runs ``NoTimeout`` and
none calls ``state.remove()``: a key that goes idle keeps its last buffer
after the watermark has passed it, and state grows with every key ever
seen (ROADMAP direction 3 measured 50 idle keys still held, 0 rows
removed).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pulseboard_spark.operators.profiles import DAY_MS, MINUTE_MS
from pulseboard_spark.operators.segments import REENGAGE_MS
from pulseboard_spark.streaming.pipeline import WATERMARK_DELAY

US = 1_000_000
HORIZON_US = 3600 * US  # largest trailing window (avg_1h)

ALERT_SCHEMA = (
    "rule string, entity_id string, ts_ms bigint, severity string, event_id bigint"
)
_RULE_STATE_SCHEMA = "ts_us array<long>, value array<double>, ewma double, has_ewma boolean"


def _sev_vec(value: np.ndarray, thr: np.ndarray) -> np.ndarray:
    """R5 severity ladder per element: HIGH at a non-positive threshold or
    ratio ≥ 10, MEDIUM at ≥ 5, else LOW (`core/Rules.kt:220-231`)."""
    safe = np.where(thr > 0, thr, 1.0)
    ratio = value / safe
    out = np.where(ratio >= 10.0, "HIGH", np.where(ratio >= 5.0, "MEDIUM", "LOW"))
    return np.where(thr <= 0, "HIGH", out)


#: the four trailing windows _eval_rules reads, one searchsorted row each
_WINDOWS_US = np.array([60, 300, 3600, 30], dtype=np.int64)[:, None] * US


def _eval_rules(key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    """Per (entity_id, type): replay arriving events in (ts, event_id) order
    against the trailing-window buffer, emitting fired R1/R2/R4 rows.

    Input chunks carry the seven columns :func:`alert_rules_stateful`
    selects and are read straight into numpy: columns are concatenated only
    when there are several chunks, ``np.lexsort`` gives the (ts_us,
    event_id) order, and the buffer merge sorts only when a new event is
    older than the buffer's newest point (otherwise buffer + new events is
    already in order: a stable sort of it is the identity).  Every
    event's trailing range is one batched searchsorted pair + prefix-sum
    lookup, clipped to the points processed so far (``upto`` —
    append-before-eval order).  The only sequential piece is the EWMA
    recurrence, a bare multiply-add per non-null value (kept as a scalar
    loop for bit-exact parity with the batch twin's scan —
    operators/ewma.py).  A call that fires no rule yields nothing; the
    state is updated either way."""
    entity_id, etype = key
    if state.exists:
        ts_list, val_list, ewma, has_ewma = state.get
        buf_ts = np.array(ts_list, dtype=np.int64)
        buf_val = np.array(val_list, dtype=np.float64)
    else:
        buf_ts = np.empty(0, dtype=np.int64)
        buf_val = np.empty(0, dtype=np.float64)
        ewma, has_ewma = 0.0, False

    chunks = list(pdfs)

    def col(name: str, dtype: Any = None) -> np.ndarray:
        if len(chunks) == 1:
            return chunks[0][name].to_numpy(dtype)
        return np.concatenate([c[name].to_numpy(dtype) for c in chunks])

    n_ts = col("ts_us", np.int64)
    n_eid = col("event_id", np.int64)
    n_val = col("value", np.float64)
    n = len(n_ts)
    if n == 0:
        return
    order = np.lexsort((n_eid, n_ts)) if n > 1 else slice(None)
    n_ts, n_eid, n_val = n_ts[order], n_eid[order], n_val[order]

    base = len(buf_ts)
    all_ts = np.concatenate([buf_ts, n_ts])
    all_val = np.concatenate([buf_val, n_val])
    if base and n_ts[0] < buf_ts[-1]:  # a late event: merge it into the buffer
        merge = np.argsort(all_ts, kind="mergesort")
        all_ts, all_val = all_ts[merge], all_val[merge]
    # Null-value events (NaN) stay IN the buffer — they count toward the
    # event rate (batch rate_1m counts all rows) — but are SKIPPED by the
    # value aggregates, exactly like the batch twin's sum(v)/count(v): a
    # raw cumsum would let one NaN poison every later window sum for the
    # key (found by tests/test_fuzz_rules.py).
    valid_all = ~np.isnan(all_val)
    csum = np.concatenate([[0.0], np.cumsum(np.where(valid_all, all_val, 0.0))])
    vcnt = np.concatenate([[0], np.cumsum(valid_all.astype(np.int64))])

    # per window row (60 s, 5 m, 1 h, 30 s): all-row count, null-skipped
    # sum and non-null count per event
    upto = base + np.arange(1, n + 1)  # points processed so far, current included
    hi = np.minimum(np.searchsorted(all_ts, n_ts, side="right"), upto)
    lo = np.minimum(np.searchsorted(all_ts, n_ts - _WINDOWS_US, side="left"), upto)
    sums = csum[hi] - csum[lo]
    vcnts = vcnt[hi] - vcnt[lo]
    rate_1m = (hi - lo[0]).astype(np.float64)
    v60, v5m, v1h, _ = vcnts
    _, s5m, s1h, s30 = sums
    # batch: coalesce(sum(v)/count(v), 0.0) — empty value window → 0.0
    avg_5m = np.where(v5m > 0, s5m / np.maximum(v5m, 1), 0.0)
    avg_1h = np.where(v1h > 0, s1h / np.maximum(v1h, 1), 0.0)

    # R1 velocity spike
    thr1 = avg_5m * 3.0
    r1 = (rate_1m > thr1) & (rate_1m >= 20.0)

    # R2 value spike: EWMA updated with the current value first.  The
    # recurrence is the one true sequential dependency; loop over non-null
    # values only with the same scalar arithmetic as the batch scan.
    valid = ~np.isnan(n_val)
    ew = np.full(n, np.nan)
    if valid.any():
        vidx = np.flatnonzero(valid)
        evals = np.empty(len(vidx))
        e, he = ewma, has_ewma
        for j, v in enumerate(n_val[vidx].tolist()):
            e = v if not he else 0.1 * v + 0.9 * e
            he = True
            evals[j] = e
        ew[vidx] = evals
        ewma, has_ewma = e, he
    thr2 = ew * 4.0
    # count_60s is the NON-NULL count, like the batch count(v) frame
    r2 = valid & (n_val > thr2) & (v60 >= 5)  # NaN comparisons are False

    # R4 exfil (SASE only); empty value window → avg 0 → the 1000 floor
    p95 = np.maximum(np.floor(avg_1h * 10), 1000.0)
    r4 = valid & (s30 > p95)
    if r4.any():
        r4 &= col("profile")[order] == "SASE"

    # prune buffer to the horizon relative to the newest point
    keep = np.searchsorted(all_ts, all_ts[-1] - HORIZON_US, side="left")
    state.update((all_ts[keep:].tolist(), all_val[keep:].tolist(), float(ewma), bool(has_ewma)))

    if not (r1.any() or r2.any() or r4.any()):
        return
    idx = np.concatenate([np.flatnonzero(r1), np.flatnonzero(r2), np.flatnonzero(r4)])
    rules_a = np.concatenate([
        np.full(int(r1.sum()), "R1_VELOCITY_SPIKE"),
        np.full(int(r2.sum()), "R2_VALUE_SPIKE"),
        np.full(int(r4.sum()), "R4_EXFIL"),
    ])
    sev_a = np.concatenate([
        _sev_vec(rate_1m[r1], thr1[r1]),
        _sev_vec(n_val[r2], thr2[r2]),
        np.full(int(r4.sum()), "HIGH"),
    ])
    ordr = np.argsort(idx, kind="mergesort")  # event order; stable keeps R1<R2<R4 per event
    yield pd.DataFrame(
        {
            "rule": rules_a[ordr],
            "entity_id": entity_id,
            "ts_ms": col("ts_ms", np.int64)[order][idx[ordr]],
            "severity": sev_a[ordr],
            "event_id": n_eid[idx[ordr]],
        },
        columns=["rule", "entity_id", "ts_ms", "severity", "event_id"],
    )


def alert_rules_stateful(entity_stream: DataFrame, set_watermark: bool = True) -> DataFrame:
    """Streaming R1/R2/R4 alerts over an entity-event stream.

    Input needs: entity_id, type, profile, ts_us, ts_ms, value, event_id,
    plus the timestamp ``ts`` when ``set_watermark`` is on.  The
    ``WATERMARK_DELAY`` watermark admits 120 s of lateness (W2's drop tier,
    `cdp/runtime/CdpEventProcessor.kt:189-204`); it does not evict keys
    (``NoTimeout``: an idle key keeps its pruned buffer, see the module
    docstring).  Pass ``set_watermark=False`` when the stream already
    carries one (Spark disallows redefining it).  Only the seven columns
    the kernel reads reach the operator: PySpark converts each column of
    each group to pandas on its own, so every extra column is a per-key
    cost."""
    if set_watermark:
        entity_stream = entity_stream.withWatermark("ts", WATERMARK_DELAY)
    return (
        entity_stream
        .select("entity_id", "type", "profile", "ts_us", "ts_ms", "value", "event_id")
        .groupBy("entity_id", "type")
        .applyInPandasWithState(
            _eval_rules,
            outputStructType=ALERT_SCHEMA,
            stateStructType=_RULE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


R3_SCHEMA = (
    "event_id bigint, entity_id string, type string, profile string, ts_ms bigint, "
    "current_geo string, current_device string, geo_conflict boolean, "
    "device_conflict boolean, prev_geo string, prev_device string, "
    "n_conflicts bigint, severity string"
)
# geo/device may be absent on buffered events; state arrays can't hold nulls
# portably, so absence is encoded as "" (tags are never empty strings).
_R3_STATE_SCHEMA = (
    "ts_us array<long>, event_id array<long>, geo array<string>, device array<string>"
)
_R3_WINDOW_US = 120 * US


def _eval_r3(key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    """Per entity_id: the streaming twin of rules.r3_geo_device_eval — each
    event checked against its trailing-2-minute predecessors' geo/device
    tags, including predecessors from earlier micro-batches (kept in keyed
    state, pruned to the window relative to the newest event).  Same
    tie-break as batch: among conflicting predecessors the one with the
    greatest (ts, event_id) supplies prev_geo/prev_device."""
    (entity_id,) = key
    if state.exists:
        ts_l, eid_l, geo_l, dev_l = state.get
        buf = [
            (t, e, g or None, d or None)
            for t, e, g, d in zip(ts_l, eid_l, geo_l, dev_l)
        ]
    else:
        buf = []

    batch = pd.concat(list(pdfs), ignore_index=True).sort_values(
        ["ts_us", "event_id"], kind="mergesort"
    )
    rows: list[tuple] = []
    for r in batch.itertuples(index=False):
        t, eid = int(r.ts_us), int(r.event_id)
        geo = r.geo if isinstance(r.geo, str) else None
        dev = r.device if isinstance(r.device, str) else None
        lo = t - _R3_WINDOW_US
        best_geo = best_dev = None  # (ts, eid, value) of latest conflicting pred
        n_conf = 0
        for pt, pe, pg, pdv in buf:
            if pt < lo or pt > t or (pt == t and pe >= eid):
                continue
            g_conf = geo is not None and pg is not None and pg != geo
            d_conf = dev is not None and pdv is not None and pdv != dev
            if not (g_conf or d_conf):
                continue
            n_conf += 1
            if g_conf and (best_geo is None or (pt, pe) > best_geo[:2]):
                best_geo = (pt, pe, pg)
            if d_conf and (best_dev is None or (pt, pe) > best_dev[:2]):
                best_dev = (pt, pe, pdv)
        if n_conf:
            rows.append(
                (
                    eid, entity_id, r.type, r.profile, int(r.ts_ms),
                    geo, dev, best_geo is not None, best_dev is not None,
                    best_geo[2] if best_geo else None,
                    best_dev[2] if best_dev else None,
                    n_conf, "MEDIUM",
                )
            )
        buf.append((t, eid, geo, dev))

    newest = max(t for t, _, _, _ in buf) if buf else 0
    buf = [b for b in buf if b[0] >= newest - _R3_WINDOW_US]
    state.update((
        [b[0] for b in buf],
        [b[1] for b in buf],
        [b[2] or "" for b in buf],
        [b[3] or "" for b in buf],
    ))
    cols = [
        "event_id", "entity_id", "type", "profile", "ts_ms",
        "current_geo", "current_device", "geo_conflict", "device_conflict",
        "prev_geo", "prev_device", "n_conflicts", "severity",
    ]
    yield pd.DataFrame(rows, columns=cols)


def r3_stateful(entity_stream: DataFrame) -> DataFrame:
    """Streaming R3 geo/device-mismatch alerts, keyed by entity_id (R3 spans
    event types, so it cannot share alert_rules_stateful's (entity_id, type)
    grouping).  Input needs: entity_id, type, profile, ts_us, ts_ms,
    event_id, geo, device and the timestamp ``ts`` (120 s watermark); only
    the columns the kernel reads reach the operator."""
    return (
        entity_stream.withWatermark("ts", WATERMARK_DELAY)
        .select("entity_id", "type", "profile", "ts_us", "ts_ms", "event_id", "geo", "device")
        .groupBy("entity_id")
        .applyInPandasWithState(
            _eval_r3,
            outputStructType=R3_SCHEMA,
            stateStructType=_R3_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


PROFILE_SNAPSHOT_SCHEMA = (
    "profile_id string, user_ids array<string>, emails array<string>, "
    "anonymous_ids array<string>, plan string, country string, "
    "last_seen_ms bigint, feature_used_24h bigint"
)
_PROFILE_STATE_SCHEMA = (
    "user_ids array<string>, emails array<string>, anon_ids array<string>, "
    "plan string, plan_key string, country string, country_key string, "
    "last_seen_ms bigint, bucket_ms array<long>, bucket_cnt array<long>, "
    "prev_hash string"
)


def _lww_key(ts_us: int, event_id: str) -> str:
    """Python twin of functions.core.lww_order_key — zero-padded composite
    so cross-batch comparisons order exactly like the batch max_by."""
    return f"{ts_us:020d}|{str(event_id):0>12}"


def _apply_profiles(key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    """Per profile_id: apply events in (ts, eventId) order — W3's in-order
    drain — maintaining identifier sets (A11), LWW plan/country on IDENTIFY
    (A12), lastSeen max (A13) and the 1-min-bucketed Feature-Used counter
    (A7 append + evict).  Emits the post-batch snapshot only when it differs
    from the previously emitted one (W7 change-suppression,
    `cdp/api/CdpController.kt:105-139`)."""
    (profile_id,) = key
    if state.exists:
        (users, emails, anons, plan, plan_key, country, country_key,
         last_seen, b_ms, b_cnt, prev_hash) = state.get
        users, emails, anons = set(users), set(emails), set(anons)
        buckets = dict(zip(b_ms, b_cnt))
    else:
        users, emails, anons = set(), set(), set()
        plan = plan_key = country = country_key = None
        last_seen, buckets, prev_hash = None, {}, None

    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.sort_values(["ts_us", "event_id"], kind="mergesort")
    for r in batch.itertuples(index=False):
        if r.nuser is not None:
            users.add(r.nuser)
        if r.nemail is not None:
            emails.add(r.nemail)
        if r.nanon is not None:
            anons.add(r.nanon)
        okey = _lww_key(int(r.ts_us), r.event_id)
        if r.ctype == "IDENTIFY":
            if r.plan is not None and (plan_key is None or okey >= plan_key):
                plan, plan_key = r.plan, okey
            if r.country is not None and (country_key is None or okey >= country_key):
                country, country_key = r.country, okey
        ts_ms = int(r.ts_ms)
        last_seen = ts_ms if last_seen is None else max(last_seen, ts_ms)
        if r.ctype == "TRACK" and r.name == "Feature Used":
            b = ts_ms - ts_ms % MINUTE_MS
            buckets[b] = buckets.get(b, 0) + 1

    # A7 eviction relative to the newest seen event (lossless: cutoff only grows)
    cutoff = (last_seen - DAY_MS) - (last_seen - DAY_MS) % MINUTE_MS if last_seen is not None else 0
    buckets = {b: c for b, c in buckets.items() if b >= cutoff}
    feature_24h = sum(buckets.values())

    snap = (
        profile_id, sorted(users), sorted(emails), sorted(anons),
        plan, country, last_seen, feature_24h,
    )
    snap_hash = repr(snap)
    state.update((
        sorted(users), sorted(emails), sorted(anons), plan, plan_key,
        country, country_key, last_seen,
        list(buckets.keys()), list(buckets.values()), snap_hash,
    ))
    if snap_hash != prev_hash:
        yield pd.DataFrame(
            [snap],
            columns=[
                "profile_id", "user_ids", "emails", "anonymous_ids",
                "plan", "country", "last_seen_ms", "feature_used_24h",
            ],
        )
    else:
        yield pd.DataFrame(
            columns=[
                "profile_id", "user_ids", "emails", "anonymous_ids",
                "plan", "country", "last_seen_ms", "feature_used_24h",
            ]
        )


def profile_apply_stateful(resolved_stream: DataFrame) -> DataFrame:
    """Streaming profile materialization: the stateful twin of
    operators/profiles.build_profiles over canonical-id-tagged CDP events.

    Input: profile_id, ts (timestamp), ts_us, ts_ms, event_id, ctype, name,
    plan, country, nuser, nanon, nemail.  Output: changed profile snapshots
    per micro-batch (append).  State is bounded: identifier sets are small
    per profile, the counter holds ≤ 1441 minute buckets."""
    return (
        resolved_stream.withWatermark("ts", WATERMARK_DELAY)
        .groupBy("profile_id")
        .applyInPandasWithState(
            _apply_profiles,
            outputStructType=PROFILE_SNAPSHOT_SCHEMA,
            stateStructType=_PROFILE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_REENGAGE_STATE_SCHEMA = "last_seen_ms bigint, in_reengage boolean"


def _reengage(key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    """W10/G3: the time-triggered segment — membership can change with NO
    event arriving (`cdp/segments/SegmentEngine.kt:147-151`: now − lastSeen
    > 10 m strictly).  Pure event-driven evaluation cannot do this (SURVEY
    §7.3); the streaming answer is an event-time timer: every event re-arms
    a timer at lastSeen + 10 m + 1 ms; if the watermark passes it with no
    newer event, the timeout fires and the profile ENTERs reengage.  A new
    event while in reengage emits EXIT (activity ends the silence)."""
    (profile_id,) = key
    rows: list[tuple] = []
    if state.hasTimedOut:
        last_seen, _ = state.get
        rows.append((profile_id, "reengage", "ENTER", last_seen + REENGAGE_MS + 1))
        state.update((last_seen, True))
        # No re-arm: the profile stays in reengage until its next event.
    else:
        if state.exists:
            last_seen, in_reengage = state.get
        else:
            last_seen, in_reengage = None, False
        batch = pd.concat(list(pdfs), ignore_index=True).sort_values("ts_ms", kind="mergesort")
        new_last = int(batch["ts_ms"].iloc[-1])
        if last_seen is not None:
            new_last = max(new_last, last_seen)
        if in_reengage:
            rows.append((profile_id, "reengage", "EXIT", int(batch["ts_ms"].iloc[0])))
        state.update((new_last, False))
        # strict '>' in the rule → fire only once the watermark is past +10 m
        state.setTimeoutTimestamp(new_last + REENGAGE_MS + 1)
    yield pd.DataFrame(rows, columns=["profile_id", "segment", "action", "ts_ms"])


def reengage_stateful(profile_events: DataFrame) -> DataFrame:
    """Inactivity-triggered reengage ENTER/EXIT stream.

    Input: profile_id, ts (timestamp), ts_ms.  Event-time timers require a
    watermark; timer latency = 10 m silence + the 10 s watermark delay,
    exactly the session-gap pattern."""
    return (
        profile_events.withWatermark("ts", "10 seconds")
        .groupBy("profile_id")
        .applyInPandasWithState(
            _reengage,
            outputStructType=SEGMENT_EVENT_SCHEMA,
            stateStructType=_REENGAGE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


SEGMENT_EVENT_SCHEMA = "profile_id string, segment string, action string, ts_ms bigint"
_SEG_STATE_SCHEMA = "segments array<string>"


def _diff_segments(key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    (profile_id,) = key
    prev = set(state.get[0]) if state.exists else set()
    rows: list[tuple] = []
    batch = pd.concat(list(pdfs), ignore_index=True).sort_values("ts_ms", kind="mergesort")
    for _, r in batch.iterrows():
        current = set(r["segments"])
        for seg in sorted(current - prev):
            rows.append((profile_id, seg, "ENTER", int(r["ts_ms"])))
        for seg in sorted(prev - current):
            rows.append((profile_id, seg, "EXIT", int(r["ts_ms"])))
        prev = current
    state.update((sorted(prev),))
    yield pd.DataFrame(rows, columns=["profile_id", "segment", "action", "ts_ms"])


def segment_diff_stateful(snapshot_stream: DataFrame) -> DataFrame:
    """G4 as a keyed-state stream: input rows are membership snapshots
    (profile_id, segments array<string>, ts, ts_ms); output is the
    ENTER/EXIT change stream."""
    return (
        snapshot_stream.withWatermark("ts", WATERMARK_DELAY)
        .groupBy("profile_id")
        .applyInPandasWithState(
            _diff_segments,
            outputStructType=SEGMENT_EVENT_SCHEMA,
            stateStructType=_SEG_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
