"""Property fuzz: the stateful rule kernel ≡ the batch rule union.

Until round 6 the only non-empty comparison between
`streaming/stateful._eval_rules` and `operators/rules.alerts` was the
three-scenario firing fixture; this fuzz feeds RANDOM event histories
through both and requires identical alert sets — entity counts, event
spacing, value spikes, nulls, chunking, and the chunk boundaries
themselves are all hypothesis-chosen.

Two deliberate constraints keep the comparison exact rather than flaky:

- values come from a DYADIC alphabet (0.25 … 512.0): window sums and
  averages of dyadic rationals are exact in float64 regardless of
  summation order, so JVM window frames and numpy prefix sums cannot
  differ by an ulp and flip a strict `>` at the threshold.  The EWMA is
  not dyadic but both engines run the same scalar recurrence in the same
  order (alpha*v + 0.9*prev), so it is bit-identical by construction.
- chunks split the TIME-ORDERED global stream (what the watermark +
  in-order drain guarantee the kernel sees); within a chunk the kernel
  re-sorts, so intra-chunk order is irrelevant.

The kernel side runs in-process against a fake GroupState — no Spark
stream per example — so the fuzz affords dozens of histories in seconds;
the batch side is the oracle-checked Spark plan.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from pulseboard_spark.operators import rules
from pulseboard_spark.streaming.stateful import _eval_rules

VALUES = [0.25, 0.5, 1.0, 2.0, 4.0, 8.0, 64.0, 100.0, 256.0, 512.0, None]
BASE_US = 1_704_067_200_000_000


class FakeState:
    """The three GroupState members _eval_rules touches."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


@st.composite
def histories(draw):
    n_entities = draw(st.integers(1, 3))
    rows = []
    eid = 0
    for e in range(n_entities):
        profile = draw(st.sampled_from(["SASE", "IGAMING"]))
        n_types = draw(st.integers(1, 2))
        for t in range(n_types):
            n = draw(st.integers(3, 30))
            # bursty keys (tight gaps) make R1/R4 firings common — without
            # the bias almost every random history is alert-free and the
            # fuzz only exercises the negative path
            hi = draw(st.sampled_from([3, 20, 180]))
            gaps = draw(st.lists(st.integers(0, hi), min_size=n, max_size=n))
            ts = BASE_US
            for g in gaps:
                ts += g * 1_000_000
                rows.append(
                    (eid, ts, f"ent{e}", profile, f"type{t}",
                     draw(st.sampled_from(VALUES)))
                )
                eid += 1
    rows.sort(key=lambda r: (r[1], r[0]))  # global time order
    n_chunks = draw(st.integers(1, 4))
    cuts = sorted(draw(st.lists(st.integers(0, len(rows)), min_size=n_chunks - 1,
                                max_size=n_chunks - 1)))
    return rows, cuts


def kernel_alerts(rows, cuts) -> set[tuple]:
    """Replay time-ordered chunks through _eval_rules per key."""
    bounds = [0, *cuts, len(rows)]
    states: dict = {}
    out = []
    for i in range(len(bounds) - 1):
        chunk = rows[bounds[i]: bounds[i + 1]]
        if not chunk:
            continue
        pdf = pd.DataFrame(
            chunk, columns=["event_id", "ts_us", "entity_id", "profile", "type", "value"]
        )
        pdf["ts_ms"] = pdf["ts_us"] // 1000
        pdf["value"] = pdf["value"].astype("float64")
        for key, grp in pdf.groupby(["entity_id", "type"], sort=False):
            state = states.setdefault(key, FakeState())
            out.extend(_eval_rules(key, iter([grp]), state))
    if not out:
        return set()
    res = pd.concat(out, ignore_index=True)
    return {tuple(r) for r in res.itertuples(index=False)}


def batch_alerts(spark, rows) -> set[tuple]:
    df = spark.createDataFrame(
        [(e, ts, ent, prof, typ, v) for e, ts, ent, prof, typ, v in rows],
        "event_id long, ts_us long, entity_id string, profile string, type string, value double",
    ).select(
        "event_id",
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
        "ts_us",
        (F.col("ts_us") / 1000).cast("long").alias("ts_ms"),
        "entity_id", "profile", "type", "value",
        F.lit("US").alias("geo"), F.lit("desktop").alias("device"),
    )
    got = rules.alerts(df).filter(F.col("rule") != "R3_GEO_DEVICE_MISMATCH")
    return {tuple(r) for r in got.select("rule", "entity_id", "ts_ms", "severity", "event_id").collect()}


def _check_kernel_equals_batch(spark, hist):
    rows, cuts = hist
    want = batch_alerts(spark, rows)
    got = kernel_alerts(rows, cuts)
    assert got == want


@pytest.mark.usefixtures("spark")
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(hist=histories())
def test_kernel_equals_batch_smoke(spark, hist):
    """Fast pin (default gate): 4 random histories through the full
    batch-vs-kernel equality; the 15-example profile runs in the slow
    tier (each example pays a Spark batch job, ~2.5 s)."""
    _check_kernel_equals_batch(spark, hist)


@pytest.mark.slow
@pytest.mark.usefixtures("spark")
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(hist=histories())
def test_kernel_equals_batch_on_random_histories(spark, hist):
    _check_kernel_equals_batch(spark, hist)


# ---------------------------------------------------------------------------
# Kernel paths the time-ordered fuzz never reaches: no firing, several input
# chunks in one call, and a late event merged into the buffer
# ---------------------------------------------------------------------------

US = 1_000_000
LATE_KEY = ("late", "LOGIN")


def _key_frame(rows) -> pd.DataFrame:
    """(event_id, seconds after BASE_US, value) rows of LATE_KEY, in the
    seven columns alert_rules_stateful hands the kernel."""
    pdf = pd.DataFrame(rows, columns=["event_id", "ts_s", "value"])
    pdf["ts_us"] = BASE_US + pdf["ts_s"] * US
    pdf["ts_ms"] = pdf["ts_us"] // 1000
    pdf["entity_id"], pdf["type"], pdf["profile"] = "late", "LOGIN", "SASE"
    pdf["value"] = pdf["value"].astype("float64")
    return pdf[["entity_id", "type", "profile", "ts_us", "ts_ms", "value", "event_id"]]


def _rows(frames) -> list[tuple]:
    return [tuple(r) for f in frames for r in f.itertuples(index=False)]


def test_kernel_yields_nothing_when_no_rule_fires():
    state = FakeState()
    out = list(_eval_rules(LATE_KEY, iter([_key_frame([(1, 30, 2.0), (0, 0, 1.0)])]), state))
    assert out == []
    assert state.get == ([BASE_US, BASE_US + 30 * US], [1.0, 2.0], 1.1, True)


def test_kernel_chunks_equal_their_concatenation():
    """One call over two chunks (neither time-ordered, nor in time order
    with each other) ≡ one call over their concatenation: same alerts, same
    state."""
    rows = [(i, 100 + 2 * i, 1.0) for i in range(25)] + [(25, 140, 5000.0), (26, 141, None)]
    whole = _key_frame(rows).sample(frac=1, random_state=3)
    a, b = whole.iloc[::2], whole.iloc[1::2]
    s_split, s_whole = FakeState(), FakeState()
    got = _rows(_eval_rules(LATE_KEY, iter([a, b]), s_split))
    want = _rows(_eval_rules(LATE_KEY, iter([whole]), s_whole))
    assert got == want and len(want) > 0
    assert repr(s_split.get) == repr(s_whole.get)  # repr: NaN == NaN


def test_kernel_late_arrival_matches_recorded_output():
    """A late event (older than the buffer's tail, inside the 1 h horizon)
    takes the merge path; the literals are the output of the pandas-sorted
    kernel this one replaced."""
    state = FakeState()
    first = _key_frame([(i, 100 + 2 * i, 1.0) for i in range(25)])  # t = 100..148 s
    got = _rows(_eval_rules(LATE_KEY, iter([first]), state))
    assert got == [
        ("R1_VELOCITY_SPIKE", "late", BASE_US // 1000 + (100 + 2 * i) * 1000, "MEDIUM", i)
        for i in range(19, 25)
    ]
    second = _key_frame([(101, 150, 2.0), (100, 110, 5000.0), (102, 150, None)])
    got = _rows(_eval_rules(LATE_KEY, iter([second]), state))
    assert got == [("R2_VALUE_SPIKE", "late", 1_704_067_310_000, "LOW", 100)]
    ts, vals, ewma, has_ewma = state.get
    offsets = list(range(100, 150, 2))
    offsets.insert(6, 110)
    assert [(t - BASE_US) // US for t in ts] == offsets + [150, 150]
    assert repr(vals) == repr([1.0] * 6 + [5000.0] + [1.0] * 19 + [2.0, float("nan")])
    assert (ewma, has_ewma) == (451.01, True)


# ---------------------------------------------------------------------------
# R3 geo/device kernel vs the range-bucketed batch self-join
# ---------------------------------------------------------------------------

from pulseboard_spark.streaming.stateful import _eval_r3  # noqa: E402

GEOS = ["US", "UK", None]
DEVICES = ["desktop", "mobile", None]


@st.composite
def r3_histories(draw):
    """Tag-flapping histories: short gaps around the 2-minute window edge,
    nullable tags, timestamp ties — everything the conflict join must
    tie-break deterministically."""
    n_entities = draw(st.integers(1, 2))
    rows, eid = [], 0
    for e in range(n_entities):
        n = draw(st.integers(2, 20))
        ts = BASE_US
        for _ in range(n):
            ts += draw(st.integers(0, 150)) * 1_000_000
            rows.append((eid, ts, f"ent{e}", "SASE", "LOGIN",
                         draw(st.sampled_from(GEOS)), draw(st.sampled_from(DEVICES))))
            eid += 1
    rows.sort(key=lambda r: (r[1], r[0]))
    n_chunks = draw(st.integers(1, 3))
    cuts = sorted(draw(st.lists(st.integers(0, len(rows)), min_size=n_chunks - 1,
                                max_size=n_chunks - 1)))
    return rows, cuts


def _r3_kernel_set(rows, cuts) -> set[tuple]:
    bounds = [0, *cuts, len(rows)]
    states: dict = {}
    out = []
    for i in range(len(bounds) - 1):
        chunk = rows[bounds[i]: bounds[i + 1]]
        if not chunk:
            continue
        pdf = pd.DataFrame(
            chunk,
            columns=["event_id", "ts_us", "entity_id", "profile", "type", "geo", "device"],
        )
        pdf["ts_ms"] = pdf["ts_us"] // 1000
        for key, grp in pdf.groupby(["entity_id"], sort=False):
            state = states.setdefault(key, FakeState())
            out.extend(_eval_r3(key, iter([grp]), state))
    res = pd.concat(out, ignore_index=True) if out else None
    got = set()
    if res is not None:
        for r in res.itertuples(index=False):
            got.add((r.event_id, r.entity_id, r.ts_ms, r.geo_conflict, r.device_conflict,
                     r.prev_geo, r.prev_device, r.n_conflicts, r.severity))
    return got


@pytest.mark.parity  # clean at introduction; gate-budget keeps it in the parity sweep
@pytest.mark.usefixtures("spark")
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(hist=r3_histories())
def test_r3_kernel_equals_batch(spark, hist):
    rows, cuts = hist
    df = spark.createDataFrame(
        rows,
        "event_id long, ts_us long, entity_id string, profile string, "
        "type string, geo string, device string",
    ).select("*", (F.col("ts_us") / 1000).cast("long").alias("ts_ms"))
    want = {
        (r.event_id, r.entity_id, r.ts_ms, r.geo_conflict, r.device_conflict,
         r.prev_geo, r.prev_device, r.n_conflicts, r.severity)
        for r in rules.r3_geo_device_eval(df).collect()
    }
    got = _r3_kernel_set(rows, cuts)
    assert got == want


# ---------------------------------------------------------------------------
# CDP profiles kernel vs build_profiles (LWW traits, id sets, 24h counter)
# ---------------------------------------------------------------------------

from pulseboard_spark.operators.profiles import DAY_MS, MINUTE_MS, build_profiles  # noqa: E402
from pulseboard_spark.streaming.stateful import _apply_profiles  # noqa: E402

BASE_MS = BASE_US // 1000


@st.composite
def profile_histories(draw):
    """IDENTIFY/TRACK/ALIAS mixes with nullable traits, sparse identifiers,
    Feature-Used tracks, and gaps up to ~30 h (crossing the 24 h counter
    window); ties and chunk boundaries as in the other fuzzes."""
    n_profiles = draw(st.integers(1, 2))
    rows, eid = [], 0
    for p in range(n_profiles):
        n = draw(st.integers(3, 15))
        gap_hi = draw(st.sampled_from([60, 7200, 108_000]))
        ts = BASE_MS
        for _ in range(n):
            ts += draw(st.integers(0, gap_hi)) * 1000
            ctype = draw(st.sampled_from(["IDENTIFY", "TRACK", "ALIAS"]))
            plan = draw(st.sampled_from(["pro", "basic", None])) if ctype == "IDENTIFY" else None
            country = draw(st.sampled_from(["US", "DE", None])) if ctype == "IDENTIFY" else None
            name = draw(st.sampled_from(["Feature Used", "Sign In", None])) if ctype == "TRACK" else None
            has_u, has_a, has_m = (draw(st.booleans()) for _ in range(3))
            if not (has_u or has_a or has_m):
                has_u = True  # P1: valid events carry >= 1 identifier
            rows.append((
                f"e{eid}", ts, f"p{p}", ctype, name, plan, country,
                f"user:u{p}" if has_u else None,
                f"anon:a{p}" if has_a else None,
                f"email:m{p}" if has_m else None,
            ))
            eid += 1
    rows.sort(key=lambda r: (r[1], r[0]))
    n_chunks = draw(st.integers(1, 3))
    cuts = sorted(draw(st.lists(st.integers(0, len(rows)), min_size=n_chunks - 1,
                                max_size=n_chunks - 1)))
    return rows, cuts


_PROFILE_COLS = ["event_id", "ts_ms", "profile_id", "ctype", "name",
                 "plan", "country", "nuser", "nanon", "nemail"]


@pytest.mark.parity  # clean at introduction; gate-budget keeps it in the parity sweep
@pytest.mark.usefixtures("spark")
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(hist=profile_histories())
def test_profiles_kernel_equals_batch(spark, hist):
    rows, cuts = hist
    df = spark.createDataFrame(
        rows,
        "event_id string, ts_ms long, profile_id string, ctype string, name string, "
        "plan string, country string, nuser string, nanon string, nemail string",
    ).select(
        "profile_id",
        F.timestamp_millis(F.col("ts_ms")).alias("ts"),
        (F.col("ts_ms") * 1000).alias("ts_us"),
        "ts_ms", "event_id", "ctype", "name", "plan", "country",
        "nuser", "nanon", "nemail",
    )
    batch = {r.profile_id: r for r in build_profiles(df).collect()}

    # kernel: last emitted snapshot per profile (change-suppressed stream)
    bounds = [0, *cuts, len(rows)]
    states: dict = {}
    last: dict = {}
    for i in range(len(bounds) - 1):
        chunk = rows[bounds[i]: bounds[i + 1]]
        if not chunk:
            continue
        pdf = pd.DataFrame(chunk, columns=_PROFILE_COLS)
        pdf["ts_us"] = pdf["ts_ms"] * 1000
        for key, grp in pdf.groupby(["profile_id"], sort=False):
            state = states.setdefault(key, FakeState())
            for out in _apply_profiles(key, iter([grp]), state):
                last[out.iloc[0]["profile_id"]] = out.iloc[0]

    assert set(last) == set(batch)
    # the 24h counter's "now" differs by design: batch uses the global max
    # ts, the kernel each profile's own last event — recompute per profile
    per_profile_counts: dict = {}
    for e, ts, p, ctype, name, *_ in rows:
        if ctype == "TRACK" and name == "Feature Used":
            per_profile_counts.setdefault(p, []).append(ts)
    for pid, b in batch.items():
        s = last[pid]
        assert list(s["user_ids"]) == sorted(b.user_ids), pid
        assert list(s["emails"]) == sorted(b.emails), pid
        assert list(s["anonymous_ids"]) == sorted(b.anonymous_ids), pid
        assert s["plan"] == b.plan and s["country"] == b.country, pid
        assert s["last_seen_ms"] == b.last_seen_ms, pid
        as_of = b.last_seen_ms
        cutoff = (as_of - DAY_MS) - (as_of - DAY_MS) % MINUTE_MS
        want_cnt = sum(1 for t in per_profile_counts.get(pid, [])
                       if t - t % MINUTE_MS >= cutoff)
        assert s["feature_used_24h"] == want_cnt, pid


# ---------------------------------------------------------------------------
# Segment differ (G4) + reengage timers vs the batch dual-snapshot diff
# ---------------------------------------------------------------------------

from pulseboard_spark.operators.segments import (  # noqa: E402
    REENGAGE_MS,
    POWER_USER_THRESHOLD,
    segment_events,
    segment_membership,
)
from pulseboard_spark.streaming.stateful import (  # noqa: E402
    _diff_segments,
    _lww_key,
    _reengage,
)

_PROFILE_SCHEMA = (
    "event_id string, ts_ms long, profile_id string, ctype string, name string, "
    "plan string, country string, nuser string, nanon string, nemail string"
)


@st.composite
def segment_histories(draw):
    """CDP histories biased so every segment rule crosses its boundary:
    Feature-Used bursts (power_user threshold 5), plan flips pro/basic/null
    with ts ties (LWW + null-never-overwrites), and gaps straddling the
    10-minute reengage edge and the 24 h counter cutoff."""
    n_profiles = draw(st.integers(1, 3))
    rows, eid = [], 0
    for p in range(n_profiles):
        n = draw(st.integers(4, 18))
        # gap alphabet in seconds: ties, sub-minute, the exact 10-min edge,
        # just-over, and day-scale (crosses the 24 h bucket cutoff)
        gap_hi = draw(st.sampled_from([30, 599, 601, 90_000]))
        ts = BASE_MS
        for _ in range(n):
            ts += draw(st.integers(0, gap_hi)) * 1000
            ctype = draw(st.sampled_from(["IDENTIFY", "TRACK", "TRACK", "ALIAS"]))
            plan = draw(st.sampled_from(["pro", "basic", None])) if ctype == "IDENTIFY" else None
            name = (
                draw(st.sampled_from(["Feature Used", "Feature Used", "Sign In"]))
                if ctype == "TRACK"
                else None
            )
            rows.append((f"{eid:06d}", ts, f"p{p}", ctype, name, plan, None,
                         f"user:u{p}", None, None))
            eid += 1
    rows.sort(key=lambda r: (r[1], r[0]))
    cuts = sorted(draw(st.lists(st.integers(0, len(rows)), min_size=0, max_size=2)))
    return rows, cuts


def _membership_py(rows, as_of_ms) -> dict[str, set]:
    """Independent Python model of segment_membership's snapshot rules
    (reference `cdp/segments/SegmentEngine.kt:125-151`): LWW plan over
    present-plan IDENTIFYs (ties by the zero-padded (ts_us, event_id) key),
    bucketed trailing Feature-Used count, strict 10-min reengage gap."""
    per: dict = {}
    for (eid, ts, pid, ctype, name, plan, *_rest) in rows:
        if ts > as_of_ms:
            continue
        d = per.setdefault(pid, {"last": None, "plan": None, "pkey": None, "feat": []})
        d["last"] = ts if d["last"] is None else max(d["last"], ts)
        if ctype == "IDENTIFY" and plan is not None:
            k = _lww_key(ts * 1000, eid)
            if d["pkey"] is None or k >= d["pkey"]:
                d["plan"], d["pkey"] = plan, k
        if ctype == "TRACK" and name == "Feature Used":
            d["feat"].append(ts)
    cutoff = (as_of_ms - DAY_MS) - (as_of_ms - DAY_MS) % MINUTE_MS
    out = {}
    for pid, d in per.items():
        cnt = sum(1 for t in d["feat"] if t - t % MINUTE_MS >= cutoff)
        segs = set()
        if cnt >= POWER_USER_THRESHOLD:
            segs.add("power_user")
        if d["plan"] == "pro":
            segs.add("pro_plan")
        if as_of_ms - d["last"] > REENGAGE_MS:
            segs.add("reengage")
        out[pid] = segs
    return out


@pytest.mark.parity  # clean at introduction; gate-budget keeps it in the parity sweep
@pytest.mark.usefixtures("spark")
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(hist=segment_histories())
def test_segment_differ_kernel_equals_batch(spark, hist):
    """The _diff_segments kernel fed independently-modelled mid/end
    snapshots (chunk boundaries hypothesis-chosen) must emit exactly the
    batch segment_events ENTER/EXIT set — including profiles unseen at
    mid, whose previous membership is the empty set."""
    rows, cuts = hist
    df = spark.createDataFrame(rows, _PROFILE_SCHEMA).select(
        "profile_id", (F.col("ts_ms") * 1000).alias("ts_us"),
        "ts_ms", "event_id", "ctype", "name", "plan", "country",
        "nuser", "nanon", "nemail",
    )
    want = {
        (r.profile_id, r.segment, r.action)
        for r in segment_events(df).collect()
    }

    all_ts = [r[1] for r in rows]
    end_ms, mn = max(all_ts), min(all_ts)
    mid_ms = mn + (end_ms - mn) // 2
    mid = _membership_py(rows, mid_ms)
    end = _membership_py(rows, end_ms)

    # snapshot stream: one row per (profile, snapshot time it exists at)
    snaps = [(pid, sorted(segs), mid_ms) for pid, segs in mid.items()]
    snaps += [(pid, sorted(segs), end_ms) for pid, segs in end.items()]
    snaps.sort(key=lambda r: (r[2], r[0]))
    bounds = [0, *[min(c, len(snaps)) for c in cuts], len(snaps)]
    states: dict = {}
    got = set()
    for i in range(len(bounds) - 1):
        chunk = snaps[bounds[i]: bounds[i + 1]]
        if not chunk:
            continue
        pdf = pd.DataFrame(chunk, columns=["profile_id", "segments", "ts_ms"])
        for key, grp in pdf.groupby(["profile_id"], sort=False):
            state = states.setdefault(key, FakeState())
            for out in _diff_segments(key, iter([grp]), state):
                for r in out.itertuples(index=False):
                    # the mid->end (or, for profiles unseen at mid,
                    # empty->end) diff is what batch segment_events
                    # computes.  When every event ties on one timestamp
                    # mid == end: the two snapshots coincide, batch is
                    # empty by construction, and the kernel's empty->first
                    # ENTERs are the stream's initial memberships, not a
                    # mid->end change — excluded from the comparison.
                    if r.ts_ms == end_ms and (mid_ms < end_ms or r.profile_id not in mid):
                        got.add((r.profile_id, r.segment, r.action))
    assert got == want


class FakeTimerState(FakeState):
    """FakeState + the event-time-timer members _reengage touches."""

    def __init__(self):
        super().__init__()
        self.timeout_ms = None
        self.hasTimedOut = False

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


@pytest.mark.parity  # clean at introduction; gate-budget keeps it in the parity sweep
@pytest.mark.usefixtures("spark")
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(hist=segment_histories())
def test_reengage_timer_final_state_equals_batch(spark, hist):
    """Replay _reengage with emulated event-time timers (Spark fires a
    timer when `timeout < watermark`; the final watermark passes the last
    event, i.e. end+1) — the final in-reengage set must equal the batch
    end-snapshot's strict `now - lastSeen > 10 m` membership.  Intermediate
    watermarks lag one chunk (delay-conservative), so ENTER->EXIT flaps
    around the 10-minute edge are exercised, not just the final state."""
    rows, cuts = hist
    df = spark.createDataFrame(rows, _PROFILE_SCHEMA).select(
        "profile_id", (F.col("ts_ms") * 1000).alias("ts_us"),
        "ts_ms", "event_id", "ctype", "name", "plan", "country",
        "nuser", "nanon", "nemail",
    )
    memb = segment_membership(df, F.max("ts_ms"))
    want = {r.profile_id for r in memb.filter("reengage").collect()}

    ordered = sorted(rows, key=lambda r: (r[1], r[0]))
    bounds = [0, *[min(c, len(ordered)) for c in cuts], len(ordered)]
    states: dict[tuple, FakeTimerState] = {}
    wm = None  # event-time watermark: max ts of fully-processed chunks

    def fire_timers(watermark_ms, skip: set):
        for key, state in states.items():
            if key in skip or state.timeout_ms is None:
                continue
            if state.timeout_ms < watermark_ms:
                state.hasTimedOut = True
                state.timeout_ms = None
                list(_reengage(key, iter([]), state))
                state.hasTimedOut = False

    for i in range(len(bounds) - 1):
        chunk = ordered[bounds[i]: bounds[i + 1]]
        if not chunk:
            continue
        pdf = pd.DataFrame(chunk, columns=[
            "event_id", "ts_ms", "profile_id", "ctype", "name",
            "plan", "country", "nuser", "nanon", "nemail",
        ])
        with_data = {(pid,) for pid in pdf["profile_id"].unique()}
        if wm is not None:
            # a key cannot both receive data and time out in one batch
            fire_timers(wm, skip=with_data)
        for key, grp in pdf.groupby(["profile_id"], sort=False):
            state = states.setdefault(key, FakeTimerState())
            list(_reengage(key, iter([grp]), state))
        wm = max(int(pdf["ts_ms"].max()), wm or 0)
    fire_timers(wm + 1, skip=set())  # drain: watermark passes the last event

    got = {key[0] for key, s in states.items() if s.get is not None and s.get[1]}
    assert got == want


# ---------------------------------------------------------------------------
# Rolling counter (A7) vs the reference's sequential tailMap model
# ---------------------------------------------------------------------------

from pulseboard_spark.operators.rolling_counter import rolling_counter_24h  # noqa: E402


@st.composite
def counter_histories(draw):
    """TRACK streams with gaps pinned to the bucket/horizon boundaries:
    same-ms ties, 1 ms, minute-1 ms, exactly one minute, 24 h minus/plus
    one bucket, and exactly 24 h — where tailMap-inclusive vs RANGE-frame
    off-by-ones would live."""
    GAPS_MS = [0, 1, MINUTE_MS - 1, MINUTE_MS, 17_000,
               DAY_MS - MINUTE_MS, DAY_MS, DAY_MS + MINUTE_MS]
    n_keys = draw(st.integers(1, 3))
    rows, eid = [], 0
    for k in range(n_keys):
        n = draw(st.integers(3, 25))
        ts = BASE_MS
        name = draw(st.sampled_from(["Feature Used", "Sign In"]))
        for _ in range(n):
            ts += draw(st.sampled_from(GAPS_MS))
            ctype = draw(st.sampled_from(["TRACK"] * 4 + ["IDENTIFY"]))
            rows.append((
                f"{eid:06d}", ts,
                ctype,
                name if draw(st.integers(0, 9)) else None,  # 10% null names
                f"user:u{k}" if draw(st.booleans()) else None,
                f"anon:a{k}",
            ))
            eid += 1
    return rows


def _counter_ref_model(rows) -> dict[str, int]:
    """Sequential twin of `cdp/store/RollingCounter.kt:80-110`: per (pid,
    name), replay TRACKs in (ts, eventId) order, append the event's 1-min
    bucket, then count buckets >= toBucketTimestamp(now - 24 h)
    (tailMap inclusive — the current event counts itself)."""
    out = {}
    per: dict = {}
    for (eid, ts, ctype, name, nuser, nanon) in sorted(rows, key=lambda r: (r[1], r[0])):
        if ctype != "TRACK" or name is None:
            continue
        pid = nuser if nuser is not None else nanon
        buckets = per.setdefault((pid, name), {})
        b = ts - ts % MINUTE_MS
        buckets[b] = buckets.get(b, 0) + 1
        cutoff = (ts - DAY_MS) - (ts - DAY_MS) % MINUTE_MS
        out[eid] = sum(c for bb, c in buckets.items() if bb >= cutoff)
    return out


@pytest.mark.parity  # clean at introduction; gate-budget keeps it in the parity sweep
@pytest.mark.usefixtures("spark")
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=counter_histories())
def test_rolling_counter_equals_reference_model(spark, rows):
    df = spark.createDataFrame(
        rows,
        "event_id string, ts_ms long, ctype string, name string, nuser string, nanon string",
    ).select("*", (F.col("ts_ms") * 1000).alias("ts_us"))
    got = {r.event_id: r.cnt_24h for r in rolling_counter_24h(df).collect()}
    assert got == _counter_ref_model(rows)
