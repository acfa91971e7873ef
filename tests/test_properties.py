"""Randomized model-based tests: operators vs brute-force Python models.

Pattern: generate a few hundred adversarial random inputs per test
(seeded — deterministic), run them through the Spark operator in ONE job,
and compare against an independent Python model implementing the
reference's spec verbatim.  This covers the input space far beyond the
driver testdata's shapes (colons in identifiers, equal timestamps, bucket
boundaries, negative values, disconnected graph nodes).
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from pulseboard_spark.functions.ids import normalize_id
from pulseboard_spark.functions.core import severity
from pulseboard_spark.operators import identity
from pulseboard_spark.operators.identity import connected_components
from pulseboard_spark.operators.rolling_counter import rolling_counter_24h
from pulseboard_spark.operators.ewma import with_ewma


# --- F1 normalize: Python model of IdentityGraph.kt:113-148 ------------------


def _normalize_model(s: str) -> str:
    t = s.strip()
    for pfx in ("user:", "email:", "anon:"):
        if t.startswith(pfx):
            prefix, value = t.split(":", 1)  # limit=2: FIRST colon
            value = value.strip()
            return f"{prefix}:{value.lower()}" if prefix == "email" else f"{prefix}:{value}"
    if "@" in t:
        return f"email:{t.lower()}"
    if "anon" in t.lower():
        return f"anon:{t}"
    return f"user:{t}"


def test_normalize_matches_reference_model(spark):
    rng = random.Random(1234)
    pieces = ["user:", "email:", "anon:", "ANON", "Anon-", "@", ":", "  ", "A", "b9",
              "x@Y.COM", "user", ":a:b", "Banana", "aNoN7"]
    raws = []
    for _ in range(400):
        s = "".join(rng.choice(pieces) for _ in range(rng.randint(1, 5)))
        raws.append(s)
    raws = [r for r in set(raws) if r.strip()]
    df = spark.createDataFrame([(r,) for r in raws], "raw string")
    got = {r.raw: r.norm for r in df.select("raw", normalize_id(F.col("raw")).alias("norm")).collect()}
    for r in raws:
        assert got[r] == _normalize_model(r), repr(r)


# --- R5 severity ladder: Rules.kt:220-231 ------------------------------------


def test_severity_matches_reference_model(spark):
    rng = random.Random(99)
    cases = [(rng.uniform(-50, 200), rng.choice([0.0, rng.uniform(-5, 30)])) for _ in range(300)]
    cases += [(10.0, 1.0), (5.0, 1.0), (4.999, 1.0), (0.0, 0.0), (1.0, -1.0)]
    df = spark.createDataFrame(cases, "v double, t double")
    got = df.select("v", "t", severity(F.col("v"), F.col("t")).alias("s")).collect()

    def model(v, t):
        if t <= 0:
            return "HIGH"
        ratio = v / t
        return "HIGH" if ratio >= 10 else "MEDIUM" if ratio >= 5 else "LOW"

    for r in got:
        assert r.s == model(r.v, r.t), (r.v, r.t)


# --- A7 rolling counter vs brute force ---------------------------------------


def test_rolling_counter_matches_brute_force(spark):
    rng = random.Random(7)
    MIN, DAY = 60_000, 86_400_000
    rows = []
    for i in range(600):
        pid = f"user:u{rng.randint(0, 4)}"
        name = rng.choice(["Feature Used", "Sign In"])
        # cluster timestamps around bucket and 24h boundaries, include ties
        ts_ms = rng.choice(
            [rng.randrange(0, 2 * DAY, 1),
             rng.randrange(0, 2 * DAY, MIN),           # exactly on bucket edges
             rng.randrange(DAY - MIN, DAY + MIN)]
        )
        rows.append((f"e{i}", ts_ms * 1000, ts_ms, "TRACK", name, pid, None, None))
    # exact duplicates of ts with different event ids
    rows += [(f"d{i}", rows[i][1], rows[i][2], "TRACK", rows[i][4], rows[i][5], None, None) for i in range(20)]
    df = spark.createDataFrame(
        rows, "event_id string, ts_us long, ts_ms long, ctype string, name string, nuser string, nanon string, nemail string"
    )
    got = {r.event_id: r.cnt_24h for r in rolling_counter_24h(df).collect()}

    def bucket(x):
        return x - x % MIN

    for eid, ts_us, ts_ms, _, name, pid, _, _ in rows:
        cutoff = bucket(ts_ms - DAY)
        want = sum(
            1
            for e2, t2us, t2ms, _, n2, p2, _, _ in rows
            if p2 == pid and n2 == name and (t2us, e2) <= (ts_us, eid) and bucket(t2ms) >= cutoff
        )
        assert got[eid] == want, (eid, got[eid], want)


# --- J1-J3 connected components vs union-find --------------------------------


def test_connected_components_matches_union_find(spark, monkeypatch):
    rng = random.Random(3)
    nodes = [f"n{i:02d}" for i in range(40)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(35)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    groups: dict[str, list[str]] = {}
    for n in nodes:
        groups.setdefault(find(n), []).append(n)
    want = {n: min(g) for g in groups.values() for n in g}

    ndf = spark.createDataFrame([(n,) for n in nodes], "id string")
    edf = spark.createDataFrame(edges or [("n00", "n01")], "a string, b string")
    if not edges:
        want["n00"] = want["n01"] = min("n00", "n01")
    # both physical paths must match the model: the size-guarded local
    # union-find AND the distributed min-label fixpoint (forced by a zero
    # local-edge ceiling)
    for route in ("local", "distributed"):
        if route == "distributed":
            monkeypatch.setattr(identity, "MAX_LOCAL_CC_EDGES", 0)
        got = {r.id: r.component for r in connected_components(ndf, edf).collect()}
        assert got == want, route


# --- A6 EWMA vs sequential recurrence ----------------------------------------


def test_ewma_matches_recurrence(spark):
    rng = random.Random(11)
    rows = []
    for i in range(300):
        key = f"k{rng.randint(0, 3)}"
        rows.append((i, 1_000_000 * rng.randint(0, 80), rng.choice([None, rng.uniform(-100, 100)]), key, "T"))
    df = spark.createDataFrame(rows, "event_id long, ts_us long, value double, entity_id string, type string")
    got = {r.event_id: r.ewma for r in with_ewma(df).collect()}

    state: dict = {}
    ordered = sorted(rows, key=lambda r: (r[1], r[0]))
    for eid, ts, v, k, t in ordered:
        if v is None:
            assert got[eid] is None, eid
            continue
        prev = state.get((k, t))
        cur = v if prev is None else 0.1 * v + 0.9 * prev
        state[(k, t)] = cur
        assert got[eid] == cur or abs(got[eid] - cur) < 1e-12, (eid, got[eid], cur)


# --- Rules/segments as config ------------------------------------------------


def test_custom_rule_config_and_segments(spark, sf_dir, monkeypatch):
    """Rules and segments are data: overriding thresholds changes firing
    monotonically, and a custom segment is one dict entry away."""
    from pulseboard_spark.sources.tables import entity_events
    from pulseboard_spark.operators import rules
    from pulseboard_spark.operators.segments import DEFAULT_SEGMENTS, segment_membership
    from pulseboard_spark.registry import _evprof

    def fired(multiplier, min_rate):
        monkeypatch.setattr(rules, "R1_MULTIPLIER", multiplier)
        monkeypatch.setattr(rules, "R1_MIN_RATE", min_rate)
        return rules.r1_velocity_eval(ev).filter("fired").count()

    ev = entity_events(spark, sf_dir)
    fired_default = fired(rules.R1_MULTIPLIER, rules.R1_MIN_RATE)
    fired_loose = fired(1.0, 1.0)
    fired_tight = fired(100.0, 10_000.0)
    assert fired_tight <= fired_default <= fired_loose
    assert fired_tight == 0 and fired_loose > fired_default

    evp = _evprof(spark, sf_dir)
    custom = dict(DEFAULT_SEGMENTS)
    custom["heavy_user"] = lambda: F.coalesce(F.col("cnt"), F.lit(0)) >= 1
    m = segment_membership(evp, F.max("ts_ms"), segments=custom)
    assert set(m.columns) == {"profile_id", "power_user", "pro_plan", "reengage", "heavy_user"}
    row = m.agg(F.sum(F.col("heavy_user").cast("int")), F.sum(F.col("power_user").cast("int"))).collect()[0]
    assert row[0] >= row[1]  # >=1 count is a superset of >=5


# --- group_mode: argmax with deterministic ties vs Counter model -------------


def test_group_mode_matches_counter_model(spark):
    from collections import Counter
    from pulseboard_spark.operators.relational import group_mode

    rng = random.Random(77)
    rows = []
    for _ in range(600):
        # few keys + few values => dense tie structure
        rows.append((f"k{rng.randint(0, 9)}", f"v{rng.randint(0, 3)}"))
    df = spark.createDataFrame(rows, "entity_id string, type string")
    got = {
        (r.entity_id, r.top_type, r.n_top, r.n_total, r.share_bp)
        for r in group_mode(df, ["entity_id"], "type", top_col="top_type").collect()
    }
    want = set()
    by_key: dict[str, Counter] = {}
    for k, v in rows:
        by_key.setdefault(k, Counter())[v] += 1
    for k, cnt in by_key.items():
        best = max(cnt)  # any value, for init
        best_n = -1
        for v in sorted(cnt):  # smallest value wins ties
            if cnt[v] > best_n:
                best, best_n = v, cnt[v]
        tot = sum(cnt.values())
        want.add((k, best, best_n, tot, best_n * 10000 // tot))
    assert got == want


# --- quantile_bins: ntile bucket arithmetic vs index model -------------------


def test_quantile_bins_match_ntile_model(spark):
    from pulseboard_spark.operators.mlprep import quantile_bins

    rng = random.Random(99)
    rows = []
    for i in range(500):
        # duplicate values force the (value, event_id) tie-break
        rows.append((i, f"t{rng.randint(0, 2)}", float(rng.randint(0, 20))))
    df = spark.createDataFrame(rows, "event_id long, type string, value double")
    got = {
        (r.event_id, r.bin)
        for r in quantile_bins(df, "value", ["type"], 7).select("event_id", "bin").collect()
    }
    want = set()
    groups: dict[str, list[tuple[float, int]]] = {}
    for eid, t, v in rows:
        groups.setdefault(t, []).append((v, eid))
    for t, vals in groups.items():
        vals.sort()  # (value, event_id) — the operator's tie-break
        n, b = len(vals), 7
        big, rem = n // b + 1, n % b  # first `rem` buckets get one extra
        idx = 0
        for bucket in range(1, b + 1):
            size = big if bucket <= rem else n // b
            for _ in range(size):
                if idx < n:
                    want.add((vals[idx][1], bucket))
                    idx += 1
    assert got == want


def test_distributed_ntile_matches_window_ntile(spark):
    """The two-level rank (value bins + per-bin row_number + offset join)
    must reproduce F.ntile over the matching window EXACTLY — including
    the ANSI first-(n%k)-buckets-get-one-extra arithmetic — on data spread
    across many input partitions, for several k and n (n < k, n % k == 0,
    and ragged), NULL/NaN/±inf leads (NULLS FIRST, NaN last), a
    constant-value group, and grouped ranks with a NULL group key."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pulseboard_spark.operators.mlprep import distributed_ntile

    rng = random.Random(7)
    special = [None, float("nan"), float("inf"), float("-inf")]
    cases = [
        ([(i, "a", float(rng.randint(0, 9))) for i in range(n_rows)], k, [])
        for n_rows, k in [(3, 7), (64, 8), (501, 5), (200, 3)]
    ]
    cases.append(([(i, "a", rng.choice(special + [1.5, -2.0])) for i in range(60)], 4, []))
    cases.append(([(i, "a", 3.0) for i in range(25)], 4, []))
    cases.append((
        [(i, rng.choice(["x", "y", None]), rng.choice(special + [float(rng.randint(0, 5))]))
         for i in range(120)],
        3,
        ["g"],
    ))
    for rows, k, by in cases:
        df = spark.createDataFrame(rows, "entity_id long, g string, v double").repartition(13)
        got = {
            (r.entity_id, r.b)
            for r in distributed_ntile(df, ["v", "entity_id"], k, "b", by=by).collect()
        }
        w = Window.partitionBy(*by).orderBy("v", "entity_id")
        want = {(r.entity_id, r.b) for r in df.withColumn("b", F.ntile(k).over(w)).collect()}
        assert got == want, (len(rows), k, by)


# --- SCD2 intervals vs a sequential Python model ----------------------------


def test_scd2_intervals_match_sequential_model(spark):
    """trait-history islands on random (key, ts, value) streams — including
    same-ts ties broken by event_id and long runs of repeats — must match a
    per-key sequential scan."""
    from pulseboard_spark.operators.scd import changes_to_intervals

    rng = random.Random(77)
    rows = []
    for i in range(600):
        key = f"k{rng.randrange(8)}"
        ts = rng.randrange(20) * 1000
        rows.append((key, ts, f"{ts:06d}|{i:04d}", f"v{rng.randrange(3)}"))
    df = spark.createDataFrame(rows, "key string, ts_ms long, okey string, value string")

    got = {
        (r.key, r.version): (r.value, r.valid_from_ms, r.valid_to_ms)
        for r in changes_to_intervals(df, ["key"]).collect()
    }

    want = {}
    by_key: dict[str, list] = {}
    for key, ts, okey, value in rows:
        by_key.setdefault(key, []).append((okey, ts, value))
    for key, items in by_key.items():
        items.sort()
        islands = []
        prev = None
        for okey, ts, value in items:
            if prev is None or value != prev:
                islands.append([value, ts, None])
            prev = value
        for i, isl in enumerate(islands):
            if i + 1 < len(islands):
                isl[2] = islands[i + 1][1]
            want[(key, i + 1)] = tuple(isl)
    assert got == want


# --- heavy hitters vs Counter model ------------------------------------------


def test_heavy_hitters_matches_counter_model(spark, monkeypatch):
    from collections import Counter

    from pulseboard_spark.operators import relational
    from pulseboard_spark.operators.relational import heavy_hitters

    monkeypatch.setattr(relational, "HEAVY_HITTER_MIN_SHARE_BP", 1000)
    rng = random.Random(99)
    rows = [(f"g{rng.randrange(5)}", f"v{rng.randrange(12)}") for _ in range(3000)]
    df = spark.createDataFrame(rows, "k string, v string")
    got = {(r.k, r.v): (r.n, r.n_total) for r in heavy_hitters(df, ["k"], "v").collect()}

    want = {}
    groups: dict[str, Counter] = {}
    for k, v in rows:
        groups.setdefault(k, Counter())[v] += 1
    for k, cnt in groups.items():
        tot = sum(cnt.values())
        for v, n in cnt.items():
            if n * 10000 >= 1000 * tot:  # integer-bp predicate, like the operator
                want[(k, v)] = (n, tot)
    assert got == want


# --- JSON rule DSL vs a Python reference evaluator ---------------------------


def test_dsl_random_specs_match_python_eval(spark):
    """Randomly generated predicate trees must evaluate identically via
    the compiled Catalyst Column and a plain-Python interpreter."""
    from pulseboard_spark.functions.dsl import compile_predicate

    rng = random.Random(42)
    fields = ["a", "b", "c"]

    def gen_operand(depth):
        r = rng.random()
        if depth <= 0 or r < 0.5:
            return rng.choice(fields) if rng.random() < 0.6 else round(rng.uniform(-5, 5), 2)
        op = rng.choice(["+", "-", "*"])
        return {op: [gen_operand(depth - 1), gen_operand(depth - 1)]}

    def gen_pred(depth):
        r = rng.random()
        if depth <= 0 or r < 0.5:
            return {
                "op": rng.choice([">", ">=", "<", "<=", "==", "!="]),
                "left": gen_operand(1),
                "right": gen_operand(1),
            }
        kind = rng.choice(["all", "any", "not"])
        if kind == "not":
            return {"not": gen_pred(depth - 1)}
        return {kind: [gen_pred(depth - 1) for _ in range(rng.randint(1, 3))]}

    def py_operand(spec, row):
        if isinstance(spec, str):
            return row[spec]
        if isinstance(spec, (int, float)):
            return spec
        (op, (l, r)), = spec.items()
        lv, rv = py_operand(l, row), py_operand(r, row)
        return {"+": lv + rv, "-": lv - rv, "*": lv * rv}[op]

    def py_pred(spec, row):
        if "all" in spec:
            return all(py_pred(p, row) for p in spec["all"])
        if "any" in spec:
            return any(py_pred(p, row) for p in spec["any"])
        if "not" in spec:
            return not py_pred(spec["not"], row)
        l, r = py_operand(spec["left"], row), py_operand(spec["right"], row)
        return {
            ">": l > r, ">=": l >= r, "<": l < r, "<=": l <= r,
            "==": l == r, "!=": l != r,
        }[spec["op"]]

    rows = [
        {"id": i, "a": round(rng.uniform(-5, 5), 2), "b": round(rng.uniform(-5, 5), 2),
         "c": round(rng.uniform(-5, 5), 2)}
        for i in range(200)
    ]
    df = spark.createDataFrame(
        [(r["id"], r["a"], r["b"], r["c"]) for r in rows],
        "id long, a double, b double, c double",
    )
    for _ in range(15):
        spec = gen_pred(3)
        got = {r.id for r in df.filter(compile_predicate(spec)).select("id").collect()}
        want = {r["id"] for r in rows if py_pred(spec, r)}
        assert got == want, spec


# --- attribution vs brute-force model ----------------------------------------


def test_attribution_matches_brute_force(spark, monkeypatch):
    """purchase_attribution vs an O(n²) python model over a random stream
    with timestamp ties, same-ts purchase/touch collisions, boundary-exact
    lookback gaps, and multi-purchase entities."""
    from pulseboard_spark.operators import sessions
    from pulseboard_spark.operators.sessions import purchase_attribution

    rng = random.Random(11)
    LB = 1_000
    monkeypatch.setattr(sessions, "ATTRIBUTION_LOOKBACK_MS", LB)
    rows = []
    for i in range(400):
        ent = f"E{rng.randint(0, 5)}"
        typ = rng.choice(["view", "click", "error", "purchase", "purchase"])
        ts = rng.choice(
            [rng.randrange(0, 5_000), rng.randrange(0, 5_000, LB)]  # boundary hits
        )
        rows.append((i, ts, ent, typ, float(i)))
    # exact-ts collisions: purchase and touch at the same instant
    rows += [(1000 + i, rows[i][1], rows[i][2], "view", 0.0) for i in range(15)]
    df = spark.createDataFrame(
        rows, "event_id long, ts_ms long, entity_id string, type string, value double"
    )
    got = {
        r.event_id: (r.first_touch_type, r.last_touch_type)
        for r in purchase_attribution(df).collect()
    }

    def key(r):
        return (f"{r[1]:015d}", f"{r[0]:012d}", r[3])

    for r in rows:
        if r[3] != "purchase":
            continue
        window = [
            key(t)
            for t in rows
            if t[2] == r[2]
            and t[3] != "purchase"
            and r[1] - LB <= t[1] < r[1]
        ]
        want = (
            (min(window)[2], max(window)[2]) if window else (None, None)
        )
        assert got[r[0]] == want, (r, got[r[0]], want)


# --- mixture planner invariants ----------------------------------------------


def test_mixture_plan_invariants(spark, monkeypatch):
    """Random corpora: allocations never exceed the epoch cap, never go
    negative, total allocation never exceeds the target, and with no
    binding caps every source gets exactly the fair share."""
    from pulseboard_spark.operators import corpus

    rng = random.Random(13)
    for trial in range(3):
        n_sources = rng.randint(2, 6)
        rows = []
        did = 0
        for s in range(n_sources):
            for _ in range(rng.randint(1, 4)):
                n_words = rng.randint(1, 30)
                rows.append((did, " ".join("w%d" % i for i in range(n_words)), f"s{s}"))
                did += 1
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        target = rng.randint(10, 500)
        max_epochs = rng.randint(1, 3)
        monkeypatch.setattr(corpus, "MIXTURE_TARGET_TOKENS", target)
        monkeypatch.setattr(corpus, "MIXTURE_MAX_EPOCHS", max_epochs)
        got = corpus.mixture_plan(df).collect()
        assert len(got) == n_sources
        total = 0
        for r in got:
            assert 0 <= r.alloc_tokens <= r.avail_tokens * max_epochs, r
            assert r.fair_share == target // n_sources
            total += r.alloc_tokens
        assert total <= target
        if all(r.avail_tokens * max_epochs >= target // n_sources for r in got):
            # no caps bind in round 1: every source holds its fair share
            # (round-2 bonus only redistributes freed budget, which is 0)
            assert all(r.alloc_tokens == target // n_sources for r in got)


# --- containment dominates jaccard -------------------------------------------


def test_containment_at_least_jaccard(spark, sf_dir):
    """|A∩B|/min(|A|,|B|) >= |A∩B|/|A∪B| for every pair — the audit's two
    ratios must respect the set inequality on real data."""
    from pulseboard_spark.operators.dedup import containment_pairs
    from pulseboard_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    for r in containment_pairs(docs).collect():
        assert r.containment_ppm >= r.jaccard_ppm, r


# --- exact-cosine kernel internals vs their naive references -----------------


def test_blocked_seq_gram_bitwise_equals_naive_fold():
    """The cache-blocked gram walk must reproduce the unblocked
    dimension-major fold BITWISE on wild-scale inputs — the blocking is a
    memory-layout change only, and the DuckDB-parity contract rides on
    that (pre-round sums feed a round-to-6 whose hash the driver checks)."""
    import numpy as np

    from pulseboard_spark.operators.similarity import _seq_gram

    rng = np.random.default_rng(11)
    for n, m, d in [(1, 1, 1), (7, 3000, 64), (62, 5000, 17), (5, 1024, 8)]:
        A = rng.standard_normal((n, d)) * 10.0 ** rng.integers(-8, 8, (n, 1))
        B = rng.standard_normal((m, d)) * 10.0 ** rng.integers(-8, 8, (m, 1))
        A[0] = 0.0  # zero vector must survive the walk too
        naive = np.zeros((n, m))
        for j in range(d):
            naive += A[:, j][:, None] * B[:, j][None, :]
        assert np.array_equal(_seq_gram(A, B), naive), (n, m, d)


def test_topk_order_partition_cut_equals_full_lexsort():
    """The O(n) candidate cut before the lexsort must select exactly the
    unpartitioned (score desc, id asc) ordering — including heavy-tie rows
    where the cut keeps MORE than k candidates and degenerate all-equal
    rows where it keeps everything."""
    import numpy as np

    from pulseboard_spark.operators.similarity import _topk_order

    rng = np.random.default_rng(13)
    for trial in range(200):
        n = int(rng.integers(1, 2000))
        k = int(rng.integers(1, 12))
        # coarse grid => plenty of exact ties at the threshold
        row = np.round(rng.integers(-3, 4, n) / 3.0, 6)
        if trial % 5 == 0:
            row[:] = row[0]  # all-equal: ordering is purely id-driven
        ids = rng.permutation(n).astype(np.int64) * 7
        keep = rng.random(n) > 0.2
        reference = np.lexsort((ids, -row))
        reference = reference[keep[reference]][:k]
        got = _topk_order(row, ids, k, keep)
        assert np.array_equal(got, reference), (trial, n, k)


def test_topk_order_k_zero_returns_empty():
    """k<=0 must return an empty selection (the old full-lexsort code did;
    the partition cut's kth index would be out of bounds) — regression
    pin for the round-5 advice item."""
    import numpy as np

    from pulseboard_spark.operators.similarity import _topk_order

    row = np.linspace(0.0, 1.0, 500)
    ids = np.arange(500, dtype=np.int64)
    keep = np.ones(500, dtype=bool)
    for k in (0, -1):
        got = _topk_order(row, ids, k, keep)
        assert got.size == 0 and got.dtype == np.int64
