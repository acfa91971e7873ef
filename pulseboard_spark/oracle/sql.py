"""DuckDB oracle SQL for every declared query.

The correctness driver runs each Spark query AND the matching SQL here on
the same parquet tables (DuckDB views: region nation customer supplier part
orders lineitem events documents embeddings) and hash-compares results with
columns sorted by name.  Contract rules observed throughout:

  * identical column NAMES and logical types on both sides;
  * no raw TIMESTAMP outputs — epoch millis BIGINT (``epoch_ms`` here,
    ``unix_millis`` in Spark; both floor sub-ms precision identically);
  * doubles rounded in-query on BOTH sides; large global sums routed
    through DECIMAL so engine-order float drift cannot flip a rounding
    boundary;
  * every nondeterministic choice (top-k ties, LWW ties, latest-conflict
    picks) carries an explicit deterministic tiebreak.

The entity/CDP event derivations MUST stay in lockstep with
``pulseboard_spark/sources/tables.py`` — that file's docstring is the
contract.
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# Shared derivation CTEs (mirror sources/tables.py)
# ---------------------------------------------------------------------------

ENT_CTE = """
ent AS (
  SELECT CAST(event_id AS BIGINT) AS event_id,
         epoch_us(ts) AS ts_us,
         epoch_ms(ts) AS ts_ms,
         CAST(user_id AS VARCHAR) AS entity_id,
         CASE WHEN user_id % 2 = 0 THEN 'SASE' ELSE 'IGAMING' END AS profile,
         event_type AS type,
         value,
         ['US','UK','DE','FR','CA'][CAST((CAST(regexp_extract(props,'([0-9]+)',1) AS INTEGER) + user_id) % 5 + 1 AS INTEGER)] AS geo,
         ['desktop','mobile','tablet'][CAST(CAST(regexp_extract(props,'([0-9]+)',1) AS INTEGER) % 3 + 1 AS INTEGER)] AS device
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL
)
"""

CDP_CTE = """
cdp_base AS (
  SELECT 'e' || CAST(event_id AS VARCHAR) AS event_id,
         epoch_us(ts) AS ts_us,
         epoch_ms(ts) AS ts_ms,
         CASE WHEN event_type = 'signup' THEN 'IDENTIFY'
              WHEN event_type = 'purchase' THEN 'ALIAS'
              ELSE 'TRACK' END AS ctype,
         user_id,
         CAST(regexp_extract(props,'([0-9]+)',1) AS INTEGER) AS k
  FROM events
),
cdp_shaped AS (
  SELECT event_id, ts_us, ts_ms, ctype,
         CASE WHEN ctype <> 'TRACK' OR k % 4 <> 0
              THEN 'u' || CAST(user_id AS VARCHAR) END AS user_id_raw,
         CASE WHEN ctype = 'ALIAS'
                OR (ctype = 'IDENTIFY' AND k % 2 = 0)
                OR (ctype = 'TRACK' AND k % 4 = 0)
              THEN 'anon' || CAST(user_id % 7 AS VARCHAR) END AS anon_id_raw,
         CASE WHEN ctype = 'IDENTIFY'
              THEN 'U' || CAST(user_id AS VARCHAR) || '@Example.COM' END AS email_raw,
         CASE WHEN ctype = 'TRACK' AND k % 11 <> 0
              THEN ['Feature Used','Sign In','Checkout'][CAST(k % 3 + 1 AS INTEGER)] END AS name,
         CASE WHEN ctype = 'IDENTIFY'
              THEN CASE WHEN k % 2 = 0 THEN 'pro' ELSE 'basic' END END AS plan,
         CASE WHEN ctype = 'IDENTIFY'
              THEN ['US','UK','DE','FR','CA','AU','JP'][CAST(k % 7 + 1 AS INTEGER)] END AS country,
         k
  FROM cdp_base
),
cdp AS (
  SELECT * FROM cdp_shaped
  UNION ALL
  SELECT * FROM cdp_shaped WHERE k % 20 = 0
)
"""

# Validation predicate P1 (`cdp/model/CdpEvent.kt:36-44`) + W1 dedup by
# event_id (duplicate rows are exact copies, so DISTINCT == keep-one) +
# normalized identifiers (simple forms — the raw ids carry no prefixes, so
# full F1 reduces to prefix-attach + email lowercase).
CVALID_CTE = (
    CDP_CTE
    + """,
cvalid AS (
  SELECT DISTINCT event_id, ts_us, ts_ms, ctype, name, plan, country,
         CASE WHEN user_id_raw IS NOT NULL THEN 'user:' || user_id_raw END AS nuser,
         CASE WHEN anon_id_raw IS NOT NULL THEN 'anon:' || anon_id_raw END AS nanon,
         CASE WHEN email_raw IS NOT NULL THEN 'email:' || lower(email_raw) END AS nemail
  FROM cdp
  WHERE (user_id_raw IS NOT NULL OR anon_id_raw IS NOT NULL OR email_raw IS NOT NULL)
    AND (ctype <> 'TRACK' OR name IS NOT NULL)
)
"""
)

# Identity graph (nodes + distinct a<b edges + symmetric closure) —
# shared by connected components, triangles, and pagerank.
GRAPH_CTE = (
    CVALID_CTE
    + """,
idrows AS (
  SELECT event_id, nuser AS id FROM cvalid WHERE nuser IS NOT NULL
  UNION
  SELECT event_id, nanon FROM cvalid WHERE nanon IS NOT NULL
  UNION
  SELECT event_id, nemail FROM cvalid WHERE nemail IS NOT NULL
),
nodes AS (SELECT DISTINCT id FROM idrows),
edges0 AS (
  SELECT DISTINCT a.id AS a, b.id AS b
  FROM idrows a JOIN idrows b ON a.event_id = b.event_id AND a.id < b.id
),
edges AS (SELECT a, b FROM edges0 UNION SELECT b, a FROM edges0)
"""
)

# Connected components over the identity graph: union-find replaced by
# min-label transitive closure (canonical id = lexicographic min of the
# component, the deterministic twin of `IdentityGraph.kt:50-80`).
COMPONENTS_CTE = (
    GRAPH_CTE
    + """,
reach AS (
  SELECT id, id AS r FROM nodes
  UNION
  SELECT e.b AS id, reach.r AS r FROM edges e JOIN reach ON reach.id = e.a
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
"""
)

# Per-event profile resolution + profile materialization (apply-time
# resolution semantics, SURVEY §3.2): identifiers A11, LWW traits A12 with
# (ts, event_id) tiebreak, lastSeen A13, Feature-Used 24 h counter A7.
PROFILES_CTE = (
    COMPONENTS_CTE
    + """,
evprof AS (
  SELECT v.*, c.component AS profile_id,
         lpad(CAST(v.ts_us AS VARCHAR), 20, '0') || '|' || lpad(v.event_id, 12, '0') AS okey
  FROM cvalid v
  JOIN comp c ON c.id = coalesce(v.nuser, v.nanon, v.nemail)
),
prof_ids AS (
  SELECT profile_id, id FROM (
    SELECT DISTINCT profile_id, nuser AS id FROM evprof WHERE nuser IS NOT NULL
    UNION
    SELECT DISTINCT profile_id, nanon FROM evprof WHERE nanon IS NOT NULL
    UNION
    SELECT DISTINCT profile_id, nemail FROM evprof WHERE nemail IS NOT NULL
  )
),
prof_id_lists AS (
  SELECT profile_id,
         list(id ORDER BY id) FILTER (WHERE starts_with(id, 'user:')) AS user_ids,
         list(id ORDER BY id) FILTER (WHERE starts_with(id, 'email:')) AS emails,
         list(id ORDER BY id) FILTER (WHERE starts_with(id, 'anon:')) AS anonymous_ids
  FROM prof_ids GROUP BY profile_id
),
prof_traits AS (
  -- per-trait null filter: a null trait never overwrites (the reference
  -- merges only traits present on the event, ProfileStore.kt:82-118)
  SELECT profile_id,
         arg_max(plan, okey) FILTER (WHERE plan IS NOT NULL) AS plan,
         arg_max(country, okey) FILTER (WHERE country IS NOT NULL) AS country
  FROM evprof WHERE ctype = 'IDENTIFY' GROUP BY profile_id
),
as_of AS (SELECT max(ts_ms) AS as_of_ms FROM evprof),
prof_counts AS (
  SELECT e.profile_id, count(*) AS feature_used_24h
  FROM evprof e CROSS JOIN as_of a
  WHERE e.ctype = 'TRACK' AND e.name = 'Feature Used'
    AND (e.ts_ms - (e.ts_ms % 60000))
        >= ((a.as_of_ms - 86400000) - ((a.as_of_ms - 86400000) % 60000))
  GROUP BY e.profile_id
),
profiles AS (
  SELECT l.profile_id,
         coalesce(l.user_ids, []) AS user_ids,
         coalesce(l.emails, []) AS emails,
         coalesce(l.anonymous_ids, []) AS anonymous_ids,
         t.plan, t.country,
         s.last_seen_ms,
         coalesce(c.feature_used_24h, 0) AS feature_used_24h
  FROM prof_id_lists l
  LEFT JOIN prof_traits t USING (profile_id)
  JOIN (SELECT profile_id, max(ts_ms) AS last_seen_ms FROM evprof GROUP BY profile_id) s
    USING (profile_id)
  LEFT JOIN prof_counts c USING (profile_id)
)
"""
)


def _segment_membership_cte(tag: str, as_of_expr: str) -> str:
    """Segment membership snapshot as of ``as_of_expr`` (epoch ms over
    evprof rows with ts_ms <= as_of).

    Rules (`cdp/segments/SegmentEngine.kt:125-151`):
      power_user: Feature-Used 24 h bucketed count >= 5
      pro_plan:   LWW plan == 'pro'
      reengage:   as_of - last_seen > 10 min (strict)
    """
    return f"""
snap_{tag} AS (
  SELECT p.profile_id,
         coalesce(c.cnt, 0) >= 5 AS power_user,
         coalesce(t.plan, '') = 'pro' AS pro_plan,
         ({as_of_expr}) - p.last_seen_ms > 600000 AS reengage
  FROM (SELECT profile_id, max(ts_ms) AS last_seen_ms
        FROM evprof WHERE ts_ms <= ({as_of_expr}) GROUP BY profile_id) p
  LEFT JOIN (SELECT profile_id, arg_max(plan, okey) AS plan
             FROM evprof
             WHERE ctype = 'IDENTIFY' AND plan IS NOT NULL AND ts_ms <= ({as_of_expr})
             GROUP BY profile_id) t USING (profile_id)
  LEFT JOIN (SELECT profile_id, count(*) AS cnt
             FROM evprof
             WHERE ctype = 'TRACK' AND name = 'Feature Used'
               AND ts_ms <= ({as_of_expr})
               AND (ts_ms - (ts_ms % 60000))
                   >= ((({as_of_expr}) - 86400000) - ((({as_of_expr}) - 86400000) % 60000))
             GROUP BY profile_id) c USING (profile_id)
),
members_{tag} AS (
  SELECT profile_id, 'power_user' AS segment FROM snap_{tag} WHERE power_user
  UNION ALL
  SELECT profile_id, 'pro_plan' FROM snap_{tag} WHERE pro_plan
  UNION ALL
  SELECT profile_id, 'reengage' FROM snap_{tag} WHERE reengage
)
"""


# ---------------------------------------------------------------------------
# Window / rule CTEs over ent
# ---------------------------------------------------------------------------

# Tie semantics match operators/windows.py::with_trailing_aggs: RANGE
# frames include same-ts PEERS, but the engine's arrival order is
# (ts_us, event_id) — an event must not see later-arriving peers — so each
# aggregate subtracts the later-peer contribution.  The engine takes that
# contribution directly, as one ROWS frame after the current row; this
# oracle keeps the peer-group total minus the event_id-ordered running
# prefix on purpose, so it checks the engine's suffix by a different
# route.  At zero ties both forms are identically 0/0.0.
WINDOWS_CTE = (
    ENT_CTE
    + """,
win AS (
  SELECT event_id, entity_id, type, profile, ts_us, ts_ms, value, geo, device,
         CAST(count(*) OVER w60
              - (count(*) OVER peers - count(*) OVER peer_run) AS DOUBLE) AS rate_1m,
         coalesce(sum(value) OVER w30, 0.0)
              - (coalesce(sum(value) OVER peers, 0.0)
                 - coalesce(sum(value) OVER peer_run, 0.0)) AS sum_30s,
         count(value) OVER w60
              - (count(value) OVER peers - count(value) OVER peer_run) AS count_60s,
         CASE WHEN count(value) OVER w5m
                   - (count(value) OVER peers - count(value) OVER peer_run) > 0
              THEN (sum(value) OVER w5m
                    - (coalesce(sum(value) OVER peers, 0.0)
                       - coalesce(sum(value) OVER peer_run, 0.0)))
                   / (count(value) OVER w5m
                      - (count(value) OVER peers - count(value) OVER peer_run))
              ELSE 0.0 END AS avg_5m,
         CASE WHEN count(value) OVER w1h
                   - (count(value) OVER peers - count(value) OVER peer_run) > 0
              THEN (sum(value) OVER w1h
                    - (coalesce(sum(value) OVER peers, 0.0)
                       - coalesce(sum(value) OVER peer_run, 0.0)))
                   / (count(value) OVER w1h
                      - (count(value) OVER peers - count(value) OVER peer_run))
              ELSE 0.0 END AS avg_1h
  FROM ent
  WINDOW
    w30 AS (PARTITION BY entity_id, type ORDER BY ts_us RANGE BETWEEN 30000000 PRECEDING AND CURRENT ROW),
    w60 AS (PARTITION BY entity_id, type ORDER BY ts_us RANGE BETWEEN 60000000 PRECEDING AND CURRENT ROW),
    w5m AS (PARTITION BY entity_id, type ORDER BY ts_us RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW),
    w1h AS (PARTITION BY entity_id, type ORDER BY ts_us RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
    peers AS (PARTITION BY entity_id, type, ts_us),
    peer_run AS (PARTITION BY entity_id, type, ts_us ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
"""
)

# Per-event EWMA (alpha = 0.1, seeded with the first value) via a recursive
# CTE marching row_number per (entity_id, type) — the sequential fold twin
# of `core/WindowStore.kt:106-132`.
EWMA_CTE = (
    ENT_CTE
    + """,
seq AS (
  SELECT event_id, entity_id, type, ts_us, ts_ms, value,
         row_number() OVER (PARTITION BY entity_id, type ORDER BY ts_us, event_id) AS rn
  FROM ent WHERE value IS NOT NULL
),
ewma_rec AS (
  SELECT entity_id, type, rn, event_id, ts_us, ts_ms, value,
         CAST(value AS DOUBLE) AS ewma
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.entity_id, s.type, s.rn, s.event_id, s.ts_us, s.ts_ms, s.value,
         0.1 * s.value + 0.9 * e.ewma
  FROM seq s JOIN ewma_rec e
    ON s.entity_id = e.entity_id AND s.type = e.type AND s.rn = e.rn + 1
)
"""
)

_SEVERITY = """
CASE WHEN {t} <= 0 THEN 'HIGH'
     WHEN {v} / {t} >= 10.0 THEN 'HIGH'
     WHEN {v} / {t} >= 5.0 THEN 'MEDIUM'
     ELSE 'LOW' END
"""


def _r1_sql() -> str:
    sev = _SEVERITY.format(v="rate_1m", t="(avg_5m * 3.0)")
    return f"""
WITH {WINDOWS_CTE}
SELECT event_id, entity_id, type, profile, ts_ms,
       round(rate_1m, 4) AS rate_now,
       round(avg_5m, 4) AS avg_5m,
       round(avg_5m * 3.0, 4) AS threshold,
       (rate_1m > avg_5m * 3.0 AND rate_1m >= 20.0) AS fired,
       CASE WHEN (rate_1m > avg_5m * 3.0 AND rate_1m >= 20.0)
            THEN {sev} END AS severity
FROM win
"""


def _r2_sql() -> str:
    sev = _SEVERITY.format(v="w.value", t="(e.ewma * 4.0)")
    return f"""
WITH RECURSIVE {WINDOWS_CTE},
seq AS (
  SELECT event_id, entity_id, type,
         row_number() OVER (PARTITION BY entity_id, type ORDER BY ts_us, event_id) AS rn
  FROM ent WHERE value IS NOT NULL
),
ewma_rec AS (
  SELECT s.entity_id, s.type, s.rn, s.event_id, CAST(w2.value AS DOUBLE) AS ewma
  FROM seq s JOIN ent w2 ON w2.event_id = s.event_id
  WHERE s.rn = 1
  UNION ALL
  SELECT s.entity_id, s.type, s.rn, s.event_id, 0.1 * w2.value + 0.9 * e.ewma
  FROM seq s
  JOIN ent w2 ON w2.event_id = s.event_id
  JOIN ewma_rec e ON s.entity_id = e.entity_id AND s.type = e.type AND s.rn = e.rn + 1
)
SELECT w.event_id, w.entity_id, w.type, w.profile, w.ts_ms,
       round(w.value, 4) AS value_now,
       round(e.ewma, 6) AS ewma,
       round(e.ewma * 4.0, 6) AS threshold,
       CAST(w.count_60s AS BIGINT) AS count_60s,
       (w.value > e.ewma * 4.0 AND w.count_60s >= 5) AS fired,
       CASE WHEN (w.value > e.ewma * 4.0 AND w.count_60s >= 5)
            THEN {sev} END AS severity
FROM win w JOIN ewma_rec e ON e.event_id = w.event_id
WHERE w.value IS NOT NULL
"""


def _r3_sql() -> str:
    return f"""
WITH {ENT_CTE},
conf AS (
  SELECT e1.event_id, e1.entity_id, e1.type, e1.profile, e1.ts_ms,
         e1.geo AS current_geo, e1.device AS current_device,
         e2.geo AS prev_geo_val, e2.device AS prev_device_val,
         (e1.geo IS NOT NULL AND e2.geo IS NOT NULL AND e1.geo <> e2.geo) AS gc,
         (e1.device IS NOT NULL AND e2.device IS NOT NULL AND e1.device <> e2.device) AS dc,
         lpad(CAST(e2.ts_us AS VARCHAR), 20, '0') || lpad(CAST(e2.event_id AS VARCHAR), 12, '0') AS okey
  FROM ent e1 JOIN ent e2
    ON e1.entity_id = e2.entity_id
   AND e2.ts_us >= e1.ts_us - 120000000
   AND (e2.ts_us < e1.ts_us OR (e2.ts_us = e1.ts_us AND e2.event_id < e1.event_id))
  WHERE (e1.geo IS NOT NULL AND e2.geo IS NOT NULL AND e1.geo <> e2.geo)
     OR (e1.device IS NOT NULL AND e2.device IS NOT NULL AND e1.device <> e2.device)
)
SELECT event_id, entity_id, type, profile, ts_ms, current_geo, current_device,
       max(CASE WHEN gc THEN okey END) IS NOT NULL AS geo_conflict,
       max(CASE WHEN dc THEN okey END) IS NOT NULL AS device_conflict,
       arg_max(prev_geo_val, okey) FILTER (WHERE gc) AS prev_geo,
       arg_max(prev_device_val, okey) FILTER (WHERE dc) AS prev_device,
       CAST(count(*) AS BIGINT) AS n_conflicts,
       'MEDIUM' AS severity
FROM conf
GROUP BY event_id, entity_id, type, profile, ts_ms, current_geo, current_device
"""


def _r4_sql() -> str:
    return f"""
WITH {WINDOWS_CTE}
SELECT event_id, entity_id, type, profile, ts_ms,
       round(sum_30s, 4) AS sum_30s,
       round(greatest(CAST(floor(avg_1h * 10) AS DOUBLE), 1000.0), 4) AS p95_threshold,
       round(value, 4) AS current_value,
       (sum_30s > greatest(CAST(floor(avg_1h * 10) AS DOUBLE), 1000.0)) AS fired,
       CASE WHEN sum_30s > greatest(CAST(floor(avg_1h * 10) AS DOUBLE), 1000.0)
            THEN 'HIGH' END AS severity
FROM win
WHERE profile = 'SASE' AND value IS NOT NULL
"""


def _alerts_sql() -> str:
    r1 = _r1_sql().strip()
    r2 = _r2_sql().strip()
    r3 = _r3_sql().strip()
    r4 = _r4_sql().strip()
    return f"""
SELECT 'R1_VELOCITY_SPIKE' AS rule, entity_id, ts_ms, severity, event_id
FROM ({r1}) WHERE fired
UNION ALL
SELECT 'R2_VALUE_SPIKE', entity_id, ts_ms, severity, event_id FROM ({r2}) WHERE fired
UNION ALL
SELECT 'R3_GEO_DEVICE_MISMATCH', entity_id, ts_ms, severity, event_id FROM ({r3})
UNION ALL
SELECT 'R4_EXFIL', entity_id, ts_ms, severity, event_id FROM ({r4}) WHERE fired
"""


# ---------------------------------------------------------------------------
# Assembled oracle map (populated further by the sections below)
# ---------------------------------------------------------------------------

ORACLE_SQL: dict[str, str] = {}

ORACLE_SQL["tpch_q1_pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(27,6))) AS DOUBLE) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

ORACLE_SQL["tpch_q3_shipping_priority"] = """
SELECT l_orderkey AS o_orderkey,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
       epoch_ms(o_orderdate) AS o_orderdate_ms,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) DESC, l_orderkey
LIMIT 10
"""

ORACLE_SQL["tpch_q5_region_revenue"] = """
SELECT r_name, n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY r_name, n_name
"""

ORACLE_SQL["win_trailing_aggs"] = f"""
WITH {WINDOWS_CTE}
SELECT event_id, entity_id, type, ts_ms,
       round(rate_1m, 4) AS rate_1m,
       round(sum_30s, 4) AS sum_30s,
       CAST(count_60s AS BIGINT) AS count_60s,
       round(avg_5m, 4) AS avg_5m,
       round(avg_1h, 4) AS avg_1h
FROM win
"""

ORACLE_SQL["win_p95_1h"] = f"""
WITH {ENT_CTE}
SELECT event_id, entity_id, type, ts_ms,
       round(quantile_cont(value, 0.95) OVER (
         PARTITION BY entity_id, type ORDER BY ts_us
         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 4) AS p95_1h
FROM ent
"""

ORACLE_SQL["ewma"] = f"""
WITH RECURSIVE {EWMA_CTE}
SELECT event_id, entity_id, type, ts_ms, round(ewma, 6) AS ewma
FROM ewma_rec
"""

ORACLE_SQL["r1_velocity_spike"] = _r1_sql()
ORACLE_SQL["r2_value_spike"] = _r2_sql()
ORACLE_SQL["r3_geo_device_mismatch"] = _r3_sql()
ORACLE_SQL["r4_exfil"] = _r4_sql()
ORACLE_SQL["alerts"] = _alerts_sql()

# Rule-firing fixture twin (registry::rule_firing_alerts_q): the driver
# testdata never trips R1/R2/R4 (every alert at every SF is R3), so the
# `alerts` oracle only ever checks the NEGATIVE path of those rules.  This
# query replays the same alert union over the engineered 50-row fixture of
# sources/generator.py::rule_firing_events — three scenarios calibrated to
# fire R1 (6×MEDIUM), R2 (1×LOW) and R4 (5×HIGH) with margin — generated
# here from generate_series so the oracle stays table-independent.  The
# fixture ent CTE is substituted for ENT_CTE verbatim inside the assembled
# alerts SQL (each rule subquery embeds it), covered by
# tests/test_rule_firing.py.
FIRING_ENT_CTE = """
ent AS (
  SELECT CAST(9000000001000 + i AS BIGINT) AS event_id,
         CAST(1704067200000000 + i * 2000000 AS BIGINT) AS ts_us,
         CAST(1704067200000 + i * 2000 AS BIGINT) AS ts_ms,
         'fire-r1' AS entity_id, 'IGAMING' AS profile, 'BET_PLACED' AS type,
         1.0 AS value, 'US' AS geo, 'desktop' AS device
  FROM generate_series(0, 24) t(i)
  UNION ALL
  SELECT CAST(9000000002000 + i AS BIGINT),
         CAST(1704067200000000 + i * 5000000 AS BIGINT),
         CAST(1704067200000 + i * 5000 AS BIGINT),
         'fire-r2', 'IGAMING', 'CASHIN',
         CASE WHEN i = 9 THEN 100.0 ELSE 1.0 END, 'US', 'desktop'
  FROM generate_series(0, 9) t(i)
  UNION ALL
  SELECT CAST(9000000003000 + i AS BIGINT),
         CAST(1704067200000000 + i * 2000000 AS BIGINT),
         CAST(1704067200000 + i * 2000 AS BIGINT),
         'fire-r4', 'SASE', 'CONN_BYTES', 200.0, 'US', 'desktop'
  FROM generate_series(0, 14) t(i)
)
"""

ORACLE_SQL["rule_firing_alerts"] = _alerts_sql().replace(ENT_CTE, FIRING_ENT_CTE)
# hard failure, not assert: assert is stripped under `python -O`, and a
# silently un-substituted fixture oracle would read the real events table
if "FROM events" in ORACLE_SQL["rule_firing_alerts"]:
    raise ValueError("rule_firing_alerts oracle: ENT_CTE substitution failed")

# Any-typed trait fidelity (registry::cdp_trait_fidelity_q): Spark parses
# int/bool traits out of the traits_json column with from_json; the oracle
# reproduces the parsed VALUES arithmetically from k (the JSON text never
# reaches the hash boundary, so JSON formatting differences are moot).
ORACLE_SQL["cdp_trait_fidelity"] = f"""
WITH {CDP_CTE}
SELECT plan, country,
       count(*) AS n_events,
       CAST(sum(18 + k % 60) AS BIGINT) AS sum_age,
       CAST(sum(CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_vip
FROM cdp WHERE ctype = 'IDENTIFY'
GROUP BY plan, country
"""

ORACLE_SQL["cdp_validation"] = f"""
WITH {CDP_CTE}
SELECT event_id, ctype, ts_ms,
       ((user_id_raw IS NOT NULL OR anon_id_raw IS NOT NULL OR email_raw IS NOT NULL)
        AND (ctype <> 'TRACK' OR name IS NOT NULL)) AS valid,
       CASE
         WHEN user_id_raw IS NULL AND anon_id_raw IS NULL AND email_raw IS NULL
           THEN 'NO_IDENTIFIER'
         WHEN ctype = 'TRACK' AND name IS NULL THEN 'TRACK_WITHOUT_NAME'
       END AS reason
FROM cdp
"""

ORACLE_SQL["identity_normalize"] = f"""
WITH {CDP_CTE},
raws AS (
  SELECT DISTINCT user_id_raw AS raw FROM cdp WHERE user_id_raw IS NOT NULL
  UNION
  SELECT DISTINCT anon_id_raw FROM cdp WHERE anon_id_raw IS NOT NULL
  UNION
  SELECT DISTINCT email_raw FROM cdp WHERE email_raw IS NOT NULL
  UNION
  SELECT DISTINCT 'user:' || user_id_raw FROM cdp WHERE user_id_raw IS NOT NULL
  UNION
  SELECT DISTINCT 'email:' || email_raw FROM cdp WHERE email_raw IS NOT NULL
  UNION
  SELECT DISTINCT '  ' || email_raw || '  ' FROM cdp WHERE email_raw IS NOT NULL
),
t AS (SELECT raw, trim(raw) AS tr FROM raws)
SELECT raw,
       CASE
         WHEN starts_with(tr, 'email:') THEN 'email:' || lower(trim(regexp_replace(tr, '^(user|email|anon):', '')))
         WHEN starts_with(tr, 'user:') THEN 'user:' || trim(regexp_replace(tr, '^(user|email|anon):', ''))
         WHEN starts_with(tr, 'anon:') THEN 'anon:' || trim(regexp_replace(tr, '^(user|email|anon):', ''))
         WHEN contains(tr, '@') THEN 'email:' || lower(tr)
         WHEN contains(lower(tr), 'anon') THEN 'anon:' || tr
         ELSE 'user:' || tr
       END AS normalized
FROM t
"""

ORACLE_SQL["identity_components"] = f"""
WITH RECURSIVE {COMPONENTS_CTE}
SELECT id, component FROM comp
"""

# The incremental refreshes must reproduce the full-graph answers exactly —
# sharing the oracles makes that equivalence the externally-checked contract.
# (dedup_clusters_incremental aliases dedup_clusters further down, after
# that oracle is defined.)
ORACLE_SQL["identity_components_incremental"] = ORACLE_SQL["identity_components"]

ORACLE_SQL["cdp_profiles"] = f"""
WITH RECURSIVE {PROFILES_CTE}
SELECT profile_id,
       array_to_string(user_ids, ',') AS user_ids,
       array_to_string(emails, ',') AS emails,
       array_to_string(anonymous_ids, ',') AS anonymous_ids,
       plan, country,
       last_seen_ms, CAST(feature_used_24h AS BIGINT) AS feature_used_24h
FROM profiles
"""

ORACLE_SQL["rolling_counter_24h"] = f"""
WITH {CVALID_CTE},
trk AS (
  SELECT event_id, ts_us, ts_ms, name, coalesce(nuser, nanon) AS pid
  FROM cvalid WHERE ctype = 'TRACK' AND name IS NOT NULL
)
SELECT e1.event_id, e1.pid, e1.name, e1.ts_ms, CAST(count(*) AS BIGINT) AS cnt_24h
FROM trk e1 JOIN trk e2
  ON e2.pid = e1.pid AND e2.name = e1.name
 AND (e2.ts_us < e1.ts_us OR (e2.ts_us = e1.ts_us AND e2.event_id <= e1.event_id))
 AND (e2.ts_ms - (e2.ts_ms % 60000))
     >= ((e1.ts_ms - 86400000) - ((e1.ts_ms - 86400000) % 60000))
GROUP BY e1.event_id, e1.pid, e1.name, e1.ts_ms
"""

_SEG_MID = "(SELECT min(ts_ms) + (max(ts_ms) - min(ts_ms)) // 2 FROM evprof)"
_SEG_END = "(SELECT max(ts_ms) FROM evprof)"

ORACLE_SQL["cdp_segments"] = f"""
WITH RECURSIVE {PROFILES_CTE},
{_segment_membership_cte('end', _SEG_END)}
SELECT s.profile_id, s.power_user, s.pro_plan, s.reengage,
       array_to_string(
         (CASE WHEN s.power_user THEN ['power_user'] ELSE [] END)
         || (CASE WHEN s.pro_plan THEN ['pro_plan'] ELSE [] END)
         || (CASE WHEN s.reengage THEN ['reengage'] ELSE [] END), ',') AS segments
FROM snap_end s
"""

ORACLE_SQL["segment_events"] = f"""
WITH RECURSIVE {PROFILES_CTE},
{_segment_membership_cte('mid', _SEG_MID)},
{_segment_membership_cte('end', _SEG_END)}
SELECT coalesce(e.profile_id, m.profile_id) AS profile_id,
       coalesce(e.segment, m.segment) AS segment,
       CASE WHEN m.profile_id IS NULL THEN 'ENTER' ELSE 'EXIT' END AS action
FROM members_end e
FULL OUTER JOIN members_mid m
  ON e.profile_id = m.profile_id AND e.segment = m.segment
WHERE e.profile_id IS NULL OR m.profile_id IS NULL
"""

ORACLE_SQL["top20_profiles"] = f"""
WITH RECURSIVE {PROFILES_CTE}
SELECT profile_id,
       array_to_string(list_transform(user_ids, x -> regexp_replace(x, '^(user|email|anon):', '')), ',') AS user_ids,
       array_to_string(list_transform(emails, x -> regexp_replace(x, '^(user|email|anon):', '')), ',') AS emails,
       array_to_string(list_transform(anonymous_ids, x -> regexp_replace(x, '^(user|email|anon):', '')), ',') AS anonymous_ids,
       plan, country, last_seen_ms,
       CAST(feature_used_24h AS BIGINT) AS feature_used_24h
FROM profiles
ORDER BY last_seen_ms DESC, profile_id
LIMIT 20
"""

# ---------------------------------------------------------------------------
# Beyond-reference operators: documents / embeddings
# ---------------------------------------------------------------------------

SHINGLES_CTE = """
sh AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 2), ' ') AS s
  FROM (
    SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i
    FROM (SELECT doc_id, list_filter(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), x -> len(x) > 0) AS toks
          FROM documents)
    WHERE len(toks) > 0
  )
)
"""

ORACLE_SQL["ngram_novelty"] = f"""
WITH {SHINGLES_CTE},
own AS (
  SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s
)
SELECT sh.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN sh.doc_id = own.first_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST((sum(CASE WHEN sh.doc_id = own.first_doc THEN 1 ELSE 0 END) * 1000000)
            // count(*) AS BIGINT) AS novelty_ppm
FROM sh JOIN own USING (s)
GROUP BY sh.doc_id
"""

ORACLE_SQL["dedup_exact"] = """
SELECT doc_id,
       md5(text) AS content_hash,
       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_doc_id,
       doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
FROM documents
"""

_MINHASH_BODY = f"""
{SHINGLES_CTE},
minh AS (
  SELECT doc_id,
         min(substr(md5('0:' || s), 1, 8))  AS h0, min(substr(md5('0:' || s), 9, 8))  AS h1,
         min(substr(md5('0:' || s), 17, 8)) AS h2, min(substr(md5('0:' || s), 25, 8)) AS h3,
         min(substr(md5('1:' || s), 1, 8))  AS h4, min(substr(md5('1:' || s), 9, 8))  AS h5,
         min(substr(md5('1:' || s), 17, 8)) AS h6, min(substr(md5('1:' || s), 25, 8)) AS h7
  FROM sh GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS bi, h0 || h1 AS band FROM minh
  UNION ALL SELECT doc_id, 1, h2 || h3 FROM minh
  UNION ALL SELECT doc_id, 2, h4 || h5 FROM minh
  UNION ALL SELECT doc_id, 3, h6 || h7 FROM minh
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bi = b.bi AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
  GROUP BY c.doc_a, c.doc_b
)
"""

ORACLE_SQL["dedup_minhash"] = f"""
WITH {_MINHASH_BODY}
SELECT i.doc_a, i.doc_b,
       i.i AS n_common,
       na.n + nb.n - i.i AS n_union,
       (i.i * 1000000) // (na.n + nb.n - i.i) AS jaccard_ppm
FROM inter i
JOIN sizes na ON na.doc_id = i.doc_a
JOIN sizes nb ON nb.doc_id = i.doc_b
"""

ORACLE_SQL["dedup_ngram_jaccard"] = f"""
WITH {_MINHASH_BODY}
SELECT i.doc_a, i.doc_b,
       (i.i * 1000000) // (na.n + nb.n - i.i) AS jaccard_ppm,
       least(i.doc_a, i.doc_b) AS canonical_doc_id
FROM inter i
JOIN sizes na ON na.doc_id = i.doc_a
JOIN sizes nb ON nb.doc_id = i.doc_b
WHERE i.i * 10000 >= 8000 * (na.n + nb.n - i.i)
"""

# 16-bit SimHash: bit j votes by the high bit of hex nibble j of md5(shingle);
# nibble >= '8' is a pure-ASCII compare, identical in both engines.
_SIMHASH_SUMS = ",\n         ".join(
    f"sum(CASE WHEN substr(md5(s), {j + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS s{j}" for j in range(16)
)
_SIMHASH_FP = " + ".join(f"CASE WHEN s{j} >= 0 THEN {1 << j} ELSE 0 END" for j in range(16))
_SIMHASH_CTE = f"""
{SHINGLES_CTE},
simsum AS (
  SELECT doc_id,
         {_SIMHASH_SUMS}
  FROM sh GROUP BY doc_id
),
fp AS (SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS simhash FROM simsum)
"""

ORACLE_SQL["dedup_simhash"] = f"""
WITH {_SIMHASH_CTE},
bands AS (
  SELECT doc_id, simhash, 0 AS bi, simhash % 256 AS band FROM fp
  UNION ALL
  SELECT doc_id, simhash, 1 AS bi, simhash // 256 AS band FROM fp
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bi = b.bi AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""

ORACLE_SQL["dedup_embedding"] = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings WHERE embedding IS NOT NULL),
n AS (SELECT vec_id, v, CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN 1.0 ELSE sqrt(list_dot_product(v, v)) END AS nrm FROM e)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine,
       least(a.vec_id, b.vec_id) AS canonical_vec_id
FROM n a, n b
WHERE a.vec_id < b.vec_id
  AND round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.35
"""

_TOPK_CTE = """
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings WHERE embedding IS NOT NULL),
n AS (SELECT vec_id, v, CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN 1.0 ELSE sqrt(list_dot_product(v, v)) END AS nrm FROM e),
pairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
  FROM n a, n b WHERE a.vec_id <> b.vec_id
),
topk AS (
  SELECT vec_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM pairs
)
"""

ORACLE_SQL["similarity_topk"] = f"""
WITH {_TOPK_CTE}
SELECT vec_id, neighbor_id, cosine, rank FROM topk WHERE rank <= 5
"""

ORACLE_SQL["knn_label_agreement"] = f"""
WITH {_TOPK_CTE}
SELECT l.label, CAST(count(*) AS BIGINT) AS pairs,
       CAST(sum(CASE WHEN l.label = nl.label THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
       (CAST(sum(CASE WHEN l.label = nl.label THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // count(*) AS same_label_rate_ppm
FROM (SELECT * FROM topk WHERE rank <= 5) t
JOIN embeddings l ON l.vec_id = t.vec_id
JOIN embeddings nl ON nl.vec_id = t.neighbor_id
WHERE l.label IS NOT NULL AND nl.label IS NOT NULL
GROUP BY l.label
"""

ORACLE_SQL["text_quality"] = """
WITH q AS (
  SELECT doc_id, lang, text,
         CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
         CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS punct_count,
         CAST(len(list_filter(list_filter(string_split(text, ' '), x -> len(x) > 0),
              x -> list_contains(['the','a','and','of','to','in','is','it'], x))) AS BIGINT) AS stop_count
  FROM documents
)
SELECT doc_id, lang, n_tokens,
       (CAST(length(replace(text, ' ', '')) AS BIGINT) * 1000000) // greatest(n_tokens, 1) AS avg_token_len_ppm,
       punct_count,
       (stop_count * 1000000) // greatest(n_tokens, 1) AS stopword_ratio_ppm,
       (least(n_tokens, 100) * 10000 * (greatest(n_tokens, 1) - least(punct_count, greatest(n_tokens, 1))))
         // greatest(n_tokens, 1) AS quality_score_ppm
FROM q
"""

ORACLE_SQL["lang_id"] = """
WITH t AS (
  SELECT doc_id, lang,
         list_filter(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), x -> len(x) > 0) AS toks
  FROM documents
),
s AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(toks, x -> list_contains(['the','and','is'], x))) AS BIGINT) AS score_en,
         CAST(len(list_filter(toks, x -> list_contains(['der','und','ist'], x))) AS BIGINT) AS score_de,
         CAST(len(list_filter(toks, x -> list_contains(['le','et','est'], x))) AS BIGINT) AS score_fr,
         CAST(len(list_filter(toks, x -> list_contains(['el','y','es'], x))) AS BIGINT) AS score_es
  FROM t
)
SELECT doc_id, lang, score_en, score_de, score_fr, score_es,
       CASE WHEN greatest(score_en, score_de, score_fr, score_es) = 0 THEN 'und'
            WHEN score_en = greatest(score_en, score_de, score_fr, score_es) THEN 'en'
            WHEN score_de = greatest(score_en, score_de, score_fr, score_es) THEN 'de'
            WHEN score_fr = greatest(score_en, score_de, score_fr, score_es) THEN 'fr'
            ELSE 'es' END AS lang_guess
FROM s
"""

ORACLE_SQL["lang_confusion"] = """
WITH t AS (
  SELECT doc_id, lang,
         list_filter(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), x -> len(x) > 0) AS toks
  FROM documents
),
s AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(toks, x -> list_contains(['the','and','is'], x))) AS BIGINT) AS score_en,
         CAST(len(list_filter(toks, x -> list_contains(['der','und','ist'], x))) AS BIGINT) AS score_de,
         CAST(len(list_filter(toks, x -> list_contains(['le','et','est'], x))) AS BIGINT) AS score_fr,
         CAST(len(list_filter(toks, x -> list_contains(['el','y','es'], x))) AS BIGINT) AS score_es
  FROM t
),
g AS (
  SELECT lang,
         CASE WHEN greatest(score_en, score_de, score_fr, score_es) = 0 THEN 'und'
              WHEN score_en = greatest(score_en, score_de, score_fr, score_es) THEN 'en'
              WHEN score_de = greatest(score_en, score_de, score_fr, score_es) THEN 'de'
              WHEN score_fr = greatest(score_en, score_de, score_fr, score_es) THEN 'fr'
              ELSE 'es' END AS lang_guess
  FROM s
),
c AS (
  SELECT lang, lang_guess, count(*) AS n FROM g GROUP BY 1, 2
)
SELECT lang, lang_guess,
       CAST(n AS BIGINT) AS n,
       CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS n_lang,
       CAST((n * 1000000) // sum(n) OVER (PARTITION BY lang) AS BIGINT) AS share_ppm
FROM c
"""

ORACLE_SQL["token_stats"] = """
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
         CAST(len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+')) AS BIGINT) AS n_word_tokens,
         CAST(len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[0-9]+')) AS BIGINT) AS n_number_tokens
  FROM documents
)
SELECT doc_id, n_bpe_tokens, n_word_tokens, n_number_tokens,
       n_bpe_tokens - n_word_tokens - n_number_tokens AS n_symbol_tokens
FROM t
"""

ORACLE_SQL["unicode_token_stats"] = r"""
WITH t AS (
  SELECT doc_id,
         nfc_normalize(text) AS norm,
         regexp_extract_all(nfc_normalize(text), '\p{L}[\p{L}\p{M}]*') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(length(norm) AS BIGINT) AS n_chars_nfc,
       CAST(len(toks) AS BIGINT) AS n_letter_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique_tokens,
       -- duckdb's array_to_string([], sep) is NULL where Spark's
       -- array_join([], sep) is '' (combined-fuzz find, r08): a
       -- zero-token doc fingerprints as md5(''), distinct from NULL text
       md5(CASE WHEN toks IS NULL THEN NULL
                ELSE coalesce(array_to_string(toks, ' '), '') END) AS tokens_fingerprint
FROM t
"""

ORACLE_SQL["doc_fingerprint"] = f"""
WITH {SHINGLES_CTE}
SELECT d.doc_id, md5(d.text) AS content_hash,
       min(md5(s.s)) AS min_shingle_hash,
       CAST(count(*) AS BIGINT) AS n_shingles
FROM documents d JOIN sh s ON s.doc_id = d.doc_id
GROUP BY d.doc_id, md5(d.text)
"""

ORACLE_SQL["frame_sample_plan"] = """
WITH media AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image/png'
              WHEN doc_id % 3 = 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS media_type,
         CAST(octet_length(encode(text)) AS BIGINT) AS meta_n_bytes
  FROM documents
  WHERE text IS NOT NULL
)
SELECT doc_id, media_type,
       CAST(unnest(generate_series(0, greatest(CAST(floor(meta_n_bytes / 1024.0) AS INT) - 1, 0))) AS INT) AS chunk_index,
       CAST(unnest(generate_series(0, greatest(CAST(floor(meta_n_bytes / 1024.0) AS INT) - 1, 0))) * 1024 AS BIGINT) AS byte_offset
FROM media
"""

ORACLE_SQL["events_per_min"] = f"""
WITH {ENT_CTE}
SELECT ts_ms - ts_ms % 60000 AS minute_ms,
       CAST(count(*) AS BIGINT) AS n_events
FROM ent
GROUP BY 1
"""

ORACLE_SQL["sliding_rate_5m"] = f"""
WITH {ENT_CTE},
per_min AS (
  SELECT ts_ms - ts_ms % 60000 AS minute_ms,
         CAST(count(*) AS BIGINT) AS n_events
  FROM ent GROUP BY 1
)
SELECT minute_ms,
       CAST(sum(n_events) OVER w AS BIGINT) AS cnt_5m,
       CAST(sum(n_events) OVER w AS DOUBLE) / 5.0 AS rate_per_min
FROM per_min
WINDOW w AS (ORDER BY minute_ms RANGE BETWEEN 240000 PRECEDING AND CURRENT ROW)
"""

ORACLE_SQL["unique_entities_5m"] = f"""
WITH {ENT_CTE}
SELECT ts_ms - ts_ms % 300000 AS window_ms,
       CAST(count(DISTINCT entity_id) AS BIGINT) AS uniques
FROM ent
GROUP BY 1
"""


# Embedding-space decontamination (operators/similarity.py::
# embedding_decontamination): train vectors whose cosine to any held-out
# eval vector (vec_id % 10 == 0) reaches the threshold; cosine via
# list_dot_product = the kernel's sequential fold, rounded to 6.
ORACLE_SQL["embedding_decontamination"] = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings WHERE embedding IS NOT NULL
),
n AS (
  SELECT vec_id, e,
         CASE WHEN sqrt(list_dot_product(e, e)) = 0 THEN 1.0
              ELSE sqrt(list_dot_product(e, e)) END AS nrm
  FROM v
),
hits AS (
  SELECT t.vec_id,
         round(list_dot_product(t.e, ev.e) / (t.nrm * ev.nrm), 6) AS cosine
  FROM n t JOIN n ev
    ON t.vec_id % 10 <> 0 AND ev.vec_id % 10 = 0
  WHERE round(list_dot_product(t.e, ev.e) / (t.nrm * ev.nrm), 6) >= 0.35
)
SELECT vec_id,
       CAST(count(*) AS BIGINT) AS n_eval_matches,
       max(cosine) AS max_eval_cosine
FROM hits GROUP BY vec_id
"""

# Real frame sampling (operators/multimodal.py::sampled_frame_features over
# synth_video): Spark seeks and decodes every 2nd frame of a genuine
# multi-frame container; the oracle reproduces per-frame pixel sums from
# the closed-form model p = (doc_id + 31f + i) % 256, w = 8+id%8,
# h = 8+id%4, n_frames = 4+id%5.
ORACLE_SQL["video_frame_features"] = """
WITH m AS (
  SELECT doc_id,
         CAST(8 + doc_id % 8 AS BIGINT) AS w,
         CAST(8 + doc_id % 4 AS BIGINT) AS h,
         CAST(4 + doc_id % 5 AS BIGINT) AS nf
  FROM documents
),
fr AS (
  SELECT doc_id, w, h, nf, f
  FROM m, UNNEST(generate_series(0, nf - 1)) AS t(f)
  WHERE f % 2 = 0
),
px AS (
  SELECT doc_id, w, h, nf, f, (doc_id + 31 * f + i) % 256 AS p
  FROM fr, UNNEST(generate_series(0, w * h * 3 - 1)) AS u(i)
)
SELECT doc_id,
       CAST(f AS INT) AS frame_index,
       CAST(nf AS INT) AS n_frames,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(sum(p) AS BIGINT) AS sum_px,
       TRUE AS decoded
FROM px GROUP BY doc_id, f, nf, w, h
"""

# Real WAV decode (operators/multimodal.py::decoded_audio_features over
# synth_audio): Spark round-trips genuine 16-bit PCM WAV bytes through the
# stdlib parser; the oracle reproduces the statistics from the closed-form
# sample model s_i = (doc_id*7 + i*13) % 2001 - 1000, n = 64 + doc_id % 192.
ORACLE_SQL["audio_features"] = """
WITH m AS (SELECT doc_id, CAST(64 + doc_id % 192 AS BIGINT) AS n FROM documents),
s AS (
  SELECT doc_id, n, i,
         (doc_id * 7 + i * 13) % 2001 - 1000 AS v,
         CASE WHEN i + 1 < n THEN (doc_id * 7 + (i + 1) * 13) % 2001 - 1000 END AS vn
  FROM m, UNNEST(generate_series(0, n - 1)) AS t(i)
)
SELECT doc_id,
       CAST(8000 AS INT) AS sample_rate,
       max(n) AS n_samples,
       CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
       CAST(max(abs(v)) AS BIGINT) AS max_abs,
       CAST(sum(CASE WHEN vn IS NOT NULL AND sign(v) * sign(vn) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_crossings,
       TRUE AS decoded
FROM s GROUP BY doc_id
"""

# Real-decode feature extraction (operators/multimodal.py::decoded_features
# over synth_images): Spark round-trips genuine PNG/PPM bytes through the
# stdlib codec; the oracle reproduces the decoded statistics from the
# closed-form pixel model p_i = (doc_id + i) % 256, w = 8+id%16, h = 8+id%12.
ORACLE_SQL["multimodal_features"] = """
WITH m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'image/ppm' END AS media_type,
         CAST(8 + doc_id % 16 AS BIGINT) AS w,
         CAST(8 + doc_id % 12 AS BIGINT) AS h
  FROM documents
),
px AS (
  SELECT doc_id, media_type, w, h, i, (doc_id + i) % 256 AS p
  FROM m, UNNEST(generate_series(0, w * h * 3 - 1)) AS t(i)
)
SELECT doc_id, media_type,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       w * h AS n_pixels,
       CAST(sum(CASE WHEN i % 3 = 0 THEN p ELSE 0 END) AS BIGINT) AS sum_r,
       CAST(sum(CASE WHEN i % 3 = 1 THEN p ELSE 0 END) AS BIGINT) AS sum_g,
       CAST(sum(CASE WHEN i % 3 = 2 THEN p ELSE 0 END) AS BIGINT) AS sum_b,
       TRUE AS decoded
FROM px
GROUP BY doc_id, media_type, w, h
"""

ORACLE_SQL["jpeg_features"] = """
WITH m AS (
  SELECT doc_id,
         CAST(8 * (1 + doc_id % 3) AS BIGINT) AS w,
         CAST(8 * (1 + doc_id % 2) AS BIGINT) AS h
  FROM documents
),
b AS (
  SELECT doc_id, w, h,
         2 * ((doc_id + bx + 7 * by) % 128) AS c
  FROM m,
       UNNEST(generate_series(0, w // 8 - 1)) AS tx(bx),
       UNNEST(generate_series(0, h // 8 - 1)) AS ty(by)
)
SELECT doc_id, 'image/jpeg' AS media_type,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       w * h AS n_pixels,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(sum(64 * c) AS BIGINT) AS sum_luma,
       CAST(max(c) AS INT) AS max_luma,
       TRUE AS decoded
FROM b
GROUP BY doc_id, w, h
"""

# Corrupt-corpus quarantine (registry.py::jpeg_features_quarantine_q):
# corruption is injected deterministically by doc_id arithmetic (%7 in
# (3,5)), so the expected decoded=false rows and their NULL features are
# closed-form; intact docs reproduce the jpeg_features block model.
ORACLE_SQL["jpeg_features_quarantine"] = """
WITH m AS (
  SELECT doc_id,
         CAST(8 * (1 + doc_id % 3) AS BIGINT) AS w,
         CAST(8 * (1 + doc_id % 2) AS BIGINT) AS h,
         doc_id % 7 IN (3, 5) AS corrupt
  FROM documents
),
b AS (
  SELECT doc_id, w, h,
         2 * ((doc_id + bx + 7 * by) % 128) AS c
  FROM m,
       UNNEST(generate_series(0, w // 8 - 1)) AS tx(bx),
       UNNEST(generate_series(0, h // 8 - 1)) AS ty(by)
  WHERE NOT corrupt
)
SELECT doc_id, 'image/jpeg' AS media_type,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       w * h AS n_pixels,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(sum(64 * c) AS BIGINT) AS sum_luma,
       CAST(max(c) AS INT) AS max_luma,
       TRUE AS decoded
FROM b
GROUP BY doc_id, w, h
UNION ALL
SELECT doc_id, 'image/jpeg' AS media_type,
       CAST(NULL AS INT) AS width,
       CAST(NULL AS INT) AS height,
       CAST(NULL AS BIGINT) AS n_pixels,
       CAST(NULL AS BIGINT) AS n_blocks,
       CAST(NULL AS BIGINT) AS sum_luma,
       CAST(NULL AS INT) AS max_luma,
       FALSE AS decoded
FROM m
WHERE corrupt
"""

ORACLE_SQL["resize_media"] = """
WITH media AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image/png'
              WHEN doc_id % 3 = 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS media_type,
         CAST(n_chars % 1024 + 16 AS BIGINT) AS w,
         CAST(n_chars % 768 + 16 AS BIGINT) AS h,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents
  WHERE text IS NOT NULL
),
geom AS (
  SELECT doc_id, media_type, w, h, n_bytes,
         greatest(w, h) AS long_side
  FROM media
)
SELECT doc_id, media_type,
       CAST(CASE WHEN long_side > 224 THEN greatest(1, w * 224 // long_side) ELSE w END AS INTEGER) AS out_width,
       CAST(CASE WHEN long_side > 224 THEN greatest(1, h * 224 // long_side) ELSE h END AS INTEGER) AS out_height,
       CAST(least(
         CAST(CASE WHEN long_side > 224 THEN greatest(1, w * 224 // long_side) ELSE w END AS BIGINT)
         * CAST(CASE WHEN long_side > 224 THEN greatest(1, h * 224 // long_side) ELSE h END AS BIGINT),
         n_bytes) AS BIGINT) AS out_n_bytes
FROM geom
"""


ORACLE_SQL["tpch_q6_forecast_revenue"] = """
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""

ORACLE_SQL["tpch_q4_priority_returns"] = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority
"""

ORACLE_SQL["doc_hash_sample"] = """
SELECT doc_id, lang, source,
       CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 100 AS INT) AS bucket
FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 100 < 10
"""

ORACLE_SQL["stratified_doc_sample"] = """
WITH hashed AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS h
  FROM documents
)
SELECT doc_id, lang, rnk FROM (
  SELECT doc_id, lang,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS INT) AS rnk
  FROM hashed
)
WHERE rnk <= 20
"""

ORACLE_SQL["top_terms_per_lang"] = """
WITH toks AS (
  SELECT lang, unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+')) AS term
  FROM documents
),
counts AS (
  SELECT lang, term, CAST(count(*) AS BIGINT) AS n_occurrences
  FROM toks GROUP BY lang, term
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY lang ORDER BY n_occurrences DESC, term) AS INT) AS rnk
  FROM counts
)
SELECT lang, term, n_occurrences, rnk FROM ranked WHERE rnk <= 10
"""

ORACLE_SQL["term_df_idf"] = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+')) AS term
  FROM documents
),
per_term AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq,
         CAST(count(*) AS BIGINT) AS n_occurrences
  FROM toks GROUP BY term
),
total AS (SELECT CAST(count(*) AS BIGINT) AS corpus_docs FROM documents)
SELECT term, doc_freq, n_occurrences,
       round(ln(CAST(corpus_docs AS DOUBLE) / doc_freq), 4) AS idf
FROM per_term, total
"""

ORACLE_SQL["tpch_q7_nation_volume"] = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey  = s_suppkey
JOIN customer ON o_custkey  = c_custkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
"""

ORACLE_SQL["tpch_q10_returned_items"] = """
SELECT c_custkey, c_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
       c_acctbal, n_name
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-04-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) DESC, c_custkey
LIMIT 20
"""

ORACLE_SQL["tpch_q13_order_distribution"] = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
"""

ORACLE_SQL["tpch_q14_promo_revenue"] = """
WITH agged AS (
  SELECT sum(CASE WHEN p_type = 'PROMO'
                  THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))
                  ELSE CAST(0 AS DECIMAL(27,6)) END) AS promo_dec,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS total_dec,
         CAST(count(*) AS BIGINT) AS n_items
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-06-01'
    AND l_shipdate <  TIMESTAMP '1997-07-01'
)
SELECT round(100.0 * (CAST(promo_dec AS DOUBLE) / CAST(total_dec AS DOUBLE)), 4) AS promo_pct,
       CAST(total_dec AS DOUBLE) AS total_revenue,
       n_items
FROM agged
"""

ORACLE_SQL["tpch_q15_top_supplier"] = """
WITH rev AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS revenue_dec
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(revenue_dec AS DOUBLE) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE revenue_dec = (SELECT max(revenue_dec) FROM rev)
"""

ORACLE_SQL["tpch_q17_small_qty_revenue"] = """
WITH li AS (
  SELECT l_extendedprice, l_quantity,
         sum(l_quantity) OVER (PARTITION BY l_partkey) AS sum_qty,
         count(*) OVER (PARTITION BY l_partkey) AS cnt
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#23'
)
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) / 7.0, 4) AS avg_yearly,
       CAST(count(*) AS BIGINT) AS n_items
FROM li
WHERE l_quantity * 5 * cnt < sum_qty
"""

ORACLE_SQL["tpch_q18_large_volume"] = """
SELECT c_custkey, c_name, o_orderkey,
       epoch_ms(o_orderdate) AS o_orderdate_ms,
       o_totalprice, sum_qty
FROM (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
)
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON o_custkey  = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""

ORACLE_SQL["tpch_q19_discounted_revenue"] = """
SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1  AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""

ORACLE_SQL["tpch_q22_dormant_customers"] = """
WITH cust AS (
  SELECT c_custkey, c_nationkey, c_acctbal,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer
),
stats AS (
  SELECT sum(bal_cents) AS sum_cents, CAST(count(*) AS BIGINT) AS n_pos
  FROM cust WHERE c_acctbal > 0
)
SELECT n_name,
       CAST(count(*) AS BIGINT) AS numcust,
       sum(bal_cents) / 100.0 AS totacctbal
FROM cust, stats
JOIN nation ON c_nationkey = n_nationkey
WHERE bal_cents * n_pos > sum_cents
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY n_name
"""

ORACLE_SQL["orders_without_lineitems"] = """
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
GROUP BY o_orderstatus
"""

_CLUSTERS_BODY = (
    _MINHASH_BODY
    + """,
dpairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes na ON na.doc_id = i.doc_a
  JOIN sizes nb ON nb.doc_id = i.doc_b
  WHERE i.i * 10000 >= 8000 * (na.n + nb.n - i.i)
),
dedges AS (SELECT doc_a AS a, doc_b AS b FROM dpairs UNION SELECT doc_b, doc_a FROM dpairs),
dnodes AS (SELECT DISTINCT doc_id AS id FROM documents),
dreach AS (
  SELECT id, id AS r FROM dnodes
  UNION
  SELECT e.b AS id, dreach.r AS r FROM dedges e JOIN dreach ON dreach.id = e.a
),
dcomp AS (SELECT id, min(r) AS cluster_id FROM dreach GROUP BY id)
"""
)

ORACLE_SQL["dedup_clusters"] = f"""
WITH RECURSIVE {_CLUSTERS_BODY}
SELECT id AS doc_id, cluster_id, id = cluster_id AS is_canonical FROM dcomp
"""

ORACLE_SQL["dedup_clusters_incremental"] = ORACLE_SQL["dedup_clusters"]

# Containment audit (operators/dedup.py::containment_pairs): every
# verified candidate pair oriented contained->container, flagging the
# excerpt class (small-side containment >= 90% while Jaccard < 80%).
ORACLE_SQL["containment_pairs"] = f"""
WITH {_MINHASH_BODY},
enriched AS (
  SELECT i.doc_a, i.doc_b, i.i AS n_common,
         na.n + nb.n - i.i AS n_union,
         (i.i * 1000000) // (na.n + nb.n - i.i) AS jaccard_ppm,
         na.n AS n_a, nb.n AS n_b
  FROM inter i
  JOIN sizes na ON na.doc_id = i.doc_a
  JOIN sizes nb ON nb.doc_id = i.doc_b
)
SELECT CASE WHEN n_a <= n_b THEN doc_a ELSE doc_b END AS contained_doc_id,
       CASE WHEN n_a <= n_b THEN doc_b ELSE doc_a END AS container_doc_id,
       CAST((n_common * 1000000) // least(n_a, n_b) AS BIGINT) AS containment_ppm,
       CAST(jaccard_ppm AS BIGINT) AS jaccard_ppm,
       (n_common * 10000 >= 9000 * least(n_a, n_b)
        AND n_common * 10000 < 8000 * n_union) AS is_partial_dup
FROM enriched
"""


# Cluster-size distribution (operators/dedup.py::cluster_size_histogram).
ORACLE_SQL["cluster_size_histogram"] = f"""
WITH RECURSIVE {_CLUSTERS_BODY},
csizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size FROM dcomp GROUP BY cluster_id)
SELECT cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(count(*) * cluster_size AS BIGINT) AS n_docs
FROM csizes GROUP BY cluster_size
"""

ORACLE_SQL["corpus_summary"] = f"""
WITH RECURSIVE {_CLUSTERS_BODY},
toks AS (
  SELECT doc_id, lang,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
         length(text) - length(replace(text, ' ', '')) AS _sp,
         CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]{{}}]', '', 'g')) AS BIGINT) AS punct
  FROM documents
),
q AS (
  SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
         (least(CAST(n_tokens AS BIGINT), 100) * 10000
            * (greatest(CAST(n_tokens AS BIGINT), 1) - least(punct, greatest(CAST(n_tokens AS BIGINT), 1))))
           // greatest(CAST(n_tokens AS BIGINT), 1) AS quality_score_ppm
  FROM toks
)
SELECT q.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(q.n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(q.quality_score_ppm) AS BIGINT) AS sum_quality_ppm
FROM q
JOIN dcomp ON dcomp.id = q.doc_id AND dcomp.id = dcomp.cluster_id
WHERE q.quality_score_ppm >= 500000
GROUP BY q.lang
"""

# ---------------------------------------------------------------------------
# Relational / behavioral analytics (beyond-reference, SURVEY §2.4 note)
# ---------------------------------------------------------------------------

ORACLE_SQL["asof_last_purchase"] = f"""
WITH {ENT_CTE},
l AS (SELECT event_id, entity_id, type, ts_ms FROM ent WHERE type IN ('view','click')),
r AS (SELECT entity_id, ts_ms AS p_ms, event_id AS p_eid, value AS p_value
      FROM ent WHERE type = 'purchase')
SELECT l.event_id, l.entity_id, l.type, l.ts_ms,
       r.p_eid AS purchase_event_id,
       round(r.p_value, 4) AS purchase_value,
       r.p_ms AS purchase_ms
FROM l LEFT JOIN r ON l.entity_id = r.entity_id AND r.p_ms <= l.ts_ms
QUALIFY row_number() OVER (
    PARTITION BY l.event_id
    ORDER BY r.p_ms DESC NULLS LAST, r.p_eid DESC NULLS LAST) = 1
"""

ORACLE_SQL["user_sessions"] = f"""
WITH {ENT_CTE},
ordered AS (
  SELECT entity_id, event_id, ts_ms, value,
         lag(ts_ms) OVER (PARTITION BY entity_id ORDER BY ts_ms, event_id) AS prev_ts
  FROM ent
),
numbered AS (
  SELECT *, sum(CASE WHEN prev_ts IS NULL OR ts_ms - prev_ts > 1800000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY entity_id ORDER BY ts_ms, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM ordered
)
SELECT entity_id || '#' || CAST(session_no AS VARCHAR) AS session_id,
       entity_id,
       min(ts_ms) AS session_start_ms,
       max(ts_ms) AS session_end_ms,
       max(ts_ms) - min(ts_ms) AS duration_ms,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE), 4) AS sum_value
FROM numbered
GROUP BY entity_id, session_no
"""

ORACLE_SQL["funnel_view_click_purchase"] = f"""
WITH {ENT_CTE},
t1 AS (SELECT entity_id, min(ts_ms) AS t FROM ent WHERE type = 'view' GROUP BY entity_id),
t2 AS (SELECT e.entity_id, min(e.ts_ms) AS t
       FROM ent e JOIN t1 ON e.entity_id = t1.entity_id AND e.ts_ms > t1.t
       WHERE e.type = 'click' GROUP BY e.entity_id),
t3 AS (SELECT e.entity_id, min(e.ts_ms) AS t
       FROM ent e JOIN t2 ON e.entity_id = t2.entity_id AND e.ts_ms > t2.t
       WHERE e.type = 'purchase' GROUP BY e.entity_id),
n AS (SELECT (SELECT count(*) FROM t1) AS n1,
             (SELECT count(*) FROM t2) AS n2,
             (SELECT count(*) FROM t3) AS n3)
SELECT CAST(1 AS INTEGER) AS step_no, 'view' AS step, n1 AS n_entities,
       round(n1 / nullif(n1, 0), 4) AS conversion FROM n
UNION ALL
SELECT CAST(2 AS INTEGER), 'click', n2, round(n2 / nullif(n1, 0), 4) FROM n
UNION ALL
SELECT CAST(3 AS INTEGER), 'purchase', n3, round(n3 / nullif(n1, 0), 4) FROM n
"""

ORACLE_SQL["retention_cohorts"] = f"""
WITH {ENT_CTE},
weekly AS (SELECT DISTINCT entity_id, ts_ms // 604800000 AS week FROM ent),
numbered AS (
  SELECT entity_id, week, min(week) OVER (PARTITION BY entity_id) AS cohort_week
  FROM weekly
)
SELECT cohort_week, week - cohort_week AS week_offset, count(*) AS n_active
FROM numbered
GROUP BY cohort_week, week - cohort_week
"""

# Aggregate retention curve (operators/sessions.py::retention_curve):
# observation-triangle-aware eligible-cohort rollup, integer ppm.
ORACLE_SQL["retention_curve"] = f"""
WITH {ENT_CTE},
weekly AS (SELECT DISTINCT entity_id, ts_ms // 604800000 AS week FROM ent),
numbered AS (
  SELECT entity_id, week, min(week) OVER (PARTITION BY entity_id) AS cohort_week
  FROM weekly
),
matrix AS (
  SELECT cohort_week, week - cohort_week AS week_offset, count(*) AS n_active
  FROM numbered GROUP BY 1, 2
),
horizon AS (SELECT max(cohort_week + week_offset) AS max_week FROM matrix),
base AS (SELECT cohort_week, n_active AS b FROM matrix WHERE week_offset = 0),
grid AS (
  SELECT base.cohort_week, base.b, t.week_offset
  FROM base CROSS JOIN horizon,
       UNNEST(generate_series(0, horizon.max_week - base.cohort_week)) AS t(week_offset)
)
SELECT g.week_offset,
       CAST(count(*) AS BIGINT) AS n_cohorts,
       CAST(sum(coalesce(m.n_active, 0)) AS BIGINT) AS n_active,
       CAST(sum(g.b) AS BIGINT) AS n_eligible,
       CAST((sum(coalesce(m.n_active, 0)) * 1000000) // sum(g.b) AS BIGINT) AS retention_ppm
FROM grid g
LEFT JOIN matrix m
  ON m.cohort_week = g.cohort_week AND m.week_offset = g.week_offset
GROUP BY g.week_offset
"""


# Packing-efficiency rollup (operators/corpus.py::pack_efficiency):
# windows filled, fill ppm, boundary-spanning docs per shard.
ORACLE_SQL["pack_efficiency"] = """
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+')) AS BIGINT) AS n_tokens
  FROM documents
),
packed AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM toks
),
spans AS (
  SELECT source, n_tokens,
         CAST(floor((cum_tokens - n_tokens) / 2048.0) AS INT) AS pack_id,
         CAST(floor((cum_tokens - 1) / 2048.0) AS INT) AS pack_end
  FROM packed
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(greatest(max(pack_end) + 1, 0) AS BIGINT) AS n_windows,
       CAST(CASE WHEN max(pack_end) >= 0
                 THEN (sum(n_tokens) * 1000000) // ((CAST(max(pack_end) AS BIGINT) + 1) * 2048)
                 ELSE 0 END AS BIGINT) AS fill_ppm,
       CAST(sum(CASE WHEN pack_end > pack_id THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning_docs
FROM spans GROUP BY source
"""


ORACLE_SQL["top_parts_per_brand"] = """
WITH per_part AS (
  SELECT p_brand, p_partkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS revenue_dec
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, p_partkey
),
ranked AS (
  SELECT p_brand, p_partkey, revenue_dec,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY revenue_dec DESC, p_partkey) AS rnk
  FROM per_part
)
SELECT p_brand, p_partkey, CAST(revenue_dec AS DOUBLE) AS revenue,
       CAST(rnk AS INTEGER) AS rnk
FROM ranked WHERE rnk <= 3
"""

ORACLE_SQL["revenue_rollup"] = """
SELECT coalesce(r_name, '(all)') AS r_name,
       coalesce(n_name, '(all)') AS n_name,
       CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
       count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
"""

ORACLE_SQL["revenue_cube"] = """
SELECT coalesce(r_name, '(all)') AS r_name,
       coalesce(o_orderstatus, '(all)') AS o_orderstatus,
       CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
       count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY CUBE(r_name, o_orderstatus)
"""

# integer-exact surface: lower discrete median (smallest value whose
# cumulative count reaches ceil(n/2)), no rounded doubles at the hash
# boundary (round-1 hash_match failure was interpolation/round drift).
ORACLE_SQL["inter_event_deltas"] = f"""
WITH {ENT_CTE},
g AS (
  SELECT type,
         ts_ms - lag(ts_ms) OVER (
           PARTITION BY entity_id, type ORDER BY ts_ms, event_id
         ) AS gap_ms
  FROM ent
),
gg AS (SELECT type, gap_ms FROM g WHERE gap_ms IS NOT NULL),
h AS (SELECT type, gap_ms, count(*) AS c FROM gg GROUP BY 1, 2),
cu AS (
  SELECT type, gap_ms, c,
         sum(c) OVER (PARTITION BY type ORDER BY gap_ms) AS cum,
         sum(c) OVER (PARTITION BY type) AS tot
  FROM h
)
SELECT type,
       CAST(max(tot) AS BIGINT) AS n_gaps,
       CAST(sum(gap_ms * c) AS BIGINT) AS sum_gap_ms,
       min(gap_ms) AS min_gap_ms,
       max(gap_ms) AS max_gap_ms,
       min(CASE WHEN cum >= (tot + 1) // 2 THEN gap_ms END) AS median_gap_ms
FROM cu GROUP BY type
"""

ORACLE_SQL["gap_fill_hours"] = f"""
WITH {ENT_CTE},
b AS (
  SELECT entity_id,
         CAST(floor(ts_ms / 3600000.0) AS BIGINT) AS hour,
         count(*) AS n_events,
         arg_max(value, CASE WHEN value IS NOT NULL THEN event_id END) AS lv
  FROM ent GROUP BY 1, 2
),
s AS (SELECT entity_id, min(hour) AS mn, max(hour) AS mx FROM b GROUP BY 1),
g AS (SELECT entity_id, unnest(generate_series(mn, mx)) AS hour FROM s)
SELECT g.entity_id, g.hour,
       coalesce(b.n_events, 0) AS n_events,
       round(last_value(b.lv IGNORE NULLS) OVER (
         PARTITION BY g.entity_id ORDER BY g.hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS ffill_value
FROM g LEFT JOIN b ON g.entity_id = b.entity_id AND g.hour = b.hour
"""

ORACLE_SQL["revenue_wow"] = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_num,
         CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
         count(*) AS n_orders
  FROM orders GROUP BY 1, 2
), cmp AS (
  SELECT day, revenue, n_orders,
         sum(revenue) OVER (
           ORDER BY day_num RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING
         ) AS prev
  FROM daily
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       round(revenue, 4) AS revenue,
       n_orders,
       round(prev, 4) AS rev_7d_ago,
       round(revenue - prev, 4) AS wow_delta,
       round((revenue - prev) / prev * 100, 4) AS wow_pct
FROM cmp
"""

ORACLE_SQL["value_outliers"] = f"""
WITH {ENT_CTE},
m AS (
  SELECT type,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s1,
         CAST(sum(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS s2
  FROM ent WHERE value IS NOT NULL GROUP BY type
),
st AS (
  SELECT type, s1 / n AS mean,
         sqrt((s2 - s1 * s1 / n) / (n - 1)) AS std
  FROM m
),
z AS (
  SELECT e.event_id, e.entity_id, e.type, e.value,
         CASE WHEN st.std > 0 THEN (e.value - st.mean) / st.std END AS zscore
  FROM ent e LEFT JOIN st ON e.type = st.type
)
SELECT event_id, entity_id, type,
       round(value, 4) AS value,
       round(zscore, 4) AS zscore
FROM z WHERE abs(zscore) > 3.0
"""

ORACLE_SQL["value_deciles"] = f"""
WITH {ENT_CTE},
b AS (
  SELECT type, value,
         ntile(10) OVER (PARTITION BY type ORDER BY value, event_id) AS decile
  FROM ent WHERE value IS NOT NULL
)
SELECT type, decile,
       count(*) AS n,
       round(min(value), 4) AS lo,
       round(max(value), 4) AS hi
FROM b GROUP BY type, decile
"""

ORACLE_SQL["dominant_event_type"] = f"""
WITH {ENT_CTE},
c AS (
  SELECT entity_id, type, count(*) AS n FROM ent GROUP BY 1, 2
),
r AS (
  SELECT entity_id, type, n,
         row_number() OVER (PARTITION BY entity_id ORDER BY n DESC, type ASC) AS rk,
         sum(n) OVER (PARTITION BY entity_id) AS tot
  FROM c
)
SELECT entity_id, type AS top_type, n AS n_top,
       CAST(tot AS BIGINT) AS n_total,
       CAST((n * 10000) // tot AS BIGINT) AS share_bp
FROM r WHERE rk = 1
"""

ORACLE_SQL["event_transitions"] = f"""
WITH {ENT_CTE},
s AS (
  SELECT type,
         lag(type) OVER (PARTITION BY entity_id ORDER BY ts_ms, event_id) AS from_type
  FROM ent
),
c AS (
  SELECT from_type, type AS to_type, count(*) AS n
  FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type,
       CAST(n AS BIGINT) AS n,
       CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from,
       CAST((n * 1000000) // sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS p_ppm
FROM c
"""

# Per-from-type transition entropy (operators/timeseries.py::
# transition_entropy): decimal-routed ln-term sums over the pair counts.
ORACLE_SQL["transition_entropy"] = f"""
WITH {ENT_CTE},
s AS (
  SELECT type,
         lag(type) OVER (PARTITION BY entity_id ORDER BY ts_ms, event_id) AS from_type
  FROM ent
),
c AS (
  SELECT from_type, type AS to_type, count(*) AS n
  FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2
),
t AS (SELECT from_type, to_type, n, sum(n) OVER (PARTITION BY from_type) AS tot FROM c)
SELECT from_type,
       CAST(max(tot) AS BIGINT) AS n_transitions,
       CAST(count(*) AS BIGINT) AS n_successors,
       CAST(sum(CAST(round((CAST(n AS DOUBLE) / tot)
                           * (ln(CAST(tot AS DOUBLE)) - ln(CAST(n AS DOUBLE))), 10)
                     AS DECIMAL(27,12))) AS DOUBLE) AS entropy
FROM t GROUP BY from_type
"""


# Lag-1 autocorrelation of hourly mean value (operators/timeseries.py::
# value_autocorr): integer micro-unit deviations, DECIMAL product sums.
ORACLE_SQL["value_autocorr"] = f"""
WITH {ENT_CTE},
hourly AS (
  SELECT type, ts_ms // 3600000 AS hour_idx,
         sum(CAST(round(CAST(value AS DOUBLE) * 1000000.0, 0) AS BIGINT))
           // count(*) AS mu
  FROM ent WHERE value IS NOT NULL GROUP BY 1, 2
),
base AS (
  SELECT type, hour_idx, mu,
         sum(mu) OVER (PARTITION BY type) // count(*) OVER (PARTITION BY type) AS gm,
         lead(mu) OVER (PARTITION BY type ORDER BY hour_idx) AS mu_next
  FROM hourly
),
dev AS (
  SELECT type, CAST(mu - gm AS HUGEINT) AS d,
         CASE WHEN mu_next IS NOT NULL THEN CAST(mu_next - gm AS HUGEINT) END AS d_next
  FROM base
)
SELECT type,
       CAST(count(*) AS BIGINT) AS n_hours,
       CASE WHEN sum(d * d) > 0
            THEN CAST((sum(d * d_next) * 1000000) // sum(d * d) AS BIGINT)
            ELSE 0 END AS autocorr_ppm
FROM dev GROUP BY type
"""


# Inter-purchase cadence per segment (operators/relational.py::
# order_gap_bands): epoch-day gaps, discrete quantiles.
ORACLE_SQL["order_gap_bands"] = """
WITH o AS (
  SELECT o_orderkey, o_custkey, epoch_ms(o_orderdate) // 86400000 AS day
  FROM orders
),
gaps AS (
  SELECT o_custkey,
         day - lag(day) OVER (PARTITION BY o_custkey ORDER BY day, o_orderkey) AS gap_days
  FROM o
),
h AS (
  SELECT c.c_mktsegment, g.gap_days, count(*) AS c
  FROM gaps g JOIN customer c ON c.c_custkey = g.o_custkey
  WHERE g.gap_days IS NOT NULL GROUP BY 1, 2
),
cum AS (
  SELECT c_mktsegment, gap_days, c,
         sum(c) OVER (PARTITION BY c_mktsegment ORDER BY gap_days) AS cum,
         sum(c) OVER (PARTITION BY c_mktsegment) AS tot
  FROM h
)
SELECT c_mktsegment,
       CAST(max(tot) AS BIGINT) AS n_gaps,
       CAST(min(CASE WHEN cum * 2 >= tot THEN gap_days END) AS BIGINT) AS p50_gap_days,
       CAST(min(CASE WHEN cum * 10 >= tot * 9 THEN gap_days END) AS BIGINT) AS p90_gap_days,
       CAST(max(gap_days) AS BIGINT) AS max_gap_days
FROM cum GROUP BY c_mktsegment
"""


# Supply-base concentration (operators/relational.py::
# supplier_concentration): floored decimal revenues, HUGEINT HHI.
ORACLE_SQL["supplier_concentration"] = """
WITH per_supp AS (
  SELECT l_suppkey,
         CAST(floor(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6)))) AS HUGEINT) AS r
  FROM lineitem GROUP BY l_suppkey
),
j AS (
  SELECT n.n_name, p.r
  FROM per_supp p
  JOIN supplier s ON s.s_suppkey = p.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
)
SELECT n_name,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(sum(r) AS BIGINT) AS total_revenue_units,
       CASE WHEN sum(r) > 0 THEN CAST((max(r) * 10000) // sum(r) AS BIGINT) ELSE 0 END AS top_share_bp,
       CASE WHEN sum(r) > 0 THEN CAST((sum(r * r) * 10000) // (sum(r) * sum(r)) AS BIGINT) ELSE 0 END AS hhi_bp
FROM j GROUP BY n_name
"""


# Daily open-order backlog (operators/relational.py::
# open_orders_timeline): +1/-1 interval sweep on epoch days.
ORACLE_SQL["open_orders_timeline"] = """
WITH spans AS (
  SELECT o.o_orderkey,
         epoch_ms(o.o_orderdate) // 86400000 AS open_day,
         coalesce(greatest(c.ship_day, epoch_ms(o.o_orderdate) // 86400000),
                  epoch_ms(o.o_orderdate) // 86400000) AS close_day
  FROM orders o
  LEFT JOIN (SELECT l_orderkey, max(epoch_ms(l_shipdate) // 86400000) AS ship_day
             FROM lineitem GROUP BY l_orderkey) c
    ON c.l_orderkey = o.o_orderkey
),
deltas AS (
  SELECT day, CAST(sum(opened) AS BIGINT) AS n_opened, CAST(sum(closed) AS BIGINT) AS n_closed
  FROM (SELECT open_day AS day, 1 AS opened, 0 AS closed FROM spans
        UNION ALL SELECT close_day + 1, 0, 1 FROM spans)
  GROUP BY day
)
SELECT CAST(day AS BIGINT) AS day, n_opened, n_closed,
       CAST(sum(n_opened) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            - sum(n_closed) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_open
FROM deltas
"""


ORACLE_SQL["fuzzy_customer_pairs"] = """
SELECT a.c_nationkey, a.c_custkey AS a_key, b.c_custkey AS b_key,
       levenshtein(a.c_name, b.c_name) AS dist
FROM customer a
JOIN customer b
  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
"""

ORACLE_SQL["event_type_pivot"] = f"""
WITH {ENT_CTE}
SELECT entity_id,
       count(*) FILTER (WHERE type = 'click') AS n_click,
       count(*) FILTER (WHERE type = 'view') AS n_view,
       count(*) FILTER (WHERE type = 'purchase') AS n_purchase,
       count(*) FILTER (WHERE type = 'signup') AS n_signup,
       count(*) FILTER (WHERE type = 'error') AS n_error,
       count(*) AS n_total
FROM ent GROUP BY entity_id
"""

ORACLE_SQL["value_stats"] = f"""
WITH {ENT_CTE},
per_type AS (
  SELECT type,
         count(*) AS n_events,
         count(value) AS n_values,
         CAST(sum(CAST(value AS DECIMAL(38,6)) ) AS DOUBLE) AS s1,
         CAST(sum(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS s2,
         round(avg(value), 4) AS avg_value,
         round(min(value), 4) AS min_value,
         round(max(value), 4) AS max_value,
         round(quantile_cont(value, 0.5), 4) AS median_value,
         round(quantile_cont(value, 0.9), 4) AS p90_value
  FROM ent GROUP BY type
)
SELECT type, n_events, n_values,
       round(s1, 4) AS sum_value,
       avg_value,
       round(sqrt((s2 - s1 * s1 / n_values) / (n_values - 1)), 4) AS stddev_value,
       min_value, max_value, median_value, p90_value
FROM per_type
"""

ORACLE_SQL["tpch_q8_market_share"] = """
WITH vols AS (
  SELECT year(o_orderdate) AS o_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6)) AS volume,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE r_name = 'AMERICA' AND p_type = 'STANDARD'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate <  TIMESTAMP '1998-01-01'
)
SELECT o_year,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_0' THEN volume ELSE CAST(0 AS DECIMAL(27,6)) END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share,
       CAST(sum(volume) AS DOUBLE) AS total_volume,
       CAST(count(*) AS BIGINT) AS n_items
FROM vols GROUP BY o_year
"""

ORACLE_SQL["tpch_q9_product_profit"] = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))
                - CAST(0.1 * p_retailprice * l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_profit,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
"""

ORACLE_SQL["tpch_q12_late_shipments"] = """
SELECT year(l_shipdate) AS ship_year,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY 1
"""

ORACLE_SQL["tpch_q16_supplier_variety"] = """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""

ORACLE_SQL["tpch_q21_fault_attribution"] = """
WITH per AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_ret
  FROM lineitem GROUP BY 1, 2
),
per_order AS (
  SELECT l_orderkey, count(*) AS n_supp, sum(has_ret) AS n_ret
  FROM per GROUP BY 1
)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM per
JOIN per_order USING (l_orderkey)
JOIN supplier ON per.l_suppkey = s_suppkey
WHERE per.has_ret = 1 AND per_order.n_supp >= 2 AND per_order.n_ret = 1
  AND EXISTS (SELECT 1 FROM orders WHERE o_orderkey = per.l_orderkey AND o_orderstatus = 'F')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""

ORACLE_SQL["pack_documents"] = """
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+')) AS BIGINT) AS n_tokens
  FROM documents
),
packed AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM toks
)
SELECT doc_id, source, n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       CAST(floor((cum_tokens - n_tokens) / 2048.0) AS INT) AS pack_id,
       CAST((cum_tokens - n_tokens) % 2048 AS INT) AS pack_offset,
       CAST(floor((cum_tokens - 1) / 2048.0) AS INT) AS pack_end
FROM packed
"""

# C4-style line-level dedup (operators/corpus.py::line_dedup_stats /
# boilerplate_lines): 10-token pseudo-lines (the synthetic corpus has no
# newlines), boilerplate = line in >= 2 distinct docs.
_LINES_CTE = """
ltoks AS (
  SELECT doc_id, list_filter(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), x -> x <> '') AS t
  FROM documents
),
lines AS (
  SELECT doc_id, array_to_string(list_slice(t, i*10+1, i*10+10), ' ') AS line
  FROM (SELECT doc_id, t, unnest(generate_series(0, greatest((len(t)-1)//10, 0))) AS i
        FROM ltoks WHERE len(t) > 0)
)
"""

ORACLE_SQL["line_dedup"] = f"""
WITH {_LINES_CTE},
lfreq AS (SELECT line, count(DISTINCT doc_id) AS n_docs FROM lines GROUP BY line)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate,
       CAST((sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS boilerplate_ppm
FROM lines JOIN lfreq USING (line)
GROUP BY doc_id
"""

ORACLE_SQL["boilerplate_lines"] = f"""
WITH {_LINES_CTE}
SELECT line,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM lines GROUP BY line
HAVING count(DISTINCT doc_id) >= 2
"""

# Hourly burst detection (operators/timeseries.py::burst_windows):
# integer cross-multiplied 2x-of-trailing-24h-mean decision.
ORACLE_SQL["burst_windows"] = f"""
WITH {ENT_CTE},
hours AS (
  SELECT type, ts_ms // 3600000 AS hour_idx, CAST(count(*) AS BIGINT) AS n_events
  FROM ent GROUP BY 1, 2
),
win AS (
  SELECT type, hour_idx, n_events,
         CAST(coalesce(sum(n_events) OVER (
           PARTITION BY type ORDER BY hour_idx
           RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev24_sum,
         min(hour_idx) OVER (PARTITION BY type) AS first_hour
  FROM hours
)
SELECT type, CAST(hour_idx AS BIGINT) AS hour_idx, n_events, prev24_sum,
       hour_idx >= first_hour + 24
         AND prev24_sum > 0 AND n_events * 24 >= 2 * prev24_sum AS is_burst
FROM win
"""


# Class balance + inverse-frequency weights (operators/mlprep.py::
# label_balance): exact integer rationals.
ORACLE_SQL["label_balance"] = """
WITH per_label AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM embeddings WHERE embedding IS NOT NULL GROUP BY label),
totals AS (SELECT CAST(sum(n) AS BIGINT) AS tot, CAST(count(*) AS BIGINT) AS k FROM per_label)
SELECT label, n,
       CAST((n * 1000000) // tot AS BIGINT) AS share_ppm,
       CAST((tot * 1000000) // (k * n) AS BIGINT) AS weight_ppm
FROM per_label CROSS JOIN totals
"""


# Per-dimension embedding QA (operators/similarity.py::
# embedding_dim_stats): micro-unit mean/variance in HUGEINT — no int64
# overflow at production vector counts.
ORACLE_SQL["embedding_dim_stats"] = """
WITH triples AS (
  SELECT i - 1 AS dim,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS vu
  FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL) embeddings, UNNEST(generate_series(1, array_length(embedding))) AS t(i)
),
agg AS (
  SELECT dim, count(*) AS n, sum(CAST(vu AS HUGEINT)) AS s,
         sum(CAST(vu AS HUGEINT) * vu) AS ssq,
         min(vu) AS min_micro, max(vu) AS max_micro
  FROM triples GROUP BY dim
)
SELECT CAST(dim AS INT) AS dim, CAST(n AS BIGINT) AS n,
       CAST(s // n AS BIGINT) AS mean_micro,
       CAST((n * ssq - s * s) // (n * n) AS BIGINT) AS var_micro2,
       min_micro, max_micro
FROM agg
"""


# Weekly traffic fingerprint (operators/timeseries.py::
# weekly_seasonality): epoch-hour mod 168 buckets, integer ppm shares.
ORACLE_SQL["weekly_seasonality"] = f"""
WITH {ENT_CTE},
counts AS (
  SELECT type, (ts_ms // 3600000) % 168 AS hour_of_week,
         CAST(count(*) AS BIGINT) AS n_events
  FROM ent GROUP BY 1, 2
)
SELECT type, CAST(hour_of_week AS BIGINT) AS hour_of_week, n_events,
       CAST((n_events * 1000000) // sum(n_events) OVER (PARTITION BY type) AS BIGINT) AS share_ppm
FROM counts
"""


# Per-source length envelope (operators/corpus.py::source_length_bands):
# lower-discrete P10/P50/P90 over the (source, n_chars) histogram.
ORACLE_SQL["source_length_bands"] = """
-- n_chars IS NOT NULL mirrors the operator: a NULL-length doc has
-- nothing to band, and the NULL group's window position is
-- engine-divergent (Spark NULLS FIRST vs duckdb NULLS LAST)
WITH h AS (SELECT source, n_chars, count(*) AS c FROM documents
           WHERE n_chars IS NOT NULL GROUP BY 1, 2),
cum AS (
  SELECT source, n_chars, c,
         sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum,
         sum(c) OVER (PARTITION BY source) AS tot
  FROM h
)
SELECT source,
       CAST(max(tot) AS BIGINT) AS n_docs,
       CAST(sum(c * n_chars) AS BIGINT) AS total_chars,
       CAST(min(CASE WHEN cum * 10 >= tot THEN n_chars END) AS BIGINT) AS p10_chars,
       CAST(min(CASE WHEN cum * 2 >= tot THEN n_chars END) AS BIGINT) AS p50_chars,
       CAST(min(CASE WHEN cum * 10 >= tot * 9 THEN n_chars END) AS BIGINT) AS p90_chars
FROM cum GROUP BY source
"""


# Lexical diversity (operators/text.py::doc_entropy): unigram entropy via
# round-10 → DECIMAL term sums (the doc_lm_score recipe) + integer TTR.
ORACLE_SQL["doc_entropy"] = """
WITH pw AS (
  SELECT doc_id, w, count(*) AS c
  FROM (SELECT doc_id, unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+')) AS w
        FROM documents)
  GROUP BY doc_id, w
),
wn AS (SELECT doc_id, w, c, sum(c) OVER (PARTITION BY doc_id) AS n FROM pw)
SELECT doc_id,
       CAST(max(n) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST((count(*) * 1000000) // max(n) AS BIGINT) AS ttr_ppm,
       CAST(sum(CAST(round((CAST(c AS DOUBLE) / n)
                           * (ln(CAST(n AS DOUBLE)) - ln(CAST(c AS DOUBLE))), 10)
                     AS DECIMAL(27,12))) AS DOUBLE) AS token_entropy
FROM wn GROUP BY doc_id
"""


# Train/eval contamination audit (operators/dedup.py::split_leakage):
# verified near-dup pairs classed by the split assignment they straddle.
ORACLE_SQL["split_leakage"] = f"""
WITH {_MINHASH_BODY},
verified AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes na ON na.doc_id = i.doc_a
  JOIN sizes nb ON nb.doc_id = i.doc_b
  WHERE i.i * 10000 >= 8000 * (na.n + nb.n - i.i)
),
assign AS (
  SELECT doc_id,
         CASE WHEN b < 10 THEN 'test' WHEN b < 20 THEN 'val' ELSE 'train' END AS split
  FROM (SELECT doc_id,
               CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 100 AS INT) AS b
        FROM documents)
),
classed AS (
  SELECT v.doc_a, v.doc_b,
         least(a.split, b.split) AS split_a, greatest(a.split, b.split) AS split_b
  FROM verified v
  JOIN assign a ON a.doc_id = v.doc_a
  JOIN assign b ON b.doc_id = v.doc_b
),
np AS (
  SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs
  FROM classed GROUP BY 1, 2
),
reach AS (
  SELECT split_a, split_b, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_leaky_docs
  FROM (SELECT split_a, split_b, doc_a AS doc_id FROM classed
        UNION ALL SELECT split_a, split_b, doc_b FROM classed)
  GROUP BY 1, 2
)
SELECT np.split_a, np.split_b, np.n_pairs, reach.n_leaky_docs,
       np.split_a <> np.split_b AS is_cross_split
FROM np JOIN reach USING (split_a, split_b)
"""


# Within-doc repetition (operators/corpus.py::doc_repetition): Gopher
# repetition family — duplicate-line share, duplicate-line char share,
# top-bigram dominance; all integer ppm.
ORACLE_SQL["doc_repetition"] = f"""
WITH {_LINES_CTE},
per_line AS (
  SELECT doc_id, line, count(*) AS c, len(line) AS l
  FROM lines GROUP BY doc_id, line
),
line_stats AS (
  SELECT doc_id, sum(c) AS n_lines, sum(c - 1) AS n_dup,
         sum(c * l) AS tot_chars, sum((c - 1) * l) AS dup_chars
  FROM per_line GROUP BY doc_id
),
bg AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS bgram
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM ltoks WHERE len(t) >= 2)
),
per_bg AS (SELECT doc_id, bgram, count(*) AS c FROM bg GROUP BY doc_id, bgram),
bg_stats AS (
  SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top_n
  FROM per_bg GROUP BY doc_id
)
SELECT l.doc_id,
       CAST(l.n_lines AS BIGINT) AS n_lines,
       CAST(l.n_dup AS BIGINT) AS n_dup_lines,
       CAST(CASE WHEN l.n_lines > 0 THEN (l.n_dup * 1000000) // l.n_lines ELSE 0 END AS BIGINT) AS dup_line_ppm,
       CAST(CASE WHEN l.tot_chars > 0 THEN (l.dup_chars * 1000000) // l.tot_chars ELSE 0 END AS BIGINT) AS dup_line_char_ppm,
       CAST(coalesce(b.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(b.top_n, 0) AS BIGINT) AS top_bigram_n,
       CAST(CASE WHEN b.n_bigrams > 0 THEN (b.top_n * 1000000) // b.n_bigrams ELSE 0 END AS BIGINT) AS top_bigram_ppm
FROM line_stats l LEFT JOIN bg_stats b USING (doc_id)
"""

ORACLE_SQL["pii_scrub"] = """
WITH injected AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
           || CASE WHEN doc_id % 2 = 0
                   THEN ' see https://site.example.com/d/' || CAST(doc_id AS VARCHAR) ELSE '' END
           || CASE WHEN doc_id % 3 = 0
                   THEN ' tel 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
         AS text
  FROM documents
),
scrubbed AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+')) AS BIGINT) AS n_emails,
         CAST(len(regexp_extract_all(text, 'https?://[a-z0-9./_-]+')) AS BIGINT) AS n_urls,
         CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
         regexp_replace(
           regexp_replace(
             regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
             'https?://[a-z0-9./_-]+', '<URL>', 'g'),
           '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS s
  FROM injected
)
SELECT doc_id, n_emails, n_urls, n_phones,
       md5(s) AS scrubbed_hash, CAST(length(s) AS BIGINT) AS scrubbed_len
FROM scrubbed
"""

ORACLE_SQL["corpus_mixture"] = """
WITH weighted AS (
  SELECT doc_id, source,
         10 + (CAST(substr(source, 4) AS INT) % 3) * 20 AS target_pct,
         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 100 AS INT) AS bucket
  FROM documents
)
SELECT source, CAST(target_pct AS INT) AS target_pct,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN bucket < target_pct THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       (CAST(sum(CASE WHEN bucket < target_pct THEN 1 ELSE 0 END) AS BIGINT) * 10000) // count(*) AS realized_rate_bp
FROM weighted GROUP BY source, target_pct
"""

ORACLE_SQL["decontamination"] = """
WITH tagged AS (
  SELECT doc_id, text,
         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 100 AS INT) AS bucket
  FROM documents
),
tr_sh AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 2), ' ') AS s
  FROM (
    SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i
    FROM (SELECT doc_id, list_filter(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), x -> len(x) > 0) AS toks
          FROM tagged WHERE bucket < 95)
    WHERE len(toks) > 0
  )
),
ev_sh AS (
  SELECT DISTINCT array_to_string(list_slice(toks, i, i + 2), ' ') AS s
  FROM (
    SELECT toks, unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i
    FROM (SELECT list_filter(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), x -> len(x) > 0) AS toks
          FROM tagged WHERE bucket >= 95)
    WHERE len(toks) > 0
  )
)
SELECT tr_sh.doc_id, CAST(count(*) AS BIGINT) AS n_shared_shingles
FROM tr_sh JOIN ev_sh USING (s)
GROUP BY tr_sh.doc_id
"""


# SCD2 trait history (operators/scd.py): gaps-and-islands over the resolved
# IDENTIFY stream, (ts_us, event_id) LWW order key, consecutive repeats
# collapsed.  The open interval (valid_to_ms IS NULL) equals the LWW trait.
EVPROF_CTE = (
    COMPONENTS_CTE
    + """,
evprof AS (
  SELECT v.*, c.component AS profile_id,
         lpad(CAST(v.ts_us AS VARCHAR), 20, '0') || '|' || lpad(v.event_id, 12, '0') AS okey
  FROM cvalid v
  JOIN comp c ON c.id = coalesce(v.nuser, v.nanon, v.nemail)
)
"""
)

ORACLE_SQL["trait_history"] = f"""
WITH RECURSIVE {EVPROF_CTE},
long AS (
  SELECT profile_id, ts_ms, okey, 'plan' AS trait, plan AS value
  FROM evprof WHERE ctype = 'IDENTIFY' AND plan IS NOT NULL
  UNION ALL
  SELECT profile_id, ts_ms, okey, 'country' AS trait, country AS value
  FROM evprof WHERE ctype = 'IDENTIFY' AND country IS NOT NULL
),
marked AS (
  SELECT *, lag(value) OVER (PARTITION BY profile_id, trait ORDER BY okey) AS prev
  FROM long
),
changes AS (SELECT * FROM marked WHERE prev IS NULL OR prev <> value)
SELECT profile_id, trait, value,
       ts_ms AS valid_from_ms,
       lead(ts_ms) OVER (PARTITION BY profile_id, trait ORDER BY okey) AS valid_to_ms,
       CAST(row_number() OVER (PARTITION BY profile_id, trait ORDER BY okey) AS INTEGER) AS version
FROM changes
"""

# Per-type equal-width histogram (operators/mlprep.py::value_histogram).
# Operation order of the double arithmetic mirrors the Spark expression
# exactly so floor() lands identically on both engines.
ORACLE_SQL["value_histogram"] = f"""
WITH {ENT_CTE},
vals AS (
  SELECT type, CAST(value AS DOUBLE) AS v FROM ent WHERE value IS NOT NULL
),
stats AS (SELECT type, min(v) AS vmin, max(v) AS vmax FROM vals GROUP BY type),
binned AS (
  SELECT vals.type, v, vmin, vmax,
         CASE WHEN vmax = vmin THEN 0
              ELSE CAST(least(floor((v - vmin) / ((vmax - vmin) / 20.0)), 19) AS INTEGER)
         END AS bin
  FROM vals JOIN stats ON vals.type = stats.type
)
SELECT type, bin, count(*) AS n,
       round(min(vmin + bin * ((vmax - vmin) / 20.0)), 4) AS bin_lo,
       round(min(vmin + (bin + 1) * ((vmax - vmin) / 20.0)), 4) AS bin_hi
FROM binned GROUP BY type, bin
"""

# Inverted index (operators/text.py::inverted_index): doc frequency + the
# first 20 doc_ids per term; cap applied pre-aggregation on both sides.
ORACLE_SQL["inverted_index"] = """
WITH toks AS (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id, unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+')) AS term
    FROM documents
  )
),
ranked AS (
  SELECT doc_id, term,
         row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rnk
  FROM toks
)
SELECT term, CAST(count(*) AS BIGINT) AS doc_freq,
       array_to_string(list(doc_id ORDER BY doc_id) FILTER (WHERE rnk <= 20), ',') AS postings
FROM ranked GROUP BY term
"""


# Exact heavy hitters (operators/relational.py::heavy_hitters): every event
# type holding >= 500 bp (5%) of its geo's traffic.  Share and threshold in
# pure integer arithmetic so both engines hash identically.
ORACLE_SQL["geo_heavy_hitters"] = f"""
WITH {ENT_CTE},
counts AS (SELECT geo, type, count(*) AS n FROM ent GROUP BY geo, type),
tot AS (SELECT *, sum(n) OVER (PARTITION BY geo) AS n_total FROM counts)
SELECT geo, type, n,
       CAST(n_total AS BIGINT) AS n_total,
       CAST((n * 10000) // n_total AS BIGINT) AS share_bp
FROM tot WHERE n * 10000 >= 500 * n_total
"""

# Term co-occurrence PMI (operators/text.py::term_cooccurrence): within-doc
# distinct-term pair counts, broadcast df joins, ln rounded to 4.
ORACLE_SQL["term_cooccurrence"] = """
WITH toks AS (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id, unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+')) AS term
    FROM documents
  )
),
pc AS (
  SELECT a.term AS term_a, b.term AS term_b, count(*) AS n_docs_both
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2 HAVING count(*) >= 2
),
dfc AS (SELECT term, count(*) AS df FROM toks GROUP BY term),
nd AS (SELECT count(*) AS n_corpus FROM documents)
SELECT term_a, term_b, n_docs_both,
       round(ln(CAST(n_corpus AS DOUBLE) * n_docs_both
                / (CAST(da.df AS DOUBLE) * db.df)), 4) AS pmi
FROM pc
JOIN dfc da ON pc.term_a = da.term
JOIN dfc db ON pc.term_b = db.term
CROSS JOIN nd
"""


# Bigram LM stats (operators/text.py::bigram_stats): consecutive-pair
# counts + conditional follow probability; the w1 total is over ALL
# bigrams (pre-threshold), matching the window-then-filter order.
# Bigram-LM document scoring (operators/text.py::doc_lm_score): Laplace-
# smoothed per-doc log-likelihood; each ln-term rounds to 10 then sums
# through DECIMAL (order-insensitive), surfaced as the unrounded double
# image of the exact decimal sum.
ORACLE_SQL["doc_lm_score"] = """
WITH arr AS (SELECT doc_id, regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+') AS a FROM documents),
dp AS (
  SELECT doc_id, p[1] AS w1, p[2] AS w2, count(*) AS m
  FROM (SELECT doc_id, unnest(list_zip(a[:length(a)-1], a[2:])) AS p FROM arr)
  GROUP BY 1, 2, 3
),
lmp AS (SELECT w1, w2, sum(m) AS n FROM dp GROUP BY 1, 2),
lmf AS (SELECT w1, sum(n) AS n_first FROM lmp GROUP BY 1),
voc AS (
  SELECT count(DISTINCT w) AS v
  FROM (SELECT w1 AS w FROM lmp UNION SELECT w2 FROM lmp)
)
SELECT dp.doc_id,
       CAST(sum(m) AS BIGINT) AS n_bigrams,
       CAST(sum(CAST(round(m * (ln(n + 1.0) - ln(n_first + v)), 10) AS DECIMAL(27,12))) AS DOUBLE) AS lm_logprob_sum
FROM dp JOIN lmp USING (w1, w2) JOIN lmf USING (w1) CROSS JOIN voc
GROUP BY dp.doc_id
"""

# Per-source token-length census (operators/text.py::token_length_histogram).
ORACLE_SQL["token_length_histogram"] = """
WITH t AS (
  SELECT source,
         CAST(len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+')) AS BIGINT) AS nt
  FROM documents
)
SELECT source, nt // 64 AS bucket,
       count(*) AS n_docs,
       min(nt) AS min_tokens,
       max(nt) AS max_tokens
FROM t GROUP BY source, nt // 64
"""

ORACLE_SQL["bigram_stats"] = """
WITH arr AS (
  SELECT regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+') AS a FROM documents
),
pairs AS (
  SELECT unnest(list_zip(a[:length(a)-1], a[2:])) AS p FROM arr
),
counts AS (
  SELECT p[1] AS w1, p[2] AS w2, count(*) AS n FROM pairs GROUP BY 1, 2
),
tot AS (
  SELECT *, sum(n) OVER (PARTITION BY w1) AS n_first FROM counts
)
SELECT w1, w2, n,
       CAST(n_first AS BIGINT) AS n_first,
       CAST((n * 1000000) // n_first AS BIGINT) AS p_follow_ppm
FROM tot WHERE n >= 2
"""


# Gopher-style quality rules (operators/text.py::gopher_quality).
ORACLE_SQL["gopher_quality"] = """
WITH base AS (
  SELECT doc_id, text,
         regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+') AS words,
         list_filter(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), x -> x <> '') AS toks,
         length(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z]', '', 'g')) AS alpha_chars
  FROM documents
),
feats AS (
  SELECT doc_id,
         CAST(length(words) AS BIGINT) AS n_words,
         greatest(CAST(length(words) AS BIGINT), 1) AS nw1,
         CAST(alpha_chars AS BIGINT) AS alpha,
         greatest(CAST(length(text) AS BIGINT), 1) AS len1,
         CAST(length(sh) AS BIGINT) AS nsh,
         CAST(length(sh) - length(list_distinct(sh)) AS BIGINT) AS ndup
  FROM (
    SELECT *,
           CASE WHEN coalesce(length(toks), 0) = 0 THEN []
                ELSE list_transform(generate_series(1, greatest(length(toks) - 4, 1)),
                                    i -> array_to_string(toks[i:i+4], ' ')) END AS sh
    FROM base
  )
),
wc AS (
  SELECT doc_id, w, count(*) AS n FROM (
    SELECT doc_id, unnest(words) AS w FROM base
  ) GROUP BY doc_id, w
),
top AS (
  SELECT doc_id, max(n) AS topn, sum(n) AS totn FROM wc GROUP BY doc_id
)
SELECT f.doc_id, f.n_words,
       CAST((f.alpha * 1000000) // f.nw1 AS BIGINT) AS mean_word_len_ppm,
       CAST((f.alpha * 1000000) // f.len1 AS BIGINT) AS frac_alpha_ppm,
       CAST((coalesce(t.topn, 0) * 1000000) // coalesce(t.totn, 1) AS BIGINT) AS top_word_share_ppm,
       CAST((f.ndup * 1000000) // greatest(f.nsh, 1) AS BIGINT) AS dup_shingle_frac_ppm,
       coalesce((f.n_words BETWEEN 20 AND 100000
        AND 2 * f.nw1 <= f.alpha AND f.alpha <= 12 * f.nw1
        AND coalesce(t.topn, 0) * 10000 <= 3000 * coalesce(t.totn, 1)
        AND f.ndup * 10000 <= 5000 * f.nsh), FALSE) AS passes
FROM feats f LEFT JOIN top t USING (doc_id)
"""

# MAD robust outliers (operators/mlprep.py::mad_outliers): exact medians
# (quantile_cont ≡ F.percentile), threshold k·1.4826·MAD with k = 3.
ORACLE_SQL["value_mad_outliers"] = f"""
WITH {ENT_CTE},
vals AS (SELECT type, CAST(value AS DOUBLE) AS v FROM ent WHERE value IS NOT NULL),
vh AS (SELECT type, v, count(*) AS c FROM vals GROUP BY 1, 2),
vc AS (SELECT type, v, sum(c) OVER (PARTITION BY type ORDER BY v) AS cum,
              sum(c) OVER (PARTITION BY type) AS tot FROM vh),
med AS (SELECT type, min(v) AS med FROM vc WHERE cum >= (tot + 1) // 2 GROUP BY type),
dev AS (SELECT vals.type, v, med, abs(v - med) AS adev FROM vals JOIN med USING (type)),
ah AS (SELECT type, adev, count(*) AS c FROM dev GROUP BY 1, 2),
ac AS (SELECT type, adev, sum(c) OVER (PARTITION BY type ORDER BY adev) AS cum,
              sum(c) OVER (PARTITION BY type) AS tot FROM ah),
mad AS (
  SELECT a.type, min(m.med) AS med, min(a.adev) AS mad
  FROM ac a JOIN med m USING (type) WHERE cum >= (tot + 1) // 2 GROUP BY a.type
)
SELECT vals.type,
       count(*) AS n_values,
       min(m.med) AS median_value,
       min(m.mad) AS mad_value,
       CAST(sum(CASE WHEN abs(v - m.med) > 3.0 * 1.4826 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       (CAST(sum(CASE WHEN abs(v - m.med) > 3.0 * 1.4826 * m.mad THEN 1 ELSE 0 END) AS BIGINT) * 10000) // count(*) AS outlier_frac_bp
FROM vals JOIN mad m USING (type)
GROUP BY vals.type
"""


# Identity-graph component size/kind distribution (registry
# component_sizes_q): merge-health analytics over the CC result.
ORACLE_SQL["component_sizes"] = f"""
WITH RECURSIVE {COMPONENTS_CTE}
SELECT component AS profile_id,
       count(*) AS n_ids,
       CAST(sum(CASE WHEN starts_with(id, 'user:') THEN 1 ELSE 0 END) AS BIGINT) AS n_user_ids,
       CAST(sum(CASE WHEN starts_with(id, 'email:') THEN 1 ELSE 0 END) AS BIGINT) AS n_emails,
       CAST(sum(CASE WHEN starts_with(id, 'anon:') THEN 1 ELSE 0 END) AS BIGINT) AS n_anon_ids
FROM comp GROUP BY component
"""


# Hourly trending top-N (operators/timeseries.py::hourly_trending).
ORACLE_SQL["hourly_trending"] = f"""
WITH {ENT_CTE},
counts AS (
  SELECT ts_ms - (ts_ms % 3600000) AS hour_ms, type, count(*) AS n
  FROM ent GROUP BY 1, 2
)
SELECT hour_ms, type, n, CAST(rnk AS INTEGER) AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY hour_ms ORDER BY n DESC, type) AS rnk
  FROM counts
) WHERE rnk <= 3
"""


# Deterministic train/val/test split (operators/sampling.py::train_val_test_split).
ORACLE_SQL["doc_split_assign"] = """
WITH hashed AS (
  SELECT doc_id, lang, source,
         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 100 AS INT) AS bucket
  FROM documents
)
SELECT doc_id, lang, source, bucket,
       CASE WHEN bucket < 10 THEN 'test'
            WHEN bucket < 20 THEN 'val'
            ELSE 'train' END AS split
FROM hashed
"""

# First-round BPE merge candidates (operators/text.py::bpe_merge_candidates).
ORACLE_SQL["bpe_merge_candidates"] = """
WITH words AS (
  SELECT unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+')) AS w FROM documents
),
chars AS (SELECT regexp_extract_all(w, '.') AS cs FROM words),
pairs AS (
  SELECT unnest(list_zip(cs[:length(cs)-1], cs[2:])) AS p FROM chars
),
counts AS (SELECT p[1] AS c1, p[2] AS c2, count(*) AS n FROM pairs GROUP BY 1, 2)
SELECT c1, c2, n, CAST(rnk AS INTEGER) AS rnk FROM (
  SELECT *, row_number() OVER (ORDER BY n DESC, c1, c2) AS rnk FROM counts
) WHERE rnk <= 50
"""


# TPC-H q2/q11/q20 SHAPES on the lineitem-derived supply silver table
# (testdata ships no partsupp; the derivation is deterministic in both
# engines, so the shapes are fully oracle-checked).

ORACLE_SQL["tpch_q2_min_cost_supplier"] = """
WITH supply AS (
  SELECT l_partkey, l_suppkey,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE)
           / CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS unit_cost_dec
  FROM lineitem GROUP BY 1, 2
  HAVING unit_cost_dec IS NOT NULL
),
best AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY l_partkey
                                 ORDER BY unit_cost_dec, l_suppkey) AS rk
    FROM supply
  ) WHERE rk = 1
)
SELECT p_partkey, p_brand, s_name, n_name AS supp_nation,
       round(CAST(unit_cost_dec AS DOUBLE), 4) AS min_unit_cost
FROM best
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN part     ON l_partkey = p_partkey
WHERE p_size >= 30
"""

ORACLE_SQL["tpch_q11_share_of_total"] = """
WITH de_supp AS (
  SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
),
vals AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice * l_quantity AS DECIMAL(27,6))) AS value_dec
  FROM lineitem JOIN de_supp ON l_suppkey = s_suppkey
  GROUP BY 1
),
total AS (SELECT sum(value_dec) AS total_dec FROM vals)
SELECT l_partkey, CAST(value_dec AS DOUBLE) AS supplied_value
FROM vals CROSS JOIN total
WHERE value_dec * 10000 > total_dec
"""

ORACLE_SQL["tpch_q20_half_volume_suppliers"] = """
WITH qty AS (
  SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS DECIMAL(27,6))) AS q_dec
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY 1, 2
),
dominant AS (
  SELECT DISTINCT l_suppkey FROM (
    SELECT *, sum(q_dec) OVER (PARTITION BY l_partkey) AS tot_dec FROM qty
  ) WHERE q_dec * 2 > tot_dec
)
SELECT s_suppkey, s_name, n_name AS supp_nation
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (SELECT l_suppkey FROM dominant)
"""


# Per-label embedding centroids (operators/similarity.py::label_centroids):
# component-wise mean with round-then-DECIMAL summation.
ORACLE_SQL["label_centroids"] = """
WITH triples AS (
  SELECT label, i - 1 AS pos,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS vu
  FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL) embeddings, UNNEST(generate_series(1, array_length(embedding))) AS t(i)
),
per_dim AS (
  SELECT label, pos,
         sum(vu) // count(*) AS m,
         count(*) AS n
  FROM triples GROUP BY label, pos
)
SELECT label, min(n) AS n_vecs,
       array_to_string(list(m ORDER BY pos), ',') AS centroid_micro
FROM per_dim GROUP BY label
"""


# Label-noise suspects (operators/similarity.py::label_noise_suspects):
# top-10 furthest vectors from their own label centroid; ordered per-row
# fold, deterministic on both engines.
ORACLE_SQL["label_noise_suspects"] = """
WITH triples AS (
  SELECT label, i - 1 AS pos,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS vu
  FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL) embeddings, UNNEST(generate_series(1, array_length(embedding))) AS t(i)
),
per_dim AS (
  SELECT label, pos, sum(vu) // count(*) AS m
  FROM triples GROUP BY label, pos
),
cents AS (
  SELECT label, list(m ORDER BY pos) AS centroid FROM per_dim GROUP BY label
),
scored AS (
  SELECT e.label, e.vec_id,
         CAST(list_sum(list_transform(generate_series(1, array_length(e.embedding)),
           i -> (CAST(round(CAST(e.embedding[i] AS DOUBLE) * 1000000) AS BIGINT) - c.centroid[i])
              * (CAST(round(CAST(e.embedding[i] AS DOUBLE) * 1000000) AS BIGINT) - c.centroid[i]))) AS BIGINT) AS sq_dist_micro2
  FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL) e JOIN cents c USING (label)
)
SELECT label, vec_id, sq_dist_micro2, CAST(rnk AS INTEGER) AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY label ORDER BY sq_dist_micro2 DESC, vec_id) AS rnk
  FROM scored
) WHERE rnk <= 10
"""


# RFM behavioral scores (operators/mlprep.py::rfm_scores).
ORACLE_SQL["rfm_scores"] = f"""
WITH {ENT_CTE},
agg AS (
  SELECT entity_id,
         max(ts_ms) AS last_ms,
         count(*) AS n_events,
         coalesce(CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE), 0.0) AS total_value
  FROM ent GROUP BY entity_id
)
SELECT entity_id, last_ms, n_events, total_value,
       CAST(ntile(5) OVER (ORDER BY last_ms, entity_id) AS INTEGER) AS r_score,
       CAST(ntile(5) OVER (ORDER BY n_events, entity_id) AS INTEGER) AS f_score,
       CAST(ntile(5) OVER (ORDER BY total_value, entity_id) AS INTEGER) AS m_score,
       CAST(ntile(5) OVER (ORDER BY last_ms, entity_id) AS VARCHAR)
         || CAST(ntile(5) OVER (ORDER BY n_events, entity_id) AS VARCHAR)
         || CAST(ntile(5) OVER (ORDER BY total_value, entity_id) AS VARCHAR) AS rfm
FROM agg
"""


# Value-distribution drift PSI (operators/mlprep.py::value_drift_psi).
ORACLE_SQL["value_drift_psi"] = f"""
WITH {ENT_CTE},
bounds AS (SELECT (min(ts_ms) + max(ts_ms)) // 2 AS mid_ms FROM ent),
vals AS (
  SELECT type, CAST(value AS DOUBLE) AS v,
         CASE WHEN ts_ms < mid_ms THEN 'a' ELSE 'b' END AS period
  FROM ent CROSS JOIN bounds WHERE value IS NOT NULL
),
stats AS (SELECT type, min(v) AS vmin, max(v) AS vmax FROM vals GROUP BY type),
binned AS (
  SELECT vals.type, period,
         CASE WHEN vmax = vmin THEN 0
              ELSE CAST(least(floor((v - vmin) / ((vmax - vmin) / 10.0)), 9) AS INTEGER)
         END AS bin
  FROM vals JOIN stats ON vals.type = stats.type
),
counts AS (SELECT type, period, bin, count(*) AS n FROM binned GROUP BY 1, 2, 3),
wide AS (
  SELECT type, bin,
         coalesce(sum(n) FILTER (WHERE period = 'a'), 0) AS a,
         coalesce(sum(n) FILTER (WHERE period = 'b'), 0) AS b
  FROM counts GROUP BY type, bin
),
totals AS (
  SELECT type,
         CAST(sum(CASE WHEN period = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN period = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM vals GROUP BY type
)
SELECT w.type, min(n_a) AS n_a, min(n_b) AS n_b,
       round(CAST(sum(CAST(round(
         ((a + 0.5) / (n_a + 0.5 * 10) - (b + 0.5) / (n_b + 0.5 * 10))
         * ln(((a + 0.5) / (n_a + 0.5 * 10)) / ((b + 0.5) / (n_b + 0.5 * 10))), 10)
         AS DECIMAL(27,12))) AS DOUBLE), 4) AS psi
FROM wide w JOIN totals t ON w.type = t.type
GROUP BY w.type
"""


# Multimodal pair manifest (operators/multimodal.py::media_text_pairs):
# media metadata + caption + quality gate + split, all doc_id joins.
ORACLE_SQL["media_text_pairs"] = """
WITH media AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image/png'
              WHEN doc_id % 3 = 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS media_type,
         CAST(octet_length(encode(text)) AS BIGINT) AS meta_n_bytes
  FROM documents
  WHERE text IS NOT NULL
),
base AS (
  SELECT doc_id, text,
         regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+') AS words,
         list_filter(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), x -> x <> '') AS toks,
         length(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z]', '', 'g')) AS alpha_chars
  FROM documents
),
feats AS (
  SELECT doc_id,
         CAST(length(words) AS BIGINT) AS n_words,
         CAST(alpha_chars AS DOUBLE) / greatest(length(words), 1) AS mean_word_len,
         CASE WHEN coalesce(length(sh), 0) = 0 THEN 0.0
              ELSE 1.0 - CAST(length(list_distinct(sh)) AS DOUBLE) / length(sh) END AS dup_shingle_frac
  FROM (
    SELECT *,
           CASE WHEN coalesce(length(toks), 0) = 0 THEN []
                ELSE list_transform(generate_series(1, greatest(length(toks) - 4, 1)),
                                    i -> array_to_string(toks[i:i+4], ' ')) END AS sh
    FROM base
  )
),
wc AS (
  SELECT doc_id, w, count(*) AS n FROM (
    SELECT doc_id, unnest(words) AS w FROM base
  ) GROUP BY doc_id, w
),
top AS (
  SELECT doc_id, CAST(max(n) AS DOUBLE) / sum(n) AS top_word_share FROM wc GROUP BY doc_id
),
quality AS (
  SELECT f.doc_id,
         coalesce((f.n_words BETWEEN 20 AND 100000
          AND f.mean_word_len BETWEEN 2.0 AND 12.0
          AND coalesce(t.top_word_share, 0.0) <= 0.30
          AND f.dup_shingle_frac <= 0.50), FALSE) AS passes
  FROM feats f LEFT JOIN top t USING (doc_id)
),
split AS (
  SELECT doc_id,
         CASE WHEN b < 10 THEN 'test' WHEN b < 20 THEN 'val' ELSE 'train' END AS split
  FROM (
    SELECT doc_id,
           CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 100 AS INT) AS b
    FROM documents
  )
)
SELECT m.doc_id, m.media_type, m.meta_n_bytes,
       substr(d.text, 1, 100) AS caption, q.passes, s.split
FROM media m
JOIN documents d USING (doc_id)
JOIN quality q USING (doc_id)
JOIN split s USING (doc_id)
"""


# Hard-negative mining (operators/similarity.py::hard_negatives): top-3
# most-similar different-label neighbors per vector.
ORACLE_SQL["hard_negatives"] = """
WITH e AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL
),
n AS (SELECT vec_id, label, v, CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN 1.0 ELSE sqrt(list_dot_product(v, v)) END AS nrm FROM e),
pairs AS (
  SELECT a.vec_id AS vec_id, a.label AS label,
         b.vec_id AS neighbor_id, b.label AS neighbor_label,
         round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
  FROM n a, n b WHERE a.vec_id <> b.vec_id AND a.label <> b.label
)
SELECT vec_id, label, neighbor_id, neighbor_label, cosine, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM pairs
) WHERE rank <= 3
"""


# Seasonal volume anomalies (operators/timeseries.py::seasonal_deviation).
ORACLE_SQL["seasonal_deviation"] = f"""
WITH {ENT_CTE},
hourly AS (
  SELECT type, ts_ms - (ts_ms % 3600000) AS hour_ms, count(*) AS n
  FROM ent GROUP BY 1, 2
),
with_hod AS (
  SELECT *, CAST(CAST(hour_ms / 3600000 AS BIGINT) % 24 AS INTEGER) AS hod FROM hourly
),
base AS (
  SELECT type, hod, count(*) AS n_obs,
         CAST(sum(CAST(n AS DECIMAL(27,6))) AS DOUBLE) AS s1,
         CAST(sum(CAST(n * n AS DECIMAL(27,6))) AS DOUBLE) AS s2
  FROM with_hod GROUP BY 1, 2
),
loo AS (
  SELECT h.type, hour_ms, hod, n, n_obs,
         CASE WHEN n_obs > 1 THEN (s1 - n) / (n_obs - 1) END AS mu,
         CASE WHEN n_obs > 1
              THEN sqrt(greatest(((s2 - n * n) - (s1 - n) * (s1 - n) / (n_obs - 1))
                                 / greatest(n_obs - 2, 1), 0.0)) END AS sd
  FROM with_hod h JOIN base b USING (type, hod)
)
SELECT type, hour_ms, hod, n,
       mu AS baseline_mean,
       sd AS baseline_sd,
       CASE WHEN n_obs <= 1 THEN 0.0
            WHEN sd > 0 THEN (n - mu) / sd
            WHEN n = mu THEN 0.0 ELSE NULL END AS z,
       CASE WHEN n_obs <= 1 THEN FALSE
            WHEN sd > 0 THEN (n - mu) / sd > 3.0
            ELSE n <> mu END AS is_anomaly
FROM loo
"""


# Single-pass table profile (operators/profiling.py::profile_table) on
# lineitem; the oracle spells the naive N-scan form.
ORACLE_SQL["lineitem_profile"] = """
SELECT 'l_orderkey' AS column_name, count(*) AS n_rows, count(l_orderkey) AS n_nonnull, count(DISTINCT l_orderkey) AS n_distinct FROM lineitem
UNION ALL
SELECT 'l_partkey' AS column_name, count(*) AS n_rows, count(l_partkey) AS n_nonnull, count(DISTINCT l_partkey) AS n_distinct FROM lineitem
UNION ALL
SELECT 'l_suppkey' AS column_name, count(*) AS n_rows, count(l_suppkey) AS n_nonnull, count(DISTINCT l_suppkey) AS n_distinct FROM lineitem
UNION ALL
SELECT 'l_linenumber' AS column_name, count(*) AS n_rows, count(l_linenumber) AS n_nonnull, count(DISTINCT l_linenumber) AS n_distinct FROM lineitem
UNION ALL
SELECT 'l_quantity' AS column_name, count(*) AS n_rows, count(l_quantity) AS n_nonnull, count(DISTINCT l_quantity) AS n_distinct FROM lineitem
UNION ALL
SELECT 'l_extendedprice' AS column_name, count(*) AS n_rows, count(l_extendedprice) AS n_nonnull, count(DISTINCT l_extendedprice) AS n_distinct FROM lineitem
UNION ALL
SELECT 'l_discount' AS column_name, count(*) AS n_rows, count(l_discount) AS n_nonnull, count(DISTINCT l_discount) AS n_distinct FROM lineitem
UNION ALL
SELECT 'l_tax' AS column_name, count(*) AS n_rows, count(l_tax) AS n_nonnull, count(DISTINCT l_tax) AS n_distinct FROM lineitem
UNION ALL
SELECT 'l_returnflag' AS column_name, count(*) AS n_rows, count(l_returnflag) AS n_nonnull, count(DISTINCT l_returnflag) AS n_distinct FROM lineitem
UNION ALL
SELECT 'l_linestatus' AS column_name, count(*) AS n_rows, count(l_linestatus) AS n_nonnull, count(DISTINCT l_linestatus) AS n_distinct FROM lineitem
UNION ALL
SELECT 'l_shipdate' AS column_name, count(*) AS n_rows, count(l_shipdate) AS n_nonnull, count(DISTINCT l_shipdate) AS n_distinct FROM lineitem
"""


# Round-3 wave 3: path analysis, funnel observability, source-overlap
# contamination, embedding-norm QA (operators/timeseries.py::
# event_paths_topk, text.py::quality_funnel, dedup.py::
# cross_source_overlap, similarity.py::embedding_norm_outliers).

ORACLE_SQL["event_paths_topk"] = f"""
WITH {ENT_CTE},
s AS (
  SELECT entity_id, type,
         lag(type, 2) OVER (PARTITION BY entity_id ORDER BY ts_ms, event_id) AS t1,
         lag(type, 1) OVER (PARTITION BY entity_id ORDER BY ts_ms, event_id) AS t2
  FROM ent
),
p AS (SELECT t1 || ' > ' || t2 || ' > ' || type AS path FROM s WHERE t1 IS NOT NULL),
c AS (SELECT path, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY path),
r AS (
  SELECT path, n,
         CAST(row_number() OVER (ORDER BY n DESC, path ASC) AS BIGINT) AS rank
  FROM c
)
SELECT path, n, rank FROM r WHERE rank <= 20
"""

ORACLE_SQL["quality_funnel"] = """
WITH q AS (
  SELECT doc_id, n_chars,
         CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS nt,
         CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS punct,
         CAST(len(list_filter(list_filter(string_split(text, ' '), x -> len(x) > 0),
              x -> list_contains(['the','a','and','of','to','in','is','it'], x))) AS BIGINT) AS stop,
         min(doc_id) OVER (PARTITION BY md5(text)) AS canon
  FROM documents
),
c AS (
  SELECT CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END AS c1,
         CASE WHEN n_chars >= 100 AND nt >= 20 THEN 1 ELSE 0 END AS c2,
         CASE WHEN n_chars >= 100 AND nt >= 20 AND punct * 10 <= nt * 3 THEN 1 ELSE 0 END AS c3,
         CASE WHEN n_chars >= 100 AND nt >= 20 AND punct * 10 <= nt * 3
                   AND stop * 100 >= nt THEN 1 ELSE 0 END AS c4,
         CASE WHEN n_chars >= 100 AND nt >= 20 AND punct * 10 <= nt * 3
                   AND stop * 100 >= nt AND doc_id = canon THEN 1 ELSE 0 END AS c5
  FROM q
),
t AS (
  SELECT CAST(count(*) AS BIGINT) AS n0,
         CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
         CAST(sum(c3) AS BIGINT) AS n3, CAST(sum(c4) AS BIGINT) AS n4,
         CAST(sum(c5) AS BIGINT) AS n5
  FROM c
)
SELECT CAST(0 AS BIGINT) AS stage_idx, 'ingest' AS stage, n0 AS n_in, n0 AS n_out, CAST(0 AS BIGINT) AS n_dropped FROM t
UNION ALL SELECT 1, 'min_chars', n0, n1, n0 - n1 FROM t
UNION ALL SELECT 2, 'min_tokens', n1, n2, n1 - n2 FROM t
UNION ALL SELECT 3, 'punct_ratio', n2, n3, n2 - n3 FROM t
UNION ALL SELECT 4, 'stopword_floor', n3, n4, n3 - n4 FROM t
UNION ALL SELECT 5, 'exact_canonical', n4, n5, n4 - n5 FROM t
"""

ORACLE_SQL["cross_source_overlap"] = f"""
WITH {_MINHASH_BODY},
ver AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes na ON na.doc_id = i.doc_a
  JOIN sizes nb ON nb.doc_id = i.doc_b
  WHERE i.i * 10000 >= 8000 * (na.n + nb.n - i.i)
),
tg AS (
  SELECT v.doc_a, v.doc_b,
         least(da.source, db.source) AS src_a,
         greatest(da.source, db.source) AS src_b
  FROM ver v
  JOIN documents da ON da.doc_id = v.doc_a
  JOIN documents db ON db.doc_id = v.doc_b
),
np AS (SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs FROM tg GROUP BY 1, 2),
dt AS (
  SELECT src_a, src_b, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM (
    SELECT src_a, src_b, doc_a AS doc_id FROM tg
    UNION ALL SELECT src_a, src_b, doc_b FROM tg
  ) GROUP BY 1, 2
)
SELECT np.src_a, np.src_b, np.n_pairs, dt.n_docs
FROM np JOIN dt USING (src_a, src_b)
"""

ORACLE_SQL["embedding_norm_outliers"] = """
WITH e AS (
  SELECT label,
         round(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
vh AS (SELECT label, v, count(*) AS c FROM e GROUP BY 1, 2),
vc AS (SELECT label, v, sum(c) OVER (PARTITION BY label ORDER BY v) AS cum,
              sum(c) OVER (PARTITION BY label) AS tot FROM vh),
med AS (SELECT label, min(v) AS med FROM vc WHERE cum >= (tot + 1) // 2 GROUP BY label),
dev AS (SELECT e.label, v, med, abs(v - med) AS adev FROM e JOIN med USING (label)),
ah AS (SELECT label, adev, count(*) AS c FROM dev GROUP BY 1, 2),
ac AS (SELECT label, adev, sum(c) OVER (PARTITION BY label ORDER BY adev) AS cum,
              sum(c) OVER (PARTITION BY label) AS tot FROM ah),
mad AS (
  SELECT a.label, min(m.med) AS med, min(a.adev) AS mad
  FROM ac a JOIN med m USING (label) WHERE cum >= (tot + 1) // 2 GROUP BY a.label
)
SELECT e.label,
       count(*) AS n_vecs,
       min(m.med) AS med_sqnorm,
       min(m.mad) AS mad_sqnorm,
       CAST(sum(CASE WHEN abs(v - m.med) > 3.0 * 1.4826 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       (CAST(sum(CASE WHEN abs(v - m.med) > 3.0 * 1.4826 * m.mad THEN 1 ELSE 0 END) AS BIGINT) * 10000) // count(*) AS outlier_frac_bp
FROM e JOIN mad m USING (label)
GROUP BY e.label
"""


ORACLE_SQL["doc_keywords"] = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq FROM toks GROUP BY 1),
s AS (
  SELECT doc_id, term, CAST((tf * 1000000) // doc_freq AS BIGINT) AS score_ppm
  FROM tf JOIN df USING (term)
),
r AS (
  SELECT doc_id, term, score_ppm,
         row_number() OVER (PARTITION BY doc_id ORDER BY score_ppm DESC, term ASC) AS rk
  FROM s
)
SELECT doc_id,
       string_agg(term, ',' ORDER BY rk) AS keywords,
       CAST(max(score_ppm) AS BIGINT) AS top_score_ppm,
       CAST(count(*) AS BIGINT) AS n_keywords
FROM r WHERE rk <= 3 GROUP BY doc_id
"""

ORACLE_SQL["label_cohesion"] = """
WITH e AS (SELECT label, vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings WHERE embedding IS NOT NULL),
n AS (SELECT label, vec_id, v,
             CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN 1.0
                  ELSE sqrt(list_dot_product(v, v)) END AS nrm
      FROM e),
triples AS (
  SELECT label, i - 1 AS pos,
         CAST(round(v[i] / nrm * 1000000) AS BIGINT) AS vu
  FROM n, UNNEST(generate_series(1, array_length(v))) AS t(i)
),
per_dim AS (
  SELECT label, pos, CAST(sum(vu) // count(*) AS BIGINT) AS m,
         CAST(count(*) AS BIGINT) AS n
  FROM triples GROUP BY 1, 2
),
p AS (
  SELECT a.label AS label_a, b.label AS label_b, a.pos,
         a.m AS ma, b.m AS mb, a.n AS n_a, b.n AS n_b
  FROM per_dim a JOIN per_dim b ON a.pos = b.pos AND a.label <= b.label
),
g AS (
  SELECT label_a, label_b,
         CAST(max(n_a) AS BIGINT) AS n_a, CAST(max(n_b) AS BIGINT) AS n_b,
         CAST(sum(ma * mb) AS BIGINT) AS dot_micro2,
         CAST(sum(ma * ma) AS BIGINT) AS sqnorm_a_micro2,
         CAST(sum(mb * mb) AS BIGINT) AS sqnorm_b_micro2
  FROM p GROUP BY 1, 2
)
SELECT label_a, label_b, n_a, n_b, dot_micro2, sqnorm_a_micro2, sqnorm_b_micro2,
       CASE WHEN sqnorm_a_micro2 = 0 OR sqnorm_b_micro2 = 0 THEN 0.0
            ELSE round(dot_micro2 / sqrt(CAST(sqnorm_a_micro2 AS DOUBLE) * CAST(sqnorm_b_micro2 AS DOUBLE)), 6)
       END AS centroid_cos
FROM g
"""


# Shuffle/join-key skew diagnostics (operators/skew.py::key_skew_audit)
# over the keys the engine's own heavy joins/aggs shuffle on.
ORACLE_SQL["key_skew_audit"] = """
SELECT 'events.user_id' AS column_name,
       CAST(max(n_keys) AS BIGINT) AS n_keys,
       CAST(max(total) AS BIGINT) AS total_rows,
       CAST(max(c) AS BIGINT) AS max_per_key,
       CAST(min(CASE WHEN cum >= (n_keys + 1) // 2 THEN c END) AS BIGINT) AS p50_per_key,
       CAST(min(CASE WHEN cum * 100 >= n_keys * 99 THEN c END) AS BIGINT) AS p99_per_key,
       CAST((max(c) * 1000000) // greatest(max(total) // max(n_keys), 1) AS BIGINT) AS skew_ratio_ppm
FROM (
  SELECT c, k, sum(k) OVER (ORDER BY c) AS cum,
         sum(k) OVER () AS n_keys, sum(c * k) OVER () AS total
  FROM (SELECT c, CAST(count(*) AS BIGINT) AS k
        FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM events GROUP BY user_id)
        GROUP BY c)
)
UNION ALL
SELECT 'events.event_type' AS column_name,
       CAST(max(n_keys) AS BIGINT) AS n_keys,
       CAST(max(total) AS BIGINT) AS total_rows,
       CAST(max(c) AS BIGINT) AS max_per_key,
       CAST(min(CASE WHEN cum >= (n_keys + 1) // 2 THEN c END) AS BIGINT) AS p50_per_key,
       CAST(min(CASE WHEN cum * 100 >= n_keys * 99 THEN c END) AS BIGINT) AS p99_per_key,
       CAST((max(c) * 1000000) // greatest(max(total) // max(n_keys), 1) AS BIGINT) AS skew_ratio_ppm
FROM (
  SELECT c, k, sum(k) OVER (ORDER BY c) AS cum,
         sum(k) OVER () AS n_keys, sum(c * k) OVER () AS total
  FROM (SELECT c, CAST(count(*) AS BIGINT) AS k
        FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM events GROUP BY event_type)
        GROUP BY c)
)
UNION ALL
SELECT 'orders.o_custkey' AS column_name,
       CAST(max(n_keys) AS BIGINT) AS n_keys,
       CAST(max(total) AS BIGINT) AS total_rows,
       CAST(max(c) AS BIGINT) AS max_per_key,
       CAST(min(CASE WHEN cum >= (n_keys + 1) // 2 THEN c END) AS BIGINT) AS p50_per_key,
       CAST(min(CASE WHEN cum * 100 >= n_keys * 99 THEN c END) AS BIGINT) AS p99_per_key,
       CAST((max(c) * 1000000) // greatest(max(total) // max(n_keys), 1) AS BIGINT) AS skew_ratio_ppm
FROM (
  SELECT c, k, sum(k) OVER (ORDER BY c) AS cum,
         sum(k) OVER () AS n_keys, sum(c * k) OVER () AS total
  FROM (SELECT c, CAST(count(*) AS BIGINT) AS k
        FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY o_custkey)
        GROUP BY c)
)
UNION ALL
SELECT 'lineitem.l_orderkey' AS column_name,
       CAST(max(n_keys) AS BIGINT) AS n_keys,
       CAST(max(total) AS BIGINT) AS total_rows,
       CAST(max(c) AS BIGINT) AS max_per_key,
       CAST(min(CASE WHEN cum >= (n_keys + 1) // 2 THEN c END) AS BIGINT) AS p50_per_key,
       CAST(min(CASE WHEN cum * 100 >= n_keys * 99 THEN c END) AS BIGINT) AS p99_per_key,
       CAST((max(c) * 1000000) // greatest(max(total) // max(n_keys), 1) AS BIGINT) AS skew_ratio_ppm
FROM (
  SELECT c, k, sum(k) OVER (ORDER BY c) AS cum,
         sum(k) OVER () AS n_keys, sum(c * k) OVER () AS total
  FROM (SELECT c, CAST(count(*) AS BIGINT) AS k
        FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY l_orderkey)
        GROUP BY c)
)
UNION ALL
SELECT 'lineitem.l_partkey' AS column_name,
       CAST(max(n_keys) AS BIGINT) AS n_keys,
       CAST(max(total) AS BIGINT) AS total_rows,
       CAST(max(c) AS BIGINT) AS max_per_key,
       CAST(min(CASE WHEN cum >= (n_keys + 1) // 2 THEN c END) AS BIGINT) AS p50_per_key,
       CAST(min(CASE WHEN cum * 100 >= n_keys * 99 THEN c END) AS BIGINT) AS p99_per_key,
       CAST((max(c) * 1000000) // greatest(max(total) // max(n_keys), 1) AS BIGINT) AS skew_ratio_ppm
FROM (
  SELECT c, k, sum(k) OVER (ORDER BY c) AS cum,
         sum(k) OVER () AS n_keys, sum(c * k) OVER () AS total
  FROM (SELECT c, CAST(count(*) AS BIGINT) AS k
        FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY l_partkey)
        GROUP BY c)
)
"""


# ML-ready per-document feature matrix: the oracle composes the
# already-verified component queries as subqueries — compositionality of
# the surfaces is itself the contract under test.
ORACLE_SQL["doc_feature_matrix"] = f"""
SELECT q.doc_id, q.lang, q.n_tokens, q.avg_token_len_ppm, q.punct_count,
       q.stopword_ratio_ppm, q.quality_score_ppm,
       t.n_bpe_tokens, t.n_word_tokens, t.n_number_tokens, t.n_symbol_tokens,
       l.lang_guess,
       m.n_bigrams, m.lm_logprob_sum,
       d.n_chars
FROM ({ORACLE_SQL["text_quality"]}) q
JOIN ({ORACLE_SQL["token_stats"]}) t USING (doc_id)
JOIN ({ORACLE_SQL["lang_id"]}) l USING (doc_id)
JOIN ({ORACLE_SQL["doc_lm_score"]}) m USING (doc_id)
JOIN (SELECT doc_id, n_chars FROM documents) d USING (doc_id)
"""


# Triangle census over the identity graph (operators/identity.py::
# triangle_counts): corroboration density per identifier.
ORACLE_SQL["identity_triangles"] = f"""
WITH {CVALID_CTE},
idrows AS (
  SELECT event_id, nuser AS id FROM cvalid WHERE nuser IS NOT NULL
  UNION
  SELECT event_id, nanon FROM cvalid WHERE nanon IS NOT NULL
  UNION
  SELECT event_id, nemail FROM cvalid WHERE nemail IS NOT NULL
),
nodes AS (SELECT DISTINCT id FROM idrows),
edges0 AS (
  SELECT DISTINCT a.id AS a, b.id AS b
  FROM idrows a JOIN idrows b ON a.event_id = b.event_id AND a.id < b.id
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM edges0 e1
  JOIN edges0 e2 ON e2.a = e1.b
  JOIN edges0 e3 ON e3.a = e1.a AND e3.b = e2.b
),
pern AS (
  SELECT x AS id FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
),
cnt AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM pern GROUP BY id)
SELECT nodes.id, CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_triangles
FROM nodes LEFT JOIN cnt USING (id)
"""


def _pagerank_sql(iters: int = 10) -> str:
    """Unrolled power-iteration replay of operators/identity.py::pagerank.

    Bit-exact with Spark because every float op has an engine-free image:
    per-dst inflow and the dangling-mass sum are ``round(x,12)::
    DECIMAL(27,12)`` sums (exact, order-free; Spark mirrors DuckDB's
    multiply-floor rounding via ``duck_round``), and the rank update
    ``(1.0-0.85)/n + 0.85*(inflow + dangle/n)`` is the identical IEEE
    expression shape in both engines.  DuckDB recursive CTEs cannot
    aggregate in the recursive term, so the ``iters`` rounds unroll as a
    chained-CTE template — same recipe class as holt/cusum, applied to a
    graph fixpoint.  Every r{i} is MATERIALIZED: each round references
    the previous one twice (inflow + dangling), so default CTE inlining
    doubles the plan per round — 2^iters parquet scans blew the fd limit
    before the first row; materialization is the oracle-side twin of the
    Spark operator's localCheckpoint cadence."""
    steps = []
    for i in range(iters):
        steps.append(f"""
inflow{i} AS (
  SELECT e.b AS id,
         CAST(sum(CAST(round(r.rank / r.deg, 12) AS DECIMAL(27,12))) AS DOUBLE) AS inflow
  FROM r{i} r JOIN edges e ON e.a = r.id
  WHERE r.deg > 0 GROUP BY e.b
),
dangle{i} AS (
  SELECT coalesce(CAST(sum(CAST(round(CASE WHEN deg = 0 THEN rank END, 12)
                                AS DECIMAL(27,12))) AS DOUBLE), 0.0) AS d
  FROM r{i}
),
r{i + 1} AS MATERIALIZED (
  SELECT b.id, b.deg, b.n,
         (1.0 - 0.85) / b.n
           + 0.85 * (coalesce(i.inflow, 0.0) + g.d / b.n) AS rank
  FROM r0 b
  LEFT JOIN inflow{i} i USING (id)
  CROSS JOIN dangle{i} g
)""")
    return (
        f"WITH {GRAPH_CTE},\n"
        """deg AS (SELECT a AS id, count(*) AS deg FROM edges GROUP BY a),
n1 AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
r0 AS MATERIALIZED (
  SELECT nodes.id, coalesce(deg.deg, 0) AS deg, n1.n, 1.0 / n1.n AS rank
  FROM nodes LEFT JOIN deg USING (id) CROSS JOIN n1
),"""
        + ",".join(steps)
        + f"\nSELECT id, rank FROM r{iters}"
    )


# Hub scores over the identity graph (operators/identity.py::pagerank):
# deterministic decimal-routed power iteration, replayed bit-exactly.
ORACLE_SQL["identity_pagerank"] = _pagerank_sql(10)


# Per-edge triangle support (operators/identity.py::edge_support): each
# closed triangle credits its three (a < b) edges; bridges surface 0.
ORACLE_SQL["identity_edge_support"] = f"""
WITH {GRAPH_CTE},
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM edges0 e1
  JOIN edges0 e2 ON e2.a = e1.b
  JOIN edges0 e3 ON e3.a = e1.a AND e3.b = e2.b
),
per_edge AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM (
    SELECT x AS a, y AS b FROM tri
    UNION ALL SELECT y, z FROM tri
    UNION ALL SELECT x, z FROM tri
  ) GROUP BY a, b
)
SELECT e.a, e.b,
       CAST(coalesce(p.n, 0) AS BIGINT) AS support,
       coalesce(p.n, 0) = 0 AS is_bridge
FROM edges0 e LEFT JOIN per_edge p USING (a, b)
"""

# Funnel conversion-latency stats (operators/sessions.py::funnel_latency):
# lower-discrete quantiles of step-to-step gaps, ms.
ORACLE_SQL["funnel_latency"] = f"""
WITH {ENT_CTE},
t1 AS (SELECT entity_id, min(ts_ms) AS t FROM ent WHERE type = 'view' GROUP BY entity_id),
t2 AS (SELECT e.entity_id, min(e.ts_ms) AS t
       FROM ent e JOIN t1 ON e.entity_id = t1.entity_id AND e.ts_ms > t1.t
       WHERE e.type = 'click' GROUP BY e.entity_id),
t3 AS (SELECT e.entity_id, min(e.ts_ms) AS t
       FROM ent e JOIN t2 ON e.entity_id = t2.entity_id AND e.ts_ms > t2.t
       WHERE e.type = 'purchase' GROUP BY e.entity_id),
lat AS (
  SELECT 'view>click' AS step_pair, t2.t - t1.t AS lat_ms FROM t1 JOIN t2 USING (entity_id)
  UNION ALL
  SELECT 'click>purchase', t3.t - t2.t FROM t2 JOIN t3 USING (entity_id)
),
h AS (SELECT step_pair, lat_ms, count(*) AS c FROM lat GROUP BY 1, 2),
cum AS (
  SELECT step_pair, lat_ms,
         sum(c) OVER (PARTITION BY step_pair ORDER BY lat_ms) AS cum,
         sum(c) OVER (PARTITION BY step_pair) AS tot
  FROM h
)
SELECT step_pair,
       CAST(max(tot) AS BIGINT) AS n_converted,
       CAST(min(CASE WHEN cum >= (tot + 1) // 2 THEN lat_ms END) AS BIGINT) AS med_latency_ms,
       CAST(min(CASE WHEN cum * 10 >= tot * 9 THEN lat_ms END) AS BIGINT) AS p90_latency_ms,
       CAST(max(lat_ms) AS BIGINT) AS max_latency_ms
FROM cum GROUP BY step_pair
"""


# Ops rollup over the assembled alert stream — composes the verified
# alerts SQL as a subquery (same compositionality contract as
# doc_feature_matrix).
ORACLE_SQL["alert_summary"] = f"""
SELECT rule, severity,
       strftime(epoch_ms(ts_ms), '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS n_alerts,
       CAST(count(DISTINCT entity_id) AS BIGINT) AS n_entities
FROM ({ORACLE_SQL["alerts"]})
GROUP BY 1, 2, 3
"""

# Inter-session return-time stats per profile (operators/sessions.py::
# time_to_return) — reuses user_sessions' numbered-islands CTE verbatim.
ORACLE_SQL["time_to_return"] = f"""
WITH {ENT_CTE},
ordered AS (
  SELECT entity_id, event_id, ts_ms,
         lag(ts_ms) OVER (PARTITION BY entity_id ORDER BY ts_ms, event_id) AS prev_ts
  FROM ent
),
numbered AS (
  SELECT *, sum(CASE WHEN prev_ts IS NULL OR ts_ms - prev_ts > 1800000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY entity_id ORDER BY ts_ms, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM ordered
),
sess AS (
  SELECT entity_id, min(ts_ms) AS session_start_ms, max(ts_ms) AS session_end_ms
  FROM numbered GROUP BY entity_id, session_no
),
gaps0 AS (
  SELECT entity_id, session_start_ms,
         lag(session_end_ms) OVER (PARTITION BY entity_id ORDER BY session_start_ms) AS prev_end
  FROM sess
),
prof AS (SELECT DISTINCT entity_id, profile FROM ent),
gaps AS (
  SELECT p.profile, g.entity_id, g.session_start_ms - g.prev_end AS gap_ms
  FROM gaps0 g JOIN prof p USING (entity_id)
  WHERE g.prev_end IS NOT NULL
),
h AS (SELECT profile, gap_ms, count(*) AS c FROM gaps GROUP BY 1, 2),
cum AS (
  SELECT profile, gap_ms,
         sum(c) OVER (PARTITION BY profile ORDER BY gap_ms) AS cum,
         sum(c) OVER (PARTITION BY profile) AS tot
  FROM h
),
ents AS (SELECT profile, CAST(count(DISTINCT entity_id) AS BIGINT) AS n_returning FROM gaps GROUP BY 1),
stats AS (
  SELECT profile,
         CAST(max(tot) AS BIGINT) AS n_gaps,
         CAST(min(CASE WHEN cum >= (tot + 1) // 2 THEN gap_ms END) AS BIGINT) AS med_gap_ms,
         CAST(min(CASE WHEN cum * 10 >= tot * 9 THEN gap_ms END) AS BIGINT) AS p90_gap_ms,
         CAST(max(gap_ms) AS BIGINT) AS max_gap_ms
  FROM cum GROUP BY profile
)
SELECT s.profile, e.n_returning, s.n_gaps, s.med_gap_ms, s.p90_gap_ms, s.max_gap_ms
FROM stats s JOIN ents e USING (profile)
"""


# Near-dup threshold sensitivity: cluster statistics at three Jaccard
# cut-offs over ONE shared MinHash candidate/intersection computation —
# the knob-tuning report a dedup owner reads before picking 0.8
# (operators/dedup.py::near_dup_clusters at each threshold; registry
# dedup_threshold_sweep_q shares the memoized pair graph the same way).
# Per-threshold CC blocks are generated from ONE template so the three
# copies cannot drift.
_SWEEP_THRESHOLDS_BP = (7000, 8000, 9000)


def _sweep_cc_block(bp: int) -> str:
    return f"""dpairs{bp} AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes na ON na.doc_id = i.doc_a
  JOIN sizes nb ON nb.doc_id = i.doc_b
  WHERE i.i * 10000 >= {bp} * (na.n + nb.n - i.i)
),
dedges{bp} AS (SELECT doc_a AS a, doc_b AS b FROM dpairs{bp} UNION SELECT doc_b, doc_a FROM dpairs{bp}),
dreach{bp} AS (
  SELECT doc_id AS id, doc_id AS r FROM documents
  UNION
  SELECT e.b AS id, dreach{bp}.r AS r FROM dedges{bp} e JOIN dreach{bp} ON dreach{bp}.id = e.a
),
dcomp{bp} AS (SELECT id, min(r) AS cluster_id FROM dreach{bp} GROUP BY id)"""


def _sweep_stats_select(bp: int) -> str:
    return f"""SELECT CAST({bp} AS BIGINT) AS threshold_bp,
       CAST(sum(c) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(c) - count(*) AS BIGINT) AS n_dups,
       CAST(max(c) AS BIGINT) AS largest_cluster
FROM (SELECT cluster_id, count(*) AS c FROM dcomp{bp} GROUP BY cluster_id)"""


ORACLE_SQL["dedup_threshold_sweep"] = (
    "WITH RECURSIVE "
    + _MINHASH_BODY
    + ",\n"
    + ",\n".join(_sweep_cc_block(bp) for bp in _SWEEP_THRESHOLDS_BP)
    + "\n"
    + "\nUNION ALL\n".join(_sweep_stats_select(bp) for bp in _SWEEP_THRESHOLDS_BP)
)


# Two-sided integer CUSUM per (entity, type) (operators/timeseries.py::
# cusum_changepoints): the recurrence is int64-exact end to end, so the
# oracle can replay it with a recursive CTE like EWMA's.
ORACLE_SQL["cusum_changepoints"] = f"""
WITH RECURSIVE {ENT_CTE},
vals AS (
  SELECT entity_id, type, ts_us, event_id,
         CAST(round(CAST(value AS DOUBLE) * 1000000) AS BIGINT) AS vu,
         row_number() OVER (PARTITION BY entity_id, type ORDER BY ts_us, event_id) AS rn,
         count(*) OVER (PARTITION BY entity_id, type) AS n_obs
  FROM ent WHERE value IS NOT NULL
),
mu AS (SELECT type, CAST(sum(vu) AS BIGINT) // count(*) AS mu FROM vals GROUP BY type),
vh AS (SELECT type, vu, count(*) AS c FROM vals GROUP BY 1, 2),
vc AS (SELECT type, vu, sum(c) OVER (PARTITION BY type ORDER BY vu) AS cum,
              sum(c) OVER (PARTITION BY type) AS tot FROM vh),
med AS (SELECT type, min(vu) AS med FROM vc WHERE cum >= (tot + 1) // 2 GROUP BY type),
ah AS (SELECT v.type, abs(vu - med) AS adev, count(*) AS c
       FROM vals v JOIN med USING (type) GROUP BY 1, 2),
ac AS (SELECT type, adev, sum(c) OVER (PARTITION BY type ORDER BY adev) AS cum,
              sum(c) OVER (PARTITION BY type) AS tot FROM ah),
mad AS (SELECT type, min(adev) AS mad FROM ac WHERE cum >= (tot + 1) // 2 GROUP BY type),
par AS (SELECT mu.type, mu.mu, greatest(mad.mad, 1) * 5 AS h FROM mu JOIN mad USING (type)),
rec AS (
  SELECT v.entity_id, v.type, v.rn, v.n_obs,
         CASE WHEN greatest(0, vu - p.mu) > p.h THEN 0 ELSE greatest(0, vu - p.mu) END AS sp,
         CASE WHEN greatest(0, p.mu - vu) > p.h THEN 0 ELSE greatest(0, p.mu - vu) END AS sm,
         CASE WHEN greatest(0, vu - p.mu) > p.h THEN 1 ELSE 0 END AS au,
         CASE WHEN greatest(0, p.mu - vu) > p.h THEN 1 ELSE 0 END AS ad,
         greatest(0, vu - p.mu) AS mxu,
         greatest(0, p.mu - vu) AS mxd
  FROM vals v JOIN par p USING (type) WHERE v.rn = 1
  UNION ALL
  SELECT v.entity_id, v.type, v.rn, v.n_obs,
         CASE WHEN greatest(0, r.sp + vu - p.mu) > p.h THEN 0 ELSE greatest(0, r.sp + vu - p.mu) END,
         CASE WHEN greatest(0, r.sm + p.mu - vu) > p.h THEN 0 ELSE greatest(0, r.sm + p.mu - vu) END,
         r.au + CASE WHEN greatest(0, r.sp + vu - p.mu) > p.h THEN 1 ELSE 0 END,
         r.ad + CASE WHEN greatest(0, r.sm + p.mu - vu) > p.h THEN 1 ELSE 0 END,
         greatest(r.mxu, greatest(0, r.sp + vu - p.mu)),
         greatest(r.mxd, greatest(0, r.sm + p.mu - vu))
  FROM vals v
  JOIN par p USING (type)
  JOIN rec r ON v.entity_id = r.entity_id AND v.type = r.type AND v.rn = r.rn + 1
)
SELECT entity_id, type,
       CAST(n_obs AS BIGINT) AS n_obs,
       CAST(au AS BIGINT) AS n_alarms_up,
       CAST(ad AS BIGINT) AS n_alarms_down,
       CAST(mxu AS BIGINT) AS max_cusum_up,
       CAST(mxd AS BIGINT) AS max_cusum_down
FROM rec WHERE rn = n_obs
"""


# Image near-dup via 64-chunk average hash (operators/multimodal.py::
# perceptual_hash_dedup): the oracle recomputes the hash from the
# closed-form synthetic pixel model, so the REAL decode path is what the
# comparison exercises (same contract as multimodal_features).
ORACLE_SQL["media_phash_dedup"] = """
WITH m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'image/ppm' END AS media_type,
         CAST(8 + doc_id % 16 AS BIGINT) AS w,
         CAST(8 + doc_id % 12 AS BIGINT) AS h
  FROM documents
),
g AS (
  SELECT doc_id, media_type, w, h, j,
         (((doc_id + 3 * j) % 256) + ((doc_id + 3 * j + 1) % 256) + ((doc_id + 3 * j + 2) % 256)) // 3 AS gray
  FROM m, UNNEST(generate_series(0, w * h - 1)) AS t(j)
),
ch AS (
  SELECT doc_id, media_type, w, h, (j * 64) // (w * h) AS k,
         CAST(sum(gray) AS BIGINT) AS s, count(*) AS c
  FROM g GROUP BY 1, 2, 3, 4, 5
),
gm AS (SELECT doc_id, CAST(sum(s) AS BIGINT) // CAST(sum(c) AS BIGINT) AS gmean FROM ch GROUP BY doc_id),
bits AS (
  SELECT ch.doc_id, media_type, w, h, k,
         CASE WHEN s // c > gmean THEN 1 ELSE 0 END AS b
  FROM ch JOIN gm USING (doc_id)
),
nib AS (
  SELECT doc_id, media_type, w, h, k // 4 AS t,
         CAST(sum(b * CASE k % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END) AS INT) AS v
  FROM bits GROUP BY 1, 2, 3, 4, 5
),
ph AS (
  SELECT doc_id, media_type, w, h,
         string_agg(substr('0123456789abcdef', v + 1, 1), '' ORDER BY t) AS phash
  FROM nib GROUP BY 1, 2, 3, 4
)
SELECT doc_id, media_type,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height, phash,
       min(doc_id) OVER (PARTITION BY w, h, phash) AS canonical_doc_id,
       doc_id <> min(doc_id) OVER (PARTITION BY w, h, phash) AS is_duplicate
FROM ph
"""


# Audio near-dup fingerprint (operators/multimodal.py::
# audio_fingerprint_dedup): oracle recomputes from the closed-form
# synthetic sample model — the WAV parse path is what the check exercises.
ORACLE_SQL["audio_fingerprint_dedup"] = """
WITH m AS (SELECT doc_id, CAST(64 + doc_id % 192 AS BIGINT) AS n FROM documents),
s AS (
  SELECT doc_id, n, i,
         abs((doc_id * 7 + i * 13) % 2001 - 1000) AS a
  FROM m, UNNEST(generate_series(0, n - 1)) AS t(i)
),
ch AS (
  SELECT doc_id, n, (i * 32) // n AS k,
         CAST(sum(a) AS BIGINT) AS sv, count(*) AS c
  FROM s GROUP BY 1, 2, 3
),
gm AS (SELECT doc_id, CAST(sum(sv) AS BIGINT) // CAST(sum(c) AS BIGINT) AS gmean FROM ch GROUP BY doc_id),
bits AS (
  SELECT ch.doc_id, n, k,
         CASE WHEN sv // c > gmean THEN 1 ELSE 0 END AS b
  FROM ch JOIN gm USING (doc_id)
),
nib AS (
  SELECT doc_id, n, k // 4 AS t,
         CAST(sum(b * CASE k % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END) AS INT) AS v
  FROM bits GROUP BY 1, 2, 3
),
ph AS (
  SELECT doc_id, n,
         string_agg(substr('0123456789abcdef', v + 1, 1), '' ORDER BY t) AS afp
  FROM nib GROUP BY 1, 2
)
SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples, afp,
       min(doc_id) OVER (PARTITION BY n, afp) AS canonical_doc_id,
       doc_id <> min(doc_id) OVER (PARTITION BY n, afp) AS is_duplicate
FROM ph
"""


# DAU/WAU stickiness (operators/timeseries.py::active_user_stickiness):
# WAU from the 7-day contribution explode of per-(entity, day) activity.
ORACLE_SQL["active_user_stickiness"] = f"""
WITH {ENT_CTE},
days AS (
  SELECT DISTINCT strftime(epoch_ms(ts_ms), '%Y-%m-%d') AS day, entity_id FROM ent
),
dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM days GROUP BY day),
contrib AS (
  SELECT DISTINCT entity_id,
         strftime(CAST(day AS DATE) + CAST(i AS INTEGER), '%Y-%m-%d') AS day
  FROM days, UNNEST(generate_series(0, 6)) AS t(i)
),
wau AS (
  SELECT c.day, CAST(count(*) AS BIGINT) AS wau
  FROM contrib c JOIN (SELECT DISTINCT day FROM dau) d USING (day)
  GROUP BY c.day
)
SELECT dau.day, dau.dau, wau.wau,
       CAST((dau.dau * 10000) // wau.wau AS BIGINT) AS stickiness_bp
FROM dau JOIN wau USING (day)
"""


# Daily value envelope (operators/timeseries.py::daily_value_bands):
# lower-discrete P10/P50/P90 via cumulative histogram counts.
ORACLE_SQL["daily_value_bands"] = f"""
WITH {ENT_CTE},
vals AS (
  SELECT type, strftime(epoch_ms(ts_ms), '%Y-%m-%d') AS day,
         CAST(value AS DOUBLE) AS v
  FROM ent WHERE value IS NOT NULL
),
h AS (SELECT type, day, v, count(*) AS c FROM vals GROUP BY 1, 2, 3),
cum AS (
  SELECT type, day, v,
         sum(c) OVER (PARTITION BY type, day ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY type, day) AS tot
  FROM h
)
SELECT type, day,
       CAST(max(tot) AS BIGINT) AS n_values,
       min(CASE WHEN cum * 10 >= tot THEN v END) AS p10_value,
       min(CASE WHEN cum * 2 >= tot THEN v END) AS p50_value,
       min(CASE WHEN cum * 10 >= tot * 9 THEN v END) AS p90_value
FROM cum GROUP BY type, day
"""


# Per-type GK-sketch quantiles (registry.py::approx_value_quantiles_q):
# at accuracy 100 000 the sketch rank error n/accuracy < 1 at test
# scales, so percentile_approx is exact and equals the smallest value
# whose cumulative count reaches ceil(p*n) — replayed here with the
# integer ceil-free comparisons cum*2 >= n (p50), cum*10 >= 9n (p90),
# cum*100 >= 99n (p99).  Convention verified empirically against Spark
# at sf0.01 AND sf0.1 before promotion to an oracle-checked query.
ORACLE_SQL["approx_value_quantiles"] = f"""
WITH {ENT_CTE},
vals AS (
  SELECT type, CAST(value AS DOUBLE) AS v
  FROM ent WHERE value IS NOT NULL
),
h AS (SELECT type, v, count(*) AS c FROM vals GROUP BY 1, 2),
cum AS (
  SELECT type, v,
         sum(c) OVER (PARTITION BY type ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY type) AS tot
  FROM h
)
SELECT type,
       min(CASE WHEN cum * 2 >= tot THEN v END) AS q50,
       min(CASE WHEN cum * 10 >= tot * 9 THEN v END) AS q90,
       min(CASE WHEN cum * 100 >= tot * 99 THEN v END) AS q99,
       CAST(max(tot) AS BIGINT) AS n_values
FROM cum GROUP BY type
"""


# Holt double-exponential smoothing (operators/timeseries.py::
# holt_forecast): the level+trend recurrence replays in a recursive CTE
# with the same operation order; round-6 surfaces like EWMA.
ORACLE_SQL["holt_forecast"] = f"""
WITH RECURSIVE {ENT_CTE},
seq AS (
  SELECT entity_id, type, ts_us, event_id, CAST(value AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY entity_id, type ORDER BY ts_us, event_id) AS rn,
         count(*) OVER (PARTITION BY entity_id, type) AS n_obs
  FROM ent WHERE value IS NOT NULL
),
holt AS (
  SELECT entity_id, type, rn, n_obs, v AS level, CAST(0.0 AS DOUBLE) AS trend
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.entity_id, s.type, s.rn, s.n_obs,
         0.2 * s.v + 0.8 * (h.level + h.trend),
         0.1 * ((0.2 * s.v + 0.8 * (h.level + h.trend)) - h.level) + 0.9 * h.trend
  FROM seq s JOIN holt h
    ON s.entity_id = h.entity_id AND s.type = h.type AND s.rn = h.rn + 1
)
SELECT entity_id, type, CAST(n_obs AS BIGINT) AS n_obs,
       round(level, 6) AS level,
       round(trend, 6) AS trend,
       round(level + trend, 6) AS forecast_next
FROM holt WHERE rn = n_obs
"""


# Session market-basket lift (operators/sessions.py::session_basket_lift):
# sessions as baskets, exact integer lift.
ORACLE_SQL["session_basket_lift"] = f"""
WITH {ENT_CTE},
ordered AS (
  SELECT entity_id, type, ts_ms, event_id,
         lag(ts_ms) OVER (PARTITION BY entity_id ORDER BY ts_ms, event_id) AS prev_ts
  FROM ent
),
numbered AS (
  SELECT *, sum(CASE WHEN prev_ts IS NULL OR ts_ms - prev_ts > 1800000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY entity_id ORDER BY ts_ms, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM ordered
),
sess AS (
  SELECT DISTINCT entity_id || '#' || CAST(session_no AS VARCHAR) AS sid, type
  FROM numbered
),
totals AS (SELECT CAST(count(DISTINCT sid) AS BIGINT) AS n_sessions FROM sess),
per_type AS (SELECT type, CAST(count(*) AS BIGINT) AS n_t FROM sess GROUP BY type),
pairs AS (
  SELECT a.type AS type_a, b.type AS type_b, CAST(count(*) AS BIGINT) AS n_ab
  FROM sess a JOIN sess b ON a.sid = b.sid AND a.type < b.type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_ab,
       na.n_t AS n_a, nb.n_t AS n_b, t.n_sessions,
       CAST((CAST(p.n_ab AS HUGEINT) * t.n_sessions * 1000000)
            // (CAST(na.n_t AS HUGEINT) * nb.n_t) AS BIGINT) AS lift_ppm
FROM pairs p
JOIN per_type na ON na.type = p.type_a
JOIN per_type nb ON nb.type = p.type_b
CROSS JOIN totals t
"""


# Per-source corpus governance rollup (registry source_quality_report_q):
# composes the verified text-quality and cluster-canonical surfaces.
ORACLE_SQL["source_quality_report"] = f"""
WITH RECURSIVE {_CLUSTERS_BODY},
q AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
         CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS punct_count
  FROM documents
),
qq AS (
  SELECT doc_id, n_tokens,
         (least(n_tokens, 100) * 10000 * (greatest(n_tokens, 1) - least(punct_count, greatest(n_tokens, 1))))
           // greatest(n_tokens, 1) AS quality_score_ppm
  FROM q
),
base AS (
  SELECT d.source, d.n_chars, qq.n_tokens, qq.quality_score_ppm,
         CASE WHEN c.id = c.cluster_id THEN 0 ELSE 1 END AS is_dup
  FROM documents d
  JOIN qq ON qq.doc_id = d.doc_id
  JOIN dcomp c ON c.id = d.doc_id
),
agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(is_dup) AS BIGINT) AS n_dups,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         CAST(sum(n_tokens) AS BIGINT) AS st,
         CAST(sum(quality_score_ppm) AS BIGINT) AS sq
  FROM base GROUP BY source
)
SELECT source, n_docs, n_dups,
       CAST((n_dups * 10000) // n_docs AS BIGINT) AS dup_share_bp,
       total_chars,
       CAST(st // n_docs AS BIGINT) AS mean_tokens,
       CAST(sq // n_docs AS BIGINT) AS mean_quality_ppm
FROM agg
"""


# Token-budget mixture planner (operators/corpus.py::mixture_plan):
# equal fair share per source, clipped at max_epochs passes, one
# water-filling redistribution round of the freed budget.
ORACLE_SQL["mixture_plan"] = """
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+'))) AS BIGINT) AS avail_tokens
  FROM documents GROUP BY source
),
staged AS (
  SELECT source, n_docs, avail_tokens,
         CAST(count(*) OVER () AS BIGINT) AS n_sources,
         avail_tokens * 4 AS cap
  FROM per
),
s2 AS (
  SELECT *, CAST(112000 // n_sources AS BIGINT) AS fair_share,
         least(CAST(112000 // n_sources AS BIGINT), cap) AS alloc1
  FROM staged
),
s3 AS (
  SELECT *, 112000 - sum(alloc1) OVER () AS leftover,
         sum(CASE WHEN cap > alloc1 THEN 1 ELSE 0 END) OVER () AS n_open
  FROM s2
),
s4 AS (
  SELECT *, alloc1 + least(CASE WHEN n_open > 0 THEN leftover // n_open ELSE 0 END,
                           cap - alloc1) AS alloc_tokens
  FROM s3
)
SELECT source, n_docs, avail_tokens, CAST(fair_share AS BIGINT) AS fair_share,
       CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
       CAST((alloc_tokens * 1000000) // greatest(avail_tokens, 1) AS BIGINT) AS epochs_ppm
FROM s4
"""

# Quality-score calibration against the Gopher rules
# (operators/text.py::quality_calibration).
ORACLE_SQL["quality_calibration"] = f"""
WITH tq AS ({ORACLE_SQL["text_quality"]}),
gq AS ({ORACLE_SQL["gopher_quality"]})
SELECT CAST(least(9, (q.quality_score_ppm * 10) // 1000000) AS BIGINT) AS score_decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN g.passes THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST((sum(CASE WHEN g.passes THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS pass_rate_ppm
FROM tq q JOIN gq g USING (doc_id)
GROUP BY 1
"""

# Contrastive training pairs (operators/mlprep.py::contrastive_pairs):
# positives = paraphrase-band near-dups; negatives = consecutive doc_ids
# within a stable hash bucket, anti-joined against the candidate graph.
_CONTRASTIVE_TAIL = """
pg AS (
  SELECT i.doc_a, i.doc_b,
         (i.i * 1000000) // (na.n + nb.n - i.i) AS jaccard_ppm
  FROM inter i
  JOIN sizes na ON na.doc_id = i.doc_a
  JOIN sizes nb ON nb.doc_id = i.doc_b
),
pos AS (
  SELECT doc_a, doc_b, 'pos' AS label FROM pg
  WHERE jaccard_ppm >= 300000 AND jaccard_ppm < 950000
),
bucketed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 50 AS bucket
  FROM documents
),
negc AS (
  SELECT doc_id AS doc_a,
         lead(doc_id) OVER (PARTITION BY bucket ORDER BY doc_id) AS doc_b
  FROM bucketed
),
neg AS (
  SELECT n.doc_a, n.doc_b, 'neg' AS label
  FROM negc n
  WHERE n.doc_b IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM pg p WHERE p.doc_a = n.doc_a AND p.doc_b = n.doc_b)
)
SELECT doc_a, doc_b, label FROM pos
UNION ALL
SELECT doc_a, doc_b, label FROM neg
"""

ORACLE_SQL["contrastive_pairs"] = f"""
WITH {_MINHASH_BODY},
{_CONTRASTIVE_TAIL}
"""

# Cross-device sessions keyed by canonical profile
# (operators/identity.py::canonical_sessions).
ORACLE_SQL["canonical_sessions"] = f"""
WITH RECURSIVE {COMPONENTS_CTE},
evp AS (
  SELECT v.event_id, v.ts_ms, c.component AS profile_id,
         coalesce(v.nuser, v.nanon, v.nemail) AS rid
  FROM cvalid v
  JOIN comp c ON c.id = coalesce(v.nuser, v.nanon, v.nemail)
),
ordered AS (
  SELECT *, lag(ts_ms) OVER (PARTITION BY profile_id ORDER BY ts_ms, event_id) AS prev_ts
  FROM evp
),
numbered AS (
  SELECT *, sum(CASE WHEN prev_ts IS NULL OR ts_ms - prev_ts > 1800000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY profile_id ORDER BY ts_ms, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM ordered
)
SELECT profile_id || '#' || CAST(session_no AS VARCHAR) AS session_id,
       profile_id,
       CAST(min(ts_ms) AS BIGINT) AS session_start_ms,
       CAST(max(ts_ms) AS BIGINT) AS session_end_ms,
       CAST(max(ts_ms) - min(ts_ms) AS BIGINT) AS duration_ms,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT rid) AS BIGINT) AS n_identifiers
FROM numbered
GROUP BY profile_id, session_no
"""

# Point-in-time trait join (operators/scd.py::point_in_time_trait): which
# plan interval was in force when each purchase (ALIAS) event happened.
ORACLE_SQL["plan_at_purchase"] = f"""
WITH RECURSIVE {EVPROF_CTE},
long AS (
  SELECT profile_id, ts_ms, okey, plan AS value
  FROM evprof WHERE ctype = 'IDENTIFY' AND plan IS NOT NULL
),
marked AS (
  SELECT *, lag(value) OVER (PARTITION BY profile_id ORDER BY okey) AS prev
  FROM long
),
changes AS (SELECT * FROM marked WHERE prev IS NULL OR prev <> value),
hist AS (
  SELECT profile_id, value, ts_ms AS valid_from_ms,
         lead(ts_ms) OVER (PARTITION BY profile_id ORDER BY okey) AS valid_to_ms,
         CAST(row_number() OVER (PARTITION BY profile_id ORDER BY okey) AS INTEGER) AS version
  FROM changes
),
purch AS (
  SELECT event_id, ts_ms AS event_ms, profile_id FROM evprof WHERE ctype = 'ALIAS'
)
SELECT p.event_id, p.profile_id, p.event_ms,
       h.value AS trait_value, h.version
FROM purch p
LEFT JOIN hist h ON h.profile_id = p.profile_id
  AND p.event_ms >= h.valid_from_ms
  AND (h.valid_to_ms IS NULL OR p.event_ms < h.valid_to_ms)
"""

# Single-touch attribution (operators/sessions.py::purchase_attribution):
# first/last non-conversion touch type in the trailing 24 h per purchase.
ORACLE_SQL["purchase_attribution"] = f"""
WITH {ENT_CTE},
keyed AS (
  SELECT entity_id, event_id, ts_ms, type, value,
         CASE WHEN type <> 'purchase' THEN
           lpad(CAST(ts_ms AS VARCHAR), 15, '0') || '|' ||
           lpad(CAST(event_id AS VARCHAR), 12, '0') || '|' || type
         END AS tkey
  FROM ent
),
att AS (
  SELECT *,
         min(tkey) OVER (PARTITION BY entity_id ORDER BY ts_ms
                         RANGE BETWEEN 86400000 PRECEDING AND 1 PRECEDING) AS first_key,
         max(tkey) OVER (PARTITION BY entity_id ORDER BY ts_ms
                         RANGE BETWEEN 86400000 PRECEDING AND 1 PRECEDING) AS last_key
  FROM keyed
)
SELECT event_id, entity_id, ts_ms AS purchase_ms, value,
       CASE WHEN first_key IS NOT NULL THEN split_part(first_key, '|', 3) END AS first_touch_type,
       CASE WHEN last_key IS NOT NULL THEN split_part(last_key, '|', 3) END AS last_touch_type
FROM att WHERE type = 'purchase'
"""

# Attribution credit rollup (operators/sessions.py::attribution_report).
ORACLE_SQL["attribution_report"] = f"""
WITH att AS ({ORACLE_SQL["purchase_attribution"]}),
long AS (
  SELECT 'first_touch' AS model, coalesce(first_touch_type, 'organic') AS touch_type, value FROM att
  UNION ALL
  SELECT 'last_touch', coalesce(last_touch_type, 'organic'), value FROM att
)
SELECT model, touch_type,
       CAST(count(*) AS BIGINT) AS n_conversions,
       round(CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE), 4) AS total_value
FROM long
GROUP BY model, touch_type
"""

# Inter-label centroid margin matrix
# (operators/similarity.py::centroid_distances).
ORACLE_SQL["centroid_distances"] = """
WITH triples AS (
  SELECT label, i - 1 AS pos,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS vu
  FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL) embeddings, UNNEST(generate_series(1, array_length(embedding))) AS t(i)
),
per_dim AS (
  SELECT label, pos, sum(vu) // count(*) AS m
  FROM triples GROUP BY label, pos
)
SELECT a.label AS label_a, b.label AS label_b,
       CAST(count(*) AS BIGINT) AS n_dims,
       CAST(sum(CAST((a.m - b.m) * (a.m - b.m) AS DECIMAL(38,0))) AS BIGINT) AS l2sq_micro2
FROM per_dim a JOIN per_dim b ON a.pos = b.pos AND a.label < b.label
GROUP BY a.label, b.label
"""

# Cross-engine data-integrity audits (operators/integrity.py) — oracle
# bodies are generated from the SAME table/relation lists the operator
# uses (audit_spec is dependency-free, so this module stays importable
# without pyspark), so the two sides cannot drift on the audited surface.
from pulseboard_spark.audit_spec import FK_RELATIONS, PK_COLUMNS

def _hash_int_sql(col: str) -> str:
    return f"CAST(('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 15)) AS UBIGINT)"

ORACLE_SQL["table_checksums"] = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS table_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT {pk}) AS BIGINT) AS n_distinct_keys,
       CAST(count(*) - count(DISTINCT {pk}) AS BIGINT) AS n_dup_key_rows,
       CAST(sum({_hash_int_sql(pk)} % 1000000000) AS BIGINT) AS key_checksum
FROM {name}"""
    for name, pk in PK_COLUMNS
)

ORACLE_SQL["fk_orphans"] = "\nUNION ALL\n".join(
    f"""SELECT '{child}.{fk}->{parent}.{pk}' AS relation,
       (SELECT CAST(count(*) AS BIGINT) FROM {child}) AS n_child_rows,
       CAST((SELECT count(*) FROM {child} c
             WHERE c.{fk} IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk})) AS BIGINT) AS n_orphans"""
    for child, fk, parent, pk in FK_RELATIONS
)

# Raw-stream duplicate audit (operators/identity.py::dup_audit): the
# reference injects ~5% duplicate eventIds (Simulator.kt:392-398); this
# measures what W1's dedup actually absorbs, per event class.
ORACLE_SQL["cdp_dup_audit"] = f"""
WITH {CDP_CTE}
SELECT ctype,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct_events,
       CAST(count(*) - count(DISTINCT event_id) AS BIGINT) AS n_dup_rows,
       CAST(((count(*) - count(DISTINCT event_id)) * 1000000) // count(*) AS BIGINT) AS dup_rate_ppm
FROM cdp
GROUP BY ctype
"""

# Cohort LTV curve (operators/sessions.py::cohort_ltv): cumulative
# revenue per first-week cohort by week offset; decimal-routed sums.
ORACLE_SQL["cohort_ltv"] = f"""
WITH {ENT_CTE},
per_uw AS (
  SELECT entity_id, ts_ms // 604800000 AS week,
         sum(CAST(CASE WHEN type = 'purchase' THEN value ELSE 0.0 END AS DECIMAL(27,6))) AS wk_value
  FROM ent GROUP BY entity_id, ts_ms // 604800000
),
firsts AS (SELECT entity_id, min(week) AS cohort_week FROM per_uw GROUP BY entity_id),
grid AS (
  SELECT f.cohort_week, p.week - f.cohort_week AS week_offset,
         count(DISTINCT p.entity_id) AS n_active,
         sum(p.wk_value) AS rev
  FROM per_uw p JOIN firsts f USING (entity_id)
  GROUP BY f.cohort_week, p.week - f.cohort_week
)
SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
       CAST(week_offset AS BIGINT) AS week_offset,
       CAST(n_active AS BIGINT) AS n_active,
       round(CAST(rev AS DOUBLE), 4) AS revenue,
       round(CAST(sum(rev) OVER (PARTITION BY cohort_week ORDER BY week_offset
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 4) AS cum_revenue
FROM grid
"""

# RAG chunk plan (operators/corpus.py::doc_chunks): 64-token windows at
# stride 48, metadata + md5 of the chunk text.
ORACLE_SQL["doc_chunks"] = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), x -> len(x) > 0) AS t
  FROM documents
),
ex AS (
  SELECT doc_id, t, len(t) AS n, u.i AS chunk_no
  FROM toks, UNNEST(generate_series(0, (len(t) - 1) // 48)) AS u(i)
  WHERE len(t) > 0
)
SELECT doc_id,
       CAST(chunk_no AS BIGINT) AS chunk_no,
       CAST(chunk_no * 48 AS BIGINT) AS start_token,
       CAST(least(64, n - chunk_no * 48) AS BIGINT) AS n_tokens,
       md5(array_to_string(list_slice(t, chunk_no * 48 + 1, chunk_no * 48 + 64), ' ')) AS chunk_hash
FROM ex
"""

# Z-order layout audit (sources/layout.py::zorder_layout_audit): Morton
# key over (user, hour), 16 bits each; bucket spans show 2-D locality.
ORACLE_SQL["zorder_layout_audit"] = f"""
WITH {ENT_CTE},
base AS (
  SELECT entity_id, CAST(entity_id AS BIGINT) AS u, ts_ms // 3600000 AS h
  FROM ent
),
stats AS (
  SELECT min(u) AS umin, max(u) AS umax, min(h) AS hmin, max(h) AS hmax FROM base
),
norm AS (
  SELECT entity_id, h,
         ((u - umin) * 65535) // greatest(umax - umin, 1) AS un,
         ((h - hmin) * 65535) // greatest(hmax - hmin, 1) AS hn
  FROM base, stats
),
sp0 AS (SELECT entity_id, h, (un & 65535) AS ux, (hn & 65535) AS hx FROM norm),
sp1 AS (SELECT entity_id, h, ((ux | (ux << 8)) & 16711935) AS ux,
               ((hx | (hx << 8)) & 16711935) AS hx FROM sp0),
sp2 AS (SELECT entity_id, h, ((ux | (ux << 4)) & 252645135) AS ux,
               ((hx | (hx << 4)) & 252645135) AS hx FROM sp1),
sp3 AS (SELECT entity_id, h, ((ux | (ux << 2)) & 858993459) AS ux,
               ((hx | (hx << 2)) & 858993459) AS hx FROM sp2),
sp4 AS (SELECT entity_id, h, ((ux | (ux << 1)) & 1431655765) AS ux,
               ((hx | (hx << 1)) & 1431655765) AS hx FROM sp3),
zk AS (SELECT entity_id, h, (ux | (hx << 1)) AS z FROM sp4)
SELECT CAST((z * 64) // 4294967296 AS BIGINT) AS z_bucket,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT entity_id) AS BIGINT) AS n_users,
       CAST(min(h) AS BIGINT) AS min_hour,
       CAST(max(h) AS BIGINT) AS max_hour
FROM zk
GROUP BY 1
"""

# Session-scoped funnel (operators/sessions.py::session_funnel): ordered
# step match within gap-session boundaries, denominated in sessions.
ORACLE_SQL["session_funnel"] = f"""
WITH {ENT_CTE},
ordered AS (
  SELECT entity_id, event_id, ts_ms, type,
         lag(ts_ms) OVER (PARTITION BY entity_id ORDER BY ts_ms, event_id) AS prev_ts
  FROM ent
),
numbered AS (
  SELECT *, sum(CASE WHEN prev_ts IS NULL OR ts_ms - prev_ts > 1800000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY entity_id ORDER BY ts_ms, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM ordered
),
sess AS (
  SELECT entity_id || '#' || CAST(session_no AS VARCHAR) AS sid, type, ts_ms FROM numbered
),
t1 AS (SELECT sid, min(ts_ms) AS t FROM sess WHERE type = 'view' GROUP BY sid),
t2 AS (SELECT s.sid, min(s.ts_ms) AS t FROM sess s JOIN t1 ON s.sid = t1.sid AND s.ts_ms > t1.t
       WHERE s.type = 'click' GROUP BY s.sid),
t3 AS (SELECT s.sid, min(s.ts_ms) AS t FROM sess s JOIN t2 ON s.sid = t2.sid AND s.ts_ms > t2.t
       WHERE s.type = 'purchase' GROUP BY s.sid),
c AS (SELECT (SELECT count(*) FROM t1) AS n1, (SELECT count(*) FROM t2) AS n2,
             (SELECT count(*) FROM t3) AS n3)
SELECT CAST(1 AS INTEGER) AS step_no, 'view' AS step, CAST(n1 AS BIGINT) AS n_sessions,
       CAST((n1 * 1000000) // greatest(n1, 1) AS BIGINT) AS share_ppm FROM c
UNION ALL
SELECT CAST(2 AS INTEGER), 'click', CAST(n2 AS BIGINT),
       CAST((n2 * 1000000) // greatest(n1, 1) AS BIGINT) FROM c
UNION ALL
SELECT CAST(3 AS INTEGER), 'purchase', CAST(n3 AS BIGINT),
       CAST((n3 * 1000000) // greatest(n1, 1) AS BIGINT) FROM c
"""

# LSH recall audit (operators/dedup.py::lsh_recall_audit): exact all-pairs
# on a 10% hash sample vs the 4x2 banded candidate set, per Jaccard band.
ORACLE_SQL["lsh_recall_audit"] = """
WITH samp AS (
  SELECT doc_id, text FROM documents
  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 100 < 10
),
ssh AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 2), ' ') AS s
  FROM (
    SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i
    FROM (SELECT doc_id, list_filter(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), x -> len(x) > 0) AS toks
          FROM samp)
    WHERE len(toks) > 0
  )
),
minh AS (
  SELECT doc_id,
         min(substr(md5('0:' || s), 1, 8))  AS h0, min(substr(md5('0:' || s), 9, 8))  AS h1,
         min(substr(md5('0:' || s), 17, 8)) AS h2, min(substr(md5('0:' || s), 25, 8)) AS h3,
         min(substr(md5('1:' || s), 1, 8))  AS h4, min(substr(md5('1:' || s), 9, 8))  AS h5,
         min(substr(md5('1:' || s), 17, 8)) AS h6, min(substr(md5('1:' || s), 25, 8)) AS h7
  FROM ssh GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS bi, h0 || h1 AS band FROM minh
  UNION ALL SELECT doc_id, 1, h2 || h3 FROM minh
  UNION ALL SELECT doc_id, 2, h4 || h5 FROM minh
  UNION ALL SELECT doc_id, 3, h6 || h7 FROM minh
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bi = b.bi AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM ssh GROUP BY doc_id),
inter_all AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM ssh a JOIN ssh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
exact AS (
  SELECT i.doc_a, i.doc_b, (i.i * 1000000) // (na.n + nb.n - i.i) AS j
  FROM inter_all i
  JOIN sizes na ON na.doc_id = i.doc_a
  JOIN sizes nb ON nb.doc_id = i.doc_b
)
SELECT CAST(e.j // 100000 AS BIGINT) AS jaccard_band,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
       CAST((sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS recall_ppm
FROM exact e LEFT JOIN cand c ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
GROUP BY 1
"""
