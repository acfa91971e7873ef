"""Streaming twins must agree with the batch operators on the same data.

Strategy (SURVEY §5): file-source streams fed in time-ordered chunks with
maxFilesPerTrigger=1, memory sink, processAllAvailable, then set-compare
against the batch result — the batch path is oracle-checked, so streaming
equivalence transitively inherits oracle correctness.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pulseboard_spark.sources.tables import entity_events
from pulseboard_spark.operators import rules
from pulseboard_spark.streaming.stateful import (
    ALERT_SCHEMA,
    alert_rules_stateful,
    segment_diff_stateful,
)


@pytest.fixture
def small_state(spark):
    """sf0.001 fixtures are a few thousand rows; one state partition per
    core just multiplies per-micro-batch Python state-task overhead (the
    sized_session dial, SCALE.md 'Tuned visibility latency').  4 keeps the
    multi-partition state path exercised.  Fresh tmp_path checkpoints bind
    the count at first start, so a per-test override is safe to restore."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", prev)


@pytest.fixture(scope="module")
def entity_chunks_dir(spark, sf_dir, tmp_path_factory):
    """Entity view split into 4 time-ordered parquet chunks."""
    out = str(tmp_path_factory.mktemp("entity_stream"))
    # (ts_us, event_id) is the engine's arrival order — ordering by ts_us
    # alone is unstable across same-ts peers, and a reversed-peer chunk
    # split would let the kernel see a "later" arrival batch excludes
    df = entity_events(spark, sf_dir).orderBy("ts_us", "event_id")
    n = df.count()
    chunk = (n + 3) // 4
    rows = df.collect()
    for i in range(4):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            spark.createDataFrame(part, df.schema).coalesce(1).write.mode("overwrite").parquet(
                f"{out}/chunk={i}"
            )
    return out, df.schema


def test_streaming_alerts_match_batch(spark, sf_dir, entity_chunks_dir, small_state):
    """On REAL testdata this equality is no-spurious-alerts only: the
    driver data never trips R1/R2/R4 (every alert is R3), so both sides
    are empty.  The non-vacuous positive-path twin equality runs on the
    engineered firing fixture in tests/test_rule_firing.py."""
    out, schema = entity_chunks_dir
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{out}/chunk=*")
    )
    alerts = alert_rules_stateful(stream)
    q = (
        alerts.writeStream.format("memory")
        .queryName("stream_alerts")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        tuple(r)
        for r in spark.sql("SELECT rule, entity_id, ts_ms, severity, event_id FROM stream_alerts").collect()
    }

    batch = rules.alerts(entity_events(spark, sf_dir)).filter(F.col("rule") != "R3_GEO_DEVICE_MISMATCH")
    want = {tuple(r) for r in batch.collect()}
    missing = want - got
    extra = got - want
    assert not missing and not extra, f"missing={list(missing)[:5]} extra={list(extra)[:5]}"


def test_segment_diff_stateful(spark, tmp_path):
    rows = [
        # profile, segments, ts
        ("p1", ["pro_plan"], 1_000),
        ("p1", ["pro_plan", "power_user"], 2_000),
        ("p1", ["power_user"], 3_000),
        ("p2", [], 1_500),
        ("p2", ["reengage"], 2_500),
    ]
    df = spark.createDataFrame(
        [(p, s, t, t) for p, s, t in rows], "profile_id string, segments array<string>, ts_ms bigint, t long"
    ).withColumn("ts", F.timestamp_millis(F.col("t"))).drop("t")
    path = str(tmp_path / "snapshots")
    df.coalesce(1).write.parquet(path)
    stream = spark.readStream.schema(df.schema).parquet(path)
    q = (
        segment_diff_stateful(stream)
        .writeStream.format("memory")
        .queryName("seg_events")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.profile_id, r.segment, r.action, r.ts_ms)
        for r in spark.sql("SELECT * FROM seg_events").collect()
    }
    want = {
        ("p1", "pro_plan", "ENTER", 1_000),
        ("p1", "power_user", "ENTER", 2_000),
        ("p1", "pro_plan", "EXIT", 3_000),
        ("p2", "reengage", "ENTER", 2_500),
    }
    assert got == want and got, f"empty or diverged: got={sorted(got)[:5]}"


def test_profile_apply_stateful_matches_batch(spark, sf_dir, tmp_path, small_state):
    """Feed canonical-id-tagged CDP events through the stateful profile
    operator in 3 time-ordered chunks; the LAST emitted snapshot per profile
    must equal the batch materialization (identifiers, LWW traits, lastSeen)
    with the counter as of each profile's own last event."""
    from pulseboard_spark.registry import _evprof
    from pulseboard_spark.operators.profiles import build_profiles, DAY_MS, MINUTE_MS
    from pulseboard_spark.streaming.stateful import profile_apply_stateful

    ev = _evprof(spark, sf_dir).select(
        "profile_id", F.timestamp_micros(F.col("ts_us")).alias("ts"), "ts_us", "ts_ms",
        "event_id", "ctype", "name", "plan", "country", "nuser", "nanon", "nemail",
    ).orderBy("ts_us", "event_id")
    rows = ev.collect()
    out = str(tmp_path / "cdp_stream")
    chunk = (len(rows) + 2) // 3
    for i in range(3):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            spark.createDataFrame(part, ev.schema).coalesce(1).write.parquet(f"{out}/chunk={i}")

    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", "1").parquet(f"{out}/chunk=*")
    q = (
        profile_apply_stateful(stream)
        .writeStream.format("memory")
        .queryName("profile_snaps")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    snaps = spark.sql("SELECT * FROM profile_snaps").collect()
    assert snaps, "no snapshots emitted"
    last = {}
    for r in snaps:  # memory sink appends in batch order; later batch wins
        last[r.profile_id] = r

    batch = {r.profile_id: r for r in build_profiles(_evprof(spark, sf_dir)).collect()}
    assert set(last) == set(batch)

    # per-profile 24h counter as of that profile's last event (the streaming
    # "now"); batch build_profiles uses the global max ts, so recompute here
    from pyspark.sql import functions as F2
    e = _evprof(spark, sf_dir)
    seen = e.groupBy("profile_id").agg(F2.max("ts_ms").alias("as_of"))
    cnt = (
        e.join(seen, "profile_id")
        .filter(
            (F2.col("ctype") == "TRACK") & (F2.col("name") == "Feature Used")
            & (F2.col("ts_ms") - F2.col("ts_ms") % MINUTE_MS
               >= (F2.col("as_of") - DAY_MS) - (F2.col("as_of") - DAY_MS) % MINUTE_MS)
        )
        .groupBy("profile_id").count()
    )
    want_cnt = {r.profile_id: r["count"] for r in cnt.collect()}

    for pid, b in batch.items():
        s = last[pid]
        assert s.user_ids == sorted(b.user_ids), pid
        assert s.emails == sorted(b.emails), pid
        assert s.anonymous_ids == sorted(b.anonymous_ids), pid
        assert s.plan == b.plan and s.country == b.country, pid
        assert s.last_seen_ms == b.last_seen_ms, pid
        assert s.feature_used_24h == want_cnt.get(pid, 0), pid


def test_reengage_event_time_timer(spark, tmp_path, small_state):
    """W10/G3: reengage must ENTER on silence (timer), EXIT on activity."""
    from pulseboard_spark.streaming.stateful import reengage_stateful

    S = 1000  # ms per second
    chunks = [
        [("p1", 0), ("p1", 60 * S), ("p2", 0), ("p2", 300 * S)],
        [("p2", 360 * S), ("p2", 840 * S)],      # watermark passes p1.last + 10m
        [("p2", 900 * S)],                        # p1 timer fires -> ENTER
        [("p1", 960 * S)],                        # p1 activity -> EXIT
        [("p2", 2400 * S)],                       # watermark passes p1's new timer -> ENTER
    ]
    out = str(tmp_path / "reengage_stream")
    schema = "profile_id string, ts_ms bigint"
    for i, rows in enumerate(chunks):
        df = (
            spark.createDataFrame(rows, schema)
            .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
        )
        df.coalesce(1).write.parquet(f"{out}/chunk={i}")
    full_schema = spark.read.parquet(f"{out}/chunk=0").schema
    stream = spark.readStream.schema(full_schema).option("maxFilesPerTrigger", "1").parquet(f"{out}/chunk=*")
    q = (
        reengage_stateful(stream)
        .writeStream.format("memory")
        .queryName("reengage_events")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.profile_id, r.segment, r.action, r.ts_ms)
        for r in spark.sql("SELECT * FROM reengage_events").collect()
    }
    want = {
        ("p1", "reengage", "ENTER", 60 * S + 600_000 + 1),
        ("p1", "reengage", "EXIT", 960 * S),
        ("p1", "reengage", "ENTER", 960 * S + 600_000 + 1),
    }
    assert got == want, f"got={sorted(got)}"


def test_incremental_identity_stage(spark, sf_dir, tmp_path, small_state):
    """§3.2 foreachBatch identity stage: after streaming all chunks, the
    incremental (seeded) component map must equal the batch fixpoint, and
    resolved events must cover every valid event."""
    from pulseboard_spark.sources.tables import cdp_events
    from pulseboard_spark.operators.identity import components_for, valid_cdp_events
    from pulseboard_spark.streaming.pipeline import CdpIdentityStage

    raw = cdp_events(spark, sf_dir).orderBy("ts_us", "event_id")
    rows = raw.collect()
    out = str(tmp_path / "cdp_raw")
    chunk = (len(rows) + 2) // 3
    for i in range(3):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            spark.createDataFrame(part, raw.schema).coalesce(1).write.parquet(f"{out}/chunk={i}")

    stream = spark.readStream.schema(raw.schema).option("maxFilesPerTrigger", "1").parquet(f"{out}/chunk=*")
    stage = CdpIdentityStage(spark, str(tmp_path / "idstate"))
    q = (
        stream.writeStream.foreachBatch(stage.process_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {(r.id, r.component) for r in stage.components().collect()}
    want = {(r.id, r.component) for r in components_for(valid_cdp_events(raw)).collect()}
    assert got == want and got, f"empty or diverged: got={sorted(got)[:5]}"

    resolved_ids = {r.event_id for r in stage.resolved().select("event_id").collect()}
    valid_ids = {r.event_id for r in valid_cdp_events(raw).select("event_id").collect()}
    assert resolved_ids == valid_ids


#: Entity of the burst that straddles the restart in _alert_stream_restart.
STRADDLE = "fire-r1-restart"


@pytest.fixture(scope="module")
def firing_chunks_dir(spark, sf_dir, tmp_path_factory):
    """Entity view plus the rule-firing fixture in 4 time-ordered parquet
    chunks, and the batch R1/R2/R4 alerts over the same rows.  The real
    testdata exercises the admission/dedup volume path but never fires
    R1/R2/R4, so the firing fixture makes an equality non-vacuous.

    The chunks are cut at the time quartiles of those rows, and one more
    entity, ``STRADDLE``, bursts 20 events 2 s apart across the second
    cut: 10 in chunk 1, 10 in chunk 2.  Its rate_1m first reaches R1's
    floor of 20 on its last event, so R1 fires exactly once, and only
    with all 20 points in one key's state."""
    import bisect

    from pulseboard_spark.sources.generator import rule_firing_events

    base = entity_events(spark, sf_dir).unionByName(rule_firing_events(spark))
    base_ts = [r.ts_us for r in base.select("ts_us").orderBy("ts_us").collect()]
    chunk = (len(base_ts) + 3) // 4
    cuts = [base_ts[min(k * chunk, len(base_ts)) - 1] for k in (1, 2, 3)]
    burst = spark.range(20).selectExpr(
        "9000000004000 + id AS event_id", f"timestamp_micros({cuts[1]} + (2 * id - 19) * 1000000) AS ts"
    ).selectExpr(
        "event_id", "ts", "unix_micros(ts) AS ts_us", "unix_millis(ts) AS ts_ms", f"'{STRADDLE}' AS entity_id",
        "'IGAMING' AS profile", "'BET_PLACED' AS type", "1.0D AS value", "'US' AS geo", "'desktop' AS device",
    )
    ev = base.unionByName(burst)
    # order by the full arrival key (ts_us, event_id): same-ts peers split
    # across chunks in reversed id order would diverge from batch ties
    rows = ev.orderBy("ts_us", "event_id").collect()
    ts = [r.ts_us for r in rows]
    bounds = [0] + [bisect.bisect_right(ts, c) for c in cuts] + [len(rows)]
    out = str(tmp_path_factory.mktemp("firing_stream"))
    for i in range(4):
        part = rows[bounds[i] : bounds[i + 1]]
        if part:
            spark.createDataFrame(part, ev.schema).coalesce(1).write.parquet(f"{out}/chunk={i}")
    batch = rules.alerts(ev).filter(F.col("rule") != "R3_GEO_DEVICE_MISMATCH")
    want = {tuple(r) for r in batch.collect()}
    assert [r[0] for r in want if r[1] == STRADDLE] == ["R1_VELOCITY_SPIKE"]
    return out, ev.schema, want


def test_entity_alert_stream_facade(spark, firing_chunks_dir, small_state):
    """§3.1 facade (admission -> dedup -> stateful rules) must equal the
    batch alerts on replayed chunks."""
    from pulseboard_spark.streaming.pipeline import entity_alert_stream

    out, schema, want = firing_chunks_dir
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{out}/chunk=*")
    )
    q = (
        entity_alert_stream(stream)
        .writeStream.format("memory")
        .queryName("facade_alerts")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        tuple(r)
        for r in spark.sql("SELECT rule, entity_id, ts_ms, severity, event_id FROM facade_alerts").collect()
    }
    assert got == want and got, f"empty or diverged: got={sorted(got)[:5]}"


def _alert_stream_restart(spark, firing_chunks_dir, tmp_path, rocksdb):
    """Kill-and-restart on the stream that ships: ``entity_alert_stream``
    with a parquet sink is stopped after two chunks, then restarted from
    the same checkpoint with all four.  The restart must resume the
    dedup and keyed rule state — no (rule, event_id) is emitted twice,
    the ``STRADDLE`` burst fires once and only after the restart, from
    the half of its points restored from the checkpoint — and the alerts
    must equal the batch answer."""
    from pulseboard_spark.streaming.pipeline import (
        ROCKSDB_PROVIDER,
        entity_alert_stream,
        use_rocksdb_state,
    )

    out, schema, want = firing_chunks_dir
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    if rocksdb:
        use_rocksdb_state(spark)
        assert spark.conf.get(key) == ROCKSDB_PROVIDER

    def run(glob):
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(glob)
        q = (
            entity_alert_stream(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def straddle_alerts():
        return spark.read.parquet(sink).filter(F.col("entity_id") == STRADDLE).count()

    try:
        run(f"{out}/chunk={{0,1}}")
        assert straddle_alerts() == 0, "the straddling burst fired before the restart"
        run(f"{out}/chunk=*")
        assert straddle_alerts() == 1, "the straddling burst must fire once after the restart"
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

    got = [
        tuple(r)
        for r in spark.read.parquet(sink)
        .select("rule", "entity_id", "ts_ms", "severity", "event_id")
        .collect()
    ]
    keys = [(r[0], r[4]) for r in got]
    assert len(keys) == len(set(keys)), "restart emitted an alert twice"
    assert set(got) == want and got, f"empty or diverged: got={sorted(got)[:5]}"


def test_checkpoint_restart_recovery(spark, firing_chunks_dir, tmp_path, small_state):
    """Restart of the alerts stream on the default (heap) state store."""
    _alert_stream_restart(spark, firing_chunks_dir, tmp_path, rocksdb=False)


def test_checkpoint_restart_recovery_on_rocksdb(spark, firing_chunks_dir, tmp_path, small_state):
    """Restart of the alerts stream on the RocksDB provider with changelog
    checkpointing: the restart rebuilds state from snapshot + changelog
    replay, the production recovery path."""
    _alert_stream_restart(spark, firing_chunks_dir, tmp_path, rocksdb=True)


def test_r3_stateful_matches_batch(spark, sf_dir, entity_chunks_dir):
    """Streaming R3 (per-entity 2-min tag buffer in keyed state) emits
    exactly the batch r3_geo_device_eval rows on an in-order replay."""
    from pulseboard_spark.streaming.stateful import r3_stateful

    out, schema = entity_chunks_dir
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{out}/chunk=*")
    )
    q = (
        r3_stateful(stream)
        .writeStream.format("memory")
        .queryName("stream_r3")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {tuple(r) for r in spark.sql("SELECT * FROM stream_r3").collect()}
    want = {
        tuple(r)
        for r in rules.r3_geo_device_eval(entity_events(spark, sf_dir))
        .select(
            "event_id", "entity_id", "type", "profile", "ts_ms",
            "current_geo", "current_device", "geo_conflict", "device_conflict",
            "prev_geo", "prev_device", "n_conflicts",
        )
        .withColumn("severity", F.lit("MEDIUM"))
        .collect()
    }
    missing, extra = want - got, got - want
    assert not missing and not extra, f"missing={list(missing)[:3]} extra={list(extra)[:3]}"


def test_admission_observed_metrics(spark):
    """W2 late-vs-ontime counters ride the scan via observe() — no second
    pass.  Batch form uses Observation; streaming surfaces the same metrics
    in StreamingQueryProgress.observedMetrics."""
    from pyspark.sql import Observation
    from pulseboard_spark.streaming.pipeline import with_admission

    df = spark.createDataFrame(
        [(1,), (2,), (3,), (4,)], ["i"]
    ).select(
        F.col("i").cast("string").alias("event_id"),
        # rows 1-3 an hour in the past (late); row 4 an hour ahead (on time)
        F.when(
            F.col("i") < 4, F.current_timestamp() - F.expr("INTERVAL 1 HOUR")
        ).otherwise(F.current_timestamp() + F.expr("INTERVAL 1 HOUR")).alias("ts"),
    )
    obs = Observation("admission")
    out = with_admission(df, observation=obs)
    assert out.count() == 4
    got = obs.get
    assert got["n_admitted"] == 4
    assert got["n_late"] == 3


def test_scheduler_pool_sets_and_restores_property(spark, tmp_path):
    """scheduler_pool pins spark.scheduler.pool around start() and
    restores the previous value (nesting-safe); under the default FIFO
    scheduler the property is inert, so a query started inside a pool
    still runs to completion with correct output."""
    import json

    from pulseboard_spark.streaming.pipeline import scheduler_pool

    sc = spark.sparkContext
    assert sc.getLocalProperty("spark.scheduler.pool") is None
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.json").write_text("\n".join(json.dumps({"id": i % 3}) for i in range(30)))
    with scheduler_pool(spark, "outer"):
        assert sc.getLocalProperty("spark.scheduler.pool") == "outer"
        with scheduler_pool(spark, "pool_counts"):
            assert sc.getLocalProperty("spark.scheduler.pool") == "pool_counts"
            q = (
                spark.readStream.schema("id LONG").json(str(src))
                .groupBy("id").count()
                .writeStream.outputMode("complete")
                .format("memory").queryName("pool_counts_q")
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(120)
        assert sc.getLocalProperty("spark.scheduler.pool") == "outer"
    assert sc.getLocalProperty("spark.scheduler.pool") is None
    got = {r["id"]: r["count"] for r in spark.sql("SELECT * FROM pool_counts_q").collect()}
    assert got == {0: 10, 1: 10, 2: 10}


def test_sized_session_binds_state_partitions(spark, tmp_path):
    """sized_session pins a PER-QUERY state-store partition count (the
    measured latency dial, SCALE.md): two stateful queries started from
    differently-sized clones bind 3- and 8-partition state stores — the
    checkpoint's state/0/ layout is the ground truth Spark itself replays
    from — while the parent session's conf stays untouched and a
    concurrent query on the parent still binds the parent's count."""
    import json

    from pulseboard_spark.streaming.pipeline import sized_session

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.json").write_text(
        "\n".join(json.dumps({"id": i % 5}) for i in range(50))
    )
    parent_before = spark.conf.get("spark.sql.shuffle.partitions")

    def run(session, n, tag):
        ckpt = tmp_path / f"ckpt_{tag}"
        q = (
            session.readStream.schema("id LONG").json(str(src))
            .groupBy("id").count()
            .writeStream.outputMode("update").format("noop")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        # availableNow must finish; a False return would mean we'd count a
        # partially-written state/0/ layout and fail confusingly downstream
        assert q.awaitTermination(120), "availableNow query did not finish in 120s"
        # state/0/ holds one numeric dir per state partition plus _metadata
        return sum(
            1 for p in (ckpt / "state" / "0").iterdir()
            if p.is_dir() and p.name.isdigit()
        )

    assert run(sized_session(spark, 3), 3, "s3") == 3
    assert run(sized_session(spark, 8), 8, "s8") == 8
    assert spark.conf.get("spark.sql.shuffle.partitions") == parent_before
    assert run(spark, None, "parent") == int(parent_before)


def test_profile_upsert_writer_merges_latest(spark, tmp_path, monkeypatch):
    """Bucketed parquet UPSERT: later batches overwrite only touched
    buckets; the store converges to the latest row per profile."""
    from pulseboard_spark.streaming import pipeline
    from pulseboard_spark.streaming.pipeline import profile_upsert_writer

    monkeypatch.setattr(pipeline, "PROFILE_STORE_BUCKETS", 4)
    store = str(tmp_path / "profiles")
    writer = profile_upsert_writer(store)
    b1 = spark.createDataFrame(
        [("p1", 100, "basic"), ("p2", 100, "basic"), ("p3", 100, "pro")],
        "profile_id string, ts_ms long, plan string",
    )
    writer(b1, 0)
    b2 = spark.createDataFrame(
        [("p1", 200, "pro"), ("p4", 150, "basic")],
        "profile_id string, ts_ms long, plan string",
    )
    writer(b2, 1)
    got = {
        r.profile_id: (r.ts_ms, r.plan)
        for r in spark.read.parquet(store).collect()
    }
    assert got == {
        "p1": (200, "pro"),     # upserted by batch 2
        "p2": (100, "basic"),   # untouched bucket survives
        "p3": (100, "pro"),
        "p4": (150, "basic"),   # inserted by batch 2
    }
    # replaying batch 2 (at-least-once redelivery) changes nothing
    writer(b2, 1)
    again = {
        r.profile_id: (r.ts_ms, r.plan)
        for r in spark.read.parquet(store).collect()
    }
    assert again == got


def test_profile_upsert_writer_keeps_session_conf(spark, tmp_path):
    """The dynamic partition overwrite is an option of the writer's own
    write: the session's ``partitionOverwriteMode`` reads the same before
    and after a call, so later overwrites in the session keep theirs."""
    from pulseboard_spark.streaming.pipeline import profile_upsert_writer

    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(key)  # Spark's default, STATIC
    writer = profile_upsert_writer(str(tmp_path / "profiles_conf"))
    writer(spark.createDataFrame([("p1", 100, "basic")], "profile_id string, ts_ms long, plan string"), 0)
    assert spark.conf.get(key) == "STATIC"


def test_profile_upsert_tie_breaks_to_batch(spark, tmp_path, monkeypatch):
    """Equal order-column values: the incoming batch row must win, not a
    nondeterministic pick."""
    from pulseboard_spark.streaming import pipeline
    from pulseboard_spark.streaming.pipeline import profile_upsert_writer

    monkeypatch.setattr(pipeline, "PROFILE_STORE_BUCKETS", 2)
    store = str(tmp_path / "profiles_tie")
    writer = profile_upsert_writer(store)
    writer(spark.createDataFrame([("p1", 100, "basic")], "profile_id string, ts_ms long, plan string"), 0)
    writer(spark.createDataFrame([("p1", 100, "pro")], "profile_id string, ts_ms long, plan string"), 1)
    rows = spark.read.parquet(store).collect()
    assert len(rows) == 1 and rows[0].plan == "pro"
