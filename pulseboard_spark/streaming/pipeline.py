"""Streaming sources/sinks and end-to-end pipeline wiring (SURVEY §2.1).

Maps the reference's transports onto Structured Streaming:

  S1/S2 Kafka sources  → ``readStream.format("kafka")`` + ``from_json``
         (`transport/KafkaEntityEventTransport.kt:60-84`, KafkaCdpEventTransport)
  S3     Kafka sinks   → ``to_json(struct(...))`` keyed by entity/CDP key
         (`KafkaEntityEventTransport.kt:35-54`; key() = coalesce(user, anon,
         event_id), `cdp/model/CdpEvent.kt:28-30`)
  S4     in-memory bus → file/rate/memory sources for tests; backpressure =
         ``maxOffsetsPerTrigger`` (lossless, replacing DROP_OLDEST — W9)
  W1     dedup         → ``dropDuplicatesWithinWatermark`` on event_id
  W2     admission     → ``withWatermark(ts, 120s)`` drop tier; the 5 s
         processing tier is the trigger interval
  W4     ticker        → ``trigger(processingTime="1 second")``

No Kafka broker ships in this container, so the Kafka paths are wired but
exercised only through their file-source twins; the transformations in
between are source-agnostic DataFrame ops.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

ENTITY_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField(
            "payload",
            T.StructType(
                [
                    T.StructField("entityId", T.StringType()),
                    T.StructField("profile", T.StringType()),
                    T.StructField("type", T.StringType()),
                    T.StructField("value", T.LongType()),
                    T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
                ]
            ),
        ),
    ]
)

CDP_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("eventId", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField(
            "payload",
            T.StructType(
                [
                    T.StructField("type", T.StringType()),
                    T.StructField("anonymousId", T.StringType()),
                    T.StructField("userId", T.StringType()),
                    T.StructField("email", T.StringType()),
                    T.StructField("name", T.StringType()),
                    T.StructField("properties", T.MapType(T.StringType(), T.StringType())),
                    T.StructField("traits", T.MapType(T.StringType(), T.StringType())),
                ]
            ),
        ),
    ]
)


def kafka_entity_source(
    spark: SparkSession,
    brokers: str,
    topic: str = "entity-events",
    starting_offsets: str = "latest",
) -> DataFrame:
    """S1: JSON entity events from Kafka, flattened to the engine's entity
    view columns.  Kafka partitioning by entityId is preserved at the scan;
    the first shuffle happens only at the keyed stateful op."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    parsed = raw.select(F.from_json(F.col("value").cast("string"), ENTITY_EVENT_SCHEMA).alias("e"))
    return parsed.select(
        F.col("e.event_id").alias("event_id"),
        F.col("e.ts").alias("ts"),
        F.unix_micros("e.ts").alias("ts_us"),
        F.unix_millis("e.ts").alias("ts_ms"),
        F.col("e.payload.entityId").alias("entity_id"),
        F.col("e.payload.profile").alias("profile"),
        F.col("e.payload.type").alias("type"),
        F.col("e.payload.value").cast("double").alias("value"),
        F.col("e.payload.tags").alias("tags"),
    )


def alert_kafka_payload(alerts: DataFrame) -> DataFrame:
    """S3 keying contract, exposed for broker-free tests: alerts as JSON
    keyed by entity_id (reference keying — `KafkaEntityEventTransport.kt:37`)
    so one entity's alerts preserve partition order."""
    return alerts.select(
        F.col("entity_id").alias("key"),
        F.to_json(F.struct(*alerts.columns)).alias("value"),
    )


def kafka_alert_sink(alerts: DataFrame, brokers: str, topic: str = "alerts", checkpoint: str = "/tmp/pb_ckpt_alerts"):
    """S3: alerts to Kafka with :func:`alert_kafka_payload` keying."""
    payload = alert_kafka_payload(alerts)
    return (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime="1 second")
        .start()
    )


def kafka_cdp_source(
    spark: SparkSession,
    brokers: str,
    topic: str = "cdp-events",
    starting_offsets: str = "latest",
) -> DataFrame:
    """S2: JSON CDP events from Kafka, flattened to the engine's raw CDP view
    (`transport/KafkaCdpEventTransport.kt:60-84`).  Identifier normalization
    and validation happen downstream (operators/identity.py) so the source
    stays a pure parse."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    parsed = raw.select(F.from_json(F.col("value").cast("string"), CDP_EVENT_SCHEMA).alias("e"))
    return parsed.select(
        F.col("e.eventId").alias("event_id"),
        F.col("e.ts").alias("ts"),
        F.unix_micros("e.ts").alias("ts_us"),
        F.unix_millis("e.ts").alias("ts_ms"),
        F.col("e.payload.type").alias("ctype"),
        F.col("e.payload.userId").alias("user_id_raw"),
        F.col("e.payload.anonymousId").alias("anon_id_raw"),
        F.col("e.payload.email").alias("email_raw"),
        F.col("e.payload.name").alias("name"),
        F.col("e.payload.traits").getItem("plan").alias("plan"),
        F.col("e.payload.traits").getItem("country").alias("country"),
    )


def cdp_kafka_payload(events: DataFrame) -> DataFrame:
    """S3 (CDP side) keying contract, exposed for broker-free tests: JSON
    keyed by the reference's partition key
    ``coalesce(userId, anonymousId, eventId)`` (`cdp/model/CdpEvent.kt:28-30`)
    — same-key events land on one Kafka partition, preserving per-profile
    arrival order into the consumer."""
    return events.select(
        F.coalesce(F.col("user_id_raw"), F.col("anon_id_raw"), F.col("event_id")).alias("key"),
        F.to_json(F.struct(*events.columns)).alias("value"),
    )


def kafka_cdp_sink(events: DataFrame, brokers: str, topic: str = "cdp-events", checkpoint: str = "/tmp/pb_ckpt_cdp"):
    """S3 (CDP side): CDP events to Kafka with :func:`cdp_kafka_payload`
    keying."""
    payload = cdp_kafka_payload(events)
    return (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime="1 second")
        .start()
    )


def entity_alert_stream(events: DataFrame) -> DataFrame:
    """§3.1 end-to-end streaming shape: admission (W2) → dedup (W1) →
    per-event stateful rule evaluation (W5) over any entity-event stream
    (Kafka, file, memory).  Returns the alert stream; attach a sink with
    ``.writeStream`` (Kafka via :func:`kafka_alert_sink`)."""
    from pulseboard_spark.streaming.stateful import alert_rules_stateful

    # W1: duplicate event_ids dropped within the watermark's TTL
    # (`CdpEventProcessor.kt:181-187`; the reference's cache TTL)
    prepared = (
        with_admission(events).dropDuplicatesWithinWatermark(["event_id"]).drop("is_late")
    )
    return alert_rules_stateful(prepared, set_watermark=False)


class CdpIdentityStage:
    """§3.2 orchestration: incremental identity resolution as a
    ``foreachBatch`` stage — "identity edges stream → periodic connected
    components → join event→canonical" (SURVEY §3.2 Spark shape; §4.2
    custom item 3).

    Per micro-batch: (1) validate+normalize the raw CDP rows; (2) fold the
    batch's identifiers and edges into the previous component map with
    :func:`~pulseboard_spark.operators.identity.merge_components` (the
    first batch builds it with ``components_for``) — no edge history is
    kept, the map is connectivity-complete; (3) materialize the new map
    and overwrite the stored one (it was read from the path the write
    replaces, so it is checkpointed first: the write must never read the
    files it deletes); (4) resolve the batch's events against the map
    **as of this batch**
    (apply-time resolution — SURVEY §3.2 pins this semantics; an ALIAS in a
    later batch does NOT rewrite earlier events' profiles, reproducing the
    reference's orphaned-profile behavior, `docs/cdp/README.md:85-126`) and
    append them to the resolved-events table, which feeds the downstream
    stateful profile/segment stage as a file stream.

    State lives in parquet dirs (a stand-in for Delta tables at
    production): ``{workdir}/components``, ``{workdir}/resolved``.
    """

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.comp_dir = f"{workdir}/components"
        self.resolved_dir = f"{workdir}/resolved"
        self._have_state = False

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from pulseboard_spark.operators.identity import (
            components_for,
            identity_edges,
            identity_nodes,
            merge_components,
            resolve_profiles,
            valid_cdp_events,
        )

        cvalid = valid_cdp_events(batch_df).localCheckpoint()
        if self._have_state:
            prev = self.spark.read.parquet(self.comp_dir)
            comp = merge_components(prev, identity_nodes(cvalid), identity_edges(cvalid))
        else:
            comp = components_for(cvalid)
        comp = comp.localCheckpoint()
        comp.write.mode("overwrite").parquet(self.comp_dir)
        self._have_state = True

        resolve_profiles(cvalid, comp).write.mode("append").parquet(self.resolved_dir)

    def components(self) -> DataFrame:
        return self.spark.read.parquet(self.comp_dir)

    def resolved(self) -> DataFrame:
        return self.spark.read.parquet(self.resolved_dir)


#: Event-time watermark delay of the admission tier, so W1's dedup TTL,
#: and of every keyed operator in ``stateful.py`` but reengage.
WATERMARK_DELAY = "120 seconds"


def with_admission(events: DataFrame, observation=None) -> DataFrame:
    """W2: late-event admission — the ``WATERMARK_DELAY`` watermark gives the drop tier; an
    is_late tag (event older than 5 s against the micro-batch clock) feeds
    the late-vs-ontime metrics the reference tracks
    (`CdpEventProcessor.kt:177-230`).

    ``observation`` surfaces those metrics without a second pass over the
    stream: pass a ``pyspark.sql.Observation`` (batch) or a string name
    (streaming — metrics arrive per micro-batch in
    ``StreamingQueryProgress.observedMetrics``).  ``observe()`` piggybacks
    accumulator-style on the existing scan, so the counters are free — no
    extra aggregation job, no second read (the reference keeps these
    counters on its single-threaded ingest loop; here they survive
    distribution)."""
    out = events.withWatermark("ts", WATERMARK_DELAY).withColumn(
        "is_late", F.col("ts") < F.current_timestamp() - F.expr("INTERVAL 5 SECONDS")
    )
    if observation is not None:
        out = out.observe(
            observation,
            F.count(F.lit(1)).alias("n_admitted"),
            F.sum(F.col("is_late").cast("long")).alias("n_late"),
        )
    return out


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def sized_session(spark: SparkSession, state_partitions: int) -> SparkSession:
    """Per-query state-partition sizing — the measured latency dial
    (SCALE.md "The latency dial, measured").

    A stateful query's state-store partition count binds to
    ``spark.sql.shuffle.partitions`` at its FIRST start and is pinned by
    the checkpoint thereafter, so the count is a per-query deployment
    decision, not a global conf.  Measured on the concurrent three-query
    shape: profile-grained queries (~7 active key-groups per batch) drop
    from p95 ≈5 s to 1.8 s at 8 partitions — their floor at 32 was pure
    task-scheduling overhead over empty partitions — while the rules
    query (thousands of (entity, type) groups per batch) needs the
    parallelism and degrades 4.9 s → 9.1 s if starved.  Rule: size each
    query's count to its active-group count per batch.

    Round-8 caveat (SCALE.md "Tuned visibility latency"): under
    CO-RESIDENCY this dial alone does not move p95 — a busy co-resident's
    task flood queues the small queries' batches in the FIFO scheduler
    regardless of their own partition count.  Pair it with
    :func:`scheduler_pool` on a FAIR-mode context; the two dials together
    are the measured recipe (profiles/segments p95 8.6 s → 3.3-3.5 s).

    A cloned session (shared SparkContext and tables, isolated SQL conf)
    lets concurrently-started queries bind different counts without
    racing a mutation of the parent's conf.  Build the query's SOURCE
    from the returned session — a DataFrame is bound to the session that
    created it, and a plan built on the parent would bind the parent's
    count.
    """
    from pulseboard_spark.session import tune

    s = spark.newSession()
    tune(s)  # re-apply runtime confs; a fresh session starts from builder defaults
    s.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    return s


@contextmanager
def scheduler_pool(spark: SparkSession, pool: str):
    """Pin queries started inside the block to a FAIR scheduler pool —
    the co-residency dial that `sized_session` alone cannot turn.

    Round-8 measurement (SCALE.md "Tuned visibility latency"): with the
    three stateful pipelines co-resident, per-query partition sizing
    barely moved p95 visibility because the rules query's 32-partition
    task flood queued the small queries' batches behind it (FIFO).  With
    the context started in FAIR mode (``get_spark(fair=True)`` /
    ``spark.scheduler.mode=FAIR``) and one on-demand pool per query,
    profile/segment p95 dropped ~8.6 s → ~3 s and alerts improved too —
    no query's burst starves another's latency floor.

    Mechanics: ``spark.scheduler.pool`` is a thread-local property; the
    microbatch thread created inside ``start()`` inherits it, so set it
    around the ``start()`` call.  Pools are created on demand (weight 1,
    FIFO within) — no allocation file needed.  Under the default FIFO
    scheduler the property is inert, so the helper is safe everywhere.
    """
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.scheduler.pool")
    sc.setLocalProperty("spark.scheduler.pool", pool)
    try:
        yield spark
    finally:
        sc.setLocalProperty("spark.scheduler.pool", prev)


def use_rocksdb_state(spark: SparkSession) -> None:
    """Switch stateful streaming queries to the RocksDB state store
    (SURVEY §7.1 step 8).  The default HDFS-backed provider keeps every
    key in executor heap — fine for the reference's single-node scale,
    fatal at 100 TB where dedup/session/profile state is billions of keys.
    RocksDB spills state to local SSD, bounds heap to the block cache, and
    with changelog checkpointing ships per-batch deltas instead of full
    SST snapshots.  Applies to queries STARTED after this call (provider
    is pinned per checkpoint at query start)."""
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true"
    )


#: Directory partitions of the :func:`profile_upsert_writer` store.
PROFILE_STORE_BUCKETS = 16


def profile_upsert_writer(base_path: str):
    """``foreachBatch`` UPSERT into a hash-bucketed parquet profile store —
    the MERGE-into-table pattern (SURVEY §7.1 step 6) without a table
    format: profiles hash on ``profile_id`` into ``PROFILE_STORE_BUCKETS``
    directory partitions, and each micro-batch rewrites ONLY the buckets
    it touches (dynamic partition overwrite), merging old ∪ new and
    keeping the latest row per profile by ``ts_ms``.

    Scale shape: per batch, work is proportional to touched buckets, not
    store size — a batch touching k profiles reads/rewrites at most
    min(k, buckets) buckets.  Size the buckets so one bucket ≈ one
    comfortable task (store_rows / buckets rows).  The merged result is
    localCheckpointed before the overwrite so Spark never overwrites a
    path it is still reading.

    Use: ``profiles.writeStream.foreachBatch(profile_upsert_writer(path))``.
    """

    from pyspark.errors import AnalysisException

    n_buckets = PROFILE_STORE_BUCKETS

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return  # nothing to upsert — and never create an empty store dir
        spark = batch_df.sparkSession
        bucket = F.pmod(F.xxhash64(F.col("profile_id").cast("string")), F.lit(n_buckets))
        batch = batch_df.withColumn("_bucket", bucket).withColumn("_src", F.lit(1))
        try:
            existing = spark.read.parquet(base_path).withColumn("_src", F.lit(0))
        except AnalysisException as exc:
            # ONLY a missing or still-empty store means "first batch"; any
            # other read failure (transient FS error, corrupt footer,
            # permissions) must abort the batch — treating it as empty
            # would overwrite touched buckets with batch-only rows and
            # silently lose data
            msg = str(exc)
            if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
                existing = None
            elif "UNABLE_TO_INFER_SCHEMA" in msg:
                # schema inference also fails when a store WITH data merely
                # lists zero files transiently (flaky object-store listing)
                # — recover only after the filesystem itself confirms the
                # directory holds no data files at all
                jvm = spark._jvm
                pathj = jvm.org.apache.hadoop.fs.Path(base_path)
                fs = pathj.getFileSystem(spark._jsc.hadoopConfiguration())
                files = fs.listFiles(pathj, True)
                while files.hasNext():
                    name = files.next().getPath().getName()
                    if not name.startswith(("_", ".")):
                        raise  # data exists but was unreadable — abort, don't overwrite
                existing = None
            else:
                raise
        if existing is not None:
            touched = [r[0] for r in batch.select("_bucket").distinct().collect()]
            merged = batch.unionByName(
                existing.filter(F.col("_bucket").isin(touched))
            )
        else:
            merged = batch
        # tie-break: on equal ts_ms the BATCH row wins (an update
        # carrying the same event time as the stored row must not
        # nondeterministically keep the stale value)
        w = Window.partitionBy("profile_id").orderBy(F.desc("ts_ms"), F.desc("_src"))
        latest = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_src")
            .localCheckpoint()  # sever the read-from-base lineage pre-overwrite
        )
        # dynamic overwrite on this write only: the batch's session keeps
        # its own partitionOverwriteMode for every other write
        (
            latest.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_bucket")
            .parquet(base_path)
        )

    return write
