"""Table loaders and derived event views over the driver testdata.

The driver ships TPC-H-ish tables plus an ``events`` stream table
(`/root/testdata/sf*/...parquet`).  The reference engine's inputs are
``EntityEvent`` (anomaly rules; `/root/reference/backend/src/main/kotlin/com/
pulseboard/core/EntityEvent.kt:5-17`) and ``CdpEvent``
(`cdp/model/CdpEvent.kt:10-18`); neither exists verbatim in the testdata, so
we derive both *deterministically* from ``events`` with pure column
expressions.  The DuckDB oracle (pulseboard_spark/oracle) applies the exact
same derivation in SQL, so the derivation itself is covered by the
correctness gate.

Derivation contract (mirrored in oracle/sql.py — keep in sync):

entity_events (EntityEvent analogue):
    entity_id = CAST(user_id AS STRING)
    profile   = 'SASE' if user_id % 2 = 0 else 'IGAMING'
    type      = event_type
    value     = value (DOUBLE; the reference uses Long — testdata is
                double-valued, rule arithmetic is identical)
    k         = CAST(regexp_extract(props, '([0-9]+)', 1) AS INT)
    geo       = ['US','UK','DE','FR','CA'][(k + user_id) % 5]
    device    = ['desktop','mobile','tablet'][k % 3]
    ts_us/ts_ms = epoch micros/millis of ts

cdp_events (CdpEvent analogue; reference types IDENTIFY/TRACK/ALIAS only —
`cdp/model/CdpEvent.kt:63-67`):
    ctype    = signup→IDENTIFY, purchase→ALIAS, else TRACK
    user_id_raw  = 'u'||user_id          (IDENTIFY, ALIAS, TRACK when k%4!=0)
    anon_id_raw  = 'anon'||(user_id%7)   (ALIAS always; IDENTIFY when k%2=0;
                                          TRACK when k%4=0)
    email_raw    = 'U'||user_id||'@Example.COM'  (IDENTIFY only; mixed case
                                          exercises normalization F1)
    name     = TRACK only: NULL when k%11=0 (invalid row → validation
               reject), else ['Feature Used','Sign In','Checkout'][k%3]
    plan     = IDENTIFY only: 'pro' if k%2=0 else 'basic'
    country  = IDENTIFY only: ['US','UK','DE','FR','CA','AU','JP'][k%7]
    duplicate rows: events with k%20=0 are emitted twice with the same
               event_id (exercises W1 dedup; reference injects ~5% dups,
               `ingest/Simulator.kt:392-407`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulseboard_spark.session import memo, tune

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

GEOS = ["US", "UK", "DE", "FR", "CA"]
DEVICES = ["desktop", "mobile", "tablet"]
TRACK_NAMES = ["Feature Used", "Sign In", "Checkout"]
COUNTRIES = ["US", "UK", "DE", "FR", "CA", "AU", "JP"]


def _path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Guarded parallelism fix for degenerate inputs: the driver testdata is
    one single-row-group parquet file per table, which Spark cannot split —
    every downstream map-side stage (shingle explode, Arrow kernels) would
    run on ONE core.  If the scan yields far fewer partitions than the
    cluster has slots, round-robin repartition once.  On a real deployment
    (files ≫ cores) the guard never fires and the scan keeps its pushdown
    and locality."""
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(par // 2, 1):
        return df.repartition(par)
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load ``events`` normalizing ``ts`` to a session-TZ TIMESTAMP.

    The driver has shipped this column two ways across testdata
    generations: TIMESTAMP(NANOS) (scanned as a long via
    ``spark.sql.legacy.parquet.nanosAsLong`` and truncated to micros) and
    TIMESTAMP(MICROS) without timezone (scanned as TIMESTAMP_NTZ).  Both
    are naive UTC wall-clocks; with the session timezone pinned to UTC the
    NTZ→LTZ cast is instant-preserving, and DuckDB reading the same file
    sees identical values either way.
    """
    tune(spark)

    def build() -> DataFrame:
        df = spark.read.parquet(_path(sf_dir, "events"))
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            # Integer division: epoch-ns exceeds 2^53, float division would
            # corrupt the low-order micros.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return _spread(spark, df)

    return memo(spark, sf_dir, "events", build)


#: Tables whose downstream work is per-row heavy (explodes, Arrow kernels,
#: window scans) and therefore worth the one-time spread; the relational
#: TPC-H tables go straight to hash/sort aggregation where AQE already
#: balances, and an extra exchange only hurts.
_SPREAD_TABLES = {"events", "documents", "embeddings"}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune(spark)
    if name == "events":
        return load_events(spark, sf_dir)

    def build() -> DataFrame:
        df = spark.read.parquet(_path(sf_dir, name))
        return _spread(spark, df) if name in _SPREAD_TABLES else df

    return memo(spark, sf_dir, name, build)


def _k():
    return F.regexp_extract(F.col("props"), r"([0-9]+)", 1).cast("int")


def _pick(arr, idx):
    """``element_at`` with SQL NULL-index semantics.  Spark 4.1's
    ``element_at(arr, NULL)`` returns the LAST array element, not NULL
    (the plan shows the 4-arg ``element_at(..., None, true)`` form), so a
    NULL ``k`` silently tagged every event 'CA'/'tablet' while DuckDB's
    ``arr[NULL]`` is NULL — found by the oracle-fuzz nulls profile.
    NULL index → NULL tag, matching the oracle."""
    return F.when(idx.isNotNull(), F.element_at(arr, idx))


def entity_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EntityEvent view: the anomaly-rule input stream.

    Columns: event_id, ts, ts_us, ts_ms, entity_id, profile, type, value,
    geo, device.  See module docstring for the contract.

    Validation gate (P1 analog for entity events): the reference's
    ``EntityEvent`` declares entityId/type/ts non-nullable
    (`core/EntityEvent.kt:5-17`), so source rows missing user_id,
    event_type, or ts are not valid entity events and are dropped here —
    mirrored in the oracle's ENT_CTE.  ``value`` and the props-derived
    tags stay nullable (null-value skip is rule semantics P3; a missing
    tag is a NULL geo/device).  Before this gate the two engines
    diverged on NULL keys under the randomized-input fuzz
    (tools/probes/oracle_fuzz.py, nulls profile).
    """
    return memo(
        spark, sf_dir, "entity_events_view", lambda: _entity_events_build(spark, sf_dir)
    )


def _entity_events_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).filter(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
    )
    k = _k()
    geo = _pick(F.array(*[F.lit(g) for g in GEOS]), ((k + F.col("user_id")) % 5 + 1).cast("int"))
    device = _pick(F.array(*[F.lit(d) for d in DEVICES]), (k % 3 + 1).cast("int"))
    return ev.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("ts"),
        F.unix_micros("ts").alias("ts_us"),
        F.unix_millis("ts").alias("ts_ms"),
        F.col("user_id").cast("string").alias("entity_id"),
        F.when(F.col("user_id") % 2 == 0, F.lit("SASE")).otherwise(F.lit("IGAMING")).alias("profile"),
        F.col("event_type").alias("type"),
        F.col("value"),
        geo.alias("geo"),
        device.alias("device"),
    )


def cdp_events(spark: SparkSession, sf_dir: str, with_duplicates: bool = True) -> DataFrame:
    """CdpEvent view: the CDP pipeline input stream (raw, pre-validation).

    Columns: event_id (string), ts, ts_us, ts_ms, ctype, user_id_raw,
    anon_id_raw, email_raw, name, plan, country, traits_json,
    properties_json (JSON strings holding the Any-typed trait/property
    maps at full fidelity — the typed columns are the projection).
    """
    return memo(
        spark,
        sf_dir,
        f"cdp_events_view:dups={with_duplicates}",
        lambda: _cdp_events_build(spark, sf_dir, with_duplicates),
    )


def _cdp_events_build(spark: SparkSession, sf_dir: str, with_duplicates: bool) -> DataFrame:
    ev = load_events(spark, sf_dir)
    k = _k()
    ctype = (
        F.when(F.col("event_type") == "signup", F.lit("IDENTIFY"))
        .when(F.col("event_type") == "purchase", F.lit("ALIAS"))
        .otherwise(F.lit("TRACK"))
    )
    base = ev.select(
        F.concat(F.lit("e"), F.col("event_id").cast("string")).alias("event_id"),
        F.col("ts"),
        F.unix_micros("ts").alias("ts_us"),
        F.unix_millis("ts").alias("ts_ms"),
        ctype.alias("ctype"),
        F.col("user_id"),
        k.alias("k"),
    )
    user_raw = F.concat(F.lit("u"), F.col("user_id").cast("string"))
    anon_raw = F.concat(F.lit("anon"), (F.col("user_id") % 7).cast("string"))
    email_raw = F.concat(F.lit("U"), F.col("user_id").cast("string"), F.lit("@Example.COM"))
    name = F.when(
        (F.col("ctype") == "TRACK") & (F.col("k") % 11 != 0),
        _pick(F.array(*[F.lit(n) for n in TRACK_NAMES]), (F.col("k") % 3 + 1).cast("int")),
    )
    shaped = base.select(
        "event_id",
        "ts",
        "ts_us",
        "ts_ms",
        "ctype",
        F.when(
            (F.col("ctype") != "TRACK") | (F.col("k") % 4 != 0), user_raw
        ).alias("user_id_raw"),
        F.when(
            (F.col("ctype") == "ALIAS")
            | ((F.col("ctype") == "IDENTIFY") & (F.col("k") % 2 == 0))
            | ((F.col("ctype") == "TRACK") & (F.col("k") % 4 == 0)),
            anon_raw,
        ).alias("anon_id_raw"),
        F.when(F.col("ctype") == "IDENTIFY", email_raw).alias("email_raw"),
        name.alias("name"),
        F.when(
            F.col("ctype") == "IDENTIFY",
            F.when(F.col("k") % 2 == 0, F.lit("pro")).otherwise(F.lit("basic")),
        ).alias("plan"),
        F.when(
            F.col("ctype") == "IDENTIFY",
            _pick(F.array(*[F.lit(c) for c in COUNTRIES]), (F.col("k") % 7 + 1).cast("int")),
        ).alias("country"),
        # Full-fidelity Any-typed traits/properties (SURVEY §1.2 commitment,
        # mirroring the reference's Map<String,Any?> on CdpEvent): the typed
        # columns above carry only the string traits; these JSON columns
        # carry heterogeneous types (string/int/bool) that a user's custom
        # traits would have.  Values derive from k so the DuckDB oracle can
        # reproduce the PARSED values arithmetically — the JSON text itself
        # never reaches a hash boundary.
        F.when(
            F.col("ctype") == "IDENTIFY",
            F.to_json(
                F.struct(
                    F.when(F.col("k") % 2 == 0, F.lit("pro")).otherwise(F.lit("basic")).alias("plan"),
                    _pick(
                        F.array(*[F.lit(c) for c in COUNTRIES]), (F.col("k") % 7 + 1).cast("int")
                    ).alias("country"),
                    (F.lit(18) + F.col("k") % 60).cast("int").alias("age"),
                    (F.col("k") % 5 == 0).alias("vip"),
                )
            ),
        ).alias("traits_json"),
        F.when(
            F.col("ctype") == "TRACK",
            F.to_json(
                F.struct(
                    (F.col("k") % 10).cast("int").alias("step"),
                    (F.col("k") % 3 == 0).alias("replay"),
                )
            ),
        ).alias("properties_json"),
        F.col("k"),
    )
    if with_duplicates:
        dups = shaped.filter(F.col("k") % 20 == 0)
        shaped = shaped.unionByName(dups)
    return shaped
