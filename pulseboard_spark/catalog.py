"""SQL surface: expose the engine through ``spark.sql``.

The reference has no query language at all — its "queries" are compiled-in
dataflows (SURVEY §3).  This engine's operators are declarative
DataFrames, so a SQL face costs nothing: register the testdata tables and
the derived event views once, and every capability is reachable from
plain SQL; register the query registry too and each declared operator
becomes a named view a BI tool or notebook can select from.

Views are lazy: registering one executes nothing of the query itself.
Building a view's plan may run jobs once per session for the artifacts
the session memo keeps (:func:`session.memo`: silvers, the identity
components checkpoint, size probes, broadcast indexes, PQ
codebooks); every later build reuses them.  Queries whose EVERY build runs
jobs (:data:`registry._CONSTRUCTION_COMPUTE`: driver-loop trainers,
per-call index builds) are skipped by the registration sweep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pulseboard_spark.session import tune
from pulseboard_spark.sources.tables import cdp_events, entity_events, load_table

#: raw driver tables (TESTDATA.md)
TABLES = (
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
)


def register_tables(spark: SparkSession, sf_dir: str) -> None:
    """Register the raw tables plus the two derived event views
    (``entity``: typed entity events with geo/device tags; ``cdp``: the
    CDP ingest stream shape) as temp views."""
    tune(spark)
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    entity_events(spark, sf_dir).createOrReplaceTempView("entity")
    cdp_events(spark, sf_dir).createOrReplaceTempView("cdp")


def register_queries(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register declared queries as temp views named after their registry
    key (``spark.sql("SELECT * FROM r1_velocity_spike")``).  Returns the
    registered names.  The sweep skips
    :data:`registry._CONSTRUCTION_COMPUTE`, whose every build runs jobs."""
    from pulseboard_spark.registry import _CONSTRUCTION_COMPUTE, QUERIES

    tune(spark)
    picked = [n for n in QUERIES if n not in _CONSTRUCTION_COMPUTE]
    for name in picked:
        QUERIES[name](spark, sf_dir).createOrReplaceTempView(name)
    return picked


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """One-call SQL entry point over the registered tables/views."""
    register_tables(spark, sf_dir)
    return spark.sql(query)
