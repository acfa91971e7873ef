"""SQL surface: expose the engine through ``spark.sql``.

The reference has no query language at all — its "queries" are compiled-in
dataflows (SURVEY §3).  This engine's operators are declarative
DataFrames, so a SQL face costs nothing: register the testdata tables and
the derived event views once, and every capability is reachable from
plain SQL; register the query registry too and each declared operator
becomes a named view a BI tool or notebook can select from.

Views are lazy — registration plans nothing and executes nothing (the one
exception is the identity-component cache that CDP-family queries share,
which is checkpointed on first use, not at registration).  Queries whose
*plan construction* itself runs Spark jobs (iterative trainers, IVF index
builds) would break that contract, so they are excluded from the default
registration set (:data:`EAGER_QUERIES`) — pass their names explicitly to
opt in.
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


#: Queries that execute Spark jobs while BUILDING their plan (iterative
#: trainers, IVF/PQ index construction, limit-probe guards — driver-looped
#: by nature).  They violate the "registration plans nothing" contract, so
#: the default registration sweep skips them; registering one by name opts
#: in.  Deliberately NOT listed: queries that merely consume the registry's
#: memoized session silvers (identity components, the verified near-dup
#: pair graph — `registry._COMP_CACHE`/`_PAIR_CACHE`), which localCheckpoint
#: once per (session, sf_dir) on first build.  Those one-off jobs are the
#: materialized-silver posture (README "Session-cached silvers"), amortized
#: across every consumer, and registering their views is how a SQL user
#: gets the shared silver at all; a sweep pays each silver once, same as
#: the first query against it would.
EAGER_QUERIES = frozenset(
    {
        "bpe_learned_merges",
        "hard_negatives",
        "ivf_topk",
        "similarity_topk",
        "knn_label_agreement",
        "dedup_embedding",
        # _index_too_big runs a limit-probe count job during plan construction
        "embedding_decontamination",
        # rfm's routing size probe runs one memoized count job on first
        # construction per session
        "rfm_scores",
        # runs the bpe_train driver loop at plan time
        "bpe_encode",
        # power iteration localCheckpoints each superstep at build time
        "identity_pagerank",
        # run a prior-slice CC fixpoint (probe collect + checkpoints)
        # while building the merge plan
        "identity_components_incremental",
        "dedup_clusters_incremental",
        # PQ codebook training runs Lloyd-round jobs at plan time (and
        # pq_topk additionally limit-probes + collects the query slice)
        "pq_codes",
        "pq_topk_rerank",
        # collects the d x d Gram partials and eigensolves at plan time
        "embedding_pca",
        # runs three CC fixpoints (checkpointed rounds) at plan time
        "dedup_threshold_sweep",
    }
)


def register_queries(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> list[str]:
    """Register declared queries as temp views named after their registry
    key (``spark.sql("SELECT * FROM r1_velocity_spike")``).  Returns the
    registered names.  With ``names=None`` the sweep skips
    :data:`EAGER_QUERIES` so registration stays plan-only."""
    from pulseboard_spark.registry import QUERIES

    tune(spark)
    picked = (
        [n for n in QUERIES if n not in EAGER_QUERIES] if names is None else names
    )
    for name in picked:
        QUERIES[name](spark, sf_dir).createOrReplaceTempView(name)
    return picked


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """One-call SQL entry point over the registered tables/views."""
    register_tables(spark, sf_dir)
    return spark.sql(query)
