"""SparkSession construction and runtime tuning.

Every public query entry point calls :func:`tune` on whatever session it is
handed (the correctness driver owns its own session), so all settings here
must be *runtime-settable* SQL confs, not static Spark confs.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import DataFrame, SparkSession

# The python-worker DAEMON (spawned by the executor with the process env,
# BEFORE any addPyFile path exists on its sys.path) must be able to import
# pulseboard_spark.daemon_prewarm.  :func:`_export_pythonpath` prepends the
# repo root to ``PYTHONPATH`` from :func:`get_spark` just before the JVM
# launches (the only moment the local daemon needs it) — NOT at module
# import time, so merely importing this package no longer mutates the
# process env of foreign drivers (r10 advisory).  A cluster deployment sets
# spark.executorEnv.PYTHONPATH instead.
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _export_pythonpath() -> None:
    if _PKG_PARENT not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _PKG_PARENT + os.pathsep + os.environ["PYTHONPATH"]
            if os.environ.get("PYTHONPATH")
            else _PKG_PARENT
        )

#: Runtime-settable confs applied to any session we touch.
#:
#: - ``nanosAsLong``: the driver testdata's ``events.parquet`` stores
#:   TIMESTAMP(NANOS) which Spark's parquet reader rejects; reading nanos as
#:   LongType and rebuilding the timestamp ourselves (see sources.tables)
#:   keeps the scan vectorized.
#: - UTC session timezone so epoch arithmetic matches the DuckDB oracle.
#: - AQE + skew handling on: at 100 TB the runtime re-plan (dynamic
#:   coalescing, skew-join splitting, broadcast demotion) is the difference
#:   between a tuned plan and a hand-tuned one.
RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for the few applyInPandas operators (EWMA); batched transfer.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def _ship_package(spark: SparkSession) -> None:
    """Make ``pulseboard_spark`` importable on Spark's Python workers.

    cloudpickle serializes closures that reference module-level names (the
    numpy similarity kernels, the stateful streaming handlers) BY REFERENCE
    to this package, so workers must be able to import it.  When the
    session is created by a foreign driver (the correctness harness) the
    repo root is on the *driver's* sys.path only; ``addPyFile`` ships a zip
    of the package to every worker.  Idempotent per SparkContext.
    """
    sc = spark.sparkContext
    if getattr(sc, "_pulseboard_shipped", False):
        return
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), f"pulseboard_spark_pkg_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as zf:
            for dirpath, _dirs, files in os.walk(pkg_root):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(dirpath, fn)
                        arc = os.path.join(
                            "pulseboard_spark", os.path.relpath(full, pkg_root)
                        )
                        zf.write(full, arc)
    try:
        sc.addPyFile(zpath)
    except Exception:
        # Already registered under this name (session reuse) — fine.
        pass
    sc._pulseboard_shipped = True


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs; idempotent and safe on a foreign session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf not settable at runtime in this build — proceed;
            # tables.load_events reads either ``ts`` encoding.
            pass
    try:
        # Scale-adaptive shuffle width: one reduce partition per task slot
        # (defaultParallelism = total cores in local mode AND on a cluster)
        # instead of a constant tuned for any one machine.  A foreign
        # session's default 200 partitions is pure task overhead at harness
        # scale; a hard-coded 32 mis-sizes any session not on 32 cores.  On
        # a big cluster this is the *initial* width only — AQE coalescing
        # (enabled above) re-sizes every post-shuffle stage by bytes.
        # Result-safe: no declared query's output depends on partition
        # count (the two-level ntile computes exact global ranks; skew
        # salts are dropped post-aggregation).
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism),
        )
    except Exception:
        pass
    _ship_package(spark)
    return spark


#: The session memo store: (applicationId, abspath(corpus) or None, name) ->
#: (artifact, silver).  Artifacts are constructed plans (table views, silver
#: lineages, declared queries' DataFrames), localCheckpointed driver
#: artifacts (identity components, near-dup graph, IVF index), trained PQ
#: codebooks and plan-keyed probe verdicts.  A long-running engine builds
#: each once per corpus snapshot; a fresh driver process rebuilds them all.
#: Rebuilding a plan per call costs real driver time: ``spark.read.parquet``
#: re-lists files and re-reads footers (~70-120 ms per table) and a declared
#: query's expression tree is 0.02-0.17 s of py4j round trips
#: (OPTIMIZATION_r10.md "plan construction").  A plan entry is NOT a result
#: cache: every action on it still executes.
_MEMO: dict = {}


def memo(spark: SparkSession, corpus: str | None, name: str, build, silver: bool = False):
    """Return the memoized artifact for (session, corpus, name), building it
    on a miss.  ``silver=True`` marks a persisted silver (set only by
    :func:`silver`).  ``clearCache()`` or ``unpersist`` leave a memoized
    silver valid-but-uncached, silently degrading its consumers to
    re-scanning parquet, and a hit skips the builders that would persist
    it, so every hit re-persists any dropped silver of the same (session,
    corpus) — a storage-level lookup per silver, no job; Spark rebuilds
    the dropped data from its lineage on the next action.  Plan-only
    entries are never persisted: caching a query's own output plan would
    serve its warm runs from a result cache."""
    app = spark.sparkContext.applicationId
    corpus = None if corpus is None else os.path.abspath(corpus)
    entry = _MEMO.get((app, corpus, name))
    if entry is None:
        entry = _MEMO[(app, corpus, name)] = (build(), silver)
        return entry[0]
    for (a, c, _n), (df, is_silver) in list(_MEMO.items()):
        if is_silver and a == app and c == corpus:
            sl = df.storageLevel
            if not (sl.useMemory or sl.useDisk):
                df.persist()
    return entry[0]


def silver(spark: SparkSession, corpus: str, name: str, build) -> DataFrame:
    """The session-cached silver ``name`` of ``corpus``: ``build()``'s plan
    with ``cache()`` registered, memoized as ``silver:{name}``.  Every
    silver is persisted here and nowhere else.  ``cache()`` is lazy —
    nothing plans or runs at registration — and Spark's CacheManager
    matches by canonicalized plan, so the one entry serves every query
    that scans the silver.  At cluster scale the same role is played by a
    materialized silver table refreshed per corpus snapshot, not by this
    cache."""
    return memo(spark, corpus, f"silver:{name}", lambda: build().cache(), silver=True)


def plan_probe(df: DataFrame, tag: str, compute):
    """Memoize a plan-derived artifact — a size verdict, a collected
    index — per session and plan.  A session's source tables are immutable
    (the same assumption every memoized silver makes), so a guard probe or
    a collected index is a pure function of the *plan*, yet each ran a
    Spark job on EVERY query invocation (a probe one count job, an index a
    full collect + broadcast, ~0.5-1 s warm at bench scale).  The 100 TB
    twin is a persisted table; naming the entry by the canonicalized
    plan's semanticHash + schema means semantically identical lineages
    share one probe / one index."""
    plan_hash = df._jdf.queryExecution().analyzed().semanticHash()
    return memo(df.sparkSession, None, f"{tag}:{plan_hash}:{df.schema.json()}", compute)


def clear() -> None:
    """Drop every memo entry — for harnesses that re-point one session at
    mutated or rewritten source data."""
    _MEMO.clear()


def local_df(spark: SparkSession, rows: list[tuple], schema) -> DataFrame:
    """Driver-local rows → DataFrame WITHOUT the python-RDD execution path.

    ``createDataFrame(list)`` parallelizes PICKLED python rows: every action
    on the result unpickles them through python workers on the RDD code
    path, whose worker-factory key (no SPARK_SIMPLIFIED_TRACEBACK in the
    env) differs from the SQL/Arrow runners' — so the first such action
    spawns a SECOND pyspark.daemon plus up to ``defaultParallelism``
    workers that the SQL path can never reuse (measured: +32 idle workers,
    ~2.5 GB RSS, and a multi-second spawn inside whichever query hits it
    first — OPTIMIZATION_r10.md "worker pool").  Routing the same rows
    through a pandas DataFrame takes the Arrow path instead: batches are
    converted JVM-side, no python worker ever runs.  Falls back to the
    plain list path, with a warning, when the Arrow conversion fails
    (identical result, just the old cost).
    """
    import pandas as pd

    try:
        names = [f.name for f in schema.fields] if hasattr(schema, "fields") else None
        if names is None:  # DDL-string schema: parse via the public API
            from pyspark.sql.types import StructType

            schema = StructType.fromDDL(schema)
            names = [f.name for f in schema.fields]
        # Build each column as a TRUE object Series before pandas ever sees
        # the rows: DataFrame.from_records would infer dtypes first, and an
        # int column containing a None is coerced to float64 BEFORE any
        # .astype(object) could run — silently corrupting ints above 2^53
        # (r10 advisory, verified live).  With dtype=object up front no
        # numeric coercion happens and the Arrow conversion types each
        # column from the EXPLICIT schema instead.
        rows = list(rows)
        pdf = pd.DataFrame(
            {n: pd.Series([r[i] for r in rows], dtype=object) for i, n in enumerate(names)},
            columns=names,
        )
        return spark.createDataFrame(pdf, schema=schema)
    except Exception as e:
        # Unexpected Arrow/pandas-path failure: fall back to the plain list
        # path (identical result), but say so — a silent fallback would make
        # regressions of the intended optimization invisible (r10 advisory).
        import warnings

        warnings.warn(f"local_df: Arrow path failed ({e!r}); using the row-pickle path")
        return spark.createDataFrame(rows, schema=schema)


def get_spark(app_name: str = "pulseboard-spark", cpus: int | None = None,
              fair: bool = False) -> SparkSession:
    """Build a local session sized for the test harness.

    On a real cluster this builder is replaced by spark-submit confs; the
    operator layer never assumes local mode.

    ``fair=True`` starts the context with the FAIR task scheduler — the
    co-resident-streaming posture: each streaming query is pinned to its
    own on-demand pool (``sparkContext.setLocalProperty("spark.scheduler.
    pool", ...)`` before ``start()``; the microbatch thread inherits it),
    so one query's task flood cannot queue another's small batches behind
    it.  Static conf — must be chosen at context creation.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    # must precede getOrCreate(): the JVM (and therefore the executor env
    # the python daemon inherits) is launched by the first builder call
    _export_pythonpath()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # One shuffle partition per core locally; on a cluster AQE coalesces
        # from a higher initial number instead.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("PB_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Pre-import numpy/pandas/pyarrow in the worker daemon so forked
        # workers inherit them via COW (guide §4.5; daemon_prewarm docstring
        # has the measurements).  Static conf — factories read it at
        # creation, so it must be set before the context exists.
        .config("spark.python.daemon.module", "pulseboard_spark.daemon_prewarm")
    )
    if fair:
        builder = builder.config("spark.scheduler.mode", "FAIR")
    spark = builder.getOrCreate()
    return tune(spark)
