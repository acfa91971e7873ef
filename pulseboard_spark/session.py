"""SparkSession construction and runtime tuning.

Every public query entry point calls :func:`tune` on whatever session it is
handed (the correctness driver owns its own session), so all settings here
must be *runtime-settable* SQL confs, not static Spark confs.
"""

from __future__ import annotations

import atexit
import os
import re
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
            # Conf not settable at runtime in this build — proceed; loaders
            # have a pyarrow fallback for the nanos issue.
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
    plain list path when pandas/Arrow is unavailable (identical result,
    just the old cost).
    """
    try:
        import pandas as pd
    except ImportError:  # pandas absent: the old (slower) path is the API
        return spark.createDataFrame(rows, schema=schema)
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


def write_fair_allocation(pool_weights: dict[str, int],
                          min_shares: dict[str, int] | None = None) -> str:
    """Write a FAIR scheduler allocation XML and return its path.

    Equal-weight on-demand pools stop one query's task flood from QUEUEING
    another's batches, but they also cap the flood's own share: with three
    pools on 32 cores the 32-task query gets ~1/3 of slots while the small
    queries are active, and its batch duration — not queueing — becomes
    the worst-p95 term (SCALE.md round-9 latency table).  Weights shift
    share toward the latency-binding query; minShare guarantees a floor
    while idle pools return their slots.  Within-pool mode stays FIFO —
    each pool holds a single streaming query's jobs.

    Static conf: pass the returned path as
    ``spark.scheduler.allocation.file`` at context creation.
    """
    parts = ["<?xml version=\"1.0\"?>", "<allocations>"]
    for pool, w in pool_weights.items():
        # pool names reach this XML from CLI input (tools/probes/multi_stream.py)
        # — a quote/angle/ampersand would be attribute-injectable, so refuse
        # anything outside the safe identifier alphabet (r09 advisory)
        if not re.fullmatch(r"[A-Za-z0-9_-]+", pool):
            raise ValueError(f"pool name {pool!r} must match [A-Za-z0-9_-]+")
        ms = (min_shares or {}).get(pool, 0)
        parts += [
            f"  <pool name=\"{pool}\">",
            "    <schedulingMode>FIFO</schedulingMode>",
            f"    <weight>{int(w)}</weight>",
            f"    <minShare>{int(ms)}</minShare>",
            "  </pool>",
        ]
    parts.append("</allocations>")
    fd, path = tempfile.mkstemp(prefix="pb_fair_", suffix=".xml")
    with os.fdopen(fd, "w") as f:
        f.write("\n".join(parts))
    # Spark reads the file at context creation; drop it at interpreter exit
    # so repeated sessions don't accrete temp files (r09 advisory)
    atexit.register(_unlink_quiet, path)
    return path


def _unlink_quiet(path: str) -> None:
    try:
        os.unlink(path)
    except OSError:
        pass


def get_spark(app_name: str = "pulseboard-spark", cpus: int | None = None,
              fair: bool = False,
              pool_weights: dict[str, int] | None = None) -> SparkSession:
    """Build a local session sized for the test harness.

    On a real cluster this builder is replaced by spark-submit confs; the
    operator layer never assumes local mode.

    ``fair=True`` starts the context with the FAIR task scheduler — the
    co-resident-streaming posture: each streaming query is pinned to its
    own on-demand pool (``sparkContext.setLocalProperty("spark.scheduler.
    pool", ...)`` before ``start()``; the microbatch thread inherits it),
    so one query's task flood cannot queue another's small batches behind
    it.  Static conf — must be chosen at context creation.

    ``pool_weights`` (requires ``fair=True``) additionally ships a FAIR
    allocation file giving named pools uneven slot shares — the dial for
    a co-resident query whose own batch duration, not queueing, binds its
    latency (see :func:`write_fair_allocation`).
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
        if pool_weights:
            builder = builder.config(
                "spark.scheduler.allocation.file", write_fair_allocation(pool_weights)
            )
    spark = builder.getOrCreate()
    return tune(spark)
