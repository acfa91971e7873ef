#!/usr/bin/env python
"""Task-retry determinism: inject first-attempt task failures and prove
the answers don't move.

On a 1000-executor cluster, task retries are not an edge case — they are
the steady state (spot preemption, executor OOM, fetch failures).  Spark
re-runs a failed task from its last shuffle boundary, so every operator
must be RETRY-SAFE: re-executing any task, on any attempt, with the same
inputs must contribute the same rows.  The repo pins slicing/ordering
invariance in unit tests, but nothing had pushed a failure through
Spark's ACTUAL retry machinery end-to-end.  This probe does:

1. **Scan-stage retries**: every `spark.read.parquet` is wrapped (probe-
   side monkeypatch, zero production-code change) with a pass-through
   `mapInPandas` that raises on `TaskContext.attemptNumber() == 0` for
   every third partition.  Each leaf task of every query fails once and
   is re-run by the scheduler; the query's canonical string image (the
   driver's own comparison form, pulseboard_spark.parity._canon_frame)
   must equal the clean run's.
2. **Reduce-stage retries**: the same failing pass-through appended to
   the query RESULT — the final (post-shuffle) stage's tasks fail once
   and re-run, re-fetching their shuffle inputs.
3. **Stateful-streaming retries**: the alert-rule twin
   (`alert_rules_stateful`) with the failing pass-through appended INSIDE
   the stateful stage (a narrow map after applyInPandasWithState shares
   its task), so the state-store commit itself is aborted and retried —
   the streaming output must still set-equal the batch alerts (ex-R3),
   i.e. no duplicate/lost alerts and no corrupted keyed state.

Local mode ignores `spark.task.maxFailures`; retries require the
`local[N, F]` master form, so the probe owns its session
(`local[16, 4]`) instead of reusing the shared test fixture.  Injection
firing is proven by sentinel files the failing branch drops before
raising (accumulator updates from failed attempts are not guaranteed to
be counted, so files are the honest signal in local mode).

Run: python tools/probes/task_retry.py   (results -> SCALE.md)
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import tempfile
import uuid
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

SF_DIR = os.environ.get("PB_RETRY_SF_DIR", "/root/testdata/sf0.01")

# Representative slice: one per execution family — narrow agg, window
# frames, Arrow recurrence, dedup banding, gram-kernel similarity, CC
# fixpoint, multi-shuffle profile build, rule engine, sessionization.
BATCH_QUERIES = [
    "tpch_q1_pricing_summary",
    "win_trailing_aggs",
    "ewma",
    "rolling_counter_24h",
    "user_sessions",
    "identity_components",
    "cdp_profiles",
    "cdp_segments",
    "dedup_minhash",
    "similarity_topk",
    "alerts",
]

MARKER_DIR = os.path.join(tempfile.gettempdir(), f"pb_retry_markers_{os.getpid()}")


def _failing_passthrough(df, tag: str, every: int = 3):
    """Identity mapInPandas that fails each task's FIRST attempt for
    every ``every``-th partition, dropping a sentinel file first."""
    marker_dir = MARKER_DIR  # capture the string, not the module

    def gen(batches):
        from pyspark import TaskContext

        tc = TaskContext.get()
        if tc is not None and tc.attemptNumber() == 0 and tc.partitionId() % every == 0:
            Path(marker_dir).mkdir(exist_ok=True)
            Path(marker_dir, f"{tag}-{tc.stageId()}-{tc.partitionId()}-{uuid.uuid4().hex[:8]}").touch()
            raise RuntimeError(f"pb-retry-probe injected failure [{tag}]")
        for pdf in batches:
            yield pdf

    return df.mapInPandas(gen, df.schema)


def _fired(tag: str) -> int:
    return len(glob.glob(os.path.join(MARKER_DIR, f"{tag}-*")))


def _image(df):
    from pulseboard_spark.parity import _canon_frame

    return _canon_frame(df.toPandas())


def run_batch(spark) -> list[tuple[str, bool, bool, int, int]]:
    """Returns (name, scan_ok, reduce_ok, scan_fired, reduce_fired)."""
    import pyspark.sql.readwriter as rw

    from pulseboard_spark.registry import QUERIES
    from pulseboard_spark.session import clear as session_clear

    # the session memo keeps localCheckpointed artifacts (components,
    # near-dup pairs, IVF index) and cached silvers per (app, sf_dir);
    # without clearing both it and the cache the injected phase would
    # reuse the clean phase's checkpoint or silver and never re-read
    # parquet through the patched reader
    def clear():
        session_clear()
        spark.catalog.clearCache()

    results = []
    orig_parquet = rw.DataFrameReader.parquet
    for name in BATCH_QUERIES:
        q = QUERIES[name]
        clear()
        clean = _image(q(spark, SF_DIR))

        # Phase 1: fail-and-retry every third leaf task of every scan.
        tag_s = f"scan-{name}"

        def patched(self, *paths, **kw):
            return _failing_passthrough(orig_parquet(self, *paths, **kw), tag_s)

        rw.DataFrameReader.parquet = patched
        try:
            clear()
            scan_img = _image(q(spark, SF_DIR))
        finally:
            rw.DataFrameReader.parquet = orig_parquet
        scan_ok = scan_img.equals(clean)

        # Phase 2: fail-and-retry the final stage's tasks.
        tag_r = f"reduce-{name}"
        clear()
        reduce_img = _image(_failing_passthrough(q(spark, SF_DIR), tag_r))
        reduce_ok = reduce_img.equals(clean)

        results.append((name, scan_ok, reduce_ok, _fired(tag_s), _fired(tag_r)))
        print(
            f"{name:28s} scan_retry={'OK' if scan_ok else 'DIVERGED'} ({_fired(tag_s)} fails) "
            f"reduce_retry={'OK' if reduce_ok else 'DIVERGED'} ({_fired(tag_r)} fails)",
            flush=True,
        )
    return results


def run_streaming(spark) -> tuple[bool, int]:
    """Alert twin with retries injected inside the stateful stage.

    The input unions the engineered rule-firing fixture into the real
    entity events — without it the testdata yields zero R1/R2/R4 alerts
    and the set-equality would be an empty==empty no-op; with it, a
    retried stateful task that double-emits or loses buffered state shows
    up as a concrete missing/extra alert."""
    from pyspark.sql import functions as F

    from pulseboard_spark.operators import rules
    from pulseboard_spark.sources.generator import rule_firing_events
    from pulseboard_spark.sources.tables import entity_events
    from pulseboard_spark.streaming.stateful import alert_rules_stateful

    work = tempfile.mkdtemp(prefix="pb_retry_stream_")
    try:
        ev = (
            entity_events(spark, SF_DIR)
            .unionByName(rule_firing_events(spark))
            # full arrival key: ts_us alone is unstable across same-ts peers
            .orderBy("ts_us", "event_id")
        )
        rows = ev.collect()
        chunk = (len(rows) + 3) // 4
        for i in range(4):
            part = rows[i * chunk : (i + 1) * chunk]
            if part:
                spark.createDataFrame(part, ev.schema).coalesce(1).write.parquet(
                    f"{work}/chunk={i}"
                )
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{work}/chunk=*")
        )
        tag = "stream-alerts"
        alerts = _failing_passthrough(alert_rules_stateful(stream), tag)
        qname = f"retry_alerts_{uuid.uuid4().hex[:6]}"
        q = (
            alerts.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            tuple(r)
            for r in spark.sql(
                f"SELECT rule, entity_id, ts_ms, severity, event_id FROM {qname}"
            ).collect()
        }
        batch = rules.alerts(
            entity_events(spark, SF_DIR).unionByName(rule_firing_events(spark))
        ).filter(F.col("rule") != "R3_GEO_DEVICE_MISMATCH")
        want = {tuple(r) for r in batch.collect()}
        ok = got == want and len(want) > 0
        print(
            f"streaming alerts: {'SET-EQUAL' if ok else 'DIVERGED'} "
            f"({len(got)} streamed vs {len(want)} batch; {_fired(tag)} injected fails; "
            f"missing={len(want - got)} extra={len(got - want)})",
            flush=True,
        )
        return ok, _fired(tag)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    from pyspark.sql import SparkSession

    from pulseboard_spark.session import RUNTIME_CONFS, tune

    shutil.rmtree(MARKER_DIR, ignore_errors=True)
    Path(MARKER_DIR).mkdir(exist_ok=True)
    builder = (
        SparkSession.builder.appName("pb-task-retry-probe")
        # local[N, F]: F = task maxFailures — local mode's only retry dial.
        .master("local[16, 4]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.driver.memory", os.environ.get("PB_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    tune(spark)
    try:
        batch = run_batch(spark)
        stream_ok, stream_fired = run_streaming(spark)
    finally:
        spark.stop()
        shutil.rmtree(MARKER_DIR, ignore_errors=True)

    bad = [r for r in batch if not (r[1] and r[2])]
    unfired = [r for r in batch if r[3] == 0 or r[4] == 0]
    print()
    print(
        f"batch: {len(batch) - len(bad)}/{len(batch)} queries identical under scan+reduce retries; "
        f"{sum(r[3] + r[4] for r in batch)} injected task failures total"
    )
    if unfired:
        print(f"WARNING: injection never fired for: {[r[0] for r in unfired]}")
    print(f"streaming: {'OK' if stream_ok else 'FAILED'} ({stream_fired} injected fails)")
    return 0 if (not bad and stream_ok and stream_fired > 0 and not unfired) else 1


if __name__ == "__main__":
    raise SystemExit(main())
