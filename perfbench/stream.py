"""``alerts_stream``: ``streaming.pipeline.entity_alert_stream`` (admission,
W1 dedup, stateful R1/R2/R4) on a parquet file-source replay.

Input: the entity silver in ``(ts_us, event_id)`` order with the 50-row
``rule_firing_events`` fixture merged in.  The seed picks ~5% duplicate
re-sends (each in the same file as its original, always including some
fixture rows) and the row order inside each file.  Every file is written
during set-up as a dot-file, which the file source ignores; exposing a
file is a rename.

Phases, all on one query:

1. warm-up: one file, the first micro-batch of the fresh session
   (``cold_pass_s``);
2. drain: ``DRAIN_ROUNDS`` rounds, each a fixed backlog exposed at once, a
   closed loop that measures capacity.  The first round is untimed: it
   lets the JVM compile the stateful path before anything is timed;
   ``drain_eps`` is the median of the others;
3. paced: an open loop.  One generator thread exposes a file every 125 ms
   (~8.4 events, ~67 events/s) on a schedule that does not slow when Spark
   does, for ``--seconds`` but at least 120 files.  A file's latency is
   the end of the micro-batch that consumed it minus the time it was due.

Files map to batches through cumulative ``numInputRows``: files are
exposed in order, so file ``i`` is consumed by the first batch whose
cumulative input reaches the rows of files ``0..i``.
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time
from datetime import datetime, timezone

import numpy as np

import eventlog
import harness

WARMUP_ROWS = 500
#: one file a round, so one rename exposes the whole backlog: with several,
#: a listing between two renames would split the round into two batches
DRAIN_ROUNDS, DRAIN_FILES, BACKLOG_FILE_ROWS = 4, 1, 1500
BACKLOG_FILES = DRAIN_ROUNDS * DRAIN_FILES
TICK_S = 0.125
#: originals per paced file; with 5% re-sends a file averages ~8.4 events,
#: so one file per tick is ~67 events/s.  In an open loop a slower host makes
#: longer batches, which gather more events and so run longer still (each
#: event costs ~2 ms of batch time).  At 125 events/s a run whose drain was
#: 10% slower than the others had paced batches ~30% slower.
#: At 250 events/s a 4-core host is past its capacity: batch time grew
#: 1.9 -> 4.7 s within the phase, so latency measured the run length.
PACED_FILE_ROWS = 8
MIN_PACED_FILES = 120  # p90 needs 100 samples; the rest steadies the medians
DUP_RATE = 0.05
FIXTURE_DUPS = 3
FIXTURE_EID_MIN = 9_000_000_000_000
QUERY_NAME = "perfbench_alerts"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


# --- pure helpers (unit-tested) -----------------------------------------------


def plan_files(n_rows: int, fixture_pos: np.ndarray, n_paced: int,
               rng: np.random.Generator) -> list[np.ndarray]:
    """Row positions of each file: warm-up, backlog files, paced files.
    Originals are consecutive; re-sends repeat an original of the same file;
    rows inside a file are shuffled."""
    sizes = [WARMUP_ROWS] + [BACKLOG_FILE_ROWS] * BACKLOG_FILES
    sizes += [PACED_FILE_ROWS] * n_paced
    if sum(sizes) > n_rows:
        raise ValueError(f"replay needs {sum(sizes)} rows, input has {n_rows}")
    forced = set(rng.choice(fixture_pos, size=min(FIXTURE_DUPS, len(fixture_pos)), replace=False).tolist())
    files, start = [], 0
    for n in sizes:
        orig = np.arange(start, start + n)
        dups = rng.choice(orig, size=rng.binomial(n, DUP_RATE), replace=False)
        extra = [p for p in forced if start <= p < start + n and p not in set(dups.tolist())]
        rows = np.concatenate([orig, dups, np.array(extra, dtype=orig.dtype)])
        files.append(rng.permutation(rows))
        start += n
    return files


def consumed_by(file_rows: list[int], batch_rows: list[int]) -> list[int | None]:
    """Index of the batch that consumed each file, or None if none did."""
    out, k, cum_b = [], 0, 0
    cum_f = 0
    for n in file_rows:
        cum_f += n
        while k < len(batch_rows) and cum_b + batch_rows[k] < cum_f:
            cum_b += batch_rows[k]
            k += 1
        out.append(k if k < len(batch_rows) else None)
    return out


def file_latencies(due: list[float], owner: list[int | None], batch_end: list[float]) -> list[float]:
    """Seconds from each file's due time to the end of its batch."""
    return [batch_end[b] - d for d, b in zip(due, owner) if b is not None]


def _epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def batch_end(p: dict) -> float:
    return _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000


# --- the run ------------------------------------------------------------------


def _replay(run):
    """The entity silver with the firing fixture merged in, in
    ``(ts_us, event_id)`` order.  Built through the program once per
    checkout state, in a process of its own so that every measured session
    starts equally cold, and kept in ``.perfbench/cache``: the key hashes the
    program's sources, this file and the input, so an edit rebuilds it.
    Returns the table, its file and the seconds spent building it (0 when
    it was cached)."""
    import glob
    import hashlib
    import subprocess

    import pyarrow.parquet as pq

    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "pulseboard_spark", "**", "*.py"), recursive=True)) + [
            os.path.abspath(__file__), os.path.join(run.data_dir, "events.parquet")]:
        with open(path, "rb") as f:
            h.update(f.read())
    cached = os.path.join(run.state, "cache", f"alerts_stream_replay-{h.hexdigest()[:16]}.parquet")
    build_s = 0.0
    if not os.path.exists(cached):
        os.makedirs(os.path.dirname(cached), exist_ok=True)
        for stale in glob.glob(os.path.join(os.path.dirname(cached), "alerts_stream_replay-*")):
            os.remove(stale)
        with run.tracer.span("sources.silver_read") as s:
            subprocess.run([sys.executable, os.path.abspath(__file__), run.data_dir, cached],
                           stdout=sys.stderr, check=True, timeout=600)
        build_s = s["end"] - s["start"]
    return pq.read_table(cached), cached, build_s


def _build_replay(data_dir: str, out: str) -> None:
    import pyarrow.parquet as pq

    from pulseboard_spark import registry
    from pulseboard_spark.session import get_spark
    from pulseboard_spark.sources.generator import rule_firing_events

    spark = get_spark("perfbench-replay", cpus=len(os.sched_getaffinity(0)))
    try:
        silver = registry.entity_events(spark, data_dir)
        table = silver.unionByName(rule_firing_events(spark)).orderBy("ts_us", "event_id").toArrow()
    finally:
        harness.stop_spark(spark)
    pq.write_table(table, out + ".tmp")
    os.replace(out + ".tmp", out)


def _stage(run, spark, src: str):
    """Write every replay file as a dot-file; returns the stream schema,
    [(hidden, visible, rows)], the number of injected re-sends, the event
    ids replayed and the silver build time."""
    import pyarrow.parquet as pq

    table, table_path, silver_s = _replay(run)
    n_paced = max(MIN_PACED_FILES, int(run.seconds / TICK_S))
    eids = table.column("event_id").to_numpy()
    rng = np.random.default_rng(run.seed)
    files = plan_files(len(eids), np.flatnonzero(eids >= FIXTURE_EID_MIN), n_paced, rng)
    os.makedirs(src)
    staged = []
    with run.tracer.span("bench.stage_files"):
        for i, rows in enumerate(files):
            hidden, visible = f"{src}/.{i:05d}.parquet", f"{src}/{i:05d}.parquet"
            pq.write_table(table.take(rows), hidden)
            staged.append((hidden, visible, len(rows)))
    schema = spark.read.parquet(table_path).schema
    used = np.concatenate(files)
    injected = len(used) - len(np.unique(used))
    return schema, staged, injected, set(eids[np.unique(used)].tolist()), silver_s


def _wait_idle(q) -> None:
    """Let the trailing no-data batch of the previous phase finish."""
    time.sleep(0.3)
    while q.status["isTriggerActive"]:
        time.sleep(0.05)


def _progress(q) -> list[dict]:
    """Progress of every executed batch, in order (idle triggers dropped)."""
    seen = {}
    for p in q.recentProgress:
        d = json.loads(p.json)
        if "addBatch" in d["durationMs"]:
            seen[d["batchId"]] = d
    return [seen[k] for k in sorted(seen)]


def _generator(files: list[tuple[str, str, int]], t0: float, log: list) -> None:
    for i, (hidden, visible, _) in enumerate(files):
        due = t0 + i * TICK_S
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        os.rename(hidden, visible)
        log.append((due, time.time()))


def run(run) -> dict:
    from pulseboard_spark.session import get_spark
    from pulseboard_spark.streaming.pipeline import entity_alert_stream

    tr = run.tracer
    with tr.span("session.get_spark") as s:
        spark = get_spark(f"perfbench-{run.workload}", cpus=run.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    get_spark_s = s["end"] - s["start"]
    # progress of every batch of the run stays readable from the query
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    src, ckpt = os.path.join(run.work, "src"), os.path.join(run.work, "ckpt")
    schema, staged, injected, replayed_eids, silver_s = _stage(run, spark, src)
    setup_s = time.time() - run.t_process
    warm_f, backlog_f, paced_f = staged[:1], staged[1:1 + BACKLOG_FILES], staged[1 + BACKLOG_FILES:]

    # 1. warm-up
    t_warm = time.time()
    os.rename(warm_f[0][0], warm_f[0][1])
    with tr.span("phase.warmup"):
        q = (entity_alert_stream(spark.readStream.schema(schema).parquet(src))
             .writeStream.format("memory").queryName(QUERY_NAME).outputMode("append")
             .option("checkpointLocation", ckpt).start())
        q.processAllAvailable()
        _wait_idle(q)
    # 2. drain, round by round: (start, index of the round's last file, events)
    drains = []
    with tr.span("phase.drain"):
        for r in range(DRAIN_ROUNDS):
            files = backlog_f[r * DRAIN_FILES:(r + 1) * DRAIN_FILES]
            t = time.time()
            for hidden, visible, _ in files:
                os.rename(hidden, visible)
            q.processAllAvailable()
            _wait_idle(q)
            drains.append((t, (r + 1) * DRAIN_FILES, sum(n for _, _, n in files)))
    t_timed = drains[1][0]  # start of the first timed drain round
    # 3. paced
    log: list = []
    t_paced = time.time() + 0.05
    gen = threading.Thread(target=_generator, args=(paced_f, t_paced, log), name="generator")
    with tr.span("phase.paced"):
        gen.start()
        gen.join()
        n_batches_at_end = len(_progress(q))
        q.processAllAvailable()
    progress = _progress(q)
    q.stop()

    t_check = time.time()
    with tr.span("bench.check"):
        got = {tuple(r) for r in spark.sql(
            f"SELECT rule, entity_id, ts_ms, severity, event_id FROM {QUERY_NAME}").collect()}
        with open(os.path.join(run.expected_dir, "alerts_stream.json")) as f:
            want = {tuple(a) for a in json.load(f)["alerts"] if a[4] in replayed_eids}
    check_s = time.time() - t_check
    cached_mb = harness.cached_mb(spark)
    app_id = spark.sparkContext.applicationId
    harness.stop_spark(spark)

    file_rows = [n for _, _, n in staged]
    owner = consumed_by(file_rows, [p["numInputRows"] for p in progress])
    ends = [batch_end(p) for p in progress]
    n_warm, n_back = 1, BACKLOG_FILES
    # an unconsumed file is a failure; its phase then counts until the run ended
    t_end = time.time()
    cold_pass_s = (ends[owner[0]] if owner[0] is not None else t_end) - t_warm
    drain_eps = []  # timed rounds only
    for t, last, events in drains[1:]:
        b = owner[last]
        drain_eps.append(events / ((ends[b] if b is not None else t_end) - t))
    paced_owner = owner[n_warm + n_back:]
    lat = file_latencies([due for due, _ in log], paced_owner, ends)
    paced_batches = sorted({b for b in paced_owner if b is not None})
    paced_progress = [progress[b] for b in paced_batches]
    consumed_at_end = sum(1 for b in owner if b is not None and b < n_batches_at_end)

    ops = {p_["operatorName"]: p_ for p_ in (progress[-1]["stateOperators"] if progress else [])}
    dedup_dropped = sum(op.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)
                        for p in progress for op in p["stateOperators"])
    unconsumed = sum(1 for b in owner if b is None)
    check_ok = got == want and dedup_dropped == injected
    if not check_ok:
        print(f"# check FAILED: {len(got)} alerts vs {len(want)} expected "
              f"(missing {sorted(want - got)[:3]}, extra {sorted(got - want)[:3]}); "
              f"dedup dropped {dedup_dropped} of {injected} re-sends", file=sys.stderr)

    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": cold_pass_s,
        "warm_pass_s": harness.median([p["durationMs"]["triggerExecution"] / 1000 for p in paced_progress]),
        "drain_eps": harness.median(drain_eps),
        "latency_p50_ms": 1000 * harness.median(lat),
    }
    print(f"# alerts_stream: warm-up {cold_pass_s:.2f}s, timed drain rounds "
          f"{[round(e) for e in drain_eps]} events/s, {len(lat)} paced files in {len(paced_batches)} batches, "
          f"{len(got)} alerts, {dedup_dropped}/{injected} re-sends dropped; paced batches (ms) "
          f"{[p['durationMs']['triggerExecution'] for p in paced_progress]}", file=sys.stderr)

    def med(key: str) -> float:
        return harness.median([p["durationMs"].get(key, 0) for p in paced_progress])

    def op_sum(p: dict, key: str) -> float:
        return sum(op[key] for op in p["stateOperators"])

    layer = dict.fromkeys(run.layer_names, 0.0)
    layer.update({
        "session.get_spark_s": get_spark_s,
        "sources.silver_fill_s": silver_s,
        "sources.cached_mb": cached_mb,
        "latency_p90_ms": 1000 * harness.percentile(lat, 90) if harness.tail_supported(len(lat), 90) else 0.0,
        "stream.batches": len(progress),
        "stream.trigger_p50_ms": harness.median([p["durationMs"]["triggerExecution"] for p in paced_progress]),
        "stream.trigger_max_ms": max((p["durationMs"]["triggerExecution"] for p in paced_progress), default=0),
        "stream.add_batch_ms": med("addBatch"),
        "stream.query_planning_ms": med("queryPlanning"),
        "stream.get_batch_ms": med("getBatch"),
        "stream.wal_commit_ms": med("walCommit"),
        "stream.commit_offsets_ms": med("commitOffsets"),
        "stream.no_data_batch_ms": harness.median(
            [p["durationMs"]["triggerExecution"] for p in progress if p["numInputRows"] == 0]),
        "stream.keys_updated_per_batch": harness.median(
            [op["numRowsUpdated"] for p in paced_progress for op in p["stateOperators"]
             if op["operatorName"] == "applyInPandasWithState"]),
        "stream.state_rows": sum(op["numRowsTotal"] for op in ops.values()),
        "stream.state_mem_mb": sum(op["memoryUsedBytes"] for op in ops.values()) / 2**20,
        "stream.state_commit_ms": harness.median([op_sum(p, "commitTimeMs") for p in paced_progress]),
        "stream.state_rows_removed": sum(op_sum(p, "numRowsRemoved") for p in progress),
        "stream.dedup_dropped": dedup_dropped,
        "stream.watermark_dropped": sum(op_sum(p, "numRowsDroppedByWatermark") for p in progress),
        "bench.gen_lag_ms": 1000 * max(t - due for due, t in log),
        "bench.timed_samples": len(paced_batches),
        "bench.backlog_files_end": len(staged) - consumed_at_end,
        "bench.check_s": check_s,
    })
    if run.trace:
        layer.update(_trace_report(run, app_id, progress, owner, e2e, t_timed))
    return {"e2e": e2e, "layer": layer,
            "attempted": len(staged) + 1,
            "failed": unconsumed + (0 if check_ok else 1)}


def _trace_report(run, app_id: str, progress: list[dict], owner: list, e2e: dict, t_timed: float) -> dict:
    """Micro-batch spans with one child per progress phase, execution
    numbers from the event log, and the trace file."""
    tr = run.tracer
    for p in progress:
        start = _epoch(p["timestamp"])
        sid = tr.add("stream.micro_batch", start, batch_end(p), run_id=f"batch{p['batchId']}",
                     rows=p["numInputRows"])
        at = start
        for ph in PHASES:  # MicroBatchExecution runs the phases in this order
            ms = p["durationMs"].get(ph)
            if ms is not None:
                tr.add(f"stream.{ph}", at, at + ms / 1000, parent=sid, run_id=f"batch{p['batchId']}")
                at += ms / 1000
    folded = eventlog.fold(eventlog.read_events(eventlog.app_log(run.eventlog_dir, app_id)))
    first_steady = owner[1 + DRAIN_FILES]  # the batch that took the first timed backlog file

    def steady(desc: str) -> bool:
        m = re.search(r"batch = (\d+)", desc)
        return bool(m) and first_steady is not None and int(m.group(1)) >= progress[first_steady]["batchId"]

    ex = eventlog.total(folded, steady)
    wall = batch_end(progress[-1]) - t_timed
    layer = {f"exec.{k}": ex[k] for k in ("jobs", "stages", "tasks", "task_s", "shuffle_task_s",
                                          "python_task_s", "shuffle_write_mb", "shuffle_read_mb",
                                          "spill_mb", "gc_s", "skew_max")}
    layer["exec.busy_frac"] = ex["task_s"] / (wall * run.cpus)
    layer["sources.scan_task_s"] = ex["scan_task_s"]
    layer["stream.python_task_s"] = ex["python_task_s"]
    layer["bench.trace_overhead_frac"] = harness.trace_overhead(run.state, run.workload, e2e["warm_pass_s"])
    harness.write_json(os.path.join(run.state, "traces", f"{run.workload}-seed{run.seed}.json"), {
        "spans": tr.spans,
        "self_time_s": tr.self_time_by_name(),
        "exec_by_description": folded,
        "e2e_traced": e2e,
    })
    return layer


if __name__ == "__main__":
    # python3 perfbench/stream.py <data dir> <out.parquet>: build the replay table
    sys.path.insert(0, ROOT)
    _build_replay(sys.argv[1], sys.argv[2])
