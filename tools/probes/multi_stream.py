#!/usr/bin/env python
"""Multi-query streaming: the production shape nothing else measures.

Every streaming soak in the repo (perfbench's alerts_stream,
rocksdb_soak.py, stream_keygroups.py) runs ONE stateful query at a time.  Production runs
the anomaly rules, the CDP profile builder, and the segment differ
CONCURRENTLY on one SparkContext — three `applyInPandasWithState`
queries competing for the same local[32] task slots, Python workers, and
state-store memory.  Two questions:

1. **Correctness under concurrency**: with all three running, does each
   twin still equal its batch oracle?  (Scheduler interleaving must not
   leak through the keyed-state contract.)
2. **Interference**: how much per-query throughput does co-residency
   cost vs the solo number?  (At 100 TB this decides
   whether the three pipelines share a cluster or get their own.)

Method: phase 1 feeds each query its real input once (memory sinks) and
set-compares against the batch operators — the same assertions as
tests/test_streaming.py, now under concurrency.  Phase 2 re-runs with
noop sinks and a replay-rename harness, timing N passes of
alerts SOLO and then N passes with ALL THREE replaying simultaneously;
each pass replays every source and waits for all queries to drain.

Run: python tools/probes/multi_stream.py  (results -> SCALE.md)
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_PASSES = 3

from pyspark.sql import functions as F  # noqa: E402


def _write_sources(spark, work: str):
    """Materialize the three real inputs; returns {name: (src_dir, schema, n_rows)}."""
    from pulseboard_spark.operators.segments import segment_membership, with_segments_array
    from pulseboard_spark.registry import _evprof
    from pulseboard_spark.sources.generator import rule_firing_events
    from pulseboard_spark.sources.tables import entity_events

    out = {}
    # Union the engineered firing fixture: the testdata alone never trips
    # R1/R2/R4, so without it the phase-1 alert equality is empty==empty.
    ev = entity_events(spark, SF_DIR).unionByName(rule_firing_events(spark))
    ev.write.parquet(f"{work}/entity")
    out["alerts"] = (f"{work}/entity", ev.schema, ev.count())

    prof = _evprof(spark, SF_DIR).select(
        "profile_id", "ts_us", "ts_ms", "event_id", "ctype", "name", "plan", "country",
        "nuser", "nanon", "nemail",
    )
    prof.write.parquet(f"{work}/cdp")
    out["profiles"] = (f"{work}/cdp", prof.schema, prof.count())

    # snapshot series: membership at mid and at end (the same two snapshot
    # times the batch segment_events diffs), streamed mid-chunk first
    e = _evprof(spark, SF_DIR)
    bounds = e.agg(
        F.max("ts_ms").alias("end_ms"),
        (F.min("ts_ms") + F.floor((F.max("ts_ms") - F.min("ts_ms")) / 2)).cast("long").alias("mid_ms"),
    ).collect()[0]
    snaps = []
    for i, as_of in enumerate((bounds["mid_ms"], bounds["end_ms"])):
        m = with_segments_array(
            segment_membership(e.filter(F.col("ts_ms") <= as_of), F.lit(as_of).cast("long"))
        ).select(
            "profile_id", "segments", F.lit(as_of).cast("long").alias("ts_ms"),
        )
        m.coalesce(1).write.parquet(f"{work}/snaps/chunk={i}")
        snaps.append(m)
    n_snap = sum(s.count() for s in snaps)
    out["segments"] = (f"{work}/snaps/chunk=*", snaps[0].schema, n_snap)
    return out, bounds


def _start(spark, name: str, src, schema, ckpt: str, sink: str, ordered: bool = False,
           trigger_s: float | None = None):
    from pulseboard_spark.streaming.stateful import (
        alert_rules_stateful,
        profile_apply_stateful,
        segment_diff_stateful,
    )

    op = {"alerts": alert_rules_stateful, "profiles": profile_apply_stateful,
          "segments": segment_diff_stateful}[name]
    reader = spark.readStream.schema(schema)
    if ordered:  # snapshot series must arrive mid-chunk before end-chunk
        reader = reader.option("maxFilesPerTrigger", "1")
    w = op(reader.parquet(src)).writeStream.option("checkpointLocation", ckpt)
    if trigger_s is not None:
        w = w.trigger(processingTime=f"{trigger_s} seconds")
    if sink == "memory":
        return w.format("memory").queryName(f"mq_{name}").outputMode("append").start()
    return w.format("noop").start()


def phase1_equality(spark, work: str, sources, bounds) -> None:
    from pulseboard_spark.operators import rules
    from pulseboard_spark.operators.profiles import build_profiles
    from pulseboard_spark.operators.segments import segment_events
    from pulseboard_spark.registry import _evprof
    from pulseboard_spark.sources.tables import entity_events

    queries = [
        _start(spark, n, sources[n][0], sources[n][1], f"{work}/ckpt1/{n}", "memory",
               ordered=(n == "segments"))
        for n in ("alerts", "profiles", "segments")
    ]
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()

    from pulseboard_spark.sources.generator import rule_firing_events

    got_alerts = {tuple(r) for r in spark.sql(
        "SELECT rule, entity_id, ts_ms, severity, event_id FROM mq_alerts").collect()}
    want_alerts = {tuple(r) for r in
                   rules.alerts(entity_events(spark, SF_DIR).unionByName(rule_firing_events(spark)))
                   .filter(F.col("rule") != "R3_GEO_DEVICE_MISMATCH")
                   .select("rule", "entity_id", "ts_ms", "severity", "event_id").collect()}
    assert want_alerts, "firing fixture missing: alert equality would be empty==empty"
    assert got_alerts == want_alerts, (
        f"alerts diverged under concurrency: missing={list(want_alerts - got_alerts)[:3]} "
        f"extra={list(got_alerts - want_alerts)[:3]}")

    last = {}
    for r in spark.sql("SELECT * FROM mq_profiles").collect():
        last[r.profile_id] = r  # memory sink appends in batch order; later wins
    batch = {r.profile_id: r for r in build_profiles(_evprof(spark, SF_DIR)).collect()}
    assert set(last) == set(batch), "profile id sets diverged under concurrency"
    for pid, b in batch.items():
        assert last[pid].last_seen_ms == b.last_seen_ms, pid
        assert last[pid].plan == b.plan, pid

    got_seg = {(r.profile_id, r.segment, r.action)
               for r in spark.sql("SELECT * FROM mq_segments").collect()
               if r.ts_ms == bounds["end_ms"]}  # end-batch rows = the mid->end diff
    want_seg = {(r.profile_id, r.segment, r.action)
                for r in segment_events(_evprof(spark, SF_DIR)).collect()}
    assert got_seg == want_seg, (
        f"segment diff diverged: missing={list(want_seg - got_seg)[:3]} "
        f"extra={list(got_seg - want_seg)[:3]}")
    print("# phase 1: all three twins equal their batch oracles under concurrency", flush=True)


def _replay_pass(sources_to_replay, rep: int) -> None:
    for src_dir in sources_to_replay:
        parts = sorted(glob.glob(f"{src_dir}/part-*.parquet")) or sorted(
            glob.glob(f"{src_dir.replace('chunk=*', '')}/chunk=*/part-*.parquet"))
        staged = []
        for i, f in enumerate(parts):
            d = os.path.dirname(f)
            tmp, final = f"{d}/.replay-{rep}-{i}.parquet", f"{d}/replay-{rep}-{i}.parquet"
            shutil.copy(f, tmp)
            staged.append((tmp, final))
        for tmp, final in staged:
            os.rename(tmp, final)


def phase2_throughput(spark, work: str, sources) -> dict:
    res = {}
    for mode, names in (("solo", ["alerts"]), ("concurrent", ["alerts", "profiles", "segments"])):
        queries = {
            n: _start(spark, n, sources[n][0], sources[n][1], f"{work}/ckpt2/{mode}/{n}", "noop")
            for n in names
        }
        rows_per_pass = sum(sources[n][2] for n in names)
        try:
            for q in queries.values():
                q.processAllAvailable()  # warm: initial data + state init
            passes = []
            for rep in range(N_PASSES):
                t0 = time.monotonic()
                _replay_pass([sources[n][0] for n in names], rep)
                for q in queries.values():
                    q.processAllAvailable()
                dt = time.monotonic() - t0
                passes.append(rows_per_pass / dt)
                print(f"#   {mode} pass {rep}: {rows_per_pass / dt:.0f} rows/s aggregate", flush=True)
        finally:
            for q in queries.values():
                q.stop()
        res[mode] = {
            "mean_rows_per_s": round(sum(passes) / len(passes)),
            "passes": [round(p) for p in passes],
            "rows_per_pass": rows_per_pass,
        }
    return res


def _lat_parts(src_dir: str) -> list[str]:
    return sorted(glob.glob(f"{src_dir}/part-*.parquet")) or sorted(
        glob.glob(f"{src_dir.replace('chunk=*', '')}/chunk=*/part-*.parquet"))


#: --tuned sizing (SCALE.md "The latency dial, measured"): each query's
#: state-partition count ~ its active key-groups per batch.  alerts keeps
#: the parent 32 (thousands of (entity,type) groups — starving it was
#: measured 4.9s -> 9.1s); profile/segment-grained queries run at 8.
TUNED_PARTITIONS = {"alerts": None, "profiles": 8, "segments": 8}


def phase3_latency(spark, work: str, sources, n_ticks: int = 30, trigger_s: float = 1.0,
                   sizing: dict[str, int | None] | None = None) -> dict:
    """BASELINE.md's visibility-latency contract, measured: with the three
    stateful queries running CONCURRENTLY at a 1 s processing-time trigger,
    how long from an input file LANDING to its batch's output COMMIT?

    The feed is deliberately sub-capacity (one source part-file per query
    per second — a few thousand rows/s against a measured ~33k eps solo
    ceiling), so the number is visibility latency (trigger wait + batch
    execution), not queue depth.  Event timestamps in the replayed data
    are historical, so arrival→commit is the honest proxy for the
    reference's event→SSE-visibility number (its clock also starts at
    ingest, `cdp/runtime/CdpEventProcessor.kt`).

    Per staged file: latency = (trigger_start + triggerExecution) − stage
    time, where trigger_start is the first data-carrying progress entry at
    or after the stage time — read from each query's recentProgress log."""
    from datetime import datetime, timezone

    from pulseboard_spark.streaming.pipeline import scheduler_pool, sized_session

    names = ["alerts", "profiles", "segments"]
    queries = {}
    for n in names:
        # per-query state sizing: the source must be built on the sized
        # session (a plan binds the session that created it); under FAIR,
        # one on-demand pool per query so no query's task flood queues
        # another's batches behind it (inert under FIFO)
        sess = sized_session(spark, sizing[n]) if sizing and sizing.get(n) else spark
        with scheduler_pool(spark, f"pool_{n}"):
            queries[n] = _start(sess, n, sources[n][0], sources[n][1],
                                f"{work}/ckpt3/{n}", "noop", trigger_s=trigger_s)
    try:
        for q in queries.values():
            q.processAllAvailable()  # absorb initial data + state warm-up
        stage_ts: list[float] = []
        for k in range(n_ticks):
            t0 = time.time()
            for n in names:
                parts = _lat_parts(sources[n][0])
                f = parts[k % len(parts)]
                d = os.path.dirname(f)
                tmp, final = f"{d}/.lat-{k}.parquet", f"{d}/lat-{k}.parquet"
                shutil.copy(f, tmp)
                os.rename(tmp, final)
            stage_ts.append(time.time())  # visible from the rename on
            time.sleep(max(0.0, trigger_s - (time.time() - t0)))
        for q in queries.values():
            q.processAllAvailable()

        lat: dict[str, list[float]] = {}
        batch_ms: dict[str, list[float]] = {}
        for n, q in queries.items():
            progs = []
            for p in q.recentProgress:
                ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
                start = ts.replace(tzinfo=timezone.utc).timestamp()
                dur = p["durationMs"].get("triggerExecution", 0) / 1e3
                progs.append((start, dur, p["numInputRows"]))
            progs.sort()
            batch_ms[n] = [d * 1e3 for _, d, rows in progs if rows > 0]
            lat[n] = []
            for s in stage_ts:
                hit = next(((st, d) for st, d, rows in progs if rows > 0 and st >= s), None)
                if hit:
                    lat[n].append(hit[0] + hit[1] - s)
    finally:
        for q in queries.values():
            q.stop()

    def pct(xs, p):
        xs = sorted(xs)
        return xs[min(len(xs) - 1, int(p * len(xs)))] if xs else float("nan")

    out = {}
    for n in names:
        out[n] = {
            "n": len(lat[n]),
            "p50_s": round(pct(lat[n], 0.50), 2),
            "p95_s": round(pct(lat[n], 0.95), 2),
            "max_s": round(max(lat[n]), 2) if lat[n] else None,
            "batch_p95_ms": round(pct(batch_ms[n], 0.95)),
        }
        print(f"#   latency {n}: p50 {out[n]['p50_s']}s p95 {out[n]['p95_s']}s "
              f"max {out[n]['max_s']}s (batch p95 {out[n]['batch_p95_ms']}ms, "
              f"{out[n]['n']} staged files)", flush=True)
    return out


def _print_latency(lat: dict) -> None:
    print("\n| query (concurrent, 1 s trigger) | p50 visibility | p95 | max | batch p95 |")
    print("|---|---|---|---|---|")
    for n, r in lat.items():
        print(f"| {n} | {r['p50_s']}s | {r['p95_s']}s | {r['max_s']}s | {r['batch_p95_ms']}ms |")
    worst = max(r["p95_s"] for r in lat.values())
    print(f"\nworst p95 arrival->commit visibility {worst}s vs the <=~6s contract "
          f"-> {'PASS' if worst <= 6 else 'ATTENTION'}")


def main() -> None:
    from pulseboard_spark.session import get_spark

    spark = get_spark("pb-multi-stream", fair="--fair" in sys.argv)
    if "--fair" in sys.argv:
        print("# scheduler: FAIR (one pool per streaming query)", flush=True)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="pb_multistream_")
    try:
        sources, bounds = _write_sources(spark, work)
        for n, (_, _, cnt) in sources.items():
            print(f"# source {n}: {cnt} rows", flush=True)
        if "--latency-only" in sys.argv:
            # optional dial: state-store partition count (binds at first
            # query start from spark.sql.shuffle.partitions — fresh
            # checkpoints here, so the override takes).  Fewer partitions
            # = fewer tasks + Python workers per micro-batch = a lower
            # per-batch latency floor, at the cost of max parallelism —
            # the trigger-size/partition-count trade quantified.
            for a in sys.argv:
                if a.startswith("--shuffle="):
                    spark.conf.set("spark.sql.shuffle.partitions", a.split("=", 1)[1])
                    print(f"# shuffle partitions = {a.split('=', 1)[1]}", flush=True)
            sizing = TUNED_PARTITIONS if "--tuned" in sys.argv else None
            for a in sys.argv:  # e.g. --parts=alerts:16,profiles:8,segments:8
                if a.startswith("--parts="):
                    sizing = {
                        k: (int(v) or None)
                        for k, v in (kv.split(":") for kv in a.split("=", 1)[1].split(","))
                    }
            if sizing:
                print(f"# per-query state partitions (sized_session): {sizing}", flush=True)
            # host load before and after, so a latency table carries its
            # own host context
            print(f"# load start: {os.getloadavg()}", flush=True)
            lat = phase3_latency(spark, work, sources, sizing=sizing)
            print(f"# load end: {os.getloadavg()}", flush=True)
            _print_latency(lat)
            return
        phase1_equality(spark, work, sources, bounds)
        if "--phase1-only" in sys.argv:
            return
        res = phase2_throughput(spark, work, sources)
        solo, conc = res["solo"], res["concurrent"]
        # alerts' share of the concurrent aggregate, rows-weighted
        alerts_rows = sources["alerts"][2]
        share = alerts_rows / conc["rows_per_pass"]
        print("\n| mode | rows/pass | mean aggregate rows/s | passes |")
        print("|---|---|---|---|")
        for mode in ("solo", "concurrent"):
            r = res[mode]
            print(f"| {mode} | {r['rows_per_pass']:,} | {r['mean_rows_per_s']:,} | {r['passes']} |")
        eff_alerts = conc["mean_rows_per_s"] * share
        print(
            f"\nalerts solo {solo['mean_rows_per_s']:,} rows/s; rows-weighted alerts share "
            f"under concurrency ~{eff_alerts:,.0f} rows/s "
            f"({eff_alerts / solo['mean_rows_per_s'] * 100:.0f}% of solo)"
        )
        lat = phase3_latency(spark, work, sources)
        _print_latency(lat)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
