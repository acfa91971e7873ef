#!/usr/bin/env python
"""RocksDB state-store soak: sustained throughput + state-size stability of
the keyed-state rule engine on the production state-store provider.

perfbench's alerts_stream times `alert_rules_stateful` on the default heap
provider; `tests/test_streaming.py` pins RocksDB *result parity* on one
dataset.
What neither measures is the soak: does throughput hold, and does state
stay bounded, over many replay passes on RocksDB with changelog
checkpointing (the 100 TB-state configuration, where keyed state outgrows
executor heaps and per-batch changelogs replace full SST snapshot
uploads)?

Method (a replay-rename harness): warm-up batch excluded, then N_PASSES timed replays of the
sf events through `alert_rules_stateful`.  After each pass, record the
state operator's numRowsTotal (must stay CONSTANT across replays — the
key space repeats, so growth = a state leak) and the provider's memory
metrics.  Run once with the heap provider, once with RocksDB; report
per-pass eps and the state trajectory.

Run: python tools/probes/rocksdb_soak.py  (results → SCALE.md)
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
N_PASSES = 10


def soak(provider: str) -> dict:
    """One full soak in a fresh SparkContext (providers must not share a JVM
    session: the conf is read at query start, and Python-worker residue
    from a prior run skews the measure)."""
    from pulseboard_spark.session import get_spark
    from pulseboard_spark.sources.tables import entity_events
    from pulseboard_spark.streaming.pipeline import use_rocksdb_state
    from pulseboard_spark.streaming.stateful import alert_rules_stateful

    spark = get_spark(f"pb-soak-{provider}")
    if provider == "rocksdb":
        use_rocksdb_state(spark)  # provider + changelog checkpointing
    spark.catalog.clearCache()

    work = tempfile.mkdtemp(prefix=f"pb_soak_{provider}_")
    out = {"provider": provider, "passes": [], "state_rows": [], "state_mem_mb": []}
    try:
        src = f"{work}/events"
        ev = entity_events(spark, SF_DIR)
        n = ev.count()
        ev.write.parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        q = (
            alert_rules_stateful(stream)
            .writeStream.format("noop")
            .option("checkpointLocation", f"{work}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()  # warm-up: state-store init, codegen, workers
            parts = sorted(glob.glob(f"{src}/part-*.parquet"))
            for rep in range(N_PASSES):
                staged = []
                for i, f in enumerate(parts):
                    tmp = f"{src}/.replay-{rep}-{i}.parquet"
                    shutil.copy(f, tmp)
                    staged.append((tmp, f"{src}/replay-{rep}-{i}.parquet"))
                t0 = time.monotonic()
                for tmp, final in staged:
                    os.rename(tmp, final)
                q.processAllAvailable()
                dt = time.monotonic() - t0
                prog = q.lastProgress
                ops = (prog or {}).get("stateOperators") or [{}]
                rows = ops[0].get("numRowsTotal")
                # memoryUsedBytes covers both providers in Spark 4.1: heap
                # reports the loaded-map estimate, RocksDB its tracked total
                # (block cache + memtables + pinned blocks).  The provider's
                # customMetrics expose finer slices (rocksdbSstFileSize,
                # rocksdbPinnedBlocksMemoryUsage, ...) but no single total.
                mem = ops[0].get("memoryUsedBytes", 0)
                out["passes"].append(round(n / dt))
                out["state_rows"].append(rows)
                out["state_mem_mb"].append(round((mem or 0) / 1e6, 1))
                print(
                    f"  [{provider}] pass {rep + 1:2d}/{N_PASSES}: {n / dt:8.0f} eps, "
                    f"state rows={rows}, mem={out['state_mem_mb'][-1]} MB",
                    flush=True,
                )
        finally:
            # stop BEFORE the rmtree below: deleting the source/checkpoint
            # under a running query buries the original error in stream traces
            q.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    return out


def main() -> None:
    results = [soak("heap"), soak("rocksdb")]
    print("\nsummary:")
    for r in results:
        eps = r["passes"]
        mean = sum(eps) / len(eps)
        rows = r["state_rows"]
        print(
            f"  {r['provider']:8s}: mean {mean:8.0f} eps over {len(eps)} passes "
            f"(min {min(eps)}, max {max(eps)}); state rows "
            f"{rows[0]} -> {rows[-1]} ({'FLAT' if rows[0] == rows[-1] else 'GREW'}); "
            f"mem {r['state_mem_mb'][0]} -> {r['state_mem_mb'][-1]} MB"
        )


if __name__ == "__main__":
    main()
