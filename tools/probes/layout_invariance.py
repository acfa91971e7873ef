#!/usr/bin/env python
"""Partition-layout invariance: same answers under any cluster geometry.

A 1000-executor deployment will not run the driver's layout: shuffle
partition counts differ per cluster, input splits differ with file
sizes, and AQE re-plans at runtime.  Every query must produce the SAME
canonical result regardless — floating-point partial-aggregation order,
per-partition Arrow batch slicing, and top-k tie-breaks are the classic
leaks.  The DuckDB oracle gate already implies one-layout-vs-single-node
agreement; this probe varies the layout itself:

- config A (baseline): shuffle.partitions=32, default input splits
- config B: shuffle.partitions=7, maxPartitionBytes=1m (tiny splits →
  many scan tasks, different Arrow batch boundaries)
- config C: shuffle.partitions=61 (prime, > cores)

Every registry query runs under each config (registry memo caches and
the silver cache cleared between configs so nothing reuses a prior
layout's artifacts); results are compared as the driver's canonical
string image.  Oracle-checked queries must match exactly; rows-only
queries (approximate/iterative) are reported but only those documented
as layout-sensitive may differ.

Run: python tools/probes/layout_invariance.py [sf_dir]  (-> SCALE.md)
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

CONFIGS = {
    "A32": {"spark.sql.shuffle.partitions": "32",
            "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
            "spark.sql.adaptive.enabled": "true"},
    "B7tiny": {"spark.sql.shuffle.partitions": "7",
               "spark.sql.files.maxPartitionBytes": str(1024 * 1024),
               "spark.sql.adaptive.enabled": "true"},
    "C61": {"spark.sql.shuffle.partitions": "61",
            "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
            "spark.sql.adaptive.enabled": "true"},
    # AQE off: coalescing, skew-split and broadcast-demotion all disabled —
    # a different physical plan for every shuffle-bearing query.
    "D_noAQE": {"spark.sql.shuffle.partitions": "32",
                "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
                "spark.sql.adaptive.enabled": "false"},
}


def main() -> int:
    from pulseboard_spark.parity import _canon_frame
    from pulseboard_spark.registry import ORACLE_SQL, QUERIES
    from pulseboard_spark.session import clear, get_spark

    spark = get_spark("pb-layout-invariance")
    spark.sparkContext.setLogLevel("ERROR")

    from pulseboard_spark.session import RUNTIME_CONFS

    images: dict[str, dict[str, object]] = {name: {} for name in QUERIES}
    t0 = time.time()
    for cfg_name, confs in CONFIGS.items():
        # Mutate RUNTIME_CONFS, not just the session: every registry query
        # calls tune(), which re-applies RUNTIME_CONFS — setting the session
        # conf alone would be silently clobbered on the first query.
        for k, v in confs.items():
            RUNTIME_CONFS[k] = v
            spark.conf.set(k, v)
        clear()
        spark.catalog.clearCache()
        t_cfg = time.time()
        for name, q in QUERIES.items():
            try:
                images[name][cfg_name] = _canon_frame(q(spark, SF_DIR).toPandas())
            except Exception as exc:  # surface per-query, keep sweeping
                images[name][cfg_name] = f"ERROR: {type(exc).__name__}: {exc}"
        print(f"# config {cfg_name}: {len(QUERIES)} queries in {time.time() - t_cfg:.0f}s",
              flush=True)

    oracle_bad, rowsonly_diff = [], []
    for name, per_cfg in images.items():
        base = per_cfg["A32"]
        diffs = [c for c in CONFIGS if c != "A32" and not (
            isinstance(base, str) or isinstance(per_cfg[c], str)
        ) and not per_cfg[c].equals(base)]
        errs = [c for c in CONFIGS if isinstance(per_cfg[c], str)]
        if errs:
            oracle_bad.append((name, f"errors: {[(c, per_cfg[c]) for c in errs]}"))
        elif diffs:
            (oracle_bad if name in ORACLE_SQL else rowsonly_diff).append((name, diffs))

    n_oracle = sum(1 for n in images if n in ORACLE_SQL)
    print(f"\noracle-checked: {n_oracle - len([b for b in oracle_bad if b[0] in ORACLE_SQL])}"
          f"/{n_oracle} layout-invariant")
    print(f"rows-only divergent: {rowsonly_diff or 'none'}")
    for name, detail in oracle_bad:
        print(f"FAIL {name}: {detail}")
    print(f"total {time.time() - t0:.0f}s at {SF_DIR}")
    spark.stop()
    return 1 if oracle_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
