#!/usr/bin/env python
"""Isolated per-query timing: count() forced, warm best of N, for
a subset of queries, plus an optional noop-sink timing (guide §1.4) that
computes every column so sink-independent cost is visible.

Usage: python tools/probes/qtime.py [-n RUNS] [--noop] query [query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".."))

from pulseboard_spark.registry import QUERIES  # noqa: E402
from pulseboard_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("-n", type=int, default=3, help="runs per query (first = cold)")
    ap.add_argument("--noop", action="store_true", help="also time noop-sink writes")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("pulseboard-qtime")
    spark.sparkContext.setLogLevel("ERROR")
    # JIT warm-up on one query before any timing
    QUERIES["tpch_q1_pricing_summary"](spark, sf_dir).count()
    for name in args.queries:
        times, rows = [], 0
        for _ in range(args.n):
            spark.sparkContext.setJobDescription(f"qtime:{name}")
            t0 = time.monotonic()
            rows = QUERIES[name](spark, sf_dir).count()
            times.append(time.monotonic() - t0)
        line = f"{name}: rows={rows} " + " ".join(f"{t:.3f}" for t in times)
        if args.noop:
            nts = []
            for _ in range(args.n):
                spark.sparkContext.setJobDescription(f"qtime-noop:{name}")
                t0 = time.monotonic()
                QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                nts.append(time.monotonic() - t0)
            line += " | noop " + " ".join(f"{t:.3f}" for t in nts)
        print(line)
    spark.stop()


if __name__ == "__main__":
    main()
