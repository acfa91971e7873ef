#!/usr/bin/env python
"""Degenerate-input sweep: every registry query over ZERO-ROW tables.

At 100 TB there is always an empty slice — a day with no events, a
tenant with no documents, a filter that matches nothing feeding a
downstream operator.  Operators must degrade to an empty (or
well-defined aggregate) result, never crash: a driver-side
`max()`/`first()` on an empty frame, a k-means on zero vectors, or a
seed row the fixpoint assumes exists are the classic failures.

The probe writes a schema-identical zero-row twin of every testdata
table, runs ALL registry queries against it, and reports any exception.
Queries are allowed to return zero or more rows (global-aggregate
shapes legitimately return one row of nulls/zeros); they are not
allowed to raise.

Run: python tools/probes/empty_input.py   (results -> SCALE.md)
"""

from __future__ import annotations

import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

BASE = os.environ.get("PB_EMPTY_BASE", "/root/testdata/sf0.001")


def main() -> int:
    from pulseboard_spark.parity import TABLE_NAMES
    from pulseboard_spark.registry import QUERIES
    from pulseboard_spark.session import get_spark

    spark = get_spark("pb-empty-input")
    spark.sparkContext.setLogLevel("ERROR")

    empty_dir = tempfile.mkdtemp(prefix="pb_empty_sf_")
    for t in TABLE_NAMES:
        src = os.path.join(BASE, f"{t}.parquet")
        df = spark.read.parquet(src)
        df.limit(0).coalesce(1).write.parquet(os.path.join(empty_dir, f"{t}.parquet"))

    failures, t0 = [], time.time()
    for name, q in QUERIES.items():
        try:
            n = q(spark, empty_dir).count()
        except Exception as exc:
            failures.append((name, f"{type(exc).__name__}: {str(exc).splitlines()[0][:160]}"))
            print(f"FAIL {name}: {failures[-1][1]}", flush=True)
        else:
            if name == "rule_firing_alerts":
                assert n == 12  # self-contained fixture ignores the sf dir
    print(f"\n{len(QUERIES) - len(failures)}/{len(QUERIES)} queries survive zero-row input "
          f"({time.time() - t0:.0f}s)")
    for name, detail in failures:
        print(f"  {name}: {detail}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
