#!/usr/bin/env python
"""Scaling evidence at a SF where parallelism is measurable (r10 verdict #1).

At sf0.1 the whole suite is task-overhead-bound: the driver's 8-core bench
beats the 32-core one, so local[32] deltas prove nothing about 100 TB.  This
probe re-runs a heavy-hitter slice of the UNCHANGED registry against the
16x-amplified tier (tools/probes/amplified_bench.build_amp_dir — realistic
amplification: entity/order/doc/vector populations grow, dims stay fixed) at
a chosen core count, so an 8-vs-32-core comparison at 16x data measures real
parallel scaling instead of scheduler overhead.

One core count per invocation (Spark local-mode master is static per JVM):

    SPARK_GRAFT_CPUS=32 python tools/probes/scale_evidence.py [AMP] > c32.json
    SPARK_GRAFT_CPUS=8  python tools/probes/scale_evidence.py [AMP] > c8.json

Output: one JSON line {"amp": A, "cpus": C, "queries": {name: {"cold": s,
"warm": s, "rows": n}}}: count() forced, warm best of 2, cold kept — the
row-count timing of BENCH_r01–r11, not perfbench's noop-sink pass.
Results -> SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".."))

from tools.probes.amplified_bench import build_amp_dir, run_slice  # noqa: E402
from pulseboard_spark.session import get_spark  # noqa: E402

# The r10 verdict's heavy hitters (tpch_q2/q3, fuzzy, hard_negatives,
# doc_lm_score, value_drift_psi, media family) plus this round's
# optimization targets and the worst sf0.1 scaling ratios, so the same
# artifact is the before/after evidence for both.
SLICE = [
    "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority",
    "fuzzy_customer_pairs",
    "hard_negatives",
    "doc_lm_score",
    "value_drift_psi",
    "multimodal_features",
    "jpeg_features",
    "resize_media",
    "top_parts_per_brand",
    "dominant_event_type",
    "rfm_scores",
    "user_sessions",
    "ewma",
    "r2_value_spike",
    "inter_event_deltas",
    "bigram_stats",
    "hourly_trending",
]


def main() -> None:
    amp = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    amp_dir = f"/tmp/pb_amp{amp}"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    spark = get_spark(f"pb-scale-build-{cpus}")
    spark.sparkContext.setLogLevel("ERROR")
    build_amp_dir(spark, amp_dir=amp_dir, amp=amp)
    spark.stop()

    spark = get_spark(f"pb-scale-c{cpus}")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.monotonic()
    res = run_slice(spark, amp_dir, SLICE)
    wall = time.monotonic() - t0
    spark.stop()
    print(json.dumps({"amp": amp, "cpus": cpus, "wall": round(wall, 1), "queries": res}))


if __name__ == "__main__":
    main()
