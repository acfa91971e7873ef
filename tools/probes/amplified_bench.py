#!/usr/bin/env python
"""64x-amplified bench tier: do the headline plans survive a real scale-up?

The benchmarks measure sf0.1 (100k events / 600k lineitem / 5k docs / 2k
vectors).  Every plan in the repo is *argued* to scale — banding, one
shuffle, broadcast guards — but nothing has *measured* a headline query
above sf0.1.  This probe materializes a 64x-amplified copy of the driver
testdata and re-runs an unchanged registry slice against it, recording
the wall-clock scaling ratio per query.

Amplification is NOT naive duplication — 64 copies of the same corpus
would collapse groupBy cardinality (64x rows into the SAME keys) and
explode the near-dup pair graph (every doc gains 63 exact twins, so
bucket verify work grows 4096x, which no honest corpus exhibits).  Each
replica r instead gets:

  events:     user_id + r*10^7  (entity cardinality scales with volume —
              the reference's workload shape: more traffic = more users),
              event_id + r*10^12
  lineitem/orders: l_orderkey/o_orderkey + r*10^9 (order population
              scales; customers/parts/suppliers stay fixed, so per-dim
              fanout grows 64x — the realistic direction: dims grow far
              slower than facts)
  documents:  doc_id + r*10^9; text passed through a replica-keyed
              letter rotation (Caesar on [a-z] by r%25+1 for r>0) — every
              shingle changes, so MinHash buckets gain ~64x MEMBERS ONLY
              where real cross-doc similarity exists, not 64 exact twins
              per doc
  embeddings: vec_id + r*10^9; deterministic per-(replica,dim) epsilon so
              no two replicas are exact duplicate points

Small dims (region nation customer supplier part) are copied verbatim.

Pass criterion: warm ratio <= AMP on every query (sub-linear is the win —
a super-linear ratio means a plan crossed a cliff: a broadcast that no
longer fits, a window sort that spills, a pair graph that went
quadratic).  Results -> SCALE.md.

Run: python tools/probes/amplified_bench.py [AMP]   (default 64)
"""

from __future__ import annotations

import os
import shutil
import string
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
AMP = 64  # CLI overrides in main(); argv is NOT parsed at import time
AMP_DIR = f"/tmp/pb_amp{AMP}"

# Unchanged registry queries, chosen to cover every plan family the repo
# bets on at scale: scan+agg, fact-fact join, RANGE-frame windows, keyed
# sessionization, the CDP profile pipeline (2 shuffles + as-of), identity
# CC iteration, MinHash banding, Arrow text kernels, and the guarded
# broadcast similarity kernel (128k vectors at 64x — still under the 200k
# ceiling; the >ceiling sliced-broadcast route fires naturally at AMP=128
# and is checksum-pinned against the broadcast answer in SCALE.md).
SLICE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "win_trailing_aggs",
    "rolling_counter_24h",
    "user_sessions",
    "cdp_profiles",
    "identity_components",
    "dedup_minhash",
    "text_quality",
    "similarity_topk",
]

COPY = ["region", "nation", "customer", "supplier", "part"]


def build_amp_dir(spark, base: str = BASE, amp_dir: str = AMP_DIR, amp: int = AMP) -> None:
    from pyspark.sql import functions as F

    if os.path.exists(os.path.join(amp_dir, "_DONE")):
        print(f"# reusing {amp_dir}", file=sys.stderr)
        return
    shutil.rmtree(amp_dir, ignore_errors=True)
    os.makedirs(amp_dir, exist_ok=True)
    for t in COPY:
        shutil.copy(os.path.join(base, f"{t}.parquet"), os.path.join(amp_dir, f"{t}.parquet"))

    rep = spark.range(amp).withColumnRenamed("id", "r")

    ev = spark.read.parquet(os.path.join(base, "events.parquet"))
    (
        ev.crossJoin(rep)
        .select(
            (F.col("event_id") + F.col("r") * F.lit(10**12)).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("r") * F.lit(10**7)).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        .write.mode("overwrite")
        .parquet(os.path.join(amp_dir, "events.parquet"))
    )

    for t, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        df = spark.read.parquet(os.path.join(base, f"{t}.parquet"))
        cols = [
            (F.col(key) + F.col("r") * F.lit(10**9)).alias(key) if c == key else F.col(c)
            for c in df.columns
        ]
        df.crossJoin(rep).select(*cols).write.mode("overwrite").parquet(
            os.path.join(amp_dir, f"{t}.parquet")
        )

    # documents: per-replica Caesar rotation of the letters (identity for
    # r=0).  Built as a union of per-replica selects because translate()
    # needs a constant mapping; |union| = AMP branches over a 5k-row scan
    # is a one-time materialization cost, not a query under test.
    docs = spark.read.parquet(os.path.join(base, "documents.parquet"))
    lower, upper = string.ascii_lowercase, string.ascii_uppercase
    parts = []
    for r in range(amp):
        k = r % 25 + 1 if r else 0
        src, dst = lower + upper, lower[k:] + lower[:k] + upper[k:] + upper[:k]
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(r * 10**9)).alias("doc_id"),
                (F.translate(F.col("text"), src, dst) if k else F.col("text")).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(32).write.mode("overwrite").parquet(os.path.join(amp_dir, "documents.parquet"))

    emb = spark.read.parquet(os.path.join(base, "embeddings.parquet"))
    (
        emb.crossJoin(rep)
        .select(
            (F.col("vec_id") + F.col("r") * F.lit(10**9)).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, i) -> x + cast((r * 31 + i) % 7 - 3 as float) * 1e-4f)"
            ).alias("embedding"),
            "label",
        )
        .write.mode("overwrite")
        .parquet(os.path.join(amp_dir, "embeddings.parquet"))
    )
    Path(os.path.join(amp_dir, "_DONE")).touch()
    print(f"# built {amp_dir}", file=sys.stderr)


def run_slice(spark, sf_dir: str, names: list[str] | None = None) -> dict[str, dict[str, float]]:
    from pulseboard_spark.registry import QUERIES

    res: dict[str, dict[str, float]] = {}
    for name in names or SLICE:
        cold = warm = None
        for run in range(2):
            t0 = time.monotonic()
            n = QUERIES[name](spark, sf_dir).count()
            dt = time.monotonic() - t0
            if run == 0:
                cold = dt
            warm = dt if warm is None else min(warm, dt)
        res[name] = {"cold": round(cold, 2), "warm": round(warm, 2), "rows": n}
        print(f"# {sf_dir.split('/')[-1]} {name}: warm {warm:.2f}s cold {cold:.2f}s rows={n}", file=sys.stderr)
    return res


def main() -> None:
    from pulseboard_spark.session import get_spark

    amp = int(sys.argv[1]) if len(sys.argv) > 1 else AMP
    amp_dir = f"/tmp/pb_amp{amp}"

    spark = get_spark("pb-amp-build")
    spark.sparkContext.setLogLevel("ERROR")
    build_amp_dir(spark, BASE, amp_dir, amp)
    spark.stop()

    # Fresh context per side so silver caches / Python workers from the 1x
    # pass don't subsidize (or crowd) the 64x pass.
    spark = get_spark("pb-amp-base")
    spark.sparkContext.setLogLevel("ERROR")
    base = run_slice(spark, BASE)
    spark.stop()

    spark = get_spark("pb-amp-amp")
    spark.sparkContext.setLogLevel("ERROR")
    amped = run_slice(spark, amp_dir)
    spark.stop()

    print(f"\n| query | 1x warm | {amp}x warm | ratio | 1x cold | {amp}x cold |")
    print("|---|---|---|---|---|---|")
    worst = 0.0
    for name in SLICE:
        b, a = base[name], amped[name]
        ratio = a["warm"] / max(b["warm"], 1e-9)
        worst = max(worst, ratio)
        print(
            f"| {name} | {b['warm']:.2f}s | {a['warm']:.2f}s | {ratio:.1f}x "
            f"| {b['cold']:.2f}s | {a['cold']:.2f}s |"
        )
    verdict = "PASS (sub-linear everywhere)" if worst <= amp else "ATTENTION: super-linear query above"
    print(f"\nworst warm ratio {worst:.1f}x at {amp}x data -> {verdict}")


if __name__ == "__main__":
    main()
