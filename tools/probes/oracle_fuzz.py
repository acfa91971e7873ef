#!/usr/bin/env python
"""Randomized-input oracle fuzz: the driver's DuckDB-parity gate replayed
on adversarial mutations of the testdata.

The round-6 hypothesis fuzz found two real divergences by varying DATA
(not layout) against the stateful kernels.  This probe applies the same
idea to the whole oracle-checked BATCH registry: mutate the sf tables
into input classes the fixed generator never produces, then run every
(Spark plan, DuckDB oracle) pair on the SAME mutated parquet.  Both
engines read identical bytes, so any mismatch is a semantic divergence
between the plan and its oracle on data the driver could legally ship —
exactly the class the fixed-testdata green cannot rule out.

Profiles (seeded; every mutation is deterministic in the seed):

- nulls: NULLs injected into nullable non-key columns (value, props,
  user_id, acctbal, mktsegment, totalprice, quantities, text, lang,
  labels, whole embedding vectors).  Exercises null-skip (P3), null
  grouping, LWW null-trait ordering, null-text shingling.
- ties:  timestamps snapped to a coarse grid (intra-key same-ts runs —
  the per-arrival tie contract on arbitrary data), colliding event_ids
  (W1 dedup beyond the generator's 5%), cloned documents/embeddings/
  customer names, quantized values (equal-value top-k tie-breaks).
- edges: empty/whitespace/1-char documents, zero and duplicate and
  huge-norm vectors, label skew, one hot user (30% of events), huge and
  negative values, orphan orders / widowed lineitems (outer-join
  semantics), supplier cut to 2 rows.
- unicode: CJK/RTL/emoji/combining-mark text spliced into documents,
  names, and props — Spark's Java string stack vs DuckDB's utf8proc on
  lower()/length()/regex classes/split.

Any FAIL here is a finding to fix in the operator or the oracle (pick
the reference's semantics), then pin — the round-6 protocol.

Run: python tools/probes/oracle_fuzz.py [seed [sf_src [profile...]]]
Results recorded in SCALE.md ("Randomized-input oracle fuzz").
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

DEFAULT_SEED = 7
DEFAULT_SF_SRC = "/root/testdata/sf0.001"
DEFAULT_PROFILES = ["nulls", "ties", "edges", "unicode"]
OUT_ROOT = "/tmp/pb_oracle_fuzz"

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _null_out(rng, df, col, frac):
    """Set a seeded fraction of col to NULL (object dtype so pandas keeps
    ints as ints elsewhere; the arrow cast back to the source schema
    restores the exact type with nulls)."""
    n = len(df)
    k = int(n * frac)
    if k == 0:
        return
    idx = rng.choice(n, size=k, replace=False)
    col_vals = df[col].astype(object)
    col_vals.iloc[idx] = None
    df[col] = col_vals


def _mutate_nulls(rng, tabs):
    ev = tabs["events"]
    _null_out(rng, ev, "value", 0.10)
    _null_out(rng, ev, "props", 0.10)   # k=NULL -> geo/device/name NULL
    _null_out(rng, ev, "user_id", 0.03)  # null entity key
    _null_out(rng, ev, "event_type", 0.03)
    cu = tabs["customer"]
    _null_out(rng, cu, "c_acctbal", 0.10)
    _null_out(rng, cu, "c_mktsegment", 0.10)
    od = tabs["orders"]
    _null_out(rng, od, "o_totalprice", 0.08)
    _null_out(rng, od, "o_orderpriority", 0.08)
    li = tabs["lineitem"]
    _null_out(rng, li, "l_quantity", 0.05)
    _null_out(rng, li, "l_discount", 0.05)
    dc = tabs["documents"]
    _null_out(rng, dc, "text", 0.05)
    _null_out(rng, dc, "lang", 0.05)
    em = tabs["embeddings"]
    _null_out(rng, em, "embedding", 0.02)
    _null_out(rng, em, "label", 0.05)


def _mutate_ties(rng, tabs):
    ev = tabs["events"]
    # compress the whole stream into a 4-hour span, then snap half the
    # rows to a 10-minute grid: long exact same-(user, ts) runs inside
    # every trailing window — max per-arrival tie pressure
    t0 = ev["ts"].min()
    ev["ts"] = t0 + (ev["ts"] - t0) % pd.Timedelta(hours=4)
    ev["ts"] = ev["ts"].dt.floor("10s")
    coarse = rng.choice(len(ev), size=len(ev) // 2, replace=False)
    snapped = ev["ts"].dt.floor("10min")
    ev.loc[ev.index[coarse], "ts"] = snapped.iloc[coarse]
    # NO event_id collisions: event_id uniqueness is the silver-table
    # contract — the streaming W1 dedup gate (dropDuplicatesWithinWatermark
    # at ingest) guarantees it, and batch views legitimately assume it
    # rather than paying a dedup shuffle in every query.  A first run that
    # DID collide ids broke 18 queries both ways (oracle joins on
    # (ts_us, event_id) fan out; DuckDB's event-scoped identity edges
    # bridge unrelated users), confirming the contract is load-bearing.
    # W1 itself is exercised by the CDP derivation's own k%20 duplicate
    # injection and the dedicated dedup operators.
    # quantize values: equal-value ties in top-k / thresholds
    ev["value"] = (ev["value"] / 25).round() * 25
    dc = tabs["documents"]
    src = rng.choice(len(dc), size=len(dc) // 10, replace=False)
    dst = rng.choice(len(dc), size=len(dc) // 10, replace=False)
    dc.loc[dc.index[dst], "text"] = dc["text"].iloc[src].to_numpy()
    dc["n_chars"] = dc["text"].str.len().astype("int64")
    em = tabs["embeddings"]
    src = rng.choice(len(em), size=len(em) // 10, replace=False)
    dst = rng.choice(len(em), size=len(em) // 10, replace=False)
    em.loc[em.index[dst], "embedding"] = em["embedding"].iloc[src].to_numpy()
    cu = tabs["customer"]
    src = rng.choice(len(cu), size=len(cu) // 20, replace=False)
    dst = rng.choice(len(cu), size=len(cu) // 20, replace=False)
    cu.loc[cu.index[dst], "c_name"] = cu["c_name"].iloc[src].to_numpy()
    li = tabs["lineitem"]
    li["l_quantity"] = (li["l_quantity"] % 5).round() + 1.0
    li["l_shipdate"] = li["l_shipdate"].dt.floor("D")
    tabs["orders"]["o_totalprice"] = (
        tabs["orders"]["o_totalprice"] / 1000).round() * 1000


def _mutate_edges(rng, tabs):
    dc = tabs["documents"]
    n = len(dc)
    empty = rng.choice(n, size=max(1, n // 20), replace=False)
    ws = rng.choice(n, size=max(1, n // 33), replace=False)
    one = rng.choice(n, size=max(1, n // 33), replace=False)
    text = dc["text"].astype(object)
    text.iloc[empty] = ""
    text.iloc[ws] = "   \t  "
    text.iloc[one] = "x"
    dc["text"] = text
    dc["n_chars"] = dc["text"].str.len().astype("int64")
    em = tabs["embeddings"]
    dim = len(em["embedding"].iloc[0])
    vecs = em["embedding"].astype(object)
    z = rng.choice(len(em), size=max(1, len(em) // 50), replace=False)
    for i in z:
        vecs.iloc[i] = np.zeros(dim, dtype=np.float32)
    dup = rng.choice(len(em), size=max(1, len(em) // 50), replace=False)
    v0 = np.asarray(em["embedding"].iloc[0], dtype=np.float32)
    for i in dup:
        vecs.iloc[i] = v0.copy()
    # 1e3× is the documented micro-quantization domain ceiling (SCALE.md
    # "Numeric input-domain contract"); beyond it the int64 micro² outputs
    # saturate and BOTH engines fail loudly — pinned by
    # tests/test_operators.py::TestNumericDomain, not fuzzed here
    vecs.iloc[int(rng.integers(len(em)))] = (v0 * 1e3).astype(np.float32)
    em["embedding"] = vecs
    em.loc[em.index[rng.choice(len(em), size=len(em) // 3, replace=False)],
           "label"] = np.int32(3)
    ev = tabs["events"]
    hot = rng.choice(len(ev), size=len(ev) // 3, replace=False)
    ev.loc[ev.index[hot], "user_id"] = 7
    # 1e9 is the documented |value| domain ceiling for the exact-integer
    # ppm surfaces (autocorr products saturate DECIMAL(38)/INT128 beyond
    # it, and double round()ing at 1e12 drifts in the last ulp between
    # engines); out-of-domain loud failure is pinned by
    # tests/test_operators.py::TestNumericDomain
    big = rng.choice(len(ev), size=5, replace=False)
    ev.loc[ev.index[big], "value"] = 1.0e9
    neg = rng.choice(len(ev), size=5, replace=False)
    ev.loc[ev.index[neg], "value"] = -42.5
    od = tabs["orders"]
    orphan = rng.choice(len(od), size=len(od) // 10, replace=False)
    od.loc[od.index[orphan], "o_custkey"] = 999_999
    li = tabs["lineitem"]
    widow = rng.choice(len(li), size=len(li) // 10, replace=False)
    li.loc[li.index[widow], "l_orderkey"] = 888_888
    tabs["supplier"] = tabs["supplier"].iloc[:2].copy()


def _mutate_unicode(rng, tabs):
    """Non-ASCII text: real corpora are full of it, and the engines'
    string stacks differ (Spark = Java String/ICU semantics, DuckDB =
    utf8proc) — lower(), length(), regexp classes, and split can all
    legally diverge.  Mixes CJK (no spaces), emoji, combining accents,
    the Turkish dotted İ (Java lower() yields i + COMBINING DOT ABOVE),
    RTL Arabic, and multi-byte padding into documents and customer
    names."""
    snippets = [
        "ÅNGSTRÖM straße Über ÇELIK İstanbul",          # case-fold traps
        "日本語のテキストは空白なしで続きます",              # CJK, no spaces
        "مرحبا بالعالم هذا نص عربي",                     # RTL
        "emoji 🎉🚀 mixé Café naïve rôle",               # emoji + accents
        "éléphant å",                  # combining marks
        "ΚΑΛΗΜΕΡΑ ΣΟΦΟΣ τέλος",                          # Greek final sigma
    ]
    dc = tabs["documents"]
    n = len(dc)
    text = dc["text"].astype(object)
    pick = rng.choice(n, size=n // 3, replace=False)
    for j, i in enumerate(pick):
        base = snippets[j % len(snippets)]
        # splice unicode into existing ASCII text so word/shingle paths
        # see BOTH alphabets in one doc
        text.iloc[i] = base + " " + (text.iloc[i] or "")[:120] + " " + base
    dc["text"] = text
    dc["n_chars"] = dc["text"].str.len().astype("int64")
    cu = tabs["customer"]
    cpick = rng.choice(len(cu), size=len(cu) // 5, replace=False)
    cname = cu["c_name"].astype(object)
    for j, i in enumerate(cpick):
        cname.iloc[i] = "Müller#" + str(900000 + j) + ("ß" if j % 2 else "İ")
    cu["c_name"] = cname
    ev = tabs["events"]
    epick = rng.choice(len(ev), size=len(ev) // 10, replace=False)
    props = ev["props"].astype(object)
    for i in epick:
        props.iloc[i] = '{"k": 7, "note": "héllo 日本 🎉"}'
    ev["props"] = props


def _mutate_combined(rng, tabs):
    """All four classes stacked (ties → edges → unicode → nulls): cross-
    class interactions — e.g. a NULL value on a tie-dense hot user, or a
    unicode doc later nulled — that no single profile produces."""
    _mutate_ties(rng, tabs)
    _mutate_edges(rng, tabs)
    _mutate_unicode(rng, tabs)
    _mutate_nulls(rng, tabs)


MUTATORS = {
    "nulls": _mutate_nulls,
    "ties": _mutate_ties,
    "edges": _mutate_edges,
    "unicode": _mutate_unicode,
    "combined": _mutate_combined,
}


def make_fuzzed_dir(profile: str, seed: int, sf_src: str, out_root: str) -> str:
    """Mutate sf_src's tables per profile and write schema-identical
    single-file parquet into out_root/<profile>-<seed>."""
    out = os.path.join(out_root, f"{profile}-{seed}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng(seed)
    tabs, schemas = {}, {}
    for t in TABLES:
        path = os.path.join(sf_src, f"{t}.parquet")
        schemas[t] = pq.ParquetFile(path).schema_arrow
        tabs[t] = pd.read_parquet(path)
    MUTATORS[profile](rng, tabs)
    # Invariant: n_chars is derived from text (NULL text -> NULL n_chars).
    # Recomputed HERE, after the whole mutator chain, because profile
    # order matters in `combined` (_mutate_nulls runs last and would
    # otherwise leave text=NULL rows with a stale non-NULL n_chars,
    # under-testing the consistency that n_chars-derived surfaces assume).
    dc = tabs["documents"]
    dc["n_chars"] = dc["text"].str.len().astype("Int64")
    for t in TABLES:
        # cast back through the SOURCE schema: identical logical types
        # (timestamp[us], int32, list<float>) on both engines' readers
        schema = pa.schema([f.with_nullable(True) for f in schemas[t]])
        table = pa.Table.from_pandas(tabs[t], schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(out, f"{t}.parquet"))
    return out


def main(argv: list[str]) -> int:
    """``argv`` = [seed [sf_src [profile...]]].  Runs the parity gate on
    each profile's mutation of sf_src; 1 when any query diverges.  The
    memo and the silver cache are cleared between profiles: each profile
    reads a different directory."""
    seed = int(argv[0]) if argv else DEFAULT_SEED
    sf_src = argv[1] if len(argv) > 1 else DEFAULT_SF_SRC
    profiles = argv[2:] or DEFAULT_PROFILES
    from pulseboard_spark.parity import run_all
    from pulseboard_spark.session import clear, get_spark

    spark = get_spark("pb-oracle-fuzz")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    bad = []
    for profile in profiles:
        fdir = make_fuzzed_dir(profile, seed, sf_src, OUT_ROOT)
        clear()
        spark.catalog.clearCache()
        t_p = time.time()
        results = run_all(spark, fdir)
        fails = [r for r in results if not r.ok]
        print(f"# profile {profile} seed {seed}: {len(results) - len(fails)}"
              f"/{len(results)} parity-OK in {time.time() - t_p:.0f}s", flush=True)
        for r in fails:
            print(f"FAIL [{profile}] {r.name}: {r.detail} "
                  f"(spark={r.spark_rows}, duck={r.duck_rows})", flush=True)
            bad.append((profile, r.name))
    print(f"\ntotal {time.time() - t0:.0f}s, seed {seed}, src {sf_src}, "
          f"{len(bad)} failures")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
