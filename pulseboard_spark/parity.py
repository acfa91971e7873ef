"""In-repo replica of the driver's DuckDB-oracle comparison.

Runs a registered Spark query and its oracle SQL on the same sf dir and
compares the results THE WAY THE DRIVER DOES: both engines' outputs are
pulled into pandas (``toPandas()`` / ``fetchdf()``), columns sorted by
name, rows sorted by all columns, and every cell compared through its
pandas STRING IMAGE.  This is deliberately strict:

- DuckDB HUGEINT (e.g. ``sum(BIGINT)``, windowed sums, ``//`` quotients)
  images as float64 in pandas, so ``21`` vs ``21.0`` FAILS here exactly
  as it fails the driver's hash (round-2 Class A).
- Any array-typed cell (numpy.ndarray / list) is a hard failure before
  the sort even runs, replicating the driver's
  ``TypeError: unhashable type: 'numpy.ndarray'`` crash (round-2 Class B).

The previous lenient canonicalizer (collapse ``x.0``→``x``, stringify
lists) let 12 driver failures ship green across rounds 1-2; do not
reintroduce leniency here.
Used by tests/test_oracle_parity.py (sf0.001 default, sf0.01 rehearsal).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from pulseboard_spark.registry import QUERIES, ORACLE_SQL

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Views over the sf dir's parquet tables.  A missing table gets no
    view (its queries then fail individually with a clear 'table does not
    exist' — run_all's per-query guard surfaces that instead of the whole
    sweep aborting, since DuckDB binds read_parquet views eagerly)."""
    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):  # Spark-written table (e.g. the amplified tier)
            path = os.path.join(path, "*.parquet")
        path = path.replace("'", "''")
        try:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        except duckdb.Error:
            pass  # absent table: only its own queries fail, later, by name
    return con


def _array_cells(df: pd.DataFrame) -> list[str]:
    """Columns holding unsortable container cells (list/ndarray/dict —
    MapType images as dict) — all of these crash the driver's
    sort_values.  Result columns are homogeneously typed, so the first
    non-null cell decides (no full-column Python scan)."""
    bad = []
    for c in df.columns:
        if df[c].dtype == object:
            probe = next((v for v in df[c] if v is not None), None)
            if isinstance(probe, (list, tuple, dict, np.ndarray)):
                bad.append(c)
    return bad


def _canon_frame(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-style canonical image: lowercase+sorted columns, rows sorted
    by every column, every cell stringified via pandas astype(str)."""
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    cols = sorted(df.columns)
    df = df[cols]
    if len(df):
        df = df.sort_values(by=cols, kind="mergesort")
    return df.reset_index(drop=True).astype(str)


@dataclass
class ParityResult:
    name: str
    ok: bool
    spark_rows: int
    duck_rows: int
    detail: str = ""


def compare(spark: SparkSession, con: duckdb.DuckDBPyConnection, name: str, sf_dir: str) -> ParityResult:
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    ddf = con.execute(ORACLE_SQL[name]).fetchdf()

    s_cols = sorted(c.lower() for c in sdf.columns)
    d_cols = sorted(c.lower() for c in ddf.columns)
    if s_cols != d_cols:
        return ParityResult(name, False, len(sdf), len(ddf), f"columns differ: {s_cols} vs {d_cols}")
    if len(sdf) != len(ddf):
        return ParityResult(name, False, len(sdf), len(ddf), "row count differs")

    # Class B replica: the driver's sort_values crashes on array cells.
    s_bad, d_bad = _array_cells(sdf), _array_cells(ddf)
    if s_bad or d_bad:
        return ParityResult(
            name, False, len(sdf), len(ddf),
            f"array-typed cells would crash the driver: spark={s_bad} duck={d_bad}",
        )

    sc = _canon_frame(sdf)
    dc = _canon_frame(ddf)

    if not sc.equals(dc):
        detail = []
        for c in sc.columns:
            if not sc[c].equals(dc[c]):
                neq = sc[c] != dc[c]
                i = int(np.argmax(neq.to_numpy()))
                detail.append(f"{c}: row {i}: {sc[c].iloc[i]!r} vs {dc[c].iloc[i]!r}")
            if len(detail) >= 3:
                break
        # dtype drift (Class A) shows up as '21' vs '21.0' in the images
        return ParityResult(name, False, len(sdf), len(ddf), "string images differ: " + "; ".join(detail))
    return ParityResult(name, True, len(sdf), len(ddf))


def run_all(spark: SparkSession, sf_dir: str) -> list[ParityResult]:
    """:func:`compare` every oracle-checked query, one result each."""
    con = duck_connection(sf_dir)
    results = []
    for name in [n for n in QUERIES if n in ORACLE_SQL]:
        try:
            results.append(compare(spark, con, name, sf_dir))
        except Exception as exc:  # surface, don't abort the sweep
            results.append(ParityResult(name, False, -1, -1, f"{type(exc).__name__}: {exc}"))
    return results
