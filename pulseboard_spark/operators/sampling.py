"""Deterministic sampling operators for training-data pipelines.

Random sampling (``df.sample``) is nondeterministic across retries,
partitionings, and engines — useless for reproducible corpus construction
at 100 TB, where a sample must be re-derivable bit-for-bit months later.
These operators replace randomness with a content hash:

* :func:`hash_bucket` / :func:`hash_sample` — keep a row iff
  ``md5(key) mod 100 < pct``.  A pure narrow filter: NO shuffle, no state,
  trivially pushdown-adjacent, and the decision for a row never changes as
  the corpus grows (stable sampling — the property random sampling lacks).
* :func:`stratified_sample` — an exact per-stratum budget: rank rows
  within each stratum by (hash, key) and keep the first N.  One shuffle on
  the stratum key; the hash order is a uniform permutation, so the head-N
  is a uniform N-sample, reproducible everywhere.

Both mirror verbatim into ANSI SQL (md5 + hex parse), so the driver's
DuckDB oracle checks them exactly — the point being that "sampling" here
is a deterministic function of the data, not of the engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hash_int(col: Column) -> Column:
    """First 15 hex digits of md5 as a non-negative long (< 2^60) — the
    shared uniform hash both engines compute identically."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def hash_bucket(col: Column, buckets: int = 100) -> Column:
    return (hash_int(col) % buckets).cast("int")


def hash_sample(df: DataFrame, key: str, pct: int) -> DataFrame:
    """Deterministic ~pct% sample: rows whose hash bucket < pct."""
    return df.withColumn("bucket", hash_bucket(F.col(key))).filter(
        F.col("bucket") < pct
    )


def stratified_sample(
    df: DataFrame, stratum: str, key: str, n_per_stratum: int
) -> DataFrame:
    """Exact N-per-stratum deterministic sample: hash-ordered head of each
    stratum (ties on the raw key, which is unique per row)."""
    w = Window.partitionBy(stratum).orderBy(hash_int(F.col(key)), F.col(key))
    return (
        df.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= n_per_stratum)
    )


def train_val_test_split(df: DataFrame, key: str) -> DataFrame:
    """Deterministic corpus split assignment: the first 10 hash buckets
    are 'test', the next 10 'val', the rest 'train'.

    Same stable-hash contract as :func:`hash_sample`: a document's split
    never changes as the corpus grows or repartitions, membership is
    re-derivable bit-for-bit by any engine, and the three sets are
    disjoint and exhaustive by construction — the property that actually
    prevents test-set leakage across pipeline re-runs.  Pure narrow
    projection, zero shuffle.
    """
    b = hash_bucket(F.col(key))
    split = (
        F.when(b < 10, F.lit("test"))
        .when(b < 20, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("bucket", b).withColumn("split", split)
