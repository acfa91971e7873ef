"""EWMA — the one order-dependent per-key scan in the rule layer (A6).

Reference: `core/WindowStore.kt:106-132` — per (entityId, type):
    state absent  → state = value            (so ewma_1 = α·v1 + (1-α)·v1 = v1)
    update        → ewma = α·v + (1-α)·ewma_prev
R2 reads the *updated* EWMA for its threshold (`core/Rules.kt:65-74`).

A per-key linear recurrence can't be expressed as a built-in window
aggregate, so this is a designated Python escape hatch — but shaped as ONE
partition-level pass, not one pandas group per key: repartition on the key,
sort within partitions by (key, ts, event_id), then a single ``mapInPandas``
scan that carries per-key state in a dict across rows and Arrow batches.
Grouped ``applyInPandas`` was measured 100× slower here purely on per-group
Arrow/pandas overhead (~9k groups of ~11 rows at sf0.1); the recurrence
itself is trivial.

Only (key, order, event_id, value) crosses the Python seam and only
(event_id, ewma) comes back; null-value rows never enter Python at all
(the reference skips them — `core/Rules.kt:66` — and the left join
re-attaches them with null ewma).  The re-attach join keys on event_id
ALONE, which is correct under the stream contract (event_id is the
stream-wide unique id — W1 dedups on it) and cheaper than a composite
key; inputs that violate the contract with duplicate ids will
cross-contaminate here, by design surfaced rather than masked.

Scale posture: shuffle on (entity_id, type) only; each key's scan is
sequential (inherent), keys parallelize across partitions.  The per-row
dict loop is O(partition rows) single-pass; on a real 100 TB deployment the
inner loop is the piece to swap for a numba/cython kernel — the plan shape
(repartition → sortWithinPartitions → mapInPandas) is already the scalable
one.  For monster keys, the algebraic form ewma_n = Σ α(1-α)^{n-i}·v_i
admits a segmented-scan formulation; not needed at this state size.
"""

from __future__ import annotations

from decimal import Decimal

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: The EWMA weight of the newest value (`core/WindowStore.kt:106-132`).
ALPHA = 0.1
# Decimal complement, not 1.0 - ALPHA: for α = 0.1 the binary result of
# 1.0 - 0.1 (0.8999999999999999…) is a DIFFERENT double from the parsed
# literal 0.9 the SQL oracle uses, and over a long recurrence the ulp
# drift can flip a round-to-6 boundary (it did, at sf0.01).
BETA = float(Decimal(1) - Decimal(str(ALPHA)))
#: The per-key scan's key: one EWMA state per (entity_id, type).
KEY = ("entity_id", "type")


def with_ewma(df: DataFrame) -> DataFrame:
    """Append per-event ``ewma`` (post-update value) over non-null
    ``value``s.

    Rows with null ``value`` pass through with null ewma — the reference
    skips them entirely (`core/Rules.kt:66`).
    """
    narrow = (
        df.filter(F.col("value").isNotNull())
        .select(*KEY, "ts_us", "event_id", F.col("value").cast("double").alias("__v"))
    )
    id_type = dict(narrow.dtypes)["event_id"]

    def _scan(batches):
        state: dict = {}
        for pdf in batches:
            v = pdf["__v"].to_numpy(dtype="float64")
            kcols = [pdf[c].to_numpy() for c in KEY]
            e = np.empty(len(v), dtype="float64")
            get = state.get
            for i in range(len(v)):
                k = tuple(kc[i] for kc in kcols)
                prev = get(k)
                cur = v[i] if prev is None else ALPHA * v[i] + BETA * prev
                state[k] = cur
                e[i] = cur
            pdf["ewma"] = e
            yield pdf[["event_id", "ewma"]]

    ewma_rows = (
        narrow.repartition(*KEY)
        .sortWithinPartitions(*KEY, "ts_us", "event_id")
        .mapInPandas(_scan, schema=f"event_id {id_type}, ewma double")
    )
    return df.join(ewma_rows, "event_id", "left")


def ewma_scan(df: DataFrame, carry: list[str] = (), clustered: bool = False) -> DataFrame:
    """Fused EWMA scan over the NON-NULL-value rows only — the shape both
    declared consumers actually need (`ewma_q` and R2 both filter
    ``value IS NOT NULL`` immediately after :func:`with_ewma`, discarding
    the null rows the left join re-attached).

    Instead of computing ewma on a narrow side table and joining it back
    on event_id (which re-shuffles BOTH sides of the join by event_id —
    two extra Exchanges on top of the scan's own repartition), the listed
    ``carry`` columns ride through the Arrow pass and come back alongside
    ``ewma``: zero joins, and with ``clustered=True`` zero added shuffles.

    ``clustered=True`` skips the repartition: the caller guarantees the
    input is already hash-clustered by ``KEY`` (e.g. the output
    of :func:`~pulseboard_spark.operators.windows.with_trailing_aggs`,
    whose window Exchange partitions by the same keys — AQE coalescing
    merges whole partitions so key-locality survives it).  Only the local
    per-partition sort remains.

    Identical EWMA values to :func:`with_ewma`: the scan sees exactly the
    same rows in the same (key, ts_us, event_id) order, so every per-key
    state sequence is unchanged; the re-attach join keyed on the unique
    event_id is replaced by in-row pass-through (equality pinned by
    TestEwmaScan and the unchanged ewma/r2 oracles)."""
    passthrough = [c for c in carry if c not in KEY]
    sel = (
        [F.col(c) for c in KEY]
        + [F.col(c) for c in passthrough if c not in ("ts_us", "event_id")]
        + [F.col("ts_us"), F.col("event_id")]
        + [F.col("value").cast("double").alias("value")]
    )
    narrow = df.filter(F.col("value").isNotNull()).select(*sel)
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in narrow.schema.fields
    ) + ", ewma double"

    def _scan(batches):
        state: dict = {}
        for pdf in batches:
            v = pdf["value"].to_numpy(dtype="float64")
            kcols = [pdf[c].to_numpy() for c in KEY]
            e = np.empty(len(v), dtype="float64")
            get = state.get
            for i in range(len(v)):
                k = tuple(kc[i] for kc in kcols)
                prev = get(k)
                cur = v[i] if prev is None else ALPHA * v[i] + BETA * prev
                state[k] = cur
                e[i] = cur
            pdf["ewma"] = e
            yield pdf

    shaped = narrow if clustered else narrow.repartition(*KEY)
    return shaped.sortWithinPartitions(*KEY, "ts_us", "event_id").mapInPandas(
        _scan, schema=schema
    )
