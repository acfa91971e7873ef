"""Driver-surface contract: every registry query must present a SCALAR
surface.

The correctness driver canonicalizes both engines' results through pandas
``sort_values`` → ``astype(str)``; an ArrayType or MapType column images as
ndarray/dict cells and crashes the sort (round-2 Class B; round 3's only
driver crash was exactly this — ``approx_value_quantiles`` surfacing the
raw ``percentile_approx`` array, CORRECTNESS_r03).  The strict oracle
parity sweep enforces scalar surfaces for every ORACLE_SQL query, but
rows-only queries sit OUTSIDE that sweep — which is precisely where the
r03 crash hid.  This test closes the gap mechanically: it walks ALL
registry entries (oracle-checked and rows-only alike) and asserts no
container-typed column at the output schema, so an array surface can
never again reach the driver from any direction.

Schema-only: each query's plan is BUILT (analysis resolves the schema)
but never executed — except that building a plan may run jobs: the
session-memoized artifacts (silvers, checkpoints, probes, indexes) once,
and the registry's ``_CONSTRUCTION_COMPUTE`` queries (iterative trainers,
index builds) on every build; at sf0.001 those are cheap and already
exercised elsewhere in the suite.
"""

from __future__ import annotations

import pytest

from pyspark.sql.types import ArrayType, MapType, StructType

from pulseboard_spark.registry import QUERIES


def test_rows_only_queries_stay_below_hash_window():
    """The driver records a rows-only (no-oracle) query inside the
    front-50 as a FAIL row (r03 burned 5 slots proving it).  Enforce the
    exclusion mechanically — QUERIES.md's label is a doc, not a gate."""
    from pulseboard_spark.registry import ORACLE_SQL

    offenders = [n for n in list(QUERIES)[:50] if n not in ORACLE_SQL]
    assert not offenders, (
        f"rows-only queries inside the driver hash window: {offenders}"
    )


def test_no_container_columns_at_rows_only_surfaces(spark, sf_dir):
    """Fast pin (default gate): the rows-only queries are the ONLY
    registry entries the strict parity sweep does not walk — precisely
    where the r03 array-surface crash hid — so their scalar-surface
    contract must hold in every default-gate run.  The all-registry
    audit below (slow tier) keeps the belt-and-braces sweep."""
    from pulseboard_spark.registry import ORACLE_SQL

    offenders: list[str] = []
    for name, fn in QUERIES.items():
        if name in ORACLE_SQL:
            continue  # covered by the parity sweep every round
        schema = fn(spark, sf_dir).schema
        bad = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders.append(f"{name}: {bad}")
    assert not offenders, (
        "container-typed rows-only surfaces (would crash the driver's "
        "pandas canonicalizer): " + "; ".join(offenders)
    )


@pytest.mark.slow
def test_no_container_columns_at_any_driver_surface(spark, sf_dir):
    offenders: list[str] = []
    for name, fn in QUERIES.items():
        schema = fn(spark, sf_dir).schema
        bad = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders.append(f"{name}: {bad}")
    assert not offenders, (
        "container-typed driver surfaces (would crash the driver's pandas "
        "canonicalizer — string-encode or scalarize them): " + "; ".join(offenders)
    )
