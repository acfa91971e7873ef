"""Zero-row inputs must degrade, never crash (probe: tools/probes/empty_input.py).

At warehouse scale an empty slice is routine — a day with no events, a
tenant with no documents, a filter matching nothing.  The full 182-query
sweep lives in the probe; this pins the four operators the round-6 sweep
actually caught crashing (both similarity trainers died on an empty seed
collect: the 1-D seed matrix hit ``M.shape[1]``) plus one representative
per other family, cheap enough for the default gate.
"""

from __future__ import annotations

import os

import pytest

from pulseboard_spark.parity import TABLE_NAMES
from pulseboard_spark.registry import QUERIES

REGRESSION = ["ivf_topk", "pq_codes", "pq_topk_rerank", "hard_negatives"]
REPRESENTATIVES = [
    "similarity_topk", "dedup_minhash", "identity_components",
    "cdp_profiles", "ewma", "user_sessions", "text_quality",
    "tpch_q1_pricing_summary",
]


@pytest.fixture(scope="module")
def empty_dir(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("empty_sf"))
    for t in TABLE_NAMES:
        df = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        df.limit(0).coalesce(1).write.parquet(os.path.join(out, f"{t}.parquet"))
    return out


def _run_empty(spark, empty_dir, name):
    # the session memo would hand back another test's sf-dir artifacts
    from pulseboard_spark.session import clear

    clear()
    assert QUERIES[name](spark, empty_dir).count() == 0


@pytest.mark.parametrize("name", REGRESSION)
def test_zero_row_input_does_not_crash(spark, empty_dir, name):
    _run_empty(spark, empty_dir, name)


@pytest.mark.parity  # family representatives; the probe sweeps all 182
@pytest.mark.parametrize("name", REPRESENTATIVES)
def test_zero_row_input_representatives(spark, empty_dir, name):
    _run_empty(spark, empty_dir, name)
