"""Physical-plan hygiene regression tests (SCALE.md contract).

These pin the *shape* of the plans, not the results: filters reach the
parquet scan, projection pruning reaches ReadSchema, shuffle counts don't
silently grow, and Python appears only in the designated Arrow seams.
A refactor that turns a one-shuffle window plan into a join-plus-three
shuffles would pass every value-level test — this file is what fails.
"""

from __future__ import annotations

import re

import pytest

from pulseboard_spark.registry import QUERIES


def _plan(spark, sf_dir, name: str, phase: str = "executedPlan") -> str:
    df = QUERIES[name](spark, sf_dir)
    return getattr(df._jdf.queryExecution(), phase)().toString()


def _read_schemas(plan: str) -> list[str]:
    return re.findall(r"ReadSchema: (struct<[^\n]*)", plan)


def _operative(plan: str) -> str:
    """Plan text with each InMemoryRelation's stored build-plan description
    removed: CacheManager substitution embeds the cached subtree's ORIGINAL
    plan (its FileScan, its AQE Initial Plan copy) as inert text under the
    operative InMemoryTableScan, which double-counts scan substrings."""
    out, skip_indent = [], None
    for line in plan.splitlines():
        # tree depth, counting the ':'/'+-' branch-drawing prefix too —
        # multi-branch treeStrings prefix nested nodes with ':' at column
        # 0, which plain lstrip() would measure as depth 0
        indent = len(line) - len(line.lstrip(" :+-*("))
        if skip_indent is not None:
            if indent > skip_indent:
                continue
            skip_indent = None
        if "InMemoryRelation" in line:
            skip_indent = indent
            continue
        out.append(line)
    return "\n".join(out)


def _cached_scans(plan: str) -> list[str]:
    """Column lists of the operative InMemoryTableScans: what a query
    reads out of the session-cached silvers (pruning and scan counts are
    properties of these scans, not of the silver's own FileScan)."""
    return re.findall(r"InMemoryTableScan \[([^\]]*)\]", _operative(plan))


PY_NODES = re.compile(r"ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas")


def test_q1_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan, "shipdate filter must reach the scan"
    schemas = _read_schemas(plan)
    assert schemas and all("l_comment" not in s for s in schemas), "unused wide column must be pruned"
    # single aggregation shuffle
    assert plan.count("Exchange") - plan.count("ReusedExchange") <= 1


def _window_nodes(plan: str) -> int:
    return len(re.findall(r"\bWindow \[", plan))


def test_trailing_windows_single_key_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "win_trailing_aggs")
    # all five trailing frames share ONE hash partitioning on the key
    hashparts = re.findall(r"hashpartitioning\(entity_id", plan)
    assert len(hashparts) == 1, f"expected one key shuffle, got {len(hashparts)}"
    # one RANGE node for all the frame aggregates and one ROWS node for the
    # three later-peer suffixes (11 nodes when each suffix was a whole-peer
    # window minus a running prefix); the peer node needs one more sort, by
    # (key, ts_us, event_id), and TransposeWindow keeps it above the RANGE
    # node, so two sorts is the floor
    assert _window_nodes(plan) == 2, plan
    # each distinct aggregate is evaluated once: 7 RANGE-frame aggregates
    # (count(1) over 60 s; count(value) over 60 s, 5 m, 1 h; sum(value) over
    # 30 s, 5 m, 1 h) and 3 later-peer ones (count(1), count(value),
    # sum(value)); reusing one as an inline expression listed 9 and 9
    exprs = sorted(
        line.count("windowspecdefinition")
        for line in plan.splitlines()
        if re.search(r"\bWindow \[", line)
    )
    assert exprs == [3, 7], exprs
    assert len(re.findall(r"\bSort \[", plan)) <= 2, plan
    assert not PY_NODES.search(plan), "window layer must stay JVM-side"
    # the entity silver is session-cached (registry.entity_events): the one
    # props regexp runs in the silver build; every consumer must read the
    # cache, and the cached relation itself must not carry raw props
    assert "InMemoryTableScan" in plan, "must consume the cached entity silver"
    for cols in re.findall(r"InMemoryTableScan \[([^\]]*)\]", plan):
        assert "props" not in cols, "raw props must not be a silver column"


def test_alerts_window_group(spark, sf_dir):
    """alerts unions R1/R2/R4 (each over with_trailing_aggs) with R3: the
    later-peer suffixes ride the trailing-window group, so alerts plans
    fewer Window nodes with no extra exchange.  Before that rewrite, at
    sf0.001 and local[8], the operative plan had 13 Window nodes and 5
    exchanges (4 shuffles, 1 broadcast); after it, 6 and 5."""
    plan = _operative(_plan(spark, sf_dir, "alerts"))
    assert plan.count("Exchange") - plan.count("ReusedExchange") == 5, plan
    assert _window_nodes(plan) < 13, plan


def test_rolling_counter_single_key_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "rolling_counter_24h")
    hashparts = re.findall(r"hashpartitioning\(pid", plan)
    assert len(hashparts) == 1, f"expected one (pid,name) shuffle, got {len(hashparts)}"
    assert "Join" not in plan, "rolling counter must be the window form, not a self-join"
    assert not PY_NODES.search(plan)


def test_rules_stay_jvm_side(spark, sf_dir):
    for name in ["r1_velocity_spike", "r4_exfil"]:
        plan = _plan(spark, sf_dir, name)
        assert not PY_NODES.search(plan), f"{name} must compile to pure Catalyst expressions"


def test_ewma_exactly_one_python_seam(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ewma")
    assert len(PY_NODES.findall(plan)) == 1, "EWMA is the single designated Arrow seam"
    assert "MapInPandas" in plan, "EWMA must be the partition-level scan, not per-group apply"


def test_profile_aggs_prune_text(spark, sf_dir):
    scans = _cached_scans(_plan(spark, sf_dir, "text_quality"))
    assert scans and all("source" not in s for s in scans), "unused doc columns pruned"


def test_top20_is_takeordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "top20_profiles")
    assert "TakeOrderedAndProject" in plan, "top-k must not be a global sort"


def _shuffles(plan: str) -> int:
    return len(re.findall(r"Exchange (?:hash|range)partitioning|Exchange SinglePartition", plan))


def test_q7_one_fact_shuffle(spark, sf_dir):
    """q7: dims broadcast; at most the fact join + final agg shuffle."""
    plan = _plan(spark, sf_dir, "tpch_q7_nation_volume")
    assert "GreaterThanOrEqual(l_shipdate" in plan, "shipdate filter must reach the scan"
    assert _shuffles(plan) <= 2
    assert not PY_NODES.search(plan)


def test_q10_topk_no_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q10_returned_items")
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(l_returnflag,R)" in plan, "returnflag filter must reach the scan"


def test_q19_disjunction_stays_codegen(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q19_discounted_revenue")
    assert not PY_NODES.search(plan)
    assert _shuffles(plan) <= 1, "broadcast dim + single final agg"


def test_q22_anti_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q22_dormant_customers")
    assert "LeftAnti" in plan, "NOT EXISTS must plan as an anti join"
    assert "GreaterThanOrEqual(o_orderdate" in plan, "recency filter must reach the orders scan"


def test_hash_sample_no_shuffle(spark, sf_dir):
    """Deterministic sampling is a pure narrow filter over the cached
    documents silver — no exchange outside the silver's own plan."""
    plan = _operative(_plan(spark, sf_dir, "doc_hash_sample"))
    assert "Exchange" not in plan, plan
    assert "Filter" in plan and len(_cached_scans(plan)) == 1


def test_stratified_sample_one_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "stratified_doc_sample")
    assert _shuffles(plan) == 1, "one stratum shuffle feeds the rank window"


def test_top_terms_partial_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "top_terms_per_lang")
    assert plan.count("HashAggregate") >= 2, "term counts must partial-aggregate map-side"
    assert not PY_NODES.search(plan)

def test_q8_semi_prune_broadcasts(spark, sf_dir):
    """q8: region/part prune via broadcast LEFT SEMI (no row widening);
    only the fact⋈orders join and the final agg shuffle."""
    plan = _plan(spark, sf_dir, "tpch_q8_market_share")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert _shuffles(plan) <= 2
    assert not PY_NODES.search(plan)


def test_q12_late_predicate_post_join(spark, sf_dir):
    """q12: the l_shipdate > o_orderdate + 90d predicate spans both sides,
    so it evaluates post-join in codegen; no Python, ≤2 shuffles."""
    plan = _plan(spark, sf_dir, "tpch_q12_late_shipments")
    assert _shuffles(plan) <= 2
    assert not PY_NODES.search(plan)


def test_q16_distinct_after_anti(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q16_supplier_variety")
    assert "LeftAnti" in plan, "NOT IN must plan as a broadcast anti join"
    assert "BroadcastHashJoin" in plan
    assert not PY_NODES.search(plan)


def test_q21_reuses_orderkey_exchange(spark, sf_dir):
    """q21: the per-(order,supplier) agg and the per-order rollup both hash
    on l_orderkey — the rollup and self-join must ride the first shuffle
    (ReusedExchange or AQE equivalent), not re-shuffle the fact."""
    plan = _plan(spark, sf_dir, "tpch_q21_fault_attribution")
    assert "TakeOrderedAndProject" in plan, "top-100 must not be a global sort"
    fact_shuffles = len(re.findall(r"Exchange hashpartitioning\(l_orderkey", plan))
    reused = "ReusedExchange" in plan
    assert reused or fact_shuffles <= 2, plan[:2000]

def test_pack_documents_one_shard_shuffle(spark, sf_dir):
    """Packing is one hash partition on the shard key; text never reaches
    the window (pruned to the token count before the shuffle)."""
    plan = _plan(spark, sf_dir, "pack_documents")
    assert len(re.findall(r"Exchange hashpartitioning\(source", plan)) == 1
    assert not PY_NODES.search(plan)


def test_pii_scrub_zero_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pii_scrub")
    assert _shuffles(plan) == 0, "redaction must be a pure narrow map"
    assert not PY_NODES.search(plan)


def test_inter_event_deltas_lag_not_self_join(spark, sf_dir):
    """Gap stats are lag-over-sorted-frame (linear) — never an as-of
    self-join (quadratic on hot keys).  One (entity,type) shuffle for the
    lag; stats and median both come from one pass over the (type, gap_ms)
    histogram, so the fact is shuffled exactly once."""
    plan = _plan(spark, sf_dir, "inter_event_deltas")
    assert "Join" not in plan, "gaps must come from lag, not a self-join"
    assert len(re.findall(r"Exchange hashpartitioning\(entity_id", plan)) == 1
    assert not PY_NODES.search(plan)


def test_gap_fill_aggregates_before_grid(spark, sf_dir):
    """The raw stream is bucketed per (entity, hour) FIRST; the grid
    explode and ffill window only touch the bucketed table, so grid cost is
    bounded by entities x span-hours, not event volume."""
    plan = _plan(spark, sf_dir, "gap_fill_hours")
    assert "Generate explode" in plan, "grid must come from sequence+explode"
    assert not PY_NODES.search(plan)
    # explode must consume an aggregated child, not the raw scan
    gen = plan[plan.index("Generate explode"):]
    assert "HashAggregate" in gen, "grid spans must be computed from the bucketed aggregate"


def test_standardize_broadcasts_stats(spark, sf_dir):
    """Z-scoring is aggregate-then-broadcast: the fact is scanned once and
    never shuffled for the join; the only keyed exchange is the tiny
    per-type stats aggregation."""
    plan = _plan(spark, sf_dir, "value_outliers")
    assert "BroadcastHashJoin" in plan, "stats must rejoin via broadcast"
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert not PY_NODES.search(plan)


def test_trait_history_windows_share_one_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "trait_history")
    # both window passes (lag collapse, lead/row_number close) must reuse
    # ONE (profile_id, trait) hash partitioning
    hashparts = re.findall(r"hashpartitioning\(profile_id[^)]*trait", plan)
    assert len(hashparts) == 1, f"expected one history shuffle, got {len(hashparts)}"
    assert not PY_NODES.search(plan), "SCD2 pass must stay JVM-side"


def test_value_histogram_broadcasts_stats(spark, sf_dir):
    plan = _plan(spark, sf_dir, "value_histogram")
    assert "BroadcastHashJoin" in plan, "per-type stats must broadcast, never shuffle the fact"
    assert "SortMergeJoin" not in plan
    assert not PY_NODES.search(plan)


def test_inverted_index_groupby_reuses_window_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "inverted_index")
    # (doc_id, term) distinct + term window; the final groupBy(term) must
    # NOT add a third hash exchange
    hashparts = re.findall(r"hashpartitioning\(", plan)
    assert len(hashparts) <= 2, f"expected <=2 hash exchanges, got {len(hashparts)}"
    assert "Join" not in plan


def test_heavy_hitters_window_over_counts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "geo_heavy_hitters")
    # window runs over the aggregated counts table; the share filter must
    # not trigger a join or a Python seam
    assert "Join" not in plan
    assert not PY_NODES.search(plan)
    assert plan.count("Window") == 1


def test_bigram_and_cooccurrence_join_free_pair_gen(spark, sf_dir):
    for name in ["bigram_stats", "term_cooccurrence"]:
        plan = _plan(spark, sf_dir, name)
        assert "SortMergeJoin" not in plan, f"{name}: pair generation must not self-join"
        assert not PY_NODES.search(plan), name


def test_mad_outliers_fact_never_shuffles(spark, sf_dir):
    plan = _plan(spark, sf_dir, "value_mad_outliers")
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert not PY_NODES.search(plan)


def test_value_deciles_two_level_rank_stays_parallel(spark, sf_dir):
    """Equal-frequency binning must NOT run a per-group window ntile (one
    partition per type = 20 TB tasks at scale): the plan ranks with the
    two-level rank (value bins + per-bin row numbers + broadcast offsets),
    with no ntile WindowExec and no SinglePartition exchange anywhere."""
    plan = _plan(spark, sf_dir, "value_deciles")
    # "ntile(" = the window-function call in a WindowExec spec (bare
    # "ntile" would also match unrelated strings in the plan text)
    assert "ntile(" not in plan, "deciles must use the two-level rank, not window ntile"
    assert "SinglePartition" not in plan
    assert not PY_NODES.search(plan)


def test_rfm_large_path_avoids_global_window(spark, sf_dir, monkeypatch):
    """Above the size guard, rfm scoring must rank without an ntile window
    over a global sort, in ONE two-level rank over the unpivoted metrics:
    its offsets window partitions by metric, so no SinglePartition
    exchange is needed at all, and the plan stays small (one chained
    ranking per metric nests each ranking's subtrees: ~10x the text)."""
    from pulseboard_spark.operators import mlprep

    monkeypatch.setattr(mlprep, "MAX_SINGLE_PARTITION_RANK_ROWS", 0)
    plan = _plan(spark, sf_dir, "rfm_scores")
    assert "ntile(" not in plan, "large path must use the two-level rank"
    # a fact-sized gather would add SinglePartition exchanges
    assert plan.count("SinglePartition") <= 3, plan.count("SinglePartition")
    assert not PY_NODES.search(plan)
    # plan size without the silver's own plan, which the text repeats at
    # every reference and which grows with the core count (the spread
    # repartition fires at >= 4 slots): 6,409 chars measured at local[8]
    optimized = _operative(_plan(spark, sf_dir, "rfm_scores", "optimizedPlan"))
    assert "ntile(" not in optimized and len(optimized) <= 8_000, len(optimized)


def test_doc_split_assign_zero_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "doc_split_assign")
    # split assignment is a pure narrow projection — no exchange beyond the
    # loader's one-time spread repartition
    assert len(re.findall(r"hashpartitioning\(", plan)) == 0
    assert not PY_NODES.search(plan)


def test_label_centroids_shuffles_only_label_dim(spark, sf_dir):
    plan = _plan(spark, sf_dir, "label_centroids")
    # triples reduce to (label, dim) map-side; ≤2 hash exchanges total
    assert len(re.findall(r"hashpartitioning\(", plan)) <= 2, plan[:2000]
    assert not PY_NODES.search(plan)


def test_label_noise_broadcasts_centroids(spark, sf_dir):
    plan = _plan(spark, sf_dir, "label_noise_suspects")
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert not PY_NODES.search(plan)


@pytest.mark.parametrize(
    "name", ["similarity_topk", "dedup_embedding", "embedding_decontamination", "hard_negatives"]
)
def test_exact_similarity_one_part_one_scan(spark, sf_dir, name):
    """Under the broadcast ceiling the index is one part: exactly one
    Python scan and no merge window — the part union and the (cosine,
    neighbor_id) merge exist only above the ceiling."""
    plan = _plan(spark, sf_dir, name)
    assert len(PY_NODES.findall(plan)) == 1, name
    assert "Window" not in plan, name


def test_profile_single_scan(spark, sf_dir):
    """profile_table computes every column's census in ONE scan — the
    whole point vs the oracle's N UNION branches."""
    plan = _plan(spark, sf_dir, "lineitem_profile")
    assert plan.count("FileScan parquet") == 1, "profiling must not rescan per column"
    assert not PY_NODES.search(plan)


def test_token_length_histogram_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "token_length_histogram")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert not PY_NODES.search(plan)


def test_doc_lm_score_reads_corpus_once(spark, sf_dir):
    """LM counts, firsts, and vocab must all derive from the cached pair
    table — the corpus must not be re-scanned per LM component."""
    plan = _plan(spark, sf_dir, "doc_lm_score")
    assert plan.count("InMemoryTableScan") >= 3, "pair table not reused"
    assert not PY_NODES.search(plan)


def test_event_transitions_single_fact_shuffle(spark, sf_dir):
    """The lag window is the only fact-sized exchange; the pair rollup and
    the per-from_type total run over the ≤|types|² counts table."""
    plan = _plan(spark, sf_dir, "event_transitions")
    hashparts = re.findall(r"hashpartitioning\(entity_id", plan)
    assert len(hashparts) == 1, f"expected one entity lag shuffle, got {len(hashparts)}"
    assert "Join" not in plan, "transition matrix must be the lag form, not a self-join"
    assert not PY_NODES.search(plan)


def test_ngram_novelty_single_scan(spark, sf_dir):
    """Ownership is a window over the shingle partitioning, not a
    groupBy+self-join — one scan of the documents silver, no join."""
    plan = _operative(_plan(spark, sf_dir, "ngram_novelty"))
    scans = _cached_scans(plan)
    assert len(scans) == 1, f"novelty must read ONE source, saw {scans}"
    assert "Join" not in plan
    assert not PY_NODES.search(plan)


def test_doc_keywords_single_scan_pipeline(spark, sf_dir):
    plan = _plan(spark, sf_dir, "doc_keywords")
    scans = _cached_scans(plan)
    assert len(scans) == 1, "tf and df must share one corpus scan"
    assert "Join" not in plan, "doc_freq is a count window over tf, not a join"
    assert not PY_NODES.search(plan), "keyword extraction must stay JVM-side"
    assert "source" not in scans[0], "unused columns pruned"


def test_quality_funnel_single_scan(spark, sf_dir):
    plan = _operative(_plan(spark, sf_dir, "quality_funnel"))
    assert len(_cached_scans(plan)) == 1, "all stage predicates ride one scan"
    # md5 window shuffle + two-phase global agg; nothing else
    assert plan.count("Exchange") - plan.count("ReusedExchange") <= 3
    assert not PY_NODES.search(plan)


def test_event_paths_single_entity_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "event_paths_topk")
    hashparts = re.findall(r"hashpartitioning\(entity_id", plan)
    assert len(hashparts) == 1, f"expected one entity shuffle, got {len(hashparts)}"
    assert "Join" not in plan, "paths come from lag windows, not self-joins"
    assert not PY_NODES.search(plan)


def test_label_cohesion_no_pair_explosion(spark, sf_dir):
    plan = _plan(spark, sf_dir, "label_cohesion")
    # the label-pair join must run on the tiny cached per-(label, dim)
    # table — broadcast, never a corpus-sized sort-merge
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert plan.count("InMemoryTableScan") >= 2, "both join sides must read the per-dim cache"
    assert not PY_NODES.search(plan), "cohesion is integer Column algebra, no Python seam"


def test_pq_codes_broadcast_only(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pq_codes")
    # assignment is one Arrow pass with broadcast codebooks: no shuffle of
    # raw vectors at all
    assert "Exchange hashpartitioning" not in plan, "code assignment must not shuffle vectors"
    assert PY_NODES.search(plan), "assignment runs in the designated Arrow seam"


def test_key_skew_audit_prunes_to_key_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "key_skew_audit")
    schemas = _read_schemas(plan)
    assert schemas, "expected parquet scans"
    # each audit scan must read ONLY its key column — the audit of a
    # 100 TB fact must not drag fact payloads through the scan
    for s in schemas:
        n_fields = s.count(":")
        assert n_fields == 1, f"audit scan reads more than the key: {s}"


def test_cusum_single_designated_seam(spark, sf_dir):
    plan = _plan(spark, sf_dir, "cusum_changepoints")
    # exactly one Python seam: the keyed integer scan
    assert len(PY_NODES.findall(plan)) == 1, "cusum must have exactly the one Arrow scan"
    # the (mu, h) parameter table joins broadcast — never a corpus SMJ
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_time_to_return_rides_entity_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "time_to_return")
    assert not PY_NODES.search(plan), "return-time stats must stay JVM-side"
    # the gap table is cached and BOTH consumers (histogram quantiles,
    # returning-entity count) must read the cache — textual scan/exchange
    # counts are unreliable here because InMemoryRelation definitions
    # re-print their build plans, so the cache-consumption signal is the
    # robust one.  The entity-attribute join itself runs on aggregated,
    # co-partitioned inputs; an SMJ there is the correct scale shape.
    assert plan.count("InMemoryTableScan") >= 2, "both consumers must read the gaps cache"


def test_doc_repetition_single_scan(spark, sf_dir):
    """Lines and bigrams must ride ONE corpus scan (the kind-tagged
    explode) — a regression to two aggregation subtrees doubles text IO,
    which is the whole cost at 100 TB."""
    plan = _plan(spark, sf_dir, "doc_repetition")
    assert len(_cached_scans(plan)) == 1, "documents must be scanned once"
    assert "Join" not in plan, "kinds must split via conditional aggregates, not a join"
    assert not PY_NODES.search(plan)


def test_open_orders_timeline_shape(spark, sf_dir):
    """One scan per input; the global running-sum window must sit above
    the day-grain aggregate (SinglePartition over metadata-sized rows),
    never above the fact."""
    plan = _plan(spark, sf_dir, "open_orders_timeline")
    assert plan.count("FileScan parquet") == 2, "orders + lineitem each scanned once"
    # the single-partition exchange must consume the day rollup, not raw
    # spans: the day-hash aggregate exchange must appear BELOW (after, in
    # the printed tree) the SinglePartition window exchange
    sp = plan.index("SinglePartition")
    assert "hashpartitioning(day" in plan[sp:], (
        "running sum must run over the per-day aggregate"
    )
    assert not PY_NODES.search(plan)


def test_label_balance_single_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "label_balance")
    assert len(_cached_scans(plan)) == 1, "embeddings must be scanned once"
    assert not PY_NODES.search(plan)


def test_burst_windows_window_over_rollup(spark, sf_dir):
    """The RANGE window must consume the (type, hour) count grid — the
    raw fact must never reach a window frame."""
    plan = _plan(spark, sf_dir, "burst_windows")
    assert len(_cached_scans(plan)) == 1
    # exactly one aggregate below the window
    w = plan.index("Window")
    assert "HashAggregate" in plan[w:], "window must sit above the hourly rollup"
    assert not PY_NODES.search(plan)


def test_embedding_dim_stats_one_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "embedding_dim_stats")
    hashparts = re.findall(r"hashpartitioning\(pos", plan)
    assert len(hashparts) == 1, f"expected one dim shuffle, got {len(hashparts)}"
    assert "Join" not in plan
    assert not PY_NODES.search(plan)


def test_split_leakage_reuses_pair_silver(spark, sf_dir):
    """The verified pair graph is the memoized session silver — the plan
    must read the checkpointed RDD, not rebuild MinHash from documents."""
    plan = _plan(spark, sf_dir, "split_leakage")
    assert "Scan ExistingRDD" in plan, "must consume the localCheckpointed pair silver"
    # every documents scan is id-only (split hashing): a scan reading the
    # text column would mean the MinHash pipeline is being rebuilt
    scans = _cached_scans(plan)
    assert scans
    for cols in scans:
        assert "text" not in cols, f"corpus text rescanned: {cols}"


def test_mixture_plan_single_corpus_scan(spark, sf_dir):
    """mixture_plan reduces the corpus once; every later step (fair share,
    caps, water-filling) must run over the |sources|-row table only."""
    plan = _plan(spark, sf_dir, "mixture_plan")
    assert len(_cached_scans(plan)) == 1, "allocation math must not rescan the corpus"
    assert not PY_NODES.search(plan)


def test_contrastive_pairs_no_cartesian(spark, sf_dir):
    """Negative mining must stay a window + anti-join — never a cross
    product over documents."""
    plan = _plan(spark, sf_dir, "contrastive_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert not PY_NODES.search(plan)


def test_quality_calibration_rollup_shape(spark, sf_dir):
    plan = _plan(spark, sf_dir, "quality_calibration")
    assert "CartesianProduct" not in plan
    assert not PY_NODES.search(plan)


def test_doc_chunks_zero_shuffle(spark, sf_dir):
    """The chunker is pure map-side work: no hash/range shuffle and no
    aggregation — the only allowed Exchange is the loader's round-robin
    input spread (sources/tables._SPREAD_TABLES), which exists for every
    documents consumer."""
    plan = _plan(spark, sf_dir, "doc_chunks")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan
    assert not PY_NODES.search(plan)


def test_purchase_attribution_single_entity_shuffle(spark, sf_dir):
    """Both attribution models ride ONE RANGE frame over one entity-key
    partitioning — a second hashpartitioning exchange means the models
    stopped sharing the sort."""
    plan = _plan(spark, sf_dir, "purchase_attribution")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert not PY_NODES.search(plan)


def test_cohort_ltv_no_broadcast_of_user_table(spark, sf_dir):
    """The cohort week is a window-min, not a broadcast of the unbounded
    per-user first-week table."""
    plan = _plan(spark, sf_dir, "cohort_ltv")
    assert "BroadcastHashJoin" not in plan and "BroadcastExchange" not in plan
    assert not PY_NODES.search(plan)


def test_amplified_tier_builder_smoke(spark, tmp_path, sf_dir):
    """tools/probes/amplified_bench.py must keep building runnable
    amplified directories: 2x sf0.001, two registry queries re-run
    against it, row counts scale exactly (replica keys are disjoint, so
    per-doc outputs double and identity components double)."""
    import sys as _sys
    from pathlib import Path as _P

    _sys.path.insert(0, str(_P(__file__).resolve().parents[1] / "tools" / "probes"))
    import amplified_bench as ab

    from pulseboard_spark.registry import QUERIES

    amp_dir = str(tmp_path / "amp2")
    ab.build_amp_dir(spark, base=sf_dir, amp_dir=amp_dir, amp=2)
    base_tq = QUERIES["text_quality"](spark, sf_dir).count()
    assert QUERIES["text_quality"](spark, amp_dir).count() == 2 * base_tq
    # doc-grain output doubles exactly (replica doc_ids are disjoint);
    # identity components deliberately do NOT double — the 7 anon hub ids
    # are shared across replicas by the CDP derivation, which makes the
    # amplified graph a hub-skew stressor rather than 2x the components
    base_de = QUERIES["dedup_exact"](spark, sf_dir).count()
    assert QUERIES["dedup_exact"](spark, amp_dir).count() == 2 * base_de


def test_fuzzy_neighborhood_plan_shape(spark, sf_dir):
    """The FastSS path must be an equi-join ON (blk, variant) — no
    cartesian, no nation-only join (which would re-create the quadratic
    hot block) — with levenshtein staying JVM-side."""
    plan = _plan(spark, sf_dir, "fuzzy_customer_pairs")
    assert "CartesianProduct" not in plan
    assert "variant" in plan, "join must include the deletion-variant key"
    assert "levenshtein" in plan, "distance filter must be the JVM function"
    assert not PY_NODES.search(plan), "fuzzy matching must stay codegen'd"


def _second_build_jobs(spark, sf_dir, name: str) -> int:
    """Spark jobs run by the SECOND build of a query's raw (unmemoized)
    builder.  The first build warms the session memo (silvers, checkpoints,
    probes, indexes), so only work that every build repeats is counted."""
    import uuid

    fn = QUERIES[name]
    raw = getattr(fn, "_raw", fn)
    raw(spark, sf_dir)
    sc = spark.sparkContext
    group = f"second-build:{name}:{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        raw(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_query_plan_memo_semantics(spark, sf_dir):
    """The final-DF plan memo (r10) must stay a PLAN memo, not a result
    cache: same session+corpus returns the same constructed DataFrame
    (skipping ~0.1s of driver-side expression building), every action on
    it still executes, a hit re-persists the dropped silvers, and
    construction-compute queries are never memoized.  The store keys a
    corpus by its absolute path and one clear drops every entry."""
    import os

    from pulseboard_spark import registry, session

    # (a) memo hit: same object per (session, corpus) — and the count
    # still runs a real job each time (it's a plan, not a result)
    a = QUERIES["revenue_wow"](spark, sf_dir)
    b = QUERIES["revenue_wow"](spark, sf_dir)
    assert a is b
    assert a.count() == b.count() > 0
    ent = registry.entity_events(spark, sf_dir)
    sl = ent.storageLevel
    assert sl.useMemory or sl.useDisk, "the entity silver is persisted"

    # (b) a memo hit after clearCache re-persists the dropped silvers
    spark.catalog.clearCache()
    sl = ent.storageLevel
    assert not (sl.useMemory or sl.useDisk)
    assert QUERIES["revenue_wow"](spark, sf_dir) is a
    sl = ent.storageLevel
    assert sl.useMemory or sl.useDisk, "silver must be re-persisted on memo hit"

    # (c) construction-compute queries build fresh every call; rfm_scores
    # and value_deciles construct job-free once the session memo is warm
    # (measured on a second raw build), so they memoize like any other
    # query and every action still recomputes from the source
    assert _second_build_jobs(spark, sf_dir, "rfm_scores") == 0
    assert _second_build_jobs(spark, sf_dir, "value_deciles") == 0
    assert _second_build_jobs(spark, sf_dir, "ivf_topk") > 0
    r1 = QUERIES["ivf_topk"](spark, sf_dir)
    r2 = QUERIES["ivf_topk"](spark, sf_dir)
    assert r1 is not r2
    m1 = QUERIES["rfm_scores"](spark, sf_dir)
    m2 = QUERIES["rfm_scores"](spark, sf_dir)
    assert m1 is m2
    assert m1.count() == m2.count() > 0

    # (d) the hit-path re-persist must ONLY restore persisted silvers:
    # the plan-only memos (silver:profiles IS cdp_profiles' own output)
    # must never be persisted — that would serve a query's warm runs from
    # a cache of its own result
    for _ in range(3):
        QUERIES["cdp_profiles"](spark, sf_dir).count()
    for (_, _, kname), (df, _) in session._MEMO.items():
        if kname in ("silver:profiles", "silver:evprof"):
            sl = df.storageLevel
            assert not (sl.useMemory or sl.useDisk), f"{kname} must stay plan-only"

    # (e) a relative and an absolute path to one corpus share one entry:
    # the identity components are checkpointed once, not twice
    rel = os.path.relpath(sf_dir)
    assert registry._components(spark, rel) is registry._components(
        spark, os.path.abspath(sf_dir)
    )

    # (f) one clear drops every entry, the trained PQ codebooks included
    cb = registry._pq_codebooks(spark, sf_dir)
    assert registry._pq_codebooks(spark, sf_dir) is cb
    session.clear()
    assert registry._pq_codebooks(spark, sf_dir) is not cb


@pytest.mark.slow
def test_construction_compute_matches_second_build_jobs(spark, sf_dir):
    """``registry._CONSTRUCTION_COMPUTE`` (the queries never memoized) is
    exactly the set whose second raw build still runs jobs — measured over
    every registry query, not derived by hand."""
    from pulseboard_spark.registry import _CONSTRUCTION_COMPUTE

    measured = {n for n in QUERIES if _second_build_jobs(spark, sf_dir, n) > 0}
    assert measured == _CONSTRUCTION_COMPUTE
