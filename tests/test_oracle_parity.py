"""Every registered query with an oracle must match DuckDB exactly —
the local twin of the driver's CORRECTNESS gate. Default runs at
sf0.001 for speed; set PARITY_SF_DIR=/root/testdata/sf0.01 to replicate
the driver's scale."""

from __future__ import annotations

import zlib

import pytest

from cdc_poc_spark.queries import all_specs

from .conftest import SF_DIR, assert_parity

SPECS = all_specs()
WITH_ORACLE = sorted(n for n, s in SPECS.items() if s.oracle)
ROWS_ONLY = sorted(n for n, s in SPECS.items() if not s.oracle)

# Default-tier parity sample (see pytest.ini): a deterministic ~1/6 of
# the registry (crc32 of the name — stable across runs and machines,
# unlike salted hash()) MINUS the known-heavy parity params (>= 9 s
# each measured r14; they and the rest of the registry run in the full
# suite, and the committed PARITY_SWEEP.json covers all 506 at every
# round close), plus every CORE bench query and every _TOUCHED query —
# those two sets win over the heavy list.
_CORE = {
    "q1_pricing_summary", "q3_shipping_priority", "q13_customer_distribution",
    "cdc_current_state_by_segment", "win_top3_orders_per_customer",
    "tw_session_30min_by_user", "agg_rollup_segment_nation",
    "join_asof_purchase_to_view", "dedup_minhash_lsh_pairs",
    "dedup_cc_clusters", "sim_cosine_topk", "text_bm25_topk",
    "pipeline_corpus_curation", "pipeline_pack_sequences",
    "graph_pagerank_5iter",
}
_HEAVY_PARITY = {
    "pipeline_curation_stream_e2e", "dedup_cc_clusters_lsh",
    "pipeline_leakage_safe_split", "dedup_cc_clusters",
    "pipeline_curation_near_dup_safe", "graph_triangle_stats",
    "dedup_canonical_docs", "dedup_minhash_lsh_recall",
    "dedup_simhash_near_pairs", "dedup_minhash_estimate_accuracy",
    "pipeline_dup_rate_by_source", "pipeline_curation_e2e",
    "dedup_ngram_jaccard_pairs", "dedup_lsh_param_planner",
    "dedup_minhash_lsh_pairs_portable", "sim_ann_opq_topk",
    "pipeline_dedup_tiers_composed", "dedup_substring_index_stream",
    "cdc_materialized_join_view", "cdc_mirror_merge_replay",
    "cdc_materialized_join_agg",
}


# Queries whose code (or the operators they call) the latest change
# touched: the default tier covers them whatever their crc sample.
_TOUCHED = {
    "graph_pagerank_3iter", "graph_label_propagation",
    "graph_modularity_labelprop", "graph_kcore_profile",
    "graph_bfs_distances", "pipeline_bloom_decontaminate",
    # the bucketed mirror merge (cdc.apply.merge_into_parquet_bucketed)
    "cdc_mirror_merge_replay", "cdc_consumer_mirror_state",
    # the co-order edge list (queries.profiling._coorder_part_edges)
    "graph_local_clustering", "graph_linkpred_common_neighbors",
    "graph_degree_assortativity", "graph_linkpred_adamic_adar",
    "graph_boruvka_round", "graph_greedy_matching_round",
    "graph_katz_centrality_2step", "graph_edge_embeddedness",
    "graph_avg_neighbor_degree_curve", "graph_two_hop_reach",
    "graph_rich_club_coefficient", "graph_diamond_census",
    "graph_wcc_minlabel_3round", "graph_ktruss_peel_rounds",
    "agg_morans_i",
}


def _in_default_tier(name: str) -> bool:
    if name in _CORE or name in _TOUCHED:
        return True
    return name not in _HEAVY_PARITY and zlib.crc32(name.encode()) % 6 == 0


@pytest.mark.parametrize(
    "name",
    [
        n if _in_default_tier(n) else pytest.param(n, marks=pytest.mark.slow)
        for n in WITH_ORACLE
    ],
)
def test_oracle_parity(spark, duck, name):
    spec = SPECS[name]
    assert_parity(spec.fn(spark, SF_DIR), duck, spec.oracle, name)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, name):
    """Rows-only queries must at least execute and return a stable schema."""
    df = SPECS[name].fn(spark, SF_DIR)
    assert df.columns  # schema resolves
    df.limit(5).collect()  # plan executes


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_window_history_invariants():
    """WINDOW_HISTORY (VERDICT r7 'What's wrong #3': the hand-edited
    concatenation is now a table with machine-checked invariants) must:
    lead the registry iteration order with the CURRENT round's window;
    name only registered queries (the old builder silently dropped
    unknown names — a typo would shrink the driver's 50-query window);
    keep every window <= 50 and internally duplicate-free; and keep
    windows pairwise disjoint except whitelisted re-oracled entries.
    The structural asserts live inside _window_order() itself — this
    test exercises them plus the ordering contract."""
    from cdc_poc_spark.queries import (
        _REWINDOWED,
        WINDOW_HISTORY,
        _window_order,
        all_specs,
    )

    specs = all_specs()
    order = _window_order()  # raises on any invariant breach
    assert list(specs)[: len(order)] == order
    # rounds strictly descending (newest first — the promotion policy)
    rounds = [r for r, _ in WINDOW_HISTORY]
    assert rounds == sorted(rounds, reverse=True)
    # the whitelist contains no stale entries (names that never dup)
    from collections import Counter

    counts = Counter(n for _, names in WINDOW_HISTORY for n in names)
    dups = {n for n, c in counts.items() if c > 1}
    assert dups == set(_REWINDOWED), (
        f"_REWINDOWED out of sync with WINDOW_HISTORY: dups={dups}, "
        f"whitelist={set(_REWINDOWED)}"
    )
    # current round's window fits the driver check with room noted
    cur_round, cur = WINDOW_HISTORY[0]
    assert len(cur) <= 50
