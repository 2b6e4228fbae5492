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
# unlike salted hash()) plus every CORE bench query, MINUS the
# known-heavy parity params (>= 9 s each measured r14; they and the
# rest of the registry run in the full suite, and the committed
# PARITY_SWEEP.json covers all 506 at every round close).
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
    "pipeline_leakage_safe_split",
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


def _in_default_tier(name: str) -> bool:
    if name in _HEAVY_PARITY:
        return False
    return name in _CORE or zlib.crc32(name.encode()) % 6 == 0


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
