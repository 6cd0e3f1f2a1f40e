"""The triple-SF oracle sweep for changed registry entries.

Why three scale factors: the decile_features_events incident — an
interpolated-percentile oracle agreed with DuckDB at sf0.001 AND
sf0.01 and diverged only at sf0.1, where a data value finally landed
within one ulp of an engine-divergent interpolated boundary
(pitfall 17). Two SFs are demonstrably not enough for value-sensitive
operators, so every entry named in CHANGED runs through the
oracle compare (tests/oracle_harness.py) at sf0.001, sf0.01 and sf0.1
on every pytest pass.

Maintenance rule: a change that alters an entry's plan or oracle
replaces CHANGED with the names it changed. The sweep leaves out the
leg at the suite's own scale factor (conftest ``SF_DIR``), which
tests/test_queries_oracle.py already checks for every entry. Legs
whose data directory is absent skip cleanly.
"""

from __future__ import annotations

import os

import pytest

from parquet_export_spark.queries import REGISTRY
from tests.conftest import SF_DIR
from tests.oracle_harness import compare

#: registry entries whose Spark plan or oracle text changed most
#: recently — each swept at all three SFs every pytest run.
CHANGED = [
    "q2_min_balance_supplier",
    "q4_order_priority_exists",
    "q6_forecast_revenue",
    "q7_nation_pair_volume",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q11_important_parts",
    "q12_priority_shipclass",
    "q13_order_count_distribution",
    "q14_promo_revenue_share",
    "q16_supplier_counts",
    "q18_large_orders_having",
    "q19_disjunctive_predicates",
    "q20_heavy_suppliers",
    "q22_inactive_rich_customers",
    "filter_project",
    "join_inner",
    "join_left_nulls",
    "join_semi",
    "join_anti",
    "join_range",
    "set_ops",
    "set_ops_all",
    "sort_limit_offset",
    "agg_distinct",
    "agg_stats",
    "window_running_sum",
    "window_rank_dense",
    "window_range_frame",
    "window_distribution_ranks",
    "scalar_math_funcs",
    "conditional_funcs",
    "null_handling_funcs",
    "unpivot_segment_counts",
    "stats_moments",
    "stats_correlation",
    "stats_higher_moments",
    "weighted_median_price_by_segment",
    "share_of_parent_rollup",
    "hhi_concentration_by_segment",
    "simpson_diversity_by_user",
    "histogram_bins",
    "histogram_equidepth",
    "target_encode_loo",
    "ols_value_by_hour",
    "pareto_frontier_orders",
    "snapshot_diff",
    "dedup_exact",
    "dedup_incremental",
    "lang_id",
    "lang_quality_summary",
    "next_event_examples",
    "event_transition_matrix",
    "funnel_signup_click_purchase",
]

#: the three scale-factor lakes sit side by side with the suite's own.
SWEEP_DIRS = [
    d
    for d in (
        os.path.join(os.path.dirname(SF_DIR), f"sf{sf}")
        for sf in ("0.001", "0.01", "0.1")
    )
    if os.path.realpath(d) != os.path.realpath(SF_DIR)
]


def test_round_changed_names_are_registered_oracles():
    """The list must track real, oracle-bearing registry entries — a
    renamed operator cannot silently drop out of the sweep — and carry
    no duplicates, which would re-run sweep legs for nothing."""
    assert len(CHANGED) == len(set(CHANGED)), sorted(
        n for n in set(CHANGED) if CHANGED.count(n) > 1
    )
    for name in CHANGED:
        assert name in REGISTRY, name
        assert REGISTRY[name].oracle, f"{name} is rows-only"


@pytest.mark.parametrize("sweep_dir", SWEEP_DIRS)
@pytest.mark.parametrize("name", CHANGED)
def test_changed_oracle_sweeps_all_sfs(spark, name, sweep_dir):
    if not os.path.isdir(sweep_dir):
        pytest.skip(f"{sweep_dir} absent")
    spec = REGISTRY[name]
    ok, msg = compare(spark, sweep_dir, spec.fn, spec.oracle)
    assert ok, f"{name} @ {sweep_dir}: {msg}"
