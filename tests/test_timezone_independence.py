"""The driver runs queries under ITS OWN SparkSession, whose session
time zone we don't control. Every timestamp-touching query must give
identical results under any session tz — verified here by re-running
the timestamp-sensitive oracle checks in a newSession pinned to a
non-UTC zone with DST.

Every SQL entry (plan = its oracle text, run by Spark) is checked too,
hand-listed or not: verbatim Spark SQL can read the session zone where
DuckDB does not (an hour bucket of a timestamp shifts by the offset)."""

from __future__ import annotations

import pytest

from parquet_export_spark.queries import REGISTRY
from tests.oracle_harness import compare

TZ_SENSITIVE = [
    "events_hourly_rollup",
    "window_lag_lead",
    "sessionize_batch",
    "asof_purchase_attribution",
    "scalar_date_funcs",
    "date_funcs_extra",
    "funnel_signup_click_purchase",
    "gapfill_daily_revenue",
    "q1_pricing_summary",
    "q12_priority_shipclass",
    "retention_cohorts",
    "event_transition_matrix",
    "scd2_user_state",
    "next_event_examples",
    "event_ohlc",
    "sliding_rollup",
    "incremental_rollup",
    # round-5 timestamp-touching additions
    "interpolate_hourly_values",
    "twap_by_type",
    "rolling_user_features",
    "match_click_bursts",
    "scd2_point_in_time",
    "cusum_alarms",
    # round-6 timestamp-touching additions
    "ewma_halflife_values",
    "pareto_frontier_orders",
    "seasonal_decompose_hourly",
    "interarrival_gap_histogram",
    # round-7 timestamp-touching additions
    "autocorr_hourly_counts",
    "user_path_topk",
    "nearest_event_join",
    "funnel_time_to_convert",
    "weekly_revenue_wow",
    "session_entry_exit",
    "multitouch_attribution",
    "fano_burstiness",
    "rfm_segments",
    "holt_linear_forecast",
    "seasonality_strength_hourly",
    "local_peaks_hourly",
    "user_activity_streaks",
    # round-9 timestamp-touching additions (calendar-component month/
    # week/day/hour keys + the session-artifact probes)
    "dau_mau_stickiness",
    "new_returning_weekly",
    "churn_retention_monthly",
    "kaplan_meier_interorder",
    "session_duration_histogram",
    "session_concurrency_hourly",
    "weekly_mix_drift",
    "forecast_backtest_mase",
]


#: the hand list, then every SQL entry it does not already name
TZ_CASES = TZ_SENSITIVE + [
    n
    for n, spec in REGISTRY.items()
    if getattr(spec.fn, "sql", None) and n not in TZ_SENSITIVE
]


@pytest.fixture(scope="module")
def ny_spark(spark):
    ns = spark.newSession()
    ns.conf.set("spark.sql.session.timeZone", "America/New_York")
    return ns


@pytest.mark.parametrize("name", TZ_CASES)
def test_oracle_match_under_foreign_tz(ny_spark, sf_dir, name):
    spec = REGISTRY[name]
    ok, msg = compare(ny_spark, sf_dir, spec.fn, spec.oracle)
    assert ok, f"{name} under America/New_York session tz: {msg}"
