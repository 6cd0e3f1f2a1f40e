"""Adversarial full differentials (Spark operator vs its DuckDB oracle
on ENGINEERED fixtures) for the round-4 families: graph, PIT, CDC,
fuzzy join, OLS. The sf-data differentials exercise the common paths;
these fixtures force the tie/degenerate/boundary paths where engines
most plausibly diverge.
"""

from __future__ import annotations

from datetime import datetime

from parquet_export_spark.queries import REGISTRY
from tests.oracle_harness import compare, fixture_lake


def _run(spark, fixture_dir, names):
    for name in names:
        spec = REGISTRY[name]
        ok, msg = compare(spark, fixture_dir, spec.fn, spec.oracle)
        assert ok, f"{name} on adversarial fixture: {msg}"


def test_pit_midnight_ties_and_single_event_users(spark, sf_dir, tmp_path):
    """PIT boundary semantics: a state change stamped EXACTLY at
    midnight must apply to that day's snapshot (kind tie-break), two
    changes at the same instant resolve by the documented
    lexicographically-last-state rule, and a single-event user yields
    a one-day grid."""
    m0 = datetime(2024, 3, 1, 0, 0, 0)  # exactly midnight
    rows = [
        # user 1: change at exact midnight of day 2 + same-instant pair
        (1, datetime(2024, 3, 1, 10, 0, 0), 1, "click", 1.0, "{}"),
        (2, datetime(2024, 3, 2, 0, 0, 0), 1, "purchase", 1.0, "{}"),
        (3, datetime(2024, 3, 3, 12, 0, 0), 1, "view", 1.0, "{}"),
        (4, datetime(2024, 3, 3, 12, 0, 0), 1, "error", 1.0, "{}"),
        # user 2: single event at midnight — a one-day grid whose
        # probe coincides with the only change
        (5, m0, 2, "signup", 1.0, "{}"),
        # user 3: state flaps within one day (intra-day changes must
        # collapse to the last state at the NEXT day's midnight; the
        # first day's own midnight precedes them all -> no row until
        # day 2 of the span)
        (6, datetime(2024, 3, 1, 8, 0, 0), 3, "click", 1.0, "{}"),
        (7, datetime(2024, 3, 1, 9, 0, 0), 3, "view", 1.0, "{}"),
        (8, datetime(2024, 3, 2, 9, 0, 0), 3, "click", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string",
    )
    fixture_dir = fixture_lake(
        spark, sf_dir, str(tmp_path / "pit"), {"events": df}
    )
    _run(spark, fixture_dir, ["scd2_point_in_time", "scd2_user_state"])


def test_graph_ops_on_engineered_topology(spark, sf_dir, tmp_path):
    """Engineered trade graph: a hub supplier (degree skew), a
    disconnected customer-supplier pair, duplicate trading pairs (the
    DISTINCT must collapse them identically on both engines), and a
    long path that 8 CC iterations do NOT fully converge on — the
    fixed-iteration contract must still hash-match the oracle."""
    # orders: (o_orderkey, o_custkey); lineitem: (l_orderkey, l_suppkey)
    orders = [
        # hub: customers 1..6 all trade with supplier 100 via orders
        *[(i, i) for i in range(1, 7)],
        # duplicate pair: customer 1 <-> supplier 100 again (order 7)
        (7, 1),
        # isolated pair: customer 50 <-> supplier 200
        (8, 50),
        # path: c60-s300-c61-s301-c62-s302-c63 ... a 12-hop chain
        *[(100 + k, 60 + k // 2) for k in range(0, 12)],
    ]
    line = [
        *[(i, 100) for i in range(1, 7)],
        (7, 100),
        (8, 200),
        # chain links: order 100+k connects cust 60+k//2 to supplier
        # 300+(k+1)//2 — consecutive orders share alternately customer
        # then supplier, forming a path
        *[(100 + k, 300 + (k + 1) // 2) for k in range(0, 12)],
    ]
    o_df = spark.createDataFrame(orders, "o_orderkey long, o_custkey long")
    l_df = spark.createDataFrame(line, "l_orderkey long, l_suppkey long")
    fixture_dir = fixture_lake(
        spark,
        sf_dir,
        str(tmp_path / "graph"),
        {"orders": o_df, "lineitem": l_df},
    )
    _run(spark, fixture_dir, ["pagerank_trade_graph", "cc_trade_graph", "sssp_trade_graph"])

    # the isolated pair must form its own component, disjoint from the
    # hub's — a smoke check that the fixture actually has the intended
    # topology (not just oracle-equality)
    from parquet_export_spark.operators.graph import cc_trade_graph
    from parquet_export_spark.sources.lake import load_tables

    labels = {
        r.node_id: r.component
        for r in cc_trade_graph(load_tables(spark, fixture_dir)).collect()
    }
    assert labels[50 * 2] == labels[200 * 2 + 1]  # pair connected
    assert labels[50 * 2] != labels[1 * 2]  # ...and isolated from hub


def test_fuzzy_join_on_boundary_names(spark, sf_dir, tmp_path):
    """Blocking-boundary names: a single-word name (deleting its first
    char changes the LAST word too, so blocking misses the self-match
    — accepted recall behavior, but Spark and the oracle must agree),
    a 1-char first word, and near-identical siblings within a block."""
    parts = [
        (0, "widget"),  # single word: probe 'idget' blocks on 'idget'
        (37, "a bolt"),  # 1-char first word: probe ' bolt'
        (74, "cold brass washer"),
        (75, "bold brass washer"),  # dist 1 from 74's name
        (76, "old brass washer"),  # == probe(74), dist 0
        (111, "tiny spring"),
        (112, "shiny spring"),
    ]
    p_df = spark.createDataFrame(parts, "p_partkey long, p_name string")
    fixture_dir = fixture_lake(
        spark, sf_dir, str(tmp_path / "fuzzy"), {"part": p_df}
    )
    _run(spark, fixture_dir, ["fuzzy_join_parts"])


def test_cdc_ops_on_overlapping_moduli(spark, sf_dir, tmp_path):
    """Order keys sitting on every modulus intersection (89*97, 89*101,
    97*101, and the dup/validate moduli) force the corruption rules to
    compose — re-priced AND dropped, re-inserted AND re-priced — on
    both engines identically."""
    from datetime import date

    keys = [
        1, 89, 97, 101, 503,
        89 * 97, 89 * 101, 97 * 101, 89 * 503, 97 * 503,
        2 * 89, 3 * 97, 5 * 101, 2 * 503, 89 * 97 * 2,
    ]
    rows = [
        (k, (k % 7) + 1, "OF P"[k % 3], 100.0 + k, date(2024, 1, 1 + k % 28))
        for k in keys
    ]
    o_df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate date",
    )
    fixture_dir = fixture_lake(
        spark, sf_dir, str(tmp_path / "cdc"), {"orders": o_df}
    )
    _run(spark, fixture_dir, ["snapshot_diff", "apply_changefeed"])


def test_ols_degenerate_groups(spark, sf_dir, tmp_path):
    """OLS edge cases: a group whose events all share ONE hour
    (denominator 0 -> NULL slope, never NaN/Inf), and a single-event
    group — both engines must agree exactly."""
    rows = [
        # all in hour 9: no slope
        (1, datetime(2024, 1, 1, 9, 5), 1, "flat", 10.0, "{}"),
        (2, datetime(2024, 1, 2, 9, 15), 1, "flat", 20.0, "{}"),
        (3, datetime(2024, 1, 3, 9, 25), 2, "flat", 30.0, "{}"),
        # single event
        (4, datetime(2024, 1, 1, 7, 0), 3, "lone", 5.0, "{}"),
        # a well-posed group for contrast
        (5, datetime(2024, 1, 1, 1, 0), 4, "trend", 1.0, "{}"),
        (6, datetime(2024, 1, 1, 5, 0), 4, "trend", 5.0, "{}"),
        (7, datetime(2024, 1, 1, 9, 0), 4, "trend", 9.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string",
    )
    fixture_dir = fixture_lake(
        spark, sf_dir, str(tmp_path / "ols"), {"events": df}
    )
    _run(spark, fixture_dir, ["ols_value_by_hour"])

    from parquet_export_spark.sources.lake import load_tables
    from tests.oracle_harness import run_sql_entry

    got = {
        r.event_type: (r.slope_per_hour, r.intercept)
        for r in run_sql_entry(
            spark, "ols_value_by_hour", load_tables(spark, fixture_dir)
        ).collect()
    }
    assert got["flat"] == (None, None)
    assert got["lone"] == (None, None)
    assert got["trend"] == (1.0, 0.0)


def test_click_burst_pattern_boundaries(spark, sf_dir, tmp_path):
    """CEP pattern boundaries as a full differential + closed-form
    check: a burst whose purchase lands EXACTLY at the burst-end
    instant (kind tie: converts), one exactly at the conversion
    deadline (inclusive: converts), one just past it (no), a run one
    click short of min_clicks (no burst), and two purchases at the
    same instant (min-id tie rule)."""
    from datetime import timedelta

    from parquet_export_spark.operators.advanced import (
        BURST_CONVERT_MIN,
        BURST_GAP_MIN,
        match_click_bursts,
    )
    from parquet_export_spark.sources.lake import load_tables

    t0 = datetime(2024, 6, 1, 8, 0, 0)
    gap = timedelta(minutes=BURST_GAP_MIN)
    conv = timedelta(minutes=BURST_CONVERT_MIN)
    rows = []
    eid = 0

    def ev(ts, uid, typ):
        nonlocal eid
        eid += 1
        rows.append((eid, ts, uid, typ, 1.0, "{}"))

    # user 1: 3-click burst, purchase exactly at burst end -> converts
    for k in range(3):
        ev(t0 + k * gap, 1, "click")
    ev(t0 + 2 * gap, 1, "purchase")
    # user 2: burst, purchase exactly at deadline -> converts
    for k in range(3):
        ev(t0 + k * gap, 2, "click")
    ev(t0 + 2 * gap + conv, 2, "purchase")
    # user 3: burst, purchase 1s past deadline -> does NOT convert
    for k in range(3):
        ev(t0 + k * gap, 3, "click")
    ev(t0 + 2 * gap + conv + timedelta(seconds=1), 3, "purchase")
    # user 4: only 2 clicks -> no burst at all
    ev(t0, 4, "click")
    ev(t0 + gap, 4, "click")
    ev(t0 + 2 * gap, 4, "purchase")
    # user 5: burst + TWO purchases at the same instant -> min id wins
    for k in range(3):
        ev(t0 + k * gap, 5, "click")
    p_ts = t0 + 2 * gap + timedelta(minutes=1)
    ev(p_ts, 5, "purchase")
    first_p5 = eid
    ev(p_ts, 5, "purchase")

    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string",
    )
    fixture_dir = fixture_lake(
        spark, sf_dir, str(tmp_path / "burst"), {"events": df}
    )
    _run(spark, fixture_dir, ["match_click_bursts"])

    from parquet_export_spark.sources.lake import load_tables as lt

    got = {
        r.user_id: (r.n_clicks, r.converted, r.purchase_id)
        for r in match_click_bursts(lt(spark, fixture_dir)).collect()
    }
    assert got[1][1] and got[2][1] and not got[3][1]
    assert 4 not in got
    assert got[5] == (3, True, first_p5)


def test_entity_resolution_transitive_chain(spark, sf_dir, tmp_path):
    """ER ground truth on engineered names: a transitive a-b-c chain
    (a-c beyond the distance threshold must STILL merge through b), a
    distance-boundary pair, and an isolated singleton; verified as a
    full oracle differential plus a union-find check."""
    parts = [
        (0, "cold brass widget"),    # chain: a
        (20, "bold brass widget"),   # b (dist 1 from a)
        (40, "bolts brass widget"),  # c (dist 2 from b, 3 from a)
        (60, "tiny spring"),         # singleton block-mate of nothing
        (80, "pearl pink washer"),
        (100, "peal pink washer"),   # dist 1 from 80
        (120, "zinc washer"),        # same block as 80/100, far name
        (7, "ignored odd-key row"),  # outside the % 20 slice
    ]
    p_df = spark.createDataFrame(parts, "p_partkey long, p_name string")
    fixture_dir = fixture_lake(
        spark, sf_dir, str(tmp_path / "er"), {"part": p_df}
    )
    _run(spark, fixture_dir, ["resolve_part_entities"])

    from parquet_export_spark.operators.dedup import resolve_part_entities
    from parquet_export_spark.sources.lake import load_tables

    got = {
        r.p_partkey: r.canonical_key
        for r in resolve_part_entities(load_tables(spark, fixture_dir)).collect()
    }
    assert got[0] == got[20] == got[40] == 0  # transitive chain merges
    assert got[60] == 60  # singleton canonicalizes to itself
    assert got[80] == got[100] == 80
    assert got[120] == 120  # same block, name too far -> own entity
    assert 7 not in got  # outside the deterministic slice


def test_er_oversized_block_cap(spark, sf_dir, tmp_path):
    """The in-operator block cap (round-5): blocks above
    ``max_block_size`` must generate NO candidate pairs — their members
    come back as singletons — while normal blocks still merge. Checked
    two ways: (1) unit-level with a tiny cap, where a 4-member
    near-clique block is excluded and a 3-member one resolves; (2) a
    full oracle differential at the DEFAULT cap with an engineered
    block of ER_MAX_BLOCK + 1 near-identical names — without the cap
    that block alone would be a ~25M-pair Levenshtein clique."""
    from parquet_export_spark.operators.dedup import (
        ER_MAX_BLOCK,
        resolve_part_entities,
    )
    from parquet_export_spark.sources.lake import load_tables

    # (1) unit-level, cap=3
    parts = [
        (0, "cold brass widget"),
        (20, "bold brass widget"),
        (40, "bolt brass widget"),   # widget block: 3 members, merges
        (60, "pearl pink washer"),
        (80, "peal pink washer"),
        (100, "pear pink washer"),
        (120, "perl pink washer"),   # washer block: 4 members > cap
    ]
    p_df = spark.createDataFrame(parts, "p_partkey long, p_name string")
    fixture_dir = fixture_lake(
        spark, sf_dir, str(tmp_path / "er_cap_small"), {"part": p_df}
    )
    t = load_tables(spark, fixture_dir)
    got = {
        r.p_partkey: r.canonical_key
        for r in resolve_part_entities(t, max_block_size=3).collect()
    }
    assert got[0] == got[20] == got[40] == 0      # under-cap block merges
    assert got[60] == 60 and got[80] == 80        # over-cap: singletons
    assert got[100] == 100 and got[120] == 120
    assert len(got) == 7                          # no rows dropped

    # (2) default-cap oracle differential: one block of ER_MAX_BLOCK+1
    # near-identical names (every pair within distance 2 of a shared
    # template) + one small mergeable block.
    big = [
        (200 + 20 * i, f"variant {i % 10} washer")
        for i in range(ER_MAX_BLOCK + 1)
    ]
    small = [(0, "cold brass widget"), (20, "bold brass widget")]
    p_df = spark.createDataFrame(
        small + big, "p_partkey long, p_name string"
    )
    fixture_dir = fixture_lake(
        spark, sf_dir, str(tmp_path / "er_cap_big"), {"part": p_df}
    )
    _run(spark, fixture_dir, ["resolve_part_entities"])
    got = {
        r.p_partkey: r.canonical_key
        for r in resolve_part_entities(
            load_tables(spark, fixture_dir)
        ).collect()
    }
    assert got[0] == got[20] == 0                 # small block merges
    # every big-block member is its own entity despite near-identical
    # names — the cap, not the distance, decided
    assert all(got[k] == k for k, _ in big)
