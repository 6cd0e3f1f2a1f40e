"""Round-11 additions: independent Python differentials for the
exact-lane analytics batch (changepoint scan, weighted median, WoW
mix/rate decomposition, share-of-parent, clamped ledger balance,
largest-remainder proration).

Every reference here recomputes the operator's answer from raw rows in
plain Python (Fraction/int arithmetic where the operator claims
exactness) — the same evidence class as the DuckDB oracles but with
independently-written logic, so a shared misreading of the definition
cannot pass both gates.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import functions as F

from parquet_export_spark.operators import advanced as A
from parquet_export_spark.operators import stats as ST
from parquet_export_spark.sources.lake import load_tables
from tests.oracle_harness import run_sql_entry


def _tables(spark, sf_dir):
    return load_tables(spark, sf_dir)


# ---------------------------------------------------------------------------
# clamped_running_balance: brute-force recurrence replay
# ---------------------------------------------------------------------------


def test_clamped_balance_matches_recurrence(spark, sf_dir):
    """The closed form S_d - min(0, min_prefix) must equal the literal
    recurrence s_d = max(0, s_prev + net_d) replayed in Python."""
    t = _tables(spark, sf_dir)
    rows = A.clamped_running_balance(t).collect()
    assert rows
    state: dict[int, int] = {}
    neg_seen = False
    for r in rows:  # operator output is (suppkey, day)-ordered
        s = max(0, state.get(r.suppkey, 0) + r.net_qty)
        if r.net_qty < 0:
            neg_seen = True
        assert s == r.balance, (r.suppkey, r.day, s, r.balance)
        state[r.suppkey] = s
    # the differential is vacuous unless the clamp direction is
    # exercised: returns must actually drive some balance downward
    assert neg_seen


def test_clamped_balance_clamp_actually_binds(spark, sf_dir):
    """At least one supplier-day must differ from the UNCLAMPED prefix
    sum (else the closed form was never distinguished from a plain
    cumulative window and the test proves nothing)."""
    t = _tables(spark, sf_dir)
    rows = A.clamped_running_balance(t).collect()
    raw: dict[int, int] = {}
    diverged = False
    for r in rows:
        raw[r.suppkey] = raw.get(r.suppkey, 0) + r.net_qty
        if raw[r.suppkey] != r.balance:
            diverged = True
    assert diverged


# ---------------------------------------------------------------------------
# prorate_discount_cents: conservation + independent largest-remainder
# ---------------------------------------------------------------------------


def test_proration_conserves_budget_and_matches_reference(spark, sf_dir):
    """MULTISET comparison: the synthetic lake carries duplicate
    (orderkey, linenumber) pairs, and among fully-tied rows (same
    line, same remainder) the +1-cent assignment may land on either
    copy — the output multiset is identical either way, which is
    exactly what the order-insensitive driver hash checks too."""
    from collections import Counter

    t = _tables(spark, sf_dir)
    out = A.prorate_discount_cents(t).collect()
    assert out
    got = Counter((r.orderkey, r.linenumber, r.alloc_cents) for r in out)
    got_sums = Counter()
    for r in out:
        got_sums[r.orderkey] += r.alloc_cents
    li = (
        t["lineitem"]
        .filter(F.col("l_orderkey") % A.PRORATE_ORDER_MOD == 0)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .collect()
    )
    budgets = {
        r.o_orderkey: int(r.o_totalprice + 0.5)
        for r in t["orders"]
        .filter(F.col("o_orderkey") % A.PRORATE_ORDER_MOD == 0)
        .select("o_orderkey", "o_totalprice")
        .collect()
    }
    per_order: dict[int, list[tuple[int, int]]] = {}
    for r in li:
        w = int(r.l_extendedprice * 100 + 0.5)
        per_order.setdefault(r.l_orderkey, []).append((r.l_linenumber, w))
    want = Counter()
    for ok, lines in per_order.items():
        budget = budgets[ok]
        W = sum(w for _, w in lines)
        items = [
            (ln, w, budget * w // W, budget * w % W) for ln, w in lines
        ]
        leftover = budget - sum(b for _, _, b, _ in items)
        ranked = sorted(
            range(len(items)),
            key=lambda i: (-items[i][3], items[i][0], -items[i][1], i),
        )
        allocs = [b for _, _, b, _ in items]
        for i in ranked[:leftover]:
            allocs[i] += 1
        # conservation: exact to the cent, every order
        assert sum(allocs) == budget, ok
        assert got_sums[ok] == budget, ok
        for (ln, _, _, _), a in zip(items, allocs):
            want[(ok, ln, a)] += 1
    assert got == want


# ---------------------------------------------------------------------------
# weighted_median_price_by_segment: Fraction-free integer reference
# ---------------------------------------------------------------------------


def test_weighted_median_matches_reference(spark, sf_dir):
    t = _tables(spark, sf_dir)
    got = {
        r.c_mktsegment: (r.total_weight, r.weighted_median_cents)
        for r in run_sql_entry(spark, "weighted_median_price_by_segment", t).collect()
    }
    assert got
    rows = (
        t["lineitem"]
        .join(
            t["orders"],
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select("c_mktsegment", "l_extendedprice", "l_quantity")
        .collect()
    )
    acc: dict[str, dict[int, int]] = {}
    for r in rows:
        cents = int(r.l_extendedprice * 100 + 0.5)
        w = int(r.l_quantity + 0.5)
        acc.setdefault(r.c_mktsegment, {})
        acc[r.c_mktsegment][cents] = acc[r.c_mktsegment].get(cents, 0) + w
    for seg, vals in acc.items():
        W = sum(vals.values())
        cum = 0
        med = None
        for v in sorted(vals):
            cum += vals[v]
            if 2 * cum >= W:
                med = v
                break
        assert got[seg] == (W, med), seg


# ---------------------------------------------------------------------------
# changepoint_scan_daily: Fraction argmax + exact-lane replay
# ---------------------------------------------------------------------------


def test_changepoint_gain_lanes_match_fraction_reference(spark, sf_dir):
    t = _tables(spark, sf_dir)
    out = ST.changepoint_scan_daily(t).collect()
    assert out
    daily = (
        t["events"]
        .select(
            "event_type",
            F.expr(
                "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01')"
                " AS BIGINT)"
            ).alias("day"),
            F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("c").alias("v"))
        .collect()
    )
    series: dict[str, list[tuple[int, int]]] = {}
    for r in daily:
        series.setdefault(r.event_type, []).append((r.day, r.v))
    want = {}
    for et, pts in series.items():
        pts.sort()
        n = len(pts)
        s = sum(v for _, v in pts)
        s_l, n_l = 0, 0
        for day, v in pts[:-1]:
            s_l += v
            n_l += 1
            d = s_l * n - s * n_l
            want[(et, day)] = (str(d * d), n * n_l * (n - n_l))
    assert len(out) == len(want)
    for r in out:
        assert want[(r.event_type, r.day)] == (r.gain_num, r.gain_den)
    # the gain profile must be usable for an EXACT argmax downstream:
    # cross-multiplied Fraction comparison never overflows/rounds
    for et, pts in series.items():
        cands = [
            (Fraction(int(num), den), day)
            for (e, day), (num, den) in want.items()
            if e == et
        ]
        assert max(cands)[0] >= 0


# ---------------------------------------------------------------------------
# wow_mix_rate_decomposition: identity + exact lanes
# ---------------------------------------------------------------------------


def test_wow_decomposition_identity_and_lanes(spark, sf_dir):
    t = _tables(spark, sf_dir)
    rows = ST.wow_mix_rate_decomposition(t).collect()
    assert rows
    for r in rows:
        # the three effects reconstruct delta exactly in rationals
        vol = Fraction(r.n_cur - r.n_prev) * Fraction(r.cents_prev, r.n_prev)
        rate = Fraction(r.n_prev) * (
            Fraction(r.cents_cur, r.n_cur) - Fraction(r.cents_prev, r.n_prev)
        )
        inter = Fraction(r.n_cur - r.n_prev) * (
            Fraction(r.cents_cur, r.n_cur) - Fraction(r.cents_prev, r.n_prev)
        )
        assert vol + rate + inter == r.delta_cents
        # the emitted doubles are the IEEE images of those rationals'
        # defining expressions — spot-check within float slack
        assert abs(float(vol) - r.volume_effect) < 1e-6 * max(
            1.0, abs(float(vol))
        )
        assert abs(float(rate) - r.rate_effect) < 1e-6 * max(
            1.0, abs(float(rate))
        )


# ---------------------------------------------------------------------------
# share_of_parent_rollup: partition-of-unity at every level
# ---------------------------------------------------------------------------


def test_share_rollup_partitions_sum_exactly(spark, sf_dir):
    t = _tables(spark, sf_dir)
    rows = run_sql_entry(spark, "share_of_parent_rollup", t).collect()
    assert rows
    by_region: dict[str, list] = {}
    for r in rows:
        by_region.setdefault(r.region, []).append(r)
    total = {r.total_cents for r in rows}
    assert len(total) == 1
    total = total.pop()
    # exact integer partition: nations sum to their region, regions to
    # the grand total
    assert (
        sum(rs[0].region_cents for rs in by_region.values()) == total
    )
    for region, rs in by_region.items():
        assert len({r.region_cents for r in rs}) == 1
        assert sum(r.nation_cents for r in rs) == rs[0].region_cents
        for r in rs:
            assert 0.0 < r.share_of_region <= 1.0


# ---------------------------------------------------------------------------
# markov_removal_attribution: full pure-Python journey/sweep replay
# ---------------------------------------------------------------------------


def test_markov_removal_matches_python_replay(spark, sf_dir):
    """Independent replay: journeys, transition counts, and the
    integer fixed-point sweeps recomputed from raw event rows in
    plain Python dicts — every ppm must match bit-for-bit (the
    operator claims integer-exact determinism, so no tolerance)."""
    t = _tables(spark, sf_dir)
    got = {
        r.channel: (
            r.conv_full_ppm,
            r.conv_removed_ppm,
            r.removal_effect_ppm,
        )
        for r in A.markov_removal_attribution(t).collect()
    }
    assert got
    ev = sorted(
        t["events"]
        .select("user_id", "ts", "event_id", "event_type")
        .collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    # journeys + transitions
    from collections import Counter, defaultdict

    cnt: Counter = Counter()
    by_user: dict = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append(r.event_type)
    states = set()
    for seq in by_user.values():
        prev = "__start__"
        for et in seq:
            s = "__convert__" if et == "purchase" else et
            if s != "__convert__":
                states.add(s)
            cnt[(prev, s)] += 1
            prev = "__start__" if s == "__convert__" else s
        if prev != "__start__":
            cnt[(prev, "__null__")] += 1
    rt: Counter = Counter()
    for (i, _), c in cnt.items():
        rt[i] += c
    scale, K = A.REMOVAL_SCALE, A.REMOVAL_ITERS

    def sweep(removed):
        v = {"__convert__": scale}
        for _ in range(K):
            nv = {}
            for (i, j), c in cnt.items():
                if i == removed:
                    continue
                nv[i] = nv.get(i, 0) + c * v.get(j, 0) // rt[i]
            nv["__convert__"] = scale
            v = nv
        return v.get("__start__", 0)

    full = sweep(None)
    for ch in states:
        removed = sweep(ch)
        effect = (
            (full - removed) * scale // full if full else None
        )
        assert got[ch] == (full, removed, effect), ch
    assert set(got) == states


# ---------------------------------------------------------------------------
# interval_overlap_join: grid plan vs naive Spark range join + pair math
# ---------------------------------------------------------------------------


def test_interval_grid_join_matches_naive_plan(spark, sf_dir):
    """The dedup-free grid join must return EXACTLY the naive
    per-customer range self-join's pairs — each exactly once (the
    overlap-start-cell trick is where duplicate/dropped-pair bugs
    live, e.g. at cell boundaries and for containment-shaped
    overlaps), with exact overlap lengths."""
    t = _tables(spark, sf_dir)
    got = [
        (r.custkey, r.orderkey_a, r.orderkey_b, r.overlap_days)
        for r in A.interval_overlap_join(t).collect()
    ]
    assert got
    assert len(got) == len(set(got))  # no duplicate pairs, ever
    # naive reference plan in Spark itself (the oracle re-proves the
    # same in DuckDB; this differential isolates the GRID logic)
    o = (
        t["orders"]
        .filter(F.col("o_custkey") % A.OVERLAP_CUST_MOD == 0)
        .select(
            F.col("o_orderkey").alias("ok"),
            F.col("o_custkey").alias("ck"),
            F.expr(
                "CAST(datediff(CAST(o_orderdate AS DATE),"
                " DATE '1970-01-01') AS BIGINT)"
            ).alias("s"),
        )
    )
    li = t["lineitem"].select(
        F.col("l_orderkey").alias("ok"),
        F.expr(
            "CAST(datediff(CAST(l_shipdate AS DATE),"
            " DATE '1970-01-01') AS BIGINT)"
        ).alias("ship"),
    )
    iv = [
        (r.ck, r.ok, r.s, r.e)
        for r in o.join(li, "ok")
        .groupBy("ok", "ck", "s")
        .agg(F.greatest(F.max("ship"), F.first("s")).alias("e"))
        .collect()
    ]
    from collections import defaultdict

    by_c = defaultdict(list)
    for ck, ok, s, e in iv:
        by_c[ck].append((ok, s, e))
    want = []
    for ck, items in by_c.items():
        items.sort()
        for x in range(len(items)):
            for y in range(x + 1, len(items)):
                (oa, sa, ea), (ob, sb, eb) = items[x], items[y]
                if sa <= eb and sb <= ea:
                    want.append(
                        (ck, oa, ob, min(ea, eb) - max(sa, sb) + 1)
                    )
    assert sorted(got) == sorted(want)
    # non-vacuity: some pair must span a 90-day cell boundary (the
    # trick's hard case) — with ~2-year windows this always holds
    assert any(d > A.OVERLAP_BUCKET_DAYS for _, _, _, d in got)


# ---------------------------------------------------------------------------
# welch_ttest_pairs: scipy-free Python replay (identical lane order)
# ---------------------------------------------------------------------------


def test_welch_pairs_match_python_replay(spark, sf_dir):
    """Every pair's t/df replayed in plain Python floats using the
    SAME operation order the plan declares — equality is exact
    (both are the identical IEEE chain), not a tolerance check."""
    t = _tables(spark, sf_dir)
    rows = ST.welch_ttest_pairs(t).collect()
    assert rows
    ev = t["events"].select("event_type", "value").collect()
    from collections import defaultdict

    acc = defaultdict(lambda: [0, 0, 0])  # n, s, s2
    for r in ev:
        c = int(r.value * 100 + 0.5)
        a = acc[r.event_type]
        a[0] += 1
        a[1] += c
        a[2] += c * c
    def var(n, s, s2):
        return (float(s2) - float(s) * (float(s) / n)) / (n - 1)

    for r in rows:
        na, sa, s2a = acc[r.type_a]
        nb, sb, s2b = acc[r.type_b]
        assert (r.na, r.nb) == (na, nb)
        assert r.mean_a == float(sa) / na
        va, vb = var(na, sa, s2a), var(nb, sb, s2b)
        assert r.var_a == va and r.var_b == vb
        se2 = va / na + vb / nb
        assert r.welch_t == (float(sa) / na - float(sb) / nb) / se2**0.5
        assert r.welch_df == (se2 * se2) / (
            (va / na) * (va / na) / (na - 1)
            + (vb / nb) * (vb / nb) / (nb - 1)
        )


# ---------------------------------------------------------------------------
# Engineered adversarial fixtures for the round-11 batch: the edge
# shapes the synthetic lake never produces (the round-4 adversarial
# convention, applied batch-locally).
# ---------------------------------------------------------------------------


def _docs_events(spark, rows):
    schema = (
        "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string"
    )
    return {"events": spark.createDataFrame(rows, schema)}


def test_proration_edge_shapes(spark):
    """Single-line order (alloc == whole budget), equal-weight
    remainder ties (line-number order decides), and a budget smaller
    than the line count (only the top remainders get a cent)."""
    from datetime import datetime  # noqa: F401

    li_schema = (
        "l_orderkey long, l_linenumber int, l_extendedprice double"
    )
    o_schema = "o_orderkey long, o_totalprice double"
    # order 0: single line. order 100: three equal lines, budget 2.
    li = spark.createDataFrame(
        [(0, 5, 123.0), (100, 1, 50.0), (100, 2, 50.0), (100, 3, 50.0)],
        li_schema,
    )
    o = spark.createDataFrame([(0, 157737.6), (100, 2.4)], o_schema)
    out = {
        (r.orderkey, r.linenumber): r.alloc_cents
        for r in A.prorate_discount_cents(
            {"lineitem": li, "orders": o}, order_mod=100
        ).collect()
    }
    # single line: base = budget * w div w = budget (=158 cents? no:
    # floor(157737.6 + 0.5) = 157738), remainder handling vacuous
    assert out[(0, 5)] == 157738
    # budget 2 (floor(2.4+0.5)=2) over three equal remainders (2*50/150
    # -> base 0 rem equal): lines 1 and 2 get the cents, line 3 none
    assert (out[(100, 1)], out[(100, 2)], out[(100, 3)]) == (1, 1, 0)


def test_clamped_balance_edge_shapes(spark):
    """Opening with returns (clamp binds at day one) and zero-net
    days (balance carries flat)."""
    from datetime import datetime

    schema = (
        "l_suppkey long, l_shipdate timestamp_ntz, l_quantity double,"
        " l_returnflag string"
    )
    li = spark.createDataFrame(
        [
            (0, datetime(2024, 1, 1), 7.0, "R"),   # open with a return
            (0, datetime(2024, 1, 2), 3.0, "N"),
            (0, datetime(2024, 1, 3), 2.0, "N"),
            (0, datetime(2024, 1, 3), 2.0, "R"),   # zero-net day
        ],
        schema,
    )
    got = {
        r.day: (r.net_qty, r.balance)
        for r in A.clamped_running_balance(
            {"lineitem": li}, supp_mod=1
        ).collect()
    }
    days = sorted(got)
    assert [got[d] for d in days] == [(-7, 0), (3, 3), (0, 3)]


def test_changepoint_edge_shapes(spark):
    """A constant series scans to all-zero gains (exact '0' lanes); a
    single-day type emits NO admissible split."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    rows = [
        (i, t0 + timedelta(days=i), 1, "flat", 10.0, "{}")
        for i in range(5)
    ] + [(99, t0, 2, "oneday", 5.0, "{}")]
    out = ST.changepoint_scan_daily(_docs_events(spark, rows)).collect()
    assert all(r.event_type == "flat" for r in out)
    assert len(out) == 4  # n-1 admissible splits
    assert all(r.gain_num == "0" for r in out)


def test_weighted_median_lower_rule(spark):
    """Even split: 2*cum == W exactly at the smaller value — the
    LOWER median rule must pick it, not interpolate."""
    li = spark.createDataFrame(
        [(1, 10.0, 5.0), (1, 20.0, 5.0)],
        "l_orderkey long, l_extendedprice double, l_quantity double",
    )
    o = spark.createDataFrame([(1, 7)], "o_orderkey long, o_custkey long")
    c = spark.createDataFrame(
        [(7, "SEG")], "c_custkey long, c_mktsegment string"
    )
    rows = run_sql_entry(
        spark,
        "weighted_median_price_by_segment",
        {"lineitem": li, "orders": o, "customer": c},
    ).collect()
    assert [(r.c_mktsegment, r.total_weight, r.weighted_median_cents)
            for r in rows] == [("SEG", 10, 1000)]


def test_interval_join_touching_vs_disjoint(spark):
    """Inclusive-day semantics: windows sharing exactly one day
    overlap (1 day); windows one day apart do not pair at all —
    including across a 90-day grid-cell boundary."""
    from datetime import datetime

    B = A.OVERLAP_BUCKET_DAYS
    d0 = datetime(1970, 1, 1)

    def day(n):
        from datetime import timedelta

        return d0 + timedelta(days=n)

    o_schema = "o_orderkey long, o_custkey long, o_orderdate timestamp_ntz"
    li_schema = "l_orderkey long, l_shipdate timestamp_ntz"
    # orders for customer 0: [B-3, B+1] and [B+1, B+5] touch AT the
    # cell boundary; [B+7, B+8] is disjoint from both
    o = spark.createDataFrame(
        [(1, 0, day(B - 3)), (2, 0, day(B + 1)), (3, 0, day(B + 7))],
        o_schema,
    )
    li = spark.createDataFrame(
        [(1, day(B + 1)), (2, day(B + 5)), (3, day(B + 8))], li_schema
    )
    got = [
        (r.orderkey_a, r.orderkey_b, r.overlap_days)
        for r in A.interval_overlap_join(
            {"orders": o, "lineitem": li}, cust_mod=1
        ).collect()
    ]
    assert got == [(1, 2, 1)]


def test_markov_purchase_first_journeys(spark):
    """A user whose every journey is a bare purchase: the chain is
    START -> CONVERT only, so conversion is certain (scale ppm) and
    there are no removable channels from that user; a second user
    contributes one channel."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, "purchase", 1.0, "{}"),
        (2, t0 + timedelta(hours=1), 1, "purchase", 1.0, "{}"),
        (3, t0, 2, "view", 1.0, "{}"),
        (4, t0 + timedelta(hours=1), 2, "purchase", 1.0, "{}"),
    ]
    out = {
        r.channel: (r.conv_full_ppm, r.conv_removed_ppm)
        for r in A.markov_removal_attribution(
            _docs_events(spark, rows)
        ).collect()
    }
    assert set(out) == {"view"}
    full, removed = out["view"]
    # full chain: START->CONVERT 2/3, START->view->CONVERT 1/3 => 1.0
    assert full == A.REMOVAL_SCALE - 1 or full == A.REMOVAL_SCALE
    # removing view keeps the 2/3 direct conversions (floor division:
    # 2/3 of scale)
    assert removed == A.REMOVAL_SCALE * 2 // 3


def test_welch_degenerate_zero_variance(spark):
    """Two constant equal-valued types: var 0 both sides -> the t and
    df are NULL (no division blow-up), means still reported."""
    from datetime import datetime

    t0 = datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, "a", 5.0, "{}"),
        (2, t0, 1, "a", 5.0, "{}"),
        (3, t0, 1, "b", 5.0, "{}"),
        (4, t0, 1, "b", 5.0, "{}"),
    ]
    r = ST.welch_ttest_pairs(_docs_events(spark, rows)).collect()
    assert len(r) == 1
    row = r[0]
    assert row.var_a == 0.0 and row.var_b == 0.0
    assert row.welch_t is None and row.welch_df is None
    assert row.mean_a == row.mean_b == 500.0
