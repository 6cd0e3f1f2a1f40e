"""Round-6 operator tests: the loud PageRank overflow envelope, the
scale-safe (sketch-gear) equi-depth histogram and supplier-projection
thresholds, and the small advisory fixes.

Quantitative bounds are derived from the Greenwald-Khanna guarantee
Spark's approx_percentile provides (rank error <= n/accuracy), checked
against the EXACT gear on the same data — not against the DuckDB
oracle, so a bug shared by both gears cannot hide behind the sketch.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parquet_export_spark.operators import graph as G
from parquet_export_spark.operators import stats as ST
from parquet_export_spark.plans import inspect as P
from parquet_export_spark.sources.lake import load_tables
from tests.oracle_harness import run_sql_entry


def _small_tables(spark):
    return load_tables(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# PageRank int64 overflow envelope: loud guard (round-6 verdict #4)
# ---------------------------------------------------------------------------


def test_pagerank_envelope_formula():
    """The guard's envelope is the written proof's bound: worst-case
    partial sum DAMP_NUM * n * SCALE must stay under 2^63."""
    mx = G._pagerank_max_nodes()
    assert G.PAGERANK_DAMP_NUM * mx * G.PAGERANK_SCALE < 2**63
    assert G.PAGERANK_DAMP_NUM * (mx + 1) * G.PAGERANK_SCALE >= 2**63
    # with the shipped constants the envelope covers ~1e8 nodes
    assert mx > 10**8


def test_pagerank_over_envelope_raises(spark, monkeypatch):
    """Adversarial over-envelope graph: shrink SCALE so the envelope
    falls below a tiny synthetic graph's node count and assert the
    operator RAISES before iterating — the session may run ansi=false,
    where the int64 sum would otherwise wrap SILENTLY."""
    monkeypatch.setattr(G, "PAGERANK_SCALE", 2**61)
    assert G._pagerank_max_nodes() == 0  # every graph is over-envelope
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    e2 = G._edge_cache(edges, with_outdeg=True)
    try:
        with pytest.raises(ValueError, match="overflow envelope"):
            G._pagerank_core(e2, n_iter=2)
    finally:
        e2.unpersist(blocking=False)


def test_hits_zero_iterations_raises(spark):
    t = _small_tables(spark)
    with pytest.raises(ValueError, match="n_iter must be >= 1"):
        G.hits_trade_graph(t, n_iter=0)


# ---------------------------------------------------------------------------
# Equi-depth histogram: production sketch gear (round-6 verdict #2)
# ---------------------------------------------------------------------------

ACCURACY = 10_000
N_BUCKETS = 20


def test_histogram_equidepth_approx_depth_bound(spark, sf_dir):
    """Every bucket's count must be within the GK-derived bound of the
    ideal depth n/K: each of the two adjacent boundaries may be off by
    n/accuracy ranks, and a tie run at a boundary moves wholesale into
    the lower bucket — so |count - n/K| <= 2*n/accuracy + max_tie + 1.
    """
    t = load_tables(spark, sf_dir)
    n = t["orders"].count()
    max_tie = (
        t["orders"]
        .groupBy("o_totalprice")
        .count()
        .agg(F.max("count").alias("m"))
        .collect()[0]
        .m
    )
    rows = ST.histogram_equidepth_approx(
        t, n_buckets=N_BUCKETS, accuracy=ACCURACY
    ).collect()
    assert sum(r.n_orders for r in rows) == n  # partition of the table
    bound = 2 * n / ACCURACY + max_tie + 1
    ideal = n / N_BUCKETS
    for r in rows:
        assert abs(r.n_orders - ideal) <= bound, (r.bucket, r.n_orders)
    # buckets are ordered, ranges nested correctly and non-overlapping
    assert [r.bucket for r in rows] == list(range(1, len(rows) + 1))
    for a, b in zip(rows, rows[1:]):
        assert a.hi <= b.lo
        assert a.lo <= a.hi


def test_histogram_equidepth_approx_plan_no_global_sort(spark, sf_dir):
    """The production gear's whole point: no ntile, no window, no
    single-partition sort — boundaries come from a partial-aggregable
    approx_percentile sketch and assignment is a map-side expression."""
    t = load_tables(spark, sf_dir)
    import re

    plan = P.plan_string(ST.histogram_equidepth_approx(t))
    assert "approx_percentile" in plan
    # bare ntile() window function ("ntile(" alone would also match
    # inside perce-ntile() — exclude a preceding word character)
    assert not re.search(r"(?<![a-zA-Z_])ntile\(", plan)
    assert "Window" not in plan
    # at most one single-partition exchange is allowed: the 1-row
    # boundary aggregate itself (which merges bounded sketches, not
    # rows). The DATA path must not gather.
    singles = len(re.findall(r"Exchange SinglePartition", plan))
    assert singles <= 1
    # the exact baseline, by contrast, IS the documented single-reducer
    # sort (kept as the oracle-checkable gear)
    exact_plan = P.plan_string(run_sql_entry(spark, "histogram_equidepth", t))
    assert re.search(r"(?<![a-zA-Z_])ntile\(", exact_plan)


# ---------------------------------------------------------------------------
# Supplier projection: two-gear quantile threshold (round-6 verdict #3)
# ---------------------------------------------------------------------------


def _pair_weights(spark):
    """Independent replay of the projection's pair weights (degree-
    capped co-purchase counts) straight from the lake."""
    t = _small_tables(spark)
    o = t["orders"].select(F.col("o_orderkey").alias("ok"), "o_custkey")
    li = t["lineitem"].select(F.col("l_orderkey").alias("ok"), "l_suppkey")
    cs = (
        o.join(li, "ok")
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    from pyspark.sql import Window

    deg_ok = cs.withColumn(
        "deg", F.count(F.lit(1)).over(Window.partitionBy("c"))
    ).filter(F.col("deg") <= G.BUTTERFLY_MAX_DEGREE)
    a = deg_ok.select("c", F.col("s").alias("s1"))
    b = deg_ok.select("c", F.col("s").alias("s2"))
    return (
        a.join(b, "c")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )


def test_supplier_pairs_approx_gear_rank_bound(spark):
    """The sketch gear must (a) pick a threshold whose rank is within
    the GK guarantee of the target quantile and (b) keep exactly the
    pairs at or above it — together that bounds the production gear's
    deviation from the exact gear by the sketch's rank error."""
    weights = sorted(r.n for r in _pair_weights(spark))
    n = len(weights)
    approx = {
        (r.s1, r.s2)
        for r in G._supplier_strong_pairs(
            _small_tables(spark), exact_quantile=False
        ).collect()
    }
    # recover the threshold the gear applied: the smallest surviving
    # weight (filter is n >= th on integer weights)
    pairs = {(r.s1, r.s2): r.n for r in _pair_weights(spark)}
    surviving = sorted(pairs[p] for p in approx)
    th = surviving[0]
    # (a) rank bound: #\{w < th\} must bracket the target rank within
    # n/accuracy (+1 for the floor/interpolation convention gap)
    target = G.SUPPLIER_COMMUNITY_PCTL * n
    eps = n / G.QUANTILE_SKETCH_ACCURACY
    rank_lo = sum(1 for w in weights if w < th)
    rank_hi = sum(1 for w in weights if w <= th)
    assert rank_lo - eps - 1 <= target <= rank_hi + eps + 1
    # (b) the surviving set is EXACTLY the >= th filter — no other
    # deviation source exists in the gear
    assert approx == {p for p, w in pairs.items() if w >= th}


def test_supplier_pairs_production_plan_sketch_only(spark):
    """Verdict demand verbatim: the production path must carry NO
    single-buffer exact percentile over the pair table — every
    percentile in the plan is the bounded-sketch approx_percentile."""
    t = _small_tables(spark)
    plan = P.plan_string(
        G._supplier_strong_pairs(t, exact_quantile=False)
    )
    assert "approx_percentile" in plan
    assert plan.count("percentile(") == plan.count("approx_percentile(")
    # the oracle gear keeps the exact percentile (by design)
    exact = P.plan_string(G._supplier_strong_pairs(t, exact_quantile=True))
    assert exact.count("percentile(") > exact.count("approx_percentile(")


def test_kcore_approx_gear_runs_and_matches_exact_here(spark):
    """The kcore production gear (sketch thresholds for BOTH the edge
    quantile and k): on sf0.001 the sketches are exact (n << accuracy),
    so the two gears must agree exactly — pinning that the gear split
    changed only the quantile estimator, nothing else."""
    t = _small_tables(spark)
    exact = {
        (r.supplier, r.core_degree)
        for r in G.kcore_suppliers(t).collect()
    }
    approx = {
        (r.supplier, r.core_degree)
        for r in G.kcore_suppliers(t, exact_quantile=False).collect()
    }
    # GK in exact mode returns an actual element; quantile_cont
    # interpolates. ceil() aligns them for integer degrees unless the
    # interpolated value falls between elements — allow the one-element
    # threshold shift that difference can cause, but nothing more.
    if approx != exact:
        assert approx.issubset(exact) or exact.issubset(approx)


def test_supplier_communities_approx_registered(spark, sf_dir):
    from parquet_export_spark.queries import REGISTRY

    spec = REGISTRY["supplier_communities_approx"]
    # round 11: registered as the _checked twin — exact-gear labels
    # value-hashed, GK rank contract + labels-equal-when-th-equal
    # booleans oracle-asserted.
    assert spec.oracle is not None
    df = spec.fn(spark, sf_dir)
    assert df.columns == [
        "supplier",
        "community",
        "community_size",
        "th_rank_ok",
        "labels_match_when_th_equal",
    ]
    rows = df.collect()
    assert rows
    assert all(r.th_rank_ok and r.labels_match_when_th_equal for r in rows)
    # round 10: the histogram entry is the _checked twin — bucket ids
    # value-hashed, depth/ordering contract booleans oracle-asserted.
    spec_h = REGISTRY["histogram_equidepth_approx"]
    assert spec_h.oracle is not None
    assert spec_h.fn(spark, sf_dir).columns == [
        "bucket",
        "depth_ok",
        "ordered_ok",
    ]


# ---------------------------------------------------------------------------
# Advisory fixes
# ---------------------------------------------------------------------------


def test_incremental_export_string_watermark_with_lag(spark):
    """A string watermark is valid for the strict-> path; with
    rescan_lag it must now be parsed instead of raising TypeError."""
    from datetime import timedelta

    from parquet_export_spark.streaming import incremental as I

    df = spark.createDataFrame(
        [(1, "2024-03-01 10:00:00"), (2, "2024-03-01 12:00:00")],
        "id long, updated_at string",
    ).select("id", F.col("updated_at").cast("timestamp_ntz").alias("updated_at"))
    got = I.incremental_export(
        df, "2024-03-01 11:30:00", rescan_lag=timedelta(hours=2)
    )
    # lag rewinds the boundary to 09:30 -> both rows re-exported
    assert {r.id for r in got.collect()} == {1, 2}
    strict = I.incremental_export(df, "2024-03-01 11:30:00")
    assert {r.id for r in strict.collect()} == {2}


def test_minhash_band_error_message(spark):
    from parquet_export_spark.operators import dedup as D

    t = _small_tables(spark)
    with pytest.raises(ValueError, match="n_bands must evenly divide"):
        D.neardup_minhash_lsh(t, n_bands=3)  # 3 does not divide 32


# ---------------------------------------------------------------------------
# Round-6 new operators: differentials vs INDEPENDENT Python references
# (not the DuckDB oracles the driver runs — a bug shared by operator
# and oracle SQL cannot hide here).
# ---------------------------------------------------------------------------


def test_clustering_coeff_matches_bruteforce(spark):
    t = _small_tables(spark)
    strong = [
        (r.s1, r.s2) for r in G._supplier_strong_pairs(t).collect()
    ]
    adj: dict[int, set[int]] = {}
    for a, b in strong:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for n, nb in adj.items():
        deg = len(nb)
        if deg < 2:
            continue
        tri = sum(
            1
            for u in nb
            for v in nb
            if u < v and v in adj.get(u, set())
        )
        want[n] = (deg, tri, (2 * tri * 1_000_000) // (deg * (deg - 1)))
    got = {
        r.supplier: (r.deg, r.n_triangles, r.lcc_ppm)
        for r in G.clustering_coeff_suppliers(t).collect()
    }
    assert got == want and len(got) > 0


def test_collocations_pmi_matches_counter(spark):
    from collections import Counter

    from parquet_export_spark.operators import text as X

    t = _small_tables(spark)
    texts = [r.text for r in t["documents"].select("text").collect()]
    bg, uni = Counter(), Counter()
    for txt in texts:
        ws = txt.split(" ")
        uni.update(ws)
        bg.update(zip(ws, ws[1:]))
    n_bg, n_uni = sum(bg.values()), sum(uni.values())
    scored = sorted(
        (
            (
                -round((c * n_uni * n_uni) / (n_bg * uni[w1] * uni[w2]), 9),
                f"{w1} {w2}",
                c,
                uni[w1],
                uni[w2],
            )
            for (w1, w2), c in bg.items()
            if c >= X.COLLOC_MIN_COUNT
        )
    )[: X.COLLOC_TOP_N]
    want = [(s[1], s[2], s[3], s[4], -s[0]) for s in scored]
    got = [
        (r.bigram, r.c_bg, r.c_w1, r.c_w2, r.pmi_ratio)
        for r in X.collocations_pmi(t).collect()
    ]
    assert got == want and len(got) > 0


def test_benford_matches_python(spark):
    from collections import Counter

    t = _small_tables(spark)
    prices = [
        str(r.o_totalprice)
        for r in t["orders"].select("o_totalprice").collect()
    ]
    digits = Counter(
        next(ch for ch in p if ch in "123456789") for p in prices
    )
    total = len(prices)
    got = {
        r.digit: (r.n_orders, r.obs_ppm, r.benford_ppm, r.dev_ppm)
        for r in ST.benford_first_digit(t).collect()
    }
    for d_str, n in digits.items():
        d = int(d_str)
        obs = (n * 1_000_000) // total
        exp = ST.BENFORD_PPM[d]
        assert got[d] == (n, obs, exp, abs(obs - exp))
    assert set(got) == {int(d) for d in digits}


def test_pareto_frontier_matches_bruteforce(spark):
    t = _small_tables(spark)
    rows = [
        (r.c_mktsegment, r.o_orderdate, float(r.o_totalprice))
        for r in t["orders"]
        .join(
            t["customer"].select(
                F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
            ),
            "o_custkey",
        )
        .select("c_mktsegment", "o_orderdate", "o_totalprice")
        .collect()
    ]
    by_seg: dict[str, list] = {}
    for seg, d, p in rows:
        by_seg.setdefault(seg, []).append((d, p))
    want = set()
    for seg, pts in by_seg.items():
        # frontier on (date, daily max price): brute-force dominance
        daily = {}
        for d, p in pts:
            daily[d] = max(daily.get(d, p), p)
        for d, p in daily.items():
            if not any(d2 > d and p2 >= p for d2, p2 in daily.items()):
                want.add((seg, d, p))
    got = {
        (r.c_mktsegment, r.o_orderdate, r.best_total)
        for r in run_sql_entry(spark, "pareto_frontier_orders", t).collect()
    }
    assert got == want and len(got) > 0


def test_ewma_matches_sequential_recursion(spark):
    from parquet_export_spark.operators import advanced as A

    t = _small_tables(spark)
    K = A.EWMA_LAGS
    ev = sorted(
        (
            (r.event_type, r.ts, r.event_id, int(r.value * 100 + 0.5))
            for r in t["events"]
            .select("event_type", "ts", "event_id", "value")
            .collect()
        ),
    )
    hist: dict[str, list[int]] = {}
    want = {}
    for et, ts, eid, cents in ev:
        h = hist.setdefault(et, [])
        h.append(cents)
        last = h[-K:]
        m = len(last)
        s = sum(v * 2 ** (K - 1 - j) for j, v in enumerate(reversed(last)))
        want[eid] = s // (2**K - 2 ** (K - m))
    got = {
        r.event_id: r.ewma_cents
        for r in A.ewma_halflife_values(t).collect()
    }
    assert got == want and len(got) > 0


def test_dedup_canonical_matches_python(spark):
    import hashlib
    import re as _re

    from parquet_export_spark.operators import dedup as D

    t = _small_tables(spark)
    docs = [
        (r.doc_id, r.text)
        for r in t["documents"].select("doc_id", "text").collect()
    ]
    groups: dict[str, list] = {}
    for doc_id, text in docs:
        canon = _re.sub(
            " +", " ", _re.sub("[^a-z0-9 ]", " ", text.lower())
        ).strip()
        h = hashlib.md5(canon.encode()).hexdigest()
        groups.setdefault(h, []).append((doc_id, text))
    want = {
        h: (
            min(d for d, _ in g),
            len(g),
            len({txt for _, txt in g}),
        )
        for h, g in groups.items()
    }
    got = {
        r.canonical_hash: (r.keeper_doc_id, r.n_copies, r.n_variants)
        for r in D.dedup_canonical(t).collect()
    }
    assert got == want and len(got) > 0


def test_dedup_canonical_collapses_case_variants(spark):
    """Non-vacuity: a synthetic case/punct variant pair must land in
    ONE canonical group that byte-exact dedup keeps apart."""
    from parquet_export_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [
            (1, "Hello,  World!"),
            (2, "hello world"),
            (3, "something else"),
        ],
        "doc_id long, text string",
    )
    out = D.dedup_canonical({"documents": docs}).collect()
    by_keeper = {r.keeper_doc_id: (r.n_copies, r.n_variants) for r in out}
    assert by_keeper[1] == (2, 2)
    assert by_keeper[3] == (1, 1)


def test_containment_join_matches_bruteforce(spark):
    """Brute-force ALL ordered pairs on python sets — the prefix
    filter and one-sided index must lose nothing."""
    from parquet_export_spark.operators import dedup as D

    t = _small_tables(spark)
    docs = {
        r.doc_id: r.text
        for r in t["documents"].select("doc_id", "text").collect()
    }
    shingles = {}
    for d, txt in docs.items():
        ws = txt.split(" ")
        n = max(len(ws) - 2, 1)
        shingles[d] = {" ".join(ws[i : i + 3]) for i in range(n)}
    want = {}
    for a, sa in shingles.items():
        for b, sb in shingles.items():
            if a == b:
                continue
            inter = len(sa & sb)
            if D.CONTAIN_T_DEN * inter >= D.CONTAIN_T_NUM * len(sa):
                want[(a, b)] = (inter, len(sa))
    got = {
        (r.doc_a, r.doc_b): (r.inter_n, r.a_size)
        for r in D.containment_join(t).collect()
    }
    assert got == want and len(got) > 0
    # non-vacuity of the ASYMMETRY: at least one qualifying pair must
    # not qualify in reverse (the case Jaccard-style joins miss)
    assert any((b, a) not in want for a, b in want)


def test_seasonal_decompose_matches_python(spark):
    from collections import defaultdict

    from parquet_export_spark.operators import advanced as A

    t = _small_tables(spark)
    rows = t["events"].select("event_type", "ts", "value").collect()
    hourly = defaultdict(int)
    for r in rows:
        bucket = r.ts.replace(minute=0, second=0, microsecond=0)
        hourly[(r.event_type, bucket)] += int(r.value * 100 + 0.5)
    prof_sum, prof_n = defaultdict(int), defaultdict(int)
    for (et, b), s in hourly.items():
        prof_sum[(et, b.hour)] += s
        prof_n[(et, b.hour)] += 1
    want = {
        (et, b): (
            s,
            prof_sum[(et, b.hour)] // prof_n[(et, b.hour)],
            s - prof_sum[(et, b.hour)] // prof_n[(et, b.hour)],
        )
        for (et, b), s in hourly.items()
    }
    got = {
        (r.event_type, r.bucket): (
            r.actual_cents,
            r.seasonal_cents,
            r.residual_cents,
        )
        for r in A.seasonal_decompose_hourly(t).collect()
    }
    assert got == want and len(got) > 0


def test_phash_dedup_matches_numpy_bruteforce(spark):
    """Brute-force every pair's aHash hamming distance in numpy from
    the raw documents — the banded join must find exactly the pairs
    within the threshold (pigeonhole losslessness), and the kernel's
    decode/resample must match the independent recomputation."""
    import numpy as np

    from parquet_export_spark.operators import multimodal as M

    t = _small_tables(spark)
    rows = t["documents"].select("doc_id", "n_chars", "text").collect()
    bits_by_doc = {}
    for r in rows:
        w, h = 1 + r.n_chars % 16, 1 + r.n_chars % 7
        body = r.text[:112].ljust(w * h)[: w * h].encode()
        px = np.frombuffer(body, dtype=np.uint8).reshape(h, w)
        rs = px[(np.arange(8) * h) // 8][:, (np.arange(8) * w) // 8]
        mean = int(rs.sum(dtype=np.int64)) // 64
        bits_by_doc[r.doc_id] = (rs > mean).astype(int).flatten()
    ids = sorted(bits_by_doc)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            hd = int((bits_by_doc[a] != bits_by_doc[b]).sum())
            if hd <= M.PHASH_MAX_HAMMING:
                want[(a, b)] = hd
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in M.phash_pgm_dedup(t).collect()
    }
    assert got == want and len(got) > 0


def test_assortativity_matches_numpy(spark):
    t = _small_tables(spark)
    edges = [(r.src, r.dst) for r in G._trade_edges(t).collect()]
    from collections import Counter

    deg = Counter(s for s, _ in edges)
    import math

    xs = [deg[s] for s, _ in edges]
    ys = [deg[d] for _, d in edges]
    n = len(edges)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    r_want = (n * sxy - sx * sy) / (
        math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
    )
    [row] = G.assortativity_trade_graph(t).collect()
    assert row.n_edges == n
    assert abs(row.assortativity - r_want) < 1e-9
    # bipartite trade graphs are disassortative in this data: hubs on
    # one side trade with leaves on the other — sanity on the sign
    assert row.assortativity < 0


def test_remove_contained_docs_matches_bruteforce(spark):
    from parquet_export_spark.operators import dedup as D

    t = _small_tables(spark)
    docs = {
        r.doc_id: r.text
        for r in t["documents"].select("doc_id", "text").collect()
    }
    sh = {}
    for d, txt in docs.items():
        ws = txt.split(" ")
        sh[d] = {
            " ".join(ws[i : i + 3]) for i in range(max(len(ws) - 2, 1))
        }
    drop = set()
    for a, sa in sh.items():
        for b, sb in sh.items():
            if a == b:
                continue
            if D.CONTAIN_T_DEN * len(sa & sb) >= D.CONTAIN_T_NUM * len(sa):
                if len(sb) > len(sa) or (len(sb) == len(sa) and b < a):
                    drop.add(a)
    want = set(docs) - drop
    got = {r.doc_id for r in D.remove_contained_docs(t).collect()}
    assert got == want
    assert drop  # non-vacuous: something was actually removed


def test_ks_distance_matches_python(spark):
    t = _small_tables(spark)
    rows = t["events"].select("event_type", "value").collect()
    from collections import defaultdict

    samples = defaultdict(list)
    for r in rows:
        samples[r.event_type].append(int(r.value * 100 + 0.5))
    types = sorted(samples)
    want = {}
    for i, a in enumerate(types):
        for b in types[i + 1 :]:
            xa, xb = sorted(samples[a]), sorted(samples[b])
            na, nb = len(xa), len(xb)
            support = sorted(set(xa) | set(xb))
            import bisect

            d = max(
                abs(bisect.bisect_right(xa, x) * nb
                    - bisect.bisect_right(xb, x) * na)
                for x in support
            )
            want[(a, b)] = (na, nb, d, (d * 1_000_000) // (na * nb))
    got = {
        (r.type_a, r.type_b): (r.n_a, r.n_b, r.d_scaled, r.ks_ppm)
        for r in ST.ks_distance_pairs(t).collect()
    }
    assert got == want and len(got) > 0


def test_ks_shared_support_tie_is_not_overstated(spark):
    """Engineered shared-support differential: two identical
    single-point distributions must have D = 0 — a ROWS-frame carry
    would read one side mid-step at the shared point and report a
    spurious positive D (the RANGE-frame requirement)."""
    from datetime import datetime

    rows = [
        (1, datetime(2024, 1, 1), 1, "a", 1.0, "{}"),
        (2, datetime(2024, 1, 1), 1, "b", 1.0, "{}"),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string",
    )
    [row] = ST.ks_distance_pairs({"events": events}).collect()
    assert (row.type_a, row.type_b, row.d_scaled, row.ks_ppm) == (
        "a",
        "b",
        0,
        0,
    )


def test_sql_cohort_ltv_matches_python(spark, sf_dir):
    """Independent Python cohort rollup over the raw orders rows —
    first-order month, month index, distinct customers, exact decimal
    revenue."""
    from collections import defaultdict
    from decimal import Decimal

    from parquet_export_spark.queries import REGISTRY

    t = load_tables(spark, sf_dir)
    rows = [
        (r.o_custkey, r.o_orderdate, Decimal(str(r.o_totalprice)))
        for r in t["orders"]
        .select("o_custkey", "o_orderdate", "o_totalprice")
        .collect()
    ]
    first = {}
    for c, d, _ in rows:
        if c not in first or d < first[c]:
            first[c] = d
    agg = defaultdict(lambda: [set(), 0, Decimal(0)])
    for c, d, p in rows:
        cm = first[c].year * 12 + first[c].month
        om = d.year * 12 + d.month
        cell = agg[(cm, om - cm)]
        cell[0].add(c)
        cell[1] += 1
        cell[2] += p
    want = {
        k: (len(v[0]), v[1], float(v[2])) for k, v in agg.items()
    }
    got = {
        (r.cohort_month, r.month_index): (
            r.n_customers,
            r.n_orders,
            r.revenue,
        )
        for r in REGISTRY["sql_cohort_ltv"].fn(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 10


def test_random_walks_match_python(spark):
    """Independent Python replay of the argmin-md5 walk rule over the
    collected edge list, plus structural checks: every hop follows a
    real edge, walks alternate sides on the bipartite graph, and
    distinct starts produce divergent (not lock-step) walks."""
    import hashlib
    from collections import defaultdict

    t = _small_tables(spark)
    edges = defaultdict(set)
    for r in G._trade_edges(t).collect():
        edges[r.src].add(r.dst)
    L = G.WALK_LEN
    want = {}
    for start in sorted(k for k in edges if k % 2 == 1):
        cur, hops = start, []
        for k in range(1, L + 1):
            cur = min(
                edges[cur],
                key=lambda n: (
                    hashlib.md5(f"{start}#{k}#{n}".encode()).hexdigest(),
                    n,
                ),
            )
            hops.append(cur)
        want[start] = tuple(hops)
    got = {
        r.start_node: (r.hop1, r.hop2, r.hop3, r.hop4)
        for r in G.random_walks_suppliers(t).collect()
    }
    assert got == want and len(got) > 0
    for start, hops in got.items():
        prev = start
        for i, h in enumerate(hops):
            assert h in edges[prev]
            assert h % 2 == (start + i + 1) % 2  # bipartite alternation
            prev = h
    # divergence: the step-2 nodes across walks are not all identical
    assert len({h[1] for h in got.values()}) > 1


def test_decile_features_matches_python(spark):
    """Independent reference: rank-based integer boundaries (min cents
    with cumcount >= ceil(i*n/10)) and the same strictly-greater
    counting rule — plus the structural property that decile
    populations are near-uniform. (The first cut of this operator
    used interpolated percentile boundaries and FAILED the sf0.1
    oracle sweep on a 1-ulp Spark/DuckDB interpolation divergence —
    this reference is intentionally pure-integer.)"""
    from collections import Counter, defaultdict

    t = _small_tables(spark)
    rows = t["events"].select("event_id", "event_type", "value").collect()
    vals = defaultdict(list)
    for r in rows:
        vals[r.event_type].append(int(r.value * 100 + 0.5))
    bounds = {}
    for et, v in vals.items():
        sv, n = sorted(v), len(v)
        bounds[et] = [
            sv[-(-i * n // 10) - 1] for i in range(1, 10)
        ]  # ceil(i*n/10)-th order statistic
    want = {
        r.event_id: 1
        + sum(
            int(r.value * 100 + 0.5) > b for b in bounds[r.event_type]
        )
        for r in rows
    }
    got = {
        r.event_id: r.decile
        for r in ST.decile_features_events(t).collect()
    }
    assert got == want and len(got) == len(rows)
    # near-uniform bins per type (discrete boundaries => each decile
    # holds ~n/10 rows, off only by tie runs at boundaries)
    per = defaultdict(Counter)
    for r in rows:
        per[r.event_type][want[r.event_id]] += 1
    for et, c in per.items():
        n = len(vals[et])
        assert set(c) == set(range(1, 11))
        assert max(abs(c[d] - n / 10) for d in c) <= n / 10 * 0.2 + 2


def test_anomaly_suite_equals_singles(spark, sf_dir):
    """The composed suite must equal the three singles joined by hand
    — composition cannot change any number."""
    from parquet_export_spark.operators import stats as STS

    t = load_tables(spark, sf_dir)
    suite = {
        r.event_type: (
            r.n_events,
            r.n_z_outliers,
            r.n_mad_outliers,
            r.max_cusum,
            r.n_alarms,
        )
        for r in STS.anomaly_suite_events(t).collect()
    }
    from collections import Counter

    z = Counter(r.event_type for r in STS.value_outliers(t).collect())
    mad = Counter(
        r.event_type for r in STS.value_mad_outliers(t).collect()
    )
    cu = {
        r.event_type: (r.n_events, r.max_cusum, r.n_alarms)
        for r in STS.cusum_alarms(t).collect()
    }
    assert set(suite) == set(cu)
    for et, (n, nz, nm, mx, na) in suite.items():
        assert (n, mx, na) == cu[et]
        assert nz == z.get(et, 0)
        assert nm == mad.get(et, 0)
    # non-vacuity: at least one type has outliers of each kind
    assert any(v[1] > 0 for v in suite.values())
    assert any(v[2] > 0 for v in suite.values())


def test_target_encode_loo_matches_python(spark):
    """Independent reference: exact Fraction arithmetic for the
    category sums, then the same double division — plus the leakage
    property the encoder exists for: a category's LOO means differ
    across rows unless all its values are equal."""
    from collections import defaultdict
    from decimal import Decimal

    t = _small_tables(spark)
    rows = t["events"].select("event_id", "event_type", "value").collect()
    sums, ns = defaultdict(Decimal), defaultdict(int)
    for r in rows:
        sums[r.event_type] += Decimal(str(r.value))
        ns[r.event_type] += 1
    want = {}
    for r in rows:
        n = ns[r.event_type]
        if n > 1:
            want[r.event_id] = round(
                (float(sums[r.event_type]) - r.value) / (n - 1.0), 9
            )
        else:
            want[r.event_id] = None
    got = {
        r.event_id: r.loo_mean
        for r in run_sql_entry(spark, "target_encode_loo", t).collect()
    }
    assert got == want and len(got) == len(rows)
    by_type = defaultdict(set)
    for r in rows:
        by_type[r.event_type].add(got[r.event_id])
    assert any(len(v) > 1 for v in by_type.values())  # row-dependent


def test_interarrival_gap_histogram_matches_python(spark):
    from collections import Counter, defaultdict

    from parquet_export_spark.operators import advanced as A

    t = _small_tables(spark)
    rows = sorted(
        (
            (r.event_type, r.ts, r.event_id)
            for r in t["events"]
            .select("event_type", "ts", "event_id")
            .collect()
        ),
    )
    seqs = defaultdict(list)
    for et, ts, eid in rows:
        seqs[et].append(ts)
    want = Counter()
    for et, tss in seqs.items():
        for a, b in zip(tss, tss[1:]):
            ma = (a.date() - __import__("datetime").date(1970, 1, 1)).days
            mb = (b.date() - __import__("datetime").date(1970, 1, 1)).days
            gap = (
                (mb * 1440 + b.hour * 60 + b.minute)
                - (ma * 1440 + a.hour * 60 + a.minute)
            )
            want[(et, min(gap, A.GAP_HIST_CAP_MINUTES))] += 1
    got = {
        (r.event_type, r.gap_minutes): r.n_gaps
        for r in A.interarrival_gap_histogram(t).collect()
    }
    assert got == dict(want) and len(got) > 0
    # total gaps = events - types (one fewer gap than events per type)
    assert sum(got.values()) == len(rows) - len(seqs)
