"""Round-7 additions: the loud HITS overflow envelope (r6 verdict #3)
and the exact-decimal assortativity sums.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parquet_export_spark.operators import advanced as A
from parquet_export_spark.operators import graph as G
from parquet_export_spark.operators import stats as ST
from parquet_export_spark.sources.lake import load_tables
from tests.oracle_harness import run_sql_entry


def _small_tables(spark):
    return load_tables(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# HITS int64 overflow envelope: loud guard (round-7 verdict #3 — the
# hole PageRank closed in round 6, applied to the other iterative op)
# ---------------------------------------------------------------------------


def test_hits_envelope_formula():
    """The guard's envelope is the docstring proof's bound: the
    normalization multiply degree * SCALE^2 must stay under 2^63."""
    mx = G._hits_max_degree()
    assert mx * G.HITS_SCALE * G.HITS_SCALE < 2**63
    assert (mx + 1) * G.HITS_SCALE * G.HITS_SCALE >= 2**63
    # with the shipped constants the envelope covers ~9e6 max degree
    assert mx > 9 * 10**6


def test_hits_over_envelope_raises(spark, monkeypatch):
    """Adversarial over-envelope graph: shrink SCALE so the envelope
    falls below a 2-degree synthetic bipartite graph and assert the
    operator RAISES before iterating — under ansi=false the
    normalization multiply would otherwise wrap silently."""
    monkeypatch.setattr(G, "HITS_SCALE", 2**31)
    assert G._hits_max_degree() == 1  # any degree-2 node is over
    t = {
        "orders": spark.createDataFrame(
            [(1, 10), (2, 11)], "o_orderkey long, o_custkey long"
        ),
        "lineitem": spark.createDataFrame(
            # supplier 7 ships both orders: in-degree 2 > envelope 1
            [(1, 7), (2, 7)],
            "l_orderkey long, l_suppkey long",
        ),
    }
    with pytest.raises(ValueError, match="overflow envelope"):
        G.hits_trade_graph(t, n_iter=1)


def test_hits_under_envelope_still_runs(spark):
    """The guard must not reject the ordinary case: the sf0.001 trade
    graph is far inside the shipped envelope and HITS completes."""
    out = G.hits_trade_graph(_small_tables(spark), n_iter=1)
    rows = out.limit(5).collect()
    assert rows and all(r.authority >= 0 for r in rows)


# ---------------------------------------------------------------------------
# Assortativity: exact-decimal sufficient statistics (no envelope)
# ---------------------------------------------------------------------------


def test_assortativity_sums_are_decimal_exact(spark, sf_dir):
    """The five sufficient statistics accumulate in exact decimal
    (operands cast to decimal(19,0); Spark widens the quadratic sums
    to decimal(38,0) and the linear ones to decimal(29,0)) — the plan
    must carry the decimal casts of the degree columns, so no int64
    partial sum exists to wrap at lake scale."""
    from parquet_export_spark.plans import inspect as P

    df = G.assortativity_trade_graph(load_tables(spark, sf_dir))
    plan = P.plan_string(df)
    assert "decimal(19,0)" in plan, plan[:2000]
    # and the known sf-value stays correct (oracle parity is pinned
    # every pytest pass by the registry harness; this is the cheap
    # structural half)
    row = df.first()
    assert row.n_edges > 0
    assert -1.0 <= row.assortativity <= 1.0


# ---------------------------------------------------------------------------
# ks_drift_stream int64 overflow envelope: loud guard (r7 ADVICE medium)
# ---------------------------------------------------------------------------


def test_ks_drift_envelope_formula():
    from parquet_export_spark.streaming import incremental as I

    mx = I._ks_envelope()
    assert mx * I.KS_PPM_SCALE < 2**63
    assert (mx + 1) * I.KS_PPM_SCALE >= 2**63
    # with the shipped scale the envelope covers ~9.2e12 sample-pairs
    assert mx > 9 * 10**12


def test_ks_drift_over_envelope_raises(spark, tmp_path, monkeypatch):
    """Shrink the ppm scale so the envelope falls below a tiny
    stream x reference product and assert the monitor's batch RAISES
    (surfaced through the streaming query) instead of emitting a
    silently-wrapped ks_ppm."""
    from datetime import datetime, timedelta

    from parquet_export_spark.streaming import incremental as I

    monkeypatch.setattr(I, "KS_PPM_SCALE", 2**61)
    assert I._ks_envelope() == 3  # na*nb = 4*4 = 16 is over

    land = str(tmp_path / "land")
    ref_dir = str(tmp_path / "ref")
    art = str(tmp_path / "art")
    ckpt = str(tmp_path / "ckpt")
    schema = (
        "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string"
    )
    t0 = datetime(2024, 5, 1)

    def rows(vals, base_id):
        return [
            (base_id + i, t0 + timedelta(minutes=i), 1, "probe", v, "{}")
            for i, v in enumerate(vals)
        ]

    I.write_ks_reference(
        spark.createDataFrame(rows([1.0, 2.0, 3.0, 4.0], 100), schema),
        ref_dir,
    )
    spark.createDataFrame(rows([1.0, 2.0, 3.0, 4.0], 0), schema).coalesce(
        1
    ).write.mode("append").parquet(land)
    stream = spark.readStream.schema(schema).parquet(land)
    q = I.ks_drift_stream(stream, ref_dir, art, ckpt)
    with pytest.raises(Exception, match="overflow envelope"):
        q.awaitTermination()


# ---------------------------------------------------------------------------
# write_text fallback gate: only a missing AbstractFileSystem binding
# licenses the non-atomic path (r7 ADVICE low)
# ---------------------------------------------------------------------------


class _FakeJavaCls:
    def __init__(self, name):
        self._n = name

    def getName(self):
        return self._n


class _FakeJavaExc:
    def __init__(self, name):
        self._c = _FakeJavaCls(name)

    def getClass(self):
        return self._c


def test_missing_binding_licenses_fallback_with_warning():
    import warnings as W

    from parquet_export_spark.export import fs

    exc = Exception("py4j wrapper")
    exc.java_exception = _FakeJavaExc(
        "org.apache.hadoop.fs.UnsupportedFileSystemException"
    )
    with W.catch_warnings(record=True) as rec:
        W.simplefilter("always")
        fs._require_missing_binding(exc, "s3x://bucket/m.json")
    assert any("non-atomic" in str(w.message) for w in rec)


def test_other_jvm_failure_refuses_fallback():
    from parquet_export_spark.export import fs

    exc = Exception("py4j wrapper")
    exc.java_exception = _FakeJavaExc("java.io.IOException")
    with pytest.raises(IOError, match="refusing the non-atomic"):
        fs._require_missing_binding(exc, "s3x://bucket/m.json")


def test_plain_python_failure_refuses_fallback():
    from parquet_export_spark.export import fs

    with pytest.raises(IOError, match="refusing the non-atomic"):
        fs._require_missing_binding(
            RuntimeError("gateway down"), "s3x://bucket/m.json"
        )


# ---------------------------------------------------------------------------
# bench emit: durable slowest-20 line before the total (r6 verdict #6)
# ---------------------------------------------------------------------------


def test_bench_emit_slowest20_then_total(capsys):
    import json
    import sys

    sys.path.insert(0, "/root/repo")
    import bench

    timings = {f"q{i:03d}": (i % 37) / 10.0 for i in range(200)}
    bench._emit(timings, 0.1)
    lines = [
        json.loads(ln)
        for ln in capsys.readouterr().out.strip().splitlines()
    ]
    # total is LAST (driver-tail contract); the positional full map
    # (timings_cs, round-10) immediately before it, slowest20 before
    # that — so tail truncation eats the redundant named summary
    # before the full map, and the map before the total.
    assert lines[-1]["metric"] == "headline_queries_total_sec"
    tcs = lines[-2]
    assert tcs["metric"] == "timings_cs"
    assert tcs["n"] == len(timings)
    # positional: centisecond ints in emission order
    assert tcs["t"] == [int(round(v * 100)) for v in timings.values()]
    s20 = lines[-3]
    assert s20["metric"] == "slowest20"
    assert len(s20["queries"]) == 20
    assert min(s20["queries"].values()) >= max(
        v for k, v in timings.items() if k not in s20["queries"]
    )
    # the tail-critical trailer lines fit the driver's 2000-byte tail
    # together, at 200 registry entries
    assert (
        len(json.dumps(s20))
        + len(json.dumps(tcs, separators=(",", ":")))
        + len(json.dumps(lines[-1]))
        < 2000
    )
    # chunks reassemble to the full map
    chunks = [l for l in lines if l["metric"] == "headline_queries_chunk"]
    merged = {}
    for c in chunks:
        merged.update(c["queries"])
    assert merged == {k: v for k, v in timings.items()}


# ---------------------------------------------------------------------------
# Persisted IVF index artifact (r6 verdict #4): probe-vs-refit parity
# ---------------------------------------------------------------------------


def test_ivf_probe_matches_refit_on_static_data(spark, sf_dir):
    """On static data the stored-index probe must reproduce the refit
    path exactly: the centers fit is deterministic (bounded hash-
    ordered sample + seeded numpy k-means), the assignment and
    routing share the same argmin/tie-break rules, so
    (query_id, neighbor_id, sim, rank) must be identical."""
    from parquet_export_spark.operators import similarity as S

    t = load_tables(spark, sf_dir)
    refit = [
        tuple(r) for r in S.ivf_topk(t).collect()
    ]
    probe = [
        tuple(r) for r in S.ivf_probe_incremental(t).collect()
    ]
    assert probe == refit and len(probe) > 0


def test_pq_probe_matches_refit_on_static_data(spark, sf_dir):
    """Stored-PQ probe == refit path on static data: deterministic
    codebook fit, same stored codes, same ADC ranking and tie-breaks."""
    from parquet_export_spark.operators import similarity as S

    t = load_tables(spark, sf_dir)
    refit = [tuple(r) for r in S.pq_topk(t).collect()]
    probe = [tuple(r) for r in S.pq_probe_incremental(t).collect()]
    assert probe == refit and len(probe) > 0


# ---------------------------------------------------------------------------
# Independent Python differentials for the round-7 operator batch
# ---------------------------------------------------------------------------


def _events_rows(spark):
    return (
        load_tables(spark, "/root/testdata/sf0.001")["events"]
        .select("event_id", "user_id", "ts", "event_type", "value")
        .collect()
    )


def test_robust_scale_matches_python(spark):
    """Reference: pure-integer order statistics q_i = the ceil(i*n/4)-th
    sorted cent, robust_z recomputed in Python floats (compared to
    1e-9 — ROUND half-up vs Python bankers' rounding differ in the
    last digit on exact halves)."""
    from collections import defaultdict

    t = _small_tables(spark)
    rows = _events_rows(spark)
    vals = defaultdict(list)
    for r in rows:
        vals[r.event_type].append(int(r.value * 100 + 0.5))
    q = {}
    for et, v in vals.items():
        sv, n = sorted(v), len(v)
        q[et] = [sv[-(-i * n // 4) - 1] for i in (1, 2, 3)]
    got = {
        r.event_id: (r.value_cents, r.median_cents, r.iqr_cents, r.robust_z)
        for r in ST.robust_scale_features(t).collect()
    }
    assert len(got) == len(rows)
    for r in rows:
        c = int(r.value * 100 + 0.5)
        q1, med, q3 = q[r.event_type]
        gc, gmed, giqr, gz = got[r.event_id]
        assert (gc, gmed, giqr) == (c, med, q3 - q1)
        if q3 == q1:
            assert gz is None
        else:
            assert abs(gz - (c - med) / (q3 - q1)) < 1e-9


def test_autocorr_matches_python(spark):
    """Reference: dense per-type hourly count series (missing hours
    are ZEROS — dropping them fabricates adjacency), lag-k Pearson
    from integer sums in Python floats."""
    import math
    from collections import Counter, defaultdict

    t = _small_tables(spark)
    rows = _events_rows(spark)
    hc = defaultdict(Counter)
    for r in rows:
        h = (r.ts.date() - __import__("datetime").date(1970, 1, 1)).days * 24 + r.ts.hour
        hc[r.event_type][h] += 1
    want = {}
    for et, c in hc.items():
        h0, h1 = min(c), max(c)
        xs = [c.get(h, 0) for h in range(h0, h1 + 1)]
        for lag in A.AUTOCORR_LAGS:
            pairs = [(xs[i], xs[i + lag]) for i in range(len(xs) - lag)]
            if not pairs:
                continue
            n = float(len(pairs))
            sx = float(sum(p[0] for p in pairs))
            sy = float(sum(p[1] for p in pairs))
            sxx = float(sum(p[0] * p[0] for p in pairs))
            syy = float(sum(p[1] * p[1] for p in pairs))
            sxy = float(sum(p[0] * p[1] for p in pairs))
            den = math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
            want[(et, lag)] = (
                len(pairs),
                (n * sxy - sx * sy) / den if den > 0 else None,
            )
    got = {
        (r.event_type, r.lag): (r.n_pairs, r.autocorr)
        for r in A.autocorr_hourly_counts(t).collect()
    }
    assert set(got) == set(want)
    for key in want:
        assert got[key][0] == want[key][0], key
        if want[key][1] is None:
            assert got[key][1] is None, key
        else:
            assert abs(got[key][1] - want[key][1]) < 1e-9, key
    # the daily cycle must be measured, not degenerate: lag-24 exists
    assert any(lag == 24 for _, lag in got)


def test_type_affinity_matches_python(spark):
    from collections import defaultdict

    t = _small_tables(spark)
    users = defaultdict(set)
    for r in _events_rows(spark):
        users[r.event_type].add(r.user_id)
    types = sorted(users)
    want = {}
    for i, ta in enumerate(types):
        for tb in types[i + 1 :]:
            inter = len(users[ta] & users[tb])
            if inter == 0:
                continue  # no co-occurrence row is emitted
            union = len(users[ta]) + len(users[tb]) - inter
            want[(ta, tb)] = (
                len(users[ta]),
                len(users[tb]),
                inter,
                inter * 1_000_000 // union,
            )
    got = {
        (r.type_a, r.type_b): (r.n_a, r.n_b, r.n_common, r.jaccard_ppm)
        for r in A.type_affinity_jaccard(t).collect()
    }
    assert got == want and len(got) > 0


def test_user_path_matches_python(spark):
    from collections import Counter, defaultdict

    t = _small_tables(spark)
    ev = defaultdict(list)
    for r in _events_rows(spark):
        ev[r.user_id].append((r.ts, r.event_id, r.event_type))
    paths = Counter(
        ">".join(x[2] for x in sorted(v)[: A.PATH_LEN])
        for v in ev.values()
    )
    want = sorted(paths.items(), key=lambda kv: (-kv[1], kv[0]))[
        : A.PATH_TOPK
    ]
    got = [
        (r.path, r.n_users)
        for r in A.user_path_topk(t).orderBy("rank").collect()
    ]
    assert got == want and len(got) > 0


def test_value_clusters_matches_python(spark):
    from collections import Counter, defaultdict

    t = _small_tables(spark)
    cents = defaultdict(Counter)
    for r in _events_rows(spark):
        cents[r.event_type][int(r.value * 100 + 0.5)] += 1
    want = {}
    for et, c in cents.items():
        run, clusters = [], []
        for v in sorted(c):
            if run and v - run[-1] > ST.CLUSTER_EPS_CENTS:
                clusters.append(run)
                run = []
            run.append(v)
        clusters.append(run)
        cid = 0
        for r_ in clusters:
            n_ev = sum(c[v] for v in r_)
            if n_ev >= ST.CLUSTER_MIN_PTS:
                cid += 1
                want[(et, cid)] = (r_[0], r_[-1], n_ev, len(r_))
    got = {
        (r.event_type, r.cluster_id): (
            r.lo_cents,
            r.hi_cents,
            r.n_events,
            r.n_values,
        )
        for r in ST.value_clusters_1d(t).collect()
    }
    assert got == want and len(got) > 0


def test_value_clusters_engineered_multimodal(spark):
    """Non-vacuity: an engineered trimodal distribution with a sparse
    noise point must produce exactly the three dense clusters, noise
    dropped."""
    rows = (
        [(i, "m", 10.00 + i * 0.01) for i in range(10)]  # 1000..1009
        + [(100 + i, "m", 50.00 + i * 0.01) for i in range(10)]
        + [(200 + i, "m", 90.00 + i * 0.01) for i in range(10)]
        + [(999, "m", 70.00)]  # isolated: n_events=1 < min_pts
    )
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )
    out = ST.value_clusters_1d({"events": df}).collect()
    assert [(r.lo_cents, r.hi_cents, r.n_events) for r in out] == [
        (1000, 1009, 10),
        (5000, 5009, 10),
        (9000, 9009, 10),
    ]


def test_chi2_matches_python(spark):
    from collections import Counter

    t = _small_tables(spark)
    rows = _events_rows(spark)
    allc = sorted(int(r.value * 100 + 0.5) for r in rows)
    n = len(allc)
    bounds = [allc[-(-i * n // 10) - 1] for i in range(1, 10)]
    obs = Counter(
        (r.event_type, 1 + sum(int(r.value * 100 + 0.5) > b for b in bounds))
        for r in rows
    )
    rt = Counter()
    ct = Counter()
    for (et, d), o in obs.items():
        rt[et] += o
        ct[d] += o
    got = {
        (r.event_type, r.decile): (r.observed, r.expected, r.contribution)
        for r in ST.chi2_type_decile(t).collect()
    }
    assert set(got) == set(obs)
    for (et, d), o in obs.items():
        e = rt[et] * ct[d] / n
        go, ge, gc = got[(et, d)]
        assert go == o
        assert abs(ge - e) < 1e-6
        assert abs(gc - (o - e) ** 2 / e) < 1e-6


def test_nearest_event_matches_python(spark):
    from collections import defaultdict

    t = _small_tables(spark)
    rows = _events_rows(spark)
    clicks = defaultdict(list)
    purchases = []
    for r in rows:
        if r.event_type == "click":
            clicks[r.user_id].append((r.ts, r.event_id))
        elif r.event_type == "purchase":
            purchases.append(r)
    want = {}
    for p in purchases:
        cl = clicks.get(p.user_id, [])
        prevs = sorted(c for c in cl if c[0] <= p.ts)
        nexts = sorted(c for c in cl if c[0] >= p.ts)
        prev = prevs[-1] if prevs else None  # max ts, then max id
        nxt = min(nexts) if nexts else None  # min ts... tie: MAX id
        if nexts:
            min_ts = min(c[0] for c in nexts)
            nxt = max(c for c in nexts if c[0] == min_ts)
        if prev is None and nxt is None:
            want[p.event_id] = (None, None, None)
            continue
        def us(d):
            # exact integer microseconds — total_seconds() is a float
            # and rounds off at this precision
            return (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds

        pg = us(p.ts - prev[0]) if prev else None
        ng = us(nxt[0] - p.ts) if nxt else None
        if prev is not None and (nxt is None or pg <= ng):
            want[p.event_id] = (prev[1], pg, "before")
        else:
            want[p.event_id] = (nxt[1], ng, "after")
    got = {
        r.event_id: (r.nearest_click_id, r.gap_us, r.direction)
        for r in A.nearest_event_join(t).collect()
    }
    assert got == want and len(got) > 0
    assert any(v[2] == "after" for v in got.values() if v[2])


def test_nearest_event_exact_instant_tie(spark):
    """Boundary fixture (pitfall 5, both directions): a click at the
    EXACT purchase instant must match with gap 0 and direction
    'before' (prev wins ties); a user whose only click is after the
    purchase must get 'after'; a clickless user gets NULLs."""
    from datetime import datetime

    ts0 = datetime(2024, 5, 1, 12, 0, 0)
    ts1 = datetime(2024, 5, 1, 13, 0, 0)
    rows = [
        (1, ts0, 10, "click", 1.0, "{}"),
        (2, ts0, 10, "purchase", 5.0, "{}"),   # exact-instant click
        (3, ts1, 11, "purchase", 5.0, "{}"),
        (4, datetime(2024, 5, 1, 13, 0, 30), 11, "click", 1.0, "{}"),
        (5, ts1, 12, "purchase", 5.0, "{}"),   # clickless user
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string",
    )
    got = {
        r.event_id: (r.nearest_click_id, r.gap_us, r.direction)
        for r in A.nearest_event_join({"events": df}).collect()
    }
    assert got[2] == (1, 0, "before")
    assert got[3] == (4, 30_000_000, "after")
    assert got[5] == (None, None, None)


# ---------------------------------------------------------------------------
# Second round-7 batch: LPA, RAKE, time-to-convert, WoW revenue
# ---------------------------------------------------------------------------


def test_lpa_matches_python(spark):
    """Independent reference: pure-Python synchronous label
    propagation with the (count DESC, label ASC) argmax over the SAME
    projected edge set — pins the propagation algebra and the round
    count (the projection itself is differentially pinned by the
    triangle/communities tests)."""
    from collections import Counter, defaultdict

    t = _small_tables(spark)
    strong = [(r.s1, r.s2) for r in G._supplier_strong_pairs(t).collect()]
    nbrs = defaultdict(list)
    for a, b in strong:
        nbrs[a].append(b)
        nbrs[b].append(a)
    lbl = {n: n for n in nbrs}
    for _ in range(G.LPA_ITERS):
        new = {}
        for n, ns in nbrs.items():
            c = Counter(lbl[m] for m in ns)
            new[n] = min(c, key=lambda L: (-c[L], L))
        lbl = new
    sizes = Counter(lbl.values())
    want = {n: (lbl[n], sizes[lbl[n]]) for n in lbl}
    got = {
        r.supplier: (r.lpa_label, r.n_members)
        for r in G.lpa_communities_suppliers(t).collect()
    }
    assert got == want and len(got) > 0
    # non-vacuity: propagation must actually merge labels
    assert len(set(v[0] for v in got.values())) < len(got)


def test_lpa_outvotes_bridge(spark, monkeypatch):
    """The semantic LPA adds over threshold+CC: two dense triangles
    joined by ONE bridge edge stay TWO communities (the dense
    neighborhoods outvote the bridge) where connected components
    would merge them."""
    edges = [
        (1, 2), (1, 3), (2, 3),       # triangle A
        (4, 5), (4, 6), (5, 6),       # triangle B
        (3, 4),                        # bridge
    ]
    pairs = spark.createDataFrame(edges, "s1 long, s2 long")
    monkeypatch.setattr(
        G, "_supplier_strong_pairs", lambda *a, **k: pairs
    )
    out = G.lpa_communities_suppliers({})
    labels = {r.supplier: r.lpa_label for r in out.collect()}
    assert len(set(labels.values())) >= 2
    assert labels[1] == labels[2]
    assert labels[5] == labels[6]
    assert labels[1] != labels[6]


def test_rake_matches_python(spark):
    from collections import Counter, defaultdict

    from parquet_export_spark.operators import text as X

    docs = (
        _small_tables(spark)["documents"].select("doc_id", "text").collect()
    )
    stop = set(X.RAKE_STOPWORDS)
    freq = Counter()
    deg = Counter()
    phrases = []
    for r in docs:
        run = []
        for w in r.text.split(" ") + [None]:
            if w is None or w in stop:
                if run:
                    phrases.append(run)
                    for x in run:
                        freq[x] += 1
                        deg[x] += len(run)
                run = []
            else:
                run.append(w)
    wppm = {w: deg[w] * 1_000_000 // freq[w] for w in freq}
    by_text = defaultdict(int)
    score = {}
    nw = {}
    for run in phrases:
        txt = " ".join(run)
        by_text[txt] += 1
        score[txt] = sum(wppm[w] for w in run)
        nw[txt] = len(run)
    want = [
        (txt, nw[txt], score[txt], by_text[txt])
        for txt in sorted(score, key=lambda p: (-score[p], p))[
            : X.RAKE_TOPK
        ]
    ]
    got = [
        (r.phrase, r.n_words, r.score_ppm, r.n_occurrences)
        for r in X.rake_keyphrases(_small_tables(spark))
        .orderBy("rank")
        .collect()
    ]
    assert got == want and len(got) == X.RAKE_TOPK


def test_funnel_time_matches_python(spark):
    from collections import defaultdict
    from datetime import date

    t = _small_tables(spark)
    rows = _events_rows(spark)
    s_first = {}
    for r in rows:
        if r.event_type == "signup":
            if r.user_id not in s_first or r.ts < s_first[r.user_id]:
                s_first[r.user_id] = r.ts

    def minute(ts):
        return (
            (ts.date() - date(1970, 1, 1)).days * 1440
            + ts.hour * 60
            + ts.minute
        )

    p_first = {}
    for r in rows:
        if r.event_type == "purchase" and r.user_id in s_first:
            if r.ts >= s_first[r.user_id] and (
                r.user_id not in p_first or r.ts < p_first[r.user_id]
            ):
                p_first[r.user_id] = r.ts
    gaps = defaultdict(list)
    for u, pts in p_first.items():
        sts = s_first[u]
        wk = (sts.date() - date(1970, 1, 1)).days // 7
        gaps[wk].append(minute(pts) - minute(sts))
    want = {}
    for wk, g in gaps.items():
        sv, n = sorted(g), len(g)
        q = [sv[-(-i * n // 4) - 1] for i in (1, 2, 3)]
        want[wk] = (n, q[0], q[1], q[2])
    got = {
        r.cohort_week: (
            r.n_converted,
            r.q1_minutes,
            r.median_minutes,
            r.q3_minutes,
        )
        for r in A.funnel_time_to_convert(t).collect()
    }
    assert got == want and len(got) > 0


def test_weekly_revenue_matches_python(spark):
    from collections import defaultdict
    from datetime import date
    from decimal import Decimal

    t = _small_tables(spark)
    orders = t["orders"].select(
        "o_orderpriority", "o_orderdate", "o_totalprice"
    ).collect()
    weekly = defaultdict(Decimal)
    for r in orders:
        d = r.o_orderdate
        if hasattr(d, "date"):
            d = d.date()  # the lake stores orderdate as a timestamp
        wk = (d - date(1970, 1, 1)).days // 7
        weekly[(r.o_orderpriority, wk)] += Decimal(str(r.o_totalprice))
    cents = {k: int(v * 100) for k, v in weekly.items()}
    got = {
        (r.o_orderpriority, r.week): (
            r.revenue_cents,
            r.prev_cents,
            r.wow_change,
        )
        for r in A.weekly_revenue_wow(t).collect()
    }
    assert set(got) == set(cents)
    for (pri, wk), (rev, prev, chg) in got.items():
        assert rev == cents[(pri, wk)]
        pkey = (pri, wk - 1)
        if pkey in cents:
            assert prev == cents[pkey]
            assert abs(chg - (rev - prev) / prev) < 1e-9
        else:
            assert prev is None and chg is None


# ---------------------------------------------------------------------------
# Round-7 batch 3: fano / rfm / session grid / attribution / link pred
# ---------------------------------------------------------------------------


def test_fano_matches_python(spark):
    """Reference: per-minute counts from calendar components, dense
    moments via span (zeros add nothing to S1/S2), population
    var/mean in Python floats."""
    from collections import Counter, defaultdict
    from datetime import date

    t = _small_tables(spark)
    mc = defaultdict(Counter)
    for r in _events_rows(spark):
        m = (
            (r.ts.date() - date(1970, 1, 1)).days * 1440
            + r.ts.hour * 60
            + r.ts.minute
        )
        mc[r.event_type][m] += 1
    want = {}
    for et, c in mc.items():
        span = max(c) - min(c) + 1
        s1 = sum(c.values())
        s2 = sum(v * v for v in c.values())
        want[et] = (
            span,
            len(c),
            s1,
            round((span * s2 - s1 * s1) / (span * s1), 9),
        )
    got = {
        r.event_type: (r.n_minutes, r.n_active_minutes, r.n_events, r.fano)
        for r in ST.fano_burstiness(t).collect()
    }
    assert set(got) == set(want)
    for et in want:
        assert got[et][:3] == want[et][:3], et
        assert abs(got[et][3] - want[et][3]) < 1e-9, et
    # the synthetic arrival process is Poisson-like: F must sit near 1
    # (a regression to per-SECOND or per-HOUR indexes would move it)
    assert all(0.5 < v[3] < 2.0 for v in got.values())


def _rfm_python(spark, k=5):
    """Independent RFM: per-customer metrics + the rank-based
    boundary rule b_i = min v with cum >= ceil(i*n/k)."""
    from collections import Counter, defaultdict

    rows = (
        _small_tables(spark)["orders"]
        .select("o_custkey", "o_orderdate", "o_totalprice")
        .collect()
    )
    per = defaultdict(lambda: [None, 0, 0])
    gmax = max(r.o_orderdate for r in rows)
    for r in rows:
        p = per[r.o_custkey]
        d = r.o_orderdate
        p[0] = d if p[0] is None or d > p[0] else p[0]
        p[1] += 1
        import math

        p[2] += int(math.floor(float(r.o_totalprice) * 100 + 0.5))
    cust = {
        ck: (
            (gmax.date() - v[0].date()).days,
            v[1],
            v[2],
        )
        for ck, v in per.items()
    }
    scores = {}
    for mi in range(3):
        vals = Counter(v[mi] for v in cust.values())
        n = sum(vals.values())
        support = sorted(vals)
        cum, cums = 0, {}
        for v in support:
            cum += vals[v]
            cums[v] = cum
        bounds = []
        for i in range(1, k):
            target = -(-i * n // k)  # ceil
            bounds.append(min(v for v in support if cums[v] >= target))
        for ck, v in cust.items():
            asc = 1 + sum(1 for b in bounds if v[mi] > b)
            scores[(ck, mi)] = (k + 1 - asc) if mi == 0 else asc
    return {
        ck: (
            v[0],
            v[1],
            v[2],
            scores[(ck, 0)],
            scores[(ck, 1)],
            scores[(ck, 2)],
            scores[(ck, 0)] * 100 + scores[(ck, 1)] * 10 + scores[(ck, 2)],
        )
        for ck, v in cust.items()
    }


def test_rfm_matches_python(spark):
    t = _small_tables(spark)
    want = _rfm_python(spark)
    got = {
        r.o_custkey: (
            r.recency_days,
            r.frequency,
            r.monetary_cents,
            r.r_score,
            r.f_score,
            r.m_score,
            r.rfm_code,
        )
        for r in ST.rfm_segments(t).collect()
    }
    assert got == want and len(got) > 0
    # sanity: every score in 1..5, and someone lands in each extreme
    all_scores = [s for v in got.values() for s in v[3:6]]
    assert min(all_scores) == 1 and max(all_scores) == 5


def test_session_entry_exit_matches_python(spark):
    """Reference: independent Python sessionization (30-min gap over
    the (ts, event_id) order) + entry/exit grid."""
    from collections import defaultdict
    from datetime import timedelta

    per_user = defaultdict(list)
    for r in _events_rows(spark):
        per_user[r.user_id].append(r)
    grid = defaultdict(lambda: [0, 0])
    for rows in per_user.values():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        sessions, cur = [], [rows[0]]
        for prev, nxt in zip(rows, rows[1:]):
            if nxt.ts - prev.ts > timedelta(minutes=30):
                sessions.append(cur)
                cur = [nxt]
            else:
                cur.append(nxt)
        sessions.append(cur)
        for s in sessions:
            key = (s[0].event_type, s[-1].event_type)
            grid[key][0] += 1
            grid[key][1] += len(s)
    t = _small_tables(spark)
    got = {
        (r.entry_type, r.exit_type): [r.n_sessions, r.total_events]
        for r in A.session_entry_exit(t).collect()
    }
    assert got == dict(grid) and len(got) > 0
    # conservation: total events across the grid == event count
    assert sum(v[1] for v in got.values()) == len(_events_rows(spark))


def test_multitouch_matches_python(spark):
    """Reference: independent Python credit split (div/mod with the
    remainder-to-latest rule) + the conservation invariant."""
    import math
    from collections import defaultdict
    from datetime import timedelta

    rows = _events_rows(spark)
    clicks = defaultdict(list)
    for r in rows:
        if r.event_type == "click":
            clicks[r.user_id].append(r)
    for v in clicks.values():
        v.sort(key=lambda r: (r.ts, r.event_id))
    want = {}
    for r in rows:
        if r.event_type != "purchase":
            continue
        u = r.user_id
        cents = int(math.floor(float(r.value) * 100 + 0.5))
        lo = r.ts - timedelta(days=7)
        touched = [
            c for c in clicks.get(u, []) if c.ts < r.ts and c.ts >= lo
        ]
        w = want.setdefault(u, [0, 0, 0, 0, 0])
        w[0] += 1
        if touched:
            w[1] += 1
            w[2] += len(touched)
            w[3] += cents  # div+mod split sums back to cents exactly
        else:
            w[4] += cents
    t = _small_tables(spark)
    got = {
        r.user_id: [
            r.n_purchases,
            r.n_attributed,
            r.n_touch_pairs,
            r.credited_cents,
            r.unattributed_cents,
        ]
        for r in A.multitouch_attribution(t).collect()
    }
    assert got == want and len(got) > 0
    # at least one user must exercise each branch for the test to bite
    assert any(v[4] > 0 for v in got.values())
    assert any(v[3] > 0 for v in got.values())


def test_link_prediction_matches_python_on_synthetic(spark):
    """Independent differential of the scoring core on a hand-built
    graph (the projection itself is verified by the triangle /
    clustering oracles): square 1-2-3-4 plus pendant 5 on 1.
    Non-adjacent pairs: (1,3) cn=2 via {2,4}; (2,4) cn=2 via {1,3};
    (2,5),(4,5) cn=1 via 1; (3,5) cn=0 -> absent."""
    edges = [(1, 2), (2, 3), (3, 4), (1, 4), (1, 5)]
    strong = spark.createDataFrame(edges, "s1 long, s2 long")
    got = {
        (r.s1, r.s2): (r.cn, r.deg1, r.deg2, r.jaccard_ppm, r.ra_ppm)
        for r in G.link_prediction_suppliers({}, strong=strong).collect()
    }
    # deg: 1->3, 2->2, 3->2, 4->2, 5->1
    want = {
        (1, 3): (2, 3, 2, 2 * 10**6 // 3, 10**6 // 2 + 10**6 // 2),
        (2, 4): (2, 2, 2, 10**6, 10**6 // 3 + 10**6 // 2),
        (2, 5): (1, 2, 1, 10**6 // 2, 10**6 // 3),
        (4, 5): (1, 2, 1, 10**6 // 2, 10**6 // 3),
    }
    assert got == want
    # ranking: the two cn=2 pairs lead, (1,3) RA=1.0e6 > (2,4) RA~0.83e6
    ordered = [
        (r.s1, r.s2)
        for r in G.link_prediction_suppliers({}, strong=strong).collect()
    ]
    assert ordered[0] == (1, 3) and ordered[1] == (2, 4)


def test_link_prediction_excludes_existing_edges(spark):
    """No predicted pair may already be an edge — the anti-join is the
    operator's defining filter."""
    t = _small_tables(spark)
    strong = G._supplier_strong_pairs(t)
    edges = {(r.s1, r.s2) for r in strong.collect()}
    pred = G.link_prediction_suppliers(t).collect()
    assert len(pred) > 0
    for r in pred:
        assert (r.s1, r.s2) not in edges


def test_apdex_matches_python(spark):
    from collections import defaultdict
    import math

    T = ST.APDEX_T_CENTS
    agg = defaultdict(lambda: [0, 0, 0])
    for r in _events_rows(spark):
        c = int(math.floor(float(r.value) * 100 + 0.5))
        a = agg[r.event_type]
        a[0] += 1
        if c <= T:
            a[1] += 1
        elif c <= 4 * T:
            a[2] += 1
    want = {
        et: (
            n,
            sat,
            tol,
            n - sat - tol,
            (2 * sat + tol) * 1_000_000 // (2 * n),
        )
        for et, (n, sat, tol) in agg.items()
    }
    got = {
        r.event_type: (
            r.n_events,
            r.n_satisfied,
            r.n_tolerating,
            r.n_frustrated,
            r.apdex_ppm,
        )
        for r in ST.apdex_by_type(_small_tables(spark)).collect()
    }
    assert got == want and len(got) > 0
    # thresholds must actually split the data or the test is vacuous
    assert any(v[2] > 0 for v in got.values())


def test_ngram_novelty_matches_python(spark):
    """Reference: Python 8-gram sets with min-doc_id first-occurrence
    attribution."""
    from collections import defaultdict

    n = 8
    docs = (
        _small_tables(spark)["documents"]
        .select("doc_id", "text")
        .collect()
    )
    gsets = {}
    for r in docs:
        ws = r.text.split(" ")
        if len(ws) < n:
            continue
        gsets[r.doc_id] = {
            " ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)
        }
    first = {}
    for did in sorted(gsets):
        for g in gsets[did]:
            first.setdefault(g, did)
    want = {
        did: (
            len(gs),
            sum(1 for g in gs if first[g] == did),
            sum(1 for g in gs if first[g] == did) * 1_000_000 // len(gs),
        )
        for did, gs in gsets.items()
    }
    from parquet_export_spark.operators import text as X

    got = {
        r.doc_id: (r.n_grams, r.n_novel, r.novelty_ppm)
        for r in X.ngram_novelty_scores(_small_tables(spark)).collect()
    }
    assert got == want and len(got) > 0
    # the corpus's injected duplicates must register as non-novel
    assert any(v[2] < 1_000_000 for v in got.values())
    assert any(v[2] == 0 for v in got.values())


def _holt_python(series):
    l = b = None
    for y in series:
        if l is None:
            l, b = y, 0
        else:
            l2 = (y + l + b) >> 1
            b = (l2 - l + b) >> 1
            l = l2
    return l, b


def test_holt_matches_python(spark):
    """Reference: the same integer shift recurrence over the dense
    (zero-filled) daily cents series, in Python ints (arbitrary
    precision — an overflow in the engine would diverge here)."""
    import math
    from collections import defaultdict
    from datetime import timedelta

    daily = defaultdict(lambda: defaultdict(int))
    for r in _events_rows(spark):
        daily[r.event_type][r.ts.date()] += int(
            math.floor(float(r.value) * 100 + 0.5)
        )
    want = {}
    for et, dd in daily.items():
        lo, hi = min(dd), max(dd)
        series = []
        d = lo
        while d <= hi:
            series.append(dd.get(d, 0))
            d += timedelta(days=1)
        l, b = _holt_python(series)
        want[et] = (len(series), l, b, l + A.HOLT_HORIZON_DAYS * b)
    got = {
        r.event_type: (
            r.n_days,
            r.level_cents,
            r.trend_cents,
            r.forecast_cents,
        )
        for r in A.holt_linear_forecast(_small_tables(spark)).collect()
    }
    assert got == want and len(got) > 0


def test_holt_constant_series_has_zero_trend(spark):
    """Property: a constant series must converge to trend ~0 and
    level ~ the constant (the shift truncation can leave it within
    a few cents) — a recurrence-order bug moves both."""
    from datetime import datetime

    rows = [
        (i, datetime(2024, 1, 1 + i, 12, 0, 0), 1, "steady", 100.0)
        for i in range(20)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double"
    )
    out = A.holt_linear_forecast({"events": ev}).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_days == 20
    assert abs(r.trend_cents) <= 2
    assert abs(r.level_cents - 10000) <= 4


def test_novelty_incremental_matches_python(spark):
    """Reference: Python replay of the two-sided rule — a batch gram
    is novel iff absent from every lake doc AND this doc is its first
    batch holder."""
    from collections import defaultdict
    from parquet_export_spark.operators import text as X

    n, mod = X.NOVELTY_NGRAM, X.NOVELTY_BATCH_MOD
    docs = (
        _small_tables(spark)["documents"]
        .select("doc_id", "text")
        .collect()
    )
    gsets = {}
    for r in docs:
        ws = r.text.split(" ")
        if len(ws) >= n:
            gsets[r.doc_id] = {
                " ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)
            }
    lake = set()
    for did, gs in gsets.items():
        if did % mod != 0:
            lake |= gs
    first = {}
    for did in sorted(gsets):
        if did % mod != 0:
            continue
        for g in gsets[did]:
            first.setdefault(g, did)
    want = {}
    for did, gs in gsets.items():
        if did % mod != 0:
            continue
        hits = sum(1 for g in gs if g in lake)
        novel = sum(
            1 for g in gs if g not in lake and first[g] == did
        )
        want[did] = (
            len(gs),
            hits,
            novel,
            novel * 1_000_000 // len(gs),
        )
    got = {
        r.doc_id: (r.n_grams, r.n_lake_hits, r.n_novel, r.novelty_ppm)
        for r in X.novelty_incremental(_small_tables(spark)).collect()
    }
    assert got == want and len(got) > 0
    # the gate must see real lake collisions in this corpus
    assert any(v[1] > 0 for v in got.values())
    assert any(v[2] > 0 for v in got.values())


def test_degree_distribution_matches_python(spark):
    """Reference: Python degree count on the collected projection +
    bit-length bins; conservation invariants (nodes and degree mass
    both sum to the projection's totals)."""
    from collections import Counter

    t = _small_tables(spark)
    strong = G._supplier_strong_pairs(t)
    edges = [(r.s1, r.s2) for r in strong.collect()]
    deg = Counter()
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    want = {}
    for d in deg.values():
        b = d.bit_length() - 1
        n, s = want.get(b, (0, 0))
        want[b] = (n + 1, s + d)
    got = {
        r.bin: (r.n_nodes, r.sum_degree)
        for r in G.degree_distribution_suppliers(t).collect()
    }
    assert got == want and len(got) > 1
    lo = {r.bin: r.lo_degree
          for r in G.degree_distribution_suppliers(t).collect()}
    assert all(lo[b] == 1 << b for b in lo)
    # conservation: every node binned once, degree mass == 2|E|
    assert sum(v[0] for v in got.values()) == len(deg)
    assert sum(v[1] for v in got.values()) == 2 * len(edges)


def test_feature_hash_matches_python(spark):
    """Reference: Python md5-prefix bucketing + per-doc top-k with the
    (count DESC, bucket ASC) total order."""
    import hashlib
    from collections import Counter, defaultdict

    from parquet_export_spark.operators import curation as CU

    nb, k = CU.FEATURE_HASH_BUCKETS, CU.FEATURE_HASH_TOPK
    docs = (
        _small_tables(spark)["documents"]
        .select("doc_id", "text")
        .collect()
    )
    want = {}
    for r in docs:
        c = Counter(
            int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % nb
            for tok in r.text.split(" ")
        )
        top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        for rank, (bucket, cnt) in enumerate(top, 1):
            want[(r.doc_id, rank)] = (bucket, cnt)
    got = {
        (r.doc_id, r.rank): (r.bucket, r.tok_count)
        for r in CU.feature_hash_vectors(_small_tables(spark)).collect()
    }
    assert got == want and len(got) > 0
    # hashing must actually collide somewhere (vocab > buckets) or the
    # trick isn't exercised: some doc has a bucket with count >= 2
    assert any(v[1] >= 2 for v in got.values())


def test_seasonality_strength_matches_python(spark):
    """Reference: Python decompose replay (hourly int sums, integer
    profile means, residuals) + the variance-ratio closed form."""
    import math
    from collections import defaultdict

    hourly = defaultdict(int)
    for r in _events_rows(spark):
        hourly[(r.event_type, r.ts.date(), r.ts.hour)] += int(
            math.floor(float(r.value) * 100 + 0.5)
        )
    prof_sum = defaultdict(int)
    prof_n = defaultdict(int)
    for (et, d, h), a in hourly.items():
        prof_sum[(et, h)] += a
        prof_n[(et, h)] += 1
    want = {}
    per_type = defaultdict(list)
    for (et, d, h), a in hourly.items():
        seasonal = prof_sum[(et, h)] // prof_n[(et, h)]
        per_type[et].append((a, a - seasonal))
    for et, pairs in per_type.items():
        n = len(pairs)
        sa = sum(a for a, _ in pairs)
        saa = sum(a * a for a, _ in pairs)
        sr = sum(r for _, r in pairs)
        srr = sum(r * r for _, r in pairs)
        va = float(n) * float(saa) - float(sa) * float(sa)
        vr = float(n) * float(srr) - float(sr) * float(sr)
        want[et] = (
            n,
            round(1.0 - vr / va, 9) if va > 0 else None,
        )
    got = {
        r.event_type: (r.n_buckets, r.strength)
        for r in A.seasonality_strength_hourly(
            _small_tables(spark)
        ).collect()
    }
    assert set(got) == set(want)
    for et in want:
        assert got[et][0] == want[et][0], et
        if want[et][1] is None:
            assert got[et][1] is None, et
        else:
            assert abs(got[et][1] - want[et][1]) < 1e-9, et
    # the synthetic hourly profile must explain SOME variance
    assert any(v[1] is not None and v[1] > 0 for v in got.values())


def test_community_modularity_matches_python(spark):
    """Reference: Python modularity arithmetic over the collected
    projection + the operator's own labels, plus the global
    invariants sum(e_c) <= m and sum(Q_c) <= 1."""
    from collections import defaultdict

    t = _small_tables(spark)
    strong = G._supplier_strong_pairs(t)
    edges = [(r.s1, r.s2) for r in strong.collect()]
    m = len(edges)
    labels = {
        r.supplier: r.community
        for r in G.supplier_communities(t).collect()
    }
    e_c = defaultdict(int)
    d_c = defaultdict(int)
    n_c = defaultdict(int)
    for u, v in edges:
        if labels[u] == labels[v]:
            e_c[labels[u]] += 1
        d_c[labels[u]] += 1
        d_c[labels[v]] += 1
    for node, lab in labels.items():
        n_c[lab] += 1
    want = {
        lab: (
            n_c[lab],
            e_c.get(lab, 0),
            d_c[lab],
            round(
                float(4 * m * e_c.get(lab, 0) - d_c[lab] * d_c[lab])
                / float(4 * m * m),
                9,
            ),
        )
        for lab in n_c
    }
    got = {
        r.community: (
            r.n_nodes,
            r.internal_edges,
            r.degree_sum,
            r.contribution,
        )
        for r in G.community_modularity_suppliers(t).collect()
    }
    assert got == want and len(got) > 0
    assert sum(v[1] for v in got.values()) <= m
    total_q = sum(v[3] for v in got.values())
    assert total_q <= 1.0
    # CC labels put every edge inside its component, so Q = 1 - sum
    # of squared degree shares: EXACTLY 0 for a single component,
    # strictly positive for k > 1 (the sf0.001 projection is one
    # component — the zero is the correct answer, not a bug)
    if len(got) > 1:
        assert total_q > 0
    else:
        assert abs(total_q) < 1e-9


def test_wasserstein_matches_scipy_style_python(spark):
    """Reference: direct W1 from sorted cents samples — the classic
    mean-of-|sorted-quantile-difference| formulation evaluated as the
    exact integral of |F_a - F_b| in Python fractions, independent of
    the operator's support/window machinery."""
    import math
    from collections import defaultdict
    from fractions import Fraction

    vals = defaultdict(list)
    for r in _events_rows(spark):
        vals[r.event_type].append(
            int(math.floor(float(r.value) * 100 + 0.5))
        )
    types = sorted(vals)
    want = {}
    for i, ta in enumerate(types):
        for tb in types[i + 1 :]:
            a, b = sorted(vals[ta]), sorted(vals[tb])
            na, nb = len(a), len(b)
            support = sorted(set(a) | set(b))
            import bisect

            num = 0
            for x, nxt in zip(support, support[1:]):
                ca = bisect.bisect_right(a, x)
                cb = bisect.bisect_right(b, x)
                num += abs(ca * nb - cb * na) * (nxt - x)
            want[(ta, tb)] = (
                na,
                nb,
                num,
                round(float(Fraction(num, na * nb)), 6),
            )
    got = {
        (r.type_a, r.type_b): (r.n_a, r.n_b, r.w1_num, r.w1_cents)
        for r in ST.wasserstein_distance_pairs(
            _small_tables(spark)
        ).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][:3] == want[k][:3], k
        assert abs(got[k][3] - want[k][3]) < 1e-6, k
    # distances must be non-degenerate on the synthetic types
    assert any(v[2] > 0 for v in got.values())


def test_hhi_matches_python(spark):
    """Reference: Python Fraction-exact HHI per segment; plus the
    1/n <= HHI <= 1 bounds."""
    from collections import defaultdict
    from fractions import Fraction
    import math

    t = _small_tables(spark)
    cust_seg = {
        r.c_custkey: r.c_mktsegment
        for r in t["customer"].select("c_custkey", "c_mktsegment").collect()
    }
    per = defaultdict(int)
    for r in t["orders"].select("o_custkey", "o_totalprice").collect():
        per[r.o_custkey] += int(math.floor(float(r.o_totalprice) * 100 + 0.5))
    segs = defaultdict(list)
    for ck, c in per.items():
        segs[cust_seg[ck]].append(c)
    want = {}
    for s, cs in segs.items():
        tot = sum(cs)
        hhi = Fraction(sum(c * c for c in cs), tot * tot)
        want[s] = (len(cs), tot, round(float(hhi), 9))
    got = {
        r.segment: (r.n_customers, r.total_cents, r.hhi)
        for r in run_sql_entry(spark, "hhi_concentration_by_segment", t).collect()
    }
    assert set(got) == set(want)
    for s in want:
        assert got[s][:2] == want[s][:2], s
        assert abs(got[s][2] - want[s][2]) < 1e-9, s
        n = got[s][0]
        assert 1.0 / n - 1e-9 <= got[s][2] <= 1.0


def test_local_peaks_matches_python(spark):
    """Reference: Python dense hourly series + strict neighbor
    comparison; and the zero-fill property — a peak adjacent to a
    missing hour must measure prominence against 0, not against the
    next OBSERVED hour."""
    import math
    from collections import defaultdict

    from datetime import date, timedelta

    hourly = defaultdict(lambda: defaultdict(int))
    for r in _events_rows(spark):
        h = (r.ts.date() - date(1970, 1, 1)).days * 24 + r.ts.hour
        hourly[r.event_type][h] += int(
            math.floor(float(r.value) * 100 + 0.5)
        )
    want = {}
    for et, hh in hourly.items():
        lo, hi = min(hh), max(hh)
        xs = [hh.get(h, 0) for h in range(lo, hi + 1)]
        for i in range(1, len(xs) - 1):
            if xs[i] > xs[i - 1] and xs[i] > xs[i + 1]:
                prom = xs[i] - max(xs[i - 1], xs[i + 1])
                if prom >= A.PEAK_MIN_PROMINENCE_CENTS:
                    h = lo + i
                    want[
                        (et, date(1970, 1, 1) + timedelta(days=h // 24),
                         h % 24)
                    ] = (xs[i], prom)
    got = {
        (r.event_type, r.day, r.hour): (r.cents, r.prominence_cents)
        for r in A.local_peaks_hourly(_small_tables(spark)).collect()
    }
    assert got == want and len(got) > 0


def test_value_migration_matches_python(spark):
    """Reference: Python per-period quintiles with the same midpoint
    and boundary rules; plus the both-periods conservation (grid sum
    == customers active in both halves)."""
    import math
    from collections import Counter, defaultdict
    from datetime import timedelta

    rows = (
        _small_tables(spark)["orders"]
        .select("o_custkey", "o_orderdate", "o_totalprice")
        .collect()
    )
    lo = min(r.o_orderdate for r in rows).date()
    hi = max(r.o_orderdate for r in rows).date()
    mid = lo + timedelta(days=(hi - lo).days // 2)
    per = defaultdict(int)
    for r in rows:
        p = "early" if r.o_orderdate.date() <= mid else "late"
        per[(r.o_custkey, p)] += int(
            math.floor(float(r.o_totalprice) * 100 + 0.5)
        )

    def quintile(period):
        vals = Counter(v for (ck, p), v in per.items() if p == period)
        n = sum(vals.values())
        support = sorted(vals)
        cum, cums = 0, {}
        for v in support:
            cum += vals[v]
            cums[v] = cum
        bounds = [
            min(v for v in support if cums[v] >= -(-i * n // 5))
            for i in range(1, 5)
        ]
        return {
            ck: 1 + sum(1 for b in bounds if v > b)
            for (ck, p), v in per.items()
            if p == period
        }

    qe, ql = quintile("early"), quintile("late")
    grid = defaultdict(lambda: [0, 0])
    for ck in set(qe) & set(ql):
        g = grid[(qe[ck], ql[ck])]
        g[0] += 1
        g[1] += per[(ck, "late")]
    got = {
        (r.q_early, r.q_late): [r.n_customers, r.late_cents]
        for r in ST.value_migration_matrix(_small_tables(spark)).collect()
    }
    assert got == dict(grid) and len(got) > 1
    assert sum(v[0] for v in got.values()) == len(set(qe) & set(ql))
    # migration must actually happen (off-diagonal mass) or the grid
    # degenerates to the identity and the test is vacuous
    assert any(a != b for (a, b) in got)


def test_higher_moments_match_python(spark):
    """Reference: arbitrary-precision integer power sums in Python,
    same standardized central-moment folds."""
    from collections import defaultdict

    t = _small_tables(spark)
    qs = defaultdict(list)
    for r in (
        t["lineitem"].select("l_returnflag", "l_quantity").collect()
    ):
        qs[r.l_returnflag].append(int(round(float(r.l_quantity) * 100)))
    want = {}
    for flag, v in qs.items():
        n = float(len(v))
        s1, s2 = float(sum(v)), float(sum(x * x for x in v))
        s3 = float(sum(x**3 for x in v))
        s4 = float(sum(x**4 for x in v))
        mu = s1 / n
        m2 = s2 / n - mu * mu
        m3 = s3 / n - 3.0 * mu * (s2 / n) + 2.0 * mu * mu * mu
        m4 = (
            s4 / n
            - 4.0 * mu * (s3 / n)
            + 6.0 * mu * mu * (s2 / n)
            - 3.0 * mu * mu * mu * mu
        )
        want[flag] = (
            len(v),
            m3 / (m2 * m2**0.5) if m2 > 0 else None,
            m4 / (m2 * m2) - 3.0 if m2 > 0 else None,
        )
    got = {
        r.l_returnflag: (r.n_items, r.skewness, r.kurtosis_excess)
        for r in run_sql_entry(spark, "stats_higher_moments", t).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        for i in (1, 2):
            if want[k][i] is None:
                assert got[k][i] is None, k
            else:
                assert abs(got[k][i] - want[k][i]) < 1e-6, (k, i)
    # quantity is near-uniform on [1, 50]: kurtosis must be clearly
    # platykurtic (excess ~ -1.2), a shape a moments bug would move
    assert all(v[2] is not None and -1.5 < v[2] < -0.5 for v in got.values())


def test_activity_streaks_match_python(spark):
    """Reference: Python consecutive-day runs per user; conservation
    (island lengths sum to distinct active days) built in."""
    from collections import defaultdict
    from datetime import timedelta

    active = defaultdict(set)
    for r in _events_rows(spark):
        active[r.user_id].add(r.ts.date())
    want = {}
    for u, ds in active.items():
        days = sorted(ds)
        runs, cur = [], [days[0]]
        for prev, nxt in zip(days, days[1:]):
            if nxt - prev == timedelta(days=1):
                cur.append(nxt)
            else:
                runs.append(cur)
                cur = [nxt]
        runs.append(cur)
        want[u] = (len(days), max(len(x) for x in runs), len(runs[-1]))
    got = {
        r.user_id: (r.n_active_days, r.longest_streak, r.last_streak)
        for r in A.user_activity_streaks(_small_tables(spark)).collect()
    }
    assert got == want and len(got) > 0
    # the fixture must contain a real gap or islands were never split
    assert any(v[0] > v[1] for v in got.values())


def test_simpson_diversity_matches_python(spark):
    from collections import Counter, defaultdict
    from fractions import Fraction

    mix = defaultdict(Counter)
    for r in _events_rows(spark):
        mix[r.user_id][r.event_type] += 1
    want = {}
    for u, c in mix.items():
        n = sum(c.values())
        sq = sum(v * v for v in c.values())
        want[u] = (n, len(c), round(float(1 - Fraction(sq, n * n)), 9))
    got = {
        r.user_id: (r.n_events, r.n_types, r.simpson)
        for r in run_sql_entry(
            spark, "simpson_diversity_by_user", _small_tables(spark)
        ).collect()
    }
    assert set(got) == set(want)
    for u in want:
        assert got[u][:2] == want[u][:2], u
        assert abs(got[u][2] - want[u][2]) < 1e-9, u
    # bounds: 0 <= simpson < 1 - 1/k + epsilon
    for u, (n, k, s) in got.items():
        assert 0.0 <= s <= 1.0 - 1.0 / k + 1e-9


def test_pareto_share_matches_python(spark):
    """Reference: Python boundary + share; plus the sanity that the
    top quintile's share strictly exceeds its population share."""
    from collections import Counter, defaultdict
    import math

    t = _small_tables(spark)
    cust_seg = {
        r.c_custkey: r.c_mktsegment
        for r in t["customer"].select("c_custkey", "c_mktsegment").collect()
    }
    per = defaultdict(int)
    for r in t["orders"].select("o_custkey", "o_totalprice").collect():
        per[r.o_custkey] += int(math.floor(float(r.o_totalprice) * 100 + 0.5))
    segs = defaultdict(list)
    for ck, v in per.items():
        segs[cust_seg[ck]].append(v)
    want = {}
    for s, vs in segs.items():
        vals = Counter(vs)
        n = len(vs)
        support = sorted(vals)
        cum, cums = 0, {}
        for v in support:
            cum += vals[v]
            cums[v] = cum
        b = min(v for v in support if cums[v] >= -(-4 * n // 5))
        top = [v for v in vs if v > b]
        want[s] = (
            n,
            len(top),
            sum(vs),
            sum(top),
            sum(top) * 1_000_000 // sum(vs),
        )
    got = {
        r.segment: (
            r.n_customers,
            r.n_top,
            r.total_cents,
            r.top_cents,
            r.top_share_ppm,
        )
        for r in ST.pareto_share_by_segment(t).collect()
    }
    assert got == want and len(got) == 5
    for s, (n, ntop, tot, top, ppm) in got.items():
        assert ntop <= n // 5 + 1
        # concentration: top-quintile share > population share
        assert ppm * n > 1_000_000 * ntop


def test_dup_family_histogram_matches_python(spark):
    """Reference: Python canonicalization + family sizes; plus
    conservation (doc mass sums to corpus size) and a real
    multi-copy family in the fixture."""
    import hashlib
    import re as _re
    from collections import Counter, defaultdict

    docs = (
        _small_tables(spark)["documents"]
        .select("doc_id", "text")
        .collect()
    )
    fams = defaultdict(list)
    for r in docs:
        canon = _re.sub(
            " +", " ", _re.sub("[^a-z0-9 ]", " ", r.text.lower())
        ).strip()
        fams[hashlib.md5(canon.encode()).hexdigest()].append(r.text)
    want = defaultdict(lambda: [0, 0, 0])
    for texts in fams.values():
        w = want[len(texts)]
        w[0] += 1
        w[1] += len(texts)
        if len(set(texts)) > 1:
            w[2] += 1
    from parquet_export_spark.operators import dedup as D

    got = {
        r.family_size: [r.n_families, r.n_docs, r.n_multi_variant]
        for r in D.dup_family_size_histogram(
            _small_tables(spark)
        ).collect()
    }
    assert got == dict(want)
    assert sum(v[1] for v in got.values()) == len(docs)


def test_dup_family_histogram_engineered_families(spark):
    """Engineered fixture exercising the non-singleton path the
    sf0.001 corpus lacks (it is canonical-unique): two byte-distinct
    punctuation variants collapse to one size-2 multi-variant family,
    two byte-identical copies make a size-2 single-variant family."""
    from parquet_export_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [
            (1, "Hello, World!", "en", "a", 13),
            (2, "hello world", "en", "a", 11),
            (3, "something else", "en", "a", 14),
            (4, "something else", "en", "a", 14),
            (5, "unique text", "en", "a", 11),
        ],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    got = {
        r.family_size: (r.n_families, r.n_docs, r.n_multi_variant)
        for r in D.dup_family_size_histogram({"documents": docs}).collect()
    }
    assert got == {1: (1, 1, 0), 2: (2, 4, 1)}


def test_odds_ratio_matches_python(spark):
    """Reference: Python user-set contingency cells + Fraction-exact
    odds ratio; cell-sum conservation (n11+n10+n01+n00 == N)."""
    from collections import defaultdict
    from fractions import Fraction

    users = defaultdict(set)
    all_users = set()
    for r in _events_rows(spark):
        users[r.event_type].add(r.user_id)
        all_users.add(r.user_id)
    N = len(all_users)
    types = sorted(users)
    want = {}
    for i, ta in enumerate(types):
        for tb in types[i + 1 :]:
            n11 = len(users[ta] & users[tb])
            if n11 == 0:
                continue  # no co-occurrence row is emitted
            n10 = len(users[ta]) - n11
            n01 = len(users[tb]) - n11
            n00 = N - len(users[ta]) - len(users[tb]) + n11
            orp = (
                int(Fraction(n11 * n00 * 1_000_000, n10 * n01))
                if n10 > 0 and n01 > 0
                else None
            )
            want[(ta, tb)] = (n11, n10, n01, n00, orp)
    got = {
        (r.type_a, r.type_b): (r.n11, r.n10, r.n01, r.n00, r.or_ppm)
        for r in A.odds_ratio_type_pairs(_small_tables(spark)).collect()
    }
    assert got == want and len(got) > 0
    for (ta, tb), (n11, n10, n01, n00, _) in got.items():
        assert n11 + n10 + n01 + n00 == N, (ta, tb)


def test_order_cadence_matches_python(spark):
    """Reference: Python day-grain gaps + lower-median order
    statistic; plus the min <= median <= max sanity."""
    from collections import defaultdict

    days = defaultdict(set)
    for r in (
        _small_tables(spark)["orders"]
        .select("o_custkey", "o_orderdate")
        .collect()
    ):
        days[r.o_custkey].add(r.o_orderdate.date())
    want = {}
    for ck, ds in days.items():
        sd = sorted(ds)
        if len(sd) < 2:
            continue
        gaps = sorted(
            (b - a).days for a, b in zip(sd, sd[1:])
        )
        med = gaps[(len(gaps) + 1) // 2 - 1]
        want[ck] = (len(sd), len(gaps), med, gaps[0], gaps[-1])
    got = {
        r.o_custkey: (
            r.n_active_days,
            r.n_gaps,
            r.median_gap_days,
            r.min_gap_days,
            r.max_gap_days,
        )
        for r in A.order_cadence_by_customer(
            _small_tables(spark)
        ).collect()
    }
    assert got == want and len(got) > 0
    for v in got.values():
        assert v[3] <= v[2] <= v[4]
