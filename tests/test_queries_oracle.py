"""Oracle-differential test for every registered query (tests/oracle_harness.py).

Each entry is built once: the registration rules (tests/registry_checks.py)
are checked on the same DataFrame the oracle compare (or the rows-only
count) then executes.
"""

from __future__ import annotations

import pytest

from parquet_export_spark.queries import REGISTRY
from tests.oracle_harness import compare
from tests.registry_checks import assert_no_array_outputs, check_registrable, seen

ORACLE_CASES = [(n, s) for n, s in REGISTRY.items() if s.oracle]
ROWS_ONLY_CASES = [(n, s) for n, s in REGISTRY.items() if not s.oracle]


@pytest.mark.parametrize("name,spec", ORACLE_CASES, ids=[n for n, _ in ORACLE_CASES])
def test_oracle_match(spark, sf_dir, name, spec):
    def build(*args):
        df = spec.fn(*args)
        check_registrable(name, df)
        return df

    ok, msg = compare(spark, sf_dir, build, spec.oracle)
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize(
    "name,spec", ROWS_ONLY_CASES, ids=[n for n, _ in ROWS_ONLY_CASES]
)
def test_rows_only_runs(spark, sf_dir, name, spec):
    df = spec.fn(spark, sf_dir)
    check_registrable(name, df)
    assert df.count() >= 0


@pytest.mark.parametrize(
    "name,spec", list(REGISTRY.items()), ids=list(REGISTRY)
)
def test_registry_no_array_outputs(spark, sf_dir, name, spec):
    """The no-top-level-array/map registration rule, per entry, on the
    schema recorded when the tests above built the entry (built here
    only if they did not run)."""
    schema, _ = seen(spark, sf_dir, name)
    assert_no_array_outputs(name, schema)


def test_approx_distinct_within_rel_sd(spark, sf_dir):
    """HLL has no DuckDB oracle, but it DOES have a quantitative bound:
    approx_count_distinct(rsd=0.01) must land within a few rel-sd of
    the exact distinct count per group (5x slack over the 1% rsd)."""
    from parquet_export_spark.operators.relational import agg_approx_distinct
    from parquet_export_spark.sources.lake import load_tables

    t = load_tables(spark, sf_dir)
    approx = {
        r["l_returnflag"]: r["approx_orders"]
        for r in agg_approx_distinct(t).collect()
    }
    exact = {
        r["l_returnflag"]: r["n"]
        for r in t["lineitem"]
        .groupBy("l_returnflag")
        .agg(__import__("pyspark.sql.functions", fromlist=["countDistinct"])
             .countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for flag, n in exact.items():
        assert abs(approx[flag] - n) <= max(5, 0.05 * n), (flag, approx[flag], n)


def test_sample_fraction_binomial_bound(spark, sf_dir):
    """Bernoulli sample size is Binomial(n, p): assert the observed
    size within 6 standard deviations of n*p (false-positive rate
    ~1e-9, deterministic given the fixed seed anyway)."""
    import math

    from parquet_export_spark.operators.relational import sample_fraction
    from parquet_export_spark.sources.lake import load_tables

    t = load_tables(spark, sf_dir)
    n = t["lineitem"].count()
    p = 0.1
    got = sample_fraction(t).count()
    sd = math.sqrt(n * p * (1 - p))
    assert abs(got - n * p) <= 6 * sd, (got, n * p, sd)


def test_train_split_fraction_and_stability(spark, sf_dir):
    """Hash-split must be ~80/20 and a pure function of doc_id: the
    assignment for any subset equals the full-corpus assignment."""
    from parquet_export_spark.operators.curation import train_eval_split
    from parquet_export_spark.sources.lake import load_tables

    t = load_tables(spark, sf_dir)
    full = train_eval_split(t)
    n = full.count()
    n_train = full.filter("split = 'train'").count()
    assert abs(n_train / n - 0.8) < 0.08  # binomial slack at 500 docs
    # subset invariance: splitting half the corpus assigns identically
    sub = {"documents": t["documents"].filter("doc_id % 2 = 0")}
    sub_map = {r.doc_id: r.split for r in train_eval_split(sub).collect()}
    full_map = {r.doc_id: r.split for r in full.collect()}
    assert all(full_map[d] == s for d, s in sub_map.items())


def test_minhash_lsh_recall_vs_exact_jaccard(spark, sf_dir):
    """Quantitative evidence for the approximate op: MinHash-LSH recall
    against the brute-force shingle-Jaccard ground truth.

    With 8 bands x 4 rows, a pair at jaccard j collides with
    probability 1-(1-j^4)^8: ~0.89 at j=0.7, ~0.99 at j=0.8. The
    fixture corpus' near-dup pairs sit well above 0.7, so recall at
    the 0.7 slice must clear 0.85 (measured: 1.0 at sf0.001).
    Precision is exact by construction (candidates are verified with
    exact Jaccard) — asserted as subset-of-truth with matching scores.
    """
    import itertools

    from parquet_export_spark.operators import dedup as D
    from parquet_export_spark.sources.lake import load_tables

    t = load_tables(spark, sf_dir)
    sh = {r.doc_id: set(r.shingles) for r in D._shingles(t["documents"]).collect()}
    truth = {}
    for a, b in itertools.combinations(sorted(sh), 2):
        inter = len(sh[a] & sh[b])
        if inter:
            j = inter / (len(sh[a]) + len(sh[b]) - inter)
            if j >= 0.5:
                truth[(a, b)] = j
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.neardup_minhash_lsh(t).collect()
    }
    # precision: every LSH pair is a true >=0.5 pair with the exact score
    assert set(lsh) <= set(truth)
    for p, j in lsh.items():
        assert abs(j - truth[p]) < 1e-12
    high = {p for p, j in truth.items() if j >= 0.7}
    assert high, "fixture corpus must contain >=0.7 near-dup pairs"
    recall = len(high & set(lsh)) / len(high)
    assert recall >= 0.85, f"minhash recall@0.7 = {recall}"


def test_ann_lsh_recall_vs_exact_cosine(spark, sf_dir):
    """ANN-LSH recall against the brute-force cosine ground truth, and
    the OR-amplification contract.

    Sign-projection theory: a pair at cosine c collides with one
    6-plane table w.p. (1 - arccos(c)/pi)^6 (~0.063 at c=0.4), and
    with ANY of T tables w.p. 1-(1-p)^T — 0.122 at T=2, 0.41 at T=8.
    Measured at sf0.001: 0.121 at T=2 (theory-tight). Assertions:
    a recall floor at the default config, recall strictly growing with
    table count, and exact-verified precision (every returned pair's
    sim matches numpy to 1e-9 and clears the threshold).
    """
    import numpy as np

    from parquet_export_spark.operators import similarity as S
    from parquet_export_spark.sources.lake import load_tables

    t = load_tables(spark, sf_dir)
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in t["embeddings"].collect()
    }
    ids = sorted(emb)
    m = np.stack([emb[i] for i in ids])
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    cos = mn @ mn.T
    idx = {v: i for i, v in enumerate(ids)}
    exact = {
        (ids[i], ids[j])
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if cos[i, j] >= 0.4
    }
    assert exact, "fixture embeddings must contain >=0.4 cosine pairs"

    got2 = {(r.vec_a, r.vec_b): r.sim for r in S.ann_lsh_neighbors(t).collect()}
    for (a, b), s in got2.items():
        assert s >= 0.4
        assert abs(s - round(float(cos[idx[a], idx[b]]), 9)) < 1e-9
    recall2 = len(exact & set(got2)) / len(exact)
    assert recall2 >= 0.08, f"ann recall@0.4 (2 tables) = {recall2}"

    got8 = {
        (r.vec_a, r.vec_b)
        for r in S.ann_lsh_neighbors(t, n_tables=8).collect()
    }
    recall8 = len(exact & got8) / len(exact)
    assert recall8 >= 2 * recall2, (
        f"OR-amplification must raise recall: T=8 {recall8} vs T=2 {recall2}"
    )


def test_pq_recall_vs_exact_cosine(spark, sf_dir):
    """PQ-ADC recall against the exact ``cosine_topk`` ground truth,
    plus the compression contract (codes are m small ints in [0, kc))
    and exact-rerank precision (returned sims match the exact cosine).

    Random 64-dim embeddings are PQ's worst case (no cluster structure
    for the codebooks to exploit). The floor covers the default
    rerank=48 config across scales: measured 1.0 at sf0.001 and 0.92
    at sf0.1 (the rerank default moved from 16 when the fixed
    160-candidate budget dropped recall to 0.72 at 10x corpus —
    see pq_topk's docstring).
    """
    from parquet_export_spark.operators import similarity as S
    from parquet_export_spark.sources.lake import load_tables

    t = load_tables(spark, sf_dir)
    exact = {
        (r.query_id, r.neighbor_id, r.sim) for r in S.cosine_topk(t).collect()
    }
    got = [(r.query_id, r.neighbor_id, r.sim) for r in S.pq_topk(t).collect()]
    assert len(got) == len(exact)  # k rows per query either way
    # precision: every returned sim IS the exact cosine (rerank step)
    exact_sims = {
        (q, nb): s for q, nb, s in exact
    }
    for q, nb, s in got:
        if (q, nb) in exact_sims:
            assert abs(s - exact_sims[(q, nb)]) < 1e-9
    # recall on (query, neighbor) pairs: the sim column is numpy-summed
    # (pairwise) vs the exact baseline's sequential fold — equal to
    # ~1e-15 but not bit-equal, so pairs, not triples.
    exact_pairs = {(q, nb) for q, nb, _ in exact}
    got_pairs = {(q, nb) for q, nb, _ in got}
    recall = len(exact_pairs & got_pairs) / len(exact_pairs)
    assert recall >= 0.8, f"pq recall@10 = {recall}"

    # code shape: m codes per vector, all within the codebook range
    books = S._fit_pq_codebooks(t["embeddings"])
    enc = (
        t["embeddings"]
        .select(S._pq_encode(books)("embedding").alias("codes"))
        .collect()
    )
    m, kc, _ = books.shape
    assert all(
        len(r.codes) == m and all(0 <= c < kc for c in r.codes) for r in enc
    )


def test_approx_percentiles_within_rank_error(spark, sf_dir):
    """The GK sketch has no DuckDB oracle, but it DOES have a
    quantitative contract: approx_percentile(accuracy=A) returns a
    value whose RANK is within n/A of the target rank. Assert each
    approximate percentile sits between the exact values at
    rank +- 2n/A per group."""
    from parquet_export_spark.operators.stats import (
        APPROX_PCTL_ACCURACY,
        approx_percentiles,
    )
    from parquet_export_spark.sources.lake import load_tables

    t = load_tables(spark, sf_dir)
    got = {r["l_returnflag"]: r for r in approx_percentiles(t).collect()}
    vals = {}
    for r in t["lineitem"].select("l_returnflag", "l_extendedprice").collect():
        vals.setdefault(r.l_returnflag, []).append(r.l_extendedprice)
    assert set(got) == set(vals)
    for flag, xs in vals.items():
        xs.sort()
        n = len(xs)
        slack = max(1, (2 * n) // APPROX_PCTL_ACCURACY)
        for q, col in ((0.5, "p50_price"), (0.9, "p90_price"), (0.99, "p99_price")):
            target = int(q * (n - 1))
            lo = xs[max(0, target - slack)]
            hi = xs[min(n - 1, target + slack)]
            assert lo <= got[flag][col] <= hi, (flag, col, got[flag][col], lo, hi)
        assert got[flag]["n_rows"] == n


def test_cms_overestimates_within_bound(spark, sf_dir):
    """Count-Min guarantees: estimates never undercount (collisions
    only add), and with depth 3 rows of 4096 buckets the overestimate
    stays within ~2·N/w of truth for every probed heavy hitter (the
    e/w bound with generous slack for a 3-row min)."""
    from pyspark.sql import functions as F

    from parquet_export_spark.operators.stats import heavy_hitters_cms
    from parquet_export_spark.sources.lake import load_tables

    t = load_tables(spark, sf_dir)
    rows = heavy_hitters_cms(t).collect()
    assert rows
    total = (
        t["documents"]
        .select(F.size(F.split("text", " ")).alias("n"))
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    bound = max(1, (2 * total) // 4096)
    for r in rows:
        assert r.cms_n >= r.exact_n, (r.word, r.cms_n, r.exact_n)
        assert r.cms_n - r.exact_n <= bound, (r.word, r.cms_n, r.exact_n, bound)


def test_hll_rollup_merge_consistency(spark, sf_dir):
    """(a) merged-daily-sketch estimates match exact distinct counts
    within HLL error (lgConfigK=12 -> rsd ~1.6%; 5x slack);
    (b) union-of-partials equals the one-shot sketch over the same
    rows — the mergeability property the rollup pattern relies on."""
    from pyspark.sql import functions as F

    from parquet_export_spark.operators.stats import hll_rollup_users
    from parquet_export_spark.sources.lake import load_tables

    t = load_tables(spark, sf_dir)
    got = {r.event_type: r.approx_users for r in hll_rollup_users(t).collect()}
    exact = {
        r.event_type: r.n
        for r in t["events"]
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for et, est in got.items():
        assert abs(est - exact[et]) / exact[et] < 0.08, (et, est, exact[et])
    oneshot = {
        r.event_type: r.approx_users
        for r in t["events"]
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("approx_users"))
        .collect()
    }
    assert got == oneshot
