"""Round-12 operator tests: the three rows-only -> checked-twin
conversions (r11 verdict #4) and the adaptive k-truss peel (r11
verdict #3).

The twins' oracle parity is carried by tests/test_queries_oracle.py,
and by the triple-SF sweep while an entry is listed in
tests/test_oracle_sweep.py CHANGED; THIS file pins the
semantics the oracle cannot see — that the in-plan contract booleans
are computed from real comparisons (injected duplicates must flip the
underlying state, not just ride a literal TRUE), and that the sample
membership rule is exactly the md5-prefix function of the key.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from parquet_export_spark.operators import dedup as D
from parquet_export_spark.operators import graph as G
from parquet_export_spark.operators import relational as R
from parquet_export_spark.sources.lake import load_tables


@pytest.fixture(scope="module")
def tables(spark, sf_dir):
    return load_tables(spark, sf_dir)


# ---------------------------------------------------------------------------
# sample_fraction_checked
# ---------------------------------------------------------------------------


def test_sample_checked_membership_is_md5_rule(spark, tables):
    """Exact membership: a row is in the sample iff the first 4 hex
    digits of md5('orderkey|linenumber') sort below 0x1999 — replayed
    here with hashlib, independent of both engines."""
    got = {
        (r.l_orderkey, r.l_linenumber): r.hash_prefix
        for r in R.sample_fraction_checked(tables).collect()
    }
    allk = [
        (r.l_orderkey, r.l_linenumber)
        for r in tables["lineitem"]
        .select("l_orderkey", "l_linenumber")
        .collect()
    ]
    thresh = f"{int(0.1 * 0x10000):04x}"
    expected = {}
    for ok, ln in allk:
        h4 = hashlib.md5(f"{ok}|{ln}".encode()).hexdigest()[:4]
        if h4 < thresh:
            expected[(ok, ln)] = h4
    assert got == expected


def test_sample_checked_fractions_are_nested(spark, tables):
    """Content-addressing makes samples NESTED across fractions — the
    property seeded RNG cannot give: the 5% sample is a strict subset
    of the 10% sample."""
    s05 = {
        (r.l_orderkey, r.l_linenumber)
        for r in R.sample_fraction_checked(tables, fraction=0.05).collect()
    }
    s10 = {
        (r.l_orderkey, r.l_linenumber)
        for r in R.sample_fraction_checked(tables, fraction=0.1).collect()
    }
    assert s05 < s10


# ---------------------------------------------------------------------------
# neardup_minhash_lsh_checked
# ---------------------------------------------------------------------------


def test_minhash_checked_contracts_hold_on_fixture(spark, tables):
    rows = D.neardup_minhash_lsh_checked(tables).collect()
    for r in rows:
        assert r.identical_caught, (r.doc_a, r.doc_b)
        assert r.lsh_value_agrees, (r.doc_a, r.doc_b)
        assert r.recall_meets_floor, (r.doc_a, r.doc_b)
        assert r.jaccard >= D.LSH_CHECK_GT_THRESHOLD


def test_minhash_checked_rows_are_the_exact_ground_truth(spark, tables):
    """The twin's row set must be exactly the blocked exact-Jaccard
    pairs at the GT threshold — computed here independently via the
    oracle-proven blocked baseline over shingles."""
    capped = D._capped_blocks(tables["documents"], D.JACCARD_MAX_BLOCK)
    toks = (
        D._shingles(capped)
        .join(capped.select("doc_id", "lang", "source"), "doc_id")
        .select(
            "doc_id", "lang", "source", F.col("shingles").alias("toks")
        )
    )
    truth = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D._jaccard_pairs(
            toks, D.LSH_CHECK_GT_THRESHOLD, presentation_sort=False
        ).collect()
    }
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.neardup_minhash_lsh_checked(tables).collect()
    }
    assert got == truth
    assert truth, "fixture must contain at least one ground-truth pair"


def test_minhash_checked_identical_docs_are_caught(spark):
    """Inject byte-identical docs: the determinism contract (identical
    shingle sets -> identical signatures -> guaranteed candidate) must
    produce the pair WITH jaccard 1.0 and a live caught bit — if the
    gear missed it, identical_caught would be False and this fails."""
    base = "the quick brown fox jumps over the lazy dog " * 5
    rows = [
        (1, "en", "src0", base),
        (2, "en", "src0", base),
        (3, "en", "src0", "completely different text about spark " * 6),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    out = {
        (r.doc_a, r.doc_b): r
        for r in D.neardup_minhash_lsh_checked({"documents": docs}).collect()
    }
    assert (1, 2) in out
    r = out[(1, 2)]
    assert r.jaccard == 1.0
    assert r.identical_caught and r.lsh_value_agrees and r.recall_meets_floor


# ---------------------------------------------------------------------------
# neardup_simhash_checked
# ---------------------------------------------------------------------------


def test_simhash_checked_contracts_hold_on_fixture(spark, tables):
    rows = D.neardup_simhash_checked(tables).collect()
    # r13: the slice mod is derived from the corpus count (constant
    # certificate budget at any scale) — recompute it the same way.
    mod = D._simhash_check_mod(tables["documents"].count())
    n_docs = (
        tables["documents"].filter(F.col("doc_id") % mod == 0).count()
    )
    assert len(rows) == n_docs * (n_docs - 1) // 2
    for r in rows:
        assert r.pigeonhole_complete, (r.doc_a, r.doc_b)
        assert r.exact_implies_zero, (r.doc_a, r.doc_b)
        assert r.gear_agrees, (r.doc_a, r.doc_b)


def test_simhash_checked_duplicate_slice_docs(spark):
    """Duplicate texts ON the slice (explicit sample_mod=20 override)
    must surface as exact_same_text rows whose contracts bind:
    identical text -> hamming 0 -> candidate -> gear pair with
    hamming 0. The off-slice doc pins that the key-addressed slice
    rule still excludes non-multiples when a mod is given."""
    dup = "repeated content for the simhash certificate " * 4
    rows = [
        (20, "en", "s", dup),
        (40, "en", "s", dup),
        (60, "en", "s", "some unrelated words entirely " * 7),
        (61, "en", "s", "off-slice doc, must not appear"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    out = {
        (r.doc_a, r.doc_b): r
        for r in D.neardup_simhash_checked(
            {"documents": docs}, sample_mod=20
        ).collect()
    }
    assert set(out) == {(20, 40), (20, 60), (40, 60)}
    assert out[(20, 40)].exact_same_text
    assert not out[(20, 60)].exact_same_text
    for r in out.values():
        assert r.pigeonhole_complete and r.exact_implies_zero and r.gear_agrees


# ---------------------------------------------------------------------------
# ktruss adaptive peel
# ---------------------------------------------------------------------------


def test_ktruss_adaptive_peel_on_known_graph(spark):
    """K4-plus-pendant: the 6 clique edges each close 2 triangles and
    survive; the pendant edge has support 0 and peels in round one;
    the early exit then fires on the first no-change pass (well below
    the 6-round cap) with the verify contract intact."""
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (5, 6)]
    strong = spark.createDataFrame(edges, "s1 long, s2 long")
    out = G.ktruss_suppliers({}, strong=strong).collect()
    got = {(r.s1, r.s2): r.truss_support for r in out}
    assert got == {
        (1, 2): 2, (1, 3): 2, (1, 4): 2, (2, 3): 2, (2, 4): 2, (3, 4): 2
    }


def test_ktruss_cap_equivalence(spark):
    """Raising the round cap cannot change the result: the peel is
    monotone and the early exit stops at the fixpoint either way."""
    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (3, 5), (2, 4)]
    strong = spark.createDataFrame(edges, "s1 long, s2 long")
    a = sorted(
        (r.s1, r.s2, r.truss_support)
        for r in G.ktruss_suppliers({}, strong=strong, n_rounds=6).collect()
    )
    b = sorted(
        (r.s1, r.s2, r.truss_support)
        for r in G.ktruss_suppliers({}, strong=strong, n_rounds=12).collect()
    )
    assert a == b
