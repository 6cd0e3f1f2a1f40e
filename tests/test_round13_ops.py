"""Round-13 operator tests.

Covers the r12 verdict punch list and advice items:

- #1/#3: the simhash banding rework — Manku block-pair keys
  (completeness guarantee preserved as math), the hard per-bucket cap
  (the one r12 `weak`), and the count-derived certificate slice mod.
- advice: the sample_fraction [0, 1) guard, the exact-floor size-ratio
  numerator, and the loud non-convergence error replacing the silent
  mass_conserved false-alarm path in fuzzy_dedup_keep.

The twins' oracle parity is carried by tests/test_queries_oracle.py,
and by the triple-SF sweep while an entry is listed in
tests/test_oracle_sweep.py CHANGED; THIS file pins the
semantics the oracle cannot see.
"""

from __future__ import annotations

import math
from fractions import Fraction

import pytest
from pyspark.sql import functions as F

from parquet_export_spark.operators import dedup as D
from parquet_export_spark.operators import relational as R
from parquet_export_spark.sources.lake import load_tables


@pytest.fixture(scope="module")
def tables(spark, sf_dir):
    return load_tables(spark, sf_dir)


# ---------------------------------------------------------------------------
# simhash block-pair banding: the completeness guarantee as a unit fact
# ---------------------------------------------------------------------------


def test_simhash_blocks_partition_the_63_bits():
    """The 5 blocks tile bits 0..62 exactly — no gap (a bit no block
    sees would break the pigeonhole argument), no overlap (a shared
    bit would double-count a difference)."""
    covered = []
    for off, width in D.SIMHASH_BLOCKS:
        covered.extend(range(off, off + width))
    assert sorted(covered) == list(range(63))
    assert len(D.SIMHASH_COMBOS) == 10
    assert all(i < j for i, j in D.SIMHASH_COMBOS)


def test_hamming3_pair_always_shares_a_block_pair_key(spark):
    """Adversarial bit placements: for EVERY way of spreading 3
    differing bits across 3 distinct blocks (the worst case — 1 or 2
    blocks touched is strictly easier), the two signatures share at
    least one of the 10 block-pair keys. Runs the REAL key
    expressions, not a reimplementation."""
    base = 0x155555555555555  # alternating bits, 63-bit positive
    rows = []
    # one representative differing bit inside each chosen block triple
    for bi in range(5):
        for bj in range(bi + 1, 5):
            for bk in range(bj + 1, 5):
                flip = 0
                for b in (bi, bj, bk):
                    off, _w = D.SIMHASH_BLOCKS[b]
                    flip |= 1 << off
                rows.append((base, base ^ flip))
    df = spark.createDataFrame(rows, "sig_a long, sig_b long")
    shared = None
    for i, j in D.SIMHASH_COMBOS:
        eq = D._simhash_pair_key(F.col("sig_a"), i, j) == D._simhash_pair_key(
            F.col("sig_b"), i, j
        )
        shared = eq if shared is None else (shared | eq)
    assert df.filter(~shared).count() == 0


def test_simhash_gear_catches_hamming_le_3_neighbors(spark):
    """End-to-end: texts crafted to near-identical token multisets
    produce signatures within hamming 3; the gear must emit the pair
    (deterministic tier of the banding guarantee, uncapped buckets)."""
    a = "alpha beta gamma delta epsilon zeta eta theta " * 6
    rows = [(1, "en", "s", a), (2, "en", "s", a + "iota")]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    sig = {r.doc_id: r.simhash for r in D.simhash_signatures(docs).collect()}
    h = bin(sig[1] ^ sig[2]).count("1")
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in D.neardup_simhash({"documents": docs}).collect()
    }
    if h <= 3:
        assert got.get((1, 2)) == h
    else:  # fixture drifted — the pair is only probabilistic; at least
        # assert the gear's reported hamming is right when present
        assert got.get((1, 2), h) == h


# ---------------------------------------------------------------------------
# simhash bucket cap (the r12 `weak` fix)
# ---------------------------------------------------------------------------


def test_simhash_bucket_cap_drops_oversized_buckets(spark):
    """With max_bucket=1 every >= 2-doc bucket is dropped, so even
    byte-identical docs produce NO pair — the cap demonstrably reaches
    the join. With the default cap the same corpus yields the pair."""
    dup = "identical duplicate text for the bucket cap test " * 4
    rows = [(1, "en", "s", dup), (2, "en", "s", dup)]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    assert (
        D.neardup_simhash({"documents": docs}, max_bucket=1).count() == 0
    )
    got = D.neardup_simhash({"documents": docs}).collect()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in got] == [(1, 2, 0)]


def test_simhash_twin_gear_agrees_is_cap_aware(spark):
    """The certificate must certify the SHIPPED gear, cap included:
    with max_bucket=1 the gear emits nothing, and gear_agrees stays
    TRUE because the liveness frame marks every shared bucket as
    capped — a cap-blind contract would flip false here."""
    dup = "identical duplicate text for the cap aware twin " * 4
    rows = [
        (1, "en", "s", dup),
        (2, "en", "s", dup),
        (3, "en", "s", "entirely different words about something else " * 5),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    out = {
        (r.doc_a, r.doc_b): r
        for r in D.neardup_simhash_checked(
            {"documents": docs}, max_bucket=1, sample_mod=1
        ).collect()
    }
    assert set(out) == {(1, 2), (1, 3), (2, 3)}
    for r in out.values():
        assert r.gear_agrees and r.pigeonhole_complete and r.exact_implies_zero
    # the same corpus under the default cap: the duplicate pair exists
    # and gear_agrees still holds (membership rule flips WITH the cap)
    out2 = {
        (r.doc_a, r.doc_b): r
        for r in D.neardup_simhash_checked(
            {"documents": docs}, sample_mod=1
        ).collect()
    }
    assert all(r.gear_agrees for r in out2.values())
    assert out2[(1, 2)].exact_same_text


def test_simhash_capped_buckets_frame_counts_full_corpus(spark):
    """The liveness frame the twin recomputes (groupBy lane) must name
    exactly the buckets the gear's window lane drops."""
    dup = "same text every time " * 5
    rows = [(i, "en", "s", dup) for i in range(1, 5)] + [
        (9, "en", "s", "lonely unique document with its own words " * 4)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    sig = D.simhash_signatures(docs)
    capped = D._simhash_capped_buckets(sig, max_bucket=3).collect()
    # the 4 identical docs share all 10 block-pair buckets; the unique
    # doc's buckets hold 1 doc each (unless it collides, which the
    # distinct text precludes at every combo here)
    assert len(capped) == 10
    # gear under the same cap: no pair among the 4 clones survives
    pairs = D.neardup_simhash({"documents": docs}, max_bucket=3).collect()
    assert pairs == []


def test_simhash_check_mod_derivation():
    """mod = exact integer ceil(n / target), floored at 1 — the slice
    stays ~target docs at any corpus size (r12 advice: the fixed mod
    made the certificate quadratic in the corpus)."""
    t = D.SIMHASH_CHECK_TARGET
    assert D._simhash_check_mod(0) == 1
    assert D._simhash_check_mod(1) == 1
    assert D._simhash_check_mod(t) == 1
    assert D._simhash_check_mod(t + 1) == 2
    assert D._simhash_check_mod(10**9) == math.ceil(10**9 / t)
    for n in (7, 500, 5000, 123457, 10**7):
        mod = D._simhash_check_mod(n)
        assert n / mod <= t + mod  # slice size ~ n/mod stays near target
        assert mod >= 1


# ---------------------------------------------------------------------------
# advice: exact-floor ratio numerator
# ---------------------------------------------------------------------------


def test_ratio_num_never_exceeds_threshold():
    """num/den <= threshold must hold EXACTLY for every double, not
    just round ones — the oracle prefilter may only reject pairs
    provably below the threshold. Includes thresholds whose t*1000
    double product rounds UP across an integer (the advice case)."""
    import random

    rng = random.Random(13)
    adversarial = [
        0.8, 0.5, 0.55, 0.7, 0.875, 0.999, 0.001,
        # doubles just below k/1000 for many k — the float product
        # k - epsilon often rounds to exactly k
        *[math.nextafter(k / 1000, 0.0) for k in range(1, 1000, 7)],
        *[rng.uniform(0.0, 1.0) for _ in range(500)],
    ]
    for th in adversarial:
        num, den = D._ratio_num(th), D._ratio_den(th)
        assert Fraction(num, den) <= Fraction(th), th
        # and floor-tight: one more unit would overshoot (except the
        # registered 4/5 fast path, which is exact already)
        if den == 1000:
            assert Fraction(num + 1, den) > Fraction(th), th


# ---------------------------------------------------------------------------
# advice: sample_fraction [0, 1) guard
# ---------------------------------------------------------------------------


def test_sample_fraction_checked_rejects_out_of_range(tables):
    for bad in (1.0, 1.5, -0.1):
        with pytest.raises(ValueError, match="fraction"):
            R.sample_fraction_checked(tables, fraction=bad)
        with pytest.raises(ValueError, match="fraction"):
            R.sample_fraction_checked_oracle_sql(fraction=bad)
    # in-range still works (plan construction only — no action)
    R.sample_fraction_checked(tables, fraction=0.25)
    R.sample_fraction_checked_oracle_sql(fraction=0.25)


# ---------------------------------------------------------------------------
# advice: loud non-convergence in the fuzzy-dedup component loop
# ---------------------------------------------------------------------------


def test_connected_components_raises_when_required_and_unconverged(spark):
    """A 6-node path graph needs ~4 min-label rounds; max_iter=1 with
    require_converged=True must raise the loud RuntimeError instead of
    returning root-incomplete labels (the silent mass_conserved
    false-alarm path the advice flagged)."""
    nodes = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        D._connected_components(
            nodes, pairs, max_iter=1, require_converged=True
        )
    # same graph, enough rounds: converges to a single 0-rooted cluster
    labels = D._connected_components(
        nodes, pairs, max_iter=15, require_converged=True
    ).collect()
    assert {r.label for r in labels} == {0}


def test_connected_components_default_keeps_fixed_unroll_semantics(spark):
    """neardup_clusters' oracle replays exactly max_iter rounds, so the
    default path must NOT raise on an unconverged cap — fixed-unroll
    parity needs no convergence assumption."""
    nodes = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "doc_a long, doc_b long"
    )
    labels = {
        r.doc_id: r.label
        for r in D._connected_components(nodes, pairs, max_iter=1).collect()
    }
    # after exactly one round every node holds min(self, neighbors)
    assert labels == {0: 0, 1: 0, 2: 1, 3: 2, 4: 3, 5: 4}


# ---------------------------------------------------------------------------
# ann_lsh_neighbors_checked (rows-only -> checked twin, r12 verdict #4)
# ---------------------------------------------------------------------------


def _emb_rows(spark, vecs):
    return spark.createDataFrame(
        [(i, float(i % 3), [float(x) for x in v]) for i, v in vecs],
        "vec_id long, label double, embedding array<float>",
    )


def test_ann_twin_identical_vectors_bind_all_contracts(spark):
    """Identical embeddings share every sign bit -> same bucket in
    every table -> the gear MUST emit the pair with sim 1.0; the twin
    row must carry same_bucket_any=true and live contracts. Proves the
    booleans are computed from real joins: the gear's output is
    independently checked to contain the pair."""
    import random

    from parquet_export_spark.operators import similarity as S

    rng = random.Random(7)
    base = [rng.uniform(-1, 1) for _ in range(64)]
    vecs = [(0, base), (1, base)] + [
        (i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(2, 6)
    ]
    t = {"embeddings": _emb_rows(spark, vecs)}
    gear = {(r.vec_a, r.vec_b) for r in S.ann_lsh_neighbors(t).collect()}
    assert (0, 1) in gear
    out = {
        (r.vec_a, r.vec_b): r
        for r in S.ann_lsh_neighbors_checked(t, sample_mod=1).collect()
    }
    assert len(out) == 15  # C(6,2)
    r = out[(0, 1)]
    assert r.sim == 1.0 and r.same_bucket_any
    for row in out.values():
        assert row.kernel_matches_fold, (row.vec_a, row.vec_b)
        assert row.lsh_complete, (row.vec_a, row.vec_b)
        assert row.lsh_precise, (row.vec_a, row.vec_b)


def test_ann_twin_fold_buckets_match_kernel_on_fixture(spark, tables):
    """Dual-lane parity over the real fixture slice: every row's
    kernel_matches_fold must hold (numpy pairwise vs JVM fold sign
    agreement outside the 1e-9 margin)."""
    from parquet_export_spark.operators import similarity as S

    rows = S.ann_lsh_neighbors_checked(tables).collect()
    assert rows
    assert all(r.kernel_matches_fold for r in rows)
    assert all(r.lsh_complete and r.lsh_precise for r in rows)
    # non-vacuity: the slice must actually contain same-bucket pairs
    assert any(r.same_bucket_any for r in rows)


# ---------------------------------------------------------------------------
# semdedup_embedding_checked (rows-only -> checked twin, r12 verdict #4)
# ---------------------------------------------------------------------------


def test_semdedup_twin_duplicate_vector_is_dropped_and_justified(spark):
    """An identical lower-id vector forces: same argmin cell, sim 1.0
    >= threshold, hence the higher id is dropped — dropped_justified
    and kept_consistent must both bind, the survivor set (gear lane)
    must exclude the higher id, and the replayable near count must see
    the duplicate."""
    import random

    from parquet_export_spark.operators import similarity as S

    rng = random.Random(11)
    base = [rng.uniform(-1, 1) for _ in range(64)]
    vecs = [(0, base), (1, base)] + [
        (i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(2, 8)
    ]
    t = {"embeddings": _emb_rows(spark, vecs)}
    surv = {r.vec_id for r in S.semdedup_embedding(t, threshold=0.95).collect()}
    assert 0 in surv and 1 not in surv
    out = {
        r.vec_id: r
        for r in S.semdedup_embedding_checked(
            t, threshold=0.95, sample_mod=1
        ).collect()
    }
    assert set(out) == set(range(8))
    assert out[1].n_near_lower_slice >= 1
    for r in out.values():
        assert r.assign_parity, r.vec_id
        assert r.dropped_justified, r.vec_id
        assert r.kept_consistent, r.vec_id
        assert r.mass_partitioned, r.vec_id


def test_semdedup_twin_fixture_contracts_and_payload(spark, tables):
    """Fixture run at the registered 0.45 threshold: all four
    contracts hold and the payload is the actual lower-id slice near
    count (recomputed here driver-side from the collected slice)."""
    import numpy as np

    from parquet_export_spark.operators import similarity as S

    out = S.semdedup_embedding_checked(tables, threshold=0.45).collect()
    assert out
    assert all(
        r.assign_parity
        and r.dropped_justified
        and r.kept_consistent
        and r.mass_partitioned
        for r in out
    )
    emb = tables["embeddings"]
    mod = S._ann_check_mod(emb.count())
    sl = sorted(
        (r.vec_id, np.array(r.embedding, dtype="float64"))
        for r in emb.filter(F.col("vec_id") % mod == 0).collect()
    )
    got = {r.vec_id: r.n_near_lower_slice for r in out}
    for i, (vid, v) in enumerate(sl):
        cnt = 0
        for _, (wid, w) in enumerate(sl[:i]):
            sim = round(
                float(v @ w)
                / (float(np.sqrt(v @ v)) * float(np.sqrt(w @ w))),
                9,
            )
            cnt += sim >= 0.45
        assert got[vid] == cnt, vid


# ---------------------------------------------------------------------------
# label_pca_checked (rows-only -> checked twin, r12 verdict #4, 3rd)
# ---------------------------------------------------------------------------


def test_label_pca_twin_degenerate_line_binds_contracts(spark):
    """Embeddings collapsed onto one line: pc1 must BE that line
    (variance along it dominates any probe by construction and evr
    ~ 1.0), so all four contracts bind non-vacuously; a second healthy
    label rides along."""
    import random

    import numpy as np

    from parquet_export_spark.operators import similarity as S

    rng = random.Random(5)
    d = np.zeros(64)
    d[0], d[7] = 3.0, 4.0  # direction (0.6, 0.8) after normalization
    rows = []
    for i in range(12):  # label 0: exact line through the origin
        rows.append((i, 0, list((((i % 7) - 3.0) / 2.0) * d / 5.0)))
    for i in range(12, 24):  # label 1: isotropic cloud
        rows.append((i, 1, [rng.uniform(-1, 1) for _ in range(64)]))
    emb = spark.createDataFrame(
        [(i, lab, [float(x) for x in v]) for i, lab, v in rows],
        "vec_id long, label int, embedding array<float>",
    )
    t = {"embeddings": emb}
    out = {r.label: r for r in S.label_pca_checked(t).collect()}
    assert set(out) == {0, 1}
    for r in out.values():
        assert r.unit_norm, r.label
        assert r.sign_positive, r.label
        assert r.pc1_dominates_probes, r.label
        assert r.evr_consistent, r.label
    assert out[0].n_vectors == 12 and out[0].n_fit == 12
    # the degenerate label's gear row really reports evr ~ 1 and the
    # known direction (non-vacuity of the consistency contract)
    g = {r.label: r for r in S.label_pca(t).collect()}
    assert g[0].explained_var_ratio > 0.999
    pc = [float(x) for x in g[0].pc1.split(" ")]
    assert abs(abs(pc[0]) - 0.6) < 1e-4 and abs(abs(pc[7]) - 0.8) < 1e-4


def test_label_pca_twin_fixture_contracts(spark, tables):
    from parquet_export_spark.operators import similarity as S

    out = S.label_pca_checked(tables).collect()
    assert out
    for r in out:
        assert (
            r.unit_norm
            and r.sign_positive
            and r.pc1_dominates_probes
            and r.evr_consistent
        ), r.label


# ---------------------------------------------------------------------------
# pq_topk_checked (rows-only -> checked twin, 4th conversion)
# ---------------------------------------------------------------------------


def test_pq_twin_contracts_and_exact_spine(spark, tables):
    """The twin's spine must BE the exact cosine_topk rows, and all
    three contracts must hold; non-vacuity: the gear's overlap with
    the exact set is recomputed driver-side and must really clear the
    floor."""
    from parquet_export_spark.operators import similarity as S

    out = S.pq_topk_checked(tables).collect()
    exact = S.cosine_topk(tables).collect()
    assert [(r.query_id, r.rank, r.neighbor_id, r.sim) for r in out] == [
        (r.query_id, r.rank, r.neighbor_id, r.sim) for r in exact
    ]
    for r in out:
        assert r.recall_meets_floor and r.pq_value_agrees and r.pq_count_ok
    got = {}
    for r in S.pq_topk(tables).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    want = {}
    for r in exact:
        want.setdefault(r.query_id, set()).add(r.neighbor_id)
    for q in want:
        overlap = len(want[q] & got.get(q, set())) / len(want[q])
        assert overlap >= S.PQ_CHECK_RECALL_FLOOR, (q, overlap)


def test_pq_twin_floor_flips_on_impossible_floor(spark, tables):
    """recall_meets_floor is computed from the real join: demanding a
    floor above 1.0 must flip it false on every row (proves the
    boolean is live, not a literal)."""
    from parquet_export_spark.operators import similarity as S

    out = S.pq_topk_checked(tables, recall_floor=1.1).collect()
    assert out and all(not r.recall_meets_floor for r in out)


# ---------------------------------------------------------------------------
# bpe_encode_corpus_checked (rows-only -> checked twin, 5th conversion)
# ---------------------------------------------------------------------------


def test_bpe_twin_contracts_on_crafted_corpus(spark):
    """Repetitive text must actually compress (full-table tokens
    STRICTLY below the half-table count — proves merge_monotone is a
    live comparison), bounds must pin between word and char counts,
    and an empty doc exercises zero_iff_empty."""
    from parquet_export_spark.operators import text as T

    rep = "ab ab ab ab abab abab baba baba " * 8
    rows = [
        (1, "en", "s", rep),
        (2, "en", "s", "xyz qrs tuv"),
        (3, "en", "s", ""),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    t = {"documents": docs}
    out = {r.doc_id: r for r in T.bpe_encode_corpus_checked(t).collect()}
    assert set(out) == {1, 2, 3}
    for r in out.values():
        assert r.bounds_ok and r.merge_monotone and r.zero_iff_empty, r
    full = {r.doc_id: r.n_bpe_tokens for r in T.bpe_encode_corpus(t).collect()}
    # strictness probe vs a 2-merge table (the half table already fully
    # compresses this tiny vocabulary, so compare deeper): more merges
    # must strictly compress the repetitive doc
    tiny = {
        r.doc_id: r.n_bpe_tokens
        for r in T.bpe_encode_corpus(t, n_merges=2).collect()
    }
    assert full[1] < tiny[1]  # the repetitive doc really compresses
    assert full[3] == 0 and out[3].n_words == 0


def test_bpe_twin_fixture_contracts(spark, tables):
    from parquet_export_spark.operators import text as T

    out = T.bpe_encode_corpus_checked(tables).collect()
    assert out
    for r in out:
        assert r.bounds_ok and r.merge_monotone and r.zero_iff_empty, r.doc_id


def test_bpe_multi_cut_kernel_matches_separate_passes(spark, tables):
    """Optimization r15: the twin's fused multi-cut encode kernel
    (one corpus pass snapshotting the symbol count at every cut) must
    reproduce the separate single-cut passes EXACTLY — per document,
    full table and half table both — on the fixture corpus. This is
    the value-identity premise of the 3-scans-to-1 fusion."""
    from parquet_export_spark.operators import text as T

    n = T.BPE_N_MERGES
    merges = [
        (r.left, r.right)
        for r in sorted(
            T.bpe_learn_merges(tables, n).collect(),
            key=lambda r: r.merge_rank,
        )
    ]
    fused = {
        r.doc_id: (r.n_words, r.n_chars, r.n_nonspace, list(r.tk))
        for r in T._bpe_token_counts_multi(
            tables["documents"], merges, [n // 2, n]
        ).collect()
    }
    full = {
        r.doc_id: (r.n_words, r.n_chars, r.n_bpe_tokens)
        for r in T._bpe_token_counts(tables["documents"], merges).collect()
    }
    half = {
        r.doc_id: r.n_bpe_tokens
        for r in T._bpe_token_counts(
            tables["documents"], merges[: n // 2]
        ).collect()
    }
    assert set(fused) == set(full) == set(half) and fused
    for doc_id, (n_words, n_chars, _, tk) in fused.items():
        assert tk == [half[doc_id], full[doc_id][2]], doc_id
        assert (n_words, n_chars) == full[doc_id][:2], doc_id


def test_bpe_learn_is_prefix_stable(spark, tables):
    """The monotonicity contract's soundness premise: learning n/2
    merges reproduces the first n/2 rows of the n-merge table
    verbatim (greedy merge i depends only on merges < i)."""
    from parquet_export_spark.operators import text as T

    n = T.BPE_N_MERGES
    full = sorted(
        ((r.merge_rank, r.left, r.right) for r in
         T.bpe_learn_merges(tables, n).collect())
    )
    half = sorted(
        ((r.merge_rank, r.left, r.right) for r in
         T.bpe_learn_merges(tables, n // 2).collect())
    )
    assert half == full[: len(half)]
