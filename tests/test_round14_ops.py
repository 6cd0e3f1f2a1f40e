"""Round-14 operator tests.

Covers the r13 verdict punch list and advice items:

- #1: label_pca's group cap moved BEFORE the grouped-map shuffle — the
  row_number window + filter must sit upstream of
  FlatMapGroupsInPandas in the physical plan (the in-kernel
  ``.head(cap)`` bounded the math but not the Arrow materialization),
  and an over-cap label must fit on exactly the cap-smallest vec_ids
  while still reporting the uncapped n_vectors.
- advice (medium): semdedup_embedding_checked's slice spine drawn from
  ALL embeddings (the oracle's population), with the cell-dependent
  contracts vacuously TRUE for slice vectors in over-cap cells.
- #3: value_gini_by_type's hot-group pre-aggregation — the UDAF input
  is bounded by the VALUE SUPPORT per type, not the row count, with
  the identical ppb result by construction.
- #4: cogroup_user_funnel's bucket count derived from a bounded count
  action instead of the fixed 64.
- advice (low): _connected_components' require_converged boundary — a
  graph that converges in exactly max_iter rounds must NOT raise.

The twins' oracle parity is carried by tests/test_queries_oracle.py,
and by the triple-SF sweep while an entry is listed in
tests/test_oracle_sweep.py CHANGED; THIS file pins the
semantics the oracle cannot see.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parquet_export_spark.sources.lake import load_tables


@pytest.fixture(scope="module")
def tables(spark, sf_dir):
    return load_tables(spark, sf_dir)


# ---------------------------------------------------------------------------
# label_pca: the cap bounds the SHUFFLE, not just the math (r13 verdict #1)
# ---------------------------------------------------------------------------


def test_label_pca_cap_sits_upstream_of_grouped_map(spark, tables):
    """The physical plan must show the running-frame window (which
    streams with external-sort spill) and its filter BEFORE the
    FlatMapGroupsInPandas node — i.e. the Arrow batch a worker
    materializes is <= cap rows by plan, which is the docstring's
    memory claim. A regression that re-caps inside the kernel leaves
    no window below the grouped map and fails here."""
    from parquet_export_spark.operators import similarity as S

    df = S.label_pca(tables)
    plan = df._jdf.queryExecution().executedPlan().toString()
    gm = plan.find("FlatMapGroupsInPandas")
    assert gm >= 0, plan
    win = plan.find("row_number()")
    assert win >= 0, "cap window missing from the plan"
    # executedPlan prints top-down: upstream (earlier-executed)
    # operators appear BELOW their consumers, so the window's offset
    # must be GREATER than the grouped map's.
    assert win > gm, "cap window is not upstream of the grouped map"
    # and the filter on the row number is present upstream too
    assert plan.find("_rn", gm) > gm, plan[gm : gm + 400]


def test_label_pca_over_cap_group_fits_on_min_vec_ids(spark):
    """cap=8 against a 20-row label: n_vectors stays 20 (the uncapped
    count), n_fit is 8, and pc1 equals a driver-side numpy PCA over
    exactly the 8 SMALLEST vec_ids (the deterministic sample rule the
    docstring promises)."""
    import numpy as np

    from parquet_export_spark.operators import similarity as S

    rng = np.random.RandomState(7)
    rows = [
        (int(i), 0, [float(x) for x in rng.uniform(-1, 1, 64)])
        for i in range(20)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    out = S.label_pca({"embeddings": emb}, cap=8).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_vectors == 20 and r.n_fit == 8
    x = np.stack(
        [np.array(v, dtype="float32") for _, _, v in rows[:8]]
    ).astype("float64")
    x = x - x.mean(axis=0)
    w, v = np.linalg.eigh((x.T @ x) / (len(x) - 1))
    pc = v[:, -1]
    if pc[int(np.abs(pc).argmax())] < 0:
        pc = -pc
    assert r.pc1 == " ".join(f"{c:.6f}" for c in pc)
    assert abs(r.explained_var_ratio - w[-1] / w.sum()) < 1e-5


# ---------------------------------------------------------------------------
# semdedup twin: spine population == oracle population (advice, medium)
# ---------------------------------------------------------------------------


def test_semdedup_twin_spine_covers_over_cap_cells(spark):
    """With max_block_size forced below a cell's size, the gear's
    capped frame excludes that cell entirely — but the twin's row set
    must STILL be the full vec_id % mod slice (what the DuckDB oracle
    enumerates), with the cell-dependent contracts vacuously TRUE for
    the excluded vectors. Before the r14 fix the twin's rows silently
    dropped with the cell — a guaranteed driver hash mismatch exactly
    in the at-scale regime."""
    import numpy as np

    from parquet_export_spark.operators import similarity as S

    rng = np.random.RandomState(11)
    # one tight cluster of 30 (over the cap below) + 10 scattered
    base = rng.uniform(-1, 1, 64)
    rows = []
    for i in range(30):
        rows.append(
            (int(i), [float(x) for x in base + rng.normal(0, 0.01, 64)])
        )
    for i in range(30, 40):
        rows.append((int(i), [float(x) for x in rng.uniform(-1, 1, 64)]))
    emb = spark.createDataFrame(
        [(i, 0, v) for i, v in rows],
        "vec_id long, label int, embedding array<float>",
    )
    t = {"embeddings": emb}
    out = S.semdedup_embedding_checked(
        t, n_cells=2, max_block_size=25, sample_mod=1
    ).collect()
    # the FULL slice (mod 1 -> every vector), not just capped cells
    assert sorted(r.vec_id for r in out) == list(range(40))
    capped_ids = {
        r.vec_id
        for r in S.semdedup_embedding(
            t, n_cells=2, max_block_size=25
        ).collect()
    }
    for r in out:
        assert r.assign_parity, r.vec_id
        assert r.dropped_justified, r.vec_id
        assert r.kept_consistent, r.vec_id
    # non-vacuity: some slice vectors really are outside the capped
    # population (the regime the fix exists for)
    assert any(r.vec_id not in capped_ids for r in out)


# ---------------------------------------------------------------------------
# value_gini_by_type: run-length kernel == expanded-series Gini (verdict #3)
# ---------------------------------------------------------------------------


def test_gini_run_length_equals_expanded_on_hot_group(spark):
    """A 10^5-row type with only 5 distinct values: the run-length
    kernel's input is 5 rows (value support), and its ppb result must
    equal the expanded-series formula computed driver-side in exact
    ints. A second low-skew type guards the sort/accumulation order."""
    import itertools

    from parquet_export_spark.operators import stats as ST

    hot_vals = [0.25, 1.5, 1.5, 7.01, 12.75]
    hot = [("hot", v) for v, _ in zip(itertools.cycle(hot_vals), range(100_000))]
    cold = [("cold", float(i) / 4 - 3.0) for i in range(17)]
    e = spark.createDataFrame(
        hot + cold, "event_type string, value double"
    )
    got = {
        r.event_type: r
        for r in ST.value_gini_by_type({"events": e}).collect()
    }

    def expanded_ppb(values):
        x = sorted(
            int(
                (1 if v >= 0 else -1)
                * __import__("math").floor(abs(v * 1_000_000) + 0.5)
            )
            for v in values
        )
        n, s0 = len(x), sum(x)
        if n == 0 or s0 == 0:
            return None
        s1 = sum(i * xi for i, xi in enumerate(x, 1))
        num, den = (2 * s1 - (n + 1) * s0) * 10**9, n * s0
        sign = -1 if (num < 0) != (den < 0) else 1
        return sign * (abs(num) // abs(den))

    assert got["hot"].n_events == 100_000
    assert got["hot"].gini_ppb == expanded_ppb([v for _, v in hot])
    assert got["cold"].gini_ppb == expanded_ppb([v for _, v in cold])
    # the shuffle really is support-bounded: the pre-aggregated frame
    # carries 4 runs for the hot type (two inputs quantize equal)
    runs = (
        e.groupBy(
            "event_type",
            F.expr(
                "CAST(sign(value * 1e6) * floor(abs(value * 1e6) + 0.5)"
                " AS BIGINT)"
            ),
        )
        .count()
        .filter(F.col("event_type") == "hot")
        .count()
    )
    assert runs == 4


# ---------------------------------------------------------------------------
# cogroup_user_funnel: bucket count scales with the corpus (verdict #4)
# ---------------------------------------------------------------------------


def test_cogroup_bucket_count_scales_with_corpus(spark, tables):
    """The per-kernel payload bound is a CONTRACT: n_buckets is
    ceil(relevant_rows / TARGET_ROWS_PER_BUCKET) floored at the
    session parallelism — so a corpus 100x the target produces 100
    kernels (bounded payload each), never a fixed 64 whose payload
    grows linearly; and the gear still answers on the real fixture."""
    from parquet_export_spark.operators import advanced as A

    tgt = A.TARGET_ROWS_PER_BUCKET
    assert A._funnel_bucket_count(0, 8) == 8  # parallelism floor
    assert A._funnel_bucket_count(tgt, 8) == 8
    assert A._funnel_bucket_count(100 * tgt, 8) == 100
    assert A._funnel_bucket_count(100 * tgt + 1, 8) == 101  # true ceil
    assert A._funnel_bucket_count(10**12, 8) == -(-(10**12) // tgt)
    out = A.cogroup_user_funnel(tables)
    assert out.count() > 0


# ---------------------------------------------------------------------------
# connected components: exact-max_iter convergence must not raise (advice)
# ---------------------------------------------------------------------------


def test_cc_converging_in_exactly_max_iter_rounds_is_not_an_error(spark):
    """A path graph 0-1-2-...-7 needs several min-label rounds; pick
    max_iter so the LAST permitted round makes the final change.
    Labels are then root-complete and require_converged must accept
    them (the pre-fix code raised on changed != 0 without probing)."""
    from parquet_export_spark.operators import dedup as D

    nodes = spark.createDataFrame(
        [(i,) for i in range(8)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "doc_a long, doc_b long"
    )
    # find the exact convergence round first (propagation halves the
    # longest non-root chain each round; measure rather than assume)
    free = D._connected_components(nodes, pairs, 50)
    assert {r.label for r in free.collect()} == {0}
    for max_iter in range(1, 50):
        try:
            out = D._connected_components(
                nodes, pairs, max_iter, require_converged=True
            )
            labels = {r.doc_id: r.label for r in out.collect()}
            break
        except RuntimeError:
            continue
    # the first non-raising max_iter yields complete labels...
    assert set(labels.values()) == {0}
    # ...and one round fewer genuinely still changes labels (so the
    # accepted run converged in exactly its final round: the boundary)
    with pytest.raises(RuntimeError, match="did not converge"):
        D._connected_components(
            nodes, pairs, max_iter - 1, require_converged=True
        )
