"""Statistical aggregates (SURVEY.md §2B.4 continued).

Single-pass moment aggregates (stddev/var/corr) are order-dependent in
every engine; for oracle-reproducible results the moments are
accumulated as exact decimal sums (Σx, Σx², Σxy — order-independent)
and the statistics derived in closed form with IEEE double arithmetic.
Same trick as functions/scalar.py, generalized to second moments.

Exact percentiles use Spark's ``percentile`` (exact interpolated),
matching DuckDB's ``quantile_cont``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parquet_export_spark.functions.scalar import dsum
from parquet_export_spark.operators.util import maybe_fanout


def _dsum2(col, scale: int = 8):
    return F.sum(col.cast(f"decimal(38,{scale})")).cast("double")


def percentiles_exact(t: dict[str, DataFrame]) -> DataFrame:
    """Exact interpolated percentiles (median, p90) per group."""
    li = maybe_fanout(t["lineitem"])
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_quantity, 0.5)"), 9).alias("median_qty"),
            F.round(F.expr("percentile(l_quantity, 0.9)"), 9).alias("p90_qty"),
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 9).alias(
                "median_price"
            ),
        )
        .orderBy("l_returnflag")
    )


def profile_columns(t: dict[str, DataFrame]) -> DataFrame:
    """Long-form data profile of the orders table: per column — row
    count, nulls, distinct count, min/max (rendered as strings).

    The monitoring query a pipeline runs after every export; one pass
    per column family, unioned. At scale: single scan per column via
    column pruning, no collect.
    """
    o = t["orders"]

    def prof(col: str):
        c = F.col(col)
        return o.agg(
            F.lit(col).alias("column_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(c.isNull(), 1).otherwise(0)).cast("long").alias("n_null"),
            F.countDistinct(c).alias("n_distinct"),
            F.min(c).cast("string").alias("min_value"),
            F.max(c).cast("string").alias("max_value"),
        )

    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    out = prof(cols[0])
    for col in cols[1:]:
        out = out.unionByName(prof(col))
    return out.orderBy("column_name")


def merge_upsert_orders(t: dict[str, DataFrame]) -> DataFrame:
    """Oracle-checked MERGE demo: apply a change batch (urgent orders
    re-priced +10%) onto the orders snapshot; changed rows win."""
    from parquet_export_spark.export.maintenance import merge_upsert

    orders = t["orders"]
    changes = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .withColumn(
            "o_totalprice",
            (F.col("o_totalprice").cast("decimal(30,4)") * F.lit("1.1").cast("decimal(4,2)"))
            .cast("double"),
        )
        .withColumn("o_orderstatus", F.lit("U"))
    )
    return (
        merge_upsert(orders, changes, "o_orderkey", updated_col=None)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    )


#: GK sketch accuracy default — shared with the rank-error bound test
#: (tests/test_queries_oracle.py) so the bound tracks the operator.
APPROX_PCTL_ACCURACY = 10_000


def approx_percentiles(
    t: dict[str, DataFrame], accuracy: int = APPROX_PCTL_ACCURACY
) -> DataFrame:
    """Approximate percentiles per group via Spark's quantile sketch
    (``approx_percentile``, Greenwald-Khanna).

    The sketch family complement to ``agg_approx_distinct`` (HLL) and
    the approximate twin of ``percentiles_exact``: at 100 TB the exact
    ``percentile`` needs the full value multiset per group (a sort or
    a giant collect_list) while the GK sketch is bounded-memory
    (O(accuracy·log n) per group), merges associatively map-side, and
    answers within 1/accuracy relative RANK error by contract. That
    bound is asserted quantitatively against the exact percentiles in
    pytest; the driver check is rows-only (sketch results are not
    SQL-reproducible in DuckDB).
    """
    li = maybe_fanout(t["lineitem"])
    pct = (
        f"approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), {accuracy})"
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(f"{pct}[0]").alias("p50_price"),
            F.expr(f"{pct}[1]").alias("p90_price"),
            F.expr(f"{pct}[2]").alias("p99_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


APPROX_PCTL_QS = (0.5, 0.9, 0.99)


def approx_percentiles_checked(
    t: dict[str, DataFrame], accuracy: int = APPROX_PCTL_ACCURACY
) -> DataFrame:
    """Driver-checkable twin of :func:`approx_percentiles` (round-10,
    r9 verdict #3): re-proves the Greenwald-Khanna rank-error CONTRACT
    in-plan, per group and per quantile, so the driver's independent
    hash covers the sketch every round.

    For each group's sketch value v_q the plan counts ``#{x <= v_q}``
    and ``#{x < v_q}``; GK guarantees v_q is an order statistic whose
    rank r satisfies |r - q*n| <= eps*n (eps = 1/accuracy), hence
    ``#{x <= v_q} >= (q-eps)*n`` and ``#{x < v_q} < (q+eps)*n`` — an
    inequality pair that is EXACTLY true by contract (not
    probabilistically), duplicates included, regardless of partition
    layout or merge order. The oracle asserts the booleans TRUE and
    value-checks n_rows; the sketch values stay out of the hash
    (engine-specific). One extra group-keyed broadcast join + one
    aggregate over the raw gear's plan.
    """
    li = maybe_fanout(t["lineitem"]).select("l_returnflag", "l_extendedprice")
    probs = ", ".join(str(q) for q in APPROX_PCTL_QS)
    sk = li.groupBy("l_returnflag").agg(
        F.expr(
            f"approx_percentile(l_extendedprice, array({probs}), {accuracy})"
        ).alias("ps")
    )
    eps = 1.0 / accuracy
    # the sketch frame is |distinct l_returnflag| rows — bounded by the
    # flag domain (3), never by SF: broadcast is provably safe.
    j = li.join(F.broadcast(sk), "l_returnflag")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for i in range(len(APPROX_PCTL_QS)):
        v = F.col("ps")[i]
        aggs.append(
            F.sum(
                F.when(F.col("l_extendedprice") <= v, 1).otherwise(0)
            ).alias(f"le_{i}")
        )
        aggs.append(
            F.sum(
                F.when(F.col("l_extendedprice") < v, 1).otherwise(0)
            ).alias(f"lt_{i}")
        )
    g = j.groupBy("l_returnflag").agg(*aggs)
    out = [F.col("l_returnflag"), F.col("n_rows")]
    for i, q in enumerate(APPROX_PCTL_QS):
        name = f"p{int(q * 100)}_rank_ok"
        out.append(
            (
                (F.col(f"le_{i}") >= (q - eps) * F.col("n_rows") - 1.0)
                & (F.col(f"lt_{i}") <= (q + eps) * F.col("n_rows") + 1.0)
            ).alias(name)
        )
    return g.select(*out).orderBy("l_returnflag")


def approx_percentiles_checked_oracle_sql() -> str:
    return """
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               TRUE AS p50_rank_ok,
               TRUE AS p90_rank_ok,
               TRUE AS p99_rank_ok
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """


# --------------------------------------------------------------------------
# Count-Min sketch (heavy hitters) — completes the sketch family:
# HLL (agg_approx_distinct), GK (approx_percentiles), MinHash, SimHash,
# Bloom (bloom_prune_orders), CMS here.
# --------------------------------------------------------------------------

CMS_DEPTH = 3  #: independent hash rows — P(overestimate) shrinks as e^-d
CMS_HEX = 3  #: bucket key = 3 md5 hex chars -> w = 4096 buckets/row


def _cms_bucket(hex_chars: int = CMS_HEX):
    """bucket id = md5 prefix of word#row_id — the ONE definition
    shared by sketch build and probe (they must hash identically or
    the CMS min is garbage)."""
    return F.substring(
        F.md5(
            F.encode(
                F.concat(
                    F.col("word"),
                    F.lit("#"),
                    F.col("row_id").cast("string"),
                ),
                "UTF-8",
            )
        ),
        1,
        hex_chars,
    ).alias("bucket")


def _cms_salts(depth: int = CMS_DEPTH):
    return F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias(
        "row_id"
    )


def cms_sketch_rows(
    words: DataFrame, depth: int = CMS_DEPTH, hex_chars: int = CMS_HEX
) -> DataFrame:
    """Count-Min sketch of a ``word`` column as ``(row_id, bucket, c)``
    counter rows — the MERGEABLE representation: sketches of disjoint
    corpora merge by summing counts per (row_id, bucket), which is how
    the streaming twin (``streaming.incremental.cms_sketch_stream``)
    folds micro-batches into a persisted sketch artifact."""
    rows = words.select("word", _cms_salts(depth)).select(
        "row_id", _cms_bucket(hex_chars)
    )
    return rows.groupBy("row_id", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )


def heavy_hitters_cms(
    t: dict[str, DataFrame],
    depth: int = CMS_DEPTH,
    hex_chars: int = CMS_HEX,
    top_n: int = 20,
) -> DataFrame:
    """Count-Min sketch word-frequency estimation, checked against the
    exact counts for the top-``top_n`` heavy hitters.

    At 100 TB the exact word-count table can exceed memory for
    open vocabularies (URLs, n-grams, user ids); the CMS is a fixed
    ``depth x 16^hex_chars`` counter grid REGARDLESS of cardinality:
    one explode, one groupBy over (row, bucket) — map-side
    combinable — and point estimates by min over ``depth`` bucket
    counts. Estimates only ever overestimate (collisions add), by at
    most ~e/w of the total mass with high probability — both
    properties are pinned in pytest, and the oracle reproduces the
    sketch EXACTLY because bucket ids are md5-prefix strings
    (identical in Spark and DuckDB; no engine-specific hash).

    Output: the exact top-``top_n`` words with exact and CMS counts —
    the audit a production pipeline runs on a sample to size w.
    """
    docs = t["documents"]
    words = docs.select(F.explode(F.split("text", " ")).alias("word"))
    _bucket = lambda: _cms_bucket(hex_chars)  # noqa: E731
    salts = _cms_salts(depth)
    sketch = cms_sketch_rows(words, depth, hex_chars)
    exact = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), "word")
        .limit(top_n)
    )
    probes = exact.select("word", "exact_n", salts).select(
        "word", "exact_n", "row_id", _bucket()
    )
    return (
        probes.join(sketch, ["row_id", "bucket"])
        .groupBy("word", "exact_n")
        .agg(F.min("c").alias("cms_n"))
        .select("word", "exact_n", "cms_n")
        .orderBy(F.desc("exact_n"), "word")
    )


def value_gini_by_type(t: dict[str, DataFrame]) -> DataFrame:
    """Gini coefficient of the event-value distribution per event
    type — the grouped-AGGREGATE pandas UDF (UDAF) instance: a custom
    aggregate used inside ``groupBy().agg()`` beside built-ins, where
    the kernel needs the group's full value multiset (a sort) and so
    cannot be a built-in combination.

    Inequality of spend/engagement per action type is the standard
    concentration diagnostic (is revenue driven by few whales?).

    Exactness contract: values are quantized to integer micro-units
    inside the kernel, the Gini numerator/denominator are formed from
    the SORTED integer series (G = (2·Σi·x_i − (n+1)·Σx) / (n·Σx)),
    and the RESULT is the floor quotient in parts-per-billion —
    arbitrary-precision integer division on both sides (Python ints
    in the kernel, HUGEINT in the oracle), so there is no float
    division of >2^53 integers anywhere and no rounding-boundary
    luck: the hash match is by construction at any scale. A zero-sum
    or empty group yields NULL on both sides (a Gini of nothing is
    undefined, not 0).

    Scale shape (round 14, r13 verdict #3 — the hot-group remediation
    the docstring used to only DESCRIBE): the raw events are first
    pre-aggregated JVM-side to exact (micro-value, count) runs per
    type — a map-side-combinable groupBy, so the shuffle carries at
    most |value support| rows per type, not the row count (event
    values are 2-decimal money: bounded support regardless of corpus
    size). The UDAF then computes the Gini over the RUN-LENGTHS: for
    a sorted run of value x with count c starting after p rows,
    Σ i·x over the run is x·(c·p + c·(c+1)/2), so s1 accumulates per
    run in exact Python big-ints and the expanded multiset is never
    materialized anywhere — neither in the shuffle nor in the Arrow
    batch. Quantization happens in the SAME double arithmetic the
    kernel used row-wise (sign·floor(|v·1e6|+0.5), half-away-from-zero
    to match DuckDB's round()), so the ppb result is bit-identical by
    construction; a skew test pins a 10^5-duplicate group against the
    expanded-series computation.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def gini_ppb(m: pd.Series, c: pd.Series) -> int | None:
        import numpy as np

        vals = m.to_numpy()
        order = np.argsort(vals, kind="stable")
        vals = vals[order]
        cnts = c.to_numpy()[order]
        # Python big-int arithmetic throughout: run products exceed
        # int64 long before the * 10**9 scale-up would
        n = s0 = s1 = 0
        for x, cc in zip(vals.tolist(), cnts.tolist()):
            s0 += x * cc
            s1 += x * (cc * n + cc * (cc + 1) // 2)
            n += cc
        if n == 0 or s0 == 0:
            return None
        num = (2 * s1 - (n + 1) * s0) * 10**9
        den = n * s0
        # TRUNCATING division to match DuckDB's HUGEINT '//' — Python's
        # '//' floors, which differs by 1 on inexact negative quotients
        # (possible when a group's value sum is negative)
        sign = -1 if (num < 0) != (den < 0) else 1
        return sign * (abs(num) // abs(den))

    # grouped-agg pandas UDFs cannot mix with JVM aggregates in one
    # agg() (INVALID_PANDAS_UDF_PLACEMENT) — the row count is a second
    # pandas aggregate over the same shuffle (the run counts sum).
    @pandas_udf("long")
    def n_rows(c: pd.Series) -> int:
        return int(c.sum())

    # half-AWAY-from-zero micro-quantization, JVM-side: the identical
    # IEEE double ops (v*1e6, abs, +0.5, floor, sign) the kernel's
    # numpy lane performed, so every row lands on the same integer
    micros = F.expr(
        "CAST(sign(value * 1e6) * floor(abs(value * 1e6) + 0.5)"
        " AS BIGINT)"
    )
    runs = t["events"].groupBy(
        "event_type", micros.alias("micros")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return (
        runs.groupBy("event_type")
        .agg(
            n_rows("cnt").alias("n_events"),
            gini_ppb("micros", "cnt").alias("gini_ppb"),
        )
        .orderBy("event_type")
    )


def value_outliers(
    t: dict[str, DataFrame], z_threshold: float = 3.0
) -> DataFrame:
    """Per-type z-score outlier events — the standard two-pass
    anomaly scan: pass 1 aggregates per-type moments (exact decimal
    sums, so mean/std are bit-reproducible at any parallelism), pass 2
    broadcasts the tiny stats table back onto the stream of events and
    flags |value − mean| > z·std. The monitoring query a pipeline runs
    on every ingest batch.

    At 100 TB: the stats side is one map-side-combinable aggregation
    producing O(#types) rows — always broadcastable — and the flagging
    pass is a scan with a broadcast hash join; nothing shuffles the
    fact table. Thresholding uses the same exact-moment arithmetic as
    stats_moments, so the oracle hash-matches.
    """
    ev = t["events"]
    x = F.col("value")
    n = F.count(F.lit(1)).cast("double")
    sx = _dsum2(x, scale=6)
    sxx = _dsum2(x * x, scale=6)
    mean = sx / n
    # singleton groups have no sample variance (n-1 = 0 divides), and a
    # zero-spread group has no z-scale: both yield NULL std -> NULL z
    # -> no flags, instead of an ANSI DIVIDE_BY_ZERO killing the scan.
    # greatest(.., 0): double cancellation can leave a tiny NEGATIVE
    # variance on near-constant groups; sqrt would give NaN, and Spark
    # orders NaN > 0, so NaN z-scores would flag EVERY row
    var = F.when(
        n > 1, F.greatest((sxx - sx * sx / n) / (n - F.lit(1.0)), F.lit(0.0))
    )
    stats = ev.groupBy("event_type").agg(
        mean.alias("mean_v"), F.sqrt(var).alias("std_v")
    )
    z = F.when(F.col("std_v") > 0, (x - F.col("mean_v")) / F.col("std_v"))
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > z_threshold)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 9).alias("z_score"),
        )
        .orderBy("event_id")
    )


def _next_orders_snapshot(o: DataFrame) -> DataFrame:
    """The deterministically-derived "next" lake snapshot that
    ``changefeed_orders`` diffs against and ``apply_changefeed_orders``
    must reproduce: keys % 97 re-priced
    (+1, exact decimal), % 89 dropped, % 101 re-inserted under a
    shifted key — derivable bit-for-bit by the DuckDB oracle."""
    bumped = (
        (F.col("o_totalprice").cast("decimal(30,4)") + F.lit(1)).cast("double")
    )
    return (
        o.filter(F.col("o_orderkey") % 89 != 0)
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 97 == 0, bumped).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 101 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(100_000_000)
            )
        )
    )


def winsorize_values(t: dict[str, DataFrame]) -> DataFrame:
    """Per-group winsorization: clip event values at the exact
    [p05, p95] interpolated percentiles of their event_type — the
    outlier-taming step feature pipelines run before normalization.

    Two-pass shape: (1) one aggregate computes the per-group bounds
    (group-count rows — broadcast always), (2) the clip itself is a
    broadcast join + least/greatest, comparisons only. The bounds are
    rounded to 6 decimals on BOTH engines before clipping, so the clip
    decision boundary is identical by construction (raw interpolated
    percentiles agree to ~1 ulp; comparisons against them must agree
    exactly). At 100 TB: one scan for bounds, one map-side pass to
    clip — no window, no per-group shuffle of the fact rows.
    """
    e = t["events"]
    pct = e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.05)"), 6).alias("p05"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    return (
        e.join(F.broadcast(pct), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            clipped.alias("value_winsorized"),
            (F.col("value") < F.col("p05")).alias("clipped_low"),
            (F.col("value") > F.col("p95")).alias("clipped_high"),
        )
        .orderBy("event_id")
    )


def hll_rollup_users(t: dict[str, DataFrame]) -> DataFrame:
    """Mergeable-sketch rollup: per-day HLL user sketches unioned into
    per-event_type distinct-user estimates — the 100 TB pattern for
    distinct counts over time hierarchies (store a KB-sized sketch per
    (day, type) partition at ingest; answer month/quarter/all-time
    distincts by merging sketches, never rescanning raw events —
    COUNT(DISTINCT) does not reaggregate, sketches do).

    Uses Spark's Apache DataSketches HLL family (hll_sketch_agg /
    hll_union_agg / hll_sketch_estimate), which is also the
    cross-engine interop format (Druid/Hive/BigQuery read the same
    binary sketches). Approximate -> rows-only driver check; pytest
    pins (a) the estimate against exact countDistinct within HLL
    error, and (b) merge-consistency: union-of-daily-sketches equals
    the one-shot sketch over the same rows (the property the rollup
    relies on).
    """
    e = t["events"]
    day = F.expr("make_timestamp_ntz(year(ts), month(ts), day(ts), 0, 0, 0)")
    daily = e.groupBy(day.alias("day"), "event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
        )
        .orderBy("event_type")
    )


#: hll_sketch_agg default lgConfigK=12 -> rsd = 1.04/sqrt(4096) ~1.63%;
#: the self-check allows ~3 standard deviations. DataSketches HLL state
#: is register-wise max, so for a fixed key set the estimate is
#: DETERMINISTIC and partition/order-independent — the boolean is a
#: fixed per-dataset fact, pinned at 3 SFs by the sweep.
HLL_ROLLUP_RTOL = 0.05


def hll_rollup_users_checked(t: dict[str, DataFrame]) -> DataFrame:
    """Driver-checkable twin of :func:`hll_rollup_users` (round-10, r9
    verdict #3): the same per-day sketch -> union rollup, joined to an
    exact ``countDistinct`` twin so the registered output is
    value-hashable — per type, the exact user count and day count
    (both value-checked against DuckDB) plus ``hll_ok``, the driver's
    independent re-proof that the merged-sketch estimate sits within
    its error envelope of the exact answer. The estimate itself stays
    out of the hash (engine-specific). The pure sketch gear above is
    the 100 TB production path — at scale you run THAT (the exact twin
    re-scans raw events, which is exactly what sketches exist to
    avoid); this entry is the verification harness for it.
    """
    e = t["events"]
    day = F.expr("make_timestamp_ntz(year(ts), month(ts), day(ts), 0, 0, 0)")
    daily = e.groupBy(day.alias("day"), "event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        merged.join(exact, "event_type")
        .select(
            "event_type",
            "n_days",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= HLL_ROLLUP_RTOL * F.col("exact_users")
            ).alias("hll_ok"),
        )
        .orderBy("event_type")
    )


def hll_rollup_users_checked_oracle_sql() -> str:
    return """
        SELECT event_type,
               CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
               TRUE AS hll_ok
        FROM events GROUP BY event_type ORDER BY event_type
        """


def changefeed_orders(t: dict[str, DataFrame]) -> DataFrame:
    """Full-row CDC change feed between the current orders snapshot and
    the derived next one (see :func:`_next_orders_snapshot`): one
    presence-flagged full-outer join on the key, change rows carry the
    complete new image (NULL for deletes) so a downstream consumer can
    apply them without re-reading the source — the feed
    :func:`apply_changefeed_orders` consumes."""
    o = t["orders"]
    old_s = o.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("old_status"),
        F.col("o_totalprice").alias("old_totalprice"),
        F.lit(1).alias("in_old"),
    )
    new_s = _next_orders_snapshot(o).select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("new_status"),
        F.col("o_totalprice").alias("new_totalprice"),
        F.lit(1).alias("in_new"),
    )
    joined = old_s.join(new_s, "key", "full_outer")
    op = (
        F.when(F.col("in_old").isNull(), F.lit("insert"))
        .when(F.col("in_new").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    changed = (
        F.col("in_old").isNull()
        | F.col("in_new").isNull()
        | ~F.col("old_totalprice").eqNullSafe(F.col("new_totalprice"))
        | ~F.col("old_status").eqNullSafe(F.col("new_status"))
    )
    return joined.filter(changed).select(
        "key", op.alias("op"), "new_status", "new_totalprice"
    )


def apply_changefeed_orders(t: dict[str, DataFrame]) -> DataFrame:
    """CDC APPLY: merge a change feed (insert/update/delete row images)
    into the previous snapshot and prove the result IS the next
    snapshot — the ingestion half of the change-data-capture contract
    (``changefeed_orders`` derives feeds; this consumes them; the
    reference can only republish full snapshots, reference README.md:5).

    Scale shape: ONE full-outer hash join keyed by the primary key —
    deletes drop, updates/inserts take the feed's row image, untouched
    keys (the overwhelming majority at 100 TB) pass through; never a
    per-row driver loop or a row-by-row MERGE. The registered output
    aggregates the applied snapshot per status (exact decimal sums) and
    the DuckDB oracle computes the SAME aggregate over the directly-
    derived next snapshot — merge == recompute, end to end; pytest
    additionally pins full row-level equality.
    """
    o = t["orders"]
    feed = changefeed_orders(t)
    prev = o.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("totalprice"),
    )
    applied = (
        prev.join(feed, "key", "full_outer")
        .filter(F.col("op").isNull() | (F.col("op") != "delete"))
        .select(
            "key",
            F.coalesce("new_status", "status").alias("status"),
            F.coalesce("new_totalprice", "totalprice").alias("totalprice"),
        )
    )
    return (
        applied.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("totalprice", scale=4).alias("total_price"),
        )
        .withColumnRenamed("status", "o_orderstatus")
        .orderBy("o_orderstatus")
    )


#: deterministic-corruption parameters — interpolated into the oracle
#: SQL (queries.py) so operator and oracle cannot desynchronize.
VALIDATE_FK_MOD = 97  #: custkeys shifted out of range (FK orphans)
VALIDATE_NULL_MOD = 89  #: orderdates nulled (NOT NULL violations)
VALIDATE_DUP_MOD = 503  #: keys re-appended (PK duplicates)


def validate_lake_constraints(
    t: dict[str, DataFrame], corrupt: bool = True
) -> DataFrame:
    """Constraint-violation report over the exported lake — the data-
    quality gate an export pipeline runs before publishing a manifest
    (the reference publishes whatever the dump produced, reference
    main.py:223; consumers discover breakage downstream).

    One row per declared constraint with its violation count:

    - primary-key uniqueness (count of keys seen more than once);
    - referential integrity over the FK graph (child keys with no
      parent — LEFT ANTI join, the scalable containment check: no
      distinct-collect, no IN-list, shuffles only the key columns);
    - NOT NULL on load-bearing columns.

    The testdata lake is clean, so with ``corrupt=True`` (the
    registered form) the orders table is first corrupted
    DETERMINISTICALLY — keys % 503 re-appended (PK dups), custkeys
    % 97 shifted out of range (FK orphans), orderdates % 89 nulled —
    mirrored in the oracle, so every check class provably FIRES
    (same non-vacuousness rule as ``pii_scan``) while the untouched
    tables prove the zero path.

    All counts are exact integers -> full DuckDB oracle. At 100 TB
    each check is one key-column aggregate or anti-join (column-pruned
    scans); checks are independent single-row aggregates unioned at
    the end, so they run as parallel jobs of a shared plan, and a
    bucketed lake co-locates the FK anti-joins.
    """
    orders = t["orders"]
    if corrupt:
        orders = (
            orders.withColumn(
                "o_custkey",
                F.when(
                    F.col("o_orderkey") % VALIDATE_FK_MOD == 0,
                    F.col("o_custkey") + F.lit(10_000_000),
                ).otherwise(F.col("o_custkey")),
            )
            .withColumn(
                "o_orderdate",
                F.when(
                    F.col("o_orderkey") % VALIDATE_NULL_MOD == 0, F.lit(None)
                ).otherwise(F.col("o_orderdate")),
            )
            .unionByName(
                t["orders"].filter(F.col("o_orderkey") % VALIDATE_DUP_MOD == 0)
            )
        )

    def pk_dups(df: DataFrame, key: str, name: str) -> DataFrame:
        return (
            df.groupBy(key)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .agg(F.count(F.lit(1)).alias("n_violations"))
            .select(
                F.lit(name).alias("constraint_name"),
                F.coalesce("n_violations", F.lit(0)).alias("n_violations"),
            )
        )

    def fk_orphans(
        child: DataFrame, ck: str, parent: DataFrame, pk: str, name: str
    ) -> DataFrame:
        return (
            child.select(F.col(ck).alias("k"))
            .join(parent.select(F.col(pk).alias("k")), "k", "left_anti")
            .agg(F.count(F.lit(1)).alias("n_violations"))
            .select(
                F.lit(name).alias("constraint_name"),
                F.coalesce("n_violations", F.lit(0)).alias("n_violations"),
            )
        )

    def not_null(df: DataFrame, col: str, name: str) -> DataFrame:
        # coalesce like pk_dups/fk_orphans: SUM over an empty table is
        # NULL, which would break the `validate` CLI's running total.
        return df.agg(
            F.lit(name).alias("constraint_name"),
            F.coalesce(
                F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)),
                F.lit(0),
            )
            .cast("long")
            .alias("n_violations"),
        )

    checks = [
        pk_dups(orders, "o_orderkey", "pk_orders"),
        pk_dups(t["customer"], "c_custkey", "pk_customer"),
        pk_dups(t["part"], "p_partkey", "pk_part"),
        pk_dups(t["supplier"], "s_suppkey", "pk_supplier"),
        pk_dups(t["events"], "event_id", "pk_events"),
        pk_dups(t["documents"], "doc_id", "pk_documents"),
        fk_orphans(
            orders, "o_custkey", t["customer"], "c_custkey",
            "fk_orders_customer",
        ),
        fk_orphans(
            t["lineitem"], "l_orderkey", t["orders"], "o_orderkey",
            "fk_lineitem_orders",
        ),
        fk_orphans(
            t["lineitem"], "l_partkey", t["part"], "p_partkey",
            "fk_lineitem_part",
        ),
        fk_orphans(
            t["lineitem"], "l_suppkey", t["supplier"], "s_suppkey",
            "fk_lineitem_supplier",
        ),
        fk_orphans(
            t["customer"], "c_nationkey", t["nation"], "n_nationkey",
            "fk_customer_nation",
        ),
        not_null(orders, "o_orderdate", "nn_orders_orderdate"),
        not_null(t["lineitem"], "l_quantity", "nn_lineitem_quantity"),
        not_null(t["documents"], "text", "nn_documents_text"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.orderBy("constraint_name")


def histogram_equidepth_approx(
    t: dict[str, DataFrame], n_buckets: int = 20, accuracy: int = 10_000
) -> DataFrame:
    """Scale-safe equi-depth histogram — the PRODUCTION gear of
    :func:`histogram_equidepth` (whose unpartitioned ``ntile`` is a
    single-reducer sort, kept as the oracle-checkable baseline).

    Two map-side-combinable passes, no global sort anywhere:

    1. Boundary sketch: ONE ``approx_percentile(price, array(1/K ..
       (K-1)/K), accuracy)`` aggregate. The Greenwald-Khanna sketch is
       bounded-memory (O(accuracy) per partition buffer, merged
       associatively), with a rank-error guarantee of n/accuracy rows
       per boundary — at 100 TB each executor summarizes its split and
       the driver merges sketches, never raw rows.
    2. Map-side range assignment: the K-1 boundaries are broadcast as a
       1-row array and every order computes its bucket as
       ``1 + #{boundaries < price}`` via ``F.aggregate`` over the array
       — a JVM-side O(K) expression inside whole-stage codegen, then
       one ordinary grouped aggregate for count/lo/hi.

    Bucket semantics: values strictly above boundary b_i fall past it,
    so ties AT a boundary all land in the lower bucket (deterministic;
    the exact ntile baseline instead splits tie runs by o_orderkey).
    Counts therefore deviate from n/K by at most 2*n/accuracy plus the
    largest tie run — the quantitative bound pytest pins against the
    exact baseline. Registered rows-only: the sketch is
    engine-specific by design; correctness evidence is the pytest
    bound, scale evidence the plan test (no ntile, no single-partition
    sort, approx_percentile partial aggregation).
    """
    o = t["orders"].select("o_totalprice")
    probs = ", ".join(str(i / n_buckets) for i in range(1, n_buckets))
    bounds = o.agg(
        F.expr(
            f"approx_percentile(o_totalprice, array({probs}), {accuracy})"
        ).alias("bs")
    )
    return (
        o.crossJoin(F.broadcast(bounds))
        .withColumn(
            "bucket",
            F.expr(
                "1 + aggregate(bs, 0, (acc, b) ->"
                " acc + CASE WHEN o_totalprice > b THEN 1 ELSE 0 END)"
            ).cast("int"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("bucket")
    )


def histogram_equidepth_approx_checked(
    t: dict[str, DataFrame], n_buckets: int = 20, accuracy: int = 10_000
) -> DataFrame:
    """Driver-checkable twin of :func:`histogram_equidepth_approx`
    (round-10, r9 verdict #3): re-proves, per bucket and in-plan, the
    two invariants the sketch histogram promises, so the driver's
    independent hash covers the gear every round:

    - ``depth_ok``: |count - n/K| <= 2*n/accuracy + largest tie run
      (the GK rank-error bound on both bucket edges, plus ties-at-a-
      boundary landing wholly in the lower bucket);
    - ``ordered_ok``: bucket ranges are disjoint and ascending
      (hi of bucket i strictly below lo of bucket i+1 — bucket id is a
      function of the value, so equal values share a bucket).

    The boundary VALUES stay out of the hash (engine-specific sketch);
    the oracle enumerates bucket ids 1..K with both booleans TRUE. The
    tie/total side input is one grouped aggregate collapsed to a 1-row
    frame; the bucket ordering check is a lag window over K rows —
    both bounded by construction at any SF.

    Round-11 (r10 advice): the plan LEFT-joins a generated 1..K bucket
    spine, so the output always carries exactly K rows even when the
    sketch returns DUPLICATE boundaries (possible on a low-cardinality
    column) and a bucket id is skipped by the 1 + #{boundaries < x}
    assignment. An absorbed (empty) bucket passes the SAME depth bound
    it would carry with rows: boundaries b_{i-1} = b_i = v force v's
    tie run to span the bucket's rank width — #{x <= v} >= i*n/K -
    eps*n and #{x < v} <= (i-1)*n/K + eps*n give tie(v) >= n/K -
    2*eps*n, hence |0 - n/K| <= 2n/accuracy + max_tie holds EXACTLY by
    the GK contract, not by special-casing. Its ordering clause is
    vacuous (no range), and the next non-empty bucket is checked
    against the last non-null hi, so disjointness still chains across
    the gap.
    """
    from pyspark.sql import Window

    base = histogram_equidepth_approx(t, n_buckets, accuracy)
    o = t["orders"].select("o_totalprice")
    spark = o.sparkSession
    spine = spark.range(1, n_buckets + 1).select(
        F.col("id").cast("int").alias("bucket")
    )
    side = (
        o.groupBy("o_totalprice")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum("c").alias("n"), F.max("c").alias("max_tie"))
    )
    w = Window.orderBy("bucket")
    return (
        spine.join(base, "bucket", "left")
        .crossJoin(F.broadcast(side))
        .withColumn(
            "prev_hi",
            F.last("hi", ignorenulls=True).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .select(
            "bucket",
            (
                F.abs(F.coalesce(F.col("n_orders"), F.lit(0)) - F.col("n") / n_buckets)
                <= 2.0 * F.col("n") / accuracy + F.col("max_tie")
            ).alias("depth_ok"),
            (
                F.col("prev_hi").isNull()
                | F.col("lo").isNull()
                | (F.col("prev_hi") < F.col("lo"))
            ).alias("ordered_ok"),
        )
        .orderBy("bucket")
    )


def histogram_equidepth_approx_checked_oracle_sql(n_buckets: int = 20) -> str:
    return f"""
        SELECT CAST(generate_series AS INT) AS bucket,
               TRUE AS depth_ok,
               TRUE AS ordered_ok
        FROM generate_series(1, {n_buckets}) ORDER BY bucket
        """


#: Benford's-law expected first-digit frequencies in integer ppm,
#: precomputed in PYTHON (round(log10(1 + 1/d) * 1e6)) and embedded as
#: literals in BOTH engines — no runtime libm call, so no 1-ulp
#: cross-engine ln/log10 divergence can touch the oracle hash.
BENFORD_PPM = {
    d: round(__import__("math").log10(1 + 1 / d) * 1_000_000)
    for d in range(1, 10)
}


def benford_first_digit(t: dict[str, DataFrame]) -> DataFrame:
    """First-significant-digit distribution of order totals vs
    Benford's law — the classic fabricated-/constrained-data screen an
    ingest-quality pipeline runs per source: naturally occurring
    multi-scale amounts follow log-uniform digit frequencies, and a
    large deviation flags synthetic, clipped, or price-pointed data
    (TPC-H's uniform-range prices deviate hugely, which is exactly the
    point — the scan DETECTS that this table is synthetic).

    The first significant digit comes from the decimal's STRING form
    (``regexp_extract(cast(price as string), '[1-9]', 0)``), not from
    ``floor(x / 10^floor(log10(x)))`` — the log10 path returns
    2.9999999999999996 for exact powers of ten and misclassifies them,
    and libm log10 is engine-dependent in the last ulp; decimal
    rendering is exact and identical in both engines. Expected
    frequencies are Python-precomputed integer literals (see
    BENFORD_PPM), observed frequencies integer ppm — the whole output
    is int64 arithmetic.

    Scale shape: one map-side digit extraction + one 9-group
    aggregate + a 1-row total broadcast. Nothing else touches the
    data.
    """
    o = t["orders"]
    digit = F.regexp_extract(
        F.col("o_totalprice").cast("string"), "[1-9]", 0
    ).cast("int")
    counts = (
        o.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    total = o.agg(F.count(F.lit(1)).alias("total"))
    benford = "CASE digit " + " ".join(
        f"WHEN {d} THEN {p}L" for d, p in BENFORD_PPM.items()
    ) + " END"
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.col("n_orders").cast("long").alias("n_orders"),
            F.expr("(n_orders * 1000000) div total").alias("obs_ppm"),
            F.expr(benford).alias("benford_ppm"),
        )
        .withColumn(
            "dev_ppm", F.abs(F.col("obs_ppm") - F.col("benford_ppm"))
        )
        .orderBy("digit")
    )


def benford_first_digit_oracle_sql() -> str:
    case = "CASE digit " + " ".join(
        f"WHEN {d} THEN CAST({p} AS BIGINT)"
        for d, p in BENFORD_PPM.items()
    ) + " END"
    return f"""
        WITH d AS (
          SELECT CAST(regexp_extract(CAST(o_totalprice AS VARCHAR),
                                     '[1-9]', 0) AS INTEGER) AS digit
          FROM orders),
        counts AS (
          SELECT digit, COUNT(*) AS n_orders FROM d GROUP BY digit),
        tot AS (SELECT COUNT(*) AS total FROM orders)
        SELECT digit,
               CAST(n_orders AS BIGINT) AS n_orders,
               (n_orders * 1000000) // total AS obs_ppm,
               {case} AS benford_ppm,
               ABS((n_orders * 1000000) // total - {case}) AS dev_ppm
        FROM counts CROSS JOIN tot
        ORDER BY digit
        """


def value_mad_outliers(t: dict[str, DataFrame], k: float = 6.0) -> DataFrame:
    """Robust anomaly scan: flag events whose value deviates from the
    per-type MEDIAN by more than ``k`` times the MAD (median absolute
    deviation) — the outlier gear that survives the heavy tails that
    inflate ``value_outliers``' mean/stddev z-scores (one wild value
    shifts a mean; it cannot shift a median).

    Two bounded aggregation passes (per-type median, then per-type
    median of |v - med|), each result broadcast back onto the fact
    scan — no fact-side window, no sort of the full table. Exact
    interpolated percentiles on both engines (``percentile`` ==
    ``quantile_cont``, the parity ``percentiles_exact`` pins);
    |v - med| and the k*mad comparison are identical IEEE expressions,
    so the flagged set is bit-deterministic. ROUND(…, 9) on the
    presentation columns only.
    """
    e = t["events"]
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = (
        e.select("event_id", "event_type", "value")
        .join(F.broadcast(med), "event_type")
        .withColumn("adev", F.abs(F.col("value") - F.col("med")))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("adev") > k * F.col("mad"))
        .select(
            "event_id",
            "event_type",
            "value",
            F.round("med", 9).alias("med"),
            F.round("mad", 9).alias("mad"),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# CUSUM changepoint / drift detection
# --------------------------------------------------------------------------

# Alarm threshold in integer cents. Calibrated so every event_type
# alarms at sf0.001 and above (per-type max CUSUM ~1.2e5 at sf0.001).
CUSUM_ALARM_H = 100_000


def cusum_alarms(
    t: dict[str, DataFrame], h: int = CUSUM_ALARM_H
) -> DataFrame:
    """One-sided CUSUM drift detection over each event_type's value
    stream, reported as a per-type summary.

    The textbook recursion ``s_i = max(0, s_{i-1} + (x_i - d))`` is
    not window-expressible, but it has an exact closed form:
    ``s_i = P_i - min(0, min_{k<=i} P_k)`` where ``P`` is the running
    prefix sum of ``(x_i - d)`` — two ordered-window passes, no
    recursion, no UDF. Everything is integer cents
    (``floor(value*100 + 0.5)`` — the same IEEE double product and
    floor on both engines), the reference drift ``d`` is the per-type
    integer mean minus 10% (``c - c div 10``, non-negative div ==
    DuckDB ``//``), and ties in the event order are broken by the
    unique event_id — so the whole CUSUM path is bit-identical
    cross-engine, and the summary (max excursion, alarm count, first
    alarming event) hashes exactly.

    100 TB posture: one event_type-keyed exchange for the ordered
    windows plus a 5-row broadcast of the per-type drift parameters;
    per-partition state is O(1) (running sum + running min). A
    per-type total-order window implies one task per type at the
    extreme — for high-cardinality streams this is the standard
    time-series layout (partition by series, order within); for few
    huge series, range-bucket the time axis and carry boundary sums
    (the pack_sequences prefix-sum recipe).
    """
    e = t["events"].select(
        "event_type",
        "event_id",
        "ts",
        F.expr("CAST(FLOOR(value*100 + 0.5) AS BIGINT)").alias("v"),
    )
    params = e.groupBy("event_type").agg(
        F.expr("sum(v) div count(*)").alias("c")
    )
    from pyspark.sql import Window

    w_rn = Window.partitionBy("event_type").orderBy("ts", "event_id")
    w_ord = w_rn.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p = (
        e.join(F.broadcast(params), "event_type")
        .withColumn("d", F.expr("c - c div 10"))
        .withColumn("pf", F.sum(F.col("v") - F.col("d")).over(w_ord))
    )
    s = p.withColumn(
        "cusum", F.col("pf") - F.least(F.lit(0), F.min("pf").over(w_ord))
    ).withColumn("rn", F.row_number().over(w_rn))
    alarm = F.when(F.col("cusum") >= F.lit(h), F.col("rn"))
    return (
        s.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("cusum").alias("max_cusum"),
            F.sum(
                F.when(F.col("cusum") >= F.lit(h), 1).otherwise(0)
            ).alias("n_alarms"),
            F.min_by("event_id", F.coalesce(alarm, F.lit(2**62))).alias(
                "first_alarm_event_id"
            ),
        )
        # min_by with the no-alarm sentinel returns SOME event when a
        # type never alarms; mask it back to NULL.
        .withColumn(
            "first_alarm_event_id",
            F.when(
                F.col("n_alarms") > 0, F.col("first_alarm_event_id")
            ),
        )
        .orderBy("event_type")
    )


def cusum_alarms_oracle_sql(h: int = CUSUM_ALARM_H) -> str:
    """DuckDB replay of the closed-form CUSUM (same integer cents,
    same drift derivation, same tie order)."""
    return f"""
    WITH cents AS (
      SELECT event_type, event_id, ts,
             CAST(FLOOR(value*100 + 0.5) AS BIGINT) AS v
      FROM events),
    params AS (
      SELECT event_type, SUM(v) // COUNT(*) AS c
      FROM cents GROUP BY event_type),
    p AS (
      SELECT c.event_type, c.event_id,
             SUM(v - (pc.c - pc.c // 10)) OVER w AS pf,
             ROW_NUMBER() OVER (
               PARTITION BY c.event_type ORDER BY c.ts, c.event_id
             ) AS rn
      FROM cents c JOIN params pc USING (event_type)
      WINDOW w AS (
        PARTITION BY c.event_type ORDER BY c.ts, c.event_id
        ROWS UNBOUNDED PRECEDING)),
    s AS (
      SELECT event_type, event_id, rn,
             pf - least(0, MIN(pf) OVER (
               PARTITION BY event_type ORDER BY rn
               ROWS UNBOUNDED PRECEDING)) AS cusum
      FROM p)
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(MAX(cusum) AS BIGINT) AS max_cusum,
           CAST(SUM(CASE WHEN cusum >= {h} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_alarms,
           CASE WHEN SUM(CASE WHEN cusum >= {h} THEN 1 ELSE 0 END) > 0
                THEN min_by(event_id,
                            CASE WHEN cusum >= {h} THEN rn
                                 ELSE {2**62} END)
           END AS first_alarm_event_id
    FROM s GROUP BY event_type ORDER BY event_type
    """


def value_outliers_oracle_sql() -> str:
    """DuckDB replay of the z-score scan — shared verbatim by the
    value_outliers entry and the anomaly suite (drift rule)."""
    return """
            WITH s AS (
                SELECT event_type,
                       CAST(COUNT(*) AS DOUBLE) AS n,
                       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                           AS sx,
                       CAST(SUM(CAST(value * value AS DECIMAL(38,6)))
                            AS DOUBLE) AS sxx
                FROM events GROUP BY event_type),
            st AS (SELECT event_type,
                          sx / n AS mean_v,
                          -- mirror the operator's guards: singleton
                          -- groups have no sample variance, and tiny
                          -- NEGATIVE cancellation residue must clamp
                          -- to 0, not crash DuckDB's sqrt
                          CASE WHEN n > 1 THEN
                               sqrt(GREATEST((sxx - sx * sx / n)
                                             / (n - 1.0), 0.0))
                          END AS std_v
                   FROM s)
            SELECT event_id, event_type, value,
                   ROUND((value - mean_v) / std_v, 9) AS z_score
            FROM events JOIN st USING (event_type)
            WHERE abs((value - mean_v) / std_v) > 3.0
            ORDER BY event_id
            """


def value_mad_outliers_oracle_sql() -> str:
    """DuckDB replay of the median/MAD scan — shared verbatim by the
    value_mad_outliers entry and the anomaly suite (drift rule)."""
    return """
            WITH med AS (
              SELECT event_type, quantile_cont(value, 0.5) AS med
              FROM events GROUP BY event_type),
            dev AS (
              SELECT e.event_id, e.event_type, e.value, m.med,
                     abs(e.value - m.med) AS adev
              FROM events e JOIN med m USING (event_type)),
            mad AS (
              SELECT event_type, quantile_cont(adev, 0.5) AS mad
              FROM dev GROUP BY event_type)
            SELECT d.event_id, d.event_type, d.value,
                   ROUND(d.med, 9) AS med, ROUND(m2.mad, 9) AS mad
            FROM dev d JOIN mad m2 USING (event_type)
            WHERE d.adev > 6.0 * m2.mad
            ORDER BY d.event_id
            """


def ks_distance_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between every pair of
    event types' value distributions — the drift test a data-quality
    pipeline runs between sources or between yesterday's and today's
    ingest ("did the value distribution move?"). D = sup_x |F_a(x) -
    F_b(x)| over the empirical CDFs.

    Exact integer evaluation: values quantize to cents (the module
    convention), per-type cumulative counts accumulate over the
    CENTS-bounded support (the window input is types x distinct cents
    — value-range-bounded regardless of event volume, the same
    pre-aggregate-then-window discipline as pareto_frontier_orders),
    and the supremum is the max of |cum_a * n_b - cum_b * n_a| — a
    cross-multiplied integer, so no division touches the comparison.
    Tie correctness: both sides' steps at the same cents value must
    land before the difference is read, so the carry windows use a
    RANGE frame on cents (a ROWS frame would read one side mid-step
    at shared support points and overstate D). Reported ks_ppm =
    D * 1e6 div (n_a * n_b).

    Overflow envelope — LOUD, not documentation-only: cum * n <=
    n_a * n_b, and the ppm scaling multiplies by 1e6, so the product
    chain is safe while n_a * n_b * 1e6 < 2^63 (~3e6 samples per
    type). The session pins ``ansi.enabled=false`` (session.py), so
    past the envelope int64 would WRAP SILENTLY into garbage ppm —
    therefore the ks_ppm projection embeds a ``raise_error`` tier
    (the hits_trade_graph guard convention, expressed in-plan so it
    costs zero extra jobs and runs distributed): any pair with
    n_b > floor(floor((2^63-1)/1e6) / n_a) — the overflow predicate
    rearranged into a division so the GUARD itself cannot wrap —
    fails the query with the remediation message (divide counts
    down, or lift the comparison to decimal(38,0)) instead of
    returning wrapped numbers. Adversarially tested over-envelope in
    tests/test_round9_ops.py.

    Plan: one fact aggregate to (type, cents), one bounded window
    chain, one broadcastable pair frame — the fact table is touched
    once.
    """
    from pyspark.sql import Window

    e = t["events"]
    counts = (
        e.select(
            "event_type",
            F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias(
                "cents"
            ),
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.groupBy("event_type").agg(F.sum("c").alias("n"))
    pairs = (
        totals.select(
            F.col("event_type").alias("ta"), F.col("n").alias("na")
        )
        .crossJoin(
            totals.select(
                F.col("event_type").alias("tb"), F.col("n").alias("nb")
            )
        )
        .filter(F.col("ta") < F.col("tb"))
    )
    side_a = pairs.join(
        counts.select(
            F.col("event_type").alias("ta"),
            "cents",
            F.col("c").alias("ca"),
        ),
        "ta",
    ).select("ta", "tb", "na", "nb", "cents", "ca", F.lit(0).alias("cb"))
    side_b = pairs.join(
        counts.select(
            F.col("event_type").alias("tb"),
            "cents",
            F.col("c").alias("cb"),
        ),
        "tb",
    ).select("ta", "tb", "na", "nb", "cents", F.lit(0).alias("ca"), "cb")
    w = (
        Window.partitionBy("ta", "tb")
        .orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stepped = (
        side_a.unionByName(side_b)
        .withColumn("cum_a", F.sum("ca").over(w))
        .withColumn("cum_b", F.sum("cb").over(w))
        .withColumn(
            "d",
            F.abs(
                F.col("cum_a") * F.col("nb")
                - F.col("cum_b") * F.col("na")
            ),
        )
    )
    return (
        stepped.groupBy("ta", "tb", "na", "nb")
        .agg(F.max("d").alias("d_scaled"))
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            F.col("d_scaled").cast("long").alias("d_scaled"),
            # loud overflow tier (see docstring): 9223372036854 =
            # (2^63-1) div 1e6; the predicate is the envelope
            # n_a*n_b*1e6 > 2^63-1 rearranged into divisions
            # (nb > floor(K/na) <=> na*nb > K for positive ints) so
            # the guard itself can never wrap under ansi=false
            F.expr(
                "CASE WHEN nb > 9223372036854L div na THEN"
                " raise_error(concat("
                "'ks_distance_pairs int64 overflow envelope exceeded:"
                " n_a*n_b = ', CAST(na AS STRING), '*',"
                " CAST(nb AS STRING), ' > 9223372036854 safe maximum"
                " for the ppm multiply (the session pins ansi=false,"
                " so the product would wrap silently into garbage"
                " ppm). Divide counts down or lift the comparison to"
                " decimal(38,0) for samples this large.'))"
                " ELSE (d_scaled * 1000000) div (na * nb) END"
            ).alias("ks_ppm"),
        )
        .orderBy("type_a", "type_b")
    )


def ks_distance_oracle_sql() -> str:
    return """
        WITH counts AS MATERIALIZED (
          SELECT event_type,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2),
        totals AS (
          SELECT event_type, CAST(SUM(c) AS BIGINT) AS n
          FROM counts GROUP BY event_type),
        pairs AS (
          SELECT a.event_type AS ta, a.n AS na,
                 b.event_type AS tb, b.n AS nb
          FROM totals a JOIN totals b ON a.event_type < b.event_type),
        sides AS MATERIALIZED (
          SELECT ta, tb, na, nb, c.cents, c.c AS ca,
                 CAST(0 AS BIGINT) AS cb
          FROM pairs JOIN counts c ON c.event_type = ta
          UNION ALL
          SELECT ta, tb, na, nb, c.cents, CAST(0 AS BIGINT) AS ca,
                 c.c AS cb
          FROM pairs JOIN counts c ON c.event_type = tb),
        stepped AS (
          SELECT ta, tb, na, nb,
                 ABS(CAST(SUM(ca) OVER w AS BIGINT) * nb
                     - CAST(SUM(cb) OVER w AS BIGINT) * na) AS d
          FROM sides
          WINDOW w AS (PARTITION BY ta, tb ORDER BY cents
                       RANGE BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW))
        SELECT ta AS type_a, tb AS type_b, na AS n_a, nb AS n_b,
               CAST(MAX(d) AS BIGINT) AS d_scaled,
               (CAST(MAX(d) AS BIGINT) * 1000000) // (na * nb) AS ks_ppm
        FROM stepped
        GROUP BY ta, tb, na, nb
        ORDER BY type_a, type_b
        """


def decile_features_events(t: dict[str, DataFrame]) -> DataFrame:
    """Quantile-bin feature transform: each event's value mapped to
    its per-type DECILE (1..10) — the rank-normalizing preprocessing
    step ML pipelines apply before mixing heavy-tailed features
    (decile ranks are scale-free and outlier-robust where min-max
    scaling is neither).

    Boundary derivation is RANK-BASED INTEGER arithmetic, not
    interpolated percentiles — a hard-won sf0.1 lesson: Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` interpolate with
    differently-associated float expressions, and a data value lying
    within one ulp of an interpolated boundary flips buckets between
    engines (caught by the sf0.1 oracle sweep; sf0.001/0.01 passed).
    Here values quantize to cents, a cumulative count over the
    CENTS-BOUNDED support (the ks_distance_pairs discipline: types x
    distinct cents, never event volume) yields the nine discrete
    boundaries b_i = min cents with cum >= ceil(i*n/10), and the bin
    is ``1 + #{b_i < cents}`` — every comparison int64, zero float
    anywhere, bit-identical cross-engine.

    Plan: one (type, cents) aggregate, one value-bounded cumulative
    window, a 45-row boundary broadcast, and a map-side O(9)
    ``F.aggregate`` over the broadcast array inside codegen. No
    fact-side window or sort; the fact table is scanned twice (counts
    + assignment), both scans pruned to (event cols).

    Output: (event_id, event_type, value_cents, decile) — top-level
    scalars only (the boundary array never leaves the plan).
    """
    from pyspark.sql import Window

    e = t["events"].select(
        "event_id",
        "event_type",
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    counts = e.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = counts.groupBy("event_type").agg(F.sum("c").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = counts.withColumn("cum", F.sum("c").over(w))
    ii = counts.sparkSession.range(1, 10).select(
        F.col("id").alias("i")
    )
    bounds = (
        cum.join(tot, "event_type")
        .crossJoin(F.broadcast(ii))
        .filter(F.col("cum") >= F.expr("(i * n + 9) div 10"))
        .groupBy("event_type", "i")
        .agg(F.min("cents").alias("b"))
        .groupBy("event_type")
        .agg(F.sort_array(F.collect_list("b")).alias("bs"))
    )
    return (
        e.join(F.broadcast(bounds), "event_type")
        .select(
            "event_id",
            "event_type",
            F.col("cents").alias("value_cents"),
            F.expr(
                "CAST(1 + aggregate(bs, 0, (acc, b) ->"
                " acc + CASE WHEN cents > b THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("decile"),
        )
        .orderBy("event_id")
    )


def decile_features_oracle_sql() -> str:
    """DuckDB replay: same integer cumulative-histogram boundaries,
    unnested instead of HOF-folded (a 9-row correlated count joins
    identically)."""
    return """
        WITH e AS MATERIALIZED (
          SELECT event_id, event_type,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
          FROM events),
        counts AS MATERIALIZED (
          SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS c
          FROM e GROUP BY event_type, cents),
        tot AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n
                FROM counts GROUP BY event_type),
        cum AS (
          SELECT event_type, cents,
                 CAST(SUM(c) OVER (PARTITION BY event_type
                                   ORDER BY cents
                                   ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum
          FROM counts),
        bounds AS MATERIALIZED (
          SELECT cum.event_type, i.i, MIN(cents) AS b
          FROM cum
          JOIN tot ON tot.event_type = cum.event_type
          CROSS JOIN generate_series(1, 9) AS i(i)
          WHERE cum >= (i.i * tot.n + 9) // 10
          GROUP BY cum.event_type, i.i)
        SELECT e.event_id, e.event_type, e.cents AS value_cents,
               CAST(1 + (SELECT COUNT(*) FROM bounds b
                         WHERE b.event_type = e.event_type
                           AND b.b < e.cents) AS BIGINT) AS decile
        FROM e
        ORDER BY e.event_id
        """


def anomaly_suite_events(t: dict[str, DataFrame]) -> DataFrame:
    """The composed per-type anomaly profile — z-score outlier count,
    median/MAD robust outlier count, and the CUSUM drift summary in
    ONE result (the curate_corpus_pipeline/supplier_graph_suite
    composition pattern applied to monitoring): the report an ingest
    gate actually reads, instead of three separate scans at three
    separate times.

    Composition discipline: the three stages ARE the registered
    single operators called directly (``value_outliers``,
    ``value_mad_outliers``, ``cusum_alarms``) — no re-implementation
    to drift — and the oracle is assembled from the singles' shared
    SQL (each single's oracle text wrapped as a counting subquery),
    so this one hash re-verifies all three compositions every run.
    Types with zero outliers keep 0 via left joins from the CUSUM
    side (which always emits every type).
    """
    cu = cusum_alarms(t).select(
        "event_type", "n_events", "max_cusum", "n_alarms"
    )
    z = (
        value_outliers(t)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_z_outliers"))
    )
    mad = (
        value_mad_outliers(t)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_mad_outliers"))
    )
    return (
        cu.join(z, "event_type", "left")
        .join(mad, "event_type", "left")
        .select(
            "event_type",
            "n_events",
            F.coalesce("n_z_outliers", F.lit(0))
            .cast("long")
            .alias("n_z_outliers"),
            F.coalesce("n_mad_outliers", F.lit(0))
            .cast("long")
            .alias("n_mad_outliers"),
            "max_cusum",
            "n_alarms",
        )
        .orderBy("event_type")
    )


def anomaly_suite_oracle_sql() -> str:
    """Assembled from the singles' shared oracle texts, each wrapped
    as a subquery — one definition per stage (drift rule)."""
    return f"""
        WITH zc AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_z_outliers
          FROM ({value_outliers_oracle_sql()}) GROUP BY event_type),
        mc AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_mad_outliers
          FROM ({value_mad_outliers_oracle_sql()}) GROUP BY event_type),
        cu AS (
          SELECT event_type, n_events, max_cusum, n_alarms
          FROM ({cusum_alarms_oracle_sql()}))
        SELECT cu.event_type,
               CAST(cu.n_events AS BIGINT) AS n_events,
               COALESCE(zc.n_z_outliers, 0) AS n_z_outliers,
               COALESCE(mc.n_mad_outliers, 0) AS n_mad_outliers,
               cu.max_cusum, cu.n_alarms
        FROM cu
        LEFT JOIN zc ON zc.event_type = cu.event_type
        LEFT JOIN mc ON mc.event_type = cu.event_type
        ORDER BY cu.event_type
        """


def robust_scale_features(t: dict[str, DataFrame]) -> DataFrame:
    """Robust (median/IQR) feature scaling per event type — the
    outlier-resistant standardization sklearn calls RobustScaler,
    the companion of :func:`decile_features_events` for pipelines
    that want a continuous scaled value instead of a rank bin
    (z-scores move with every outlier; median and IQR do not).

    All three quartile boundaries are RANK-BASED INTEGER order
    statistics (the decile discipline, pitfall of the sf0.1 sweep:
    interpolated quantiles diverge cross-engine in the last ulp) —
    q_i = min cents with cumulative count >= ceil(i*n/4), derived
    from a cumulative window over the CENTS-BOUNDED support (types x
    distinct cents, never event volume). The scaled value is then ONE
    IEEE subtract/divide both engines evaluate identically; IQR = 0
    (constant-middle distributions) yields NULL, mirrored by the
    oracle's NULLIF.

    Plan (pinned): one (type, cents) aggregate, one value-bounded
    cumulative window, a 15-row boundary broadcast onto the single
    fact-side scan; no fact-side window or sort.
    """
    from pyspark.sql import Window

    e = t["events"].select(
        "event_id",
        "event_type",
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    counts = e.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = counts.groupBy("event_type").agg(F.sum("c").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = counts.withColumn("cum", F.sum("c").over(w))
    ii = counts.sparkSession.range(1, 4).select(F.col("id").alias("i"))
    quarts = (
        cum.join(tot, "event_type")
        .crossJoin(F.broadcast(ii))
        .filter(F.col("cum") >= F.expr("(i * n + 3) div 4"))
        .groupBy("event_type", "i")
        .agg(F.min("cents").alias("b"))
        .groupBy("event_type")
        .agg(
            F.min(F.when(F.col("i") == 1, F.col("b"))).alias("q1"),
            F.min(F.when(F.col("i") == 2, F.col("b"))).alias("med"),
            F.min(F.when(F.col("i") == 3, F.col("b"))).alias("q3"),
        )
    )
    return (
        e.join(F.broadcast(quarts), "event_type")
        .select(
            "event_id",
            "event_type",
            F.col("cents").alias("value_cents"),
            F.col("med").alias("median_cents"),
            (F.col("q3") - F.col("q1")).alias("iqr_cents"),
            F.round(
                (F.col("cents") - F.col("med")).cast("double")
                / F.when(
                    F.col("q3") > F.col("q1"),
                    (F.col("q3") - F.col("q1")).cast("double"),
                ),
                9,
            ).alias("robust_z"),
        )
        .orderBy("event_id")
    )


def robust_scale_oracle_sql() -> str:
    """DuckDB replay: identical integer order statistics, the scaled
    value as the same subtract/divide with NULLIF for IQR = 0."""
    return """
        WITH e AS MATERIALIZED (
          SELECT event_id, event_type,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
          FROM events),
        counts AS MATERIALIZED (
          SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS c
          FROM e GROUP BY event_type, cents),
        tot AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n
                FROM counts GROUP BY event_type),
        cum AS (
          SELECT event_type, cents,
                 CAST(SUM(c) OVER (PARTITION BY event_type
                                   ORDER BY cents
                                   ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum
          FROM counts),
        quarts AS MATERIALIZED (
          SELECT event_type,
                 MIN(CASE WHEN i = 1 THEN b END) AS q1,
                 MIN(CASE WHEN i = 2 THEN b END) AS med,
                 MIN(CASE WHEN i = 3 THEN b END) AS q3
          FROM (
            SELECT cum.event_type, i.i AS i, MIN(cents) AS b
            FROM cum
            JOIN tot ON tot.event_type = cum.event_type
            CROSS JOIN generate_series(1, 3) AS i(i)
            WHERE cum >= (i.i * tot.n + 3) // 4
            GROUP BY cum.event_type, i.i)
          GROUP BY event_type)
        SELECT e.event_id, e.event_type, e.cents AS value_cents,
               q.med AS median_cents,
               q.q3 - q.q1 AS iqr_cents,
               ROUND(CAST(e.cents - q.med AS DOUBLE)
                     / NULLIF(CAST(q.q3 - q.q1 AS DOUBLE), 0.0), 9)
                   AS robust_z
        FROM e JOIN quarts q ON q.event_type = e.event_type
        ORDER BY e.event_id
        """


#: neighboring distinct values at most this many cents apart share a
#: cluster (DBSCAN-1D epsilon on the quantized support).
CLUSTER_EPS_CENTS = 25
#: clusters carrying fewer events are reported as noise (dropped).
CLUSTER_MIN_PTS = 5


def value_clusters_1d(
    t: dict[str, DataFrame],
    eps: int = CLUSTER_EPS_CENTS,
    min_pts: int = CLUSTER_MIN_PTS,
) -> DataFrame:
    """1-D density clustering of event values per type — DBSCAN
    restricted to one dimension, where it becomes EXACT and linear:
    on a sorted axis, density clusters are precisely the maximal runs
    of distinct values whose neighbor gaps stay <= eps (gaps-and-
    islands — no iterative region growing, no approximation), and
    clusters carrying fewer than ``min_pts`` events are noise. The
    price-point discovery scan: modes of a value distribution
    (clustered price tiers, quantized sensor levels) with outlier
    bands dropped.

    Exactness: everything is integer — cents quantization, gap
    comparison, cumulative cluster ids, per-cluster count/min/max.
    The windows run over the CENTS-BOUNDED distinct support per type
    (the ks_distance_pairs discipline), never event volume; cluster
    ids re-rank by cluster floor so the output is stable under any
    partitioning.

    Output: (event_type, cluster_id, lo_cents, hi_cents, n_events,
    n_values) — one row per surviving cluster.
    """
    from pyspark.sql import Window

    e = t["events"].select(
        "event_type",
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    counts = e.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("event_type").orderBy("cents")
    islands = (
        counts.withColumn("prev", F.lag("cents").over(w))
        .withColumn(
            "brk",
            F.when(
                F.col("prev").isNull()
                | (F.col("cents") - F.col("prev") > eps),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "grp",
            F.sum("brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    clusters = (
        islands.groupBy("event_type", "grp")
        .agg(
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
            F.sum("c").alias("n_events"),
            F.count(F.lit(1)).alias("n_values"),
        )
        .filter(F.col("n_events") >= min_pts)
    )
    w2 = Window.partitionBy("event_type").orderBy("lo_cents")
    return (
        clusters.withColumn(
            "cluster_id", F.row_number().over(w2).cast("long")
        )
        .select(
            "event_type",
            "cluster_id",
            "lo_cents",
            "hi_cents",
            "n_events",
            "n_values",
        )
        .orderBy("event_type", "cluster_id")
    )


def value_clusters_oracle_sql(
    eps: int = CLUSTER_EPS_CENTS, min_pts: int = CLUSTER_MIN_PTS
) -> str:
    return f"""
        WITH e AS MATERIALIZED (
          SELECT event_type,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM events GROUP BY event_type,
                               CAST(FLOOR(value * 100 + 0.5) AS BIGINT)),
        marked AS (
          SELECT event_type, cents, c,
                 CASE WHEN LAG(cents) OVER w IS NULL
                        OR cents - LAG(cents) OVER w > {eps}
                      THEN 1 ELSE 0 END AS brk
          FROM e
          WINDOW w AS (PARTITION BY event_type ORDER BY cents)),
        grouped AS (
          SELECT event_type, cents, c,
                 SUM(brk) OVER (PARTITION BY event_type ORDER BY cents
                                ROWS UNBOUNDED PRECEDING) AS grp
          FROM marked),
        clusters AS MATERIALIZED (
          SELECT event_type, grp,
                 MIN(cents) AS lo_cents, MAX(cents) AS hi_cents,
                 CAST(SUM(c) AS BIGINT) AS n_events,
                 CAST(COUNT(*) AS BIGINT) AS n_values
          FROM grouped GROUP BY event_type, grp
          HAVING SUM(c) >= {min_pts})
        SELECT event_type,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY lo_cents) AS BIGINT)
                   AS cluster_id,
               lo_cents, hi_cents, n_events, n_values
        FROM clusters
        ORDER BY event_type, cluster_id
        """


def _type_decile_cells(t: dict[str, DataFrame]) -> DataFrame:
    """The ONE global-decile contingency core shared by
    ``chi2_type_decile`` (per-cell residuals) and
    ``cramers_v_type_decile`` (the summed effect size) — the drift
    rule: two operators reading the same contingency table must not
    re-declare its construction.

    Returns the present-cell frame (event_type, decile, observed,
    rt, ct, n): observed cell counts joined with their row/column
    marginals and the broadcast grand total. See chi2_type_decile
    for the boundary and plan discipline.
    """
    from pyspark.sql import Window

    e = t["events"].select(
        "event_type",
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    # the global support histogram fans out to THREE consumers (cum,
    # total, boundary filter) and the contingency table to three more
    # (obs, row totals, column totals): materialize each once —
    # support-bounded / types*10 rows — instead of re-scanning the
    # fact per branch (the first cut re-derived every branch from the
    # scan: 10 fact scans, 20 exchanges; checkpointed: 2 scans)
    counts = (
        e.groupBy("cents").agg(F.count(F.lit(1)).alias("c")).localCheckpoint()
    )
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = counts.withColumn("cum", F.sum("c").over(w))
    tot = counts.agg(F.sum("c").alias("n"))
    ii = counts.sparkSession.range(1, 10).select(F.col("id").alias("i"))
    bounds = (
        cum.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ii))
        .filter(F.col("cum") >= F.expr("(i * n + 9) div 10"))
        .groupBy("i")
        .agg(F.min("cents").alias("b"))
        .agg(F.sort_array(F.collect_list("b")).alias("bs"))
    )
    binned = e.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.expr(
            "CAST(1 + aggregate(bs, 0, (acc, b) ->"
            " acc + CASE WHEN cents > b THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("decile"),
    )
    obs = (
        binned.groupBy("event_type", "decile")
        .agg(F.count(F.lit(1)).alias("observed"))
        .localCheckpoint()
    )
    rt = obs.groupBy("event_type").agg(F.sum("observed").alias("rt"))
    ct = obs.groupBy("decile").agg(F.sum("observed").alias("ct"))
    return (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "decile")
        .crossJoin(F.broadcast(tot))
    )


def chi2_type_decile(t: dict[str, DataFrame]) -> DataFrame:
    """Chi-squared contingency profile of event_type x global value
    decile — the categorical-feature-vs-binned-target independence
    scan feature selection runs before training (a flat table says
    the type carries no information about the value's bucket; a
    spiked cell is the signal). Reported PER CELL (observed, expected,
    contribution) rather than as one summed statistic: a float sum
    over cells has no deterministic cross-engine order, while each
    cell's value is ONE fixed-shape IEEE chain both engines evaluate
    identically (the bm25 fixed-order discipline), and the per-cell
    residuals are what an analyst actually reads. (The summed,
    deterministically-folded statistic lives in
    ``cramers_v_type_decile``, off the same ``_type_decile_cells``
    core.)

    Bucket boundaries are GLOBAL rank-based integer order statistics
    (min cents with cum >= ceil(i*n/10) — the decile discipline,
    unpartitioned): the one cumulative window runs over the GLOBAL
    distinct-cents support, bounded by the VALUE RANGE (quantized
    cents), never event volume; boundaries broadcast as a 9-element
    array and assignment is the in-codegen O(9) ``aggregate`` fold.

    Output: (event_type, decile, observed, expected, contribution),
    UP TO types x 10 rows: a (type, decile) cell with zero observed
    events is ABSENT, not emitted as observed=0 — both engines build
    the table from the seen combinations only, and a dense grid would
    need a types×deciles spine to add expected-only cells whose
    contribution the per-cell reader rarely wants. Callers summing
    contributions into one χ² statistic must add the missing-cell
    term Σ_absent expected themselves (absent cells contribute
    exactly their expectation, since (0-E)²/E = E).
    """
    exp = (
        F.col("rt").cast("double")
        * F.col("ct").cast("double")
        / F.col("n").cast("double")
    )
    contrib = (F.col("observed").cast("double") - exp) * (
        F.col("observed").cast("double") - exp
    ) / exp
    return (
        _type_decile_cells(t)
        .select(
            "event_type",
            "decile",
            "observed",
            F.round(exp, 6).alias("expected"),
            F.round(contrib, 6).alias("contribution"),
        )
        .orderBy("event_type", "decile")
    )


#: DuckDB CTE text of the SAME global-decile contingency core as
#: ``_type_decile_cells`` — ONE SQL definition shared by the
#: chi2_type_decile and cramers_v_type_decile oracles, mirroring the
#: Python-side helper (the CANON_EXPR_SQL / SESSION_CTES_SQL rule).
TYPE_DECILE_CELLS_CTES_SQL = """
        e AS MATERIALIZED (
          SELECT event_type,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
          FROM events),
        counts AS MATERIALIZED (
          SELECT cents, CAST(COUNT(*) AS BIGINT) AS c
          FROM e GROUP BY cents),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts),
        cum AS (
          SELECT cents,
                 CAST(SUM(c) OVER (ORDER BY cents
                                   ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum
          FROM counts),
        bounds AS MATERIALIZED (
          SELECT i.i, MIN(cents) AS b
          FROM cum, tot
          CROSS JOIN generate_series(1, 9) AS i(i)
          WHERE cum >= (i.i * tot.n + 9) // 10
          GROUP BY i.i),
        binned AS (
          SELECT event_type,
                 CAST(1 + (SELECT COUNT(*) FROM bounds
                           WHERE b < e.cents) AS BIGINT) AS decile
          FROM e),
        obs AS MATERIALIZED (
          SELECT event_type, decile,
                 CAST(COUNT(*) AS BIGINT) AS observed
          FROM binned GROUP BY event_type, decile),
        rt AS (SELECT event_type, CAST(SUM(observed) AS BIGINT) AS rt
               FROM obs GROUP BY event_type),
        ct AS (SELECT decile, CAST(SUM(observed) AS BIGINT) AS ct
               FROM obs GROUP BY decile)
        """


def chi2_type_decile_oracle_sql() -> str:
    """DuckDB replay: same global integer boundaries (correlated
    9-row count instead of the HOF fold), same per-cell IEEE chain."""
    return f"""
        WITH {TYPE_DECILE_CELLS_CTES_SQL}
        SELECT o.event_type, o.decile, o.observed,
               ROUND(CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)
                     / CAST(tot.n AS DOUBLE), 6) AS expected,
               ROUND((CAST(o.observed AS DOUBLE)
                      - CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)
                        / CAST(tot.n AS DOUBLE))
                     * (CAST(o.observed AS DOUBLE)
                        - CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)
                          / CAST(tot.n AS DOUBLE))
                     / (CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)
                        / CAST(tot.n AS DOUBLE)), 6) AS contribution
        FROM obs o
        JOIN rt ON rt.event_type = o.event_type
        JOIN ct ON ct.decile = o.decile
        CROSS JOIN tot
        ORDER BY o.event_type, o.decile
        """


def cramers_v_type_decile(t: dict[str, DataFrame]) -> DataFrame:
    """Bias-uncorrected Cramér's V of the event_type x value-decile
    contingency table — the ONE effect-size number (0 = independent,
    1 = perfectly determined) the per-cell ``chi2_type_decile``
    deliberately does not sum. Same ``_type_decile_cells`` core (the
    drift rule), different altitude: the cell table is for reading,
    V is for ranking features and alarming on association drift.

    Why the sum is safe HERE when chi2_type_decile refused it: a
    float sum over cells has no deterministic cross-engine order
    under hash aggregation, but the cell table is tiny (types x 10),
    so both engines fold the SAME per-cell IEEE chains in the SAME
    explicit order — Spark sorts the collected cell array and folds
    with ``aggregate``; DuckDB folds ``list(... ORDER BY ...)`` with
    ``list_reduce``. Left-fold parity holds exactly because Spark's
    extra leading ``0.0 + x1`` is IEEE-exact.

    The absent-cell correction the chi2 docstring assigns to callers
    is applied here EXACTLY: absent cells contribute their
    expectation, and Σ_absent E = n - Σ_present E =
    (n² - Σ_present rt*ct)/n — computed on exact decimal(38,0)
    integer products (no envelope: n²·cells wraps int64 past n ~ 3e8,
    decimal38 is exact past any reachable lake), with ONE cast to
    double. V = sqrt(χ² / (n·min(r-1, c-1))) — sqrt is IEEE
    correctly-rounded (unlike ln — the collocations_pmi lesson), so
    the final value is engine-identical. Degenerate 1-row/1-column
    tables (min dof 0) report NULL rather than a division error.

    Scale shape: everything after the shared core is a single
    all-rows aggregate over types×10 rows. Output: ONE row (n,
    n_types, n_deciles, n_cells, chi2, dof, cramers_v).
    """
    cells = _type_decile_cells(t)
    exp = (
        F.col("rt").cast("double")
        * F.col("ct").cast("double")
        / F.col("n").cast("double")
    )
    contrib = (F.col("observed").cast("double") - exp) * (
        F.col("observed").cast("double") - exp
    ) / exp
    g = cells.agg(
        F.max("n").cast("long").alias("n"),
        F.count_distinct("event_type").cast("long").alias("n_types"),
        F.count_distinct("decile").cast("long").alias("n_deciles"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum(
            F.col("rt").cast("decimal(38,0)") * F.col("ct")
        ).alias("sum_rtct"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("event_type"),
                    F.col("decile"),
                    contrib.alias("contrib"),
                )
            )
        ).alias("arr"),
    )
    return (
        g.select(
            "n",
            "n_types",
            "n_deciles",
            "n_cells",
            F.expr(
                "aggregate(arr, 0D, (acc, x) -> acc + x.contrib)"
                " + CAST(CAST(n AS DECIMAL(38,0)) * n - sum_rtct"
                "        AS DOUBLE) / CAST(n AS DOUBLE)"
            ).alias("chi2_raw"),
        )
        .select(
            "n",
            "n_types",
            "n_deciles",
            "n_cells",
            F.round("chi2_raw", 6).alias("chi2"),
            ((F.col("n_types") - 1) * (F.col("n_deciles") - 1))
            .cast("long")
            .alias("dof"),
            F.round(
                F.sqrt(
                    F.col("chi2_raw")
                    / F.expr(
                        "CAST(NULLIF(n * least(n_types - 1,"
                        " n_deciles - 1), 0) AS DOUBLE)"
                    )
                ),
                9,
            ).alias("cramers_v"),
        )
    )


def cramers_v_oracle_sql() -> str:
    """DuckDB replay off the SAME shared contingency CTEs: the fold is
    ``list_reduce`` over the explicitly ordered cell list (left fold,
    matching Spark's ``aggregate``), marginal products accumulate in
    HUGEINT (DuckDB's exact 128-bit lane — its decimal multiply would
    reject the 38+18 result precision at bind time; Spark's decimal
    multiply caps at 38 and stays exact at these magnitudes)."""
    return f"""
        WITH {TYPE_DECILE_CELLS_CTES_SQL},
        cells AS (
          SELECT o.event_type, o.decile, o.observed, rt.rt, ct.ct,
                 tot.n
          FROM obs o
          JOIN rt ON rt.event_type = o.event_type
          JOIN ct ON ct.decile = o.decile
          CROSS JOIN tot),
        folded AS (
          SELECT MAX(n) AS n,
                 CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
                 CAST(COUNT(DISTINCT decile) AS BIGINT) AS n_deciles,
                 CAST(COUNT(*) AS BIGINT) AS n_cells,
                 SUM(CAST(rt AS HUGEINT) * ct) AS sum_rtct,
                 list_reduce(
                   list((CAST(observed AS DOUBLE)
                         - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                           / CAST(n AS DOUBLE))
                        * (CAST(observed AS DOUBLE)
                           - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                             / CAST(n AS DOUBLE))
                        / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                           / CAST(n AS DOUBLE))
                        ORDER BY event_type, decile),
                   (a, b) -> a + b) AS chi_present
          FROM cells),
        scored AS (
          SELECT n, n_types, n_deciles, n_cells,
                 chi_present
                 + CAST(CAST(n AS HUGEINT) * n - sum_rtct
                        AS DOUBLE) / CAST(n AS DOUBLE) AS chi2_raw
          FROM folded)
        SELECT n, n_types, n_deciles, n_cells,
               ROUND(chi2_raw, 6) AS chi2,
               (n_types - 1) * (n_deciles - 1) AS dof,
               ROUND(SQRT(chi2_raw
                          / CAST(NULLIF(n * LEAST(n_types - 1,
                                                  n_deciles - 1), 0)
                                 AS DOUBLE)), 9) AS cramers_v
        FROM scored
        """


def fano_burstiness(t: dict[str, DataFrame]) -> DataFrame:
    """Burstiness profile per event type: the Fano factor (index of
    dispersion, variance-to-mean ratio) of the per-MINUTE event-count
    series over the type's observed span — the single number that
    separates Poisson-like arrivals (F ~ 1) from bursty traffic
    (F >> 1) and over-regular heartbeats (F < 1). The monitoring
    companion to interarrival_gap_histogram: the histogram shows the
    gap SHAPE, the Fano factor tracks dispersion as one alarmable
    scalar per type.

    Exactness recipe (three established disciplines composed): minute
    indexes from pure CALENDAR components (day-diff * 1440 + hour*60
    + minute — the interarrival rule, no epoch casts); zero-count
    minutes enter through the SPAN, not a dense spine — with
    Σx and Σx² taken over occupied minutes only, the dense-series
    moments are n = span, S1 = Σx, S2 = Σx² (zeros add nothing), so
    no spine materializes at all; population variance / mean folds to
    ONE closed form on exact int64 sufficient statistics:
    fano = (n*S2 - S1²) / (n*S1), a single IEEE divide, ROUND(..., 9)
    presented (the stats_correlation discipline). Overflow envelope —
    LOUD, not documentation-only: n*S2 and S1² must stay under 2^63
    — at a month-long span (~43k minutes) safe to ~4.6e5 events/type
    even in the worst single-minute burst, and to ~1.4e7 events/type
    for Poisson-like S2 ~ 2*S1. The session pins
    ``ansi.enabled=false`` (an earlier revision of this docstring
    wrongly claimed ANSI would error here), so past the envelope the
    products would WRAP SILENTLY — therefore the fano projection
    embeds a ``raise_error`` tier (the ks_distance_pairs guard):
    s2 > floor((2^63-1)/n_minutes) or n_events > floor(sqrt(2^63-1))
    fails the query with a remediation message instead of returning
    a wrapped dispersion.

    Plan: one (type, minute) pre-aggregate (map-side combinable),
    then a types-sized final aggregate. No window, no spine, no
    fact-side sort.

    Output: (event_type, n_minutes, n_active_minutes, n_events,
    fano) — one row per type.
    """
    e = t["events"]
    minute_idx = (
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        * 1440
        + F.hour("ts") * 60
        + F.minute("ts")
    ).cast("long")
    per_min = e.select(
        "event_type", minute_idx.alias("m")
    ).groupBy("event_type", "m").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_min.groupBy("event_type")
        .agg(
            (F.max("m") - F.min("m") + F.lit(1)).alias("n_minutes"),
            F.count(F.lit(1)).cast("long").alias("n_active_minutes"),
            F.sum("c").cast("long").alias("n_events"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
        )
        .select(
            "event_type",
            "n_minutes",
            "n_active_minutes",
            "n_events",
            # loud overflow tier (see docstring): 3037000499 =
            # floor(sqrt(2^63-1)); the n*S2 predicate is rearranged
            # into a division so the guard itself cannot wrap
            F.expr(
                "CASE WHEN s2 > 9223372036854775807L div n_minutes"
                " OR n_events > 3037000499L THEN"
                " raise_error(concat("
                "'fano_burstiness int64 overflow envelope exceeded"
                " for event_type ', event_type, ': n_minutes*S2 or"
                " n_events^2 leaves int64 (the session pins"
                " ansi=false, so the product would wrap silently)."
                " Shard the series or lift the sufficient statistics"
                " to decimal(38,0) for volumes this large.'))"
                " ELSE ROUND(CAST(n_minutes * s2 - n_events * n_events"
                " AS DOUBLE) / CAST(n_minutes * n_events AS DOUBLE),"
                " 9) END"
            ).alias("fano"),
        )
        .orderBy("event_type")
    )


def fano_burstiness_oracle_sql() -> str:
    """DuckDB replay: identical calendar minute indexes, int64
    sufficient statistics (CAST — the HUGEINT trap), one IEEE
    divide."""
    return """
        WITH pm AS (
          SELECT event_type,
                 CAST(date_diff('day', DATE '1970-01-01',
                                CAST(ts AS DATE)) AS BIGINT) * 1440
                 + CAST(EXTRACT(hour FROM ts) AS BIGINT) * 60
                 + CAST(EXTRACT(minute FROM ts) AS BIGINT) AS m,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2),
        s AS (
          SELECT event_type,
                 MAX(m) - MIN(m) + 1 AS n_minutes,
                 CAST(COUNT(*) AS BIGINT) AS n_active_minutes,
                 CAST(SUM(c) AS BIGINT) AS n_events,
                 CAST(SUM(c * c) AS BIGINT) AS s2
          FROM pm GROUP BY event_type)
        SELECT event_type, n_minutes, n_active_minutes, n_events,
               ROUND(CAST(n_minutes * s2 - n_events * n_events
                          AS DOUBLE)
                     / CAST(n_minutes * n_events AS DOUBLE), 9) AS fano
        FROM s ORDER BY event_type
        """


#: RFM quintile count — the classic 5x5x5 segmentation grid.
RFM_K = 5


def rfm_segments(t: dict[str, DataFrame], k: int = RFM_K) -> DataFrame:
    """RFM customer segmentation over the orders history — the
    marketing-analytics classic: each customer scored 1..k on Recency
    (days since last order, relative to the lake's newest order),
    Frequency (order count) and Monetary (lifetime cents), each score
    the customer's quintile in THAT metric's distribution, composed
    into the familiar three-digit RFM code (555 = recent + frequent
    + big spender).

    Boundary derivation is the decile_features_events recipe
    (rank-based INTEGER order statistics — never interpolated
    percentiles, pitfall 17): all three metrics go LONG via ``stack``
    into one (metric, v) frame, one cumulative window over the
    VALUE-BOUNDED support (metrics x distinct values, never customer
    volume) yields b_i = min v with cum >= ceil(i*n/k), and the
    ascending quintile is 1 + #{b_i < v} folded by an O(k-1)
    ``aggregate`` HOF over the broadcast boundary array. Recency
    inverts (k+1 - ascending) so that 5 always means "best".

    Plan: ONE orders scan -> customer-sized aggregate; the global
    max date rides the same scan as a 1-row broadcast; boundaries
    are a 3x(k-1)-row broadcast; the long->wide return pivot is a
    customer-keyed aggregate. Nothing downstream of the first
    collapse is fact-sized.

    Output: (c_custkey, recency_days, frequency, monetary_cents,
    r_score, f_score, m_score, rfm_code) for every customer with at
    least one order.
    """
    o = t["orders"].select(
        "o_custkey",
        "o_orderdate",
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
    )
    per = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_dt"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum("cents").cast("long").alias("monetary_cents"),
    )
    # checkpoint the customer-sized aggregate, then take the global
    # max date FROM it — max(max per group) == global max, so the
    # fact table really is scanned exactly once.
    per = per.localCheckpoint()
    gmax = per.agg(F.max("last_dt").alias("gmax"))
    cust = per.crossJoin(F.broadcast(gmax)).select(
        "o_custkey",
        F.datediff(F.to_date("gmax"), F.to_date("last_dt"))
        .cast("long")
        .alias("recency_days"),
        "frequency",
        "monetary_cents",
    )
    long = cust.selectExpr(
        "o_custkey",
        "stack(3, 'r', recency_days, 'f', frequency,"
        " 'm', monetary_cents) AS (metric, v)",
    )
    counts = long.groupBy("metric", "v").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.groupBy("metric").agg(F.sum("c").alias("n"))
    from pyspark.sql import Window

    w = (
        Window.partitionBy("metric")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = counts.withColumn("cum", F.sum("c").over(w))
    ii = counts.sparkSession.range(1, k).select(F.col("id").alias("i"))
    bounds = (
        cum.join(tot, "metric")
        .crossJoin(F.broadcast(ii))
        .filter(F.col("cum") >= F.expr(f"(i * n + {k - 1}) div {k}"))
        .groupBy("metric", "i")
        .agg(F.min("v").alias("b"))
        .groupBy("metric")
        .agg(F.sort_array(F.collect_list("b")).alias("bs"))
    )
    asc = (
        "CAST(1 + aggregate(bs, 0, (acc, b) ->"
        " acc + CASE WHEN v > b THEN 1 ELSE 0 END) AS BIGINT)"
    )
    scored = (
        long.join(F.broadcast(bounds), "metric")
        .select(
            "o_custkey",
            "metric",
            F.expr(
                f"CASE WHEN metric = 'r' THEN {k + 1} - {asc}"
                f" ELSE {asc} END"
            ).alias("score"),
        )
        .groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("metric") == "r", F.col("score"))).alias(
                "r_score"
            ),
            F.max(F.when(F.col("metric") == "f", F.col("score"))).alias(
                "f_score"
            ),
            F.max(F.when(F.col("metric") == "m", F.col("score"))).alias(
                "m_score"
            ),
        )
    )
    return (
        cust.join(scored, "o_custkey")
        .select(
            "o_custkey",
            "recency_days",
            "frequency",
            "monetary_cents",
            "r_score",
            "f_score",
            "m_score",
            (
                F.col("r_score") * 100
                + F.col("f_score") * 10
                + F.col("m_score")
            ).alias("rfm_code"),
        )
        .orderBy("o_custkey")
    )


def rfm_segments_oracle_sql(k: int = RFM_K) -> str:
    """DuckDB replay: same long-form cumulative-histogram boundaries
    (correlated 4-row count instead of the HOF fold), same recency
    inversion, conditional-aggregation pivot back to wide."""
    return f"""
        WITH o AS MATERIALIZED (
          SELECT o_custkey, o_orderdate,
                 CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
          FROM orders),
        gmax AS (SELECT MAX(o_orderdate) AS gmax FROM o),
        cust AS MATERIALIZED (
          SELECT o_custkey,
                 CAST(date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                                CAST((SELECT gmax FROM gmax) AS DATE))
                      AS BIGINT) AS recency_days,
                 CAST(COUNT(*) AS BIGINT) AS frequency,
                 CAST(SUM(cents) AS BIGINT) AS monetary_cents
          FROM o GROUP BY o_custkey),
        long AS MATERIALIZED (
          SELECT o_custkey, 'r' AS metric, recency_days AS v FROM cust
          UNION ALL
          SELECT o_custkey, 'f', frequency FROM cust
          UNION ALL
          SELECT o_custkey, 'm', monetary_cents FROM cust),
        counts AS MATERIALIZED (
          SELECT metric, v, CAST(COUNT(*) AS BIGINT) AS c
          FROM long GROUP BY metric, v),
        tot AS (SELECT metric, CAST(SUM(c) AS BIGINT) AS n
                FROM counts GROUP BY metric),
        cum AS (
          SELECT metric, v,
                 CAST(SUM(c) OVER (PARTITION BY metric ORDER BY v
                                   ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum
          FROM counts),
        bounds AS MATERIALIZED (
          SELECT cum.metric, i.i, MIN(v) AS b
          FROM cum
          JOIN tot ON tot.metric = cum.metric
          CROSS JOIN generate_series(1, {k - 1}) AS i(i)
          WHERE cum >= (i.i * tot.n + {k - 1}) // {k}
          GROUP BY cum.metric, i.i),
        scored AS MATERIALIZED (
          SELECT o_custkey, metric,
                 CASE WHEN metric = 'r'
                      THEN {k + 1} - (1 + (SELECT COUNT(*) FROM bounds b
                                           WHERE b.metric = l.metric
                                             AND b.b < l.v))
                      ELSE 1 + (SELECT COUNT(*) FROM bounds b
                                WHERE b.metric = l.metric
                                  AND b.b < l.v)
                 END AS score
          FROM long l)
        SELECT c.o_custkey, c.recency_days, c.frequency,
               c.monetary_cents,
               CAST(MAX(CASE WHEN s.metric = 'r' THEN s.score END)
                    AS BIGINT) AS r_score,
               CAST(MAX(CASE WHEN s.metric = 'f' THEN s.score END)
                    AS BIGINT) AS f_score,
               CAST(MAX(CASE WHEN s.metric = 'm' THEN s.score END)
                    AS BIGINT) AS m_score,
               CAST(MAX(CASE WHEN s.metric = 'r' THEN s.score END) * 100
                    + MAX(CASE WHEN s.metric = 'f' THEN s.score END) * 10
                    + MAX(CASE WHEN s.metric = 'm' THEN s.score END)
                    AS BIGINT) AS rfm_code
        FROM cust c JOIN scored s ON s.o_custkey = c.o_custkey
        GROUP BY c.o_custkey, c.recency_days, c.frequency,
                 c.monetary_cents
        ORDER BY c.o_custkey
        """


#: Apdex target threshold, in cents of the value column: satisfied
#: at or below T, tolerating at or below 4T (the standard ratio).
APDEX_T_CENTS = 10_000

#: The ONE definition of the Apdex score arithmetic — the /2 folded
#: into the numerator so nothing leaves int64 until the single
#: division (non-negative throughout, Spark div == DuckDB //). The
#: streaming twin (streaming/incremental.py apdex_stream) imports
#: this string and the DuckDB oracle derives its copy by the
#: `` div `` -> `` // `` rewrite (equal on these non-negative
#: operands), so batch/stream/oracle ppm drift is structurally
#: impossible, as the twin's docstring promises.
APDEX_PPM_EXPR = (
    "(2 * n_satisfied + n_tolerating) * 1000000 div (2 * n_events)"
)


def apdex_by_type(
    t: dict[str, DataFrame], t_cents: int = APDEX_T_CENTS
) -> DataFrame:
    """Apdex score per event type — the SRE satisfaction index over
    the value column read as a latency-like measure: satisfied
    (value <= T), tolerating (T < value <= 4T), frustrated (beyond),
    apdex = (satisfied + tolerating/2) / n. The one-number SLA
    companion to value_outliers (which flags points) and
    fano_burstiness (which flags arrival shape).

    Exact integer form: apdex_ppm = (2*n_sat + n_tol) * 1_000_000
    div (2*n) — the /2 folded into the numerator so nothing leaves
    int64 until the single division (non-negative throughout, Spark
    div == DuckDB //). Values quantize to cents first (the shared
    rounding rule), so the threshold compare is integer-exact.

    Plan: one pruned scan, one map-side conditional aggregate, types
    rows out. Nothing else.

    Output: (event_type, n_events, n_satisfied, n_tolerating,
    n_frustrated, apdex_ppm).
    """
    e = t["events"].select(
        "event_type",
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.when(F.col("cents") <= t_cents, 1).otherwise(0))
            .cast("long")
            .alias("n_satisfied"),
            F.sum(
                F.when(
                    (F.col("cents") > t_cents)
                    & (F.col("cents") <= 4 * t_cents),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_tolerating"),
        )
        .select(
            "event_type",
            "n_events",
            "n_satisfied",
            "n_tolerating",
            (
                F.col("n_events")
                - F.col("n_satisfied")
                - F.col("n_tolerating")
            ).alias("n_frustrated"),
            F.expr(APDEX_PPM_EXPR).alias("apdex_ppm"),
        )
        .orderBy("event_type")
    )


def apdex_by_type_oracle_sql(t_cents: int = APDEX_T_CENTS) -> str:
    return f"""
        WITH e AS (
          SELECT event_type,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
          FROM events),
        s AS (
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n_events,
                 CAST(SUM(CASE WHEN cents <= {t_cents}
                               THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_satisfied,
                 CAST(SUM(CASE WHEN cents > {t_cents}
                                AND cents <= {4 * t_cents}
                               THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_tolerating
          FROM e GROUP BY event_type)
        SELECT event_type, n_events, n_satisfied, n_tolerating,
               n_events - n_satisfied - n_tolerating AS n_frustrated,
               {APDEX_PPM_EXPR.replace(" div ", " // ")} AS apdex_ppm
        FROM s ORDER BY event_type
        """


def wasserstein_distance_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """1-Wasserstein (earth mover's) distance between every pair of
    event types' value distributions — the INTEGRATED CDF gap, where
    ``ks_distance_pairs`` reports the max gap: KS says *whether* the
    distributions differ somewhere, W1 says *how much value must
    move*, in cents — the actionable drift magnitude for a cost-aware
    monitor (a tall-but-narrow spike and a broad shift can share a KS
    yet differ 100x in W1).

    Exact integer evaluation on the cents support (the
    ks_distance_pairs discipline): W1 = Σ_support |F_a - F_b| * gap
    evaluates as Σ |cum_a*n_b - cum_b*n_a| * (next_cents - cents)
    over the DEDUPED (pair, cents) support — all int64, no division
    until presentation. The support rows are grouped unique before
    the window, so the cumulative/lead pair needs no tie rule at all.
    The last support point has no gap and both CDFs equal 1 there —
    excluded by the NULL lead. Reported w1_cents = num / (n_a*n_b)
    as ONE IEEE divide, ROUND(.., 6); the exact numerator ships too.

    Overflow envelope — LOUD, not documentation-only: |cum*n -
    cum*n| <= n_a*n_b and the gap sum telescopes to the value RANGE,
    so num <= n_a*n_b*range_cents — safe while that stays under 2^63
    (~8e6 samples/type at this lake's ~33k-cent range). The session
    pins ``ansi.enabled=false``, so past the envelope the sum would
    WRAP SILENTLY — therefore the final projection embeds a
    ``raise_error`` tier (the ks_distance_pairs guard, range-aware):
    the aggregate also carries each pair's actual support range
    (max(cents+gap) - min(cents), both already window inputs), and
    any pair with n_b > floor(floor((2^63-1)/range) / n_a) — the
    envelope rearranged into divisions so the guard itself cannot
    wrap — fails with the remediation message (divide counts down,
    or lift the products to decimal(38,0), the assortativity recipe)
    instead of returning wrapped numbers. The guard uses the TRUE
    per-pair range, so a narrow-support lake keeps its full ~3e9
    headroom rather than being capped by a worst-case constant.
    Adversarially tested over-envelope in tests/test_round9_ops.py.

    Plan: one fact aggregate to (type, cents), one deduped
    support-bounded window chain, a types²-bounded pair frame; the
    fact table is touched once.

    Output: (type_a, type_b, n_a, n_b, w1_num, w1_cents).
    """
    from pyspark.sql import Window

    e = t["events"]
    counts = (
        e.select(
            "event_type",
            F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias(
                "cents"
            ),
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.groupBy("event_type").agg(F.sum("c").alias("n"))
    pairs = (
        totals.select(
            F.col("event_type").alias("ta"), F.col("n").alias("na")
        )
        .crossJoin(
            totals.select(
                F.col("event_type").alias("tb"), F.col("n").alias("nb")
            )
        )
        .filter(F.col("ta") < F.col("tb"))
    )
    side_a = pairs.join(
        counts.select(
            F.col("event_type").alias("ta"),
            "cents",
            F.col("c").alias("ca"),
        ),
        "ta",
    ).select("ta", "tb", "na", "nb", "cents", "ca", F.lit(0).alias("cb"))
    side_b = pairs.join(
        counts.select(
            F.col("event_type").alias("tb"),
            "cents",
            F.col("c").alias("cb"),
        ),
        "tb",
    ).select("ta", "tb", "na", "nb", "cents", F.lit(0).alias("ca"), "cb")
    support = (
        side_a.unionByName(side_b)
        .groupBy("ta", "tb", "na", "nb", "cents")
        .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
    )
    wo = Window.partitionBy("ta", "tb").orderBy("cents")
    wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    stepped = (
        support.withColumn("cum_a", F.sum("ca").over(wc))
        .withColumn("cum_b", F.sum("cb").over(wc))
        .withColumn("gap", F.lead("cents").over(wo) - F.col("cents"))
        .filter(F.col("gap").isNotNull())
        .withColumn(
            "seg",
            F.abs(
                F.col("cum_a") * F.col("nb")
                - F.col("cum_b") * F.col("na")
            )
            * F.col("gap"),
        )
    )
    return (
        stepped.groupBy("ta", "tb", "na", "nb")
        .agg(
            F.sum("seg").cast("long").alias("w1_sum"),
            # each pair's TRUE support range: the telescoped Σgap =
            # max(cents+gap) - min(cents); >= 1 on every surviving
            # row (a single-support pair has no gap row at all), so
            # the guard division below can never hit zero
            (
                F.max(F.col("cents") + F.col("gap")) - F.min("cents")
            ).alias("range_cents"),
        )
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            # loud overflow tier (see docstring): the envelope
            # n_a*n_b*range > 2^63-1 rearranged into divisions
            # (nb > floor(K/na) <=> na*nb > K for positive ints) so
            # the guard itself cannot wrap under ansi=false
            F.expr(
                "CASE WHEN nb > (9223372036854775807L div range_cents)"
                " div na THEN"
                " raise_error(concat("
                "'wasserstein_distance_pairs int64 overflow envelope"
                " exceeded: n_a*n_b*range_cents = ',"
                " CAST(na AS STRING), '*', CAST(nb AS STRING), '*',"
                " CAST(range_cents AS STRING), ' > 2^63-1 (the session"
                " pins ansi=false, so the segment sum would wrap"
                " silently). Divide counts down or lift the products"
                " to decimal(38,0) for samples this large.'))"
                " ELSE w1_sum END"
            ).alias("w1_num"),
            F.round(
                F.col("w1_sum").cast("double")
                / (F.col("na") * F.col("nb")).cast("double"),
                6,
            ).alias("w1_cents"),
        )
        .orderBy("type_a", "type_b")
    )


def wasserstein_distance_oracle_sql() -> str:
    """DuckDB replay: same deduped support, cumulative/lead chain and
    integer segment sum."""
    return """
        WITH e AS (
          SELECT event_type,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
          FROM events),
        counts AS MATERIALIZED (
          SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS c
          FROM e GROUP BY event_type, cents),
        totals AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n
                   FROM counts GROUP BY event_type),
        pairs AS (
          SELECT a.event_type AS ta, a.n AS na,
                 b.event_type AS tb, b.n AS nb
          FROM totals a JOIN totals b ON a.event_type < b.event_type),
        support AS MATERIALIZED (
          SELECT ta, tb, na, nb, cents,
                 CAST(SUM(ca) AS BIGINT) AS ca,
                 CAST(SUM(cb) AS BIGINT) AS cb
          FROM (
            SELECT p.ta, p.tb, p.na, p.nb, c.cents, c.c AS ca, 0 AS cb
            FROM pairs p JOIN counts c ON c.event_type = p.ta
            UNION ALL
            SELECT p.ta, p.tb, p.na, p.nb, c.cents, 0, c.c
            FROM pairs p JOIN counts c ON c.event_type = p.tb)
          GROUP BY ta, tb, na, nb, cents),
        stepped AS (
          SELECT ta, tb, na, nb,
                 ABS(SUM(ca) OVER w * nb - SUM(cb) OVER w * na)
                     * (LEAD(cents) OVER wo - cents) AS seg
          FROM support
          WINDOW w AS (PARTITION BY ta, tb ORDER BY cents
                       ROWS UNBOUNDED PRECEDING),
                 wo AS (PARTITION BY ta, tb ORDER BY cents)),
        agg AS (
          SELECT ta, tb, na, nb,
                 CAST(SUM(seg) AS BIGINT) AS w1_num
          FROM stepped WHERE seg IS NOT NULL
          GROUP BY ta, tb, na, nb)
        SELECT ta AS type_a, tb AS type_b,
               na AS n_a, nb AS n_b, w1_num,
               ROUND(CAST(w1_num AS DOUBLE)
                     / CAST(na * nb AS DOUBLE), 6) AS w1_cents
        FROM agg
        ORDER BY type_a, type_b
        """


def lorenz_curve_deciles(t: dict[str, DataFrame]) -> DataFrame:
    """Lorenz curve of customer revenue per market segment, at the
    ten decile points — the FULL inequality profile behind the
    single-number readouts (`value_gini_by_type` summarizes the area,
    `pareto_share_by_segment` quotes one point, `hhi` the index; the
    curve is what an analyst plots and what makes the others
    auditable: cum_share at decile 8 IS pareto's complement).

    Point i = share of segment revenue held by the bottom
    floor(i·n/10) customers under the (cents ASC, custkey-free) total
    order. Exact integer evaluation WITHOUT a per-customer window
    (the decile discipline): customers collapse to the (segment,
    cents) revenue SUPPORT — cnt customers and cnt·cents revenue per
    distinct value — the cumulative window runs over that
    value-bounded support, and the cut inside a tied value group is
    closed-form: cum_at_k = cum_cents − (cum_n − k)·cents (every
    customer in the group holds exactly ``cents``). The per-(segment,
    decile) pick is ``min_by`` over cum_n ≥ k — cum_n is strictly
    increasing, so no tie rule is needed.

    Overflow envelope — LOUD (the family raise_error tier): the ppm
    multiply needs total_cents ≤ (2^63−1) div 1e6 ≈ $92B revenue per
    segment; past it the guard raises with the decimal(38,0)
    remediation instead of wrapping under ansi=false.

    Plan: one orders scan → customer grain, broadcast dimension join,
    one support-bounded cumulative window per segment, a 10-row spine
    broadcast. Nothing fact-sized is ever windowed.

    Output: (segment, decile, n_cum_customers, cum_cents,
    cum_share_ppm), up to 10 rows per segment (deciles whose
    floor(i·n/10) is 0 are absent — the chi2 absent-cell convention).
    """
    from pyspark.sql import Window

    cust = (
        t["orders"]
        .select(
            "o_custkey",
            F.expr(
                "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"
            ).alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    seg = t["customer"].select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    support = (
        cust.join(seg, "o_custkey")
        .groupBy("segment", "cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("grp_cents", F.col("cnt") * F.col("cents"))
    )
    w = Window.partitionBy("segment").orderBy("cents")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = support.withColumn("cum_n", F.sum("cnt").over(wc)).withColumn(
        "cum_cents", F.sum("grp_cents").over(wc)
    )
    tot = ranked.groupBy("segment").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("grp_cents").cast("long").alias("total_cents"),
    )
    spine = support.sparkSession.range(1, 11).select(
        F.col("id").cast("long").alias("decile")
    )
    cuts = (
        tot.crossJoin(F.broadcast(spine))
        .withColumn("k", F.expr("(decile * n) div 10"))
        .filter(F.col("k") >= 1)
    )
    picked = (
        cuts.join(ranked, "segment")
        .filter(F.col("cum_n") >= F.col("k"))
        .groupBy("segment", "decile", "k", "total_cents")
        .agg(
            F.expr(
                "min_by(cum_cents - (cum_n - k) * cents, cum_n)"
            ).alias("cum_at_k")
        )
    )
    return picked.select(
        "segment",
        "decile",
        F.col("k").alias("n_cum_customers"),
        F.col("cum_at_k").cast("long").alias("cum_cents"),
        F.expr(
            "CASE WHEN total_cents > 9223372036854L THEN"
            " raise_error(concat("
            "'lorenz_curve_deciles int64 overflow envelope exceeded:"
            " total_cents = ', CAST(total_cents AS STRING),"
            " ' > 9223372036854 safe maximum for the ppm multiply"
            " (the session pins ansi=false, so the product would wrap"
            " silently). Lift the share arithmetic to"
            " decimal(38,0).'))"
            " ELSE (cum_at_k * 1000000) div total_cents END"
        ).alias("cum_share_ppm"),
    ).orderBy("segment", "decile")


def lorenz_curve_oracle_sql() -> str:
    """DuckDB replay: same support collapse, cumulative window,
    closed-form tied-group cut and arg_min pick."""
    return """
        WITH cust AS MATERIALIZED (
          SELECT o_custkey,
                 CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
                               AS BIGINT)) AS BIGINT) AS cents
          FROM orders GROUP BY o_custkey),
        support AS MATERIALIZED (
          SELECT c.c_mktsegment AS segment, cu.cents,
                 CAST(COUNT(*) AS BIGINT) AS cnt,
                 CAST(COUNT(*) AS BIGINT) * cu.cents AS grp_cents
          FROM cust cu JOIN customer c ON c.c_custkey = cu.o_custkey
          GROUP BY c.c_mktsegment, cu.cents),
        ranked AS MATERIALIZED (
          SELECT segment, cents,
                 CAST(SUM(cnt) OVER w AS BIGINT) AS cum_n,
                 CAST(SUM(grp_cents) OVER w AS BIGINT) AS cum_cents
          FROM support
          WINDOW w AS (PARTITION BY segment ORDER BY cents
                       ROWS UNBOUNDED PRECEDING)),
        tot AS (
          SELECT segment, CAST(SUM(cnt) AS BIGINT) AS n,
                 CAST(SUM(grp_cents) AS BIGINT) AS total_cents
          FROM support GROUP BY segment),
        cuts AS (
          SELECT t.segment, i.i AS decile, (i.i * t.n) // 10 AS k,
                 t.total_cents
          FROM tot t
          CROSS JOIN (SELECT UNNEST(range(1, 11)) AS i) i
          WHERE (i.i * t.n) // 10 >= 1),
        picked AS (
          SELECT c.segment, c.decile, c.k, c.total_cents,
                 CAST(arg_min(r.cum_cents - (r.cum_n - c.k) * r.cents,
                              r.cum_n) AS BIGINT) AS cum_at_k
          FROM cuts c JOIN ranked r
            ON r.segment = c.segment AND r.cum_n >= c.k
          GROUP BY c.segment, c.decile, c.k, c.total_cents)
        SELECT segment, decile,
               CAST(k AS BIGINT) AS n_cum_customers,
               cum_at_k AS cum_cents,
               cum_at_k * 1000000 // total_cents AS cum_share_ppm
        FROM picked
        ORDER BY segment, decile
        """


def tv_distance_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """Total-variation distance between every pair of event types'
    value distributions — completing the drift-distance family on one
    shared discipline: KS (``ks_distance_pairs``) is the supremum CDF
    gap, W1 (``wasserstein_distance_pairs``) the integrated CDF gap,
    TV the half-L1 gap between the pmfs: TV = (1/2) Σ_x |p_a - p_b|.
    TV is the right alarm when drift is about probability MASS moving
    between buckets regardless of distance (a category flip KS
    under-weights and W1 over-weights by the cents gap).

    Exact integer evaluation, simpler than both siblings: no
    cumulative window at all — on the deduped (pair, cents) support,
    tv_num = Σ |c_a*n_b - c_b*n_a| (each term a cross-multiplied
    int64), and TV = tv_num / (2*n_a*n_b). Reported tv_ppm =
    (tv_num * 1e6) div (2 * n_a * n_b).

    Overflow envelope — LOUD (the ks_distance_pairs raise_error
    tier): tv_num <= 2*n_a*n_b, so the ppm multiply is safe while
    2*n_a*n_b*1e6 < 2^63, i.e. ~2.1e6 samples/type; the guard
    predicate is the inequality rearranged into divisions
    (4611686018427 = (2^63-1) div 2e6), so it cannot itself wrap
    under the session's pinned ansi=false.

    Plan: one fact aggregate to (type, cents), one support-bounded
    pair aggregate — no window stage at all, the cheapest member of
    the family.

    Output: (type_a, type_b, n_a, n_b, tv_num, tv_ppm).
    """
    e = t["events"]
    counts = (
        e.select(
            "event_type",
            F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias(
                "cents"
            ),
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.groupBy("event_type").agg(F.sum("c").alias("n"))
    pairs = (
        totals.select(
            F.col("event_type").alias("ta"), F.col("n").alias("na")
        )
        .crossJoin(
            totals.select(
                F.col("event_type").alias("tb"), F.col("n").alias("nb")
            )
        )
        .filter(F.col("ta") < F.col("tb"))
    )
    side_a = pairs.join(
        counts.select(
            F.col("event_type").alias("ta"),
            "cents",
            F.col("c").alias("ca"),
        ),
        "ta",
    ).select("ta", "tb", "na", "nb", "cents", "ca", F.lit(0).alias("cb"))
    side_b = pairs.join(
        counts.select(
            F.col("event_type").alias("tb"),
            "cents",
            F.col("c").alias("cb"),
        ),
        "tb",
    ).select("ta", "tb", "na", "nb", "cents", F.lit(0).alias("ca"), "cb")
    support = (
        side_a.unionByName(side_b)
        .groupBy("ta", "tb", "na", "nb", "cents")
        .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
    )
    return (
        support.groupBy("ta", "tb", "na", "nb")
        .agg(
            F.sum(
                F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))
            )
            .cast("long")
            .alias("tv_num")
        )
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            "tv_num",
            F.expr(
                "CASE WHEN nb > 4611686018427L div na THEN"
                " raise_error(concat("
                "'tv_distance_pairs int64 overflow envelope exceeded:"
                " n_a*n_b = ', CAST(na AS STRING), '*',"
                " CAST(nb AS STRING), ' > 4611686018427 safe maximum"
                " for the ppm multiply (the session pins ansi=false,"
                " so the product would wrap silently). Divide counts"
                " down or lift the comparison to decimal(38,0).'))"
                " ELSE (tv_num * 1000000) div (2 * na * nb) END"
            ).alias("tv_ppm"),
        )
        .orderBy("type_a", "type_b")
    )


def tv_distance_oracle_sql() -> str:
    return """
        WITH counts AS MATERIALIZED (
          SELECT event_type,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2),
        totals AS (
          SELECT event_type, CAST(SUM(c) AS BIGINT) AS n
          FROM counts GROUP BY event_type),
        pairs AS (
          SELECT a.event_type AS ta, a.n AS na,
                 b.event_type AS tb, b.n AS nb
          FROM totals a JOIN totals b ON a.event_type < b.event_type),
        support AS MATERIALIZED (
          SELECT ta, tb, na, nb, cents,
                 CAST(SUM(ca) AS BIGINT) AS ca,
                 CAST(SUM(cb) AS BIGINT) AS cb
          FROM (
            SELECT p.ta, p.tb, p.na, p.nb, c.cents, c.c AS ca, 0 AS cb
            FROM pairs p JOIN counts c ON c.event_type = p.ta
            UNION ALL
            SELECT p.ta, p.tb, p.na, p.nb, c.cents, 0, c.c
            FROM pairs p JOIN counts c ON c.event_type = p.tb)
          GROUP BY ta, tb, na, nb, cents)
        SELECT ta AS type_a, tb AS type_b, na AS n_a, nb AS n_b,
               CAST(SUM(ABS(ca * nb - cb * na)) AS BIGINT) AS tv_num,
               (CAST(SUM(ABS(ca * nb - cb * na)) AS BIGINT) * 1000000)
                   // (2 * na * nb) AS tv_ppm
        FROM support
        GROUP BY ta, tb, na, nb
        ORDER BY type_a, type_b
        """


def value_migration_matrix(t: dict[str, DataFrame]) -> DataFrame:
    """Customer value-migration matrix: each customer's MONETARY
    QUINTILE in the first half of the order history vs the second
    half (split at the calendar midpoint of the observed span), and
    the 5x5 transition grid — the retention-analytics standard for
    "are our big accounts growing or churning" that a point-in-time
    RFM (``rfm_segments``) cannot answer.

    Quintiles are computed WITHIN each period over that period's
    active customers (rank-based integer boundaries, the decile
    recipe — pitfall 17), so the matrix measures RELATIVE movement,
    immune to overall growth. Only customers active in BOTH periods
    enter the grid; entries and exits are different questions
    (retention_cohorts answers them).

    Exactness: the midpoint is pure date arithmetic (lo +
    datediff(hi, lo) div 2 — non-negative div == //); cents are
    int64; boundary windows run over the (period x distinct cents)
    VALUE support, never customer volume.

    Plan: one orders scan -> (customer, period) aggregate
    (checkpointed), support-bounded boundary windows, an 8-row
    boundary broadcast, one customer-keyed pivot, a 25-row grid.

    Output: (q_early, q_late, n_customers, late_cents).
    """
    from pyspark.sql import Window

    o = t["orders"].select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
    )
    span = o.agg(F.min("d").alias("lo"), F.max("d").alias("hi")).select(
        F.expr("date_add(lo, CAST(datediff(hi, lo) div 2 AS INT))").alias(
            "mid"
        )
    )
    per = (
        o.crossJoin(F.broadcast(span))
        .select(
            "o_custkey",
            F.when(F.col("d") <= F.col("mid"), F.lit("early"))
            .otherwise(F.lit("late"))
            .alias("period"),
            "cents",
        )
        .groupBy("o_custkey", "period")
        .agg(F.sum("cents").cast("long").alias("v"))
    )
    per = per.localCheckpoint()
    counts = per.groupBy("period", "v").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.groupBy("period").agg(F.sum("c").alias("n"))
    w = (
        Window.partitionBy("period")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = counts.withColumn("cum", F.sum("c").over(w))
    ii = counts.sparkSession.range(1, 5).select(F.col("id").alias("i"))
    bounds = (
        cum.join(tot, "period")
        .crossJoin(F.broadcast(ii))
        .filter(F.col("cum") >= F.expr("(i * n + 4) div 5"))
        .groupBy("period", "i")
        .agg(F.min("v").alias("b"))
        .groupBy("period")
        .agg(F.sort_array(F.collect_list("b")).alias("bs"))
    )
    scored = per.join(F.broadcast(bounds), "period").select(
        "o_custkey",
        "period",
        "v",
        F.expr(
            "CAST(1 + aggregate(bs, 0, (acc, b) ->"
            " acc + CASE WHEN v > b THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("q"),
    )
    pivoted = scored.groupBy("o_custkey").agg(
        F.max(F.when(F.col("period") == "early", F.col("q"))).alias(
            "q_early"
        ),
        F.max(F.when(F.col("period") == "late", F.col("q"))).alias(
            "q_late"
        ),
        F.max(F.when(F.col("period") == "late", F.col("v"))).alias(
            "late_v"
        ),
    )
    return (
        pivoted.filter(
            F.col("q_early").isNotNull() & F.col("q_late").isNotNull()
        )
        .groupBy("q_early", "q_late")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("late_v").cast("long").alias("late_cents"),
        )
        .orderBy("q_early", "q_late")
    )


def value_migration_oracle_sql() -> str:
    """DuckDB replay: same midpoint date arithmetic, per-period
    rank-based boundaries (correlated 4-row count), same both-periods
    filter and grid."""
    return """
        WITH o AS MATERIALIZED (
          SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
                 CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
          FROM orders),
        span AS (
          SELECT MIN(d) + CAST(date_diff('day', MIN(d), MAX(d)) // 2
                               AS INT) AS mid
          FROM o),
        per AS MATERIALIZED (
          SELECT o_custkey,
                 CASE WHEN d <= (SELECT mid FROM span)
                      THEN 'early' ELSE 'late' END AS period,
                 CAST(SUM(cents) AS BIGINT) AS v
          FROM o GROUP BY 1, 2),
        counts AS MATERIALIZED (
          SELECT period, v, CAST(COUNT(*) AS BIGINT) AS c
          FROM per GROUP BY period, v),
        tot AS (SELECT period, CAST(SUM(c) AS BIGINT) AS n
                FROM counts GROUP BY period),
        cum AS (
          SELECT period, v,
                 CAST(SUM(c) OVER (PARTITION BY period ORDER BY v
                                   ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum
          FROM counts),
        bounds AS MATERIALIZED (
          SELECT cum.period, i.i, MIN(v) AS b
          FROM cum
          JOIN tot ON tot.period = cum.period
          CROSS JOIN generate_series(1, 4) AS i(i)
          WHERE cum >= (i.i * tot.n + 4) // 5
          GROUP BY cum.period, i.i),
        scored AS MATERIALIZED (
          SELECT o_custkey, period, v,
                 1 + (SELECT COUNT(*) FROM bounds b
                      WHERE b.period = p.period AND b.b < p.v) AS q
          FROM per p),
        pivoted AS (
          SELECT o_custkey,
                 MAX(CASE WHEN period = 'early' THEN q END) AS q_early,
                 MAX(CASE WHEN period = 'late' THEN q END) AS q_late,
                 MAX(CASE WHEN period = 'late' THEN v END) AS late_v
          FROM scored GROUP BY o_custkey)
        SELECT CAST(q_early AS BIGINT) AS q_early,
               CAST(q_late AS BIGINT) AS q_late,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(late_v) AS BIGINT) AS late_cents
        FROM pivoted
        WHERE q_early IS NOT NULL AND q_late IS NOT NULL
        GROUP BY q_early, q_late
        ORDER BY q_early, q_late
        """


def pareto_share_by_segment(t: dict[str, DataFrame]) -> DataFrame:
    """The 80/20 readout per market segment: what fraction of revenue
    the TOP-QUINTILE customers carry — the concentration number
    executives actually quote, complementing `hhi_concentration`'s
    index form with the interpretable share form.

    The top quintile is defined by the SAME rank-based integer
    boundary rule as every quantile operator here (b = min v with
    cum >= ceil(4n/5), pitfall 17): customers with v > b are the top
    quintile — a deterministic, tie-stable set both engines cut
    identically. share_ppm = top_cents * 1e6 div total_cents on
    non-negative int64.

    Plan: one orders scan -> customer grain, broadcast dimension
    join, boundary window over the (segment x distinct cents)
    support, one conditional aggregate.

    Output: (segment, n_customers, n_top, total_cents, top_cents,
    top_share_ppm).
    """
    from pyspark.sql import Window

    o = t["orders"].select(
        "o_custkey",
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
    )
    per = o.groupBy("o_custkey").agg(
        F.sum("cents").cast("long").alias("v")
    )
    seg = t["customer"].select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    cust = per.join(seg, "o_custkey").localCheckpoint()
    counts = cust.groupBy("segment", "v").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = counts.groupBy("segment").agg(F.sum("c").alias("n"))
    w = (
        Window.partitionBy("segment")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bounds = (
        counts.withColumn("cum", F.sum("c").over(w))
        .join(tot, "segment")
        .filter(F.col("cum") >= F.expr("(4 * n + 4) div 5"))
        .groupBy("segment")
        .agg(F.min("v").alias("b"))
    )
    return (
        cust.join(F.broadcast(bounds), "segment")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum(F.when(F.col("v") > F.col("b"), 1).otherwise(0))
            .cast("long")
            .alias("n_top"),
            F.sum("v").cast("long").alias("total_cents"),
            F.sum(F.when(F.col("v") > F.col("b"), F.col("v")).otherwise(0))
            .cast("long")
            .alias("top_cents"),
        )
        .select(
            "segment",
            "n_customers",
            "n_top",
            "total_cents",
            "top_cents",
            F.expr("top_cents * 1000000 div total_cents").alias(
                "top_share_ppm"
            ),
        )
        .orderBy("segment")
    )


def pareto_share_oracle_sql() -> str:
    return """
        WITH per AS MATERIALIZED (
          SELECT o_custkey,
                 CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
                               AS BIGINT)) AS BIGINT) AS v
          FROM orders GROUP BY o_custkey),
        cust AS MATERIALIZED (
          SELECT cu.c_mktsegment AS segment, p.v
          FROM per p JOIN customer cu ON cu.c_custkey = p.o_custkey),
        counts AS (
          SELECT segment, v, CAST(COUNT(*) AS BIGINT) AS c
          FROM cust GROUP BY segment, v),
        tot AS (SELECT segment, CAST(SUM(c) AS BIGINT) AS n
                FROM counts GROUP BY segment),
        cum AS (
          SELECT segment, v,
                 CAST(SUM(c) OVER (PARTITION BY segment ORDER BY v
                                   ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum
          FROM counts),
        bounds AS (
          SELECT cum.segment, MIN(v) AS b
          FROM cum JOIN tot ON tot.segment = cum.segment
          WHERE cum >= (4 * tot.n + 4) // 5
          GROUP BY cum.segment)
        SELECT c.segment,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(CASE WHEN c.v > b.b THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_top,
               CAST(SUM(c.v) AS BIGINT) AS total_cents,
               CAST(SUM(CASE WHEN c.v > b.b THEN c.v ELSE 0 END)
                    AS BIGINT) AS top_cents,
               CAST(SUM(CASE WHEN c.v > b.b THEN c.v ELSE 0 END)
                    AS BIGINT) * 1000000
                   // CAST(SUM(c.v) AS BIGINT) AS top_share_ppm
        FROM cust c JOIN bounds b ON b.segment = c.segment
        GROUP BY c.segment
        ORDER BY c.segment
        """


def atkinson_index_by_segment(t: dict[str, DataFrame]) -> DataFrame:
    """Atkinson inequality index (ε = 2) of customer revenue per
    market segment — the welfare-economics member of the inequality
    family (gini / lorenz / pareto / hhi already registered): at
    ε = 2 the index is 1 - harmonic_mean/mean, the bottom-sensitive
    reading (a segment where a few customers spend almost nothing
    scores high even if the top is flat — exactly what Gini
    under-weights).

    Why ε = 2 and not the textbook ε = 1: ε = 1 is the geometric-mean
    (Theil) form and needs ln/exp, whose last-ulp libm divergence
    breaks hash oracles (the collocations_pmi lesson). ε = 2 is
    ln-free: A = 1 - n²·S / (Σx · Σ(S div x)) with reciprocals
    quantized to femtounits (S = 1e15) — every term exact int64
    (x is revenue CENTS ≥ 1, so S div x ≤ 1e15), summed exactly in
    decimal(38,0)/HUGEINT (no overflow at any lake size), ONE
    fixed-shape double chain at the end, ROUND 9. Quantization bias
    is deterministic and bounded: each reciprocal is floored by at
    most 1 femtounit, so the harmonic mass is under-read by < n
    femtounits (relative error < x_max/1e15 ~ 1e-8 at realistic
    revenue). Exact-cast envelope: the decimal→double casts are
    lossless while Σ(S div x) and Σx stay under 2^53 — past that
    (harmonic mass > 9e15: a billion customers at ~100 cents) the
    9th digit may wobble; nothing wraps.

    Scale shape: one custkey-keyed revenue aggregate, one custkey
    join to the dimension for the segment, one segment-sized
    aggregate. Customers with no orders have no revenue and are not
    subjects (inner-join semantics, stated).

    Output: (c_mktsegment, n_customers, revenue_cents,
    sum_recip_femto, atkinson2).
    """
    rev = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) * 100"
                " AS BIGINT)"
            ).alias("cents")
        )
    )
    seg = t["customer"].select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    return (
        rev.join(seg, "o_custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("cents").cast("long").alias("revenue_cents"),
            F.sum(
                F.expr("CAST(1000000000000000L div cents AS DECIMAL(38,0))")
            ).alias("recip"),
        )
        .select(
            "c_mktsegment",
            "n_customers",
            "revenue_cents",
            F.col("recip").cast("long").alias("sum_recip_femto"),
            F.round(
                F.lit(1.0)
                - F.col("n_customers").cast("double")
                * F.col("n_customers").cast("double")
                * F.lit(1.0e15)
                / (
                    F.col("revenue_cents").cast("double")
                    * F.col("recip").cast("double")
                ),
                9,
            ).alias("atkinson2"),
        )
        .orderBy("c_mktsegment")
    )


def atkinson_oracle_sql() -> str:
    return """
        WITH rev AS (
          SELECT o_custkey,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) * 100
                      AS BIGINT) AS cents
          FROM orders GROUP BY o_custkey),
        seg AS (
          SELECT c_custkey AS o_custkey, c_mktsegment FROM customer)
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(cents) AS BIGINT) AS revenue_cents,
               CAST(SUM(1000000000000000 // cents) AS BIGINT)
                   AS sum_recip_femto,
               ROUND(1.0
                     - CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
                       * 1e15
                       / (CAST(SUM(cents) AS DOUBLE)
                          * CAST(SUM(1000000000000000 // cents)
                                 AS DOUBLE)), 9) AS atkinson2
        FROM rev JOIN seg USING (o_custkey)
        GROUP BY c_mktsegment ORDER BY c_mktsegment
        """


SPEARMAN_MAX_GROUP_ROWS = 1_300_000


def spearman_corr_by_flag(t: dict[str, DataFrame]) -> DataFrame:
    """Spearman rank correlation between quantity and extended price
    per return flag — the robust companion to ``stats_correlation``'s
    Pearson: invariant to any monotone transform and immune to the
    price outliers that drag a product-moment estimate around. Ties
    handled the textbook way (average ranks + tie correction), which
    the integer algebra makes EXACT: with doubled average ranks
    r2 = 2·min_rank + cnt - 1 (always integral), the tie-corrected
    estimator folds to

        rho = (AX + AY - 3·D2) / (2·sqrt(AX)·sqrt(AY)),

    where AX = (n³-n) - Σ(t³-t) over x's tie groups, AY likewise,
    and D2 = Σ(r2x - r2y)² = 4·Σd² — every term an INTEGER, summed
    in decimal(38,0)/HUGEINT (exact at any scale).

    Determinism at the cast: DuckDB's 128-bit→double conversion is
    NOT correctly rounded past 64 bits (measured: 31/12000 adversarial
    values ≥ 2^65 off by one ulp, zero below 2^63), while int64→double
    is correctly rounded in BOTH engines even above 2^53. So the
    presented chain casts through BIGINT, guarded LOUDLY (the
    ks_distance_pairs raise_error tier, here an exact decimal
    comparison that cannot itself wrap): 3·D2 ≤ 4(n³-n) stays inside
    int64 for n ≤ 1.3e6 rows/flag; past that the plan raises with the
    remediation (pre-aggregate or sample) instead of wobbling the 9th
    digit. All-tied degenerate groups (AX or AY = 0) report NULL via
    NULLIF, not a division error.

    Scale shape: NO fact-side windows (the discipline) — ranks come
    from per-value counts with a cumulative window over each flag's
    VALUE SUPPORT (quantity: ~dozens of distinct cents; price:
    distinct-value-bounded), joined back to the fact on (flag, cents)
    — two hash joins Catalyst plans as one exchange each, then one
    flag-sized aggregate.

    Output: (l_returnflag, n_rows, d2_sum, tie_term_x, tie_term_y,
    spearman_rho).
    """
    e = t["lineitem"].select(
        "l_returnflag",
        F.expr("CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)").alias("qx"),
        F.expr(
            "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"
        ).alias("px"),
    ).localCheckpoint()

    def ranks(col: str, r2name: str) -> tuple[DataFrame, DataFrame]:
        from pyspark.sql import Window

        cx = e.groupBy("l_returnflag", col).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        w = Window.partitionBy("l_returnflag").orderBy(col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        r = cx.withColumn("cum", F.sum("cnt").over(w)).select(
            "l_returnflag",
            col,
            F.expr("2 * cum - cnt + 1").alias(r2name),
        )
        ties = cx.groupBy("l_returnflag").agg(
            F.sum(
                F.expr("CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt")
            ).alias(f"tie_{r2name}")
        )
        return r, ties

    rx, tx = ranks("qx", "r2x")
    ry, ty = ranks("px", "r2y")
    per_flag = (
        e.join(rx, ["l_returnflag", "qx"])
        .join(ry, ["l_returnflag", "px"])
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.expr("CAST(r2x - r2y AS DECIMAL(38,0)) * (r2x - r2y)")
            ).alias("d2"),
        )
    )
    g = (
        per_flag.join(F.broadcast(tx), "l_returnflag")
        .join(F.broadcast(ty), "l_returnflag")
        .withColumn(
            "n3",
            F.expr("CAST(n AS DECIMAL(38,0)) * n * n - n"),
        )
        .withColumn("ax", F.expr("n3 - tie_r2x"))
        .withColumn("ay", F.expr("n3 - tie_r2y"))
    )
    guard = (
        "CASE WHEN 3 * d2 > CAST(9223372036854775807 AS DECIMAL(38,0))"
        " OR ax + ay > CAST(9223372036854775807 AS DECIMAL(38,0))"
        " OR tie_r2x > CAST(9223372036854775807 AS DECIMAL(38,0))"
        " OR tie_r2y > CAST(9223372036854775807 AS DECIMAL(38,0)) THEN"
        " raise_error(concat("
        "'spearman_corr_by_flag int64 presentation envelope exceeded:"
        " group ', l_returnflag, ' has n = ', CAST(n AS STRING),"
        " ' rows (safe to ~1.3e6/flag). The exact decimal sums are"
        " fine, but DuckDB parity requires the final cast to go"
        " through int64 (128-bit->double is not correctly rounded"
        " there); pre-aggregate to (value, count) support or sample"
        " before correlating.')) ELSE {expr} END"
    )
    return (
        g.select(
            "l_returnflag",
            F.col("n").alias("n_rows"),
            F.expr(guard.format(expr="CAST(d2 AS BIGINT)")).alias("d2_sum"),
            F.col("tie_r2x").cast("long").alias("tie_term_x"),
            F.col("tie_r2y").cast("long").alias("tie_term_y"),
            F.expr(
                guard.format(
                    expr=(
                        "round(CAST(CAST(ax + ay - 3 * d2 AS BIGINT)"
                        "            AS DOUBLE)"
                        " / nullif(2.0D * sqrt(CAST(CAST(ax AS BIGINT)"
                        "                           AS DOUBLE))"
                        "          * sqrt(CAST(CAST(ay AS BIGINT)"
                        "                      AS DOUBLE)), 0.0D), 9)"
                    )
                )
            ).alias("spearman_rho"),
        )
        .orderBy("l_returnflag")
    )


def spearman_oracle_sql() -> str:
    """DuckDB replay: same support-rank algebra, HUGEINT exact sums,
    and the SAME through-int64 presentation casts (see the operator
    docstring for why the 128-bit lane must not feed the double)."""
    return """
        WITH e AS MATERIALIZED (
          SELECT l_returnflag,
                 CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) AS qx,
                 CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS px
          FROM lineitem),
        cxq AS (SELECT l_returnflag, qx, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM e GROUP BY 1, 2),
        cxp AS (SELECT l_returnflag, px, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM e GROUP BY 1, 2),
        rq AS (SELECT l_returnflag, qx,
                      2 * CAST(SUM(cnt) OVER (PARTITION BY l_returnflag
                                              ORDER BY qx
                                              ROWS UNBOUNDED PRECEDING)
                               AS BIGINT) - cnt + 1 AS r2x
               FROM cxq),
        rp AS (SELECT l_returnflag, px,
                      2 * CAST(SUM(cnt) OVER (PARTITION BY l_returnflag
                                              ORDER BY px
                                              ROWS UNBOUNDED PRECEDING)
                               AS BIGINT) - cnt + 1 AS r2y
               FROM cxp),
        tq AS (SELECT l_returnflag,
                      SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tie_x
               FROM cxq GROUP BY l_returnflag),
        tp AS (SELECT l_returnflag,
                      SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tie_y
               FROM cxp GROUP BY l_returnflag),
        per_flag AS (
          SELECT e.l_returnflag,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(r2x - r2y AS HUGEINT) * (r2x - r2y)) AS d2
          FROM e
          JOIN rq USING (l_returnflag, qx)
          JOIN rp USING (l_returnflag, px)
          GROUP BY e.l_returnflag),
        g AS (
          SELECT p.l_returnflag, p.n, p.d2, tq.tie_x, tp.tie_y,
                 CAST(p.n AS HUGEINT) * p.n * p.n - p.n AS n3
          FROM per_flag p
          JOIN tq USING (l_returnflag)
          JOIN tp USING (l_returnflag))
        SELECT l_returnflag,
               n AS n_rows,
               CAST(d2 AS BIGINT) AS d2_sum,
               CAST(tie_x AS BIGINT) AS tie_term_x,
               CAST(tie_y AS BIGINT) AS tie_term_y,
               ROUND(CAST(CAST((n3 - tie_x) + (n3 - tie_y) - 3 * d2
                               AS BIGINT) AS DOUBLE)
                     / NULLIF(2.0 * SQRT(CAST(CAST(n3 - tie_x AS BIGINT)
                                              AS DOUBLE))
                              * SQRT(CAST(CAST(n3 - tie_y AS BIGINT)
                                          AS DOUBLE)), 0.0), 9)
                   AS spearman_rho
        FROM g ORDER BY l_returnflag
        """


def mann_whitney_auc_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """Mann-Whitney U / AUC between every pair of event types — the
    DIRECTION member of the drift family (KS reports the largest CDF
    gap, W1 the area, TV the mass; AUC = P(a > b) + ½P(a = b) says
    WHICH WAY the distribution moved and with what probability a
    random a-sample beats a random b-sample — the common-language
    effect size, and literally ROC-AUC when one 'type' is the
    positive class).

    Exact integer evaluation off the SAME support machinery as
    ks_distance_pairs: per-pair support rows (cents, ca, cb) with a
    RANGE-cumulative b-count; each support point contributes
    ca·(b below) + ½·ca·(b tied) — DOUBLED to stay integral:
    u2 = Σ 2·ca·(cum_b - cb) + ca·cb = 2U. Identity U_a + U_b =
    n_a·n_b (checked in the differential test); auc_ppm =
    u2 · 500000 div (n_a · n_b).

    Overflow envelope — LOUD (the ks_distance_pairs guard verbatim):
    u2 ≤ 2·n_a·n_b, so u2·5e5 shares KS's n_a·n_b·1e6 < 2^63 bound
    (~3e6 samples/type); the division-form predicate cannot itself
    wrap under the session's pinned ansi=false. Per-support-point
    products ca·cum_b ≤ n_a·n_b stay inside the same bound.

    Plan: one fact aggregate to (type, cents), one pair frame over
    type totals, one support-bounded window chain, one pair-sized
    rollup — the fact is touched once (the KS shape exactly).

    Output: (type_a, type_b, n_a, n_b, u2, auc_ppm).
    """
    from pyspark.sql import Window

    counts = (
        t["events"]
        .select(
            "event_type",
            F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias(
                "cents"
            ),
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.groupBy("event_type").agg(F.sum("c").alias("n"))
    pairs = (
        totals.select(
            F.col("event_type").alias("ta"), F.col("n").alias("na")
        )
        .crossJoin(
            totals.select(
                F.col("event_type").alias("tb"), F.col("n").alias("nb")
            )
        )
        .filter(F.col("ta") < F.col("tb"))
    )
    side_a = pairs.join(
        counts.select(
            F.col("event_type").alias("ta"), "cents", F.col("c").alias("ca")
        ),
        "ta",
    ).select("ta", "tb", "na", "nb", "cents", "ca", F.lit(0).alias("cb"))
    side_b = pairs.join(
        counts.select(
            F.col("event_type").alias("tb"), "cents", F.col("c").alias("cb")
        ),
        "tb",
    ).select("ta", "tb", "na", "nb", "cents", F.lit(0).alias("ca"), "cb")
    merged = (
        side_a.unionByName(side_b)
        .groupBy("ta", "tb", "na", "nb", "cents")
        .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
    )
    w = (
        Window.partitionBy("ta", "tb")
        .orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stepped = merged.withColumn("cum_b", F.sum("cb").over(w))
    return (
        stepped.groupBy("ta", "tb", "na", "nb")
        .agg(
            F.sum(
                F.expr("2 * ca * (cum_b - cb) + ca * cb")
            ).alias("u2")
        )
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            F.col("u2").cast("long").alias("u2"),
            # same envelope constant as ks_distance_pairs:
            # 9223372036854 = (2^63-1) div 1e6, and u2*5e5 <=
            # na*nb*1e6; the predicate is division-form so the guard
            # itself never wraps under ansi=false
            F.expr(
                "CASE WHEN nb > 9223372036854L div na THEN"
                " raise_error(concat("
                "'mann_whitney_auc_pairs int64 overflow envelope"
                " exceeded: n_a*n_b = ', CAST(na AS STRING), '*',"
                " CAST(nb AS STRING), ' > 9223372036854 safe maximum"
                " for the ppm multiply (the session pins ansi=false,"
                " so the product would wrap silently into garbage"
                " ppm). Divide counts down or lift the comparison to"
                " decimal(38,0) for samples this large.'))"
                " ELSE (u2 * 500000) div (na * nb) END"
            ).alias("auc_ppm"),
        )
        .orderBy("type_a", "type_b")
    )


def mann_whitney_oracle_sql() -> str:
    return """
        WITH counts AS MATERIALIZED (
          SELECT event_type,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2),
        totals AS (
          SELECT event_type, CAST(SUM(c) AS BIGINT) AS n
          FROM counts GROUP BY event_type),
        pairs AS (
          SELECT a.event_type AS ta, a.n AS na,
                 b.event_type AS tb, b.n AS nb
          FROM totals a JOIN totals b ON a.event_type < b.event_type),
        sides AS (
          SELECT ta, tb, na, nb, c.cents, c.c AS ca,
                 CAST(0 AS BIGINT) AS cb
          FROM pairs JOIN counts c ON c.event_type = ta
          UNION ALL
          SELECT ta, tb, na, nb, c.cents, CAST(0 AS BIGINT) AS ca,
                 c.c AS cb
          FROM pairs JOIN counts c ON c.event_type = tb),
        merged AS MATERIALIZED (
          SELECT ta, tb, na, nb, cents,
                 CAST(SUM(ca) AS BIGINT) AS ca,
                 CAST(SUM(cb) AS BIGINT) AS cb
          FROM sides GROUP BY ta, tb, na, nb, cents),
        stepped AS (
          SELECT *,
                 CAST(SUM(cb) OVER (PARTITION BY ta, tb ORDER BY cents
                                    RANGE UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum_b
          FROM merged)
        SELECT ta AS type_a, tb AS type_b,
               na AS n_a, nb AS n_b,
               CAST(SUM(2 * ca * (cum_b - cb) + ca * cb) AS BIGINT)
                   AS u2,
               (CAST(SUM(2 * ca * (cum_b - cb) + ca * cb) AS BIGINT)
                * 500000) // (na * nb) AS auc_ppm
        FROM stepped
        GROUP BY ta, tb, na, nb
        ORDER BY type_a, type_b
        """


def weekly_mix_drift(t: dict[str, DataFrame]) -> DataFrame:
    """Week-over-week CATEGORICAL drift — total-variation distance
    between consecutive weeks' event-TYPE mixes (tv_distance_pairs
    compares value distributions between types; this compares the
    composition of traffic between periods — "did the signup/error/
    purchase mix shift this week?", the incident-review readout).

    Exact integers throughout, the KS cross-multiplication trick on
    proportions: TV = ½ Σ_type |c_cur/n_cur - c_prev/n_prev| is
    evaluated as tv_num = Σ |c_cur·n_prev - c_prev·n_cur| with
    tv_ppm = tv_num · 500000 div (n_prev·n_cur). Types absent from
    one side enter with count 0 through the two-sided union (a full
    outer join in aggregate form — the ks sides shape). CALENDAR
    semantics (the weekly_revenue_wow rule): only adjacent epoch-week
    indexes pair; a week following a silent week reports no row
    rather than drifting against ancient data.

    Overflow envelope — LOUD (the ks_distance_pairs guard verbatim,
    shared constant): safe while n_prev·n_cur·1e6 < 2^63 (~3e6
    events/week); the division-form predicate cannot itself wrap
    under the session's pinned ansi=false.

    Plan: one fact aggregate to (week, type), week-sized totals
    self-joined at week+1 (broadcastable), sides unioned and rolled
    up per (week, type) — the fact is touched once.

    Output: (week, n_prev, n_cur, n_types_union, tv_num, tv_ppm).
    """
    wc = (
        t["events"]
        .select(
            F.expr(
                "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01')"
                " div 7 AS BIGINT)"
            ).alias("week"),
            "event_type",
        )
        .groupBy("week", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    wt = wc.groupBy("week").agg(F.sum("c").alias("n"))
    pairs = (
        wt.select(F.col("week").alias("pw"), F.col("n").alias("n_prev"))
        .join(
            wt.select(
                (F.col("week") - 1).alias("pw"),
                F.col("week").alias("week"),
                F.col("n").alias("n_cur"),
            ),
            "pw",
        )
    )
    side_prev = pairs.join(
        wc.select(F.col("week").alias("pw"), "event_type", F.col("c").alias("cp")),
        "pw",
    ).select("week", "n_prev", "n_cur", "event_type", "cp", F.lit(0).alias("cc"))
    side_cur = pairs.join(
        wc.select("week", "event_type", F.col("c").alias("cc")),
        "week",
    ).select("week", "n_prev", "n_cur", "event_type", F.lit(0).alias("cp"), "cc")
    merged = (
        side_prev.unionByName(side_cur)
        .groupBy("week", "n_prev", "n_cur", "event_type")
        .agg(F.sum("cp").alias("cp"), F.sum("cc").alias("cc"))
    )
    return (
        merged.groupBy("week", "n_prev", "n_cur")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types_union"),
            F.sum(
                F.abs(
                    F.col("cc") * F.col("n_prev")
                    - F.col("cp") * F.col("n_cur")
                )
            )
            .cast("long")
            .alias("tv_num"),
        )
        .select(
            "week",
            F.col("n_prev").cast("long").alias("n_prev"),
            F.col("n_cur").cast("long").alias("n_cur"),
            "n_types_union",
            "tv_num",
            F.expr(
                "CASE WHEN n_cur > 9223372036854L div n_prev THEN"
                " raise_error(concat("
                "'weekly_mix_drift int64 overflow envelope exceeded:"
                " n_prev*n_cur = ', CAST(n_prev AS STRING), '*',"
                " CAST(n_cur AS STRING), ' > 9223372036854 safe"
                " maximum for the ppm multiply (the session pins"
                " ansi=false, so the product would wrap silently into"
                " garbage ppm). Pre-sample weeks this large or lift"
                " the comparison to decimal(38,0).'))"
                " ELSE (tv_num * 500000) div (n_prev * n_cur) END"
            ).alias("tv_ppm"),
        )
        .orderBy("week")
    )


def weekly_mix_drift_oracle_sql() -> str:
    return """
        WITH wc AS MATERIALIZED (
          SELECT CAST(date_diff('day', DATE '1970-01-01',
                                CAST(ts AS DATE)) // 7 AS BIGINT)
                     AS week,
                 event_type, CAST(COUNT(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2),
        wt AS (SELECT week, CAST(SUM(c) AS BIGINT) AS n
               FROM wc GROUP BY week),
        pairs AS (
          SELECT p.week AS pw, p.n AS n_prev,
                 q.week AS week, q.n AS n_cur
          FROM wt p JOIN wt q ON q.week = p.week + 1),
        sides AS (
          SELECT pairs.week AS week, n_prev, n_cur, w.event_type,
                 w.c AS cp, CAST(0 AS BIGINT) AS cc
          FROM pairs JOIN wc w ON w.week = pairs.pw
          UNION ALL
          SELECT pairs.week AS week, n_prev, n_cur, w.event_type,
                 CAST(0 AS BIGINT) AS cp, w.c AS cc
          FROM pairs JOIN wc w ON w.week = pairs.week),
        merged AS (
          SELECT week, n_prev, n_cur, event_type,
                 CAST(SUM(cp) AS BIGINT) AS cp,
                 CAST(SUM(cc) AS BIGINT) AS cc
          FROM sides GROUP BY week, n_prev, n_cur, event_type)
        SELECT week, n_prev, n_cur,
               CAST(COUNT(*) AS BIGINT) AS n_types_union,
               CAST(SUM(ABS(cc * n_prev - cp * n_cur)) AS BIGINT)
                   AS tv_num,
               (CAST(SUM(ABS(cc * n_prev - cp * n_cur)) AS BIGINT)
                * 500000) // (n_prev * n_cur) AS tv_ppm
        FROM merged
        GROUP BY week, n_prev, n_cur
        ORDER BY week
        """


def quantile_transform_values(t: dict[str, DataFrame]) -> DataFrame:
    """Quantile (rank) normalization of event values per type — the
    scale-free feature transform (sklearn's QuantileTransformer
    without the inverse-CDF remap): every value maps to its MIDRANK
    percentile within its type, so any monotone distortion of the
    raw values produces the identical feature column. Completes the
    scaling family: robust_scale_features centers by median/IQR,
    decile_features_events buckets into 10, this is the continuous
    rank map.

    Exact integers end to end: midrank·2 = 2·cum − cnt + 1 (always
    integral — the spearman doubling), pct_ppm = (2·cum − cnt + 1)
    · 500000 div n, bounded by 1e6 with NO overflow envelope at any
    lake size (the numerator is ≤ 2n, so the product is ≤ n·1e6 —
    safe to 9e12 events/type before int64 matters, and the midrank
    never exceeds n).

    Scale shape: per-(type, cents) counts, ONE cumulative window over
    each type's VALUE SUPPORT (cents-bounded — the ks/pareto
    discipline, never a fact-side window), then one hash join back to
    the fact on (type, cents). Output is fact-sized by design (it is
    a feature TRANSFORM, not a report).

    Output: (event_id, event_type, value_cents, pct_ppm).
    """
    from pyspark.sql import Window

    e = t["events"].select(
        "event_id",
        "event_type",
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias(
            "value_cents"
        ),
    )
    counts = e.groupBy("event_type", "value_cents").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value_cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = counts.withColumn("cum", F.sum("cnt").over(w))
    totals = counts.groupBy("event_type").agg(F.sum("cnt").alias("n"))
    return (
        e.join(ranked, ["event_type", "value_cents"])
        .join(F.broadcast(totals), "event_type")
        .select(
            "event_id",
            "event_type",
            "value_cents",
            F.expr(
                "((2 * cum - cnt + 1) * 500000L) div n"
            ).alias("pct_ppm"),
        )
        .orderBy("event_id")
    )


def quantile_transform_oracle_sql() -> str:
    return """
        WITH e AS MATERIALIZED (
          SELECT event_id, event_type,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_cents
          FROM events),
        counts AS MATERIALIZED (
          SELECT event_type, value_cents,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM e GROUP BY 1, 2),
        ranked AS (
          SELECT event_type, value_cents, cnt,
                 CAST(SUM(cnt) OVER (PARTITION BY event_type
                                     ORDER BY value_cents
                                     ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum
          FROM counts),
        totals AS (
          SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n
          FROM counts GROUP BY event_type)
        SELECT e.event_id, e.event_type, e.value_cents,
               ((2 * r.cum - r.cnt + 1) * 500000) // t.n AS pct_ppm
        FROM e
        JOIN ranked r USING (event_type, value_cents)
        JOIN totals t USING (event_type)
        ORDER BY e.event_id
        """


QT_BATCH_MOD = 10


def quantile_transform_incremental(
    t: dict[str, DataFrame], batch_mod: int = QT_BATCH_MOD
) -> DataFrame:
    """Incremental quantile scoring — the training-serving-skew gear
    of :func:`quantile_transform_values`: score a NEW event batch's
    values against the STORED distribution of everything already in
    the lake (the training distribution), without re-ranking history.
    This is what a feature store actually executes at serving time:
    the reference support histogram is the persisted fit-once
    artifact (the novelty_incremental lake-digest contract applied to
    value supports), and only the batch moves.

    The batch is carved deterministically (event_id % batch_mod == 0,
    the dedup_incremental convention) so the oracle replays the
    split. A batch value — including one the reference NEVER saw —
    scores as the midrank a new observation would take among the
    n_ref reference values: pct_ppm = (2·below + ties + 1)·5e5 div
    (n_ref + 1), strictly inside (0, 1e6) (the +1 denominator is the
    new-observation convention: even a value above all of history
    scores below 1e6, leaving headroom to distinguish 'highest seen'
    from 'unboundedly high'). Unseen batch values get a support row
    through the merged-support union (the KS sides trick), so no
    range join exists anywhere. seen_in_ref flags exact-tie hits.

    Exact integers, no overflow envelope at any lake size (numerator
    ≤ 2·n_ref + 2). Scale shape: reference support per (type, cents)
    + batch DISTINCT cents unioned, ONE cumulative window over the
    merged VALUE support, one hash join back to the batch rows.

    Output: (event_id, event_type, value_cents, n_ref, seen_in_ref,
    pct_ppm).
    """
    from pyspark.sql import Window

    e = t["events"].select(
        "event_id",
        "event_type",
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias(
            "value_cents"
        ),
    )
    batch = e.filter(F.col("event_id") % batch_mod == 0)
    hist = e.filter(F.col("event_id") % batch_mod != 0)
    ref_counts = hist.groupBy("event_type", "value_cents").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    probe_support = (
        batch.select("event_type", "value_cents")
        .distinct()
        .withColumn("cnt", F.lit(0).cast("long"))
    )
    merged = (
        ref_counts.unionByName(probe_support)
        .groupBy("event_type", "value_cents")
        .agg(F.sum("cnt").alias("cnt"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value_cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = merged.withColumn("cum", F.sum("cnt").over(w))
    totals = ref_counts.groupBy("event_type").agg(
        F.sum("cnt").alias("n_ref")
    )
    return (
        batch.join(ranked, ["event_type", "value_cents"])
        .join(F.broadcast(totals), "event_type", "left")
        .select(
            "event_id",
            "event_type",
            "value_cents",
            F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
            (F.col("cnt") > 0).alias("seen_in_ref"),
            F.expr(
                "((2 * (cum - cnt) + cnt + 1) * 500000L)"
                " div (coalesce(n_ref, 0L) + 1)"
            ).alias("pct_ppm"),
        )
        .orderBy("event_id")
    )


def quantile_transform_incremental_oracle_sql(
    batch_mod: int = QT_BATCH_MOD,
) -> str:
    return f"""
        WITH e AS MATERIALIZED (
          SELECT event_id, event_type,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_cents
          FROM events),
        batch AS (SELECT * FROM e WHERE event_id % {batch_mod} = 0),
        hist AS (SELECT * FROM e WHERE event_id % {batch_mod} <> 0),
        ref_counts AS MATERIALIZED (
          SELECT event_type, value_cents,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM hist GROUP BY 1, 2),
        probe AS (
          SELECT DISTINCT event_type, value_cents,
                 CAST(0 AS BIGINT) AS cnt
          FROM batch),
        merged AS (
          SELECT event_type, value_cents, CAST(SUM(cnt) AS BIGINT) AS cnt
          FROM (SELECT * FROM ref_counts UNION ALL SELECT * FROM probe)
          GROUP BY 1, 2),
        ranked AS (
          SELECT *,
                 CAST(SUM(cnt) OVER (PARTITION BY event_type
                                     ORDER BY value_cents
                                     ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum
          FROM merged),
        totals AS (
          SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n_ref
          FROM ref_counts GROUP BY event_type)
        SELECT b.event_id, b.event_type, b.value_cents,
               CAST(COALESCE(t.n_ref, 0) AS BIGINT) AS n_ref,
               r.cnt > 0 AS seen_in_ref,
               ((2 * (r.cum - r.cnt) + r.cnt + 1) * 500000)
                   // (COALESCE(t.n_ref, 0) + 1) AS pct_ppm
        FROM batch b
        JOIN ranked r USING (event_type, value_cents)
        LEFT JOIN totals t USING (event_type)
        ORDER BY b.event_id
        """


def hourly_value_percentiles(t: dict[str, DataFrame]) -> DataFrame:
    """Hourly P50/P90/P99 value series per event type — the latency-
    dashboard staple (SLO burn charts read exactly this table), and
    the time-resolved companion to ``percentiles_exact`` (one number
    per group) and ``decile_features_events`` (global buckets).

    Exact rank-based order statistics, never interpolation (the
    decile discipline — interpolated percentiles diverge between
    engines at one-ulp boundaries, pitfall 17): the q-quantile is the
    smallest cents whose cumulative count reaches ceil(q·n),
    evaluated as min(cents | cum·100 >= q_pct·n) on pure int64.

    Scale shape: one fact aggregate to the (type, hour, cents)
    support, ONE cumulative window over each (type, hour)'s VALUE
    support (value-range-bounded per group — never a fact-side
    window), a broadcastable per-(type, hour) total, and three
    min-filters folded into one conditional aggregate. Hour keys are
    the session_concurrency calendar integers.

    Output: (event_type, hour_idx, n_events, p50_cents, p90_cents,
    p99_cents).
    """
    from pyspark.sql import Window

    e = t["events"].select(
        "event_type",
        F.expr(
            "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01')"
            " AS BIGINT) * 24 + hour(ts)"
        ).alias("hour_idx"),
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    counts = e.groupBy("event_type", "hour_idx", "cents").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = (
        Window.partitionBy("event_type", "hour_idx")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = counts.withColumn("cum", F.sum("c").over(w))
    totals = counts.groupBy("event_type", "hour_idx").agg(
        F.sum("c").alias("n")
    )
    j = cum.join(totals, ["event_type", "hour_idx"])
    pick = (
        "CAST(MIN(CASE WHEN cum * 100 >= {q} * n THEN cents END)"
        " AS BIGINT)"
    )
    return (
        j.groupBy("event_type", "hour_idx")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            F.expr(pick.format(q=50)).alias("p50_cents"),
            F.expr(pick.format(q=90)).alias("p90_cents"),
            F.expr(pick.format(q=99)).alias("p99_cents"),
        )
        .orderBy("event_type", "hour_idx")
    )


def hourly_percentiles_oracle_sql() -> str:
    return """
        WITH e AS MATERIALIZED (
          SELECT event_type,
                 CAST(date_diff('day', DATE '1970-01-01',
                                CAST(ts AS DATE)) AS BIGINT) * 24
                 + hour(ts) AS hour_idx,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
          FROM events),
        counts AS MATERIALIZED (
          SELECT event_type, hour_idx, cents,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM e GROUP BY 1, 2, 3),
        cum AS (
          SELECT *,
                 CAST(SUM(c) OVER (PARTITION BY event_type, hour_idx
                                   ORDER BY cents
                                   ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum
          FROM counts),
        totals AS (
          SELECT event_type, hour_idx, CAST(SUM(c) AS BIGINT) AS n
          FROM counts GROUP BY 1, 2)
        SELECT c.event_type, c.hour_idx,
               MAX(t.n) AS n_events,
               CAST(MIN(CASE WHEN c.cum * 100 >= 50 * t.n
                             THEN c.cents END) AS BIGINT) AS p50_cents,
               CAST(MIN(CASE WHEN c.cum * 100 >= 90 * t.n
                             THEN c.cents END) AS BIGINT) AS p90_cents,
               CAST(MIN(CASE WHEN c.cum * 100 >= 99 * t.n
                             THEN c.cents END) AS BIGINT) AS p99_cents
        FROM cum c JOIN totals t USING (event_type, hour_idx)
        GROUP BY c.event_type, c.hour_idx
        ORDER BY c.event_type, c.hour_idx
        """


def seasonal_hour_baseline_loo(t: dict[str, DataFrame]) -> DataFrame:
    """Hour-of-week seasonal anomaly scoring — every hour's revenue
    total scored LEAVE-ONE-OUT against its OWN hour-of-week peers
    ("is this Tuesday-3pm normal *for a Tuesday 3pm*?"), the
    time-of-day-aware alarm that a global threshold gets wrong twice
    a day. LOO (the target_encode_loo discipline) because a hour
    scored against a baseline containing itself is biased toward
    normal exactly when it is the outlier.

    Keys and arithmetic: hour_idx is the session_concurrency calendar
    integer; hour-of-week = hour_idx % 168 (phase-stable — epoch hour
    0 is a Thursday 00:00, stated, so the phase is consistent rather
    than Monday-origined); totals are exact cents. The LOO percentile
    uses the quantile_transform_incremental new-observation midrank
    against the n-1 peers: pct_ppm = (2·below + ties_excl_self + 1)
    · 5e5 div n — a peerless hour (n = 1) scores the 500000 prior,
    and extremes stay strictly inside (0, 1e6).

    Scale shape: one fact aggregate to (type, hour) totals
    (span-bounded), per-(type, how) support counts + ONE cumulative
    window over the TOTALS support (peer groups are week-count-sized),
    joined back on the (type, how, total) key. No fact-side windows.

    Output: (event_type, hour_idx, total_cents, n_peers, pct_ppm).
    """
    from pyspark.sql import Window

    hourly = (
        t["events"]
        .groupBy(
            "event_type",
            F.expr(
                "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01')"
                " AS BIGINT) * 24 + hour(ts)"
            ).alias("hour_idx"),
        )
        .agg(
            F.sum(
                F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")
            ).alias("total_cents")
        )
        .withColumn("how", F.expr("hour_idx % 168"))
        .localCheckpoint()
    )
    sup = hourly.groupBy("event_type", "how", "total_cents").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = (
        Window.partitionBy("event_type", "how")
        .orderBy("total_cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = sup.withColumn("cum", F.sum("cnt").over(w))
    totals = sup.groupBy("event_type", "how").agg(
        F.sum("cnt").alias("n")
    )
    return (
        hourly.join(ranked, ["event_type", "how", "total_cents"])
        .join(totals, ["event_type", "how"])
        .select(
            "event_type",
            "hour_idx",
            "total_cents",
            (F.col("n") - 1).cast("long").alias("n_peers"),
            F.expr(
                "((2 * (cum - cnt) + (cnt - 1) + 1) * 500000L) div n"
            ).alias("pct_ppm"),
        )
        .orderBy("event_type", "hour_idx")
    )


def seasonal_hour_baseline_oracle_sql() -> str:
    return """
        WITH hourly AS MATERIALIZED (
          SELECT event_type,
                 CAST(date_diff('day', DATE '1970-01-01',
                                CAST(ts AS DATE)) AS BIGINT) * 24
                 + hour(ts) AS hour_idx,
                 CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS total_cents
          FROM events GROUP BY 1, 2),
        keyed AS MATERIALIZED (
          SELECT *, hour_idx % 168 AS how FROM hourly),
        sup AS MATERIALIZED (
          SELECT event_type, how, total_cents,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM keyed GROUP BY 1, 2, 3),
        ranked AS (
          SELECT *,
                 CAST(SUM(cnt) OVER (PARTITION BY event_type, how
                                     ORDER BY total_cents
                                     ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum
          FROM sup),
        totals AS (
          SELECT event_type, how, CAST(SUM(cnt) AS BIGINT) AS n
          FROM sup GROUP BY 1, 2)
        SELECT k.event_type, k.hour_idx, k.total_cents,
               t.n - 1 AS n_peers,
               ((2 * (r.cum - r.cnt) + (r.cnt - 1) + 1) * 500000)
                   // t.n AS pct_ppm
        FROM keyed k
        JOIN ranked r USING (event_type, how, total_cents)
        JOIN totals t USING (event_type, how)
        ORDER BY k.event_type, k.hour_idx
        """


# --------------------------------------------------------------------------
# Round-10: rank/trend/lead-lag statistics batch — Kendall tau-b over
# bounded supports, Mann-Kendall trend, cross-type lead-lag correlation.
# --------------------------------------------------------------------------


def kendall_tau_qty_discount(t: dict[str, DataFrame]) -> DataFrame:
    """Kendall tau-b between quantity and discount per return flag —
    the third rank-correlation member next to Pearson
    (``stats_correlation``) and Spearman (``spearman_corr_by_flag``),
    chosen over Spearman when the pair count (not the rank difference)
    is the story: tau has a direct probabilistic reading
    (P[concordant] - P[discordant]).

    Exactness comes from the VARIABLE CHOICE: quantity (~50 distinct
    cents) x discount (~11 distinct ppc) have a bounded joint support,
    so the full contingency table is a few hundred cells per flag and
    every pair statistic is a closed-form integer over cell-count
    products — never an O(n^2) row self-join:

    - concordant/discordant: one cell self-join with a.qx < b.qx
      (each unordered x-distinct pair once), classified by dx order;
    - tie terms: marginal counts, n1 = sum t(t-1)/2 over qx marginals,
      n2 likewise for dx;
    - tau_b = (C - D) / (sqrt(n0-n1) * sqrt(n0-n2)), n0 = n(n-1)/2.

    All sums in DECIMAL(38,0) (exact at any SF); the presented tau
    casts each factor through int64 -> double (the spearman_corr
    discipline — DuckDB's 128-bit->double is not correctly rounded,
    int64->double is, in both engines) behind the same loud
    raise_error envelope (safe to ~9.6e7 rows/flag; past that the
    plan raises with remediation instead of wobbling the 9th digit).

    Scale shape: one (flag, qx, dx) aggregate collapses the fact
    table; everything after runs on <= ~550 cells/flag.

    Output: (l_returnflag, n_rows, concordant, discordant,
    tau_b).
    """
    e = t["lineitem"].select(
        "l_returnflag",
        F.expr("CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)").alias("qx"),
        F.expr("CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)").alias("dx"),
    )
    cells = e.groupBy("l_returnflag", "qx", "dx").agg(
        F.count(F.lit(1)).alias("cnt")
    ).localCheckpoint()
    a, b = cells.alias("a"), cells.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_returnflag") == F.col("b.l_returnflag"))
            & (F.col("a.qx") < F.col("b.qx")),
        )
        .groupBy(F.col("a.l_returnflag").alias("l_returnflag"))
        .agg(
            F.sum(
                F.when(
                    F.col("b.dx") > F.col("a.dx"),
                    F.expr("CAST(a.cnt AS DECIMAL(38,0)) * b.cnt"),
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("conc"),
            F.sum(
                F.when(
                    F.col("b.dx") < F.col("a.dx"),
                    F.expr("CAST(a.cnt AS DECIMAL(38,0)) * b.cnt"),
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("disc"),
        )
    )
    n_tot = cells.groupBy("l_returnflag").agg(
        F.sum("cnt").cast("long").alias("n")
    )
    tie_q = (
        cells.groupBy("l_returnflag", "qx")
        .agg(F.sum("cnt").alias("tq"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.expr("CAST(tq AS DECIMAL(38,0)) * (tq - 1)")).alias(
                "tie2_q"
            )
        )
    )
    tie_d = (
        cells.groupBy("l_returnflag", "dx")
        .agg(F.sum("cnt").alias("td"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.expr("CAST(td AS DECIMAL(38,0)) * (td - 1)")).alias(
                "tie2_d"
            )
        )
    )
    g = (
        pairs.join(F.broadcast(n_tot), "l_returnflag")
        .join(F.broadcast(tie_q), "l_returnflag")
        .join(F.broadcast(tie_d), "l_returnflag")
        # doubled terms keep everything integral: 2*n0 = n(n-1),
        # 2*n1 = tie2_q, 2*n2 = tie2_d
        .withColumn("two_n0", F.expr("CAST(n AS DECIMAL(38,0)) * (n - 1)"))
    )
    guard = (
        "CASE WHEN conc > CAST(9223372036854775807 AS DECIMAL(38,0))"
        " OR disc > CAST(9223372036854775807 AS DECIMAL(38,0))"
        " OR two_n0 - tie2_q > CAST(9007199254740992 AS DECIMAL(38,0))"
        " OR two_n0 - tie2_d > CAST(9007199254740992 AS DECIMAL(38,0))"
        " THEN raise_error(concat("
        "'kendall_tau_qty_discount presentation envelope exceeded:"
        " group ', l_returnflag, ' has n = ', CAST(n AS STRING),"
        " ' rows (safe to ~9.6e7/flag: each doubled denominator factor"
        " must stay below 2^53 so its int64->double cast is exact)."
        " Pre-aggregate or sample before correlating.')) ELSE {expr} END"
    )
    return (
        g.select(
            "l_returnflag",
            F.col("n").alias("n_rows"),
            F.expr(guard.format(expr="CAST(conc AS BIGINT)")).alias(
                "concordant"
            ),
            F.expr(guard.format(expr="CAST(disc AS BIGINT)")).alias(
                "discordant"
            ),
            F.expr(
                guard.format(
                    expr=(
                        "round(CAST(CAST(conc - disc AS BIGINT) AS DOUBLE)"
                        " / nullif("
                        "   sqrt(CAST(CAST(two_n0 - tie2_q AS BIGINT)"
                        "             AS DOUBLE) / 2.0D)"
                        " * sqrt(CAST(CAST(two_n0 - tie2_d AS BIGINT)"
                        "             AS DOUBLE) / 2.0D), 0.0D), 9)"
                    )
                )
            ).alias("tau_b"),
        )
        .orderBy("l_returnflag")
    )


def kendall_tau_oracle_sql() -> str:
    """DuckDB replay: identical cell algebra, HUGEINT exact sums, the
    same through-int64 presentation casts and /2 placement (the sqrt
    operand expressions must be BITWISE identical for ROUND(9) parity)."""
    return """
        WITH e AS MATERIALIZED (
          SELECT l_returnflag,
                 CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) AS qx,
                 CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS dx
          FROM lineitem),
        cells AS MATERIALIZED (
          SELECT l_returnflag, qx, dx, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM e GROUP BY 1, 2, 3),
        pairs AS (
          SELECT a.l_returnflag,
                 SUM(CASE WHEN b.dx > a.dx
                          THEN CAST(a.cnt AS HUGEINT) * b.cnt
                          ELSE 0 END) AS conc,
                 SUM(CASE WHEN b.dx < a.dx
                          THEN CAST(a.cnt AS HUGEINT) * b.cnt
                          ELSE 0 END) AS disc
          FROM cells a JOIN cells b
            ON a.l_returnflag = b.l_returnflag AND a.qx < b.qx
          GROUP BY 1),
        nt AS (SELECT l_returnflag, CAST(SUM(cnt) AS BIGINT) AS n
               FROM cells GROUP BY 1),
        tq AS (SELECT l_returnflag,
                      SUM(CAST(tqc AS HUGEINT) * (tqc - 1)) AS tie2_q
               FROM (SELECT l_returnflag, qx, SUM(cnt) AS tqc
                     FROM cells GROUP BY 1, 2) GROUP BY 1),
        td AS (SELECT l_returnflag,
                      SUM(CAST(tdc AS HUGEINT) * (tdc - 1)) AS tie2_d
               FROM (SELECT l_returnflag, dx, SUM(cnt) AS tdc
                     FROM cells GROUP BY 1, 2) GROUP BY 1),
        g AS (
          SELECT p.l_returnflag, p.conc, p.disc, nt.n,
                 tq.tie2_q, td.tie2_d,
                 CAST(nt.n AS HUGEINT) * (nt.n - 1) AS two_n0
          FROM pairs p
          JOIN nt USING (l_returnflag)
          JOIN tq USING (l_returnflag)
          JOIN td USING (l_returnflag))
        SELECT l_returnflag,
               n AS n_rows,
               CAST(conc AS BIGINT) AS concordant,
               CAST(disc AS BIGINT) AS discordant,
               ROUND(CAST(CAST(conc - disc AS BIGINT) AS DOUBLE)
                     / NULLIF(
                         sqrt(CAST(CAST(two_n0 - tie2_q AS BIGINT)
                                   AS DOUBLE) / 2.0)
                       * sqrt(CAST(CAST(two_n0 - tie2_d AS BIGINT)
                                   AS DOUBLE) / 2.0), 0.0), 9)
                   AS tau_b
        FROM g ORDER BY l_returnflag
        """


def _daily_type_counts(t: dict[str, DataFrame]) -> DataFrame:
    """The ONE daily-count series core shared by the trend family
    (mann_kendall_trend_daily / theil_sen_slope_daily /
    runs_test_daily — the drift rule): events collapsed to
    (event_type, epoch-day, count), checkpointed because every
    consumer fans it out to a self-join or window plus marginals."""
    e = t["events"].select(
        "event_type",
        F.expr(
            "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)"
        ).alias("day"),
    )
    return (
        e.groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )


#: DuckDB CTE text of the SAME daily collapse (one definition for the
#: trend family's oracles).
DAILY_TYPE_COUNTS_CTE_SQL = """
        e AS MATERIALIZED (
          SELECT event_type,
                 CAST(date_diff('day', DATE '1970-01-01',
                                CAST(ts AS DATE)) AS BIGINT) AS day
          FROM events),
        daily AS MATERIALIZED (
          SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS c
          FROM e GROUP BY 1, 2)
"""


def mann_kendall_trend_daily(t: dict[str, DataFrame]) -> DataFrame:
    """Mann-Kendall trend test on the daily event-count series per
    type — the nonparametric "is this metric drifting?" monitor
    (CUSUM alarms on level shifts; MK detects MONOTONE trend without
    assuming a distribution or fitting a line first; the
    ``ols_value_by_hour`` slope says how steep, MK says how sure).

    S = sum over day pairs i<j of sign(c_j - c_i) — computed from the
    per-day count series via one self-join whose size is CALENDAR-
    bounded (days^2, not rows^2: ~7e5 pairs for two years, constant
    in SF). Tie-corrected variance numerator
    VARNUM = m(m-1)(2m+5) - sum t(t-1)(2t+5) over count-value tie
    groups (Var(S) = VARNUM/18); the normal approximation
    z = (S -/+ 1)/sqrt(VARNUM/18) with the textbook continuity
    correction. All inputs to the double stage are exact int64 far
    below 2^53 (m is calendar-bounded: m=10^4 days -> m^3 = 1e12), so
    ROUND(9) parity holds with no guard tier needed — the envelope is
    structural, not data-sized.

    Output: (event_type, m_days, s_stat, varnum, mk_z), type-ordered.
    """
    return mk_trend_from_daily(_daily_type_counts(t))


def mk_trend_from_daily(daily: DataFrame) -> DataFrame:
    """The ONE Mann-Kendall scoring definition, off any checkpointed
    (event_type, day, c) frame — shared by the batch operator above
    and the streaming monitor twin (streaming/incremental.py
    mk_trend_stream), so batch/stream score drift is structurally
    impossible (the monitor-family drift rule)."""
    a, b = daily.alias("a"), daily.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(F.expr("CAST(sign(b.c - a.c) AS BIGINT)")).alias("s_stat")
        )
    )
    m = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("m"))
    ties = (
        daily.groupBy("event_type", "c")
        .agg(F.count(F.lit(1)).alias("tc"))
        .groupBy("event_type")
        .agg(
            F.sum(F.expr("tc * (tc - 1) * (2 * tc + 5)")).alias("tie_term")
        )
    )
    # build from m (every type with >= 1 observed day), LEFT-joining
    # the pair sum: a single-day series legitimately reports
    # s_stat = 0, varnum = 0, mk_z NULL — dropping it would make the
    # monitor twin silent exactly when a type first appears.
    return (
        m.join(s, "event_type", "left")
        .na.fill({"s_stat": 0})
        .join(F.broadcast(ties), "event_type")
        .withColumn(
            "varnum", F.expr("m * (m - 1) * (2 * m + 5) - tie_term")
        )
        .select(
            "event_type",
            F.col("m").cast("long").alias("m_days"),
            "s_stat",
            F.col("varnum").cast("long").alias("varnum"),
            F.expr(
                "round(CASE WHEN varnum = 0 THEN NULL"
                " WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0D)"
                "      / sqrt(CAST(varnum AS DOUBLE) / 18.0D)"
                " WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0D)"
                "      / sqrt(CAST(varnum AS DOUBLE) / 18.0D)"
                " ELSE 0.0D END, 9)"
            ).alias("mk_z"),
        )
        .orderBy("event_type")
    )


def mann_kendall_oracle_sql() -> str:
    return f"""
        WITH {DAILY_TYPE_COUNTS_CTE_SQL},
        s AS (
          SELECT a.event_type,
                 CAST(SUM(CAST(sign(b.c - a.c) AS BIGINT)) AS BIGINT)
                     AS s_stat
          FROM daily a JOIN daily b
            ON a.event_type = b.event_type AND a.day < b.day
          GROUP BY 1),
        m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS m
              FROM daily GROUP BY 1),
        ties AS (
          SELECT event_type,
                 CAST(SUM(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT)
                     AS tie_term
          FROM (SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS tc
                FROM daily GROUP BY 1, 2) GROUP BY 1),
        g AS (
          SELECT m.event_type, COALESCE(s.s_stat, 0) AS s_stat, m.m,
                 m.m * (m.m - 1) * (2 * m.m + 5) - ties.tie_term AS varnum
          FROM m LEFT JOIN s USING (event_type)
          JOIN ties USING (event_type))
        SELECT event_type,
               m AS m_days,
               s_stat,
               CAST(varnum AS BIGINT) AS varnum,
               ROUND(CASE WHEN varnum = 0 THEN NULL
                     WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0)
                          / sqrt(CAST(varnum AS DOUBLE) / 18.0)
                     WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0)
                          / sqrt(CAST(varnum AS DOUBLE) / 18.0)
                     ELSE 0.0 END, 9) AS mk_z
        FROM g ORDER BY event_type
        """


LEADLAG_LAGS = (-2, -1, 0, 1, 2)


def leadlag_corr_types(t: dict[str, DataFrame]) -> DataFrame:
    """Lead-lag cross-correlation between event types' hourly value
    series: for every unordered type pair (A < B) and lag L in
    ``LEADLAG_LAGS``, the Pearson correlation of A's hour-h cents
    total against B's hour-(h+L) total — does type A LEAD type B
    (peak at L>0), lag it, or move synchronously (peak at 0)? The
    cross-series member of the time-series family (autocorr_hourly
    correlates a series with itself; this correlates pairs).

    Exactness: the fact table collapses ONCE to (type, hour, int64
    cents); every pair/lag statistic is computed from that support via
    one hour-aligned join (|types|^2/2 x |hours| x |lags| rows — hour
    count is calendar-bounded, so the join is O(SF) only through the
    first collapse). Moments are DECIMAL(38,0)-exact; the presented
    correlation casts each moment through int64 -> double behind the
    spearman/kendall loud-envelope tier. Precision contract (r10
    advice, stated exactly): moments up to 2^53 convert EXACTLY;
    between 2^53 and int64-max the conversion rounds, but both engines
    apply the same correctly-rounded IEEE int64->double, so the
    cross-engine ROUND(corr, 9) PARITY the oracle hashes is preserved
    over the guard's whole range — the guard bounds parity, not
    exactness. Past int64 (~$3e5 of value per type-hour at two years
    of hours) the plan raises and says to rescale cents to dollars.

    Hours where a type is absent contribute nothing (inner join — the
    correlation is over co-observed hours, n_hours reported).

    Output: (type_a, type_b, lag, n_hours, corr), pair/lag-ordered.
    """
    e = t["events"].select(
        "event_type",
        F.expr(
            "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01')"
            " AS BIGINT) * 24 + hour(ts)"
        ).alias("how"),
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    hourly = (
        e.groupBy("event_type", "how")
        .agg(F.sum("cents").alias("v"))
        .localCheckpoint()
    )
    lags = F.explode(
        F.array(*[F.lit(lag) for lag in LEADLAG_LAGS])
    ).alias("lag")
    a = hourly.select(
        F.col("event_type").alias("type_a"),
        F.col("how").alias("how_a"),
        F.col("v").alias("x"),
        lags,
    )
    b = hourly.select(
        F.col("event_type").alias("type_b"),
        F.col("how").alias("how_b"),
        F.col("v").alias("y"),
    )
    j = a.join(
        b,
        (F.col("type_a") < F.col("type_b"))
        & (F.col("how_b") == F.col("how_a") + F.col("lag")),
    )
    g = j.groupBy("type_a", "type_b", "lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0))")).alias("sx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0))")).alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("syy"),
    )
    imax = "CAST(9223372036854775807 AS DECIMAL(38,0))"
    guard = (
        f"CASE WHEN abs(sx) > {imax} OR abs(sy) > {imax}"
        f" OR abs(sxy) > {imax} OR sxx > {imax} OR syy > {imax}"
        " THEN raise_error(concat("
        "'leadlag_corr_types presentation envelope exceeded for pair ',"
        " type_a, '/', type_b, ': a cents moment no longer fits int64"
        " (the exact decimal sums are fine, but ROUND-parity needs the"
        " int64->double lane). Rescale cents to a coarser unit before"
        " correlating.')) ELSE {expr} END"
    )
    corr = (
        "round("
        " (CAST(n AS DOUBLE) * CAST(CAST(sxy AS BIGINT) AS DOUBLE)"
        "  - CAST(CAST(sx AS BIGINT) AS DOUBLE)"
        "    * CAST(CAST(sy AS BIGINT) AS DOUBLE))"
        " / nullif("
        "   sqrt(CAST(n AS DOUBLE) * CAST(CAST(sxx AS BIGINT) AS DOUBLE)"
        "        - CAST(CAST(sx AS BIGINT) AS DOUBLE)"
        "          * CAST(CAST(sx AS BIGINT) AS DOUBLE))"
        " * sqrt(CAST(n AS DOUBLE) * CAST(CAST(syy AS BIGINT) AS DOUBLE)"
        "        - CAST(CAST(sy AS BIGINT) AS DOUBLE)"
        "          * CAST(CAST(sy AS BIGINT) AS DOUBLE)), 0.0D), 9)"
    )
    return (
        g.select(
            "type_a",
            "type_b",
            F.col("lag").cast("int").alias("lag"),
            F.col("n").alias("n_hours"),
            F.expr(guard.format(expr=corr)).alias("corr"),
        )
        .orderBy("type_a", "type_b", "lag")
    )


def leadlag_corr_oracle_sql() -> str:
    lags = ", ".join(f"({lag})" for lag in LEADLAG_LAGS)
    return f"""
        WITH e AS MATERIALIZED (
          SELECT event_type,
                 CAST(date_diff('day', DATE '1970-01-01',
                                CAST(ts AS DATE)) AS BIGINT) * 24
                 + hour(ts) AS how,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
          FROM events),
        hourly AS MATERIALIZED (
          SELECT event_type, how, CAST(SUM(cents) AS BIGINT) AS v
          FROM e GROUP BY 1, 2),
        lags(lag) AS (VALUES {lags}),
        j AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
                 l.lag, a.v AS x, b.v AS y
          FROM hourly a
          CROSS JOIN lags l
          JOIN hourly b
            ON a.event_type < b.event_type
           AND b.how = a.how + l.lag),
        g AS (
          SELECT type_a, type_b, lag,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(x AS HUGEINT)) AS sx,
                 SUM(CAST(y AS HUGEINT)) AS sy,
                 SUM(CAST(x AS HUGEINT) * y) AS sxy,
                 SUM(CAST(x AS HUGEINT) * x) AS sxx,
                 SUM(CAST(y AS HUGEINT) * y) AS syy
          FROM j GROUP BY 1, 2, 3)
        SELECT type_a, type_b, CAST(lag AS INT) AS lag, n AS n_hours,
               ROUND(
                 (CAST(n AS DOUBLE) * CAST(CAST(sxy AS BIGINT) AS DOUBLE)
                  - CAST(CAST(sx AS BIGINT) AS DOUBLE)
                    * CAST(CAST(sy AS BIGINT) AS DOUBLE))
                 / NULLIF(
                     sqrt(CAST(n AS DOUBLE)
                          * CAST(CAST(sxx AS BIGINT) AS DOUBLE)
                          - CAST(CAST(sx AS BIGINT) AS DOUBLE)
                            * CAST(CAST(sx AS BIGINT) AS DOUBLE))
                   * sqrt(CAST(n AS DOUBLE)
                          * CAST(CAST(syy AS BIGINT) AS DOUBLE)
                          - CAST(CAST(sy AS BIGINT) AS DOUBLE)
                            * CAST(CAST(sy AS BIGINT) AS DOUBLE)), 0.0),
                 9) AS corr
        FROM g ORDER BY type_a, type_b, lag
        """


def theil_sen_slope_daily(t: dict[str, DataFrame]) -> DataFrame:
    """Theil-Sen robust trend slope of the daily count series per
    type — the estimator companion to ``mann_kendall_trend_daily``'s
    test (the classic pairing: MK says IS there a monotone trend,
    Theil-Sen says how steep, robustly): the median of all pairwise
    slopes (c_j - c_i)/(day_j - day_i), immune to the outlier days
    that swing the least-squares line (``ols_value_by_hour``).

    Determinism: each pairwise slope is ONE double division of two
    exact small ints — bit-identical in both engines — and the
    median is the LOWER order statistic (never interpolated, pitfall
    17) under the total order (slope, day_i, day_j), so ties pick the
    same pair everywhere. The pair set is CALENDAR-bounded (days^2,
    constant in SF) — the window sort is over ~2.7e5 pairs per type
    at two years, regardless of fact size.

    Output: (event_type, n_days, n_pairs, sen_slope), type-ordered;
    sen_slope ROUND(9) for presentation only (selection happens on
    the unrounded total order).
    """
    from pyspark.sql import Window

    daily = _daily_type_counts(t)
    a, b = daily.alias("a"), daily.alias("b")
    slopes = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            F.col("a.day").alias("di"),
            F.col("b.day").alias("dj"),
            F.expr(
                "CAST(b.c - a.c AS DOUBLE) / CAST(b.day - a.day AS DOUBLE)"
            ).alias("slope"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("slope", "di", "dj")
    ranked = slopes.withColumn("rn", F.row_number().over(w))
    np_ = slopes.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    md = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    return (
        ranked.join(F.broadcast(np_), "event_type")
        .filter(F.col("rn") == F.expr("(n_pairs + 1) div 2"))
        .join(F.broadcast(md), "event_type")
        .select(
            "event_type",
            "n_days",
            "n_pairs",
            F.expr("round(slope, 9)").alias("sen_slope"),
        )
        .orderBy("event_type")
    )


def theil_sen_oracle_sql() -> str:
    return f"""
        WITH {DAILY_TYPE_COUNTS_CTE_SQL},
        slopes AS (
          SELECT a.event_type,
                 a.day AS di, b.day AS dj,
                 CAST(b.c - a.c AS DOUBLE)
                     / CAST(b.day - a.day AS DOUBLE) AS slope
          FROM daily a JOIN daily b
            ON a.event_type = b.event_type AND a.day < b.day),
        ranked AS (
          SELECT *,
                 CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                         ORDER BY slope, di, dj)
                      AS BIGINT) AS rn,
                 CAST(COUNT(*) OVER (PARTITION BY event_type)
                      AS BIGINT) AS n_pairs
          FROM slopes),
        md AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
               FROM daily GROUP BY 1)
        SELECT r.event_type, md.n_days, r.n_pairs,
               ROUND(r.slope, 9) AS sen_slope
        FROM ranked r JOIN md USING (event_type)
        WHERE r.rn = (r.n_pairs + 1) // 2
        ORDER BY r.event_type
        """


def runs_test_daily(t: dict[str, DataFrame]) -> DataFrame:
    """Wald-Wolfowitz runs test on the day-over-day direction of each
    type's count series: too FEW runs of consecutive ups/downs means
    momentum (trend/autocorrelation), too MANY means oscillation —
    the randomness check that complements Mann-Kendall (a series can
    be trend-free yet strongly non-random). Zero deltas (flat days)
    are excluded, the textbook convention.

    All inputs exact and calendar-bounded: directions from ONE lag
    window over the daily series (days rows per type), run count R =
    1 + #{direction changes} via a second lag, n_up/n_down exact
    counts. Under H0, E[R] = 1 + 2*n1*n2/n and
    Var = 2*n1*n2*(2*n1*n2 - n) / (n^2*(n-1)); the presented
    z = (R - E[R])/sqrt(Var) is double arithmetic over ints far below
    2^53 (n is a day count), ROUND(9), NULL for degenerate series
    (n1 = 0 or n2 = 0 or n < 2).

    Output: (event_type, n_moves, n_up, n_down, n_runs, runs_z).
    """
    from pyspark.sql import Window

    daily = _daily_type_counts(t)
    w = Window.partitionBy("event_type").orderBy("day")
    moves = (
        daily.withColumn("prev_c", F.lag("c").over(w))
        .filter(F.col("prev_c").isNotNull() & (F.col("c") != F.col("prev_c")))
        .select(
            "event_type",
            "day",
            F.expr("CASE WHEN c > prev_c THEN 1 ELSE -1 END").alias("dir"),
        )
    )
    w2 = Window.partitionBy("event_type").orderBy("day")
    runs = (
        moves.withColumn("prev_dir", F.lag("dir").over(w2))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_moves"),
            F.sum(F.when(F.col("dir") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_up"),
            F.sum(F.when(F.col("dir") == -1, 1).otherwise(0))
            .cast("long")
            .alias("n_down"),
            (
                F.lit(1)
                + F.sum(
                    F.when(
                        F.col("prev_dir").isNotNull()
                        & (F.col("dir") != F.col("prev_dir")),
                        1,
                    ).otherwise(0)
                )
            )
            .cast("long")
            .alias("n_runs"),
        )
    )
    z = (
        "round(CASE WHEN n_up = 0 OR n_down = 0 OR n_moves < 2 THEN NULL"
        " ELSE (CAST(n_runs AS DOUBLE)"
        "       - (1.0D + 2.0D * n_up * n_down / n_moves))"
        "      / nullif(sqrt((2.0D * n_up * n_down"
        "                     * (2.0D * n_up * n_down - n_moves))"
        "                    / (CAST(n_moves AS DOUBLE) * n_moves"
        "                       * (n_moves - 1))), 0.0D) END, 9)"
    )
    return (
        runs.select(
            "event_type",
            "n_moves",
            "n_up",
            "n_down",
            "n_runs",
            F.expr(z).alias("runs_z"),
        )
        .orderBy("event_type")
    )


def runs_test_oracle_sql() -> str:
    return f"""
        WITH {DAILY_TYPE_COUNTS_CTE_SQL},
        moves AS (
          SELECT event_type, day,
                 CASE WHEN c > prev_c THEN 1 ELSE -1 END AS dir
          FROM (SELECT event_type, day, c,
                       LAG(c) OVER (PARTITION BY event_type
                                    ORDER BY day) AS prev_c
                FROM daily)
          WHERE prev_c IS NOT NULL AND c <> prev_c),
        runs AS (
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n_moves,
                 CAST(SUM(CASE WHEN dir = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_up,
                 CAST(SUM(CASE WHEN dir = -1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_down,
                 CAST(1 + SUM(CASE WHEN prev_dir IS NOT NULL
                                    AND dir <> prev_dir
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
          FROM (SELECT *,
                       LAG(dir) OVER (PARTITION BY event_type
                                      ORDER BY day) AS prev_dir
                FROM moves)
          GROUP BY 1)
        SELECT event_type, n_moves, n_up, n_down, n_runs,
               ROUND(CASE WHEN n_up = 0 OR n_down = 0 OR n_moves < 2
                     THEN NULL
                     ELSE (CAST(n_runs AS DOUBLE)
                           - (1.0 + 2.0 * n_up * n_down / n_moves))
                          / NULLIF(sqrt((2.0 * n_up * n_down
                                         * (2.0 * n_up * n_down
                                            - n_moves))
                                        / (CAST(n_moves AS DOUBLE)
                                           * n_moves * (n_moves - 1))),
                                   0.0) END, 9) AS runs_z
        FROM runs ORDER BY event_type
        """


# --------------------------------------------------------------------------
# Offline change-point scan (round 11) — the segmentation member of the
# time-series family: CUSUM (cusum_alarms) raises ONLINE drift alarms,
# Mann-Kendall says whether a monotone trend exists; this answers the
# offline question "WHERE did the level shift?" — the first split of
# binary segmentation, scanned exactly.
# --------------------------------------------------------------------------


def changepoint_scan_daily(t: dict[str, DataFrame]) -> DataFrame:
    """Exact change-point scan over each event type's daily revenue
    series: for every admissible split point (after day d, both
    segments non-empty) the between-segment sum-of-squares gain

        gain(d) = (S_L*n - S*n_L)^2 / (n * n_L * n_R)

    — the amount total SSE drops if the series is modeled as two
    means instead of one; argmax(gain) is the binary-segmentation
    change point. The scan is O(days) after ONE calendar-bounded
    collapse: prefix sums via a window over the (type, day, cents)
    series — never a pair join (contrast mann_kendall's day-pair S,
    which needs pairs by definition).

    EXACT INTEGER LANES: the gain is emitted as the two integer
    columns ``gain_num`` = (S_L*n - S*n_L)^2 (cents sums ~1e11 times
    day counts ~1e3, squared ~1e28 — computed DECIMAL(38,0)/HUGEINT
    and presented AS A STRING, because the value exceeds int64 and
    the two engines' client paths diverge on wide decimals: Spark
    hands pandas a Decimal object, DuckDB renders HUGEINT as float64
    — the digits-as-text lane is the one representation both engines
    agree on exactly) and ``gain_den`` = n*n_L*n_R (int64). No
    division ever happens, so no float crosses the oracle hash and
    the argmax is a downstream exact comparison (a/b vs c/d by
    cross-multiply) any consumer can do losslessly. The scan PROFILE
    is the registered output (one row per admissible split, ordered)
    — it carries strictly more information than the argmax and
    avoids hashing an argmax whose near-ties would be engine-fragile.

    100 TB shape: the only SF-proportional work is the first
    collapse to (type, day); everything after is windows over a
    calendar-bounded frame (types x days).
    """
    from pyspark.sql import Window

    e = t["events"].select(
        "event_type",
        F.expr(
            "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)"
        ).alias("day"),
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    daily = e.groupBy("event_type", "day").agg(
        F.sum("cents").alias("v")
    )
    return changepoint_from_daily(daily)


def changepoint_from_daily(daily: DataFrame) -> DataFrame:
    """The scan core over a (event_type, day, v) daily frame — ONE
    scoring function shared by the batch operator and the streaming
    monitor (``streaming.incremental.changepoint_stream``), so
    batch/stream drift is structurally impossible (the
    mk_trend_from_daily convention)."""
    from pyspark.sql import Window

    w_ord = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    pre = (
        daily.withColumn("n_left", F.count(F.lit(1)).over(w_ord))
        .withColumn(
            "s_left", F.sum(F.expr("CAST(v AS DECIMAL(38,0))")).over(w_ord)
        )
        .withColumn("n", F.count(F.lit(1)).over(w_all))
        .withColumn(
            "s", F.sum(F.expr("CAST(v AS DECIMAL(38,0))")).over(w_all)
        )
        .filter(F.col("n_left") < F.col("n"))
    )
    d = F.expr("s_left * n - s * n_left")
    return pre.select(
        "event_type",
        "day",
        "n_left",
        (d * d).cast("decimal(38,0)").cast("string").alias("gain_num"),
        F.expr("n * n_left * (n - n_left)").cast("long").alias("gain_den"),
    ).orderBy("event_type", "day")


def changepoint_scan_daily_oracle_sql() -> str:
    return """
        WITH e AS (
          SELECT event_type,
                 CAST(date_diff('day', DATE '1970-01-01',
                                CAST(ts AS DATE)) AS BIGINT) AS day,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
          FROM events),
        daily AS (
          SELECT event_type, day, SUM(cents) AS v
          FROM e GROUP BY 1, 2),
        pre AS (
          SELECT event_type, day,
                 CAST(COUNT(*) OVER wo AS BIGINT) AS n_left,
                 CAST(SUM(v) OVER wo AS HUGEINT) AS s_left,
                 CAST(COUNT(*) OVER wa AS BIGINT) AS n,
                 CAST(SUM(v) OVER wa AS HUGEINT) AS s
          FROM daily
          WINDOW wo AS (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW),
                 wa AS (PARTITION BY event_type))
        SELECT event_type, day, n_left,
               CAST(CAST((s_left * n - s * n_left)
                         * (s_left * n - s * n_left)
                    AS HUGEINT) AS VARCHAR) AS gain_num,
               CAST(n * n_left * (n - n_left) AS BIGINT) AS gain_den
        FROM pre
        WHERE n_left < n
        ORDER BY event_type, day
        """


def wow_mix_rate_decomposition(t: dict[str, DataFrame]) -> DataFrame:
    """Week-over-week revenue-change DECOMPOSITION per event type —
    the analyst question behind every 'revenue moved, why?' thread:
    how much of this week's change is more/fewer events (volume
    effect), a higher/lower average ticket (rate effect), and the
    cross term (interaction)?

        delta_cents = (n_w - n_p) * r_p          -- volume
                    + n_p * (r_w - r_p)          -- rate
                    + (n_w - n_p) * (r_w - r_p)  -- interaction

    with r = cents/count; the identity is algebraically exact, so
    the three effects reconstruct delta_cents up to float rounding.

    Precision contract: counts and cents sums are EXACT int64 well
    under 2^53 (weekly per-type cents ~1e9 at sf0.1; 2^53 headroom
    reaches ~SF 1e6), so the int64 -> double conversions are exact
    and every later step is IEEE +,-,*,/ — deterministic bit-for-bit
    in BOTH engines on identical operands. The effects therefore
    cross the oracle hash as RAW doubles, deliberately WITHOUT the
    ROUND(9) presentation the libm-adjacent entries use: here the
    unrounded values are already bit-identical, and it is ROUND
    itself that diverges (Spark rounds via exact BigDecimal HALF_UP,
    DuckDB via scaled float round — at sf0.01 a real value landed a
    1-ulp boundary apart, and zero rows came back -0.0 on one engine
    only). Rounding would INTRODUCE the only engine divergence this
    plan can have. The exact lanes (n, cents, both weeks) ride along
    for lossless downstream use.

    Scale shape: one collapse to (week, type) — calendar x domain
    bounded — then a per-type lag; no self-join, no fact-side window.
    """
    from pyspark.sql import Window

    e = t["events"].select(
        "event_type",
        F.expr(
            "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)"
            " DIV 7"
        ).alias("week"),
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    wk = e.groupBy("event_type", "week").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
    )
    w = Window.partitionBy("event_type").orderBy("week")
    j = (
        wk.withColumn("prev_week", F.lag("week").over(w))
        .withColumn("n_p", F.lag("n").over(w))
        .withColumn("s_p", F.lag("s").over(w))
        .filter(F.col("prev_week") == F.col("week") - 1)
    )
    r_w = F.col("s").cast("double") / F.col("n")
    r_p = F.col("s_p").cast("double") / F.col("n_p")
    return j.select(
        "event_type",
        "week",
        F.col("n").alias("n_cur"),
        F.col("n_p").alias("n_prev"),
        F.col("s").alias("cents_cur"),
        F.col("s_p").alias("cents_prev"),
        (F.col("s") - F.col("s_p")).alias("delta_cents"),
        ((F.col("n") - F.col("n_p")) * r_p).alias("volume_effect"),
        (F.col("n_p") * (r_w - r_p)).alias("rate_effect"),
        ((F.col("n") - F.col("n_p")) * (r_w - r_p)).alias(
            "interaction_effect"
        ),
    ).orderBy("event_type", "week")


def wow_mix_rate_decomposition_oracle_sql() -> str:
    return """
        WITH e AS (
          SELECT event_type,
                 CAST(date_diff('day', DATE '1970-01-01',
                                CAST(ts AS DATE)) AS BIGINT) // 7 AS week,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
          FROM events),
        wk AS (
          SELECT event_type, week,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(cents) AS BIGINT) AS s
          FROM e GROUP BY 1, 2),
        j AS (
          SELECT *,
                 LAG(week) OVER w AS prev_week,
                 LAG(n) OVER w AS n_p,
                 LAG(s) OVER w AS s_p
          FROM wk
          WINDOW w AS (PARTITION BY event_type ORDER BY week))
        SELECT event_type, week,
               n AS n_cur, n_p AS n_prev,
               s AS cents_cur, s_p AS cents_prev,
               s - s_p AS delta_cents,
               (n - n_p) * (CAST(s_p AS DOUBLE) / n_p)
                   AS volume_effect,
               n_p * (CAST(s AS DOUBLE) / n
                      - CAST(s_p AS DOUBLE) / n_p)
                   AS rate_effect,
               (n - n_p) * (CAST(s AS DOUBLE) / n
                            - CAST(s_p AS DOUBLE) / n_p)
                   AS interaction_effect
        FROM j WHERE prev_week = week - 1
        ORDER BY event_type, week
        """


#: heavy-key report size — the keys an engineer actually reads.
SKEW_TOP_K = 10


def key_skew_report(t: dict[str, DataFrame], top_k: int = SKEW_TOP_K) -> DataFrame:
    """Join/shuffle-key skew diagnostics for orders.o_custkey — the
    report an engineer pulls BEFORE deciding whether a join needs
    salting (the repo's salted_skew_join / salted_agg_user_value are
    the cures; this is the diagnosis): per-key cardinality profile
    plus the top heavy keys.

    One row per heavy key (rank 1..top_k by count, key ascending on
    ties) carrying the GLOBAL profile alongside: n_rows, n_keys,
    mean-per-key (exact integer div), max count, exact P99 of the
    per-key count distribution (lower order statistic at ceil(0.99*K)
    — a rank pick, never interpolated: pitfall 17), and the skew
    ratio max/mean in integer ppm. skew_ppm >> 1e6 says salt; ~1e6
    says the keys are uniform and salting would only add shuffle.

    Scale shape: ONE fact-side count aggregate; everything after runs
    on the (n_keys)-sized frame — rank windows and a single-row
    profile crossJoined back (broadcast, 1 row). Exact int64
    arithmetic end to end.
    """
    from pyspark.sql import Window

    per_key = (
        t["orders"]
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    prof = per_key.agg(
        F.sum("c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("c").alias("max_count"),
    )
    w_rank = Window.orderBy(F.desc("c"), "key")
    w_stat = Window.orderBy("c")
    # exact lower order statistic at rank ceil(0.99 * K)
    p99 = (
        per_key.withColumn("rn", F.row_number().over(w_stat))
        .crossJoin(F.broadcast(prof.select("n_keys")))
        .filter(F.col("rn") == F.expr("CAST(CEIL(0.99 * n_keys) AS BIGINT)"))
        .select(F.col("c").alias("p99_count"))
    )
    return (
        per_key.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= top_k)
        .crossJoin(F.broadcast(prof))
        .crossJoin(F.broadcast(p99))
        .select(
            "rank",
            F.col("key").alias("heavy_key"),
            F.col("c").alias("key_count"),
            "n_rows",
            "n_keys",
            F.expr("n_rows div n_keys").alias("mean_count"),
            "max_count",
            "p99_count",
            F.expr(
                "max_count * 1000000L div (n_rows div n_keys)"
            ).alias("skew_ppm"),
        )
        .orderBy("rank")
    )


def key_skew_report_oracle_sql(top_k: int = SKEW_TOP_K) -> str:
    return f"""
        WITH per_key AS (
          SELECT o_custkey AS key, CAST(COUNT(*) AS BIGINT) AS c
          FROM orders GROUP BY 1),
        prof AS (
          SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
                 CAST(COUNT(*) AS BIGINT) AS n_keys,
                 CAST(MAX(c) AS BIGINT) AS max_count
          FROM per_key),
        p99 AS (
          SELECT c AS p99_count
          FROM (SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn
                FROM per_key) x, prof
          WHERE rn = CAST(CEIL(0.99 * n_keys) AS BIGINT)),
        ranked AS (
          SELECT key, c,
                 ROW_NUMBER() OVER (ORDER BY c DESC, key) AS rank
          FROM per_key)
        SELECT rank, key AS heavy_key, c AS key_count,
               n_rows, n_keys,
               n_rows // n_keys AS mean_count,
               max_count, p99_count,
               max_count * 1000000 // (n_rows // n_keys) AS skew_ppm
        FROM ranked, prof, p99
        WHERE rank <= {top_k}
        ORDER BY rank
        """


#: loud envelope for the welch/anova second-moment lane: sum(cents^2)
#: must stay exact in int64. cents ~1e5 per event gives 1e16 at sf0.1
#: — int64 holds to 9.2e18 (~SF 100 here); past that the raise says
#: to lift the moment to decimal(38,0).
SQ_MOMENT_MAX = 2**63 - 1


def _cents_moments_by_type(t: dict[str, DataFrame]) -> DataFrame:
    """Shared (event_type, n, s, s2) exact-moment collapse for the
    classical mean-comparison tests (Welch t, one-way ANOVA): int64
    cents sums and second moments with a LOUD overflow guard on s2
    (the markov/leadlag raise_error tier). int64 -> double conversion
    is correctly rounded in BOTH engines (the spearman r9 finding), so
    every downstream statistic is an IEEE-deterministic chain over
    identical operands and crosses the oracle hash as RAW doubles (the
    wow_mix_rate_decomposition presentation rule)."""
    e = t["events"].select(
        "event_type",
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("c"),
    )
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("s"),
            F.sum(F.expr("c * c")).alias("s2_raw"),
        )
        .select(
            "event_type",
            "n",
            "s",
            F.expr(
                f"CASE WHEN s2_raw > {SQ_MOMENT_MAX // 2}L THEN"
                " raise_error(concat('cents second moment ',"
                " CAST(s2_raw AS STRING), ' leaves the int64 exact"
                " lane — lift _cents_moments_by_type to"
                " decimal(38,0)')) ELSE s2_raw END"
            ).alias("s2"),
        )
    )


#: DuckDB text of the SAME collapse (one definition per drift rule).
_CENTS_MOMENTS_CTE_SQL = """
        m AS MATERIALIZED (
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(c) AS BIGINT) AS s,
                 CAST(SUM(c * c) AS BIGINT) AS s2
          FROM (SELECT event_type,
                       CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
                FROM events)
          GROUP BY event_type)
"""


def welch_ttest_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """Welch's unequal-variance t between every event-type pair's
    cents values — the parametric member of the two-sample family
    (mann_whitney compares ranks, ks/w1/tv whole distributions,
    conversion_ztest proportions; Welch compares MEANS without the
    pooled-variance assumption plain Student's t makes).

    One exact-moment collapse, then a types^2/2-bounded pair join:
    mean = s/n and sample variance = (s2 - s*(s/n)) / (n-1), computed
    ENTIRELY in the int64 -> double lane (the textbook n*s2 - s^2
    decimal numerator reaches ~1e22, and DECIMAL(38) -> DOUBLE is the
    not-correctly-rounded DuckDB cast the spearman entry documented;
    s2 is int64 by the loud guard and int64 -> double is correctly
    rounded in both engines), then the Welch statistic and the
    Welch-Satterthwaite degrees of freedom. Every step after the
    exact lanes is IEEE +,-,*,/,sqrt on identical operands, so the
    RAW doubles hash cross-engine (no ROUND; it is the only thing
    that could diverge — measured in wow_mix_rate_decomposition).

    Output per pair (type_a < type_b): n/mean/var per side, welch_t,
    welch_df. Degenerate pairs (n < 2 or both variances zero) carry
    NULL t/df rather than a division blow-up.
    """
    m = _cents_moments_by_type(t)
    a = m.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("na"),
        F.col("s").alias("sa"),
        F.col("s2").alias("s2a"),
    )
    b = m.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("nb"),
        F.col("s").alias("sb"),
        F.col("s2").alias("s2b"),
    )
    j = a.join(b, F.col("type_a") < F.col("type_b"))
    # variance via the int64 -> double lane ONLY: the textbook
    # (n*s2 - s^2) / (n*(n-1)) decimal form reaches ~1e22, and the
    # DECIMAL(38) -> DOUBLE cast is the NOT-correctly-rounded DuckDB
    # lane the spearman entry documented. s2 (<= int64 by the guard)
    # and s (< 2^53) convert exactly-or-correctly-rounded in both
    # engines, so (s2 - s*(s/n)) / (n-1) is an IEEE-deterministic
    # chain — deterministic cancellation, bit-identical cross-engine.
    var = (
        "(CAST({s2} AS DOUBLE) -"
        " CAST({s} AS DOUBLE) * (CAST({s} AS DOUBLE) / {n}))"
        " / ({n} - 1)"
    )
    va, vb = var.format(n="na", s="sa", s2="s2a"), var.format(
        n="nb", s="sb", s2="s2b"
    )
    se2 = f"(({va}) / na + ({vb}) / nb)"
    return j.select(
        "type_a",
        "type_b",
        "na",
        "nb",
        F.expr("CAST(sa AS DOUBLE) / na").alias("mean_a"),
        F.expr("CAST(sb AS DOUBLE) / nb").alias("mean_b"),
        F.expr(f"CASE WHEN na >= 2 THEN {va} END").alias("var_a"),
        F.expr(f"CASE WHEN nb >= 2 THEN {vb} END").alias("var_b"),
        F.expr(
            f"CASE WHEN na >= 2 AND nb >= 2 AND {se2} > 0 THEN"
            f" (CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)"
            f" / sqrt({se2}) END"
        ).alias("welch_t"),
        F.expr(
            f"CASE WHEN na >= 2 AND nb >= 2 AND {se2} > 0 THEN"
            f" ({se2}) * ({se2}) /"
            f" ((({va}) / na) * (({va}) / na) / (na - 1)"
            f"  + (({vb}) / nb) * (({vb}) / nb) / (nb - 1)) END"
        ).alias("welch_df"),
    ).orderBy("type_a", "type_b")


def welch_ttest_pairs_oracle_sql() -> str:
    var = (
        "(CAST({s2} AS DOUBLE) -"
        " CAST({s} AS DOUBLE) * (CAST({s} AS DOUBLE) / {n}))"
        " / ({n} - 1)"
    )
    va, vb = var.format(n="na", s="sa", s2="s2a"), var.format(
        n="nb", s="sb", s2="s2b"
    )
    se2 = f"(({va}) / na + ({vb}) / nb)"
    return f"""
        WITH {_CENTS_MOMENTS_CTE_SQL},
        a AS (SELECT event_type AS type_a, n AS na, s AS sa, s2 AS s2a
              FROM m),
        b AS (SELECT event_type AS type_b, n AS nb, s AS sb, s2 AS s2b
              FROM m)
        SELECT type_a, type_b, na, nb,
               CAST(sa AS DOUBLE) / na AS mean_a,
               CAST(sb AS DOUBLE) / nb AS mean_b,
               CASE WHEN na >= 2 THEN {va} END AS var_a,
               CASE WHEN nb >= 2 THEN {vb} END AS var_b,
               CASE WHEN na >= 2 AND nb >= 2 AND {se2} > 0 THEN
                 (CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
                 / sqrt({se2}) END AS welch_t,
               CASE WHEN na >= 2 AND nb >= 2 AND {se2} > 0 THEN
                 ({se2}) * ({se2}) /
                 ((({va}) / na) * (({va}) / na) / (na - 1)
                  + (({vb}) / nb) * (({vb}) / nb) / (nb - 1)) END
                   AS welch_df
        FROM a JOIN b ON type_a < type_b
        ORDER BY type_a, type_b
        """


def anova_oneway_types(t: dict[str, DataFrame]) -> DataFrame:
    """One-way ANOVA F across event types' cents values — the k-group
    member of the mean-comparison family (welch_ttest_pairs is the
    pairwise member; ANOVA answers 'do the k means differ AT ALL'
    before anyone goes pair-hunting).

    From the shared exact-moment collapse: SSB = sum_g s_g*(s_g/n_g)
    - s*(s/n) and SSW = s2_tot - sum_g s_g*(s_g/n_g). The sum over
    GROUPS is the one order-sensitive float fold in the plan, so it
    runs over the type-SORTED term array (Spark array_sort +
    aggregate, DuckDB ORDER BY list + prepended-seed list_reduce —
    the cramers_v left-fold parity recipe: identical addition order,
    bit-identical result). Totals stay in int64 exact lanes (s2_tot
    summed in DECIMAL behind a loud int64 gate); every division and
    the F ratio are IEEE-deterministic, hashed as RAW doubles.

    Output: ONE row — k, n_total, ss_between, ss_within, f_stat
    (NULL on degenerate k < 2 or zero within-variance).
    """
    m = _cents_moments_by_type(t)
    term = "CAST(s AS DOUBLE) * (CAST(s AS DOUBLE) / n)"
    g = m.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n_total"),
        F.sum("s").alias("s_tot"),
        F.expr(
            f"CASE WHEN CAST(SUM(CAST(s2 AS DECIMAL(38,0))) AS"
            f" DECIMAL(38,0)) > {SQ_MOMENT_MAX}"
            " THEN raise_error('anova s2 total leaves the int64 exact"
            " lane — lift _cents_moments_by_type to decimal(38,0)')"
            " ELSE CAST(SUM(CAST(s2 AS DECIMAL(38,0))) AS BIGINT) END"
        ).alias("s2_tot"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(event_type,"
            f" {term} AS term))), 0D, (acc, x) -> acc + x.term)"
        ).alias("sum_terms"),
    )
    ssb = "(sum_terms - CAST(s_tot AS DOUBLE) * (CAST(s_tot AS DOUBLE) / n_total))"
    ssw = "(CAST(s2_tot AS DOUBLE) - sum_terms)"
    return g.select(
        "k",
        "n_total",
        F.expr(ssb).alias("ss_between"),
        F.expr(ssw).alias("ss_within"),
        F.expr(
            f"CASE WHEN k >= 2 AND n_total > k AND {ssw} > 0 THEN"
            f" ({ssb} / (k - 1)) / ({ssw} / (n_total - k)) END"
        ).alias("f_stat"),
    )


def anova_oneway_types_oracle_sql() -> str:
    term = "CAST(s AS DOUBLE) * (CAST(s AS DOUBLE) / n)"
    ssb = (
        "(sum_terms - CAST(s_tot AS DOUBLE)"
        " * (CAST(s_tot AS DOUBLE) / n_total))"
    )
    ssw = "(CAST(s2_tot AS DOUBLE) - sum_terms)"
    return f"""
        WITH {_CENTS_MOMENTS_CTE_SQL},
        g AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS k,
                 CAST(SUM(n) AS BIGINT) AS n_total,
                 CAST(SUM(s) AS BIGINT) AS s_tot,
                 CAST(SUM(s2) AS BIGINT) AS s2_tot,
                 list_reduce(list_prepend(0.0,
                     list({term} ORDER BY event_type)),
                     (acc, x) -> acc + x) AS sum_terms
          FROM m)
        SELECT k, n_total,
               {ssb} AS ss_between,
               {ssw} AS ss_within,
               CASE WHEN k >= 2 AND n_total > k AND {ssw} > 0 THEN
                 ({ssb} / (k - 1)) / ({ssw} / (n_total - k)) END
                   AS f_stat
        FROM g
        """


def _pair_common_support(t: dict[str, DataFrame]) -> DataFrame:
    """Shared (type_a, type_b, n_a, n_b, cents, ca, cb) INNER common
    support for the pmf-overlap distances (Hellinger/Bhattacharyya):
    buckets where EITHER side is zero contribute nothing to a
    sqrt(p*q)-style overlap term, so unlike the tv_distance_pairs
    union support this is a plain equi-join on cents — the cheapest
    possible pair support. Bucket count is DOMAIN-bounded (distinct
    cents <= value-range * 100, ~18k at sf0.1, ~56k at any SF), not
    row-bounded, so the per-pair arrays downstream stay O(domain) at
    100 TB."""
    e = t["events"]
    counts = (
        e.select(
            "event_type",
            F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias(
                "cents"
            ),
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.groupBy("event_type").agg(F.sum("c").alias("n"))
    pairs = (
        totals.select(
            F.col("event_type").alias("ta"), F.col("n").alias("na")
        )
        .crossJoin(
            totals.select(
                F.col("event_type").alias("tb"), F.col("n").alias("nb")
            )
        )
        .filter(F.col("ta") < F.col("tb"))
    )
    a = counts.select(
        F.col("event_type").alias("ta"), "cents", F.col("c").alias("ca")
    )
    b = counts.select(
        F.col("event_type").alias("tb"), "cents", F.col("c").alias("cb")
    )
    return pairs.join(a, "ta").join(b, ["tb", "cents"])


def hellinger_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """Hellinger distance + Bhattacharyya coefficient between every
    event-type pair's cents pmfs — the GEOMETRIC member of the drift
    family (KS: sup CDF gap; W1: integrated CDF gap; TV: half-L1 on
    pmfs; Hellinger: L2 between sqrt-pmfs, H^2 = 1 - BC with
    BC = sum_x sqrt(p_a * p_b)). BC is the natural "how much do the
    two value distributions OVERLAP" score (1 identical, 0 disjoint),
    and H is a proper bounded metric — the right alarm when a
    downstream consumer needs triangle-inequality guarantees (e.g.
    drift-based routing).

    Determinism without ROUND: unlike ln (the collocations_pmi 1-ulp
    lesson), sqrt IS correctly rounded by IEEE 754 in both engines, so
    term = sqrt(double(ca) * double(cb)) is a bit-identical chain
    (ca, cb < 2^53 convert exactly; one multiply, one sqrt — each a
    single correctly-rounded operation). The only order-sensitive step
    is the sum over buckets, which runs as the anova cents-sorted
    left fold in BOTH engines (Spark array_sort + aggregate, DuckDB
    ORDER BY list + prepended-seed list_reduce) — identical addition
    order, so bc and hellinger hash cross-engine as RAW doubles.

    Plan: one fact aggregate to (type, cents), one broadcast-sized
    totals cross (5 types -> 10 pair rows), one equi-join on cents for
    the common support, one pair-grouped sorted fold. The fold array
    is domain-bounded (<= distinct cents), never row-bounded.

    Output: (type_a, type_b, n_a, n_b, common_buckets, bc_coeff,
    hellinger), ordered by pair.
    """
    s = _pair_common_support(t)
    term = "sqrt(CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE))"
    g = s.groupBy("ta", "tb", "na", "nb").agg(
        F.count(F.lit(1)).alias("common_buckets"),
        F.expr(
            f"aggregate(array_sort(collect_list(struct(cents,"
            f" {term} AS term))), 0D, (acc, x) -> acc + x.term)"
        ).alias("sum_sqrt"),
    )
    bc = "(sum_sqrt / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))"
    return g.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        "common_buckets",
        F.expr(bc).alias("bc_coeff"),
        F.expr(f"sqrt(greatest(0D, 1D - {bc}))").alias("hellinger"),
    ).orderBy("type_a", "type_b")


def hellinger_pairs_oracle_sql() -> str:
    """DuckDB replay: same counts/pairs/common-support collapse; the
    bucket fold is the cents-ordered prepended-seed list_reduce
    (left-fold parity with Spark's aggregate), every scalar step a
    correctly-rounded IEEE op — RAW double hash, no ROUND."""
    return """
        WITH counts AS MATERIALIZED (
          SELECT event_type,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2),
        totals AS (
          SELECT event_type, CAST(SUM(c) AS BIGINT) AS n
          FROM counts GROUP BY event_type),
        pairs AS (
          SELECT a.event_type AS ta, a.n AS na,
                 b.event_type AS tb, b.n AS nb
          FROM totals a JOIN totals b ON a.event_type < b.event_type),
        support AS MATERIALIZED (
          SELECT p.ta, p.tb, p.na, p.nb, ca.cents,
                 ca.c AS ca, cb.c AS cb
          FROM pairs p
          JOIN counts ca ON ca.event_type = p.ta
          JOIN counts cb ON cb.event_type = p.tb
                        AND cb.cents = ca.cents),
        g AS (
          SELECT ta, tb, na, nb,
                 CAST(COUNT(*) AS BIGINT) AS common_buckets,
                 list_reduce(list_prepend(0.0,
                     list(sqrt(CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE))
                          ORDER BY cents)),
                     (acc, x) -> acc + x) AS sum_sqrt
          FROM support GROUP BY ta, tb, na, nb)
        SELECT ta AS type_a, tb AS type_b, na AS n_a, nb AS n_b,
               common_buckets,
               sum_sqrt / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                   AS bc_coeff,
               sqrt(greatest(0.0, 1.0 -
                 sum_sqrt / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))))
                   AS hellinger
        FROM g
        ORDER BY type_a, type_b
        """


def jensen_shannon_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """Jensen-Shannon divergence (nats) + JS distance between every
    event-type pair's cents pmfs — the information-theoretic member of
    the drift family and the standard bounded symmetrization of KL
    (KL itself blows up on disjoint support, which real drift has;
    JSD = (1/2) KL(p||m) + (1/2) KL(q||m) with m the midpoint is
    always <= ln 2, and sqrt(JSD) is a metric).

    Support: the tv_distance_pairs UNION support (buckets where either
    side is non-zero — a one-sided bucket contributes p*ln 2, not 0).
    Per bucket, with p = ca/na and q = cb/nb:
      term = [ca>0] p*ln(2p/(p+q)) + [cb>0] q*ln(2q/(p+q))
    and jsd = (cents-sorted left fold of terms) / 2.

    Presentation: ln is NOT correctly rounded and the JVM/DuckDB libm
    disagree in the last ulp (the collocations_pmi measurement), so
    this entry uses the bm25/readability ROUND(9) lane. The accumulated
    cross-engine error is ~1e-17 absolute per pair (1-ulp on ~1e-5
    terms over a domain-bounded <=~56k-bucket fold) against a 5e-10
    rounding boundary — nine decimals is conservative by seven orders
    of magnitude.

    Plan: identical shape to tv_distance_pairs (one fact aggregate,
    one broadcast-sized pair cross, union support, one pair-grouped
    sorted fold); the fold array is domain-bounded.

    Output: (type_a, type_b, n_a, n_b, support_buckets, jsd_nats,
    js_distance), ROUND(9) on the two statistics, ordered by pair.
    """
    e = t["events"]
    counts = (
        e.select(
            "event_type",
            F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias(
                "cents"
            ),
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.groupBy("event_type").agg(F.sum("c").alias("n"))
    pairs = (
        totals.select(
            F.col("event_type").alias("ta"), F.col("n").alias("na")
        )
        .crossJoin(
            totals.select(
                F.col("event_type").alias("tb"), F.col("n").alias("nb")
            )
        )
        .filter(F.col("ta") < F.col("tb"))
    )
    side_a = pairs.join(
        counts.select(
            F.col("event_type").alias("ta"),
            "cents",
            F.col("c").alias("ca"),
        ),
        "ta",
    ).select("ta", "tb", "na", "nb", "cents", "ca", F.lit(0).alias("cb"))
    side_b = pairs.join(
        counts.select(
            F.col("event_type").alias("tb"),
            "cents",
            F.col("c").alias("cb"),
        ),
        "tb",
    ).select("ta", "tb", "na", "nb", "cents", F.lit(0).alias("ca"), "cb")
    support = (
        side_a.unionByName(side_b)
        .groupBy("ta", "tb", "na", "nb", "cents")
        .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
    )
    p = "(CAST(ca AS DOUBLE) / na)"
    q = "(CAST(cb AS DOUBLE) / nb)"
    term = (
        f"(CASE WHEN ca > 0 THEN {p} * ln(2D * {p} / ({p} + {q}))"
        f" ELSE 0D END)"
        f" + (CASE WHEN cb > 0 THEN {q} * ln(2D * {q} / ({p} + {q}))"
        f" ELSE 0D END)"
    )
    g = support.groupBy("ta", "tb", "na", "nb").agg(
        F.count(F.lit(1)).alias("support_buckets"),
        F.expr(
            f"aggregate(array_sort(collect_list(struct(cents,"
            f" {term} AS term))), 0D, (acc, x) -> acc + x.term)"
        ).alias("sum_terms"),
    )
    return g.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        "support_buckets",
        F.round(F.expr("sum_terms / 2D"), 9).alias("jsd_nats"),
        F.round(
            F.expr("sqrt(greatest(0D, sum_terms / 2D))"), 9
        ).alias("js_distance"),
    ).orderBy("type_a", "type_b")


def jensen_shannon_oracle_sql() -> str:
    """DuckDB replay of the union support + cents-ordered fold;
    ROUND(9) presentation absorbs the engine-dependent last ulp of
    ln (see jensen_shannon_pairs docstring)."""
    p = "(CAST(ca AS DOUBLE) / na)"
    q = "(CAST(cb AS DOUBLE) / nb)"
    term = (
        f"(CASE WHEN ca > 0 THEN {p} * ln(2.0 * {p} / ({p} + {q}))"
        f" ELSE 0.0 END)"
        f" + (CASE WHEN cb > 0 THEN {q} * ln(2.0 * {q} / ({p} + {q}))"
        f" ELSE 0.0 END)"
    )
    return f"""
        WITH counts AS MATERIALIZED (
          SELECT event_type,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2),
        totals AS (
          SELECT event_type, CAST(SUM(c) AS BIGINT) AS n
          FROM counts GROUP BY event_type),
        pairs AS (
          SELECT a.event_type AS ta, a.n AS na,
                 b.event_type AS tb, b.n AS nb
          FROM totals a JOIN totals b ON a.event_type < b.event_type),
        support AS MATERIALIZED (
          SELECT ta, tb, na, nb, cents,
                 CAST(SUM(ca) AS BIGINT) AS ca,
                 CAST(SUM(cb) AS BIGINT) AS cb
          FROM (
            SELECT p.ta, p.tb, p.na, p.nb, c.cents, c.c AS ca, 0 AS cb
            FROM pairs p JOIN counts c ON c.event_type = p.ta
            UNION ALL
            SELECT p.ta, p.tb, p.na, p.nb, c.cents, 0, c.c
            FROM pairs p JOIN counts c ON c.event_type = p.tb)
          GROUP BY ta, tb, na, nb, cents),
        g AS (
          SELECT ta, tb, na, nb,
                 CAST(COUNT(*) AS BIGINT) AS support_buckets,
                 list_reduce(list_prepend(0.0,
                     list({term} ORDER BY cents)),
                     (acc, x) -> acc + x) AS sum_terms
          FROM support GROUP BY ta, tb, na, nb)
        SELECT ta AS type_a, tb AS type_b, na AS n_a, nb AS n_b,
               support_buckets,
               ROUND(sum_terms / 2.0, 9) AS jsd_nats,
               ROUND(sqrt(greatest(0.0, sum_terms / 2.0)), 9)
                   AS js_distance
        FROM g
        ORDER BY type_a, type_b
        """


def cohens_d_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """Cohen's d + Hedges' g effect size between every event-type
    pair's cents means — the EFFECT-SIZE companion to welch_ttest_pairs
    (a t statistic says "significant"; d says "by how many pooled
    standard deviations", which is what survives a 100x sample-size
    change; g applies the small-sample bias correction
    J = 1 - 3/(4m - 9), m = na + nb, the standard rational
    approximation of the exact gamma-ratio factor).

    Same exact-moment collapse and int64 -> double variance lane as
    welch_ttest_pairs (_cents_moments_by_type; variance as
    (s2 - s*(s/n)) / (n-1) to stay off the not-correctly-rounded
    DECIMAL(38)->DOUBLE DuckDB cast). The pooled sd adds one sqrt —
    correctly rounded IEEE — so d, J and g are deterministic chains
    over identical operands and hash as RAW doubles.

    Output per pair (type_a < type_b): n/mean per side, sd_pooled,
    cohens_d, hedges_g; degenerate pairs (m <= 2 or zero pooled
    variance) carry NULLs.
    """
    m = _cents_moments_by_type(t)
    a = m.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("na"),
        F.col("s").alias("sa"),
        F.col("s2").alias("s2a"),
    )
    b = m.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("nb"),
        F.col("s").alias("sb"),
        F.col("s2").alias("s2b"),
    )
    j = a.join(b, F.col("type_a") < F.col("type_b"))
    ssd = (
        "(CAST({s2} AS DOUBLE) -"
        " CAST({s} AS DOUBLE) * (CAST({s} AS DOUBLE) / {n}))"
    )
    ssa, ssb_ = ssd.format(s="sa", s2="s2a", n="na"), ssd.format(
        s="sb", s2="s2b", n="nb"
    )
    sp = f"sqrt((({ssa}) + ({ssb_})) / (na + nb - 2))"
    d = f"(CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb) / ({sp})"
    jf = "(1D - 3D / (4D * (na + nb) - 9D))"
    ok = f"(na + nb > 2 AND (({ssa}) + ({ssb_})) > 0)"
    return j.select(
        "type_a",
        "type_b",
        "na",
        "nb",
        F.expr("CAST(sa AS DOUBLE) / na").alias("mean_a"),
        F.expr("CAST(sb AS DOUBLE) / nb").alias("mean_b"),
        F.expr(f"CASE WHEN {ok} THEN {sp} END").alias("sd_pooled"),
        F.expr(f"CASE WHEN {ok} THEN {d} END").alias("cohens_d"),
        F.expr(f"CASE WHEN {ok} THEN ({d}) * {jf} END").alias("hedges_g"),
    ).orderBy("type_a", "type_b")


def cohens_d_pairs_oracle_sql() -> str:
    ssd = (
        "(CAST({s2} AS DOUBLE) -"
        " CAST({s} AS DOUBLE) * (CAST({s} AS DOUBLE) / {n}))"
    )
    ssa, ssb_ = ssd.format(s="sa", s2="s2a", n="na"), ssd.format(
        s="sb", s2="s2b", n="nb"
    )
    sp = f"sqrt((({ssa}) + ({ssb_})) / (na + nb - 2))"
    d = f"(CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb) / ({sp})"
    jf = "(1.0 - 3.0 / (4.0 * (na + nb) - 9.0))"
    ok = f"(na + nb > 2 AND (({ssa}) + ({ssb_})) > 0)"
    return f"""
        WITH {_CENTS_MOMENTS_CTE_SQL},
        a AS (SELECT event_type AS type_a, n AS na, s AS sa, s2 AS s2a
              FROM m),
        b AS (SELECT event_type AS type_b, n AS nb, s AS sb, s2 AS s2b
              FROM m)
        SELECT type_a, type_b, na, nb,
               CAST(sa AS DOUBLE) / na AS mean_a,
               CAST(sb AS DOUBLE) / nb AS mean_b,
               CASE WHEN {ok} THEN {sp} END AS sd_pooled,
               CASE WHEN {ok} THEN {d} END AS cohens_d,
               CASE WHEN {ok} THEN ({d}) * {jf} END AS hedges_g
        FROM a JOIN b ON type_a < type_b
        ORDER BY type_a, type_b
        """


def grubbs_test_daily(t: dict[str, DataFrame]) -> DataFrame:
    """Grubbs' max-outlier statistic on each type's daily-count series
    — the single-point member of the anomaly bench (CUSUM finds level
    SHIFTS, changepoint_scan segment means, MK monotone trend; Grubbs
    asks "is the single most extreme day inconsistent with the rest?"
    via G = max|c - mean| / sd).

    Off the shared _daily_type_counts collapse. Moments stay int64
    with a LOUD guard on sum(c^2) (daily counts reach ~5.5e7/day at
    the 100 TB SF, c^2 ~ 3e15, x365 days ~ 1e18 — inside int64 but
    close enough to deserve the raise); mean and sample variance use
    the welch int64 -> double lane. The deviation max is a MAX over
    per-day deterministic doubles (order-independent), and the
    flagged day is the MIN day achieving it (exact double equality on
    identical chains — deterministic tie-break). G adds one sqrt:
    RAW-double hashable end to end.

    Output per type: n_days, mean_c, sd_c, max_dev, grubbs_g,
    outlier_day, outlier_count (NULL stats when n < 3 or sd == 0).
    """
    daily = _daily_type_counts(t)
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.expr(
            f"CASE WHEN SUM(c * c) > {SQ_MOMENT_MAX // 2}L THEN"
            " raise_error('grubbs daily second moment leaves the"
            " int64 exact lane — lift to decimal(38,0)')"
            " ELSE SUM(c * c) END"
        ).alias("s2"),
    )
    var = (
        "((CAST(s2 AS DOUBLE) -"
        " CAST(s AS DOUBLE) * (CAST(s AS DOUBLE) / n)) / (n - 1))"
    )
    dev = "abs(CAST(c AS DOUBLE) - CAST(s AS DOUBLE) / n)"
    j = daily.join(m, "event_type").select(
        "event_type", "day", "c", "n", "s", "s2", F.expr(dev).alias("dev")
    )
    g = j.groupBy("event_type", "n", "s", "s2").agg(
        F.max("dev").alias("max_dev"),
        F.expr("min_by(struct(day, c), struct(-dev, day)).day").alias(
            "outlier_day"
        ),
        F.expr("min_by(struct(day, c), struct(-dev, day)).c").alias(
            "outlier_count"
        ),
    )
    ok = f"(n >= 3 AND {var} > 0)"
    return g.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.expr("CAST(s AS DOUBLE) / n").alias("mean_c"),
        F.expr(f"CASE WHEN {ok} THEN sqrt({var}) END").alias("sd_c"),
        "max_dev",
        F.expr(
            f"CASE WHEN {ok} THEN max_dev / sqrt({var}) END"
        ).alias("grubbs_g"),
        "outlier_day",
        "outlier_count",
    ).orderBy("event_type")


def grubbs_test_daily_oracle_sql() -> str:
    """DuckDB replay: same daily collapse, same int64 moment lane.
    DuckDB's arg_min takes no struct ordering key, so the tie-break is
    spelled as its equivalent filter form: among rows with
    dev = max_dev (exact double equality on identical chains), take
    MIN(day) and that day's count — precisely what Spark's
    min_by(struct(day, c), struct(-dev, day)) picks."""
    var = (
        "((CAST(s2 AS DOUBLE) -"
        " CAST(s AS DOUBLE) * (CAST(s AS DOUBLE) / n)) / (n - 1))"
    )
    dev = "abs(CAST(c AS DOUBLE) - CAST(s AS DOUBLE) / n)"
    ok = f"(n >= 3 AND {var} > 0)"
    return f"""
        WITH {DAILY_TYPE_COUNTS_CTE_SQL},
        m AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(c) AS BIGINT) AS s,
                 CAST(SUM(c * c) AS BIGINT) AS s2
          FROM daily GROUP BY event_type),
        j AS (
          SELECT d.event_type, d.day, d.c, m.n, m.s, m.s2,
                 {dev} AS dev
          FROM daily d JOIN m ON m.event_type = d.event_type),
        g AS (
          SELECT event_type, n, s, s2, MAX(dev) AS max_dev
          FROM j GROUP BY event_type, n, s, s2),
        pick AS (
          SELECT j.event_type,
                 CAST(MIN(j.day) AS BIGINT) AS outlier_day,
                 arg_min(j.c, j.day) AS outlier_count
          FROM j JOIN g ON g.event_type = j.event_type
                       AND j.dev = g.max_dev
          GROUP BY j.event_type)
        SELECT g.event_type,
               CAST(n AS BIGINT) AS n_days,
               CAST(s AS DOUBLE) / n AS mean_c,
               CASE WHEN {ok} THEN sqrt({var}) END AS sd_c,
               max_dev,
               CASE WHEN {ok} THEN max_dev / sqrt({var}) END AS grubbs_g,
               outlier_day,
               CAST(outlier_count AS BIGINT) AS outlier_count
        FROM g JOIN pick ON pick.event_type = g.event_type
        ORDER BY g.event_type
        """


def ols_discount_qty_by_brand(t: dict[str, DataFrame]) -> DataFrame:
    """Per-brand closed-form OLS of quantity on discount percent —
    GROUPED regression: thousands of independent small regressions in
    ONE aggregation pass ("does discounting move volume, and for
    which brands?"). ols_value_by_hour fits one global line; this is
    the map-side-combinable many-models shape a feature pipeline
    actually runs (one shuffle keyed by brand, no iteration — the
    closed form IS the fit).

    Exact lanes: x = discount percent (TPC-H discounts are exact
    hundredths, 0..10 after the cents rounding trick), y = quantity
    (int <= 50). All five moments (n, Σx, Σy, Σxy, Σx²) are int64
    (Σxy <= 500n — exact to n ~ 1.8e16 rows per brand, loudly guarded
    via the division-form predicate). slope = (nΣxy - ΣxΣy) /
    (nΣx² - (Σx)²) evaluated in the int64->double lane: each int64
    converts correctly-rounded, each product/subtract/divide is one
    IEEE op over identical operands in both engines — deterministic
    even where the big-n cancellation loses precision, because BOTH
    engines lose it identically. RAW-double hash.

    Output per brand: n, x/y sums, slope, intercept (NULL when the
    brand has a single discount level — zero x-variance).
    """
    li = t["lineitem"].select(
        "l_partkey",
        F.expr("CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)").alias("x"),
        F.expr("CAST(l_quantity AS BIGINT)").alias("y"),
    )
    p = t["part"].select(F.col("p_partkey").alias("l_partkey"), "p_brand")
    m = (
        li.join(p, "l_partkey")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.expr(
                # division-form guard: Σxy <= 500n must stay int64 —
                # n > (2^63-1)/500 would let it wrap under ansi=false.
                f"CASE WHEN COUNT(*) > {(2**63 - 1) // 500}L THEN"
                " raise_error('ols_discount_qty_by_brand moment leaves"
                " the int64 exact lane — lift Σxy to decimal(38,0)')"
                " ELSE SUM(x * y) END"
            ).alias("sxy"),
            F.sum(F.expr("x * x")).alias("sxx"),
        )
    )
    den = (
        "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    num = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    )
    slope = f"({num} / {den})"
    return m.select(
        "p_brand",
        "n",
        "sx",
        "sy",
        "sxy",
        "sxx",
        F.expr(f"CASE WHEN {den} > 0 THEN {slope} END").alias("slope"),
        F.expr(
            f"CASE WHEN {den} > 0 THEN"
            f" (CAST(sy AS DOUBLE) - {slope} * CAST(sx AS DOUBLE))"
            f" / CAST(n AS DOUBLE) END"
        ).alias("intercept"),
    ).orderBy("p_brand")


def ols_discount_qty_by_brand_oracle_sql() -> str:
    den = (
        "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    num = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    )
    slope = f"({num} / {den})"
    return f"""
        WITH m AS MATERIALIZED (
          SELECT p.p_brand,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * y) AS BIGINT) AS sxy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx
          FROM (SELECT l_partkey,
                       CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)
                         AS x,
                       CAST(l_quantity AS BIGINT) AS y
                FROM lineitem) li
          JOIN part p ON p.p_partkey = li.l_partkey
          GROUP BY p.p_brand)
        SELECT p_brand, n, sx, sy, sxy, sxx,
               CASE WHEN {den} > 0 THEN {slope} END AS slope,
               CASE WHEN {den} > 0 THEN
                 (CAST(sy AS DOUBLE) - {slope} * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE) END AS intercept
        FROM m
        ORDER BY p_brand
        """


def decision_stump_purchase(t: dict[str, DataFrame]) -> DataFrame:
    """Gini-optimal decision stump: the single best value threshold
    separating purchase events from the rest — the primitive inside
    every tree/GBM fit ("which split of this feature most purifies
    the label?"), run at scale as pure relational algebra: label
    counts per cents bucket, one cumulative pass over the
    DOMAIN-bounded support, one argmin.

    Gini is the RATIONAL impurity (chi2_type_decile's lesson: entropy
    needs ln, Gini doesn't) — candidates split at x <= t over distinct
    cents t. Counts are exact int64 cumulatives; each candidate's
    weighted impurity
      ((nl)(1 - pl² - ql²) + (nr)(1 - pr² - qr²)) / n
    is an IEEE chain over int64->double ratios (the posL² ~ n² pitfall
    never materializes: ratios divide FIRST, so nothing exceeds
    int64). The winner is min impurity with min-threshold tie-break —
    exact double equality on identical chains, the grubbs discipline.

    Output: ONE row — (n, n_pos, base_gini, best_threshold_cents,
    n_left, pos_left, split_gini, gini_gain).
    """
    e = t["events"].select(
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
        F.expr(
            "CASE WHEN event_type = 'purchase' THEN 1L ELSE 0L END"
        ).alias("pos"),
    )
    support = e.groupBy("cents").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("pos").alias("p")
    )
    wc = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = support.select(
        "cents",
        F.sum("cnt").over(wc).cast("long").alias("nl"),
        F.sum("p").over(wc).cast("long").alias("pl"),
    )
    tot = support.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("p").cast("long").alias("n_pos"),
    )
    # ratios FIRST (int64->double correctly rounded), then squares
    gini_side = (
        "(CAST({nn} AS DOUBLE) * (1D"
        " - (CAST({pp} AS DOUBLE) / CAST({nn} AS DOUBLE))"
        "   * (CAST({pp} AS DOUBLE) / CAST({nn} AS DOUBLE))"
        " - (CAST({nn} - {pp} AS DOUBLE) / CAST({nn} AS DOUBLE))"
        "   * (CAST({nn} - {pp} AS DOUBLE) / CAST({nn} AS DOUBLE))))"
    )
    gl = gini_side.format(nn="nl", pp="pl")
    gr = gini_side.format(nn="(n - nl)", pp="(n_pos - pl)")
    # the CASE duplicates the filter predicate on purpose: whole-stage
    # codegen may fuse filter+project+partial-agg into one stage and
    # evaluate the projection speculatively, which under the ANSI
    # default turns the excluded nl=n row into DIVIDE_BY_ZERO — the
    # guard makes the expression total (NULL never survives the
    # filter, so semantics are unchanged).
    cand = (
        cum.crossJoin(F.broadcast(tot))
        .filter((F.col("nl") < F.col("n")) & (F.col("nl") > 0))
        .select(
            "cents",
            "nl",
            "pl",
            "n",
            "n_pos",
            F.expr(
                f"CASE WHEN nl > 0 AND nl < n THEN"
                f" ({gl} + {gr}) / CAST(n AS DOUBLE) END"
            ).alias("imp"),
        )
    )
    best = cand.agg(F.min("imp").alias("split_gini"))
    pick = (
        cand.join(F.broadcast(best), cand["imp"] == best["split_gini"])
        .groupBy("n", "n_pos", "split_gini")
        .agg(
            F.min("cents").alias("best_threshold_cents"),
            F.expr("min_by(nl, cents)").alias("n_left"),
            F.expr("min_by(pl, cents)").alias("pos_left"),
        )
    )
    base = (
        "(1D - (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))"
        "     * (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))"
        "     - (CAST(n - n_pos AS DOUBLE) / CAST(n AS DOUBLE))"
        "     * (CAST(n - n_pos AS DOUBLE) / CAST(n AS DOUBLE)))"
    )
    return pick.select(
        "n",
        "n_pos",
        F.expr(base).alias("base_gini"),
        "best_threshold_cents",
        "n_left",
        "pos_left",
        "split_gini",
        F.expr(f"{base} - split_gini").alias("gini_gain"),
    )


def decision_stump_purchase_oracle_sql() -> str:
    """DuckDB replay: same support cumulatives (INTEGER window sums
    are exact in any combination order, unlike the nelson_aalen
    double-window lesson), same ratio-first impurity chain, argmin
    via the filter-equality form with min-threshold tie-break."""
    gini_side = (
        "(CAST({nn} AS DOUBLE) * (1.0"
        " - (CAST({pp} AS DOUBLE) / CAST({nn} AS DOUBLE))"
        "   * (CAST({pp} AS DOUBLE) / CAST({nn} AS DOUBLE))"
        " - (CAST({nn} - {pp} AS DOUBLE) / CAST({nn} AS DOUBLE))"
        "   * (CAST({nn} - {pp} AS DOUBLE) / CAST({nn} AS DOUBLE))))"
    )
    gl = gini_side.format(nn="nl", pp="pl")
    gr = gini_side.format(nn="(n - nl)", pp="(n_pos - pl)")
    base = (
        "(1.0 - (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))"
        "     * (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))"
        "     - (CAST(n - n_pos AS DOUBLE) / CAST(n AS DOUBLE))"
        "     * (CAST(n - n_pos AS DOUBLE) / CAST(n AS DOUBLE)))"
    )
    return f"""
        WITH e AS MATERIALIZED (
          SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS pos
          FROM events),
        support AS MATERIALIZED (
          SELECT cents, CAST(COUNT(*) AS BIGINT) AS cnt,
                 CAST(SUM(pos) AS BIGINT) AS p
          FROM e GROUP BY cents),
        cum AS (
          SELECT cents,
                 CAST(SUM(cnt) OVER (ORDER BY cents
                                     ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS nl,
                 CAST(SUM(p) OVER (ORDER BY cents
                                   ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS pl
          FROM support),
        tot AS (
          SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                 CAST(SUM(p) AS BIGINT) AS n_pos
          FROM support),
        cand AS (
          SELECT cents, nl, pl, n, n_pos,
                 ({gl} + {gr}) / CAST(n AS DOUBLE) AS imp
          FROM cum, tot
          WHERE nl < n AND nl > 0),
        best AS (SELECT MIN(imp) AS split_gini FROM cand),
        pick AS (
          SELECT c.n, c.n_pos, b.split_gini,
                 CAST(MIN(c.cents) AS BIGINT) AS best_threshold_cents,
                 arg_min(c.nl, c.cents) AS n_left,
                 arg_min(c.pl, c.cents) AS pos_left
          FROM cand c JOIN best b ON c.imp = b.split_gini
          GROUP BY c.n, c.n_pos, b.split_gini)
        SELECT n, n_pos,
               {base} AS base_gini,
               best_threshold_cents,
               CAST(n_left AS BIGINT) AS n_left,
               CAST(pos_left AS BIGINT) AS pos_left,
               split_gini,
               {base} - split_gini AS gini_gain
        FROM pick
        """


#: kruskal-wallis tie-lane envelope: the correction needs N^3 - N in
#: int64, which binds at N ~ 2^21 ... 2e6 pooled samples — the same
#: order as the TV/KS ppm envelopes; past it the raise says to lift
#: the tie lane to decimal(38,0) end to end.
KW_N_MAX = 2_097_000


def kruskal_wallis_types(t: dict[str, DataFrame]) -> DataFrame:
    """Kruskal-Wallis H across event types' cents values — the
    RANK-based k-group test completing the comparison matrix:
    anova_oneway compares k MEANS (parametric), mann_whitney compares
    two groups by ranks, KW asks "do the k distributions differ in
    location" without normality. The right first test when value
    distributions are the heavy-tailed mess real event data is.

    Exact rank algebra on the DOMAIN-bounded support — no row ever
    gets an individual rank: with per-(type, cents) counts c and the
    pooled per-cents total tot, the DOUBLED average rank of bucket v
    is avg2_v = 2·cum_before_v + tot_v + 1 (integral by construction)
    and each type's doubled rank sum is R2_g = Σ_v c_gv·avg2_v —
    int64 exact (≤ N·(2N+1), guarded by the loud N ≤ ~2e6 envelope
    the tie lane needs anyway). H = 12/(N(N+1)) · Σ_g (R2_g/2)²/n_g
    − 3(N+1): the group fold runs type-sorted (the anova recipe);
    every scalar step is an IEEE chain over int64-exact doubles —
    RAW-double hash. Tie correction 1 − Σ(tot³−tot)/(N³−N)
    accumulates in decimal behind a loud int64 gate (the anova s2_tot
    tier), so the division is again int64→double.

    Output: ONE row — (n_total, k, tie_num, h_stat, h_corrected);
    NULLs on degenerate k < 2 or all-tied (zero correction
    denominator).
    """
    counts = (
        t["events"]
        .select(
            "event_type",
            F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias(
                "cents"
            ),
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pooled = counts.groupBy("cents").agg(F.sum("c").alias("tot"))
    wc = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = pooled.select(
        "cents",
        "tot",
        (F.sum("tot").over(wc) - F.col("tot")).alias("cum_before"),
    ).select(
        "cents",
        "tot",
        F.expr("2 * cum_before + tot + 1").alias("avg2"),
    )
    per_type = (
        counts.join(ranked, "cents")
        .groupBy("event_type")
        .agg(
            F.sum("c").cast("long").alias("ng"),
            F.sum(F.expr("c * avg2")).cast("long").alias("r2g"),
        )
    )
    ties = pooled.agg(
        F.sum("tot").cast("long").alias("n_total"),
        F.expr(
            "CASE WHEN CAST(SUM(CAST(tot AS DECIMAL(38,0))"
            " * CAST(tot AS DECIMAL(38,0)) * CAST(tot AS DECIMAL(38,0))"
            f" - CAST(tot AS DECIMAL(38,0))) AS DECIMAL(38,0)) >"
            f" {SQ_MOMENT_MAX} THEN"
            " raise_error('kruskal_wallis tie numerator leaves the"
            " int64 exact lane — lift the tie lane to decimal(38,0)')"
            " ELSE CAST(SUM(CAST(tot AS DECIMAL(38,0))"
            " * CAST(tot AS DECIMAL(38,0)) * CAST(tot AS DECIMAL(38,0))"
            " - CAST(tot AS DECIMAL(38,0))) AS BIGINT) END"
        ).alias("tie_num"),
    )
    term = (
        "(CAST(r2g AS DOUBLE) / 2D) * (CAST(r2g AS DOUBLE) / 2D)"
        " / CAST(ng AS DOUBLE)"
    )
    g = per_type.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.expr(
            f"aggregate(array_sort(collect_list(struct(event_type,"
            f" {term} AS term))), 0D, (acc, x) -> acc + x.term)"
        ).alias("sum_terms"),
    )
    j = g.crossJoin(F.broadcast(ties))
    nn = "CAST(n_total AS DOUBLE)"
    h = f"(12D / ({nn} * ({nn} + 1D)) * sum_terms - 3D * ({nn} + 1D))"
    corr = (
        "(1D - CAST(tie_num AS DOUBLE)"
        " / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)"
        "    * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE)))"
    )
    return j.select(
        F.expr(
            f"CASE WHEN n_total > {KW_N_MAX}L THEN"
            " raise_error('kruskal_wallis N exceeds the int64 tie-lane"
            " envelope (~2e6 pooled samples) — lift the tie lane to"
            " decimal(38,0)') ELSE n_total END"
        ).alias("n_total"),
        "k",
        "tie_num",
        F.expr(f"CASE WHEN k >= 2 THEN {h} END").alias("h_stat"),
        F.expr(
            f"CASE WHEN k >= 2 AND {corr} > 0 THEN {h} / {corr} END"
        ).alias("h_corrected"),
    )


def kruskal_wallis_oracle_sql() -> str:
    """DuckDB replay: same support rank algebra (integer window
    cumulatives are order-safe, unlike the nelson_aalen double-window
    lesson), type-sorted group fold, decimal-gated tie lane."""
    term = (
        "(CAST(r2g AS DOUBLE) / 2.0) * (CAST(r2g AS DOUBLE) / 2.0)"
        " / CAST(ng AS DOUBLE)"
    )
    nn = "CAST(n_total AS DOUBLE)"
    h = f"(12.0 / ({nn} * ({nn} + 1.0)) * sum_terms - 3.0 * ({nn} + 1.0))"
    corr = (
        "(1.0 - CAST(tie_num AS DOUBLE)"
        " / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)"
        "    * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE)))"
    )
    return f"""
        WITH counts AS MATERIALIZED (
          SELECT event_type,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2),
        pooled AS MATERIALIZED (
          SELECT cents, CAST(SUM(c) AS BIGINT) AS tot
          FROM counts GROUP BY cents),
        ranked AS (
          SELECT cents, tot,
                 2 * (CAST(SUM(tot) OVER (ORDER BY cents
                                          ROWS UNBOUNDED PRECEDING)
                           AS BIGINT) - tot) + tot + 1 AS avg2
          FROM pooled),
        per_type AS (
          SELECT event_type,
                 CAST(SUM(c) AS BIGINT) AS ng,
                 CAST(SUM(c * avg2) AS BIGINT) AS r2g
          FROM counts JOIN ranked USING (cents)
          GROUP BY event_type),
        ties AS (
          SELECT CAST(SUM(tot) AS BIGINT) AS n_total,
                 CAST(SUM(tot * CAST(tot AS HUGEINT) * tot - tot)
                      AS BIGINT) AS tie_num
          FROM pooled),
        g AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS k,
                 list_reduce(list_prepend(0.0,
                     list({term} ORDER BY event_type)),
                     (acc, x) -> acc + x) AS sum_terms
          FROM per_type)
        SELECT n_total, k, tie_num,
               CASE WHEN k >= 2 THEN {h} END AS h_stat,
               CASE WHEN k >= 2 AND {corr} > 0 THEN {h} / {corr} END
                   AS h_corrected
        FROM g, ties
        """


def permutation_entropy_daily(t: dict[str, DataFrame]) -> DataFrame:
    """Permutation entropy (order 3) of each type's daily-count series
    — the COMPLEXITY member of the time-series bench: MK asks "is it
    trending", runs-test "is it random in direction", changepoint
    "where did the level shift"; PE asks "how PREDICTABLE is the
    local shape" by the entropy of consecutive-triple ordinal
    patterns (Bandt-Pompe). Low PE = rigid motifs (seasonality,
    ramps); PE near ln 6 = pattern-free noise.

    Ties break by POSITION (earlier day ranks lower — the standard
    stable convention): rank_i = #{j: c_j < c_i} + #{j < i: c_j = c_i}
    — pure integer comparisons, identical in both engines. Triples
    are consecutive in SERIES order (gaps documented as adjacency in
    the observed series, the _daily_type_counts contract). The ≤6
    pattern frequencies fold type-and-pattern-sorted; ln rides the
    ROUND(9) lane (jensen_shannon discipline).

    Plan: the shared daily collapse, one type-keyed double-lead
    window, one (type, pattern) aggregate (≤ 6·types rows), one fold.
    Output per type: (event_type, n_triples, n_patterns,
    perm_entropy, pe_normalized), entropy in nats ROUND(9),
    normalized by ln 6.
    """
    daily = _daily_type_counts(t)
    w = Window.partitionBy("event_type").orderBy("day")
    triples = (
        daily.select(
            "event_type",
            F.col("c").alias("c1"),
            F.lead("c", 1).over(w).alias("c2"),
            F.lead("c", 2).over(w).alias("c3"),
        )
        .filter(F.col("c3").isNotNull())
    )
    pat = (
        "( (CASE WHEN c2 < c1 THEN 1 ELSE 0 END)"
        "  + (CASE WHEN c3 < c1 THEN 1 ELSE 0 END) ) * 100"
        " + ( (CASE WHEN c1 < c2 THEN 1 ELSE 0 END)"
        "   + (CASE WHEN c3 < c2 THEN 1 ELSE 0 END)"
        "   + (CASE WHEN c1 = c2 THEN 1 ELSE 0 END) ) * 10"
        " + ( (CASE WHEN c1 < c3 THEN 1 ELSE 0 END)"
        "   + (CASE WHEN c2 < c3 THEN 1 ELSE 0 END)"
        "   + (CASE WHEN c1 = c3 THEN 1 ELSE 0 END)"
        "   + (CASE WHEN c2 = c3 THEN 1 ELSE 0 END) )"
    )
    pc = (
        triples.select("event_type", F.expr(pat).alias("pattern"))
        .groupBy("event_type", "pattern")
        .agg(F.count(F.lit(1)).alias("pc"))
    )
    tot = pc.groupBy("event_type").agg(F.sum("pc").alias("n"))
    term = (
        "(CAST(pc AS DOUBLE) / CAST(n AS DOUBLE))"
        " * ln(CAST(pc AS DOUBLE) / CAST(n AS DOUBLE))"
    )
    g = (
        pc.join(tot, "event_type")
        .groupBy("event_type", "n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_patterns"),
            F.expr(
                f"aggregate(array_sort(collect_list(struct(pattern,"
                f" {term} AS term))), 0D, (acc, x) -> acc + x.term)"
            ).alias("neg_h"),
        )
    )
    return g.select(
        "event_type",
        F.col("n").cast("long").alias("n_triples"),
        "n_patterns",
        F.round(F.expr("-neg_h"), 9).alias("perm_entropy"),
        F.round(F.expr("-neg_h / ln(6D)"), 9).alias("pe_normalized"),
    ).orderBy("event_type")


def permutation_entropy_oracle_sql() -> str:
    """DuckDB replay: same daily collapse, same positional-tie ordinal
    encoding, pattern-sorted fold, ROUND(9) ln lane."""
    pat = (
        "( (CASE WHEN c2 < c1 THEN 1 ELSE 0 END)"
        "  + (CASE WHEN c3 < c1 THEN 1 ELSE 0 END) ) * 100"
        " + ( (CASE WHEN c1 < c2 THEN 1 ELSE 0 END)"
        "   + (CASE WHEN c3 < c2 THEN 1 ELSE 0 END)"
        "   + (CASE WHEN c1 = c2 THEN 1 ELSE 0 END) ) * 10"
        " + ( (CASE WHEN c1 < c3 THEN 1 ELSE 0 END)"
        "   + (CASE WHEN c2 < c3 THEN 1 ELSE 0 END)"
        "   + (CASE WHEN c1 = c3 THEN 1 ELSE 0 END)"
        "   + (CASE WHEN c2 = c3 THEN 1 ELSE 0 END) )"
    )
    term = (
        "(CAST(pc AS DOUBLE) / CAST(n AS DOUBLE))"
        " * ln(CAST(pc AS DOUBLE) / CAST(n AS DOUBLE))"
    )
    return f"""
        WITH {DAILY_TYPE_COUNTS_CTE_SQL},
        triples AS (
          SELECT event_type, c1, c2, c3 FROM (
            SELECT event_type, c AS c1,
                   LEAD(c, 1) OVER (PARTITION BY event_type
                                    ORDER BY day) AS c2,
                   LEAD(c, 2) OVER (PARTITION BY event_type
                                    ORDER BY day) AS c3
            FROM daily)
          WHERE c3 IS NOT NULL),
        pc AS (
          SELECT event_type, {pat} AS pattern,
                 CAST(COUNT(*) AS BIGINT) AS pc
          FROM triples GROUP BY event_type, {pat}),
        tot AS (
          SELECT event_type, CAST(SUM(pc) AS BIGINT) AS n
          FROM pc GROUP BY event_type),
        g AS (
          SELECT pc.event_type, n,
                 CAST(COUNT(*) AS BIGINT) AS n_patterns,
                 list_reduce(list_prepend(0.0,
                     list({term} ORDER BY pattern)),
                     (acc, x) -> acc + x) AS neg_h
          FROM pc JOIN tot ON tot.event_type = pc.event_type
          GROUP BY pc.event_type, n)
        SELECT event_type,
               CAST(n AS BIGINT) AS n_triples,
               n_patterns,
               ROUND(-neg_h, 9) AS perm_entropy,
               ROUND(-neg_h / ln(6.0), 9) AS pe_normalized
        FROM g
        ORDER BY event_type
        """


def brown_forsythe_types(t: dict[str, DataFrame]) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test across event types —
    the ASSUMPTION CHECK for the mean-comparison family: plain ANOVA
    assumes equal group variances; Brown-Forsythe tests exactly that
    by running the one-way ANOVA on |x − median_g| (median, not mean
    — the robustness modification that made Levene's test usable on
    skewed data). Read it BEFORE anova_oneway_types: a large W here
    says reach for welch_ttest_pairs instead.

    Fully exact lanes, no ln and no ROUND anywhere: the per-type
    LOWER median comes off the (type, cents) support by the
    weighted_median rule (smallest value with 2·cum ≥ n — merged
    equal values, no tie rule needed); deviations z = |cents − med_g|
    are INTEGERS, so the ANOVA moments (n, Σz, Σz²) are int64 exact
    behind the anova overflow gate, and SSB/SSW/W follow the
    anova_oneway_types recipe verbatim (type-sorted group fold,
    int64→double statistic chain) — RAW-double hash.

    Plan: one fact aggregate to the domain-bounded support, one
    per-type cumulative window (support-sized), one moment aggregate,
    one fold. Output: ONE row — (k, n_total, ss_between, ss_within,
    w_stat).
    """
    counts = (
        t["events"]
        .select(
            "event_type",
            F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias(
                "cents"
            ),
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ws = Window.partitionBy("event_type").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wa = Window.partitionBy("event_type")
    win = Window.partitionBy("event_type").orderBy("cents")
    med = (
        counts.withColumn("cum", F.sum("c").over(ws))
        .withColumn("tot", F.sum("c").over(wa))
        .filter(2 * F.col("cum") >= F.col("tot"))
        .withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("cents").alias("med"))
    )
    m = (
        counts.join(med, "event_type")
        .select(
            "event_type",
            "c",
            F.expr("abs(cents - med)").alias("z"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("c").alias("n"),
            F.sum(F.expr("c * z")).alias("s"),
            F.expr(
                f"CASE WHEN SUM(c * z * z) > {SQ_MOMENT_MAX // 2}L THEN"
                " raise_error('brown_forsythe deviation second moment"
                " leaves the int64 exact lane — lift to decimal(38,0)')"
                " ELSE SUM(c * z * z) END"
            ).alias("s2"),
        )
    )
    term = "CAST(s AS DOUBLE) * (CAST(s AS DOUBLE) / n)"
    g = m.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n_total"),
        F.sum("s").alias("s_tot"),
        F.expr(
            f"CASE WHEN CAST(SUM(CAST(s2 AS DECIMAL(38,0))) AS"
            f" DECIMAL(38,0)) > {SQ_MOMENT_MAX}"
            " THEN raise_error('brown_forsythe s2 total leaves the"
            " int64 exact lane — lift to decimal(38,0)')"
            " ELSE CAST(SUM(CAST(s2 AS DECIMAL(38,0))) AS BIGINT) END"
        ).alias("s2_tot"),
        F.expr(
            f"aggregate(array_sort(collect_list(struct(event_type,"
            f" {term} AS term))), 0D, (acc, x) -> acc + x.term)"
        ).alias("sum_terms"),
    )
    ssb = (
        "(sum_terms - CAST(s_tot AS DOUBLE)"
        " * (CAST(s_tot AS DOUBLE) / n_total))"
    )
    ssw = "(CAST(s2_tot AS DOUBLE) - sum_terms)"
    return g.select(
        "k",
        "n_total",
        F.expr(ssb).alias("ss_between"),
        F.expr(ssw).alias("ss_within"),
        F.expr(
            f"CASE WHEN k >= 2 AND n_total > k AND {ssw} > 0 THEN"
            f" ({ssb} / (k - 1)) / ({ssw} / (n_total - k)) END"
        ).alias("w_stat"),
    )


def brown_forsythe_oracle_sql() -> str:
    term = "CAST(s AS DOUBLE) * (CAST(s AS DOUBLE) / n)"
    ssb = (
        "(sum_terms - CAST(s_tot AS DOUBLE)"
        " * (CAST(s_tot AS DOUBLE) / n_total))"
    )
    ssw = "(CAST(s2_tot AS DOUBLE) - sum_terms)"
    return f"""
        WITH counts AS MATERIALIZED (
          SELECT event_type,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2),
        ranked AS (
          SELECT event_type, cents, c,
                 CAST(SUM(c) OVER (PARTITION BY event_type
                                   ORDER BY cents
                                   ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum,
                 CAST(SUM(c) OVER (PARTITION BY event_type)
                      AS BIGINT) AS tot
          FROM counts),
        med AS (
          SELECT event_type, MIN(cents) AS med
          FROM ranked WHERE 2 * cum >= tot GROUP BY event_type),
        m AS (
          SELECT counts.event_type,
                 CAST(SUM(c) AS BIGINT) AS n,
                 CAST(SUM(c * abs(cents - med)) AS BIGINT) AS s,
                 CAST(SUM(c * abs(cents - med) * abs(cents - med))
                      AS BIGINT) AS s2
          FROM counts JOIN med ON med.event_type = counts.event_type
          GROUP BY counts.event_type),
        g AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS k,
                 CAST(SUM(n) AS BIGINT) AS n_total,
                 CAST(SUM(s) AS BIGINT) AS s_tot,
                 CAST(SUM(s2) AS BIGINT) AS s2_tot,
                 list_reduce(list_prepend(0.0,
                     list({term} ORDER BY event_type)),
                     (acc, x) -> acc + x) AS sum_terms
          FROM m)
        SELECT k, n_total,
               {ssb} AS ss_between,
               {ssw} AS ss_within,
               CASE WHEN k >= 2 AND n_total > k AND {ssw} > 0 THEN
                 ({ssb} / (k - 1)) / ({ssw} / (n_total - k)) END
                   AS w_stat
        FROM g
        """


#: Goertzel coefficient 2·cos(2π/7) as a SHARED LITERAL in both plan
#: texts — no runtime cos() call exists anywhere, so the libm last-ulp
#: divergence (the collocations_pmi lesson) cannot enter the chain.
GOERTZEL_WEEKLY_COEFF = "1.2469796037174672"


def goertzel_weekly_power(t: dict[str, DataFrame]) -> DataFrame:
    """Single-bin Goertzel power at the weekly frequency for each
    type's ZERO-FILLED daily series — the cheapest possible "is there
    a 7-day cycle" probe: one O(days) second-order recurrence per
    type instead of an FFT (the classic single-tone detector).
    seasonality_strength_hourly scores the hour-of-week profile;
    this measures periodicity in the FREQUENCY domain, catching
    cycles whose phase drifts across the profile buckets.

    Numerics: the coefficient 2·cos(2π/7) is a shared plan LITERAL
    (no runtime cos — see GOERTZEL_WEEKLY_COEFF), the series is
    mean-centered (x_k = c_k − s/n, an int64→double chain), and the
    recurrence s_k = x_k + C·s1 − s2 is a strictly sequential
    day-sorted struct fold — multiply/add/subtract only, every step
    correctly rounded over identical operands, so power and amplitude
    hash as RAW doubles. Gaps are TRUE ZEROS via a calendar sequence
    (uniform sampling is what gives the frequency meaning — the
    local_peaks dense-grid rule).

    Plan: the shared daily collapse, one per-type min/max + sequence
    explode (calendar-bounded), one day-sorted fold. Output per type:
    (event_type, n_days, mean_c, weekly_power, weekly_amplitude)
    where amplitude = 2·sqrt(power)/n is the fitted sine magnitude in
    events/day.
    """
    return goertzel_from_daily(_daily_type_counts(t))


def goertzel_from_daily(daily: DataFrame) -> DataFrame:
    """The ONE weekly-Goertzel scoring function, shared by the batch
    registry entry and the streaming monitor (the mk_trend_from_daily
    contract: a single scorer makes batch/stream drift structurally
    impossible). Input: a (event_type, day, c) daily-count frame."""
    span = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"),
        F.max("day").alias("d1"),
        F.sum("c").alias("s"),
    ).select(
        "event_type",
        "s",
        F.expr("CAST(d1 - d0 + 1 AS BIGINT)").alias("n_days"),
        F.expr(
            "CAST(s AS DOUBLE) / CAST(d1 - d0 + 1 AS DOUBLE)"
        ).alias("mean_c"),
        "d0",
        "d1",
    )
    grid = span.select(
        "event_type",
        "s",
        "n_days",
        "mean_c",
        F.expr("explode(sequence(d0, d1))").alias("day"),
    )
    filled = (
        grid.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            "s",
            "n_days",
            "mean_c",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    C = GOERTZEL_WEEKLY_COEFF
    g = filled.groupBy("event_type", "s", "n_days", "mean_c").agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(day, c))),"
            " struct(CAST(0.0 AS DOUBLE) AS s1, CAST(0.0 AS DOUBLE) AS s2),"
            " (acc, v) -> struct("
            f" (CAST(v.c AS DOUBLE) - mean_c) + {C}D * acc.s1 - acc.s2"
            " AS s1, acc.s1 AS s2))"
        ).alias("st"),
    )
    power = f"(st.s1 * st.s1 + st.s2 * st.s2 - {C}D * st.s1 * st.s2)"
    return g.select(
        "event_type",
        "n_days",
        "mean_c",
        F.expr(power).alias("weekly_power"),
        F.expr(
            f"2D * sqrt(greatest(0D, {power})) / CAST(n_days AS DOUBLE)"
        ).alias("weekly_amplitude"),
    ).orderBy("event_type")


def goertzel_weekly_power_oracle_sql() -> str:
    """DuckDB replay: generate_series zero-fill, same literal
    coefficient, same day-ordered struct-fold recurrence (left-fold
    parity; no runtime cos on either side). Two measured DuckDB traps
    pinned here: (1) a bare 16-digit decimal literal types as
    DECIMAL(17,16) and runs the whole recurrence in decimal
    arithmetic (wildly different values, then overflow at |s1| ~ 92)
    — hence CAST(.. AS DOUBLE) around the coefficient; (2) a STRUCT
    accumulator in list_reduce ALIASES fields when one output field
    references a different field of acc (acc.s1 inside the s2 slot
    resolved to the NEW s1 — measured s1 == s2 on every fold), so the
    two-term Goertzel state rides a [s1, s2] LIST accumulator, which
    is bit-exact. Folds whose every output field references only its
    OWN acc field (logrank, anova) are unaffected."""
    C = f"CAST({GOERTZEL_WEEKLY_COEFF} AS DOUBLE)"
    return f"""
        WITH {DAILY_TYPE_COUNTS_CTE_SQL},
        span AS (
          SELECT event_type, MIN(day) AS d0, MAX(day) AS d1,
                 CAST(SUM(c) AS BIGINT) AS s,
                 CAST(MAX(day) - MIN(day) + 1 AS BIGINT) AS n_days,
                 CAST(SUM(c) AS DOUBLE)
                   / CAST(MAX(day) - MIN(day) + 1 AS DOUBLE) AS mean_c
          FROM daily GROUP BY event_type),
        grid AS (
          SELECT span.event_type, span.s, span.n_days, span.mean_c,
                 gs.day
          FROM span, UNNEST(range(span.d0, span.d1 + 1)) AS gs(day)),
        filled AS (
          SELECT g.event_type, g.day, g.s, g.n_days, g.mean_c,
                 COALESCE(d.c, 0) AS c
          FROM grid g
          LEFT JOIN daily d ON d.event_type = g.event_type
                           AND d.day = g.day),
        folded AS (
          SELECT event_type, s, n_days, mean_c,
                 list_reduce(list_prepend(
                     [CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)],
                     list([CAST(c AS DOUBLE), CAST(0.0 AS DOUBLE)]
                          ORDER BY day)),
                     (acc, v) ->
                       [(v[1] - mean_c) + {C} * acc[1] - acc[2],
                        acc[1]]) AS st
          FROM filled GROUP BY event_type, s, n_days, mean_c)
        SELECT event_type, n_days, mean_c,
               (st[1] * st[1] + st[2] * st[2]
                - {C} * st[1] * st[2]) AS weekly_power,
               2.0 * sqrt(greatest(0.0,
                 st[1] * st[1] + st[2] * st[2]
                 - {C} * st[1] * st[2])) / CAST(n_days AS DOUBLE)
                   AS weekly_amplitude
        FROM folded
        ORDER BY event_type
        """


#: variance-ratio aggregation horizons (non-overlapping blocks):
#: powers of two like the rich-club grid — domain-bounded, and each
#: horizon's block count is span/q, so the grid adds a constant
#: factor to a calendar-bounded frame.
VR_HORIZONS = [2, 4, 8]


def variance_ratio_daily(t: dict[str, DataFrame]) -> DataFrame:
    """Lo-MacKinlay-style variance ratio of each type's daily-count
    series at horizons q ∈ {2,4,8} — the PERSISTENCE member of the
    time-series bench: VR(q) = Var(non-overlapping q-day sums) /
    (q·Var(daily)) reads ≈1 for iid volume, >1 when shocks persist
    (trending/positively autocorrelated traffic), <1 when they mean-
    revert. MK says whether level drifts; VR says how shocks
    PROPAGATE — the diagnostic that decides whether a daily forecast
    can be built from independent-day models at all.

    Exact lanes throughout: the series is zero-filled over the span
    (uniform sampling, the goertzel rule), block sums are int64, both
    variances ride the welch int64→double moment lane ((s2 − s·(s/n))
    / (n−1) — never the decimal cast), and VR is one more IEEE
    division — RAW-double hash, no ROUND. Only COMPLETE blocks enter
    (a ragged tail block would bias the q-sum variance).

    Plan: the shared daily collapse, a calendar-bounded zero-fill,
    one (type, q, block) aggregate over the 3-horizon grid (constant
    fan-out), one (type, q) moment aggregate. Output per (type, q):
    (event_type, q, n_days, n_blocks, var_1, var_q, vr).
    """
    daily = _daily_type_counts(t)
    span = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "event_type",
        "d0",
        F.expr("explode(sequence(d0, d1))").alias("day"),
    )
    filled = (
        grid.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "d0",
            "day",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
        .localCheckpoint()
    )
    base = filled.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("c").alias("s1"),
        F.expr(
            f"CASE WHEN SUM(c * c) > {SQ_MOMENT_MAX // 2}L THEN"
            " raise_error('variance_ratio daily second moment leaves"
            " the int64 exact lane — lift to decimal(38,0)')"
            " ELSE SUM(c * c) END"
        ).alias("s2_1"),
    )
    qs = filled.sparkSession.createDataFrame(
        [(q,) for q in VR_HORIZONS], "q BIGINT"
    )
    blocks = (
        filled.crossJoin(F.broadcast(qs))
        .groupBy("event_type", "q", F.expr("(day - d0) div q").alias("b"))
        .agg(
            F.count(F.lit(1)).alias("bn"),
            F.sum("c").alias("bs"),
        )
        .filter(F.col("bn") == F.col("q"))
    )
    qm = blocks.groupBy("event_type", "q").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum("bs").alias("sq"),
        F.expr(
            f"CASE WHEN SUM(bs * bs) > {SQ_MOMENT_MAX // 2}L THEN"
            " raise_error('variance_ratio block second moment leaves"
            " the int64 exact lane — lift to decimal(38,0)')"
            " ELSE SUM(bs * bs) END"
        ).alias("s2_q"),
    )
    var = (
        "((CAST({s2} AS DOUBLE) -"
        " CAST({s} AS DOUBLE) * (CAST({s} AS DOUBLE) / {n}))"
        " / ({n} - 1))"
    )
    v1 = var.format(s2="s2_1", s="s1", n="n_days")
    vq = var.format(s2="s2_q", s="sq", n="n_blocks")
    return (
        base.join(qm, "event_type")
        .select(
            "event_type",
            "q",
            "n_days",
            "n_blocks",
            F.expr(
                f"CASE WHEN n_days >= 2 THEN {v1} END"
            ).alias("var_1"),
            F.expr(
                f"CASE WHEN n_blocks >= 2 THEN {vq} END"
            ).alias("var_q"),
            F.expr(
                f"CASE WHEN n_days >= 2 AND n_blocks >= 2 AND {v1} > 0"
                f" THEN {vq} / (q * {v1}) END"
            ).alias("vr"),
        )
        .orderBy("event_type", "q")
    )


def variance_ratio_oracle_sql() -> str:
    """DuckDB replay: same zero-fill, same complete-block rule, same
    int64 moment lanes and welch variance form."""
    grid = ", ".join(str(q) for q in VR_HORIZONS)
    var = (
        "((CAST({s2} AS DOUBLE) -"
        " CAST({s} AS DOUBLE) * (CAST({s} AS DOUBLE) / {n}))"
        " / ({n} - 1))"
    )
    v1 = var.format(s2="s2_1", s="s1", n="n_days")
    vq = var.format(s2="s2_q", s="sq", n="n_blocks")
    return f"""
        WITH {DAILY_TYPE_COUNTS_CTE_SQL},
        span AS (
          SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
          FROM daily GROUP BY event_type),
        grid AS (
          SELECT s.event_type, s.d0, gs.day
          FROM span s, UNNEST(range(s.d0, s.d1 + 1)) AS gs(day)),
        filled AS MATERIALIZED (
          SELECT g.event_type, g.d0, g.day, COALESCE(d.c, 0) AS c
          FROM grid g
          LEFT JOIN daily d ON d.event_type = g.event_type
                           AND d.day = g.day),
        base AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
                 CAST(SUM(c) AS BIGINT) AS s1,
                 CAST(SUM(c * c) AS BIGINT) AS s2_1
          FROM filled GROUP BY event_type),
        qs AS (SELECT UNNEST([{grid}]) AS q),
        blocks AS (
          SELECT event_type, q, (day - d0) // q AS b,
                 CAST(COUNT(*) AS BIGINT) AS bn,
                 CAST(SUM(c) AS BIGINT) AS bs
          FROM filled, qs
          GROUP BY event_type, q, (day - d0) // q),
        qm AS (
          SELECT event_type, q,
                 CAST(COUNT(*) AS BIGINT) AS n_blocks,
                 CAST(SUM(bs) AS BIGINT) AS sq,
                 CAST(SUM(bs * bs) AS BIGINT) AS s2_q
          FROM blocks WHERE bn = q
          GROUP BY event_type, q),
        j AS (
          SELECT base.event_type, qm.q, base.n_days, qm.n_blocks,
                 base.s1, base.s2_1, qm.sq, qm.s2_q
          FROM base JOIN qm ON qm.event_type = base.event_type)
        SELECT event_type, q, n_days, n_blocks,
               CASE WHEN n_days >= 2 THEN {v1} END AS var_1,
               CASE WHEN n_blocks >= 2 THEN {vq} END AS var_q,
               CASE WHEN n_days >= 2 AND n_blocks >= 2 AND {v1} > 0
                 THEN {vq} / (q * {v1}) END AS vr
        FROM j
        ORDER BY event_type, q
        """


def friedman_types_weekly(t: dict[str, DataFrame]) -> DataFrame:
    """Friedman test + Kendall's W over weekly blocks: do the event
    types keep the SAME volume ranking week after week? The
    REPEATED-MEASURES member of the test family — kruskal_wallis
    pools all samples as independent; Friedman blocks by week, so a
    global volume trend (every type grows) cancels and only the
    ORDERING signal remains. Kendall's W = χ²_F / (b(k−1)) rescales
    it to [0,1] concordance ("how locked-in is the ranking").

    Blocks are COMPLETE epoch weeks only (every type present — the
    standard complete-block requirement; partial first/last weeks
    drop out). Within-week average ranks use the doubled-rank trick
    (r2 = 2·minrank + ties − 1, integral by construction) computed by
    two rank windows over the (week, type, count) frame — k·weeks
    rows, CALENDAR-bounded. Doubled rank sums per type are int64
    exact; χ²_F = 12/(b·k·(k+1)) · Σ_j (R2_j/2)² − 3·b·(k+1) folds
    type-sorted (the anova recipe) — RAW-double hash, no ROUND
    (average-rank form without the tie-denominator adjustment, the
    definition both engines replay identically; stated here so the
    contract is explicit).

    Output: ONE row — (b_weeks, k_types, friedman_chi2, kendalls_w);
    NULL on degenerate b = 0 or k < 2.
    """
    wk = (
        t["events"]
        .select(
            "event_type",
            F.expr(
                "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01')"
                " div 7 AS BIGINT)"
            ).alias("week"),
        )
        .groupBy("week", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # global k stays IN the plan (a 1-row broadcast), not a driver
    # action — the complete-block filter compares each week's type
    # count against it
    kf = wk.agg(
        F.countDistinct("event_type").cast("long").alias("k_all")
    )
    complete = (
        wk.groupBy("week")
        .agg(F.count(F.lit(1)).alias("kt"))
        .crossJoin(F.broadcast(kf))
        .filter(F.col("kt") == F.col("k_all"))
        .select("week")
    )
    ranked = (
        wk.join(complete, "week")
        .withColumn(
            "minrank",
            F.rank().over(Window.partitionBy("week").orderBy("c")),
        )
        .withColumn(
            "ties",
            F.count(F.lit(1)).over(Window.partitionBy("week", "c")),
        )
        .select(
            "week",
            "event_type",
            F.expr("2 * minrank + ties - 1").alias("r2"),
        )
    )
    per_type = ranked.groupBy("event_type").agg(
        F.sum("r2").cast("long").alias("r2sum"),
        F.count(F.lit(1)).cast("long").alias("b"),
    )
    term = (
        "(CAST(r2sum AS DOUBLE) / 2D) * (CAST(r2sum AS DOUBLE) / 2D)"
    )
    g = per_type.agg(
        F.count(F.lit(1)).cast("long").alias("k_types"),
        F.max("b").cast("long").alias("b_weeks"),
        F.expr(
            f"aggregate(array_sort(collect_list(struct(event_type,"
            f" {term} AS term))), 0D, (acc, x) -> acc + x.term)"
        ).alias("sum_sq"),
    )
    chi2 = (
        "(12D / (CAST(b_weeks AS DOUBLE) * CAST(k_types AS DOUBLE)"
        " * (CAST(k_types AS DOUBLE) + 1D)) * sum_sq"
        " - 3D * CAST(b_weeks AS DOUBLE)"
        " * (CAST(k_types AS DOUBLE) + 1D))"
    )
    return g.select(
        "b_weeks",
        "k_types",
        F.expr(
            f"CASE WHEN b_weeks > 0 AND k_types >= 2 THEN {chi2} END"
        ).alias("friedman_chi2"),
        F.expr(
            f"CASE WHEN b_weeks > 0 AND k_types >= 2 THEN"
            f" {chi2} / (CAST(b_weeks AS DOUBLE)"
            f" * (CAST(k_types AS DOUBLE) - 1D)) END"
        ).alias("kendalls_w"),
    )


def friedman_types_weekly_oracle_sql() -> str:
    """DuckDB replay: same complete-block filter, same doubled
    average ranks from RANK() + tie counts, type-sorted fold."""
    term = (
        "(CAST(r2sum AS DOUBLE) / 2.0) * (CAST(r2sum AS DOUBLE) / 2.0)"
    )
    chi2 = (
        "(12.0 / (CAST(b_weeks AS DOUBLE) * CAST(k_types AS DOUBLE)"
        " * (CAST(k_types AS DOUBLE) + 1.0)) * sum_sq"
        " - 3.0 * CAST(b_weeks AS DOUBLE)"
        " * (CAST(k_types AS DOUBLE) + 1.0))"
    )
    return f"""
        WITH wk AS MATERIALIZED (
          SELECT CAST(date_diff('day', DATE '1970-01-01',
                                CAST(ts AS DATE)) // 7 AS BIGINT)
                   AS week,
                 event_type,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2),
        k_tot AS (
          SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k
          FROM wk),
        complete AS (
          SELECT week FROM wk, k_tot
          GROUP BY week, k HAVING COUNT(*) = k),
        ranked AS (
          SELECT w.week, w.event_type,
                 2 * RANK() OVER (PARTITION BY w.week ORDER BY w.c)
                 + COUNT(*) OVER (PARTITION BY w.week, w.c) - 1 AS r2
          FROM wk w JOIN complete USING (week)),
        per_type AS (
          SELECT event_type,
                 CAST(SUM(r2) AS BIGINT) AS r2sum,
                 CAST(COUNT(*) AS BIGINT) AS b
          FROM ranked GROUP BY event_type),
        g AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS k_types,
                 CAST(MAX(b) AS BIGINT) AS b_weeks,
                 list_reduce(list_prepend(0.0,
                     list({term} ORDER BY event_type)),
                     (acc, x) -> acc + x) AS sum_sq
          FROM per_type)
        SELECT b_weeks, k_types,
               CASE WHEN b_weeks > 0 AND k_types >= 2 THEN {chi2} END
                   AS friedman_chi2,
               CASE WHEN b_weeks > 0 AND k_types >= 2 THEN
                 {chi2} / (CAST(b_weeks AS DOUBLE)
                           * (CAST(k_types AS DOUBLE) - 1.0)) END
                   AS kendalls_w
        FROM g
        """


def uncertainty_coeff_type_decile(t: dict[str, DataFrame]) -> DataFrame:
    """Theil's uncertainty coefficients of the event_type ×
    value-decile contingency table — the ASYMMETRIC companion to
    cramers_v_type_decile: V says how strongly the two variables
    associate; U(type|decile) = MI/H(type) says what fraction of the
    TYPE's entropy the decile explains (and vice versa), which is the
    feature-selection question ("does knowing the value bucket tell
    me the event type, or only the other way around?"). Same shared
    ``_type_decile_cells`` core (the drift rule), third consumer.

    MI = Σ_present (o/n)·ln(o·n/(rt·ct)) — absent cells contribute
    exactly 0 (o = 0), so the present-cell frame is complete by
    construction, unlike the χ² sum where absent cells carry their
    expectation. Marginal entropies fold over small DISTINCT marginal
    frames (types rows / 10 rows). All folds are sorted (the
    cramers_v left-fold recipe); ln rides the ROUND(9) lane. No
    overflow lane exists: the o·n and rt·ct products are computed as
    DOUBLE products of correctly-rounded int64 conversions (never an
    int64 multiply), deterministic at any n.

    Output: ONE row — (n, n_cells, h_type, h_decile, mutual_info,
    u_type_given_decile, u_decile_given_type), ROUND(9) entropies,
    NULL coefficients on degenerate zero marginal entropy.
    """
    cells = _type_decile_cells(t)
    mi_term = (
        "(CAST(observed AS DOUBLE) / CAST(n AS DOUBLE))"
        " * ln((CAST(observed AS DOUBLE) * CAST(n AS DOUBLE))"
        " / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)))"
    )
    mi = cells.agg(
        F.max("n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.expr(
            f"aggregate(array_sort(collect_list(struct(event_type,"
            f" decile, {mi_term} AS term))), 0D,"
            " (acc, x) -> acc + x.term)"
        ).alias("mi"),
    )
    ent_term = (
        "(CAST({m} AS DOUBLE) / CAST(n AS DOUBLE))"
        " * ln(CAST({m} AS DOUBLE) / CAST(n AS DOUBLE))"
    )
    ht = (
        cells.select("event_type", "rt", "n")
        .distinct()
        .agg(
            F.expr(
                f"aggregate(array_sort(collect_list(struct(event_type,"
                f" {ent_term.format(m='rt')} AS term))), 0D,"
                " (acc, x) -> acc + x.term)"
            ).alias("neg_ht")
        )
    )
    hd = (
        cells.select("decile", "ct", "n")
        .distinct()
        .agg(
            F.expr(
                f"aggregate(array_sort(collect_list(struct(decile,"
                f" {ent_term.format(m='ct')} AS term))), 0D,"
                " (acc, x) -> acc + x.term)"
            ).alias("neg_hd")
        )
    )
    g = mi.crossJoin(F.broadcast(ht)).crossJoin(F.broadcast(hd))
    return g.select(
        "n",
        "n_cells",
        F.round(F.expr("-neg_ht"), 9).alias("h_type"),
        F.round(F.expr("-neg_hd"), 9).alias("h_decile"),
        F.round("mi", 9).alias("mutual_info"),
        F.round(
            F.expr("CASE WHEN -neg_ht > 0 THEN mi / (-neg_ht) END"), 9
        ).alias("u_type_given_decile"),
        F.round(
            F.expr("CASE WHEN -neg_hd > 0 THEN mi / (-neg_hd) END"), 9
        ).alias("u_decile_given_type"),
    )


def uncertainty_coeff_oracle_sql() -> str:
    """DuckDB replay off the shared contingency CTEs; DISTINCT
    marginal lists, sorted folds, ROUND(9) ln lane."""
    mi_term = (
        "(CAST(observed AS DOUBLE) / CAST(n AS DOUBLE))"
        " * ln((CAST(observed AS DOUBLE) * CAST(n AS DOUBLE))"
        " / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)))"
    )
    return f"""
        WITH {TYPE_DECILE_CELLS_CTES_SQL},
        cells AS (
          SELECT o.event_type, o.decile, o.observed, rt.rt, ct.ct,
                 tot.n
          FROM obs o
          JOIN rt ON rt.event_type = o.event_type
          JOIN ct ON ct.decile = o.decile
          CROSS JOIN tot),
        g AS (
          SELECT CAST(MAX(n) AS BIGINT) AS n,
                 CAST(COUNT(*) AS BIGINT) AS n_cells,
                 list_reduce(list_prepend(0.0,
                     list({mi_term} ORDER BY event_type, decile)),
                     (acc, x) -> acc + x) AS mi
          FROM cells),
        ht AS (
          SELECT list_reduce(list_prepend(0.0,
                     list((CAST(rt AS DOUBLE) / CAST(n AS DOUBLE))
                          * ln(CAST(rt AS DOUBLE) / CAST(n AS DOUBLE))
                          ORDER BY event_type)),
                     (acc, x) -> acc + x) AS neg_ht
          FROM (SELECT DISTINCT event_type, rt, n FROM cells)),
        hd AS (
          SELECT list_reduce(list_prepend(0.0,
                     list((CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                          * ln(CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                          ORDER BY decile)),
                     (acc, x) -> acc + x) AS neg_hd
          FROM (SELECT DISTINCT decile, ct, n FROM cells))
        SELECT n, n_cells,
               ROUND(-neg_ht, 9) AS h_type,
               ROUND(-neg_hd, 9) AS h_decile,
               ROUND(mi, 9) AS mutual_info,
               ROUND(CASE WHEN -neg_ht > 0 THEN
                 mi / (-neg_ht) END, 9) AS u_type_given_decile,
               ROUND(CASE WHEN -neg_hd > 0 THEN
                 mi / (-neg_hd) END, 9) AS u_decile_given_type
        FROM g, ht, hd
        """


#: Holt-Winters additive coefficients as SHARED PLAN LITERALS (the
#: goertzel rule: no runtime transcendental, no decimal-literal trap —
#: every oracle occurrence is CAST(.. AS DOUBLE)).
HW_ALPHA = "0.3"
HW_BETA = "0.05"
HW_GAMMA = "0.2"


def holt_winters_weekly(t: dict[str, DataFrame]) -> DataFrame:
    """Additive Holt-Winters (level + trend + 7-day seasonality) over
    each type's zero-filled daily series, with a 7-day forecast — the
    SEASONAL member of the forecast family (holt_linear_forecast has
    level+trend only; forecast_backtest_mase scores; this is the model
    a weekly-rhythm series actually needs). One O(days) recurrence per
    type — the classical smoother as a single relational fold, no UDF,
    no iteration framework.

    State is the 9-double vector [level, trend, s0..s6] carried as a
    LIST accumulator — NOT a struct: the measured DuckDB list_reduce
    struct-accumulator field-aliasing bug (SCALE.md round-11b) makes
    any multi-field struct state unsafe when fields cross-reference.
    Per day t (i = (day − d0) mod 7, x = count):

        level' = α(x − s_i) + (1−α)(level + trend)
        trend' = β(level' − level) + (1−β)trend
        s_i'   = γ(x − level') + (1−γ)s_i

    with α/β/γ shared plan literals, init level = series mean,
    trend = 0, s = 0 (a deterministic convention both engines state
    identically; the burn-in decays at (1−α)^t). level' recurs
    inside trend' and s_i' as the VERBATIM repeated expression — both
    engines re-evaluate the identical IEEE chain, so repetition costs
    ops, not determinism. Forecast F_h = level + h·trend +
    s[(last_i + h) mod 7], h = 1..7. Everything is +,−,×,/ over
    identical operands in identical order — RAW-double hash, no
    ROUND anywhere.

    Indexing traps pinned: Spark element_at and DuckDB [] are both
    1-based, but Spark's transform lambda index is 0-based while
    DuckDB's list_transform index is 1-based — the two texts differ
    by exactly that offset and nothing else.

    Output: (event_type, n_days, level, trend, horizon, forecast),
    7 rows per type.
    """
    return holt_winters_from_daily(_daily_type_counts(t))


def holt_winters_from_daily(daily: DataFrame) -> DataFrame:
    """The ONE Holt-Winters scoring function, shared by the batch
    registry entry and the streaming forecast monitor (the
    mk_trend_from_daily / goertzel_from_daily contract). Input: a
    (event_type, day, c) daily-count frame."""
    span = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"),
        F.max("day").alias("d1"),
        F.sum("c").alias("s"),
    ).select(
        "event_type",
        "d0",
        "d1",
        F.expr("CAST(d1 - d0 + 1 AS BIGINT)").alias("n_days"),
        F.expr(
            "CAST(s AS DOUBLE) / CAST(d1 - d0 + 1 AS DOUBLE)"
        ).alias("mean_c"),
    )
    grid = span.select(
        "event_type",
        "d0",
        "d1",
        "n_days",
        "mean_c",
        F.expr("explode(sequence(d0, d1))").alias("day"),
    )
    filled = grid.join(daily, ["event_type", "day"], "left").select(
        "event_type",
        "d0",
        "d1",
        "n_days",
        "mean_c",
        "day",
        F.coalesce("c", F.lit(0)).alias("c"),
    )
    A, B, GG = f"{HW_ALPHA}D", f"{HW_BETA}D", f"{HW_GAMMA}D"
    # shorthand inside the fold lambda: st = [lvl, tr, s0..s6]
    lvl = "element_at(st, 1)"
    tr = "element_at(st, 2)"
    si = "element_at(st, 3 + CAST((x.day - d0) % 7 AS INT))"
    lvl_new = (
        f"({A} * (CAST(x.c AS DOUBLE) - {si})"
        f" + (1D - {A}) * ({lvl} + {tr}))"
    )
    tr_new = f"({B} * ({lvl_new} - {lvl}) + (1D - {B}) * {tr})"
    s_new = f"({GG} * (CAST(x.c AS DOUBLE) - {lvl_new}) + (1D - {GG}) * {si})"
    fold = (
        "aggregate(array_sort(collect_list(struct(day, c))),"
        " array(mean_c, 0D, 0D, 0D, 0D, 0D, 0D, 0D, 0D),"
        " (st, x) -> transform(st, (v, j) -> CASE"
        f" WHEN j = 0 THEN {lvl_new}"
        f" WHEN j = 1 THEN {tr_new}"
        f" WHEN j = 2 + CAST((x.day - d0) % 7 AS INT) THEN {s_new}"
        " ELSE v END))"
    )
    g = filled.groupBy(
        "event_type", "d0", "d1", "n_days", "mean_c"
    ).agg(F.expr(fold).alias("st"))
    h = g.select(
        "event_type",
        "n_days",
        "d0",
        "d1",
        F.expr("element_at(st, 1)").alias("level"),
        F.expr("element_at(st, 2)").alias("trend"),
        "st",
        F.expr("explode(sequence(1, 7))").alias("horizon"),
    )
    return h.select(
        "event_type",
        "n_days",
        "level",
        "trend",
        F.col("horizon").cast("long").alias("horizon"),
        F.expr(
            "level + CAST(horizon AS DOUBLE) * trend"
            " + element_at(st, 3 + CAST(((d1 - d0) % 7 + horizon) % 7"
            " AS INT))"
        ).alias("forecast"),
    ).orderBy("event_type", "horizon")


def holt_winters_weekly_oracle_sql() -> str:
    """DuckDB replay: same zero-fill, same list-state fold (1-based
    list_transform index — the only textual difference), same shared
    CAST(..) literal coefficients, RAW doubles."""
    A = f"CAST({HW_ALPHA} AS DOUBLE)"
    B = f"CAST({HW_BETA} AS DOUBLE)"
    GG = f"CAST({HW_GAMMA} AS DOUBLE)"
    lvl = "acc[1]"
    tr = "acc[2]"
    si = "acc[3 + CAST((x.d - d0) % 7 AS INT)]"
    lvl_new = (
        f"({A} * (x.c - {si}) + (1.0 - {A}) * ({lvl} + {tr}))"
    )
    tr_new = f"({B} * ({lvl_new} - {lvl}) + (1.0 - {B}) * {tr})"
    s_new = f"({GG} * (x.c - {lvl_new}) + (1.0 - {GG}) * {si})"
    return f"""
        WITH {DAILY_TYPE_COUNTS_CTE_SQL},
        span AS (
          SELECT event_type, MIN(day) AS d0, MAX(day) AS d1,
                 CAST(MAX(day) - MIN(day) + 1 AS BIGINT) AS n_days,
                 CAST(SUM(c) AS DOUBLE)
                   / CAST(MAX(day) - MIN(day) + 1 AS DOUBLE) AS mean_c
          FROM daily GROUP BY event_type),
        grid AS (
          SELECT s.event_type, s.d0, s.d1, s.n_days, s.mean_c, gs.day
          FROM span s, UNNEST(range(s.d0, s.d1 + 1)) AS gs(day)),
        filled AS MATERIALIZED (
          SELECT g.event_type, g.d0, g.d1, g.n_days, g.mean_c, g.day,
                 COALESCE(d.c, 0) AS c
          FROM grid g
          LEFT JOIN daily d ON d.event_type = g.event_type
                           AND d.day = g.day),
        folded AS (
          SELECT event_type, d0, d1, n_days,
                 list_reduce(list_prepend(
                     [mean_c, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                      CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                      CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                      CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)],
                     list([CAST(day AS DOUBLE), CAST(c AS DOUBLE),
                           CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                           CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                           CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                           CAST(0.0 AS DOUBLE)] ORDER BY day)),
                     (acc, el) -> list_transform(acc, (v, j) -> CASE
                       WHEN j = 1 THEN {lvl_new.replace("x.d", "el[1]").replace("x.c", "el[2]")}
                       WHEN j = 2 THEN {tr_new.replace("x.d", "el[1]").replace("x.c", "el[2]")}
                       WHEN j = 3 + CAST((el[1] - d0) % 7 AS INT)
                         THEN {s_new.replace("x.d", "el[1]").replace("x.c", "el[2]")}
                       ELSE v END)) AS st
          FROM filled GROUP BY event_type, d0, d1, n_days, mean_c),
        h AS (
          SELECT f.event_type, f.n_days, f.d0, f.d1,
                 f.st[1] AS level, f.st[2] AS trend, f.st,
                 hz.horizon
          FROM folded f,
               UNNEST(range(1, 8)) AS hz(horizon))
        SELECT event_type,
               n_days,
               level,
               trend,
               CAST(horizon AS BIGINT) AS horizon,
               level + CAST(horizon AS DOUBLE) * trend
                 + st[3 + CAST(((d1 - d0) % 7 + horizon) % 7 AS INT)]
                   AS forecast
        FROM h
        ORDER BY event_type, horizon
        """
