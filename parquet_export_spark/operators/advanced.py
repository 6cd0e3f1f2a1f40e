"""Advanced relational patterns (SURVEY.md §2B continued): subquery
shapes, as-of joins, sessionization, pivot/unpivot, grouping sets.

Same contract as operators/relational.py: table-dict in, DataFrame
out, aliases matched to the DuckDB oracles in queries.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parquet_export_spark.functions.scalar import davg, dsum

# --------------------------------------------------------------------------
# Subquery shapes (rewritten as joins — how Catalyst executes them too)
# --------------------------------------------------------------------------


def q17_small_quantity_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part avg)
    joined back against the brand-restricted fact slice.

    Scale note (the standard Q17 plan): lineitem is FIRST restricted
    to the brand's partkeys, and the per-part average is computed over
    that slice only — identical values for every surviving partkey,
    but the aggregate is now |brand's parts| rows instead of EVERY
    distinct l_partkey (which scales linearly with SF and, force-
    broadcast, would OOM at the 100 TB design point). No forced hints:
    part and the aggregate both scale with SF, so Catalyst/AQE decides
    (broadcast at test SFs, shuffle join at scale)."""
    part = t["part"].filter(F.col("p_brand") == "Brand#11")
    brand_keys = part.select(F.col("p_partkey").alias("bk"))
    li = t["lineitem"].join(
        brand_keys, t["lineitem"].l_partkey == F.col("bk"), "left_semi"
    )
    per_part_avg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        davg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(per_part_avg, li.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            dsum("l_extendedprice").alias("total_price"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# As-of join (no native Spark op — window + last_value composition)
# --------------------------------------------------------------------------


def asof_purchase_attribution(t: dict[str, DataFrame]) -> DataFrame:
    """As-of join: each purchase event matched to the latest click by
    the same user at-or-before the purchase time.

    Spark has no native ASOF JOIN; the scalable composition is:
    union both streams -> single window sort per user -> carry the
    last click forward (last_value ignoring nulls) -> keep purchases.
    One shuffle on user_id; no range join explosion.
    """
    ev = t["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("ts"), F.col("event_id").alias("eid"),
        F.lit(0).alias("kind"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("eid"), F.lit(1).alias("kind")
    )
    both = clicks.unionByName(purchases)
    # clicks sort before purchases at equal ts (kind asc) => a click at
    # the same instant is attributable.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "eid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    attributed = both.withColumn(
        "last_click_ts",
        F.last(F.when(F.col("kind") == 0, F.col("ts")), ignorenulls=True).over(w),
    ).withColumn(
        "last_click_id",
        F.last(F.when(F.col("kind") == 0, F.col("eid")), ignorenulls=True).over(w),
    )
    return (
        attributed.filter(F.col("kind") == 1)
        .select(
            "user_id",
            F.col("eid").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            "last_click_id",
            "last_click_ts",
        )
        .orderBy("user_id", "purchase_ts", "purchase_id")
    )


# --------------------------------------------------------------------------
# Sessionization (batch)
# --------------------------------------------------------------------------


def _sessionized(ev: DataFrame, gap_minutes: int) -> DataFrame:
    """The shared gap-sessionization core: lag -> new-session flag ->
    running count as session id. ONE definition for every session
    consumer (sessionize_batch, session_entry_exit) — the
    _DUP_SPAN_CTES drift-prevention rule."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Microsecond-exact gap on NTZ values: second-granularity diffs
    # truncate/count-boundaries differently across engines.
    gap_us = F.expr("timestampdiff(MICROSECOND, _prev_ts, ts)")
    flagged = (
        ev.withColumn("_prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("_prev_ts").isNull() | (gap_us > gap_minutes * 60 * 1_000_000),
                1,
            ).otherwise(0),
        )
        .drop("_prev_ts")
    )
    return flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def sessions_artifact(
    t: dict[str, DataFrame], gap_minutes: int = 30
) -> DataFrame:
    """The fit-once per-lake SESSION TABLE — the session analog of
    ``supplier_projection_artifact`` / ``trade_edges_artifact``: in a
    production lake this parquet sits next to the events fact and the
    ingest job maintains it; every session consumer then PROBES it
    instead of re-paying the user-keyed sessionization windows per
    query. One row per gap-session with every column the four
    registered consumers need (sessionize_batch, entry/exit grid,
    duration histogram, hourly concurrency), so the windows run once
    per lake, not once per question.

    Entry/exit ride ``min_by``/``max_by`` over the sessionization
    order struct (ts, event_id) INSIDE the same session-grain
    aggregate — strictly cheaper than the two extra row_number
    windows the standalone entry/exit operator pays, and identical by
    the total-order uniqueness of (ts, event_id) per user.

    Output: (user_id, session_id, session_start, session_end,
    n_events, session_value, entry_type, exit_type).
    """
    with_id = _sessionized(t["events"], gap_minutes)
    return with_id.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", scale=6).alias("session_value"),
        F.expr("min_by(event_type, struct(ts, event_id))").alias(
            "entry_type"
        ),
        F.expr("max_by(event_type, struct(ts, event_id))").alias(
            "exit_type"
        ),
    )


def sessionize_batch(
    t: dict[str, DataFrame],
    gap_minutes: int = 30,
    sessions: DataFrame | None = None,
) -> DataFrame:
    """Gap-based sessions: lag -> new-session flag -> running count as
    session id -> per-session aggregate. Two window passes over one
    user_id shuffle; the standard batch sessionization at any scale.
    With ``sessions=`` (the per-lake ``sessions_artifact``) the
    windows are already paid and this is a column projection."""
    s = sessions if sessions is not None else sessions_artifact(t, gap_minutes)
    return s.select(
        "user_id",
        "session_id",
        "session_start",
        "session_end",
        "n_events",
        "session_value",
    ).orderBy("user_id", "session_id")


# --------------------------------------------------------------------------
# Pivot / grouping sets / array functions
# --------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def pivot_segment_counts(t: dict[str, DataFrame]) -> DataFrame:
    """Pivot: nation x market-segment customer counts (explicit value
    list — required for a deterministic schema, and at scale avoids a
    value-discovery pass)."""
    return (
        t["customer"]
        .groupBy("c_nationkey")
        .pivot("c_mktsegment", _SEGMENTS)
        .agg(F.count(F.lit(1)))
        .na.fill(0, _SEGMENTS)
        .orderBy("c_nationkey")
    )


def grouping_sets_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """Explicit GROUPING SETS via the SQL interface (also demonstrates
    spark.sql over registered views)."""
    li = t["lineitem"]
    li.createOrReplaceTempView("_gs_lineitem")
    return li.sparkSession.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty,
               CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY gid, l_returnflag, l_linestatus
        """
    )


def gapfill_daily_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """Time-series gap filling: a generated calendar spine left-joined
    onto daily event revenue, missing days filled with zero.

    The spine comes from ``sequence()`` + explode — generated on the
    cluster, O(days), no driver loop.
    """
    ev = t["events"]
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        dsum("value", scale=6).alias("revenue"),
        F.count(F.lit(1)).alias("n_events"),
    )
    bounds = ev.agg(
        F.to_date(F.min("ts")).alias("lo"), F.to_date(F.max("ts")).alias("hi")
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
    )
    return (
        spine.join(daily, "day", "left")
        .select(
            "day",
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
        .orderBy("day")
    )


def dedup_keep_best(t: dict[str, DataFrame]) -> DataFrame:
    """Quality-aware dedup: among docs with the same token bag, keep
    the longest (ties -> lowest doc_id) — the curation-pipeline rule
    "keep the best duplicate", as one window over the bag key."""
    docs = t["documents"]
    bag = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(F.split("text", " ")))))
    w = Window.partitionBy("bag_key").orderBy(F.desc("n_chars"), "doc_id")
    return (
        docs.withColumn("bag_key", bag)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_chars", "bag_key")
        .orderBy("doc_id")
    )


def array_collect_arrays(t: dict[str, DataFrame]) -> DataFrame:
    """collect_list/set into arrays + array ops + map construction.

    Library API: returns genuinely array/map-typed columns. The
    registered twin is :func:`array_collect_funcs`, which serializes
    the arrays — registered outputs may not carry top-level array/map
    columns (the driver's pandas canonicalizer cannot hash them)."""
    li = t["lineitem"].filter(F.col("l_orderkey") < 100)
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.array_sort(F.collect_list("l_linenumber")).alias("line_numbers"),
            F.array_sort(F.collect_set("l_returnflag")).alias("flags"),
            # keyed by 1-based position (l_linenumber can repeat in the
            # synthetic data; map keys must be unique)
            F.map_from_entries(
                F.expr(
                    "transform(array_sort(collect_list("
                    "struct(l_linenumber, l_quantity))), (x, i) ->"
                    " struct(i + 1 AS k, x.l_quantity AS v))"
                )
            ).alias("qty_by_line"),
        )
        .select(
            "l_orderkey",
            "line_numbers",
            "flags",
            F.size("line_numbers").alias("n_lines"),
            F.element_at(F.col("line_numbers"), 1).alias("first_line"),
            F.map_keys("qty_by_line").alias("map_keys_sorted"),
        )
        .orderBy("l_orderkey")
    )


def array_collect_funcs(t: dict[str, DataFrame]) -> DataFrame:
    """Registered twin of :func:`array_collect_arrays` with the
    array/map columns serialized to space-joined strings.

    Driver-canon rule: registered query outputs must not carry
    top-level array/map columns — the harness canonicalizes results
    via pandas ``sort_values``, which cannot hash list cells. The
    serialization (int -> string cast, then ``array_join``) is
    engine-portable: the DuckDB oracle mirrors it with
    ``array_to_string``."""
    arr = array_collect_arrays(t)
    return arr.select(
        "l_orderkey",
        F.array_join(F.col("line_numbers").cast("array<string>"), " ").alias(
            "line_numbers"
        ),
        F.array_join("flags", " ").alias("flags"),
        "n_lines",
        "first_line",
        F.array_join(F.col("map_keys_sorted").cast("array<string>"), " ").alias(
            "map_keys_sorted"
        ),
    ).orderBy("l_orderkey")


# --------------------------------------------------------------------------
# Cohort retention (event-analytics rollup)
# --------------------------------------------------------------------------


def retention_cohorts(t: dict[str, DataFrame]) -> DataFrame:
    """Daily cohort retention matrix over the events table: users
    cohort by the date of their first event; each cell counts the
    cohort's distinct active users at a day offset.

    Daily granularity because it is what the fixture discriminates on
    (events span one month — monthly cohorts would be a vacuous 1x1
    matrix, the q11 lesson); the calendar arithmetic is all
    date-integer (datediff of DATEs), exact in every engine. Two
    shuffles at scale: the per-user min (map-side combinable) and the
    (cohort, offset) distinct-count; the per-user cohort table joins
    back on user_id — AQE broadcasts it when small, shuffle-join
    otherwise, both correct.
    """
    ev = t["events"].select("user_id", F.to_date("ts").alias("d"))
    first = ev.groupBy("user_id").agg(F.min("d").alias("cohort_date"))
    return (
        ev.join(first, "user_id")
        .groupBy(
            "cohort_date",
            F.datediff("d", "cohort_date").alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
        .select(
            "cohort_date",
            F.col("day_offset").cast("int").alias("day_offset"),
            "n_users",
        )
        .orderBy("cohort_date", "day_offset")
    )


# --------------------------------------------------------------------------
# Event-sequence transitions (Markov matrix over per-user event streams)
# --------------------------------------------------------------------------


#: fixed-point scale for the Markov power iteration (1e12: six ppm
#: digits of headroom under the floor-division mass loss) and the
#: fixed sweep count (the PageRank/CC unrolled-oracle contract).
MARKOV_SCALE = 1_000_000_000_000
MARKOV_ITERS = 8


def markov_stationary_types(
    t: dict[str, DataFrame],
    n_iter: int = MARKOV_ITERS,
    scale: int = MARKOV_SCALE,
) -> DataFrame:
    """Approximate stationary distribution of the per-user event-type
    Markov chain — where does user behavior SETTLE: the long-run
    fraction of time the first-order chain behind
    ``event_transition_matrix`` spends in each state. The matrix says
    what happens next; the stationary vector ranks states by
    steady-state occupancy, the one-glance summary a behavioral
    dashboard leads with.

    Exactness (the PageRank fixed-point recipe on the type-sized
    chain): the SAME transition derivation as the matrix operator
    (lead over (user_id, ts, event_id) — one definition both
    engines), then ``n_iter`` synchronous power-iteration sweeps in
    integer arithmetic: r0 = scale div n_types (uniform), and
    r_{k+1}(j) = Σ_i (r_k(i) * c_ij) div rt_i — per-term floor
    division FIRST, then an int64 sum, so the trajectory is
    bit-identical cross-engine and the oracle replays it as unrolled
    MATERIALIZED CTEs. Floor division leaks mass monotonically
    (≤ n_types ulps of ``scale`` per sweep) and a type with no
    OUTGOING transitions absorbs-and-drops its mass — both
    deterministic, both visible in the output (the reported ppm need
    not sum to 1e6; out_transitions = 0 marks the sinks).

    Overflow envelope — LOUD (the raise_error tier): each term is
    r * c < scale * c, safe while c <= (2^63-1) div scale =
    9_223_372 transitions per (i, j) cell; the guard is embedded in
    the transition frame so every sweep inherits it.

    Plan: one user-window pass over the fact table (shared shape with
    the matrix operator), then ``n_iter`` joins of a types-sized
    vector against a types²-bounded edge frame — nothing fact-sized
    ever re-joins.

    Output: (event_type, out_transitions, stationary_ppm), one row
    per distinct event type, sinks included with their r mass.
    """
    from pyspark.sql import Window

    ev = t["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
    )
    cnt = pairs.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    rowtot = cnt.groupBy("event_type").agg(F.sum("c").alias("rt"))
    guard_max = (2**63 - 1) // scale
    trans = (
        cnt.join(rowtot, "event_type")
        .select(
            F.col("event_type").alias("i"),
            F.col("next_type").alias("j"),
            F.expr(
                f"CASE WHEN c > {guard_max}L THEN raise_error(concat("
                "'markov_stationary_types int64 overflow envelope"
                " exceeded: ', CAST(c AS STRING), ' transitions in one"
                f" cell > {guard_max} safe maximum at scale={scale}"
                " (the session pins ansi=false, so r*c would wrap"
                " silently). Lower MARKOV_SCALE or lift the sweep to"
                " decimal(38,0).')) ELSE c END"
            ).alias("c"),
            "rt",
        )
        .localCheckpoint()  # types²-bounded; every sweep re-reads it
    )
    # states is types-sized and feeds TWO branches (r0 init + the final
    # presentation join); checkpoint it so the corpus-wide distinct
    # runs once, not per branch (optimization r14, guide §2.4).
    states = ev.select("event_type").distinct().localCheckpoint()
    n_states = states.agg(F.count(F.lit(1)).alias("k"))
    r = states.crossJoin(F.broadcast(n_states)).select(
        F.col("event_type").alias("node"),
        F.expr(f"{scale}L div k").alias("r"),
    )
    for _ in range(n_iter):
        r = (
            trans.join(r, trans["i"] == r["node"])
            .groupBy(F.col("j").alias("node"))
            .agg(F.sum(F.expr("r * c div rt")).cast("long").alias("r"))
        )
    # out_transitions re-reads the CHECKPOINTED trans (rt repeats per
    # i-row; one distinct collapses it) instead of re-running the
    # lead-window fact pass behind cnt/rowtot a second time
    # (optimization r14, guide §2.4 — remove passes).
    return (
        states.join(
            trans.select(
                F.col("i").alias("event_type"),
                F.col("rt").alias("out_transitions"),
            ).distinct(),
            "event_type",
            "left",
        )
        .join(r.select(F.col("node").alias("event_type"), "r"), "event_type", "left")
        .select(
            "event_type",
            F.coalesce("out_transitions", F.lit(0))
            .cast("long")
            .alias("out_transitions"),
            F.expr("CAST(coalesce(r, 0) div 1000000 AS BIGINT)").alias(
                "stationary_ppm"
            ),
        )
        .orderBy("event_type")
    )


def markov_stationary_oracle_sql(
    n_iter: int = MARKOV_ITERS, scale: int = MARKOV_SCALE
) -> str:
    """DuckDB replay: the shared transition derivation + unrolled
    MATERIALIZED power-iteration sweeps with the identical per-term
    ``(r * c) // rt`` floor arithmetic."""
    parts = [
        f"""
        WITH pairs AS (
            SELECT event_type,
                   LEAD(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       AS next_type
            FROM events),
        cnt AS MATERIALIZED (
            SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS c
            FROM pairs WHERE next_type IS NOT NULL
            GROUP BY event_type, next_type),
        rowtot AS MATERIALIZED (
            SELECT event_type, CAST(SUM(c) AS BIGINT) AS rt
            FROM cnt GROUP BY event_type),
        trans AS MATERIALIZED (
            SELECT c.event_type AS i, c.next_type AS j, c.c, r.rt
            FROM cnt c JOIN rowtot r USING (event_type)),
        states AS MATERIALIZED (
            SELECT DISTINCT event_type FROM events),
        r0 AS MATERIALIZED (
            SELECT event_type AS node,
                   {scale} // (SELECT COUNT(*) FROM states) AS r
            FROM states)
        """
    ]
    prev = "r0"
    for k in range(1, n_iter + 1):
        parts.append(f"""
        , r{k} AS MATERIALIZED (
            SELECT t.j AS node, CAST(SUM(r.r * t.c // t.rt) AS BIGINT) AS r
            FROM trans t JOIN {prev} r ON r.node = t.i
            GROUP BY t.j)
        """)
        prev = f"r{k}"
    parts.append(f"""
        SELECT s.event_type,
               CAST(COALESCE(rt.rt, 0) AS BIGINT) AS out_transitions,
               CAST(COALESCE(r.r, 0) // 1000000 AS BIGINT)
                   AS stationary_ppm
        FROM states s
        LEFT JOIN rowtot rt ON rt.event_type = s.event_type
        LEFT JOIN {prev} r ON r.node = s.event_type
        ORDER BY s.event_type
        """)
    return "".join(parts)


def scd2_user_state(t: dict[str, DataFrame]) -> DataFrame:
    """Slowly-changing-dimension (type 2) build over the event stream:
    each user's event_type is treated as a dimension attribute, and
    consecutive runs of the same state collapse into one row with a
    validity interval [valid_from, valid_to) and a current flag.

    The dimension-building ETL shape every warehouse pipeline needs:
    change detection is a ``lag`` (drop rows equal to their
    predecessor), interval closing is a ``lead`` (next change's
    timestamp), both over the SAME (user_id, ts) window — one shuffle
    total, no self-join. The open interval's valid_to is NULL and
    is_current true. Ties on ts break on event_id, so runs are total
    and engine-independent; all values are exact (timestamps + ints) ->
    full DuckDB oracle.
    """
    ev = t["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .drop("prev_type")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        changes.withColumn("valid_to", F.lead("ts").over(w2))
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
        .orderBy("user_id", "valid_from")
    )


def event_ohlc(t: dict[str, DataFrame]) -> DataFrame:
    """Hourly OHLC (open/high/low/close) resample of event values per
    event_type — the time-series downsampling staple (financial bars,
    metric rollups; the reference exports raw rows only, reference
    main.py:200).

    ``min_by``/``max_by`` over a (ts, event_id) struct pick the first/
    last tick exactly (struct comparison is lexicographic; event_id
    breaks ts ties, so the pick is total and engine-independent) — one
    partial+final aggregate, no window shuffle, no self-join. high/low
    are plain min/max; the value sum uses exact decimal accumulation.
    At 100 TB: a single map-side-combined aggregate keyed by
    (hour, event_type) — the minimal possible shuffle for this shape.
    """
    e = t["events"]
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    # tz-free hour truncation on NTZ (date_trunc would route through
    # the session zone — see events_hourly_rollup)
    hour = F.expr(
        "make_timestamp_ntz(year(ts), month(ts), day(ts), hour(ts), 0, 0)"
    )
    return (
        e.groupBy(hour.alias("hour"), "event_type")
        .agg(
            F.min_by("value", ordk).alias("open_value"),
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
            F.max_by("value", ordk).alias("close_value"),
            F.count(F.lit(1)).alias("n_ticks"),
            dsum("value", scale=6).alias("sum_value"),
        )
        .orderBy("hour", "event_type")
    )


def sliding_rollup(t: dict[str, DataFrame]) -> DataFrame:
    """Sliding-window aggregation: 1-hour windows advancing every
    15 minutes, per event_type (moving totals a monitoring dashboard
    reads; the batch twin of streaming.incremental.sliding_rollup_stream).

    ``F.window(ts, '1 hour', '15 minutes')`` fans each row into its
    exactly ceil(60/15)=4 covering windows JVM-side (a generator
    expression, no join against a window spine), then one partial+final
    aggregate on (window, event_type). Window starts sit on the
    epoch-aligned 15-minute grid, so the oracle reproduces them with
    time_bucket + a 4-slot unnest. At scale the fan-out factor is
    window/slide — bounded and chosen by the caller, never data-driven.
    """
    e = t["events"]
    return (
        e.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", scale=6).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("win_start", "event_type")
    )


def incremental_rollup(
    t: dict[str, DataFrame], cutoff_date: str = "2024-01-20"
) -> DataFrame:
    """Incremental materialized-view maintenance: merge a stored
    rollup with a fresh delta by re-aggregation, never rescanning
    history — the daily-rollup twin of the reference's full-snapshot
    republish (reference README.md:5 reruns everything).

    count/sum are decomposable: partials from the "stored" side (here
    events before 2024-01-20, pre-aggregated exactly as an MV table
    would be) union with the delta's partials and re-aggregate. Sums
    stay in exact decimal until the final cast, so the merged result
    is bit-identical to the full rollup — which is exactly what the
    oracle computes, proving merge == recompute. At 100 TB the stored
    side is a tiny aggregate table; only the delta is scanned.
    """
    e = t["events"]
    cutoff = F.lit(cutoff_date).cast("timestamp_ntz")
    # tz-free day truncation on NTZ (date_trunc routes through the
    # session zone — see events_hourly_rollup)
    day = F.expr(
        "make_timestamp_ntz(year(ts), month(ts), day(ts), 0, 0, 0)"
    ).alias("day")
    dec = F.col("value").cast("decimal(30,6)")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(day, "event_type").agg(
            F.count(F.lit(1)).alias("n_events"), F.sum(dec).alias("v")
        )

    stored_mv = partial(e.filter(F.col("ts") < cutoff))
    delta = partial(e.filter(F.col("ts") >= cutoff))
    return (
        stored_mv.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("v").cast("double").alias("total_value"),
        )
        .orderBy("day", "event_type")
    )


#: cogroup_user_funnel sizes its user-hash buckets so one grouped-map
#: kernel invocation sees about this many event rows — small enough
#: that the per-bucket Arrow batch is a bounded worker payload,
#: large enough that the Python call overhead stays amortized over
#: thousands of users (the same order as the fit caps elsewhere).
TARGET_ROWS_PER_BUCKET = 100_000


def _funnel_bucket_count(n_rows: int, parallelism: int) -> int:
    """ceil(n_rows / TARGET_ROWS_PER_BUCKET), floored at the session
    parallelism: the per-kernel payload bound AND the keep-every-core
    floor, unit-pinned so the contract cannot silently revert to a
    constant."""
    return max(
        max(parallelism, 4), -(-n_rows // TARGET_ROWS_PER_BUCKET)
    )


def cogroup_user_funnel(t: dict[str, DataFrame]) -> DataFrame:
    """Two-sided grouped-map via ``cogroup().applyInPandas`` — the one
    pandas-API surface no other operator exercises: clicks and
    purchases cogrouped and a single Arrow-batched kernel seeing BOTH
    sides of each key at once (the shape for per-entity
    reconciliation, feature joins with custom alignment, or as-of
    logic too gnarly for SQL).

    Cogrouped on a HASH BUCKET of the user, not the raw user_id: a
    grouped-map kernel is invoked once per key, so keying by user
    would pay one Python call per user (measured: 14 s for ~8k users
    at sf0.1 vs <1 s bucketed). Bucketing by ``user_id % n_buckets``
    amortizes the kernel over thousands of users while the per-user
    math runs vectorized pandas inside — the production pattern for
    fine-grained keys.

    ``n_buckets`` is DERIVED, not fixed (round 14, r13 verdict #4 — a
    constant 64 made each kernel's payload corpus/64, i.e. linear in
    the corpus): one count of the two relevant event types (a
    column-pruned, map-side-combinable action) sizes the bucket count
    to ~``TARGET_ROWS_PER_BUCKET`` rows per kernel invocation, floored
    at the session parallelism so small corpora still use every core —
    the per-kernel Arrow payload is bounded by CONTRACT at any scale.
    The output is invariant under ``n_buckets`` (user -> bucket is a
    partition of users and all math is per-user), so the oracle is
    unchanged. Results are exact: counts are integer, value totals
    accumulate in integer micros (event values are 2-decimal) with one
    final division, so the DuckDB oracle matches bit-for-bit despite
    the Python kernel. Users with no purchases carry NULL funnel
    fields, distinguishing "never converted" from "converted with no
    prior click".
    """
    e = t["events"]
    relevant = F.col("event_type").isin("click", "purchase")
    n_buckets = _funnel_bucket_count(
        e.filter(relevant).count(),
        e.sparkSession.sparkContext.defaultParallelism,
    )
    # Side-specific column names (c_*/p_*), not raw passthroughs: both
    # sides derive from the SAME source DataFrame, so passthrough
    # columns share expression ids across the two cogroup children and
    # Catalyst's relation dedup can prune them off one side under
    # plans that do not consume the output (observed: .count() under a
    # stock session delivered the purchase side without user_id/ts —
    # KeyError in the kernel). A different-name alias forces a fresh
    # expression id per side, which the optimizer cannot elide; pinned
    # by test_cogroup_survives_count_pruning.
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        (F.col("user_id") % n_buckets).alias("bucket"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
        (F.col("user_id") % n_buckets).alias("bucket"),
    )

    def kernel(key, cdf: pd.DataFrame, pdf: pd.DataFrame) -> pd.DataFrame:
        idx = pd.Index(
            sorted(set(cdf["c_user"]).union(pdf["p_user"])), name="user_id"
        )
        n_clicks = cdf.groupby("c_user").size().reindex(idx, fill_value=0)
        n_purchases = pdf.groupby("p_user").size().reindex(idx, fill_value=0)
        if len(pdf):
            first_p = pdf.groupby("p_user")["p_ts"].min()
            micros = pdf["p_value"].mul(1_000_000).round().astype("int64")
            total = (
                micros.groupby(pdf["p_user"]).sum() / 1_000_000.0
            ).reindex(idx)
        else:
            first_p = pd.Series(dtype="datetime64[us]")
            total = pd.Series(float("nan"), index=idx)
        if len(cdf):
            fp = cdf["c_user"].map(first_p)
            before = cdf[cdf["c_ts"] < fp].groupby("c_user").size().reindex(idx)
        else:
            before = pd.Series(float("nan"), index=idx)
        # purchasers with no prior clicks -> 0; non-purchasers -> NULL
        before = before.fillna(0).where(n_purchases > 0)
        return pd.DataFrame(
            {
                "user_id": pd.array(idx.to_numpy(), dtype="Int64"),
                "n_clicks": pd.array(n_clicks.to_numpy(), dtype="Int64"),
                "n_purchases": pd.array(n_purchases.to_numpy(), dtype="Int64"),
                "clicks_before_first_purchase": pd.array(
                    [None if pd.isna(v) else int(v) for v in before],
                    dtype="Int64",
                ),
                "total_purchase_value": pd.array(
                    total.to_numpy(), dtype="float64"
                ),
            }
        )

    out_schema = (
        "user_id long, n_clicks long, n_purchases long, "
        "clicks_before_first_purchase long, total_purchase_value double"
    )
    return (
        clicks.groupBy("bucket")
        .cogroup(purchases.groupBy("bucket"))
        .applyInPandas(kernel, out_schema)
        .orderBy("user_id")
    )


def scd2_point_in_time(t: dict[str, DataFrame]) -> DataFrame:
    """Point-in-time (PIT) lookup against the SCD2 dimension: for each
    user and each calendar day of their active span, the state that was
    valid at that day's midnight — the "reconstruct yesterday's
    snapshot from the dimension's history" query every SCD2 warehouse
    consumer runs (and the reason to keep validity intervals at all;
    the reference's full-snapshot republish, reference README.md:5,
    answers it only for the latest instant).

    Scale shape: NOT an interval range join (probe x interval range
    predicates explode into O(n·m) compares or an interval-index build);
    instead the same union-then-carry-forward sort that powers
    ``asof_purchase_attribution`` — change rows and probe rows union
    into ONE per-user ordered window, ``last_value(ignore nulls)``
    carries the state to each probe, probes keep it. One shuffle on
    user_id total, linear in |changes| + |probes|. A change stamped
    exactly at midnight sorts before the probe (kind 0 < 1) and so
    applies to that day; among (degenerate) simultaneous changes the
    lexicographically-last state wins — a total, engine-independent
    order mirrored in the oracle.

    Probe grid: ``sequence(first_day, last_day)`` per user — generated
    distributed, never a driver-side calendar loop.
    """
    ev = t["events"]
    dim = scd2_user_state(t).select(
        "user_id", F.col("valid_from").alias("ts"), "state"
    )
    bounds = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    probes = bounds.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    u = dim.select(
        "user_id", "ts", F.lit(0).alias("kind"), "state",
        F.lit(None).cast("date").alias("day"),
    ).unionByName(
        probes.select(
            "user_id",
            F.col("day").cast("timestamp_ntz").alias("ts"),
            F.lit(1).alias("kind"),
            F.lit(None).cast("string").alias("state"),
            "day",
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "state")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn(
        "pit_state", F.last("state", ignorenulls=True).over(w)
    )
    return (
        carried.filter((F.col("kind") == 1) & F.col("pit_state").isNotNull())
        .select(
            "user_id",
            F.col("day").alias("snapshot_day"),
            F.col("pit_state").alias("state"),
        )
        .orderBy("user_id", "snapshot_day")
    )


#: burst grammar parameters — shared with the oracle SQL (queries.py
#: interpolates them). Sized to the testdata's per-user click density
#: (~1 click/6h) so the pattern fires naturally; a web-scale
#: clickstream would use minutes.
BURST_GAP_MIN = 360
BURST_MIN_CLICKS = 3
BURST_CONVERT_MIN = 720


def match_click_bursts(
    t: dict[str, DataFrame],
    gap_min: int = BURST_GAP_MIN,
    min_clicks: int = BURST_MIN_CLICKS,
    convert_min: int = BURST_CONVERT_MIN,
) -> DataFrame:
    """Sequence-pattern detection (the MATCH_RECOGNIZE / CEP shape):
    find per-user CLICK BURSTS — maximal runs of clicks with inter-
    click gaps <= ``gap_min`` minutes and at least ``min_clicks``
    events — and whether each burst CONVERTED (a purchase within
    ``convert_min`` minutes of the burst's last click). The
    "A{3,} B within w" pattern grammar, compiled to relational ops.

    Scale shape — everything rides ONE user_id shuffle:
    (1) burst assembly is gaps-and-islands (lag + running sum over the
    per-user order — no self-join); (2) conversion matching is the
    REVERSE as-of join via the union-then-carry-BACKWARD sort (next
    purchase at-or-after each burst end), the same linear composition
    as ``asof_purchase_attribution`` — never a time-range pair join.
    All outputs are timestamps/ints; ties (a purchase stamped exactly
    at a burst-end instant) match by the kind ordering, mirrored in
    the oracle -> exact DuckDB differential.
    """
    ev = t["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # interval comparison, not epoch casts: microsecond-exact and
    # identical on both engines (ts -> long truncates sub-seconds and
    # is ANSI-sensitive)
    prev_ts = F.lag("ts").over(w)
    new_burst = F.when(
        prev_ts.isNull()
        | (F.col("ts") > prev_ts + F.expr(f"INTERVAL {gap_min} MINUTES")),
        1,
    ).otherwise(0)
    islands = clicks.withColumn(
        "burst",
        F.sum(new_burst).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    bursts = (
        islands.groupBy("user_id", "burst")
        .agg(
            F.min("ts").alias("burst_start"),
            F.max("ts").alias("burst_end"),
            F.count(F.lit(1)).alias("n_clicks"),
        )
        .filter(F.col("n_clicks") >= min_clicks)
    )
    # reverse as-of: next purchase at-or-after burst_end, per user.
    # the carry scans latest-first, so at an equal timestamp the
    # PURCHASE row must precede the probe row in the window order for
    # the probe to see it — ts DESC then kind ASC (1 before 2); a
    # purchase stamped exactly at the burst-end instant converts.
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_id"),
        F.lit(1).alias("kind"),
    )
    probes = bursts.select(
        "user_id",
        F.col("burst_end").alias("ts"),
        F.lit(None).cast("long").alias("purchase_id"),
        F.lit(2).alias("kind"),
        "burst_start",
        "burst_end",
        "n_clicks",
    )
    u = purchases.select(
        "user_id", "ts", "purchase_id", "kind",
        F.lit(None).cast("timestamp_ntz").alias("burst_start"),
        F.lit(None).cast("timestamp_ntz").alias("burst_end"),
        F.lit(None).cast("long").alias("n_clicks"),
    ).unionByName(probes)
    wd = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.asc("kind"), F.desc("purchase_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn(
        "next_purchase_ts",
        F.last(
            F.when(F.col("kind") == 1, F.col("ts")), ignorenulls=True
        ).over(wd),
    ).withColumn(
        "next_purchase_id",
        F.last(
            F.when(F.col("kind") == 1, F.col("purchase_id")),
            ignorenulls=True,
        ).over(wd),
    )
    within = F.col("next_purchase_ts") <= F.col("burst_end") + F.expr(
        f"INTERVAL {convert_min} MINUTES"
    )
    converted = F.col("next_purchase_ts").isNotNull() & within
    return (
        carried.filter(F.col("kind") == 2)
        .select(
            "user_id",
            "burst_start",
            "burst_end",
            "n_clicks",
            converted.alias("converted"),
            F.when(converted, F.col("next_purchase_id")).alias(
                "purchase_id"
            ),
        )
        .orderBy("user_id", "burst_start")
    )


def interpolate_hourly_values(t: dict[str, DataFrame]) -> DataFrame:
    """Time-series LINEAR INTERPOLATION: per event_type, an hourly
    spine over the corpus time range where observed hours carry their
    exact revenue and missing hours are linearly interpolated between
    the nearest observations (clamped to the nearest endpoint outside
    the observed range) — the interpolation gear of the gap-fill
    family (``gapfill_daily_revenue`` fills with a constant;
    dashboards and feature pipelines want the line).

    Exactness contract: revenue is held as INTEGER MICROS (exact
    decimal sum * 1e6), the hour axis as the spine ROW NUMBER (no
    epoch casts — pitfall: timestamp->long is ANSI- and tz-sensitive),
    and the lerp is evaluated in the non-negative rearrangement
    ``(vp*(hn-i) + vn*(i-hp)) div (hn-hp)`` so Spark's truncating
    ``div`` and DuckDB's flooring ``//`` agree (both operands
    non-negative). Bit-identical cross-engine, full oracle.

    Scale shape: one (event_type, hour) partial+final aggregate; the
    spine is generated on the cluster (sequence + explode, O(hours))
    and cross-joined with the tiny event-type dim; the prev/next
    observation context comes from TWO frame-bounded window passes
    over the spine-sized grid (rows = hours x types, not events). No
    self-joins, no per-gap search.
    """
    e = t["events"]
    # tz-free hour truncation on NTZ (date_trunc would route through
    # the session zone and shift every spine hour under a non-UTC
    # driver session — caught by test_timezone_independence)
    hour_of = (
        "make_timestamp_ntz(year({c}), month({c}), day({c}),"
        " hour({c}), 0, 0)"
    )
    hourly = e.groupBy(
        "event_type", F.expr(hour_of.format(c="ts")).alias("hour_ts")
    ).agg(
        (F.sum(F.col("value").cast("decimal(30,6)")) * 1_000_000)
        .cast("long")
        .alias("v")
    )
    bounds = e.agg(
        F.expr(hour_of.format(c="min(ts)")).alias("lo"),
        F.expr(hour_of.format(c="max(ts)")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias(
            "hour_ts"
        )
    )
    types = e.select("event_type").distinct()
    grid = (
        spine.crossJoin(F.broadcast(types))
        .join(hourly, ["event_type", "hour_ts"], "left")
        .withColumn(
            "i",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("hour_ts")
            ),
        )
    )
    w_back = (
        Window.partitionBy("event_type")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("event_type")
        .orderBy("i")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_i = F.when(F.col("v").isNotNull(), F.col("i"))
    obs_v = F.when(F.col("v").isNotNull(), F.col("v"))
    ctx = grid.select(
        "event_type",
        "hour_ts",
        "v",
        "i",
        F.last(obs_i, ignorenulls=True).over(w_back).alias("hp"),
        F.last(obs_v, ignorenulls=True).over(w_back).alias("vp"),
        F.first(obs_i, ignorenulls=True).over(w_fwd).alias("hn"),
        F.first(obs_v, ignorenulls=True).over(w_fwd).alias("vn"),
    )
    lerp = F.expr("(vp * (hn - i) + vn * (i - hp)) div (hn - hp)")
    return ctx.select(
        "event_type",
        "hour_ts",
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("hp").isNotNull() & F.col("hn").isNotNull(), lerp)
        .otherwise(F.coalesce("vp", "vn"))
        .alias("value_micros"),
        F.col("v").isNotNull().alias("is_observed"),
    ).orderBy("event_type", "hour_ts")


def twap_by_type(t: dict[str, DataFrame]) -> DataFrame:
    """Time-weighted average value (TWAP) per event type: each event's
    value holds until the type's next event (piecewise-constant), and
    the average weights each value by how long it held — the
    time-series aggregate that, with ``event_ohlc`` and
    ``interpolate_hourly_values``, completes the resample family
    (OHLC: endpoints; interpolation: the line; TWAP: the integral).

    Exactness: per-segment duration via ``timestampdiff(MICROSECOND)``
    (integer-exact, ANSI/tz-insensitive — never epoch casts), value as
    integer micros, and the numerator Σ value_us * duration_us
    accumulated in DECIMAL (the products reach ~4e21, past int64; both
    engines multiply decimal(18,0) operands and sum exactly). The
    final division happens once, in double, on identical operands. The
    last segment of each type ends at the TYPE's max timestamp (its
    duration is zero — the standard right-open convention), so the
    result is a pure function of the input.

    Scale note: the lead() window sorts each event_type's full history
    in one partition — fine while a type's events fit a task's sort
    budget (spill-backed beyond memory), but a 100 TB hot type wants
    the segmented formulation: window per (type, day) plus a one-row
    boundary carry per day (the union-then-carry shape
    ``scd2_point_in_time`` uses), which keeps partitions calendar-
    bounded. The aggregate itself is decomposable either way.
    """
    e = t["events"]
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seg = (
        e.select(
            "event_type",
            "ts",
            "event_id",
            (F.col("value").cast("decimal(30,6)") * 1_000_000)
            .cast("long")
            .alias("v_us"),
        )
        .withColumn("next_ts", F.lead("ts").over(w))
        .filter(F.col("next_ts").isNotNull())
        .withColumn(
            "dur_us", F.expr("timestampdiff(MICROSECOND, ts, next_ts)")
        )
    )
    # decimal(19,0), not (18,0): DuckDB executes DECIMAL(18) multiplies
    # in int64 (physical type) and overflows; width 19 forces int128 on
    # its side, while Spark computes (19,0)x(19,0) -> decimal(38,0).
    num = F.sum(
        F.col("v_us").cast("decimal(19,0)")
        * F.col("dur_us").cast("decimal(19,0)")
    )
    den = F.sum(F.col("dur_us"))
    return (
        seg.groupBy("event_type")
        .agg(
            F.round(
                num.cast("double") / den.cast("double"), 6
            ).alias("twap_micros"),
            den.alias("total_duration_us"),
            F.count(F.lit(1)).alias("n_segments"),
        )
        .orderBy("event_type")
    )


def rolling_user_features(t: dict[str, DataFrame], window_rows: int = 5) -> DataFrame:
    """Per-event ML feature construction: for every event, rolling
    statistics over the user's previous ``window_rows`` events — the
    lag-feature stage of a behavioral-model training pipeline (the
    labeled-example twin is ``next_event_examples``).

    Features: rolling mean of value over the trailing window (exact
    decimal sum / count, division once in double), previous value,
    microseconds since the previous event, and the position index.
    One user_id shuffle; every frame is ROWS-bounded so state per key
    is O(window_rows) — the shape streaming state would take.
    """
    e = t["events"]
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_roll = w_ord.rowsBetween(-(window_rows - 1), 0)
    dec = F.col("value").cast("decimal(30,6)")
    return (
        e.select("user_id", "event_id", "ts", "value")
        .withColumn("seq", F.row_number().over(w_ord))
        .withColumn(
            "roll_mean_value",
            F.round(
                F.sum(dec).over(w_roll).cast("double")
                / F.count(F.lit(1)).over(w_roll).cast("double"),
                9,
            ),
        )
        .withColumn("prev_value", F.lag("value").over(w_ord))
        .withColumn(
            "us_since_prev",
            F.expr(
                "timestampdiff(MICROSECOND, lag(ts) over "
                "(partition by user_id order by ts, event_id), ts)"
            ),
        )
        .select(
            "user_id",
            "event_id",
            "seq",
            "roll_mean_value",
            "prev_value",
            "us_since_prev",
        )
        .orderBy("user_id", "seq")
    )


# --------------------------------------------------------------------------
# Market-basket association rules
# --------------------------------------------------------------------------

ASSOC_MIN_SUPPORT = 2
ASSOC_TOP_N = 100


def assoc_rules_parts(
    t: dict[str, DataFrame],
    min_support: int = ASSOC_MIN_SUPPORT,
    top_n: int = ASSOC_TOP_N,
) -> DataFrame:
    """Association rules over order baskets: treat each order as the
    set of distinct parts it contains, mine co-occurring pairs with
    support >= min_support, and emit both rule directions a -> b with
    integer-exact confidence and lift in ppm:

      conf_ppm = 1e6 * supp(a,b) div supp(a)
      lift_ppm = 1e6 * supp(a,b) * n_orders div (supp(a) * supp(b))

    (non-negative div == DuckDB //; int64 envelope: the lift numerator
    is 1e6 * supp_pair * n_orders < 9.2e18 while supp_pair * n_orders
    < 9.2e12 — holds to ~3e6 co-occurrences x 3e6 orders, far beyond
    any per-partition-date slice this would run on; beyond it, lift to
    decimal(38,0)).

    Top-N by (conf_ppm DESC, antecedent, consequent) — a deterministic
    total order, so LIMIT is stable cross-engine.

    100 TB posture: the pair self-join is keyed on the order and each
    basket is naturally degree-bounded (TPC-H orders hold <= 7 distinct
    parts; a retail-scale variant would add the butterfly_pairs_trade
    degree cap), so pair fan-out is C(7,2) per order — linear in
    orders. Two aggregations (item support, pair support) are the only
    corpus-wide shuffles; the 1-row order count broadcasts.
    """
    b = (
        t["lineitem"]
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    item = b.groupBy("p").agg(F.count(F.lit(1)).alias("supp_i"))
    n_orders = b.agg(
        F.count_distinct("ok").alias("n_orders")
    )
    a, c = b.alias("a"), b.alias("c")
    pairs = (
        a.join(c, (F.col("a.ok") == F.col("c.ok")) & (F.col("a.p") < F.col("c.p")))
        .groupBy(F.col("a.p").alias("p1"), F.col("c.p").alias("p2"))
        .agg(F.count(F.lit(1)).alias("supp"))
        .filter(F.col("supp") >= min_support)
    )
    rules = pairs.select(
        F.col("p1").alias("antecedent"),
        F.col("p2").alias("consequent"),
        "supp",
    ).unionByName(
        pairs.select(
            F.col("p2").alias("antecedent"),
            F.col("p1").alias("consequent"),
            "supp",
        )
    )
    sa = item.select(F.col("p").alias("antecedent"), F.col("supp_i").alias("supp_a"))
    sc = item.select(F.col("p").alias("consequent"), F.col("supp_i").alias("supp_c"))
    # no broadcast hint on the item-support side: it is part-dimension
    # sized (grows with SF, ~2e10 at 100 TB) — AQE broadcasts it at
    # runtime when it actually fits; only the 1-row count is pinned.
    return (
        rules.join(sa, "antecedent")
        .join(sc, "consequent")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "antecedent",
            "consequent",
            F.col("supp").cast("long").alias("support"),
            F.expr("1000000 * supp div supp_a").alias("conf_ppm"),
            F.expr(
                "(1000000 * supp * n_orders) div (supp_a * supp_c)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.desc("conf_ppm"), "antecedent", "consequent")
        .limit(top_n)
    )


def assoc_rules_parts_oracle_sql(
    min_support: int = ASSOC_MIN_SUPPORT, top_n: int = ASSOC_TOP_N
) -> str:
    """DuckDB replay: same basket derivation, supports, and integer
    ppm arithmetic."""
    return f"""
    WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
               FROM lineitem),
    item AS (SELECT p, COUNT(*) AS supp_i FROM b GROUP BY p),
    n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM b),
    pairs AS (
      SELECT a.p AS p1, c.p AS p2, COUNT(*) AS supp
      FROM b a JOIN b c ON a.ok = c.ok AND a.p < c.p
      GROUP BY a.p, c.p
      HAVING COUNT(*) >= {min_support}),
    rules AS (
      SELECT p1 AS antecedent, p2 AS consequent, supp FROM pairs
      UNION ALL
      SELECT p2 AS antecedent, p1 AS consequent, supp FROM pairs)
    SELECT antecedent, consequent,
           CAST(supp AS BIGINT) AS support,
           1000000 * supp // sa.supp_i AS conf_ppm,
           (1000000 * supp * n.n_orders) // (sa.supp_i * sc.supp_i)
               AS lift_ppm
    FROM rules
    JOIN item sa ON sa.p = antecedent
    JOIN item sc ON sc.p = consequent
    CROSS JOIN n
    ORDER BY conf_ppm DESC, antecedent, consequent
    LIMIT {top_n}
    """


EWMA_LAGS = 16


def ewma_halflife_values(
    t: dict[str, DataFrame], n_lags: int = EWMA_LAGS
) -> DataFrame:
    """Exponentially weighted moving average of event values per type
    (half-life = one event), truncated at ``n_lags`` terms — the
    trend-following smoother a monitoring/feature pipeline puts next
    to rolling means (EWMA reacts to the newest points; a flat rolling
    mean lags by half its window).

    Exactness design: EWMA with decay 1/2 over the last K values is a
    RATIONAL number with denominator 2^K - 2^(K-m) (m = values
    available), so the whole computation stays in int64: value ->
    cents (the cusum convention), S = sum of lag_j(cents) * 2^(K-1-j),
    ewma_cents = S div denom. No float recursion (whose rounding would
    depend on history length), no cross-engine drift — bit-identical
    under any partitioning, hence the exact DuckDB oracle. Truncation
    error vs the infinite EWMA is < max|value| / 2^K ~ one part in
    65k — below a cent for any realistic magnitude.

    Plan shape: K lag() calls over ONE window spec (ts, event_id per
    event_type — the deterministic total order every sequential
    operator here uses), evaluated in a single pass over each
    partition; the weighted sum is a codegen scalar expression. One
    shuffle on event_type, rows never leave their partition.
    Overflow: cents * 2^K * K <= ~1e7 * 65536 * 16 ~ 1e13 << 2^63.
    """
    e = t["events"]
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    cents = F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")
    df = e.select(
        "event_id", "event_type", "ts", cents.alias("cents")
    ).withColumn("rn", F.row_number().over(w))
    for j in range(1, n_lags):
        df = df.withColumn(f"l{j}", F.lag("cents", j).over(w))
    terms = " + ".join(
        [f"cents * {2 ** (n_lags - 1)}L"]
        + [
            f"coalesce(l{j}, 0L) * {2 ** (n_lags - 1 - j)}L"
            for j in range(1, n_lags)
        ]
    )
    # shift-left is int64-exact and supported identically by Spark SQL
    # and DuckDB (verified); no float POW in the denominator
    denom = f"({2 ** n_lags}L - (1L << ({n_lags} - LEAST(rn, {n_lags}))))"
    return df.select(
        "event_id",
        "event_type",
        "ts",
        F.col("cents").alias("value_cents"),
        F.expr(f"({terms}) div {denom}").alias("ewma_cents"),
    ).orderBy("event_type", "ts", "event_id")


def ewma_halflife_oracle_sql(n_lags: int = EWMA_LAGS) -> str:
    """DuckDB replay: identical K-lag window + integer weighted sum;
    the ``<<`` shift and ``//`` floor-div are int64-exact and match
    Spark's on these non-negative operands."""
    lags = ",\n                 ".join(
        f"LAG(cents, {j}) OVER w AS l{j}" for j in range(1, n_lags)
    )
    terms = " + ".join(
        [f"cents * {2 ** (n_lags - 1)}"]
        + [
            f"COALESCE(l{j}, 0) * {2 ** (n_lags - 1 - j)}"
            for j in range(1, n_lags)
        ]
    )
    denom = (
        f"({2 ** n_lags} - (CAST(1 AS BIGINT)"
        f" << ({n_lags} - LEAST(rn, {n_lags}))))"
    )
    return f"""
        WITH c AS (
          SELECT event_id, event_type, ts,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
          FROM events),
        l AS (
          SELECT event_id, event_type, ts, cents,
                 CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
                 {lags}
          FROM c
          WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id))
        SELECT event_id, event_type, ts,
               cents AS value_cents,
               ({terms}) // {denom} AS ewma_cents
        FROM l
        ORDER BY event_type, ts, event_id
        """


def seasonal_decompose_hourly(t: dict[str, DataFrame]) -> DataFrame:
    """Seasonal-naive decomposition of the hourly value series per
    event type: actual = seasonal + residual, where the seasonal
    component is the hour-of-day mean across days — the baseline model
    behind "is this hour's traffic anomalous FOR a 3am" alerts
    (a raw threshold fires every night; the residual against the
    diurnal profile doesn't).

    Exactness: values to integer cents (the cusum convention), hourly
    sums exact int64, and the seasonal mean an integer division
    ``sum_of_hourly_sums div n_days_observed`` — all operands
    non-negative (events.value > 0 in this lake; documented because
    Spark ``div`` truncates while DuckDB ``//`` floors, equal only on
    non-negatives), so every column is bit-exact cross-engine.

    Scale shape: two grouped aggregates, both map-side combinable —
    facts collapse to (type, hour-bucket) rows first (time-bounded:
    types x hours regardless of event volume) and the 24-row-per-type
    profile derives from THAT, then broadcasts back onto the bucket
    table. The fact table is touched exactly once.
    """
    e = t["events"]
    hourly = (
        e.select(
            "event_type",
            # tz-free hour truncation on NTZ (date_trunc would route
            # through the session zone — the events_hourly_rollup rule)
            F.expr(
                "make_timestamp_ntz(year(ts), month(ts), day(ts),"
                " hour(ts), 0, 0)"
            ).alias("bucket"),
            F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias(
                "cents"
            ),
        )
        .groupBy("event_type", "bucket")
        .agg(F.sum("cents").alias("actual_cents"))
    )
    profile = (
        hourly.withColumn("hod", F.hour("bucket"))
        .groupBy("event_type", "hod")
        .agg(
            F.expr("sum(actual_cents) div count(*)").alias(
                "seasonal_cents"
            )
        )
    )
    return (
        hourly.withColumn("hod", F.hour("bucket"))
        .join(F.broadcast(profile), ["event_type", "hod"])
        .select(
            "event_type",
            "bucket",
            "actual_cents",
            "seasonal_cents",
            (F.col("actual_cents") - F.col("seasonal_cents")).alias(
                "residual_cents"
            ),
        )
        .orderBy("event_type", "bucket")
    )


GAP_HIST_CAP_MINUTES = 120


def interarrival_gap_histogram(
    t: dict[str, DataFrame], cap: int = GAP_HIST_CAP_MINUTES
) -> DataFrame:
    """Inter-arrival gap histogram per event type: the distribution of
    whole-minute gaps between consecutive events — the telemetry scan
    behind rate-change and outage detection (a healthy stream's gap
    histogram is stable; a tail growing past the cap bucket IS the
    incident), and the empirical input to choosing sessionization
    thresholds (sessionize_batch's gap parameter should come from this
    table, not from folklore).

    Exactness without epoch casts (the interpolate_hourly_values
    pitfall: timestamp->long is ANSI- and tz-sensitive, and engine
    date_diff/timestampdiff unit semantics diverge on the sub-second
    timestamps this lake carries): the minute index is assembled from
    pure CALENDAR COMPONENTS — days-since-epoch (date-on-date
    difference, identical calendar arithmetic in both engines) * 1440
    + hour*60 + minute, all tz-free integer field extractions on NTZ.
    Gaps are differences of these indexes over the per-type (ts,
    event_id) order; gaps at or past ``cap`` collapse into the cap
    bucket (the open-tail convention).

    Plan: one event_type-keyed window pass (the cusum layout) and one
    small grouped count — output is types x <=cap+1 rows.
    """
    from pyspark.sql import Window

    e = t["events"]
    minute_idx = (
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        * 1440
        + F.hour("ts") * 60
        + F.minute("ts")
    ).cast("long")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = (
        e.select("event_type", "ts", "event_id", minute_idx.alias("m"))
        .withColumn("gap", F.col("m") - F.lag("m").over(w))
        .filter(F.col("gap").isNotNull())
    )
    return (
        gaps.groupBy(
            "event_type",
            F.least(F.col("gap"), F.lit(cap)).alias("gap_minutes"),
        )
        .agg(F.count(F.lit(1)).alias("n_gaps"))
        .orderBy("event_type", "gap_minutes")
    )


def interarrival_gap_oracle_sql(cap: int = GAP_HIST_CAP_MINUTES) -> str:
    return f"""
        WITH m AS (
          SELECT event_type, ts, event_id,
                 CAST(date_diff('day', DATE '1970-01-01',
                                CAST(ts AS DATE)) AS BIGINT) * 1440
                 + CAST(EXTRACT(hour FROM ts) AS BIGINT) * 60
                 + CAST(EXTRACT(minute FROM ts) AS BIGINT) AS m
          FROM events),
        g AS (
          SELECT event_type,
                 m - LAG(m) OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS gap
          FROM m)
        SELECT event_type,
               LEAST(gap, {cap}) AS gap_minutes,
               CAST(COUNT(*) AS BIGINT) AS n_gaps
        FROM g WHERE gap IS NOT NULL
        GROUP BY event_type, LEAST(gap, {cap})
        ORDER BY event_type, gap_minutes
        """


#: autocorrelation lags reported per type — adjacent hours plus the
#: daily period (the seasonality seasonal_decompose_hourly models).
AUTOCORR_LAGS = (1, 2, 3, 24)


def autocorr_hourly_counts(t: dict[str, DataFrame]) -> DataFrame:
    """Lag-k autocorrelation of the HOURLY EVENT-COUNT series per
    event type, at lags 1/2/3/24 — the statistical fingerprint of a
    telemetry stream (lag-1..3: burstiness/short memory; lag-24: the
    daily cycle whose strength says whether seasonal adjustment — see
    ``seasonal_decompose_hourly`` — is worth running). The series is
    the DENSE hourly grid: missing hours count 0 (dropping them would
    splice non-adjacent hours together and fabricate correlation).

    Exactness recipe, three established disciplines composed:
    hour indexes from pure CALENDAR components (day-diff*24 + hour,
    the interarrival rule — no epoch casts); the dense grid via a
    per-type explode(sequence(h0, h1)) spine (the gapfill rule),
    bounded by TIME SPAN x types, never event volume; sufficient
    statistics (n, Σx, Σy, Σxx, Σyy, Σxy) as exact int64 sums of
    bounded counts, then ONE closed-form IEEE expression per (type,
    lag) both engines evaluate identically (the stats_correlation /
    assortativity recipe). Zero-variance series yield NULL.

    All four lags ride ONE window pass (lead(x, k) over the same
    per-type hour order), unpivoted by ``stack`` into (lag, x, y)
    pairs — one spine scan, one window, one grouped aggregate.

    Output: (event_type, lag, n_pairs, autocorr) — types x 4 rows.
    """
    from pyspark.sql import Window

    e = t["events"]
    hour_idx = (
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")) * 24
        + F.hour("ts")
    ).cast("long")
    # the hourly histogram feeds both the bounds aggregate and the
    # spine join: materialize it once (time-span x types rows) so the
    # fact is scanned exactly once
    hc = (
        e.select("event_type", hour_idx.alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    bounds = hc.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    spine = bounds.select(
        "event_type", F.explode(F.expr("sequence(h0, h1)")).alias("h")
    )
    series = (
        spine.join(hc, ["event_type", "h"], "left")
        .select(
            "event_type", "h", F.coalesce("c", F.lit(0)).alias("x")
        )
    )
    w = Window.partitionBy("event_type").orderBy("h")
    led = series.select(
        "event_type",
        "x",
        *[F.lead("x", k).over(w).alias(f"y{k}") for k in AUTOCORR_LAGS],
    )
    stack_args = ", ".join(f"{k}L, y{k}" for k in AUTOCORR_LAGS)
    pairs = led.select(
        "event_type",
        F.expr(
            f"stack({len(AUTOCORR_LAGS)}, {stack_args}) AS (lag, y)"
        ),
        "x",
    ).filter(F.col("y").isNotNull())
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum("x").cast("double")
    sy = F.sum("y").cast("double")
    sxx = F.sum(F.col("x") * F.col("x")).cast("double")
    syy = F.sum(F.col("y") * F.col("y")).cast("double")
    sxy = F.sum(F.col("x") * F.col("y")).cast("double")
    den = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    r = (n * sxy - sx * sy) / den
    return (
        pairs.groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.when(den > 0, r), 9).alias("autocorr"),
        )
        .orderBy("event_type", "lag")
    )


def autocorr_hourly_oracle_sql() -> str:
    """DuckDB replay: same dense spine, same one-window four-lead
    pass, same double-cast closed form (HUGEINT sums are exact like
    the int64 ones, so the double casts land on identical values)."""
    lags = AUTOCORR_LAGS
    leads = ",\n                 ".join(
        f"LEAD(x, {k}) OVER w AS y{k}" for k in lags
    )
    unions = "\n          UNION ALL\n          ".join(
        f"SELECT event_type, CAST({k} AS BIGINT) AS lag, x, y{k} AS y"
        f" FROM led WHERE y{k} IS NOT NULL"
        for k in lags
    )
    return f"""
        WITH e AS MATERIALIZED (
          SELECT event_type,
                 CAST(date_diff('day', DATE '1970-01-01',
                                CAST(ts AS DATE)) AS BIGINT) * 24
                 + CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h
          FROM events),
        hc AS MATERIALIZED (
          SELECT event_type, h, CAST(COUNT(*) AS BIGINT) AS c
          FROM e GROUP BY event_type, h),
        b AS (SELECT event_type, MIN(h) AS h0, MAX(h) AS h1
              FROM hc GROUP BY event_type),
        spine AS (
          SELECT event_type, UNNEST(generate_series(h0, h1)) AS h
          FROM b),
        series AS (
          SELECT s.event_type, s.h, COALESCE(hc.c, 0) AS x
          FROM spine s
          LEFT JOIN hc ON hc.event_type = s.event_type AND hc.h = s.h),
        led AS MATERIALIZED (
          SELECT event_type, x,
                 {leads}
          FROM series
          WINDOW w AS (PARTITION BY event_type ORDER BY h)),
        pairs AS (
          {unions})
        SELECT event_type, lag,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               ROUND(CASE WHEN
                   SQRT(CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x*x) AS DOUBLE)
                        - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE))
                   * SQRT(CAST(COUNT(*) AS DOUBLE) * CAST(SUM(y*y) AS DOUBLE)
                          - CAST(SUM(y) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))
                   > 0 THEN
                   (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x*y) AS DOUBLE)
                    - CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))
                   / (SQRT(CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x*x) AS DOUBLE)
                           - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE))
                      * SQRT(CAST(COUNT(*) AS DOUBLE)
                             * CAST(SUM(y*y) AS DOUBLE)
                             - CAST(SUM(y) AS DOUBLE)
                               * CAST(SUM(y) AS DOUBLE)))
                   END, 9) AS autocorr
        FROM pairs
        GROUP BY event_type, lag
        ORDER BY event_type, lag
        """


def type_affinity_jaccard(t: dict[str, DataFrame]) -> DataFrame:
    """User-set Jaccard affinity between every event-type pair — the
    cross-feature co-occurrence scan (which behaviors share an
    audience) behind recommendation features and mixture design; the
    set-similarity machinery the dedup family applies to documents,
    applied to BEHAVIOR segments.

    Exactness: all counts are exact int64 (distinct (type, user)
    pairs, one self-join on user_id with ta < tb), the union via
    inclusion-exclusion, and the presented score an integer-ppm
    floor division — no float anywhere.

    Scale shape: the self-join fans out per user as (types-per-user
    choose 2) — bounded by the TYPE CARDINALITY squared, not by event
    volume (the events fact collapses to distinct (type, user) rows
    first); per-type totals are a type-sized broadcast.

    Output: (type_a, type_b, n_a, n_b, n_common, jaccard_ppm),
    (types choose 2) rows.
    """
    # one scan + one distinct shuffle, materialized once: the frame
    # feeds three consumers (both self-join sides and the per-type
    # totals) — without the checkpoint each branch re-scans the fact
    # and re-runs the distinct (measured: 4 scans, 8 exchanges)
    tu = (
        t["events"].select("event_type", "user_id").distinct()
        .localCheckpoint()
    )
    a = tu.select(
        F.col("event_type").alias("type_a"), F.col("user_id").alias("u")
    )
    b = tu.select(
        F.col("event_type").alias("type_b"), F.col("user_id").alias("u")
    )
    inter = (
        a.join(b, "u")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    tc = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return (
        inter.join(
            F.broadcast(
                tc.select(
                    F.col("event_type").alias("type_a"),
                    F.col("n").alias("n_a"),
                )
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                tc.select(
                    F.col("event_type").alias("type_b"),
                    F.col("n").alias("n_b"),
                )
            ),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_common",
            F.expr(
                "n_common * 1000000L div (n_a + n_b - n_common)"
            ).alias("jaccard_ppm"),
        )
        .orderBy("type_a", "type_b")
    )


def type_affinity_oracle_sql() -> str:
    return """
        WITH tu AS MATERIALIZED (
          SELECT DISTINCT event_type, user_id FROM events),
        tc AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
               FROM tu GROUP BY event_type),
        inter AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
                 CAST(COUNT(*) AS BIGINT) AS n_common
          FROM tu a JOIN tu b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
          GROUP BY a.event_type, b.event_type)
        SELECT type_a, type_b, ca.n AS n_a, cb.n AS n_b, n_common,
               n_common * 1000000 // (ca.n + cb.n - n_common)
                   AS jaccard_ppm
        FROM inter
        JOIN tc ca ON ca.event_type = type_a
        JOIN tc cb ON cb.event_type = type_b
        ORDER BY type_a, type_b
        """


#: first-K event types that define a user's path signature.
PATH_LEN = 5
#: paths reported.
PATH_TOPK = 20


def user_path_topk(
    t: dict[str, DataFrame], path_len: int = PATH_LEN, k: int = PATH_TOPK
) -> DataFrame:
    """Top-K user behavior paths: each user's first ``path_len`` event
    types in (ts, event_id) order concatenated into a path signature,
    ranked by how many users share it — the sequence-mining summary
    (onboarding-funnel shapes, bot-pattern detection) one step richer
    than the pairwise ``event_transition_matrix``.

    Determinism: the event order inside a user is the total (ts,
    event_id) order (the sessionize tie rule); the path string is
    assembled from a rank-sorted struct array (``sort_array`` on
    (rn, type) — collect_list alone is partition-order-dependent and
    would be flaky by construction); the final top-K is fully
    tie-broken by (n_users DESC, path ASC).

    Scale: one user-keyed window pass filtered to rn <= path_len
    (the per-user state is ``path_len`` rows), path strings bounded
    at path_len type names, and the path aggregate's cardinality is
    bounded by types^path_len — pruned to K by TakeOrdered, no global
    sort materialization.

    Output: (rank, path, n_users) — K rows.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firsts = (
        t["events"]
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= path_len)
    )
    paths = firsts.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    counted = paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    # TakeOrdered prunes to K rows FIRST (per-partition top-K + driver
    # merge, no global sort); the single-partition rank window then
    # runs over exactly K rows — the vocab_coverage discipline.
    top = counted.orderBy(F.desc("n_users"), "path").limit(k)
    w2 = Window.orderBy(F.desc("n_users"), "path")
    return (
        top.withColumn("rank", F.row_number().over(w2).cast("long"))
        .select("rank", "path", "n_users")
        .orderBy("rank")
    )


def user_path_oracle_sql(
    path_len: int = PATH_LEN, k: int = PATH_TOPK
) -> str:
    return f"""
        WITH ranked AS (
          SELECT user_id, event_type,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn
          FROM events),
        paths AS MATERIALIZED (
          SELECT user_id,
                 string_agg(event_type, '>' ORDER BY rn) AS path
          FROM ranked WHERE rn <= {path_len}
          GROUP BY user_id),
        counted AS (
          SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
          FROM paths GROUP BY path)
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_users DESC, path)
                    AS BIGINT) AS rank,
               path, n_users
        FROM counted
        ORDER BY n_users DESC, path
        LIMIT {k}
        """


def nearest_event_join(t: dict[str, DataFrame]) -> DataFrame:
    """NEAREST-neighbor temporal join: for every purchase, the
    same-user click closest in time in EITHER direction — the
    attribution variant ``asof_purchase_attribution`` (backward-only)
    cannot express (a click seconds AFTER the purchase usually
    belongs to it; a pure as-of join silently picks an hours-older
    one instead).

    Mechanics: the union-then-carry recipe (the scd2_point_in_time
    discipline — ONE user_id shuffle, no interval range join): clicks
    and purchases union into one stream; a forward pass carries the
    latest click at-or-before each purchase, a backward pass the
    earliest click at-or-after it. Tie rules, all pinned by the
    oracle replaying the same ORDER BY: at an equal timestamp the
    click sorts BEFORE the purchase in BOTH passes (kind ASC in the
    forward order, and — the reverse-carry trap the boundary fixtures
    caught — kind ASC again in the (ts DESC) backward order);
    equal-gap prev/next resolves to the EARLIER (prev) click; equal-ts
    candidate clicks resolve to the largest event_id (the last row in
    the pass's event_id ASC order).

    Gaps are exact integer microseconds (``timestampdiff`` /
    ``date_diff('microsecond')`` — the twap_by_type pair), never
    float epoch arithmetic.

    Output per purchase: (event_id, user_id, nearest_click_id,
    gap_us, direction in {'before','after'} — NULLs when the user
    never clicked).
    """
    from pyspark.sql import Window

    e = t["events"]
    u = (
        e.filter(F.col("event_type") == "click")
        .select(
            "user_id", "ts", "event_id", F.lit(0).alias("kind")
        )
        .unionByName(
            e.filter(F.col("event_type") == "purchase").select(
                "user_id", "ts", "event_id", F.lit(1).alias("kind")
            )
        )
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_struct = F.when(
        F.col("kind") == 0, F.struct("ts", "event_id")
    )
    carried = (
        u.withColumn("prev_c", F.last(click_struct, ignorenulls=True).over(wf))
        .withColumn("next_c", F.last(click_struct, ignorenulls=True).over(wb))
        .filter(F.col("kind") == 1)
    )
    prev_gap = F.expr("timestampdiff(MICROSECOND, prev_c.ts, ts)")
    next_gap = F.expr("timestampdiff(MICROSECOND, ts, next_c.ts)")
    use_prev = F.col("prev_c").isNotNull() & (
        F.col("next_c").isNull() | (prev_gap <= next_gap)
    )
    return carried.select(
        "event_id",
        "user_id",
        F.when(use_prev, F.col("prev_c.event_id"))
        .otherwise(F.col("next_c.event_id"))
        .alias("nearest_click_id"),
        F.when(use_prev, prev_gap).otherwise(next_gap).alias("gap_us"),
        F.when(use_prev, F.lit("before"))
        .when(F.col("next_c").isNotNull(), F.lit("after"))
        .alias("direction"),
    ).orderBy("event_id")


def nearest_event_oracle_sql() -> str:
    return """
        WITH u AS MATERIALIZED (
          SELECT user_id, ts, event_id, 0 AS kind FROM events
          WHERE event_type = 'click'
          UNION ALL
          SELECT user_id, ts, event_id, 1 AS kind FROM events
          WHERE event_type = 'purchase'),
        carried AS (
          SELECT user_id, ts, event_id, kind,
                 LAST_VALUE(CASE WHEN kind = 0 THEN ts END IGNORE NULLS)
                     OVER wf AS prev_ts,
                 LAST_VALUE(CASE WHEN kind = 0 THEN event_id END
                            IGNORE NULLS) OVER wf AS prev_id,
                 LAST_VALUE(CASE WHEN kind = 0 THEN ts END IGNORE NULLS)
                     OVER wb AS next_ts,
                 LAST_VALUE(CASE WHEN kind = 0 THEN event_id END
                            IGNORE NULLS) OVER wb AS next_id
          FROM u
          WINDOW
            wf AS (PARTITION BY user_id ORDER BY ts, kind, event_id
                   ROWS UNBOUNDED PRECEDING),
            wb AS (PARTITION BY user_id
                   ORDER BY ts DESC, kind, event_id
                   ROWS UNBOUNDED PRECEDING))
        SELECT event_id, user_id,
               CASE WHEN use_prev THEN prev_id ELSE next_id END
                   AS nearest_click_id,
               CASE WHEN use_prev THEN prev_gap ELSE next_gap END
                   AS gap_us,
               CASE WHEN use_prev THEN 'before'
                    WHEN next_id IS NOT NULL THEN 'after'
               END AS direction
        FROM (
          SELECT *,
                 date_diff('microsecond', prev_ts, ts) AS prev_gap,
                 date_diff('microsecond', ts, next_ts) AS next_gap,
                 prev_id IS NOT NULL AND (next_id IS NULL OR
                   date_diff('microsecond', prev_ts, ts)
                   <= date_diff('microsecond', ts, next_ts))
                     AS use_prev
          FROM carried WHERE kind = 1)
        ORDER BY event_id
        """


def funnel_time_to_convert(t: dict[str, DataFrame]) -> DataFrame:
    """Time-to-convert distribution per signup cohort: for every user
    whose first purchase happens at or after their first signup, the
    whole-minute gap between the two, summarized per signup WEEK as
    rank-based integer quartiles — the product-analytics report
    behind "how long does conversion take and is it drifting by
    cohort" (the funnel operator counts WHO converts; this measures
    HOW FAST).

    Disciplines composed: first-touch timestamps as plain MIN
    aggregates; minute indexes and week indexes from pure CALENDAR
    components (the interarrival rule — no epoch casts); quartiles as
    integer order statistics over the (cohort x distinct gap) support
    (the robust_scale rule — interpolated quantiles are the
    pitfall-17 trap). Every value int64.

    Output per cohort week: (cohort_week, n_converted, q1_minutes,
    median_minutes, q3_minutes).
    """
    from pyspark.sql import Window

    e = t["events"]
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    conv = (
        p.join(s, "user_id")
        .filter(F.col("ts") >= F.col("s_ts"))
        .groupBy("user_id", "s_ts")
        .agg(F.min("ts").alias("p_ts"))
        .select(
            F.expr(
                "CAST(datediff(to_date(s_ts), DATE '1970-01-01')"
                " div 7 AS BIGINT)"
            ).alias("cohort_week"),
            (
                (
                    F.datediff(
                        F.to_date("p_ts"), F.lit("1970-01-01").cast("date")
                    )
                    * 1440
                    + F.hour("p_ts") * 60
                    + F.minute("p_ts")
                ).cast("long")
                - (
                    F.datediff(
                        F.to_date("s_ts"), F.lit("1970-01-01").cast("date")
                    )
                    * 1440
                    + F.hour("s_ts") * 60
                    + F.minute("s_ts")
                ).cast("long")
            ).alias("gap_min"),
        )
    )
    counts = conv.groupBy("cohort_week", "gap_min").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = counts.groupBy("cohort_week").agg(F.sum("c").alias("n"))
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("gap_min")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = counts.withColumn("cum", F.sum("c").over(w))
    ii = counts.sparkSession.range(1, 4).select(F.col("id").alias("i"))
    return (
        cum.join(tot, "cohort_week")
        .crossJoin(F.broadcast(ii))
        .filter(F.col("cum") >= F.expr("(i * n + 3) div 4"))
        .groupBy("cohort_week", "i")
        .agg(F.min("gap_min").alias("b"))
        .groupBy("cohort_week")
        .agg(
            F.min(F.when(F.col("i") == 1, F.col("b"))).alias("q1_minutes"),
            F.min(F.when(F.col("i") == 2, F.col("b"))).alias(
                "median_minutes"
            ),
            F.min(F.when(F.col("i") == 3, F.col("b"))).alias("q3_minutes"),
        )
        .join(tot, "cohort_week")
        .select(
            "cohort_week",
            F.col("n").alias("n_converted"),
            "q1_minutes",
            "median_minutes",
            "q3_minutes",
        )
        .orderBy("cohort_week")
    )


def funnel_time_oracle_sql() -> str:
    return """
        WITH s AS MATERIALIZED (
          SELECT user_id, MIN(ts) AS s_ts FROM events
          WHERE event_type = 'signup' GROUP BY user_id),
        conv AS MATERIALIZED (
          SELECT CAST(date_diff('day', DATE '1970-01-01',
                                CAST(s_ts AS DATE)) // 7 AS BIGINT)
                     AS cohort_week,
                 (CAST(date_diff('day', DATE '1970-01-01',
                                 CAST(p_ts AS DATE)) AS BIGINT) * 1440
                  + CAST(EXTRACT(hour FROM p_ts) AS BIGINT) * 60
                  + CAST(EXTRACT(minute FROM p_ts) AS BIGINT))
                 - (CAST(date_diff('day', DATE '1970-01-01',
                                   CAST(s_ts AS DATE)) AS BIGINT) * 1440
                    + CAST(EXTRACT(hour FROM s_ts) AS BIGINT) * 60
                    + CAST(EXTRACT(minute FROM s_ts) AS BIGINT))
                     AS gap_min
          FROM (
            SELECT e.user_id, s.s_ts, MIN(e.ts) AS p_ts
            FROM events e JOIN s ON s.user_id = e.user_id
            WHERE e.event_type = 'purchase' AND e.ts >= s.s_ts
            GROUP BY e.user_id, s.s_ts)),
        counts AS MATERIALIZED (
          SELECT cohort_week, gap_min, CAST(COUNT(*) AS BIGINT) AS c
          FROM conv GROUP BY cohort_week, gap_min),
        tot AS (SELECT cohort_week, CAST(SUM(c) AS BIGINT) AS n
                FROM counts GROUP BY cohort_week),
        cum AS (
          SELECT cohort_week, gap_min,
                 CAST(SUM(c) OVER (PARTITION BY cohort_week
                                   ORDER BY gap_min
                                   ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum
          FROM counts),
        quarts AS (
          SELECT cohort_week,
                 MIN(CASE WHEN i = 1 THEN b END) AS q1_minutes,
                 MIN(CASE WHEN i = 2 THEN b END) AS median_minutes,
                 MIN(CASE WHEN i = 3 THEN b END) AS q3_minutes
          FROM (
            SELECT cum.cohort_week, i.i AS i, MIN(gap_min) AS b
            FROM cum
            JOIN tot ON tot.cohort_week = cum.cohort_week
            CROSS JOIN generate_series(1, 3) AS i(i)
            WHERE cum >= (i.i * tot.n + 3) // 4
            GROUP BY cum.cohort_week, i.i)
          GROUP BY cohort_week)
        SELECT q.cohort_week, tot.n AS n_converted,
               q.q1_minutes, q.median_minutes, q.q3_minutes
        FROM quarts q JOIN tot ON tot.cohort_week = q.cohort_week
        ORDER BY q.cohort_week
        """


def weekly_revenue_wow(t: dict[str, DataFrame]) -> DataFrame:
    """Week-over-week revenue change per order priority — the
    growth-report shape (weekly rollup + lag + relative change) on
    the orders fact. Weeks are pure calendar-integer indexes
    (days-since-epoch div 7 — tz-free, engine-identical); revenue
    accumulates in exact decimal and is presented as integer cents;
    the change ratio is ONE IEEE divide on the exact cents (ROUND 9).
    The lag window runs over (priority x week) — bounded by the time
    span, never order volume. CALENDAR semantics, the trap a bare lag
    hides (caught by the Python differential in-round): lag gives the
    prior PRESENT week, so across a gap it would silently compare to
    a week that is not last week — the prior row counts only when its
    week index is exactly week - 1; first weeks and gap-following
    weeks report NULL.

    Output: (o_orderpriority, week, revenue_cents, prev_cents,
    wow_change).
    """
    from pyspark.sql import Window

    o = t["orders"].select(
        "o_orderpriority",
        F.expr(
            "CAST(datediff(o_orderdate, DATE '1970-01-01') div 7"
            " AS BIGINT)"
        ).alias("week"),
        F.col("o_totalprice").cast("decimal(30,4)").alias("p"),
    )
    weekly = o.groupBy("o_orderpriority", "week").agg(
        F.expr("CAST(SUM(p) * 100 AS BIGINT)").alias("revenue_cents")
    )
    w = Window.partitionBy("o_orderpriority").orderBy("week")
    return (
        weekly.withColumn(
            "prev_cents",
            F.when(
                F.lag("week").over(w) == F.col("week") - 1,
                F.lag("revenue_cents").over(w),
            ),
        )
        .select(
            "o_orderpriority",
            "week",
            "revenue_cents",
            "prev_cents",
            F.round(
                (
                    F.col("revenue_cents").cast("double")
                    - F.col("prev_cents").cast("double")
                )
                / F.col("prev_cents").cast("double"),
                9,
            ).alias("wow_change"),
        )
        .orderBy("o_orderpriority", "week")
    )


def weekly_revenue_oracle_sql() -> str:
    return """
        WITH weekly AS MATERIALIZED (
          SELECT o_orderpriority,
                 CAST(date_diff('day', DATE '1970-01-01',
                                o_orderdate) // 7 AS BIGINT) AS week,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) * 100
                      AS BIGINT) AS revenue_cents
          FROM orders GROUP BY 1, 2)
        SELECT o_orderpriority, week, revenue_cents, prev_cents,
               ROUND((CAST(revenue_cents AS DOUBLE)
                      - CAST(prev_cents AS DOUBLE))
                     / CAST(prev_cents AS DOUBLE), 9) AS wow_change
        FROM (
          SELECT o_orderpriority, week, revenue_cents,
                 CASE WHEN LAG(week) OVER w = week - 1
                      THEN LAG(revenue_cents) OVER w END AS prev_cents
          FROM weekly
          WINDOW w AS (PARTITION BY o_orderpriority ORDER BY week))
        ORDER BY o_orderpriority, week
        """


#: DuckDB CTE text of the SAME gap-sessionization core as
#: ``_sessionized`` (flagged -> with_id) — ONE SQL definition shared
#: by the sessionize_batch and session_entry_exit oracles, mirroring
#: the Python-side helper (the _DUP_SPAN_CTES rule).
SESSION_CTES_SQL = """
        flagged AS (
            SELECT *, CASE WHEN LAG(ts) OVER w IS NULL
                             OR date_diff('microsecond',
                                          LAG(ts) OVER w, ts)
                                > {gap_us}
                           THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        with_id AS (
            SELECT *, CAST(SUM(new_session) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS session_id
            FROM flagged)
        """


def session_duration_histogram(
    t: dict[str, DataFrame],
    gap_minutes: int = 30,
    sessions: DataFrame | None = None,
) -> DataFrame:
    """Power-of-two histogram of gap-session durations — the shape
    readout on the session population (bounce spike at bin 0, the
    engaged-session hump, the left-open-tab tail) that sits between
    ``sessionize_batch`` (per-session rows) and ``session_entry_exit``
    (what sessions do): how LONG they are. Third consumer of the ONE
    sessionization core (``_sessionized`` / SESSION_CTES_SQL — the
    drift rule), so the session definition cannot diverge.

    Exactness: duration = microsecond-exact span div 1e6 (integer
    seconds, both engines); bin = length(bin(dur_sec + 1)) - 1 — the
    bit-length floor(log2) recipe (pitfall 19) shifted by one so the
    zero-duration single-event session lands in its own bin 0;
    lo_sec = (1 << bin) - 1 labels each bin's inclusive lower edge
    with pure shift arithmetic (pitfall 16). All counts exact int64.

    Plan: the shared user_id-window sessionization pass, one
    session-grain aggregate, one ~40-row bin aggregate (with
    ``sessions=``: just the bin aggregate over the stored session
    table). Output: (duration_bin, lo_sec, n_sessions, n_events),
    one row per occupied bin.
    """
    s = sessions if sessions is not None else sessions_artifact(t, gap_minutes)
    sess = s.select(
        F.expr(
            "timestampdiff(MICROSECOND, session_start, session_end)"
            " div 1000000"
        ).alias("dur_sec"),
        "n_events",
    )
    return (
        sess.select(
            F.expr("CAST(length(bin(dur_sec + 1)) - 1 AS BIGINT)").alias(
                "duration_bin"
            ),
            "n_events",
        )
        .groupBy("duration_bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
        )
        .select(
            "duration_bin",
            F.expr("(1L << duration_bin) - 1").alias("lo_sec"),
            "n_sessions",
            "n_events",
        )
        .orderBy("duration_bin")
    )


def session_duration_histogram_oracle_sql(gap_minutes: int = 30) -> str:
    """DuckDB replay: shared SESSION_CTES_SQL core verbatim + the same
    bit-length binning and shift-arithmetic bin edges."""
    return (
        "WITH "
        + SESSION_CTES_SQL.format(gap_us=gap_minutes * 60 * 1_000_000)
        + """,
        sess AS (
            SELECT user_id, session_id,
                   date_diff('microsecond', MIN(ts), MAX(ts)) // 1000000
                       AS dur_sec,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM with_id GROUP BY user_id, session_id),
        binned AS (
            SELECT CAST(LENGTH(bin(dur_sec + 1)) - 1 AS BIGINT)
                       AS duration_bin,
                   n_events
            FROM sess)
        SELECT duration_bin,
               (1::BIGINT << duration_bin) - 1 AS lo_sec,
               CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(n_events) AS BIGINT) AS n_events
        FROM binned
        GROUP BY duration_bin
        ORDER BY duration_bin
        """
    )


def session_entry_exit(
    t: dict[str, DataFrame],
    gap_minutes: int = 30,
    sessions: DataFrame | None = None,
) -> DataFrame:
    """Entry/exit-page analysis on gap sessions: how do sessions START
    and how do they END — the (entry event type x exit event type)
    transition grid with session counts and event volume. The
    product-analytics staple behind "which landing actions lead to
    purchase-terminated sessions", and the aggregate consumer of the
    SAME sessionization core as ``sessionize_batch`` (the
    ``_sessionized`` helper — one definition, no drift).

    Entry/exit are taken over the TOTAL per-session order
    (ts, event_id — the sessionization order itself), materialized as
    two row_number ranks riding the same user_id-partitioned sort the
    session ids already paid for; single-event sessions count with
    entry = exit.

    Plan: the _sessionized window chain (one user_id shuffle) folded
    into the session-grain aggregate — entry/exit are min_by/max_by
    over the sessionization order struct inside ``sessions_artifact``
    (the earlier two-row_number formulation paid two extra window
    passes for the same total order) — then one small grouped count;
    output is <= types² rows. With ``sessions=``, just the grouped
    count over the stored session table.

    Output: (entry_type, exit_type, n_sessions, total_events).
    """
    s = sessions if sessions is not None else sessions_artifact(t, gap_minutes)
    return (
        s.groupBy("entry_type", "exit_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum("n_events").cast("long").alias("total_events"),
        )
        .orderBy("entry_type", "exit_type")
    )


def session_entry_exit_oracle_sql(gap_minutes: int = 30) -> str:
    """DuckDB replay: the shared SESSION_CTES_SQL core verbatim, the
    same double row_number edge extraction, same grouped counts."""
    return (
        "WITH "
        + SESSION_CTES_SQL.format(gap_us=gap_minutes * 60 * 1_000_000)
        + """,
        ranked AS (
          SELECT user_id, session_id, event_type,
                 ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                    ORDER BY ts, event_id) AS rn_f,
                 ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                    ORDER BY ts DESC, event_id DESC)
                     AS rn_b
          FROM with_id),
        per_session AS (
          SELECT user_id, session_id,
                 CAST(COUNT(*) AS BIGINT) AS n_ev
          FROM with_id GROUP BY user_id, session_id),
        edge AS (
          SELECT user_id, session_id,
                 MAX(CASE WHEN rn_f = 1 THEN event_type END)
                     AS entry_type,
                 MAX(CASE WHEN rn_b = 1 THEN event_type END)
                     AS exit_type
          FROM ranked WHERE rn_f = 1 OR rn_b = 1
          GROUP BY user_id, session_id)
        SELECT e.entry_type, e.exit_type,
               CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(p.n_ev) AS BIGINT) AS total_events
        FROM edge e
        JOIN per_session p ON p.user_id = e.user_id
                          AND p.session_id = e.session_id
        GROUP BY e.entry_type, e.exit_type
        ORDER BY e.entry_type, e.exit_type
        """
    )


#: attribution lookback — clicks within this many days before a
#: purchase share its credit.
ATTRIBUTION_WINDOW_DAYS = 7


def multitouch_attribution(
    t: dict[str, DataFrame], window_days: int = ATTRIBUTION_WINDOW_DAYS
) -> DataFrame:
    """Linear multi-touch attribution: every purchase's value is split
    EQUALLY across the user's clicks in the preceding ``window_days``
    — the standard alternative to last-touch
    (``asof_purchase_attribution`` — single winner) when marketing
    wants credit spread over the whole converting path.

    Conservation is EXACT and integer: each touch gets
    cents div n_touches, and the remainder cents go to the LAST
    (most recent) click of that purchase's path — so per user,
    credited + unattributed == total purchase cents, bit-for-bit (an
    invariant the oracle re-proves on every run since both sides
    carry all three columns). Division and modulo on non-negative
    int64 only (Spark div == DuckDB //); time bounds by INTERVAL
    arithmetic on NTZ values (never epoch casts — pitfall 4).

    Plan: purchases LEFT JOIN clicks on user_id + the time band (one
    user-keyed shuffle; fan-out bounded by a user's weekly click
    volume — the same per-user skew envelope every behavior operator
    here carries), one purchase-keyed window pair for n/rank, one
    user-keyed final aggregate. No self-join of the full event table:
    both sides are type-pruned at the scan.

    Output per user: (user_id, n_purchases, n_attributed,
    n_touch_pairs, credited_cents, unattributed_cents).
    """
    ev = t["events"]
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.col("ts").alias("pts"),
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("cts"),
    )
    j = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("cts") < F.col("pts"))
        & (
            F.col("pts")
            <= F.col("cts") + F.expr(f"INTERVAL {window_days} DAYS")
        ),
        "left",
    )
    wp = Window.partitionBy("pid")
    wr = wp.orderBy("cts", "cid")
    scored = j.select(
        "pid",
        "user_id",
        "cents",
        "cid",
        F.count("cid").over(wp).alias("n_touches"),
        F.row_number().over(wr).alias("rn"),
    ).withColumn(
        "credit",
        F.when(
            F.col("cid").isNotNull(),
            F.expr("cents div n_touches")
            + F.when(
                F.col("rn") == F.col("n_touches"),
                F.expr("cents % n_touches"),
            ).otherwise(F.lit(0)),
        ),
    )
    return (
        scored.groupBy("user_id")
        .agg(
            F.countDistinct("pid").cast("long").alias("n_purchases"),
            F.countDistinct(
                F.when(F.col("cid").isNotNull(), F.col("pid"))
            )
            .cast("long")
            .alias("n_attributed"),
            F.count("cid").cast("long").alias("n_touch_pairs"),
            F.coalesce(F.sum("credit"), F.lit(0))
            .cast("long")
            .alias("credited_cents"),
            F.coalesce(
                F.sum(F.when(F.col("cid").isNull(), F.col("cents"))),
                F.lit(0),
            )
            .cast("long")
            .alias("unattributed_cents"),
        )
        .orderBy("user_id")
    )


def multitouch_attribution_oracle_sql(
    window_days: int = ATTRIBUTION_WINDOW_DAYS,
) -> str:
    """DuckDB replay: same left band join, same div/mod split with
    the remainder-to-latest rule, same per-user rollup."""
    return f"""
        WITH p AS (
          SELECT event_id AS pid, user_id, ts AS pts,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
          FROM events WHERE event_type = 'purchase'),
        c AS (
          SELECT event_id AS cid, user_id AS c_user, ts AS cts
          FROM events WHERE event_type = 'click'),
        j AS (
          SELECT p.*, c.cid, c.cts
          FROM p LEFT JOIN c
            ON c.c_user = p.user_id
           AND c.cts < p.pts
           AND p.pts <= c.cts + INTERVAL {window_days} DAY),
        scored AS (
          SELECT pid, user_id, cents, cid,
                 COUNT(cid) OVER (PARTITION BY pid) AS n_touches,
                 ROW_NUMBER() OVER (PARTITION BY pid
                                    ORDER BY cts, cid) AS rn
          FROM j),
        credited AS (
          SELECT *, CASE WHEN cid IS NOT NULL
                         THEN cents // n_touches
                              + CASE WHEN rn = n_touches
                                     THEN cents % n_touches
                                     ELSE 0 END
                    END AS credit
          FROM scored)
        SELECT user_id,
               CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_purchases,
               CAST(COUNT(DISTINCT CASE WHEN cid IS NOT NULL
                                        THEN pid END)
                    AS BIGINT) AS n_attributed,
               CAST(COUNT(cid) AS BIGINT) AS n_touch_pairs,
               CAST(COALESCE(SUM(credit), 0) AS BIGINT)
                   AS credited_cents,
               CAST(COALESCE(SUM(CASE WHEN cid IS NULL
                                      THEN cents END), 0)
                    AS BIGINT) AS unattributed_cents
        FROM credited
        GROUP BY user_id
        ORDER BY user_id
        """


#: Holt forecast horizon (days past the last observed day).
HOLT_HORIZON_DAYS = 7


def holt_linear_forecast(t: dict[str, DataFrame]) -> DataFrame:
    """Holt's linear (double-exponential) smoothing over the DENSE
    daily revenue series per event type, with a ``HOLT_HORIZON_DAYS``
    forecast — level + trend where ``ewma_halflife_values`` stops at
    level, i.e. the first forecasting operator that extrapolates.

    Exact cross-engine recurrence WITHOUT floats: alpha = beta = 1/2,
    so each step is
        l_k = (y_k + l_{k-1} + b_{k-1}) >> 1
        b_k = (l_k - l_{k-1} + b_{k-1}) >> 1
    and ``>>`` is ARITHMETIC shift in both engines — floor division
    by 2 even on negative trend values (verified: -5 >> 1 == -3 both
    sides; plain ``div``/``//`` would diverge on negatives, pitfall
    12 — the shift IS the portable floor). Missing days enter as true
    zero-revenue observations via a per-type ``sequence`` spine (the
    gapfill rule): dropping them would splice non-adjacent days and
    fabricate trend.

    Plan: one fact collapse to (type, day), a span-bounded dense
    spine, then ONE per-type array fold — the recurrence runs inside
    ``aggregate`` (whole-stage codegen) over a series whose length is
    the TIME SPAN in days, never event volume; the oracle replays it
    as a recursive CTE stepping the same integers.

    Output: (event_type, n_days, level_cents, trend_cents,
    forecast_cents) where forecast = level + horizon * trend.
    """
    e = t["events"]
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")).alias(
            "cents"
        )
    )
    span = daily.groupBy("event_type").agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    )
    spine = span.select(
        "event_type",
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("d"),
    )
    dense = (
        spine.join(daily, ["event_type", "d"], "left")
        .select(
            "event_type",
            "d",
            F.coalesce("cents", F.lit(0)).cast("long").alias("cents"),
        )
    )
    l2 = "shiftright(x.cents + acc.l + acc.b, 1)"
    fold = (
        "aggregate(xs,"
        " named_struct('l', CAST(0 AS BIGINT), 'b', CAST(0 AS BIGINT),"
        "              'k', CAST(0 AS BIGINT)),"
        " (acc, x) -> IF(acc.k = 0,"
        "   named_struct('l', x.cents, 'b', CAST(0 AS BIGINT),"
        "                'k', CAST(1 AS BIGINT)),"
        f"  named_struct('l', {l2},"
        f"               'b', shiftright({l2} - acc.l + acc.b, 1),"
        "                'k', acc.k + 1)))"
    )
    return (
        dense.groupBy("event_type")
        .agg(
            F.expr(
                "sort_array(collect_list(struct(d, cents)))"
            ).alias("xs")
        )
        .select("event_type", F.expr(fold).alias("st"))
        .select(
            "event_type",
            F.col("st.k").alias("n_days"),
            F.col("st.l").alias("level_cents"),
            F.col("st.b").alias("trend_cents"),
            (
                F.col("st.l") + F.lit(HOLT_HORIZON_DAYS) * F.col("st.b")
            ).alias("forecast_cents"),
        )
        .orderBy("event_type")
    )


def holt_linear_oracle_sql(horizon: int = HOLT_HORIZON_DAYS) -> str:
    """DuckDB replay: same dense daily series, the recurrence stepped
    by a recursive CTE over the SAME arithmetic-shift integers."""
    return f"""
        WITH RECURSIVE daily AS MATERIALIZED (
          SELECT event_type, CAST(ts AS DATE) AS d,
                 CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM events GROUP BY event_type, CAST(ts AS DATE)),
        span AS (
          SELECT event_type, MIN(d) AS lo, MAX(d) AS hi
          FROM daily GROUP BY event_type),
        spine AS (
          SELECT event_type,
                 CAST(UNNEST(generate_series(CAST(lo AS TIMESTAMP),
                                             CAST(hi AS TIMESTAMP),
                                             INTERVAL 1 DAY)) AS DATE)
                     AS d
          FROM span),
        series AS MATERIALIZED (
          SELECT sp.event_type,
                 CAST(ROW_NUMBER() OVER (PARTITION BY sp.event_type
                                         ORDER BY sp.d)
                      AS BIGINT) AS step,
                 CAST(COALESCE(da.cents, 0) AS BIGINT) AS y
          FROM spine sp
          LEFT JOIN daily da ON da.event_type = sp.event_type
                            AND da.d = sp.d),
        r AS (
          SELECT event_type, step, y AS l, CAST(0 AS BIGINT) AS b
          FROM series WHERE step = 1
          UNION ALL
          SELECT s.event_type, s.step,
                 (s.y + r.l + r.b) >> 1,
                 (((s.y + r.l + r.b) >> 1) - r.l + r.b) >> 1
          FROM r JOIN series s ON s.event_type = r.event_type
                              AND s.step = r.step + 1),
        last AS (
          SELECT event_type, MAX(step) AS n_days
          FROM r GROUP BY event_type)
        SELECT r.event_type,
               CAST(l.n_days AS BIGINT) AS n_days,
               r.l AS level_cents,
               r.b AS trend_cents,
               r.l + {horizon} * r.b AS forecast_cents
        FROM r JOIN last l ON l.event_type = r.event_type
                          AND l.n_days = r.step
        ORDER BY r.event_type
        """


#: DuckDB CTE text of the seasonal-naive decomposition core (hourly ->
#: profile -> decomposed rows) — ONE SQL definition shared by the
#: seasonal_decompose_hourly oracle and the seasonality-strength
#: composition (the _DUP_SPAN_CTES drift rule).
SEASONAL_DECOMP_CTES_SQL = """
        hourly AS (
          SELECT event_type, date_trunc('hour', ts) AS bucket,
                 CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS actual_cents
          FROM events GROUP BY event_type, date_trunc('hour', ts)),
        profile AS (
          SELECT event_type, EXTRACT(hour FROM bucket) AS hod,
                 CAST(CAST(SUM(actual_cents) AS BIGINT) // COUNT(*)
                      AS BIGINT) AS seasonal_cents
          FROM hourly GROUP BY event_type, EXTRACT(hour FROM bucket)),
        decomposed AS (
          SELECT h.event_type, h.bucket, h.actual_cents,
                 p.seasonal_cents,
                 h.actual_cents - p.seasonal_cents AS residual_cents
          FROM hourly h
          JOIN profile p
            ON p.event_type = h.event_type
           AND p.hod = EXTRACT(hour FROM h.bucket))
        """


def seasonal_decompose_oracle_sql() -> str:
    """The registered seasonal_decompose_hourly oracle, off the shared
    decomposition fragment."""
    return (
        "WITH "
        + SEASONAL_DECOMP_CTES_SQL
        + """
        SELECT event_type, bucket, actual_cents, seasonal_cents,
               residual_cents
        FROM decomposed
        ORDER BY event_type, bucket
        """
    )


def seasonality_strength_hourly(t: dict[str, DataFrame]) -> DataFrame:
    """Seasonality strength per event type — Hyndman's F_s = 1 -
    var(residual)/var(actual) over the seasonal-naive decomposition:
    1 means the hour-of-day profile explains everything, 0 means the
    profile explains nothing (and ``seasonal_decompose_hourly`` isn't
    worth running on that stream). The one-scalar summary OF the
    decomposition operator — called directly, so the whole decompose
    chain re-verifies inside this hash (the anomaly_suite rule).

    Exactness: both series are int64 cents; the two population
    variances come from EXACT-DECIMAL sufficient statistics (operands
    cast decimal(19,0), the assortativity recipe — hourly cents grow
    with SF and n*Σx² would leave int64 at lake scale) and fold into
    ONE closed-form IEEE expression, ROUND(.., 9). Zero-variance
    actuals yield NULL (0/0 is undefined, not 0).

    Output: (event_type, n_buckets, strength) — one row per type.
    """
    d = seasonal_decompose_hourly(t)
    n = F.count(F.lit(1)).cast("double")
    sa = F.sum(F.col("actual_cents").cast("decimal(19,0)")).cast("double")
    saa = F.sum(
        (
            F.col("actual_cents").cast("decimal(19,0)")
            * F.col("actual_cents").cast("decimal(19,0)")
        )
    ).cast("double")
    sr = F.sum(F.col("residual_cents").cast("decimal(19,0)")).cast(
        "double"
    )
    srr = F.sum(
        (
            F.col("residual_cents").cast("decimal(19,0)")
            * F.col("residual_cents").cast("decimal(19,0)")
        )
    ).cast("double")
    va = n * saa - sa * sa
    vr = n * srr - sr * sr
    return (
        d.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.round(
                F.when(va > 0, F.lit(1.0) - vr / va), 9
            ).alias("strength"),
        )
        .orderBy("event_type")
    )


def seasonality_strength_oracle_sql() -> str:
    """DuckDB replay: shared decomposition fragment + the same
    decimal-exact sums and single IEEE closed form."""
    return (
        "WITH "
        + SEASONAL_DECOMP_CTES_SQL
        + """
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_buckets,
               ROUND(CASE WHEN CAST(COUNT(*) AS DOUBLE)
                               * CAST(SUM(CAST(actual_cents
                                               AS DECIMAL(19,0))
                                          * CAST(actual_cents
                                                 AS DECIMAL(19,0)))
                                      AS DOUBLE)
                               - CAST(SUM(CAST(actual_cents
                                               AS DECIMAL(19,0)))
                                      AS DOUBLE)
                                 * CAST(SUM(CAST(actual_cents
                                                 AS DECIMAL(19,0)))
                                        AS DOUBLE) > 0
                          THEN 1.0
                               - (CAST(COUNT(*) AS DOUBLE)
                                  * CAST(SUM(CAST(residual_cents
                                                  AS DECIMAL(19,0))
                                             * CAST(residual_cents
                                                    AS DECIMAL(19,0)))
                                         AS DOUBLE)
                                  - CAST(SUM(CAST(residual_cents
                                                  AS DECIMAL(19,0)))
                                         AS DOUBLE)
                                    * CAST(SUM(CAST(residual_cents
                                                    AS DECIMAL(19,0)))
                                           AS DOUBLE))
                                 / (CAST(COUNT(*) AS DOUBLE)
                                    * CAST(SUM(CAST(actual_cents
                                                    AS DECIMAL(19,0))
                                               * CAST(actual_cents
                                                      AS DECIMAL(19,0)))
                                           AS DOUBLE)
                                    - CAST(SUM(CAST(actual_cents
                                                    AS DECIMAL(19,0)))
                                           AS DOUBLE)
                                      * CAST(SUM(CAST(actual_cents
                                                      AS DECIMAL(19,0)))
                                             AS DOUBLE))
                     END, 9) AS strength
        FROM decomposed
        GROUP BY event_type
        ORDER BY event_type
        """
    )


#: minimum prominence, in cents, for a reported hourly revenue peak.
PEAK_MIN_PROMINENCE_CENTS = 1_000


def local_peaks_hourly(
    t: dict[str, DataFrame],
    min_prominence_cents: int = PEAK_MIN_PROMINENCE_CENTS,
) -> DataFrame:
    """Local-peak detection on the DENSE hourly revenue series per
    event type: hours strictly above BOTH calendar neighbors with
    prominence (height over the taller neighbor) at or past the
    threshold — the change-point primitive behind alerting on traffic
    spikes, and the honest version of it: missing hours enter as true
    zeros (the gapfill rule), because on an observed-only series
    lag/lead would compare NON-adjacent hours and both invent and
    hide peaks at gaps.

    Exactness: hour indexes from calendar components (the
    interarrival rule — day-diff*24 + hour, no epoch casts), integer
    cents, strict integer comparisons; the day/hour presentation
    columns reconstruct from the index by exact integer div/mod
    (non-negative — div == //). Series boundary hours are excluded
    (one-sided maxima are trend ends, not peaks — the standard
    convention).

    Plan: one fact collapse to (type, hour), a span-bounded dense
    spine, ONE window pass carrying both neighbors, a final filter.

    Output: (event_type, day, hour, cents, prominence_cents).
    """
    from pyspark.sql import Window

    e = t["events"]
    hour_idx = (
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")) * 24
        + F.hour("ts")
    ).cast("long")
    hourly = (
        e.select(
            "event_type",
            hour_idx.alias("h"),
            F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias(
                "cents"
            ),
        )
        .groupBy("event_type", "h")
        .agg(F.sum("cents").alias("cents"))
    )
    span = hourly.groupBy("event_type").agg(
        F.min("h").alias("lo"), F.max("h").alias("hi")
    )
    spine = span.select(
        "event_type",
        F.explode(F.expr("sequence(lo, hi)")).alias("h"),
    )
    dense = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        F.coalesce("cents", F.lit(0)).cast("long").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("h")
    flagged = (
        dense.withColumn("prev", F.lag("cents").over(w))
        .withColumn("nxt", F.lead("cents").over(w))
        .filter(
            F.col("prev").isNotNull()
            & F.col("nxt").isNotNull()
            & (F.col("cents") > F.col("prev"))
            & (F.col("cents") > F.col("nxt"))
        )
        .withColumn(
            "prominence_cents",
            F.col("cents") - F.greatest("prev", "nxt"),
        )
        .filter(F.col("prominence_cents") >= min_prominence_cents)
    )
    return flagged.select(
        "event_type",
        F.expr("date_add(DATE '1970-01-01', CAST(h div 24 AS INT))").alias(
            "day"
        ),
        F.expr("CAST(h % 24 AS BIGINT)").alias("hour"),
        "cents",
        "prominence_cents",
    ).orderBy("event_type", "day", "hour")


def local_peaks_oracle_sql(
    min_prominence_cents: int = PEAK_MIN_PROMINENCE_CENTS,
) -> str:
    """DuckDB replay: same calendar hour indexes, dense integer spine,
    one lag/lead window, same strict comparisons."""
    return f"""
        WITH hourly AS MATERIALIZED (
          SELECT event_type,
                 CAST(date_diff('day', DATE '1970-01-01',
                                CAST(ts AS DATE)) AS BIGINT) * 24
                 + CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
                 CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM events GROUP BY 1, 2),
        span AS (SELECT event_type, MIN(h) AS lo, MAX(h) AS hi
                 FROM hourly GROUP BY event_type),
        spine AS (
          SELECT event_type, UNNEST(generate_series(lo, hi)) AS h
          FROM span),
        dense AS (
          SELECT sp.event_type, sp.h,
                 CAST(COALESCE(hy.cents, 0) AS BIGINT) AS cents
          FROM spine sp
          LEFT JOIN hourly hy ON hy.event_type = sp.event_type
                             AND hy.h = sp.h),
        flagged AS (
          SELECT event_type, h, cents,
                 LAG(cents) OVER w AS prev,
                 LEAD(cents) OVER w AS nxt
          FROM dense
          WINDOW w AS (PARTITION BY event_type ORDER BY h))
        SELECT event_type,
               DATE '1970-01-01' + CAST(h // 24 AS INT) AS day,
               CAST(h % 24 AS BIGINT) AS hour,
               cents,
               cents - GREATEST(prev, nxt) AS prominence_cents
        FROM flagged
        WHERE prev IS NOT NULL AND nxt IS NOT NULL
          AND cents > prev AND cents > nxt
          AND cents - GREATEST(prev, nxt) >= {min_prominence_cents}
        ORDER BY event_type, day, hour
        """


def user_activity_streaks(t: dict[str, DataFrame]) -> DataFrame:
    """Engagement streaks per user: longest run of CONSECUTIVE active
    calendar days, plus the streak ending on the user's last active
    day — the retention feature behind "don't break the chain"
    mechanics and churn-risk models (a long current streak is the
    strongest single no-churn signal).

    The gaps-and-islands classic, date-exact: distinct active days
    per user, island id = day - row_number (consecutive days share
    it — pure date/integer arithmetic, tz-free on NTZ dates), one
    grouped count per island, then per-user maxima. The "current"
    streak is the island containing the user's max day.

    Plan: fact collapses to DISTINCT (user, day) first (the window
    input is user-days, never event volume), one user-keyed window,
    two bounded aggregates.

    Output: (user_id, n_active_days, longest_streak, last_streak).
    """
    from pyspark.sql import Window

    days = (
        t["events"]
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.withColumn(
        "isl",
        F.datediff(
            "day", F.lit("1970-01-01").cast("date")
        ) - F.row_number().over(w),
    )
    per_island = islands.groupBy("user_id", "isl").agg(
        F.count(F.lit(1)).cast("long").alias("len"),
        F.max("day").alias("island_end"),
    )
    return (
        per_island.groupBy("user_id")
        .agg(
            F.sum("len").cast("long").alias("n_active_days"),
            F.max("len").cast("long").alias("longest_streak"),
            F.expr("max_by(len, island_end)")
            .cast("long")
            .alias("last_streak"),
        )
        .orderBy("user_id")
    )


def user_activity_streaks_oracle_sql() -> str:
    """DuckDB replay: same day-minus-row_number islands; the
    last-streak arg-max keys on island_end (unique per user, so
    max_by/arg_max cannot tie)."""
    return """
        WITH days AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
          FROM events),
        islands AS (
          SELECT user_id, day,
                 date_diff('day', DATE '1970-01-01', day)
                 - ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY day) AS isl
          FROM days),
        per_island AS (
          SELECT user_id, isl,
                 CAST(COUNT(*) AS BIGINT) AS len,
                 MAX(day) AS island_end
          FROM islands GROUP BY user_id, isl)
        SELECT user_id,
               CAST(SUM(len) AS BIGINT) AS n_active_days,
               CAST(MAX(len) AS BIGINT) AS longest_streak,
               CAST(arg_max(len, island_end) AS BIGINT) AS last_streak
        FROM per_island
        GROUP BY user_id
        ORDER BY user_id
        """


def odds_ratio_type_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """The 2x2 association table and odds ratio between every pair of
    event types at USER level — the inferential companion to
    ``type_affinity_jaccard``: Jaccard says how much two behaviors
    overlap; the odds ratio says how much doing one CHANGES THE ODDS
    of doing the other, with the full contingency cells (n11/n10/
    n01/n00) exposed for any downstream test.

    Exactness: all four cells derive from integer user-set counts
    (n10 = n_a - n11 by inclusion-exclusion, n00 = N - n_a - n_b +
    n11); or_ppm = n11 * n00 * 1e6 div (n10 * n01) on non-negative
    int64, NULL when any off-diagonal cell is 0 (the unbounded/
    undefined cases — Haldane smoothing would trade exactness for a
    float). Envelope: cell products are <= N², so ppm is safe to
    N ~ 3e6 users; past that lift to decimal(38,0).

    Plan: ONE distinct (user, type) collapse feeds the pair self-join
    (fan-out bounded by types² after the collapse — the
    type_affinity shape), totals broadcast, N as a 1-row broadcast.

    Output: (type_a, type_b, n11, n10, n01, n00, or_ppm).
    """
    ut = (
        t["events"].select("user_id", "event_type").distinct()
    ).localCheckpoint()
    totals = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    nn = ut.select("user_id").distinct().agg(
        F.count(F.lit(1)).alias("N")
    )
    a = ut.select(F.col("event_type").alias("ta"), "user_id")
    b = ut.select(F.col("event_type").alias("tb"), "user_id")
    both = (
        a.join(b, "user_id")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("n11"))
    )
    t_a = totals.select(
        F.col("event_type").alias("ta"), F.col("n").alias("na")
    )
    t_b = totals.select(
        F.col("event_type").alias("tb"), F.col("n").alias("nb")
    )
    cells = (
        both.join(t_a, "ta")
        .join(t_b, "tb")
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            F.col("n11").cast("long").alias("n11"),
            (F.col("na") - F.col("n11")).cast("long").alias("n10"),
            (F.col("nb") - F.col("n11")).cast("long").alias("n01"),
            (F.col("N") - F.col("na") - F.col("nb") + F.col("n11"))
            .cast("long")
            .alias("n00"),
        )
    )
    return cells.select(
        "type_a",
        "type_b",
        "n11",
        "n10",
        "n01",
        "n00",
        F.when(
            (F.col("n10") > 0) & (F.col("n01") > 0),
            F.expr("n11 * n00 * 1000000 div (n10 * n01)"),
        ).alias("or_ppm"),
    ).orderBy("type_a", "type_b")


def odds_ratio_oracle_sql() -> str:
    return """
        WITH ut AS MATERIALIZED (
          SELECT DISTINCT user_id, event_type FROM events),
        totals AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
                   FROM ut GROUP BY event_type),
        nn AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS N
               FROM ut),
        co AS (
          SELECT a.event_type AS ta, b.event_type AS tb,
                 CAST(COUNT(*) AS BIGINT) AS n11
          FROM ut a JOIN ut b ON a.user_id = b.user_id
                             AND a.event_type < b.event_type
          GROUP BY a.event_type, b.event_type),
        cells AS (
          SELECT bo.ta AS type_a, bo.tb AS type_b, bo.n11,
                 t_a.n - bo.n11 AS n10,
                 t_b.n - bo.n11 AS n01,
                 nn.N - t_a.n - t_b.n + bo.n11 AS n00
          FROM co bo
          JOIN totals t_a ON t_a.event_type = bo.ta
          JOIN totals t_b ON t_b.event_type = bo.tb
          CROSS JOIN nn)
        SELECT type_a, type_b, n11, n10, n01, n00,
               CASE WHEN n10 > 0 AND n01 > 0
                    THEN n11 * n00 * 1000000 // (n10 * n01)
               END AS or_ppm
        FROM cells
        ORDER BY type_a, type_b
        """


def order_cadence_by_customer(t: dict[str, DataFrame]) -> DataFrame:
    """Purchasing cadence per customer: the median (and min/max) days
    between consecutive order days — the replenishment-cycle feature
    behind reorder reminders and churn-watch ("customer's cadence is
    30 days and it's been 90"). Day-grain: same-day orders collapse
    to one active day first, so the cadence measures CYCLES, not
    basket splits.

    The median is an INTEGER ORDER STATISTIC — the lower median
    (position ceil(n/2) in the sorted gaps), picked by row_number
    over the gap order (tied gaps are equal VALUES, so tie order
    cannot change the selected value) — never an interpolated
    percentile (pitfall 17). Gaps are date-on-date datediff (exact
    calendar arithmetic both engines).

    Plan: one orders scan -> distinct (customer, day), ONE
    customer-keyed window pass for lag + rank (both ride the same
    exchange), one customer-sized aggregate. Customers with fewer
    than two active days have no cadence and are excluded.

    Output: (o_custkey, n_active_days, n_gaps, median_gap_days,
    min_gap_days, max_gap_days).
    """
    from pyspark.sql import Window

    days = (
        t["orders"]
        .select("o_custkey", F.to_date("o_orderdate").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("o_custkey").orderBy("day")
    gaps = (
        days.withColumn(
            "gap", F.datediff("day", F.lag("day").over(w))
        )
        .filter(F.col("gap").isNotNull())
        .select("o_custkey", F.col("gap").cast("long").alias("gap"))
    )
    # three consumers (stats, rank, median join) — checkpoint so the
    # scan + lag window run once, not three times.
    gaps = gaps.localCheckpoint()
    wr = Window.partitionBy("o_custkey").orderBy("gap")
    ranked = gaps.withColumn("rn", F.row_number().over(wr))
    stats = gaps.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.min("gap").cast("long").alias("min_gap_days"),
        F.max("gap").cast("long").alias("max_gap_days"),
    )
    med = (
        ranked.join(stats.select("o_custkey", "n_gaps"), "o_custkey")
        .filter(F.col("rn") == F.expr("(n_gaps + 1) div 2"))
        .select("o_custkey", F.col("gap").alias("median_gap_days"))
    )
    return (
        stats.join(med, "o_custkey")
        .select(
            "o_custkey",
            (F.col("n_gaps") + 1).cast("long").alias("n_active_days"),
            "n_gaps",
            "median_gap_days",
            "min_gap_days",
            "max_gap_days",
        )
        .orderBy("o_custkey")
    )


def order_cadence_oracle_sql() -> str:
    """DuckDB replay: same distinct day-grain, lag gaps, and the
    lower-median order statistic by row_number."""
    return """
        WITH days AS (
          SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS day
          FROM orders),
        gaps AS MATERIALIZED (
          SELECT o_custkey,
                 CAST(date_diff('day', LAG(day) OVER w, day) AS BIGINT)
                     AS gap
          FROM days
          WINDOW w AS (PARTITION BY o_custkey ORDER BY day)),
        g AS (SELECT * FROM gaps WHERE gap IS NOT NULL),
        stats AS (
          SELECT o_custkey,
                 CAST(COUNT(*) AS BIGINT) AS n_gaps,
                 CAST(MIN(gap) AS BIGINT) AS min_gap_days,
                 CAST(MAX(gap) AS BIGINT) AS max_gap_days
          FROM g GROUP BY o_custkey),
        ranked AS (
          SELECT o_custkey, gap,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY gap) AS rn
          FROM g),
        med AS (
          SELECT r.o_custkey, r.gap AS median_gap_days
          FROM ranked r JOIN stats s ON s.o_custkey = r.o_custkey
          WHERE r.rn = (s.n_gaps + 1) // 2)
        SELECT s.o_custkey,
               s.n_gaps + 1 AS n_active_days,
               s.n_gaps,
               m.median_gap_days,
               s.min_gap_days,
               s.max_gap_days
        FROM stats s JOIN med m ON m.o_custkey = s.o_custkey
        ORDER BY s.o_custkey
        """


def dau_mau_stickiness(t: dict[str, DataFrame]) -> DataFrame:
    """Monthly engagement stickiness — the product metric every
    growth dashboard leads with: of the users active this month, how
    much of the month were they actually around for? stickiness =
    avg(DAU)/MAU, reported here in its exactly-equivalent integer
    form active_user_days / (n_active_days * MAU) so the whole chain
    is int64 (avg(DAU) = active_user_days / n_active_days; dividing
    by MAU and folding the two divides into one ratio avoids TWO
    stacked IEEE divides whose intermediate rounding the two engines
    could disagree on — one integer ``div`` is bit-identical anywhere).

    Calendar keys are pure integers (the weekly_revenue_wow rule):
    month_idx = (year-1970)*12 + month-1 and day = days-since-epoch,
    both tz-free under the session's pinned UTC.

    Scale shape: ONE distinct collapse of the fact to its
    (month, day, user) grain — a single digest-keyed shuffle, the
    dedup_exact discipline — then a month-cardinality aggregate
    (count_distinct over the collapsed grain, never the fact). No
    windows, no joins, nothing driver-side. Envelope:
    active_user_days * 1e6 needs active_user_days <= 9.2e12 —
    i.e. ~9 trillion user-days per MONTH — before the ppm multiply
    could wrap; unreachable (that is 300 billion DAU).

    Output: (month_idx, mau, n_active_days, active_user_days,
    stickiness_ppm), one row per observed month.
    """
    grain = (
        t["events"]
        .select(
            F.expr(
                "CAST((year(ts) - 1970) * 12 + month(ts) - 1 AS BIGINT)"
            ).alias("month_idx"),
            F.expr(
                "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01')"
                " AS BIGINT)"
            ).alias("day"),
            "user_id",
        )
        .distinct()
    )
    return (
        grain.groupBy("month_idx")
        .agg(
            F.count_distinct("user_id").cast("long").alias("mau"),
            F.count_distinct("day").cast("long").alias("n_active_days"),
            F.count(F.lit(1)).cast("long").alias("active_user_days"),
        )
        .select(
            "month_idx",
            "mau",
            "n_active_days",
            "active_user_days",
            F.expr(
                "(active_user_days * 1000000L)"
                " div (n_active_days * mau)"
            ).alias("stickiness_ppm"),
        )
        .orderBy("month_idx")
    )


def dau_mau_oracle_sql() -> str:
    return """
        WITH grain AS (
          SELECT DISTINCT
                 CAST((year(ts) - 1970) * 12 + month(ts) - 1
                      AS BIGINT) AS month_idx,
                 CAST(date_diff('day', DATE '1970-01-01',
                                CAST(ts AS DATE)) AS BIGINT) AS day,
                 user_id
          FROM events)
        SELECT month_idx,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau,
               CAST(COUNT(DISTINCT day) AS BIGINT) AS n_active_days,
               CAST(COUNT(*) AS BIGINT) AS active_user_days,
               (COUNT(*) * 1000000)
                   // (COUNT(DISTINCT day) * COUNT(DISTINCT user_id))
                   AS stickiness_ppm
        FROM grain GROUP BY month_idx ORDER BY month_idx
        """


def new_returning_weekly(t: dict[str, DataFrame]) -> DataFrame:
    """Weekly new-vs-returning split — the acquisition/retention
    decomposition of the active-user curve: every (user, week) active
    pair is NEW if that week is the user's first-ever active week,
    RETURNING otherwise. A growth chart that only plots WAU hides
    whether growth is acquisition or habit; this is the two-line
    version.

    Weeks are epoch-week integers (days-since-epoch div 7 — the
    weekly_revenue_wow convention). new_ppm = n_new * 1e6 div
    n_active is one integer divide.

    Scale shape: ONE distinct collapse to the (user, week) grain,
    then the user's first week via a user-keyed min-aggregate of that
    SAME collapsed frame (user-bounded, never fact-bounded), joined
    back on user_id — both sides already collapsed, and AQE broadcasts
    the min-table when small. Flagging is a codegen comparison; the
    weekly rollup is week-cardinality. No windows over the fact, no
    second fact scan (the collapsed grain is checkpointed and reused
    — the chi2 materialize-the-shared-input rule).

    Output: (week, n_active, n_new, n_returning, new_ppm).
    """
    uw = (
        t["events"]
        .select(
            "user_id",
            F.expr(
                "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01')"
                " div 7 AS BIGINT)"
            ).alias("week"),
        )
        .distinct()
        .localCheckpoint()
    )
    first = uw.groupBy("user_id").agg(F.min("week").alias("first_week"))
    return (
        uw.join(first, "user_id")
        .groupBy("week")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_active"),
            F.sum(
                F.when(F.col("week") == F.col("first_week"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_new"),
        )
        .select(
            "week",
            "n_active",
            "n_new",
            (F.col("n_active") - F.col("n_new")).alias("n_returning"),
            F.expr("(n_new * 1000000L) div n_active").alias("new_ppm"),
        )
        .orderBy("week")
    )


def new_returning_oracle_sql() -> str:
    return """
        WITH uw AS MATERIALIZED (
          SELECT DISTINCT user_id,
                 CAST(date_diff('day', DATE '1970-01-01',
                                CAST(ts AS DATE)) // 7
                      AS BIGINT) AS week
          FROM events),
        first AS (
          SELECT user_id, MIN(week) AS first_week
          FROM uw GROUP BY user_id)
        SELECT week,
               CAST(COUNT(*) AS BIGINT) AS n_active,
               CAST(SUM(CASE WHEN week = first_week THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new,
               CAST(COUNT(*)
                    - SUM(CASE WHEN week = first_week THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_returning,
               CAST((SUM(CASE WHEN week = first_week THEN 1 ELSE 0 END)
                     * 1000000) // COUNT(*) AS BIGINT) AS new_ppm
        FROM uw JOIN first USING (user_id)
        GROUP BY week ORDER BY week
        """


def kaplan_meier_interorder(t: dict[str, DataFrame]) -> DataFrame:
    """Kaplan-Meier survival curve of the customer inter-order wait —
    the churn question asked properly: "what fraction of waits survive
    past d days?", with the still-open wait after each customer's LAST
    order entering as a right-censored subject instead of being
    dropped (the naive gap histogram silently conditions on the next
    order having happened — survivorship bias in one line). Subjects:
    every consecutive (customer, order-day) gap is an observed event;
    every customer's final open gap (last order day to the lake's
    global max order day) is censored.

    Exactness: risk sets and death counts are pure int64 (a
    descending cumulative over the DURATION SUPPORT — bounded by the
    calendar span in days, never order volume). The survival product
    Π (1 - d_i/n_i) is a float, made engine-identical the
    cramers_v way: the death-time table is collected into ONE sorted
    array and each row's prefix product is an explicit left fold
    (Spark ``aggregate(slice(...))``, DuckDB ``list_reduce`` over the
    ordered slice) — fixed order, fixed shape, no hash-aggregation
    ambiguity; Spark's extra leading ``1.0 * x1`` is IEEE-exact. The
    per-row fold is O(k²) over k = distinct death durations — span-
    bounded (a decade is ~3.7k values), a one-task codegen loop.

    Scale shape: one distinct (customer, day) collapse, one
    customer-keyed lag window (the order_cadence discipline), one
    customer max-aggregate, a 1-row global-max broadcast, then
    everything lives on the duration support. Output: one row per
    DEATH time (the standard KM step table): (dur_days, n_at_risk,
    d_events, censored_here, survival), survival ROUND 9.
    """
    days = (
        t["orders"]
        .select("o_custkey", F.col("o_orderdate").alias("day"))
        .distinct()
        .localCheckpoint()
    )
    w = Window.partitionBy("o_custkey").orderBy("day")
    events = (
        days.select(
            F.datediff("day", F.lag("day").over(w)).cast("long").alias("dur")
        )
        .filter(F.col("dur").isNotNull())
        .select("dur", F.lit(1).alias("obs"))
    )
    maxd = days.agg(F.max("day").alias("md"))
    cens = (
        days.groupBy("o_custkey")
        .agg(F.max("day").alias("last_day"))
        .crossJoin(F.broadcast(maxd))
        .select(
            F.datediff("md", "last_day").cast("long").alias("dur"),
            F.lit(0).alias("obs"),
        )
    )
    per_dur = (
        events.unionAll(cens)
        .groupBy("dur")
        .agg(
            F.sum(F.when(F.col("obs") == 1, 1).otherwise(0))
            .cast("long")
            .alias("d"),
            F.sum(F.when(F.col("obs") == 0, 1).otherwise(0))
            .cast("long")
            .alias("c"),
        )
    )
    wd = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = per_dur.withColumn(
        "n_at_risk", F.sum(F.col("d") + F.col("c")).over(wd).cast("long")
    )
    dead = risk.filter(F.col("d") > 0)
    g = dead.agg(
        F.array_sort(
            F.collect_list(F.struct("dur", "n_at_risk", "d", "c"))
        ).alias("arr")
    )
    return (
        g.select(
            F.posexplode(
                F.expr(
                    "transform(arr, (x, i) -> struct("
                    " x.dur AS dur_days,"
                    " x.n_at_risk AS n_at_risk,"
                    " x.d AS d_events,"
                    " x.c AS censored_here,"
                    " round(aggregate(slice(arr, 1, i + 1),"
                    "   CAST(1.0 AS DOUBLE),"
                    "   (acc, y) -> acc * (1.0D - CAST(y.d AS DOUBLE)"
                    "     / CAST(y.n_at_risk AS DOUBLE))), 9)"
                    "   AS survival))"
                )
            ).alias("pos", "r")
        )
        .select("r.*")
        .orderBy("dur_days")
    )


def kaplan_meier_oracle_sql() -> str:
    """DuckDB replay: the same support-level risk algebra; the prefix
    product is ``list_reduce`` over the ordered slice a[1:i] (left
    fold — matches Spark's ``aggregate`` exactly, see docstring)."""
    return """
        WITH days AS MATERIALIZED (
          SELECT DISTINCT o_custkey, o_orderdate AS day FROM orders),
        gaps AS (
          SELECT date_diff('day',
                           LAG(day) OVER (PARTITION BY o_custkey
                                          ORDER BY day), day) AS dur
          FROM days),
        events AS (
          SELECT CAST(dur AS BIGINT) AS dur, 1 AS obs
          FROM gaps WHERE dur IS NOT NULL),
        maxd AS (SELECT MAX(day) AS md FROM days),
        cens AS (
          SELECT CAST(date_diff('day', last_day, md) AS BIGINT) AS dur,
                 0 AS obs
          FROM (SELECT o_custkey, MAX(day) AS last_day
                FROM days GROUP BY o_custkey), maxd),
        per_dur AS (
          SELECT dur,
                 CAST(SUM(CASE WHEN obs = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS d,
                 CAST(SUM(CASE WHEN obs = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS c
          FROM (SELECT * FROM events UNION ALL SELECT * FROM cens)
          GROUP BY dur),
        risk AS (
          SELECT dur, d, c,
                 CAST(SUM(d + c) OVER (ORDER BY dur DESC
                                       ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS n_at_risk
          FROM per_dur),
        arr AS (
          SELECT list({'dur': dur, 'n': n_at_risk, 'd': d, 'c': c}
                      ORDER BY dur) AS a
          FROM risk WHERE d > 0),
        expanded AS (
          SELECT unnest(list_transform(a, (x, i) -> {
                   'dur_days': x.dur,
                   'n_at_risk': x.n,
                   'd_events': x.d,
                   'censored_here': x.c,
                   'survival': ROUND(list_reduce(
                       list_transform(a[1:i],
                         y -> 1.0 - CAST(y.d AS DOUBLE)
                                    / CAST(y.n AS DOUBLE)),
                       (p, q) -> p * q), 9)})) AS r
          FROM arr)
        SELECT r.dur_days AS dur_days,
               r.n_at_risk AS n_at_risk,
               r.d_events AS d_events,
               r.censored_here AS censored_here,
               r.survival AS survival
        FROM expanded ORDER BY dur_days
        """


def churn_retention_monthly(t: dict[str, DataFrame]) -> DataFrame:
    """Monthly growth accounting — the full decomposition every
    subscription/engagement review runs: this month's actives split
    into NEW (first month ever), RETAINED (also active last month)
    and RESURRECTED (seen before, skipped last month), with last
    month's leavers as CHURNED; by construction n_active = new +
    retained + resurrected and n_churned = prev_active - retained.
    ``new_returning_weekly`` answers the acquisition question at week
    grain; this is the habit ledger at month grain.

    Month keys are the dau_mau calendar integers; rates are single
    integer divides (retention_ppm = retained*1e6 div prev_active,
    churn_ppm its complement ON THE SAME DENOMINATOR — they sum to
    <= 1e6 with truncation, never > 1e6). CALENDAR semantics across
    gaps (the weekly_revenue_wow trap): prev-month membership tests
    month_idx - 1 exactly, so a month following an empty month
    retains nobody and the empty month churns everybody — and months
    with no preceding observed month report NULL rates rather than
    pretending a zero denominator.

    Scale shape: ONE distinct (user, month) collapse, localCheckpointed
    and consumed three ways (self-join on (user, month-1) — both sides
    the collapsed grain; a user-keyed first-month min-table; the
    month-sized rollup). No windows, no fact re-scan.

    Output: (month_idx, n_active, n_new, n_retained, n_resurrected,
    n_churned_prev, retention_ppm, churn_ppm).
    """
    um = (
        t["events"]
        .select(
            "user_id",
            F.expr(
                "CAST((year(ts) - 1970) * 12 + month(ts) - 1 AS BIGINT)"
            ).alias("month_idx"),
        )
        .distinct()
        .localCheckpoint()
    )
    first = um.groupBy("user_id").agg(F.min("month_idx").alias("first_m"))
    prev = um.select(
        "user_id", (F.col("month_idx") + 1).alias("month_idx"),
        F.lit(1).alias("was_prev"),
    )
    cur = (
        um.join(first, "user_id")
        .join(prev, ["user_id", "month_idx"], "left")
        .groupBy("month_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_active"),
            F.sum(F.when(F.col("first_m") == F.col("month_idx"), 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
            F.sum(F.when(F.col("was_prev") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_retained"),
            F.sum(
                F.when(
                    F.col("was_prev").isNull()
                    & (F.col("first_m") < F.col("month_idx")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_resurrected"),
        )
    )
    totals = um.groupBy("month_idx").agg(
        F.count(F.lit(1)).cast("long").alias("prev_active")
    ).select((F.col("month_idx") + 1).alias("month_idx"), "prev_active")
    return (
        cur.join(F.broadcast(totals), "month_idx", "left")
        .select(
            "month_idx",
            "n_active",
            "n_new",
            "n_retained",
            "n_resurrected",
            (F.col("prev_active") - F.col("n_retained")).alias(
                "n_churned_prev"
            ),
            F.expr(
                "(n_retained * 1000000L) div prev_active"
            ).alias("retention_ppm"),
            F.expr(
                "((prev_active - n_retained) * 1000000L) div prev_active"
            ).alias("churn_ppm"),
        )
        .orderBy("month_idx")
    )


def churn_retention_oracle_sql() -> str:
    return """
        WITH um AS MATERIALIZED (
          SELECT DISTINCT user_id,
                 CAST((year(ts) - 1970) * 12 + month(ts) - 1
                      AS BIGINT) AS month_idx
          FROM events),
        first AS (
          SELECT user_id, MIN(month_idx) AS first_m
          FROM um GROUP BY user_id),
        cur AS (
          SELECT u.month_idx,
                 CAST(COUNT(*) AS BIGINT) AS n_active,
                 CAST(SUM(CASE WHEN f.first_m = u.month_idx
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
                 CAST(SUM(CASE WHEN p.user_id IS NOT NULL
                               THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_retained,
                 CAST(SUM(CASE WHEN p.user_id IS NULL
                                AND f.first_m < u.month_idx
                               THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_resurrected
          FROM um u
          JOIN first f USING (user_id)
          LEFT JOIN um p
            ON p.user_id = u.user_id
           AND p.month_idx = u.month_idx - 1
          GROUP BY u.month_idx),
        totals AS (
          SELECT month_idx + 1 AS month_idx,
                 CAST(COUNT(*) AS BIGINT) AS prev_active
          FROM um GROUP BY month_idx)
        SELECT c.month_idx, n_active, n_new, n_retained, n_resurrected,
               prev_active - n_retained AS n_churned_prev,
               (n_retained * 1000000) // prev_active AS retention_ppm,
               ((prev_active - n_retained) * 1000000) // prev_active
                   AS churn_ppm
        FROM cur c LEFT JOIN totals USING (month_idx)
        ORDER BY c.month_idx
        """


def session_concurrency_hourly(
    t: dict[str, DataFrame],
    gap_minutes: int = 30,
    sessions: DataFrame | None = None,
) -> DataFrame:
    """Hourly session-concurrency curve — how many gap-sessions (and
    distinct users) are LIVE in each calendar hour, the capacity-
    planning readout (peak concurrent load) the per-session table
    hides. Fourth consumer of the ONE sessionization core
    (``_sessionized`` / SESSION_CTES_SQL — the drift rule).

    A session touches every hour from its start hour to its end hour
    inclusive; hour keys are pure calendar integers (days-since-epoch
    * 24 + hour — the interarrival rule, no epoch casts). The explode
    is an integer ``sequence`` whose fan-out is bounded by session
    DURATION in hours (gap-sessions die after a 30-minute silence, so
    a session spanning h hours carries >= h-1 events — the fan-out
    never exceeds the event mass it came from). No global sweep-line,
    no unpartitioned windows: the sweep-line +1/-1 trick needs one
    totally-ordered cumulative pass, which at lake scale is the exact
    single-partition bottleneck this hourly-bucket overlap join
    avoids.

    Output: (hour_idx, n_sessions, n_users), hours with zero live
    sessions absent (both engines build from observed sessions only).
    """
    s = sessions if sessions is not None else sessions_artifact(t, gap_minutes)
    sess = s.select(
        "user_id",
        F.expr(
            "CAST(datediff(CAST(session_start AS DATE),"
            " DATE '1970-01-01') AS BIGINT) * 24 + hour(session_start)"
        ).alias("h0"),
        F.expr(
            "CAST(datediff(CAST(session_end AS DATE),"
            " DATE '1970-01-01') AS BIGINT) * 24 + hour(session_end)"
        ).alias("h1"),
    )
    return (
        sess.select(
            "user_id", F.explode(F.expr("sequence(h0, h1)")).alias("hour_idx")
        )
        .groupBy("hour_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("hour_idx")
    )


def session_concurrency_oracle_sql(gap_minutes: int = 30) -> str:
    gap_us = gap_minutes * 60 * 1_000_000
    return f"""
        WITH {SESSION_CTES_SQL.format(gap_us=gap_us)},
        sess AS (
          SELECT user_id,
                 CAST(date_diff('day', DATE '1970-01-01',
                                CAST(MIN(ts) AS DATE)) AS BIGINT) * 24
                 + hour(MIN(ts)) AS h0,
                 CAST(date_diff('day', DATE '1970-01-01',
                                CAST(MAX(ts) AS DATE)) AS BIGINT) * 24
                 + hour(MAX(ts)) AS h1
          FROM with_id GROUP BY user_id, session_id),
        hours AS (
          SELECT user_id, UNNEST(generate_series(h0, h1)) AS hour_idx
          FROM sess)
        SELECT hour_idx,
               CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM hours GROUP BY hour_idx ORDER BY hour_idx
        """


MASE_SEASON_DAYS = 7


def forecast_backtest_mase(t: dict[str, DataFrame]) -> DataFrame:
    """Forecast backtest with the scale-free error metric the
    forecasting literature actually recommends: hold out the last 20%
    of each type's dense daily revenue series, forecast it with the
    SAME integer Holt recurrence as ``holt_linear_forecast`` (one
    definition of the fold — reused verbatim), and score MASE =
    MAE(test, holt) / MAE(in-sample seasonal-naive, m=7). MASE < 1
    means the model beats "same day last week" — the question every
    forecast review starts with; a plain MAE can't say it because it
    has units.

    Exactness: the series, the fold, both error sums and the final
    ratio are pure int64 — mase_ppm = err_sum·(n_train−7)·1e6 div
    (n_test·den_sum) — behind TWO division-form loud guards (the
    ks_distance convention: the guards read only exact unwrapped
    inputs). A flat training series (den_sum = 0: the seasonal naive
    is perfect) reports NULL, not a division error. Eligibility:
    n_train > 7 (the season must fit) and n_test ≥ 1; shorter types
    are absent, not padded.

    DuckDB determinism note (measured this round, and the reason the
    oracle replays the fold as a recursive CTE like holt's):
    DuckDB 1.0's ``list_reduce`` with a CASE/IF branch inside the
    lambda returns WRONG values (the isolated step evaluates
    correctly; the branched fold does not) — so no DuckDB list fold
    appears anywhere in the oracle.

    Plan: the holt shape — one fact collapse, a span-bounded spine,
    ONE per-type sorted-array fold plus two in-codegen array sweeps
    (test errors, seasonal diffs); series length is the TIME SPAN,
    never event volume.

    Output: (event_type, n_days, n_train, n_test, level_cents,
    trend_cents, err_sum_cents, den_sum_cents, mase_ppm).
    """
    e = t["events"]
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")).alias(
            "cents"
        )
    )
    span = daily.groupBy("event_type").agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    )
    spine = span.select(
        "event_type",
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("d"),
    )
    dense = spine.join(daily, ["event_type", "d"], "left").select(
        "event_type",
        "d",
        F.coalesce("cents", F.lit(0)).cast("long").alias("cents"),
    )
    m = MASE_SEASON_DAYS
    l2 = "shiftright(x.cents + acc.l + acc.b, 1)"
    fold = (
        "aggregate(slice(xs, 1, CAST(n_train AS INT)),"
        " named_struct('l', CAST(0 AS BIGINT), 'b', CAST(0 AS BIGINT),"
        "              'k', CAST(0 AS BIGINT)),"
        " (acc, x) -> IF(acc.k = 0,"
        "   named_struct('l', x.cents, 'b', CAST(0 AS BIGINT),"
        "                'k', CAST(1 AS BIGINT)),"
        f"  named_struct('l', {l2},"
        f"               'b', shiftright({l2} - acc.l + acc.b, 1),"
        "                'k', acc.k + 1)))"
    )
    err = (
        "aggregate(transform("
        " slice(xs, CAST(n_train + 1 AS INT), CAST(n_test AS INT)),"
        " (x, i) -> abs(x.cents - (st.l + CAST(i + 1 AS BIGINT) * st.b))),"
        " CAST(0 AS BIGINT), (a, v) -> a + v)"
    )
    den = (
        f"aggregate(transform(sequence({m + 1}L, n_train),"
        f" i -> abs(element_at(xs, CAST(i AS INT)).cents"
        f"          - element_at(xs, CAST(i - {m} AS INT)).cents)),"
        " CAST(0 AS BIGINT), (a, v) -> a + v)"
    )
    guard = (
        "CASE"
        f" WHEN err_sum_cents > (9223372036854775807L div 1000000L)"
        f"      div (n_train - {m}) THEN"
        " raise_error(concat('forecast_backtest_mase int64 envelope"
        " exceeded: err_sum*(n_train-7)*1e6 would wrap for type ',"
        " event_type, ' (err_sum = ', CAST(err_sum_cents AS STRING),"
        " '). Aggregate to coarser days or lift to decimal(38,0).'))"
        " WHEN den_sum_cents > 9223372036854775807L div n_test THEN"
        " raise_error(concat('forecast_backtest_mase int64 envelope"
        " exceeded: n_test*den_sum would wrap for type ',"
        " event_type, '.'))"
        f" ELSE (err_sum_cents * (n_train - {m}) * 1000000L)"
        "      div nullif(n_test * den_sum_cents, 0L) END"
    )
    return (
        dense.groupBy("event_type")
        .agg(
            F.expr("sort_array(collect_list(struct(d, cents)))").alias("xs")
        )
        .select(
            "event_type",
            "xs",
            F.size("xs").cast("long").alias("n_days"),
            F.expr("CAST((size(xs) * 4) div 5 AS BIGINT)").alias("n_train"),
        )
        .filter(F.col("n_train") > m)
        .filter(F.col("n_days") > F.col("n_train"))
        .withColumn("n_test", F.col("n_days") - F.col("n_train"))
        .withColumn("st", F.expr(fold))
        .withColumn("err_sum_cents", F.expr(err))
        .withColumn("den_sum_cents", F.expr(den))
        .select(
            "event_type",
            "n_days",
            "n_train",
            "n_test",
            F.col("st.l").alias("level_cents"),
            F.col("st.b").alias("trend_cents"),
            "err_sum_cents",
            "den_sum_cents",
            F.expr(guard).alias("mase_ppm"),
        )
        .orderBy("event_type")
    )


def forecast_backtest_oracle_sql() -> str:
    """DuckDB replay: the holt recursive-CTE fold over the TRAIN
    prefix (DuckDB's branched list_reduce is wrong — see the operator
    docstring), test errors and seasonal diffs as plain joins over
    the step-indexed series."""
    m = MASE_SEASON_DAYS
    return f"""
        WITH RECURSIVE daily AS MATERIALIZED (
          SELECT event_type, CAST(ts AS DATE) AS d,
                 CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM events GROUP BY event_type, CAST(ts AS DATE)),
        span AS (
          SELECT event_type, MIN(d) AS lo, MAX(d) AS hi
          FROM daily GROUP BY event_type),
        spine AS (
          SELECT event_type,
                 CAST(UNNEST(generate_series(CAST(lo AS TIMESTAMP),
                                             CAST(hi AS TIMESTAMP),
                                             INTERVAL 1 DAY)) AS DATE)
                     AS d
          FROM span),
        series AS MATERIALIZED (
          SELECT sp.event_type,
                 CAST(ROW_NUMBER() OVER (PARTITION BY sp.event_type
                                         ORDER BY sp.d)
                      AS BIGINT) AS step,
                 CAST(COALESCE(da.cents, 0) AS BIGINT) AS y
          FROM spine sp
          LEFT JOIN daily da ON da.event_type = sp.event_type
                            AND da.d = sp.d),
        elig AS MATERIALIZED (
          SELECT event_type, CAST(MAX(step) AS BIGINT) AS n_days,
                 CAST((MAX(step) * 4) // 5 AS BIGINT) AS n_train
          FROM series GROUP BY event_type
          HAVING (MAX(step) * 4) // 5 > {m}
             AND MAX(step) > (MAX(step) * 4) // 5),
        r AS (
          SELECT s.event_type, s.step, s.y AS l, CAST(0 AS BIGINT) AS b
          FROM series s JOIN elig e USING (event_type)
          WHERE s.step = 1
          UNION ALL
          SELECT s.event_type, s.step,
                 (s.y + r.l + r.b) >> 1,
                 (((s.y + r.l + r.b) >> 1) - r.l + r.b) >> 1
          FROM r
          JOIN elig e ON e.event_type = r.event_type
          JOIN series s ON s.event_type = r.event_type
                       AND s.step = r.step + 1
          WHERE r.step < e.n_train),
        st AS MATERIALIZED (
          SELECT r.event_type, r.l, r.b
          FROM r JOIN elig e ON e.event_type = r.event_type
                            AND r.step = e.n_train),
        errs AS (
          SELECT s.event_type,
                 CAST(SUM(ABS(s.y - (st.l + (s.step - e.n_train) * st.b)))
                      AS BIGINT) AS err_sum_cents
          FROM series s
          JOIN elig e USING (event_type)
          JOIN st USING (event_type)
          WHERE s.step > e.n_train
          GROUP BY s.event_type),
        dens AS (
          SELECT s1.event_type,
                 CAST(SUM(ABS(s1.y - s2.y)) AS BIGINT) AS den_sum_cents
          FROM series s1
          JOIN series s2 ON s2.event_type = s1.event_type
                        AND s2.step = s1.step - {m}
          JOIN elig e ON e.event_type = s1.event_type
          WHERE s1.step BETWEEN {m + 1} AND e.n_train
          GROUP BY s1.event_type)
        SELECT e.event_type, e.n_days, e.n_train,
               e.n_days - e.n_train AS n_test,
               st.l AS level_cents, st.b AS trend_cents,
               errs.err_sum_cents, dens.den_sum_cents,
               CAST((errs.err_sum_cents * (e.n_train - {m}) * 1000000)
                    // NULLIF((e.n_days - e.n_train)
                              * dens.den_sum_cents, 0)
                    AS BIGINT) AS mase_ppm
        FROM elig e
        JOIN st USING (event_type)
        JOIN errs USING (event_type)
        JOIN dens USING (event_type)
        ORDER BY e.event_type
        """


def lift_curve_clicks_to_purchase(t: dict[str, DataFrame]) -> DataFrame:
    """Cumulative gains / lift curve for the classic propensity
    question — does click volume predict purchase? Users rank by
    click count (the "model score"); each score tier reports how much
    of the purchase base the tiers so far have captured vs their
    share of users: lift > 1e6 ppm means the tier beats random
    targeting. The campaign-sizing readout every CRM review wants,
    and the eval companion to ``target_encode_loo`` (which builds the
    score-like feature this curve validates).

    Grain choice, stated: tiers are the DISTINCT click-count values
    (support-bounded — click counts are small integers), not equal
    deciles — ties in a discrete score cannot be split honestly, and
    per-value tiers make the curve exactly reproducible (no
    tie-breaking rule to drift). Cumulation runs HIGH score to LOW
    (the targeting direction).

    Exact integers: gains_ppm = cum_pos·1e6 div total_pos;
    users_share_ppm = cum_users·1e6 div total_users; lift_ppm =
    (cum_pos·total_users·1e6) div (total_pos·cum_users) — guarded
    LOUDLY (division form) because cum_pos·total_users can reach
    users², past int64 at ~3e9 users.

    Scale shape: one (user, is_buyer, n_clicks) aggregate, one
    support-bounded cumulative window over click-count values, two
    1-row broadcast totals. Output: (n_clicks, n_users, n_buyers,
    cum_users, cum_buyers, users_share_ppm, gains_ppm, lift_ppm),
    one row per distinct click count, descending.
    """
    from pyspark.sql import Window

    users = (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("n_clicks"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("is_buyer"),
        )
    )
    tiers = users.groupBy("n_clicks").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("is_buyer").alias("n_buyers"),
    )
    w = Window.orderBy(F.col("n_clicks").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = tiers.withColumn(
        "cum_users", F.sum("n_users").over(w)
    ).withColumn("cum_buyers", F.sum("n_buyers").over(w))
    totals = tiers.agg(
        F.sum("n_users").alias("tot_u"), F.sum("n_buyers").alias("tot_b")
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .select(
            F.col("n_clicks").cast("long").alias("n_clicks"),
            F.col("n_users").cast("long").alias("n_users"),
            F.col("n_buyers").cast("long").alias("n_buyers"),
            F.col("cum_users").cast("long").alias("cum_users"),
            F.col("cum_buyers").cast("long").alias("cum_buyers"),
            F.expr("(cum_users * 1000000L) div tot_u").alias(
                "users_share_ppm"
            ),
            F.expr(
                "CASE WHEN tot_b = 0 THEN NULL"
                " ELSE (cum_buyers * 1000000L) div tot_b END"
            ).alias("gains_ppm"),
            F.expr(
                "CASE WHEN tot_u > 9223372036854L div"
                "          greatest(cum_buyers, 1L) THEN"
                " raise_error(concat("
                "'lift_curve int64 overflow envelope exceeded:"
                " cum_buyers*tot_users = ',"
                " CAST(cum_buyers AS STRING), '*',"
                " CAST(tot_u AS STRING), ' > 9223372036854 safe"
                " maximum for the ppm multiply. Lift the ratio to"
                " decimal(38,0) for user bases this large.'))"
                " WHEN tot_b = 0 THEN NULL"
                " ELSE (cum_buyers * tot_u * 1000000L)"
                "      div (tot_b * cum_users) END"
            ).alias("lift_ppm"),
        )
        .orderBy(F.col("n_clicks").desc())
    )


def lift_curve_oracle_sql() -> str:
    return """
        WITH users AS MATERIALIZED (
          SELECT user_id,
                 CAST(SUM(CASE WHEN event_type = 'click'
                               THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_clicks,
                 CAST(MAX(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) AS BIGINT)
                     AS is_buyer
          FROM events GROUP BY user_id),
        tiers AS MATERIALIZED (
          SELECT n_clicks,
                 CAST(COUNT(*) AS BIGINT) AS n_users,
                 CAST(SUM(is_buyer) AS BIGINT) AS n_buyers
          FROM users GROUP BY n_clicks),
        cum AS (
          SELECT *,
                 CAST(SUM(n_users) OVER (ORDER BY n_clicks DESC
                                         ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum_users,
                 CAST(SUM(n_buyers) OVER (ORDER BY n_clicks DESC
                                          ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum_buyers
          FROM tiers),
        totals AS (
          SELECT CAST(SUM(n_users) AS BIGINT) AS tot_u,
                 CAST(SUM(n_buyers) AS BIGINT) AS tot_b
          FROM tiers)
        SELECT n_clicks, n_users, n_buyers, cum_users, cum_buyers,
               (cum_users * 1000000) // tot_u AS users_share_ppm,
               CASE WHEN tot_b = 0 THEN NULL
                    ELSE (cum_buyers * 1000000) // tot_b END
                   AS gains_ppm,
               CASE WHEN tot_b = 0 THEN NULL
                    ELSE CAST((cum_buyers * tot_u * 1000000)
                              // (tot_b * cum_users) AS BIGINT) END
                   AS lift_ppm
        FROM cum CROSS JOIN totals
        ORDER BY n_clicks DESC
        """


def roc_auc_clicks_to_purchase(t: dict[str, DataFrame]) -> DataFrame:
    """ROC-AUC of click count as a purchase predictor — the ONE-number
    companion to ``lift_curve_clicks_to_purchase``'s full curve, and
    literally the Mann-Whitney statistic between buyers' and
    non-buyers' click-count distributions (the
    ``mann_whitney_auc_pairs`` algebra on a supervised split instead
    of a type pair — same doubled-integer exactness, same
    tie-as-half-credit handling, one definition of what AUC means in
    this repo).

    u2 = Σ over click-count support of 2·pos(c)·(neg below c)
    + pos(c)·neg(c); auc_ppm = u2·5e5 div (n_pos·n_neg) — the
    probability a random buyer out-clicks a random non-buyer.
    Degenerate bases (no buyers, or all buyers) report NULL. Loud
    division-form guard past n_pos·n_neg·1e6 ~ 2^63 (the family
    constant).

    Scale shape: one user aggregate, one support-bounded cumulative
    window, one 1-row result. Output: (n_pos, n_neg, u2, auc_ppm).
    """
    from pyspark.sql import Window

    users = (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("n_clicks"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("is_buyer"),
        )
    )
    sup = users.groupBy("n_clicks").agg(
        F.sum(F.when(F.col("is_buyer") == 1, 1).otherwise(0)).alias("pos"),
        F.sum(F.when(F.col("is_buyer") == 0, 1).otherwise(0)).alias("neg"),
    )
    w = Window.orderBy("n_clicks").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    stepped = sup.withColumn("cum_neg", F.sum("neg").over(w))
    return (
        stepped.agg(
            F.sum("pos").cast("long").alias("n_pos"),
            F.sum("neg").cast("long").alias("n_neg"),
            F.sum(
                F.expr("2 * pos * (cum_neg - neg) + pos * neg")
            )
            .cast("long")
            .alias("u2"),
        )
        .select(
            "n_pos",
            "n_neg",
            "u2",
            F.expr(
                "CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL"
                " WHEN n_neg > 9223372036854L div n_pos THEN"
                " raise_error(concat("
                "'roc_auc int64 overflow envelope exceeded:"
                " n_pos*n_neg = ', CAST(n_pos AS STRING), '*',"
                " CAST(n_neg AS STRING), ' > 9223372036854 safe"
                " maximum for the ppm multiply. Lift to"
                " decimal(38,0) for user bases this large.'))"
                " ELSE (u2 * 500000) div (n_pos * n_neg) END"
            ).alias("auc_ppm"),
        )
    )


def roc_auc_oracle_sql() -> str:
    return """
        WITH users AS MATERIALIZED (
          SELECT user_id,
                 CAST(SUM(CASE WHEN event_type = 'click'
                               THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_clicks,
                 CAST(MAX(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) AS BIGINT)
                     AS is_buyer
          FROM events GROUP BY user_id),
        sup AS (
          SELECT n_clicks,
                 CAST(SUM(CASE WHEN is_buyer = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS pos,
                 CAST(SUM(CASE WHEN is_buyer = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS neg
          FROM users GROUP BY n_clicks),
        stepped AS (
          SELECT *,
                 CAST(SUM(neg) OVER (ORDER BY n_clicks
                                     ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum_neg
          FROM sup)
        SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
               CAST(SUM(neg) AS BIGINT) AS n_neg,
               CAST(SUM(2 * pos * (cum_neg - neg) + pos * neg)
                    AS BIGINT) AS u2,
               CASE WHEN SUM(pos) = 0 OR SUM(neg) = 0 THEN NULL
                    ELSE CAST((CAST(SUM(2 * pos * (cum_neg - neg)
                                        + pos * neg) AS BIGINT)
                               * 500000)
                              // (SUM(pos) * SUM(neg)) AS BIGINT) END
                   AS auc_ppm
        FROM stepped
        """


# --------------------------------------------------------------------------
# Round-10: audience stability + funnel significance
# --------------------------------------------------------------------------


def wow_audience_overlap(t: dict[str, DataFrame]) -> DataFrame:
    """Week-over-week audience overlap per event type: how much of
    last week's active-user set came back this week, and how similar
    the two sets are (Jaccard). new_returning_weekly answers
    "first-ever week or not" GLOBALLY; this measures SET stability
    per type and adjacent-week pair — the audience-churn twin of
    weekly_mix_drift's volume view (volumes can hold steady while the
    underlying audience rotates completely; this catches that).

    Exact integers throughout: the fact collapses once to DISTINCT
    (type, epoch-week, user) — the weekly_revenue_wow week convention
    (days-since-epoch div 7) — then one self-join on (type, user,
    week+1) counts intersections, and weekly set sizes come from the
    same frame. jaccard_ppm = inter*1e6 div (|prev ∪ cur|);
    retention_ppm = inter*1e6 div |prev|. Only weeks WITH a
    predecessor appear (both engines build from the intersection
    side, zero-filled against the size table).

    Scale shape: one distinct-collapse shuffle (user-keyed), one
    self-join on (type, user) — co-partitioned by the same key — and
    two type/week-bounded aggregates; no windows over the fact.

    Output: (event_type, week, prev_users, cur_users, inter_users,
    retention_ppm, jaccard_ppm), type/week-ordered.
    """
    uw = (
        t["events"]
        .select(
            "event_type",
            F.expr(
                "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01')"
                " AS BIGINT) div 7"
            ).alias("week"),
            "user_id",
        )
        .distinct()
        .localCheckpoint()
    )
    sizes = uw.groupBy("event_type", "week").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    prev, cur = uw.alias("p"), uw.alias("c")
    inter = (
        prev.join(
            cur,
            (F.col("p.event_type") == F.col("c.event_type"))
            & (F.col("p.user_id") == F.col("c.user_id"))
            & (F.col("c.week") == F.col("p.week") + 1),
        )
        .groupBy(
            F.col("p.event_type").alias("event_type"),
            F.col("c.week").alias("week"),
        )
        .agg(F.count(F.lit(1)).alias("inter_users"))
    )
    p_sz = sizes.select(
        "event_type",
        (F.col("week") + 1).alias("week"),
        F.col("n_users").alias("prev_users"),
    )
    c_sz = sizes.select(
        "event_type", "week", F.col("n_users").alias("cur_users")
    )
    return (
        p_sz.join(c_sz, ["event_type", "week"])
        .join(inter, ["event_type", "week"], "left")
        .na.fill({"inter_users": 0})
        .select(
            "event_type",
            "week",
            F.col("prev_users").cast("long").alias("prev_users"),
            F.col("cur_users").cast("long").alias("cur_users"),
            F.col("inter_users").cast("long").alias("inter_users"),
            F.expr("inter_users * 1000000 div prev_users").alias(
                "retention_ppm"
            ),
            F.expr(
                "inter_users * 1000000"
                " div (prev_users + cur_users - inter_users)"
            ).alias("jaccard_ppm"),
        )
        .orderBy("event_type", "week")
    )


def wow_audience_overlap_oracle_sql() -> str:
    return """
        WITH uw AS MATERIALIZED (
          SELECT DISTINCT event_type,
                 CAST(date_diff('day', DATE '1970-01-01',
                                CAST(ts AS DATE)) AS BIGINT) // 7 AS week,
                 user_id
          FROM events),
        sizes AS MATERIALIZED (
          SELECT event_type, week, CAST(COUNT(*) AS BIGINT) AS n_users
          FROM uw GROUP BY 1, 2),
        inter AS (
          SELECT p.event_type, c.week,
                 CAST(COUNT(*) AS BIGINT) AS inter_users
          FROM uw p JOIN uw c
            ON p.event_type = c.event_type
           AND p.user_id = c.user_id
           AND c.week = p.week + 1
          GROUP BY 1, 2)
        SELECT s_prev.event_type,
               s_cur.week,
               s_prev.n_users AS prev_users,
               s_cur.n_users AS cur_users,
               COALESCE(i.inter_users, 0) AS inter_users,
               COALESCE(i.inter_users, 0) * 1000000 // s_prev.n_users
                   AS retention_ppm,
               COALESCE(i.inter_users, 0) * 1000000
                   // (s_prev.n_users + s_cur.n_users
                       - COALESCE(i.inter_users, 0)) AS jaccard_ppm
        FROM sizes s_prev
        JOIN sizes s_cur
          ON s_cur.event_type = s_prev.event_type
         AND s_cur.week = s_prev.week + 1
        LEFT JOIN inter i
          ON i.event_type = s_prev.event_type AND i.week = s_cur.week
        ORDER BY s_prev.event_type, s_cur.week
        """


def conversion_ztest_by_click_tier(t: dict[str, DataFrame]) -> DataFrame:
    """Two-proportion z-test per engagement tier: does a user's click
    count SIGNIFICANTLY separate buyers from the rest? The hypothesis-
    testing member of the funnel family — lift_curve ranks tiers,
    roc_auc scores the predictor once; this asks, per tier, whether
    the conversion-rate difference (tier vs all other users) clears
    sampling noise, via the textbook pooled two-proportion statistic

        z = (p1 - p2) / sqrt(p*(1-p)*(1/n1 + 1/n2)),

    p1 = tier conversion, p2 = rest conversion, p pooled. Inputs to
    the double stage are exact user COUNTS (int64->double exact below
    2^53 — structural at any plausible user base, no guard tier
    needed); the presented rate is integer ppm, the z ROUND(9) with
    the identical expression in both engines. Degenerate pools
    (p in {0,1} or an empty rest) yield NULL via NULLIF.

    Scale shape: one user aggregate (the roc_auc frame), one
    support-bounded tier aggregate, map-side arithmetic after.

    Output: (n_clicks, n_users, buyers, conv_ppm, z), tier-ordered.
    """
    users = (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("n_clicks"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("is_buyer"),
        )
    )
    tiers = users.groupBy("n_clicks").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("is_buyer").cast("long").alias("buyers"),
    )
    tot = tiers.agg(
        F.sum("n_users").alias("nn"), F.sum("buyers").alias("bb")
    )
    z = (
        "round("
        " (CAST(buyers AS DOUBLE) / n_users"
        "  - CAST(bb - buyers AS DOUBLE) / nullif(nn - n_users, 0))"
        " / nullif(sqrt((CAST(bb AS DOUBLE) / nn)"
        "               * (1.0D - CAST(bb AS DOUBLE) / nn)"
        "               * (1.0D / n_users"
        "                  + 1.0D / nullif(nn - n_users, 0))), 0.0D), 9)"
    )
    return (
        tiers.crossJoin(F.broadcast(tot))
        .select(
            F.col("n_clicks").cast("long").alias("n_clicks"),
            "n_users",
            "buyers",
            F.expr("buyers * 1000000 div n_users").alias("conv_ppm"),
            F.expr(z).alias("z"),
        )
        .orderBy("n_clicks")
    )


def conversion_ztest_oracle_sql() -> str:
    return """
        WITH users AS MATERIALIZED (
          SELECT user_id,
                 CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                          END) AS BIGINT) AS n_clicks,
                 CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1
                          ELSE 0 END) AS BIGINT) AS is_buyer
          FROM events GROUP BY 1),
        tiers AS (
          SELECT n_clicks, CAST(COUNT(*) AS BIGINT) AS n_users,
                 CAST(SUM(is_buyer) AS BIGINT) AS buyers
          FROM users GROUP BY 1),
        tot AS (SELECT CAST(SUM(n_users) AS BIGINT) AS nn,
                       CAST(SUM(buyers) AS BIGINT) AS bb
                FROM tiers)
        SELECT n_clicks, n_users, buyers,
               buyers * 1000000 // n_users AS conv_ppm,
               ROUND(
                 (CAST(buyers AS DOUBLE) / n_users
                  - CAST(bb - buyers AS DOUBLE) / NULLIF(nn - n_users, 0))
                 / NULLIF(sqrt((CAST(bb AS DOUBLE) / nn)
                               * (1.0 - CAST(bb AS DOUBLE) / nn)
                               * (1.0 / n_users
                                  + 1.0 / NULLIF(nn - n_users, 0))), 0.0),
                 9) AS z
        FROM tiers CROSS JOIN tot
        ORDER BY n_clicks
        """


# --------------------------------------------------------------------------
# Scan algebra (round 11): running aggregates that are NOT plain windows
# --------------------------------------------------------------------------

#: deterministic supplier slice for the ledger demo — the synthetic
#: lake has no true debit/credit stream, so returns play the debits;
#: the slice keeps the registered output SF-proportional but small.
BALANCE_SUPP_MOD = 10


def clamped_running_balance(
    t: dict[str, DataFrame], supp_mod: int = BALANCE_SUPP_MOD
) -> DataFrame:
    """Floor-at-zero running inventory balance per supplier — the
    ledger recurrence s_d = max(0, s_{d-1} + net_d) (a warehouse
    cannot ship stock it does not have), which a plain cumulative
    window CANNOT express: the clamp makes each step depend on the
    clamped previous value, not on the raw prefix sum.

    The Spark-first trick is the closed form

        s_d = S_d - min(0, min_{j <= d} S_j)

    (S = unclamped prefix sum): every time the raw sum dips to a new
    minimum below zero, the clamp 'absorbs' exactly that dip, so the
    clamped balance is the raw sum minus the deepest dip so far.
    Proof sketch: both sides satisfy the recurrence — if S_d is a new
    negative minimum, both give 0; otherwise both add net_d to the
    previous value. Two stacked windows (running sum, running min)
    turn a seemingly-stateful scan into pure window algebra — no UDF,
    no applyInPandas, whole-stage codegen end to end; the same shape
    Kadane-style problems (user_activity_streaks) use.

    Flows: shipped quantity counts IN (replenishment), returned
    ('R') quantity counts OUT — a deterministic stand-in stream.
    Everything is exact int64.
    """
    li = (
        t["lineitem"]
        .filter(F.col("l_suppkey") % supp_mod == 0)
        .select(
            F.col("l_suppkey").alias("suppkey"),
            F.expr(
                "CAST(datediff(CAST(l_shipdate AS DATE),"
                " DATE '1970-01-01') AS BIGINT)"
            ).alias("day"),
            F.expr(
                "CAST(FLOOR(l_quantity + 0.5) AS BIGINT)"
                " * CASE WHEN l_returnflag = 'R' THEN -1 ELSE 1 END"
            ).alias("signed_qty"),
        )
    )
    daily = li.groupBy("suppkey", "day").agg(
        F.sum("signed_qty").alias("net_qty")
    )
    w = (
        Window.partitionBy("suppkey")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        daily.withColumn("raw_sum", F.sum("net_qty").over(w))
        .withColumn("dip", F.least(F.lit(0), F.min("raw_sum").over(w)))
        .select(
            "suppkey",
            "day",
            "net_qty",
            (F.col("raw_sum") - F.col("dip")).alias("balance"),
        )
        .orderBy("suppkey", "day")
    )


def clamped_running_balance_oracle_sql(
    supp_mod: int = BALANCE_SUPP_MOD,
) -> str:
    return f"""
        WITH li AS (
          SELECT l_suppkey AS suppkey,
                 CAST(date_diff('day', DATE '1970-01-01',
                                CAST(l_shipdate AS DATE)) AS BIGINT)
                     AS day,
                 CAST(FLOOR(l_quantity + 0.5) AS BIGINT)
                 * CASE WHEN l_returnflag = 'R' THEN -1 ELSE 1 END
                     AS signed_qty
          FROM lineitem WHERE l_suppkey % {supp_mod} = 0),
        daily AS (
          SELECT suppkey, day, SUM(signed_qty) AS net_qty
          FROM li GROUP BY 1, 2),
        sums AS (
          SELECT suppkey, day, net_qty,
                 SUM(net_qty) OVER (PARTITION BY suppkey ORDER BY day
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS raw_sum
          FROM daily),
        pre AS (
          SELECT suppkey, day, net_qty, raw_sum,
                 LEAST(0, MIN(raw_sum) OVER (
                     PARTITION BY suppkey ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW)) AS dip
          FROM sums)
        SELECT suppkey, day,
               CAST(net_qty AS BIGINT) AS net_qty,
               CAST(raw_sum - dip AS BIGINT) AS balance
        FROM pre ORDER BY suppkey, day
        """


#: deterministic order slice for the proration demo (every line of a
#: sliced order is kept — the allocation is only meaningful whole).
PRORATE_ORDER_MOD = 100


def prorate_discount_cents(
    t: dict[str, DataFrame], order_mod: int = PRORATE_ORDER_MOD
) -> DataFrame:
    """Largest-remainder (Hamilton) allocation of an order-level
    rebate across its line items, EXACT to the cent — the financial
    proration every billing/revenue system needs: naive
    round(budget * w_i / W) per line leaks or invents cents; the
    largest-remainder method guarantees sum(alloc) == budget
    per order, deterministically.

    Budget: a 1%-of-order rebate, floor(o_totalprice + 0.5) cents
    (totalprice is dollars, so dollars ~= cents/100). Integer-exact
    pipeline: base_i = (budget * w_i) DIV W, remainder rank by
    ((budget * w_i) MOD W) descending with (line number, weight
    descending) as the deterministic tie-break, and the leftover
    r = budget - sum(base) cents (always < line count) go one each to
    the top-r remainders. budget * w_i peaks ~5e12 — comfortably
    int64 at ANY scale factor (per-order magnitudes do not grow with
    SF). The weight term in the tie-break matters because the
    synthetic lake carries DUPLICATE (orderkey, linenumber) pairs:
    two copies with equal remainders but different weights have
    different bases, so the rank must pick one deterministically
    (rows tied on all three keys are byte-identical and the output
    multiset is invariant under their order).

    Scale shape: one window pair per order (sum for W/base-sum, rank
    over remainders) on an order-sliced input; partitioning by order
    key means the allocation never shuffles more than its own order's
    lines.
    """
    li = (
        t["lineitem"]
        .filter(F.col("l_orderkey") % order_mod == 0)
        .select(
            F.col("l_orderkey").alias("ok"),
            F.col("l_linenumber").alias("line"),
            F.expr(
                "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"
            ).alias("w"),
        )
    )
    o = t["orders"].filter(F.col("o_orderkey") % order_mod == 0).select(
        F.col("o_orderkey").alias("ok"),
        F.expr("CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)").alias("budget"),
    )
    wo = Window.partitionBy("ok")
    base = (
        li.join(o, "ok")
        .withColumn("tot_w", F.sum("w").over(wo))
        .withColumn("base", F.expr("budget * w DIV tot_w"))
        .withColumn("rem", F.expr("budget * w % tot_w"))
        .withColumn("leftover", F.col("budget") - F.sum("base").over(wo))
    )
    wr = Window.partitionBy("ok").orderBy(
        F.desc("rem"), "line", F.desc("w")
    )
    return (
        base.withColumn("rr", F.row_number().over(wr))
        .select(
            F.col("ok").alias("orderkey"),
            F.col("line").alias("linenumber"),
            (
                F.col("base")
                + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
            ).alias("alloc_cents"),
        )
        .orderBy("orderkey", "linenumber")
    )


def prorate_discount_cents_oracle_sql(
    order_mod: int = PRORATE_ORDER_MOD,
) -> str:
    return f"""
        WITH li AS (
          SELECT l_orderkey AS ok, l_linenumber AS line,
                 CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS w
          FROM lineitem WHERE l_orderkey % {order_mod} = 0),
        o AS (
          SELECT o_orderkey AS ok,
                 CAST(FLOOR(o_totalprice + 0.5) AS BIGINT) AS budget
          FROM orders WHERE o_orderkey % {order_mod} = 0),
        base AS (
          SELECT li.ok, li.line, li.w, o.budget,
                 (o.budget * li.w) // SUM(li.w) OVER wo AS base,
                 (o.budget * li.w) % SUM(li.w) OVER wo AS rem
          FROM li JOIN o ON li.ok = o.ok
          WINDOW wo AS (PARTITION BY li.ok)),
        lo AS (
          SELECT *,
                 budget - SUM(base) OVER (PARTITION BY ok) AS leftover,
                 ROW_NUMBER() OVER (PARTITION BY ok
                                    ORDER BY rem DESC, line, w DESC)
                     AS rr
          FROM base)
        SELECT ok AS orderkey, line AS linenumber,
               CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
                    AS BIGINT) AS alloc_cents
        FROM lo ORDER BY orderkey, linenumber
        """


# --------------------------------------------------------------------------
# Markov removal-effect attribution (round 11) — the data-driven member
# of the attribution family: asof (last-touch), multitouch (linear),
# and now removal effect (how much conversion DISAPPEARS if a channel's
# node is cut from the journey graph).
# --------------------------------------------------------------------------

REMOVAL_ITERS = 12
REMOVAL_SCALE = 1_000_000


def markov_removal_attribution(
    t: dict[str, DataFrame],
    n_iter: int = REMOVAL_ITERS,
    scale: int = REMOVAL_SCALE,
) -> DataFrame:
    """Markov-chain (removal-effect) attribution over user journeys —
    the classic data-driven alternative to positional rules: build the
    first-order journey chain (START -> event states -> CONVERT on
    purchase / NULL on abandonment), compute the probability of
    reaching CONVERT, then re-compute it with each channel's node
    REMOVED; the relative conversion drop is that channel's credit.

    Journey grammar (deterministic, shared verbatim with the oracle):
    a user's stream splits AFTER each purchase (journey id = count of
    strictly-earlier purchases); within a journey, transitions are
    START -> s_1, s_i -> s_{i+1} with 'purchase' mapped to the
    absorbing CONVERT, and the final state of an unconverted journey
    emits s_last -> NULL. Removing channel c simply FILTERS c's
    out-rows: paths into c still happen but die there (v(c) stays 0
    with no special-casing — exactly the removal-effect semantics).

    Exactness (the markov_stationary_types integer-sweep recipe,
    lifted to a (channel, node)-keyed vector so ONE plan runs the
    full chain and every removal chain simultaneously): v_0 = scale
    at CONVERT; v_{k+1}(ch, i) = sum_j c_ij * v_k(ch, j) div rt_i
    with per-term floor division — bit-identical cross-engine,
    replayed by unrolled MATERIALIZED CTEs. v_K(START) is the
    probability of converting WITHIN n_iter steps, scaled to ppm;
    per-term floors leak mass monotonically downward, and a removal
    chain's value can never exceed the full chain's (same floors over
    a subset of paths), so removal_effect_ppm >= 0 structurally.
    The loud int64 envelope from the stationary operator applies
    unchanged: cell counts must stay <= (2^63-1) div scale.

    Plan: one user-window pass over the fact table, then n_iter joins
    of a (channels x states)-sized vector against a channels x
    states^2-bounded edge frame. Nothing fact-sized ever re-joins.

    Output per real channel: (channel, conv_full_ppm,
    conv_removed_ppm, removal_effect_ppm), channel-ordered.
    """
    ev = t["events"]
    w_hist = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = ev.select("user_id", "ts", "event_id", "event_type").withColumn(
        "journey",
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(w_hist),
            F.lit(0),
        ),
    )
    mapped = base.withColumn(
        "state",
        F.when(
            F.col("event_type") == "purchase", F.lit("__convert__")
        ).otherwise(F.col("event_type")),
    )
    wj = Window.partitionBy("user_id", "journey").orderBy("ts", "event_id")
    wj_desc = Window.partitionBy("user_id", "journey").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    steps = mapped.withColumn(
        "prev", F.coalesce(F.lag("state").over(wj), F.lit("__start__"))
    )
    pairs = steps.select(F.col("prev").alias("i"), F.col("state").alias("j"))
    tails = (
        steps.withColumn("rd", F.row_number().over(wj_desc))
        .filter((F.col("rd") == 1) & (F.col("state") != "__convert__"))
        .select(F.col("state").alias("i"), F.lit("__null__").alias("j"))
    )
    cnt = (
        pairs.unionByName(tails)
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rowtot = cnt.groupBy("i").agg(F.sum("c").alias("rt"))
    guard_max = (2**63 - 1) // scale
    trans = (
        cnt.join(rowtot, "i")
        .select(
            "i",
            "j",
            F.expr(
                f"CASE WHEN c > {guard_max}L THEN raise_error(concat("
                "'markov_removal_attribution int64 envelope exceeded: ',"
                " CAST(c AS STRING), ' transitions in one cell > "
                f"{guard_max} safe maximum at scale={scale}. Lift the"
                " sweep to decimal(38,0).')) ELSE c END"
            ).alias("c"),
            "rt",
        )
        .localCheckpoint()
    )
    # channels derive from the CHECKPOINTED transition table, not a
    # second windowed fact pass (optimization r14, guide §2.4 — remove
    # passes): trans's i-values are exactly {__start__} ∪ {channels},
    # because every occurrence of a non-convert state emits an out-row
    # (the next event's pair, or the journey tail), while __convert__
    # is always journey-final so it never appears as i. The previous
    # form re-ran the user-window + distinct over events just to list
    # the states the tiny trans frame already names.
    channels = (
        trans.select(F.col("i").alias("ch"))
        .filter(F.col("ch") != "__start__")
        .distinct()
    )
    spark = ev.sparkSession
    chains = channels.unionByName(
        spark.createDataFrame([("__none__",)], ["ch"])
    ).localCheckpoint()
    trans_ch = chains.crossJoin(trans).filter(
        (F.col("ch") == "__none__") | (F.col("i") != F.col("ch"))
    )
    v0 = chains.select(
        "ch",
        F.lit("__convert__").alias("node"),
        F.lit(scale).cast("long").alias("v"),
    )
    v = v0
    for _ in range(n_iter):
        stepped = (
            trans_ch.join(
                v, (trans_ch["ch"] == v["ch"]) & (trans_ch["j"] == v["node"])
            )
            .groupBy(trans_ch["ch"].alias("ch"), F.col("i").alias("node"))
            .agg(F.sum(F.expr("c * v div rt")).cast("long").alias("v"))
        )
        v = stepped.unionByName(v0)
    # conv is (channels+1)-sized and feeds TWO branches (the per-channel
    # join and the full-chain broadcast); without materialization each
    # branch re-executes the whole n_iter sweep chain (optimization
    # r14, the branch-recompute class the twin sweep fixed — here over
    # checkpointed-but-tiny inputs, so the waste was 2x the sweep).
    conv = (
        v.filter(F.col("node") == "__start__")
        .select("ch", F.col("v").alias("conv"))
        .localCheckpoint()
    )
    full = conv.filter(F.col("ch") == "__none__").select(
        F.col("conv").alias("full_conv")
    )
    # LEFT join from the channel list: the vector is SPARSE, so a
    # removal chain whose START value is zero has no conv row at all —
    # it must still report conv_removed_ppm = 0, not vanish.
    return (
        chains.filter(F.col("ch") != "__none__")
        .join(conv, "ch", "left")
        .crossJoin(F.broadcast(full))
        .select(
            F.col("ch").alias("channel"),
            F.col("full_conv").alias("conv_full_ppm"),
            F.coalesce("conv", F.lit(0)).alias("conv_removed_ppm"),
            F.expr(
                f"(full_conv - coalesce(conv, 0L)) * {scale}L"
                " div NULLIF(full_conv, 0L)"
            ).alias("removal_effect_ppm"),
        )
        .orderBy("channel")
    )


def markov_removal_attribution_oracle_sql(
    n_iter: int = REMOVAL_ITERS, scale: int = REMOVAL_SCALE
) -> str:
    """DuckDB replay: shared journey grammar + the (channel, node)
    vector swept through unrolled MATERIALIZED CTEs with identical
    per-term ``c * v // rt`` floors."""
    parts = [
        f"""
        WITH base AS (
            SELECT user_id, ts, event_id, event_type,
                   COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                     THEN 1 ELSE 0 END)
                            OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING), 0)
                       AS journey
            FROM events),
        mapped AS (
            SELECT user_id, ts, event_id, journey,
                   CASE WHEN event_type = 'purchase'
                        THEN '__convert__' ELSE event_type END AS state
            FROM base),
        steps AS MATERIALIZED (
            SELECT user_id, journey, state,
                   COALESCE(LAG(state) OVER wj, '__start__') AS prev,
                   ROW_NUMBER() OVER wjd AS rd
            FROM mapped
            WINDOW wj AS (PARTITION BY user_id, journey
                          ORDER BY ts, event_id),
                   wjd AS (PARTITION BY user_id, journey
                           ORDER BY ts DESC, event_id DESC)),
        pairs AS (
            SELECT prev AS i, state AS j FROM steps
            UNION ALL
            SELECT state AS i, '__null__' AS j
            FROM steps WHERE rd = 1 AND state <> '__convert__'),
        cnt AS MATERIALIZED (
            SELECT i, j, CAST(COUNT(*) AS BIGINT) AS c
            FROM pairs GROUP BY i, j),
        trans AS MATERIALIZED (
            SELECT cnt.i, cnt.j, cnt.c, rt.rt
            FROM cnt JOIN (SELECT i, CAST(SUM(c) AS BIGINT) AS rt
                           FROM cnt GROUP BY i) rt USING (i)),
        chains AS MATERIALIZED (
            SELECT DISTINCT state AS ch FROM mapped
            WHERE state <> '__convert__'
            UNION ALL SELECT '__none__'),
        trans_ch AS MATERIALIZED (
            SELECT chains.ch, trans.i, trans.j, trans.c, trans.rt
            FROM chains CROSS JOIN trans
            WHERE chains.ch = '__none__' OR trans.i <> chains.ch),
        v0 AS MATERIALIZED (
            SELECT ch, '__convert__' AS node,
                   CAST({scale} AS BIGINT) AS v
            FROM chains)
        """
    ]
    prev = "v0"
    for k in range(1, n_iter + 1):
        parts.append(f"""
        , v{k} AS MATERIALIZED (
            SELECT t.ch, t.i AS node,
                   CAST(SUM(t.c * v.v // t.rt) AS BIGINT) AS v
            FROM trans_ch t
            JOIN {prev} v ON v.ch = t.ch AND v.node = t.j
            GROUP BY t.ch, t.i
            UNION ALL
            SELECT ch, '__convert__', CAST({scale} AS BIGINT)
            FROM chains)
        """)
        prev = f"v{k}"
    parts.append(f"""
        , conv AS (
            SELECT ch, v AS conv FROM {prev} WHERE node = '__start__'),
        fullc AS (
            SELECT conv AS full_conv FROM conv WHERE ch = '__none__')
        SELECT ch AS channel,
               f.full_conv AS conv_full_ppm,
               CAST(COALESCE(c.conv, 0) AS BIGINT) AS conv_removed_ppm,
               CAST((f.full_conv - COALESCE(c.conv, 0)) * {scale}
                    // NULLIF(f.full_conv, 0) AS BIGINT)
                   AS removal_effect_ppm
        FROM chains LEFT JOIN conv c USING (ch) CROSS JOIN fullc f
        WHERE ch <> '__none__'
        ORDER BY channel
        """)
    return "".join(parts)


#: grid cell width for the interval join, sized to the DATA's interval
#: distribution: the synthetic fulfillment windows average ~710 days
#: (measured), so 90-day cells keep the explode factor ~8; a 7-day grid
#: would inflate the grid frame ~100x for the same answer. At 100 TB
#: this is the one tuning knob the pattern has — cell ~= typical
#: interval length.
OVERLAP_BUCKET_DAYS = 90
#: deterministic customer slice: with ~2-year windows, most of a
#: customer's orders mutually overlap, so the full output is
#: O(customers x orders_per_customer^2); the slice keeps the registered
#: entry's compare cost bounded while exercising every plan feature.
OVERLAP_CUST_MOD = 10


def interval_overlap_join(
    t: dict[str, DataFrame],
    bucket_days: int = OVERLAP_BUCKET_DAYS,
    cust_mod: int = OVERLAP_CUST_MOD,
) -> DataFrame:
    """Interval-OVERLAP self-join: pairs of the same customer's orders
    whose fulfillment windows [order day, last ship day] overlap —
    the 'how often does this account have two orders in flight'
    question, and the canonical INTERVAL JOIN shape (join_range is a
    banded theta join on points; this joins intervals to intervals).

    Scale pattern (the reason this entry exists): a naive interval
    self-join is a per-key cartesian with a range residual. The plan
    here is the GRID join: each interval explodes into the
    ``bucket_days``-day cells it touches (explode factor = interval
    length / cell width — bounded by fulfillment spans, not by SF),
    pairs meet as a plain EQUI-join on (custkey, cell) —
    shuffle-friendly, AQE-sizable — and the classic dedup-free trick
    assigns each pair to exactly ONE cell, the cell containing the
    overlap's START (cell == greatest(s_a, s_b) div bucket_days): no
    DISTINCT pass, no duplicate pairs, no second shuffle. The grid
    frame is localCheckpointed so join planning sees its TRUE
    post-explode size — Catalyst's pre-explode estimate is tiny and
    (measured, sf0.01) tips the planner into broadcasting a frame
    that then OOMs the driver; honest stats hand the decision back to
    AQE. The DuckDB oracle deliberately states the semantics as the
    naive range predicate — same answer, different plan, which is
    exactly the point.

    Output per overlapping pair (a.orderkey < b.orderkey):
    (custkey, orderkey_a, orderkey_b, overlap_days), fully ordered.
    Exact integer day arithmetic end to end.
    """
    o = (
        t["orders"]
        .filter(F.col("o_custkey") % cust_mod == 0)
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
    iv = (
        o.join(li, "ok")
        .groupBy("ok", "ck", "s")
        .agg(F.greatest(F.max("ship"), F.first("s")).alias("e"))
    )
    g = iv.select(
        "ck",
        "ok",
        "s",
        "e",
        F.explode(
            F.expr(f"sequence(s div {bucket_days}, e div {bucket_days})")
        ).alias("wk"),
    ).localCheckpoint()
    a, b = g.alias("a"), g.alias("b")
    pairs = a.join(
        b,
        (F.col("a.ck") == F.col("b.ck"))
        & (F.col("a.wk") == F.col("b.wk"))
        & (F.col("a.ok") < F.col("b.ok"))
        # true overlap…
        & (F.col("a.s") <= F.col("b.e"))
        & (F.col("b.s") <= F.col("a.e"))
        # …counted exactly once: only in the overlap-start cell
        & (
            F.col("a.wk")
            == F.expr(f"greatest(a.s, b.s) div {bucket_days}")
        ),
    )
    return pairs.select(
        F.col("a.ck").alias("custkey"),
        F.col("a.ok").alias("orderkey_a"),
        F.col("b.ok").alias("orderkey_b"),
        (
            F.least(F.col("a.e"), F.col("b.e"))
            - F.greatest(F.col("a.s"), F.col("b.s"))
            + 1
        ).alias("overlap_days"),
    ).orderBy("custkey", "orderkey_a", "orderkey_b")


def interval_overlap_join_oracle_sql(
    cust_mod: int = OVERLAP_CUST_MOD,
) -> str:
    """Semantics stated naively: per-customer interval range self-join
    (the grid plan must return exactly this)."""
    return f"""
        WITH iv AS (
          SELECT o.o_orderkey AS ok, o.o_custkey AS ck,
                 CAST(date_diff('day', DATE '1970-01-01',
                                CAST(o.o_orderdate AS DATE)) AS BIGINT)
                     AS s,
                 GREATEST(
                   MAX(CAST(date_diff('day', DATE '1970-01-01',
                                CAST(l.l_shipdate AS DATE)) AS BIGINT)),
                   CAST(date_diff('day', DATE '1970-01-01',
                                CAST(o.o_orderdate AS DATE)) AS BIGINT))
                     AS e
          FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          WHERE o.o_custkey % {cust_mod} = 0
          GROUP BY 1, 2, 3)
        SELECT a.ck AS custkey,
               a.ok AS orderkey_a,
               b.ok AS orderkey_b,
               LEAST(a.e, b.e) - GREATEST(a.s, b.s) + 1 AS overlap_days
        FROM iv a JOIN iv b
          ON a.ck = b.ck AND a.ok < b.ok
         AND a.s <= b.e AND b.s <= a.e
        ORDER BY custkey, orderkey_a, orderkey_b
        """


def nelson_aalen_interorder(t: dict[str, DataFrame]) -> DataFrame:
    """Nelson-Aalen cumulative hazard of the customer inter-order wait
    — the additive sibling of kaplan_meier_interorder (same subjects:
    every consecutive order gap an observed event, every customer's
    open final gap right-censored). KM estimates survival as a
    product; NA estimates the cumulative hazard H(t) = Σ_{t_i<=t}
    d_i/n_i directly, with the standard variance estimator
    Σ d_i/n_i² — the pair a reliability review reads together (H's
    slope IS the hazard rate; a straightening H curve means churn
    risk stabilizing).

    Determinism: the cumulative sums use the KM sorted-array prefix
    FOLD, not a window running sum — measured here: DuckDB evaluates
    windowed SUM over doubles with a segment TREE (pairwise
    combination), so its addition order differs from Spark's
    sequential accumulator and the raw doubles drift in the last ulp.
    The per-death-row fold over the duration-sorted slice is
    left-to-right in both engines (Spark aggregate(slice(...), 0D),
    DuckDB list_reduce over a[1:i] — Spark's leading 0+x1 is exact),
    so both chains are bit-identical and hash as RAW doubles. Each
    term d_i/n_i is one correctly-rounded int64->double division;
    risk sets are the KM descending int64 cumulative over the
    DURATION SUPPORT (calendar-span-bounded, never order volume; the
    O(k²) fold is the KM-documented span-bounded codegen loop).

    Output: one row per death time (dur_days, n_at_risk, d_events,
    censored_here, na_cum_hazard, na_var).
    """
    days = (
        t["orders"]
        .select("o_custkey", F.col("o_orderdate").alias("day"))
        .distinct()
        .localCheckpoint()
    )
    w = Window.partitionBy("o_custkey").orderBy("day")
    events = (
        days.select(
            F.datediff("day", F.lag("day").over(w)).cast("long").alias("dur")
        )
        .filter(F.col("dur").isNotNull())
        .select("dur", F.lit(1).alias("obs"))
    )
    maxd = days.agg(F.max("day").alias("md"))
    cens = (
        days.groupBy("o_custkey")
        .agg(F.max("day").alias("last_day"))
        .crossJoin(F.broadcast(maxd))
        .select(
            F.datediff("md", "last_day").cast("long").alias("dur"),
            F.lit(0).alias("obs"),
        )
    )
    per_dur = (
        events.unionAll(cens)
        .groupBy("dur")
        .agg(
            F.sum(F.when(F.col("obs") == 1, 1).otherwise(0))
            .cast("long")
            .alias("d"),
            F.sum(F.when(F.col("obs") == 0, 1).otherwise(0))
            .cast("long")
            .alias("c"),
        )
    )
    wd = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = per_dur.withColumn(
        "n_at_risk", F.sum(F.col("d") + F.col("c")).over(wd).cast("long")
    )
    dead = risk.filter(F.col("d") > 0)
    g = dead.agg(
        F.array_sort(
            F.collect_list(F.struct("dur", "n_at_risk", "d", "c"))
        ).alias("arr")
    )
    return (
        g.select(
            F.posexplode(
                F.expr(
                    "transform(arr, (x, i) -> struct("
                    " x.dur AS dur_days,"
                    " x.n_at_risk AS n_at_risk,"
                    " x.d AS d_events,"
                    " x.c AS censored_here,"
                    " aggregate(slice(arr, 1, i + 1), 0D,"
                    "   (acc, y) -> acc + CAST(y.d AS DOUBLE)"
                    "     / CAST(y.n_at_risk AS DOUBLE))"
                    "   AS na_cum_hazard,"
                    " aggregate(slice(arr, 1, i + 1), 0D,"
                    "   (acc, y) -> acc + CAST(y.d AS DOUBLE)"
                    "     / (CAST(y.n_at_risk AS DOUBLE)"
                    "        * CAST(y.n_at_risk AS DOUBLE)))"
                    "   AS na_var))"
                )
            ).alias("pos", "r")
        )
        .select("r.*")
        .orderBy("dur_days")
    )


def nelson_aalen_oracle_sql() -> str:
    """DuckDB replay: the kaplan_meier subject/risk CTEs, then the
    same duration-ordered prefix folds via list_reduce over the
    ordered slice (left-fold parity — NOT a window SUM, whose
    segment-tree addition order diverges; see operator docstring)."""
    return """
        WITH days AS MATERIALIZED (
          SELECT DISTINCT o_custkey, o_orderdate AS day FROM orders),
        gaps AS (
          SELECT date_diff('day',
                           LAG(day) OVER (PARTITION BY o_custkey
                                          ORDER BY day), day) AS dur
          FROM days),
        events AS (
          SELECT CAST(dur AS BIGINT) AS dur, 1 AS obs
          FROM gaps WHERE dur IS NOT NULL),
        maxd AS (SELECT MAX(day) AS md FROM days),
        cens AS (
          SELECT CAST(date_diff('day', last_day, md) AS BIGINT) AS dur,
                 0 AS obs
          FROM (SELECT o_custkey, MAX(day) AS last_day
                FROM days GROUP BY o_custkey), maxd),
        per_dur AS (
          SELECT dur,
                 CAST(SUM(CASE WHEN obs = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS d,
                 CAST(SUM(CASE WHEN obs = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS c
          FROM (SELECT * FROM events UNION ALL SELECT * FROM cens)
          GROUP BY dur),
        risk AS (
          SELECT dur, d, c,
                 CAST(SUM(d + c) OVER (ORDER BY dur DESC
                                       ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS n_at_risk
          FROM per_dur),
        arr AS (
          SELECT list({'dur': dur, 'n': n_at_risk, 'd': d, 'c': c}
                      ORDER BY dur) AS a
          FROM risk WHERE d > 0),
        expanded AS (
          SELECT unnest(list_transform(a, (x, i) -> {
                   'dur_days': x.dur,
                   'n_at_risk': x.n,
                   'd_events': x.d,
                   'censored_here': x.c,
                   'na_cum_hazard': list_reduce(list_prepend(0.0,
                       list_transform(a[1:i],
                         y -> CAST(y.d AS DOUBLE)
                              / CAST(y.n AS DOUBLE))),
                       (p, q) -> p + q),
                   'na_var': list_reduce(list_prepend(0.0,
                       list_transform(a[1:i],
                         y -> CAST(y.d AS DOUBLE)
                              / (CAST(y.n AS DOUBLE)
                                 * CAST(y.n AS DOUBLE)))),
                       (p, q) -> p + q)})) AS r
          FROM arr)
        SELECT r.dur_days AS dur_days,
               r.n_at_risk AS n_at_risk,
               r.d_events AS d_events,
               r.censored_here AS censored_here,
               r.na_cum_hazard AS na_cum_hazard,
               r.na_var AS na_var
        FROM expanded ORDER BY dur_days
        """


def logrank_test_segments(t: dict[str, DataFrame]) -> DataFrame:
    """Two-group log-rank test: do BUILDING-segment customers have a
    different inter-order wait distribution than everyone else? The
    hypothesis-test capstone of the survival family (KM/NA describe
    curves; log-rank decides whether two curves differ, weighting
    each death time by its hypergeometric variance — the standard
    clinical/churn A-vs-B machinery).

    Subjects are the kaplan_meier construction labelled by customer
    segment (group a = BUILDING, b = rest). Per death time with
    pooled deaths d and group-a risk n_a of n: E_a = d*n_a/n and
    V_a = d*(n_a/n)*(n_b/n)*(n-d)/(n-1); the statistic is
    (Σ(d_a - E_a))² / ΣV_a ~ χ²(1).

    Exact lanes: risk sets are zero-filled int64 descending
    cumulatives per group over the shared duration support. The two
    order-sensitive float sums run as ONE duration-sorted left fold
    over collected (dur, o_minus_e, v) structs (the anova recipe) —
    every term an IEEE chain over int64-exact doubles (products
    d*n_a <= ~1e10, far inside the 2^53 exact window), so the χ²
    hashes RAW.

    Output: ONE row — (n_death_times, subjects_a, subjects_b,
    deaths_a, expected_a, o_minus_e_a, var_sum, logrank_chi2).
    """
    cust = t["customer"].select(
        F.col("c_custkey").alias("o_custkey"),
        F.when(F.col("c_mktsegment") == "BUILDING", F.lit(1))
        .otherwise(F.lit(0))
        .alias("ga"),
    )
    days = (
        t["orders"]
        .select("o_custkey", F.col("o_orderdate").alias("day"))
        .distinct()
        .join(cust, "o_custkey")
        .localCheckpoint()
    )
    w = Window.partitionBy("o_custkey").orderBy("day")
    events = (
        days.select(
            "ga",
            F.datediff("day", F.lag("day").over(w)).cast("long").alias("dur"),
        )
        .filter(F.col("dur").isNotNull())
        .select("ga", "dur", F.lit(1).alias("obs"))
    )
    maxd = days.agg(F.max("day").alias("md"))
    cens = (
        days.groupBy("o_custkey", "ga")
        .agg(F.max("day").alias("last_day"))
        .crossJoin(F.broadcast(maxd))
        .select(
            "ga",
            F.datediff("md", "last_day").cast("long").alias("dur"),
            F.lit(0).alias("obs"),
        )
    )
    per_dur = (
        events.unionAll(cens)
        .groupBy("dur")
        .agg(
            F.sum(F.expr("CASE WHEN ga = 1 AND obs = 1 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("da"),
            F.sum(F.expr("CASE WHEN ga = 0 AND obs = 1 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("db"),
            F.sum(F.expr("CASE WHEN ga = 1 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("ta"),
            F.sum(F.expr("CASE WHEN ga = 0 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("tb"),
        )
    )
    wd = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = per_dur.select(
        "dur",
        "da",
        "db",
        F.sum("ta").over(wd).cast("long").alias("na"),
        F.sum("tb").over(wd).cast("long").alias("nb"),
    ).filter((F.col("da") + F.col("db")) > 0)
    # per-death-time hypergeometric terms (all int64-exact doubles)
    e_a = (
        "(CAST(da + db AS DOUBLE) * CAST(na AS DOUBLE)"
        " / CAST(na + nb AS DOUBLE))"
    )
    v_a = (
        "(CASE WHEN na + nb > 1 THEN"
        " CAST(da + db AS DOUBLE)"
        " * (CAST(na AS DOUBLE) / CAST(na + nb AS DOUBLE))"
        " * (CAST(nb AS DOUBLE) / CAST(na + nb AS DOUBLE))"
        " * (CAST(na + nb - da - db AS DOUBLE)"
        "    / CAST(na + nb - 1 AS DOUBLE)) ELSE 0D END)"
    )
    g = risk.agg(
        F.count(F.lit(1)).alias("n_death_times"),
        F.sum("da").cast("long").alias("deaths_a"),
        F.expr(
            f"aggregate(array_sort(collect_list(struct(dur,"
            f" CAST(da AS DOUBLE) - {e_a} AS ome, {v_a} AS v,"
            f" {e_a} AS ea))), struct(0D AS ome, 0D AS v, 0D AS ea),"
            " (acc, x) -> struct(acc.ome + x.ome AS ome,"
            " acc.v + x.v AS v, acc.ea + x.ea AS ea))"
        ).alias("sums"),
    )
    subj = (
        per_dur.agg(
            F.sum("ta").cast("long").alias("subjects_a"),
            F.sum("tb").cast("long").alias("subjects_b"),
        )
    )
    return (
        g.crossJoin(F.broadcast(subj))
        .select(
            "n_death_times",
            "subjects_a",
            "subjects_b",
            "deaths_a",
            F.col("sums.ea").alias("expected_a"),
            F.col("sums.ome").alias("o_minus_e_a"),
            F.col("sums.v").alias("var_sum"),
            F.expr(
                "CASE WHEN sums.v > 0 THEN"
                " sums.ome * sums.ome / sums.v END"
            ).alias("logrank_chi2"),
        )
    )


def logrank_test_oracle_sql() -> str:
    """DuckDB replay: same labelled subjects, zero-filled per-group
    descending risk cumulatives, ONE duration-ordered prepended-seed
    list_reduce over (o_minus_e, v, e) structs — left-fold parity
    with Spark's aggregate, RAW-double χ²."""
    e_a = (
        "(CAST(da + db AS DOUBLE) * CAST(na AS DOUBLE)"
        " / CAST(na + nb AS DOUBLE))"
    )
    v_a = (
        "(CASE WHEN na + nb > 1 THEN"
        " CAST(da + db AS DOUBLE)"
        " * (CAST(na AS DOUBLE) / CAST(na + nb AS DOUBLE))"
        " * (CAST(nb AS DOUBLE) / CAST(na + nb AS DOUBLE))"
        " * (CAST(na + nb - da - db AS DOUBLE)"
        "    / CAST(na + nb - 1 AS DOUBLE)) ELSE 0.0 END)"
    )
    return f"""
        WITH cust AS (
          SELECT c_custkey AS o_custkey,
                 CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                   AS ga
          FROM customer),
        days AS MATERIALIZED (
          SELECT d.o_custkey, d.day, cust.ga
          FROM (SELECT DISTINCT o_custkey, o_orderdate AS day
                FROM orders) d
          JOIN cust ON cust.o_custkey = d.o_custkey),
        gaps AS (
          SELECT ga, date_diff('day',
                   LAG(day) OVER (PARTITION BY o_custkey ORDER BY day),
                   day) AS dur
          FROM days),
        events AS (
          SELECT ga, CAST(dur AS BIGINT) AS dur, 1 AS obs
          FROM gaps WHERE dur IS NOT NULL),
        maxd AS (SELECT MAX(day) AS md FROM days),
        cens AS (
          SELECT ga, CAST(date_diff('day', last_day, md) AS BIGINT)
                   AS dur, 0 AS obs
          FROM (SELECT o_custkey, ga, MAX(day) AS last_day
                FROM days GROUP BY o_custkey, ga), maxd),
        per_dur AS (
          SELECT dur,
                 CAST(SUM(CASE WHEN ga = 1 AND obs = 1 THEN 1 ELSE 0
                          END) AS BIGINT) AS da,
                 CAST(SUM(CASE WHEN ga = 0 AND obs = 1 THEN 1 ELSE 0
                          END) AS BIGINT) AS db,
                 CAST(SUM(CASE WHEN ga = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS ta,
                 CAST(SUM(CASE WHEN ga = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS tb
          FROM (SELECT * FROM events UNION ALL SELECT * FROM cens)
          GROUP BY dur),
        risk AS (
          SELECT dur, da, db,
                 CAST(SUM(ta) OVER (ORDER BY dur DESC
                                    ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS na,
                 CAST(SUM(tb) OVER (ORDER BY dur DESC
                                    ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS nb
          FROM per_dur),
        dead AS (SELECT * FROM risk WHERE da + db > 0),
        folded AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_death_times,
                 CAST(SUM(da) AS BIGINT) AS deaths_a,
                 list_reduce(list_prepend(
                     {{'ome': 0.0, 'v': 0.0, 'ea': 0.0}},
                     list({{'ome': CAST(da AS DOUBLE) - {e_a},
                            'v': {v_a}, 'ea': {e_a}}} ORDER BY dur)),
                     (acc, x) -> {{'ome': acc.ome + x.ome,
                                   'v': acc.v + x.v,
                                   'ea': acc.ea + x.ea}}) AS sums
          FROM dead),
        subj AS (
          SELECT CAST(SUM(ta) AS BIGINT) AS subjects_a,
                 CAST(SUM(tb) AS BIGINT) AS subjects_b
          FROM per_dur)
        SELECT n_death_times, subjects_a, subjects_b, deaths_a,
               sums.ea AS expected_a,
               sums.ome AS o_minus_e_a,
               sums.v AS var_sum,
               CASE WHEN sums.v > 0 THEN
                 sums.ome * sums.ome / sums.v END AS logrank_chi2
        FROM folded, subj
        """


def transition_entropy_types(t: dict[str, DataFrame]) -> DataFrame:
    """Entropy decomposition of the per-user event-type chain: the
    marginal next-state entropy H(next), the conditional entropy
    H(next|current), and their difference — the mutual information
    I(current; next), i.e. how many nats of the next action the
    current one already tells you. The one-number answer to "is user
    behavior actually SEQUENTIAL or are the transition-matrix rows
    all the same?" (event_transition_matrix shows the rows; this
    scores them).

    Transitions are the event_transition_matrix pairs verbatim (same
    user-window, same ts/event_id tie-break). The state space is
    TYPES² (25 cells) — the entropy sums run as ONE (current, next)-
    sorted left fold over the cell structs (the anova recipe), each
    term (c_ij/N)·ln(c_ij/c_i) an IEEE chain over int64-exact
    doubles. ln rides the bm25/jensen_shannon ROUND(9) presentation
    lane (libm last-ulp divergence; 25 terms leave the boundary seven
    orders of magnitude away).

    Plan: one user-keyed window shuffle, one 25-row aggregate, two
    marginal re-aggregates of the 25-row frame, one fold. Output: ONE
    row — (n_transitions, n_states, h_next, h_next_given_current,
    mutual_info), entropies ROUND(9) nats.
    """
    ev = t["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
    )
    cells = pairs.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    row_tot = cells.groupBy("event_type").agg(F.sum("c").alias("ci"))
    col_tot = cells.groupBy("next_type").agg(F.sum("c").alias("cj"))
    n_tot = cells.agg(F.sum("c").alias("n")).withColumn(
        "k", F.lit(1)
    )
    j = (
        cells.join(row_tot, "event_type")
        .withColumn("k", F.lit(1))
        .join(F.broadcast(n_tot), "k")
    )
    cond_term = (
        "(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))"
        " * ln(CAST(c AS DOUBLE) / CAST(ci AS DOUBLE))"
    )
    hcond = j.agg(
        F.sum("c").cast("long").alias("n_transitions"),
        F.count(F.lit(1)).cast("long").alias("n_states"),
        F.expr(
            f"aggregate(array_sort(collect_list(struct(event_type,"
            f" next_type, {cond_term} AS term))), 0D,"
            " (acc, x) -> acc + x.term)"
        ).alias("neg_hc"),
    )
    marg_term = (
        "(CAST(cj AS DOUBLE) / CAST(n AS DOUBLE))"
        " * ln(CAST(cj AS DOUBLE) / CAST(n AS DOUBLE))"
    )
    hmarg = (
        col_tot.withColumn("k", F.lit(1))
        .join(F.broadcast(n_tot), "k")
        .agg(
            F.expr(
                f"aggregate(array_sort(collect_list(struct(next_type,"
                f" {marg_term} AS term))), 0D,"
                " (acc, x) -> acc + x.term)"
            ).alias("neg_hm")
        )
    )
    return hcond.crossJoin(F.broadcast(hmarg)).select(
        "n_transitions",
        "n_states",
        F.round(F.expr("-neg_hm"), 9).alias("h_next"),
        F.round(F.expr("-neg_hc"), 9).alias("h_next_given_current"),
        F.round(F.expr("neg_hc - neg_hm"), 9).alias("mutual_info"),
    )


def transition_entropy_oracle_sql() -> str:
    """DuckDB replay: same transition cells, same sorted folds
    (prepended-seed list_reduce), ROUND(9) ln lane."""
    cond_term = (
        "(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))"
        " * ln(CAST(c AS DOUBLE) / CAST(ci AS DOUBLE))"
    )
    marg_term = (
        "(CAST(cj AS DOUBLE) / CAST(n AS DOUBLE))"
        " * ln(CAST(cj AS DOUBLE) / CAST(n AS DOUBLE))"
    )
    return f"""
        WITH pairs AS MATERIALIZED (
          SELECT event_type,
                 LEAD(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)
                   AS next_type
          FROM events),
        cells AS MATERIALIZED (
          SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS c
          FROM pairs WHERE next_type IS NOT NULL
          GROUP BY event_type, next_type),
        row_tot AS (
          SELECT event_type, CAST(SUM(c) AS BIGINT) AS ci
          FROM cells GROUP BY event_type),
        col_tot AS (
          SELECT next_type, CAST(SUM(c) AS BIGINT) AS cj
          FROM cells GROUP BY next_type),
        n_tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
        hcond AS (
          SELECT CAST(SUM(c) AS BIGINT) AS n_transitions,
                 CAST(COUNT(*) AS BIGINT) AS n_states,
                 list_reduce(list_prepend(0.0,
                     list({cond_term}
                          ORDER BY cells.event_type, cells.next_type)),
                     (acc, x) -> acc + x) AS neg_hc
          FROM cells
          JOIN row_tot ON row_tot.event_type = cells.event_type
          CROSS JOIN n_tot),
        hmarg AS (
          SELECT list_reduce(list_prepend(0.0,
                     list({marg_term} ORDER BY next_type)),
                     (acc, x) -> acc + x) AS neg_hm
          FROM col_tot CROSS JOIN n_tot)
        SELECT n_transitions, n_states,
               ROUND(-neg_hm, 9) AS h_next,
               ROUND(-neg_hc, 9) AS h_next_given_current,
               ROUND(neg_hc - neg_hm, 9) AS mutual_info
        FROM hcond, hmarg
        """


def cochran_armitage_trend(t: dict[str, DataFrame]) -> DataFrame:
    """Cochran-Armitage trend test: is conversion MONOTONE in
    engagement? conversion_ztest_by_click_tier asks, per tier,
    "different from the rest?"; this asks the single sharper question
    a growth team actually has — does buying probability TREND with
    click count — using the click count itself as the ordered score
    (the canonical dose-response statistic):

        T = Σ b_i·x_i − B·(Σ n_i·x_i)/N
        Var = (B/N)(1 − B/N)·[Σ n_i·x_i² − (Σ n_i·x_i)²/N]
        z = T / sqrt(Var)

    over tiers i with score x_i = n_clicks, n_i users, b_i buyers.

    Exact lanes: the five sufficient statistics (N, B, Σnx, Σnx²,
    Σbx) are int64 sums off the tier frame (x ≤ per-user click
    counts; the x² lane carries a LOUD division-form guard — at
    Σ n·x² past int64 the raise says to rescale scores to deciles).
    Everything after is one int64→double IEEE chain over identical
    operands — RAW-double hash, no ROUND (the wow_mix rule: nothing
    libm touches the chain; sqrt is correctly rounded).

    Plan: the roc_auc user aggregate, a support-bounded tier
    aggregate, ONE scalar row of five longs — map-side arithmetic
    after. Output: (n_users, buyers, sum_nx, sum_nx2, sum_bx,
    ca_t, ca_var, ca_z).
    """
    users = (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("x"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("is_buyer"),
        )
    )
    tiers = users.groupBy("x").agg(
        F.count(F.lit(1)).alias("n"), F.sum("is_buyer").alias("b")
    )
    m = tiers.agg(
        F.sum("n").cast("long").alias("n_users"),
        F.sum("b").cast("long").alias("buyers"),
        F.sum(F.expr("n * x")).cast("long").alias("sum_nx"),
        F.expr(
            # division-form guard: Σ n·x² wraps silently under
            # ansi=false once max(x)² > (2^63-1)/N per tier; rescale
            # scores (deciles) past the envelope.
            "CASE WHEN SUM(CASE WHEN x > 0 AND n > (9223372036854775807"
            " div (x * x)) THEN 1 ELSE 0 END) > 0 THEN"
            " raise_error('cochran_armitage score second moment leaves"
            " the int64 exact lane — rescale scores to deciles')"
            " ELSE CAST(SUM(n * x * x) AS BIGINT) END"
        ).alias("sum_nx2"),
        F.sum(F.expr("b * x")).cast("long").alias("sum_bx"),
    )
    tt = (
        "(CAST(sum_bx AS DOUBLE) - CAST(buyers AS DOUBLE)"
        " * (CAST(sum_nx AS DOUBLE) / CAST(n_users AS DOUBLE)))"
    )
    pv = (
        "((CAST(buyers AS DOUBLE) / CAST(n_users AS DOUBLE))"
        " * (1D - CAST(buyers AS DOUBLE) / CAST(n_users AS DOUBLE))"
        " * (CAST(sum_nx2 AS DOUBLE) - CAST(sum_nx AS DOUBLE)"
        "    * (CAST(sum_nx AS DOUBLE) / CAST(n_users AS DOUBLE))))"
    )
    return m.select(
        "n_users",
        "buyers",
        "sum_nx",
        "sum_nx2",
        "sum_bx",
        F.expr(tt).alias("ca_t"),
        F.expr(pv).alias("ca_var"),
        F.expr(
            f"CASE WHEN {pv} > 0 THEN {tt} / sqrt({pv}) END"
        ).alias("ca_z"),
    )


def cochran_armitage_oracle_sql() -> str:
    tt = (
        "(CAST(sum_bx AS DOUBLE) - CAST(buyers AS DOUBLE)"
        " * (CAST(sum_nx AS DOUBLE) / CAST(n_users AS DOUBLE)))"
    )
    pv = (
        "((CAST(buyers AS DOUBLE) / CAST(n_users AS DOUBLE))"
        " * (1.0 - CAST(buyers AS DOUBLE) / CAST(n_users AS DOUBLE))"
        " * (CAST(sum_nx2 AS DOUBLE) - CAST(sum_nx AS DOUBLE)"
        "    * (CAST(sum_nx AS DOUBLE) / CAST(n_users AS DOUBLE))))"
    )
    return f"""
        WITH users AS MATERIALIZED (
          SELECT user_id,
                 CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                          END) AS BIGINT) AS x,
                 CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1
                          ELSE 0 END) AS BIGINT) AS is_buyer
          FROM events GROUP BY 1),
        tiers AS (
          SELECT x, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(is_buyer) AS BIGINT) AS b
          FROM users GROUP BY 1),
        m AS (
          SELECT CAST(SUM(n) AS BIGINT) AS n_users,
                 CAST(SUM(b) AS BIGINT) AS buyers,
                 CAST(SUM(n * x) AS BIGINT) AS sum_nx,
                 CAST(SUM(n * x * x) AS BIGINT) AS sum_nx2,
                 CAST(SUM(b * x) AS BIGINT) AS sum_bx
          FROM tiers)
        SELECT n_users, buyers, sum_nx, sum_nx2, sum_bx,
               {tt} AS ca_t,
               {pv} AS ca_var,
               CASE WHEN {pv} > 0 THEN {tt} / sqrt({pv}) END AS ca_z
        FROM m
        """


def mcnemar_weekly_conversion(t: dict[str, DataFrame]) -> DataFrame:
    """McNemar's test on week-over-week PAIRED conversion: among users
    active in BOTH of two adjacent weeks, did the conversion rate
    change — scored on the discordant pairs only ((converted week w,
    not w+1) vs (not w, converted w+1)), which is what makes it the
    PAIRED member of the test family: every independent-sample member
    (welch/z/KW) would double-count the stable users who convert (or
    don't) in both weeks; McNemar conditions them out. The right test
    for "did the checkout change between these two weeks ACTUALLY
    move our repeat users", immune to week-to-week audience churn by
    construction (non-both-active users never enter).

    Weeks are epoch-week integers (days-since-epoch div 7 — the
    weekly_revenue_wow convention, tz-free and engine-identical);
    adjacency is CALENDAR (week w joined to w+1 exactly, the gap
    rule). Counts are exact int64; the continuity-corrected statistic
    (|b − c| − 1)² / (b + c) is one int64→double IEEE division —
    RAW-double hash, NULL when no discordant pairs exist.

    Plan: one DISTINCT (user, week, converted) collapse, one
    user-keyed self-join on (user, week+1), one week-pair aggregate.
    Output per adjacent pair: (week, n_paired, n_both_conv, b_lost,
    c_gained, mcnemar_chi2).
    """
    uw = (
        t["events"]
        .select(
            "user_id",
            F.expr(
                "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01')"
                " div 7 AS BIGINT)"
            ).alias("week"),
            F.expr(
                "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
            ).alias("p"),
        )
        .groupBy("user_id", "week")
        .agg(F.max("p").alias("conv"))
    )
    nxt = uw.select(
        "user_id",
        (F.col("week") - 1).alias("week"),
        F.col("conv").alias("conv_next"),
    )
    pairs = uw.join(nxt, ["user_id", "week"])
    g = pairs.groupBy("week").agg(
        F.count(F.lit(1)).cast("long").alias("n_paired"),
        F.sum(
            F.expr("CASE WHEN conv = 1 AND conv_next = 1 THEN 1 ELSE 0 END")
        )
        .cast("long")
        .alias("n_both_conv"),
        F.sum(
            F.expr("CASE WHEN conv = 1 AND conv_next = 0 THEN 1 ELSE 0 END")
        )
        .cast("long")
        .alias("b_lost"),
        F.sum(
            F.expr("CASE WHEN conv = 0 AND conv_next = 1 THEN 1 ELSE 0 END")
        )
        .cast("long")
        .alias("c_gained"),
    )
    chi2 = (
        "(CAST((abs(b_lost - c_gained) - 1)"
        " * (abs(b_lost - c_gained) - 1) AS DOUBLE)"
        " / CAST(b_lost + c_gained AS DOUBLE))"
    )
    return g.select(
        "week",
        "n_paired",
        "n_both_conv",
        "b_lost",
        "c_gained",
        F.expr(
            f"CASE WHEN b_lost + c_gained > 0 THEN {chi2} END"
        ).alias("mcnemar_chi2"),
    ).orderBy("week")


def mcnemar_weekly_oracle_sql() -> str:
    return """
        WITH uw AS MATERIALIZED (
          SELECT user_id,
                 CAST(date_diff('day', DATE '1970-01-01',
                                CAST(ts AS DATE)) // 7 AS BIGINT)
                   AS week,
                 CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1
                          ELSE 0 END) AS BIGINT) AS conv
          FROM events GROUP BY 1, 2),
        pairs AS (
          SELECT a.week, a.conv, b.conv AS conv_next
          FROM uw a JOIN uw b ON b.user_id = a.user_id
                             AND b.week = a.week + 1),
        g AS (
          SELECT week,
                 CAST(COUNT(*) AS BIGINT) AS n_paired,
                 CAST(SUM(CASE WHEN conv = 1 AND conv_next = 1
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_both_conv,
                 CAST(SUM(CASE WHEN conv = 1 AND conv_next = 0
                          THEN 1 ELSE 0 END) AS BIGINT) AS b_lost,
                 CAST(SUM(CASE WHEN conv = 0 AND conv_next = 1
                          THEN 1 ELSE 0 END) AS BIGINT) AS c_gained
          FROM pairs GROUP BY week)
        SELECT week, n_paired, n_both_conv, b_lost, c_gained,
               CASE WHEN b_lost + c_gained > 0 THEN
                 CAST((abs(b_lost - c_gained) - 1)
                      * (abs(b_lost - c_gained) - 1) AS DOUBLE)
                 / CAST(b_lost + c_gained AS DOUBLE) END
                   AS mcnemar_chi2
        FROM g
        ORDER BY week
        """


def mantel_haenszel_click_purchase(t: dict[str, DataFrame]) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio for click→purchase across
    user-value quintile strata — the CONFOUNDING-CONTROL member of
    the test family: the crude OR mixes "big spenders click more AND
    buy more"; MH pools the five within-stratum 2×2 tables
    (OR_MH = Σ a_i·d_i/n_i / Σ b_i·c_i/n_i), so a spend-level
    confounder can no longer manufacture (or mask) the association —
    the textbook Simpson's-paradox guard, read NEXT TO the crude OR.

    Strata are value quintiles by the rank-based integer boundary
    rule every quantile operator here uses (b_q = min v with
    cum ≥ ceil(q·n/5), pitfall 17 — tie-stable, engine-identical);
    stratum(u) = 1 + Σ_q [v_u > b_q]. Cells are exact int64 user
    counts; each stratum's a·d/n and b·c/n terms are int64→double
    IEEE chains (products < 2^53 at any plausible per-stratum user
    count), folded stratum-sorted (the anova recipe); the two ORs are
    single divisions — RAW-double hash, NULL on zero denominators.

    Plan: one user aggregate (value cents, clicked, purchased), one
    domain-bounded support cumulative for the four boundaries (a
    broadcast-sized frame), one stratum 2×2 aggregate (5 rows), two
    folds. Output: ONE row — (n_users, n_strata, a_tot, b_tot, c_tot,
    d_tot, or_crude, mh_num, mh_den, or_mh).
    """
    users = (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.sum(
                F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")
            ).alias("v"),
            F.max(
                F.expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END")
            ).alias("clicked"),
            F.max(
                F.expr(
                    "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
                )
            ).alias("bought"),
        )
        .localCheckpoint()
    )
    support = users.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    wv = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = support.select(
        "v", F.sum("c").over(wv).alias("cum")
    ).crossJoin(
        F.broadcast(support.agg(F.sum("c").alias("n")))
    )
    bounds = ranked.agg(
        *[
            F.min(
                F.expr(
                    f"CASE WHEN cum >= CAST(ceil({q} * n / 5.0) AS BIGINT)"
                    " THEN v END"
                )
            ).alias(f"b{q}")
            for q in (1, 2, 3, 4)
        ]
    )
    strat = users.crossJoin(F.broadcast(bounds)).select(
        F.expr(
            "1 + (CASE WHEN v > b1 THEN 1 ELSE 0 END)"
            " + (CASE WHEN v > b2 THEN 1 ELSE 0 END)"
            " + (CASE WHEN v > b3 THEN 1 ELSE 0 END)"
            " + (CASE WHEN v > b4 THEN 1 ELSE 0 END)"
        ).alias("stratum"),
        "clicked",
        "bought",
    )
    cells = strat.groupBy("stratum").agg(
        F.sum(F.expr("clicked * bought")).cast("long").alias("a"),
        F.sum(F.expr("clicked * (1 - bought)")).cast("long").alias("b"),
        F.sum(F.expr("(1 - clicked) * bought")).cast("long").alias("c"),
        F.sum(F.expr("(1 - clicked) * (1 - bought)"))
        .cast("long")
        .alias("d"),
    )
    num = (
        "CAST(a AS DOUBLE) * CAST(d AS DOUBLE)"
        " / CAST(a + b + c + d AS DOUBLE)"
    )
    den = (
        "CAST(b AS DOUBLE) * CAST(c AS DOUBLE)"
        " / CAST(a + b + c + d AS DOUBLE)"
    )
    g = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum(F.expr("a + b + c + d")).cast("long").alias("n_users"),
        F.sum("a").cast("long").alias("a_tot"),
        F.sum("b").cast("long").alias("b_tot"),
        F.sum("c").cast("long").alias("c_tot"),
        F.sum("d").cast("long").alias("d_tot"),
        F.expr(
            f"aggregate(array_sort(collect_list(struct(stratum,"
            f" {num} AS term))), 0D, (acc, x) -> acc + x.term)"
        ).alias("mh_num"),
        F.expr(
            f"aggregate(array_sort(collect_list(struct(stratum,"
            f" {den} AS term))), 0D, (acc, x) -> acc + x.term)"
        ).alias("mh_den"),
    )
    return g.select(
        "n_users",
        "n_strata",
        "a_tot",
        "b_tot",
        "c_tot",
        "d_tot",
        F.expr(
            "CASE WHEN b_tot > 0 AND c_tot > 0 THEN"
            " (CAST(a_tot AS DOUBLE) * CAST(d_tot AS DOUBLE))"
            " / (CAST(b_tot AS DOUBLE) * CAST(c_tot AS DOUBLE)) END"
        ).alias("or_crude"),
        "mh_num",
        "mh_den",
        F.expr(
            "CASE WHEN mh_den > 0 THEN mh_num / mh_den END"
        ).alias("or_mh"),
    )


def mantel_haenszel_oracle_sql() -> str:
    num = (
        "CAST(a AS DOUBLE) * CAST(d AS DOUBLE)"
        " / CAST(a + b + c + d AS DOUBLE)"
    )
    den = (
        "CAST(b AS DOUBLE) * CAST(c AS DOUBLE)"
        " / CAST(a + b + c + d AS DOUBLE)"
    )
    return f"""
        WITH users AS MATERIALIZED (
          SELECT user_id,
                 CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS v,
                 CAST(MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                          END) AS BIGINT) AS clicked,
                 CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1
                          ELSE 0 END) AS BIGINT) AS bought
          FROM events GROUP BY 1),
        support AS (
          SELECT v, CAST(COUNT(*) AS BIGINT) AS c
          FROM users GROUP BY v),
        ranked AS (
          SELECT v,
                 CAST(SUM(c) OVER (ORDER BY v
                                   ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum,
                 (SELECT CAST(SUM(c) AS BIGINT) FROM support) AS n
          FROM support),
        bounds AS (
          SELECT
            MIN(CASE WHEN cum >= CAST(ceil(1 * n / 5.0) AS BIGINT)
                THEN v END) AS b1,
            MIN(CASE WHEN cum >= CAST(ceil(2 * n / 5.0) AS BIGINT)
                THEN v END) AS b2,
            MIN(CASE WHEN cum >= CAST(ceil(3 * n / 5.0) AS BIGINT)
                THEN v END) AS b3,
            MIN(CASE WHEN cum >= CAST(ceil(4 * n / 5.0) AS BIGINT)
                THEN v END) AS b4
          FROM ranked),
        strat AS (
          SELECT 1 + (CASE WHEN v > b1 THEN 1 ELSE 0 END)
                   + (CASE WHEN v > b2 THEN 1 ELSE 0 END)
                   + (CASE WHEN v > b3 THEN 1 ELSE 0 END)
                   + (CASE WHEN v > b4 THEN 1 ELSE 0 END) AS stratum,
                 clicked, bought
          FROM users, bounds),
        cells AS (
          SELECT stratum,
                 CAST(SUM(clicked * bought) AS BIGINT) AS a,
                 CAST(SUM(clicked * (1 - bought)) AS BIGINT) AS b,
                 CAST(SUM((1 - clicked) * bought) AS BIGINT) AS c,
                 CAST(SUM((1 - clicked) * (1 - bought)) AS BIGINT) AS d
          FROM strat GROUP BY stratum),
        g AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
                 CAST(SUM(a + b + c + d) AS BIGINT) AS n_users,
                 CAST(SUM(a) AS BIGINT) AS a_tot,
                 CAST(SUM(b) AS BIGINT) AS b_tot,
                 CAST(SUM(c) AS BIGINT) AS c_tot,
                 CAST(SUM(d) AS BIGINT) AS d_tot,
                 list_reduce(list_prepend(0.0,
                     list({num} ORDER BY stratum)),
                     (acc, x) -> acc + x) AS mh_num,
                 list_reduce(list_prepend(0.0,
                     list({den} ORDER BY stratum)),
                     (acc, x) -> acc + x) AS mh_den
          FROM cells)
        SELECT n_users, n_strata, a_tot, b_tot, c_tot, d_tot,
               CASE WHEN b_tot > 0 AND c_tot > 0 THEN
                 (CAST(a_tot AS DOUBLE) * CAST(d_tot AS DOUBLE))
                 / (CAST(b_tot AS DOUBLE) * CAST(c_tot AS DOUBLE)) END
                   AS or_crude,
               mh_num, mh_den,
               CASE WHEN mh_den > 0 THEN mh_num / mh_den END AS or_mh
        FROM g
        """
