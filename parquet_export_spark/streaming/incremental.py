"""Structured Streaming layer (SURVEY.md §2B.9, build plan phase 5).

The reference is pure batch: freshness = "rerun the job, consumers
poll the latest manifest" (reference README.md:5). This module supplies
the streaming upgrades a continuously-fed lake needs:

- ``stream_events``: file-source stream over an events directory —
  new parquet files are discovered per micro-batch (the natural
  landing-zone pattern at scale).
- ``hourly_rollup_stream``: watermarked tumbling-window aggregation —
  the streaming twin of ``relational.events_hourly_rollup``; late rows
  beyond the watermark are dropped deterministically.
- ``sessionize_stream``: session windows per user via
  ``F.session_window`` (gap-based).
- ``incremental_export``: batch-delta export — the ``updated_at``-
  watermark pattern for incrementally re-exporting only changed rows;
  works against any snapshot source, no CDC feed required.

Tests drive these with the per-batch ``foreachBatch``/memory sink on
the driver testdata; on a cluster the same code runs against a landing
bucket with checkpointing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_export_spark.functions.scalar import dsum

#: events table schema (TESTDATA.md) — streams must declare schemas.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_events(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over parquet event files.

    Parquet timestamps arrive in either physical precision depending on
    the producer: INT64 TIMESTAMP(MICROS) (Spark/DuckDB writers) or
    INT64 TIMESTAMP(NANOS) (pandas/pyarrow default). Streams must
    declare a schema up front, so sniff the landing directory's actual
    type with a metadata-only batch read (one footer, driver-side, any
    Hadoop-visible filesystem) and adapt: nanos are read as long via
    the legacy flag and truncated to micros; micros read natively.

    An empty (or not-yet-created) landing directory is the normal
    starting state of this pattern — there is nothing to sniff, so the
    stream is declared with the nanos-as-long schema (the testdata
    producers' physical type) and files are interpreted when they land.
    The sniff is a one-time decision: a directory whose producers mix
    micros and nanos physical types is unsupported (declare two streams
    over two prefixes instead).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from pyspark.errors import AnalysisException

    try:
        ts_type = dict(spark.read.parquet(events_dir).dtypes).get("ts")
    except AnalysisException:
        # path missing / no files to infer from: the legitimate
        # pre-first-file state -> declare the nanos-as-long schema.
        # Anything else (FS errors, corrupt footers) propagates —
        # silently mis-declaring the schema on a transient failure
        # would corrupt every later timestamp by 1000x.
        ts_type = "bigint"
    if ts_type == "bigint":  # physical TIMESTAMP(NANOS) -> long
        schema = T.StructType(
            [
                T.StructField(
                    f.name, T.LongType() if f.name == "ts" else f.dataType
                )
                for f in EVENTS_SCHEMA.fields
            ]
        )
        raw = spark.readStream.schema(schema).parquet(events_dir)
        # nanos -> timestamp (instant) for event-time semantics; the
        # testdata timestamps are wall-clock UTC.
        return raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    raw = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_dir)
    # event-time ops (watermark/window) need TimestampType semantics;
    # the NTZ wall-clock values are UTC by session config.
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def hourly_rollup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window rollup (streaming twin of
    relational.events_hourly_rollup).

    Late data beyond the watermark is dropped; state for closed
    windows is evicted — bounded memory at any input rate.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", scale=6).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionize_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session windows: a session closes after ``gap`` of
    inactivity (F.session_window merges overlapping gaps in state)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", scale=6).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def run_to_memory(
    stream: DataFrame,
    name: str,
    spark: SparkSession,
    output_mode: str = "complete",
) -> DataFrame:
    """Execute a streaming query over a bounded source to completion
    (availableNow) into an in-memory table; returns the result.

    ``output_mode`` must match the stream's shape: ``complete`` only
    works for aggregations (and retains all window state — fine for a
    bounded drain, wrong for watermark-semantics tests, which drive
    foreachBatch in append mode instead); pass ``append`` for
    stream-stream joins / dedup / stateless transforms and ``update``
    for update-mode stateful operators — Spark raises on a mismatch
    rather than computing anything wrong."""
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup by event_id within the watermark window.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until
    the watermark passes — bounded memory under duplicate-bearing
    ingest (at-least-once sources, replayed landing files)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def merge_sink(
    stream: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    key: str = "event_id",
):
    """foreachBatch upsert sink: each micro-batch MERGEs into the
    target parquet prefix via export.maintenance.merge_upsert —
    the continuous version of the reference's full-snapshot republish.
    Returns the started StreamingQuery.

    Crash-safe swap (no deletion window): the previous snapshot is
    renamed to ``target.old`` *before* staging takes its place, and
    removed only after; if a crash lands between the renames, the next
    batch restores ``target.old`` first — the replayed micro-batch then
    merges into the full prior snapshot, never an empty directory.
    All moves go through the Hadoop FileSystem API, so the sink works
    on the same schemes as the batch writer (file:/hdfs:/s3a:).

    Reader-visibility caveat: the swap renames DIRECTORIES, and no
    Hadoop scheme offers an atomic overwrite-rename for non-empty
    directories — a concurrent ``spark.read.parquet(target)`` that
    plans between the two renames can miss the path. The crash-safety
    contract (no data-loss window) holds regardless; workloads with
    concurrent readers should consume through the versioned-snapshot
    layer (export/versioned.py — immutable dirs + one atomic pointer,
    exactly the indirection that removes this window) or gate reads on
    the manifest."""
    from parquet_export_spark.export import fs
    from parquet_export_spark.export.maintenance import merge_upsert

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        old = target_dir.rstrip("/") + ".old"
        staging = target_dir.rstrip("/") + ".staging"
        # crash recovery: swap died after target was moved aside
        if fs.exists(spark, old) and not fs.exists(spark, target_dir):
            fs.rename(spark, old, target_dir)
        has_data = fs.is_dir(spark, target_dir) and any(
            f.endswith(".parquet") for f in fs.list_names(spark, target_dir)
        )
        if has_data:
            current = spark.read.parquet(target_dir)
            merged = merge_upsert(current, batch_df, key, updated_col=None)
        else:
            merged = batch_df
        # stage the merged snapshot, then swap without a deletion window
        merged.write.mode("overwrite").parquet(staging)
        fs.delete(spark, old, recursive=True)
        if fs.exists(spark, target_dir):
            fs.rename(spark, target_dir, old)
        fs.rename(spark, staging, target_dir)
        fs.delete(spark, old, recursive=True)

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def purchase_click_join_stream(
    events: DataFrame, window_minutes: int = 30, watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream join: purchases joined to clicks by the same user
    within the preceding ``window_minutes``.

    Both sides are watermarked; the time-range condition bounds the
    join state Spark must keep (clicks older than the window + late
    allowance are evicted). The canonical funnel/attribution join in
    continuous form.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {window_minutes} MINUTES")
        ),
        "inner",
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "purchase_ts",
        "purchase_value",
        "click_id",
        "click_ts",
    )


# --------------------------------------------------------------------------
# Incremental export (batch-delta with updated_at watermark)
# --------------------------------------------------------------------------


def incremental_export(
    snapshot: DataFrame,
    last_export_watermark,
    updated_col: str = "updated_at",
    rescan_lag=None,
) -> DataFrame:
    """Rows changed since the last export: the ``updated_at`` delta
    pattern (SURVEY.md §2B.9 — the reference re-exports everything).

    The predicate pushes to the source scan (JDBC or parquet), so an
    incremental run reads only the delta, not the table.

    Boundary semantics: the predicate is STRICT (``>``). Against a
    live OLTP source that can be lossy at the edge — a transaction
    whose ``updated_at`` was assigned at statement time <= W may
    COMMIT after the scan that chose W as the watermark, and a strict
    next run skips it forever. Pass ``rescan_lag`` (e.g. an
    ``datetime.timedelta``) to re-read a trailing overlap window
    (``> W - lag``); the re-exported overlap rows are exact duplicates
    by key and the downstream MERGE (``merge_sink`` /
    ``export.maintenance.merge_upsert``) absorbs them idempotently —
    lag + upsert is the standard exactly-once-by-key recipe. Against
    an immutable lake snapshot (this repo's tests) strict ``>`` is
    already exact.
    """
    wm = last_export_watermark
    if rescan_lag is not None:
        # normalize: a string watermark is valid for the strict-> path
        # (F.lit accepts it) but cannot be shifted by a timedelta —
        # parse it so rescan_lag works with either input type
        if isinstance(wm, str):
            from datetime import datetime

            wm = datetime.fromisoformat(wm)
        wm = wm - rescan_lag
    return snapshot.filter(F.col(updated_col) > F.lit(wm))


def sliding_rollup_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Sliding-window rollup (1 h window / 15 min slide) — the
    streaming twin of operators.advanced.sliding_rollup.

    Each row fans into its 4 covering windows JVM-side; the watermark
    bounds how long a window's partial aggregate stays in state (a
    window closes once the watermark passes its end) — state is
    O(open windows x event_types), independent of input volume.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type")
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
    )


def enrich_stream(events: DataFrame, user_profile: DataFrame) -> DataFrame:
    """Stream-static enrichment join: attach a per-user profile (a
    batch-built dimension) to a live event stream.

    The static side is a plain batch DataFrame — Spark re-plans it per
    micro-batch, so a small dimension becomes a broadcast hash join
    with NO streaming state at all (unlike stream-stream joins there
    is nothing to watermark: the static side is always complete).
    This is the canonical serving-path lookup — profile tables, model
    feature stores, allow/deny lists. No FORCED broadcast hint: a
    per-user profile scales with the user base, so the per-micro-batch
    re-plan chooses broadcast from the static side's actual size (it
    does while the profile fits the threshold) and degrades to a
    shuffle join instead of an OOM build when it doesn't.
    """
    return events.join(
        user_profile, "user_id", "left"
    ).select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        "user_events_total",
        "user_value_total",
    )


def build_user_profile(history: DataFrame) -> DataFrame:
    """Batch-built per-user profile dimension for enrich_stream: event
    count + exact-decimal value total from the historical events table."""
    return history.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("user_events_total"),
        dsum("value", scale=6).alias("user_value_total"),
    )


def neardup_gate_stream(
    docs_stream: DataFrame,
    artifact_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float | None = None,
):
    """Continuous near-duplicate gate: the streaming version of the
    nightly ``operators.dedup.neardup_incremental`` shape.

    Each micro-batch of ``(doc_id, text)`` documents is checked
    against the persisted MinHash artifact with
    ``neardup_incremental_check`` (ONLY the batch is shingled and
    signed — history is its stored signature/band tables, never
    re-read); the keep/drop decisions land in ``out_dir`` and the KEPT
    documents' signatures and band rows join the artifact, so every
    later micro-batch deduplicates against everything kept so far
    (dropped docs add nothing — their kept near-match already
    represents them in signature space).

    REPLAY-IDEMPOTENT by construction: foreachBatch is at-least-once,
    so every write is an OVERWRITE of a per-batch subdirectory
    (``batch_<id>/``) and the artifact state a batch reads is every
    batch's contribution EXCEPT ITS OWN — a replayed batch therefore
    re-checks against exactly the state it originally saw and
    re-produces byte-identical output instead of appending duplicates
    or self-matching its own earlier signatures (the bug class
    ``merge_sink`` avoids via idempotent upsert; additive appends need
    this per-batch keying instead). Read the accumulated state with
    :func:`read_neardup_artifact` / :func:`read_gate_decisions`.
    Returns the started StreamingQuery.
    """
    from parquet_export_spark.export import fs
    from parquet_export_spark.operators.dedup import (
        NEARDUP_INCR_THRESHOLD,
        lake_minhash_artifact,
        neardup_incremental_check,
    )

    th = NEARDUP_INCR_THRESHOLD if threshold is None else threshold
    sig_dir = artifact_dir.rstrip("/") + "/sigs"
    band_dir = artifact_dir.rstrip("/") + "/bands"

    def _visible(spark, base: str, batch_id: int) -> list[str]:
        if not fs.exists(spark, base):
            return []
        return [
            fs.join(base, d)
            for d in fs.list_dir_names(spark, base)
            if d.startswith("batch_") and d != f"batch_{batch_id}"
        ]

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.select("doc_id", "text").localCheckpoint()
        sig_paths = _visible(spark, sig_dir, batch_id)
        if sig_paths:
            sigs = spark.read.parquet(*sig_paths)
            bands = spark.read.parquet(*_visible(spark, band_dir, batch_id))
        else:  # bootstrap: empty artifact with the stored schema
            sigs = spark.createDataFrame([], "doc_id long, sig array<bigint>")
            bands = spark.createDataFrame(
                [], "doc_id long, band int, bucket long"
            )
        res = neardup_incremental_check(batch, sigs, bands, th).localCheckpoint()
        res.write.mode("overwrite").parquet(
            fs.join(out_dir, f"batch_{batch_id}")
        )
        kept = batch.join(res.filter("keep").select("doc_id"), "doc_id")
        ksig, kbands = lake_minhash_artifact(kept)
        ksig.write.mode("overwrite").parquet(
            fs.join(sig_dir, f"batch_{batch_id}")
        )
        kbands.write.mode("overwrite").parquet(
            fs.join(band_dir, f"batch_{batch_id}")
        )

    return (
        docs_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_neardup_artifact(spark, artifact_dir: str):
    """(sigs, bands) accumulated across all batches of
    :func:`neardup_gate_stream` — what a nightly batch job would hand
    to ``neardup_incremental_check`` directly."""
    opt = {"recursiveFileLookup": "true"}
    return (
        spark.read.options(**opt).parquet(artifact_dir.rstrip("/") + "/sigs"),
        spark.read.options(**opt).parquet(artifact_dir.rstrip("/") + "/bands"),
    )


def read_gate_decisions(spark, out_dir: str):
    """All keep/drop decisions the gate has emitted (one subdir per
    micro-batch; replays overwrite in place, so no duplicates)."""
    return spark.read.option("recursiveFileLookup", "true").parquet(out_dir)


def cms_sketch_stream(
    docs_stream: DataFrame,
    artifact_dir: str,
    checkpoint_dir: str,
):
    """Continuous Count-Min sketch maintenance: each micro-batch's
    word sketch lands as a per-batch PARTIAL in the artifact directory
    — the store-sketches-not-rows pattern run continuously (the batch
    twin is ``operators.stats.heavy_hitters_cms``).

    CMS merge is exact addition per (row_id, bucket), so the artifact
    never needs a read-modify-write: each batch OVERWRITES its own
    ``batch_<id>/`` partial (replay-idempotent under foreachBatch's
    at-least-once contract — a re-run batch replaces its partial
    instead of double-counting into a merged total, the failure mode
    an additive staged-swap rewrite would have), and readers fold the
    partials with :func:`read_cms_sketch` — associativity makes the
    folded result BIT-EQUAL to the one-shot sketch of the concatenated
    corpus (pinned in the two-micro-batch test). The artifact stays
    bounded: n_batches x depth x 16^hex_chars slim rows, compacted by
    any later rewrite if batch count ever matters.
    """
    from parquet_export_spark.export import fs
    from parquet_export_spark.operators.stats import cms_sketch_rows

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        words = batch_df.select(
            F.explode(F.split("text", " ")).alias("word")
        )
        cms_sketch_rows(words).write.mode("overwrite").parquet(
            fs.join(artifact_dir, f"batch_{batch_id}")
        )

    return (
        docs_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_cms_sketch(spark, artifact_dir: str):
    """Fold the per-batch partials into the current total sketch —
    exact addition per (row_id, bucket)."""
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(artifact_dir)
        .groupBy("row_id", "bucket")
        .agg(F.sum("c").alias("c"))
    )


def cusum_stream(
    events_stream: DataFrame,
    artifact_dir: str,
    checkpoint_dir: str,
    drift: int,
    h: int = 100_000,
):
    """Continuous CUSUM drift monitoring: the streaming twin of
    ``operators.stats.cusum_alarms``.

    CUSUM state composes SEQUENTIALLY: the whole history collapses to
    two longs per event_type — the last prefix sum ``pf`` and the
    running minimum ``minp`` of all prefixes (with the virtual
    ``P_0 = 0``) — because ``s_i = P_i - min(0, minp_i)`` and both
    carry values extend by pure accumulation. Each micro-batch
    continues the path from the PREVIOUS batch's carry, emits its
    alarm rows and the updated carry into its own overwritten
    ``batch_<id>/`` subdirectory (replay-idempotent: a replayed batch
    re-reads the carry of the highest batch id BELOW its own — exactly
    the state it originally saw — and re-produces byte-identical
    output). Within a batch the event order is (ts, event_id), the
    same total order as the batch twin.

    One deliberate difference from the batch twin, stated loudly: the
    drift ``d`` is a fixed parameter here, not derived from the data
    — a streaming monitor must not let new data rewrite the reference
    it is monitored against (training-serving parity: calibrate d on
    a window with the batch operator, then freeze it). ``h`` is the
    alarm threshold in the same integer units (cents).

    Two-micro-batch pytest pins: concatenated-stream state ==
    sequential Python recursion over the full series, and the alarm
    set matches exactly across the batch boundary.
    """
    from parquet_export_spark.export import fs

    carry_base = artifact_dir.rstrip("/") + "/carry"
    alarms_base = artifact_dir.rstrip("/") + "/alarms"

    def _carry(spark, batch_id: int):
        if not fs.exists(spark, carry_base):
            return None
        prior = [
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) < batch_id
        ]
        if not prior:
            return None
        return spark.read.parquet(
            fs.join(carry_base, f"batch_{max(prior)}")
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        spark = batch_df.sparkSession
        batch = batch_df.select(
            "event_type",
            "event_id",
            "ts",
            F.expr("CAST(FLOOR(value*100 + 0.5) AS BIGINT)").alias("v"),
        ).localCheckpoint()
        carry = _carry(spark, batch_id)
        if carry is None:
            carry = spark.createDataFrame(
                [], "event_type string, pf long, minp long"
            )
        w = (
            Window.partitionBy("event_type")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        p = (
            batch.join(carry, "event_type", "left")
            .withColumn("pf0", F.coalesce("pf", F.lit(0)))
            .withColumn("minp0", F.coalesce("minp", F.lit(0)))
            .withColumn(
                "pf_i",
                F.col("pf0") + F.sum(F.col("v") - F.lit(drift)).over(w),
            )
            .withColumn(
                "minp_i", F.least("minp0", F.min("pf_i").over(w))
            )
            .withColumn(
                "cusum",
                F.col("pf_i") - F.least(F.lit(0), F.col("minp_i")),
            )
        )
        p.filter(F.col("cusum") >= F.lit(h)).select(
            "event_type", "event_id", "ts", "cusum"
        ).write.mode("overwrite").parquet(
            fs.join(alarms_base, f"batch_{batch_id}")
        )
        w_last = Window.partitionBy("event_type").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        new_carry = (
            p.withColumn("rn", F.row_number().over(w_last))
            .filter(F.col("rn") == 1)
            .select(
                "event_type",
                F.col("pf_i").alias("pf"),
                F.col("minp_i").alias("minp"),
            )
        )
        # types silent this batch keep their old carry
        kept = carry.join(
            new_carry.select("event_type"), "event_type", "left_anti"
        )
        new_carry.unionByName(kept).write.mode("overwrite").parquet(
            fs.join(carry_base, f"batch_{batch_id}")
        )
        # carry compaction: each carry_<id> is a FULL copy of the state
        # and only the max-prior one is ever read, so unpruned the tree
        # grows O(n_batches). Replay safety bounds the prune: after a
        # crash, foreachBatch replays only the last uncommitted batch
        # B, which reads the carry of max id < B — so the PREVIOUS
        # carry must survive, and everything older is dead. Keep the
        # two most recent, delete the rest (same retention story as
        # cms_sketch_stream's sketch compaction).
        done = sorted(
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) <= batch_id
        )
        for old in done[:-2]:
            fs.delete(spark, fs.join(carry_base, f"batch_{old}"), recursive=True)

    return (
        events_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_cusum_alarms(spark, artifact_dir: str):
    """All alarm rows emitted so far, across batches (the alarms/
    tree only — carries live in a sibling tree with its own schema)."""
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(artifact_dir.rstrip("/") + "/alarms")
        .select("event_type", "event_id", "ts", "cusum")
    )


# --------------------------------------------------------------------------
# Streaming connected-component maintenance (graph twin of the
# cusum/CMS/near-dup continuous monitors)
# --------------------------------------------------------------------------


def cc_label_stream(
    edges_stream: DataFrame,
    artifact_dir: str,
    checkpoint_dir: str,
    n_iter_delta: int | None = None,
):
    """Continuous connected-component labels over a stream of new edge
    micro-batches — the streaming twin of
    ``operators.graph.cc_apply_edge_batch`` (round-5 verdict #8),
    completing the incremental story the cusum/CMS/near-dup monitors
    already have.

    Input stream schema: ``(cust_node long, supp_node long)`` edge
    pairs (the trade-graph node encoding). State: the FULL label table
    ``(node, component)`` — node-sized, the same thing a nightly lake
    pipeline persists; the historical EDGES appear in no join
    (cc_apply_edge_batch's contracted-merge algebra: endpoints map to
    stored labels, CC runs on the touched-component label graph,
    stored labels relabel through the result — bit-equal to a full
    recompute, pinned by the two-micro-batch pytest).

    Replay idempotence (the shared foreachBatch recipe): each batch
    OVERWRITES its own ``labels/batch_<id>/`` subdirectory and reads
    the labels of the highest batch id BELOW its own — a replayed
    batch therefore sees exactly the state it first saw and reproduces
    byte-identical output. Label tables are full state copies, so the
    same compaction rule as cusum's carry applies: only the two most
    recent survive (replay of the last uncommitted batch needs exactly
    one prior).

    Convergence: the delta rounds run with ``verify_converged=True`` —
    a micro-batch chaining more than ``2^n_iter_delta - 1`` stored
    components RAISES inside foreachBatch (failing the streaming query
    loudly) instead of committing an under-merged label table.

    100 TB posture: per micro-batch the work is O(|batch| + |touched
    components| + |labels|); the label table is the only state that
    moves, and it is node-sized, not edge-sized.
    """
    from parquet_export_spark.export import fs
    from parquet_export_spark.operators.graph import (
        CC_INCR_DELTA_ITERS,
        cc_apply_edge_batch,
    )

    delta_iters = CC_INCR_DELTA_ITERS if n_iter_delta is None else n_iter_delta
    labels_base = artifact_dir.rstrip("/") + "/labels"

    def _prior_labels(spark, batch_id: int):
        if not fs.exists(spark, labels_base):
            return None
        prior = [
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, labels_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) < batch_id
        ]
        if not prior:
            return None
        return spark.read.parquet(
            fs.join(labels_base, f"batch_{max(prior)}")
        ).select("node", F.col("component").alias("l"))

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bp = batch_df.select("cust_node", "supp_node").distinct()
        lab = _prior_labels(spark, batch_id)
        if lab is None:
            lab = spark.createDataFrame([], "node long, l long")
        updated = cc_apply_edge_batch(
            lab, bp, delta_iters, verify_converged=True
        )
        updated.select("node", "component").write.mode("overwrite").parquet(
            fs.join(labels_base, f"batch_{batch_id}")
        )
        done = sorted(
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, labels_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) <= batch_id
        )
        for old in done[:-2]:
            fs.delete(
                spark, fs.join(labels_base, f"batch_{old}"), recursive=True
            )

    return (
        edges_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_cc_labels(spark, artifact_dir: str):
    """The CURRENT label table — the highest committed batch's full
    state (each batch dir is a complete copy, so only the latest is
    read)."""
    from parquet_export_spark.export import fs

    labels_base = artifact_dir.rstrip("/") + "/labels"
    latest = max(
        int(d.split("_", 1)[1])
        for d in fs.list_dir_names(spark, labels_base)
        if d.startswith("batch_")
    )
    return spark.read.parquet(
        fs.join(labels_base, f"batch_{latest}")
    ).select("node", "component")


def ewma_stream(
    events_stream: DataFrame,
    artifact_dir: str,
    checkpoint_dir: str,
    n_lags: int | None = None,
):
    """Continuous truncated-EWMA scoring — the streaming twin of
    ``operators.advanced.ewma_halflife_values``, completing the
    sequential-composition family (cusum/CMS/near-dup/CC twins).

    Why the state is exactly ``K rows + one count`` per event_type:
    the batch operator's EWMA is a function of the last K values and
    the GLOBAL position (the denominator saturates at K once K values
    have been seen), so the carry is the last K cents in order plus
    the running count — nothing else about history matters. Each
    micro-batch prepends its carry rows (synthetic order keys
    -K..-1) to the batch rows (row_number 1..), runs the SAME K-lag
    window as the batch twin over the concatenation, emits scores for
    the batch rows only, and writes the new last-K + count carry.

    Replay idempotence + compaction: the shared recipe — per-batch
    overwritten ``ewma/batch_<id>`` and ``carry_<id>`` trees, a batch
    reads the highest carry BELOW its own id, only the two most
    recent carries survive.

    The two-micro-batch pytest pins score equality against the batch
    operator run over the CONCATENATED series, with the batch
    boundary inside a lag window (scores in batch 2 depend on batch-1
    values through the carry).
    """
    from parquet_export_spark.export import fs
    from parquet_export_spark.operators.advanced import EWMA_LAGS

    K = EWMA_LAGS if n_lags is None else n_lags
    out_base = artifact_dir.rstrip("/") + "/ewma"
    carry_base = artifact_dir.rstrip("/") + "/carry"

    def _carry(spark, batch_id: int):
        if not fs.exists(spark, carry_base):
            return None
        prior = [
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) < batch_id
        ]
        if not prior:
            return None
        return spark.read.parquet(
            fs.join(carry_base, f"batch_{max(prior)}")
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        spark = batch_df.sparkSession
        batch = batch_df.select(
            "event_id",
            "event_type",
            "ts",
            F.expr("CAST(FLOOR(value*100 + 0.5) AS BIGINT)").alias("cents"),
        ).localCheckpoint()
        carry = _carry(spark, batch_id)
        if carry is None:
            # (event_type, seq in -K..-1 oldest-first, cents, n_seen)
            carry = spark.createDataFrame(
                [], "event_type string, seq long, cents long, n_seen long"
            )
        w_ord = Window.partitionBy("event_type").orderBy("ts", "event_id")
        new_rows = batch.withColumn(
            "seq", F.row_number().over(w_ord).cast("long")
        )
        prior_n = carry.groupBy("event_type").agg(
            F.max("n_seen").alias("pn")
        )
        union = new_rows.select(
            "event_type", "seq", "cents"
        ).unionByName(carry.select("event_type", "seq", "cents"))
        w = Window.partitionBy("event_type").orderBy("seq")
        df = union
        for j in range(1, K):
            df = df.withColumn(f"l{j}", F.lag("cents", j).over(w))
        terms = " + ".join(
            [f"cents * {2 ** (K - 1)}L"]
            + [
                f"coalesce(l{j}, 0L) * {2 ** (K - 1 - j)}L"
                for j in range(1, K)
            ]
        )
        denom = f"({2 ** K}L - (1L << ({K} - LEAST(grn, {K}))))"
        scored = (
            df.filter(F.col("seq") >= 1)
            .join(prior_n, "event_type", "left")
            .withColumn(
                "grn", F.coalesce("pn", F.lit(0)) + F.col("seq")
            )
            .withColumn("ewma_cents", F.expr(f"({terms}) div {denom}"))
        )
        scored.join(
            new_rows.select("event_type", "seq", "event_id", "ts"),
            ["event_type", "seq"],
        ).select(
            "event_id", "event_type", "ts",
            F.col("cents").alias("value_cents"), "ewma_cents",
        ).write.mode("overwrite").parquet(
            fs.join(out_base, f"batch_{batch_id}")
        )
        # new carry: last K of (carry ++ batch) per type, re-seqed to
        # -K..-1 oldest-first, plus the updated running count
        w_desc = Window.partitionBy("event_type").orderBy(F.desc("seq"))
        lastk = (
            union.withColumn("rk", F.row_number().over(w_desc))
            .filter(F.col("rk") <= K)
            .select(
                "event_type", (-F.col("rk")).alias("seq"), "cents"
            )
        )
        n_new = new_rows.groupBy("event_type").agg(
            F.max("seq").alias("bn")
        )
        n_tot = (
            prior_n.join(n_new, "event_type", "full")
            .select(
                "event_type",
                (
                    F.coalesce("pn", F.lit(0)) + F.coalesce("bn", F.lit(0))
                ).alias("n_seen"),
            )
        )
        lastk.join(n_tot, "event_type").select(
            "event_type", "seq", "cents", "n_seen"
        ).write.mode("overwrite").parquet(
            fs.join(carry_base, f"batch_{batch_id}")
        )
        done = sorted(
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) <= batch_id
        )
        for old in done[:-2]:
            fs.delete(spark, fs.join(carry_base, f"batch_{old}"), recursive=True)

    return (
        events_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_ewma_scores(spark, artifact_dir: str):
    """All EWMA score rows emitted so far, across batches."""
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(artifact_dir.rstrip("/") + "/ewma")
        .select("event_id", "event_type", "ts", "value_cents", "ewma_cents")
    )


def write_ks_reference(events: DataFrame, ref_dir: str) -> None:
    """Calibrate the frozen KS reference: per-type cents histogram of
    a batch window, written once. The streaming monitor compares the
    LIVE cumulative distribution against this — the reference is a
    parameter, never rewritten by new data (the cusum_stream
    frozen-drift rule: a monitor must not let the monitored stream
    redefine its own baseline)."""
    (
        events.select(
            "event_type",
            F.expr("CAST(FLOOR(value*100 + 0.5) AS BIGINT)").alias("cents"),
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("c"))
        .write.mode("overwrite")
        .parquet(ref_dir)
    )


#: ks_ppm presentation scale; the int64 envelope below derives from it.
KS_PPM_SCALE = 1_000_000


def _ks_envelope() -> int:
    """Largest per-type ``n_stream * n_ref`` product for which the
    ppm arithmetic provably cannot overflow int64: d_scaled <= na*nb
    and the presentation multiply is d_scaled * KS_PPM_SCALE, so
    na * nb * KS_PPM_SCALE must stay below 2^63 (~9.2e12 sample-pairs
    at the shipped scale). Reads the module constant at call time so
    tests can shrink it."""
    return (2**63 - 1) // KS_PPM_SCALE


def ks_drift_stream(
    events_stream: DataFrame,
    ref_dir: str,
    artifact_dir: str,
    checkpoint_dir: str,
):
    """Continuous distribution-drift monitoring — the KS twin of
    ``cusum_stream`` (cusum watches the MEAN drift; this watches the
    whole DISTRIBUTION against a frozen reference histogram): after
    each micro-batch, emit the two-sample KS distance between the
    cumulative stream-so-far and the calibrated reference, per
    event_type.

    Why the state is bounded: the KS statistic needs only the
    empirical CDF, and values quantize to cents — so the carry is the
    per-(type, cents) count histogram, bounded by the VALUE RANGE, not
    by stream volume (the same value-boundedness that makes the batch
    ``ks_distance_pairs`` window safe).

    int64 envelope, GUARDED LOUDLY (the PageRank/HITS convention):
    while the STATE is bounded, the cumulative stream COUNT ``na`` is
    not — it grows for the monitor's whole lifetime, and the ppm
    presentation computes ``d_scaled * KS_PPM_SCALE`` with
    ``d_scaled <= na * nb``; once ``na * nb`` exceeds
    ``(2^63-1) / KS_PPM_SCALE`` (~9.2e12 sample-pairs — reachable by
    a long-running monitor at lake scale) the product would wrap
    SILENTLY under ansi=false. Each batch therefore checks the
    type-sized total tables against ``_ks_envelope()`` and raises
    ``ValueError`` past it — re-calibrate with a larger reference
    window, or lower KS_PPM_SCALE, before resuming. Each micro-batch adds its own
    counts to the carry and evaluates D by the identical RANGE-frame
    cumulative-window recipe as the batch operator.

    Replay idempotence + compaction: the shared recipe — per-batch
    overwritten ``ks/batch_<id>`` and ``carry_<id>`` trees, a batch
    reads the highest carry BELOW its own id, two most recent carries
    survive.

    Two-micro-batch pytest pins ks_ppm after each batch against a
    sequential Python recomputation over the concatenated prefix.
    """
    from parquet_export_spark.export import fs

    out_base = artifact_dir.rstrip("/") + "/ks"
    carry_base = artifact_dir.rstrip("/") + "/carry"

    def _carry(spark, batch_id: int):
        if not fs.exists(spark, carry_base):
            return None
        prior = [
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) < batch_id
        ]
        if not prior:
            return None
        return spark.read.parquet(
            fs.join(carry_base, f"batch_{max(prior)}")
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        spark = batch_df.sparkSession
        bc = (
            batch_df.select(
                "event_type",
                F.expr(
                    "CAST(FLOOR(value*100 + 0.5) AS BIGINT)"
                ).alias("cents"),
            )
            .groupBy("event_type", "cents")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        carry = _carry(spark, batch_id)
        if carry is None:
            carry = spark.createDataFrame(
                [], "event_type string, cents long, c long"
            )
        cum = (
            bc.unionByName(carry)
            .groupBy("event_type", "cents")
            .agg(F.sum("c").alias("c"))
            .localCheckpoint()
        )
        cum.write.mode("overwrite").parquet(
            fs.join(carry_base, f"batch_{batch_id}")
        )
        ref = spark.read.parquet(ref_dir)
        # two-sample KS per type: stream-cumulative (side a) vs frozen
        # reference (side b) — the batch operator's RANGE-frame recipe
        tot_a = cum.groupBy("event_type").agg(F.sum("c").alias("na"))
        tot_b = ref.groupBy("event_type").agg(F.sum("c").alias("nb"))
        # loud envelope check on the type-sized totals; tot_a derives
        # from the checkpointed carry, so this extra action is one tiny
        # job per micro-batch
        over = (
            tot_a.join(tot_b, "event_type")
            .filter(
                # division-form integer predicate: exact at the
                # boundary (na*nb > B <=> nb > B div na), no float cast
                (F.col("na") > 0)
                & (F.col("nb") > F.expr(f"{_ks_envelope()} div na"))
            )
            .select("event_type", "na", "nb")
            .first()
        )
        if over is not None:
            raise ValueError(
                f"ks_drift_stream int64 overflow envelope exceeded for"
                f" event_type={over.event_type!r}: n_stream*n_ref ="
                f" {over.na}*{over.nb} > {_ks_envelope()} safe maximum"
                f" at KS_PPM_SCALE={KS_PPM_SCALE} (ansi=false would"
                " wrap silently in the ppm multiply). Re-calibrate or"
                " lower KS_PPM_SCALE."
            )
        side_a = cum.select(
            "event_type", "cents", F.col("c").alias("ca"),
            F.lit(0).alias("cb"),
        )
        side_b = ref.select(
            "event_type", "cents", F.lit(0).alias("ca"),
            F.col("c").alias("cb"),
        )
        w = (
            Window.partitionBy("event_type")
            .orderBy("cents")
            .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        )
        stepped = (
            side_a.unionByName(side_b)
            .join(tot_a, "event_type")
            .join(tot_b, "event_type")
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
        (
            stepped.groupBy("event_type", "na", "nb")
            .agg(F.max("d").alias("d_scaled"))
            .select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                "event_type",
                F.col("na").cast("long").alias("n_stream"),
                F.col("nb").cast("long").alias("n_ref"),
                F.expr(f"(d_scaled * {KS_PPM_SCALE}L) div (na * nb)").alias(
                    "ks_ppm"
                ),
            )
            .write.mode("overwrite")
            .parquet(fs.join(out_base, f"batch_{batch_id}"))
        )
        done = sorted(
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) <= batch_id
        )
        for old in done[:-2]:
            fs.delete(spark, fs.join(carry_base, f"batch_{old}"), recursive=True)

    return (
        events_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_ks_drift(spark, artifact_dir: str):
    """Per-batch KS drift rows emitted so far."""
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(artifact_dir.rstrip("/") + "/ks")
        .select("batch_id", "event_type", "n_stream", "n_ref", "ks_ppm")
    )


def hll_stream(
    events_stream: DataFrame,
    artifact_dir: str,
    checkpoint_dir: str,
):
    """Continuous distinct-user monitoring — the streaming twin of the
    batch ``hll_rollup_users`` sketch rollup, completing the monitor
    family's symmetry (cusum/CMS/near-dup/CC/EWMA/KS all have twins;
    distinct-count was the last without one).

    Why sketches are the RIGHT streaming state: DataSketches HLL
    registers are order-independent and mergeable, so the carry is one
    KB-sized binary sketch per event_type — bounded by type
    cardinality, never by stream volume or distinct-user count (an
    exact distinct would carry the full user-id set). Each micro-batch
    sketches ITS OWN rows (``hll_sketch_agg``), unions that partial
    into the prior carry (``hll_union_agg`` over a full-outer type
    alignment), and emits per-type estimates from the merged sketch.

    Replay idempotence + compaction: the shared recipe — the carry for
    batch N is a deterministic function of carry N-1 plus batch N's
    rows (a replayed batch re-reads the highest carry BELOW its own id
    and overwrites ``carry_<id>``/``hll/batch_<id>`` byte-identically);
    the two most recent carries survive.

    The two-micro-batch pytest pins (a) replay idempotence, (b) the
    final estimates EQUAL the one-shot batch sketch over the
    concatenated prefix (sketch merge-consistency — the property
    ``hll_rollup_users`` pins for daily rollups), and (c) an error
    bound vs exact countDistinct.
    """
    from parquet_export_spark.export import fs

    out_base = artifact_dir.rstrip("/") + "/hll"
    carry_base = artifact_dir.rstrip("/") + "/carry"

    def _carry(spark, batch_id: int):
        if not fs.exists(spark, carry_base):
            return None
        prior = [
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) < batch_id
        ]
        if not prior:
            return None
        return spark.read.parquet(
            fs.join(carry_base, f"batch_{max(prior)}")
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        partial = batch_df.groupBy("event_type").agg(
            F.hll_sketch_agg("user_id").alias("sk")
        )
        carry = _carry(spark, batch_id)
        if carry is not None:
            # full-outer type alignment: a type may exist only in
            # history or only in this batch; union_agg merges 1-2
            # sketches per type
            merged = (
                partial.unionByName(carry)
                .groupBy("event_type")
                .agg(F.hll_union_agg("sk").alias("sk"))
            )
        else:
            merged = partial
        merged = merged.localCheckpoint()
        merged.write.mode("overwrite").parquet(
            fs.join(carry_base, f"batch_{batch_id}")
        )
        (
            merged.select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                "event_type",
                F.hll_sketch_estimate("sk").alias("approx_users"),
            )
            .write.mode("overwrite")
            .parquet(fs.join(out_base, f"batch_{batch_id}"))
        )
        done = sorted(
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) <= batch_id
        )
        for old in done[:-2]:
            fs.delete(
                spark, fs.join(carry_base, f"batch_{old}"), recursive=True
            )

    return (
        events_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_hll_estimates(spark, artifact_dir: str):
    """Per-batch cumulative distinct-user estimates emitted so far."""
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(artifact_dir.rstrip("/") + "/hll")
        .select("batch_id", "event_type", "approx_users")
    )


def apdex_stream(
    events_stream: DataFrame,
    artifact_dir: str,
    checkpoint_dir: str,
    t_cents: int | None = None,
):
    """Continuous Apdex monitoring — the streaming twin of the batch
    ``apdex_by_type``: the cumulative satisfaction index per type
    after every micro-batch, for the SLA dashboard that can't wait
    for the nightly batch pass.

    State is the IDEAL streaming carry: three additive int64 counters
    per type (n, n_satisfied, n_tolerating) — bounded by type
    cardinality, order-independent, and EXACT, so unlike the sketch
    monitors the twin-parity test is equality, not an error bound.
    Each micro-batch aggregates its own rows, adds them onto the
    carry (full-outer type alignment via union + re-sum), and emits
    cumulative apdex_ppm with the SAME folded-numerator integer form
    as the batch operator — one definition of the score arithmetic
    (the constant and the ppm expression import from
    ``operators.stats``), so twin drift is impossible.

    Replay idempotence + compaction: the shared carry recipe — carry
    N is a deterministic function of carry N-1 plus batch N's rows; a
    replayed batch re-reads the highest carry below its id and
    overwrites byte-identically; the two most recent carries survive.
    """
    from parquet_export_spark.export import fs
    from parquet_export_spark.operators.stats import (
        APDEX_PPM_EXPR,
        APDEX_T_CENTS,
    )

    if t_cents is None:
        t_cents = APDEX_T_CENTS
    out_base = artifact_dir.rstrip("/") + "/apdex"
    carry_base = artifact_dir.rstrip("/") + "/carry"

    def _carry(spark, batch_id: int):
        if not fs.exists(spark, carry_base):
            return None
        prior = [
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) < batch_id
        ]
        if not prior:
            return None
        return spark.read.parquet(
            fs.join(carry_base, f"batch_{max(prior)}")
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cents = F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")
        partial = (
            batch_df.select("event_type", cents.alias("cents"))
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.sum(
                    F.when(F.col("cents") <= t_cents, 1).otherwise(0)
                )
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
        )
        carry = _carry(spark, batch_id)
        if carry is not None:
            partial = (
                partial.unionByName(carry)
                .groupBy("event_type")
                .agg(
                    F.sum("n_events").cast("long").alias("n_events"),
                    F.sum("n_satisfied")
                    .cast("long")
                    .alias("n_satisfied"),
                    F.sum("n_tolerating")
                    .cast("long")
                    .alias("n_tolerating"),
                )
            )
        merged = partial.localCheckpoint()
        merged.write.mode("overwrite").parquet(
            fs.join(carry_base, f"batch_{batch_id}")
        )
        (
            merged.select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                "event_type",
                "n_events",
                "n_satisfied",
                "n_tolerating",
                F.expr(APDEX_PPM_EXPR).alias("apdex_ppm"),
            )
            .write.mode("overwrite")
            .parquet(fs.join(out_base, f"batch_{batch_id}"))
        )
        done = sorted(
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) <= batch_id
        )
        for old in done[:-2]:
            fs.delete(
                spark, fs.join(carry_base, f"batch_{old}"), recursive=True
            )

    return (
        events_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_apdex_scores(spark, artifact_dir: str):
    """Per-batch cumulative Apdex scores emitted so far."""
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(artifact_dir.rstrip("/") + "/apdex")
        .select(
            "batch_id",
            "event_type",
            "n_events",
            "n_satisfied",
            "n_tolerating",
            "apdex_ppm",
        )
    )


def w1_drift_stream(
    events_stream: DataFrame,
    ref_dir: str,
    artifact_dir: str,
    checkpoint_dir: str,
):
    """Continuous 1-Wasserstein drift monitoring — the MAGNITUDE twin
    of ``ks_drift_stream`` (KS alarms on whether the distribution
    moved anywhere; W1 reports how much value mass moved, in cents),
    against the SAME frozen reference histogram
    (``write_ks_reference`` — one calibration artifact serves both
    monitors). After each micro-batch: cumulative-stream vs reference
    W1 per event_type, by the batch ``wasserstein_distance_pairs``
    recipe (deduped support union, cumulative + lead, int64 segment
    sum, one presentation divide).

    State is the identical per-(type, cents) histogram carry as the
    KS monitor — value-range-bounded, never stream-volume-bounded —
    and the carries are SHAREABLE byte-for-byte; this monitor keeps
    its own tree only so the two can compact independently.

    int64 envelope, GUARDED LOUDLY: the segment sum is bounded by
    na * nb * value_range — tighter than KS's na * nb — so each
    batch bounds na * nb * (max-min cents over BOTH sides) per type
    and raises ValueError past 2^63-1 (re-calibrate or rescale
    before resuming, the ks_drift_stream contract).

    Replay idempotence + compaction: the shared recipe (overwritten
    ``w1/batch_<id>`` + ``carry_<id>``, read highest carry below own
    id, keep-two).
    """
    from parquet_export_spark.export import fs

    out_base = artifact_dir.rstrip("/") + "/w1"
    carry_base = artifact_dir.rstrip("/") + "/carry"

    def _carry(spark, batch_id: int):
        if not fs.exists(spark, carry_base):
            return None
        prior = [
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) < batch_id
        ]
        if not prior:
            return None
        return spark.read.parquet(
            fs.join(carry_base, f"batch_{max(prior)}")
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        spark = batch_df.sparkSession
        bc = (
            batch_df.select(
                "event_type",
                F.expr(
                    "CAST(FLOOR(value*100 + 0.5) AS BIGINT)"
                ).alias("cents"),
            )
            .groupBy("event_type", "cents")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        carry = _carry(spark, batch_id)
        if carry is None:
            carry = spark.createDataFrame(
                [], "event_type string, cents long, c long"
            )
        cum = (
            bc.unionByName(carry)
            .groupBy("event_type", "cents")
            .agg(F.sum("c").alias("c"))
            .localCheckpoint()
        )
        cum.write.mode("overwrite").parquet(
            fs.join(carry_base, f"batch_{batch_id}")
        )
        ref = spark.read.parquet(ref_dir)
        tot_a = cum.groupBy("event_type").agg(
            F.sum("c").alias("na"),
            F.min("cents").alias("lo_a"),
            F.max("cents").alias("hi_a"),
        )
        tot_b = ref.groupBy("event_type").agg(
            F.sum("c").alias("nb"),
            F.min("cents").alias("lo_b"),
            F.max("cents").alias("hi_b"),
        )
        tots = tot_a.join(tot_b, "event_type").withColumn(
            "rng",
            F.greatest("hi_a", "hi_b") - F.least("lo_a", "lo_b"),
        )
        over = (
            tots.filter(
                # division-form integer predicate, chained twice so no
                # intermediate product can wrap: na*nb*rng' > B
                # <=> nb > (B div na) div rng'  (rng' = max(rng, 1));
                # each step is exact for positive int64 operands.
                (F.col("na") > 0)
                & (
                    F.col("nb")
                    > F.expr(
                        f"({2**63 - 1} div na) div greatest(rng, 1L)"
                    )
                )
            )
            .select("event_type", "na", "nb", "rng")
            .first()
        )
        if over is not None:
            raise ValueError(
                f"w1_drift_stream int64 overflow envelope exceeded for"
                f" event_type={over.event_type!r}: n_stream*n_ref*range"
                f" = {over.na}*{over.nb}*{over.rng} > 2^63-1;"
                f" re-calibrate the reference or rescale before resuming"
            )
        side_a = cum.select(
            "event_type", "cents", F.col("c").alias("ca"), F.lit(0).alias("cb")
        )
        side_b = ref.select(
            "event_type", "cents", F.lit(0).alias("ca"), F.col("c").alias("cb")
        )
        support = (
            side_a.unionByName(side_b)
            .groupBy("event_type", "cents")
            .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
        )
        wo = Window.partitionBy("event_type").orderBy("cents")
        wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        seg = (
            support.join(
                tots.select("event_type", "na", "nb"), "event_type"
            )
            .withColumn("cum_a", F.sum("ca").over(wc))
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
        (
            seg.groupBy("event_type", "na", "nb")
            .agg(F.sum("seg").cast("long").alias("w1_num"))
            .select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                "event_type",
                F.col("na").cast("long").alias("n_stream"),
                F.col("nb").cast("long").alias("n_ref"),
                "w1_num",
                F.round(
                    F.col("w1_num").cast("double")
                    / (F.col("na") * F.col("nb")).cast("double"),
                    6,
                ).alias("w1_cents"),
            )
            .write.mode("overwrite")
            .parquet(fs.join(out_base, f"batch_{batch_id}"))
        )
        done = sorted(
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) <= batch_id
        )
        for old in done[:-2]:
            fs.delete(
                spark, fs.join(carry_base, f"batch_{old}"), recursive=True
            )

    return (
        events_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_w1_drift(spark, artifact_dir: str):
    """Per-batch cumulative W1 drift emitted so far."""
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(artifact_dir.rstrip("/") + "/w1")
        .select(
            "batch_id", "event_type", "n_stream", "n_ref",
            "w1_num", "w1_cents",
        )
    )


def tv_drift_stream(
    events_stream: DataFrame,
    ref_dir: str,
    artifact_dir: str,
    checkpoint_dir: str,
):
    """Continuous total-variation drift monitoring — the MASS twin
    completing the streaming drift family against the SAME frozen
    ``write_ks_reference`` histogram: KS alarms that the distribution
    moved somewhere, W1 reports how far value mass traveled, TV
    reports how MUCH probability mass sits in different buckets
    regardless of distance (the batch ``tv_distance_pairs`` recipe
    per micro-batch: tv_num = Σ_support |c_a·n_b − c_b·n_a|, no
    cumulative window at all — the cheapest member in streaming too).

    State is the identical per-(type, cents) histogram carry as the
    KS/W1 monitors — value-range-bounded, byte-shareable; its own
    tree only so the three compact independently.

    int64 envelope, GUARDED LOUDLY: tv_num <= 2·n_a·n_b and the ppm
    multiply adds 1e6, so each batch bounds n_a·n_b per type against
    (2^63-1)/2e6 and raises ValueError past it (re-calibrate or
    rescale before resuming — the ks_drift_stream contract).

    Replay idempotence + compaction: the shared recipe (overwritten
    ``tv/batch_<id>`` + ``carry_<id>``, read highest carry below own
    id, keep-two) — pinned alongside the other eight monitors by the
    parametrized lifecycle test.
    """
    from parquet_export_spark.export import fs

    out_base = artifact_dir.rstrip("/") + "/tv"
    carry_base = artifact_dir.rstrip("/") + "/carry"

    def _carry(spark, batch_id: int):
        if not fs.exists(spark, carry_base):
            return None
        prior = [
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) < batch_id
        ]
        if not prior:
            return None
        return spark.read.parquet(
            fs.join(carry_base, f"batch_{max(prior)}")
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bc = (
            batch_df.select(
                "event_type",
                F.expr(
                    "CAST(FLOOR(value*100 + 0.5) AS BIGINT)"
                ).alias("cents"),
            )
            .groupBy("event_type", "cents")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        carry = _carry(spark, batch_id)
        if carry is None:
            carry = spark.createDataFrame(
                [], "event_type string, cents long, c long"
            )
        cum = (
            bc.unionByName(carry)
            .groupBy("event_type", "cents")
            .agg(F.sum("c").alias("c"))
            .localCheckpoint()
        )
        cum.write.mode("overwrite").parquet(
            fs.join(carry_base, f"batch_{batch_id}")
        )
        ref = spark.read.parquet(ref_dir)
        tot_a = cum.groupBy("event_type").agg(F.sum("c").alias("na"))
        tot_b = ref.groupBy("event_type").agg(F.sum("c").alias("nb"))
        tots = tot_a.join(tot_b, "event_type")
        over = (
            tots.filter(
                # division-form integer predicate (r9 advice): exact at
                # the boundary, unlike a float product which can round
                # by one ulp near 2^53; na*nb > B <=> nb > B div na.
                (F.col("na") > 0)
                & (F.col("nb") > F.expr(f"{(2**63 - 1) // 2_000_000} div na"))
            )
            .select("event_type", "na", "nb")
            .first()
        )
        if over is not None:
            raise ValueError(
                f"tv_drift_stream int64 overflow envelope exceeded for"
                f" event_type={over.event_type!r}: n_stream*n_ref ="
                f" {over.na}*{over.nb} > (2^63-1)/2e6 — the ppm"
                f" multiply would wrap; re-calibrate the reference or"
                f" rescale before resuming"
            )
        side_a = cum.select(
            "event_type", "cents", F.col("c").alias("ca"), F.lit(0).alias("cb")
        )
        side_b = ref.select(
            "event_type", "cents", F.lit(0).alias("ca"), F.col("c").alias("cb")
        )
        support = (
            side_a.unionByName(side_b)
            .groupBy("event_type", "cents")
            .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
        )
        (
            support.join(tots, "event_type")
            .groupBy("event_type", "na", "nb")
            .agg(
                F.sum(
                    F.abs(
                        F.col("ca") * F.col("nb")
                        - F.col("cb") * F.col("na")
                    )
                )
                .cast("long")
                .alias("tv_num")
            )
            .select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                "event_type",
                F.col("na").cast("long").alias("n_stream"),
                F.col("nb").cast("long").alias("n_ref"),
                "tv_num",
                F.expr("(tv_num * 1000000) div (2 * na * nb)").alias(
                    "tv_ppm"
                ),
            )
            .write.mode("overwrite")
            .parquet(fs.join(out_base, f"batch_{batch_id}"))
        )
        done = sorted(
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) <= batch_id
        )
        for old in done[:-2]:
            fs.delete(
                spark, fs.join(carry_base, f"batch_{old}"), recursive=True
            )

    return (
        events_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_tv_drift(spark, artifact_dir: str):
    """Per-batch cumulative TV drift emitted so far."""
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(artifact_dir.rstrip("/") + "/tv")
        .select(
            "batch_id", "event_type", "n_stream", "n_ref",
            "tv_num", "tv_ppm",
        )
    )


def mk_trend_stream(
    events_stream: DataFrame,
    artifact_dir: str,
    checkpoint_dir: str,
):
    """Continuous Mann-Kendall trend monitoring — the TREND member of
    the streaming monitor family (KS/W1/TV ask "did the distribution
    move", CUSUM "did the level shift"; MK asks "is the daily volume
    MONOTONICALLY drifting, and how sure are we"). Per micro-batch:
    merge the batch's (type, epoch-day) counts into the carried daily
    series — the state is CALENDAR-bounded (types x days, independent
    of row rate) — and re-score the WHOLE carried series with the
    batch operator's own definition
    (operators/stats.py::mk_trend_from_daily — one scoring function,
    so batch/stream drift is structurally impossible). The per-round
    day-pair join is days^2-bounded, again independent of row rate;
    incremental never re-reads event history, only the compact carry.

    Replay idempotence + keep-two compaction: the shared recipe
    (overwritten ``mk/batch_<id>`` + ``carry/batch_<id>``, read the
    highest carry below own id) — pinned by the parametrized monitor
    lifecycle test alongside the other eleven.

    Output rows per batch: (batch_id, event_type, m_days, s_stat,
    varnum, mk_z) via :func:`read_mk_trend`.
    """
    from parquet_export_spark.export import fs
    from parquet_export_spark.operators.stats import mk_trend_from_daily

    out_base = artifact_dir.rstrip("/") + "/mk"
    carry_base = artifact_dir.rstrip("/") + "/carry"

    def _carry(spark, batch_id: int):
        if not fs.exists(spark, carry_base):
            return None
        prior = [
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) < batch_id
        ]
        if not prior:
            return None
        return spark.read.parquet(
            fs.join(carry_base, f"batch_{max(prior)}")
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bc = (
            batch_df.select(
                "event_type",
                F.expr(
                    "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01')"
                    " AS BIGINT)"
                ).alias("day"),
            )
            .groupBy("event_type", "day")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        carry = _carry(spark, batch_id)
        if carry is None:
            carry = spark.createDataFrame(
                [], "event_type string, day long, c long"
            )
        cum = (
            bc.unionByName(carry)
            .groupBy("event_type", "day")
            .agg(F.sum("c").alias("c"))
            .localCheckpoint()
        )
        cum.write.mode("overwrite").parquet(
            fs.join(carry_base, f"batch_{batch_id}")
        )
        (
            mk_trend_from_daily(cum)
            .select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                "event_type", "m_days", "s_stat", "varnum", "mk_z",
            )
            .write.mode("overwrite")
            .parquet(fs.join(out_base, f"batch_{batch_id}"))
        )
        done = sorted(
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) <= batch_id
        )
        for old in done[:-2]:
            fs.delete(
                spark, fs.join(carry_base, f"batch_{old}"), recursive=True
            )

    return (
        events_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_mk_trend(spark, artifact_dir: str):
    """Per-batch Mann-Kendall scores emitted so far."""
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(artifact_dir.rstrip("/") + "/mk")
        .select(
            "batch_id", "event_type", "m_days", "s_stat", "varnum", "mk_z"
        )
    )


def growth_accounting_stream(
    events_stream: DataFrame,
    artifact_dir: str,
    checkpoint_dir: str,
):
    """Continuous growth accounting — the streaming twin of the batch
    ``new_returning_weekly`` / ``churn_retention_monthly`` pair: after
    every micro-batch, how many of the batch's active users has this
    lake EVER seen before? The launch-day dashboard question ("is this
    traffic new users or the regulars refreshing?") that a weekly
    batch split answers a week too late.

    State is the minimal exact carry for the question: the first-seen
    user-id set (user-sized — the cc_label_stream precedent of
    node-sized state; no sketch can answer set membership exactly,
    and an HLL would turn "new" into a probabilistic claim exactly
    where product decisions want an exact one). Per micro-batch: the
    batch collapses to its distinct users, splits against the stored
    set with one left_anti join (never a row-wise lookup), and the
    union becomes the next state. All counts exact int64;
    new_ppm = n_new * 1e6 div n_active is the batch operator's
    integer form — one definition of the rate arithmetic.

    Replay idempotence + compaction: the shared carry recipe — the
    seen-set for batch N is a deterministic function of the set below
    N plus batch N's rows; a replayed batch re-reads exactly the
    state it first saw and overwrites byte-identically; only the two
    most recent set copies survive (``seen/batch_<id>``).

    100 TB posture: per micro-batch the work is O(|batch| + |seen|)
    with the seen-set join hash-partitioned on user_id; the set is
    the only state that moves and it is USER-sized, not event-sized
    (the same table a production lake already maintains as its user
    dimension's first_seen column).
    """
    from parquet_export_spark.export import fs

    out_base = artifact_dir.rstrip("/") + "/growth"
    seen_base = artifact_dir.rstrip("/") + "/seen"

    def _seen(spark, batch_id: int):
        if not fs.exists(spark, seen_base):
            return None
        prior = [
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, seen_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) < batch_id
        ]
        if not prior:
            return None
        return spark.read.parquet(
            fs.join(seen_base, f"batch_{max(prior)}")
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        users = batch_df.select("user_id").distinct().localCheckpoint()
        seen = _seen(spark, batch_id)
        if seen is None:
            seen = spark.createDataFrame([], "user_id long")
        new_users = users.join(seen, "user_id", "left_anti").localCheckpoint()
        n_active = users.count()
        n_new = new_users.count()
        seen.unionByName(new_users).write.mode("overwrite").parquet(
            fs.join(seen_base, f"batch_{batch_id}")
        )
        (
            spark.createDataFrame(
                [
                    (
                        batch_id,
                        n_active,
                        n_new,
                        n_active - n_new,
                        (n_new * 1_000_000) // n_active if n_active else None,
                    )
                ],
                "batch_id long, n_active long, n_new long,"
                " n_returning long, new_ppm long",
            )
            .write.mode("overwrite")
            .parquet(fs.join(out_base, f"batch_{batch_id}"))
        )
        done = sorted(
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, seen_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) <= batch_id
        )
        for old in done[:-2]:
            fs.delete(
                spark, fs.join(seen_base, f"batch_{old}"), recursive=True
            )

    return (
        events_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_growth_accounting(spark, artifact_dir: str):
    """Per-batch growth-accounting rows emitted so far."""
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(artifact_dir.rstrip("/") + "/growth")
        .select("batch_id", "n_active", "n_new", "n_returning", "new_ppm")
    )


def auc_drift_stream(
    events_stream: DataFrame,
    ref_dir: str,
    artifact_dir: str,
    checkpoint_dir: str,
):
    """Continuous stochastic-dominance drift monitoring — the
    DIRECTION twin completing the streaming drift quartet against the
    SAME frozen ``write_ks_reference`` histogram: KS alarms the
    distribution moved, W1 says how far, TV how much mass — AUC says
    WHICH WAY: the probability a random stream value exceeds a random
    reference value (the batch ``mann_whitney_auc_pairs`` algebra,
    stream-vs-reference instead of type-vs-type — one definition of
    the statistic). 500000 ppm = no drift; drift upward pushes above,
    downward below, which no symmetric distance can tell apart.

    State is the identical per-(type, cents) histogram carry as the
    KS/W1/TV monitors (value-range-bounded); its own tree so the four
    compact independently. Per batch: the cumulative histogram joins
    the reference's RANGE-cumulative below-counts on the merged
    support, u2 = Σ 2·ca·(ref below) + ca·(ref tied), auc_ppm =
    u2·5e5 div (n_stream·n_ref).

    int64 envelope, GUARDED LOUDLY: u2 <= 2·n_a·n_b, so the same
    (2^63-1)/2e6 per-type bound as TV, checked on exact totals before
    any product (ValueError — the ks_drift_stream contract).

    Replay idempotence + compaction: the shared recipe; eleventh
    member of the parametrized lifecycle pin.
    """
    from pyspark.sql import Window

    from parquet_export_spark.export import fs

    out_base = artifact_dir.rstrip("/") + "/auc"
    carry_base = artifact_dir.rstrip("/") + "/carry"

    def _carry(spark, batch_id: int):
        if not fs.exists(spark, carry_base):
            return None
        prior = [
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) < batch_id
        ]
        if not prior:
            return None
        return spark.read.parquet(
            fs.join(carry_base, f"batch_{max(prior)}")
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bc = (
            batch_df.select(
                "event_type",
                F.expr(
                    "CAST(FLOOR(value*100 + 0.5) AS BIGINT)"
                ).alias("cents"),
            )
            .groupBy("event_type", "cents")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        carry = _carry(spark, batch_id)
        if carry is None:
            carry = spark.createDataFrame(
                [], "event_type string, cents long, c long"
            )
        cum = (
            bc.unionByName(carry)
            .groupBy("event_type", "cents")
            .agg(F.sum("c").alias("c"))
            .localCheckpoint()
        )
        cum.write.mode("overwrite").parquet(
            fs.join(carry_base, f"batch_{batch_id}")
        )
        ref = spark.read.parquet(ref_dir)
        tot_a = cum.groupBy("event_type").agg(F.sum("c").alias("na"))
        tot_b = ref.groupBy("event_type").agg(F.sum("c").alias("nb"))
        tots = tot_a.join(tot_b, "event_type")
        over = (
            tots.filter(
                # division-form integer predicate (r9 advice): exact at
                # the boundary, unlike a float product which can round
                # by one ulp near 2^53; na*nb > B <=> nb > B div na.
                (F.col("na") > 0)
                & (F.col("nb") > F.expr(f"{(2**63 - 1) // 2_000_000} div na"))
            )
            .select("event_type", "na", "nb")
            .first()
        )
        if over is not None:
            raise ValueError(
                f"auc_drift_stream int64 overflow envelope exceeded for"
                f" event_type={over.event_type!r}: n_stream*n_ref ="
                f" {over.na}*{over.nb} > (2^63-1)/2e6 — the ppm"
                f" multiply would wrap; re-calibrate the reference or"
                f" rescale before resuming"
            )
        side_a = cum.select(
            "event_type", "cents", F.col("c").alias("ca"),
            F.lit(0).alias("cb"),
        )
        side_b = ref.select(
            "event_type", "cents", F.lit(0).alias("ca"),
            F.col("c").alias("cb"),
        )
        merged = (
            side_a.unionByName(side_b)
            .groupBy("event_type", "cents")
            .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
        )
        w = (
            Window.partitionBy("event_type")
            .orderBy("cents")
            .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        )
        stepped = merged.withColumn("cum_b", F.sum("cb").over(w))
        (
            stepped.join(tots, "event_type")
            .groupBy("event_type", "na", "nb")
            .agg(
                F.sum(
                    F.expr("2 * ca * (cum_b - cb) + ca * cb")
                )
                .cast("long")
                .alias("u2")
            )
            .select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                "event_type",
                F.col("na").cast("long").alias("n_stream"),
                F.col("nb").cast("long").alias("n_ref"),
                "u2",
                F.expr("(u2 * 500000) div (na * nb)").alias("auc_ppm"),
            )
            .write.mode("overwrite")
            .parquet(fs.join(out_base, f"batch_{batch_id}"))
        )
        done = sorted(
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) <= batch_id
        )
        for old in done[:-2]:
            fs.delete(
                spark, fs.join(carry_base, f"batch_{old}"), recursive=True
            )

    return (
        events_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_auc_drift(spark, artifact_dir: str):
    """Per-batch cumulative AUC drift emitted so far."""
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(artifact_dir.rstrip("/") + "/auc")
        .select(
            "batch_id", "event_type", "n_stream", "n_ref",
            "u2", "auc_ppm",
        )
    )


def balance_stream(
    lineitem_stream: DataFrame,
    artifact_dir: str,
    checkpoint_dir: str,
    supp_mod: int | None = None,
):
    """Continuous floor-at-zero ledger balances — the streaming twin
    of ``operators.advanced.clamped_running_balance``, extending the
    monitor family with its first SCAN-carry member (ewma carries the
    last K values; cusum a running statistic; this carries a
    RECURRENCE state).

    Why the carry is exactly (last day, that day's net so far, the
    balance BEFORE that day) per supplier: the clamped recurrence
    s_d = max(0, s_{d-1} + net_d) depends on history only through the
    previous balance, EXCEPT that a calendar day may straddle a
    micro-batch boundary — and max(0, s+a+b) differs from
    max(0, max(0, s+a)+b), so the clamp must never be applied to a
    partial day. Holding the last day OPEN in the carry (its net
    re-merged with any late rows for the same day, its balance not
    yet folded in) makes day-straddling batches exact instead of
    approximately right.

    Each micro-batch: collapse to (suppkey, day, net); guard loudly
    against days BEFORE the open carry day (out-of-order feed —
    monitors must fail, not silently corrupt the ledger); merge the
    open day; replay the closed form s = (s0 + cum) - least(0,
    running_min(s0 + cum)) over the merged frame (bal_before as the
    algebraic initial value — no synthetic rows); re-emit every
    recomputed (suppkey, day) with the batch id so readers take the
    LATEST value per key (an open day's balance legitimately changes
    as its rows complete). Carry/compaction: the shared recipe —
    overwritten ``carry_<id>`` trees, read highest-below-own-id, keep
    the two newest.

    The two-micro-batch pytest splits a batch INSIDE a dip AND inside
    a calendar day, and pins every (suppkey, day, balance) equal to
    the batch operator over the concatenated input.
    """
    from parquet_export_spark.export import fs
    from parquet_export_spark.operators.advanced import BALANCE_SUPP_MOD

    mod = BALANCE_SUPP_MOD if supp_mod is None else supp_mod
    out_base = artifact_dir.rstrip("/") + "/balance"
    carry_base = artifact_dir.rstrip("/") + "/carry"

    def _carry(spark, batch_id: int):
        if not fs.exists(spark, carry_base):
            return None
        prior = [
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) < batch_id
        ]
        if not prior:
            return None
        return spark.read.parquet(
            fs.join(carry_base, f"batch_{max(prior)}")
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        spark = batch_df.sparkSession
        daily = (
            batch_df.filter(F.col("l_suppkey") % mod == 0)
            .select(
                F.col("l_suppkey").alias("suppkey"),
                F.expr(
                    "CAST(datediff(CAST(l_shipdate AS DATE),"
                    " DATE '1970-01-01') AS BIGINT)"
                ).alias("day"),
                F.expr(
                    "CAST(FLOOR(l_quantity + 0.5) AS BIGINT)"
                    " * CASE WHEN l_returnflag = 'R' THEN -1 ELSE 1 END"
                ).alias("net"),
            )
            .groupBy("suppkey", "day")
            .agg(F.sum("net").alias("net"))
            .localCheckpoint()
        )
        carry = _carry(spark, batch_id)
        if carry is None:
            carry = spark.createDataFrame(
                [], "suppkey long, cday long, cnet long, cbal long"
            )
        carry = carry.localCheckpoint()
        # loud out-of-order guard: a day strictly before the open
        # carry day can no longer be merged exactly
        stale = (
            daily.join(carry, "suppkey")
            .filter(F.col("day") < F.col("cday"))
            .count()
        )
        if stale:
            raise ValueError(
                f"balance_stream batch {batch_id}: {stale} day rows"
                " arrived BEFORE the open ledger day — the feed must be"
                " day-monotone per supplier"
            )
        merged = (
            daily.unionByName(
                carry.select(
                    "suppkey",
                    F.col("cday").alias("day"),
                    F.col("cnet").alias("net"),
                )
            )
            .groupBy("suppkey", "day")
            .agg(F.sum("net").alias("net"))
            .join(
                carry.select("suppkey", "cbal", "cday"), "suppkey", "left"
            )
            .select(
                "suppkey",
                "day",
                "net",
                F.coalesce("cbal", F.lit(0)).alias("s0"),
            )
        )
        w_run = (
            Window.partitionBy("suppkey")
            .orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        scored = (
            merged.withColumn(
                "raw", F.col("s0") + F.sum("net").over(w_run)
            )
            .withColumn("dip", F.least(F.lit(0), F.min("raw").over(w_run)))
            .withColumn("balance", F.col("raw") - F.col("dip"))
        )
        scored.select(
            F.lit(batch_id).cast("long").alias("batch_id"),
            "suppkey",
            "day",
            F.col("net").alias("net_qty"),
            "balance",
        ).write.mode("overwrite").parquet(
            fs.join(out_base, f"batch_{batch_id}")
        )
        # new carry: the last (still-open) day + the balance before it
        w_desc = Window.partitionBy("suppkey").orderBy(F.desc("day"))
        w_lag = Window.partitionBy("suppkey").orderBy("day")
        nxt = (
            scored.withColumn(
                "prev_bal",
                F.coalesce(F.lag("balance").over(w_lag), F.col("s0")),
            )
            .withColumn("rk", F.row_number().over(w_desc))
            .filter(F.col("rk") == 1)
            .select(
                "suppkey",
                F.col("day").alias("cday"),
                F.col("net").alias("cnet"),
                F.col("prev_bal").alias("cbal"),
            )
        )
        nxt.write.mode("overwrite").parquet(
            fs.join(carry_base, f"batch_{batch_id}")
        )
        done = sorted(
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) <= batch_id
        )
        for old in done[:-2]:
            fs.delete(
                spark, fs.join(carry_base, f"batch_{old}"), recursive=True
            )

    return (
        lineitem_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_balances(spark, artifact_dir: str):
    """Latest ledger row per (suppkey, day): an open day is re-emitted
    by every batch that touches it, so the max-batch row wins."""
    from pyspark.sql import Window

    raw = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(artifact_dir.rstrip("/") + "/balance")
    )
    w = Window.partitionBy("suppkey", "day").orderBy(F.desc("batch_id"))
    return (
        raw.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("suppkey", "day", "net_qty", "balance")
    )


def changepoint_stream(
    events_stream: DataFrame,
    artifact_dir: str,
    checkpoint_dir: str,
):
    """Continuous change-point scanning — the SEGMENTATION member of
    the monitor family (CUSUM alarms that the level shifted; this
    keeps answering WHERE, over the whole history seen so far). Per
    micro-batch: merge the batch's (type, epoch-day) cents sums into
    the carried daily series — CALENDAR-bounded state, independent of
    row rate (the mk_trend_stream recipe) — and re-emit the full
    exact gain profile via the batch operator's own scoring core
    (``operators.stats.changepoint_from_daily``: one function, so
    batch/stream drift is structurally impossible). The profile is
    days-bounded per type; the num/den integer lanes ride through
    unchanged, so a reader can run the same exact Fraction argmax the
    batch consumers use.

    Shared replay-idempotence + keep-two carry compaction recipe;
    lifecycle-pinned with the other monitors.
    """
    from parquet_export_spark.export import fs
    from parquet_export_spark.operators.stats import changepoint_from_daily

    out_base = artifact_dir.rstrip("/") + "/cpt"
    carry_base = artifact_dir.rstrip("/") + "/carry"

    def _carry(spark, batch_id: int):
        if not fs.exists(spark, carry_base):
            return None
        prior = [
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) < batch_id
        ]
        if not prior:
            return None
        return spark.read.parquet(
            fs.join(carry_base, f"batch_{max(prior)}")
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bc = (
            batch_df.select(
                "event_type",
                F.expr(
                    "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01')"
                    " AS BIGINT)"
                ).alias("day"),
                F.expr(
                    "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"
                ).alias("v"),
            )
            .groupBy("event_type", "day")
            .agg(F.sum("v").alias("v"))
        )
        carry = _carry(spark, batch_id)
        if carry is None:
            carry = spark.createDataFrame(
                [], "event_type string, day long, v long"
            )
        cum = (
            bc.unionByName(carry)
            .groupBy("event_type", "day")
            .agg(F.sum("v").alias("v"))
            .localCheckpoint()
        )
        cum.write.mode("overwrite").parquet(
            fs.join(carry_base, f"batch_{batch_id}")
        )
        (
            changepoint_from_daily(cum)
            .select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                "event_type", "day", "n_left", "gain_num", "gain_den",
            )
            .write.mode("overwrite")
            .parquet(fs.join(out_base, f"batch_{batch_id}"))
        )
        done = sorted(
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) <= batch_id
        )
        for old in done[:-2]:
            fs.delete(
                spark, fs.join(carry_base, f"batch_{old}"), recursive=True
            )

    return (
        events_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_changepoints(spark, artifact_dir: str):
    """Per-batch change-point gain profiles emitted so far."""
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(artifact_dir.rstrip("/") + "/cpt")
        .select(
            "batch_id", "event_type", "day", "n_left",
            "gain_num", "gain_den",
        )
    )


def js_drift_stream(
    events_stream: DataFrame,
    ref_dir: str,
    artifact_dir: str,
    checkpoint_dir: str,
):
    """Continuous Jensen-Shannon drift monitoring — the INFORMATION
    member completing the streaming drift quartet against the SAME
    frozen ``write_ks_reference`` histogram: KS alarms that the
    distribution moved somewhere, W1 reports how far value mass
    traveled, TV how much mass sits in different buckets, JS how many
    NATS of divergence the move represents (bounded <= ln 2, defined
    on disjoint support where raw KL blows up — the standard drift
    score when downstream consumers threshold in information units).

    Per micro-batch: merge the batch histogram into the carried
    per-(type, cents) histogram (identical value-range-bounded state
    as the KS/W1/TV monitors; own tree so the four compact
    independently), then run the batch ``jensen_shannon_pairs`` term
    recipe between the cumulative stream pmf and the reference pmf —
    a cents-sorted left fold per type, each term an IEEE chain over
    int64-exact doubles, ln riding the bm25/JS ROUND(9) presentation
    lane (the parity contract is the sequential-Python twin test, not
    a cross-engine hash, but the same lane keeps batch/stream
    numerics identical by construction).

    No int64 overflow envelope exists here AT ALL: every term is
    ratio-first double arithmetic, so unlike TV's cross-multiplied
    ppm lane there is no product to wrap — the monitor is safe at any
    count the int64 histogram itself can hold.

    Replay idempotence + compaction: the shared recipe (overwritten
    ``js/batch_<id>`` + ``carry_<id>``, read highest carry below own
    id, keep-two) — pinned alongside the other monitors by the
    parametrized lifecycle test.
    """
    from parquet_export_spark.export import fs

    out_base = artifact_dir.rstrip("/") + "/js"
    carry_base = artifact_dir.rstrip("/") + "/carry"

    def _carry(spark, batch_id: int):
        if not fs.exists(spark, carry_base):
            return None
        prior = [
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) < batch_id
        ]
        if not prior:
            return None
        return spark.read.parquet(
            fs.join(carry_base, f"batch_{max(prior)}")
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bc = (
            batch_df.select(
                "event_type",
                F.expr(
                    "CAST(FLOOR(value*100 + 0.5) AS BIGINT)"
                ).alias("cents"),
            )
            .groupBy("event_type", "cents")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        carry = _carry(spark, batch_id)
        if carry is None:
            carry = spark.createDataFrame(
                [], "event_type string, cents long, c long"
            )
        cum = (
            bc.unionByName(carry)
            .groupBy("event_type", "cents")
            .agg(F.sum("c").alias("c"))
            .localCheckpoint()
        )
        cum.write.mode("overwrite").parquet(
            fs.join(carry_base, f"batch_{batch_id}")
        )
        ref = spark.read.parquet(ref_dir)
        tot_a = cum.groupBy("event_type").agg(F.sum("c").alias("na"))
        tot_b = ref.groupBy("event_type").agg(F.sum("c").alias("nb"))
        tots = tot_a.join(tot_b, "event_type")
        side_a = cum.select(
            "event_type", "cents", F.col("c").alias("ca"),
            F.lit(0).alias("cb"),
        )
        side_b = ref.select(
            "event_type", "cents", F.lit(0).alias("ca"),
            F.col("c").alias("cb"),
        )
        support = (
            side_a.unionByName(side_b)
            .groupBy("event_type", "cents")
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
        (
            support.join(tots, "event_type")
            .groupBy("event_type", "na", "nb")
            .agg(
                F.count(F.lit(1)).alias("support_buckets"),
                F.expr(
                    f"aggregate(array_sort(collect_list(struct(cents,"
                    f" {term} AS term))), 0D, (acc, x) -> acc + x.term)"
                ).alias("sum_terms"),
            )
            .select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                "event_type",
                F.col("na").cast("long").alias("n_stream"),
                F.col("nb").cast("long").alias("n_ref"),
                F.col("support_buckets").cast("long").alias(
                    "support_buckets"
                ),
                F.round(F.expr("sum_terms / 2D"), 9).alias("jsd_nats"),
                F.round(
                    F.expr("sqrt(greatest(0D, sum_terms / 2D))"), 9
                ).alias("js_distance"),
            )
            .write.mode("overwrite")
            .parquet(fs.join(out_base, f"batch_{batch_id}"))
        )
        done = sorted(
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) <= batch_id
        )
        for old in done[:-2]:
            fs.delete(
                spark, fs.join(carry_base, f"batch_{old}"), recursive=True
            )

    return (
        events_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_js_drift(spark, artifact_dir: str):
    """Per-batch cumulative JS drift emitted so far."""
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(artifact_dir.rstrip("/") + "/js")
        .select(
            "batch_id", "event_type", "n_stream", "n_ref",
            "support_buckets", "jsd_nats", "js_distance",
        )
    )


def goertzel_stream(
    events_stream: DataFrame,
    artifact_dir: str,
    checkpoint_dir: str,
):
    """Continuous weekly-periodicity monitoring — the FREQUENCY member
    of the monitor family (MK: monotone trend; changepoint: level
    shifts; CUSUM: drift; Goertzel: is a 7-day cycle emerging or
    collapsing in the daily volume — the alarm for "our traffic just
    lost its weekly rhythm", which every volume-level monitor is
    blind to).

    The mk_trend_stream recipe verbatim: merge each micro-batch's
    (type, epoch-day) counts into the carried daily series
    (CALENDAR-bounded state, independent of row rate) and re-score
    the WHOLE carried series with the batch operator's own scorer
    (operators/stats.py::goertzel_from_daily — one scoring function,
    so batch/stream drift is structurally impossible; it zero-fills
    the span and runs the literal-coefficient recurrence). O(days)
    per round, no event history ever re-read.

    Replay idempotence + compaction: the shared carry recipe, pinned
    by the parametrized lifecycle test.
    """
    from parquet_export_spark.export import fs
    from parquet_export_spark.operators.stats import goertzel_from_daily

    out_base = artifact_dir.rstrip("/") + "/goertzel"
    carry_base = artifact_dir.rstrip("/") + "/carry"

    def _carry(spark, batch_id: int):
        if not fs.exists(spark, carry_base):
            return None
        prior = [
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) < batch_id
        ]
        if not prior:
            return None
        return spark.read.parquet(
            fs.join(carry_base, f"batch_{max(prior)}")
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bc = (
            batch_df.select(
                "event_type",
                F.expr(
                    "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01')"
                    " AS BIGINT)"
                ).alias("day"),
            )
            .groupBy("event_type", "day")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        carry = _carry(spark, batch_id)
        if carry is None:
            carry = spark.createDataFrame(
                [], "event_type string, day long, c long"
            )
        cum = (
            bc.unionByName(carry)
            .groupBy("event_type", "day")
            .agg(F.sum("c").alias("c"))
            .localCheckpoint()
        )
        cum.write.mode("overwrite").parquet(
            fs.join(carry_base, f"batch_{batch_id}")
        )
        (
            goertzel_from_daily(cum)
            .select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                "event_type", "n_days", "mean_c",
                "weekly_power", "weekly_amplitude",
            )
            .write.mode("overwrite")
            .parquet(fs.join(out_base, f"batch_{batch_id}"))
        )
        done = sorted(
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) <= batch_id
        )
        for old in done[:-2]:
            fs.delete(
                spark, fs.join(carry_base, f"batch_{old}"), recursive=True
            )

    return (
        events_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_goertzel(spark, artifact_dir: str):
    """Per-batch weekly-power scores emitted so far."""
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(artifact_dir.rstrip("/") + "/goertzel")
        .select(
            "batch_id", "event_type", "n_days", "mean_c",
            "weekly_power", "weekly_amplitude",
        )
    )


def hw_forecast_stream(
    events_stream: DataFrame,
    artifact_dir: str,
    checkpoint_dir: str,
):
    """Continuously refreshed Holt-Winters 7-day forecast — the
    FORECAST member of the monitor family, and the production shape
    of the batch operator (a forecast is only useful if it refreshes
    as data lands): merge each micro-batch's (type, epoch-day) counts
    into the calendar-bounded daily carry, re-fit the whole carried
    series through the ONE shared scorer
    (operators/stats.py::holt_winters_from_daily — the
    mk/goertzel single-scorer contract, so batch/stream drift is
    structurally impossible), and emit the refreshed 7-row horizon
    table per type. O(days) per round; event history never re-read.

    Replay idempotence + compaction: the shared carry recipe, pinned
    by the parametrized lifecycle test.
    """
    from parquet_export_spark.export import fs
    from parquet_export_spark.operators.stats import (
        holt_winters_from_daily,
    )

    out_base = artifact_dir.rstrip("/") + "/hw"
    carry_base = artifact_dir.rstrip("/") + "/carry"

    def _carry(spark, batch_id: int):
        if not fs.exists(spark, carry_base):
            return None
        prior = [
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) < batch_id
        ]
        if not prior:
            return None
        return spark.read.parquet(
            fs.join(carry_base, f"batch_{max(prior)}")
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bc = (
            batch_df.select(
                "event_type",
                F.expr(
                    "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01')"
                    " AS BIGINT)"
                ).alias("day"),
            )
            .groupBy("event_type", "day")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        carry = _carry(spark, batch_id)
        if carry is None:
            carry = spark.createDataFrame(
                [], "event_type string, day long, c long"
            )
        cum = (
            bc.unionByName(carry)
            .groupBy("event_type", "day")
            .agg(F.sum("c").alias("c"))
            .localCheckpoint()
        )
        cum.write.mode("overwrite").parquet(
            fs.join(carry_base, f"batch_{batch_id}")
        )
        (
            holt_winters_from_daily(cum)
            .select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                "event_type", "n_days", "level", "trend",
                "horizon", "forecast",
            )
            .write.mode("overwrite")
            .parquet(fs.join(out_base, f"batch_{batch_id}"))
        )
        done = sorted(
            int(d.split("_", 1)[1])
            for d in fs.list_dir_names(spark, carry_base)
            if d.startswith("batch_") and int(d.split("_", 1)[1]) <= batch_id
        )
        for old in done[:-2]:
            fs.delete(
                spark, fs.join(carry_base, f"batch_{old}"), recursive=True
            )

    return (
        events_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_hw_forecast(spark, artifact_dir: str):
    """Per-batch refreshed Holt-Winters horizon tables."""
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(artifact_dir.rstrip("/") + "/hw")
        .select(
            "batch_id", "event_type", "n_days", "level", "trend",
            "horizon", "forecast",
        )
    )
