"""CSV/JSON source round-trips and the UDTF surface."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_export_spark.functions.udtf import register_udtfs
from parquet_export_spark.sources import formats as FM
from parquet_export_spark.sources.lake import load_table, table_path


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    nation = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_csv")
    FM.write_csv(nation, path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    back = FM.read_csv(spark, path, schema=schema)
    assert sorted(r.n_name for r in back.collect()) == sorted(
        r.n_name for r in nation.collect()
    )
    assert back.schema == schema


def test_jsonl_roundtrip(spark, sf_dir, tmp_path):
    region = load_table(spark, sf_dir, "region")
    path = str(tmp_path / "region_json")
    FM.write_jsonl(region, path)
    back = FM.read_jsonl(
        spark,
        path,
        schema=T.StructType(
            [
                T.StructField("r_regionkey", T.IntegerType()),
                T.StructField("r_name", T.StringType()),
            ]
        ),
    )
    assert {r.r_name for r in back.collect()} == {
        r.r_name for r in region.collect()
    }


def test_ngram_udtf(spark):
    register_udtfs(spark)
    rows = spark.sql(
        "SELECT * FROM ngrams('the quick brown fox', 2)"
    ).collect()
    assert [(r.ngram, r.pos) for r in rows] == [
        ("the quick", 0),
        ("quick brown", 1),
        ("brown fox", 2),
    ]
    # lateral join over a table column
    df = spark.createDataFrame([("a b c d",), (None,)], ["text"])
    df.createOrReplaceTempView("_udtf_docs")
    out = spark.sql(
        "SELECT ngram FROM _udtf_docs, LATERAL ngrams(text, 3)"
    ).collect()
    assert [r.ngram for r in out] == ["a b c", "b c d"]


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_orc")
    FM.write_orc(orders, path)
    back = FM.read_orc(spark, path)
    assert back.count() == orders.count()
    assert back.schema == orders.schema
    # predicate pushdown reaches the ORC scan
    q = back.filter(F.col("o_totalprice") > 400000).select("o_orderkey")
    plan = q._jdf.queryExecution().toString()
    assert "PushedFilters" in plan and "o_totalprice" in plan


def test_binary_files_source(spark, tmp_path):
    blobs = {"a.png": b"\x89PNG fake", "b.png": b"\x89PNG other", "c.txt": b"not image"}
    for name, data in blobs.items():
        (tmp_path / name).write_bytes(data)
    df = FM.read_binary_files(spark, str(tmp_path), glob="*.png")
    rows = {r.path.rsplit("/", 1)[-1]: bytes(r.content) for r in df.collect()}
    assert rows == {k: v for k, v in blobs.items() if k.endswith(".png")}
    assert dict(df.dtypes)["content"] == "binary"
    assert dict(df.dtypes)["length"] == "bigint"


def test_datagen_batch_deterministic(spark):
    from parquet_export_spark.sources.datagen import register_datagen

    register_datagen(spark)
    df = (
        spark.read.format("events_datagen")
        .option("numRows", 500)
        .option("numPartitions", 4)
        .option("seed", 7)
        .load()
    )
    assert df.count() == 500
    assert df.select("event_id").distinct().count() == 500
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    # same options -> identical content (partition-seeded determinism)
    again = (
        spark.read.format("events_datagen")
        .option("numRows", 500).option("numPartitions", 4).option("seed", 7)
        .load()
    )
    assert df.exceptAll(again).count() == 0
    # repartitioning the id space must not change the multiset of rows
    other = (
        spark.read.format("events_datagen")
        .option("numRows", 500).option("numPartitions", 9).option("seed", 7)
        .load()
    )
    assert df.exceptAll(other).count() == 0
    types = {r.event_type for r in df.select("event_type").distinct().collect()}
    assert types <= {"click", "view", "signup", "purchase"}


def test_datagen_stream_resumes_at_offset(spark, tmp_path):
    from parquet_export_spark.sources.datagen import register_datagen

    register_datagen(spark)
    out = str(tmp_path / "gen_lake")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("events_datagen")
            .option("rowsPerBatch", 50)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    n1 = spark.read.parquet(out).count()
    assert n1 >= 50
    drain()  # resume from the committed offset: strictly more rows, no dupes
    back = spark.read.parquet(out)
    assert back.count() > n1
    assert back.select("event_id").distinct().count() == back.count()


def test_xml_roundtrip_declared_schema(spark, sf_dir, tmp_path):
    """Spark 4's native XML source under the same declared-schema
    discipline as CSV/JSONL: write -> re-read with an explicit schema
    -> exact row-set equality (order-insensitive)."""
    from pyspark.sql import types as T

    from parquet_export_spark.sources import formats as FM
    from parquet_export_spark.sources.lake import load_tables

    nation = load_tables(spark, sf_dir)["nation"].select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    path = str(tmp_path / "nation_xml")
    FM.write_xml(nation, path, row_tag="nation")
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.LongType()),
        ]
    )
    back = FM.read_xml(spark, path, row_tag="nation", schema=schema)
    want = {tuple(r) for r in nation.collect()}
    got = {tuple(r) for r in back.collect()}
    assert got == want


def test_jsonl_shards_writer_commit_protocol(spark, sf_dir, tmp_path):
    """Custom Python DataSource WRITER: shards land under final names
    with a manifest only at commit; row counts exact; round-trip via
    the JSON reader; overwrite replaces the committed set."""
    import json
    import os

    from parquet_export_spark.sources.jsonl_sink import register_jsonl_sink
    from parquet_export_spark.sources.lake import load_table

    register_jsonl_sink(spark)
    out = str(tmp_path / "jsonl_out")
    ev = load_table(spark, sf_dir, "events").repartition(4)
    n = ev.count()
    ev.write.format("jsonl_shards").option("path", out).mode(
        "overwrite"
    ).save()
    manifest = json.load(open(os.path.join(out, "_manifest.json")))
    assert manifest["total_rows"] == n
    assert len(manifest["shards"]) == 4
    names = sorted(f for f in os.listdir(out) if not f.startswith((".", "_")))
    assert names == sorted(s["name"] for s in manifest["shards"])
    for s in manifest["shards"]:  # row-count-bearing names, like the
        assert s["name"].endswith(f"-{s['rows']}.jsonl")  # export naming
    back = spark.read.json(os.path.join(out, "shard-*.jsonl"))
    assert back.count() == n
    assert set(back.columns) == set(ev.columns)
    # overwrite: fewer partitions -> the old 4-shard set is replaced
    ev.repartition(2).write.format("jsonl_shards").option("path", out).mode(
        "overwrite"
    ).save()
    manifest2 = json.load(open(os.path.join(out, "_manifest.json")))
    assert len(manifest2["shards"]) == 2
    shard_files = [f for f in os.listdir(out) if f.startswith("shard-")]
    assert len(shard_files) == 2
    assert manifest2["total_rows"] == n
    # append: previous shards carried forward, numbering continues,
    # no committed file clobbered
    ev.repartition(1).write.format("jsonl_shards").option("path", out).mode(
        "append"
    ).save()
    manifest3 = json.load(open(os.path.join(out, "_manifest.json")))
    assert len(manifest3["shards"]) == 3
    assert manifest3["total_rows"] == 2 * n
    names3 = [s["name"] for s in manifest3["shards"]]
    assert names3[:2] == [s["name"] for s in manifest2["shards"]]
    assert names3[2].startswith("shard-00002-")
    assert len([f for f in os.listdir(out) if f.startswith("shard-")]) == 3
    # no orphaned temps survive a commit
    assert not [f for f in os.listdir(out) if f.startswith(".tmp-shard-")]


def test_read_jsonl_audited_quarantines_malformed(spark, tmp_path):
    """One broken line must neither kill the job nor vanish: good rows
    keep the declared schema, the raw bad line lands in the audit
    side-output verbatim."""
    from pyspark.sql import types as T

    from parquet_export_spark.sources.formats import read_jsonl_audited

    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "ok"}\n'
        '{"doc_id": 2, "text": "also ok"}\n'
        '{"doc_id": 3, "text": BROKEN}\n'
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    good, bad, release = read_jsonl_audited(spark, str(p), schema)
    assert {r.doc_id for r in good.collect()} == {1, 2}
    assert good.columns == ["doc_id", "text"]
    [bad_row] = bad.collect()
    assert "BROKEN" in bad_row.raw_line
    release()  # drop the SPARK-21610 cache pin


def test_jsonl_shards_serializes_nested_structs_as_objects(spark, tmp_path):
    """Nested struct columns must serialize as JSON objects with field
    names, not positional arrays (row.asDict(recursive=True))."""
    import json
    import os

    from pyspark.sql import functions as F

    from parquet_export_spark.sources.jsonl_sink import register_jsonl_sink

    register_jsonl_sink(spark)
    out = str(tmp_path / "nested_out")
    df = (
        spark.range(1)
        .coalesce(1)
        .select(
            F.col("id"),
            F.struct(F.lit(7).alias("x"), F.lit("s").alias("y")).alias("nested"),
        )
    )
    df.write.format("jsonl_shards").option("path", out).mode("overwrite").save()
    [shard] = [f for f in os.listdir(out) if f.startswith("shard-")]
    [line] = open(os.path.join(out, shard)).read().splitlines()
    assert json.loads(line)["nested"] == {"x": 7, "y": "s"}


def test_jsonl_overwrite_collision_keeps_old_until_swap(spark, tmp_path):
    """Re-exporting the SAME data in overwrite mode collides on
    (index, row-count) names; the commit must place the new bytes
    under fresh names (old files untouched until after the manifest
    swap) and retire the old shards afterwards — so every
    intermediate manifest references only files whose content it
    actually describes."""
    import json
    import os

    out = str(tmp_path / "jl")
    df = spark.range(10).selectExpr("id", "id * 2 as v")
    df.coalesce(1).write.format("jsonl_shards").mode("overwrite").option(
        "path", out
    ).save()
    with open(os.path.join(out, "_manifest.json")) as fh:
        first = [s["name"] for s in json.load(fh)["shards"]]
    df.coalesce(1).write.format("jsonl_shards").mode("overwrite").option(
        "path", out
    ).save()
    with open(os.path.join(out, "_manifest.json")) as fh:
        second = [s["name"] for s in json.load(fh)["shards"]]
    # collision forced a distinct name for the second generation
    assert first != second
    on_disk = {f for f in os.listdir(out) if f.startswith("shard-")}
    assert on_disk == set(second)  # old generation retired post-swap
    back = spark.read.json(os.path.join(out, "shard-*.jsonl"))
    assert back.count() == 10


def _job_ids(spark, fn) -> tuple[object, list[int]]:
    """``fn()`` and the ids of the Spark jobs it submitted."""
    import uuid

    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs submitted by one call")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_reads_spark_written_schema_without_a_job(spark, tmp_path):
    """A Spark-written flat directory or single file: the schema comes
    from the footer Spark's writer stored it in, read on the driver,
    and equals what Spark's inference (a one-task job) gives."""
    import shutil
    from datetime import date
    from decimal import Decimal

    df = spark.createDataFrame(
        [(1, "a", Decimal("1.50"), date(2024, 1, 2), [1, 2], {"k": "v"}, (1.5, b"x"))],
        "id long not null, s string, d decimal(9,2), day date, arr array<int>,"
        " m map<string,string>, st struct<f: double, b: binary>",
    )
    df.repartition(2).write.parquet(str(tmp_path / "flat"))
    part = sorted(p for p in os.listdir(tmp_path / "flat") if p.endswith(".parquet"))[0]
    shutil.copy(tmp_path / "flat" / part, tmp_path / "single.parquet")
    df.write.partitionBy("day").parquet(str(tmp_path / "parted"))
    for name in ("flat", "single"):
        got, jobs = _job_ids(spark, lambda: load_table(spark, str(tmp_path), name))
        assert jobs == [], name
        want = spark.read.parquet(table_path(str(tmp_path), name))
        assert got.schema == want.schema, name
        assert sorted(got.collect()) == sorted(want.collect()), name
    # partition subdirectories keep Spark's inference (the partition column)
    got = load_table(spark, str(tmp_path), "parted")
    assert got.schema == spark.read.parquet(str(tmp_path / "parted")).schema
    assert "day" in got.columns


def test_load_table_keeps_inference_for_pyarrow_lakes(spark, sf_dir):
    """The pyarrow-written star lake stores no Spark schema: every
    table keeps Spark's inferred schema, and ``events.ts``
    (TIMESTAMP(NANOS), read as BIGINT) is still restored to
    timestamp_ntz."""
    from parquet_export_spark.sources.lake import STAR_TABLES, _restore_nanos_columns

    for name in STAR_TABLES:
        inferred = spark.read.parquet(table_path(sf_dir, name))
        want = _restore_nanos_columns(inferred, name).schema
        assert load_table(spark, sf_dir, name).schema == want, name
    ts = load_table(spark, sf_dir, "events").schema["ts"].dataType
    assert isinstance(ts, T.TimestampNTZType)
