"""Export-parity golden tests (SURVEY.md §5.3.2).

Round-trip VerA-shaped fixtures through the export pipeline and assert:
schema per SURVEY.md §1.3, rows-per-file bound, row-range naming,
manifest shape (reference README.md:79-99), JSON semantic equality,
timestamps naive-UTC.
"""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_export_spark.export.pipeline import export_lake
from parquet_export_spark.tables import TABLES
from tests.vera_fixtures import fixture_dataframes, make_fixture_rows

N = 50


@pytest.fixture(scope="module")
def exported(spark, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("lake"))
    dfs = fixture_dataframes(spark, N)
    # Tight rows_per_file to force file rotation (the main.py:232 path)
    # plus a final partial file (the main.py:252-263 path).
    tables = {
        name: __import__("dataclasses").replace(spec, rows_per_file=20)
        for name, spec in TABLES.items()
    }
    files = export_lake(spark, lambda s, spec: dfs[spec.name], out_dir, tables=tables)
    return out_dir, files, dfs


def test_manifest_shape(exported):
    out_dir, files, _ = exported
    with open(os.path.join(out_dir, "manifest.json")) as fh:
        manifest = json.load(fh)
    # reference shape (README.md:79-99) + the additive metrics block
    assert set(manifest) == {"timestamp", "dateStr", "files", "metrics"}
    assert isinstance(manifest["timestamp"], int)
    assert set(manifest["files"]) == set(TABLES)
    for table, objs in manifest["files"].items():
        assert objs == [f"{table}/{n}" for n in files[table]]
        # every listed object exists (committed-files-only guarantee)
        for obj in objs:
            assert os.path.exists(os.path.join(out_dir, obj))


def _recount(df) -> dict:
    """``n_rows`` and every column's nonzero null count, by one
    aggregate pass over ``df`` (the manifest's ``metrics`` shape)."""
    row = df.agg(
        F.count(F.lit(1)).alias("__n_rows"),
        *[F.count(F.when(F.col(c).isNull(), 1)).alias(c) for c in df.columns],
    ).first()
    return {
        "n_rows": row["__n_rows"],
        "null_counts": {c: row[c] for c in df.columns if row[c]},
    }


def _last_execution_id(spark) -> int:
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max(
        (executions.apply(i).executionId() for i in range(executions.size())),
        default=-1,
    )


def _physical_plans_since(spark, execution_id: int) -> list[str]:
    """Physical plans of the SQL executions after ``execution_id``."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    found = [executions.apply(i) for i in range(executions.size())]
    return [e.physicalPlanDescription() for e in found if e.executionId() > execution_id]


def test_manifest_metrics_observed_during_write(exported, spark):
    """The manifest's per-table metrics (summed from the committed
    files' parquet footers, zero extra scans) must equal a separate
    recount: the row count and the whole ``null_counts`` dict, so a
    column with nulls missing from it fails too."""
    out_dir, _, dfs = exported
    with open(os.path.join(out_dir, "manifest.json")) as fh:
        manifest = json.load(fh)
    assert set(manifest["metrics"]) == set(TABLES)
    for table, m in manifest["metrics"].items():
        assert m == _recount(dfs[table].select(TABLES[table].columns)), table
    assert any(m["null_counts"] for m in manifest["metrics"].values())


def test_manifest_null_counts_of_values_over_4kb(spark, tmp_path):
    """Binary and text values whose min+max exceed 4 KB, with nulls:
    the writer truncates binary statistics so parquet-mr keeps each
    chunk's null_count, which it drops with the whole Statistics
    otherwise (the footer sum would then raise)."""
    from parquet_export_spark.export.pipeline import export_table_with_metrics
    from parquet_export_spark.tables import TableSpec

    spec = TableSpec(
        name="big",
        datatypes={"id": "Int64", "blob": "object", "text": "string"},
        rows_per_file=3,
    )
    rows = [
        (i, None if i % 3 == 0 else bytes([i]) * 5000, None if i % 4 == 0 else chr(65 + i) * 6000)
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "id long, blob binary, text string")
    _, metrics = export_table_with_metrics(df, str(tmp_path), spec)
    assert metrics == _recount(df) == {"n_rows": 10, "null_counts": {"blob": 4, "text": 3}}


def test_declared_export_plans_no_collect_metrics(spark, tmp_path):
    """Every column of a declared VerA table is counted from footers,
    so no write job carries an ``observe`` (CollectMetrics)."""
    dfs = fixture_dataframes(spark, 10)
    first = _last_execution_id(spark)
    export_lake(spark, lambda s, spec: dfs[spec.name], str(tmp_path))
    plans = _physical_plans_since(spark, first)
    assert len(plans) >= len(TABLES)
    assert not [p for p in plans if "CollectMetrics" in p]


def test_bare_spec_metrics_count_nested_and_int96_columns(spark, tmp_path):
    """A bare-spec frame keeps its tz-aware timestamp (written as INT96,
    whose statistics pyarrow does not read) and its array (leaf chunks
    count null elements, not null rows): those two columns are counted
    by an ``observe``, the rest from footers, and together they equal a
    recount."""
    from datetime import datetime, timezone

    from parquet_export_spark.export.pipeline import export_table_with_metrics
    from parquet_export_spark.tables import TableSpec

    t = datetime(2024, 5, 1, 12, 0, tzinfo=timezone.utc)
    rows = [(1, t, [1, None], None), (2, None, None, "x"), (None, t, [], "y")]
    df = spark.createDataFrame(rows, "id long, ts timestamp, arr array<int>, s string")
    first = _last_execution_id(spark)
    _, metrics = export_table_with_metrics(
        df, str(tmp_path), TableSpec(name="bare", datatypes={}, rows_per_file=2)
    )
    assert metrics == _recount(df) == {
        "n_rows": 3,
        "null_counts": {"id": 1, "ts": 1, "arr": 1, "s": 1},
    }
    assert [p for p in _physical_plans_since(spark, first) if "CollectMetrics" in p]


def test_row_range_naming_and_bound(exported):
    out_dir, files, _ = exported
    import pyarrow.parquet as pq

    pat = re.compile(r"^(\w+)_(\d+)_(\d+)_zstd\.parquet$")
    for table, names in files.items():
        prev_end = 0
        for name in names:
            m = pat.match(name)
            assert m, name
            start, end = int(m.group(2)), int(m.group(3))
            assert start == prev_end
            meta = pq.read_metadata(os.path.join(out_dir, table, name))
            # range reflects ACTUAL rows (fix of reference main.py:222)
            assert end - start == meta.num_rows
            assert meta.num_rows <= 20  # rows_per_file bound
            prev_end = end
        expected_rows = N // 2 if table == "sources" else N
        assert prev_end == expected_rows


def test_declared_schema(exported, spark):
    out_dir, files, _ = exported
    for table, spec in TABLES.items():
        df = spark.read.parquet(os.path.join(out_dir, table))
        got = {f.name: f.dataType for f in df.schema.fields}
        want = {f.name: f.dataType for f in spec.schema.fields}
        assert got == want, table
        # column order preserved
        assert [f.name for f in df.schema.fields] == spec.columns


def test_timestamps_naive_utc(exported, spark):
    out_dir, _, _ = exported
    df = spark.read.parquet(os.path.join(out_dir, "code"))
    field = dict((f.name, f.dataType) for f in df.schema.fields)["created_at"]
    assert isinstance(field, T.TimestampNTZType)
    rows = {r["code_hash"]: r for r in df.collect()}
    for src in make_fixture_rows(N)["code"]:
        got = rows[src["code_hash"]]["created_at"]
        assert got.tzinfo is None
        # wall clock equals the UTC wall clock of the tz-aware input
        assert got == src["created_at"].replace(tzinfo=None)


def test_json_semantic_fidelity(exported, spark):
    out_dir, _, _ = exported
    df = spark.read.parquet(os.path.join(out_dir, "compiled_contracts"))
    rows = {r["id"]: r for r in df.collect()}
    for src in make_fixture_rows(N)["compiled_contracts"]:
        got = rows[src["id"]]
        for col in TABLES["compiled_contracts"].json_columns:
            if src[col] is None:
                assert got[col] is None
            else:
                assert json.loads(got[col]) == json.loads(src[col])


JSON_TABLES = ("compiled_contracts", "verified_contracts")


@pytest.fixture(scope="module")
def canonical_exported(spark, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("canonical_lake"))
    dfs = fixture_dataframes(spark, N)
    tables = {name: TABLES[name] for name in JSON_TABLES}
    export_lake(
        spark, lambda s, spec: dfs[spec.name], out_dir, tables=tables, canonical_json=True
    )
    return out_dir


@pytest.mark.parametrize("table", JSON_TABLES)
def test_canonical_json_export(canonical_exported, spark, table):
    """``canonical_json=True`` rewrites every JSON column: parse-equal
    to the source, and on these ASCII fixtures byte-equal to Python's
    compact ``json.dumps`` (the fixtures use ``", "``/``": "``)."""
    df = spark.read.parquet(os.path.join(canonical_exported, table))
    rows = {r["id"]: r for r in df.collect()}
    json_columns = TABLES[table].json_columns
    for src in make_fixture_rows(N)[table]:
        got = rows[src["id"]]
        for col in json_columns:
            if src[col] is None:
                assert got[col] is None
            else:
                assert json.loads(got[col]) == json.loads(src[col])
                assert got[col] == json.dumps(json.loads(src[col]), separators=(",", ":"))


def _canonicalize(spark, values: list[str | None]) -> list[str | None]:
    from parquet_export_spark.export.normalize import normalize_json_columns
    from parquet_export_spark.tables import TableSpec

    spec = TableSpec(name="t", datatypes={"i": "Int64", "c": "json"}, rows_per_file=100)
    df = spark.createDataFrame(list(enumerate(values)), "i long, c string")
    out = normalize_json_columns(df, spec, canonical=True)
    return [r.c for r in out.orderBy("i").collect()]


#: raw JSON text -> canonical text; all parse-equal to ``json.loads``
JSON_EDGE_CASES = {
    None: None,
    "null": "null",
    '  "say \\"hi\\""': '"say \\"hi\\""',
    '"é"': '"é"',
    '"\\u00e9"': '"é"',
    "123456789012345678901234567890": "123456789012345678901234567890",
    "1e-07": "1.0E-7",
    '{"name": "Zürich", "tags": ["日本"]}': '{"name":"Zürich","tags":["日本"]}',
    "[1, [2, [3, []]], {}]": "[1,[2,[3,[]]],{}]",
    "{}": "{}",
    "[]": "[]",
    '\t"123"': '"123"',
    '{"a": true, "b": null, "c": 1.5}': '{"a":true,"b":null,"c":1.5}',
}


@pytest.fixture(scope="module")
def canonical_edge_cases(spark):
    raws = list(JSON_EDGE_CASES)
    return dict(zip(raws, _canonicalize(spark, raws)))


@pytest.mark.parametrize("raw", list(JSON_EDGE_CASES), ids=repr)
def test_canonical_json_edge_cases(canonical_edge_cases, raw):
    got = canonical_edge_cases[raw]
    assert got == JSON_EDGE_CASES[raw]
    if raw is not None:
        assert json.loads(got) == json.loads(raw)


def test_canonical_json_invalid_raises_naming_column(spark):
    from pyspark.errors import SparkRuntimeException

    with pytest.raises(SparkRuntimeException, match=r"invalid JSON in column t\.c"):
        _canonicalize(spark, ['{"a": 1}', '{"a":'])


def test_canonical_json_documented_divergences(spark):
    """Deliberate differences from ``json.dumps(json.loads(v))``. Neither
    real source (Postgres ``jsonb::text``, a parquet lake written from
    it) has duplicate keys or trailing content; a number beyond double
    range has no JSON form in Python either."""
    dup, trailing, huge = _canonicalize(spark, ['{"a": 1, "a": 2}', '{"a": 1} xyz', "1E+400"])
    assert dup == '{"a":1,"a":2}'  # duplicate keys kept (Python keeps the last)
    assert trailing == '{"a":1}'  # trailing content accepted (Python raises)
    assert huge == '"Infinity"'  # a JSON string (Python writes bare Infinity)


def test_canonical_json_parses_each_column_once(spark):
    """Each JSON column's ``get_json_object`` survives optimization
    exactly once: the CASE branches read one parsed value, not one
    parse each."""
    from parquet_export_spark.export.normalize import enforce_schema, normalize_json_columns

    spec = TABLES["compiled_contracts"]
    df = enforce_schema(fixture_dataframes(spark, 5)[spec.name], spec)
    out = normalize_json_columns(df, spec, canonical=True)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert len(spec.json_columns) > 1
    assert plan.count("get_json_object(") == len(spec.json_columns)


def test_unknown_dtype_fails_fast():
    from parquet_export_spark.tables import spark_type

    with pytest.raises(ValueError, match="Type not supported"):
        spark_type("complex128")


def test_s3_conf_helper(spark):
    from parquet_export_spark.session import configure_s3

    configure_s3(spark, "http://localhost:9000", "ak", "sk")
    conf = spark._jsc.hadoopConfiguration()
    assert conf.get("fs.s3a.endpoint") == "http://localhost:9000"
    assert conf.get("fs.s3a.path.style.access") == "true"
    assert conf.get("fs.s3a.committer.name") == "magic"


def test_jdbc_plan_construction():
    from parquet_export_spark.sources.jdbc import JdbcSource
    from parquet_export_spark.tables import TableSpec

    src = JdbcSource(url="jdbc:postgresql://localhost:5432/vera", user="u", password="p")
    spec = TABLES["compiled_contracts"]
    opts = src.reader_options(spec)
    assert '"compiler_settings"::text' in opts["dbtable"]  # verbatim jsonb pushdown
    assert opts["fetchsize"] == "10000"
    dep_opts = src.reader_options(TABLES["contract_deployments"])
    assert dep_opts["partitionColumn"] == "block_number"
    preds = src.predicates(TABLES["contracts"])
    assert len(preds) == 16 and preds[0].endswith("= 0")
    off = src.dbtable(TABLES["contract_deployments"], offset=100)
    assert "ORDER BY" in off and "OFFSET 100" in off


def test_export_to_file_scheme_uri(spark, tmp_path):
    """The committed-files path must work on explicit Hadoop URIs, not
    just bare local paths — this drives list/rename/manifest through
    the FileSystem API exactly as an s3a:// out_dir would."""
    out_dir = f"file://{tmp_path}/lake"
    dfs = fixture_dataframes(spark, 30)
    tables = {
        name: __import__("dataclasses").replace(spec, rows_per_file=10)
        for name, spec in TABLES.items()
    }
    files = export_lake(spark, lambda s, spec: dfs[spec.name], out_dir, tables=tables)
    local = str(tmp_path / "lake")
    for table, names in files.items():
        assert names, table
        for n in names:
            assert re.match(rf"^{table}_\d+_\d+_zstd\.parquet$", n)
            assert os.path.exists(os.path.join(local, table, n))
        # no leftover part- files; any checksum sidecar must match a
        # live data file (Hadoop LocalFS renames move sidecars along —
        # consistent ones are fine, orphans are not)
        listing = os.listdir(os.path.join(local, table))
        assert not [f for f in listing if f.startswith("part-")]
        orphans = [
            f
            for f in listing
            if f.startswith(".") and f.endswith(".crc")
            and f[1:-4] not in listing
        ]
        assert orphans == [], orphans
        back = spark.read.parquet(f"{out_dir}/{table}")
        assert back.count() == dfs[table].count()
    manifest = json.loads(
        open(os.path.join(local, "manifest.json")).read()
    )
    assert set(manifest["files"]) == set(TABLES)


def test_fs_shim_roundtrip(spark, tmp_path):
    from parquet_export_spark.export import fs

    base = f"file://{tmp_path}"
    p = fs.join(base, "a", "b.txt")
    assert p == f"file://{tmp_path}/a/b.txt"
    fs.write_text(spark, p, '{"k": 1}')
    assert fs.exists(spark, p)
    assert fs.read_text(spark, p) == '{"k": 1}'
    fs.rename(spark, p, fs.join(base, "a", "c.txt"))
    assert not fs.exists(spark, p)
    assert fs.list_names(spark, fs.join(base, "a")) == ["c.txt"]
    assert fs.list_names(spark, base, recursive=True) == ["a/c.txt"]
    assert fs.delete(spark, fs.join(base, "a"), recursive=True)
    assert not fs.exists(spark, fs.join(base, "a"))


@pytest.mark.parametrize("scheme", ["", "file://"])
def test_fs_local_rename_moves_checksum_sidecar(spark, tmp_path, scheme):
    """A local file rename carries its ``.{name}.crc`` sidecar along, so
    Hadoop's checksummed read of the new name still verifies."""
    from parquet_export_spark.export import fs

    base = f"{scheme}{tmp_path}"
    fs.write_text(spark, fs.join(base, "a.json"), '{"k": 1}')
    assert sorted(os.listdir(tmp_path)) == [".a.json.crc", "a.json"]
    fs.rename(spark, fs.join(base, "a.json"), fs.join(base, "b.json"))
    assert sorted(os.listdir(tmp_path)) == [".b.json.crc", "b.json"]
    assert fs.read_text(spark, fs.join(base, "b.json")) == '{"k": 1}'


def test_fs_local_rename_refuses_existing_target(spark, tmp_path):
    from parquet_export_spark.export import fs

    base = str(tmp_path)
    fs.write_text(spark, fs.join(base, "a.json"), "A")
    fs.write_text(spark, fs.join(base, "b.json"), "B")
    with pytest.raises(IOError, match="target exists"):
        fs.rename(spark, fs.join(base, "a.json"), fs.join(base, "b.json"))
    assert fs.read_text(spark, fs.join(base, "a.json")) == "A"
    assert fs.read_text(spark, fs.join(base, "b.json")) == "B"
    assert sorted(os.listdir(tmp_path)) == [".a.json.crc", ".b.json.crc", "a.json", "b.json"]


def test_fs_shim_nonlocal_scheme(spark, tmp_path, sf_dir):
    """The FS shim must work off the default filesystem: mount a
    Hadoop ViewFileSystem (viewfs://shimtest/) over a local directory
    and drive every helper through it — a scheme+authority resolved
    through the same FileSystem registry lookup s3a uses, with real
    path virtualization (viewfs paths never equal the backing file:
    paths), including the parquet footer read, which takes the
    parquet-hadoop branch for any non-file scheme. This is the closest
    an offline sandbox gets to object-store evidence; only the
    concrete impl behind the registry differs."""
    from parquet_export_spark.export import fs

    hconf = spark._jsc.hadoopConfiguration()
    hconf.set(
        "fs.viewfs.mounttable.shimtest.link./data", f"file://{tmp_path}/backing"
    )
    base = "viewfs://shimtest/data"
    p = fs.join(base, "m", "manifest.json")
    fs.write_text(spark, p, '{"files": []}')
    assert fs.exists(spark, p)
    assert fs.read_text(spark, p) == '{"files": []}'
    # overwrite goes through the temp+rename path, never truncates in place
    fs.write_text(spark, p, '{"files": ["a"]}')
    assert fs.read_text(spark, p) == '{"files": ["a"]}'
    assert fs.list_names(spark, fs.join(base, "m")) == ["manifest.json"]
    fs.rename(spark, p, fs.join(base, "m", "manifest.v2.json"))
    assert fs.list_names(spark, fs.join(base, "m")) == ["manifest.v2.json"]
    # footer row-count via parquet-hadoop (non-local branch)
    from parquet_export_spark.sources.lake import load_tables

    region = load_tables(spark, sf_dir)["region"]
    region.coalesce(1).write.mode("overwrite").parquet(
        f"file://{tmp_path}/backing/pq"
    )
    name = [
        f
        for f in fs.list_names(spark, fs.join(base, "pq"))
        if f.endswith(".parquet")
    ][0]
    n = fs.parquet_row_count(spark, fs.join(base, "pq", name))
    assert n == region.count()
    # footer null counts, through parquet-hadoop and through pyarrow
    spark.createDataFrame(
        [(1, None, b"a" * 5000), (None, None, None), (3, "c", b"b" * 5000)],
        "id long, s string, blob binary",
    ).coalesce(1).write.mode("overwrite").parquet(f"file://{tmp_path}/backing/nulls")
    name = [
        f for f in fs.list_names(spark, fs.join(base, "nulls")) if f.endswith(".parquet")
    ][0]
    for nulls_dir in (fs.join(base, "nulls"), f"{tmp_path}/backing/nulls"):
        path = fs.join(nulls_dir, name)
        assert fs.parquet_footer_counts(spark, path, ["id", "s"]) == (3, {"id": 1, "s": 2})
        # written without truncated statistics, the >4 KB binary chunk
        # has no null_count: refused, never guessed
        with pytest.raises(ValueError, match="no null_count for column 'blob'"):
            fs.parquet_footer_counts(spark, path, ["blob"])
    assert fs.delete(spark, fs.join(base, "m"), recursive=True)


def test_export_concurrent_equals_sequential(spark, tmp_path):
    """The driver thread pool must not change WHAT is exported — file
    sets (names carry row ranges) and manifest listings are identical
    between max_concurrency=1 (reference-sequential) and the default
    concurrent submission."""
    dfs = fixture_dataframes(spark, 40)
    seq = export_lake(
        spark,
        lambda s, spec: dfs[spec.name],
        str(tmp_path / "seq"),
        max_concurrency=1,
    )
    par = export_lake(
        spark,
        lambda s, spec: dfs[spec.name],
        str(tmp_path / "par"),
        max_concurrency=4,
    )
    assert set(seq) == set(par)
    for name in seq:
        assert sorted(seq[name]) == sorted(par[name]), name
    m_seq = json.load(open(tmp_path / "seq" / "manifest.json"))
    m_par = json.load(open(tmp_path / "par" / "manifest.json"))
    assert m_seq["files"] == m_par["files"]


def test_live_jdbc_partitioned_roundtrip(spark, tmp_path):
    """LIVE JDBC evidence (no Postgres in this sandbox, but Spark
    ships embedded Derby): write a table over JDBC, read it back with
    the exact partitioned-read option shape JdbcSource emits
    (partitionColumn/bounds/numPartitions/fetchsize) and verify rows
    and parallelism. This proves the engine's JDBC machinery end to
    end; the Postgres dialect specifics (::text jsonb pushdown,
    driver class) remain covered by the option-construction test."""
    url = f"jdbc:derby:{tmp_path}/testdb;create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    src = spark.range(500).selectExpr(
        "id AS k", "cast(id * 2 as double) AS v", "concat('r', id) AS name"
    )
    src.write.jdbc(url, "roundtrip", mode="overwrite", properties=props)
    back = spark.read.jdbc(
        url,
        "roundtrip",
        column="k",
        lowerBound=0,
        upperBound=500,
        numPartitions=4,
        properties={**props, "fetchsize": "100"},
    )
    assert back.rdd.getNumPartitions() == 4  # one cursor per partition
    got = {(r.k, r.v, r.name) for r in back.collect()}
    want = {(r.k, r.v, r.name) for r in src.collect()}
    assert got == want

    # and OUR source class end-to-end on the same live database: the
    # partitioned read() path (bounds discovery subquery + range
    # partitioning) with the driver/partition-column overrides.
    from parquet_export_spark.sources.jdbc import JdbcSource
    from parquet_export_spark.tables import TableSpec

    jsrc = JdbcSource(
        url=url,
        user="app",
        password="app",
        schema="APP",
        num_partitions=4,
        driver="org.apache.derby.iapi.jdbc.AutoloadedDriver",
        partition_column="k",
    )
    # Stored-name case rules: Spark's JDBC writer leaves the TABLE
    # name unquoted (Derby uppercases it) but quotes COLUMN names
    # (case preserved) — the spec uses the names as stored.
    spec = TableSpec(
        name="ROUNDTRIP",
        datatypes={"k": "Int64", "v": "float64", "name": "string"},
        rows_per_file=1000,
    )
    live = jsrc.read(spark, spec)
    assert live.rdd.getNumPartitions() == 4
    assert {tuple(r) for r in live.collect()} == {tuple(r) for r in src.collect()}


def test_live_jdbc_to_lake_export(spark, tmp_path):
    """The reference's whole production flow, LIVE: a JDBC database
    (embedded Derby) -> JdbcSource partitioned read -> export_lake
    (declared schema, size-bounded zstd parquet, row-range names,
    committed-files manifest). Also pins JDBC filter pushdown for the
    incremental-export path: the updated_at predicate must reach the
    JDBC scan, not filter in Spark."""
    from parquet_export_spark.sources.jdbc import JdbcSource
    from parquet_export_spark.tables import TableSpec

    url = f"jdbc:derby:{tmp_path}/lakedb;create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    src_df = spark.range(60).selectExpr(
        "id AS k",
        "concat('name', id) AS name",
        "timestamp_ntz'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS updated_at",
    )
    src_df.write.jdbc(url, "items", mode="overwrite", properties=props)
    jsrc = JdbcSource(
        url=url,
        user="app",
        password="app",
        schema="APP",
        num_partitions=3,
        driver="org.apache.derby.iapi.jdbc.AutoloadedDriver",
        partition_column="k",
    )
    spec = TableSpec(
        name="ITEMS",
        datatypes={
            "k": "Int64",
            "name": "string",
            "updated_at": "datetime64[ns]",
        },
        rows_per_file=25,
    )
    out = str(tmp_path / "lake")
    files = export_lake(
        spark,
        lambda s, sp: jsrc.read(s, sp),
        out,
        tables={"ITEMS": spec},
    )
    assert files["ITEMS"]
    assert all(
        n.startswith("ITEMS_") and n.endswith("_zstd.parquet")
        for n in files["ITEMS"]
    )
    back = spark.read.parquet(os.path.join(out, "ITEMS"))
    assert back.count() == 60
    manifest = json.load(open(os.path.join(out, "manifest.json")))
    assert manifest["files"]["ITEMS"] == [f"ITEMS/{n}" for n in files["ITEMS"]]

    # incremental export: the watermark predicate pushes INTO the JDBC
    # scan (PushedFilters on the JDBCRelation), so a delta run reads
    # the delta, not the table
    from parquet_export_spark.streaming.incremental import incremental_export

    delta = incremental_export(
        jsrc.read(spark, spec), "2024-01-01 00:00:30", updated_col="updated_at"
    )
    assert delta.count() == 29  # ids 31..59
    plan = delta._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "updated_at" in plan.split("PushedFilters", 1)[1][:200]


def test_zero_row_export_roundtrips(spark, tmp_path):
    """An empty source table must export to ONE schema-bearing empty
    parquet (named with the 0_0 range) that the manifest reader can
    load back — not an empty file list that breaks every reader."""
    from parquet_export_spark.export.manifest import write_manifest
    from parquet_export_spark.export.writer import write_table
    from parquet_export_spark.sources.lake import load_manifest_table
    from parquet_export_spark.tables import TableSpec

    df = spark.createDataFrame([], "id long, name string")
    out = str(tmp_path / "lake")
    spec = TableSpec(name="emptytbl", datatypes={}, rows_per_file=100)
    files = write_table(df, out, spec)
    assert files == ["emptytbl_0_0_zstd.parquet"]
    write_manifest(out, {"emptytbl": files}, spark)
    back = load_manifest_table(spark, out, "emptytbl")
    assert back.count() == 0
    assert back.schema.fieldNames() == ["id", "name"]
