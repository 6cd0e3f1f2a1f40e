"""Property tests (SURVEY.md §5.3.3): type round-trips through the
export pipeline — null handling of the extension dtypes, empty tables,
boundary timestamps, partial final files."""

from __future__ import annotations

import math
from dataclasses import replace
from datetime import datetime, timezone

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from parquet_export_spark.export.pipeline import export_table_with_metrics
from parquet_export_spark.tables import TableSpec

SPEC = TableSpec(
    name="proptable",
    datatypes={
        "k": "Int64",
        "i32": "Int32",
        "flag": "bool",
        "payload": "object",
        "note": "string",
        "doc": "json",
        "at": "datetime64[ns]",
    },
    rows_per_file=7,  # deliberately tiny: forces rotation + partial file
)

INPUT_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("i32", T.IntegerType()),
        T.StructField("flag", T.BooleanType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("note", T.StringType()),
        T.StructField("doc", T.StringType()),
        T.StructField("at", T.TimestampType()),
    ]
)

row_strategy = st.tuples(
    st.integers(min_value=-(2**62), max_value=2**62),
    st.one_of(st.none(), st.integers(min_value=-(2**31), max_value=2**31 - 1)),
    st.one_of(st.none(), st.booleans()),
    st.one_of(st.none(), st.binary(max_size=64)),
    st.one_of(st.none(), st.text(max_size=40)),
    st.one_of(st.none(), st.sampled_from(['{"a": true}', "[1, null]", '"x"', "{}"])),
    st.one_of(
        st.none(),
        st.datetimes(
            min_value=datetime(1971, 1, 1),
            max_value=datetime(2200, 1, 1),
            timezones=st.just(timezone.utc),
        ),
    ),
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(row_strategy, max_size=30, unique_by=lambda r: r[0]))
def test_export_roundtrip_preserves_values(spark, tmp_path_factory, rows):
    out = str(tmp_path_factory.mktemp("prop"))
    df = spark.createDataFrame(rows, INPUT_SCHEMA)
    files = export_table_with_metrics(df, out, SPEC)[0]
    # empty input -> zero data files; schema then comes from the spec
    back = spark.read.schema(SPEC.schema).parquet(f"{out}/{SPEC.name}")
    # schema is the declared one
    got_types = {f.name: f.dataType for f in back.schema.fields}
    assert got_types["at"] == T.TimestampNTZType()
    assert got_types["payload"] == T.BinaryType()
    got = {r["k"]: r for r in back.collect()}
    assert len(got) == len(rows)
    for k, i32, flag, payload, note, doc, at in rows:
        r = got[k]
        assert r["i32"] == i32 and r["flag"] == flag and r["note"] == note
        assert r["payload"] == payload and r["doc"] == doc
        if at is None:
            assert r["at"] is None
        else:
            # µs-truncated wall-clock UTC, zone dropped
            expect = at.astimezone(timezone.utc).replace(tzinfo=None)
            assert abs((r["at"] - expect).total_seconds()) < 1e-5
    # every file honors the bound; ranges tile [0, n)
    if rows:
        sizes = [
            int(n.rsplit("_", 2)[1]) for n in files
        ]  # start offsets parse back
        assert sizes == sorted(sizes)
        total = int(files[-1].rsplit("_", 3)[-2]) if files else 0
        assert math.fsum([1] * len(rows)) == total


def test_export_empty_table(spark, tmp_path):
    out = str(tmp_path / "empty")
    df = spark.createDataFrame([], INPUT_SCHEMA)
    files = export_table_with_metrics(df, out, SPEC)[0]
    # round-5 contract change: one schema-bearing empty part survives
    # (an empty manifest file list broke every manifest reader —
    # spark.read.parquet cannot be called with zero paths), named with
    # the honest 0_0 row range.
    assert files == [f"{SPEC.name}_0_0_{SPEC.compression}.parquet"]
    # readable WITHOUT a declared schema — the kept footer carries it
    back = spark.read.parquet(f"{out}/{SPEC.name}")
    assert back.count() == 0
    assert {f.name for f in back.schema.fields} == set(SPEC.columns)


def test_final_partial_file_range_is_actual(spark, tmp_path):
    out = str(tmp_path / "partial")
    rows = [(i, None, None, None, None, None, None) for i in range(10)]
    df = spark.createDataFrame(rows, INPUT_SCHEMA).coalesce(1)
    files = export_table_with_metrics(df, out, replace(SPEC, rows_per_file=7))[0]
    # 7 + 3: final partial file's name must state 3 rows, not 7
    # (deliberate fix of reference main.py:222 — SURVEY.md §4.3)
    assert files == [
        "proptable_0_7_zstd.parquet",
        "proptable_7_10_zstd.parquet",
    ]


# ---------------------------------------------------------------------------
# Codec round-trip properties (pure Python/numpy — no Spark session)
# ---------------------------------------------------------------------------


@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_pgm_ppm_roundtrip_property(w, h, seed):
    """Any raster round-trips both netpbm codecs byte-exactly."""
    import numpy as np

    from parquet_export_spark.operators import multimodal as M

    rng = np.random.RandomState(seed)
    gray = rng.randint(0, 256, size=(h, w), dtype=np.uint8)
    d = M.decode_pgm(M.encode_pgm(gray))
    assert (d["width"], d["height"]) == (w, h)
    assert (d["pixels"] == gray).all()
    rgb = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    d = M.decode_ppm(M.encode_ppm(rgb))
    assert (d["width"], d["height"]) == (w, h)
    assert (d["pixels"] == rgb).all()


@given(
    n=st.integers(min_value=1, max_value=500),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_wav_roundtrip_property(n, rate, seed):
    """Any int16 sample series round-trips the RIFF/WAV codec exactly,
    at any of the common sample rates."""
    import numpy as np

    from parquet_export_spark.operators import multimodal as M

    rng = np.random.RandomState(seed)
    s = rng.randint(-32768, 32768, size=n).astype("<i2")
    d = M.decode_wav(M.encode_wav(s, sample_rate=rate))
    assert d["sample_rate"] == rate
    assert d["n_samples"] == n
    assert (d["samples"] == s).all()
