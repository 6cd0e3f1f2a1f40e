"""Parquet lake reader.

The reference's output is a per-table prefix of parquet files
(reference main.py:237); the query layer reads those back. Here the
"lake" is any directory holding ``{table}.parquet`` files or
``{table}/`` prefixes — e.g. the driver's /root/testdata/sf* dirs or
our own exporter output.

Scale note: ``spark.read.parquet`` gives vectorized columnar scans with
predicate pushdown and column pruning via Catalyst; nothing custom
needed. Declared-schema enforcement is available via ``schema=`` for
VerA-shaped lakes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: The driver's star-schema + extension tables (TESTDATA.md).
STAR_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def table_path(lake_dir: str, name: str) -> str:
    """Resolve ``{dir}/{name}.parquet`` (single file) or ``{dir}/{name}`` (prefix)."""
    flat = os.path.join(lake_dir, f"{name}.parquet")
    if os.path.exists(flat):
        return flat
    return os.path.join(lake_dir, name)


def load_table(
    spark: SparkSession,
    lake_dir: str,
    name: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    # The driver's parquet uses TIMESTAMP(NANOS); this conf makes Spark
    # read them as timestamp_ntz (µs) instead of raising
    # PARQUET_TYPE_ILLEGAL. Runtime-settable, so apply defensively —
    # the driver's own SparkSession may not have it.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(lake_dir, name)
    read_schema = schema if schema is not None else _spark_written_schema(spark, path)
    reader = spark.read
    if read_schema is not None:
        reader = reader.schema(read_schema)
    df = reader.parquet(path)
    if schema is None:
        df = _restore_nanos_columns(df, name)
    return df


#: footer key under which Spark's parquet writer stores the row schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _spark_written_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema Spark's inference would give ``path``, read on the
    driver, or None where only inference can give it.

    With ``mergeSchema`` off, inference reads one footer, in a one-task
    Spark job, and takes the schema Spark's writer stored there. For a
    local file, or a local directory without subdirectories, the first
    data file's footer is read here with pyarrow instead, and no job
    runs. Remote schemes, partition subdirectories and files written by
    other writers (no stored schema) keep Spark's inference.
    """
    from parquet_export_spark.export.fs import local_path

    local = local_path(path)
    if local is None or spark.conf.get("spark.sql.parquet.mergeSchema").lower() == "true":
        return None
    if os.path.isdir(local):
        entries = sorted(os.scandir(local), key=lambda e: e.name)
        data = [e for e in entries if not e.name.startswith(("_", "."))]
        if not data or any(e.is_dir() for e in data):
            return None
        local = data[0].path
    elif not os.path.isfile(local):
        return None
    import json

    import pyarrow.parquet as pq

    stored = (pq.read_metadata(local).metadata or {}).get(_SPARK_SCHEMA_KEY)
    return None if stored is None else T.StructType.fromJson(json.loads(stored))


#: Columns stored as TIMESTAMP(NANOS) in the driver's testdata; under
#: nanosAsLong they surface as BIGINT nanoseconds and are restored to
#: timestamp_ntz here (µs truncation, matching DuckDB's ns->µs read).
_NS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _restore_nanos_columns(df: DataFrame, name: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql import types as Ty

    for col in _NS_COLUMNS.get(name, ()):
        field = next((f for f in df.schema.fields if f.name == col), None)
        if field is not None and isinstance(field.dataType, Ty.LongType):
            # timestampadd on an NTZ literal stays NTZ and is independent
            # of the session time zone (no instant interpretation).
            df = df.withColumn(
                col,
                F.expr(
                    f"timestampadd(MICROSECOND, `{col}` div 1000, "
                    f"TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
    return df


#: session -> {lake dir -> table DataFrames}. A DataFrame is a reusable
#: logical plan; caching it avoids re-reading parquet footers (one
#: schema-discovery job per table) on every query invocation. Weakly
#: keyed by the live SparkSession so a dead session's entries never
#: alias a new one.
import weakref

_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def load_tables(
    spark: SparkSession, lake_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    per_session = _TABLE_CACHE.setdefault(spark, {})
    cached = per_session.setdefault(lake_dir, {})
    wanted = list(names or STAR_TABLES)
    for n in wanted:
        if n not in cached:
            cached[n] = load_table(spark, lake_dir, n)
    # return exactly the requested names — returning the whole cache
    # made a narrowed call leak every previously-loaded table (and
    # register_temp_views then clobbered caller views it was never
    # asked to touch)
    return {n: cached[n] for n in wanted}


def load_manifest_table(
    spark: SparkSession,
    out_dir: str,
    name: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Read a table through its ``manifest.json`` — exactly the
    committed files, nothing else.

    This is the consumer half of the exporter's committed-files
    guarantee (export/manifest.py): a reader that trusts the manifest
    never sees stray files from a failed or concurrent writer, and a
    snapshot read stays consistent even while a new export is landing
    into the same prefix. Paths are passed explicitly to
    ``spark.read.parquet``, so the scan is the normal vectorized
    JVM scan with pushdown/pruning — the manifest only chooses WHICH
    files, Catalyst still decides HOW to read them. Works on any
    scheme the export wrote to (manifest fetched via export/fs.py).
    """
    import json

    from parquet_export_spark.export import fs

    manifest = json.loads(
        fs.read_text(spark, fs.join(out_dir, "manifest.json"))
    )
    rel_paths = manifest["files"][name]
    paths = [fs.join(out_dir, p) for p in rel_paths]
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*paths)


def register_temp_views(
    spark: SparkSession, lake_dir: str, names: list[str] | None = None
) -> None:
    """Register each table as a temp view so ``spark.sql`` works on the lake."""
    for name, df in load_tables(spark, lake_dir, names).items():
        df.createOrReplaceTempView(name)
