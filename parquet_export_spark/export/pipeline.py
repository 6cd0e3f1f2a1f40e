"""Export orchestration (reference main.py:266-282).

``export_lake`` drives: per table — enforce declared schema, normalize,
write size-bounded zstd parquet — then one manifest over the committed
files. Tables are independent (reference main.py ran them strictly
sequentially; SURVEY.md §2A.14): they are submitted from a small
driver thread pool, so one table's post-commit metadata phase (footer
reads, row-range renames — driver-side FS calls) overlaps another
table's executor-side write instead of serializing behind it. Spark's
scheduler accepts concurrent job submission from driver threads; on a
cluster this keeps executors busy through the metadata gaps, and in
local mode it overlaps I/O waits.

Debug affordances (reference main.py:27-28, 270-276): ``only_table``
exports a single table (DEBUG_TABLE), ``limit`` bounds rows per table
(DEBUG's one-file-per-table analog, but deterministic).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from parquet_export_spark.export.manifest import write_manifest
from parquet_export_spark.export.normalize import enforce_schema, normalize_json_columns
from parquet_export_spark.export.writer import write_table
from parquet_export_spark.tables import TABLES, TableSpec


def export_table_with_metrics(
    df: DataFrame,
    out_dir: str,
    spec: TableSpec,
    canonical_json: bool = False,
) -> tuple[list[str], dict]:
    """Export one table and return (files, quality metrics).

    Row and per-column null counts come from the committed files'
    parquet footers, which the row-range naming reads anyway (see
    ``write_table``), so they cost no extra scan (the reference has no
    quality reporting at all; a separate count pass at 100 TB would
    re-read the table). Recorded into the manifest so a consumer can
    validate a snapshot without touching the data files.
    """
    df = enforce_schema(df, spec)
    df = normalize_json_columns(df, spec, canonical=canonical_json)
    metrics: dict = {}
    files = write_table(df, out_dir, spec, metrics=metrics)
    return files, metrics


def export_lake(
    spark: SparkSession,
    source: Callable[[SparkSession, TableSpec], DataFrame],
    out_dir: str,
    tables: dict[str, TableSpec] | None = None,
    only_table: str | None = None,
    limit: int | None = None,
    canonical_json: bool = False,
    max_concurrency: int = 4,
) -> dict[str, list[str]]:
    """Export every table produced by ``source`` and write the manifest.

    ``source`` maps (spark, spec) -> DataFrame — a JDBC read
    (sources/jdbc.py), a parquet lake read, or a test fixture.
    ``max_concurrency`` bounds the driver thread pool submitting
    independent tables (1 = the reference's sequential behavior).
    """
    tables = tables if tables is not None else TABLES
    if only_table is not None:
        tables = {only_table: tables[only_table]}

    def one(item: tuple[str, TableSpec]) -> tuple[list[str], dict]:
        name, spec = item
        df = source(spark, spec)
        if limit is not None:
            df = df.limit(limit)
        return export_table_with_metrics(
            df, out_dir, spec, canonical_json=canonical_json
        )

    items = list(tables.items())
    out = map_tables_concurrently(one, items, max_concurrency)
    files = {name: fs for (name, _), (fs, _) in zip(items, out)}
    metrics = {name: m for (name, _), (_, m) in zip(items, out)}
    write_manifest(out_dir, files, spark=spark, metrics=metrics)
    return files


def map_tables_concurrently(fn, items: list, max_concurrency: int) -> list:
    """Order-preserving per-table fan-out from a small driver thread
    pool (Spark accepts concurrent job submission from driver threads):
    one table's driver-side metadata phase overlaps another table's
    executor-side write. ``max_concurrency=1`` is the reference's
    strictly sequential behavior (also the bench A/B lever). Shared by
    export_lake and export_snapshot so the fan-out policy cannot drift
    between the flat and the versioned path."""
    if max_concurrency > 1 and len(items) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(
            max_workers=min(max_concurrency, len(items))
        ) as pool:
            return list(pool.map(fn, items))
    return [fn(item) for item in items]
