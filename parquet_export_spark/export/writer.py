"""Size-bounded parquet sink with deterministic row-range naming.

Re-expresses the reference's rotate-on-quota ParquetWriter loop
(reference main.py:94-98, 188-263) on Spark's distributed writer:

- the size bound is ``maxRecordsPerFile`` (no driver-side chunk loop);
- compression is a real per-table setting defaulting to zstd — the
  reference intended zstd but its per-table lookup was inert
  (reference main.py:24 vs 188; SURVEY.md §2A.11);
- the ``{table}_{start}_{end}_{codec}.parquet`` naming scheme
  (reference main.py:94-98, 222) is applied post-commit: list committed
  part files, read their row counts from parquet footers, and rename in
  a deterministic order. This keeps the write fully parallel — no
  global row_number shuffle — and unlike the reference, every file's
  range reflects its *actual* rows (the reference's final partial file
  overstates its range, main.py:222; deliberate fix, SURVEY.md §4.3).

All post-commit bookkeeping goes through the Hadoop FileSystem API
(export/fs.py), so ``out_dir`` may be a local path, ``file:``,
``hdfs:``, or a configured ``s3a:`` bucket — the same committed-files
semantics on every scheme (the reference's per-file upload loop,
main.py:155-176, becomes the distributed write itself).

At 100 TB: the write path is executor-parallel end-to-end; the only
driver work is listing + renaming committed files (O(#files), no data
movement — renames are metadata ops on HDFS/local and server-side
copies on object stores, still bounded by file count, not bytes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from parquet_export_spark.export import fs
from parquet_export_spark.tables import TableSpec


def write_table(
    df: DataFrame,
    out_dir: str,
    spec: TableSpec,
    partition_by: list[str] | None = None,
    metrics: dict | None = None,
) -> list[str]:
    """Write ``df`` under ``{out_dir}/{spec.name}/``; return file names.

    Files are bounded to ``spec.rows_per_file`` rows and compressed with
    ``spec.compression``. Returns the committed file names in range
    order (the manifest's object list, reference main.py:240-243).

    ``metrics``, when given, is filled with the committed table's
    ``n_rows`` and ``null_counts`` (columns with at least one null).
    They come from the footers the row-range naming reads anyway, with
    no extra scan. Only a column whose footer cannot give a row-level
    null count (see ``_footer_counts_nulls``) is counted by an
    ``observe`` riding the write job.

    ``partition_by`` writes a hive-partitioned layout instead — the
    data-skipping upgrade the reference's flat prefixes lack (readers
    prune whole partitions on the partition predicate). Row-range
    naming doesn't apply there; the manifest lists relative paths, and
    ``metrics`` is not supported.
    """
    if partition_by and metrics is not None:
        raise ValueError("metrics are counted for the flat layout only")
    spark = df.sparkSession
    table_dir = fs.join(out_dir, spec.name)
    footer_cols: list[str] = []
    observed: list[str] = []
    if metrics is not None:
        for f in df.schema.fields:
            (footer_cols if _footer_counts_nulls(f.dataType) else observed).append(f.name)
        if observed:
            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            observation = Observation()
            df = df.observe(
                observation,
                *[F.count(F.when(F.col(c).isNull(), 1)).alias(f"n{i}") for i, c in enumerate(observed)],
            )
    writer = (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", spec.rows_per_file)
        .option("compression", spec.compression)
        # parquet-mr drops a column chunk's whole Statistics, null_count
        # included, when its min+max exceed 4 KB, unless binary min/max
        # are truncated; 64 B is its own column-index default.
        .option("parquet.statistics.truncate.length", 64)
    )
    if partition_by:
        writer.partitionBy(*partition_by).parquet(table_dir)
        return fs.list_names(spark, table_dir, recursive=True)
    writer.parquet(table_dir)
    names, n_rows, null_counts = _rename_to_row_ranges(spark, table_dir, spec, footer_cols)
    if metrics is not None:
        if observed:
            got = observation.get
            null_counts.update({c: got[f"n{i}"] for i, c in enumerate(observed)})
        metrics["n_rows"] = n_rows
        metrics["null_counts"] = {c: null_counts[c] for c in df.columns if null_counts[c]}
    return names


def _footer_counts_nulls(dtype: T.DataType) -> bool:
    """Whether summing the footer's ``null_count`` gives this column's
    row-level null count. Not for nested types (user-defined ones
    included), whose leaf chunks count null elements, and not for
    tz-aware timestamps, which Spark writes as INT96, a type whose
    statistics pyarrow does not read."""
    return not isinstance(
        dtype,
        (T.ArrayType, T.MapType, T.StructType, T.VariantType, T.UserDefinedType, T.TimestampType),
    )


def _rename_to_row_ranges(
    spark, table_dir: str, spec: TableSpec, null_columns: list[str]
) -> tuple[list[str], int, dict[str, int]]:
    """part-NNNNN files -> ``{table}_{start}_{end}_{codec}.parquet``.

    Deterministic order: Spark's part numbering (task order), which is
    stable for a given plan. Ranges are cumulative actual row counts
    read from the parquet footers (no data scan — footer metadata only,
    works on any Hadoop scheme). Returns the new names, the total row
    count and the total null count of each of ``null_columns``, read
    from the same footers.
    """
    from concurrent.futures import ThreadPoolExecutor

    parts = [
        n for n in fs.list_names(spark, table_dir) if n.endswith(".parquet")
    ]
    # Footer reads and renames are independent per file but were a
    # serial driver loop — O(#files) round-trips through py4j. At
    # export scale (thousands of committed files) that serialization
    # IS the driver bottleneck; a bounded thread pool overlaps the
    # metadata RPCs (the py4j gateway and Hadoop FileSystem are
    # thread-safe). Ranges stay deterministic: counts gather in
    # parallel, the cumulative assignment stays in part order.
    with ThreadPoolExecutor(max_workers=min(16, max(len(parts), 1))) as pool:
        footers = list(
            pool.map(
                lambda p: fs.parquet_footer_counts(spark, fs.join(table_dir, p), null_columns),
                parts,
            )
        )
        counts = [n for n, _ in footers]
        null_counts = {
            c: sum(nulls[c] for _, nulls in footers) for c in null_columns
        }
        renames: list[tuple[str, str]] = []
        names: list[str] = []
        start = 0
        # Zero-row export: keep ONE empty (schema-bearing) part file
        # instead of deleting every part — an empty manifest file list
        # breaks manifest readers (spark.read.parquet with zero paths
        # cannot even be invoked), while an empty parquet file round-
        # trips the declared schema. An empty incremental/filtered run
        # is a normal outcome, not an error.
        keep_empty = all(c == 0 for c in counts) and parts
        if keep_empty:
            new_name = f"{spec.name}_0_0_{spec.compression}.parquet"
            fs.rename(
                spark,
                fs.join(table_dir, parts[0]),
                fs.join(table_dir, new_name),
            )
            for part in parts[1:]:
                fs.delete(spark, fs.join(table_dir, part))
            return [new_name], 0, null_counts
        for part, n_rows in zip(parts, counts):
            if n_rows == 0:
                # Hadoop FS delete also removes local checksum sidecars.
                fs.delete(spark, fs.join(table_dir, part))
                continue
            end = start + n_rows
            new_name = f"{spec.name}_{start}_{end}_{spec.compression}.parquet"
            renames.append((part, new_name))
            names.append(new_name)
            start = end
        list(
            pool.map(
                lambda r: fs.rename(
                    spark, fs.join(table_dir, r[0]), fs.join(table_dir, r[1])
                ),
                renames,
            )
        )
    return names, start, null_counts
