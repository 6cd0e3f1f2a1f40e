"""Output checks: a wrong result turns the operation into a failed one.

- Export: the manifest lists exactly the committed files, each table's row
  ranges are contiguous ``0..n``, footer counts equal the source counts and
  the manifest's ``metrics.n_rows``, and no ``part-*`` or ``.tmp-write``
  files are left over. ``content_digest`` gives an order-insensitive hash of
  a table, compared between the source and the export read back through its
  manifest, with JSON compared after parsing.
- Queries: the registry entry's rows against its DuckDB oracle, by the
  fingerprint ``tests/oracle_harness.py`` computes.
"""

from __future__ import annotations

import json
import os
import re

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from parquet_export_spark.tables import TABLES
from tests.oracle_harness import duckdb_connection, fingerprint

_RANGE = re.compile(r"^(?P<table>.+)_(?P<start>\d+)_(?P<end>\d+)_(?P<codec>\w+)\.parquet$")


def committed_files(out_dir: str) -> dict[str, list[str]]:
    with open(os.path.join(out_dir, "manifest.json")) as fh:
        return json.load(fh)["files"]


def check_export(out_dir: str, source_rows: dict[str, int]) -> list[str]:
    """Structural checks of one export directory; returns the problems."""
    problems: list[str] = []
    try:
        with open(os.path.join(out_dir, "manifest.json")) as fh:
            manifest = json.load(fh)
    except (OSError, ValueError) as exc:
        return [f"manifest unreadable: {exc}"]
    for dirpath, _, names in os.walk(out_dir):
        for n in names:
            if n.startswith(("part-", ".part-")) or ".tmp-write" in n:
                problems.append(f"leftover {os.path.join(dirpath, n)}")
    if set(manifest.get("files", {})) != set(source_rows):
        return problems + [f"manifest tables {sorted(manifest.get('files', {}))}"]
    for table, n_rows in source_rows.items():
        listed = manifest["files"][table]
        table_dir = os.path.join(out_dir, table)
        on_disk = sorted(
            n for n in os.listdir(table_dir) if n.endswith(".parquet") and not n.startswith(".")
        )
        if sorted(os.path.basename(p) for p in listed) != on_disk:
            problems.append(f"{table}: manifest lists {len(listed)} files, {len(on_disk)} on disk")
            continue
        ranges = []
        for rel in listed:
            m = _RANGE.match(os.path.basename(rel))
            if m is None or m["table"] != table:
                problems.append(f"{table}: file name {rel}")
                continue
            start, end = int(m["start"]), int(m["end"])
            footer = pq.read_metadata(os.path.join(out_dir, rel)).num_rows
            if footer != end - start:
                problems.append(f"{table}: {rel} footer has {footer} rows")
            ranges.append((start, end))
        ranges.sort()
        expect = 0
        for start, end in ranges:
            if start != expect:
                problems.append(f"{table}: range gap at {expect}..{start}")
            expect = end
        if expect != n_rows:
            problems.append(f"{table}: ranges end at {expect}, source has {n_rows}")
        observed = manifest.get("metrics", {}).get(table, {}).get("n_rows")
        if observed != n_rows:
            problems.append(f"{table}: manifest n_rows {observed}, source has {n_rows}")
    return problems


def committed_bytes(out_dir: str) -> int:
    return sum(
        os.path.getsize(os.path.join(out_dir, rel))
        for files in committed_files(out_dir).values()
        for rel in files
    )


@pandas_udf(T.StringType())
def _parsed_json(s: pd.Series) -> pd.Series:
    """JSON text -> key-sorted compact text: equal iff the JSON is equal."""
    return s.map(
        lambda v: None if v is None else json.dumps(json.loads(v), sort_keys=True, separators=(",", ":"))
    )


def table_stats(df: DataFrame, table: str) -> dict:
    """Rows, order-insensitive content hash and declared-column bytes of
    ``df`` over ``table``'s declared columns, in one aggregation.

    The hash covers declared types, timestamps as UTC microseconds and JSON
    after parsing; user bytes are value lengths for text and binary and
    fixed widths for the rest, nulls free."""
    width = {T.LongType: 8, T.IntegerType: 4, T.BooleanType: 1, T.TimestampNTZType: 8}
    spec = TABLES[table]
    fields = {f.name: f.dataType for f in df.schema.fields}
    cols, sizes = [], []
    for field in spec.schema.fields:
        c = F.col(field.name)
        if isinstance(field.dataType, (T.StringType, T.BinaryType)):
            sizes.append(F.coalesce(F.octet_length(c), F.lit(0)))
        else:
            sizes.append(F.when(c.isNull(), 0).otherwise(width[type(field.dataType)]))
        if isinstance(fields[field.name], T.TimestampNTZType):
            c = F.unix_micros(c.cast("timestamp"))  # session zone is UTC
        elif isinstance(fields[field.name], T.TimestampType):
            c = F.unix_micros(c)
        elif field.name in spec.json_columns:
            c = _parsed_json(c)
        else:
            c = c.cast(field.dataType)
        cols.append(c.alias(field.name))
    row = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("digest"),
        F.sum(sum(sizes[1:], sizes[0]).cast("long")).alias("user_bytes"),
    ).first()
    return {"rows": int(row["rows"]), "digest": str(row["digest"]), "user_bytes": int(row["user_bytes"] or 0)}


def oracle_fingerprints(lake_dir: str, sql_by_entry: dict[str, str]) -> dict[str, tuple]:
    """DuckDB oracle fingerprint of each registry entry over ``lake_dir``."""
    con = duckdb_connection(lake_dir)
    try:
        out = {}
        for entry, sql in sql_by_entry.items():
            res = con.execute(sql)
            out[entry] = fingerprint(res.fetchall(), [d[0] for d in res.description])
        return out
    finally:
        con.close()


def spark_fingerprint(df: DataFrame) -> tuple:
    return fingerprint([tuple(r) for r in df.collect()], df.columns)
