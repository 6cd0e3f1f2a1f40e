"""Schema enforcement and semantic normalization (SURVEY.md §1.4).

Spark-first re-expression of the reference's ``process_df``
(reference main.py:116-131):

- declared-schema cast per column (reference main.py:128-130) — here a
  single ``select`` of JVM-side casts, fully codegen'd;
- timestamp normalization to wall-clock UTC without zone (reference
  main.py:117-119) — tz-aware inputs are converted to UTC then the
  zone is dropped (TimestampNTZ);
- JSON canonicalization (reference main.py:125-127) — optional
  re-serialization so semantic JSON (lowercase ``true``/``null``)
  is guaranteed; JVM-side ``get_json_object`` expressions, so no row
  leaves the executor for a Python worker.

Unknown dtype strings raise ``ValueError`` before any job runs
(fail-fast parity with reference main.py:149-150).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_export_spark.tables import TableSpec, spark_type

#: insignificant whitespace before a JSON value (RFC 8259 §2)
_JSON_WS = " \t\n\r"


def enforce_schema(df: DataFrame, spec: TableSpec) -> DataFrame:
    """Cast every declared column to its declared type, in declared order.

    Missing columns fail analysis (declared schema is authoritative);
    extra columns are dropped (the reference reads ``SELECT *`` from a
    schema-matching table so the cases coincide there).
    """
    if not spec.datatypes:
        # bare spec (write-tuning only, e.g. bench/maintenance paths):
        # the frame is already typed; nothing to enforce
        return df
    source = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for name, dtype in spec.datatypes.items():
        target = spark_type(dtype)  # ValueError on unknown dtype
        cols.append(normalize_timestamp(name, source.get(name), target).alias(name))
    return df.select(cols)


def normalize_timestamp(name: str, source: T.DataType | None, target: T.DataType) -> Column:
    """tz-aware -> wall-clock UTC NTZ; everything else is a plain cast.

    A TimestampType column holds an instant; rendering it as NTZ uses
    the session zone, so we pin the conversion to UTC explicitly with
    ``to_utc_timestamp`` semantics (reference main.py:117-119).
    """
    if isinstance(target, T.TimestampNTZType) and isinstance(source, T.TimestampType):
        # convert_timezone(target_tz=UTC) is session-tz-independent.
        return F.expr(f"convert_timezone('UTC', `{name}`)")
    return F.col(name).cast(target)


def _canonical_json(raw: Column, parsed: Column, name: str) -> Column:
    """Canonical JSON text of ``raw``, given ``parsed`` =
    ``get_json_object(raw, '$')`` (semantic, not byte, fidelity).

    ``get_json_object`` re-serializes compactly, but returns a top-level
    string unquoted (it is a path extractor), so values whose first
    non-blank character is ``"`` are quoted again through ``to_json``.
    NULL stays NULL; invalid JSON, which ``get_json_object`` turns into
    NULL, raises an error naming ``name`` (fail fast, matching the
    reference's json.dumps behavior at main.py:125-127).

    Against ``json.dumps(json.loads(v), separators=(",", ":"))`` the
    text is parse-equal, but non-ASCII is written raw, floats are
    written the JVM way (``1e-07`` -> ``1.0E-7``), duplicate keys are
    kept, and trailing content after a complete value (``{"a":1} xyz``)
    is accepted rather than rejected. Postgres ``jsonb::text`` yields
    none of the last two. A number beyond double range becomes the
    string ``"Infinity"``, where Python writes a bare, non-JSON
    ``Infinity``.
    """
    # to_json(array(s)) is ["<escaped s>"]: strip the one bracket at each end
    quoted = F.btrim(F.to_json(F.array(parsed)), F.lit("[]"))
    return (
        F.when(raw.isNull(), None)
        .when(parsed.isNull(), F.raise_error(F.lit(f"invalid JSON in column {name}")))
        .when(F.startswith(F.ltrim(raw, F.lit(_JSON_WS)), F.lit('"')), quoted)
        .otherwise(parsed)
    )


def normalize_json_columns(df: DataFrame, spec: TableSpec, canonical: bool = False) -> DataFrame:
    """Optionally rewrite JSON columns through canonical serialization.

    Default off: when the source already provides JSON text (parquet
    lake, or ``::text`` pushed into the JDBC subquery — see
    sources/jdbc.py) the text is kept verbatim, which is a stronger
    guarantee than the reference's parse/re-serialize round-trip.

    Two projections: the first parses each JSON column once, the second
    branches on the parse. In one projection Spark would evaluate the
    parse once per ``CASE`` branch that reads it, since it does not
    share subexpressions across conditional branches; the optimizer
    keeps the two apart rather than duplicate the parse.
    """
    if not canonical or not spec.json_columns:
        return df
    columns = df.columns
    parsed = {c: f"__parsed_{c}" for c in spec.json_columns}
    df = df.select("*", *[F.get_json_object(c, "$").alias(p) for c, p in parsed.items()])
    return df.select(
        [
            _canonical_json(F.col(c), F.col(parsed[c]), f"{spec.name}.{c}").alias(c)
            if c in parsed
            else F.col(c)
            for c in columns
        ]
    )
