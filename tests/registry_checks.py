"""Registration rules every registry entry must meet, checked on the
DataFrame that tests/test_queries_oracle.py already builds for the
entry's oracle compare or rows-only count.

Each check records the entry's output schema and lint findings in
``SEEN`` before it asserts. The registry-wide tests
(``test_registry_no_array_outputs`` and tests/test_plan_lint.py) read
those records and build only the entries no earlier test built, so a
full pass builds each entry once.
"""

from __future__ import annotations

from pyspark.sql import types as T

from parquet_export_spark.plans.inspect import lint_plan
from parquet_export_spark.queries import REGISTRY

#: entry name -> (output schema, lint findings) of its pre-execution plan
SEEN: dict[str, tuple[T.StructType, list[str]]] = {}


def record(name, df):
    SEEN[name] = (df.schema, lint_plan(df))
    return SEEN[name]


def seen(spark, sf_dir, name):
    """The recorded schema and findings, building the entry if no
    earlier test did."""
    if name not in SEEN:
        record(name, REGISTRY[name].fn(spark, sf_dir))
    return SEEN[name]


def assert_no_array_outputs(name, schema):
    bad = [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType))
    ]
    assert not bad, (
        f"{name}: top-level array/map columns {bad} would crash the "
        "pandas canonicalizer — serialize them (array_join/to_json) "
        "in the registered projection"
    )


def check_registrable(name, df):
    """Registration rules, checked on the built plan before it runs:

    - no top-level array/map columns in the output. Consumers of
      ``__spark_entry__.queries()`` canonicalize results via pandas
      ``sort_values``, which raises "unhashable type: 'list'" on list
      cells — array-valued results must be registered through a
      stringified (to_json/array_join) projection; the array-typed
      functions stay library API.
    - ``lint_plan`` is clean: no non-broadcast CartesianProduct and no
      row-at-a-time BatchEvalPython UDF. Lint reads the pre-execution
      plan, so this runs before the DataFrame executes.
    """
    schema, findings = record(name, df)
    assert_no_array_outputs(name, schema)
    assert not findings, f"{name}: scale-lint findings {findings}"
