"""Registry-wide scale lint: every registered query's physical plan is
swept for the two always-wrong patterns — CartesianProduct (a cross
join that didn't broadcast its tiny side) and BatchEvalPython (a
row-at-a-time Python UDF; the repo's Python surfaces are
Arrow-vectorized only).

One test, one loop, accumulated failures: per-query plan SHAPE pins
(pushdown, pruning, broadcast placement, shuffle counts) stay in
tests/test_plans.py. The findings come from the plans
tests/test_queries_oracle.py built (tests/registry_checks.py), so
tests/conftest.py runs this test after them; an entry no earlier test
built is built here.
"""

from __future__ import annotations

from parquet_export_spark.queries import REGISTRY
from tests.registry_checks import seen


def test_every_registered_plan_passes_scale_lint(spark, sf_dir):
    bad: dict[str, list[str]] = {}
    for name in REGISTRY:
        _, findings = seen(spark, sf_dir, name)
        if findings:
            bad[name] = findings
    assert not bad, bad
