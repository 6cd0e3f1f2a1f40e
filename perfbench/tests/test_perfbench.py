"""The benchmark's own checks, at tiny scale (sf0.001 lake, 20-contract VerA
source). Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import pytest

from perfbench import checks, harness, lakegen, veragen, workloads

#: counters that must repeat exactly between two runs of the same inputs
DETERMINISTIC = [
    *(f"spark.{phase}.{c}" for phase in ("build", "action") for c in ("jobs", "stages", "tasks")),
    "spark.input_rows_per_result_row",
    "sources.calls",
    "export.files",
    "export.bytes_written",
    "export.fs.renames",
]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s, _ = harness.start_spark(str(tmp_path_factory.mktemp("spark")))
    yield s
    s.stop()


def _tiny(name: str):
    if name == "vera_export":
        return workloads.VeraExport(n_contracts=20)
    return workloads.LakeLoop(name, ["q5_revenue_by_nation", "window_topk_per_group", "pagerank_trade_graph"], sf=0.001)


def _traced(spark, tmp_path, name: str, tag: str) -> dict:
    work = str(tmp_path / tag)
    os.makedirs(work)
    return harness.measure(spark, 0.0, _tiny(name), seed=5, seconds=1, traced=True, work=work)


def test_lake_generator_is_deterministic_per_seed():
    a, b, c = (lakegen.lake_tables(s, 0.001) for s in (3, 3, 4))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_vera_generator_is_deterministic_and_key_consistent(spark):
    def stats(seed, parts):
        tables = veragen.vera_tables(spark, seed, 20, parts)
        return {t: checks.table_stats(df, t) for t, df in tables.items()}, tables

    one, tables = stats(3, 4)
    again, _ = stats(3, 2)  # partitioning does not change the rows
    other, _ = stats(4, 4)
    assert one == again
    assert all(one[t]["digest"] != other[t]["digest"] for t in one)
    fk = [
        ("contracts", "creation_code_hash", "code", "code_hash"),
        ("contracts", "runtime_code_hash", "code", "code_hash"),
        ("contract_deployments", "contract_id", "contracts", "id"),
        ("compiled_contracts", "runtime_code_hash", "code", "code_hash"),
        ("compiled_contracts_sources", "compilation_id", "compiled_contracts", "id"),
        ("compiled_contracts_sources", "source_hash", "sources", "source_hash"),
        ("verified_contracts", "deployment_id", "contract_deployments", "id"),
        ("verified_contracts", "compilation_id", "compiled_contracts", "id"),
    ]
    for child, col, parent, key in fk:
        orphans = tables[child].join(tables[parent], tables[child][col] == tables[parent][key], "left_anti")
        assert orphans.count() == 0, (child, col)


@pytest.mark.parametrize("name", ["lake_queries", "vera_export"])
def test_deterministic_counters_repeat_exactly(spark, tmp_path, name):
    first = _traced(spark, tmp_path, name, "a")
    second = _traced(spark, tmp_path, name, "b")
    assert first["failed"] == second["failed"] == 0, first["notes"]["problems"]
    got = {k: (first["metrics"][k]["value"], second["metrics"][k]["value"]) for k in DETERMINISTIC}
    assert all(a == b for a, b in got.values()), got
    assert first["metrics"]["spark.action.jobs"]["value"] > 0


@pytest.mark.parametrize("fault", ["delete_file", "edit_manifest"])
def test_planted_export_fault_fails_the_operation(spark, tmp_path, monkeypatch, fault):
    export_lake = workloads.pipeline.export_lake

    def faulty(spark, source, out_dir, **kw):
        files = export_lake(spark, source, out_dir, **kw)
        if fault == "delete_file":
            os.remove(os.path.join(out_dir, "code", files["code"][0]))
        else:
            path = os.path.join(out_dir, "manifest.json")
            with open(path) as fh:
                text = fh.read()
            with open(path, "w") as fh:
                fh.write(text.replace(files["sources"][0], "sources_0_1_zstd.parquet", 1))
        return files

    monkeypatch.setattr(workloads.pipeline, "export_lake", faulty)
    work = str(tmp_path / fault)
    os.makedirs(work)
    seconds = 2 * workloads.VeraExport.UNIT_S  # two exports
    result = harness.measure(spark, 0.0, _tiny("vera_export"), seed=5, seconds=seconds, traced=False, work=work)
    assert result["failed"] == result["attempted"] == 2
    assert result["notes"]["failed_frac"] == 1.0
    assert not result["correct"]


def test_wrong_query_result_fails_every_execution(spark, tmp_path, monkeypatch):
    workload = _tiny("lake_queries")
    real_prepare = workload.prepare

    def prepare(spark, work_dir, seed):
        real_prepare(spark, work_dir, seed)
        n, cols, rows = workload.expected["q5_revenue_by_nation"]
        workload.expected["q5_revenue_by_nation"] = (n + 1, cols, rows)

    monkeypatch.setattr(workload, "prepare", prepare)
    work = str(tmp_path / "wrong")
    os.makedirs(work)
    result = harness.measure(spark, 0.0, workload, seed=5, seconds=1, traced=False, work=work)
    assert result["failed"] == 1 and result["attempted"] == 3
    assert "q5_revenue_by_nation" in result["notes"]["problems"][0]
