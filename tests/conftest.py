from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from parquet_export_spark.session import get_spark

    s = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.warehouse.dir": "/tmp/spark-graft-warehouse",
            # Driver parity: the correctness harness runs its own session
            # with ANSI enabled. Running the whole suite ANSI-on ensures no
            # query silently depends on session.py's permissive default
            # (round-1 lesson: minhash overflowed only under the driver).
            "spark.sql.ansi.enabled": "true",
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def pytest_collection_modifyitems(items):
    """Run the registry-wide plan lint last: it reads the findings the
    per-entry oracle tests recorded on the plans they built."""
    items.sort(key=lambda item: item.path.name == "test_plan_lint.py")
