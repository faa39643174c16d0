"""io/driver_rows.driver_rows_df: driver-side row lists become the same
DataFrame the list path of `spark.createDataFrame` builds, but planned
as a JVM-only LocalTableScan (no Python RDD) — and it is the only place
in io/, operators/ and jobs/ that calls createDataFrame."""

from __future__ import annotations

from pathlib import Path

import pytest

from go_pkg_spider_spark.io.driver_rows import driver_rows_df
from go_pkg_spider_spark.io.manifest import MANIFEST_SCHEMA
from go_pkg_spider_spark.io.stages import manifest_schema

ROOT = Path(__file__).resolve().parent.parent

BUCKET_ROWS = [
    (0, "done", 10, 8, {"": 8, "too_short": 2}, 1.5, "r1", 1700000000, "sig", 7),
    (1, "running", None, None, None, None, "r1", 1700000001, "sig", 8),
    # map values holding None, NULL run_id/seq
    (2, "done", 3, 0, {"": None, "x": 3}, 0.0, None, 1700000002, None, None),
]
STAGE_ROWS = [
    ("pairs", "done", 4, {"params_sig": "{}", "n_buckets": None}, 0.25, "r", 1, 0),
    ("exact", "done", None, None, None, None, 2, None),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def _sorted(rows):
    return sorted(rows, key=repr)


@pytest.mark.parametrize(
    "rows, schema",
    [(BUCKET_ROWS, MANIFEST_SCHEMA), (STAGE_ROWS, manifest_schema())],
    ids=["bucket_manifest", "stage_manifest"],
)
def test_round_trip_matches_list_path(spark, rows, schema):
    new = driver_rows_df(spark, rows, schema)
    old = spark.createDataFrame(rows, schema)
    assert new.schema == schema
    got = new.collect()
    assert _sorted(got) == _sorted(old.collect())
    # Row inputs (what collect() returns, e.g. the stage purge's kept
    # rows) round-trip to the same rows
    assert _sorted(driver_rows_df(spark, got, schema).collect()) == _sorted(got)


@pytest.mark.parametrize("schema", [MANIFEST_SCHEMA, manifest_schema()])
def test_empty_list_keeps_schema(spark, schema):
    df = driver_rows_df(spark, [], schema)
    assert df.schema == schema
    assert df.collect() == []


def test_plans_as_local_table_scan(spark):
    df = driver_rows_df(spark, BUCKET_ROWS[:1], MANIFEST_SCHEMA)
    plan = _plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    # one row, one partition: a one-row append writes one file
    assert df.rdd.getNumPartitions() == 1
    # the list path it replaces scans a Python RDD
    assert "ExistingRDD" in _plan(spark.createDataFrame(BUCKET_ROWS[:1], MANIFEST_SCHEMA))


def test_create_dataframe_only_in_helper():
    """Per-row Python-RDD writes stay out of the program's job paths:
    row lists go through driver_rows_df."""
    helper = ROOT / "go_pkg_spider_spark" / "io" / "driver_rows.py"
    dirs = [
        ROOT / "go_pkg_spider_spark" / "io",
        ROOT / "go_pkg_spider_spark" / "operators",
        ROOT / "jobs",
    ]
    offenders = [
        f"{p.relative_to(ROOT)}:{i}"
        for d in dirs
        for p in sorted(d.rglob("*.py"))
        if p != helper
        for i, line in enumerate(p.read_text(encoding="utf-8").splitlines(), 1)
        if "createDataFrame(" in line
    ]
    assert offenders == []
