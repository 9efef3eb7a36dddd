"""``catalog.load`` reads with declared schemas: no Spark job while a
plan is built, the same schema inference would give, and drift in the
stored files still fails loud (a reference to a missing column at
analysis, as under inference, a stored type wider than declared at the
first action)."""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_001 = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")


def _declared_tables():
    from database_scan_spark.catalog import TABLES

    return sorted(t for t in TABLES if t != "events")


def _fixture_with(tmp_path, name, table):
    """``SF_SMOKE`` with ``name`` replaced by ``table`` (a pyarrow
    table, or a callable writing ``name``'s path itself)."""
    tmp_path.mkdir(exist_ok=True)
    for t in os.listdir(SF_SMOKE):
        if t != f"{name}.parquet":
            os.symlink(os.path.join(SF_SMOKE, t), tmp_path / t)
    path = str(tmp_path / f"{name}.parquet")
    if callable(table):
        table(path)
    else:
        pq.write_table(table, path)
    return str(tmp_path)


def test_load_starts_no_spark_job(spark):
    from database_scan_spark.catalog import load

    sc = spark.sparkContext
    group = "test_load_starts_no_spark_job"
    sc.setJobGroup(group, group)
    try:
        for t in _declared_tables():
            load(spark, SF_SMOKE, t)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events arrive asynchronously
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.fixture(scope="module")
def scaled_fixture(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("catalog_scaled") / "x2")
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "gen_scale_fixture.py"),
         "--src", SF_SMOKE, "--out", out, "--copies", "2"],
        check=True, capture_output=True,
    )
    return out


@pytest.mark.parametrize("which", ["sf0.01", "gen_scale_fixture"])
def test_load_schema_equals_inferred(spark, scaled_fixture, which):
    from database_scan_spark.catalog import load, table_path

    sf_dir = SF_001 if which == "sf0.01" else scaled_fixture
    for t in _declared_tables():
        inferred = spark.read.parquet(table_path(sf_dir, t)).schema
        assert load(spark, sf_dir, t).schema == inferred, t


def _assert_column_missing(df, col):
    from pyspark.errors import AnalysisException

    assert col not in df.columns
    with pytest.raises(AnalysisException, match=rf"(?s)UNRESOLVED_COLUMN.*{col}"):
        df.select(col).collect()


def test_load_drops_missing_column(spark, tmp_path):
    """A declared read alone would surface ``n_regionkey`` as NULLs."""
    from database_scan_spark.catalog import load

    nation = pq.read_table(os.path.join(SF_SMOKE, "nation.parquet")).drop(["n_regionkey"])
    df = load(spark, _fixture_with(tmp_path, "nation", nation), "nation")
    assert df.count() == 25
    _assert_column_missing(df, "n_regionkey")


def test_load_checks_directory_of_part_files(spark, tmp_path):
    from database_scan_spark.catalog import load

    src = os.path.join(SF_SMOKE, "region.parquet")
    full = _fixture_with(
        tmp_path / "full", "region",
        lambda p: spark.read.parquet(src).repartition(2).write.parquet(p),
    )
    assert load(spark, full, "region").count() == 5
    short = _fixture_with(
        tmp_path / "short", "region",
        lambda p: spark.read.parquet(src).drop("r_name").repartition(2).write.parquet(p),
    )
    _assert_column_missing(load(spark, short, "region"), "r_name")


def test_load_wider_stored_type_fails_at_first_action(spark, tmp_path):
    from database_scan_spark.catalog import load

    region = pq.read_table(os.path.join(SF_SMOKE, "region.parquet"))
    region = region.set_column(0, "r_regionkey", region["r_regionkey"].cast(pa.int64()))
    sf_dir = _fixture_with(tmp_path, "region", region)
    df = load(spark, sf_dir, "region")
    with pytest.raises(Exception, match=r"(?s)PARQUET_COLUMN_DATA_TYPE_MISMATCH.*region\.parquet"):
        df.collect()


def test_schema_contract_audits_stored_types(spark, tmp_path):
    """``dq_schema_contract`` reports a column whose stored type drifted
    from the declared one: its physical side reads the footers, not
    ``load``'s declared schema."""
    from database_scan_spark.operators.quality import dq_schema_contract

    nation = pq.read_table(os.path.join(SF_SMOKE, "nation.parquet"))
    nation = nation.set_column(2, "n_regionkey", nation["n_regionkey"].cast(pa.int64()))
    sf_dir = _fixture_with(tmp_path, "nation", nation)
    bad = {
        (r.tbl, r.col, r.declared_type, r.actual_type)
        for r in dq_schema_contract(spark, sf_dir).collect()
        if not r.is_match
    }
    assert bad == {("nation", "n_regionkey", "int", "bigint")}
