"""End-to-end framework lifecycle over the example project: parse →
DAG → materialize all layers → incremental re-run → data-quality
tests → plan diffing.  This is the §3.1/§3.2 lifecycle executed on
local Spark against the driver's parquet fixtures."""

from __future__ import annotations

import shutil
from pathlib import Path
import uuid

import pytest

from data_transformation_python_spark.config import load_config
from data_transformation_python_spark.dependency import (
    ParallelExecutor,
    build_dependency_graph,
)
from data_transformation_python_spark.executor import ModelExecutor, SparkExecutor
from data_transformation_python_spark.model import ModelRegistry
from data_transformation_python_spark.parser import SQLParser
from data_transformation_python_spark.plans import ChangeType, PlanGenerator
from data_transformation_python_spark.state import create_state_manager
from data_transformation_python_spark.testing import TestRunner

EXAMPLE = Path(__file__).resolve().parents[1] / "example_project"


@pytest.fixture(scope="module")
def project(tmp_path_factory, spark):
    """Copy the example project into a tmp dir (isolated .state) and
    build the full executor stack on a unique database."""
    proj = tmp_path_factory.mktemp("proj") / "example_project"
    shutil.copytree(EXAMPLE, proj)
    db = f"analytics_{uuid.uuid4().hex[:8]}"
    # point the custom SQL test at the unique database
    tst = proj / "tests" / "no_negative_revenue.sql"
    tst.write_text(tst.read_text().replace("analytics.", f"{db}."))

    config = load_config(proj)
    config.database = db
    parser = SQLParser(config.models_dir)
    state = create_state_manager(config.state_dir, config.env_name)
    ex = SparkExecutor(spark, database=db)
    mx = ModelExecutor(ex, parser, config, state)
    yield {"config": config, "parser": parser, "state": state, "ex": ex, "mx": mx, "db": db}
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def _run_all(project) -> list[dict]:
    parsed = project["parser"].parse_directory()
    graph = build_dependency_graph(parsed)
    levels = graph.topological_sort()
    return ParallelExecutor(max_parallelism=4).execute_levels(
        levels, lambda name: project["mx"].execute_model(name), graph
    )


def test_full_dag_run(project, spark):
    results = _run_all(project)
    failed = [r for r in results if not r.get("success")]
    assert not failed, failed
    db = project["db"]

    # view layer
    assert spark.catalog.tableExists(f"{db}.bronze_orders")
    # typed silver table
    silver = spark.table(f"{db}.silver_orders")
    dtypes = dict(silver.dtypes)
    assert dtypes["amount"] == "decimal(12,2)"
    assert dtypes["order_date"] == "date"
    assert silver.count() > 0
    # gold aggregate equals direct recomputation
    gold = spark.table(f"{db}.gold_daily_revenue")
    expected = silver.groupBy("order_date").count().count()
    assert gold.count() == expected
    # incremental + time models exist
    assert spark.catalog.tableExists(f"{db}.gold_customer_totals")
    assert spark.catalog.tableExists(f"{db}.events_hourly")


def test_incremental_rerun_merges(project, spark):
    db = project["db"]
    before = spark.table(f"{db}.gold_customer_totals").collect()
    r = project["mx"].execute_model("gold_customer_totals")
    assert r["success"] and r.get("incremental_strategy") == "unique_key"
    after = spark.table(f"{db}.gold_customer_totals").collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))


def test_time_incremental_rerun_appends_nothing_new(project, spark):
    db = project["db"]
    n_before = spark.table(f"{db}.events_hourly").count()
    r = project["mx"].execute_model("events_hourly")
    assert r["success"] and r.get("incremental_strategy") == "time"
    assert r.get("watermark") is not None
    assert spark.table(f"{db}.events_hourly").count() == n_before


def test_data_quality_suite(project):
    config = project["config"]
    registry = ModelRegistry(config.models_dir)
    runner = TestRunner(
        project["ex"], registry, config.tests_dir, state=project["state"]
    )
    results = runner.run_model_tests(
        "silver_orders", f"{project['db']}.silver_orders"
    )
    assert results, "schema.yml tests must run"
    by_name = {(r.test_name, r.column): r for r in results}
    assert by_name[("unique", "order_id")].passed
    assert by_name[("not_null", "order_id")].passed
    assert by_name[("accepted_values", "status")].passed
    assert by_name[("range", "amount")].passed
    assert by_name[("volume_anomaly", None)].passed  # first run seeds

    custom = runner.run_custom_sql_tests()
    assert custom and all(r.passed for r in custom), [
        (r.test_name, r.error) for r in custom
    ]


def test_plan_no_change_after_run(project):
    parsed = project["parser"].parse_directory()
    graph = build_dependency_graph(parsed)
    plan = PlanGenerator(project["state"], graph).generate_plan(parsed)
    changes = {n: mp.change_type for n, mp in plan.models.items()}
    assert all(c is ChangeType.NO_CHANGE for c in changes.values()), changes


def test_plan_detects_edit(project):
    parsed = dict(project["parser"].parse_directory())
    # simulate an edited file by forging a new hash
    import dataclasses

    edited = dataclasses.replace(parsed["silver_orders"], file_hash="different")
    parsed["silver_orders"] = edited
    graph = build_dependency_graph(parsed)
    plan = PlanGenerator(project["state"], graph).generate_plan(parsed)
    assert plan.models["silver_orders"].change_type is ChangeType.UPDATE
    assert "silver_orders" in plan.changed()


def test_dry_run_compiles_without_executing(project):
    r = project["mx"].execute_model(
        "silver_orders", dry_run=True
    )
    assert r["success"] and r["dry_run"]
    assert "__REF_" not in r["sql"] and "$min_amount" not in r["sql"]
    assert f"{project['db']}.bronze_orders" in r["sql"]


def test_missing_variable_error(project, tmp_path):
    mdir = project["config"].models_dir
    bad = mdir / "needs_var.sql"
    bad.write_text("SELECT * FROM {{ ref('silver_orders') }} WHERE amount > $missing_var")
    try:
        r = project["mx"].execute_model("needs_var")
        assert not r["success"]
        assert "missing_var" in r["error"]
    finally:
        bad.unlink()
        project["mx"]._file_cache.pop("needs_var", None)
