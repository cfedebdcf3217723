"""CLI verb tests over a tmp copy of the example project (read-only
verbs + dry-run; execution verbs are covered by the e2e suite)."""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pytest
from click.testing import CliRunner

from data_transformation_python_spark import testing
from data_transformation_python_spark.cli import _parse_vars, cli
from data_transformation_python_spark.config import load_config
from data_transformation_python_spark.state import create_state_manager

EXAMPLE = Path(__file__).resolve().parents[1] / "example_project"


@pytest.fixture()
def proj(tmp_path):
    dst = tmp_path / "proj"
    shutil.copytree(EXAMPLE, dst)
    return str(dst)


def test_parse_vars():
    assert _parse_vars("a=1,b=2.5,c=x,d=-3") == {"a": 1, "b": 2.5, "c": "x", "d": -3}
    assert _parse_vars(None) == {}


def test_cli_list(proj):
    r = CliRunner().invoke(cli, ["--project-dir", proj, "list"])
    assert r.exit_code == 0, r.output
    assert "silver_orders" in r.output
    assert "materialized=incremental" in r.output


def test_cli_deps(proj):
    r = CliRunner().invoke(cli, ["--project-dir", proj, "deps", "gold_daily_revenue"])
    assert r.exit_code == 0, r.output
    out = json.loads(r.output)
    assert set(out["dependencies"]) == {"silver_orders", "bronze_orders"}


def test_cli_deps_topo(proj):
    r = CliRunner().invoke(cli, ["--project-dir", proj, "deps"])
    levels = json.loads(r.output)
    flat = [m for lv in levels for m in lv]
    assert flat.index("bronze_orders") < flat.index("silver_orders") < flat.index(
        "gold_daily_revenue"
    )


def test_cli_plan_fresh_project_creates_all(proj):
    r = CliRunner().invoke(cli, ["--project-dir", proj, "plan"])
    assert r.exit_code == 0, r.output
    out = json.loads(r.output)
    assert out["summary"]["create"] == 7
    assert out["summary"]["no_change"] == 0


def test_cli_lineage(proj):
    r = CliRunner().invoke(cli, ["--project-dir", proj, "lineage", "silver_orders"])
    assert r.exit_code == 0, r.output
    out = json.loads(r.output)
    cols = {c["column"] for c in out["silver_orders"]}
    assert "amount" in cols and "status" in cols


def test_cli_explain_shows_physical_plan(proj):
    r = CliRunner().invoke(
        cli, ["--project-dir", proj, "explain", "bronze_orders"]
    )
    assert r.exit_code == 0, r.output
    assert "Physical Plan" in r.output or "Scan" in r.output


@pytest.mark.parametrize("mode", ["simple", "extended", "formatted", "cost"])
def test_cli_explain_every_mode_parses(proj, mode):
    # 'simple' is not an EXPLAIN keyword in Spark SQL — it must map to
    # bare EXPLAIN, and all four advertised choices must succeed.
    r = CliRunner().invoke(
        cli, ["--project-dir", proj, "explain", "bronze_orders", "--mode", mode]
    )
    assert r.exit_code == 0, r.output
    assert "Plan" in r.output or "Scan" in r.output


def test_cli_run_all_downstream_selector(proj):
    # build everything once; the downstream selector then models the
    # real usage — rebuild the consumers of a changed model (dbt
    # semantics: other parents are assumed already built)
    r0 = CliRunner().invoke(cli, ["--project-dir", proj, "run-all"])
    assert r0.exit_code == 0, r0.output
    r = CliRunner().invoke(
        cli,
        ["--project-dir", proj, "run-all", "--select", "silver_orders+"],
    )
    assert r.exit_code == 0, r.output
    out = json.loads(r.output)
    ran = {x["model"] for x in out["results"]}
    # downstream closure of silver_orders — not bronze, not events
    assert "silver_orders" in ran
    assert "gold_daily_revenue" in ran and "gold_customer_totals" in ran
    assert "gold_orders_clustered" in ran
    assert "bronze_orders" not in ran and "events_hourly" not in ran


def test_cli_compact_reclusters_table(proj):
    r0 = CliRunner().invoke(cli, ["--project-dir", proj, "run-all"])
    assert r0.exit_code == 0, r0.output
    r = CliRunner().invoke(
        cli,
        ["--project-dir", proj, "compact", "gold_orders_clustered",
         "--cluster-by", "order_date", "--cluster-files", "2"],
    )
    assert r.exit_code == 0, r.output
    out = json.loads(r.output.strip().splitlines()[-1])
    assert out["files_after"] == 2
    assert out["files_before"] >= out["files_after"]


def test_cli_compact_sized_mode_registered():
    r = CliRunner().invoke(cli, ["compact", "--help"])
    assert r.exit_code == 0
    assert "--target-file-mb" in r.output and "--cluster-by" in r.output


def _dq_lines(output: str) -> list[list[str]]:
    return [ln.split("\t") for ln in output.splitlines() if ln.count("\t") == 3]


def test_cli_test_output_order_and_exit_code(proj, monkeypatch):
    """Sorted models, schema.yml order within a model, then the custom
    tests, however many tables run at once; exit code 1 on any failure."""
    r0 = CliRunner().invoke(cli, ["--project-dir", proj, "run-all"])
    assert r0.exit_code == 0, r0.output
    r = CliRunner().invoke(cli, ["--project-dir", proj, "test"])
    assert r.exit_code == 0, r.output
    assert [ln[:3] for ln in _dq_lines(r.output)] == [
        ["gold_daily_revenue", "volume_anomaly", "-"],
        ["gold_daily_revenue", "not_null", "order_date"],
        ["silver_orders", "volume_anomaly", "-"],
        ["silver_orders", "unique", "order_id"],
        ["silver_orders", "not_null", "order_id"],
        ["silver_orders", "accepted_values", "status"],
        ["silver_orders", "range", "amount"],
        ["custom", "no_negative_revenue", "-"],
    ]
    assert all(ln[3] == "PASS" for ln in _dq_lines(r.output))
    (Path(proj) / "tests" / "always_fails.sql").write_text("SELECT 2 AS failed_rows")
    monkeypatch.setattr(testing, "TEST_THREADS", 1)
    serial = CliRunner().invoke(cli, ["--project-dir", proj, "test"])
    assert serial.exit_code == 1, serial.output
    assert _dq_lines(serial.output)[-2:] == [  # custom tests in file order
        ["custom", "always_fails", "-", "FAIL(2)"],
        ["custom", "no_negative_revenue", "-", "PASS"],
    ]
    monkeypatch.undo()
    r = CliRunner().invoke(cli, ["--project-dir", proj, "test"])
    assert r.exit_code == 1
    assert r.output == serial.output


def test_cli_test_model_runs_only_the_custom_tests_reading_it(proj):
    """`test --model M` runs the custom tests that read M's table and
    no others; the example project's one custom test reads
    gold_daily_revenue."""
    (Path(proj) / "tests" / "reads_nothing.sql").write_text("SELECT 0 AS failed_rows")

    def custom(*args):
        r = CliRunner().invoke(cli, ["--project-dir", proj, "test", *args])
        return [ln[1] for ln in _dq_lines(r.output) if ln[0] == "custom"]

    assert custom("--model", "silver_orders") == []
    assert custom("--model", "gold_daily_revenue") == ["no_negative_revenue"]


def test_cli_test_keeps_volume_history(proj, spark):
    """`test` saves the volume_anomaly history it records: a table that
    tripled since the last `test` fails on the next one."""
    r0 = CliRunner().invoke(cli, ["--project-dir", proj, "run-all"])
    assert r0.exit_code == 0, r0.output
    r1 = CliRunner().invoke(cli, ["--project-dir", proj, "test", "--model", "silver_orders"])
    assert ["silver_orders", "volume_anomaly", "-", "PASS"] in _dq_lines(r1.output)
    rows = spark.table("analytics.silver_orders")
    rows.unionAll(rows).localCheckpoint().write.insertInto("analytics.silver_orders")
    r2 = CliRunner().invoke(cli, ["--project-dir", proj, "test", "--model", "silver_orders"])
    assert r2.exit_code == 1
    volume = [ln[3] for ln in _dq_lines(r2.output) if ln[1] == "volume_anomaly"]
    assert len(volume) == 1 and volume[0].startswith("FAIL("), r2.output


def test_cli_test_keeps_state_saved_meanwhile(proj, monkeypatch):
    """`test` writes back only the volume history it recorded: what
    another command saved while the tests ran is kept."""
    r0 = CliRunner().invoke(cli, ["--project-dir", proj, "run-all"])
    assert r0.exit_code == 0, r0.output
    cfg = load_config(proj, None)
    run_all = testing.TestRunner.run_all

    def run_all_then_save_elsewhere(self, tables, **kw):
        results = run_all(self, tables, **kw)
        other = create_state_manager(cfg.state_dir, cfg.env_name)
        other.ensure("silver_orders").file_hash = "saved-meanwhile"
        other.set_incremental_state("silver_orders", "watermark", "w1")
        other.save()
        return results

    monkeypatch.setattr(testing.TestRunner, "run_all", run_all_then_save_elsewhere)
    r = CliRunner().invoke(cli, ["--project-dir", proj, "test", "--model", "silver_orders"])
    assert r.exit_code == 0, r.output
    st = create_state_manager(cfg.state_dir, cfg.env_name).get("silver_orders")
    assert st.file_hash == "saved-meanwhile"
    assert st.incremental_state["watermark"] == "w1"
    assert len(st.incremental_state[testing.AnomalyTests.VOLUME_KEY]) == 1
