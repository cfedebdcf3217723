"""The fused data-quality path (one aggregate per table) must report
exactly what the per-test queries report, and fall back to them test
by test when the fused query fails."""

from __future__ import annotations

import uuid

import pytest
import yaml

from data_transformation_python_spark.model import ModelRegistry
from data_transformation_python_spark.state import create_state_manager
# the module, not its classes: pytest would try to collect ``TestRunner``
from data_transformation_python_spark import testing

ROWS = [
    # id: duplicate 1 and 3, two NULL keys; code: duplicate "b";
    # name: two NULLs; status: one NULL, one rejected "X";
    # qty: -1 below min, 99 above max
    (1, "a", "n1", "O", 5),
    (1, "b", "n2", "F", 0),
    (2, "b", None, "P", 10),
    (3, "c", "n4", None, -1),
    (3, "d", "n5", "X", 99),
    (3, "e", None, "O", 7),
    (None, "f", "n7", "F", 3),
    (None, "g", "n8", "P", 4),
    (4, "h", "n9", "O", 10),
]
COLUMNS = {
    "id": ["unique", "not_null"],
    "code": ["unique"],
    "name": ["not_null"],
    "status": [{"accepted_values": {"values": ["O", "F", "P"]}}],
    "qty": [{"range": {"min": 0, "max": 10}}, {"range": {"min": 5}}],
    "ts": [{"freshness": {"max_lag_hours": 12, "as_of": "2024-01-11 00:00:00"}}],
}
MISSING = {"no_such_col": ["not_null"]}
TABLE = f"dq_{uuid.uuid4().hex[:8]}"


class _Ex:  # the runner only needs ``.spark`` from its executor
    def __init__(self, spark):
        self.spark = spark


@pytest.fixture()
def runner(spark, tmp_path):
    models = [
        {
            "name": name,
            "tests": ["volume_anomaly"],
            "columns": [{"name": c, "tests": t} for c, t in cols.items()],
        }
        for name, cols in {
            "m": COLUMNS,
            "m_missing": {**COLUMNS, **MISSING},
            "m_flat": {c: COLUMNS[c] for c in ("name", "qty")},
        }.items()
    ]
    (tmp_path / "schema.yml").write_text(yaml.safe_dump({"models": models}))
    state = create_state_manager(tmp_path / "state", "dev")
    spark.createDataFrame(
        ROWS, "id INT, code STRING, name STRING, status STRING, qty INT"
    ).selectExpr("*", "TIMESTAMP '2024-01-10 00:00:00' AS ts").createOrReplaceTempView(
        TABLE
    )
    yield testing.TestRunner(_Ex(spark), ModelRegistry(tmp_path), state=state)
    spark.catalog.dropTempView(TABLE)


def _per_test(runner, column, test) -> int:
    """What the per-test ``test_*`` method returns for one test."""
    t = TABLE
    name, params = (test, {}) if isinstance(test, str) else next(iter(test.items()))
    if name == "unique":
        return runner.test_unique(t, column)
    if name == "not_null":
        return runner.test_not_null(t, column)
    if name == "accepted_values":
        return runner.test_accepted_values(t, column, params["values"])
    return runner.test_range(t, column, params.get("min"), params.get("max"))


def _spy(runner, monkeypatch) -> list:
    calls = []
    one = runner._run_one

    def run_one(model, table, column, test):
        calls.append((column, test))
        return one(model, table, column, test)

    monkeypatch.setattr(runner, "_run_one", run_one)
    return calls


def _check_against_per_test(runner, model, results, spark):
    cols = runner.registry.get(model).columns
    declared = [(c, t) for c, col in cols.items() for t in col.tests]
    assert [(r.column, r.test_name) for r in results[1:]] == [
        (c, t if isinstance(t, str) else next(iter(t))) for c, t in declared
    ]
    # volume_anomaly: first run passes and records the row count
    assert (results[0].test_name, results[0].passed) == ("volume_anomaly", True)
    assert runner.state.get_incremental_state(model, testing.AnomalyTests.VOLUME_KEY) == [
        len(ROWS)
    ]
    for r, (column, test) in zip(results[1:], declared):
        if r.test_name == "freshness":
            want = testing.AnomalyTests(spark, None).freshness(
                model, TABLE, column, **next(iter(test.values()))
            )
            assert (r.passed, r.rows_failed, r.error) == (
                want.passed, want.rows_failed, want.error
            )
            continue
        failed = _per_test(runner, column, test)
        assert r.error is None, r
        assert (r.rows_failed, r.passed) == (failed, failed == 0), (column, test)


def test_fused_matches_per_test_methods(runner, spark, monkeypatch):
    calls = _spy(runner, monkeypatch)
    results = runner.run_model_tests("m", TABLE)
    assert calls == []  # every test answered by the one fused query
    _check_against_per_test(runner, "m", results, spark)
    got = {(r.column, r.test_name, r.rows_failed) for r in results}
    # the figures themselves: NULL key is one duplicate group, NULL
    # status is not a rejected value
    assert {
        ("id", "unique", 3),
        ("id", "not_null", 2),
        ("code", "unique", 1),
        ("name", "not_null", 2),
        ("status", "accepted_values", 1),
        ("qty", "range", 2),
        ("qty", "range", 4),
        ("ts", "freshness", 1),
    } <= got


def test_fused_without_unique_is_one_level(runner, spark, monkeypatch):
    calls = _spy(runner, monkeypatch)
    results = runner.run_model_tests("m_flat", TABLE)
    assert calls == []
    _check_against_per_test(runner, "m_flat", results, spark)


def test_missing_column_falls_back_test_by_test(runner, spark, monkeypatch):
    calls = _spy(runner, monkeypatch)
    results = runner.run_model_tests("m_missing", TABLE)
    assert len(calls) == len(results)  # every test ran on its own
    bad = results[-1]
    assert (bad.column, bad.passed) == ("no_such_col", False)
    assert bad.error and "no_such_col" in bad.error
    results = results[:-1]
    runner.registry.get("m_missing").columns.pop("no_such_col")
    _check_against_per_test(runner, "m_missing", results, spark)


def test_run_all_keeps_table_order(runner):
    tables = {m: TABLE for m in ("m_flat", "m", "m_missing")}
    serial = [
        r for m, t in tables.items() for r in runner.run_model_tests(m, t)
    ]
    for m in tables:  # same volume history for the second pass
        runner.state.set_incremental_state(m, testing.AnomalyTests.VOLUME_KEY, [])
    concurrent = runner.run_all(tables)
    assert concurrent == serial
