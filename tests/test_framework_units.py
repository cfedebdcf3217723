"""Unit coverage for the remaining framework pieces: $variable
substitution, backfill slicing, the polling watcher, column lineage,
result formatting, and config env-var substitution."""

from __future__ import annotations

import datetime as dt

import pytest

from data_transformation_python_spark.backfill import BackfillExecutor
from data_transformation_python_spark.config import (
    SourceRegistry,
    substitute_env_vars,
)
from data_transformation_python_spark.formatter import ResultFormatter
from data_transformation_python_spark.lineage import (
    LineageGraph,
    extract_column_lineage,
)
from data_transformation_python_spark.sqlvars import (
    MissingVariableError,
    format_literal,
    substitute_variables,
)
from data_transformation_python_spark.watcher import ModelWatcher


# -- sqlvars (reference: executor.py:341-397, cdc_polars.py:572-585) ---
def test_literal_encodings():
    assert format_literal(None) == "NULL"
    assert format_literal(True) == "TRUE"
    assert format_literal(False) == "FALSE"
    assert format_literal(42) == "42"
    assert format_literal(2.5) == "2.5"
    assert format_literal("o'brien") == "'o''brien'"
    assert format_literal(dt.date(2024, 1, 2)) == "'2024-01-02'"
    assert format_literal(dt.datetime(2024, 1, 2, 3, 4, 5)) == "'2024-01-02 03:04:05'"


def test_substitution_single_pass_and_strict():
    sql = "SELECT * FROM t WHERE a > $x AND b = $name"
    out = substitute_variables(sql, {"x": 10, "name": "it's"})
    assert out == "SELECT * FROM t WHERE a > 10 AND b = 'it''s'"
    with pytest.raises(MissingVariableError):
        substitute_variables(sql, {"x": 1})
    # non-strict leaves unknowns in place
    assert "$name" in substitute_variables(sql, {"x": 1}, strict=False)


# -- config ------------------------------------------------------------
def test_env_var_substitution(monkeypatch):
    monkeypatch.setenv("MY_DB", "prod_db")
    assert substitute_env_vars("db: ${MY_DB}") == "db: prod_db"
    assert substitute_env_vars("db: ${UNSET_X:-fallback}") == "db: fallback"
    with pytest.raises(KeyError):
        substitute_env_vars("db: ${UNSET_NO_DEFAULT}")


def test_source_registry_identifier_and_path():
    reg = SourceRegistry(
        {
            "sources": {
                "raw": {
                    "database": "lake",
                    "schema": "bronze",
                    "tables": {
                        "orders": {},
                        "events": {"path": "/data/events", "format": "json"},
                        "named": {"identifier": "x.y.z"},
                    },
                }
            }
        }
    )
    assert reg.get("raw", "orders").identifier == "lake.bronze.orders"
    assert reg.get("raw", "events").path == "/data/events"
    assert reg.get("raw", "named").identifier == "x.y.z"
    with pytest.raises(KeyError):
        reg.get("raw", "nope")


# -- backfill (reference: backfill.py:15-85) ---------------------------
def test_backfill_slices():
    s = BackfillExecutor.date_slices("2024-01-01", "2024-01-10", 4)
    assert s == [
        ("2024-01-01", "2024-01-04"),
        ("2024-01-05", "2024-01-08"),
        ("2024-01-09", "2024-01-10"),
    ]
    assert BackfillExecutor.date_slices("2024-01-01", "2024-01-01", 7) == [
        ("2024-01-01", "2024-01-01")
    ]


def test_backfill_passes_vars_per_slice():
    calls = []

    class FakeMX:
        fail_fast = False

        def execute_model(self, model, variables=None, dry_run=False):
            calls.append(variables)
            return {"model": model, "success": True}

    res = BackfillExecutor(FakeMX()).backfill_date_range(
        "m", "2024-01-01", "2024-01-03", 2, variables={"region": "eu"}
    )
    assert len(res) == 2
    assert calls[0]["start_date"] == "2024-01-01"
    assert calls[0]["end_date"] == "2024-01-02"
    assert calls[1]["start_date"] == "2024-01-03"
    assert all(c["region"] == "eu" for c in calls)


# -- watcher (reference: watcher.py:19-148) ----------------------------
def test_watcher_poll_events(tmp_path):
    events = []
    w = ModelWatcher(tmp_path, lambda ev, p: events.append((ev, p.name)))
    w.poll_once()  # establish baseline
    f = tmp_path / "m.sql"
    f.write_text("SELECT 1")
    assert ("created", "m.sql") in [e for e in w.poll_once()] or (
        "created",
        "m.sql",
    ) in events
    import os

    os.utime(f, (0, 0))
    w.poll_once()
    assert ("modified", "m.sql") in events
    f.unlink()
    w.poll_once()
    assert ("deleted", "m.sql") in events
    # non-watched suffixes ignored
    (tmp_path / "notes.txt").write_text("x")
    n = len(events)
    w.poll_once()
    assert len(events) == n


# -- lineage (reference: parser.py:374-432, utils/lineage.py) ----------
def test_column_lineage_simple():
    sql = """
    SELECT o.order_id AS id,
           UPPER(TRIM(c.name)) AS customer_name,
           o.amount
    FROM orders o JOIN customers c ON o.customer_id = c.customer_id
    """
    lin = {cl.column: cl for cl in extract_column_lineage(sql)}
    assert ("orders", "order_id") in lin["id"].sources
    assert ("customers", "name") in lin["customer_name"].sources
    assert "upper" in lin["customer_name"].transformations
    assert ("orders", "amount") in lin["amount"].sources


def test_lineage_impact_closure():
    lg = LineageGraph()
    lg.add_model(
        "silver",
        extract_column_lineage("SELECT amount AS amt FROM orders"),
    )
    lg.add_model(
        "gold",
        extract_column_lineage("SELECT SUM(amt) AS total FROM silver"),
    )
    impacted = lg.downstream("orders", "amount")
    assert ("silver", "amt") in impacted
    assert ("gold", "total") in impacted


def test_column_lineage_cte_star_matches_spark_extractor(spark):
    """Parse-time (sessionless) lineage must resolve CTEs: a CTE's
    output columns are known from its body, so ``cte.*`` expands to
    real columns traced to base tables — the same answer the
    Spark-analyzer extractor gives for identical SQL."""
    from data_transformation_python_spark.lineage import (
        extract_column_lineage_spark,
    )

    sql = """
    WITH enriched AS (
      SELECT o.order_id AS order_key, c.name AS cust_name, o.amount
      FROM cte_orders o JOIN cte_customers c ON o.customer_id = c.customer_id
    )
    SELECT e.*, UPPER(cust_name) AS cust_upper FROM enriched e
    """
    parsed = extract_column_lineage(sql)
    by_col = {cl.column: sorted(cl.sources) for cl in parsed}
    assert by_col["order_key"] == [("cte_orders", "order_id")]
    assert by_col["cust_name"] == [("cte_customers", "name")]
    assert by_col["amount"] == [("cte_orders", "amount")]
    assert by_col["cust_upper"] == [("cte_customers", "name")]

    # must agree with the analyzer-grade extractor on the same SQL
    spark.createDataFrame(
        [(10, 1, 2.5)], "order_id bigint, customer_id bigint, amount double"
    ).createOrReplaceTempView("cte_orders")
    spark.createDataFrame(
        [(1, "a")], "customer_id bigint, name string"
    ).createOrReplaceTempView("cte_customers")
    analyzed = {
        cl.column: sorted(cl.sources)
        for cl in extract_column_lineage_spark(spark, sql)
    }
    assert by_col == analyzed


def test_column_lineage_derived_table_join_matches_spark_extractor(spark):
    """Sessionless lineage must resolve FROM/JOIN derived tables like
    CTEs: ``(SELECT …) t`` bodies trace through to base tables, and
    the answer matches the Spark-analyzer extractor on the same SQL."""
    from data_transformation_python_spark.lineage import (
        extract_column_lineage_spark,
    )

    sql = """
    SELECT t.order_key, u.cust_name, t.amount AS amt
    FROM (SELECT order_id AS order_key, customer_id, amount
          FROM dt_orders) t
    JOIN (SELECT customer_id, name AS cust_name FROM dt_customers) AS u
      ON t.customer_id = u.customer_id
    """
    by_col = {cl.column: sorted(cl.sources) for cl in extract_column_lineage(sql)}
    assert by_col["order_key"] == [("dt_orders", "order_id")]
    assert by_col["cust_name"] == [("dt_customers", "name")]
    assert by_col["amt"] == [("dt_orders", "amount")]

    spark.createDataFrame(
        [(10, 1, 2.5)], "order_id bigint, customer_id bigint, amount double"
    ).createOrReplaceTempView("dt_orders")
    spark.createDataFrame(
        [(1, "a")], "customer_id bigint, name string"
    ).createOrReplaceTempView("dt_customers")
    analyzed = {
        cl.column: sorted(cl.sources)
        for cl in extract_column_lineage_spark(spark, sql)
    }
    assert by_col == analyzed


def test_column_lineage_nested_derived_table_sessionless():
    """Derived tables nest: the inner body resolves first, the outer
    references chain through it to the base table."""
    sql = """
    SELECT big.total FROM (
      SELECT SUM(amt) AS total
      FROM (SELECT amount AS amt FROM raw_orders) inner_q
    ) big
    """
    by_col = {cl.column: sorted(cl.sources) for cl in extract_column_lineage(sql)}
    assert by_col["total"] == [("raw_orders", "amount")]


def test_column_lineage_chained_ctes_sessionless():
    """Later CTEs see earlier ones; references chain to base tables."""
    sql = """
    WITH s AS (SELECT amount AS amt, region FROM raw_orders),
         g AS (SELECT region, SUM(amt) AS total FROM s GROUP BY region)
    SELECT region, total FROM g
    """
    by_col = {cl.column: sorted(cl.sources) for cl in extract_column_lineage(sql)}
    assert by_col["total"] == [("raw_orders", "amount")]
    assert by_col["region"] == [("raw_orders", "region")]


# -- formatter (reference: executor.py:455-514, S13) -------------------
def test_formatter_outputs():
    rows = [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]
    js = ResultFormatter.format(rows, "json")
    assert '"a": 1' in js
    csv_out = ResultFormatter.format(rows, "csv")
    assert csv_out.splitlines()[0] == "a,b"
    tbl = ResultFormatter.format(rows, "table")
    assert "| a " in tbl and "| 2 " in tbl
    assert ResultFormatter.format([], "table") == "(no rows)"
    assert len(ResultFormatter.format(rows, "csv", limit=1).splitlines()) == 2


# -- typed error hierarchy (reference: utils/errors.py) ----------------
def test_error_hierarchy_types_and_exit_codes():
    from data_transformation_python_spark import errors as E

    # every typed error is a FrameworkError with a distinct exit code
    classes = [
        E.ConfigError,
        E.ModelNotFoundError,
        E.SQLParseError,
        E.MissingVariableError,
        E.DependencyError,
        E.CircularDependencyError,
        E.MaterializationError,
        E.ModelExecutionError,
    ]
    codes = [c.exit_code for c in classes]
    assert all(issubclass(c, E.FrameworkError) for c in classes)
    assert len(set(codes)) == len(codes)
    # backward compat: historical stdlib bases still match
    assert issubclass(E.ModelNotFoundError, FileNotFoundError)
    assert issubclass(E.MaterializationError, ValueError)
    assert issubclass(E.ModelExecutionError, RuntimeError)
    # re-export sites raise the typed classes
    from data_transformation_python_spark.dependency import (
        CircularDependencyError as DepCycleError,
    )
    from data_transformation_python_spark.parser import SQLParseError as PSQLErr
    from data_transformation_python_spark.sqlvars import (
        MissingVariableError as MVErr,
    )

    assert issubclass(DepCycleError, E.CircularDependencyError)
    assert issubclass(PSQLErr, E.FrameworkError)
    assert issubclass(MVErr, E.FrameworkError)


def test_parser_cache_keyed_by_path(tmp_path):
    """Two byte-identical model files must stay distinct models
    (content-hash-keyed caches collide and silently drop one)."""
    from data_transformation_python_spark.parser import SQLParser

    (tmp_path / "a.sql").write_text("SELECT 1 AS x")
    (tmp_path / "b.sql").write_text("SELECT 1 AS x")
    parser = SQLParser(tmp_path)
    out = parser.parse_directory()
    assert set(out) == {"a", "b"}
    assert out["a"].name == "a" and out["b"].name == "b"
    # hash validation: editing a file invalidates its cache entry only
    (tmp_path / "a.sql").write_text("SELECT 2 AS x")
    out2 = parser.parse_directory()
    assert "SELECT 2" in out2["a"].rendered_sql
    assert "SELECT 1" in out2["b"].rendered_sql


def test_state_manager_concurrent_mutation(tmp_path):
    """Mutators must be lock-protected: concurrent update/save must not
    lose updates or die with dict-changed-during-iteration."""
    import threading

    from data_transformation_python_spark.state import create_state_manager

    sm = create_state_manager(tmp_path)
    n_threads, n_models = 8, 30
    errs = []

    def work(t):
        try:
            for i in range(n_models):
                sm.update_model_state(f"m{t}_{i}", file_hash=f"h{i}")
                sm.set_incremental_state(f"m{t}_{i}", "wm", i)
                sm.save()
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=work, args=(t,)) for t in range(n_threads)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert len(sm.models) == n_threads * n_models
    sm2 = create_state_manager(tmp_path)
    assert len(sm2.models) == n_threads * n_models


# -- analyzer-grade column lineage (reference: parser.py:374-432) ------
def test_spark_lineage_star_through_join(spark):
    """The reference README's ref() join example (reference:
    README.md:395-402): SELECT * through a two-table join must expand
    to per-column sources on the correct side."""
    from data_transformation_python_spark.lineage import (
        extract_column_lineage_spark,
    )

    spark.createDataFrame(
        [(1, "a")], "customer_id bigint, name string"
    ).createOrReplaceTempView("bronze_raw_customers")
    spark.createDataFrame(
        [(10, 1, 2.5)], "order_id bigint, customer_id bigint, amount double"
    ).createOrReplaceTempView("bronze_raw_orders")
    cols = extract_column_lineage_spark(
        spark,
        "SELECT * FROM bronze_raw_orders o "
        "JOIN bronze_raw_customers c ON o.customer_id = c.customer_id",
    )
    got = {(c.column, tuple(c.sources)) for c in cols}
    assert ("order_id", (("bronze_raw_orders", "order_id"),)) in got
    assert ("amount", (("bronze_raw_orders", "amount"),)) in got
    assert ("name", (("bronze_raw_customers", "name"),)) in got
    # both customer_id outputs keep side-specific provenance
    cust_srcs = sorted(
        s for c in cols if c.column == "customer_id" for s in c.sources
    )
    assert cust_srcs == [
        ("bronze_raw_customers", "customer_id"),
        ("bronze_raw_orders", "customer_id"),
    ]


def test_spark_lineage_cte_agg_and_transformations(spark):
    from data_transformation_python_spark.lineage import (
        extract_column_lineage_spark,
    )

    spark.createDataFrame(
        [(10, 1, 2.5)], "order_id bigint, customer_id bigint, amount double"
    ).createOrReplaceTempView("lin_orders")
    spark.createDataFrame(
        [(1, "a")], "customer_id bigint, name string"
    ).createOrReplaceTempView("lin_customers")
    cols = {
        c.column: c
        for c in extract_column_lineage_spark(
            spark,
            """
            WITH totals AS (
              SELECT customer_id, SUM(amount) AS total
              FROM lin_orders GROUP BY customer_id)
            SELECT UPPER(c.name) AS shout, t.total
            FROM totals t JOIN lin_customers c
              ON t.customer_id = c.customer_id
            """,
        )
    }
    assert cols["shout"].sources == [("lin_customers", "name")]
    assert "upper" in cols["shout"].transformations
    # aggregate provenance traces through the CTE to the base column
    assert cols["total"].sources == [("lin_orders", "amount")]


def test_spark_lineage_union_and_explode(spark):
    from data_transformation_python_spark.lineage import (
        extract_column_lineage_spark,
    )

    spark.createDataFrame(
        [(1, "a b")], "doc_id bigint, text string"
    ).createOrReplaceTempView("lin_docs")
    cols = {
        c.column: c
        for c in extract_column_lineage_spark(
            spark,
            "SELECT doc_id, tok FROM (SELECT doc_id, "
            "explode(split(text, ' ')) AS tok FROM lin_docs)",
        )
    }
    assert cols["doc_id"].sources == [("lin_docs", "doc_id")]
    assert cols["tok"].sources == [("lin_docs", "text")]


def test_watcher_inotify_backend_is_event_driven(tmp_path):
    """On Linux the watcher must run on real kernel events: with a
    5-second poll interval, a file write must still be reported in
    well under a second — impossible for the polling backend."""
    import time as _time

    events = []
    w = ModelWatcher(
        tmp_path,
        lambda ev, p: events.append((ev, p.name)),
        poll_interval=5.0,
    )
    assert w.backend_name == "inotify"
    w.start()
    try:
        _time.sleep(0.2)  # let the loop reach select()
        (tmp_path / "fast.sql").write_text("SELECT 1")
        deadline = _time.time() + 2.0
        while _time.time() < deadline and ("created", "fast.sql") not in events:
            _time.sleep(0.05)
        assert ("created", "fast.sql") in events
        # new subdirectories get watches too (the rescan re-registers)
        sub = tmp_path / "silver"
        sub.mkdir()
        _time.sleep(0.3)  # burst settle + watch registration
        (sub / "nested.sql").write_text("SELECT 2")
        deadline = _time.time() + 2.0
        while _time.time() < deadline and ("created", "nested.sql") not in events:
            _time.sleep(0.05)
        assert ("created", "nested.sql") in events
    finally:
        w.stop()


def test_watcher_stop_ends_a_wait_in_progress(tmp_path):
    """stop() while the loop sits in a 30-second inotify wait: the loop
    must end at once and close the fd itself; closing the fd under a
    waiting loop left the thread selecting on a dead descriptor
    (``OSError: [Errno 9]``)."""
    import threading
    import time as _time

    died = []
    hook = threading.excepthook
    threading.excepthook = died.append
    try:
        w = ModelWatcher(tmp_path, lambda ev, p: None, poll_interval=30.0)
        assert w.backend_name == "inotify"
        w.start()
        _time.sleep(0.2)  # let the loop reach select()
        t0 = _time.perf_counter()
        w.stop()
        assert _time.perf_counter() - t0 < 2.0
        assert not w._thread.is_alive()
        assert w._inotify._closed
        w.stop()  # a second stop is a no-op
    finally:
        threading.excepthook = hook
    assert not died, died


def test_derived_table_before_set_operation_keyword():
    """A set-operation keyword after a derived table must not be
    consumed as its alias (EXCEPT swallowed -> bogus 'except'
    relation)."""
    sql = "SELECT x FROM (SELECT x FROM t) EXCEPT SELECT x FROM u"
    cols = extract_column_lineage(sql)
    srcs = {s for cl in cols for s in cl.sources}
    assert ("t", "x") in srcs
    assert not any(tbl == "except" for tbl, _ in srcs)
