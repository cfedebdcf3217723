"""Data-quality tests: unique / not_null / accepted_values / range +
custom SQL tests.

Port of the reference test runner (reference: src/framework/
testing.py:16-149, polars_utils.py:158-377) executed as Spark
DataFrame aggregations, no row collection.  The reference runs one
query per test; here every built-in test on a table is answered by one
aggregate over it (``TestRunner._fused_stats``), and ``run_all`` tests
tables concurrently.  The per-test methods stay: each is one
distributed count, and they are the fallback when the fused query
fails.  The documented-but-unimplemented custom SQL test convention
(reference: sql/tests/README.md, SURVEY §2.11 T6) is implemented here:
every ``tests/*.sql`` file must return a single ``failed_rows`` count;
0 passes.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import functions as F

from .parser import SQLParser
from .sqlvars import substitute_variables

# tests that count the rows failing a row predicate (_failing_rows)
_ROW_TESTS = ("not_null", "accepted_values", "range")
# tables TestRunner.run_all tests at once (run-all's default --parallelism)
TEST_THREADS = 4


def _spec(test) -> tuple[str, dict]:
    """schema.yml test entry -> (name, params): ``unique`` or
    ``{range: {min: 0}}``."""
    if isinstance(test, str):
        return test, {}
    tname, params = next(iter(test.items()))
    return tname, params or {}


def _failing_rows(tname: str, column: str, params: dict):
    """The predicate a row-level test counts as failed rows."""
    col = F.col(column)
    if tname == "not_null":
        return col.isNull()
    if tname == "accepted_values":
        # NULLs are not counted, matching SQL ``NOT IN`` three-valued logic
        return ~col.isin(params.get("values") or [])
    cond = F.lit(False)
    if params.get("min") is not None:
        cond = cond | (col < params["min"])
    if params.get("max") is not None:
        cond = cond | (col > params["max"])
    return cond


def _freshness_column(column: str | None, params: dict) -> str | None:
    """A freshness test reads its column's or, declared on the model,
    the one named in its params."""
    return column or params.get("column")


def _error(model: str, test, column: str | None, e: Exception) -> TestResult:
    """A test that raised: failed, with the first line of the error."""
    return TestResult(model, str(test), column, False, error=str(e).split("\n")[0])


def _latest(column: str):
    """The freshness test's measure: the newest timestamp in ``column``."""
    return F.max(F.col(column).cast("timestamp"))


@dataclass
class TestResult:
    """(reference: testing.py:16-24)"""

    model: str
    test_name: str
    column: str | None
    passed: bool
    rows_failed: int = 0
    error: str | None = None


class TestRunner:
    def __init__(
        self,
        executor,
        registry=None,
        tests_dir: str | Path | None = None,
        state=None,
    ):
        self.executor = executor
        self.spark = executor.spark
        self.registry = registry
        self.tests_dir = Path(tests_dir) if tests_dir else None
        # optional state manager enables the history-aware tests
        # (volume_anomaly); without it they fail with a clear error
        self.state = state

    # -- builtin tests (T1-T4) -----------------------------------------
    def test_unique(self, table: str, column: str) -> int:
        """duplicate-group count (reference: testing.py:30-41)."""
        return (
            self.spark.table(table)
            .groupBy(column)
            .count()
            .filter(F.col("count") > 1)
            .count()
        )

    def test_not_null(self, table: str, column: str) -> int:
        """(reference: testing.py:43-50)"""
        return self._count_failing(table, "not_null", column, {})

    def test_accepted_values(self, table: str, column: str, values: list) -> int:
        """(reference: testing.py:52-60)"""
        return self._count_failing(
            table, "accepted_values", column, {"values": values}
        )

    def test_range(self, table: str, column: str, min_value=None, max_value=None) -> int:
        """(reference: polars_utils.py:158-168 — Polars-only twin)"""
        return self._count_failing(
            table, "range", column, {"min": min_value, "max": max_value}
        )

    def _count_failing(self, table: str, tname: str, column: str, params: dict) -> int:
        failing = _failing_rows(tname, column, params)
        return self.spark.table(table).filter(failing).count()

    # -- runner (reference: testing.py:63-149) -------------------------
    def _run_one(self, model: str, table: str, column: str | None, test) -> TestResult:
        """One test answered by a query of its own."""
        try:
            measure = self._measure(table, column, test)
        except Exception as e:
            return _error(model, test, column, e)
        return self._verdict(model, column, test, measure)

    def _measure(self, table: str, column: str | None, test):
        """The one figure ``_verdict`` judges a test by, from its own
        query; None (no query) for tests ``_verdict`` reports as errors."""
        tname, params = _spec(test)
        if tname == "unique":
            return self.test_unique(table, column)
        if tname in _ROW_TESTS:
            return self._count_failing(table, tname, column, params)
        if tname == "volume_anomaly" and self.state is not None:
            return self.spark.table(table).count()
        if tname == "freshness":
            col = _freshness_column(column, params)
            return self.spark.table(table).agg(_latest(col).alias("m")).first()["m"]
        return None

    def run_model_tests(self, model: str, table: str) -> list[TestResult]:
        """All schema.yml-declared tests for one model, in declaration
        order, answered from one aggregate over ``table``.  When that
        query raises (say a declared column does not exist) every test
        runs on its own, so each still reports its own result or
        error."""
        cfg = self.registry.get(model) if self.registry else None
        if cfg is None:
            return []
        tests = [(None, t) for t in cfg.tests] + [
            (cname, t) for cname, col in cfg.columns.items() for t in col.tests
        ]
        try:
            stats = self._fused_stats(table, tests)
        except Exception:
            return [self._run_one(model, table, c, t) for c, t in tests]
        return [
            self._verdict(model, c, t, stats[i])
            if i in stats
            else self._run_one(model, table, c, t)
            for i, (c, t) in enumerate(tests)
        ]

    def _fused_stats(self, table: str, tests: list[tuple]) -> dict[int, object]:
        """Measure every fusable test of ``tests`` (``(column, test)``
        pairs) with one query over ``table``; return ``{index in tests:
        measure}``.  The others (unknown tests, column tests without a
        column, volume_anomaly without state) are left to ``_run_one``.

        The aggregate groups by the first ``unique`` column.  Per group
        it counts the rows and the rows each row-level test fails; a
        second level counts the groups of more than one row (the NULL
        key is one group, as in ``test_unique``) and sums the rest.
        The row count volume_anomaly needs is the sum of the group
        sizes; freshness is the max of the group maxima.  Each further
        ``unique`` column is one more group-by, cross-joined into the
        same one-row result."""
        inner, outer, keys = [], [], {}
        uniques: list[str] = []
        for i, (column, test) in enumerate(tests):
            tname, params = _spec(test)
            alias = f"__dq_{i}"
            if tname == "unique" and column is not None:
                if column not in uniques:
                    uniques.append(column)
                keys[i] = f"__dq_u{uniques.index(column)}"
            elif tname in _ROW_TESTS and column is not None:
                failing = _failing_rows(tname, column, params)
                inner.append(F.count_if(failing).alias(alias))
                outer.append(F.sum(alias).alias(alias))
                keys[i] = alias
            elif tname == "freshness" and _freshness_column(column, params):
                inner.append(_latest(_freshness_column(column, params)).alias(alias))
                outer.append(F.max(alias).alias(alias))
                keys[i] = alias
            elif tname == "volume_anomaly" and self.state is not None:
                keys[i] = "__dq_rows"
        if not keys:
            return {}
        df = self.spark.table(table)
        size = F.count(F.lit(1)).alias("__dq_n")
        if uniques:
            row = (
                df.groupBy(uniques[0])
                .agg(size, *inner)
                .agg(
                    F.count_if(F.col("__dq_n") > 1).alias("__dq_u0"),
                    F.sum("__dq_n").alias("__dq_rows"),
                    *outer,
                )
            )
        else:
            row = df.agg(size.alias("__dq_rows"), *inner)
        for j, column in enumerate(uniques[1:], 1):
            row = row.crossJoin(
                df.groupBy(column)
                .agg(size)
                .agg(F.count_if(F.col("__dq_n") > 1).alias(f"__dq_u{j}"))
            )
        got = row.first()
        return {i: got[key] for i, key in keys.items()}

    def _verdict(self, model: str, column: str | None, test, measure) -> TestResult:
        """A test's result from its measure, however it was measured
        (``_measure`` or ``_fused_stats``)."""
        try:
            tname, params = _spec(test)
            if tname == "volume_anomaly":
                if self.state is None:
                    return TestResult(
                        model, tname, column, False,
                        error="volume_anomaly needs a state manager "
                        "(TestRunner(..., state=...))",
                    )
                return AnomalyTests(self.spark, self.state).volume_verdict(
                    model,
                    int(measure or 0),
                    tolerance_pct=float(params.get("tolerance_pct", 50.0)),
                    window=int(params.get("window", 7)),
                )
            if tname == "freshness":
                return AnomalyTests(self.spark, self.state).freshness_verdict(
                    model,
                    _freshness_column(column, params),
                    measure,
                    max_lag_hours=float(params.get("max_lag_hours", 24.0)),
                    as_of=params.get("as_of"),
                )
            if tname != "unique" and tname not in _ROW_TESTS:
                return TestResult(
                    model, tname, column, False, error=f"unknown test {tname!r}"
                )
            failed = int(measure or 0)
            return TestResult(model, tname, column, failed == 0, rows_failed=failed)
        except Exception as e:
            return _error(model, test, column, e)

    def run_all(
        self, tables: dict[str, str], scoped: bool = False
    ) -> list[TestResult]:
        """``run_model_tests`` for every ``{model: table}`` and the
        custom SQL tests, ``TEST_THREADS`` batches at a time over the
        shared session.  Results come in ``tables`` order, then the
        custom tests, whatever order the batches finish in.  With
        ``scoped``, only the custom tests that read one of ``tables``
        run."""
        reads = set(tables.values()) if scoped else None
        with ThreadPoolExecutor(max_workers=TEST_THREADS) as pool:
            batches = [
                pool.submit(self.run_model_tests, model, table)
                for model, table in tables.items()
            ]
            batches.append(pool.submit(self.run_custom_sql_tests, None, reads))
            return [r for b in batches for r in b.result()]

    # -- custom SQL tests (T6 — implemented here) ----------------------
    def _reads_any(self, sql: str, variables: dict | None, tables: set[str]) -> bool:
        """Whether the rendered ``sql`` reads one of ``tables`` (an
        unqualified reference is taken to be in the executor's
        database)."""
        db = self.executor.database
        refs = SQLParser.extract_table_refs(
            substitute_variables(sql, variables, strict=False)
        )
        qualified = {(r if "." in r else f"{db}.{r}").lower() for r in refs}
        return not qualified.isdisjoint(t.lower() for t in tables)

    def run_custom_sql_tests(
        self, variables: dict | None = None, reads: set[str] | None = None
    ) -> list[TestResult]:
        """Every ``tests/*.sql`` file, or with ``reads`` only those
        that read one of those tables."""
        results: list[TestResult] = []
        if not self.tests_dir or not self.tests_dir.exists():
            return results
        for f in sorted(self.tests_dir.glob("*.sql")):
            try:
                sql = f.read_text()
                if reads is not None and not self._reads_any(sql, variables, reads):
                    continue
                rows = self.executor.execute_query(sql, variables)
                first = list(rows[0].values())[0] if rows else 0
                failed = int(first or 0)
                results.append(
                    TestResult("custom", f.stem, None, failed == 0, rows_failed=failed)
                )
            except Exception as e:
                results.append(
                    TestResult("custom", f.stem, None, False, error=str(e).split("\n")[0])
                )
        return results


class AnomalyTests:
    """History-aware data-quality checks (beyond the reference's
    stateless T1-T6): volume anomaly against trailing run history and
    source freshness with an injectable clock.  Both are single
    aggregates — no row collection, scale-independent."""

    VOLUME_KEY = "__dq_volume_history"

    def __init__(self, spark, state):
        self.spark = spark
        self.state = state

    def volume_anomaly(
        self,
        model: str,
        table: str,
        tolerance_pct: float = 50.0,
        window: int = 7,
        record: bool = True,
    ) -> TestResult:
        """Row count vs the trailing-``window`` mean of PREVIOUS runs:
        fails when it deviates more than ``tolerance_pct`` percent —
        the "did the upstream feed silently halve/explode" guard.
        First run (no history) passes vacuously and seeds history."""
        return self.volume_verdict(
            model, self.spark.table(table).count(), tolerance_pct, window, record
        )

    def volume_verdict(
        self,
        model: str,
        n: int,
        tolerance_pct: float = 50.0,
        window: int = 7,
        record: bool = True,
    ) -> TestResult:
        """``volume_anomaly`` for an already counted ``n`` rows."""
        hist = self.state.get_incremental_state(model, self.VOLUME_KEY) or []
        try:
            if record:
                self.state.set_incremental_state(
                    model, self.VOLUME_KEY, (hist + [int(n)])[-window:]
                )
            if not hist:
                return TestResult(model, "volume_anomaly", None, True, rows_failed=0)
            mean = sum(hist[-window:]) / len(hist[-window:])
            deviates = mean > 0 and abs(n - mean) > (tolerance_pct / 100.0) * mean
            return TestResult(
                model,
                "volume_anomaly",
                None,
                not deviates,
                rows_failed=int(abs(n - mean)) if deviates else 0,
            )
        except Exception as e:  # history store must never crash the run
            return TestResult(
                model, "volume_anomaly", None, False, error=str(e).split("\n")[0]
            )

    def freshness(
        self,
        model: str,
        table: str,
        column: str,
        max_lag_hours: float,
        as_of=None,
    ) -> TestResult:
        """dbt source-freshness: fails when ``max(column)`` is older
        than ``max_lag_hours`` before ``as_of`` (injectable for tests
        and backfills; defaults to the driver clock)."""
        latest = self.spark.table(table).agg(_latest(column).alias("m")).first()["m"]
        return self.freshness_verdict(model, column, latest, max_lag_hours, as_of)

    def freshness_verdict(
        self, model: str, column: str, latest, max_lag_hours: float, as_of=None
    ) -> TestResult:
        """``freshness`` for an already measured ``max(column)``."""
        import datetime as _dt

        if as_of is None:
            as_of = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
        elif isinstance(as_of, str):
            as_of = _dt.datetime.fromisoformat(as_of)
        if latest is None:
            return TestResult(
                model, "freshness", column, False, error="no data / all-NULL column"
            )
        lag_h = (as_of - latest).total_seconds() / 3600.0
        fresh = lag_h <= max_lag_hours
        return TestResult(
            model, "freshness", column, fresh, rows_failed=0 if fresh else 1
        )
