"""Execution layer: the Spark facade replacing the reference's
Snowflake connection pool, and the model executor implementing the
full run lifecycle (find → parse → render → substitute → resolve →
materialize → record) from SURVEY.md §3.1.

Reference mapping:
- ``SparkExecutor`` keeps the ``execute_query(sql, vars, fetch)``
  surface of ``SnowflakeExecutor`` (reference: src/framework/
  connection.py:346-425) over one thread-safe SparkSession — the
  pool (connection.py:28-318) collapses away (SURVEY §2.10 G16).
- Retry with exponential backoff (reference: connection.py:368-425,
  G15) retained for transient failures.
- ``ModelExecutor`` ports executor.py:52-444 with the two latent gaps
  fixed: ``__THIS__`` resolution (U3) and a real two-pass
  ``is_incremental()`` render (U4).
- Multi-statement transactions (S15) have no Spark equivalent; the
  facade runs statements sequentially and documents per-statement
  atomicity (SURVEY §7 hard parts).
"""

from __future__ import annotations

import re
import threading
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from .config import ProjectConfig
from .parser import REF_PLACEHOLDER, SOURCE_PLACEHOLDER, THIS_PLACEHOLDER, SQLParser
from .sqlvars import substitute_variables, validate_variables

_SOURCE_PLACEHOLDER_RE = re.compile(r"__SOURCE_(\w+?)_(\w+?)__")


class SparkExecutor:
    """Thin facade over a SparkSession preserving the reference's
    query-execution surface."""

    def __init__(
        self,
        spark: SparkSession,
        database: str = "default",
        retry_attempts: int = 3,
        retry_delay: float = 1.0,
        retryable_markers: tuple = ("CONNECTION", "TIMEOUT", "BROADCAST_TIMEOUT"),
    ):
        self.spark = spark
        self.database = database
        self.retry_attempts = retry_attempts
        self.retry_delay = retry_delay
        self.retryable_markers = retryable_markers
        if database != "default":
            spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")

    # -- core query path (reference: connection.py:346-425) ------------
    def _with_retry(self, fn):
        last = None
        for attempt in range(self.retry_attempts):
            try:
                return fn()
            except Exception as e:  # noqa: BLE001 — classified below
                msg = str(e).upper()
                if not any(m in msg for m in self.retryable_markers):
                    raise
                last = e
                time.sleep(self.retry_delay * (2**attempt))
        raise last

    def execute_df(self, sql: str, variables: dict | None = None) -> DataFrame:
        sql = substitute_variables(sql, variables, strict=False)
        return self._with_retry(lambda: self.spark.sql(sql))

    def execute_query(
        self, sql: str, variables: dict | None = None, fetch: bool = True
    ) -> list[dict] | None:
        """Run a statement; with ``fetch`` return rows as dicts (the
        reference's DictCursor shape).  Only use fetch for small
        control queries — large results stay distributed."""
        df = self.execute_df(sql, variables)
        if not fetch:
            return None
        return [r.asDict() for r in df.collect()]

    def execute_transaction(
        self, queries: list[str], variables: dict | None = None
    ) -> None:
        """Sequential execution; Spark offers per-table atomicity only
        (each write commits independently) — callers needing cross-
        table atomicity must design idempotent re-runs (S15)."""
        for q in queries:
            self.execute_query(q, variables, fetch=False)

    # -- catalog helpers ------------------------------------------------
    def table_exists(self, name: str) -> bool:
        """(reference: materialization.py:64-85 — information_schema
        probe; Spark catalog answers directly)"""
        return self.spark.catalog.tableExists(name)

    def ensure_database(self, database: str) -> None:
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")


from .errors import ModelExecutionError, ModelNotFoundError  # noqa: E402


class ModelExecutor:
    """Full model lifecycle (reference: executor.py:52-189)."""

    def __init__(
        self,
        executor: SparkExecutor,
        parser: SQLParser,
        config: ProjectConfig,
        state_manager=None,
        fail_fast: bool = False,
    ):
        self.executor = executor
        self.parser = parser
        self.config = config
        self.state = state_manager
        self.fail_fast = fail_fast
        self._file_cache: dict[str, Path] = {}
        self._registered_sources: set[str] = set()
        self._source_lock = threading.Lock()

    # -- model file resolution (reference: executor.py:262-326) --------
    def find_model_file(self, name: str) -> Path:
        if name in self._file_cache:
            return self._file_cache[name]
        base = Path(self.parser.models_dir)
        candidates = [base / f"{name}.sql"]
        candidates += [
            base / layer / f"{name}.sql" for layer in ("bronze", "silver", "gold")
        ]
        for c in candidates:
            if c.exists():
                self._file_cache[name] = c
                return c
        matches = list(base.rglob(f"{name}.sql"))
        if matches:
            self._file_cache[name] = matches[0]
            return matches[0]
        raise ModelNotFoundError(f"Model file not found: {name}.sql under {base}")

    # -- naming (reference: executor.py:191-231; case preserved per
    # SURVEY §7 — Spark is case-insensitive, no forced uppercase) ------
    def full_table_name(self, name: str) -> str:
        if "." in name:
            layer, table = name.split(".", 1)
            self.executor.ensure_database(layer)
            return f"{layer}.{table.replace('.', '_')}"
        return f"{self.executor.database}.{name}"

    # -- source registration -------------------------------------------
    @staticmethod
    def _nanos_ts_columns(path: str) -> list[str]:
        """Names of top-level TIMESTAMP(NANOS) columns in a parquet
        source, from the parquet footer of its first file (Spark can't
        read that logical type natively — it either throws or, under
        ``spark.sql.legacy.parquet.nanosAsLong``, surfaces epoch-nanos
        BIGINT).  Classified from the parquet schema, not the arrow
        one: arrow also maps the INT96 physical type (Spark's default
        timestamp encoding, which Spark reads as TIMESTAMP) to
        ``timestamp[ns]``.  Empty on probe failure or non-nanos
        vintages."""
        try:
            import json

            import pyarrow.dataset as ds
            import pyarrow.parquet as pq

            pf = pq.ParquetFile(ds.dataset(path, format="parquet").files[0])
            top = set(pf.schema_arrow.names)
            out = []
            for i in range(len(pf.schema)):
                col = pf.schema.column(i)
                lt = json.loads(col.logical_type.to_json())
                if (
                    col.path in top
                    and lt.get("Type") == "Timestamp"
                    and lt.get("timeUnit") == "nanoseconds"
                ):
                    out.append(col.name)
            return out
        except Exception:
            return []

    def _source_relation(self, source: str, table: str) -> str:
        """Resolve a source to a readable relation.  File-backed
        sources are registered as *external tables* (not temp views, so
        permanent views materialized on top remain valid), once per
        executor: the models of a level resolve sources from parallel
        threads, so registration runs under a lock.

        Vintage normalization: parquet sources holding TIMESTAMP(NANOS)
        columns (which Spark reads as epoch-nanos BIGINT under
        ``nanosAsLong``, or not at all without it) get a view on top of
        the external table that truncates each such column to
        TIMESTAMP_NTZ(µs), so models see ONE schema regardless of the
        writer vintage (reference gap: src/framework/executor.py reads
        whatever the warehouse returns)."""
        st = self.config.sources.get(source, table)
        if st.path is None:
            return st.identifier
        rel = f"{self.executor.database}.__src_{source}_{table}"
        if rel in self._registered_sources:
            return rel
        with self._source_lock:
            if rel not in self._registered_sources:
                self._register_source(st, rel)
                self._registered_sources.add(rel)
        return rel

    def _register_source(self, st, rel: str) -> None:
        spark = self.executor.spark
        nanos_cols = (
            self._nanos_ts_columns(st.path) if st.format.lower() == "parquet" else []
        )
        raw_rel = f"{rel}__raw" if nanos_cols else rel
        # Source DEFINITIONS can evolve BETWEEN CLI invocations
        # while the persistent metastore keeps the registration
        # frozen — fingerprint the resolved PATH + format +
        # options AND (for parquet) the full arrow footer schema
        # (names AND types, so nanos↔micros vintage flips count
        # as drift too) into TBLPROPERTIES and re-register on
        # change.  The path is part of the signature because
        # ${ENV}-substituted sources legitimately move between
        # runs (staged/batched ingest); a schema-only signature
        # silently kept reading the FIRST batch's files — caught
        # by the pipeline_funnel_incremental gate.
        # Re-registration drops BOTH possible objects under
        # either name (a vintage flip also flips which name is
        # the view and which the table).
        import hashlib

        ident = f"{st.path}|{st.format}|{sorted(st.options.items())}"
        if st.format.lower() == "parquet":
            try:
                import pyarrow.dataset as ds

                ident += "|" + str(ds.dataset(st.path, format="parquet").schema)
            except Exception:
                pass
        sig = hashlib.md5(ident.encode()).hexdigest()
        stored = self._stored_source_sig(rel)
        if stored is not None and stored != sig:
            for name in (rel, f"{rel}__raw"):
                self._drop_table_or_view(name)
        opts = ", ".join(
            [f"path '{st.path}'"] + [f"{k} '{v}'" for k, v in st.options.items()]
        )
        if nanos_cols:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        props = f" TBLPROPERTIES ('dtps.source_sig' = '{sig}')" if sig else ""
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {raw_rel} USING {st.format} "
            f"OPTIONS ({opts}){props}"
        )
        if nanos_cols:
            cols = ", ".join(
                f"CAST(timestamp_micros(`{c}` div 1000) AS TIMESTAMP_NTZ) AS `{c}`"
                if c in nanos_cols
                else f"`{c}`"
                for c in spark.table(raw_rel).columns
            )
            spark.sql(f"CREATE OR REPLACE VIEW {rel} AS SELECT {cols} FROM {raw_rel}")

    def _stored_source_sig(self, rel: str) -> str | None:
        """The footer-schema fingerprint recorded when the source was
        last registered — read from whichever object (plain table or
        nanos-vintage ``__raw`` table) exists; None when neither does
        or the property was never written (pre-fingerprint
        registrations fall back to re-registering on next drift)."""
        spark = self.executor.spark
        for name in (f"{rel}__raw", rel):
            if not spark.catalog.tableExists(name):
                continue
            try:
                rows = spark.sql(
                    f"SHOW TBLPROPERTIES {name} ('dtps.source_sig')"
                ).collect()
                if rows and "does not have property" not in str(rows[0]["value"]):
                    return rows[0]["value"]
            except Exception:
                pass
            return None
        return None

    def _drop_table_or_view(self, name: str) -> None:
        spark = self.executor.spark
        for stmt in (f"DROP VIEW IF EXISTS {name}", f"DROP TABLE IF EXISTS {name}"):
            try:
                spark.sql(stmt)
            except Exception:
                continue

    # -- placeholder resolution (reference: executor.py:399-444) -------
    def resolve_refs_and_sources(self, sql: str, this_table: str) -> str:
        def _ref_sub(m: re.Match) -> str:
            return self.full_table_name(m.group(1))

        sql = re.sub(r"__REF_(\w+?)__", _ref_sub, sql)

        def _src_sub(m: re.Match) -> str:
            return self._source_relation(m.group(1), m.group(2))

        sql = _SOURCE_PLACEHOLDER_RE.sub(_src_sub, sql)
        # __THIS__ resolution — unimplemented in the reference (U3)
        return sql.replace(THIS_PLACEHOLDER, this_table)

    # -- lifecycle (reference: executor.py:52-151) ----------------------
    def compile_model(
        self,
        name: str,
        variables: dict | None = None,
        full_refresh: bool = False,
    ) -> tuple:
        """parse → two-pass render → validate vars → substitute →
        resolve.  Returns (parsed, final_select_sql, target_table)."""
        from .materialization import strip_trailing_semicolon

        path = self.find_model_file(name)
        parsed = self.parser.parse_file(path)
        target = self.full_table_name(parsed.config.get("alias", name))

        is_inc = (
            not full_refresh
            and parsed.uses_is_incremental
            and self.executor.table_exists(target)
        )
        merged_vars = {**self.config.variables, **(variables or {})}
        # re-render when the body branches on runtime truth: the real
        # is_incremental() value (U4) and/or config-driven var()
        # (e.g. the funnel's tokenizer-family switch)
        rendered = (
            self.parser.render(
                parsed.raw_sql,
                is_incremental=is_inc,
                variables=merged_vars,
            )
            if parsed.uses_is_incremental or parsed.uses_var
            else parsed.rendered_sql
        )
        validate_variables(rendered, merged_vars)
        substituted = substitute_variables(rendered, merged_vars)
        final_sql = self.resolve_refs_and_sources(substituted, target)
        return parsed, strip_trailing_semicolon(final_sql), target

    def execute_model(
        self,
        name: str,
        variables: dict | None = None,
        dry_run: bool = False,
        full_refresh: bool = False,
    ) -> dict:
        start = time.perf_counter()
        try:
            parsed, final_sql, target = self.compile_model(
                name, variables, full_refresh
            )
            if dry_run:
                # G19: return compiled SQL without executing; bonus
                # validation through Spark's parser.
                ok, err = self.parser.validate_sql(final_sql, self.executor.spark)
                return {
                    "model": name,
                    "success": ok,
                    "dry_run": True,
                    "sql": final_sql,
                    "error": err,
                }
            from .materialization import Materializer

            result = Materializer(self.executor, self.state).materialize(
                model_name=name,
                target_table=target,
                select_sql=final_sql,
                config=parsed.config,
                meta=parsed.meta,
                full_refresh=full_refresh,
            )
            result["duration_sec"] = round(time.perf_counter() - start, 4)
            if self.state is not None:
                from .plans.plan import config_hash

                self.state.update_model_state(
                    name,
                    file_hash=parsed.file_hash,
                    config_hash=config_hash(parsed.config),
                    dependencies=sorted(parsed.dependencies),
                    success=result.get("success", False),
                )
                self.state.save()
            return result
        except Exception as e:
            if self.fail_fast:
                raise
            return {
                "model": name,
                "success": False,
                "error": str(e),
                "duration_sec": round(time.perf_counter() - start, 4),
            }

    def execute_models(
        self, names: list[str], variables: dict | None = None, **kw
    ) -> list[dict]:
        """Sequential multi-model run with graceful degradation
        (reference: executor.py:153-189, G17)."""
        results = []
        for n in names:
            r = self.execute_model(n, variables, **kw)
            results.append(r)
            if not r.get("success") and self.fail_fast:
                break
        return results

    # -- raw SQL passthrough (reference: executor.py:517-573, S14) -----
    def execute_raw_sql(
        self,
        sql: str,
        variables: dict | None = None,
        fetch: bool = True,
        output_format: str | None = None,
    ):
        merged = {**self.config.variables, **(variables or {})}
        rows = self.executor.execute_query(sql, merged, fetch=fetch)
        if rows is None or output_format is None:
            return rows
        from .formatter import ResultFormatter

        return ResultFormatter.format(rows, output_format)
