"""Materialization strategies: view / table / temp_table / incremental
(time, unique_key, append) / CDC merge / CDC retirement.

Spark-first re-expression of the reference strategy hierarchy
(reference: src/framework/materialization.py:88-690, cdc_polars.py):
the emitted-DDL approach becomes DataFrame writer plans; MERGE becomes
the distributed full-outer-join rewrite (operators/merge.py) plus a
staging-table swap, since plain parquet tables cannot be mutated or
overwritten while being read.

Scale notes:
- The staging swap is one write plus a rename: the merged table is
  written once into ``__stg_<table>``, the target is dropped and
  staging is renamed into its place (a metastore update plus a
  directory rename; on an object store without atomic rename the
  rename is a copy, which costs no more than a second write).
  Recovering a crashed swap from staging assumes an atomic directory
  rename (local, HDFS): on an object store a crash partway through
  the rename copy leaves staging incomplete.  On a
  MERGE-capable catalog (Delta/Iceberg) the same strategies remap to
  a single ``MERGE INTO``; the strategy interface keeps that door
  open without changing callers.
- Incremental time/append only ever process the new slice; watermarks
  store observed ``max(time_column)`` (not wall clock — fixes the
  reference's late-data bug, SURVEY §7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .errors import MaterializationError
from .operators.cdc_retirement import (
    OBSOLETE_COL,
    apply_cdc_retirement,
    initial_cdc_load,
)



def strip_trailing_semicolon(sql: str) -> str:
    return sql.strip().rstrip(";").strip()


class Materialization:
    name = "base"

    def __init__(self, executor, state=None):
        self.executor = executor
        self.spark = executor.spark
        self.state = state

    def materialize(
        self, model_name, target_table, select_sql, config, meta, full_refresh=False
    ) -> dict:
        raise NotImplementedError

    # -- shared helpers -------------------------------------------------
    def _select_df(self, select_sql: str) -> DataFrame:
        return self.spark.sql(select_sql)

    def _align_to_target(
        self, target_table: str, df: DataFrame, policy: str
    ) -> DataFrame:
        """Schema-drift handling for incremental writes — the dbt
        ``on_schema_change`` contract (a reference gap; the reference
        lets the warehouse throw).  Policies:

        - ``ignore`` (default): keep the target's schema — new source
          columns are dropped, target columns missing from the source
          are null-filled; the write never fails on drift.
        - ``append_new_columns``: new source columns are added to the
          target first (``ALTER TABLE ADD COLUMNS`` — metadata-only
          for parquet tables; old files read the column as NULL),
          then the source is aligned.
        - ``fail``: any difference raises with the exact column sets.

        Always returns the source projected in target-column order
        (append-by-position safety costs nothing when there is no
        drift)."""
        # Spark resolves column names case-insensitively; matching here
        # must too, or a case-only rename would null-fill a column the
        # source actually provides (ignore), raise spuriously (fail),
        # or ALTER-add a duplicate (append_new_columns).
        tgt_fields = self.spark.table(target_table).schema.fields
        tgt_lower = {f.name.lower() for f in tgt_fields}
        src_by_lower = {c.lower(): c for c in df.columns}
        new_cols = [c for c in df.columns if c.lower() not in tgt_lower]
        missing = [
            f.name for f in tgt_fields if f.name.lower() not in src_by_lower
        ]
        if (new_cols or missing) and policy == "fail":
            raise MaterializationError(
                f"schema drift on {target_table} (on_schema_change=fail): "
                f"new source columns {new_cols}, missing target columns "
                f"{missing}"
            )
        if new_cols and policy == "append_new_columns":
            ddl = ", ".join(
                f"`{c}` {df.schema[c].dataType.simpleString()}"
                for c in new_cols
            )
            self.spark.sql(f"ALTER TABLE {target_table} ADD COLUMNS ({ddl})")
            tgt_fields = self.spark.table(target_table).schema.fields
        return df.select(
            *[
                F.col(src_by_lower[f.name.lower()]).alias(f.name)
                if f.name.lower() in src_by_lower
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in tgt_fields
            ]
        )

    def _overwrite_table(
        self, target: str, df: DataFrame, partition_by=None, cluster_by=None
    ) -> int:
        df = self._apply_clustering(df, cluster_by)
        writer = df.write.mode("overwrite").format("parquet")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.saveAsTable(target)
        return -1  # row count not collected by default (extra job)

    @staticmethod
    def _apply_clustering(df: DataFrame, cluster_by) -> DataFrame:
        """Clustered layout (the Snowflake/Delta CLUSTER BY analogue,
        expressed with vanilla Spark): range-repartition on the
        cluster keys, then sort within each partition.  Every output
        file then covers a narrow, non-overlapping key range, so
        parquet row-group min/max stats prune reads on those keys —
        the cheap 80% of Z-ordering for single-dimension predicates.
        The range boundaries come from Spark's reservoir sample of
        the keys, so file sizes stay balanced even on skewed data.

        ``cluster_by`` is a column list, optionally with a leading
        integer file-count dial (config ``cluster_files``) carried as
        the tuple's first element by the caller; without it Spark
        (and AQE) pick the partition count, which may coalesce small
        tables to one file."""
        if not cluster_by:
            return df
        n = None
        cols = list(cluster_by)
        if cols and isinstance(cols[0], int):
            n, cols = cols[0], cols[1:]
        drop_after = None
        if len(cols) == 1 and cols[0].startswith("zorder(") and cols[0].endswith(")"):
            # multi-dimensional clustering: cluster_by=zorder(a|b) —
            # interleaved-bit key gives every file locality in every
            # listed dimension (operators/transform.py:zorder_column)
            from .operators.transform import zorder_column

            zcols = [c.strip() for c in cols[0][7:-1].split("|") if c.strip()]
            df, key = zorder_column(df, zcols)
            cols, drop_after = [key], key
        if n:
            df = df.repartitionByRange(n, *cols)
        else:
            df = df.repartitionByRange(*cols)
        df = df.sortWithinPartitions(*cols)
        return df.drop(drop_after) if drop_after else df

    @staticmethod
    def _staging_name(target: str) -> str:
        db, _, tbl = target.rpartition(".")
        return f"{db}.__stg_{tbl}" if db else f"__stg_{tbl}"

    def recover_orphaned_staging(
        self, target: str, policy: str = "error"
    ) -> str | None:
        """Janitor for a crashed previous swap: if a ``__stg_*`` table
        for ``target`` still exists, a prior run died after writing
        staging and before renaming it into place — staging holds the
        only complete copy of that merge.  ``policy``:

        - ``error`` (default): refuse to proceed, naming both the
          recovery SQL and the opt-ins (a silent rebuild could lose
          the crashed merge's data).
        - ``recover``: publish staging as the target (drop the target
          if it survived, rename staging into its place).
        - ``drop``: discard staging (caller asserts target is good).

        A bucketed merge target (operators/bucketed_merge.py) is the
        exception: its staging holds only the merged slice of the
        affected buckets, so renaming it into place would lose every
        other bucket.  There ``recover`` refuses like ``error`` and
        only ``drop`` proceeds.

        Returns the action taken, or None when no orphan exists."""
        staging = self._staging_name(target)
        if not self.executor.table_exists(staging):
            return None
        if policy != "drop" and self._is_bucketed_target(target):
            raise MaterializationError(
                f"orphaned staging table {staging} found for bucketed merge "
                f"target {target}: a previous bucketed merge crashed and "
                f"staging holds only the merged slice of its affected "
                f"buckets, so it cannot be renamed into place. Check "
                f"{target}, re-apply that merge batch if needed, then set "
                f"config on_orphaned_staging: drop."
            )
        if policy == "recover":
            self._publish(staging, target)
            return "recovered"
        if policy == "drop":
            self.spark.sql(f"DROP TABLE IF EXISTS {staging}")
            return "dropped"
        raise MaterializationError(
            f"orphaned staging table {staging} found for {target}: a "
            f"previous merge crashed mid-swap and staging holds its only "
            f"complete result. Recover with: {self._recovery_sql(staging, target)}"
            f", or set config on_orphaned_staging: recover|drop to resolve "
            f"automatically."
        )

    def _is_bucketed_target(self, target: str) -> bool:
        from .operators.bucketed_merge import stored_bucket_count

        return self.executor.table_exists(target) and (
            stored_bucket_count(self.spark, target) is not None
        )

    @staticmethod
    def _recovery_sql(staging: str, target: str) -> str:
        return (
            f"DROP TABLE IF EXISTS {target}; "
            f"ALTER TABLE {staging} RENAME TO {target}"
        )

    def _publish(self, staging: str, target: str) -> None:
        """Replace ``target`` with the complete table ``staging``."""
        self.spark.sql(f"DROP TABLE IF EXISTS {target}")
        self.spark.sql(f"ALTER TABLE {staging} RENAME TO {target}")

    def _swap_in(
        self, target: str, df: DataFrame, partition_by=None, cluster_by=None
    ) -> None:
        """Materialize ``df`` (which may read ``target``) into a staging
        table, then drop the target and rename staging into its place:
        one write plus a rename.  Staging is required because vanilla
        Spark cannot overwrite a parquet table it is reading
        (self-referential merge plans).

        Recovery semantics: a failure while writing staging leaves the
        target untouched.  Once staging is written it holds the
        complete merged result (given an atomic rename; see the module
        notes), so a failure in the drop or the rename raises naming
        staging and the recovery SQL (staging is never silently
        destroyed); the next run's ``recover_orphaned_staging`` janitor
        then restores or surfaces it."""
        staging = self._staging_name(target)
        self._overwrite_table(staging, df, partition_by, cluster_by)
        try:
            self._publish(staging, target)
        except Exception as exc:
            raise MaterializationError(
                f"publishing {target} failed mid-swap; staging table "
                f"{staging} retains the complete merged result — recover "
                f"with: {self._recovery_sql(staging, target)}"
            ) from exc

    @staticmethod
    def _merge_buckets(config, meta) -> int | None:
        """Bucketed-merge opt-in: config/meta ``merge_buckets`` = N
        hash buckets.  Merges then rewrite only affected buckets
        (operators/bucketed_merge.py) instead of the whole table."""
        mb = (config or {}).get("merge_buckets") or (
            (meta or {}).get("cdc") or {}
        ).get("merge_buckets")
        return int(mb) if mb else None

    def _merge_backend(self, config, meta):
        """Resolve the model's MERGE backend (operators/
        merge_backend.py).  Explicit ``merge_backend`` config/meta
        wins; the legacy ``merge_buckets`` opt-in keeps selecting the
        bucketed backend; default is the catalog-agnostic join
        rewrite — behavior-identical to the pre-seam code paths."""
        from .operators.merge_backend import resolve_merge_backend

        name = (config or {}).get("merge_backend") or (
            (meta or {}).get("cdc") or {}
        ).get("merge_backend")
        if not name:
            name = "bucketed" if self._merge_buckets(config, meta) else "rewrite"
        return resolve_merge_backend(str(name))

    def _merge_context(self, config, cluster: bool = True):
        from .operators.merge_backend import MergeContext

        return MergeContext(
            spark=self.spark,
            swap_in=self._swap_in,
            partition_by=self._partition_by(config),
            cluster_by=self._cluster_by(config) if cluster else None,
        )

    @staticmethod
    def _partition_by(config) -> list | None:
        """Parse config partition_by once for every strategy (the
        on-disk layout control — Spark's answer to CLUSTER BY)."""
        return Materialization._layout_cols(config, "partition_by")

    @staticmethod
    def _cluster_by(config) -> list | None:
        """Parse config cluster_by: range-clustered file layout
        (non-overlapping key ranges per file → min/max pruning).
        Optional ``cluster_files: N`` pins the output file count
        (prepended as an int; see ``_apply_clustering``).  The value
        ``zorder(a|b)`` passes through whole — the pipes inside the
        parens are dimension separators, not column separators."""
        raw = (config or {}).get("cluster_by")
        if isinstance(raw, str) and raw.strip().startswith("zorder("):
            cols = [raw.strip()]
        else:
            cols = Materialization._layout_cols(config, "cluster_by")
        if not cols:
            return None
        n = (config or {}).get("cluster_files")
        return [int(n), *cols] if n else cols

    @staticmethod
    def _layout_cols(config, key: str) -> list | None:
        pb = (config or {}).get(key)
        if isinstance(pb, str) and pb:
            return [p.strip() for p in pb.split("|") if p.strip()]
        if isinstance(pb, (list, tuple)) and pb:
            return list(pb)
        return None

    def _ok(self, model_name, target, **extra) -> dict:
        return {
            "model": model_name,
            "target": target,
            "strategy": self.name,
            "success": True,
            **extra,
        }


class ViewMaterialization(Materialization):
    """CREATE OR REPLACE VIEW (reference: materialization.py:88-130)."""

    name = "view"

    def materialize(self, model_name, target_table, select_sql, config, meta, full_refresh=False):
        self.spark.sql(f"CREATE OR REPLACE VIEW {target_table} AS {select_sql}")
        return self._ok(model_name, target_table)


class TableMaterialization(Materialization):
    """Full-refresh table (reference: materialization.py:133-175).
    ``partition_by`` in config controls the on-disk layout (the Spark
    answer to Snowflake CLUSTER BY — SURVEY §2.7)."""

    name = "table"

    def materialize(self, model_name, target_table, select_sql, config, meta, full_refresh=False):
        pb = self._partition_by(config)
        cb = self._cluster_by(config)
        self._overwrite_table(target_table, self._select_df(select_sql), pb, cb)
        return self._ok(model_name, target_table)


class TempTableMaterialization(Materialization):
    """Session-scoped temp view (reference: materialization.py:462-504;
    matches Snowflake TEMPORARY TABLE session scoping — SURVEY §7)."""

    name = "temp_table"

    def materialize(self, model_name, target_table, select_sql, config, meta, full_refresh=False):
        view_name = target_table.split(".")[-1]
        self._select_df(select_sql).createOrReplaceTempView(view_name)
        return self._ok(model_name, view_name)


class IncrementalMaterialization(Materialization):
    """Incremental strategies (reference: materialization.py:211-446):

    - ``time``: first run = full build; later runs append only rows
      with ``time_column`` greater than the stored watermark; the new
      watermark is the observed data max.
    - ``unique_key``: later runs MERGE (upsert) on the key.
    - ``append``: later runs blind-append.
    """

    name = "incremental"

    def materialize(self, model_name, target_table, select_sql, config, meta, full_refresh=False):
        strategy = config.get("incremental_strategy", "append")
        exists = self.executor.table_exists(target_table)
        mb = self._merge_buckets(config, meta)
        if full_refresh or not exists:
            if strategy == "unique_key" and mb:
                from .operators.bucketed_merge import write_bucketed

                keys = [k.strip() for k in (config.get("unique_key") or "").split("|")]
                if not keys or not keys[0]:
                    raise MaterializationError(
                        "unique_key incremental requires config unique_key"
                    )
                write_bucketed(
                    self.spark, target_table, self._select_df(select_sql), keys, mb
                )
            else:
                # clustered layout applies to the initial full build;
                # later appends/merges write their delta unclustered
                # (re-clustering history every run would rewrite the
                # table — at scale, periodic compaction re-sorts)
                self._overwrite_table(
                    target_table,
                    self._select_df(select_sql),
                    self._partition_by(config),
                    self._cluster_by(config),
                )
            if strategy == "time":
                self._store_watermark(model_name, target_table, config)
            return self._ok(
                model_name, target_table, incremental_strategy=strategy, initial=True
            )

        if strategy == "time":
            return self._time_incremental(model_name, target_table, select_sql, config)
        if strategy == "unique_key":
            return self._unique_key_incremental(
                model_name, target_table, select_sql, config, meta
            )
        if strategy == "aggregate":
            return self._aggregate_incremental(
                model_name, target_table, select_sql, config
            )
        return self._append_incremental(model_name, target_table, select_sql, config)

    # -- time (reference: materialization.py:211-312, C1) --------------
    def _watermark_key(self):
        return "last_processed_time"

    def _store_watermark(self, model_name, target_table, config):
        tc = config.get("time_column")
        if not tc or self.state is None:
            return
        row = self.spark.table(target_table).selectExpr(
            f"max({tc}) AS wm"
        ).first()
        if row and row["wm"] is not None:
            self.state.set_incremental_state(
                model_name, self._watermark_key(), str(row["wm"])
            )
            self.state.save()

    def _time_incremental(self, model_name, target_table, select_sql, config):
        tc = config.get("time_column")
        if not tc:
            raise MaterializationError("time incremental requires config time_column")
        wm = None
        if self.state is not None:
            wm = self.state.get_incremental_state(model_name, self._watermark_key())
        if wm is None:
            # fall back to the target's own max (reference:
            # materialization.py:263-268, A6)
            row = self.spark.table(target_table).selectExpr(f"max({tc}) AS wm").first()
            wm = str(row["wm"]) if row and row["wm"] is not None else None
        delta = self._align_to_target(
            target_table,
            self._select_df(select_sql),
            config.get("on_schema_change", "ignore"),
        )
        if wm is not None:
            # watermark predicate injection (P4) on the DataFrame plan —
            # pushed down by Catalyst to the source scan.  The literal
            # is cast to the column's own type: a bare string literal
            # against a BIGINT epoch column would be coerced to DOUBLE
            # (non-ANSI), losing precision above 2^53 (epoch-nanos) and
            # silently skipping/duplicating boundary rows.
            delta = delta.filter(
                F.col(tc) > F.lit(wm).cast(delta.schema[tc].dataType)
            )
        delta.write.mode("append").format("parquet").saveAsTable(target_table)
        self._store_watermark(model_name, target_table, config)
        return self._ok(
            model_name, target_table, incremental_strategy="time", watermark=wm
        )

    # -- unique_key (reference: materialization.py:314-389, C2/J2) -----
    def _unique_key_incremental(
        self, model_name, target_table, select_sql, config, meta=None
    ):
        key = config.get("unique_key")
        if not key:
            raise MaterializationError(
                "unique_key incremental requires config unique_key"
            )
        keys = [k.strip() for k in key.split("|")]
        source = self._align_to_target(
            target_table,
            self._select_df(select_sql),
            config.get("on_schema_change", "ignore"),
        )
        # same config+meta resolution as the initial load: a model
        # declaring merge_buckets under meta.cdc must stay bucketed on
        # every incremental run, not just the first write
        backend = self._merge_backend(config, meta or {})
        stats = backend.upsert(
            self._merge_context(config), target_table, source, keys
        )
        return self._ok(
            model_name,
            target_table,
            incremental_strategy="unique_key",
            keys=keys,
            merge_backend=backend.name,
            **stats,
        )

    # -- aggregate (no reference counterpart: dbt-class engines force a
    # full recompute of aggregate models; this maintains them) --------
    def _aggregate_incremental(self, model_name, target_table, select_sql, config):
        """Incrementally maintained aggregate state: the model's SQL
        (self-filtered to new source rows via ``is_incremental()``)
        emits PARTIAL aggregates per group; this strategy combines
        them into the existing state with the per-measure combiner
        declared in config (``agg_columns: "cnt:sum|last_ts:max"``,
        default ``sum``) — only decomposable combiners (sum/max/min)
        are accepted, because only those make partial ∪ partial = full.

        Scale posture: the expensive corpus scan happens only over the
        DELTA (the model's own incremental filter pushes down to the
        source scan); the combine is state ∪ delta-partials → one
        groupBy on the group keys, where BOTH sides are groups-sized —
        bounded by cardinality, not corpus size.  A full recompute of
        a 100 TB fact table becomes a groups-sized merge per run.  The
        write is the crash-safe staging swap (the plan reads the table
        it replaces)."""
        group_by = config.get("group_by")
        if not group_by:
            raise MaterializationError(
                "aggregate incremental requires config group_by"
            )
        keys = [k.strip() for k in group_by.split("|") if k.strip()]
        combiners = {}
        for item in (config.get("agg_columns") or "").split("|"):
            item = item.strip()
            if not item:
                continue
            col, _, comb = item.partition(":")
            comb = (comb or "sum").strip().lower()
            if comb not in ("sum", "max", "min"):
                raise MaterializationError(
                    f"aggregate incremental combiner must be sum|max|min, "
                    f"got {comb!r} for column {col.strip()!r}"
                )
            combiners[col.strip()] = comb
        delta = self._align_to_target(
            target_table,
            self._select_df(select_sql),
            config.get("on_schema_change", "ignore"),
        )
        state = self.spark.table(target_table)
        missing = [k for k in keys if k not in state.columns]
        if missing:
            raise MaterializationError(
                f"aggregate incremental group_by columns {missing} not in "
                f"target {target_table} columns {state.columns}"
            )
        measures = [c for c in state.columns if c not in keys]
        fns = {"sum": F.sum, "max": F.max, "min": F.min}
        aggs = [
            fns[combiners.get(c, "sum")](F.col(c))
            # sum() widens longs/decimals; pin every measure back to
            # the state schema so repeated maintenance never drifts
            # the table's types
            .cast(state.schema[c].dataType)
            .alias(c)
            for c in measures
        ]
        combined = (
            state.select(*state.columns)
            .unionByName(delta.select(*state.columns))
            .groupBy(*keys)
            .agg(*aggs)
            .select(*state.columns)
        )
        self._swap_in(
            target_table,
            combined,
            self._partition_by(config),
            self._cluster_by(config),
        )
        return self._ok(
            model_name,
            target_table,
            incremental_strategy="aggregate",
            keys=keys,
            combiners={c: combiners.get(c, "sum") for c in measures},
        )

    # -- append (reference: materialization.py:391-446, C3/S9) ---------
    def _append_incremental(self, model_name, target_table, select_sql, config):
        self._align_to_target(
            target_table,
            self._select_df(select_sql),
            config.get("on_schema_change", "ignore"),
        ).write.mode("append").format("parquet").saveAsTable(target_table)
        return self._ok(model_name, target_table, incremental_strategy="append")


class CDCMaterialization(Materialization):
    """CDC I/U/D merge (reference: materialization.py:507-615, C4/J3):
    first run loads the batch as the initial table (CDC metadata
    dropped); later runs apply the op-coded batch via the distributed
    merge rewrite."""

    name = "cdc"

    def materialize(self, model_name, target_table, select_sql, config, meta, full_refresh=False):
        cdc_meta = meta.get("cdc") or {}
        op_col = config.get("change_type_column") or cdc_meta.get(
            "change_type_column", "__CDC_OPERATION"
        )
        ts_col = cdc_meta.get("timestamp_column", "__CDC_TIMESTAMP")
        key = config.get("unique_key") or cdc_meta.get("unique_key")
        if not key:
            raise MaterializationError("cdc materialization requires unique_key")
        keys = [k.strip() for k in key.split("|")]
        batch = self._select_df(select_sql)
        exists = self.executor.table_exists(target_table)
        pb = self._partition_by(config)
        mb = self._merge_buckets(config, meta)
        if full_refresh or not exists:
            drop = [c for c in (op_col, ts_col) if c in batch.columns]
            if mb:
                from .operators.bucketed_merge import write_bucketed

                write_bucketed(
                    self.spark, target_table, batch.drop(*drop), keys, mb
                )
            else:
                self._overwrite_table(target_table, batch.drop(*drop), pb)
            return self._ok(model_name, target_table, initial=True)
        backend = self._merge_backend(config, meta)
        stats = backend.cdc_merge(
            self._merge_context(config, cluster=False),
            target_table,
            batch,
            keys,
            op_col=op_col,
            ts_col=ts_col if ts_col in batch.columns else None,
        )
        return self._ok(
            model_name,
            target_table,
            keys=keys,
            merge_backend=backend.name,
            **stats,
        )


class CDCRetirementMaterialization(Materialization):
    """SCD2 retirement CDC (reference: cdc_polars.py:87-445, C5):
    retired history preserved with ``obsolete_date``; the whole batch
    is one distributed job (operators/cdc_retirement.py)."""

    name = "cdc_retirement"

    def materialize(self, model_name, target_table, select_sql, config, meta, full_refresh=False):
        cdc_meta = meta.get("cdc") or {}
        op_col = config.get("change_type_column") or cdc_meta.get(
            "change_type_column", "__CDC_OPERATION"
        )
        ts_col = cdc_meta.get("timestamp_column", "__CDC_TIMESTAMP")
        key = config.get("unique_key") or cdc_meta.get("unique_key")
        if not key:
            raise MaterializationError(
                "cdc_retirement materialization requires unique_key"
            )
        keys = [k.strip() for k in key.split("|")]
        batch = self._select_df(select_sql)
        exists = self.executor.table_exists(target_table)
        pb = self._partition_by(config)
        if full_refresh or not exists:
            initial = initial_cdc_load(batch, keys, op_col=op_col, ts_col=ts_col)
            # active-flag partitioning keeps the active slice prunable
            self._overwrite_table(target_table, initial, pb)
            return self._ok(model_name, target_table, initial=True)
        target = self.spark.table(target_table)
        merged = apply_cdc_retirement(
            target, batch, keys, op_col=op_col, ts_col=ts_col
        )
        self._swap_in(target_table, merged, pb)
        from .operators.cdc_retirement import batch_stats

        return self._ok(
            model_name, target_table, stats=batch_stats(batch, op_col=op_col)
        )


class SnapshotMaterialization(Materialization):
    """dbt-style snapshot: SCD2 history over a mutable source without
    a CDC feed (operators/snapshot.py).  Config:

    - ``unique_key`` (required, ``|``-separated)
    - ``strategy``: ``check`` (default) or ``timestamp``
    - ``check_cols``: ``|``-separated (default: all non-key columns)
    - ``updated_at``: source column for the timestamp strategy
    - ``invalidate_hard_deletes``: close versions whose key left the
      source (default false)
    - ``snapshot_at``: literal batch timestamp (tests / replay);
      defaults to the driver clock at run time

    The reference's SCD2 is CDC-driven (cdc_retirement); snapshots
    self-detect changes, covering sources with no change feed."""

    name = "snapshot"

    def materialize(self, model_name, target_table, select_sql, config, meta, full_refresh=False):
        from .operators.snapshot import initial_snapshot, snapshot_merge

        key = (config or {}).get("unique_key")
        if not key:
            raise MaterializationError("snapshot materialization requires unique_key")
        keys = [k.strip() for k in key.split("|")]
        strategy = (config or {}).get("strategy", "check")
        updated_at = (config or {}).get("updated_at")
        hard_deletes = str(
            (config or {}).get("invalidate_hard_deletes", "")
        ).lower() in ("1", "true", "yes")
        ts = (config or {}).get("snapshot_at")
        if ts is None:
            import datetime as _dt

            ts = _dt.datetime.now(_dt.timezone.utc).replace(
                tzinfo=None, microsecond=0
            )
        batch = self._select_df(select_sql)
        check_cols = self._layout_cols(config, "check_cols") or [
            c for c in batch.columns if c not in keys
        ]
        pb = self._partition_by(config)
        if full_refresh or not self.executor.table_exists(target_table):
            self._overwrite_table(target_table, initial_snapshot(batch, ts), pb)
            return self._ok(model_name, target_table, initial=True)
        merged = snapshot_merge(
            self.spark.table(target_table),
            batch,
            keys,
            check_cols,
            ts,
            strategy=strategy,
            updated_at=updated_at,
            invalidate_hard_deletes=hard_deletes,
        )
        self._swap_in(target_table, merged, pb)
        return self._ok(model_name, target_table)


class MaterializationStrategyFactory:
    """(reference: materialization.py:636-690)"""

    _STRATEGIES = {
        "view": ViewMaterialization,
        "table": TableMaterialization,
        "temp_table": TempTableMaterialization,
        "incremental": IncrementalMaterialization,
        "cdc": CDCMaterialization,
        "cdc_retirement": CDCRetirementMaterialization,
        "snapshot": SnapshotMaterialization,
    }

    @classmethod
    def create(cls, materialized: str, executor, state=None) -> Materialization:
        strategy = cls._STRATEGIES.get(materialized)
        if strategy is None:
            raise MaterializationError(
                f"Unknown materialization {materialized!r}; "
                f"expected one of {sorted(cls._STRATEGIES)}"
            )
        return strategy(executor, state)


class Materializer:
    """Dispatch per model config (reference: materialization.py:721-759).
    Default materialization is ``view`` like the reference."""

    def __init__(self, executor, state=None):
        self.executor = executor
        self.state = state

    def materialize(
        self, model_name, target_table, select_sql, config, meta, full_refresh=False
    ) -> dict:
        materialized = (config or {}).get("materialized", "view")
        strategy = MaterializationStrategyFactory.create(
            materialized, self.executor, self.state
        )
        # staging janitor: a crashed previous swap leaves a __stg_*
        # table holding the only complete copy of that merge — resolve
        # it (per config policy) before running anything new on top
        if materialized not in ("view", "temp_table"):
            strategy.recover_orphaned_staging(
                target_table,
                policy=(config or {}).get("on_orphaned_staging", "error"),
            )
        result = strategy.materialize(
            model_name, target_table, select_sql, config or {}, meta or {}, full_refresh
        )
        # CBO statistics: `analyze: true` computes table-level stats
        # (size/rows — drives broadcast decisions and join reordering),
        # `analyze: columns` adds per-column NDV/min/max histograms.
        # One metadata job after a successful physical write; views and
        # temp views have no files to analyze.
        mode = str((config or {}).get("analyze", "")).lower()
        if (
            mode in ("true", "1", "yes", "columns")
            and result.get("success")
            and materialized not in ("view", "temp_table")
        ):
            sql = f"ANALYZE TABLE {target_table} COMPUTE STATISTICS"
            if mode == "columns":
                sql += " FOR ALL COLUMNS"
            self.executor.spark.sql(sql)
            result["analyzed"] = mode
        return result



def compact_table(
    executor,
    table: str,
    target_file_mb: int = 128,
    cluster_by=None,
    min_files: int = 2,
) -> dict:
    """Small-file compaction — the periodic maintenance pass every
    incremental/append/CDC table needs at scale: each merge or
    micro-batch appends its own files, and a 100 TB table ingested in
    thousands of batches degenerates into millions of tiny files
    whose open/footer costs dominate scans.

    Sizes the rewrite from the table's ACTUAL on-disk bytes
    (``ceil(total_bytes / target_file_mb)`` output files), re-applies
    the clustered layout if asked (range partition + sort ⇒ min/max
    row-group pruning is restored for the whole table, not just the
    initial build), and swaps atomically-as-possible via the staging
    protocol (``_swap_in`` — the crash-safe path every rewrite in
    this engine uses).  No-op (returns ``{"compacted": False}``) when
    the table already has fewer than ``min_files`` files.
    """
    import math

    from pyspark.sql import functions as F  # noqa: F401 (parity of style)

    spark = executor.spark
    df = spark.table(table)
    files = df.inputFiles()
    if len(files) < min_files:
        return {"compacted": False, "n_files": len(files)}
    # total bytes via the JVM filesystem (inputFiles returns URIs)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    total = 0
    for f in files:
        path = jvm.org.apache.hadoop.fs.Path(f)
        fs = path.getFileSystem(conf)
        total += fs.getFileStatus(path).getLen()
    n_out = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    mat = Materialization(executor)
    if cluster_by:
        out = mat._apply_clustering(df, [n_out] + list(cluster_by))
    else:
        out = df.repartition(n_out)
    mat._swap_in(table, out)
    return {
        "compacted": True,
        "n_files_before": len(files),
        "bytes_before": total,
        "n_files_target": n_out,
    }


# Retain the OBSOLETE_COL export for callers inspecting CDC tables.
__all__ = [
    "Materialization",
    "ViewMaterialization",
    "TableMaterialization",
    "TempTableMaterialization",
    "IncrementalMaterialization",
    "CDCMaterialization",
    "CDCRetirementMaterialization",
    "MaterializationStrategyFactory",
    "Materializer",
    "OBSOLETE_COL",
    "strip_trailing_semicolon",
    "compact_table",
]
