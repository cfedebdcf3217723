"""Partition-pruned (bucketed) MERGE fast path.

The plain merge strategies rewrite the whole target on every merge
(one write into staging plus a rename into place —
materialization._swap_in), because vanilla Spark cannot mutate
parquet in place.  At 100 TB that is the dominant cost: a 1%-churn
merge still rewrites 100%.

This module stores the target partitioned by a stable hash bucket of
the merge key (``__merge_bucket = pmod(xxhash64(keys), n)``) and
rewrites ONLY the partitions containing changed keys:

1. bucket the incoming batch with the same hash,
2. collect the distinct affected bucket ids (control-plane-sized —
   bounded by ``n_buckets``, never by data),
3. merge the batch against the *pruned* target slice (partition
   pruning on ``__merge_bucket`` keeps the scan to affected buckets),
4. stage the merged slice, then dynamic-partition-overwrite it into
   the target — untouched bucket directories keep their files
   byte-identical (verified by test_bucketed_merge).

A merge touching b of n buckets costs O(b/n) of the table instead of
the whole table.  The same layout is what Delta/Iceberg ``MERGE INTO``
with file skipping converges to; this is the vanilla-parquet
equivalent.
(reference: the ``CLUSTER BY (unique_key)`` intent on CDC tables,
src/framework/cdc_polars.py:157-160 — SURVEY §2.7/§4.)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..errors import MaterializationError
from .merge import apply_cdc_merge, merge_upsert

BUCKET_COL = "__merge_bucket"
_PROP = "dtps.merge_buckets"


def bucket_expr(keys: Sequence[str], n_buckets: int) -> F.Column:
    """Deterministic bucket id for a merge key: pmod(xxhash64, n).

    Emitted as a zero-padded STRING: Hive metastores prune partition
    filters natively for string keys but throw MetaException for
    integer keys (the classic getPartitionsByFilter limitation), and
    padding keeps directory listings ordered."""
    return F.lpad(
        F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast(
            "string"
        ),
        5,
        "0",
    )


def write_bucketed(
    spark: SparkSession,
    target_table: str,
    df: DataFrame,
    keys: Sequence[str],
    n_buckets: int,
) -> None:
    """Initial load of a bucket-partitioned merge target; records the
    bucket count in table properties so later merges can't silently
    use a different hash width."""
    out = df.withColumn(BUCKET_COL, bucket_expr(keys, n_buckets))
    out.write.mode("overwrite").format("parquet").partitionBy(BUCKET_COL).saveAsTable(
        target_table
    )
    spark.sql(
        f"ALTER TABLE {target_table} SET TBLPROPERTIES ('{_PROP}' = '{n_buckets}')"
    )


def _enable_pruning_fallback(spark: SparkSession) -> None:
    """Embedded/older Hive metastores (e.g. Derby) throw MetaException
    from getPartitionsByFilter; Spark's documented fallback lists all
    partitions and prunes client-side — correct everywhere, and the
    fast server-side path still runs first on real metastores."""
    spark.conf.set(
        "spark.sql.hive.metastorePartitionPruningFallbackOnException", "true"
    )


def stored_bucket_count(spark: SparkSession, target_table: str) -> int | None:
    rows = spark.sql(f"SHOW TBLPROPERTIES {target_table}").collect()
    for r in rows:
        if r["key"] == _PROP:
            return int(r["value"])
    return None


def _overwrite_affected(
    spark: SparkSession,
    target_table: str,
    merged: DataFrame,
    staging_table: str,
    affected: Sequence[int],
) -> None:
    """Stage the merged slice (it reads the target), then dynamic-
    partition-overwrite it into the target: only partitions present in
    the staged data are replaced; every other bucket's files are left
    physically untouched.  Affected buckets that merged to ZERO rows
    (e.g. a CDC batch deleting a bucket's last keys) are dropped
    explicitly — dynamic overwrite only replaces partitions it has
    rows for, and would otherwise resurrect the deleted data."""
    merged.write.mode("overwrite").format("parquet").saveAsTable(staging_table)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # insertInto is positional; match the target's column order
        # (partition column last after saveAsTable(partitionBy)).
        cols = spark.table(target_table).columns
        staged = spark.table(staging_table)
        staged.select(*cols).write.insertInto(target_table, overwrite=True)
        emptied = set(affected) - {
            r[0] for r in staged.select(BUCKET_COL).distinct().collect()
        }
        for b in sorted(emptied):
            spark.sql(
                f"ALTER TABLE {target_table} DROP IF EXISTS "
                f"PARTITION ({BUCKET_COL} = '{b}')"
            )
    except Exception as exc:
        raise MaterializationError(
            f"bucketed merge of {target_table} failed mid-overwrite; staging "
            f"table {staging_table} retains the merged slice for recovery"
        ) from exc
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    spark.sql(f"DROP TABLE IF EXISTS {staging_table}")
    spark.catalog.refreshTable(target_table)


def _affected_buckets(source_b: DataFrame) -> list[str]:
    return sorted(
        r[0] for r in source_b.select(BUCKET_COL).distinct().collect()
    )


def _staging_name(target_table: str) -> str:
    db, _, tbl = target_table.rpartition(".")
    return f"{db}.__stg_{tbl}" if db else f"__stg_{tbl}"


def merge_upsert_bucketed(
    spark: SparkSession,
    target_table: str,
    source: DataFrame,
    keys: Sequence[str],
) -> dict:
    """Keyed upsert against a bucket-partitioned target, rewriting only
    affected buckets.  Returns {"affected_buckets": b, "total": n}."""
    n_buckets = stored_bucket_count(spark, target_table)
    if n_buckets is None:
        raise MaterializationError(
            f"{target_table} is not a bucketed merge target (missing {_PROP} "
            f"property) — initial-load it with write_bucketed()"
        )
    _enable_pruning_fallback(spark)
    source_b = source.withColumn(BUCKET_COL, bucket_expr(keys, n_buckets))
    affected = _affected_buckets(source_b)
    target = spark.table(target_table).filter(F.col(BUCKET_COL).isin(affected))
    merged = merge_upsert(
        target.drop(BUCKET_COL), source_b.drop(BUCKET_COL), keys
    ).withColumn(BUCKET_COL, bucket_expr(keys, n_buckets))
    _overwrite_affected(
        spark, target_table, merged, _staging_name(target_table), affected
    )
    return {"affected_buckets": len(affected), "total_buckets": n_buckets}


def cdc_merge_bucketed(
    spark: SparkSession,
    target_table: str,
    batch: DataFrame,
    keys: Sequence[str],
    op_col: str = "__CDC_OPERATION",
    ts_col: str | None = "__CDC_TIMESTAMP",
) -> dict:
    """CDC I/U/D merge against a bucket-partitioned target, rewriting
    only affected buckets (same clause semantics as apply_cdc_merge)."""
    n_buckets = stored_bucket_count(spark, target_table)
    if n_buckets is None:
        raise MaterializationError(
            f"{target_table} is not a bucketed merge target (missing {_PROP} "
            f"property) — initial-load it with write_bucketed()"
        )
    _enable_pruning_fallback(spark)
    batch_b = batch.withColumn(BUCKET_COL, bucket_expr(keys, n_buckets))
    affected = _affected_buckets(batch_b)
    target = spark.table(target_table).filter(F.col(BUCKET_COL).isin(affected))
    merged = apply_cdc_merge(
        target.drop(BUCKET_COL),
        batch_b.drop(BUCKET_COL),
        keys,
        op_col=op_col,
        ts_col=ts_col,
    ).withColumn(BUCKET_COL, bucket_expr(keys, n_buckets))
    _overwrite_affected(
        spark, target_table, merged, _staging_name(target_table), affected
    )
    return {"affected_buckets": len(affected), "total_buckets": n_buckets}
