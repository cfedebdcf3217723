"""Framework-semantics query surface — the behaviors the reference
framework itself *emits* as SQL, re-expressed as verifiable Spark
plans: silver-layer cleaning + keep-latest dedup (macro, W1/O1),
incremental watermark predicates (C1), CDC MERGE I/U/D (J2/J3/C4),
CDC retirement SCD2 (C5), data-quality tests (T1-T4), gold aggregate
codegen (A2), and $variable substitution (P7).

Each query derives deterministic base/change sets from the ``orders``
table so the DuckDB oracle can replicate the exact semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc_retirement import apply_cdc_retirement
from ..operators.merge import apply_cdc_merge, dedup_keep_latest
from ..sqlvars import substitute_variables
from . import load, query

D2 = "decimal(18,2)"
D4 = "decimal(18,4)"


# --------------------------------------------------------------------------
# silver_clean: cast + normalize + keep-latest dedup window
# (reference: src/framework/macros.py:148-155 silver_clean macro;
#  sql/models/silver/example_with_ref.sql.example:14-17 QUALIFY)
# --------------------------------------------------------------------------
@query(
    "q_silver_clean",
    oracle="""
SELECT o_custkey, o_orderkey,
       UPPER(TRIM(o_orderpriority)) AS priority,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS amount,
       CAST(o_orderdate AS DATE) AS order_date
FROM orders
QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
""",
)
def q_silver_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    latest = dedup_keep_latest(orders, ["o_custkey"], ["o_orderdate", "o_orderkey"])
    return latest.select(
        "o_custkey",
        "o_orderkey",
        F.upper(F.trim(F.col("o_orderpriority"))).alias("priority"),
        F.col("o_totalprice").cast(D2).cast("double").alias("amount"),
        F.col("o_orderdate").cast("date").alias("order_date"),
    )


# --------------------------------------------------------------------------
# incremental time watermark (C1): rows newer than the stored watermark
# (reference: src/framework/materialization.py:271-276)
# --------------------------------------------------------------------------
@query(
    "q_incremental_watermark",
    oracle="""
SELECT event_id, user_id, event_type,
       CAST(CAST(value AS DECIMAL(18,4)) AS DOUBLE) AS value, ts
FROM events
WHERE ts > TIMESTAMP '2024-01-15 00:00:00'
""",
)
def q_incremental_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The watermark predicate is applied to the RAW stored column so
    # it pushes down to the parquet scan (filtering a *derived*
    # expression would read every row); the schema vintage decides
    # what "raw" is — TIMESTAMP(MICROS) reads as timestamp_ntz (a
    # pushable timestamp literal compare), legacy TIMESTAMP(NANOS)
    # surfaces as epoch-nanos BIGINT (a pushable long compare).
    # Without nanosAsLong a vanilla session THROWS on the nanos
    # vintage before the bigint branch below can run.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(raw.dtypes).get("ts") == "bigint":
        wm_nanos = 1705276800 * 1_000_000_000  # 2024-01-15 00:00:00 UTC
        raw = raw.filter(F.col("ts") > F.lit(wm_nanos)).withColumn(
            "ts", F.expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)")
        )
    else:
        raw = raw.filter(
            F.col("ts") > F.expr("TIMESTAMP_NTZ '2024-01-15 00:00:00'")
        ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return (
        raw
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.col("value").cast(D4).cast("double").alias("value"),
            "ts",
        )
    )


# --------------------------------------------------------------------------
# CDC MERGE with I/U/D + COALESCE(op,'U') (J3/C4)
# (reference: src/framework/materialization.py:576-593)
# --------------------------------------------------------------------------
_MERGE_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus AS status,
         CAST(o_totalprice AS DECIMAL(18,2)) AS amount
  FROM orders WHERE o_orderkey % 7 <> 0
),
changes AS (
  SELECT o_orderkey, 'UPDATED' AS status,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) + CAST('10.00' AS DECIMAL(18,2)) AS DECIMAL(18,2)) AS amount,
         CASE WHEN o_orderkey % 20 = 0 THEN 'D'
              WHEN o_orderkey % 15 = 0 THEN NULL
              ELSE 'U' END AS op
  FROM orders WHERE o_orderkey % 5 = 0
),
j AS (
  SELECT COALESCE(b.o_orderkey, c.o_orderkey) AS o_orderkey,
         CASE WHEN c.o_orderkey IS NOT NULL THEN c.status ELSE b.status END AS status,
         CASE WHEN c.o_orderkey IS NOT NULL THEN c.amount ELSE b.amount END AS amount,
         c.o_orderkey IS NOT NULL AS s_present,
         COALESCE(c.op, 'U') AS op
  FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey
)
SELECT o_orderkey, status, CAST(amount AS DOUBLE) AS amount
FROM j WHERE NOT (s_present AND op = 'D')
"""


@query("q_cdc_merge", oracle=_MERGE_ORACLE)
def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast(D2).alias("amount"),
    )
    changes = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        F.lit("UPDATED").alias("status"),
        (F.col("o_totalprice").cast(D2) + F.lit("10.00").cast(D2))
        .cast(D2)
        .alias("amount"),
        F.when(F.col("o_orderkey") % 20 == 0, "D")
        .when(F.col("o_orderkey") % 15 == 0, F.lit(None).cast("string"))
        .otherwise("U")
        .alias("__CDC_OPERATION"),
    )
    merged = apply_cdc_merge(base, changes, ["o_orderkey"], ts_col=None)
    return merged.withColumn("amount", F.col("amount").cast("double"))


# --------------------------------------------------------------------------
# CDC retirement / SCD2 matrix (C5)
# (reference: src/framework/cdc_polars.py:87-423;
#  docs/CDC_RETIREMENT_PATTERN.md:9-66)
# Exercises: I inserts, U retires+inserts, D/E retire, keep-latest on
# intra-batch duplicate keys, U-for-unseen-key inserts.
# --------------------------------------------------------------------------
_RETIRE_ORACLE = """
WITH initial AS (
  SELECT o_orderkey, o_orderstatus AS status,
         CAST(o_totalprice AS DECIMAL(18,2)) AS amount,
         'I' AS cdc_op, TIMESTAMP '2024-01-01 00:00:00' AS cdc_ts
  FROM orders WHERE o_orderkey % 7 <> 0
),
batch_raw AS (
  SELECT o_orderkey, 'UPDATED' AS status,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) + CAST('10.00' AS DECIMAL(18,2)) AS DECIMAL(18,2)) AS amount,
         CASE WHEN o_orderkey % 20 = 0 THEN 'D'
              WHEN o_orderkey % 15 = 0 THEN 'E'
              ELSE 'U' END AS cdc_op,
         TIMESTAMP '2024-02-01 00:00:00' AS cdc_ts
  FROM orders WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey, 'STALE' AS status,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) + CAST('99.00' AS DECIMAL(18,2)) AS DECIMAL(18,2)) AS amount,
         'U' AS cdc_op, TIMESTAMP '2024-01-15 00:00:00' AS cdc_ts
  FROM orders WHERE o_orderkey % 25 = 0
  UNION ALL
  SELECT o_orderkey, 'NEW' AS status,
         CAST(o_totalprice AS DECIMAL(18,2)) AS amount,
         'I' AS cdc_op, TIMESTAMP '2024-02-01 00:00:00' AS cdc_ts
  FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 3 = 0 AND o_orderkey % 5 <> 0
),
batch AS (
  SELECT * FROM batch_raw
  QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY cdc_ts DESC) = 1
),
retire_keys AS (
  SELECT DISTINCT o_orderkey FROM batch WHERE cdc_op IN ('U','D','E')
),
from_initial AS (
  SELECT i.o_orderkey, i.status, i.amount, i.cdc_op,
         CASE WHEN r.o_orderkey IS NOT NULL THEN DATE '2024-03-01' END AS obsolete_day
  FROM initial i LEFT JOIN retire_keys r ON i.o_orderkey = r.o_orderkey
),
new_rows AS (
  SELECT o_orderkey, status, amount, cdc_op, CAST(NULL AS DATE) AS obsolete_day
  FROM batch WHERE cdc_op IN ('I','U')
)
SELECT o_orderkey, status, CAST(amount AS DOUBLE) AS amount, cdc_op,
       obsolete_day IS NULL AS is_active, obsolete_day
FROM (SELECT * FROM from_initial UNION ALL SELECT * FROM new_rows) t
"""


@query("q_cdc_retirement", oracle=_RETIRE_ORACLE)
def q_cdc_retirement(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    amount = F.col("o_totalprice").cast(D2)
    t1 = F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
    t15 = F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    t2 = F.lit("2024-02-01 00:00:00").cast("timestamp_ntz")

    initial = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        amount.alias("amount"),
        F.lit("I").alias("__CDC_OPERATION"),
        t1.alias("__CDC_TIMESTAMP"),
        F.lit(None).cast("timestamp_ntz").alias("obsolete_date"),
    )
    upd = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        F.lit("UPDATED").alias("status"),
        (amount + F.lit("10.00").cast(D2)).cast(D2).alias("amount"),
        F.when(F.col("o_orderkey") % 20 == 0, "D")
        .when(F.col("o_orderkey") % 15 == 0, "E")
        .otherwise("U")
        .alias("__CDC_OPERATION"),
        t2.alias("__CDC_TIMESTAMP"),
    )
    stale = orders.filter(F.col("o_orderkey") % 25 == 0).select(
        "o_orderkey",
        F.lit("STALE").alias("status"),
        (amount + F.lit("99.00").cast(D2)).cast(D2).alias("amount"),
        F.lit("U").alias("__CDC_OPERATION"),
        t15.alias("__CDC_TIMESTAMP"),
    )
    inserts = orders.filter(
        (F.col("o_orderkey") % 7 == 0)
        & (F.col("o_orderkey") % 3 == 0)
        & (F.col("o_orderkey") % 5 != 0)
    ).select(
        "o_orderkey",
        F.lit("NEW").alias("status"),
        amount.alias("amount"),
        F.lit("I").alias("__CDC_OPERATION"),
        t2.alias("__CDC_TIMESTAMP"),
    )
    batch = upd.unionByName(stale).unionByName(inserts)
    merged = apply_cdc_retirement(
        initial, batch, ["o_orderkey"], as_of="2024-03-01 00:00:00"
    )
    return merged.select(
        "o_orderkey",
        "status",
        F.col("amount").cast("double").alias("amount"),
        F.col("__CDC_OPERATION").alias("cdc_op"),
        F.col("obsolete_date").isNull().alias("is_active"),
        F.col("obsolete_date").cast("date").alias("obsolete_day"),
    )


# --------------------------------------------------------------------------
# data-quality tests T1-T4 as one result set
# (reference: src/framework/testing.py:30-60, polars_utils.py:158-168)
# --------------------------------------------------------------------------
_DQ_ORACLE = """
SELECT 'unique_l_orderkey_linenumber' AS test_name,
       CAST((SELECT COUNT(*) FROM (
          SELECT l_orderkey, l_linenumber FROM lineitem
          GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1) d) AS BIGINT) AS rows_failed
UNION ALL
SELECT 'unique_l_orderkey',
       CAST((SELECT COUNT(*) FROM (
          SELECT l_orderkey FROM lineitem
          GROUP BY l_orderkey HAVING COUNT(*) > 1) d) AS BIGINT)
UNION ALL
SELECT 'not_null_o_custkey',
       CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT)
UNION ALL
SELECT 'accepted_values_o_orderstatus',
       CAST((SELECT COUNT(*) FROM orders WHERE o_orderstatus NOT IN ('O','F')) AS BIGINT)
UNION ALL
SELECT 'range_l_quantity',
       CAST((SELECT COUNT(*) FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT)
"""


@query("q_dq_tests", oracle=_DQ_ORACLE)
def q_dq_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")

    def _one(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("test_name"), F.col("rows_failed").cast("bigint")
        )

    uniq2 = _one(
        "unique_l_orderkey_linenumber",
        li.groupBy("l_orderkey", "l_linenumber")
        .count()
        .filter(F.col("count") > 1)
        .agg(F.count(F.lit(1)).alias("rows_failed")),
    )
    uniq1 = _one(
        "unique_l_orderkey",
        li.groupBy("l_orderkey")
        .count()
        .filter(F.col("count") > 1)
        .agg(F.count(F.lit(1)).alias("rows_failed")),
    )
    notnull = _one(
        "not_null_o_custkey",
        orders.filter(F.col("o_custkey").isNull()).agg(
            F.count(F.lit(1)).alias("rows_failed")
        ),
    )
    accepted = _one(
        "accepted_values_o_orderstatus",
        orders.filter(~F.col("o_orderstatus").isin("O", "F")).agg(
            F.count(F.lit(1)).alias("rows_failed")
        ),
    )
    rng = _one(
        "range_l_quantity",
        li.filter((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).agg(
            F.count(F.lit(1)).alias("rows_failed")
        ),
    )
    return uniq2.unionByName(uniq1).unionByName(notnull).unionByName(accepted).unionByName(rng)


# --------------------------------------------------------------------------
# gold_aggregate macro codegen shape (A2)
# (reference: src/framework/macros.py:167-196)
# --------------------------------------------------------------------------
@query(
    "q_gold_aggregate",
    oracle="""
SELECT event_type, CAST(DATE_TRUNC('day', ts) AS DATE) AS event_day,
       CAST(COUNT(*) AS BIGINT) AS event_count,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS unique_users
FROM events
GROUP BY 1, 2
""",
)
def q_gold_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # run through the actual macro codegen path (macros.gold_aggregate
    # emits the SQL the model layer would execute)
    from ..macros import gold_aggregate

    load(spark, sf_dir, "events").createOrReplaceTempView("events_gold_v")
    sql = gold_aggregate(
        "events_gold_v",
        group_by_columns=["event_type", "CAST(DATE_TRUNC('day', ts) AS DATE)"],
        aggregate_columns={
            "event_count": "CAST(COUNT(*) AS BIGINT)",
            "total_value": "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)",
            "unique_users": "CAST(COUNT(DISTINCT user_id) AS BIGINT)",
        },
    )
    # alias the generated group-expression column to match the oracle
    out = spark.sql(sql)
    cols = out.columns
    return out.select(
        F.col(cols[0]),
        F.col(f"`{cols[1]}`").alias("event_day"),
        *[F.col(c) for c in cols[2:]],
    )


# --------------------------------------------------------------------------
# $variable substitution through the real SQL path (P7)
# (reference: src/framework/executor.py:341-397)
# --------------------------------------------------------------------------
_VAR_TEMPLATE = """
SELECT o_orderkey, o_custkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS amount
FROM {table}
WHERE o_orderdate >= $start_date AND o_totalprice > $min_amount
  AND o_orderstatus = $status
"""


@query(
    "q_var_substitution",
    oracle=_VAR_TEMPLATE.replace("{table}", "orders")
    .replace("$start_date", "'1997-06-01'")
    .replace("$min_amount", "150000")
    .replace("$status", "'O'"),
)
def q_var_substitution(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_v_sub")
    sql = substitute_variables(
        _VAR_TEMPLATE.replace("{table}", "orders_v_sub"),
        {"start_date": "1997-06-01", "min_amount": 150000, "status": "O"},
    )
    return spark.sql(sql)


# --------------------------------------------------------------------------
# connector round-trips (sources/io.py): the non-parquet formats must
# preserve every value exactly — gated, not just unit-tested
# --------------------------------------------------------------------------
_NATION_ORACLE = "SELECT n_nationkey, n_name, n_regionkey FROM nation"


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    import os
    import tempfile

    from ..sources.io import read_source, write_sink

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    path = os.path.join(tempfile.mkdtemp(prefix=f"dtps_{fmt}_rt_"), f"nation_{fmt}")
    write_sink(nation, path, fmt=fmt)
    # explicit schema: the round-trip must preserve TYPES, not re-infer
    return read_source(spark, path, fmt=fmt, schema=nation.schema).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@query("q_source_csv_roundtrip", oracle=_NATION_ORACLE)
def q_source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV connector round-trip: write the nation table through the
    sink (quoted headers), read it back with the original schema, and
    hash-compare against the parquet truth — commas and quoting in
    free-text comments must survive exactly."""
    return _roundtrip(spark, sf_dir, "csv")


@query("q_source_json_roundtrip", oracle=_NATION_ORACLE)
def q_source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines connector round-trip, same contract as the CSV
    gate."""
    return _roundtrip(spark, sf_dir, "json")


@query("q_source_orc_roundtrip", oracle=_NATION_ORACLE)
def q_source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC connector round-trip (columnar like parquet, ACID-table
    interchange format) — same exact-preservation contract as the CSV
    and JSON gates."""
    return _roundtrip(spark, sf_dir, "orc")


# --------------------------------------------------------------------------
# single-pass column profile — per-column nulls / exact distincts /
# string-cast min-max over orders, long form (T-family companion:
# what you run BEFORE writing dq tests for a new source)
# --------------------------------------------------------------------------
_PROFILE_ORACLE = """
WITH w AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_k,
         CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS nd_k,
         MIN(CAST(o_orderkey AS VARCHAR)) AS min_k, MAX(CAST(o_orderkey AS VARCHAR)) AS max_k,
         CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_s,
         CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nd_s,
         MIN(CAST(o_orderstatus AS VARCHAR)) AS min_s, MAX(CAST(o_orderstatus AS VARCHAR)) AS max_s,
         CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_p,
         CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nd_p,
         MIN(CAST(o_orderpriority AS VARCHAR)) AS min_p, MAX(CAST(o_orderpriority AS VARCHAR)) AS max_p,
         CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_d,
         CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS nd_d,
         MIN(CAST(o_orderdate AS VARCHAR)) AS min_d, MAX(CAST(o_orderdate AS VARCHAR)) AS max_d
  FROM orders)
SELECT 'o_orderkey' AS col_name, n_rows, null_k AS n_nulls, nd_k AS n_distinct,
       min_k AS min_value, max_k AS max_value FROM w
UNION ALL SELECT 'o_orderstatus', n_rows, null_s, nd_s, min_s, max_s FROM w
UNION ALL SELECT 'o_orderpriority', n_rows, null_p, nd_p, min_p, max_p FROM w
UNION ALL SELECT 'o_orderdate', n_rows, null_d, nd_d, min_d, max_d FROM w
"""


@query("q_profile_orders", oracle=_PROFILE_ORACLE)
def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.transform import profile_columns

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return profile_columns(
        orders, ["o_orderkey", "o_orderstatus", "o_orderpriority", "o_orderdate"]
    )


# --------------------------------------------------------------------------
# snapshot SCD2 (check strategy + hard-delete invalidation) — two
# deterministic runs replayed in one plan, oracle replays both in SQL
# --------------------------------------------------------------------------
_SNAPSHOT_ORACLE = """
WITH b1 AS (SELECT c_custkey AS id, c_name AS v FROM customer WHERE c_custkey % 3 != 0),
b2 AS (SELECT c_custkey AS id,
              CASE WHEN c_custkey % 5 = 0 THEN c_name || '!' ELSE c_name END AS v
       FROM customer WHERE c_custkey % 2 != 0),
closed AS (
  SELECT b1.id, b1.v, TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
         TIMESTAMP '2024-01-02 00:00:00' AS valid_to, FALSE AS is_current
  FROM b1 LEFT JOIN b2 ON b1.id = b2.id
  WHERE b2.id IS NULL OR b1.v != b2.v),
kept AS (
  SELECT b1.id, b1.v, TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
         CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
  FROM b1 JOIN b2 ON b1.id = b2.id AND b1.v = b2.v),
fresh AS (
  SELECT b2.id, b2.v, TIMESTAMP '2024-01-02 00:00:00' AS valid_from,
         CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
  FROM b2 LEFT JOIN b1 ON b1.id = b2.id
  WHERE b1.id IS NULL OR b1.v != b2.v)
SELECT id, v, CAST(valid_from AS TIMESTAMP) AS valid_from,
       CAST(valid_to AS TIMESTAMP) AS valid_to, is_current FROM closed
UNION ALL SELECT * FROM kept
UNION ALL SELECT * FROM fresh
"""


@query("q_snapshot_scd2", oracle=_SNAPSHOT_ORACLE)
def q_snapshot_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot check-strategy semantics under the oracle: batch 1
    initializes, batch 2 changes every %5 key, drops the %3-excluded
    overlap complement, and adds the evens' complement — closed /
    kept / fresh versions must match the SQL replay exactly."""
    from ..operators.snapshot import initial_snapshot, snapshot_merge

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    b1 = cust.filter("c_custkey % 3 != 0").selectExpr(
        "c_custkey AS id", "c_name AS v"
    )
    b2 = cust.filter("c_custkey % 2 != 0").selectExpr(
        "c_custkey AS id",
        "CASE WHEN c_custkey % 5 = 0 THEN c_name || '!' ELSE c_name END AS v",
    )
    target = initial_snapshot(b1, "2024-01-01 00:00:00")
    return snapshot_merge(
        target,
        b2,
        ["id"],
        ["v"],
        "2024-01-02 00:00:00",
        strategy="check",
        invalidate_hard_deletes=True,
    ).select(
        "id",
        "v",
        F.col("valid_from").cast("timestamp"),
        F.col("valid_to").cast("timestamp"),
        "is_current",
    )


# --------------------------------------------------------------------------
# incrementally-maintained aggregate state (incremental_strategy =
# aggregate — no reference counterpart: dbt-class engines force a full
# recompute of aggregate models)
# --------------------------------------------------------------------------
_INC_AGG_ORACLE = """
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM orders GROUP BY o_custkey
"""


@query("q_incremental_aggregate", oracle=_INC_AGG_ORACLE)
def q_incremental_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives the REAL aggregate-incremental strategy: the initial
    build aggregates batch 1 (orders with o_orderkey % 3 != 0) into a
    catalog state table, then a maintenance run feeds batch 2's
    partial aggregates through the sum/sum/max combine (groups-sized
    state ∪ delta-partials → one groupBy, crash-safe staging swap).
    The maintained state must equal the one-shot full aggregate —
    exact DECIMAL sums and BIGINT counts make the comparison
    bit-strict."""
    import uuid as _uuid

    from ..executor import SparkExecutor
    from ..materialization import IncrementalMaterialization

    orders = load(spark, sf_dir, "orders")
    src = f"q_incagg_src_{_uuid.uuid4().hex[:8]}"
    orders.createOrReplaceTempView(src)
    target = f"incagg_{_uuid.uuid4().hex[:8]}"
    mx = IncrementalMaterialization(SparkExecutor(spark))
    cfg = {
        "incremental_strategy": "aggregate",
        "group_by": "o_custkey",
        "agg_columns": "n_orders:sum|total:sum|max_key:max",
    }

    def batch_sql(pred: str) -> str:
        return (
            "SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,"
            " CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))"
            " AS DECIMAL(18,2)) AS total,"
            f" CAST(MAX(o_orderkey) AS BIGINT) AS max_key FROM {src}"
            f" WHERE {pred} GROUP BY o_custkey"
        )

    try:
        r1 = mx.materialize(
            "q_incagg", target, batch_sql("o_orderkey % 3 != 0"), cfg, {}
        )
        assert r1.get("initial"), r1
        r2 = mx.materialize(
            "q_incagg", target, batch_sql("o_orderkey % 3 = 0"), cfg, {}
        )
        assert r2.get("incremental_strategy") == "aggregate", r2
        return (
            spark.table(target)
            .select(
                "o_custkey",
                "n_orders",
                F.col("total").cast("double").alias("total"),
                "max_key",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {target}")
        spark.sql(f"DROP TABLE IF EXISTS __stg_{target}")
        spark.catalog.dropTempView(src)


# --------------------------------------------------------------------------
# THE COMPOSED PRODUCT under the correctness gate: execute the REAL
# framework (parse -> dependency DAG -> level-parallel
# materialization) over the example_pipeline curation project —
# ingest (+ synthetic-PII stamp) -> language-ID + Gopher filter ->
# MinHash-LSH dedup -> PII scrub -> benchmark decontamination ->
# DSIR selection -> sequence packing — and return the final
# gold_packed table; the oracle replays every stage as one DuckDB
# CTE chain.  This pins the claim the per-stage gates cannot: the
# §2.12 operator semantics SURVIVE composition through models, refs,
# $vars, and incremental materializations.  (Round 12 added the
# scrub + decontam stages — X8/X9 were standalone-gated but absent
# from the composed DAG; a real curation pipeline runs both.)
#
# Every CTE referenced more than once — here and in the tails spliced
# after it — is MATERIALIZED: DuckDB otherwise re-inlines it at each
# reference, and the DSIR tails that read sc / wts / decon several
# times grew from under 1 s to minutes.
# --------------------------------------------------------------------------
_FUNNEL_PREFIX = """
WITH raw AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS STRING)
              || '@mail.example or call +1-555-'
              || lpad(CAST(doc_id % 10000 AS STRING), 4, '0') AS text,
         lang, source, n_chars
  FROM documents),
bronze AS MATERIALIZED (
  SELECT doc_id, text, lang, source, n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM raw),
signals AS MATERIALIZED (
  SELECT doc_id, text, lang, n_tokens,
         list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS sum_token_len,
         len(list_filter(string_split(text, ' '), x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha_words,
         len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\\.\\.\\.')) AS n_symbols,
         len(list_filter(string_split(text, ' '), x -> list_contains(['the','a','and','of','to','is'], x))) AS n_stop_en,
         len(list_filter(string_split(text, ' '), x -> list_contains(['der','die','das','und','ist','ein'], x))) AS n_stop_de,
         len(list_filter(string_split(text, ' '), x -> list_contains(['el','la','los','y','es','un'], x))) AS n_stop_es
  FROM bronze),
quality AS MATERIALIZED (
  SELECT doc_id, text, lang, n_tokens
  FROM signals
  WHERE n_tokens > 0
    AND CAST(sum_token_len AS DOUBLE) / n_tokens >= 3.0
    AND CAST(sum_token_len AS DOUBLE) / n_tokens <= 10.0
    AND CAST(n_symbols AS DOUBLE) / n_tokens < 0.1
    AND CAST(n_alpha_words AS DOUBLE) / n_tokens >= 0.8
    AND n_stop_en >= 2),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM quality),
idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        FROM toks WHERE len(t) >= 3),
sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle FROM idx),
sig AS MATERIALIZED (SELECT doc_id,
  MIN(md5('0:' || shingle)) AS m0, MIN(md5('1:' || shingle)) AS m1,
  MIN(md5('2:' || shingle)) AS m2, MIN(md5('3:' || shingle)) AS m3,
  MIN(md5('4:' || shingle)) AS m4, MIN(md5('5:' || shingle)) AS m5,
  MIN(md5('6:' || shingle)) AS m6, MIN(md5('7:' || shingle)) AS m7
  FROM sh GROUP BY doc_id),
bands AS MATERIALIZED (
  SELECT doc_id, 0 AS band, md5(m0 || m1) AS bkey FROM sig
  UNION ALL SELECT doc_id, 1, md5(m2 || m3) FROM sig
  UNION ALL SELECT doc_id, 2, md5(m4 || m5) FROM sig
  UNION ALL SELECT doc_id, 3, md5(m6 || m7) FROM sig),
drops AS (SELECT DISTINCT a.doc_id FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND b.doc_id < a.doc_id),
dedup AS (SELECT q.* FROM quality q LEFT JOIN drops d ON q.doc_id = d.doc_id
          WHERE d.doc_id IS NULL),
scrubbed AS MATERIALIZED (
  SELECT doc_id,
         regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
             '\\+1-555-[0-9]{4}', '<PHONE>', 'g') AS text,
         lang, n_tokens
  FROM dedup),
bt AS (SELECT string_split(text, ' ') AS t FROM bronze WHERE doc_id % 20 = 0),
bidx AS (SELECT t, unnest(generate_series(1, len(t) - 7)) AS i
         FROM bt WHERE len(t) >= 8),
bench8 AS (SELECT DISTINCT
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
             t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7] AS shingle
           FROM bidx),
ttk AS (SELECT doc_id, string_split(text, ' ') AS t FROM scrubbed
        WHERE doc_id % 20 <> 0),
tidx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
         FROM ttk WHERE len(t) >= 8),
tsh AS (SELECT DISTINCT doc_id,
          t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
          t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7] AS shingle
        FROM tidx),
hits AS (SELECT DISTINCT tsh.doc_id FROM tsh JOIN bench8 USING (shingle)),
decon AS MATERIALIZED (SELECT s.* FROM scrubbed s LEFT JOIN hits h ON s.doc_id = h.doc_id
          WHERE h.doc_id IS NULL AND s.doc_id % 20 <> 0),
dtok AS MATERIALIZED (SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM decon),
grams AS (
  SELECT doc_id, lang, tk[i] AS gram FROM dtok, unnest(generate_series(1, len(tk))) AS u(i)
  UNION ALL
  SELECT doc_id, lang, tk[i] || ' ' || tk[i+1] FROM dtok, unnest(generate_series(1, len(tk) - 1)) AS u(i)),
b AS MATERIALIZED (SELECT doc_id, lang,
             CAST(('0x' || substr(md5(gram), 1, 12)) AS BIGINT) % 1024 AS bucket
      FROM grams),
t_hist AS MATERIALIZED (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS t_b FROM b WHERE lang = 'en' GROUP BY 1),
r_hist AS MATERIALIZED (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS r_b FROM b WHERE lang <> 'en' GROUP BY 1),
tot AS MATERIALIZED (SELECT (SELECT CAST(SUM(t_b) AS BIGINT) FROM t_hist) AS tt,
               (SELECT CAST(SUM(r_b) AS BIGINT) FROM r_hist) AS rt),
wts AS MATERIALIZED (SELECT COALESCE(r.bucket, t.bucket) AS bucket,
               CAST(1000000 * (COALESCE(t.t_b, 0) + 1) * (rt + 1024)
                    // ((COALESCE(r.r_b, 0) + 1) * (tt + 1024)) - 1000000 AS BIGINT) AS w_b
        FROM r_hist r FULL OUTER JOIN t_hist t ON r.bucket = t.bucket, tot),
c AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS c FROM b WHERE lang <> 'en' GROUP BY 1, 2),
sc AS MATERIALIZED (SELECT doc_id, CAST(SUM(c * w_b) AS BIGINT) AS dsir_score FROM c JOIN wts USING (bucket) GROUP BY 1),
selected AS MATERIALIZED (SELECT doc_id FROM (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY dsir_score DESC, doc_id) AS rank FROM sc) t
  WHERE rank <= 50)
"""

# The tokenize-then-pack tail (round 13): the funnel trains a
# tokenizer on the decontaminated corpus and packs TRAINED-TOKENIZER
# PIECES, not whitespace tokens — silver_vocab + silver_tokenized in
# the Spark DAG, the unrolled text.py trainer + serve chain here
# (same constants, same bit-exact BIGINT arithmetic; the ~100-CTE
# chain is generated, not hand-kept).  Round 14: the family is
# CONFIG-DRIVEN (`tokenizer: unigram|bpe` var — the models branch on
# Jinja var()), so the oracle is parametrized the same way: the
# unigram mode splices the unrolled Viterbi-EM trainer+serve chain,
# the bpe mode splices the unrolled greedy-merge chain and counts
# final-segmentation symbols per doc.
def _funnel_oracle(tokenizer: str = "unigram") -> str:
    from ..operators import text as _tx

    if tokenizer == "bpe":
        tok_parts = "\n".join(
            _tx._bpe_oracle_ctes(8, src="decon", lead=",")
        ) + """
,docw AS (SELECT doc_id, t AS word
          FROM decon, unnest(string_split(text, ' ')) AS u(t)
          WHERE t <> ''),
bpc AS (SELECT d.doc_id, CAST(SUM(len(s.syms)) AS BIGINT) AS n_pieces
        FROM docw d JOIN s8 s ON d.word = s.word GROUP BY 1),
tokenized AS MATERIALIZED (
  SELECT d.doc_id, d.lang, d.n_tokens,
         CAST(COALESCE(bpc.n_pieces, 0) AS BIGINT) AS n_pieces
  FROM decon d LEFT JOIN bpc ON d.doc_id = bpc.doc_id)"""
    else:
        tok_parts = _tx.unigram_lm_oracle_sql(
            serve=True, src="decon", parts_only=True
        ) + """
,tokenized AS MATERIALIZED (
  SELECT d.doc_id, d.lang, d.n_tokens,
         CAST(COALESCE(pc.n_pieces, 0) AS BIGINT) AS n_pieces
  FROM decon d LEFT JOIN pc ON d.doc_id = pc.doc_id)"""
    return _FUNNEL_PREFIX + tok_parts + """,
sel AS (
  SELECT doc_id, lang, n_tokens, n_pieces FROM tokenized WHERE lang = 'en'
  UNION ALL
  SELECT t.doc_id, t.lang, t.n_tokens, t.n_pieces
  FROM tokenized t JOIN selected s ON t.doc_id = s.doc_id),
cum AS (SELECT doc_id, lang, n_tokens, n_pieces,
        SUM(n_pieces) OVER (PARTITION BY lang ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM sel)
SELECT doc_id, lang, n_tokens, n_pieces,
       lang || '/' || CAST((cum - n_pieces) // 512 AS STRING) AS pack_id,
       CAST((cum - n_pieces) % 512 AS BIGINT) AS pack_offset
FROM cum
"""


_FUNNEL_ORACLE = _funnel_oracle()


def _run_funnel(
    spark: SparkSession,
    sf_dir: str,
    extra_vars: dict | None = None,
    batches: tuple[str, ...] = (),
) -> DataFrame:
    """Execute the REAL framework over a copy of the example_pipeline
    project and return gold_packed.  ``extra_vars`` overrides profile
    vars — the config-driven tokenizer-family switch rides through
    here (reference: the dbt-style --vars override).  With
    ``batches`` (documents filter predicates) the DAG runs once per
    batch against a staged source holding only that batch's
    documents, each run on top of the previous run's tables and
    state; otherwise it runs once over ``sf_dir``."""
    import os
    import shutil
    import tempfile
    import uuid
    from pathlib import Path

    from ..config import load_config
    from ..dependency import ParallelExecutor, build_dependency_graph
    from ..executor import ModelExecutor, SparkExecutor
    from ..parser import SQLParser
    from ..state import create_state_manager

    src = Path(__file__).resolve().parents[2] / "example_pipeline"
    tmp = tempfile.mkdtemp(prefix="dtps_funnel_")
    proj = Path(tmp) / "example_pipeline"
    shutil.copytree(src, proj)
    source_dirs = [sf_dir]
    if batches:
        docs = load(spark, sf_dir, "documents")
        source_dirs = []
        for i, pred in enumerate(batches):
            bdir = Path(tmp) / f"batch{i + 1}"
            docs.filter(pred).write.parquet(str(bdir / "documents.parquet"))
            source_dirs.append(str(bdir))
    db = f"funnel_{uuid.uuid4().hex[:8]}"
    old_env = os.environ.get("TESTDATA_DIR")
    try:
        for source_dir in source_dirs:
            # ${TESTDATA_DIR} is substituted when sources.yml is READ
            # (config.load_yaml), so the env var must be set BEFORE
            # load_config and the executor rebuilt per batch — exactly
            # what a scheduler does per run.  The catalog tables and
            # the on-disk state dir carry the incremental state
            # across batches.
            os.environ["TESTDATA_DIR"] = source_dir
            config = load_config(proj)
            config.database = db
            config.variables.update(extra_vars or {})
            parser = SQLParser(config.models_dir)
            state = create_state_manager(config.state_dir, config.env_name)
            mx = ModelExecutor(
                SparkExecutor(spark, database=db), parser, config, state
            )
            graph = build_dependency_graph(parser.parse_directory())
            results = ParallelExecutor(max_parallelism=4).execute_levels(
                graph.topological_sort(), mx.execute_model, graph
            )
            failed = [r for r in results if not r.get("success")]
            if failed:
                raise RuntimeError(
                    f"curation funnel failed ({source_dir}): {failed[:1]}"
                )
        if batches:
            # self-check: after the last batch the MERGE-maintained
            # bronze must hold the whole corpus (earlier rows retained
            # + new keys inserted) — a staging/env regression fails
            # loudly here instead of surfacing as a silent oracle
            # mismatch
            n_bronze = spark.table(f"{db}.bronze_documents").count()
            n_docs = docs.count()
            if n_bronze != n_docs:
                raise RuntimeError(
                    f"incremental funnel: bronze has {n_bronze} rows after"
                    f" the last batch, expected the full corpus {n_docs}"
                )
        # materialize into local rows BEFORE the database drops — the
        # returned frame must outlive the temp warehouse
        packed = spark.table(f"{db}.gold_packed")
        return spark.createDataFrame(packed.collect(), packed.schema)
    finally:
        if old_env is None:
            os.environ.pop("TESTDATA_DIR", None)
        else:
            os.environ["TESTDATA_DIR"] = old_env
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(tmp, ignore_errors=True)


@query("pipeline_curation_funnel", oracle=_FUNNEL_ORACLE)
def pipeline_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_funnel(spark, sf_dir)


@query("pipeline_funnel_bpe", oracle=_funnel_oracle("bpe"))
def pipeline_funnel_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER tokenizer family through the same composed product
    (round 14): the identical example_pipeline DAG with the
    `tokenizer: bpe` var override, so silver_vocab materializes the
    greedy-merge table (bpe_vocab_model_sql — linear unrolled chain,
    in-line window argmax per step) and silver_tokenized applies the
    merges in step order (bpe_serve_model_sql), with gold_packed
    budgeting BPE pieces.  With pipeline_curation_funnel this proves
    BOTH families drive the end-to-end DAG green — the funnel
    consumes the tokenizer choice text_tokenizer_compare computes,
    instead of hard-coding one family (r13 verdict item 3)."""
    return _run_funnel(spark, sf_dir, {"tokenizer": "bpe"})


@query("pipeline_funnel_incremental", oracle=_FUNNEL_ORACLE)
def pipeline_funnel_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel's INCREMENTAL story under the correctness gate: the
    same example_pipeline DAG executed TWICE against a staged source —
    batch 1 is documents with doc_id % 4 != 0 (cold build: the
    unique_key MERGE's initial CTAS), batch 2 is ONLY the remaining
    quarter (the MERGE must retain every batch-1 row while inserting
    the new keys, and every downstream silver/gold model must rebuild
    from the merged bronze).  The final gold_packed must equal the
    one-shot full-corpus oracle — the two-batch-vs-one-shot shape
    q_incremental_aggregate uses, now through the whole composed
    product (models, refs, $vars, DQ tests, level-parallel DAG)."""
    return _run_funnel(
        spark, sf_dir, batches=("doc_id % 4 != 0", "doc_id % 4 = 0")
    )
