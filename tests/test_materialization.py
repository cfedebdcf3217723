"""Materialization-semantics tests: each strategy's initial-load vs
second-run behavior, including the time-incremental watermark path
with genuinely new data and the CDC retirement matrix from the
reference's pattern spec (reference: docs/CDC_RETIREMENT_PATTERN.md:9-66)."""

from __future__ import annotations

import uuid

import pytest

from data_transformation_python_spark.config import ProjectConfig, SourceRegistry
from data_transformation_python_spark.executor import ModelExecutor, SparkExecutor
from data_transformation_python_spark.parser import SQLParser
from data_transformation_python_spark.state import create_state_manager


@pytest.fixture()
def stack(tmp_path, spark):
    """Synthetic project: models dir + file-backed source the tests
    can rewrite between runs."""
    db = f"mat_{uuid.uuid4().hex[:8]}"
    (tmp_path / "models").mkdir()
    src_dir = tmp_path / "src_events"
    config = ProjectConfig(project_dir=tmp_path, database=db)
    config.sources = SourceRegistry(
        {
            "sources": {
                "raw": {
                    "tables": {
                        "feed": {"path": str(src_dir), "format": "parquet"}
                    }
                }
            }
        }
    )
    parser = SQLParser(config.models_dir)
    state = create_state_manager(config.state_dir, "dev")
    ex = SparkExecutor(spark, database=db)
    mx = ModelExecutor(ex, parser, config, state)
    yield {
        "spark": spark,
        "db": db,
        "models": config.models_dir,
        "src": src_dir,
        "mx": mx,
        "state": state,
        "parser": parser,
    }
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def _write_model(stack, name, body):
    (stack["models"] / f"{name}.sql").write_text(body)
    stack["parser"].invalidate_cache()
    stack["mx"]._file_cache.pop(name, None)


def _write_source(stack, rows, schema, mode="overwrite"):
    df = stack["spark"].createDataFrame(rows, schema)
    df.coalesce(1).write.mode(mode).parquet(str(stack["src"]))
    stack["spark"].sql(f"REFRESH TABLE {stack['db']}.__src_raw_feed") if (
        stack["spark"].catalog.tableExists(f"{stack['db']}.__src_raw_feed")
    ) else None


def test_view_and_table_and_temp(stack):
    _write_source(
        stack,
        [(1, "a"), (2, "b")],
        "id bigint, v string",
    )
    _write_model(stack, "v_model", "-- config: materialized=view\nSELECT * FROM {{ source('raw','feed') }}")
    _write_model(stack, "t_model", "-- config: materialized=table\nSELECT id, upper(v) AS v FROM {{ ref('v_model') }}")
    _write_model(stack, "tmp_model", "-- config: materialized=temp_table\nSELECT COUNT(*) AS n FROM {{ ref('t_model') }}")
    for m in ("v_model", "t_model", "tmp_model"):
        r = stack["mx"].execute_model(m)
        assert r["success"], r
    spark, db = stack["spark"], stack["db"]
    assert spark.table(f"{db}.t_model").count() == 2
    assert [r.v for r in spark.table(f"{db}.t_model").orderBy("id").collect()] == ["A", "B"]
    # temp view is session-scoped, unqualified
    assert spark.table("tmp_model").first()["n"] == 2


def test_time_incremental_appends_only_new_rows(stack):
    spark, db = stack["spark"], stack["db"]
    _write_source(
        stack,
        [(1, "2024-01-01 10:00:00", 5.0), (2, "2024-01-02 10:00:00", 6.0)],
        "id bigint, ts string, v double",
    )
    _write_model(
        stack,
        "inc_time",
        "-- config: materialized=incremental, incremental_strategy=time, time_column=ts\n"
        "SELECT id, CAST(ts AS TIMESTAMP_NTZ) AS ts, v FROM {{ source('raw','feed') }}",
    )
    r1 = stack["mx"].execute_model("inc_time")
    assert r1["success"] and r1.get("initial")
    assert spark.table(f"{db}.inc_time").count() == 2
    # watermark recorded as data max, not wall clock
    wm = stack["state"].get_incremental_state("inc_time", "last_processed_time")
    assert wm == "2024-01-02 10:00:00"

    # second batch: one old (skipped), one new (appended)
    _write_source(
        stack,
        [
            (1, "2024-01-01 10:00:00", 5.0),
            (2, "2024-01-02 10:00:00", 6.0),
            (3, "2024-01-03 10:00:00", 7.0),
        ],
        "id bigint, ts string, v double",
    )
    r2 = stack["mx"].execute_model("inc_time")
    assert r2["success"] and r2.get("watermark") == "2024-01-02 10:00:00"
    out = spark.table(f"{db}.inc_time")
    assert out.count() == 3  # no duplicates of rows 1-2
    assert (
        stack["state"].get_incremental_state("inc_time", "last_processed_time")
        == "2024-01-03 10:00:00"
    )


def test_unique_key_incremental_upserts(stack):
    spark, db = stack["spark"], stack["db"]
    _write_source(stack, [(1, 10.0), (2, 20.0)], "id bigint, v double")
    _write_model(
        stack,
        "inc_key",
        "-- config: materialized=incremental, incremental_strategy=unique_key, unique_key=id\n"
        "SELECT id, v FROM {{ source('raw','feed') }}",
    )
    assert stack["mx"].execute_model("inc_key")["success"]
    _write_source(stack, [(2, 99.0), (3, 30.0)], "id bigint, v double")
    r = stack["mx"].execute_model("inc_key")
    assert r["success"]
    rows = {r.id: r.v for r in spark.table(f"{db}.inc_key").collect()}
    assert rows == {1: 10.0, 2: 99.0, 3: 30.0}


def test_orphaned_staging_recovery_after_midswap_crash(stack):
    """A crash between the staging write and the target rewrite leaves
    __stg_* holding the only complete merge.  The next run's janitor
    must restore the target from staging (policy=recover) and then
    apply the new batch on top — no merged data lost."""
    spark, db = stack["spark"], stack["db"]
    _write_source(stack, [(1, 10.0), (2, 20.0)], "id bigint, v double")
    _write_model(
        stack,
        "inc_rec",
        "-- config: materialized=incremental, incremental_strategy=unique_key, "
        "unique_key=id, on_orphaned_staging=recover\n"
        "SELECT id, v FROM {{ source('raw','feed') }}",
    )
    assert stack["mx"].execute_model("inc_rec")["success"]

    # simulate the crash: a merge produced (2->99, +3) into staging,
    # then the target rewrite died half-way (target dropped here)
    merged = spark.createDataFrame(
        [(1, 10.0), (2, 99.0), (3, 30.0)], "id bigint, v double"
    )
    merged.write.mode("overwrite").format("parquet").saveAsTable(
        f"{db}.__stg_inc_rec"
    )
    spark.sql(f"DROP TABLE {db}.inc_rec")

    # next run: janitor recovers the crashed merge, then upserts (4)
    _write_source(stack, [(4, 40.0)], "id bigint, v double")
    r = stack["mx"].execute_model("inc_rec")
    assert r["success"], r
    rows = {x.id: x.v for x in spark.table(f"{db}.inc_rec").collect()}
    assert rows == {1: 10.0, 2: 99.0, 3: 30.0, 4: 40.0}
    assert not spark.catalog.tableExists(f"{db}.__stg_inc_rec")


def test_orphaned_staging_default_policy_refuses(stack):
    """Without an explicit policy the janitor must stop the run and
    surface the recovery SQL — silently rebuilding over a crashed
    merge could lose data."""
    spark, db = stack["spark"], stack["db"]
    _write_source(stack, [(1, 10.0)], "id bigint, v double")
    _write_model(
        stack,
        "inc_halt",
        "-- config: materialized=incremental, incremental_strategy=unique_key, unique_key=id\n"
        "SELECT id, v FROM {{ source('raw','feed') }}",
    )
    assert stack["mx"].execute_model("inc_halt")["success"]
    spark.range(1).selectExpr("id", "CAST(id AS DOUBLE) AS v").write.mode(
        "overwrite"
    ).format("parquet").saveAsTable(f"{db}.__stg_inc_halt")
    r = stack["mx"].execute_model("inc_halt")
    assert not r["success"]
    assert "__stg_inc_halt" in r["error"] and "recover" in r["error"]
    # target untouched by the refused run
    assert spark.table(f"{db}.inc_halt").count() == 1


@pytest.fixture()
def save_calls(monkeypatch):
    """Table names passed to ``DataFrameWriter.saveAsTable``, in order."""
    from pyspark.sql.readwriter import DataFrameWriter

    calls = []
    orig = DataFrameWriter.saveAsTable

    def counted(self, name, *a, **kw):
        calls.append(name)
        return orig(self, name, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "saveAsTable", counted)
    return calls


def _partitions(spark, table):
    return sorted(r[0] for r in spark.sql(f"SHOW PARTITIONS {table}").collect())


def test_upsert_on_partitioned_target_publishes_with_one_write(stack, save_calls):
    """A rewrite-backend upsert writes the merged table once (into
    staging) and renames it into place: rows and partitions survive,
    and no staging table is left behind."""
    spark, db = stack["spark"], stack["db"]
    _write_source(stack, [(1, "a", 10.0), (2, "b", 20.0)], "id bigint, p string, v double")
    _write_model(
        stack,
        "inc_part",
        "-- config: materialized=incremental, incremental_strategy=unique_key, "
        "unique_key=id, partition_by=p\n"
        "SELECT id, p, v FROM {{ source('raw','feed') }}",
    )
    assert stack["mx"].execute_model("inc_part")["success"]
    _write_source(stack, [(2, "b", 99.0), (3, "c", 30.0)], "id bigint, p string, v double")
    save_calls.clear()
    r = stack["mx"].execute_model("inc_part")
    assert r["success"], r
    assert save_calls == [f"{db}.__stg_inc_part"]
    t = f"{db}.inc_part"
    rows = {(x.id, x.p, x.v) for x in spark.table(t).collect()}
    assert rows == {(1, "a", 10.0), (2, "b", 99.0), (3, "c", 30.0)}
    assert _partitions(spark, t) == ["p=a", "p=b", "p=c"]
    assert spark.table(t).filter("p = 'c'").count() == 1
    assert not spark.catalog.tableExists(f"{db}.__stg_inc_part")


def test_cdc_retirement_publishes_with_one_write(stack, save_calls):
    spark, db = stack["spark"], stack["db"]
    schema = "id bigint, region string, __CDC_OPERATION string, __CDC_TIMESTAMP string"
    _write_source(
        stack,
        [(1, "eu", "I", "2024-01-01 00:00:00"), (2, "us", "I", "2024-01-01 00:00:00")],
        schema,
    )
    _write_model(
        stack,
        "scd_part",
        "-- config: materialized=cdc_retirement, unique_key=id, partition_by=region\n"
        "SELECT id, region, __CDC_OPERATION, "
        "CAST(__CDC_TIMESTAMP AS TIMESTAMP_NTZ) AS __CDC_TIMESTAMP\n"
        "FROM {{ source('raw','feed') }}",
    )
    assert stack["mx"].execute_model("scd_part")["success"]
    _write_source(
        stack,
        [(2, "us", "D", "2024-02-01 00:00:00"), (3, "apac", "I", "2024-02-01 00:00:00")],
        schema,
    )
    save_calls.clear()
    r = stack["mx"].execute_model("scd_part")
    assert r["success"], r
    assert save_calls == [f"{db}.__stg_scd_part"]
    out = spark.table(f"{db}.scd_part")
    assert {x.id for x in out.filter("obsolete_date IS NULL").collect()} == {1, 3}
    assert {x.id for x in out.filter("obsolete_date IS NOT NULL").collect()} == {2}
    assert _partitions(spark, f"{db}.scd_part") == [
        "region=apac",
        "region=eu",
        "region=us",
    ]


def test_publish_failure_keeps_staging_then_recovers_by_rename(
    stack, save_calls, monkeypatch
):
    """A failure between dropping the target and renaming staging into
    place names the staging table and the recovery SQL; the next run
    with on_orphaned_staging=recover renames staging into place (no
    copy) and applies its own batch on top."""
    from pyspark.sql import SparkSession

    spark, db = stack["spark"], stack["db"]
    _write_source(stack, [(1, 10.0), (2, 20.0)], "id bigint, v double")
    _write_model(
        stack,
        "inc_crash",
        "-- config: materialized=incremental, incremental_strategy=unique_key, "
        "unique_key=id, on_orphaned_staging=recover\n"
        "SELECT id, v FROM {{ source('raw','feed') }}",
    )
    assert stack["mx"].execute_model("inc_crash")["success"]

    orig_sql = SparkSession.sql

    def failing_rename(self, query, *a, **kw):
        if query.startswith("ALTER TABLE") and "RENAME TO" in query:
            raise RuntimeError("injected crash before rename")
        return orig_sql(self, query, *a, **kw)

    monkeypatch.setattr(SparkSession, "sql", failing_rename)
    _write_source(stack, [(2, 99.0), (3, 30.0)], "id bigint, v double")
    r = stack["mx"].execute_model("inc_crash")
    monkeypatch.setattr(SparkSession, "sql", orig_sql)
    assert not r["success"]
    stg = f"{db}.__stg_inc_crash"
    assert stg in r["error"]
    assert f"ALTER TABLE {stg} RENAME TO {db}.inc_crash" in r["error"]
    assert not spark.catalog.tableExists(f"{db}.inc_crash")
    assert spark.table(stg).count() == 3

    _write_source(stack, [(4, 40.0)], "id bigint, v double")
    save_calls.clear()
    r = stack["mx"].execute_model("inc_crash")
    assert r["success"], r
    assert save_calls == [stg]  # the new merge only: recovery wrote nothing
    rows = {x.id: x.v for x in spark.table(f"{db}.inc_crash").collect()}
    assert rows == {1: 10.0, 2: 99.0, 3: 30.0, 4: 40.0}
    assert not spark.catalog.tableExists(stg)


def test_append_incremental(stack):
    spark, db = stack["spark"], stack["db"]
    _write_source(stack, [(1,)], "id bigint")
    _write_model(
        stack,
        "inc_append",
        "-- config: materialized=incremental, incremental_strategy=append\n"
        "SELECT id FROM {{ source('raw','feed') }}",
    )
    assert stack["mx"].execute_model("inc_append")["success"]
    assert stack["mx"].execute_model("inc_append")["success"]
    # blind append duplicates the batch — reference C3 semantics
    assert spark.table(f"{db}.inc_append").count() == 2


def test_cdc_merge_strategy(stack):
    spark, db = stack["spark"], stack["db"]
    schema = "id bigint, v string, __CDC_OPERATION string, __CDC_TIMESTAMP timestamp_ntz"
    _write_source(
        stack,
        [(1, "a", "I", None), (2, "b", "I", None)],
        schema,
    )
    _write_model(
        stack,
        "cdc_model",
        "-- config: materialized=cdc, unique_key=id\n"
        "SELECT * FROM {{ source('raw','feed') }}",
    )
    r1 = stack["mx"].execute_model("cdc_model")
    assert r1["success"] and r1.get("initial")
    assert {r.id for r in spark.table(f"{db}.cdc_model").collect()} == {1, 2}

    _write_source(
        stack,
        [
            (2, "b2", "U", None),
            (1, None, "D", None),
            (3, "c", "I", None),
            (4, "skip", "D", None),  # delete for unseen key → no-op
        ],
        schema,
    )
    r2 = stack["mx"].execute_model("cdc_model")
    assert r2["success"]
    rows = {r.id: r.v for r in spark.table(f"{db}.cdc_model").collect()}
    assert rows == {2: "b2", 3: "c"}


def test_cdc_retirement_matrix(stack):
    """The retirement matrix from the reference pattern spec: I/U/D/E
    + intra-batch duplicate keys + D-for-unseen-key."""
    spark, db = stack["spark"], stack["db"]
    schema = "id bigint, v string, __CDC_OPERATION string, __CDC_TIMESTAMP timestamp_ntz"
    _write_source(
        stack,
        [
            (1, "one", "I", "2024-01-01 00:00:00"),
            (2, "two", "I", "2024-01-01 00:00:00"),
            (3, "three", "I", "2024-01-01 00:00:00"),
            (4, "four", "I", "2024-01-01 00:00:00"),
        ],
        schema.replace("timestamp_ntz", "string"),
    )
    _write_model(
        stack,
        "scd",
        "-- config: materialized=cdc_retirement, unique_key=id\n"
        "SELECT id, v, __CDC_OPERATION, CAST(__CDC_TIMESTAMP AS TIMESTAMP_NTZ) AS __CDC_TIMESTAMP\n"
        "FROM {{ source('raw','feed') }}",
    )
    r1 = stack["mx"].execute_model("scd")
    assert r1["success"] and r1.get("initial")
    tbl = spark.table(f"{db}.scd")
    assert tbl.count() == 4
    assert tbl.filter("obsolete_date IS NULL").count() == 4

    _write_source(
        stack,
        [
            (2, "two-v2-old", "U", "2024-02-01 00:00:00"),
            (2, "two-v2", "U", "2024-02-02 00:00:00"),  # same key, later wins
            (3, None, "D", "2024-02-01 00:00:00"),
            (4, None, "E", "2024-02-01 00:00:00"),
            (5, "five", "I", "2024-02-01 00:00:00"),
            (99, None, "D", "2024-02-01 00:00:00"),  # unseen key → no-op
        ],
        schema.replace("timestamp_ntz", "string"),
    )
    r2 = stack["mx"].execute_model("scd")
    assert r2["success"]
    assert r2["stats"] == {
        "inserted": 1,
        "updated": 2,
        "deleted": 2,
        "expired": 1,
        "total": 6,
    }
    out = spark.table(f"{db}.scd")
    active = {r.id: r.v for r in out.filter("obsolete_date IS NULL").collect()}
    # live state: 1 untouched, 2 updated (latest version), 5 inserted
    assert active == {1: "one", 2: "two-v2", 5: "five"}
    # history preserved: retired rows for 2(old), 3, 4
    retired = {r.id for r in out.filter("obsolete_date IS NOT NULL").collect()}
    assert retired == {2, 3, 4}
    # exactly one active row per live key
    from pyspark.sql import functions as F

    dups = (
        out.filter("obsolete_date IS NULL")
        .groupBy("id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dups == 0


def test_bucketed_merge_rewrites_only_affected_buckets(stack):
    """The partition-pruned merge fast path: after an incremental
    merge, data files in buckets containing no changed keys must be
    byte-identical (same path, size, mtime, content hash) — proof the
    merge cost is O(affected/total), not O(table)."""
    import glob
    import hashlib
    import os

    from pyspark.sql import functions as F

    from data_transformation_python_spark.operators.bucketed_merge import (
        BUCKET_COL,
        bucket_expr,
    )

    spark, db = stack["spark"], stack["db"]
    n_buckets = 8
    rows = [(i, float(i)) for i in range(1, 201)]
    _write_source(stack, rows, "id bigint, v double")
    _write_model(
        stack,
        "inc_bucketed",
        "-- config: materialized=incremental, incremental_strategy=unique_key,"
        f" unique_key=id, merge_buckets={n_buckets}\n"
        "SELECT id, v FROM {{ source('raw','feed') }}",
    )
    assert stack["mx"].execute_model("inc_bucketed")["success"]

    tbl = f"{db}.inc_bucketed"
    loc = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}")
        .filter("col_name = 'Location'")
        .first()["data_type"]
    ).replace("file:", "")

    def snapshot():
        out = {}
        for p in glob.glob(os.path.join(loc, f"{BUCKET_COL}=*", "*.parquet")):
            with open(p, "rb") as f:
                h = hashlib.md5(f.read()).hexdigest()
            out[p] = (os.path.getsize(p), os.path.getmtime(p), h)
        return out

    before = snapshot()
    assert len({os.path.dirname(p) for p in before}) == n_buckets

    # change exactly one key → exactly one affected bucket
    changed_key = 7
    _write_source(stack, [(changed_key, 777.0)], "id bigint, v double")
    r = stack["mx"].execute_model("inc_bucketed")
    assert r["success"] and r["affected_buckets"] == 1

    # correctness: only the changed key's value moved
    got = {row.id: row.v for row in spark.table(tbl).collect()}
    want = {i: float(i) for i in range(1, 201)}
    want[changed_key] = 777.0
    assert got == want

    # physical proof: files outside the affected bucket are untouched
    after = snapshot()
    hot_bucket = spark.createDataFrame([(changed_key,)], "id bigint").select(
        bucket_expr(["id"], n_buckets).alias("b")
    ).first()["b"]
    hot_dir = os.path.join(loc, f"{BUCKET_COL}={hot_bucket}")
    untouched_before = {p: v for p, v in before.items() if not p.startswith(hot_dir)}
    untouched_after = {p: v for p, v in after.items() if not p.startswith(hot_dir)}
    assert untouched_before == untouched_after
    assert untouched_before  # sanity: there were untouched buckets
    # and the hot bucket WAS rewritten
    assert {p for p in before if p.startswith(hot_dir)} != {
        p for p in after if p.startswith(hot_dir)
    } or before != after


def test_bucketed_cdc_merge_handles_emptied_bucket(stack):
    """A CDC batch that deletes a bucket's only keys must actually
    empty that bucket (dynamic overwrite alone would leave the old
    files in place)."""
    spark, db = stack["spark"], stack["db"]
    schema = "id bigint, v string, __CDC_OPERATION string, __CDC_TIMESTAMP timestamp_ntz"
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    _write_source(
        stack,
        [(i, f"v{i}", "I", t0) for i in range(1, 9)],
        schema,
    )
    _write_model(
        stack,
        "cdc_bucketed",
        "-- config: materialized=cdc, unique_key=id, merge_buckets=4\n"
        "SELECT * FROM {{ source('raw','feed') }}",
    )
    assert stack["mx"].execute_model("cdc_bucketed")["success"]
    tbl = f"{db}.cdc_bucketed"
    assert spark.table(tbl).count() == 8

    # delete ALL keys (every bucket empties)
    _write_source(
        stack,
        [(i, f"v{i}", "D", t0) for i in range(1, 9)],
        schema,
    )
    r = stack["mx"].execute_model("cdc_bucketed")
    assert r["success"]
    assert spark.table(tbl).count() == 0


def test_crashed_bucketed_merge_is_never_renamed_into_place(stack, monkeypatch):
    """A bucketed merge's staging holds only the affected buckets, so
    after a crash ``on_orphaned_staging: recover`` must refuse rather
    than replace the whole target with that slice; ``drop`` clears it
    and the merge proceeds against the intact target."""
    from pyspark.sql.readwriter import DataFrameWriter

    from data_transformation_python_spark.operators.bucketed_merge import (
        stored_bucket_count,
    )

    spark, db = stack["spark"], stack["db"]
    model = (
        "-- config: materialized=incremental, incremental_strategy=unique_key,"
        " unique_key=id, merge_buckets=4, on_orphaned_staging={policy}\n"
        "SELECT id, v FROM {{{{ source('raw','feed') }}}}"
    )
    _write_source(stack, [(i, float(i)) for i in range(1, 9)], "id bigint, v double")
    _write_model(stack, "inc_bk_crash", model.format(policy="recover"))
    assert stack["mx"].execute_model("inc_bk_crash")["success"]
    tbl, stg = f"{db}.inc_bk_crash", f"{db}.__stg_inc_bk_crash"

    def crash(self, *a, **kw):
        raise RuntimeError("injected crash before overwrite")

    monkeypatch.setattr(DataFrameWriter, "insertInto", crash)
    _write_source(stack, [(3, 33.0)], "id bigint, v double")
    r = stack["mx"].execute_model("inc_bk_crash")
    monkeypatch.undo()
    assert not r["success"]
    assert spark.catalog.tableExists(stg)
    assert spark.table(stg).count() < 8  # a slice, not the whole table

    r = stack["mx"].execute_model("inc_bk_crash")
    assert not r["success"]
    assert stg in r["error"] and "bucketed" in r["error"]
    assert "RENAME" not in r["error"]
    assert spark.table(tbl).count() == 8
    assert stored_bucket_count(spark, tbl) == 4

    _write_model(stack, "inc_bk_crash", model.format(policy="drop"))
    r = stack["mx"].execute_model("inc_bk_crash")
    assert r["success"], r
    want = {i: float(i) for i in range(1, 9)}
    want[3] = 33.0
    assert {x.id: x.v for x in spark.table(tbl).collect()} == want
    assert not spark.catalog.tableExists(stg)


def test_on_schema_change_ignore_default(stack):
    """Drifted MODEL SELECT (the dbt scenario: the model SQL changed
    between runs): default policy keeps the target schema — new
    columns dropped, removed ones null-filled, write succeeds."""
    spark, db = stack["spark"], stack["db"]
    _write_source(stack, [(1,)], "id bigint")
    _write_model(
        stack,
        "inc_drift_ig",
        "-- config: materialized=incremental, incremental_strategy=append\n"
        "SELECT id, 'a' AS v FROM {{ source('raw','feed') }}",
    )
    assert stack["mx"].execute_model("inc_drift_ig")["success"]
    _write_source(stack, [(2,)], "id bigint")
    _write_model(
        stack,
        "inc_drift_ig",
        "-- config: materialized=incremental, incremental_strategy=append\n"
        "SELECT id, 9.5 AS extra FROM {{ source('raw','feed') }}",
    )
    assert stack["mx"].execute_model("inc_drift_ig")["success"]
    tbl = spark.table(f"{db}.inc_drift_ig")
    assert set(tbl.columns) == {"id", "v"}
    rows = {r["id"]: r for r in tbl.collect()}
    assert rows[1]["v"] == "a"
    assert rows[2]["v"] is None  # null-filled, not failed


def test_on_schema_change_append_new_columns(stack):
    spark, db = stack["spark"], stack["db"]
    _write_source(stack, [(1,)], "id bigint")
    cfg = (
        "-- config: materialized=incremental, incremental_strategy=append,"
        " on_schema_change=append_new_columns\n"
    )
    _write_model(
        stack,
        "inc_drift_add",
        cfg + "SELECT id, 'a' AS v FROM {{ source('raw','feed') }}",
    )
    assert stack["mx"].execute_model("inc_drift_add")["success"]
    _write_source(stack, [(2,)], "id bigint")
    _write_model(
        stack,
        "inc_drift_add",
        cfg + "SELECT id, 'b' AS v, 9.5 AS extra FROM {{ source('raw','feed') }}",
    )
    assert stack["mx"].execute_model("inc_drift_add")["success"]
    tbl = spark.table(f"{db}.inc_drift_add")
    assert set(tbl.columns) == {"id", "v", "extra"}
    rows = {r["id"]: r for r in tbl.collect()}
    assert rows[1]["extra"] is None  # old files read the new col as NULL
    assert rows[2]["extra"] == 9.5


def test_on_schema_change_fail(stack):
    _write_source(stack, [(1,)], "id bigint")
    cfg = (
        "-- config: materialized=incremental, incremental_strategy=append,"
        " on_schema_change=fail\n"
    )
    _write_model(
        stack,
        "inc_drift_fail",
        cfg + "SELECT id, 'a' AS v FROM {{ source('raw','feed') }}",
    )
    assert stack["mx"].execute_model("inc_drift_fail")["success"]
    _write_source(stack, [(2,)], "id bigint")
    _write_model(
        stack,
        "inc_drift_fail",
        cfg + "SELECT id, 9.5 AS extra FROM {{ source('raw','feed') }}",
    )
    res = stack["mx"].execute_model("inc_drift_fail")
    assert not res.get("success")
    assert "schema drift" in str(res.get("error", ""))


def test_source_reregisters_on_file_schema_drift(stack):
    """Persistent-metastore hazard: a file-backed source registered in
    an earlier CLI invocation keeps its frozen schema even after the
    files gained a column — a fresh executor must detect the footer
    drift and re-register instead of silently serving the stale set."""
    from data_transformation_python_spark.executor import ModelExecutor

    spark, db = stack["spark"], stack["db"]
    _write_source(stack, [(1, "a")], "id bigint, v string")
    rel = stack["mx"]._source_relation("raw", "feed")
    assert set(spark.table(rel).columns) == {"id", "v"}
    # files evolve; a NEW process (fresh executor, same metastore)
    _write_source(stack, [(2, "b", 9.5)], "id bigint, v string, extra double")
    mx2 = ModelExecutor(
        stack["mx"].executor, stack["parser"], stack["mx"].config
    )
    rel2 = mx2._source_relation("raw", "feed")
    assert set(spark.table(rel2).columns) == {"id", "v", "extra"}


def test_source_registered_once_across_threads(stack, tmp_path, monkeypatch):
    """The models of a level resolve sources from parallel threads:
    a source re-pointed since its last registration is re-registered
    by exactly one of them, and every thread gets the new relation."""
    import sys
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import SparkSession

    spark = stack["spark"]
    _write_source(stack, [(1, "a")], "id bigint, v string")
    stack["mx"]._source_relation("raw", "feed")
    moved = tmp_path / "src_events_moved"
    spark.createDataFrame([(2, "b")], "id bigint, v string").coalesce(1).write.parquet(
        str(moved)
    )
    config = ProjectConfig(project_dir=tmp_path, database=stack["db"])
    config.sources = SourceRegistry(
        {"sources": {"raw": {"tables": {"feed": {"path": str(moved), "format": "parquet"}}}}}
    )
    mx = ModelExecutor(stack["mx"].executor, stack["parser"], config)

    creates = []
    orig_sql = SparkSession.sql

    def counting(self, query, *a, **kw):
        if query.startswith("CREATE TABLE"):
            creates.append(query)
        return orig_sql(self, query, *a, **kw)

    monkeypatch.setattr(SparkSession, "sql", counting)
    n = 8
    barrier = threading.Barrier(n, timeout=60)

    def resolve(_):
        barrier.wait()
        return mx._source_relation("raw", "feed")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=n) as pool:
            rels = list(pool.map(resolve, range(n), timeout=120))
    finally:
        sys.setswitchinterval(interval)
        monkeypatch.setattr(SparkSession, "sql", orig_sql)
    assert len(set(rels)) == 1
    assert len(creates) == 1
    assert [r.id for r in spark.table(rels[0]).collect()] == [2]


def test_spark_written_int96_source_runs_through_model(stack):
    """Spark's default parquet timestamp encoding is INT96, which arrow
    reports as ``timestamp[ns]``; it must not be mistaken for the
    TIMESTAMP(NANOS) vintage, whose normalizing view fails on a column
    Spark already reads as TIMESTAMP."""
    import datetime

    import pyarrow.parquet as pq

    spark, db = stack["spark"], stack["db"]
    ts = [datetime.datetime(2024, 1, 15, 12, 0), datetime.datetime(2024, 1, 16, 1, 30)]
    conf = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "INT96")
    try:
        _write_source(stack, [(1, ts[0]), (2, ts[1])], "id bigint, ts timestamp")
    finally:
        spark.conf.set(conf, prev)
    (f,) = stack["src"].glob("*.parquet")
    assert pq.ParquetFile(f).schema.column(1).physical_type == "INT96"
    _write_model(
        stack,
        "int96_model",
        "-- config: materialized=table\nSELECT id, ts FROM {{ source('raw','feed') }}",
    )
    r = stack["mx"].execute_model("int96_model")
    assert r["success"], r
    rows = {x.id: x.ts for x in spark.table(f"{db}.int96_model").collect()}
    assert rows == {1: ts[0], 2: ts[1]}


def test_cluster_by_produces_disjoint_file_ranges(stack):
    from pyspark.sql import functions as F

    _write_source(
        stack,
        [(i, f"v{i}") for i in range(2000)],
        "id bigint, v string",
    )
    # shuffle the input so clustering has real work to do
    _write_model(
        stack,
        "clustered",
        "-- config: materialized=table, cluster_by=id, cluster_files=8\n"
        "SELECT * FROM {{ source('raw','feed') }} ORDER BY md5(CAST(id AS STRING))",
    )
    r = stack["mx"].execute_model("clustered")
    assert r["success"], r
    spark, db = stack["spark"], stack["db"]
    tbl = spark.table(f"{db}.clustered")
    assert tbl.count() == 2000
    # per-file id ranges must not overlap: that disjointness is what
    # lets parquet min/max stats prune scans on the cluster key
    ranges = (
        tbl.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(F.min("id").alias("lo"), F.max("id").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(ranges) > 1  # range repartition actually split the data
    for a, b in zip(ranges, ranges[1:]):
        assert a.hi < b.lo, (a, b)


def _snap_rows(stack, name):
    return sorted(
        (
            (r.id, r.v, str(r.valid_from), str(r.valid_to), r.is_current)
            for r in stack["spark"].table(f"{stack['db']}.{name}").collect()
        )
    )


def test_snapshot_check_strategy_full_lifecycle(stack):
    _write_source(stack, [(1, "a"), (2, "b")], "id bigint, v string")
    _write_model(
        stack,
        "snap",
        "-- config: materialized=snapshot, unique_key=id, "
        "snapshot_at=2024-01-01 00:00:00\n"
        "SELECT * FROM {{ source('raw','feed') }}",
    )
    assert stack["mx"].execute_model("snap")["success"]
    rows = _snap_rows(stack, "snap")
    assert len(rows) == 2 and all(r[4] for r in rows)  # both open

    # run 2: id 1 changed, id 2 unchanged, id 3 new
    _write_source(stack, [(1, "a2"), (2, "b"), (3, "c")], "id bigint, v string")
    _write_model(
        stack,
        "snap",
        "-- config: materialized=snapshot, unique_key=id, "
        "snapshot_at=2024-01-02 00:00:00\n"
        "SELECT * FROM {{ source('raw','feed') }}",
    )
    assert stack["mx"].execute_model("snap")["success"]
    rows = _snap_rows(stack, "snap")
    assert len(rows) == 4
    closed = [r for r in rows if not r[4]]
    assert closed == [(1, "a", "2024-01-01 00:00:00", "2024-01-02 00:00:00", False)]
    opens = {r[0]: r for r in rows if r[4]}
    assert opens[1][1] == "a2" and opens[1][2] == "2024-01-02 00:00:00"
    assert opens[2][1] == "b" and opens[2][2] == "2024-01-01 00:00:00"  # untouched
    assert opens[3][1] == "c"

    # run 3: identical source -> no new versions (idempotent)
    assert stack["mx"].execute_model("snap")["success"]
    assert len(_snap_rows(stack, "snap")) == 4


def test_snapshot_invalidate_hard_deletes(stack):
    _write_source(stack, [(1, "a"), (2, "b")], "id bigint, v string")
    base = (
        "-- config: materialized=snapshot, unique_key=id, "
        "invalidate_hard_deletes=true, snapshot_at={ts}\n"
        "SELECT * FROM {{{{ source('raw','feed') }}}}"
    )
    _write_model(stack, "snap_hd", base.format(ts="2024-01-01 00:00:00"))
    assert stack["mx"].execute_model("snap_hd")["success"]
    _write_source(stack, [(2, "b")], "id bigint, v string")
    _write_model(stack, "snap_hd", base.format(ts="2024-01-02 00:00:00"))
    assert stack["mx"].execute_model("snap_hd")["success"]
    rows = _snap_rows(stack, "snap_hd")
    assert (1, "a", "2024-01-01 00:00:00", "2024-01-02 00:00:00", False) in rows
    assert [r for r in rows if r[4]] == [
        (2, "b", "2024-01-01 00:00:00", "None", True)
    ]


def test_snapshot_timestamp_strategy(stack):
    _write_source(
        stack,
        [(1, "a", "2024-01-01 06:00:00")],
        "id bigint, v string, updated_at string",
    )
    base = (
        "-- config: materialized=snapshot, unique_key=id, strategy=timestamp, "
        "updated_at=upd_ts, snapshot_at={ts}\n"
        "SELECT id, v, CAST(updated_at AS TIMESTAMP) AS upd_ts "
        "FROM {{{{ source('raw','feed') }}}}"
    )
    _write_model(stack, "snap_ts", base.format(ts="2024-01-01 12:00:00"))
    assert stack["mx"].execute_model("snap_ts")["success"]
    # source row touched AFTER the first snapshot -> new version
    _write_source(
        stack,
        [(1, "a9", "2024-01-02 06:00:00")],
        "id bigint, v string, updated_at string",
    )
    _write_model(stack, "snap_ts", base.format(ts="2024-01-02 12:00:00"))
    assert stack["mx"].execute_model("snap_ts")["success"]
    rows = sorted(
        (r.id, r.v, str(r.valid_to), r.is_current)
        for r in stack["spark"].table(f"{stack['db']}.snap_ts").collect()
    )
    assert rows == [
        (1, "a", "2024-01-02 12:00:00", False),
        (1, "a9", "None", True),
    ]


def test_snapshot_timestamp_null_updated_at_keeps_open_row(stack):
    """A NULL updated_at must read as 'unchanged', not silently drop
    the key's open version (the `>` predicate evaluates to NULL and
    would otherwise fail closed, kept, AND fresh filters)."""
    _write_source(
        stack,
        [(1, "a", "2024-01-01 06:00:00"), (2, "b", "2024-01-01 06:00:00")],
        "id bigint, v string, updated_at string",
    )
    base = (
        "-- config: materialized=snapshot, unique_key=id, strategy=timestamp, "
        "updated_at=upd_ts, snapshot_at={ts}\n"
        "SELECT id, v, CAST(updated_at AS TIMESTAMP) AS upd_ts "
        "FROM {{{{ source('raw','feed') }}}}"
    )
    _write_model(stack, "snap_nul", base.format(ts="2024-01-01 12:00:00"))
    assert stack["mx"].execute_model("snap_nul")["success"]
    # run 2: id 1's updated_at goes NULL (unchanged), id 2 touched
    _write_source(
        stack,
        [(1, "a", None), (2, "b9", "2024-01-02 06:00:00")],
        "id bigint, v string, updated_at string",
    )
    _write_model(stack, "snap_nul", base.format(ts="2024-01-02 12:00:00"))
    assert stack["mx"].execute_model("snap_nul")["success"]
    rows = sorted(
        (r.id, r.v, str(r.valid_to), r.is_current)
        for r in stack["spark"].table(f"{stack['db']}.snap_nul").collect()
    )
    assert rows == [
        (1, "a", "None", True),  # survived the NULL updated_at
        (2, "b", "2024-01-02 12:00:00", False),
        (2, "b9", "None", True),
    ]


def test_analyze_config_populates_cbo_stats(stack):
    _write_source(stack, [(i, f"v{i % 5}") for i in range(200)], "id bigint, v string")
    _write_model(
        stack,
        "analyzed_t",
        "-- config: materialized=table, analyze=columns\n"
        "SELECT * FROM {{ source('raw','feed') }}",
    )
    r = stack["mx"].execute_model("analyzed_t")
    assert r["success"] and r.get("analyzed") == "columns"
    spark, db = stack["spark"], stack["db"]
    desc = {
        row.info_name: row.info_value
        for row in spark.sql(
            f"DESCRIBE TABLE EXTENDED {db}.analyzed_t"
        ).selectExpr("col_name AS info_name", "data_type AS info_value").collect()
    }
    assert "200 rows" in desc.get("Statistics", "")
    # column-level NDV present for v (5 distinct)
    col = spark.sql(f"DESCRIBE EXTENDED {db}.analyzed_t v").collect()
    stats = {r[0]: r[1] for r in col}
    assert stats.get("distinct_count") == "5"


def test_zorder_clustering_gives_locality_in_both_dimensions(stack):
    from pyspark.sql import functions as F

    # two independent uniform dimensions derived from the id
    _write_source(
        stack,
        [(i, (i * 37) % 1000, (i * 61) % 1000) for i in range(4000)],
        "id bigint, x bigint, y bigint",
    )
    _write_model(
        stack,
        "zordered",
        "-- config: materialized=table, cluster_by=zorder(x|y), cluster_files=16\n"
        "SELECT * FROM {{ source('raw','feed') }}",
    )
    r = stack["mx"].execute_model("zordered")
    assert r["success"], r
    spark, db = stack["spark"], stack["db"]
    tbl = spark.table(f"{db}.zordered")
    assert tbl.count() == 4000
    assert "__zorder_key" not in tbl.columns  # helper dropped
    spans = (
        tbl.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(
            (F.max("x") - F.min("x")).alias("sx"),
            (F.max("y") - F.min("y")).alias("sy"),
        )
        .collect()
    )
    assert len(spans) > 4
    # Z-order: EVERY file covers a narrow slab of BOTH dimensions —
    # single-key clustering would leave one dimension's span ~full
    mean_sx = sum(r.sx for r in spans) / len(spans)
    mean_sy = sum(r.sy for r in spans) / len(spans)
    assert mean_sx < 600 and mean_sy < 600, (mean_sx, mean_sy)


def test_exact_dedup_macro_model(stack):
    _write_source(
        stack,
        [(1, "same text"), (2, "same text"), (3, "other text")],
        "doc_id bigint, text string",
    )
    _write_model(
        stack,
        "deduped",
        "-- config: materialized=table\n"
        "{{ exact_dedup(source('raw','feed'), 'text', 'doc_id') }}",
    )
    r = stack["mx"].execute_model("deduped")
    assert r["success"], r
    rows = sorted(
        (x.doc_id, x.text)
        for x in stack["spark"].table(f"{stack['db']}.deduped").collect()
    )
    assert rows == [(1, "same text"), (3, "other text")]


def test_simhash_macro_model(stack):
    _write_source(
        stack,
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma epsilon")],
        "doc_id bigint, text string",
    )
    _write_model(
        stack,
        "sigs",
        "-- config: materialized=table\n"
        "{{ simhash_signatures(source('raw','feed')) }}",
    )
    r = stack["mx"].execute_model("sigs")
    assert r["success"], r
    rows = {x.doc_id: x.simhash for x in stack["spark"].table(
        f"{stack['db']}.sigs").collect()}
    assert set(rows) == {1, 2} and all(0 <= v < 2**16 for v in rows.values())


def test_unique_key_incremental_preserves_clustering(stack):
    from pyspark.sql import functions as F

    _write_source(
        stack,
        [(i, i * 10) for i in range(1000)],
        "id bigint, amount bigint",
    )
    base = (
        "-- config: materialized=incremental, incremental_strategy=unique_key, "
        "unique_key=id, cluster_by=id, cluster_files=4\n"
        "SELECT * FROM {{ source('raw','feed') }}"
    )
    _write_model(stack, "inc_clustered", base)
    assert stack["mx"].execute_model("inc_clustered")["success"]
    # second run: changed rows MERGE and the rewrite re-clusters
    _write_source(
        stack,
        [(i, i * 10 + 1) for i in range(500, 1500)],
        "id bigint, amount bigint",
    )
    _write_model(stack, "inc_clustered", base)
    assert stack["mx"].execute_model("inc_clustered")["success"]
    tbl = stack["spark"].table(f"{stack['db']}.inc_clustered")
    assert tbl.count() == 1500
    ranges = (
        tbl.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(F.min("id").alias("lo"), F.max("id").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(ranges) > 1
    for a, b in zip(ranges, ranges[1:]):
        assert a.hi < b.lo, (a, b)


class TestMergeBackendContract:
    """The merge_backend seam (operators/merge_backend.py): every
    executable backend leaves the table in the same logical state,
    the default is behavior-identical 'rewrite', and the MERGE-SQL
    backend emits the reference's clause structure + fails loudly on
    a catalog without row-level MERGE."""

    SCHEMA = (
        "id bigint, v string, __CDC_OPERATION string, "
        "__CDC_TIMESTAMP timestamp_ntz"
    )
    BATCH1 = [(i, f"v{i}", "I", None) for i in range(1, 9)]
    BATCH2 = [
        (2, "b2", "U", None),
        (1, None, "D", None),
        (9, "new", "I", None),
        (11, "skip", "D", None),
    ]
    EXPECT = {i: f"v{i}" for i in range(3, 9)} | {2: "b2", 9: "new"}

    def _run(self, stack, name, cfg):
        _write_source(stack, self.BATCH1, self.SCHEMA)
        _write_model(
            stack, name, cfg + "SELECT * FROM {{ source('raw','feed') }}"
        )
        assert stack["mx"].execute_model(name)["success"]
        _write_source(stack, self.BATCH2, self.SCHEMA)
        r = stack["mx"].execute_model(name)
        assert r["success"]
        rows = {
            r_.id: r_.v
            for r_ in stack["spark"].table(f"{stack['db']}.{name}").collect()
        }
        return r, rows

    def test_backends_agree_and_default_unchanged(self, stack):
        r_def, rows_def = self._run(
            stack, "mb_default", "-- config: materialized=cdc, unique_key=id\n"
        )
        r_rw, rows_rw = self._run(
            stack,
            "mb_rewrite",
            "-- config: materialized=cdc, unique_key=id, merge_backend=rewrite\n",
        )
        r_bk, rows_bk = self._run(
            stack,
            "mb_bucketed",
            "-- config: materialized=cdc, unique_key=id, merge_buckets=4\n",
        )
        assert rows_def == rows_rw == rows_bk == self.EXPECT
        assert r_def["merge_backend"] == "rewrite"  # default unchanged
        assert r_rw["merge_backend"] == "rewrite"
        assert r_bk["merge_backend"] == "bucketed"
        assert r_bk["affected_buckets"] >= 1

    def test_merge_into_emits_reference_clauses_and_fails_loudly(self, stack):
        from data_transformation_python_spark.errors import MaterializationError
        from data_transformation_python_spark.operators.merge_backend import (
            SqlMergeBackend,
        )

        sql = SqlMergeBackend.cdc_sql(
            "t1", ["id"], ["id", "v"], "__CDC_OPERATION"
        )
        # the reference's MERGE clause list (materialization.py:576-593)
        assert "WHEN MATCHED AND COALESCE(s.__CDC_OPERATION, 'U') = 'D' THEN DELETE" in sql
        assert "IN ('U', 'I') THEN UPDATE SET t.v = s.v" in sql
        assert "WHEN NOT MATCHED AND COALESCE(s.__CDC_OPERATION, 'U') != 'D'" in sql
        up = SqlMergeBackend.upsert_sql("t1", ["id"], ["id", "v"])
        assert up.startswith("MERGE INTO t1 t USING __merge_source s ON t.id = s.id")
        assert MaterializationError is not None
        r2 = self._second_run(
            stack,
            "mb_sql",
            "-- config: materialized=cdc, unique_key=id, merge_backend=merge_into\n",
        )
        assert not r2["success"] and "MERGE-capable" in r2["error"]

    def _second_run(self, stack, name, cfg):
        """Initial load (no merge involved) then the merge run,
        returning the second result dict (execute_model converts
        errors to success=False unless fail_fast)."""
        _write_source(stack, self.BATCH1, self.SCHEMA)
        _write_model(
            stack, name, cfg + "SELECT * FROM {{ source('raw','feed') }}"
        )
        assert stack["mx"].execute_model(name)["success"]
        _write_source(stack, self.BATCH2, self.SCHEMA)
        return stack["mx"].execute_model(name)

    def test_unknown_backend_rejected(self, stack):
        r2 = self._second_run(
            stack,
            "mb_bogus",
            "-- config: materialized=cdc, unique_key=id, merge_backend=bogus\n",
        )
        assert not r2["success"] and "unknown merge_backend" in r2["error"]


def test_merge_into_source_views_are_per_invocation_unique():
    """Parallel DAG levels share one SparkSession; a fixed source
    temp-view name let one model's registration clobber another's
    batch before its MERGE ran (round-8 advice fix)."""
    from data_transformation_python_spark.operators.merge_backend import (
        SqlMergeBackend,
    )

    names = {
        SqlMergeBackend._source_view_name("db.tbl_a") for _ in range(50)
    } | {SqlMergeBackend._source_view_name("db.tbl_b") for _ in range(50)}
    assert len(names) == 100
    assert all(n.startswith("__merge_source_db_tbl_") for n in names)
    # the generated SQL references whatever view name is passed in
    sql = SqlMergeBackend.upsert_sql("t", ["id"], ["id", "v"], "my_view_7")
    assert "USING my_view_7 s" in sql


def test_aggregate_incremental_maintains_state(stack):
    """aggregate strategy: the model emits delta partials (its own
    is_incremental() filter) and the strategy combines them into the
    state with declared per-measure combiners — final state equals a
    full recompute over all source rows, types pinned, and the old
    rows are NOT rescanned (the delta filter excludes them)."""
    spark, db = stack["spark"], stack["db"]
    _write_source(
        stack,
        [
            ("a", "2024-01-01 10:00:00", 5.0),
            ("a", "2024-01-02 10:00:00", 7.0),
            ("b", "2024-01-02 11:00:00", 1.0),
        ],
        "k string, ts string, v double",
    )
    _write_model(
        stack,
        "inc_agg",
        "-- config: materialized=incremental, incremental_strategy=aggregate,"
        " group_by=k, agg_columns=cnt:sum|total:sum|last_ts:max\n"
        "SELECT k, CAST(COUNT(*) AS BIGINT) AS cnt,\n"
        "       CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS total,\n"
        "       MAX(CAST(ts AS TIMESTAMP_NTZ)) AS last_ts\n"
        "FROM {{ source('raw','feed') }}\n"
        "{% if is_incremental() %}\n"
        "WHERE CAST(ts AS TIMESTAMP_NTZ) > (SELECT MAX(last_ts) FROM {{ this() }})\n"
        "{% endif %}\n"
        "GROUP BY k",
    )
    r1 = stack["mx"].execute_model("inc_agg")
    assert r1["success"] and r1.get("initial"), r1
    t = f"{db}.inc_agg"
    got1 = {r["k"]: (r["cnt"], str(r["total"])) for r in spark.table(t).collect()}
    assert got1 == {"a": (2, "12.00"), "b": (1, "1.00")}

    # batch 2: one genuinely new row per group + one OLD row re-sent
    # (must be excluded by the model's own watermark filter, not
    # double-counted by the combine)
    _write_source(
        stack,
        [
            ("a", "2024-01-01 10:00:00", 5.0),  # old, re-sent
            ("a", "2024-01-03 10:00:00", 3.0),
            ("b", "2024-01-04 10:00:00", 2.0),
            ("c", "2024-01-05 10:00:00", 9.0),  # brand-new group
        ],
        "k string, ts string, v double",
    )
    r2 = stack["mx"].execute_model("inc_agg")
    assert r2["success"] and r2.get("incremental_strategy") == "aggregate", r2
    assert r2.get("combiners") == {
        "cnt": "sum",
        "total": "sum",
        "last_ts": "max",
    }
    out = spark.table(t)
    got2 = {
        r["k"]: (r["cnt"], str(r["total"]), str(r["last_ts"]))
        for r in out.collect()
    }
    assert got2 == {
        "a": (3, "15.00", "2024-01-03 10:00:00"),
        "b": (2, "3.00", "2024-01-04 10:00:00"),
        "c": (1, "9.00", "2024-01-05 10:00:00"),
    }
    # combine must not widen the declared types run over run
    assert dict(out.dtypes) == {
        "k": "string",
        "cnt": "bigint",
        "total": "decimal(18,2)",
        "last_ts": "timestamp_ntz",
    }
    # unknown combiner rejected loudly
    _write_model(
        stack,
        "inc_agg_bad",
        "-- config: materialized=incremental, incremental_strategy=aggregate,"
        " group_by=k, agg_columns=cnt:avg\n"
        "SELECT k, CAST(COUNT(*) AS BIGINT) AS cnt FROM"
        " {{ source('raw','feed') }} GROUP BY k",
    )
    r3 = stack["mx"].execute_model("inc_agg_bad")
    assert r3["success"]  # initial build is a plain overwrite
    r4 = stack["mx"].execute_model("inc_agg_bad")
    assert not r4["success"] and "sum|max|min" in str(r4.get("error", r4))


def test_compact_table_reduces_files_preserves_data(stack):
    """compact_table: many tiny append files -> sized rewrite via the
    staging swap; contents identical, file count collapses, clustered
    layout re-applied when asked, no-op below min_files."""
    from data_transformation_python_spark.materialization import (
        compact_table,
    )

    spark, db = stack["spark"], stack["db"]
    t = f"{db}.compactme"
    spark.createDataFrame(
        [(i, i % 7) for i in range(100)], "id bigint, k bigint"
    ).repartition(10).write.saveAsTable(t)
    for b in range(5):  # five tiny append batches
        spark.createDataFrame(
            [(1000 + b * 10 + i, i % 7) for i in range(10)],
            "id bigint, k bigint",
        ).repartition(2).write.mode("append").saveAsTable(t)
    before = sorted(map(tuple, spark.table(t).collect()))
    n_before = len(spark.table(t).inputFiles())
    assert n_before >= 15
    r = compact_table(stack["mx"].executor, t, cluster_by=["k"])
    assert r["compacted"] and r["n_files_before"] == n_before
    spark.catalog.refreshTable(t)
    after = sorted(map(tuple, spark.table(t).collect()))
    assert after == before
    assert len(spark.table(t).inputFiles()) < n_before
    # second pass: already compact -> no-op at min_files above count
    r2 = compact_table(
        stack["mx"].executor, t, min_files=10_000
    )
    assert r2 == {"compacted": False, "n_files": len(spark.table(t).inputFiles())}
