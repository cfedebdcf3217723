"""Structured Streaming tests: file-stream micro-batches through
watermarked windows, foreachBatch CDC upsert, and stateful
sessionization — each driven with availableNow triggers over real
parquet batches."""

from __future__ import annotations

import time
import uuid

import pytest
from pyspark.sql import functions as F

from data_transformation_python_spark.streaming import (
    foreach_batch_upsert,
    jobs,
    run_available_now,
    sessionize,
    stream_source,
    windowed_counts,
)
from data_transformation_python_spark.streaming.jobs import EVENT_SCHEMA


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(path))


import datetime as dt  # noqa: E402


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_windowed_counts_stream(spark, tmp_path):
    src = tmp_path / "events_stream"
    src.mkdir()
    _write_batch(
        spark,
        src,
        [
            (1, _ts("2024-01-01 10:01:00"), 1, "click", 1.0),
            (2, _ts("2024-01-01 10:04:00"), 1, "click", 2.0),
            (3, _ts("2024-01-01 10:12:00"), 2, "view", 3.0),
        ],
    )
    events = stream_source(spark, str(src))
    agg = windowed_counts(events, window="10 minutes", watermark="1 hour")
    table, _ = run_available_now(agg, "win", "complete")
    out = {
        (r["window_start"].isoformat(), r["event_type"]): r["n_events"]
        for r in table.collect()
    }
    assert out[("2024-01-01T10:00:00", "click")] == 2
    assert out[("2024-01-01T10:10:00", "view")] == 1


def test_foreach_batch_upsert(spark, tmp_path):
    src = tmp_path / "cdc_stream"
    src.mkdir()
    db = f"stream_{uuid.uuid4().hex[:6]}"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    target = f"{db}.user_latest"
    try:
        _write_batch(
            spark,
            src,
            [
                (1, _ts("2024-01-01 10:00:00"), 1, "signup", 1.0),
                (2, _ts("2024-01-01 10:01:00"), 2, "signup", 1.0),
            ],
        )
        # batch 2 (the second file): update user 1, add user 3
        _write_batch(
            spark,
            src,
            [
                (3, _ts("2024-01-01 11:00:00"), 1, "purchase", 9.0),
                (4, _ts("2024-01-01 11:01:00"), 3, "signup", 1.0),
            ],
        )
        events = stream_source(spark, str(src), max_files_per_trigger=1)
        upsert = foreach_batch_upsert(target, ["user_id"], spark=spark)
        _, q = run_available_now(events, upsert)
        assert [p["numInputRows"] for p in q.recentProgress] == [2, 2]
        rows = {r.user_id: r.event_type for r in spark.table(target).collect()}
        assert rows == {1: "purchase", 2: "signup", 3: "signup"}
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_available_now_timeout_raises_and_cleans_up(spark, tmp_path, monkeypatch):
    """A run still going at the timeout is stopped and raises; it does
    not return, and its temporary checkpoint is removed."""
    src = tmp_path / "slow_stream"
    src.mkdir()
    _write_batch(spark, src, [(1, _ts("2024-01-01 10:00:00"), 1, "click", 1.0)])
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(jobs.tempfile, "tempdir", str(tmp))
    monkeypatch.setattr(jobs, "AVAILABLE_NOW_TIMEOUT_S", 0.5)

    def slow(batch_df, batch_id):
        time.sleep(3)

    t0 = time.perf_counter()
    with pytest.raises(TimeoutError, match="did not finish"):
        run_available_now(stream_source(spark, str(src)), slow)
    assert time.perf_counter() - t0 < 10
    assert spark.streams.active == []
    assert list(tmp.iterdir()) == []


class _StubState:
    """The slice of ``GroupState`` that ``_session_fn`` touches."""

    hasTimedOut = exists = False

    def update(self, value):
        self.value = value

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


def test_session_timeout_is_epoch_ms_whatever_the_host_zone(monkeypatch):
    """Event times reach ``_session_fn`` as naive UTC wall times; the
    timeout must be last event + gap in UTC epoch ms, not shifted by
    the worker's local zone."""
    import pandas as pd

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        state = _StubState()
        batch = pd.DataFrame(
            {"ts": [pd.Timestamp("2024-01-01 12:00:00")], "value": [5.0]}
        )
        assert list(jobs._session_fn((1,), iter([batch]), state)) == []
    finally:
        monkeypatch.undo()
        time.tzset()
    expected = dt.datetime(2024, 1, 1, 12, 30, tzinfo=dt.timezone.utc)
    assert state.timeout_ms == int(expected.timestamp() * 1000)


def test_stateful_sessionize(spark, tmp_path):
    src = tmp_path / "sess_stream"
    src.mkdir()
    # user 1: two sessions separated by > 30min.  User 2's event moves
    # the watermark (30 min) to 13:30, past user 1's tail session end
    # plus the gap (12:30), so that session times out and is emitted;
    # user 2's own session stays open (only closed sessions are emitted)
    _write_batch(
        spark,
        src,
        [
            (1, _ts("2024-01-01 10:00:00"), 1, "click", 1.0),
            (2, _ts("2024-01-01 10:10:00"), 1, "click", 2.0),
            (3, _ts("2024-01-01 12:00:00"), 1, "click", 5.0),
            (4, _ts("2024-01-01 14:00:00"), 2, "click", 7.0),
        ],
    )
    events = stream_source(spark, str(src))
    sessions = sessionize(events)
    table, _ = run_available_now(sessions, "sess")
    rows = {tuple(r) for r in table.collect()}
    assert rows == {
        (1, _ts("2024-01-01 10:00:00"), _ts("2024-01-01 10:10:00"), 2, 3.0),
        (1, _ts("2024-01-01 12:00:00"), _ts("2024-01-01 12:00:00"), 1, 5.0),
    }


def test_streaming_state_under_rocksdb_provider(spark, sf_dir):
    """Production state posture: the RocksDB state-store provider
    (bounded executor memory, changelog to the checkpoint dir) must
    produce byte-identical results to the default HDFS-backed store —
    pinned by running the gated windowed-count query under it."""
    from data_transformation_python_spark.queries import all_queries

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    q = all_queries()["q_stream_windowed_counts"]
    base = {tuple(r) for r in q(spark, sf_dir).collect()}
    try:
        spark.conf.set(key, rocks)
        got = {tuple(r) for r in q(spark, sf_dir).collect()}
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)
    assert got == base and len(got) > 0


def test_stream_admission_is_the_batch_funnel_mix_plus_deferred_decontam(
    sf_dir,
):
    """r12-verdict item 7 done-criterion, pinned DuckDB-side (no
    Spark — both sides are deterministic oracles): the streaming
    admission set equals the batch funnel's admitted training mix
    (quality ∩ dedup-survivor ∩ (en ∪ DSIR-selected), i.e. exactly
    gold_packed's doc set) PLUS only docs the batch-side exact-8-gram
    decontamination removes at compaction time (deliberately not a
    stream stage — the admission gate's docstring documents the
    split).  So: packed ⊆ admitted, and every extra admitted doc is
    a decontam-dropped doc, never a quality/dedup/selection
    disagreement."""
    import duckdb

    from data_transformation_python_spark.queries.framework_semantics import (
        _FUNNEL_PREFIX,
    )
    from data_transformation_python_spark.queries.streaming_gate import (
        _stream_admission_oracle,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    admitted = {
        r[0] for r in con.execute(_stream_admission_oracle()).fetchall()
    }
    packed = {
        r[0]
        for r in con.execute(
            _FUNNEL_PREFIX
            + """
,mix AS (
  SELECT doc_id FROM decon WHERE lang = 'en'
  UNION
  SELECT d.doc_id FROM decon d JOIN selected s ON d.doc_id = s.doc_id)
SELECT doc_id FROM mix
"""
        ).fetchall()
    }
    decon_set = {
        r[0]
        for r in con.execute(
            _FUNNEL_PREFIX + "\nSELECT doc_id FROM decon"
        ).fetchall()
    }
    assert packed, "empty funnel mix — fixture regression"
    assert packed <= admitted, sorted(packed - admitted)[:5]
    extras = admitted - packed
    # every extra is a doc batch decontam dropped (8-gram hit), not a
    # quality/dedup/DSIR disagreement
    assert extras.isdisjoint(decon_set), sorted(extras & decon_set)[:5]
