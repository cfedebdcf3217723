"""Streaming jobs: ingestion, watermarked windows, foreachBatch CDC
merge, stateful sessionization.

Design notes for scale:
- Watermarks bound state: every stateful op here declares one, so
  state store size is proportional to the late-data horizon, not the
  stream length (the reference's batch CDC has no late-data handling
  at all — SURVEY §2.8 C6).
- ``foreachBatch`` reuses the *batch* merge operators, so streaming
  and batch upserts share one code path and one set of semantics —
  each micro-batch is one distributed merge job.
- Sessionization uses ``applyInPandasWithState`` with per-key state:
  the canonical custom-stateful-operator pattern when built-in
  ``session_window`` semantics don't fit.
- ``run_available_now`` is the one place a query is started and
  awaited, so a run that does not finish fails loudly instead of
  handing back whatever its sink holds so far.
"""

from __future__ import annotations

import datetime as dt
import tempfile
import uuid
from collections.abc import Callable, Iterator
from contextlib import ExitStack

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# The bound on one availableNow run: the largest any caller used
# (the admission gate's scaling sweep), so no run that finished before
# the bound was shared now times out.
AVAILABLE_NOW_TIMEOUT_S = 600

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def stream_source(
    spark: SparkSession,
    path: str,
    schema: T.StructType = EVENT_SCHEMA,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based streaming source (each new file = new micro-batch
    input).  ``maxFilesPerTrigger`` bounds per-batch work at scale."""
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def run_available_now(
    df: DataFrame,
    sink: str | Callable[[DataFrame, int], None],
    mode: str = "append",
) -> tuple[DataFrame | None, StreamingQuery]:
    """Run the streaming ``df`` under an availableNow trigger until it
    has drained its source; return ``(table, query)``.

    ``sink`` is either a tag or a ``foreachBatch`` function:

    - a tag writes to a memory sink named ``stream_<tag>_<hex8>`` in
      ``mode`` (append or complete), and ``table`` is that sink;
    - a function runs on every micro-batch, and ``table`` is None.
      Its checkpoint is a temporary directory, removed once the query
      has ended.

    The finished ``query`` keeps its ``recentProgress``.  A failed
    query raises through ``awaitTermination``; one that is still
    running after ``AVAILABLE_NOW_TIMEOUT_S`` is stopped and raises
    ``TimeoutError``, never a partial table."""
    with ExitStack() as stack:
        writer = df.writeStream
        name = None
        if callable(sink):
            checkpoint = stack.enter_context(
                tempfile.TemporaryDirectory(
                    prefix="dtps_stream_ckpt_", ignore_cleanup_errors=True
                )
            )
            writer = writer.foreachBatch(sink).option(
                "checkpointLocation", checkpoint
            )
        else:
            name = f"stream_{sink}_{uuid.uuid4().hex[:8]}"
            writer = writer.format("memory").queryName(name).outputMode(mode)
        q = writer.trigger(availableNow=True).start()
        try:
            finished = q.awaitTermination(AVAILABLE_NOW_TIMEOUT_S)
        finally:
            if q.isActive:
                q.stop()
        if not finished:
            raise TimeoutError(
                f"availableNow query {name or q.id} did not finish in"
                f" {AVAILABLE_NOW_TIMEOUT_S}s; last progress: {q.lastProgress}"
            )
    return (df.sparkSession.table(name) if name else None), q


def windowed_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling (or sliding) window counts per event_type —
    the streaming analogue of the reference's DATE_TRUNC batch rollups
    (SURVEY §2.8: A1 is the batch tumbling window)."""
    w = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(w.alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def foreach_batch_upsert(
    target_table: str, keys: list[str], spark: SparkSession | None = None
):
    """foreachBatch sink applying each micro-batch as a keyed upsert
    into a catalog table — streaming CDC with the same semantics as
    the batch path (operators/merge.py).  First batch creates the
    table.

    Pass the driver ``spark`` session so its relation cache is also
    refreshed after the swap: foreachBatch executes in a *cloned*
    session whose catalog cache is separate, and a stale driver-side
    file listing would otherwise throw FAILED_READ_FILE on the next
    read of the target."""
    from ..operators.merge import dedup_keep_latest, merge_upsert

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        batch = dedup_keep_latest(batch_df, keys, ["ts"]) if "ts" in batch_df.columns else batch_df
        if not s.catalog.tableExists(target_table):
            batch.write.mode("overwrite").format("parquet").saveAsTable(target_table)
            return
        target = s.table(target_table)
        merged = merge_upsert(target, batch, keys)
        staging = f"{target_table}__stg"
        merged.write.mode("overwrite").format("parquet").saveAsTable(staging)
        s.table(staging).write.mode("overwrite").format("parquet").saveAsTable(
            target_table
        )
        s.sql(f"DROP TABLE IF EXISTS {staging}")
        # drop cached file listings pointing at the replaced files —
        # in the micro-batch session AND the driver session
        s.catalog.refreshTable(target_table)
        if spark is not None and spark is not s:
            spark.catalog.refreshTable(target_table)

    return _apply


SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start", T.TimestampType()),
        T.StructField("last", T.TimestampType()),
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


_EPOCH, _MS = dt.datetime(1970, 1, 1), dt.timedelta(milliseconds=1)


def _session_fn(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user session accumulator: a session closes after ``gap`` of
    event-time inactivity; the tail session closes once the watermark
    passes its last event plus the gap (event-time timeout)."""
    gap = dt.timedelta(seconds=1800)
    if state.hasTimedOut:
        start, last, n, total = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "session_start": [start],
                "session_end": [last],
                "n_events": [n],
                "total_value": [total],
            }
        )
        return

    rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts")
    if state.exists:
        start, last, n, total = state.get
    else:
        start = last = None
        n, total = 0, 0.0

    out = []
    for ts, value in zip(rows["ts"], rows["value"]):
        ts = ts.to_pydatetime()
        if last is not None and ts - last > gap:
            out.append((start, last, n, total))
            start, n, total = ts, 0, 0.0
        if start is None:
            start = ts
        last = ts
        n += 1
        total += float(value)
    state.update((start, last, n, total))
    # ``last`` is a naive wall time in the session zone (UTC, pinned by
    # ``session.py``); a naive datetime handed to ``setTimeoutTimestamp``
    # would be read in the worker's local zone instead, so pass epoch ms.
    state.setTimeoutTimestamp((last + gap - _EPOCH) // _MS)
    if out:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out),
                "session_start": [o[0] for o in out],
                "session_end": [o[1] for o in out],
                "n_events": [o[2] for o in out],
                "total_value": [o[3] for o in out],
            }
        )


def sessionize(events: DataFrame) -> DataFrame:
    """Custom stateful sessionization over a stream (grouped map with
    state) — emits a row per *closed* session.

    Timeouts are event-time under a watermark of one session gap: a
    processing-time timeout makes every trigger ask for another
    no-data batch, so an availableNow run over it never ends.  The
    watermark drops events that arrive more than 30 minutes behind the
    latest event seen."""
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
