"""Structured Streaming under the correctness gate: the query runs a
*real* streaming job (file source → watermarked windowed aggregation →
memory sink, availableNow trigger) and returns its final result table;
the oracle verifies it against the equivalent batch tumbling-window
SQL.  This pins the batch/streaming unification claim — the streaming
window semantics must equal DATE_TRUNC bucketing on the same data.
"""

from __future__ import annotations

import contextlib
import functools
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import query
from ..operators.transform import lit_long_array
from ..streaming.jobs import run_available_now

_SCOPED_CONF_KEYS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.session.timeZone",
)

# Shuffle partitions of the stateful gates.  Stateful streaming pays a
# per-partition state-store init on EVERY micro-batch; at fixture
# scale that fixed cost dominates (stream-stream join measured 3x
# faster at 8 partitions, identical results).  On a real cluster size
# this to the state volume — it is pinned by the first checkpoint.
_STATE_PARTITIONS = "8"


def _restores_conf(fn):
    """Snapshot/restore session confs around a streaming gate.

    Every gate in this file pins ``spark.sql.shuffle.partitions`` (and
    most pin the session timezone) on the SHARED bench/parity session;
    without a restore the setting leaks into every subsequently-run
    query in the same process.  The wrapper runs after the gate's
    query has finished, and the memory sink's rows are
    already materialized by then, so restoring the conf cannot change
    the returned DataFrame's values.  Keys the caller never set
    explicitly are UNSET (not reset to their current default) so the
    registry's own tune-if-untouched logic keeps working."""

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        saved: dict[str, str | None] = {}
        for k in _SCOPED_CONF_KEYS:
            try:
                explicit = (
                    spark._jsparkSession.sessionState()
                    .conf()
                    .settings()
                    .containsKey(k)
                )
            except Exception:  # non-JVM backends: assume explicit
                explicit = True
            saved[k] = spark.conf.get(k, None) if explicit else None
        try:
            return fn(spark, sf_dir)
        finally:
            for k, prev in saved.items():
                try:
                    if prev is None:
                        spark.conf.unset(k)
                    else:
                        spark.conf.set(k, prev)
                except Exception:
                    pass

    return wrapper


@contextlib.contextmanager
def _sink_table(spark: SparkSession, tag: str, columns: str | None = None):
    """The catalog table ``stream_<tag>_<hex8>`` a foreachBatch gate
    writes into: created from ``columns`` when given (else by the
    gate's first micro-batch), and dropped when the gate returns or
    fails, so read its result with ``localCheckpoint`` first."""
    target = f"stream_{tag}_{uuid.uuid4().hex[:8]}"
    try:
        if columns:
            spark.sql(f"CREATE TABLE {target} ({columns}) USING parquet")
        yield target
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {target}")


def _match_layout_parallelism(
    stream: DataFrame, spark: SparkSession, sf_dir: str,
    fname: str = "documents.parquet",
) -> DataFrame:
    """Scale-adaptive micro-batch parallelism for compute-heavy serve
    gates (optimization round 14, guide §2/§6): a micro-batch inherits
    the FILE layout's split count, and the fixture corpus is one tiny
    parquet file — so every per-document projection (Viterbi DPs, the
    admission enrich, HTML extraction, ANN distance scans) ran on ONE
    core while the other 31 idled (measured: unigram serve 10.2 s →
    1.3 s at 32 splits, values identical).  The static batch scan of
    the SAME file is probed for its split count and the stream is
    repartitioned only when that is below the core count — on a
    production layout (splits >= cores) no repartition node is added,
    so the deployed stream stays shuffle-free."""
    try:
        n = spark.read.parquet(f"{sf_dir}/{fname}").rdd.getNumPartitions()
        target = spark.sparkContext.defaultParallelism
        if n < target:
            return stream.repartition(target)
    except Exception:
        pass
    return stream


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events file source with a schema probed from the parquet footer.

    Streaming file sources require an explicit schema; probing the
    batch reader's inferred schema keeps the stream correct across
    testdata vintages — current files store ``ts`` as
    TIMESTAMP(MICROS) (reads as ``timestamp_ntz``), older ones stored
    TIMESTAMP(NANOS) which surfaces as epoch-nanos BIGINT.  Either
    way the stream normalizes ``ts`` to a session-timezone TIMESTAMP
    (watermarks/windows need an instant type; the session is pinned
    to UTC by every caller, so the conversion is value-identity)."""
    # Without nanosAsLong a vanilla session THROWS on the nanos
    # vintage at this probe, making the LongType branch unreachable.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_type = next((f.dataType for f in schema.fields if f.name == "ts"), None)
    if isinstance(ts_type, T.LongType):  # legacy nanos-as-int64 vintage
        return stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))

_STREAM_ORACLE = """
SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


@query("q_stream_windowed_counts", oracle=_STREAM_ORACLE)
@_restores_conf
def q_stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window counts computed by an actual streaming
    query over the events file (glob-filtered file source with a
    footer-probed schema).  The
    watermark bounds aggregation state; complete output mode emits
    every window for the oracle compare."""
    # Watermarks require TIMESTAMP (instant) columns; pin the session
    # to UTC so the instant↔wall-clock conversions are identity and
    # the NTZ output matches the oracle regardless of host timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Streaming aggregations get no AQE coalescing: the state-store
    # shuffle materializes every configured partition as a task (and a
    # state dir).  200 default partitions → 200 tasks for a small
    # window count; size to the parallelism actually available.
    spark.conf.set("spark.sql.shuffle.partitions", _STATE_PARTITIONS)
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("win.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    table, _ = run_available_now(agg, "gate", "complete")
    return table


# --------------------------------------------------------------------------
# streaming sessionization via built-in session_window, verified
# against the batch gaps-and-islands oracle
# --------------------------------------------------------------------------
_SESSION_STREAM_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_id, ts, value,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events),
flags AS (
  SELECT *, CASE WHEN prev_ts IS NULL OR ts >= prev_ts + INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS new_sess
  FROM ordered),
sess AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flags)
SELECT user_id,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM sess GROUP BY user_id, session_seq
"""


@query("q_stream_sessionize", oracle=_SESSION_STREAM_ORACLE)
@_restores_conf
def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization with the built-in ``session_window``
    (30-minute inactivity gap) run as a real streaming query; the
    oracle is the batch gaps-and-islands CTE.  Boundary semantics:
    ``session_window`` ends are exclusive (an event at exactly
    last+gap opens a NEW session), so the oracle flags new sessions
    with ``>=`` — with microsecond timestamps the distinction never
    fires in this data, but the contract is written to match exactly.
    Complete output mode emits every session (including tails that a
    timeout-based emitter would still be holding)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.shuffle.partitions", _STATE_PARTITIONS)
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), "user_id"
        )
        .agg(
            F.min("ts").cast("timestamp_ntz").alias("session_start"),
            F.max("ts").cast("timestamp_ntz").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id", "session_start", "session_end", "n_events", "total_value"
        )
    )
    table, _ = run_available_now(agg, "sess", "complete")
    return table


# --------------------------------------------------------------------------
# streaming exact dedup — stateful dropDuplicates on the ingest path,
# verified against batch DISTINCT
# --------------------------------------------------------------------------
_STREAM_DEDUP_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
"""


@query("q_stream_dedup", oracle=_STREAM_DEDUP_ORACLE)
@_restores_conf
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication: ``dropDuplicates`` over the
    ingest stream keeps the first arrival per (user_id, event_type)
    key in the state store and appends exactly one row per key —
    the shape a continuous training-data ingest uses to suppress
    re-delivered documents.

    Only the KEY columns are emitted: which physical row arrives
    first is micro-batch-order dependent, but the surviving key set
    equals batch DISTINCT regardless of arrival order — that is the
    deterministic contract the oracle checks.  (The bounded-state
    production variant, ``dropDuplicatesWithinWatermark``, runs as
    its own gated query: q_stream_dedup_watermark.)"""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.shuffle.partitions", _STATE_PARTITIONS)
    stream = _events_stream(spark, sf_dir)
    deduped = stream.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    table, _ = run_available_now(deduped, "dedup")
    return table


# --------------------------------------------------------------------------
# streaming dedup with BOUNDED state — dropDuplicatesWithinWatermark
# over an explicit re-delivery fixture, verified against batch DISTINCT
# --------------------------------------------------------------------------
_STREAM_DEDUP_WM_ORACLE = """
SELECT DISTINCT event_id FROM events
"""


@query("q_stream_dedup_watermark", oracle=_STREAM_DEDUP_WM_ORACLE)
@_restores_conf
def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production variant of streaming dedup: every event is
    RE-DELIVERED once with an event time 1 s later (the at-least-once
    ingest failure mode), and ``dropDuplicatesWithinWatermark`` under
    a 10-minute watermark suppresses the duplicates.

    Unlike plain ``dropDuplicates`` (q_stream_dedup), state here is
    BOUNDED: keys are evicted once the watermark passes their event
    time, so a forever-running ingest holds O(window) keys instead of
    O(all keys ever seen) — the semantics contract is that duplicates
    arriving within the watermark horizon are guaranteed dropped.
    Both re-deliveries sit 1 s apart, well inside the horizon, so the
    surviving key set must equal batch DISTINCT exactly."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.shuffle.partitions", _STATE_PARTITIONS)
    stream = _events_stream(spark, sf_dir)
    redelivered = stream.select(
        "event_id",
        F.explode(
            F.array(F.col("ts"), F.col("ts") + F.expr("INTERVAL 1 SECOND"))
        ).alias("ts"),
    )
    deduped = (
        redelivered.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id")
    )
    table, _ = run_available_now(deduped, "dedup_wm")
    return table


# --------------------------------------------------------------------------
# foreachBatch CDC upsert — the continuous-ingest merge pattern: each
# micro-batch applies the BATCH keyed-upsert operator to a catalog
# table; verified against batch keep-latest-per-key
# --------------------------------------------------------------------------
_STREAM_UPSERT_ORACLE = """
SELECT user_id, event_id, event_type,
       CAST(CAST(value AS DECIMAL(18,4)) AS DOUBLE) AS value, ts
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC) AS rn
      FROM events) t
WHERE rn = 1
"""


@query("q_stream_foreachbatch_upsert", oracle=_STREAM_UPSERT_ORACLE)
@_restores_conf
def q_stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert via ``foreachBatch``: the event stream
    lands in a catalog table through the SAME keyed-merge operator the
    batch path uses (operators/merge.py), keeping the latest row per
    user — the batch/streaming unification claim exercised on the
    WRITE side (the other streaming queries verify reads).  The final
    table must equal batch keep-latest-per-key exactly; (user_id, ts)
    is unique in the fixture, so the result is deterministic."""
    from ..streaming.jobs import foreach_batch_upsert

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.shuffle.partitions", _STATE_PARTITIONS)
    stream = _events_stream(spark, sf_dir).select(
        "user_id", "event_id", "event_type", "value", "ts"
    )
    with _sink_table(spark, "upsert") as target:
        run_available_now(
            stream, foreach_batch_upsert(target, ["user_id"], spark=spark)
        )
        return (
            spark.table(target)
            .select(
                "user_id",
                "event_id",
                "event_type",
                F.col("value").cast("decimal(18,4)").cast("double").alias("value"),
                "ts",
            )
            .localCheckpoint(eager=True)
        )


# --------------------------------------------------------------------------
# stream-static join — streaming fact enriched by a broadcast batch
# dimension, verified against the equivalent batch join+aggregate
# --------------------------------------------------------------------------
_STREAM_STATIC_ORACLE = """
SELECT c.c_mktsegment AS mktsegment,
       e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


@query("q_stream_static_join", oracle=_STREAM_STATIC_ORACLE)
@_restores_conf
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriches each row from a
    *batch* customer dimension, then aggregates per (segment, type).

    The static side is re-planned per micro-batch (Spark's stream-
    static contract — a dimension updated between batches is picked
    up), and because it is a small dimension it is explicitly
    broadcast: the stream side never shuffles for the join, exactly
    the plan a 100-TB ingest wants.  State is bounded by the
    aggregation keys only (segments × types), not the join."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.shuffle.partitions", _STATE_PARTITIONS)
    dim = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select(F.col("c_custkey"), F.col("c_mktsegment").alias("mktsegment"))
    )
    stream = _events_stream(spark, sf_dir)
    joined = stream.join(F.broadcast(dim), stream.user_id == dim.c_custkey)
    agg = joined.groupBy("mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)"))
        .cast("double")
        .alias("total_value"),
    )
    table, _ = run_available_now(agg, "dim", "complete")
    return table


# --------------------------------------------------------------------------
# stream-stream interval join — click→purchase attribution with
# watermark-bounded state, verified against the batch self-join
# --------------------------------------------------------------------------
_STREAM_STREAM_ORACLE = """
SELECT a.event_id AS click_id,
       b.event_id AS purchase_id,
       a.user_id,
       CAST(b.ts AS TIMESTAMP) AS purchase_ts,
       CAST(b.value AS DOUBLE) AS purchase_value
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 60 MINUTE
"""


@query("q_stream_stream_join", oracle=_STREAM_STREAM_ORACLE)
@_restores_conf
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: clicks joined to purchases by the
    same user within 60 minutes — the attribution shape.  Both sides
    carry watermarks and the join condition bounds event time on BOTH
    ends, so Spark can expire buffered rows instead of holding every
    click forever; that time-interval condition is what makes the
    state O(window) rather than O(stream).  The oracle is the batch
    self-join with the identical predicate."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.shuffle.partitions", _STATE_PARTITIONS)

    def _side(event_type: str) -> DataFrame:
        return _events_stream(spark, sf_dir).where(
            F.col("event_type") == event_type
        )

    clicks = (
        _side("click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        _side("purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 60 MINUTES")),
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        "purchase_value",
    )
    table, _ = run_available_now(joined, "join")
    return table


# --------------------------------------------------------------------------
# streaming ingest dedup against a static corpus index — the
# continuous form of dedup_incremental_batch: arriving documents band
# themselves with ROW-LOCAL minhash expressions (no aggregation on
# the stream), probe the broadcast corpus band index, and the pair
# count is the query's only stateful operator.
# --------------------------------------------------------------------------
_STREAM_INDEX_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        FROM toks WHERE len(t) >= 3),
sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle FROM idx),
sig AS (SELECT doc_id,
  MIN(md5('0:' || shingle)) AS m0, MIN(md5('1:' || shingle)) AS m1,
  MIN(md5('2:' || shingle)) AS m2, MIN(md5('3:' || shingle)) AS m3,
  MIN(md5('4:' || shingle)) AS m4, MIN(md5('5:' || shingle)) AS m5,
  MIN(md5('6:' || shingle)) AS m6, MIN(md5('7:' || shingle)) AS m7
  FROM sh GROUP BY doc_id),
bands AS (
  SELECT doc_id, 0 AS band, md5(m0 || m1) AS bkey FROM sig
  UNION ALL SELECT doc_id, 1, md5(m2 || m3) FROM sig
  UNION ALL SELECT doc_id, 2, md5(m4 || m5) FROM sig
  UNION ALL SELECT doc_id, 3, md5(m6 || m7) FROM sig)
SELECT a.doc_id AS new_doc_id, b.doc_id AS corpus_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shared_bands
FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 != 0
GROUP BY 1, 2
"""


@query("q_stream_dedup_index", oracle=_STREAM_INDEX_ORACLE)
@_restores_conf
def q_stream_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup admission control: the document stream is
    LSH-banded per row (``rowlocal_band_keys`` — min over the shingle
    array needs no stream aggregation), probed against the static
    corpus index via a broadcast stream-static join, and candidate
    pairs aggregate band hits.  At 100 TB the index is the persisted
    band-key table bucketed by (band, bkey); the stream side never
    shuffles for the probe, and state is bounded by matched pairs,
    not corpus size."""
    from ..operators.dedup import band_keys, rowlocal_band_keys

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .filter(F.col("doc_id") % 5 == 0)
    )
    stream = _match_layout_parallelism(stream, spark, sf_dir)
    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") % 5 != 0
    )
    # same boilerplate-skew cap as the batch dedup index (round-8
    # banding audit): drop template-degenerate corpus buckets before
    # the broadcast so index size (and per-probe fan-out) is bounded;
    # never hit at fixture scale, so the SQL oracle needs no twin
    from pyspark.sql.window import Window as _W

    index = (
        band_keys(corpus)
        .withColumn(
            "__bsz", F.count(F.lit(1)).over(_W.partitionBy("band", "bkey"))
        )
        .filter(F.col("__bsz") <= 10_000)
        .drop("__bsz")
        .select(F.col("doc_id").alias("corpus_doc_id"), "band", "bkey")
    )
    nb = rowlocal_band_keys(stream).select(
        F.col("doc_id").alias("new_doc_id"), "band", "bkey"
    )
    hits = nb.join(F.broadcast(index), ["band", "bkey"]).groupBy(
        "new_doc_id", "corpus_doc_id"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_bands"))
    table, _ = run_available_now(hits, "dedup_idx", "complete")
    return table


# --------------------------------------------------------------------------
# streaming Count-Min maintenance — each micro-batch appends its own
# CMS cells via foreachBatch; the running sketch is their cell-wise
# sum (the mergeability invariant live), probed for the heaviest
# users and verified against the batch replay, which is EXACT because
# merge-by-addition is associative over micro-batch partitions.
# --------------------------------------------------------------------------
_STREAM_CMS_ORACLE = """
WITH toks AS (SELECT CAST(user_id AS VARCHAR) AS token FROM events),
cells AS (
  SELECT r, CAST(('0x' || substr(md5(r || ':' || token), 1, 6)) AS BIGINT) % 1024 AS bucket
  FROM toks, unnest(generate_series(0, 3)) AS g(r)),
sketch AS (
  SELECT r, bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2),
exact AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_count FROM toks
  GROUP BY 1 ORDER BY exact_count DESC, token LIMIT 5),
probes AS (
  SELECT token, exact_count, g.r,
         CAST(('0x' || substr(md5(g.r || ':' || token), 1, 6)) AS BIGINT) % 1024 AS bucket
  FROM exact, unnest(generate_series(0, 3)) AS g(r))
SELECT p.token, ANY_VALUE(p.exact_count) AS exact_count,
       CAST(MIN(s.cnt) AS BIGINT) AS cms_estimate
FROM probes p JOIN sketch s ON s.r = p.r AND s.bucket = p.bucket
GROUP BY p.token
"""


@query("q_stream_countmin_merge", oracle=_STREAM_CMS_ORACLE)
@_restores_conf
def q_stream_countmin_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-user detection over the event stream: every micro-batch
    builds its own CMS cells (``countmin_build_tokens``) and APPENDS
    them to a catalog table; the live sketch is the cell-wise sum at
    read time — a log-structured mergeable sketch with no custom
    state store.  Stream-merged counts equal the batch sketch exactly
    (addition is associative), so the gate is bit-checkable: the
    merged sketch's estimates for the true top-5 users must match the
    batch oracle replay."""
    from pyspark.sql.window import Window

    from ..operators import sketch as sk

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = _events_stream(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("token")
    )
    with _sink_table(spark, "cms", "r INT, bucket BIGINT, cnt BIGINT") as target:

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            sk.countmin_build_tokens(batch_df).write.insertInto(target)

        run_available_now(stream, _apply)
        sketch = (
            spark.table(target)
            .groupBy("r", "bucket")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        )
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        toks = events.select(F.col("user_id").cast("string").alias("token"))
        w = Window.orderBy(F.desc("exact_count"), F.asc("token"))
        top = (
            toks.groupBy("token")
            .agg(F.count(F.lit(1)).cast("bigint").alias("exact_count"))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= 5)
            .drop("__rn")
        )
        return (
            top.join(
                sk.countmin_estimate(sketch, top.select("token")), "token"
            )
            .select("token", "exact_count", "cms_estimate")
            .localCheckpoint(eager=True)
        )


# --------------------------------------------------------------------------
# streaming ANN serving — a stream of query vectors routed through the
# static IVF index: row-local quantization + literal-centroid argmin
# (stateless narrow maps, streaming-legal), a broadcast stream-static
# join to the pre-assigned corpus list, exact-integer cosine, and a
# per-query top-1 aggregation.  The production serving shape: the
# index is batch-built once; queries arrive continuously and never
# shuffle for the probe.
# --------------------------------------------------------------------------
_STREAM_ANN_ORACLE = """
WITH q AS (SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
           FROM embeddings),
n AS (SELECT vec_id, v, list_dot_product(v, v) AS nrm FROM q),
corpus AS (SELECT * FROM n WHERE vec_id % 5 <> 0),
queries AS (SELECT * FROM n WHERE vec_id % 5 = 0),
cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM corpus WHERE vec_id % 50 = 1),
ca AS (SELECT vec_id AS neighbor_id, cid, v, nrm FROM (
   SELECT c.*, ct.cid,
          ROW_NUMBER() OVER (PARTITION BY c.vec_id
                             ORDER BY c.nrm + ct.cn - 2 * list_dot_product(c.v, ct.cv),
                                      ct.cid) AS rn
   FROM corpus c CROSS JOIN cent ct) t WHERE rn = 1),
qa AS (SELECT vec_id AS query_id, cid, v, nrm FROM (
   SELECT qq.*, ct.cid,
          ROW_NUMBER() OVER (PARTITION BY qq.vec_id
                             ORDER BY qq.nrm + ct.cn - 2 * list_dot_product(qq.v, ct.cv),
                                      ct.cid) AS rn
   FROM queries qq CROSS JOIN cent ct) t WHERE rn = 1),
scored AS (
  SELECT qa.query_id, ca.neighbor_id,
         list_dot_product(qa.v, ca.v) / sqrt(qa.nrm * ca.nrm) AS cosine_sim
  FROM qa JOIN ca USING (cid))
SELECT query_id, neighbor_id, cosine_sim
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id) AS rn
      FROM scored) t
WHERE rn = 1
"""


@query("q_stream_ann_route", oracle=_STREAM_ANN_ORACLE)
@_restores_conf
def q_stream_ann_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN serving over the static IVF index (X4 serving
    composed with X12): 20% of the embeddings table arrives as a
    query STREAM; the other 80% is the batch-built corpus.  Routing
    is the literal-centroid argmin — a constant-folded narrow map, so
    the stream needs no state and no shuffle to find its coarse list;
    candidates come from ONE broadcast stream-static join on cid, and
    the exact quantized-integer cosine ranks them with a per-query
    max-struct aggregation (top-1, ties to the smaller neighbor id).
    At 100 TB the corpus assignment is the persisted inverted index
    bucketed by cid; per-query work is |corpus|/n_lists candidate
    dots, and stream state is one row per open query."""
    from ..operators.similarity import (
        DOT_EXPR,
        QUANT_EXPR,
        _literal_argmin_sql,
        quantized,
    )
    from ..operators.transform import materialize

    spark.conf.set("spark.sql.shuffle.partitions", "8")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = quantized(emb.filter(F.col("vec_id") % 5 != 0))
    cents = sorted(
        (int(r["vec_id"]), [int(x) for x in r["__v"]])
        for r in corpus.filter(F.col("vec_id") % 50 == 1)
        .select("vec_id", "__v")
        .collect()
    )
    argmin = _literal_argmin_sql(cents)
    index = materialize(
        corpus.select(
            F.col("vec_id").alias("neighbor_id"),
            F.expr(f"({argmin}).cid").alias("cid"),
            F.col("__v").alias("__cv"),
            F.col("__nrm").alias("__cn"),
        )
    )
    schema = emb.schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
        .filter(F.col("vec_id") % 5 == 0)
    )
    stream = _match_layout_parallelism(
        stream, spark, sf_dir, "embeddings.parquet"
    )
    stream = (
        stream.select(
            F.col("vec_id").alias("query_id"),
            F.expr(QUANT_EXPR.format(col="embedding")).alias("__v"),
        )
        .withColumn("__nrm", F.expr(DOT_EXPR.format(a="__v", b="__v")))
        .withColumn("cid", F.expr(f"({argmin}).cid"))
    )
    scored = (
        stream.join(F.broadcast(index), "cid")
        .withColumn(
            "cosine_sim",
            F.expr(DOT_EXPR.format(a="__v", b="__cv"))
            / F.sqrt(F.col("__nrm") * F.col("__cn")),
        )
        .groupBy("query_id")
        .agg(
            F.max(
                F.struct(
                    F.col("cosine_sim"), (-F.col("neighbor_id")).alias("__nn")
                )
            ).alias("__b")
        )
        .select(
            "query_id",
            (-F.col("__b.__nn")).cast("bigint").alias("neighbor_id"),
            F.col("__b.cosine_sim").alias("cosine_sim"),
        )
    )
    table, _ = run_available_now(scored, "ann", "complete")
    return table


# --------------------------------------------------------------------------
# streaming PQ-ADC serving — the other half of the serving story
# (q_stream_ann_route covers IVF routing): each STREAMED query builds
# its own asymmetric-distance table row-locally against the constant
# codebook (the real ADC economics: O(m·k·sub) once per query), then
# scores the broadcast PQ-coded corpus with m table LOOKUPS per
# candidate — never a d-dim dot, never stream state beyond the final
# per-query top-1 aggregation.
# --------------------------------------------------------------------------
_STREAM_PQ_ORACLE = """
WITH q AS (SELECT vec_id,
                  list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
           FROM embeddings),
js AS (SELECT unnest(generate_series(0, 3)) AS j),
corpus AS (SELECT * FROM q WHERE vec_id % 199 <> 0),
queries AS (SELECT * FROM q WHERE vec_id % 199 = 0),
cent AS (SELECT c.vec_id AS cid, js.j, c.v[js.j*16+1 : js.j*16+16] AS cj
         FROM corpus c, js WHERE c.vec_id % 50 = 1),
dists_c AS (SELECT c.vec_id, ct.j, ct.cid,
              list_sum(list_transform(generate_series(1, 16),
                i -> (c.v[ct.j*16+i] - ct.cj[i]) * (c.v[ct.j*16+i] - ct.cj[i]))) AS d2
            FROM corpus c JOIN cent ct ON TRUE),
codes AS (SELECT vec_id, j, cid FROM (
            SELECT vec_id, j, cid, d2,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d2, cid) AS rn
            FROM dists_c) t WHERE rn = 1),
dtab AS (SELECT qq.vec_id AS query_id, ct.j, ct.cid,
              list_sum(list_transform(generate_series(1, 16),
                i -> (qq.v[ct.j*16+i] - ct.cj[i]) * (qq.v[ct.j*16+i] - ct.cj[i]))) AS d2
         FROM queries qq JOIN cent ct ON TRUE),
scored AS (SELECT dtab.query_id, codes.vec_id AS neighbor_id,
                  CAST(SUM(dtab.d2) AS DOUBLE) AS adc_d2
           FROM codes JOIN dtab ON codes.j = dtab.j AND codes.cid = dtab.cid
           GROUP BY 1, 2)
SELECT query_id, neighbor_id, adc_d2
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_d2, neighbor_id) AS rn
      FROM scored) t
WHERE rn = 1
"""


@query("q_stream_pq_serve", oracle=_STREAM_PQ_ORACLE)
@_restores_conf
def q_stream_pq_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PQ-ADC serving: the corpus lives as m=4 PQ codes per
    vector (batch pq_encode, broadcast with pre-resolved codebook
    ordinals); each streamed query computes its m·k distance table
    ROW-LOCALLY against the literal codebook (a constant-folded
    nested transform — no stream state, no shuffle), and candidate
    scoring is m ``element_at`` lookups per corpus code row inside a
    stream-static broadcast join.  One per-query min-struct
    aggregation returns the nearest neighbor (ties to the smaller
    id).  All arithmetic is exact quantized integers, so the DuckDB
    oracle replays codebook build, code assignment, table build, and
    ADC sums bit-exactly."""
    from ..operators import similarity as sim
    from ..operators.similarity import QUANT_EXPR
    from ..operators.transform import materialize

    spark.conf.set("spark.sql.shuffle.partitions", "8")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") % 199 != 0)
    qn_c = sim.quantized(corpus)
    cent_rows = sorted(
        (int(r["vec_id"]), [int(x) for x in r["__v"]])
        for r in qn_c.filter(F.col("vec_id") % 50 == 1)
        .select("vec_id", "__v")
        .collect()
    )
    m = 4
    dim = len(cent_rows[0][1])
    sub = dim // m
    k = len(cent_rows)
    # corpus → codes → codebook ORDINALS (cid order = sorted cids)
    cid_to_idx = ", ".join(
        f"{cid}L, {i}" for i, (cid, _) in enumerate(cent_rows)
    )
    codes_df = materialize(
        sim.pq_encode(corpus, m=m, cent_rows=cent_rows)
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.expr(
                f"transform(codes, c -> element_at(map({cid_to_idx}), c))"
            ).alias("__ci"),
        )
    )
    # per-query ADC table: concat over subspaces of the distances to
    # every codebook entry — built once per streamed row
    sq = "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), 0D, (a, x) -> a + x)"
    parts = []
    for j in range(m):
        subvecs = ", ".join(
            "array(" + ", ".join(f"{x}.0D" for x in cv[j * sub : (j + 1) * sub]) + ")"
            for _, cv in cent_rows
        )
        parts.append(
            f"transform(array({subvecs}), c -> "
            + sq.format(a=f"slice(__v, {j * sub + 1}, {sub})", b="c")
            + ")"
        )
    dtab_expr = "concat(" + ", ".join(parts) + ")"
    stream = (
        spark.readStream.schema(emb.schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
        .filter(F.col("vec_id") % 199 == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.expr(QUANT_EXPR.format(col="embedding")).alias("__v"),
        )
        .withColumn("__dtab", F.expr(dtab_expr))
        .drop("__v")
    )
    adc = (
        f"aggregate(zip_with(__ci, sequence(0, {m - 1}), "
        f"(ci, j) -> element_at(__dtab, j * {k} + ci + 1)), "
        "0D, (a, x) -> a + x)"
    )
    scored = (
        stream.join(F.broadcast(codes_df), F.lit(True), "inner")
        .withColumn("adc_d2", F.expr(adc))
        .groupBy("query_id")
        .agg(F.min(F.struct("adc_d2", "neighbor_id")).alias("__b"))
        .select(
            "query_id",
            F.col("__b.neighbor_id").alias("neighbor_id"),
            F.col("__b.adc_d2").alias("adc_d2"),
        )
    )
    table, _ = run_available_now(scored, "pq", "complete")
    return table


# --------------------------------------------------------------------------
# streaming kNN-vote classification — the quality-classifier serving
# twin of text_knn_classifier: query vectors arrive as a STREAM and
# are classified against the batch-built binary-quantized seed index
# entirely ROW-LOCALLY (popcount Hamming to every seed code, top-k
# slice, majority vote — all inside one higher-order expression), so
# the job is a stateless narrow map: no stream state, no shuffle,
# append mode.  The production ingest-time filter shape: label every
# incoming document against a frozen labeled seed set.
# --------------------------------------------------------------------------
def _stream_knn_oracle() -> str:
    from .pipeline_ops import _KNN_ORACLE

    return _KNN_ORACLE


@query("q_stream_knn_classifier", oracle=_stream_knn_oracle())
@_restores_conf
def q_stream_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming kNN-vote classifier over the static BQ seed index.

    The seed index (packed 64-bit sign codes + labels for vec_id % 5
    ≠ 0) is batch-built once and folded into the streaming plan; each
    streamed query vector (vec_id % 5 = 0, < 50) packs its own sign
    words row-locally, computes Hamming distance to EVERY seed code
    with two popcounts, array_sorts, slices k=5, and majority-votes —
    one narrow projection, zero stream state.  Vote ties match the
    batch operator exactly: (votes DESC, best_hamming ASC, label
    ASC).  SAME oracle as text_knn_classifier: batch plan, streaming
    plan, and DuckDB replay — one bit-exact answer.  At 100 TB the
    seed codes ride a broadcast (8 bytes + label per seed; 10⁶ seeds
    ≈ 16 MB) and per-document cost is |seeds| popcounts — the
    fastText-classifier economics with embeddings."""
    from ..operators.similarity import QUANT_EXPR, _bq_word_expr, bq_encode

    spark.conf.set("spark.sql.shuffle.partitions", "8")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    seeds = (
        bq_encode(emb.filter(F.col("vec_id") % 5 != 0))
        .join(
            emb.select(
                "vec_id", F.col("label").cast("bigint").alias("label")
            ),
            "vec_id",
        )
        .collect()
    )
    seed_lit = "array(" + ", ".join(
        f"struct({int(r['sig_lo'])}L AS lo, {int(r['sig_hi'])}L AS hi,"
        f" {int(r['vec_id'])}L AS nid, {int(r['label'])}L AS label)"
        for r in sorted(seeds, key=lambda r: int(r["vec_id"]))
    ) + ")"
    cands = (
        f"slice(array_sort(transform({seed_lit}, s -> struct("
        "CAST(bit_count(s.lo ^ __qlo) + bit_count(s.hi ^ __qhi)"
        " AS BIGINT) AS h, s.nid AS nid, s.label AS label))), 1, 5)"
    )
    best = (
        "array_min(transform(array_distinct(transform(__c, c -> c.label)),"
        " l -> struct("
        "-size(filter(__c, c -> c.label = l)) AS negv,"
        " aggregate(filter(__c, c -> c.label = l), CAST(999 AS BIGINT),"
        " (a, x) -> least(a, x.h)) AS bh,"
        " l AS label)))"
    )
    stream = (
        spark.readStream.schema(emb.schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
        .filter((F.col("vec_id") % 5 == 0) & (F.col("vec_id") < 50))
        .select(
            F.col("vec_id").alias("query_id"),
            F.expr(QUANT_EXPR.format(col="embedding")).alias("__v"),
        )
        .select(
            "query_id",
            F.expr(_bq_word_expr(0, 32)).alias("__qlo"),
            F.expr(_bq_word_expr(32, 64)).alias("__qhi"),
        )
        .withColumn("__c", F.expr(cands))
        .withColumn("__b", F.expr(best))
        .select(
            "query_id",
            F.col("__b.label").alias("pred_label"),
            (-F.col("__b.negv")).cast("bigint").alias("votes"),
            F.col("__b.bh").alias("best_hamming"),
        )
    )
    table, _ = run_available_now(stream, "knn")
    return table


# --------------------------------------------------------------------------
# streaming HyperLogLog maintenance — each micro-batch appends its own
# HLL registers via foreachBatch; the running sketch is their
# per-bucket MAX (the mergeability invariant live), estimated and
# verified against the batch replay, which is EXACT because
# merge-by-MAX is associative and idempotent over micro-batch
# partitions.  The cardinality-side twin of q_stream_countmin_merge.
# --------------------------------------------------------------------------
_STREAM_HLL_ORACLE = """
WITH vals AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS token FROM events),
cells AS (
  SELECT CAST(('0x' || substr(md5(token), 1, 12)) AS BIGINT) % 1024 AS bucket,
         CAST(39 - (CASE WHEN CAST(('0x' || substr(md5(token), 1, 12)) AS BIGINT) // 1024 = 0 THEN 0
              ELSE length(bin(CAST(('0x' || substr(md5(token), 1, 12)) AS BIGINT) // 1024)) END) AS INT) AS rho
  FROM vals),
regs AS (SELECT bucket, MAX(rho) AS rho FROM cells GROUP BY 1),
agg AS (
  SELECT CAST(1024 - COUNT(*) AS BIGINT) AS v_zero,
         SUM(CAST(1 AS BIGINT) << CAST(39 - rho AS INT)) AS present_fp
  FROM regs),
est AS (
  SELECT v_zero,
         CAST(v_zero * 549755813888 + present_fp AS BIGINT) AS harmonic_fp,
         (0.7213 / (1.0 + 1.079 / 1024.0)) * 1024.0 * 1024.0 * CAST(549755813888 AS DOUBLE)
           / CAST(v_zero * 549755813888 + present_fp AS DOUBLE) AS raw
  FROM agg)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM vals) AS exact_distinct,
       v_zero, harmonic_fp,
       CAST(floor(CASE WHEN raw <= 2560.0 AND v_zero > 0
            THEN 1024.0 * ln(1024.0 / CAST(v_zero AS DOUBLE)) ELSE raw END) AS BIGINT) AS hll_estimate,
       CAST(CASE WHEN ABS(CAST(floor(CASE WHEN raw <= 2560.0 AND v_zero > 0
                 THEN 1024.0 * ln(1024.0 / CAST(v_zero AS DOUBLE)) ELSE raw END) AS BIGINT)
                 - (SELECT COUNT(*) FROM vals)) <= 0.10 * (SELECT COUNT(*) FROM vals)
            THEN 1 ELSE 0 END AS BIGINT) AS within_10pct
FROM est
"""


@query("q_stream_hll_merge", oracle=_STREAM_HLL_ORACLE)
@_restores_conf
def q_stream_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user cardinality over the event stream: every
    micro-batch builds its own HLL registers
    (operators/sketch.py hll_build) and APPENDS them to a catalog
    table; the live sketch is the per-bucket MAX at read time — a
    log-structured mergeable sketch with no custom state store.
    Stream-merged registers equal the batch sketch exactly (MAX is
    associative and idempotent), so the whole row — registers summary,
    fixed-point harmonic sum, estimate — is bit-checkable against the
    batch oracle replay."""
    from ..operators import sketch as sk

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = _events_stream(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("token")
    )
    with _sink_table(spark, "hll", "bucket BIGINT, rho INT") as target:

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            sk.hll_build(batch_df, "token", (), p=10).write.insertInto(target)

        run_available_now(stream, _apply)
        merged = (
            spark.table(target)
            .groupBy("bucket")
            .agg(F.max("rho").alias("rho"))
        )
        est = sk.hll_estimate(merged, (), p=10)
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        exact = events.agg(
            F.countDistinct(F.col("user_id").cast("string"))
            .cast("bigint")
            .alias("exact_distinct")
        )
        return (
            exact.join(est, F.lit(True), "inner")
            .select(
                "exact_distinct",
                "v_zero",
                "harmonic_fp",
                "hll_estimate",
                F.when(
                    F.abs(F.col("hll_estimate") - F.col("exact_distinct"))
                    <= 0.10 * F.col("exact_distinct"),
                    1,
                )
                .otherwise(0)
                .cast("bigint")
                .alias("within_10pct"),
            )
            .localCheckpoint(eager=True)
        )


# --------------------------------------------------------------------------
# streaming Misra-Gries heavy hitters: log-structured like the CMS and
# HLL maintenance gates — each micro-batch appends its map-side-
# combined (item, partial_count) cells; the merge at read time is a
# plain SUM (batch-split INVARIANT, so the served summary is
# bit-identical to a batch build — unlike merging per-batch
# θ-compressions, whose error would depend on micro-batch boundaries);
# the MG θ-compression is the SERVING view over the summed counts.
# --------------------------------------------------------------------------
_STREAM_MG_ORACLE = """
WITH c AS (SELECT CAST(user_id AS VARCHAR) AS item,
                  CAST(COUNT(*) AS BIGINT) AS w
           FROM events GROUP BY 1),
topc AS (SELECT * FROM c ORDER BY w DESC, item LIMIT 33),
th AS (SELECT CAST(CASE WHEN COUNT(*) = 33 THEN MIN(w) ELSE 0 END AS BIGINT)
         AS th FROM topc),
sm AS (SELECT item, CAST(w - th AS BIGINT) AS w, th AS theta
       FROM topc, th WHERE w > th),
top10 AS (SELECT * FROM sm ORDER BY w DESC, item LIMIT 10)
SELECT s.item, s.w, s.theta, e.w AS exact_cnt,
       CAST(CASE WHEN e.w >= s.w THEN 1 ELSE 0 END AS BIGINT) AS lower_ok,
       CAST(CASE WHEN e.w <= s.w + s.theta THEN 1 ELSE 0 END AS BIGINT)
         AS upper_ok
FROM top10 s JOIN c e ON e.item = s.item
"""


@query("q_stream_mg_merge", oracle=_STREAM_MG_ORACLE)
@_restores_conf
def q_stream_mg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter users over the event stream: every micro-batch
    appends its own map-side-combined (item, count) partials to a
    catalog table; the live summary is SUM-merge + MG θ-compression
    (operators/sketch.py _mg_compress) at read time.  SUM is
    batch-split invariant, so the served top-10 — weights, θ, bounds
    — replays bit-exactly against the batch oracle no matter how the
    trigger carved micro-batches (appending per-batch θ-compressions
    instead would bound per-batch state by k but make θ depend on
    batch boundaries; documented trade-off)."""
    from ..operators import sketch as sk

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = _events_stream(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("item")
    )
    with _sink_table(spark, "mg", "item STRING, w BIGINT") as target:

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            (
                batch_df.groupBy("item")
                .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
                .write.insertInto(target)
            )

        run_available_now(stream, _apply)
        counts = (
            spark.table(target)
            .groupBy("item")
            .agg(F.sum("w").cast("bigint").alias("w"))
        )
        top10 = (
            sk._mg_compress(counts, k=32)
            .orderBy(F.col("w").desc(), F.col("item"))
            .limit(10)
        )
        return (
            F.broadcast(top10)
            .join(counts.withColumnRenamed("w", "exact_cnt"), "item")
            .select(
                "item",
                "w",
                "theta",
                "exact_cnt",
                F.when(F.col("exact_cnt") >= F.col("w"), 1)
                .otherwise(0)
                .cast("bigint")
                .alias("lower_ok"),
                F.when(
                    F.col("exact_cnt") <= F.col("w") + F.col("theta"), 1
                )
                .otherwise(0)
                .cast("bigint")
                .alias("upper_ok"),
            )
            .localCheckpoint(eager=True)
        )


# --------------------------------------------------------------------------
# streaming HDR-histogram quantiles: per-micro-batch log-bucket
# partials appended to a catalog table, cell-wise-summed at read time
# --------------------------------------------------------------------------
_STREAM_HDR_VALUE = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"

from ..operators.sketch import hdr_oracle_sql as _hdr_oracle  # noqa: E402

_STREAM_HDR_ORACLE = _hdr_oracle(
    _STREAM_HDR_VALUE, (50, 90, 99), table="events"
)


@query("q_stream_hdr_merge", oracle=_STREAM_HDR_ORACLE)
@_restores_conf
def q_stream_hdr_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-value percentiles over the stream: every micro-batch
    builds its own HDR log-histogram (operators/sketch.py hdr_build)
    and APPENDS the (bucket_id, cnt) cells to a catalog table; the
    live sketch is the per-bucket SUM at read time — the same
    log-structured mergeable-sketch serving shape as the HLL/CMS/MG
    gates, with bounded state (≤ 63·64 cells per batch) and no custom
    state store.  Cell-wise sum is exactly the batch build, so served
    p50/p90/p99 bounds replay bit-identically in the batch oracle."""
    from ..operators import sketch as sk

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = _events_stream(spark, sf_dir).select("value")
    with _sink_table(spark, "hdr", "bucket_id BIGINT, cnt BIGINT") as target:

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            sk.hdr_build(batch_df, _STREAM_HDR_VALUE).write.insertInto(target)

        run_available_now(stream, _apply)
        merged = (
            spark.table(target)
            .groupBy("bucket_id")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        )
        return sk.hdr_quantiles(merged, (50, 90, 99)).localCheckpoint(eager=True)


# --------------------------------------------------------------------------
# streaming CUSUM drift monitor: per-micro-batch hourly count partials
# appended to a catalog table; the served trajectory is windows over
# the SUM-merged series — identical to the batch monitor
# --------------------------------------------------------------------------
from ..queries.advanced import _CUSUM_ORACLE as _STREAM_CUSUM_ORACLE  # noqa: E402


@query("q_stream_cusum", oracle=_STREAM_CUSUM_ORACLE)
@_restores_conf
def q_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift monitoring as a log-structured stream job: each
    micro-batch appends its own (source, hour, count) partials —
    hourly counts merge by plain SUM, so the maintained series equals
    the batch series exactly, and the CUSUM serving pass (two windows
    over prefix sums, operators/selection.py) replays the batch
    trajectory bit-for-bit.  Bounded state: hours × sources rows per
    batch, no custom state store."""
    from ..operators.selection import cusum_serve

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = _events_stream(spark, sf_dir).select("event_type", "ts")
    with _sink_table(spark, "cusum", "g STRING, h TIMESTAMP_NTZ, c BIGINT") as target:

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            (
                batch_df.select(
                    F.col("event_type").alias("g"),
                    F.date_trunc("hour", F.col("ts"))
                    .cast("timestamp_ntz")
                    .alias("h"),
                )
                .groupBy("g", "h")
                .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
                .write.insertInto(target)
            )

        run_available_now(stream, _apply)
        merged = (
            spark.table(target)
            .groupBy("g", "h")
            .agg(F.sum("c").cast("bigint").alias("c"))
        )
        return cusum_serve(merged).localCheckpoint(eager=True)


# --------------------------------------------------------------------------
# streaming IMAGE admission control — new images arrive as a stream,
# fingerprint per row (mapInPandas on the stream: decode + dHash are
# row-local, no stream aggregation), probe the static corpus
# fingerprint index via broadcast, verify with exact Hamming, admit
# or reject.  The multimodal twin of q_stream_dedup_index.
# --------------------------------------------------------------------------
_STREAM_IMAGE_ORACLE = """
WITH px AS (
  SELECT doc_id, p % 18 AS x, p // 18 AS y,
         ((doc_id % 50) * 37
          + (p % 18) * (20 + 2 * (doc_id % 50))
          + (p // 18) * 23
          + 40 * CASE WHEN (doc_id * 31 + p) % 97 = 0 THEN 1 ELSE 0 END
         ) % 256 AS v
  FROM (SELECT doc_id, unnest(generate_series(0, 287)) AS p FROM documents)),
blk AS (
  SELECT doc_id, x // 2 AS bx, y // 2 AS by, SUM(v) // 4 AS m
  FROM px GROUP BY 1, 2, 3),
bits AS (
  SELECT a.doc_id, a.by * 8 + a.bx AS p,
         CASE WHEN a.m > b.m THEN 1 ELSE 0 END AS bit
  FROM blk a JOIN blk b
    ON a.doc_id = b.doc_id AND a.by = b.by AND b.bx = a.bx + 1
  WHERE a.bx < 8),
bands AS (
  SELECT doc_id, p // 16 AS band_idx,
         CAST(SUM(bit << (p % 16)) AS BIGINT) AS band_val
  FROM bits GROUP BY 1, 2),
h AS (
  SELECT doc_id,
         MAX(CASE WHEN band_idx = 0 THEN band_val END) AS band0,
         MAX(CASE WHEN band_idx = 1 THEN band_val END) AS band1,
         MAX(CASE WHEN band_idx = 2 THEN band_val END) AS band2,
         MAX(CASE WHEN band_idx = 3 THEN band_val END) AS band3
  FROM bands GROUP BY 1),
cand AS (
  SELECT a.doc_id AS new_doc_id, b.doc_id AS corpus_doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_shared_bands
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
  WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 != 0
  GROUP BY 1, 2),
ham AS (
  SELECT c.new_doc_id, c.corpus_doc_id, c.n_shared_bands,
         bit_count(xor(ha.band0, hb.band0))
       + bit_count(xor(ha.band1, hb.band1))
       + bit_count(xor(ha.band2, hb.band2))
       + bit_count(xor(ha.band3, hb.band3)) AS d
  FROM cand c
  JOIN h ha ON ha.doc_id = c.new_doc_id
  JOIN h hb ON hb.doc_id = c.corpus_doc_id)
SELECT new_doc_id, corpus_doc_id, n_shared_bands,
       CAST(d AS BIGINT) AS hamming
FROM ham WHERE d <= 8
"""


@query("q_stream_image_dedup", oracle=_STREAM_IMAGE_ORACLE)
@_restores_conf
def q_stream_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming image admission control: the new-image stream is
    fingerprinted PER ROW inside the stream (synth → decode → dHash
    via mapInPandas — row-local, so no stream state), band-probed
    against the static corpus fingerprint index via a broadcast
    stream-static join, and exact-Hamming verified (bit_count(xor) ≤
    8, also row-local post-join).  At 100 TB the corpus index is the
    persisted band table bucketed by (band_idx, band_val); stream
    state is bounded by matched pairs, never corpus size."""
    from ..operators import multimodal as mm
    from ..operators.dedup import hamming_neardup_pairs  # noqa: F401
    from ..operators.transform import materialize

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .filter(F.col("doc_id") % 7 == 0)
    )
    stream = _match_layout_parallelism(stream, spark, sf_dir)
    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") % 7 != 0
    )
    corpus_h = materialize(
        mm.bmp_dhash(mm.synth_table(corpus, "neardup_bmp"))
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"), F.col(f"band{i}").alias("band_val")
            )
            for i in range(4)
        ]
    )
    index = corpus_h.select(
        F.col("doc_id").alias("corpus_doc_id"),
        *[F.col(f"band{i}").alias(f"c_band{i}") for i in range(4)],
        F.explode(band_structs).alias("__b"),
    ).select(
        "corpus_doc_id", "c_band0", "c_band1", "c_band2", "c_band3",
        "__b.band_idx", "__b.band_val",
    )
    new_h = mm.bmp_dhash(mm.synth_table(stream, "neardup_bmp")).select(
        F.col("doc_id").alias("new_doc_id"),
        *[F.col(f"band{i}").alias(f"n_band{i}") for i in range(4)],
        F.explode(band_structs).alias("__b"),
    ).select(
        "new_doc_id", "n_band0", "n_band1", "n_band2", "n_band3",
        "__b.band_idx", "__b.band_val",
    )
    ham = " + ".join(f"bit_count(n_band{i} ^ c_band{i})" for i in range(4))
    # ONE stateful aggregation (streaming-complete-mode legal, same
    # shape as q_stream_dedup_index): per verified PAIR, the band-hit
    # count plus the exact distance.  The Hamming verify runs BELOW
    # the aggregate (row-local post-join), so the state key set is
    # the matched pairs and nothing else; the per-new-image rollup is
    # a stateless batch view over this table.
    hits = (
        new_h.join(F.broadcast(index), ["band_idx", "band_val"])
        .withColumn("__d", F.expr(ham).cast("bigint"))
        .filter(F.col("__d") <= 8)
        .groupBy("new_doc_id", "corpus_doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared_bands"),
            F.min("__d").cast("bigint").alias("hamming"),
        )
    )
    table, _ = run_available_now(hits, "image_dedup", "complete")
    return table


# --------------------------------------------------------------------------
# streaming BM25 serving — full-text search joins the streaming
# serving family (IVF routing, PQ-ADC, image admission): queries
# STREAM against the static inverted index; per-query cost is the
# matching posting lists, stream state is one row per open query
# --------------------------------------------------------------------------
_STREAM_BM25_ORACLE = """
WITH corpus AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
tok AS (
  SELECT doc_id, t FROM corpus, unnest(string_split(text, ' ')) AS u(t)
  WHERE t <> ''),
postings AS (
  SELECT t AS term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY 1, 2),
dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS dfc FROM postings GROUP BY 1),
dl AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS dl
  FROM corpus),
gstats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS av
  FROM dl),
queries AS (
  SELECT doc_id AS query_id,
         unnest(list_distinct(list_filter(string_split(text, ' '),
                x -> x <> '')[1:3])) AS term
  FROM documents WHERE doc_id % 97 = 0),
sc AS (
  SELECT q.query_id, p.doc_id,
         CAST(SUM((CAST(1000000 AS HUGEINT) * (2 * (n - dfc) + 1)
                   * 22 * tf * av)
              // (CAST(2 * dfc + 1 AS HUGEINT)
                  * (10 * av * tf + 3 * av + 9 * dl.dl * n))) AS BIGINT)
           AS score_q
  FROM queries q
  JOIN postings p USING (term)
  JOIN dfq USING (term)
  JOIN dl ON dl.doc_id = p.doc_id
  CROSS JOIN gstats
  GROUP BY 1, 2)
SELECT query_id, doc_id, score_q FROM (
  SELECT query_id, doc_id, score_q,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score_q DESC, doc_id) AS rn
  FROM sc) t WHERE rn = 1
"""


@query("q_stream_bm25_serve", oracle=_STREAM_BM25_ORACLE)
@_restores_conf
def q_stream_bm25_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming BM25 serving over the static inverted index (X5
    retrieval composed with X12): documents with doc_id % 97 == 0
    arrive as a query STREAM (each queries with its first three
    distinct tokens); the rest are the batch-built corpus behind
    bm25_index.  Per micro-batch the query terms explode stateless,
    probe the broadcast postings (document lengths ride inside the
    posting rows — the corpus is never rescanned at query time; at
    100 TB the postings side is the term-bucketed table and the
    probe prunes to the query terms' buckets), score with the exact
    quantized BM25 contract, and maintain per-(query, candidate)
    score sums as the stream's single complete-mode aggregation
    (state is bounded by matched posting rows per open query); the
    per-query argmax reads the result table batch-side, like the
    countmin-merge gate's serving read."""
    from ..operators.text import bm25_index
    from ..operators.transform import materialize

    spark.conf.set("spark.sql.shuffle.partitions", "8")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    postings, term_stats, gstats = bm25_index(corpus)
    postings = materialize(postings)  # dl rides inside each posting
    term_stats = materialize(term_stats)
    toks = "filter(split(text, ' '), x -> x <> '')"
    g = gstats.collect()[0]
    n_docs, av = int(g["n"]), int(g["av"])
    schema = docs.schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .filter(F.col("doc_id") % 97 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(
                F.expr(f"array_distinct(slice({toks}, 1, 3))")
            ).alias("term"),
        )
    )
    num = (
        f"CAST(1000000 AS DECIMAL(38,0))"
        f" * (2 * ({n_docs} - df) + 1) * 22 * tf * {av}"
    )
    den = (
        "CAST(2 * df + 1 AS DECIMAL(38,0))"
        f" * (10 * {av} * tf + 3 * {av} + 9 * dl * {n_docs})"
    )
    # the STREAM carries the single allowed aggregation (per-query,
    # per-candidate score sums — complete mode forbids chaining a
    # second agg); the per-query argmax runs batch-side on the
    # result table, like the countmin-merge gate's serving read
    scored = (
        stream.join(F.broadcast(postings), "term")
        .join(F.broadcast(term_stats), "term")
        .select(
            "query_id",
            "doc_id",
            F.expr(f"({num}) DIV ({den})").cast("bigint").alias("__s"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("__s").cast("bigint").alias("score_q"))
    )
    table, _ = run_available_now(scored, "bm25", "complete")
    return (
        table
        .groupBy("query_id")
        .agg(
            F.max(
                F.struct(
                    F.col("score_q"), (-F.col("doc_id")).alias("__nd")
                )
            ).alias("__b")
        )
        .select(
            "query_id",
            (-F.col("__b.__nd")).cast("bigint").alias("doc_id"),
            F.col("__b.score_q").alias("score_q"),
        )
    )


# --------------------------------------------------------------------------
# streaming DSIR admission scoring — the ingest-time twin of samp_dsir:
# the importance-weight table is batch-built once (constant-size bucket
# histograms), then every STREAMED raw document scores itself
# row-locally against the literal weight array — one higher-order
# aggregate over its own grams, no stream state, no shuffle.  The
# production shape: target-likeness scoring as an admission filter at
# ingest, selection thresholds applied downstream.
# --------------------------------------------------------------------------
def _stream_dsir_oracle() -> str:
    from .curation import _DSIR_ORACLE

    return _DSIR_ORACLE


@query("q_stream_dsir", oracle=_stream_dsir_oracle())
@_restores_conf
def q_stream_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DSIR importance scoring over the static weight
    table.  The <= 1024 integer bucket weights are computed
    batch-side from the target (lang = 'en') and raw (other-language)
    corpora — the control-plane build — and folded into the streaming
    plan as ONE literal BIGINT array; each streamed raw document then
    scores itself with a single row-local higher-order aggregate over
    its own unigram+bigram stream (md5 bucket → array lookup → sum).
    Stateless narrow map, append mode; the top-20 + rank read of the
    result table is batch-side (the q_stream_bm25_serve convention).
    SAME oracle as samp_dsir: batch plan, streaming plan, and DuckDB
    replay — one bit-exact answer.  At 100 TB the weight array is
    8 KB broadcast to every ingest worker; per-document cost is its
    own gram count — the fastText-style admission-filter economics."""
    from pyspark.sql.window import Window

    spark.conf.set("spark.sql.shuffle.partitions", "8")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    B, scale = 1024, 10**6
    bucket_of = (
        "pmod(CAST(conv(substr(md5({g}), 1, 12), 16, 10) AS BIGINT),"
        f" {B})"
    )
    toks = "filter(split(text, ' '), x -> x <> '')"
    grams = (
        f"concat({toks}, transform("
        f"slice(sequence(1, size({toks}) + 1), 1,"
        f" greatest(size({toks}) - 1, 0)),"
        f" i -> concat(element_at({toks}, i), ' ',"
        f" element_at({toks}, i + 1))))"
    )

    def _hist(df) -> dict[int, int]:
        rows = (
            df.select(F.explode(F.expr(grams)).alias("g"))
            .select(F.expr(bucket_of.format(g="g")).alias("b"))
            .groupBy("b")
            .count()
            .collect()
        )
        return {int(r["b"]): int(r["count"]) for r in rows}

    t_h = _hist(docs.filter(F.col("lang") == "en"))
    r_h = _hist(docs.filter(F.col("lang") != "en"))
    T_, R_ = sum(t_h.values()), sum(r_h.values())
    w_arr = [
        scale * (t_h.get(b, 0) + 1) * (R_ + B)
        // ((r_h.get(b, 0) + 1) * (T_ + B))
        - scale
        for b in range(B)
    ]
    # the 1024 weights ride as ONE ArrayType literal column (F.lit)
    # referenced by name — the spliced "array(..L, ..)" string cost
    # ~0.5-1 s of driver parse/analysis per plan (and streaming plans
    # re-analyze per micro-batch); arithmetic identical.
    score = (
        f"aggregate({grams}, CAST(0 AS BIGINT), (acc, g) -> acc"
        f" + element_at(__w,"
        f" CAST({bucket_of.format(g='g')} AS INT) + 1))"
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .filter(F.col("lang") != "en")
    )
    stream = _match_layout_parallelism(stream, spark, sf_dir)
    stream = (
        stream.withColumn("__w", lit_long_array(w_arr))
        .select(
            "doc_id",
            F.expr(score).alias("dsir_score"),
        )
    )
    table, _ = run_available_now(stream, "dsir")
    w = Window.orderBy(F.desc("dsir_score"), F.asc("doc_id"))
    return (
        table
        .orderBy(F.desc("dsir_score"), F.asc("doc_id"))
        .limit(20)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
    )


# --------------------------------------------------------------------------
# streaming LEARNED-classifier serving — the deployment twin of
# text_lr_train: the quantized-LR weight table is TRAINED batch-side
# (the full 12-iteration GD loop), folded into the streaming plan as
# a literal array, and every streamed document scores itself
# row-locally through the serving path — a stateless narrow map in
# append mode, the ingest-time quality-filter shape (train offline,
# filter the firehose).  Oracle: the SAME unrolled GD chain as
# text_lr_train, projected to the serving columns.
# --------------------------------------------------------------------------
def _stream_lr_oracle() -> str:
    from ..operators import training as tr

    return (
        "SELECT doc_id, z_scaled, pred_label FROM ("
        + tr.lr_unrolled_oracle_sql()
        + ") base"
    )


@query("q_stream_lr_serve", oracle=_stream_lr_oracle())
@_restores_conf
def q_stream_lr_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantized-LR serving over a batch-trained model.

    ``training.lr_train`` fits the classifier on the static corpus
    (persisted feature frame, 12 control-plane GD iterations); the
    learned ≤1025-BIGINT weight table folds into the streaming plan
    via ``text.quality_classifier_serve``'s broadcast-literal array,
    so each streamed document scores itself with one higher-order
    aggregate over its own tokens — no stream state, no shuffle,
    append mode.  Bit-exact against the text_lr_train oracle's final
    scoring CTEs."""
    from ..operators import training as tr
    from ..operators.text import quality_classifier_serve

    spark.conf.set("spark.sql.shuffle.partitions", "8")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    W = tr.lr_train(docs)
    weights = [W.get(b, 0) for b in range(1024)]
    stream = (
        spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    stream = _match_layout_parallelism(stream, spark, sf_dir)
    scored = quality_classifier_serve(
        stream, weights, bias=W.get(-1, 0), n_buckets=1024
    )
    table, _ = run_available_now(scored, "lr")
    return table


# --------------------------------------------------------------------------
# streaming HTML extraction — the ingest front door as a stream: raw
# markup arrives, the density-based boilerplate strip runs as ONE
# stateless narrow projection per document (the same dual-dialect
# expression pipeline as text_html_extract), append mode, no state.
# --------------------------------------------------------------------------
def _stream_html_oracle() -> str:
    from .pipeline_ops import _html_extract_oracle

    return _html_extract_oracle()


@query("q_stream_html_extract", oracle=_stream_html_oracle())
@_restores_conf
def q_stream_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HTML-to-text extraction: the synthetic crawler pages
    are built row-locally from the streamed documents and the whole
    extraction cascade (script/style strip, block segmentation,
    link-density keep rule, entity decode) runs inside the same
    narrow projection — zero stream state, zero shuffles.  SAME
    oracle as the batch gate: batch plan, streaming plan, and DuckDB
    replay pin one answer."""
    from ..operators import extraction as ex

    spark.conf.set("spark.sql.shuffle.partitions", "8")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = _match_layout_parallelism(
        spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir),
        spark, sf_dir,
    )
    pages = stream.select(
        "doc_id",
        F.expr(ex.synth_html_expr("text", "doc_id", "spark")).alias("html"),
    )
    out = ex.html_extract(pages)
    table, _ = run_available_now(out, "html")
    return table


def _stream_html_dirty_oracle() -> str:
    from .pipeline_ops import _html_extract_dirty_oracle

    return _html_extract_dirty_oracle()


@query("q_stream_html_extract_dirty", oracle=_stream_html_dirty_oracle())
@_restores_conf
def q_stream_html_extract_dirty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of text_html_extract_dirty: the MESSY fixture
    pages (quoted-'>' attributes, unclosed tags, body CDATA, numeric
    character references, truncated tails) stream through the
    hardened cascade — still one stateless narrow projection, zero
    stream state, zero shuffles; the numeric-ref decode is row-local
    string algebra so it composes into the same plan.  SAME oracle as
    the batch gate."""
    from ..operators import extraction as ex

    spark.conf.set("spark.sql.shuffle.partitions", "8")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = _match_layout_parallelism(
        spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir),
        spark, sf_dir,
    )
    pages = stream.select(
        "doc_id",
        F.expr(
            ex.synth_html_dirty_expr("text", "doc_id", "spark")
        ).alias("html"),
    )
    out = ex.html_extract(pages, dirty=True)
    table, _ = run_available_now(out, "htmld")
    return table


# --------------------------------------------------------------------------
# streaming unigram-LM tokenizer serving — the trained vocabulary
# folds into the streaming plan as a broadcast map literal and every
# streamed document segments its own tokens ROW-LOCALLY (per word:
# both Viterbi DPs + the on-path piece extraction inside one
# projection) — zero stream state, zero shuffles, append mode.
# --------------------------------------------------------------------------
def _stream_unigram_oracle() -> str:
    from ..operators import text as tx

    return tx.unigram_tokenize_oracle_sql(unsegmented=True)


@query("q_stream_unigram_serve", oracle=_stream_unigram_oracle())
@_restores_conf
def q_stream_unigram_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming unigram-LM tokenization over a batch-trained
    vocabulary (round 12 — the streaming twin of
    text_unigram_tokenize): ``text._ulm_fit`` trains on the static
    corpus (control-plane vocab), then each streamed document
    segments row-locally under the broadcast vocab→neg_q map literal
    via the same unique-optimum Viterbi arithmetic — batch join path,
    row-local streaming path, and the unrolled DuckDB oracle pin ONE
    answer."""
    from ..operators import text as tx

    spark.conf.set("spark.sql.shuffle.partitions", "8")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words, _c2, neg2 = tx._ulm_fit(docs, "text", 12, 4, 48, 24)
    words.unpersist()
    stream = _match_layout_parallelism(
        spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir),
        spark, sf_dir,
    )
    out = tx.unigram_tokenize_serve(stream, neg2)
    table, _ = run_available_now(out, "ulm")
    return table


# --------------------------------------------------------------------------
# streaming FUNNEL ADMISSION — the whole ingest-side curation funnel
# (langid + Gopher quality + LSH-dedup probe + PII scrub + DSIR
# admission threshold) composed into ONE stateless per-document
# streaming decision: every probe is a broadcast artifact built
# batch-side from the corpus (the band index, the DSIR weight array,
# the selection cutoff pair), so the stream never aggregates and
# never shuffles — the production ingest shape of the batch funnel
# in example_pipeline/.  Exact-8-gram decontamination stays a
# BATCH/compaction-time stage by design (it needs the full eval
# shingle set; production pipelines apply it at compaction) — the
# admitted set equals the funnel's quality ∩ dedup-survivor ∩
# (target-lang ∪ DSIR-selected-by-cutoff) mix on non-eval docs, and
# the oracle replays these exact stream semantics (batch DSIR
# weights included) end to end.
# --------------------------------------------------------------------------
_ADM_STAMP = (
    "concat(text, ' contact user', CAST(doc_id AS STRING),"
    " '@mail.example or call +1-555-',"
    " lpad(CAST(doc_id % 10000 AS STRING), 4, '0'))"
)
_ADM_SCRUB = (
    "regexp_replace(regexp_replace(t2,"
    " '[A-Za-z0-9._]+@[A-Za-z0-9.-]+', '<EMAIL>'),"
    " '\\\\+1-555-[0-9]{4}', '<PHONE>')"
)


def _adm_enrich(df: DataFrame):
    """Row-local funnel signals over (doc_id, text, lang): the
    bronze PII stamp, the silver_signals quality signals, the
    predicted language, the four MinHash band keys (array_min over
    the shingle transform == the batch MIN-over-exploded-shingles),
    and the scrubbed text — every expression the model SQL uses,
    computed per row so the SAME helper serves the batch control
    plane and the stream.

    The token and shingle ARRAYS are staged as columns so they
    compute once per document: Catalyst keeps non-cheap multi-use
    aliases staged (CollapseProject), and without this every signal
    re-split the text (~15x) and every minhash re-built the shingle
    list (8x) — the dominant cost of the first cut of this gate."""
    df = df.withColumn("t2", F.expr(_ADM_STAMP)).withColumn(
        "tk_arr", F.expr("split(t2, ' ')")
    )
    tk = "tk_arr"
    df = (
        df.withColumn("n_tokens", F.expr(f"CAST(size({tk}) AS BIGINT)"))
        .withColumn(
            "sum_token_len",
            F.expr(
                f"aggregate({tk}, CAST(0 AS BIGINT),"
                " (acc, x) -> acc + length(x))"
            ),
        )
        .withColumn(
            "n_alpha_words",
            F.expr(
                f"CAST(size(filter({tk}, x -> x rlike '[a-zA-Z]'))"
                " AS BIGINT)"
            ),
        )
        .withColumn(
            "n_symbols",
            F.expr(
                "CAST(size(regexp_extract_all(t2, '#', 0))"
                " + size(regexp_extract_all(t2, '\\\\.\\\\.\\\\.', 0))"
                " AS BIGINT)"
            ),
        )
    )
    for col, words in (
        ("n_stop_en", "'the','a','and','of','to','is'"),
        ("n_stop_de", "'der','die','das','und','ist','ein'"),
        ("n_stop_es", "'el','la','los','y','es','un'"),
    ):
        df = df.withColumn(
            col,
            F.expr(
                f"CAST(size(filter({tk},"
                f" x -> array_contains(array({words}), x))) AS BIGINT)"
            ),
        )
    df = df.withColumn(
        "quality",
        F.expr(
            "n_tokens > 0"
            " AND CAST(sum_token_len AS DOUBLE) / n_tokens >= 3.0"
            " AND CAST(sum_token_len AS DOUBLE) / n_tokens <= 10.0"
            " AND CAST(n_symbols AS DOUBLE) / n_tokens < 0.1"
            " AND CAST(n_alpha_words AS DOUBLE) / n_tokens >= 0.8"
            " AND n_stop_en >= 2"
        ),
    ).withColumn(
        "predicted_lang",
        F.expr(
            "CASE WHEN n_stop_en >= greatest(n_stop_de, n_stop_es)"
            " AND n_stop_en > 0 THEN 'en'"
            " WHEN n_stop_de >= n_stop_es AND n_stop_de > 0 THEN 'de'"
            " WHEN n_stop_es > 0 THEN 'es' ELSE 'unknown' END"
        ),
    )
    df = df.withColumn(
        "shg_arr",
        F.expr(
            f"IF(size({tk}) >= 3, transform(sequence(1, size({tk}) - 2),"
            f" i -> concat_ws(' ', element_at({tk}, i),"
            f" element_at({tk}, i + 1), element_at({tk}, i + 2))),"
            " CAST(NULL AS ARRAY<STRING>))"
        ),
    )
    for i in range(8):
        df = df.withColumn(
            f"m{i}",
            F.expr(
                f"array_min(transform(shg_arr,"
                f" s -> md5(concat('{i}:', s))))"
            ),
        )
    for b in range(4):
        df = df.withColumn(
            f"bkey{b}", F.expr(f"md5(concat(m{2 * b}, m{2 * b + 1}))")
        )
    return df.withColumn("sc_text", F.expr(_ADM_SCRUB))


def _adm_dedup_pass(df: DataFrame, indexes: list) -> DataFrame:
    """Probe the four static band indexes (broadcast stream-static
    left joins) and keep docs no band bucket of which holds a
    smaller doc_id — the batch greedy keep-smallest rule, row-local
    on the stream side.  ``indexes`` is the one-element list holding
    the combined (band, bkey, min_id) index; each band's probe is a
    band filter over it."""
    combined = indexes[0]
    for b in range(4):
        idx = combined.filter(F.col("band") == b).select(
            F.col("bkey").alias(f"ibk{b}"), F.col("min_id").alias(f"min{b}")
        )
        df = df.join(
            F.broadcast(idx), df[f"bkey{b}"] == idx[f"ibk{b}"], "left"
        )
    cond = " AND ".join(
        f"COALESCE(min{b} >= doc_id, true)" for b in range(4)
    )
    return df.filter(F.expr(cond))


def _stream_admission_oracle() -> str:
    from .framework_semantics import _FUNNEL_PREFIX

    B, scale = 1024, 10**6
    return _FUNNEL_PREFIX + f"""
,cutoff AS (
  SELECT dsir_score AS cs, doc_id AS cd FROM (
    SELECT doc_id, dsir_score,
           ROW_NUMBER() OVER (ORDER BY dsir_score DESC, doc_id) AS rnk,
           COUNT(*) OVER () AS ntot
    FROM sc) t
  WHERE rnk = LEAST(50, ntot)),
sq AS MATERIALIZED (SELECT s.doc_id, s.lang, s.n_tokens, s.text FROM scrubbed s
       WHERE s.doc_id % 20 <> 0),
stk AS MATERIALIZED (SELECT doc_id, list_filter(string_split(text, ' '),
               x -> x <> '') AS tk FROM sq WHERE lang <> 'en'),
sg AS (SELECT doc_id, tk[i] AS gram
       FROM stk, unnest(generate_series(1, len(tk))) AS u(i)
       UNION ALL
       SELECT doc_id, tk[i] || ' ' || tk[i+1]
       FROM stk, unnest(generate_series(1, len(tk) - 1)) AS u(i)),
sbk AS (SELECT doc_id,
               CAST(('0x' || substr(md5(gram), 1, 12)) AS BIGINT) % {B}
               AS bucket FROM sg),
ssc AS (SELECT s.doc_id,
               CAST(SUM(COALESCE(w.w_b,
                 CAST({scale} * (tot.rt + {B}) // (tot.tt + {B})
                      - {scale} AS BIGINT))) AS BIGINT) AS score
        FROM sbk s LEFT JOIN wts w USING (bucket), tot
        GROUP BY 1),
adm AS (
  SELECT doc_id, lang, n_tokens, 'target' AS admitted_via
  FROM sq WHERE lang = 'en'
  UNION ALL
  SELECT q.doc_id, q.lang, q.n_tokens, 'dsir'
  FROM sq q JOIN ssc ON q.doc_id = ssc.doc_id, cutoff
  WHERE q.lang <> 'en'
    AND (ssc.score > cutoff.cs
         OR (ssc.score = cutoff.cs AND q.doc_id <= cutoff.cd)))
SELECT a.doc_id, a.lang, a.n_tokens,
       CASE WHEN g.n_stop_en >= greatest(g.n_stop_de, g.n_stop_es)
                 AND g.n_stop_en > 0 THEN 'en'
            WHEN g.n_stop_de >= g.n_stop_es AND g.n_stop_de > 0
                 THEN 'de'
            WHEN g.n_stop_es > 0 THEN 'es'
            ELSE 'unknown' END AS predicted_lang,
       a.admitted_via
FROM adm a JOIN signals g ON a.doc_id = g.doc_id
ORDER BY a.doc_id
"""


@query("q_stream_funnel_admission", oracle=_stream_admission_oracle())
@_restores_conf
def q_stream_funnel_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming funnel admission (round 13 — r12-verdict item 7):
    every streamed document is admitted or dropped by ONE stateless
    projection plus broadcast probes, composing the batch funnel's
    gate stages in ingest order:

    1. bronze PII stamp + silver_signals quality signals + langid —
       pure row-local expressions (the model SQL formulas verbatim,
       shared via ``_adm_enrich`` with the batch control plane);
    2. MinHash-LSH dedup probe — four band keys computed row-locally
       (array_min over the shingle transform), probed against the
       quality-survivor band index via broadcast stream-static left
       joins; a doc drops iff any bucket holds a smaller doc_id
       (the batch greedy keep-smallest rule);
    3. PII scrub (row-local regexps) feeding
    4. DSIR admission — the weight table and the top-k cutoff pair
       (score, doc_id) are batch-built from the decontaminated
       corpus and folded in as literals; each doc scores its own
       unigram+bigram stream and passes iff it would have made the
       batch top-k (tie-exact pair compare).

    Eval stand-ins (doc_id % 20 == 0) are excluded row-locally;
    exact-8-gram decontamination is deliberately NOT in the stream —
    it is a batch/compaction-time stage (needs the full eval shingle
    set) — and the oracle replays the stream semantics exactly, so
    the gate pins: admitted = quality ∩ dedup-survivor ∩ non-eval ∩
    (target-lang ∪ cutoff-passing), with scores from the REAL batch
    funnel's decontam-trained weights.  At 100 TB: the band index is
    the persisted LSH table (broadcast or bucket-joined), the weight
    array is 8 KB, the cutoff is two integers — per-doc cost is the
    doc's own token count, zero stream state."""
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    indexes, score, cs, cd = _adm_batch_artifacts(spark, docs)
    try:
        stream_schema = spark.read.parquet(
            f"{sf_dir}/documents.parquet"
        ).schema
        stream = _match_layout_parallelism(
            spark.readStream.schema(stream_schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
            .select("doc_id", "text", "lang"),
            spark, sf_dir,
        )
        admitted = _adm_stream_admitted(stream, indexes, score, cs, cd)
        table, _ = run_available_now(admitted, "adm")
        return table
    finally:
        for ix in indexes:
            ix.unpersist()


def _adm_batch_artifacts(spark: SparkSession, docs: DataFrame):
    """Build the admission gate's batch control plane from the raw
    corpus: the four quality-survivor band indexes (returned
    PERSISTED and materialized — the caller unpersists them when the
    stream finishes), the DSIR score expression with the trained
    weight array folded in as an 8 KB literal, and the top-k cutoff
    pair.  Factored out of the gate (round 14) so scaling_sweep.py
    can build FIXED artifacts once and sweep only the streamed slice
    — at 100 TB this split IS the deployment shape: artifacts
    rebuild per compaction window, the stream pays per-doc row-local
    cost only."""
    B, scale = 1024, 10**6
    bucket_of = (
        "pmod(CAST(conv(substr(md5({g}), 1, 12), 16, 10) AS BIGINT),"
        f" {B})"
    )
    tk2 = "filter(split(sc_text, ' '), x -> x <> '')"
    grams = (
        f"concat({tk2}, transform("
        f"slice(sequence(1, size({tk2}) + 1), 1,"
        f" greatest(size({tk2}) - 1, 0)),"
        f" i -> concat(element_at({tk2}, i), ' ',"
        f" element_at({tk2}, i + 1))))"
    )
    # scale-adaptive parallelism (guide §2/§6): the fixture corpus is
    # one tiny parquet file, so the scan yields ONE task and the whole
    # control-plane build (enrich materialization + every cache-backed
    # job below) ran single-threaded on a 32-core host.  Repartition
    # ONLY when the scan has fewer splits than cores — at production
    # scale the scan already has >= cores splits and this is a no-op,
    # so no corpus-sized shuffle is added at 100 TB.
    try:
        target = spark.sparkContext.defaultParallelism
        if docs.rdd.getNumPartitions() < target:
            docs = docs.repartition(target)
    except Exception:
        pass
    # cache ONLY the columns the control plane consumes (guide §2.3
    # "project before the exchange", applied to the cache): the full
    # enrich carries the staged token/shingle/minhash ARRAYS
    # (tk_arr, shg_arr, m0..m7 — hundreds of strings per row), and
    # materializing those into the columnar cache dominated the
    # control-plane build; every downstream job then re-scanned the
    # fat cache.  The narrow projection keeps the same values for
    # every consumed column.
    enriched = (
        _adm_enrich(docs)
        .select(
            "doc_id", "lang", "quality", "n_tokens", "t2", "sc_text",
            "bkey0", "bkey1", "bkey2", "bkey3",
        )
        .persist()
    )
    survivors = None
    try:
        qual = enriched.filter("quality")
        # ALL FOUR band indexes from ONE pass over the enrich cache
        # (round 15 continuation): the former per-band groupBy ran 4
        # build jobs + 4 materialization counts; posexplode emits the
        # (band, bkey) pairs once and a single grouped aggregate holds
        # every band's min — identical per-band content (min over the
        # same groups; NULL bkeys dropped as before).  Returned as a
        # one-element list; _adm_dedup_pass derives the four broadcast
        # probes by band filter.
        combined = (
            qual.select(
                "doc_id",
                F.posexplode(
                    F.array("bkey0", "bkey1", "bkey2", "bkey3")
                ).alias("band", "bkey"),
            )
            .filter(F.col("bkey").isNotNull())
            .groupBy("band", "bkey")
            .agg(F.min("doc_id").alias("min_id"))
            .persist()
        )
        # materialize while the enrich cache is hot — it outlives
        # this function as the stream's broadcast probe source
        combined.count()
        indexes = [combined]
        survivors = _adm_dedup_pass(qual, indexes).select(
            "doc_id", "lang", "n_tokens", "t2", "sc_text"
        ).persist()
        # decontam (batch-side by design): eval 8-grams from the
        # STAMPED text, training 8-grams from the SCRUBBED text.
        # Only the broadcast (bench) side needs a DISTINCT — the
        # probe side's duplicate shingles collapse in the
        # distinct-doc hit set anyway, and dropping that corpus-wide
        # (doc, shingle) shuffle is the cheapest 100-TB win here.
        def _g8(df, col, dedup):
            t = f"split({col}, ' ')"
            g8 = (
                f"IF(size({t}) >= 8, transform(sequence(1, size({t}) - 7),"
                f" i -> concat_ws(' ', "
                + ", ".join(f"element_at({t}, i + {k})" for k in range(8))
                + ")), CAST(NULL AS ARRAY<STRING>))"
            )
            out = df.select(
                "doc_id", F.explode(F.expr(g8)).alias("shingle")
            )
            return out.distinct() if dedup else out

        bench = (
            _g8(enriched.filter("doc_id % 20 = 0"), "t2", dedup=True)
            .select("shingle").distinct()
        )
        tr = survivors.filter("doc_id % 20 != 0")
        hits = (
            _g8(tr, "sc_text", dedup=False)
            .join(F.broadcast(bench), "shingle")
            .select("doc_id").distinct()
        )
        # persisted: BOTH remaining control-plane jobs (the gram
        # histograms and the top-k cutoff) read decon, and without
        # the cache the 8-gram explode + broadcast-probe hits chain
        # re-derives per job (round 15 continuation)
        decon = tr.join(hits, "doc_id", "left_anti").persist()

        # both DSIR histograms in ONE pass over the exploded grams
        # (keyed by target-membership) instead of two corpus scans
        t_h: dict[int, int] = {}
        r_h: dict[int, int] = {}
        for r in (
            decon.withColumn("g", F.explode(F.expr(grams)))
            .select(
                F.expr("lang = 'en'").alias("tgt"),
                F.expr(bucket_of.format(g="g")).alias("b"),
            )
            .groupBy("tgt", "b").count().collect()
        ):
            (t_h if r["tgt"] else r_h)[int(r["b"])] = int(r["count"])
        T_, R_ = sum(t_h.values()), sum(r_h.values())
        w_arr = [
            scale * (t_h.get(b, 0) + 1) * (R_ + B)
            // ((r_h.get(b, 0) + 1) * (T_ + B))
            - scale
            for b in range(B)
        ]
        # the 1024 weights ride as ONE ArrayType literal column
        # (F.lit, staged as __w by each consumer) instead of a spliced
        # "array(..L, ..)" string: the string form cost ~0.5-1 s of
        # driver parse/analysis PER PLAN — and this expression is
        # planned at least twice (batch top-k + the streaming side,
        # which re-analyzes per micro-batch).  Arithmetic identical.
        score_sql = (
            f"aggregate({grams}, CAST(0 AS BIGINT), (acc, g) -> acc"
            f" + element_at(__w,"
            f" CAST({bucket_of.format(g='g')} AS INT) + 1))"
        )
        score = (score_sql, w_arr)
        top = (
            decon.filter("lang != 'en'")
            .withColumn("__w", lit_long_array(w_arr))
            .select("doc_id", F.expr(score_sql).alias("s"))
            .orderBy(F.desc("s"), F.asc("doc_id"))
            .limit(50)
            .collect()
        )
        if top:
            cs, cd = int(top[-1]["s"]), int(top[-1]["doc_id"])
        else:  # nothing scored: admit no dsir docs
            cs, cd = (1 << 62), -1
        decon.unpersist()
        return indexes, score, cs, cd
    finally:
        enriched.unpersist()
        if survivors is not None:
            survivors.unpersist()


def _adm_stream_admitted(
    stream: DataFrame, indexes: list, score, cs: int, cd: int
) -> DataFrame:
    """The stream side of the admission gate: ONE stateless enrich
    projection + four broadcast band-index probes + the row-local
    DSIR score/cutoff compare — shared by the gate and the
    stream-slice scaling sweep.  ``score`` is the
    (score_sql, weight_array) pair from _adm_batch_artifacts; the
    weights are staged as the __w literal column the SQL reads."""
    score_sql, w_arr = score
    # __nb/__nb2 are PUSHDOWN FENCES (always-true predicates over a
    # nondeterministic-flagged trivial column): without them the
    # optimizer pushes the quality and cutoff filters below the
    # staged projections, substituting the aliases — the full signal
    # set and the DSIR score aggregate get re-derived from raw text
    # inside scan-level Filter nodes (measured: the admission plan
    # carried 28 split()/20 regexp_replace sites and ran 4.2x slower;
    # the optimizer guide's duplicated-evaluation trap, §4.4, in its
    # JVM-expression form).  spark_partition_id() >= 0 is always true,
    # so row values are untouched — oracle-verified identical.
    st = _adm_enrich(stream).withColumn("__nb", F.spark_partition_id())
    st = st.filter("quality AND doc_id % 20 != 0 AND __nb >= 0")
    st = _adm_dedup_pass(st, indexes)
    st = st.withColumn("__w", lit_long_array(w_arr))
    st = (
        st.withColumn("s", F.expr(score_sql))
        .withColumn("__nb2", F.spark_partition_id())
    )
    return st.filter(
        f"(lang = 'en' OR s > {cs}L"
        f" OR (s = {cs}L AND doc_id <= {cd}L)) AND __nb2 >= 0"
    ).select(
        "doc_id", "lang", "n_tokens", "predicted_lang",
        F.expr("IF(lang = 'en', 'target', 'dsir')").alias(
            "admitted_via"
        ),
    )
