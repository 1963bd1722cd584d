"""Structured-Streaming windowed aggregation with event-time watermark.

q57 runs a REAL streaming query (file source → watermark → tumbling
window → append-mode memory sink, ``Trigger.AvailableNow``) and returns
the emitted result as a batch DataFrame, so the driver gate can
hash-compare it against a DuckDB oracle.  Append mode + watermark means
only windows finalized by the final watermark (max event time − 1 h) are
emitted — the oracle reproduces exactly that set, proving the streaming
semantics (late-data bound, state finalization), not just the arithmetic.

Scale design: this is the canonical unbounded-ingest plan — per-window
state is bounded by the watermark (state store evicts finalized windows),
partial aggregation happens map-side before the shuffle on
(window, event_type), and the same code runs untouched against a Kafka
or file-landing source on a real cluster.  The reference's closest
surface is its batch scheduler loop (``src/scheduler.py:17-131``);
this replaces polling with exactly-once streaming semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming._drain import drain_available_now

_EVENTS = {"pathGlobFilter": "events.parquet"}


def q57_streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event rollup emitted by an append-mode streaming query.

    Windows still open at end-of-stream (end > max(ts) − 1 h watermark)
    are correctly withheld — asserting on the emitted set IS asserting
    the watermark semantics.
    """

    def rollup(src: DataFrame) -> DataFrame:
        # Watermarks require an instant (TIMESTAMP) column; the testdata
        # `ts` is TIMESTAMP_NTZ.  Under the runner's UTC pin the
        # NTZ→instant→NTZ round-trip is the identity and window
        # boundaries align with DuckDB's naive hour buckets; the memory
        # sink holds the materialized NTZ results, which collect
        # timezone-free.
        src = src.withColumn("ts", F.col("ts").cast("timestamp"))
        return (
            src.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
            .select(
                F.col("win.start").cast("timestamp_ntz").alias("window_start"),
                "event_type",
                "n_events",
                "sum_value",
            )
        )

    # The file streaming source wants a directory to watch; the glob
    # scopes it to the events file (in production this is the landing
    # directory and the filter matches the table's file pattern).
    _, emitted = drain_available_now(
        spark, sf_dir, rollup, memory_view="q57_mem_", options=_EVENTS
    )
    return emitted.orderBy("window_start", "event_type")


def q64_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-sessionization by the CUSTOM STATEFUL operator
    (``streaming.sessions.sessionize_events``, ``applyInPandasWithState``),
    emitted-set-checked like q57.

    The events file is drained availableNow through the real state store;
    the append-mode output contains exactly (a) sessions closed because a
    later event of the same user arrived past the 30-min gap
    (``closed_by='gap'``) and (b) open sessions evicted by the event-time
    TIMEOUT once the final watermark (max ts − 1 h) passed their
    ``last_event + gap`` deadline (``closed_by='timeout'``).  Each user's
    still-open tail session is correctly withheld — so hash-equality with
    the oracle proves the state-store semantics (gap segmentation, timeout
    eviction, watermark withholding), not just the per-session arithmetic.

    Timestamps are returned as epoch MILLIS bigints: the state kernel
    stores ms-truncated event times (`sessions.py` casts to
    ``datetime64[ms]``), and epoch-ms integers compare across engines
    free of timezone/precision formatting hazards.
    """
    from ..streaming.sessions import sessionize_events

    def sessions(src: DataFrame) -> DataFrame:
        sess = sessionize_events(src, gap_seconds=1800, watermark="1 hour")
        return sess.select(
            "user_id",
            F.unix_millis("session_start").alias("session_start_ms"),
            F.unix_millis("session_end").alias("session_end_ms"),
            "n_events",
            F.round("sum_value", 4).alias("sum_value"),
            "closed_by",
        )

    metrics, emitted = drain_available_now(
        spark, sf_dir, sessions, memory_view="q64_mem_", options=_EVENTS
    )
    # ORACLE INVARIANT: the DuckDB twin derives closed_by purely from
    # position (non-tail='gap', tail='timeout'), which matches the kernel
    # only because this drain processes the single events.parquet file in
    # EXACTLY ONE data batch (the watermark is 0 while it runs, so nothing
    # closes by timeout mid-drain and no late row is dropped).  A batching
    # change (maxFilesPerTrigger, a second file matching the glob) must
    # fail loudly here, not as a silent driver-gate mismatch.
    if metrics.data_batches != 1:
        raise AssertionError(
            f"q64 drained {metrics.data_batches} data batches; the "
            "positional gap/timeout oracle is only valid for a "
            "single-data-batch drain"
        )
    return emitted.orderBy("user_id", "session_start_ms")


STREAMING_AGG_ORACLES: dict[str, str] = {
    # Emitted set = windows whose END is <= the final watermark
    # (max(ts) - 1 hour); time_bucket floors to the same hour boundaries
    # as Spark's window().
    "q57_streaming_hourly_rollup": """
        WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
        SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
               event_type,
               count(*) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM events, wm
        GROUP BY window_start, event_type, wm.w
        HAVING window_start + INTERVAL 1 HOUR <= wm.w
        ORDER BY window_start, event_type
    """,
    # Emitted set = every session except each user's open tail, PLUS the
    # tail when its last_event + gap deadline fell strictly below the
    # final watermark (max ts − 1 h).  Event times are ms-truncated to
    # match the state kernel's datetime64[ms] storage; session sums are
    # order-independent, boundaries depend only on sorted ms timestamps.
    "q64_streaming_sessions": """
        WITH e AS (
          SELECT user_id, date_trunc('milliseconds', ts) AS tms, value
          FROM events
        ),
        wm AS (SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 1 HOUR AS w FROM events),
        s AS (
          SELECT user_id, tms, value,
                 CASE WHEN tms - lag(tms) OVER (PARTITION BY user_id ORDER BY tms)
                      > INTERVAL 1800 SECOND THEN 1 ELSE 0 END AS brk
          FROM e
        ),
        g AS (
          SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY tms
                                   ROWS UNBOUNDED PRECEDING) AS sid
          FROM s
        ),
        sess AS (
          SELECT user_id, sid,
                 min(tms) AS session_start, max(tms) AS session_end,
                 count(*) AS n_events, sum(value) AS raw_sum,
                 max(sid) OVER (PARTITION BY user_id) AS last_sid
          FROM g GROUP BY user_id, sid
        )
        SELECT user_id,
               epoch_ms(session_start) AS session_start_ms,
               epoch_ms(session_end) AS session_end_ms,
               n_events,
               round(raw_sum, 4) AS sum_value,
               CASE WHEN sid < last_sid THEN 'gap' ELSE 'timeout' END AS closed_by
        FROM sess, wm
        WHERE sid < last_sid
           OR session_end + INTERVAL 1800 SECOND < wm.w
        ORDER BY user_id, session_start_ms
    """,
}
