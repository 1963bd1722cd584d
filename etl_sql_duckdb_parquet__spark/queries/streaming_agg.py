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

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def q57_streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event rollup emitted by an append-mode streaming query.

    Windows still open at end-of-stream (end > max(ts) − 1 h watermark)
    are correctly withheld — asserting on the emitted set IS asserting
    the watermark semantics.
    """
    # Drop memory-sink views left by earlier invocations in this session
    # (each call gets a fresh name; old ones would otherwise pin their
    # full result sets in driver memory for the session's lifetime).
    for tbl in spark.catalog.listTables():
        if tbl.name.startswith("q57_mem_"):
            spark.catalog.dropTempView(tbl.name)
    path = f"{sf_dir}/events.parquet"
    qname = f"q57_mem_{uuid.uuid4().hex}"
    # Hour-bucket alignment and the NTZ→instant cast depend on the
    # session timezone (bound at plan analysis and captured by the
    # streaming query at start); pin it to UTC for the build+run and
    # restore the caller's setting afterwards (the sink then holds
    # materialized NTZ results, which collect timezone-free).
    tz_before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        sch = spark.read.parquet(path).schema
        # The file streaming source wants a directory to watch; scope it
        # to the events file with a glob filter (in production this is
        # the landing directory and the filter matches the table's file
        # pattern).
        src = (
            spark.readStream.schema(sch)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        # Watermarks require an instant (TIMESTAMP) column; the testdata
        # `ts` is TIMESTAMP_NTZ.  Under the pinned UTC timezone the
        # NTZ→instant→NTZ round-trip is the identity and window
        # boundaries align with DuckDB's naive hour buckets.
        src = src.withColumn("ts", F.col("ts").cast("timestamp"))
        agg = (
            src.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
            .select(
                F.col("win.start")
                .cast("timestamp_ntz")
                .alias("window_start"),
                "event_type",
                "n_events",
                "sum_value",
            )
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz_before)
    return spark.table(qname).orderBy("window_start", "event_type")


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
    import tempfile

    from ..streaming.sessions import sessionize_events

    for tbl in spark.catalog.listTables():
        if tbl.name.startswith("q64_mem_"):
            spark.catalog.dropTempView(tbl.name)
    qname = f"q64_mem_{uuid.uuid4().hex}"
    tz_before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        sch = spark.read.parquet(f"{sf_dir}/events.parquet").schema
        src = (
            spark.readStream.schema(sch)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        sess = sessionize_events(src, gap_seconds=1800, watermark="1 hour")
        out = sess.select(
            "user_id",
            F.unix_millis("session_start").alias("session_start_ms"),
            F.unix_millis("session_end").alias("session_end_ms"),
            "n_events",
            F.round("sum_value", 4).alias("sum_value"),
            "closed_by",
        )
        with tempfile.TemporaryDirectory() as ckpt:
            q = (
                out.writeStream.format("memory")
                .queryName(qname)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            # ORACLE INVARIANT: the DuckDB twin derives closed_by purely
            # from position (non-tail='gap', tail='timeout'), which
            # matches the kernel only because this drain processes the
            # single events.parquet file in EXACTLY ONE data batch (the
            # watermark is 0 while it runs, so nothing closes by timeout
            # mid-drain and no late row is dropped).  A batching change
            # (maxFilesPerTrigger, a second file matching the glob) must
            # fail loudly here, not as a silent driver-gate mismatch.
            # recentProgress is a ring buffer that Spark trims to fewer
            # than numRecentProgressUpdates entries: a full buffer may
            # have dropped data batches, so it cannot prove the invariant.
            progress = q.recentProgress
            cap = int(
                spark.conf.get("spark.sql.streaming.numRecentProgressUpdates")
            )
            if len(progress) >= cap - 1:
                raise AssertionError(
                    "q64's progress buffer is full "
                    f"(numRecentProgressUpdates={cap}); it cannot show "
                    "that the drain ran one data batch"
                )
            data_batches = [p for p in progress if p["numInputRows"] > 0]
            if len(data_batches) != 1:
                raise AssertionError(
                    f"q64 drained {len(data_batches)} data batches; the "
                    "positional gap/timeout oracle is only valid for a "
                    "single-data-batch drain"
                )
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz_before)
    return spark.table(qname).orderBy("user_id", "session_start_ms")


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
