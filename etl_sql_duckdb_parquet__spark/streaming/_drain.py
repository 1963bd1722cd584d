"""The one availableNow drain runner, shared by every streaming operator
(q57, q64, the sessionizer and the deduper).

:func:`drain_available_now` does each step of a drain once:

- pins ``spark.sql.session.timeZone`` to UTC for the schema probe, the
  plan build and the run, and restores the caller's setting after —
  watermarks need an instant, and the NTZ→instant cast and hour-bucket
  alignment depend on the session timezone;
- probes the source schema with the SAME reader options as the stream
  (a ``pathGlobFilter`` scopes both, else a mixed-schema landing dir
  resolves to the wrong table);
- runs ``transform(stream)`` to an append-mode memory or parquet sink
  under a bound :class:`DrainMetricsListener`;
- returns the listener and the rows this drain emitted.

A drain report must stay METADATA-sized however much data the drain
moved: a backfill over a 100 TB clickstream closes hundreds of millions
of sessions, so anything O(emitted rows) on the driver is a scale bug.
Hence:

- a parquet sink's new rows are the files its ``_spark_metadata`` commit
  log gained: the difference of two ``inputFiles()`` listings of a typed
  sink read (no Spark job), taken before and after the drain.  Only
  committed files are listed — an uncommitted part file of a failed task
  or a crashed earlier drain never counts — and the listing works on any
  filesystem Spark can read, object stores included.  The new files are
  read back by path, so the report's aggregation is distributed and
  O(this drain), not O(sink history);
- per-batch counters (``numInputRows``, ``numRowsDroppedByWatermark``,
  data batches) accumulate through a ``StreamingQueryListener``, not the
  query's own progress buffer: Spark keeps only its last ~100 entries, so
  a long backfill drain would silently undercount.
"""

from __future__ import annotations

import tempfile
import threading
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener
from pyspark.sql.types import StructType

from ..encode.manifest import read_typed


class DrainMetricsListener(StreamingQueryListener):
    """Per-drain audit counters accumulated across ALL micro-batches.

    Attach BEFORE ``start()``, then :meth:`bind` the started query's
    ``runId`` after ``start()`` returns, and call :meth:`wait_terminated`
    after ``awaitTermination()``.  Listener events are dispatched
    asynchronously on the streaming bus, so a PRIOR query's trailing
    events can arrive while this listener is attached, and the query's
    OWN first events can arrive between ``start()`` and ``bind`` (the
    callback runs on the Py4J thread).  Every event is therefore kept
    per ``runId`` until bound; ``bind`` adopts the matching run's sums
    and termination and drops the rest, and later events of other runs
    are ignored — a stale event can never corrupt the audit counts, and
    an early own event is never lost.  Unlike the query's progress
    buffer (a ring of the last ~100 progresses) these sums are exact for
    arbitrarily long drains.
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._run_id: str | None = None
        # runId → [input rows, rows dropped by watermark, data batches]
        self._sums: dict[str, list[int]] = {}
        self._terminated: set[str] = set()
        self._done = threading.Event()

    def bind(self, run_id) -> None:
        with self._lock:
            self._run_id = str(run_id)
            self._sums = {
                self._run_id: self._sums.get(self._run_id, [0, 0, 0])
            }
            if self._run_id in self._terminated:
                self._done.set()
            self._terminated.clear()

    def _sum(self, i: int) -> int:
        return self._sums.get(self._run_id, [0, 0, 0])[i]

    @property
    def input_rows(self) -> int:
        return self._sum(0)

    @property
    def dropped_by_watermark(self) -> int:
        return self._sum(1)

    @property
    def data_batches(self) -> int:
        """Micro-batches that read at least one row (the trailing no-data
        batches that only advance the watermark are not counted)."""
        return self._sum(2)

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        key = str(p.runId)
        with self._lock:
            if self._run_id not in (None, key):
                return
            sums = self._sums.setdefault(key, [0, 0, 0])
            sums[0] += p["numInputRows"]
            sums[1] += sum(
                op["numRowsDroppedByWatermark"] for op in p["stateOperators"]
            )
            sums[2] += p["numInputRows"] > 0

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        key = str(event.runId)
        with self._lock:
            if self._run_id is None:
                self._terminated.add(key)
            elif key == self._run_id:
                self._done.set()

    def wait_terminated(self, timeout: float = 60.0) -> bool:
        return self._done.wait(timeout)


def _committed_files(
    spark: SparkSession, output_dir: str, schema: StructType
) -> set[str]:
    """The files in the parquet sink's commit log (none before the first
    drain).  A typed read lists through ``_spark_metadata`` and runs no
    Spark job."""
    sink = read_typed(spark, output_dir, schema)
    return set() if sink is None else set(sink.inputFiles())


def drain_available_now(
    spark: SparkSession,
    source_dir: str,
    transform: Callable[[DataFrame], DataFrame],
    *,
    output_dir: str | None = None,
    memory_view: str | None = None,
    checkpoint_dir: str | None = None,
    options: dict | None = None,
) -> tuple[DrainMetricsListener, DataFrame]:
    """Drain the parquet files under ``source_dir`` (availableNow) through
    ``transform`` into exactly one sink, and return ``(metrics, emitted)``.

    - ``output_dir``: an append-mode parquet file sink, which needs the
      ``checkpoint_dir`` that consecutive drains share (it carries the
      file-source log and the state store).  ``emitted`` reads just the
      files this drain committed (an empty frame when it committed none).
    - ``memory_view``: a memory sink named ``memory_view`` + a fresh hex
      id; ``emitted`` is that view.  Views an earlier call left under the
      same prefix are dropped first: each pins its full result set in
      driver memory for the session's lifetime.  Without
      ``checkpoint_dir`` the drain checkpoints to a temporary directory,
      removed once the query has terminated.

    ``options`` go to both the schema probe and the stream reader (e.g.
    ``pathGlobFilter``, ``maxFilesPerTrigger``); ``None`` values are
    left out.  ``metrics`` holds the drain's exact listener counts.
    """
    if (output_dir is None) == (memory_view is None):
        raise ValueError("give exactly one of output_dir and memory_view")
    options = {k: v for k, v in (options or {}).items() if v is not None}
    tz_conf = "spark.sql.session.timeZone"
    tz_before = spark.conf.get(tz_conf)
    spark.conf.set(tz_conf, "UTC")
    try:
        sch = spark.read.options(**options).parquet(source_dir).schema
        out = transform(
            spark.readStream.schema(sch).options(**options).parquet(source_dir)
        )
        writer = out.writeStream.outputMode("append").trigger(
            availableNow=True
        )
        if output_dir is not None:
            before = _committed_files(spark, output_dir, out.schema)
            writer = writer.format("parquet").option("path", output_dir)
        else:
            for tbl in spark.catalog.listTables():
                if tbl.name.startswith(memory_view):
                    spark.catalog.dropTempView(tbl.name)
            view = f"{memory_view}{uuid.uuid4().hex}"
            writer = writer.format("memory").queryName(view)
        metrics = DrainMetricsListener()
        with tempfile.TemporaryDirectory() as tmp:
            spark.streams.addListener(metrics)
            try:
                q = writer.option(
                    "checkpointLocation", checkpoint_dir or tmp
                ).start()
                metrics.bind(q.runId)
                q.awaitTermination()
                if not metrics.wait_terminated():
                    raise RuntimeError(
                        "drain metrics listener saw no termination event "
                        "within 60 s — audit counts would be incomplete"
                    )
            finally:
                spark.streams.removeListener(metrics)
    finally:
        spark.conf.set(tz_conf, tz_before)
    if output_dir is None:
        return metrics, spark.table(view)
    new = sorted(_committed_files(spark, output_dir, out.schema) - before)
    if not new:
        return metrics, spark.createDataFrame([], out.schema)
    return metrics, spark.read.schema(out.schema).parquet(*new)
