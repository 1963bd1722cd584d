"""Per-stage event history for pipeline runs.

The reference keeps two SQLite audit tables: ``pipeline_runs`` (run-level
status/counts/duration) and ``pipeline_events`` (stage-level start/end/
error rows, reference ``src/history.py:39-52,108-139``).  Here the same
lineage is one append-only Parquet table next to the pipeline output —
readable by Spark/DuckDB like every other artifact, safe for concurrent
runs (append of distinct files, no single-writer SQLite lock)::

    (run_id, table_name, stage, status, message, n_rows, duration_s, ts)

Events are buffered in memory during the run (a pipeline run has a few
dozen stage events, never data-scale) and flushed as ONE append — per-event
writes would litter a small-files table.  Row counts are recorded only
where the pipeline already paid for the action (validation errors, curated
row count); ingest/transform durations are logged without forcing an extra
pass over the data.
"""

from __future__ import annotations

import os
import time
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from ..encode.manifest import read_typed, write_rows

EVENTS_SCHEMA = (
    "run_id string, table_name string, stage string, status string, "
    "message string, n_rows long, duration_s double, ts timestamp"
)


def events_path(out_dir: str) -> str:
    return os.path.join(out_dir, "events")


class EventLog:
    """Buffers stage events for one pipeline run; one Parquet append."""

    def __init__(self, spark: SparkSession, out_dir: str, run_id: str | None = None):
        self.spark = spark
        self.out_dir = out_dir
        self.run_id = run_id or f"run_{uuid.uuid4().hex[:12]}"
        self._rows: list[dict] = []
        self._t0: dict[tuple[str, str], float] = {}

    def start(self, table: str, stage: str) -> None:
        self._t0[(table, stage)] = time.time()
        self._add(table, stage, "start", None, None, None)

    def end(
        self,
        table: str,
        stage: str,
        status: str = "ok",
        message: str | None = None,
        n_rows: int | None = None,
    ) -> None:
        dur = None
        t0 = self._t0.pop((table, stage), None)
        if t0 is not None:
            dur = round(time.time() - t0, 3)
        self._add(table, stage, status, message, n_rows, dur)

    def _add(self, table, stage, status, message, n_rows, dur) -> None:
        self._rows.append(
            {
                "run_id": self.run_id,
                "table_name": table,
                "stage": stage,
                "status": status,
                "message": message,
                "n_rows": n_rows,
                "duration_s": dur,
                "ts": datetime.now(timezone.utc),
            }
        )

    def flush(self) -> None:
        if not self._rows:
            return
        write_rows(
            self.spark,
            events_path(self.out_dir),
            f"events-{self.run_id}.parquet",
            self._rows,
            EVENTS_SCHEMA,
        )
        self._rows = []


def read_events(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The events table, or ``None`` when no run has written one; an
    unreadable file raises."""
    return read_typed(spark, events_path(out_dir), EVENTS_SCHEMA)
