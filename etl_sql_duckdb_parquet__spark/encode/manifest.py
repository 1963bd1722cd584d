"""Checkpoint/lineage manifest — the engine's resumability layer.

Plays the role of the reference's SQLite run-history audit trail
(reference ``src/history.py:22-48``: per-run status, row counts, duration)
and its per-row audit columns (reference ``src/etl/ingest.py:53-58``),
reshaped for a distributed encode job: one append-only Parquet table, the
store's single log::

    (run_id, snapshot_id, part_id, codec, n_docs, n_tokens,
     raw_bytes, comp_bytes, encode_s, checksum,
     n_distinct, n_runs, vmin, vmax, status, finished_at, source, salts)

Four kinds of row, by ``status``:

- ``'ok'``: one committed partition (codec choice, sizes, checksum);
- ``'running'``: a run's in-flight marker (``part_id = -1``);
- ``'plan'``: one source's slice of the snapshot's doc→partition plan,
  ``part_id = offset + pmod(xxhash64(doc_id), salts)`` with ``part_id``
  holding the offset;
- ``'merge'``: one partition a compaction absorbed — ``run_id`` is the
  compacting run, ``(snapshot_id, part_id)`` the absorbed partition (an
  Iceberg ``replace`` snapshot's deleted-file entry); :func:`live_rows`,
  the liveness rule every store read and maintenance call shares, reads
  them.

Resume = anti-join of the planned partition list against committed
manifest rows for the same input snapshot — only missing/failed partitions
are re-encoded.  Spark has no built-in batch resume; this is ours.
"""

from __future__ import annotations

import os
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

MANIFEST_SCHEMA = (
    "run_id string, snapshot_id string, part_id int, codec string, "
    "n_docs long, n_tokens long, raw_bytes long, comp_bytes long, "
    "encode_s double, checksum long, "
    "n_distinct long, n_runs long, vmin long, vmax long, "
    "status string, finished_at timestamp, source string, salts int"
)

MANIFEST_COLS = [f.split(" ")[0] for f in MANIFEST_SCHEMA.split(", ")]


def arrow_schema(ddl: str):
    """The pyarrow schema of a flat ``"name type, ..."`` DDL string."""
    import pyarrow as pa

    types = {
        "string": pa.string(),
        "binary": pa.binary(),
        "int": pa.int32(),
        "long": pa.int64(),
        "double": pa.float64(),
        "timestamp": pa.timestamp("us", tz="UTC"),
    }
    return pa.schema(
        (name, types[typ])
        for name, typ in (f.rsplit(" ", 1) for f in ddl.split(", "))
    )


def arrow_table(rows: list[dict], ddl: str):
    """``rows`` as a pyarrow Table typed by a flat DDL string (absent keys
    read as nulls)."""
    import pyarrow as pa

    return pa.Table.from_pylist(rows, schema=arrow_schema(ddl))


def local_frame(spark: SparkSession, rows: list[dict], ddl: str) -> DataFrame:
    """A driver-built frame of metadata-sized ``rows`` that runs no Spark
    job to scan: a pyarrow Table becomes a LocalRelation, where a Python
    list would go through ``parallelize`` (a job per use) and an empty
    pandas frame falls back to that list path."""
    return spark.createDataFrame(arrow_table(rows, ddl), ddl)


def read_typed(
    spark: SparkSession, path: str, ddl: str | StructType
) -> DataFrame | None:
    """``path`` read with a declared schema, or ``None`` when it does not
    exist.  An untyped ``spark.read.parquet`` runs a footer-inference job
    per call; the declared schema makes the read itself job-free.

    A missing filesystem path is answered here: handed to Spark it would
    throw inside ``FileStreamSink.hasMetadata``, which logs a WARN with a
    Java stack trace before PATH_NOT_FOUND maps to ``None``.  Remote URIs
    keep that mapping; every other error re-raises."""
    local = filesystem_path(path)
    if local is not None and not os.path.exists(local):
        return None
    try:
        return spark.read.schema(ddl).parquet(path)
    except AnalysisException as e:
        if (e.getCondition() or "") != "PATH_NOT_FOUND":
            raise
        return None


def read_rows(
    spark: SparkSession,
    path: str,
    ddl: str,
    columns: list[str] | None = None,
) -> list[dict] | None:
    """The rows of metadata-sized directory ``path`` as dicts typed by
    ``ddl`` (``columns`` keeps a subset), or ``None`` when it does not
    exist — the single reader of every store metadata file, beside
    :func:`write_rows`, the single writer.

    Filesystem stores: a driver-side pyarrow read (no Spark job; a typed
    Spark read of a small manifest costs 60-140 ms wall and 145-380 ms of
    JVM CPU against 1-6 ms).  Files are listed under Spark's rule: names
    starting with ``.`` or ``_`` are skipped, so a writer's torn
    temporary stays invisible, and every other file must be parquet — an
    unreadable one raises instead of reading as no rows.  Columns a file
    lacks read as nulls, and timestamps (INT96 included) come back as UTC
    datetimes.
    Remote URIs: the typed Spark read, through Arrow (``collect()`` would
    return naive local-time datetimes)."""
    local = filesystem_path(path)
    if local is None:
        frame = read_typed(spark, path, ddl)
        if frame is None:
            return None
        if columns is not None:
            frame = frame.select(*columns)
        return frame.toArrow().to_pylist()
    if not os.path.exists(local):
        return None
    import pyarrow.dataset as ds

    return (
        ds.dataset(local, schema=arrow_schema(ddl), format="parquet")
        .to_table(columns=columns)
        .to_pylist()
    )


def manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "manifest")


def blobs_path(out_dir: str) -> str:
    return os.path.join(out_dir, "blobs")


def filesystem_path(path: str) -> str | None:
    """``path`` as a local filesystem path (a ``file:`` URI is stripped),
    or ``None`` for a remote URI (``s3a://`` etc.)."""
    if "://" in path and not path.startswith("file:"):
        return None
    return path[len("file:"):] if path.startswith("file:") else path


def write_rows(
    spark: SparkSession, path: str, name: str, rows: list[dict], ddl: str
) -> None:
    """Write metadata-sized ``rows`` as ONE parquet file in directory
    ``path`` — the single writer of every store metadata file.

    Filesystem stores: a driver-side pyarrow write (no Spark job; a Spark
    write of a few rows costs ~150 ms against ~45 ms) to a ``.``-prefixed
    temporary name in the same directory, then ``os.replace`` to
    ``name``.  Spark's file listing skips dot files, so a crash mid-write
    leaves at most an invisible temporary, never a truncated file that
    would break every later read of the directory.  Remote URIs get a
    one-file Spark append (``name`` is then Spark's part-file name)."""
    local = filesystem_path(path)
    if local is None:
        local_frame(spark, rows, ddl).coalesce(1).write.mode(
            "append"
        ).parquet(path)
        return
    import pyarrow.parquet as pq

    os.makedirs(local, exist_ok=True)
    tmp = os.path.join(local, f".{name}.{uuid.uuid4().hex[:8]}.tmp")
    try:
        pq.write_table(arrow_table(rows, ddl), tmp)
        os.replace(tmp, os.path.join(local, name))
    finally:
        if os.path.exists(tmp):  # the write failed
            os.remove(tmp)


def append_running_marker(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    snapshot_id: str,
    plan_rows: list[dict] = (),
) -> None:
    """One run-level ``status='running'`` manifest row, written BEFORE the
    encode starts moving data, in one file with the run's ``plan_rows``.

    Lets maintenance see runs that may still be writing blobs: a run_id
    with a running (or merge) row and no ok rows is in-flight (or died —
    the marker alone can't tell, its timestamp is the run START), and
    :func:`maintenance.vacuum_store` refuses to reclaim blob directories
    while any such run exists (``force=True`` overrides and clears the
    marker).
    Every reader filters ``status``, so the marker is invisible to
    decode/resume/lookup.
    """
    import datetime

    row = {
        "run_id": run_id,
        "snapshot_id": snapshot_id,
        "part_id": -1,
        "status": "running",
        "finished_at": datetime.datetime.now(datetime.timezone.utc),
    }
    append_manifest(
        spark, out_dir, f"marker-{run_id}.parquet", [row, *plan_rows]
    )


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The manifest as a DataFrame with ``MANIFEST_SCHEMA`` (no footer
    job), or ``None`` before the first run.  An empty manifest directory
    reads as an empty frame; any failure other than a missing path
    raises.  Store calls read rows with :func:`manifest_rows` instead."""
    return read_typed(spark, manifest_path(out_dir), MANIFEST_SCHEMA)


def manifest_rows(
    spark: SparkSession, out_dir: str, columns: list[str] | None = None
) -> list[dict] | None:
    """The manifest's rows as dicts (:func:`read_rows`), or ``None``
    before the first run."""
    return read_rows(spark, manifest_path(out_dir), MANIFEST_SCHEMA, columns)


def append_manifest(
    spark: SparkSession, out_dir: str, name: str, rows: list[dict]
) -> None:
    """Append metadata-sized manifest rows (dicts over ``MANIFEST_COLS``;
    absent keys read as nulls) as one file named ``name`` — every
    manifest read opens each file, and every file carries
    ``MANIFEST_SCHEMA`` exactly (mixed file schemas read back
    nondeterministically under ``mergeSchema=false``)."""
    write_rows(spark, manifest_path(out_dir), name, rows, MANIFEST_SCHEMA)


def new_run_id() -> str:
    return f"run_{uuid.uuid4().hex[:12]}"


def recency(r: dict) -> tuple:
    """Commit order of ok manifest rows: ``(finished_at, run_id)``."""
    return (r["finished_at"], r["run_id"])


def winners(ok: list[dict]) -> list[dict]:
    """The winning row of every ``(snapshot_id, part_id)`` among ok rows:
    the latest commit, so a resumed or re-run snapshot dedupes exactly."""
    best: dict[tuple[str, int], dict] = {}
    for r in ok:
        key = (r["snapshot_id"], r["part_id"])
        if key not in best or recency(r) > recency(best[key]):
            best[key] = r
    return list(best.values())


def live_rows(rows: list[dict]) -> list[dict]:
    """The ok rows of live partitions — THE liveness rule: a merge row
    counts once its run has ok rows, and a partition is live while no
    counted merge names its ``(snapshot_id, part_id)``.  Any run's rows
    of that pair hold the same docs (the snapshot id is content-addressed
    over data and plan), and parts committed after the merge read the
    manifest stay live."""
    committed = {r["run_id"] for r in rows if r["status"] == "ok"}
    absorbed = {
        (r["snapshot_id"], r["part_id"])
        for r in rows
        if r["status"] == "merge" and r["run_id"] in committed
    }
    return [
        r for r in rows
        if r["status"] == "ok"
        and (r["snapshot_id"], r["part_id"]) not in absorbed
    ]


def completed_parts(
    spark: SparkSession, out_dir: str, snapshot_id: str
) -> tuple[set[int], bool]:
    """part_ids already encoded OK for this exact input snapshot, and
    whether the manifest holds the snapshot's plan rows (one metadata
    read; nothing and False before the first run)."""
    rows = manifest_rows(
        spark, out_dir, ["snapshot_id", "part_id", "status"]
    ) or []
    rows = [r for r in rows if r["snapshot_id"] == snapshot_id]
    done = {r["part_id"] for r in rows if r["status"] == "ok"}
    return done, any(r["status"] == "plan" for r in rows)


def snapshot_id_of(df: DataFrame) -> str:
    """Deterministic fingerprint of the input table (content-addressed).

    Order-insensitive: count + token sum + xor-style aggregate of per-doc
    hashes.  One cheap aggregate action; replaces an Iceberg snapshot id in
    environments without a table format.
    """
    row = df.select(
        F.count("*").alias("n"),
        F.sum("n_tok").alias("s"),
        F.expr("bit_xor(xxhash64(doc_id, n_tok))").alias("h"),
    ).first()
    return f"snap_{row['n']}_{row['s']}_{(row['h'] or 0) & 0xFFFFFFFFFFFF:012x}"
