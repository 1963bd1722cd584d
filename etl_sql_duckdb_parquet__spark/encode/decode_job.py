"""Decode path: blobs → token table, bit-identical (the north-rule invariant).

One manifest read (driver-side pyarrow on a filesystem store, no Spark
job) picks, on the driver, the snapshot(s) to read and the winning
(latest successful) run of every partition, so orphaned blob files from
a crashed run can never leak into results; the blob
scan then lists only the winning runs' ``run_id=`` directories (by path:
no join, no broadcast job), and every codec is reversed inside an
Arrow-native ``mapInArrow``.  The token lists are assembled ZERO-COPY with
``pa.ListArray.from_arrays(offsets, values)`` and the id and source
strings from their offsets and bytes buffers — no per-document
``np.split``, pandas object or Python string, which dominated decode time
at many-docs scale (tens of thousands of small docs per partition).
Verification is a distributed join on doc_id with null-safe array
equality — no driver-side collection.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..codecs import decode_int, decode_strings
from .encode_job import BLOB_SCHEMA
from .manifest import (
    blobs_path,
    live_rows,
    local_frame,
    manifest_rows,
    recency,
    winners,
)

DECODED_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"

_COLUMN_TYPES = {
    "doc_id": ("string", pa.string()),
    "tokens": ("array<int>", pa.list_(pa.int32())),
    "n_tok": ("int", pa.int32()),
    "source": ("string", pa.string()),
}

# which blob column(s) each logical column needs — the projection
# pushdown map: a decode that skips `tokens` never reads (parquet column
# pruning) nor decompresses the token blobs, the bulk of the bytes
_BLOB_DEPS = {
    "doc_id": ("docids_blob",),
    "tokens": ("tokens_blob", "lengths_blob"),
    "n_tok": ("lengths_blob",),
    "source": ("sources_blob",),
}


def _make_decoder(columns: list[str]):
    def _decode_batches(iterator):
        for batch in iterator:
            blob_cols = {
                b: batch.column(b)
                for b in {d for c in columns for d in _BLOB_DEPS[c]}
            }
            for i in range(batch.num_rows):
                lengths = None
                if "lengths_blob" in blob_cols:
                    lengths = decode_int(blob_cols["lengths_blob"][i].as_py())
                arrays, n_docs = [], None
                for c in columns:
                    if c == "tokens":
                        values = decode_int(
                            blob_cols["tokens_blob"][i].as_py()
                        ).astype(np.int32)
                        # int32 offsets => plain ListArray (not LargeList);
                        # per-blob token counts are bounded by the ~2M-token
                        # partition plan AND enforced at encode time
                        # (_encode_blob_row raises past 2^31-1) — this
                        # check guards stores written by foreign tools
                        offsets64 = np.concatenate(([0], np.cumsum(lengths)))
                        if offsets64[-1] > 2**31 - 1:
                            raise ValueError(
                                f"blob holds {offsets64[-1]} tokens, beyond "
                                "the int32 Arrow list-offset range — "
                                "re-encode with a smaller target_tokens"
                            )
                        offsets = offsets64.astype(np.int32)
                        arr = pa.ListArray.from_arrays(
                            pa.array(offsets), pa.array(values)
                        )
                    elif c == "n_tok":
                        arr = pa.array(lengths.astype(np.int32))
                    else:  # doc_id, source
                        (blob,) = _BLOB_DEPS[c]
                        arr = decode_strings(blob_cols[blob][i].as_py())
                    arrays.append(arr)
                    n_docs = len(arr)
                if n_docs:
                    yield pa.RecordBatch.from_arrays(
                        arrays,
                        schema=pa.schema(
                            [(c, _COLUMN_TYPES[c][1]) for c in columns]
                        ),
                    )

    return _decode_batches


def winning_blobs(
    spark: SparkSession, out_dir: str, snapshots: str = "latest"
) -> DataFrame:
    """Blob rows for the winning run per partition, manifest-gated.

    ``snapshots="latest"`` (default): only the most recently finished
    input snapshot is decoded — a store that saw the table re-encoded
    after an input change never mixes partitions across snapshots.
    ``snapshots="all"``: additive/append mode — the live partitions of
    every snapshot (:func:`manifest.live_rows`) are unioned: each ingest
    batch encoded as its own snapshot concatenates (the Iceberg-append
    ingestion shape), and what a compaction absorbed is left out.  Note
    the snapshot id includes the encode plan parameters, so the SAME data
    re-encoded under a different ``target_tokens`` counts as two
    snapshots here — use "latest" or an explicit id in that situation.
    ``snapshots="snap_..."``: decode exactly that snapshot id (as recorded
    in the manifest), pinning the choice independent of finish order.
    Within a snapshot, the winner per part_id is the latest OK run — the
    max of ``(finished_at, run_id)`` — so a resumed/re-run snapshot still
    dedupes exactly.

    The winners are picked on the driver from the one manifest read and
    reach the blob scan without a join: the scan reads only the
    winning runs' ``run_id=`` directories (by path, so the listing is
    O(winning runs), not O(store history); a run none of whose winning
    partitions holds docs has no directory and is skipped), and drops
    ``(part_id, run_id) IN (losing pairs)`` — the blob rows of a read
    run whose partition a later run won.  That list is empty in every
    state the writers produce (a commit is one whole run, derived from
    that run's own directory), and reading whole run directories rests
    on the same assumption the commit does: a run's directory holds
    exactly that run's commit.
    """
    ok, _ = _resolve_snapshots(spark, out_dir, snapshots)
    return scan_winners(spark, out_dir, ok)


def scan_winners(
    spark: SparkSession, out_dir: str, ok: list[dict]
) -> DataFrame:
    """The blob rows of the winning partitions among ok manifest rows
    ``ok`` (see :func:`winning_blobs`)."""
    # only partitions that received docs have blob rows
    stored = {
        (r["part_id"], r["run_id"]) for r in ok if r["codec"] != "empty"
    }
    won = {(r["part_id"], r["run_id"]) for r in winners(ok)} & stored
    runs = sorted({run for _, run in won})
    if not runs:
        return local_frame(spark, [], BLOB_SCHEMA)
    root = blobs_path(out_dir)
    blobs = (
        spark.read.schema(BLOB_SCHEMA)
        .option("basePath", root)
        .parquet(*(f"{root}/run_id={run}" for run in runs))
    )
    losing = sorted({pr for pr in stored if pr[1] in runs} - won)
    if losing:
        blobs = blobs.filter(
            ~F.struct("part_id", "run_id").isin(
                [
                    F.struct(
                        F.lit(p).alias("part_id"), F.lit(run).alias("run_id")
                    )
                    for p, run in losing
                ]
            )
        )
    return blobs


def decode_token_table(
    spark: SparkSession,
    out_dir: str,
    snapshots: str = "latest",
    columns: list[str] | None = None,
    parts: list[int] | None = None,
) -> DataFrame:
    """Blobs + manifest → (doc_id, tokens, n_tok, source).

    ``columns`` selects a subset — projection pushdown through the blob
    format: each logical column lives in its own per-partition blob, so a
    metadata query (``columns=["doc_id", "n_tok"]``) neither reads (parquet
    column pruning) nor decompresses the token blobs, which are ~95% of
    the store's bytes.  The same reason column stores win the reference's
    CSV-vs-Parquet benchmark (``/root/reference/docs/benchmark_results.md``)
    applied to our own format.
    """
    cols = list(_COLUMN_TYPES) if columns is None else list(columns)
    unknown = set(cols) - set(_COLUMN_TYPES)
    if unknown:
        raise ValueError(
            f"unknown decode columns {sorted(unknown)}; "
            f"available: {list(_COLUMN_TYPES)}"
        )
    blobs = winning_blobs(spark, out_dir, snapshots)
    if parts is not None:
        # partition pruning: the IN filter reaches the blob scan
        # (parquet row-group stats skip the rest); bounded by the lookup's
        # ids, never one literal per store partition
        blobs = blobs.filter(F.col("part_id").isin([int(p) for p in parts]))
    return decode_blobs(blobs, cols)


def decode_blobs(blobs: DataFrame, cols=tuple(_COLUMN_TYPES)) -> DataFrame:
    """Blob rows → the logical columns ``cols``, every codec reversed in
    one ``mapInArrow``."""
    needed = list(dict.fromkeys(b for c in cols for b in _BLOB_DEPS[c]))
    schema = ", ".join(f"{c} {_COLUMN_TYPES[c][0]}" for c in cols)
    return blobs.select(*needed).mapInArrow(_make_decoder(list(cols)), schema)


def _resolve_snapshots(
    spark: SparkSession, out_dir: str, snapshots: str
) -> tuple[list[dict], list[dict]]:
    """THE snapshot-arg resolution, shared by every decode-side entry
    (``winning_blobs`` and the lookup coverage check) so the coverage
    check can never validate a different snapshot set than the one the
    decode actually reads.

    Returns the selection's ok ``(snapshot_id, part_id, run_id, codec,
    finished_at, n_tokens)`` manifest rows and its plan ``(snapshot_id,
    source, part_id, salts)`` rows — one manifest read; every decision
    after it runs on the driver.  ``"all"`` selects the live rows; the
    other modes one snapshot's ok rows, absorbed or not.  Validates the
    argument and, for an explicit ``snap_`` id, its existence — a typo'd
    id must raise here, not surface downstream as a misleading
    plan-coverage error.
    """
    if snapshots not in ("all", "latest") and not snapshots.startswith(
        "snap_"
    ):
        raise ValueError(
            "snapshots must be 'latest', 'all', or an explicit "
            f"'snap_...' id: {snapshots!r}"
        )
    rows = manifest_rows(
        spark,
        out_dir,
        ["snapshot_id", "part_id", "run_id", "codec", "finished_at",
         "n_tokens", "status", "source", "salts"],
    )
    if rows is None:
        raise FileNotFoundError(f"no manifest under {out_dir}")
    ok = live_rows(rows) if snapshots == "all" else [
        r for r in rows if r["status"] == "ok"
    ]
    if snapshots == "latest":
        if not ok:
            raise ValueError(
                f"manifest under {out_dir} has no status='ok' rows — "
                "nothing to decode (all runs failed or were aborted)"
            )
        snapshots = max(ok, key=recency)["snapshot_id"]
    if snapshots != "all":
        ok = [r for r in ok if r["snapshot_id"] == snapshots]
        if not ok:
            raise ValueError(
                f"snapshot {snapshots!r} has no status='ok' manifest rows "
                f"under {out_dir}"
            )
    selected = {r["snapshot_id"] for r in ok}
    plan = [
        r for r in rows
        if r["status"] == "plan" and r["snapshot_id"] in selected
    ]
    return ok, plan


def candidate_parts(
    spark: SparkSession,
    out_dir: str,
    doc_ids: list[str],
    source: str | None = None,
    snapshots: str = "all",
) -> list[int]:
    """Partitions that can contain the given doc ids, from the plan rows
    in the manifest: ``part_id = offset + pmod(xxhash64(doc_id), salts)``
    — one candidate per (doc, source, plan) instead of the whole store.
    Pass ``source`` when known (the common case — the caller knows which
    feed a doc came from): candidates collapse to exactly one per (doc,
    plan).

    ``snapshots`` names the snapshot set the lookup will decode (same
    semantics as :func:`decode_token_table`); the plan rows must COVER
    it — a store where an old snapshot has no plan rows (encoded before
    plans were kept) would otherwise compute candidates from the newer
    plans only and silently miss docs living in the plan-less snapshot.

    One manifest read (the one the decode's snapshot resolution also
    makes; no Spark job on a filesystem store); the hashes come from
    ``xxhash64`` over a LocalRelation, which runs none, and the ``pmod``
    is Python's ``%`` (equal for ``salts > 0``).
    """
    ok, plan = _resolve_snapshots(spark, out_dir, snapshots)
    uncovered = sorted(
        {r["snapshot_id"] for r in ok} - {r["snapshot_id"] for r in plan}
    )
    if uncovered:
        raise FileNotFoundError(
            f"snapshot(s) {uncovered} under {out_dir} have no partition-"
            "plan rows (encoded before lookup support) — lookups against "
            "them would silently miss their docs; re-encode those inputs "
            "(a resumed no-op run backfills the plan), or decode fully "
            "and filter"
        )
    ranges = {
        (r["part_id"], r["salts"])
        for r in plan
        if source is None or r["source"] == source
    }
    hashes = (
        local_frame(
            spark,
            [{"doc_id": str(d)} for d in dict.fromkeys(doc_ids)],
            "doc_id string",
        )
        .select(F.xxhash64("doc_id"))
        .collect()
    )
    return sorted(
        {off + h % salts for (h,) in hashes for off, salts in ranges}
    )


def lookup_docs(
    spark: SparkSession,
    out_dir: str,
    doc_ids: list[str],
    snapshots: str = "latest",
    columns: list[str] | None = None,
    source: str | None = None,
    parts: list[int] | None = None,
) -> DataFrame:
    """Point lookup: decode ONLY the partitions that can contain the ids.

    The encode partitioning is a pure function of (source, doc_id) — the
    manifest's plan rows replay it, so a k-id lookup against a store of P
    partitions decodes at most ``k × sources × snapshots`` partitions, not
    P (the hash-partitioned answer to what zone maps do for range-
    partitioned stores).  Candidate part ids across snapshots are unioned
    (a part id needed for one snapshot also selects the same id in
    others — superset, filtered by ``doc_id IN ids`` below, so the
    result is exact).  The ids are literals in the plan: point lookups
    are by definition metadata-sized; for bulk id sets use a decode +
    join.
    ``source`` (when every requested id comes from that source) collapses
    candidates to one partition per (doc, plan).  ``parts`` lets a caller
    that already ran :func:`candidate_parts` skip recomputing them.
    """
    cols = columns
    if cols is not None and "doc_id" not in cols:
        cols = ["doc_id", *cols]
    if parts is None:
        parts = candidate_parts(
            spark, out_dir, doc_ids, source=source, snapshots=snapshots
        )
    decoded = decode_token_table(spark, out_dir, snapshots, cols, parts=parts)
    out = decoded.filter(
        F.col("doc_id").isin([str(d) for d in dict.fromkeys(doc_ids)])
    )
    return out.select(*columns) if columns is not None else out


def verify_roundtrip(src: DataFrame, decoded: DataFrame) -> dict:
    """Distributed token-array equality check (north-rule invariant).

    Mirrors the reference's readback-fidelity check (its queries over
    written Parquet match golden outputs, ``docs/example_output.md``) but
    enforced exactly: every doc's token array must be bit-identical, and
    each side must hold every ``doc_id`` once — a duplicated doc matches
    each of its copies in the join, so only the distinct count shows it.
    """
    a = src.select(
        "doc_id",
        F.col("tokens").alias("_t_src"),
        F.col("source").alias("_s_src"),
    )
    b = decoded.select(
        "doc_id",
        F.col("tokens").alias("_t_dec"),
        F.col("source").alias("_s_dec"),
    )
    joined = a.join(b, "doc_id", "full_outer")
    row = joined.agg(
        F.count("*").alias("n_union"),
        F.countDistinct("doc_id").alias("n_ids"),
        F.sum(
            F.when(
                F.col("_t_src").eqNullSafe(F.col("_t_dec"))
                & F.col("_s_src").eqNullSafe(F.col("_s_dec")),
                1,
            ).otherwise(0)
        ).alias("n_match"),
        F.sum(F.when(F.col("_t_src").isNull(), 1).otherwise(0)).alias("n_extra"),
        F.sum(F.when(F.col("_t_dec").isNull(), 1).otherwise(0)).alias("n_missing"),
    ).first()
    return {
        "n_union": row["n_union"],
        "n_doc_ids": row["n_ids"],
        "n_match": row["n_match"],
        "n_extra_decoded": row["n_extra"],
        "n_missing_decoded": row["n_missing"],
        "ok": row["n_union"] == row["n_match"] == row["n_ids"],
    }
