"""The encode job: token table → per-partition codec blobs + manifest.

DataFrame program (SURVEY.md §7.0a):

1. :func:`plan_partitions` — EXPLICIT partition assignment, source-aware
   and salted: partitions are source-homogeneous (same-source token
   streams share statistics → better codec fits), and each source gets
   ``ceil(source_tokens / target_tokens)`` salt buckets keyed by
   ``xxhash64(doc_id)`` — a 70%-hot source is split across proportionally
   many partitions instead of melting one executor.  This is the skew
   handling the AQE can't do for groupBy-aggregate workloads.  The plan
   is also written as ``status='plan'`` manifest rows, which point
   lookups use to find a doc's partition.
2. One ``repartition(n_parts, part_id)`` — the single shuffle of the job —
   then a streaming ``mapInArrow`` kernel (:func:`encode_sink_frame`).
   Inside it everything is vectorized numpy over Arrow columns (no
   per-row Python; reference's only per-row op, the row hash at
   ``src/etl/ingest.py:56-58``, is replaced by vectorized checksums).
3. Blobs written as uncompressed Parquet (our codecs ARE the compression;
   a codec on top would contaminate the size measurement) straight from
   the encode tasks, partitioned by run so re-runs never collide.  The
   driver then reads the run's per-partition metadata back (no Spark job
   on a filesystem store) and writes the manifest rows for the whole run
   as one file.

Resume: planned parts are anti-joined against the manifest before encoding
(only missing/failed partitions run), making the job idempotent per input
snapshot — kill it anywhere and re-run.
"""

from __future__ import annotations

import datetime
import json
import math
import time
import uuid

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..codecs import encode_strings
from ..codecs.core import encode_int_best, encode_int_best_with_stats
from ..codecs.core import CODEC_ZSTD, zwrap_best
from .manifest import (
    append_manifest,
    append_running_marker,
    arrow_schema,
    blobs_path,
    completed_parts,
    local_frame,
    new_run_id,
    read_rows,
)

DEFAULT_TARGET_TOKENS = 2_000_000

# blob rows carry exactly 5 data columns + one JSON metadata column —
# every extra column costs per-file footer bytes (schema + column-chunk
# metadata) across millions of files at 100 TB scale
ENCODED_SCHEMA = "part_id int, tokens_blob binary, lengths_blob binary, docids_blob binary, sources_blob binary, meta string"

# the blob tree as readers see it: the sink partitions by run_id
BLOB_SCHEMA = f"{ENCODED_SCHEMA}, run_id string"

# the manifest facts of a planned partition that received no docs
_EMPTY_META = {
    "codec": "empty",
    "n_docs": 0,
    "n_tokens": 0,
    "raw_bytes": 0,
    "comp_bytes": 0,
    "encode_s": 0.0,
    "checksum": 0,
}


def input_stats(df: DataFrame) -> tuple[list, str]:
    """ONE aggregation pass over the input: per-source token shares (for
    the partition plan) + the content-addressed snapshot fingerprint.

    At 100 TB a full input scan is the dominant cost — folding the
    snapshot hash (``manifest.snapshot_id_of`` semantics: count, token
    sum, xor of per-doc hashes — all decomposable) into the planning
    aggregate means the job scans the input exactly twice total
    (plan+snapshot, then encode) instead of three times.

    NULL contract: the same pass rejects NULL ``source``/``doc_id``/
    ``tokens``/``n_tok`` rows with a clear error.  Silently they would be
    far worse: a NULL source never matches the plan equi-join (the doc
    vanishes from the store while the snapshot fingerprint counts it, so
    resume believes it encoded), and a NULL tokens array round-trips
    through Arrow as NaN→INT64_MIN in the lengths blob — a durably
    committed corrupt partition.
    """
    rows = (
        df.groupBy("source")
        .agg(
            F.sum("n_tok").alias("tok"),
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(doc_id, n_tok))").alias("h"),
            F.sum(F.col("doc_id").isNull().cast("long")).alias("_null_id"),
            F.sum(F.col("tokens").isNull().cast("long")).alias("_null_tok"),
            F.sum(F.col("n_tok").isNull().cast("long")).alias("_null_n"),
        )
        .collect()
    )
    nulls = {
        "source": sum(r["n"] for r in rows if r["source"] is None),
        "doc_id": sum(r["_null_id"] or 0 for r in rows),
        "tokens": sum(r["_null_tok"] or 0 for r in rows),
        "n_tok": sum(r["_null_n"] or 0 for r in rows),
    }
    if any(nulls.values()):
        raise ValueError(
            "encode input contains NULLs ("
            + ", ".join(f"{k}: {v} rows" for k, v in nulls.items() if v)
            + ") — clean upstream first (e.g. etl.transform coercions + a "
            "filter); encoding them would silently drop or corrupt docs"
        )
    rows = sorted(rows, key=lambda r: r["source"])
    n = sum(r["n"] for r in rows)
    s = sum(r["tok"] or 0 for r in rows)
    h = 0
    for r in rows:
        h ^= r["h"] or 0
    snapshot_id = f"snap_{n}_{s}_{h & 0xFFFFFFFFFFFF:012x}"
    return rows, snapshot_id


def plan_partitions(
    df: DataFrame,
    target_tokens: int = DEFAULT_TARGET_TOKENS,
    shares: list | None = None,
) -> tuple[DataFrame, int, list]:
    """Assign an explicit ``part_id`` to every doc; returns
    (df, n_parts, plan_rows).

    Contiguous part-id ranges per source, salted by doc-id hash, salt
    count ∝ the source's token mass (skew-proof).  ``shares``:
    precomputed per-source rows from :func:`input_stats` (avoids an extra
    input scan).

    ``plan_rows`` is the deterministic doc→partition mapping as
    ``(source, offset, salts)`` tuples:
    ``part_id = offset + pmod(xxhash64(doc_id), salts)``.
    Persisted as ``status='plan'`` manifest rows so point lookups can
    recompute a doc's partition instead of scanning the store
    (:func:`decode_job.lookup_docs`).
    """
    spark = df.sparkSession
    if shares is None:
        shares, _ = input_stats(df)
    # Hot sources get ceil(tok/target) salted partitions of their own;
    # small sources are greedily bin-packed into shared partitions so a
    # long tail of sources can't explode the partition count (and with
    # it per-partition codec-table overhead).
    rows, off = [], 0
    bin_tok = 0
    bin_open = False
    for r in shares:
        tok = r["tok"] or 0
        if tok >= target_tokens // 2:
            if bin_open:
                off += 1
                bin_open, bin_tok = False, 0
            salts = max(1, math.ceil(tok / target_tokens))
            rows.append((r["source"], off, salts))
            off += salts
        else:
            if bin_open and bin_tok + tok > target_tokens:
                off += 1
                bin_tok = 0
            rows.append((r["source"], off, 1))
            bin_tok += tok
            bin_open = True
    if bin_open:
        off += 1
    n_parts = off
    if n_parts == 1:
        # one bin: every source has offset 0 and one salt, so every
        # doc's part is 0 — no plan frame, no broadcast
        return df.withColumn("part_id", F.lit(0)), n_parts, rows
    # a LocalRelation build side: a frame built from a Python list
    # would broadcast through a Python-worker ``parallelize`` job.  A
    # join, not a literal map/CASE lookup: that costs O(sources) per
    # row (2M docs: 0.26 s join vs 2.4 s map at 1,000 sources)
    plan = local_frame(
        spark,
        [
            {"source": src, "_offset": o, "_salts": k}
            for src, o, k in rows
        ],
        "source string, _offset int, _salts int",
    )
    out = (
        df.join(F.broadcast(plan), "source")
        .withColumn(
            "part_id",
            (
                F.col("_offset")
                + F.pmod(F.xxhash64("doc_id"), F.col("_salts"))
            ).cast("int"),
        )
        .drop("_offset", "_salts")
    )
    return out, n_parts, rows


def _encode_blob_row(part_id: int, part, t_acc: float) -> dict:
    """Encode one logical partition's slice of the sorted input (an Arrow
    table of ``tokens``, ``doc_id`` and ``source``) → blob row dict."""
    import pyarrow.compute as pc

    t0 = time.perf_counter()
    tokens = part.column("tokens")
    values = pc.list_flatten(tokens).to_numpy().astype(np.int64)
    lengths = pc.list_value_length(tokens).to_numpy().astype(np.int64)
    if len(values) > 2**31 - 1:
        # the decode path materializes Arrow ListArray offsets as int32;
        # fail the encode rather than durably committing an undecodable
        # partition (reachable only via a single >2^31-token doc or an
        # absurd target_tokens — both worth a loud stop)
        raise ValueError(
            f"partition {part_id} holds {len(values)} tokens, beyond the "
            "int32 Arrow list-offset range — lower target_tokens or split "
            "the oversized document"
        )
    # per-column light codec first, then the ZSTD entropy layer where it
    # still wins ≥2% (the reference's own layering: Parquet light encodings
    # + ZSTD on top)
    raw_tokens_blob, tok_stats = encode_int_best_with_stats(values)
    tokens_blob = zwrap_best(raw_tokens_blob)
    lengths_blob = zwrap_best(encode_int_best(lengths))
    docids_blob = zwrap_best(encode_strings(part.column("doc_id")))
    sources_blob = zwrap_best(encode_strings(part.column("source")))
    raw_bytes = 4 * len(values) + 4 * len(lengths) + sum(
        pc.sum(pc.binary_length(part.column(c))).as_py() or 0
        for c in ("doc_id", "source")
    )
    comp_bytes = (
        len(tokens_blob) + len(lengths_blob) + len(docids_blob) + len(sources_blob)
    )
    checksum = int(
        values.astype(np.uint64, copy=False).sum(dtype=np.uint64)
        & np.uint64(0x7FFF_FFFF_FFFF_FFFF)
    )
    meta = json.dumps(
        {
            "codec": tok_stats["codec"]
            + ("+z" if tokens_blob[0] == CODEC_ZSTD else ""),
            "n_docs": len(lengths),
            "n_tokens": len(values),
            "raw_bytes": raw_bytes,
            "comp_bytes": comp_bytes,
            "encode_s": round(time.perf_counter() - t0 + t_acc, 6),
            "checksum": checksum,
            # the selector's inputs (north star: cardinality / run-length /
            # value-range driven choice) — auditable per partition
            "n_distinct": tok_stats["n_distinct"],
            "n_runs": tok_stats["n_runs"],
            "vmin": tok_stats["vmin"],
            "vmax": tok_stats["vmax"],
        }
    )
    return {
        "part_id": part_id,
        "tokens_blob": tokens_blob,
        "lengths_blob": lengths_blob,
        "docids_blob": docids_blob,
        "sources_blob": sources_blob,
        "meta": meta,
    }


def _encode_arrow_partition(batches):
    """mapInArrow kernel: one physical partition → one blob row per part_id.

    After ``repartition(n_parts, part_id)`` every logical partition lives
    entirely in one physical partition (a physical partition may carry a
    few part_ids on hash collision).  The partition's batches become one
    table, taken once in a stable ``part_id`` order (each part keeps its
    docs' arrival order), and each part's slice is encoded.  Sort, take,
    flatten and lengths are C++ kernels over whole columns: no grouped-map
    sort per key, no pandas rows, no Python loop over documents.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    t0 = time.perf_counter()
    batches = [b for b in batches if b.num_rows]
    if not batches:
        return
    table = pa.Table.from_batches(batches).select(
        ["part_id", "tokens", "doc_id", "source"]
    )
    table = table.take(pc.sort_indices(table.column("part_id")))
    pids = table.column("part_id").to_numpy()
    starts = np.flatnonzero(np.diff(pids, prepend=-1))
    share = (time.perf_counter() - t0) / len(starts)
    schema = arrow_schema(ENCODED_SCHEMA)
    for s, e in zip(starts, [*starts[1:], len(pids)]):
        row = _encode_blob_row(int(pids[s]), table.slice(s, e - s), share)
        yield pa.RecordBatch.from_pydict(
            {k: [v] for k, v in row.items()}, schema=schema
        )


def encode_sink_frame(
    pending: DataFrame, n_parts: int, run_id: str
) -> DataFrame:
    """The blob frame exactly as the sink writes it — ONE shuffle total.

    Explicit repartition by part_id (the user-specified partition count
    suppresses AQE coalescing — every encode slot stays busy), then a
    streaming Arrow kernel; no per-key sort, no pandas rows.  The sink
    rides the encode stage's own tasks — one parquet file per non-empty
    encode task — so the COMPRESSED bytes never cross a second shuffle.
    Earlier rounds repacked to ~n_parts/16 files here
    (``.repartition(n_files)`` between the kernel and the sink); at
    100 TB that second exchange moves every compressed byte through the
    network once more purely for file-count hygiene, which
    ``compact_store`` already owns (it re-encodes the union into
    full-size partitions AND collapses the file count).  Cost accepted:
    ~n_parts files per run instead of ~n_parts/16 — footer overhead is
    per-file ~KB against ~MB blob rows, and manifest derivation lists
    only this run's directory.  Guarded by
    ``test_encode_sink_has_no_repack_exchange``.
    """
    return (
        pending.repartition(n_parts, F.col("part_id"))
        .mapInArrow(_encode_arrow_partition, ENCODED_SCHEMA)
        .withColumn("run_id", F.lit(run_id))
    )


def encode_token_table(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    target_tokens: int = DEFAULT_TARGET_TOKENS,
    resume: bool = True,
    run_id: str | None = None,
    snapshot_salt: str | None = None,
) -> dict:
    """Encode a (doc_id, tokens, n_tok, source) table; returns run stats.

    ``snapshot_salt`` scopes the content-addressed snapshot id to a caller
    namespace (e.g. a streaming epoch): two DIFFERENT ingest batches whose
    content happens to be identical must land as two snapshots — without a
    salt the second would resume-skip against the first's manifest rows and
    silently vanish from ``decode(snapshots="all")``.  A REPLAY of the same
    batch passes the same salt and still dedupes exactly.
    """
    run_id = run_id or new_run_id()
    if not 0 < target_tokens <= 2**31 - 1:
        raise ValueError(
            f"target_tokens={target_tokens} out of range (1 .. 2^31-1): "
            "decode materializes int32 Arrow list offsets per partition"
        )
    shares, data_snapshot = input_stats(df)
    planned, n_parts, plan_rows = plan_partitions(df, target_tokens, shares)
    # The manifest key is (data fingerprint + plan parameters): part_ids are
    # only comparable across runs when target_tokens match, so a re-run of
    # the same data under a coarser/finer plan must NOT resume against (or
    # union with) the old plan's partitions.  The trailing "s" names the
    # source-salted plan; it stays so existing stores still resume.
    snapshot_id = f"{data_snapshot}-tt{target_tokens}s"
    if snapshot_salt is not None:
        snapshot_id = f"{snapshot_id}-{snapshot_salt}"

    done_ids, has_plan = (
        completed_parts(spark, out_dir, snapshot_id)
        if resume
        else (set(), False)
    )
    pending = planned
    if done_ids:
        # a LocalRelation: the anti-join's build side is metadata-sized
        done = local_frame(
            spark, [{"part_id": p} for p in sorted(done_ids)], "part_id int"
        )
        pending = planned.join(F.broadcast(done), "part_id", "left_anti")
    skipped = len(done_ids)

    # the doc→partition mapping as manifest rows (metadata-sized: one row
    # per source), so point lookups can target candidate partitions
    # (decode_job.lookup_docs).  Written with the running marker, before
    # any blob moves, so a committed snapshot always has its plan; a
    # fully-resumed run writes them only when the snapshot has none (a
    # store encoded before plans were kept backfills on its next run).
    started = datetime.datetime.now(datetime.timezone.utc)
    plan = [] if has_plan else [
        {"run_id": run_id, "snapshot_id": snapshot_id, "part_id": offset,
         "source": source, "salts": salts, "status": "plan",
         "finished_at": started}
        for source, offset, salts in plan_rows
    ]
    # same snapshot id ⇒ same data AND same plan parameters ⇒ same plan, so
    # "all planned parts already in the manifest" decides completion without
    # evaluating `pending` (an isEmpty() here would cost an extra pass over
    # the input)
    written, empty_ids = [], []
    if skipped >= n_parts:
        if plan:
            append_manifest(spark, out_dir, f"plan-{run_id}.parquet", plan)
    else:
        # in-flight marker BEFORE any blob bytes move: a concurrent/later
        # vacuum sees this run as running-until-committed and refuses to
        # reclaim its blob directory (maintenance.vacuum_store's guard)
        append_running_marker(spark, out_dir, run_id, snapshot_id, plan)

        (
            encode_sink_frame(pending, n_parts, run_id)
            .write.mode("append")
            .option("compression", "none")
            .partitionBy("run_id")
            .parquet(blobs_path(out_dir))
        )

        # Commit: ONE metadata read of this run's (part_id, meta) rows —
        # parquet column pruning skips the blob bytes — and the manifest
        # rows, the empty-partition backfill and the run totals all derive
        # from them on the driver.  Read ONLY this run's blob directory: a
        # whole-tree read would re-list every historical run's files
        # (O(store) metadata I/O per encode on an object store) just to
        # filter them out.
        run_blobs = read_rows(
            spark,
            f"{blobs_path(out_dir)}/run_id={run_id}",
            ENCODED_SCHEMA,
            ["part_id", "meta"],
        )
        # A run whose pending parts were ALL empty writes no blob rows, so
        # its run_id= directory never materializes — and ONLY that case (a
        # missing path, the one failure read_rows maps to None) may commit
        # nothing but empties.  Any other failure (transient FS error,
        # corrupt footer, executor death) re-raises: swallowing it would
        # durably commit status='ok' codec='empty' manifest rows for
        # partitions that DO hold data — silent loss that resume then
        # treats as complete.
        written = [
            (r["part_id"], json.loads(r["meta"])) for r in run_blobs or []
        ]
        # A planned partition can legitimately receive ZERO docs (a salted
        # hot source whose few doc-id hashes don't cover every salt
        # bucket).  The kernel yields no blob row for it, so without a
        # manifest row resume would re-plan it forever: skipped < n_parts
        # on every re-run, each appending a new running marker that never
        # commits — permanently blocking vacuum/compact.  Commit empty
        # partitions as zero-row ok facts instead (no blob; decode's join
        # to blobs skips them).
        empty_ids = sorted(
            set(range(n_parts)) - done_ids - {p for p, _ in written}
        )
        now = datetime.datetime.now(datetime.timezone.utc)
        append_manifest(
            spark,
            out_dir,
            f"ok-{run_id}-{uuid.uuid4().hex[:8]}.parquet",
            [
                {"run_id": run_id, "snapshot_id": snapshot_id,
                 "part_id": p, **meta, "status": "ok", "finished_at": now}
                for p, meta in written + [(p, _EMPTY_META) for p in empty_ids]
            ],
        )

    def total(key: str):
        return sum(meta[key] for _, meta in written)

    return {
        "run_id": run_id,
        "snapshot_id": snapshot_id,
        "n_parts_planned": n_parts,
        "n_parts_skipped_resume": skipped,
        "n_parts_empty": len(empty_ids),
        "n_parts_encoded": len(written),
        "n_docs": total("n_docs"),
        "n_tokens": total("n_tokens"),
        "raw_bytes": total("raw_bytes"),
        "comp_bytes": total("comp_bytes"),
        "encode_cpu_s": float(total("encode_s")),
    }
