"""Store maintenance: compaction + vacuum (Iceberg-style housekeeping).

A streaming-ingested store accumulates one snapshot per micro-batch
(epoch-scoped, ``streaming/incremental.py``); each is correct but small —
after N waves a ``decode(snapshots="all")`` unions N snapshots' blobs.
``compact_store`` re-encodes the live partitions as ONE new snapshot
(full-size partitions, fresh codec selection over the merged value
distribution) and records each absorbed partition as a ``status='merge'``
manifest row, like an Iceberg ``replace`` snapshot; once it commits,
those partitions are no longer live (:func:`manifest.live_rows`), so the
store decodes each doc once, vacuumed or not.  ``vacuum_store`` then
reclaims the absorbed runs — directories under ``blobs/`` and manifest
rows — and keeps every live snapshot.  This is the maintenance loop the
reference's background scheduler performed for its Parquet outputs
(``src/scheduler.py:17-131``), reshaped for the snapshot/manifest store.

Scale design: compaction is just decode→encode — both ends are the
distributed mapInArrow engine, no driver data path; vacuum touches only
metadata (the manifest) plus directory deletes.  Readers must still be
quiesced (same contract as Iceberg's ``expire_snapshots``), but writers
are guarded: every encode run appends a ``status='running'`` manifest
marker before moving blob bytes (a compaction's merge rows, written
before its encode starts, mark it too), and vacuum refuses (without
``force``, which also clears stale markers) while ANY uncommitted run
exists — an in-flight encode can't have its blobs reclaimed out from
under it, and marker age proves nothing (markers carry run-START times).
The marker check is re-run immediately before the manifest swap,
shrinking the check-then-act window to milliseconds; a writer starting
inside THAT window is a quiesce violation (the same residual contract as
Iceberg's ``expire_snapshots``), not something a lockless filesystem
store can exclude.
"""

from __future__ import annotations

import datetime
import os
import shutil

from pyspark.sql import SparkSession

from .decode_job import decode_blobs, scan_winners
from .encode_job import DEFAULT_TARGET_TOKENS, encode_token_table
from .manifest import (
    MANIFEST_SCHEMA,
    append_manifest,
    blobs_path,
    filesystem_path,
    live_rows,
    manifest_path,
    manifest_rows,
    new_run_id,
    recency,
    winners,
    write_rows,
)


def _require_filesystem(out_dir: str) -> str:
    local = filesystem_path(out_dir)
    if local is None:
        raise NotImplementedError(
            "vacuum_store operates on filesystem stores; for object "
            "stores run it from a host with the store mounted, or prune "
            "via the object-store's own lifecycle tooling"
        )
    return local


def _uncommitted_runs(rows) -> list[str]:
    """Run ids with a running marker or merge rows and no ok rows: in
    flight, or crashed (marker timestamps are run-START times, so age
    proves nothing)."""
    committed = {r["run_id"] for r in rows if r["status"] == "ok"}
    return sorted(
        {
            r["run_id"]
            for r in rows
            if r["status"] in ("running", "merge")
            and r["run_id"] not in committed
        }
    )


def compact_store(
    spark: SparkSession,
    out_dir: str,
    target_tokens: int = DEFAULT_TARGET_TOKENS,
    vacuum: bool = True,
) -> dict:
    """Merge every live snapshot into one, then (by default) vacuum.

    No-ops (returns ``{"compacted": False, ...}``) when the store holds
    at most one live snapshot.  The compacted snapshot's id is
    content-addressed with a ``compact`` salt.

    Before the merge encode, one ``status='merge'`` row per live
    partition records what it absorbs, under the run id the encode
    commits with; the merge counts once that run has ok rows.  So a
    crash before the commit changes nothing live, and ``vacuum=False``
    leaves a store that decodes and re-compacts exactly.  With
    ``vacuum=True`` the vacuum's preconditions (a filesystem store, no
    uncommitted runs) are checked first: that only saves a merge whose
    vacuum would refuse.
    """
    # one manifest read serves the in-flight pre-check, the live set,
    # the merge rows and the union decode's winners
    rows = manifest_rows(spark, out_dir)
    if rows is None:
        raise FileNotFoundError(f"no manifest under {out_dir}")
    if vacuum:
        _require_filesystem(out_dir)
        pre_inflight = _uncommitted_runs(rows)
        if pre_inflight:
            raise RuntimeError(
                f"uncommitted encode run(s) {pre_inflight} exist under "
                f"{out_dir} — the post-merge vacuum would refuse; wait "
                "for them to commit, clear crashed markers with "
                "vacuum_store(force=True), or compact with vacuum=False"
            )
    live = live_rows(rows)
    snaps = {r["snapshot_id"] for r in live}
    if len(snaps) <= 1:
        return {"compacted": False, "n_snapshots": len(snaps)}
    run_id = new_run_id()
    now = datetime.datetime.now(datetime.timezone.utc)
    append_manifest(
        spark,
        out_dir,
        f"merge-{run_id}.parquet",
        [
            {"run_id": run_id, "snapshot_id": r["snapshot_id"],
             "part_id": r["part_id"], "status": "merge", "finished_at": now}
            for r in winners(live)
        ],
    )
    stats = encode_token_table(
        spark,
        decode_blobs(scan_winners(spark, out_dir, live)),
        out_dir,
        target_tokens=target_tokens,
        resume=True,
        run_id=run_id,
        snapshot_salt="compact",
    )
    result = {
        "compacted": True,
        "n_snapshots_merged": len(snaps),
        **{f"encode_{k}": v for k, v in stats.items()},
    }
    if vacuum:
        result["vacuum"] = vacuum_store(spark, out_dir)
    return result


def vacuum_store(
    spark: SparkSession, out_dir: str, force: bool = False
) -> dict:
    """Reclaim every run no live partition needs; keep every live
    snapshot.

    A run is kept while it holds a live winner (:func:`manifest.live_rows`):
    its ``run_id=`` directory and ok rows stay, with the plan rows of
    every snapshot that holds one.  Every other run — those a committed
    compaction absorbed, and a re-run's superseded predecessor — loses
    its directory and ok rows; merge rows and running markers go too.
    ``decode(snapshots="all")`` reads the same docs before and after, so
    a store no compaction touched loses nothing.  ``kept_snapshot`` is
    the latest live snapshot.

    In-flight runs: a run that appended its ``status='running'`` marker
    (or a compaction's merge rows) but no ok rows yet may still be
    writing blobs (marker timestamps are run-START times, so age proves
    nothing) — reclaiming its ``run_id=`` directory would corrupt it.
    Vacuum refuses while one exists; if the run actually crashed, pass
    ``force=True``, which also clears its marker and merge rows.

    The manifest swap is write-new → rename-old-away → rename-new-in; a
    crash between the two renames leaves the store readable by renaming
    ``manifest_vacuum_old`` back (blobs are only deleted after the swap
    completes, so no data is at risk in that window), and the next vacuum
    clears any leftover ``_vacuum_old`` from a completed swap before
    re-renaming.
    """
    local = _require_filesystem(out_dir)
    # ONE manifest read serves every guard below AND the survivors
    # rewrite (metadata-sized: O(partitions); finished_at stays UTC)
    rows = manifest_rows(spark, out_dir)
    if rows is None:
        raise FileNotFoundError(f"no manifest under {out_dir}")
    live = winners(live_rows(rows))
    if not live:
        raise ValueError(f"no status='ok' manifest rows under {out_dir}")
    # ANY uncommitted run counts as in-flight — marker timestamps are
    # run-START times, so no age test can tell a long-running encode from
    # a crashed one; a stale marker blocks vacuum until force=True, the
    # safe direction.
    inflight = _uncommitted_runs(rows)
    if inflight and not force:
        raise RuntimeError(
            f"uncommitted encode run(s) {inflight} exist under {out_dir} — "
            "an in-flight encode's blobs would be reclaimed mid-write; "
            "wait for it to commit, or vacuum_store(force=True) if it "
            "actually crashed (force also clears its stale marker)"
        )
    snap = max(live, key=recency)["snapshot_id"]
    keep_runs = {r["run_id"] for r in live}
    keep_snaps = {r["snapshot_id"] for r in live}
    # survivors: the kept runs' ok rows and the live snapshots' plan
    # rows.  No merge row is needed: a snapshot's first run commits all
    # its parts in one append, so a merge absorbs all of a run's parts or
    # none, and every absorbed run goes.  No running marker: no
    # uncommitted run survives (the in-flight guard above, or force).
    survivors = [
        r
        for r in rows
        if (r["status"] == "ok" and r["run_id"] in keep_runs)
        or (r["status"] == "plan" and r["snapshot_id"] in keep_snaps)
    ]

    # Re-check for runs that wrote manifest rows AFTER the first read
    # (the guard above is check-then-act — a fresh encode or compaction
    # starting mid-vacuum would have its rows silently dropped by the
    # rewrite and its blob dir reclaimed by the deletion loop).  Nothing
    # destructive has happened yet, so refusing here is free; the re-read
    # is a driver-side file read (milliseconds, no Spark job), and the
    # window between it and the rename below is, like Iceberg's
    # expire_snapshots, a documented quiesce requirement.
    late = manifest_rows(spark, out_dir, ["run_id"]) or []
    late_ids = sorted(
        {r["run_id"] for r in late} - {r["run_id"] for r in rows}
    )
    if late_ids and not force:
        raise RuntimeError(
            f"encode run(s) {late_ids} started while this vacuum was "
            f"running under {out_dir} — aborting before the manifest "
            "swap; re-run vacuum after they commit"
        )

    # rewrite the manifest to the survivors (write-new, swap, drop-old;
    # manifest is metadata-sized)
    mpath = manifest_path(local)
    tmp = mpath + "_vacuum_tmp"
    old = mpath + "_vacuum_old"
    shutil.rmtree(tmp, ignore_errors=True)
    # a leftover _vacuum_old from a completed earlier swap is safe to
    # discard (mpath already holds the rewritten manifest) — and os.rename
    # below cannot replace a non-empty directory, so clear it first
    shutil.rmtree(old, ignore_errors=True)
    write_rows(
        spark, tmp, f"vacuum-{snap}.parquet", survivors, MANIFEST_SCHEMA
    )
    os.rename(mpath, old)
    os.rename(tmp, mpath)
    shutil.rmtree(old)

    # drop the run directories no live partition needs
    bdir = blobs_path(local)
    bytes_reclaimed = 0
    n_deleted = 0
    for entry in os.listdir(bdir):
        if not entry.startswith("run_id="):
            continue
        if entry.split("=", 1)[1] in keep_runs:
            continue
        victim = os.path.join(bdir, entry)
        for root, _dirs, files in os.walk(victim):
            bytes_reclaimed += sum(
                os.path.getsize(os.path.join(root, f)) for f in files
            )
        shutil.rmtree(victim)
        n_deleted += 1

    return {
        "kept_snapshot": snap,
        "n_runs_kept": len(keep_runs),
        "n_run_dirs_deleted": n_deleted,
        "bytes_reclaimed": bytes_reclaimed,
    }
