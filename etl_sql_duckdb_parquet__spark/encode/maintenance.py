"""Store maintenance: compaction + vacuum (Iceberg-style housekeeping).

A streaming-ingested store accumulates one snapshot per micro-batch
(epoch-scoped, ``streaming/incremental.py``); each is correct but small —
after N waves a ``decode(snapshots="all")`` unions N snapshots' blobs.
``compact_store`` re-encodes the union as ONE new snapshot (full-size
partitions, fresh codec selection over the merged value distribution);
``vacuum_store`` then drops everything the latest snapshot superseded —
old run directories under ``blobs/`` and their manifest rows (ok, plan
and marker rows alike).  This is the maintenance loop the reference's
background scheduler performed for its Parquet outputs
(``src/scheduler.py:17-131``), reshaped for the snapshot/manifest store.

Scale design: compaction is just decode→encode — both ends are the
distributed mapInArrow engine, no driver data path; vacuum touches only
metadata (the manifest) plus directory deletes.  Readers must still be
quiesced (same contract as Iceberg's ``expire_snapshots``), but writers
are guarded: every encode run appends a ``status='running'`` manifest
marker before moving blob bytes, and vacuum refuses (without ``force``,
which also clears stale markers) while ANY uncommitted run exists — an
in-flight encode can't have its blobs reclaimed out from under it, and
marker age proves nothing (markers carry run-START times).  The marker
check is re-run immediately before the manifest swap, shrinking the
check-then-act window to milliseconds; a writer starting inside THAT
window is a quiesce violation (the same residual contract as Iceberg's
``expire_snapshots``), not something a lockless filesystem store can
exclude.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

from .decode_job import decode_token_table
from .encode_job import DEFAULT_TARGET_TOKENS, encode_token_table
from .manifest import (
    MANIFEST_SCHEMA,
    blobs_path,
    filesystem_path,
    manifest_path,
    manifest_rows,
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


def _is_compacted(snapshot_id: str) -> bool:
    return snapshot_id.endswith("-compact")


def _uncommitted_runs(rows) -> list[str]:
    """Run ids with a running marker and no ok rows: in flight, or
    crashed (marker timestamps are run-START times, so age proves
    nothing)."""
    committed = {r["run_id"] for r in rows if r["status"] == "ok"}
    return sorted(
        {
            r["run_id"]
            for r in rows
            if r["status"] == "running" and r["run_id"] not in committed
        }
    )


def compact_store(
    spark: SparkSession,
    out_dir: str,
    target_tokens: int = DEFAULT_TARGET_TOKENS,
    vacuum: bool = True,
) -> dict:
    """Merge every snapshot into one, then (by default) vacuum.

    No-ops (returns ``{"compacted": False, ...}``) when the store already
    holds a single snapshot.  The compacted snapshot's id is
    content-addressed with a ``compact`` salt, so re-compacting an
    unchanged store resumes to a no-op instead of re-encoding.

    ``vacuum=False`` defers the cleanup, but then the old snapshots AND
    the compacted one coexist — ``decode(snapshots="all")`` double-counts
    in that state, and a second compact would re-union both, encode the
    doubled content as the new latest snapshot, and let its vacuum delete
    the clean originals.  Guarded: compacting a store that already holds
    a compacted snapshot alongside OLDER snapshots raises — vacuum first.
    Likewise, ``vacuum=True`` validates EVERY vacuum precondition BEFORE
    the merge encode — filesystem store AND no uncommitted running
    markers — so the auto-vacuum can't fail afterwards and strand the
    store in that half-compacted state.
    """
    # one manifest read serves the in-flight guard and the per-snapshot
    # FIRST- and LAST-commit times (from which the snapshot list derives)
    rows = manifest_rows(
        spark, out_dir, ["run_id", "snapshot_id", "status", "finished_at"]
    )
    if rows is None:
        raise FileNotFoundError(f"no manifest under {out_dir}")
    if vacuum:
        _require_filesystem(out_dir)
        pre_inflight = _uncommitted_runs(rows)
        if pre_inflight:
            raise RuntimeError(
                f"uncommitted encode run(s) {pre_inflight} exist under "
                f"{out_dir} — the post-merge vacuum would refuse, leaving "
                "the store half-compacted; wait for them to commit, clear "
                "crashed markers with vacuum_store(force=True), or compact "
                "with vacuum=False"
            )
    birth_ts, last_ts = {}, {}
    for r in rows:
        if r["status"] == "ok":
            snap, t = r["snapshot_id"], r["finished_at"]
            birth_ts[snap] = min(birth_ts.get(snap, t), t)
            last_ts[snap] = max(last_ts.get(snap, t), t)
    snaps = sorted(birth_ts)
    if len(snaps) <= 1:
        return {"compacted": False, "n_snapshots": len(snaps)}
    # Half-compacted detection must NOT fire on the normal maintenance
    # cycle (compact → vacuum → more epochs land → compact again), where
    # the previous compaction legitimately survives as the OLDEST snapshot
    # (the additive base).  The hazard state is a compacted snapshot with
    # anything BORN EARLIER next to it: those snapshots' committed
    # partitions are (at least partly) inside the compaction, so the
    # union would double-count them.  Birth = MIN(finished_at): a crashed
    # epoch that was merged half-committed and then RESUMED after the
    # compaction keeps its early birth stamp, so it still trips the guard
    # (its max(finished_at) would not).
    stale = sorted(
        c
        for c in snaps
        if _is_compacted(c)
        and any(birth_ts[s] < birth_ts[c] for s in snaps if s != c)
    )
    if stale:
        latest = max(snaps, key=lambda s: last_ts[s])
        remedy = (
            "run vacuum_store() first (the compacted snapshot is the "
            "latest, so no force is needed)"
            if _is_compacted(latest)
            else (
                "newer ingest epochs landed on top of the half-compacted "
                "state, so vacuum would drop them or the base — recover "
                "by decoding each non-superseded snapshot and re-encoding "
                "into a fresh store"
            )
        )
        raise RuntimeError(
            f"store under {out_dir} holds compacted snapshot(s) {stale} "
            "alongside OLDER snapshots (a previous compact ran with "
            "vacuum=False or its vacuum failed) — decode(snapshots='all') "
            "double-counts in this state and re-compacting would encode "
            f"the doubled union; {remedy}"
        )
    union = decode_token_table(spark, out_dir, snapshots="all")
    stats = encode_token_table(
        spark,
        union,
        out_dir,
        target_tokens=target_tokens,
        resume=True,
        snapshot_salt="compact",
    )
    result = {
        "compacted": True,
        "n_snapshots_merged": len(snaps),
        **{f"encode_{k}": v for k, v in stats.items()},
    }
    if vacuum:
        result["vacuum"] = vacuum_store(spark, out_dir, _compacted=True)
    return result


def vacuum_store(
    spark: SparkSession,
    out_dir: str,
    force: bool = False,
    _compacted: bool = False,
) -> dict:
    """Keep only the latest snapshot; reclaim everything it superseded.

    Deletes blob ``run_id=...`` directories not referenced by the latest
    snapshot and rewrites the manifest to that snapshot's ok and plan
    rows.  After vacuum,
    ``decode(snapshots="all") == decode(snapshots="latest")``.

    Two refusal guards (both overridable with ``force=True``):

    - **additive epochs**: on a multi-snapshot store whose latest snapshot
      is NOT a compaction, earlier snapshots are additive ingest batches
      (each holds its own documents), not superseded versions — vacuuming
      would silently drop data from ``decode(snapshots="all")``.  Run
      :func:`compact_store` (which merges, then vacuums) instead, or pass
      ``force=True`` if the latest snapshot really supersedes the rest
      (e.g. the same table re-encoded after an input change).
    - **in-flight runs**: a run that appended its ``status='running'``
      marker but no ok rows yet may still be writing blobs (marker
      timestamps are run-START times, so age proves nothing) —
      reclaiming its ``run_id=`` directory would corrupt it.  If the run
      actually crashed, pass ``force=True`` (which also clears the stale
      marker).

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
    ok_rows = [r for r in rows if r["status"] == "ok"]
    if not ok_rows:
        raise ValueError(f"no status='ok' manifest rows under {out_dir}")
    snap = max(ok_rows, key=lambda r: (r["finished_at"], r["run_id"]))[
        "snapshot_id"
    ]
    ok_snaps = {r["snapshot_id"] for r in ok_rows}
    if len(ok_snaps) > 1 and not (_is_compacted(snap) or _compacted or force):
        raise RuntimeError(
            f"store under {out_dir} holds {len(ok_snaps)} snapshots and the "
            f"latest ({snap}) is not a compaction — earlier snapshots are "
            "additive ingest epochs, so vacuuming would drop their data "
            "from decode(snapshots='all'); run compact_store() instead, or "
            "vacuum_store(force=True) if the latest truly supersedes them"
        )
    committed = {r["run_id"] for r in ok_rows}
    # ANY running marker without committed rows counts as in-flight —
    # marker timestamps are run-START times, so comparing them against
    # the kept snapshot's commit time would miss a long-running encode
    # that started before the kept snapshot committed (and is still
    # writing blobs).  The cost is that a crashed run's stale marker
    # blocks vacuum until force=True; that is the safe direction.
    inflight = _uncommitted_runs(rows)
    if inflight and not force:
        raise RuntimeError(
            f"uncommitted encode run(s) {inflight} exist under {out_dir} — "
            "an in-flight encode's blobs would be reclaimed mid-write; "
            "wait for it to commit, or vacuum_store(force=True) if it "
            "actually crashed (force also clears its stale marker)"
        )
    keep_runs = {
        r["run_id"] for r in ok_rows if r["snapshot_id"] == snap
    }

    # Re-check for writers that appended their running marker AFTER the
    # first manifest read (the guard above is check-then-act — a fresh
    # encode starting mid-vacuum would have its marker silently dropped by
    # the rewrite and its blob dir reclaimed by the deletion loop).
    # Nothing destructive has happened yet, so refusing here is free; the
    # re-read is a driver-side file read (milliseconds, no Spark job), and
    # the remaining race window is the time between it and the rename
    # below, which — like Iceberg's expire_snapshots — is a documented
    # quiesce requirement, not a guarantee this filesystem store can
    # provide.
    late = manifest_rows(spark, out_dir, ["run_id", "status"]) or []
    late_ids = sorted(
        {
            r["run_id"]
            for r in late
            if r["status"] == "running" and r["run_id"] not in committed
        }
        - set(inflight)
    )
    if late_ids and not force:
        raise RuntimeError(
            f"encode run(s) {late_ids} started while this vacuum was "
            f"running under {out_dir} — aborting before the manifest "
            "swap; re-run vacuum after they commit"
        )

    # rewrite the manifest to the surviving snapshot's rows (write-new,
    # swap, drop-old; manifest is metadata-sized)
    mpath = manifest_path(local)
    tmp = mpath + "_vacuum_tmp"
    old = mpath + "_vacuum_old"
    shutil.rmtree(tmp, ignore_errors=True)
    # a leftover _vacuum_old from a completed earlier swap is safe to
    # discard (mpath already holds the rewritten manifest) — and os.rename
    # below cannot replace a non-empty directory, so clear it first
    shutil.rmtree(old, ignore_errors=True)
    # keep the surviving snapshot's ok and plan rows (every other
    # snapshot's plan rows go with it), minus ALL running markers: after
    # a successful vacuum no uncommitted run survives by construction
    # (the in-flight guard above, or force), and committed runs' markers
    # serve no further purpose — carrying them through the rewrite would
    # leave permanent cruft every manifest reader must filter.
    write_rows(
        spark,
        tmp,
        f"vacuum-{snap}.parquet",
        [
            r
            for r in rows
            if r["snapshot_id"] == snap and r["status"] != "running"
        ],
        MANIFEST_SCHEMA,
    )
    os.rename(mpath, old)
    os.rename(tmp, mpath)
    shutil.rmtree(old)

    # drop superseded blob run directories
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
