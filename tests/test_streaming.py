"""Incremental (Structured Streaming) encode: files landing in two waves
must each be encoded exactly once, and append-mode decode of the
accumulated store must be bit-identical to the union of the inputs.
"""

from __future__ import annotations

import os
import shutil
import sys
from types import SimpleNamespace

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_sql_duckdb_parquet__spark.encode.decode_job import (  # noqa: E402
    decode_token_table,
    verify_roundtrip,
)
from etl_sql_duckdb_parquet__spark.encode.synth import (  # noqa: E402
    synth_token_table,
)
from etl_sql_duckdb_parquet__spark.streaming import (  # noqa: E402
    run_available_now,
)
from etl_sql_duckdb_parquet__spark.streaming._drain import (  # noqa: E402
    DrainMetricsListener,
    drain_available_now,
)


def _wave(spark, n_docs: int, seed: int, prefix: str):
    """A deterministic batch of docs with ids disjoint across seeds."""
    return synth_token_table(spark, n_docs, seed=seed).withColumn(
        "doc_id", F.concat(F.lit(prefix), F.col("doc_id"))
    )


def _land_one_file_per_batch(spark, tmp_path, name, batches, schema):
    """Land each batch of rows as one parquet file ``f{i}.parquet`` under
    ``tmp_path/name``, with increasing mtimes: the file source reads them
    in that order, one per micro-batch under ``maxFilesPerTrigger=1``."""
    landing = tmp_path / name
    landing.mkdir()
    for i, rows in enumerate(batches):
        stage = str(tmp_path / f"{name}_stage{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(stage)
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        dst = landing / f"f{i}.parquet"
        shutil.copy(os.path.join(stage, part), dst)
        os.utime(dst, (1_700_000_000 + i * 100,) * 2)
    return str(landing)


def _progress(run_id, rows, dropped=0):
    """A listener progress event as the Py4J bridge delivers it."""

    class Progress(dict):
        pass

    p = Progress(
        numInputRows=rows,
        stateOperators=[{"numRowsDroppedByWatermark": dropped}],
    )
    p.runId = run_id
    return SimpleNamespace(progress=p)


def _terminated(run_id):
    return SimpleNamespace(runId=run_id)


def test_incremental_encode_two_waves_bit_identical(spark, tmp_path):
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "encoded")

    w1 = _wave(spark, 300, seed=1, prefix="w1_")
    w1.write.parquet(landing)  # wave 1 lands
    run_available_now(spark, landing, out, target_tokens=20_000)

    n_snapshots_after_w1 = (
        spark.read.parquet(os.path.join(out, "manifest"))
        .select("snapshot_id")
        .distinct()
        .count()
    )
    assert n_snapshots_after_w1 == 1

    w2 = _wave(spark, 200, seed=2, prefix="w2_")
    w2.write.mode("append").parquet(landing)  # wave 2 lands later
    run_available_now(spark, landing, out, target_tokens=20_000)

    # the second drain must only have consumed wave-2 files (streaming
    # checkpoint), producing exactly one more snapshot
    manifest = spark.read.parquet(os.path.join(out, "manifest"))
    assert manifest.select("snapshot_id").distinct().count() == 2

    # append-mode decode == union of both waves, token arrays bit-identical
    decoded = decode_token_table(spark, out, snapshots="all")
    src = w1.unionByName(w2)
    report = verify_roundtrip(src, decoded)
    assert report["ok"], report
    assert report["n_union"] == 500


def test_content_identical_waves_are_distinct_snapshots(spark, tmp_path):
    """Two DIFFERENT micro-batches with identical content (legit duplicate
    shards landing twice) must BOTH encode: the snapshot id is epoch-
    scoped, so content-addressing alone can't resume-skip the second wave.
    decode(all) is then the exact union of the inputs, duplicates included.
    """
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "encoded")
    w = _wave(spark, 120, seed=7, prefix="dup_")

    w.write.parquet(landing)
    run_available_now(spark, landing, out, target_tokens=20_000)
    w.write.mode("append").parquet(landing)  # same content, new files
    run_available_now(spark, landing, out, target_tokens=20_000)

    manifest = spark.read.parquet(os.path.join(out, "manifest"))
    assert manifest.select("snapshot_id").distinct().count() == 2

    decoded = decode_token_table(spark, out, snapshots="all")
    agg = decoded.agg(
        F.count("*").alias("n"),
        F.sum(F.expr("aggregate(tokens, 0L, (a, x) -> a + x)")).alias("s"),
    ).first()
    src = w.agg(
        F.count("*").alias("n"),
        F.sum(F.expr("aggregate(tokens, 0L, (a, x) -> a + x)")).alias("s"),
    ).first()
    assert agg["n"] == 2 * src["n"]
    assert agg["s"] == 2 * src["s"]


def test_streaming_cli_two_waves(spark, tmp_path):
    """The spark-submit surface: `encode.cli --stream-input-dir` drains a
    landing dir exactly-once per invocation and verifies decode(all)
    against the full landing contents."""
    from etl_sql_duckdb_parquet__spark.encode.cli import main

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "encoded")

    _wave(spark, 150, seed=11, prefix="c1_").write.parquet(landing)
    stats1 = main([
        "--stream-input-dir", landing, "--out", out,
        "--target-tokens", "20000", "--skip-reference",
    ])
    assert stats1["mode"] == "stream_available_now"
    assert stats1["verified_ok"], stats1

    _wave(spark, 100, seed=12, prefix="c2_").write.mode("append").parquet(
        landing
    )
    stats2 = main([
        "--stream-input-dir", landing, "--out", out,
        "--target-tokens", "20000", "--skip-reference",
    ])
    assert stats2["verified_ok"], stats2
    assert stats2["verify"]["n_union"] == 250

    manifest = spark.read.parquet(os.path.join(out, "manifest"))
    assert manifest.select("snapshot_id").distinct().count() == 2


def test_incremental_encode_rerun_is_noop(spark, tmp_path):
    """Draining again with no new files must not add snapshots or blobs."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "encoded")
    _wave(spark, 150, seed=3, prefix="w3_").write.parquet(landing)

    run_available_now(spark, landing, out, target_tokens=20_000)
    manifest_path = os.path.join(out, "manifest")
    rows_before = spark.read.parquet(manifest_path).count()

    run_available_now(spark, landing, out, target_tokens=20_000)
    assert spark.read.parquet(manifest_path).count() == rows_before


def test_watermark_drops_late_events_across_batches(spark, tmp_path):
    """Append-mode windowed agg + 1h watermark (the q57 pipeline shape):
    an event arriving after its window was flushed in an earlier
    micro-batch must be dropped by the watermark — the finalized window
    keeps its on-time count and no duplicate window row is emitted."""
    from datetime import datetime

    def _ev(h, m):
        return (datetime(2024, 1, 1, h, m), "click", 1.0)

    waves = [
        # batch 0: hours 0-5 on time -> end-of-batch watermark 4:30
        [_ev(h, m) for h in range(6) for m in (10, 20, 30)],
        # batch 1: one on-time event; flushes hours 0-3 under wm 4:30
        [_ev(5, 40)],
        # batch 2: 1:40 is late (window already flushed+evicted) and must
        # be dropped; 7:10 advances the watermark so hours 4-5 flush
        [_ev(1, 40), _ev(7, 10)],
    ]
    landing = _land_one_file_per_batch(
        spark, tmp_path, "wm_landing", waves,
        "ts timestamp_ntz, event_type string, value double",
    )

    def hourly(src):
        src = src.withColumn("ts", F.col("ts").cast("timestamp"))
        return (
            src.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("win"))
            .agg(F.count("*").alias("n_events"))
            .select(F.hour(F.col("win.start")).alias("h"), "n_events")
        )

    metrics, emitted = drain_available_now(
        spark, landing, hourly, memory_view="wm_late_",
        options={"maxFilesPerTrigger": 1},  # one file per micro-batch
    )
    rows = emitted.collect()
    # the listener saw every row of the three data batches, and the state
    # operator's one watermark drop
    assert (metrics.input_rows, metrics.data_batches) == (21, 3)
    assert metrics.dropped_by_watermark == 1
    got = sorted((r["h"], r["n_events"]) for r in rows)
    # hour 1 keeps its on-time count of 3 (late 1:40 dropped, counted by
    # the state operator), hour 5 includes the on-time 5:40, hour 7 stays
    # open (not emitted), and no window appears twice
    assert got == [(0, 3), (1, 3), (2, 3), (3, 3), (4, 3), (5, 4)]


def test_q57_twice_in_one_session_is_identical(spark):
    """Driver-session reuse hazard: q57 mutates the session timezone
    (set-and-restore) and registers a memory sink per call — a second
    invocation in the same session must drop the previous sink, re-run the
    stream, and produce the identical finalized-window set."""
    from etl_sql_duckdb_parquet__spark.queries.streaming_agg import (
        q57_streaming_hourly_rollup,
    )

    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01"
    )
    first = q57_streaming_hourly_rollup(spark, sf_dir).collect()
    views_after_first = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("q57_mem_")
    ]
    second = q57_streaming_hourly_rollup(spark, sf_dir).collect()
    views_after_second = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("q57_mem_")
    ]
    assert first == second and len(first) > 0
    # sink cleanup: exactly one live q57 view, and not the first one
    assert len(views_after_first) == 1 and len(views_after_second) == 1
    assert views_after_first[0] != views_after_second[0]


def test_q64_twice_in_one_session_is_identical(spark):
    """Same session-reuse guard for the stateful-sessionization query:
    each invocation must use a FRESH checkpoint + memory sink (stale state
    from a previous run would withhold every already-emitted session) and
    reproduce the identical gap/timeout-closed set."""
    from etl_sql_duckdb_parquet__spark.queries.streaming_agg import (
        q64_streaming_sessions,
    )

    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01"
    )
    first = q64_streaming_sessions(spark, sf_dir).collect()
    second = q64_streaming_sessions(spark, sf_dir).collect()
    assert first == second and len(first) > 0
    by = {r["closed_by"] for r in first}
    assert by == {"gap", "timeout"}
    views = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("q64_mem_")
    ]
    assert len(views) == 1


def test_drain_listener_counts_data_batches():
    """q64's one-data-batch invariant reads ``data_batches``: progress
    events that read no rows (the trailing watermark-only batches) are not
    data batches, and another run's events, before or after the bind,
    never count."""
    m = DrainMetricsListener()
    m.onQueryProgress(_progress("other", 9))
    m.onQueryProgress(_progress("own", 0))
    m.bind("own")
    m.onQueryProgress(_progress("own", 5))
    m.onQueryProgress(_progress("other", 4))
    m.onQueryProgress(_progress("own", 0))
    assert (m.data_batches, m.input_rows) == (1, 5)
    m.onQueryProgress(_progress("own", 1))
    assert m.data_batches == 2


def test_drain_metrics_exact_past_progress_ring_buffer(spark, tmp_path):
    """The audit counters must stay exact when a drain outruns
    ``StreamingQuery.recentProgress`` (a ring buffer of the last
    ``spark.sql.streaming.numRecentProgressUpdates`` entries, default
    ~100): shrink the buffer to 3, drain 8 one-file micro-batches through
    the runner, and assert its listener counted all 8."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1, 0, 0)
    landing = _land_one_file_per_batch(
        spark, tmp_path, "rb_landing",
        [[(t0 + timedelta(minutes=i), "click", 1.0)] for i in range(8)],
        "ts timestamp_ntz, event_type string, value double",
    )

    def per_hour(src):
        src = src.withColumn("ts", F.col("ts").cast("timestamp"))
        return (
            src.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count("*").alias("n"))
        )

    conf = "spark.sql.streaming.numRecentProgressUpdates"
    rb_before = spark.conf.get(conf)
    spark.conf.set(conf, "3")
    try:
        metrics, _ = drain_available_now(
            spark, landing, per_hour, memory_view="rb_",
            options={"maxFilesPerTrigger": 1},
        )
    finally:
        spark.conf.set(conf, rb_before)
    assert (metrics.input_rows, metrics.data_batches) == (8, 8)


def test_drain_listener_keeps_events_before_bind():
    """The Py4J callback thread can deliver the query's own first
    progress, or even its termination, before ``bind(q.runId)``: those
    must count, while another query's events, before or after the bind,
    must not."""
    m = DrainMetricsListener()
    m.onQueryProgress(_progress("stale", 100, 7))
    m.onQueryTerminated(_terminated("stale"))
    m.onQueryProgress(_progress("own", 5, 1))
    m.bind("own")
    m.onQueryProgress(_progress("own", 3))
    m.onQueryProgress(_progress("stale", 50, 2))
    assert (m.input_rows, m.dropped_by_watermark) == (8, 1)
    assert not m.wait_terminated(0)
    m.onQueryTerminated(_terminated("own"))
    assert m.wait_terminated(0)

    early = DrainMetricsListener()
    early.onQueryProgress(_progress("own", 4))
    early.onQueryTerminated(_terminated("own"))
    early.bind("own")
    assert early.input_rows == 4 and early.wait_terminated(0)


def test_compact_and_vacuum_streamed_store(spark, tmp_path):
    """Two streamed waves → compact merges them into one snapshot and
    vacuum reclaims the superseded per-epoch blobs; decode(all) ==
    decode(latest) == the exact union, bit-identical."""
    from etl_sql_duckdb_parquet__spark.encode import (
        compact_store,
        lookup_docs,
        read_manifest,
    )

    landing = str(tmp_path / "mv_landing")
    out = str(tmp_path / "mv_encoded")
    w1 = _wave(spark, 150, seed=21, prefix="m1_")
    w1.write.parquet(landing)
    run_available_now(spark, landing, out, target_tokens=20_000)
    w2 = _wave(spark, 100, seed=22, prefix="m2_")
    w2.write.mode("append").parquet(landing)
    run_available_now(spark, landing, out, target_tokens=20_000)
    assert (
        read_manifest(spark, out).select("snapshot_id").distinct().count()
        == 2
    )

    result = compact_store(spark, out, target_tokens=20_000)
    assert result["compacted"] and result["n_snapshots_merged"] == 2
    assert result["vacuum"]["n_run_dirs_deleted"] >= 2
    assert result["vacuum"]["bytes_reclaimed"] > 0

    m = read_manifest(spark, out)
    assert m.select("snapshot_id").distinct().count() == 1
    # the plan lives in the manifest: no plan directory, and vacuum kept
    # only the kept snapshot's plan rows
    assert not os.path.exists(os.path.join(out, "plan"))
    plan_snaps = {
        r["snapshot_id"]
        for r in m.filter(F.col("status") == "plan").collect()
    }
    assert plan_snaps == {result["vacuum"]["kept_snapshot"]}
    union = w1.unionByName(w2)
    # a lookup of a doc from each merged epoch returns it bit-identically
    ids = [w1.first()["doc_id"], w2.first()["doc_id"]]
    want = sorted(
        union.filter(F.col("doc_id").isin(ids))
        .select("doc_id", "tokens", "n_tok", "source")
        .collect()
    )
    assert len(want) == 2
    assert sorted(lookup_docs(spark, out, ids).collect()) == want
    for mode in ("latest", "all"):
        v = verify_roundtrip(
            union, decode_token_table(spark, out, snapshots=mode)
        )
        assert v["ok"] and v["n_union"] == 250, (mode, v)

    # idempotent: compacting the already-compacted store is a no-op
    again = compact_store(spark, out, target_tokens=20_000)
    assert again == {"compacted": False, "n_snapshots": 1}

    # the normal maintenance CYCLE keeps working: new epochs land on top
    # of the vacuumed compaction (now the additive BASE, oldest snapshot)
    # and a second compact merges base + epochs
    w3 = _wave(spark, 80, seed=23, prefix="m3_")
    w3.write.mode("append").parquet(landing)
    run_available_now(spark, landing, out, target_tokens=20_000)
    cyc = compact_store(spark, out, target_tokens=20_000)
    assert cyc["compacted"] and cyc["n_snapshots_merged"] == 2
    v = verify_roundtrip(
        union.unionByName(w3),
        decode_token_table(spark, out, snapshots="all"),
    )
    assert v["ok"] and v["n_union"] == 330, v


def test_stateful_sessionization_across_drains(spark, tmp_path):
    """applyInPandasWithState sessionizer: two availableNow drains over
    one checkpoint must (a) resume the open session exactly where drain 1
    left it, (b) close it on a gap-exceeding event, and (c) evict a quiet
    user's session via event-time TIMEOUT once the watermark passes."""
    import datetime as dt

    from etl_sql_duckdb_parquet__spark.streaming.sessions import (
        run_sessionize_available_now,
    )

    def t(h, m):
        return dt.datetime(2024, 1, 1, h, m)

    landing = str(tmp_path / "sess_landing")
    ckpt = str(tmp_path / "sess_ckpt")
    out = str(tmp_path / "sess_out")
    schema = "ts timestamp_ntz, user_id long, value double"
    spark.createDataFrame(
        [(t(10, 0), 1, 1.0), (t(10, 5), 1, 2.0), (t(10, 0), 2, 5.0)],
        schema,
    ).write.parquet(landing)
    first = run_sessionize_available_now(
        spark,
        landing,
        ckpt,
        out,
        gap_seconds=1800,
        watermark="10 minutes",
        report_rows=100,
    )
    # nothing closes in wave 1: no gap exceeded, and the watermark
    # (10:05 − 10 min) is far below every timeout (last + 30 min)
    assert first["rows"] == [] and first["emitted_sessions"] == 0
    assert first["rows_dropped_by_watermark"] == 0

    # wave 2 carries one TOO-LATE event (9:30 < the checkpointed
    # watermark 10:05 − 10 min): it must be dropped pre-state and show
    # up in the per-drain audit count, never as a session
    spark.createDataFrame(
        [(t(10, 20), 1, 3.0), (t(13, 0), 1, 4.0), (t(9, 30), 3, 9.0)],
        schema,
    ).write.mode("append").parquet(landing)
    second = run_sessionize_available_now(
        spark,
        landing,
        ckpt,
        out,
        gap_seconds=1800,
        watermark="10 minutes",
        report_rows=100,
    )
    # report counts are computed DISTRIBUTED (no O(sessions) collect) and
    # must agree with the capped row sample
    assert second["emitted_sessions"] == 2
    assert second["emitted_by"] == {"gap": 1, "timeout": 1}
    assert second["rows_dropped_by_watermark"] == 1
    got = [
        (
            r["user_id"],
            r["session_start"],
            r["session_end"],
            r["n_events"],
            r["sum_value"],
            r["closed_by"],
        )
        for r in second["rows"]
    ]
    assert got == [
        # user 1: wave-2's 10:20 event EXTENDED the checkpointed open
        # session (10:00-10:05, 2 events) — proof the state store carried
        # it across drains — then 13:00 closed it by gap
        (1, t(10, 0), t(10, 20), 3, 6.0, "gap"),
        # user 2 went quiet: watermark (13:00 − 10 min) passed its
        # 10:00 + 30 min timeout → evicted with its single event
        (2, t(10, 0), t(10, 0), 1, 5.0, "timeout"),
    ]
    # user 1's new open session (13:00) is still held as state, not
    # emitted; user 3's late event never became a session
    assert all(r["session_start"] != t(13, 0) for r in second["rows"])
    assert all(r["user_id"] != 3 for r in second["rows"])
    # the rows cap truncates without touching the counts
    capped = run_sessionize_available_now(
        spark,
        landing,
        ckpt,
        out,
        gap_seconds=1800,
        watermark="10 minutes",
    )
    assert capped["rows"] is None  # counts-only by default


def test_vacuum_refuses_inflight_run_then_force(spark, tmp_path):
    """An encode run that appended its running marker but no ok rows yet
    must block vacuum (its blob dir would be reclaimed mid-write); decode
    stays bit-identical throughout, and force=True overrides."""
    import pytest

    from etl_sql_duckdb_parquet__spark.encode import vacuum_store
    from etl_sql_duckdb_parquet__spark.encode.encode_job import (
        encode_token_table,
    )
    from etl_sql_duckdb_parquet__spark.encode.manifest import (
        append_running_marker,
    )

    out = str(tmp_path / "if_encoded")
    df = _wave(spark, 120, seed=41, prefix="if_")
    stats = encode_token_table(spark, df, out, target_tokens=20_000)
    append_running_marker(
        spark, out, "run_inflight_sim", stats["snapshot_id"]
    )
    with pytest.raises(RuntimeError, match="run_inflight_sim"):
        vacuum_store(spark, out)
    assert verify_roundtrip(df, decode_token_table(spark, out))["ok"]
    vacuum_store(spark, out, force=True)
    assert verify_roundtrip(df, decode_token_table(spark, out))["ok"]
    # the forced vacuum's manifest rewrite dropped the uncommitted
    # marker, so the next vacuum runs clean (no force needed)
    vacuum_store(spark, out)


def test_vacuum_aborts_on_marker_appended_mid_vacuum(spark, tmp_path, monkeypatch):
    """A writer that lands its running marker AFTER vacuum's guard read
    but BEFORE the manifest swap must abort the vacuum (pre-swap
    re-check) — nothing destroyed, store still decodes, and force clears
    the marker afterwards."""
    import pytest

    from etl_sql_duckdb_parquet__spark.encode import maintenance
    from etl_sql_duckdb_parquet__spark.encode.encode_job import (
        encode_token_table,
    )
    from etl_sql_duckdb_parquet__spark.encode.manifest import (
        append_running_marker,
    )

    out = str(tmp_path / "mv_race")
    df = _wave(spark, 100, seed=51, prefix="rc_")
    stats = encode_token_table(spark, df, out, target_tokens=20_000)

    real = maintenance.manifest_rows
    calls = {"n": 0}

    def hooked(sp, od, *args):
        calls["n"] += 1
        if calls["n"] == 2:  # between the guard read and the swap
            append_running_marker(
                sp, od, "run_late_sim", stats["snapshot_id"]
            )
        return real(sp, od, *args)

    monkeypatch.setattr(maintenance, "manifest_rows", hooked)
    with pytest.raises(RuntimeError, match="run_late_sim"):
        maintenance.vacuum_store(spark, out)
    monkeypatch.undo()
    # nothing was swapped or deleted: the store still decodes exactly
    assert verify_roundtrip(df, decode_token_table(spark, out))["ok"]
    # the simulated crashed writer's marker now blocks clean vacuums
    with pytest.raises(RuntimeError, match="run_late_sim"):
        maintenance.vacuum_store(spark, out)
    maintenance.vacuum_store(spark, out, force=True)
    assert verify_roundtrip(df, decode_token_table(spark, out))["ok"]


def test_drain_sink_as_uri_matches_plain_path(spark, tmp_path):
    """The runner lists a parquet sink from its ``_spark_metadata`` commit
    log: a sink named by a ``file:`` URI, or by a URI of a non-``file``
    Hadoop filesystem (a ``viewfs`` mount of a local directory, standing
    in for an object store), reports exactly what the plain path reports,
    and a stray uncommitted part file planted in the sink before the
    second drain is never counted as emitted."""
    import datetime as dt
    import uuid

    from etl_sql_duckdb_parquet__spark.streaming import (
        run_dedup_available_now,
    )

    landing = str(tmp_path / "uri_landing")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    sch = "doc_id string, ts timestamp_ntz, value double"
    waves = [
        [("a", t0, 1.0), ("b", t0 + dt.timedelta(minutes=1), 2.0),
         ("a", t0 + dt.timedelta(minutes=2), 1.5)],
        [("c", t0 + dt.timedelta(minutes=3), 3.0),
         ("b", t0 + dt.timedelta(minutes=4), 2.0)],
    ]
    mount = f"drain{uuid.uuid4().hex[:8]}"
    spark.sparkContext._jsc.hadoopConfiguration().set(
        f"fs.viewfs.mounttable.{mount}.link./out",
        f"file://{tmp_path / 'viewfs_out'}",
    )
    sinks = {
        "plain": str(tmp_path / "plain_out"),
        "uri": f"file:{tmp_path / 'uri_out'}",
        "viewfs": f"viewfs://{mount}/out",
    }
    reports = {k: [] for k in sinks}
    for i, rows in enumerate(waves):
        spark.createDataFrame(rows, sch).write.mode("append").parquet(landing)
        for name, out in sinks.items():
            if i:
                # an uncommitted copy of a committed part file, as a
                # failed task attempt leaves one behind
                local = str(tmp_path / f"{name}_out")
                part = next(
                    f for f in sorted(os.listdir(local))
                    if f.endswith(".parquet")
                )
                shutil.copy(
                    os.path.join(local, part),
                    os.path.join(local, "part-99999-stray.c000.parquet"),
                )
            reports[name].append(
                run_dedup_available_now(
                    spark, landing, str(tmp_path / f"{name}_ckpt"), out
                )
            )
    assert reports["uri"] == reports["viewfs"] == reports["plain"] == [
        {"n_input_rows": 3, "n_emitted": 2, "n_duplicates_dropped": 1,
         "rows_dropped_by_watermark": 0},
        {"n_input_rows": 2, "n_emitted": 1, "n_duplicates_dropped": 1,
         "rows_dropped_by_watermark": 0},
    ]


def test_streaming_dedup_across_drains(spark, tmp_path, monkeypatch):
    """dropDuplicatesWithinWatermark-based feed dedup via the drain
    runner: an in-batch duplicate and a cross-drain re-delivery (state
    carried by the checkpoint) are both dropped and ACCOUNTED FOR in the
    metadata-sized audit report; a too-late row lands in the
    rows_dropped_by_watermark count; new keys pass through exactly once;
    the report reads only the drain's own sink files."""
    import datetime as dt

    from etl_sql_duckdb_parquet__spark.streaming import (
        _drain,
        run_dedup_available_now,
    )

    landing = str(tmp_path / "dd_landing")
    outdir = str(tmp_path / "dd_out")
    ckpt = str(tmp_path / "dd_ckpt")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    sch = "doc_id string, ts timestamp_ntz, value double"

    def drain():
        return run_dedup_available_now(
            spark,
            landing,
            ckpt,
            outdir,
            key_cols=["doc_id"],
            ts_col="ts",
            watermark="1 hour",
        )

    def sunk_ids():
        return {r["doc_id"] for r in spark.read.parquet(outdir).collect()}

    w1 = spark.createDataFrame(
        [
            ("d1", t0, 1.0),
            ("d2", t0 + dt.timedelta(minutes=1), 2.0),
            ("d1", t0 + dt.timedelta(minutes=2), 1.5),  # in-batch dup
            ("d3", t0 + dt.timedelta(minutes=3), 3.0),
        ],
        sch,
    )
    w1.write.parquet(landing)
    rep = drain()
    assert rep == {
        "n_input_rows": 4,
        "n_emitted": 3,
        "n_duplicates_dropped": 1,
        "rows_dropped_by_watermark": 0,
    }
    assert sunk_ids() == {"d1", "d2", "d3"}
    w2 = spark.createDataFrame(
        [
            ("d2", t0 + dt.timedelta(minutes=4), 2.0),  # re-delivery
            ("d4", t0 + dt.timedelta(minutes=5), 4.0),
            # too late: below the checkpointed watermark (12:03 − 1 h)
            ("d9", t0 - dt.timedelta(hours=2), 9.0),
        ],
        sch,
    )
    w2.write.mode("append").parquet(landing)
    emitted = []

    def spy(*args, **kwargs):
        metrics, frame = drain_available_now(*args, **kwargs)
        emitted.append(frame)
        return metrics, frame

    monkeypatch.setattr(_drain, "drain_available_now", spy)
    before = set(spark.read.parquet(outdir).inputFiles())
    rep = drain()
    # the report reads only the files this drain committed, not the
    # sink's history
    new = set(spark.read.parquet(outdir).inputFiles()) - before
    assert new and set(emitted[0].inputFiles()) == new
    # d2's re-delivery hit the checkpointed state entry and was dropped;
    # d9 was watermark-dropped (audited separately from dedup); only the
    # genuinely new d4 was emitted
    assert rep == {
        "n_input_rows": 3,
        "n_emitted": 1,
        "n_duplicates_dropped": 1,
        "rows_dropped_by_watermark": 1,
    }
    assert sunk_ids() == {"d1", "d2", "d3", "d4"}


def test_compact_prechecks_inflight_before_encode(spark, tmp_path):
    """compact_store(vacuum=True) must fail BEFORE the merge encode when
    an uncommitted running marker exists — otherwise the post-merge
    vacuum raises after a wasted merge.  vacuum=False still proceeds."""
    import pytest

    from etl_sql_duckdb_parquet__spark.encode import (
        compact_store,
        read_manifest,
    )
    from etl_sql_duckdb_parquet__spark.encode.manifest import (
        append_running_marker,
    )

    landing = str(tmp_path / "pc_landing")
    out = str(tmp_path / "pc_encoded")
    w1 = _wave(spark, 80, seed=71, prefix="p1_")
    w1.write.parquet(landing)
    run_available_now(spark, landing, out, target_tokens=20_000)
    w2 = _wave(spark, 60, seed=72, prefix="p2_")
    w2.write.mode("append").parquet(landing)
    run_available_now(spark, landing, out, target_tokens=20_000)
    append_running_marker(spark, out, "run_precheck_sim", "snap_sim")

    n_snaps_before = (
        read_manifest(spark, out)
        .filter(F.col("status") == "ok")
        .select("snapshot_id")
        .distinct()
        .count()
    )
    with pytest.raises(RuntimeError, match="run_precheck_sim"):
        compact_store(spark, out, target_tokens=20_000)
    # the guard fired BEFORE the merge encode: no compacted snapshot landed
    n_snaps_after = (
        read_manifest(spark, out)
        .filter(F.col("status") == "ok")
        .select("snapshot_id")
        .distinct()
        .count()
    )
    assert n_snaps_after == n_snaps_before == 2
    # deferred-vacuum compaction is still allowed (no auto-vacuum to strand)
    result = compact_store(spark, out, target_tokens=20_000, vacuum=False)
    assert result["compacted"] and result["n_snapshots_merged"] == 2


def _run_dir_bytes(out: str) -> dict[str, int]:
    """Bytes on disk of every ``run_id=`` blob directory of a store."""
    root = os.path.join(out, "blobs")
    return {
        d: sum(
            os.path.getsize(os.path.join(walk, f))
            for walk, _dirs, files in os.walk(os.path.join(root, d))
            for f in files
        )
        for d in os.listdir(root)
        if d.startswith("run_id=")
    }


def test_epoch_committing_after_merge_stays_live(
    spark, tmp_path, monkeypatch
):
    """Parts that commit after a compaction read the store stay live:
    the merge rows name only what was committed when the merge read the
    manifest.  A run commits its parts in one append, so such parts are
    an epoch encode's that is still in flight (marker and blobs written)
    when ``compact_store(vacuum=False)`` runs — driven here by compacting
    from inside the epoch's commit read.  The epoch survives a plain
    vacuum, and decode(all) is the exact source union."""
    from etl_sql_duckdb_parquet__spark.encode import (
        compact_store,
        encode_job,
        read_manifest,
        vacuum_store,
    )

    landing = str(tmp_path / "re_landing")
    out = str(tmp_path / "re_encoded")
    w1 = _wave(spark, 80, seed=81, prefix="r1_")
    w1.write.parquet(landing)
    run_available_now(spark, landing, out, target_tokens=20_000)
    w2 = _wave(spark, 60, seed=82, prefix="r2_")
    w2.write.mode("append").parquet(landing)
    run_available_now(spark, landing, out, target_tokens=20_000)
    w3 = _wave(spark, 70, seed=83, prefix="r3_")

    real = encode_job.read_rows
    merged = {}

    def commit_read(sp, path, *args):
        if not merged:  # the epoch's commit read: compact first
            merged["running"] = True
            merged.update(
                compact_store(spark, out, target_tokens=20_000, vacuum=False)
            )
        return real(sp, path, *args)

    monkeypatch.setattr(encode_job, "read_rows", commit_read)
    epoch = encode_job.encode_token_table(
        spark, w3, out, target_tokens=20_000, snapshot_salt="e2"
    )
    monkeypatch.undo()
    assert merged["compacted"] and merged["n_snapshots_merged"] == 2

    rows = read_manifest(spark, out).collect()
    merge_rows = [r for r in rows if r["status"] == "merge"]
    epoch_ok = [
        r for r in rows
        if r["status"] == "ok" and r["snapshot_id"] == epoch["snapshot_id"]
    ]
    assert epoch_ok and min(r["finished_at"] for r in epoch_ok) > max(
        r["finished_at"] for r in merge_rows
    )
    assert epoch["snapshot_id"] not in {r["snapshot_id"] for r in merge_rows}

    res = vacuum_store(spark, out)
    assert res["n_run_dirs_deleted"] == 2 and res["n_runs_kept"] == 2
    assert f"run_id={epoch['run_id']}" in _run_dir_bytes(out)
    v = verify_roundtrip(
        w1.unionByName(w2).unionByName(w3),
        decode_token_table(spark, out, snapshots="all"),
    )
    assert v["ok"] and v["n_union"] == 210, v


def test_vacuum_keeps_additive_epochs(spark, tmp_path):
    """Vacuum on a multi-epoch streamed store no compaction touched
    reclaims nothing: every epoch is live (each holds its own docs), so
    the full union still decodes."""
    from etl_sql_duckdb_parquet__spark.encode import vacuum_store

    landing = str(tmp_path / "ae_landing")
    out = str(tmp_path / "ae_encoded")
    w1 = _wave(spark, 120, seed=51, prefix="a1_")
    w1.write.parquet(landing)
    run_available_now(spark, landing, out, target_tokens=20_000)
    w2 = _wave(spark, 80, seed=52, prefix="a2_")
    w2.write.mode("append").parquet(landing)
    run_available_now(spark, landing, out, target_tokens=20_000)

    res = vacuum_store(spark, out)
    assert res["n_run_dirs_deleted"] == 0 and res["bytes_reclaimed"] == 0
    assert res["n_runs_kept"] == len(_run_dir_bytes(out)) == 2
    v = verify_roundtrip(
        w1.unionByName(w2), decode_token_table(spark, out, snapshots="all")
    )
    assert v["ok"] and v["n_union"] == 200, v


def test_half_compacted_store_decodes_once(spark, tmp_path):
    """compact(vacuum=False) leaves the epochs' runs beside the compacted
    snapshot; its merge rows take the epochs out of the live set, so
    decode(all) is the exact union, a second compact is a no-op and the
    report totals are the compacted snapshot's alone."""
    from etl_sql_duckdb_parquet__spark.encode import (
        compact_store,
        read_manifest,
    )
    from etl_sql_duckdb_parquet__spark.encode.report import manifest_report

    landing = str(tmp_path / "hc_landing")
    out = str(tmp_path / "hc_encoded")
    w1 = _wave(spark, 100, seed=61, prefix="h1_")
    w1.write.parquet(landing)
    run_available_now(spark, landing, out, target_tokens=20_000)
    w2 = _wave(spark, 60, seed=62, prefix="h2_")
    w2.write.mode("append").parquet(landing)
    run_available_now(spark, landing, out, target_tokens=20_000)

    result = compact_store(spark, out, target_tokens=20_000, vacuum=False)
    assert result["compacted"] and "vacuum" not in result
    v = verify_roundtrip(
        w1.unionByName(w2), decode_token_table(spark, out, snapshots="all")
    )
    assert v["ok"] and v["n_union"] == 160, v
    assert compact_store(spark, out, target_tokens=20_000) == {
        "compacted": False,
        "n_snapshots": 1,
    }
    compacted = [
        r for r in read_manifest(spark, out).collect()
        if r["status"] == "ok"
        and r["snapshot_id"] == result["encode_snapshot_id"]
    ]
    raw = sum(r["raw_bytes"] for r in compacted)
    comp = sum(r["comp_bytes"] for r in compacted)
    assert sum(r["n_docs"] for r in compacted) == 160
    assert (
        f"Runs: 1  |  partitions: {len(compacted)}  |  raw: {raw:,} B  |  "
        f"compressed: {comp:,} B  |"
    ) in manifest_report(spark, out)


def test_compact_after_deferred_vacuum_and_new_epoch(spark, tmp_path):
    """compact(vacuum=False), a new epoch, then compact(): the second
    merge absorbs the first compaction and the new epoch, the store
    decodes as the exact three-wave union, and the vacuum reclaims
    exactly the absorbed runs' directories, byte for byte."""
    from etl_sql_duckdb_parquet__spark.encode import compact_store

    landing = str(tmp_path / "dv_landing")
    out = str(tmp_path / "dv_encoded")
    w1 = _wave(spark, 90, seed=91, prefix="d1_")
    w1.write.parquet(landing)
    run_available_now(spark, landing, out, target_tokens=20_000)
    w2 = _wave(spark, 70, seed=92, prefix="d2_")
    w2.write.mode("append").parquet(landing)
    run_available_now(spark, landing, out, target_tokens=20_000)
    first = compact_store(spark, out, target_tokens=20_000, vacuum=False)
    assert first["compacted"] and first["n_snapshots_merged"] == 2
    w3 = _wave(spark, 50, seed=93, prefix="d3_")
    w3.write.mode("append").parquet(landing)
    run_available_now(spark, landing, out, target_tokens=20_000)

    # every run now on disk is absorbed by one of the two merges: the
    # first merge's epochs, then the first compaction and the new epoch
    absorbed = _run_dir_bytes(out)
    assert len(absorbed) == 4
    second = compact_store(spark, out, target_tokens=20_000)
    assert second["compacted"] and second["n_snapshots_merged"] == 2
    assert second["vacuum"]["n_run_dirs_deleted"] == 4
    assert second["vacuum"]["bytes_reclaimed"] == sum(absorbed.values())
    assert set(_run_dir_bytes(out)) == {
        f"run_id={second['encode_run_id']}"
    }
    v = verify_roundtrip(
        w1.unionByName(w2).unionByName(w3),
        decode_token_table(spark, out, snapshots="all"),
    )
    assert v["ok"] and v["n_union"] == 210, v


def test_crashed_compaction_changes_nothing_live(
    spark, tmp_path, monkeypatch
):
    """Merge rows count only once their run commits: a compaction that
    dies in its encode leaves the live set as it was (decode(all) is the
    exact union), its merge rows block a plain vacuum like a running
    marker, and after a forced vacuum clears them a new compaction is
    exact."""
    import pytest

    from etl_sql_duckdb_parquet__spark.encode import (
        compact_store,
        encode_job,
        vacuum_store,
    )

    landing = str(tmp_path / "cc_landing")
    out = str(tmp_path / "cc_encoded")
    w1 = _wave(spark, 70, seed=95, prefix="c1_")
    w1.write.parquet(landing)
    run_available_now(spark, landing, out, target_tokens=20_000)
    w2 = _wave(spark, 50, seed=96, prefix="c2_")
    w2.write.mode("append").parquet(landing)
    run_available_now(spark, landing, out, target_tokens=20_000)
    union = w1.unionByName(w2)

    def crash(*_args):
        raise RuntimeError("simulated executor loss")

    monkeypatch.setattr(encode_job, "encode_sink_frame", crash)
    with pytest.raises(RuntimeError, match="simulated executor loss"):
        compact_store(spark, out, target_tokens=20_000, vacuum=False)
    monkeypatch.undo()
    v = verify_roundtrip(
        union, decode_token_table(spark, out, snapshots="all")
    )
    assert v["ok"] and v["n_union"] == 120, v
    with pytest.raises(RuntimeError, match="uncommitted encode run"):
        vacuum_store(spark, out)
    assert vacuum_store(spark, out, force=True)["n_run_dirs_deleted"] == 0

    again = compact_store(spark, out, target_tokens=20_000)
    assert again["compacted"] and again["n_snapshots_merged"] == 2
    v = verify_roundtrip(
        union, decode_token_table(spark, out, snapshots="all")
    )
    assert v["ok"] and v["n_union"] == 120, v


def test_lookup_requires_plan_coverage(spark, tmp_path):
    """A store where one decoded snapshot has no plan rows must raise the
    backfill error instead of silently missing that snapshot's docs."""
    import os as _os

    import pytest

    from etl_sql_duckdb_parquet__spark.encode import candidate_parts

    def markers():
        return {
            f for f in _os.listdir(_os.path.join(out, "manifest"))
            if f.startswith("marker-")
        }

    landing = str(tmp_path / "pc_landing")
    out = str(tmp_path / "pc_encoded")
    _wave(spark, 80, seed=71, prefix="p1_").write.parquet(landing)
    run_available_now(spark, landing, out, target_tokens=20_000)
    (first,) = markers()
    _wave(spark, 60, seed=72, prefix="p2_").write.mode("append").parquet(
        landing
    )
    run_available_now(spark, landing, out, target_tokens=20_000)
    assert len(markers()) == 2

    # simulate a plan-less legacy snapshot: drop the FIRST epoch's
    # marker-and-plan file
    _os.remove(_os.path.join(out, "manifest", first))

    # decoding 'all' would include the plan-less snapshot → refuse
    with pytest.raises(FileNotFoundError, match="no partition-plan rows"):
        candidate_parts(spark, out, ["p1_doc_0"], snapshots="all")
    # 'latest' is still fully covered → lookups proceed
    assert candidate_parts(spark, out, ["p2_doc_0"], snapshots="latest")


def test_cli_compact(spark, tmp_path):
    """`encode.cli --compact` runs the maintenance loop end-to-end."""
    from etl_sql_duckdb_parquet__spark.encode.cli import main

    landing = str(tmp_path / "cc_landing")
    out = str(tmp_path / "cc_encoded")
    _wave(spark, 120, seed=31, prefix="k1_").write.parquet(landing)
    run_available_now(spark, landing, out, target_tokens=20_000)
    _wave(spark, 80, seed=32, prefix="k2_").write.mode("append").parquet(
        landing
    )
    run_available_now(spark, landing, out, target_tokens=20_000)

    stats = main(["--out", out, "--compact", "--target-tokens", "20000"])
    assert stats["mode"] == "compact" and stats["compacted"]
    assert stats["vacuum"]["n_run_dirs_deleted"] >= 2
    assert decode_token_table(spark, out).count() == 200
