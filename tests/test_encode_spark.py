"""E2E Spark tests: encode → manifest → decode → bit-identical verify.

The north-rule invariant (token-array equality) plus resumability and
skew-aware partition planning, on deterministic inputs (seed fixed —
mirrors the reference's seeded-dataset E2E, SURVEY.md §5).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_sql_duckdb_parquet__spark.encode import (
    decode_token_table,
    encode_token_table,
    plan_partitions,
    read_manifest,
    synth_token_table,
    tokenize_documents,
    verify_roundtrip,
)


@pytest.fixture(scope="module")
def token_df(spark, sf_dir):
    df = tokenize_documents(spark, sf_dir)
    df.cache().count()
    return df


def test_tokenizer_shape_and_determinism(spark, token_df):
    row = token_df.first()
    assert row["doc_id"].startswith("doc_")
    assert row["n_tok"] == len(row["tokens"])
    assert all(0 <= t < 50257 for t in row["tokens"][:50])
    # deterministic: re-derivation produces identical arrays
    again = tokenize_documents(spark, "/root/testdata/sf0.001")
    v = verify_roundtrip(token_df, again)
    assert v["ok"], v


def test_plan_partitions_source_salted(spark, token_df):
    target = 5_000
    planned, n_parts, _ = plan_partitions(token_df, target_tokens=target)
    assert n_parts >= 2
    per_part = (
        planned.groupBy("part_id")
        .agg(F.sum("n_tok").alias("tok"))
        .collect()
    )
    # skew bounded: no partition more than 2× the target (packed bins stay
    # under target + one small source; salted hot sources under target + ε)
    assert max(r["tok"] for r in per_part) < 2 * target
    # every partition id within range, no gaps beyond plan
    assert all(0 <= r["part_id"] < n_parts for r in per_part)
    # a hot source (> target tokens) is split across multiple partitions
    hot = (
        planned.groupBy("source")
        .agg(F.sum("n_tok").alias("tok"), F.countDistinct("part_id").alias("np"))
        .collect()
    )
    for r in hot:
        if r["tok"] >= target:
            assert r["np"] > 1, f"hot source {r['source']} not salted"


def test_encode_decode_roundtrip(spark, token_df, tmp_path):
    out = str(tmp_path / "enc")
    stats = encode_token_table(spark, token_df, out, target_tokens=100_000)
    assert stats["n_parts_encoded"] == stats["n_parts_planned"]
    assert stats["n_docs"] == token_df.count()
    assert 0 < stats["comp_bytes"] < stats["raw_bytes"]

    decoded = decode_token_table(spark, out)
    v = verify_roundtrip(token_df, decoded)
    assert v["ok"], v

    m = read_manifest(spark, out)
    rows = m.filter(m.status == "ok").collect()
    assert len(rows) == stats["n_parts_planned"]
    assert all(r["codec"] for r in rows)
    # plus exactly one run-level in-flight marker for the committed run
    markers = m.filter(m.status == "running").collect()
    assert [r["run_id"] for r in markers] == [stats["run_id"]]


def test_encode_empty_and_zero_length_docs(spark, tmp_path):
    """Degenerate inputs: a 0-row table must no-op cleanly (0 planned
    partitions), and docs with empty token arrays must roundtrip
    bit-identical alongside non-empty ones."""
    schema = "doc_id string, tokens array<int>, n_tok int, source string"
    empty = spark.createDataFrame([], schema)
    out0 = str(tmp_path / "enc_empty")
    stats = encode_token_table(spark, empty, out0, target_tokens=10_000)
    assert stats["n_parts_planned"] == 0 and stats["n_docs"] == 0

    rows = [("d1", [], 0, "a"), ("d2", [1, 2, 3], 3, "a"), ("d3", [], 0, "b")]
    df = spark.createDataFrame(rows, schema)
    out1 = str(tmp_path / "enc_zlen")
    encode_token_table(spark, df, out1, target_tokens=10_000)
    v = verify_roundtrip(df, decode_token_table(spark, out1))
    assert v["ok"] and v["n_union"] == 3, v


def test_encode_rejects_null_inputs(spark, tmp_path):
    """NULL source/doc_id/tokens must fail fast: a null source would
    silently vanish through the plan equi-join (while the snapshot
    fingerprint counts it), and a null tokens array would commit a corrupt
    INT64_MIN length to the store."""
    schema = "doc_id string, tokens array<int>, n_tok int, source string"
    cases = [
        ("null source", [("d1", [1], 1, None), ("d2", [2], 1, "a")]),
        ("null doc_id", [(None, [1], 1, "a"), ("d2", [2], 1, "a")]),
        ("null tokens", [("d1", None, 1, "a"), ("d2", [2], 1, "a")]),
        ("null n_tok", [("d1", [1], None, "a"), ("d2", [2], 1, "a")]),
    ]
    for name, rows in cases:
        df = spark.createDataFrame(rows, schema)
        with pytest.raises(ValueError, match="NULL"):
            encode_token_table(
                spark, df, str(tmp_path / "enc_null"), target_tokens=10_000
            )
        assert name  # labels the failing case in tracebacks


def test_encode_rejects_absurd_target_tokens(spark, tmp_path):
    schema = "doc_id string, tokens array<int>, n_tok int, source string"
    df = spark.createDataFrame([("d1", [1], 1, "a")], schema)
    for bad in (0, -5, 2**31):
        with pytest.raises(ValueError, match="target_tokens"):
            encode_token_table(
                spark, df, str(tmp_path / "enc_tt"), target_tokens=bad
            )


def test_empty_planned_partition_converges_on_resume(spark, tmp_path):
    """A salted hot source with fewer docs than salt buckets leaves a
    planned partition with ZERO docs; it must still land in the manifest
    (codec='empty') so resume converges to a no-op instead of re-planning
    forever — each phantom re-run would append a running marker that
    never commits, permanently blocking vacuum/compact."""
    from etl_sql_duckdb_parquet__spark.encode.maintenance import (
        vacuum_store,
    )

    schema = "doc_id string, tokens array<int>, n_tok int, source string"
    # 2 docs, 1200 tokens, target 1000 → salts=2; both doc-id hashes may
    # land in one bucket; brute-force doc ids until they DO collide so the
    # test is deterministic
    from pyspark.sql import functions as SF

    ids = None
    for i in range(200):
        cand = [f"x{i}_a", f"x{i}_b"]
        buckets = {
            r["b"]
            for r in spark.createDataFrame(
                [(c,) for c in cand], "doc_id string"
            )
            .select(SF.pmod(SF.xxhash64("doc_id"), SF.lit(2)).alias("b"))
            .collect()
        }
        if buckets == {0} or buckets == {1}:
            ids = cand
            break
    assert ids is not None
    df = spark.createDataFrame(
        [(ids[0], list(range(600)), 600, "hot"),
         (ids[1], list(range(600)), 600, "hot")],
        schema,
    )
    out = str(tmp_path / "enc_emptypart")
    s1 = encode_token_table(spark, df, out, target_tokens=1_000)
    assert s1["n_parts_planned"] == 2
    assert s1["n_parts_encoded"] == 1 and s1["n_parts_empty"] == 1
    # resume is a true no-op: nothing pending, no new marker appended
    s2 = encode_token_table(spark, df, out, target_tokens=1_000)
    assert s2["n_parts_skipped_resume"] == 2 and s2["n_parts_encoded"] == 0
    # and the store is vacuum-able (no permanently-uncommitted markers)
    vacuum_store(spark, out)
    v = verify_roundtrip(df, decode_token_table(spark, out))
    assert v["ok"] and v["n_union"] == 2, v


def test_decode_column_projection(spark, token_df, tmp_path):
    """Projected decode must match the full decode's projection, and the
    blob scan must prune the token blobs (each logical column lives in its
    own blob — the format's columnar payoff)."""
    out = str(tmp_path / "enc_proj")
    encode_token_table(spark, token_df, out, target_tokens=100_000)

    proj = decode_token_table(spark, out, columns=["doc_id", "n_tok"])
    assert proj.columns == ["doc_id", "n_tok"]
    full = decode_token_table(spark, out).select("doc_id", "n_tok")
    assert sorted(proj.collect()) == sorted(full.collect())

    # parquet column pruning: the scan's ReadSchema must not include the
    # token blob bytes
    plan = proj.sparkSession._jvm.PythonSQLUtils.explainString(
        proj._jdf.queryExecution(), "formatted"
    )
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and all("tokens_blob" not in ln for ln in read_schema)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown decode columns"):
        decode_token_table(spark, out, columns=["nope"])


def test_resume_skips_completed_partitions(spark, token_df, tmp_path):
    out = str(tmp_path / "enc_resume")
    first = encode_token_table(spark, token_df, out, target_tokens=100_000)
    assert first["n_parts_skipped_resume"] == 0
    second = encode_token_table(spark, token_df, out, target_tokens=100_000)
    assert second["n_parts_skipped_resume"] == first["n_parts_planned"]
    assert second["n_parts_encoded"] == 0
    # decode still verifies after the no-op rerun (no duplicate rows)
    v = verify_roundtrip(token_df, decode_token_table(spark, out))
    assert v["ok"], v


def test_resumed_noop_returns_the_fresh_run_keys(spark, tmp_path):
    """A fully resumed run reports the same stats keys as the run that
    encoded, ``n_parts_empty`` included."""
    df = synth_token_table(spark, 200, avg_len=16, seed=3)
    out = str(tmp_path / "enc_keys")
    fresh = encode_token_table(spark, df, out, target_tokens=2_000)
    again = encode_token_table(spark, df, out, target_tokens=2_000)
    assert again["n_parts_encoded"] == 0
    assert list(again) == list(fresh)


def test_verify_roundtrip_rejects_duplicated_docs(spark, tmp_path):
    """A decode holding every doc twice matches each copy in the join;
    the distinct doc-id count still makes ``ok`` false."""
    df = synth_token_table(spark, 200, avg_len=16, seed=4)
    out = str(tmp_path / "enc_dup")
    encode_token_table(spark, df, out, target_tokens=2_000)
    decoded = decode_token_table(spark, out)
    assert verify_roundtrip(df, decoded)["ok"]
    v = verify_roundtrip(df, decoded.unionByName(decoded))
    assert not v["ok"] and v["n_union"] == 2 * v["n_doc_ids"] == 400, v


def test_resume_ignores_other_plan_params(spark, token_df, tmp_path):
    """Same data, different target_tokens => a DIFFERENT partition plan,
    whose part_ids are incomparable with the first run's.  Resume must not
    skip against the old plan, and decode (latest) must not union blobs
    across the two plans."""
    out = str(tmp_path / "enc_replan")
    encode_token_table(spark, token_df, out, target_tokens=100_000)
    second = encode_token_table(spark, token_df, out, target_tokens=5_000)
    assert second["n_parts_skipped_resume"] == 0
    assert second["n_parts_encoded"] == second["n_parts_planned"] > 1
    v = verify_roundtrip(token_df, decode_token_table(spark, out))
    assert v["ok"], v


def test_resume_after_partial_failure(spark, token_df, tmp_path):
    """Simulate a crashed run: encode only half the partitions, then resume."""
    out = str(tmp_path / "enc_partial")
    planned, n_parts, _ = plan_partitions(token_df, target_tokens=5_000)
    assert n_parts >= 4
    half = planned.filter(F.col("part_id") < n_parts // 2).drop("part_id")
    encode_token_table(spark, half, out, target_tokens=5_000)
    # full input, same snapshot semantics don't hold (different snapshot id),
    # so resume keys on snapshot: a changed input re-encodes everything
    stats = encode_token_table(spark, token_df, out, target_tokens=5_000)
    assert stats["n_parts_encoded"] == n_parts
    v = verify_roundtrip(token_df, decode_token_table(spark, out))
    assert v["ok"], v


def test_synth_table_roundtrip_with_skew(spark, tmp_path):
    df = synth_token_table(spark, 2000, avg_len=64, skew_source=True)
    df.cache().count()
    srcs = {r["source"] for r in df.select("source").distinct().collect()}
    assert srcs == {"web", "books", "code", "wiki"}
    out = str(tmp_path / "enc_synth")
    stats = encode_token_table(spark, df, out, target_tokens=20_000)
    assert stats["comp_bytes"] < stats["raw_bytes"]
    v = verify_roundtrip(df, decode_token_table(spark, out))
    assert v["ok"], v
    df.unpersist()


def test_compression_beats_reference_parquet_zstd(spark, tmp_path):
    """North rule: our compressed size ≤ reference method (Parquet/ZSTD).

    Gated at a non-degenerate size (~500k tokens); at sf0.001 (28k tokens)
    fixed parquet-footer overhead dominates both sides.
    """
    token_df = synth_token_table(spark, 2000, avg_len=256)
    token_df.cache().count()
    out = str(tmp_path / "enc_cmp")
    stats = encode_token_table(spark, token_df, out, target_tokens=200_000)
    ref = str(tmp_path / "ref_zstd")
    token_df.write.option("compression", "zstd").parquet(ref)
    import os

    ref_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(ref)
        for f in fs
        if not f.startswith(("_", "."))
    )
    blob_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(os.path.join(out, "blobs"))
        for f in fs
        if not f.startswith(("_", "."))
    )
    assert blob_bytes <= ref_bytes, (blob_bytes, ref_bytes)


def test_input_stats_single_pass_matches_snapshot_id(spark, token_df):
    """input_stats folds the snapshot fingerprint into the planning
    aggregate; it must equal the standalone manifest fingerprint."""
    from etl_sql_duckdb_parquet__spark.encode.encode_job import input_stats
    from etl_sql_duckdb_parquet__spark.encode.manifest import snapshot_id_of

    shares, snap = input_stats(token_df)
    assert snap == snapshot_id_of(token_df)
    assert sum(r["n"] for r in shares) == token_df.count()
    assert {r["source"] for r in shares} == {
        r["source"] for r in token_df.select("source").distinct().collect()
    }


def test_append_mode_decodes_all_snapshots(spark, tmp_path):
    """Append-only ingestion: each batch encoded as its own snapshot;
    decode(snapshots='all') concatenates, default decodes only the
    latest snapshot (no cross-snapshot partition mixing)."""
    out = str(tmp_path / "enc_append")
    a = synth_token_table(spark, 800, avg_len=32, seed=1)
    b = synth_token_table(spark, 600, avg_len=32, seed=2).withColumn(
        "doc_id", F.concat(F.lit("b_"), F.col("doc_id"))
    )
    encode_token_table(spark, a, out, target_tokens=5_000)
    encode_token_table(spark, b, out, target_tokens=5_000)

    latest = decode_token_table(spark, out)  # default: latest snapshot only
    v_latest = verify_roundtrip(b, latest)
    assert v_latest["ok"], v_latest

    both = decode_token_table(spark, out, snapshots="all")
    v_both = verify_roundtrip(a.unionByName(b), both)
    assert v_both["ok"], v_both


def test_manifest_records_selector_stats(spark, token_df, tmp_path):
    """Per-partition selector inputs (cardinality / runs / value range)
    land in the manifest for codec-choice auditability."""
    out = str(tmp_path / "enc_stats")
    encode_token_table(spark, token_df, out, target_tokens=10_000)
    m = read_manifest(spark, out)
    rows = m.filter(m.status == "ok").collect()
    for r in rows:
        assert r["n_distinct"] > 0
        assert r["n_runs"] > 0
        assert 0 <= r["vmin"] <= r["vmax"] < 50257


def test_encoded_source_stats_salts_hot_source(spark):
    """The q50/q52 showcase path must reuse the encode job's token-mass
    salting (round-2 weak finding: one applyInPandas group per source
    melts an executor on a hot source).  A skewed synthetic source must
    split across >1 partition, and the merged per-source stats must still
    equal the unsalted totals."""
    from etl_sql_duckdb_parquet__spark.encode.synth import synth_token_table
    from etl_sql_duckdb_parquet__spark.queries.encode_queries import (
        encoded_source_stats,
    )

    toks = synth_token_table(spark, 2000, avg_len=64)  # ~70% one hot source
    rows = encoded_source_stats(toks, target_tokens=10_000).collect()
    hot = max(rows, key=lambda r: r["n_tokens"])
    assert hot["n_parts"] > 1
    by_src = {r["source"]: r for r in rows}
    totals = toks.groupBy("source").agg(
        F.sum("n_tok").alias("t"), F.count("*").alias("n")
    ).collect()
    assert set(by_src) == {r["source"] for r in totals}
    for r in totals:
        s = by_src[r["source"]]
        assert s["n_tokens"] == r["t"] and s["n_docs"] == r["n"]
    assert all(r["roundtrip_ok"] for r in rows)
    assert all(r["comp_bytes"] < r["raw_bytes"] for r in rows)


def test_q50_codec_names_are_registered(spark):
    """The codec NAME is not oracle-expressible (xxhash-dependent), so the
    selector's choice is asserted here: every per-source codec must be a
    registered codec id and the driver-facing booleans must hold."""
    from etl_sql_duckdb_parquet__spark.codecs.core import CODEC_NAMES
    from etl_sql_duckdb_parquet__spark.queries.encode_queries import (
        encoded_source_stats,
    )

    toks = tokenize_documents(spark, "/root/testdata/sf0.001")
    rows = encoded_source_stats(toks).collect()
    names = set(CODEC_NAMES.values())
    assert rows
    for r in rows:
        assert r["codec"] in names
        assert r["comp_bytes"] < r["raw_bytes"]


def test_every_stored_blob_names_a_registered_codec(
    spark, token_df, tmp_path
):
    """``codec_of`` must name the codec of every blob column a store
    holds, string codecs included: ``doc_<digits>`` ids are PATTERNID."""
    import pyarrow.parquet as pq

    from etl_sql_duckdb_parquet__spark.codecs.core import codec_of, zunwrap
    from etl_sql_duckdb_parquet__spark.encode.manifest import blobs_path

    out = str(tmp_path / "enc")
    encode_token_table(spark, token_df, out, target_tokens=5_000)
    cols = ["tokens_blob", "lengths_blob", "docids_blob", "sources_blob"]
    blobs = pq.read_table(blobs_path(out), columns=cols).to_pydict()
    names = {c: {codec_of(zunwrap(b)) for b in blobs[c]} for c in cols}
    assert names["docids_blob"] == {"patternid"}, names


def test_point_lookup_decodes_candidate_partitions_only(
    spark, token_df, tmp_path
):
    """lookup_docs must return exactly the requested docs (bit-identical
    to a full decode + filter) while touching only the partitions the
    persisted plan maps the ids to — at most sources-per-id, not the
    whole store."""
    from etl_sql_duckdb_parquet__spark.encode import (
        candidate_parts,
        lookup_docs,
    )

    out = str(tmp_path / "enc_lookup")
    # small target → many partitions, so candidate pruning is visible
    # (ids × sources candidates must be < the partition count)
    stats = encode_token_table(spark, token_df, out, target_tokens=200)
    n_parts = stats["n_parts_planned"]

    wanted = [r["doc_id"] for r in token_df.select("doc_id").limit(3).collect()]
    parts = candidate_parts(spark, out, wanted)
    n_sources = token_df.select("source").distinct().count()
    assert 0 < len(parts) <= len(wanted) * n_sources
    assert len(parts) < n_parts

    got = {
        r["doc_id"]: (list(r["tokens"]), r["n_tok"], r["source"])
        for r in lookup_docs(spark, out, wanted).collect()
    }
    full = {
        r["doc_id"]: (list(r["tokens"]), r["n_tok"], r["source"])
        for r in decode_token_table(spark, out)
        .filter(F.col("doc_id").isin(wanted))
        .collect()
    }
    assert got == full and set(got) == set(wanted)

    # column projection composes with the lookup
    slim = lookup_docs(spark, out, wanted, columns=["doc_id", "n_tok"])
    assert slim.columns == ["doc_id", "n_tok"] and slim.count() == len(wanted)

    # unknown ids return no rows (and don't error)
    assert lookup_docs(spark, out, ["no_such_doc"]).count() == 0

    # source-known lookup collapses candidates to one part per doc
    s_rows = (
        token_df.select("doc_id", "source").limit(2).collect()
    )
    src_name = s_rows[0]["source"]
    s_ids = [
        r["doc_id"] for r in token_df.filter(F.col("source") == src_name)
        .select("doc_id").limit(2).collect()
    ]
    s_parts = candidate_parts(spark, out, s_ids, source=src_name)
    assert 0 < len(s_parts) <= len(s_ids)
    s_got = lookup_docs(spark, out, s_ids, source=src_name)
    assert sorted(r["doc_id"] for r in s_got.collect()) == sorted(s_ids)


def test_cli_point_lookup(spark, token_df, tmp_path):
    """The spark-submit surface: `encode.cli --lookup-ids` fetches docs
    from an existing store via the plan-targeted path."""
    from etl_sql_duckdb_parquet__spark.encode.cli import main

    out = str(tmp_path / "enc_cli_lookup")
    encode_token_table(spark, token_df, out, target_tokens=500)
    picked = token_df.select("doc_id", "source").limit(2).collect()
    ids = [r["doc_id"] for r in picked]

    stats = main(["--out", out, "--lookup-ids", ",".join(ids)])
    assert stats["mode"] == "lookup"
    assert stats["n_found"] == stats["n_requested"] == 2
    assert {d["doc_id"] for d in stats["docs"]} == set(ids)
    assert stats["n_candidate_parts"] >= 1


def test_plan_backfill_on_resumed_noop(spark, token_df, tmp_path):
    """A store whose plan rows are missing (encoded before lookup
    support) must regain them from the next run — even a fully-resumed
    no-op, which writes plan rows when its snapshot has none."""
    import os

    from etl_sql_duckdb_parquet__spark.encode import candidate_parts

    out = str(tmp_path / "enc_backfill")
    first = encode_token_table(spark, token_df, out, target_tokens=5_000)
    # the run's marker-and-plan file: without it the store looks like one
    # encoded before plans were kept
    os.remove(f"{out}/manifest/marker-{first['run_id']}.parquet")
    with pytest.raises(FileNotFoundError, match="no partition-plan rows"):
        candidate_parts(spark, out, ["doc_0"])

    stats = encode_token_table(spark, token_df, out, target_tokens=5_000)
    assert stats["n_parts_encoded"] == 0  # resume no-op...
    assert candidate_parts(spark, out, ["doc_0"])  # ...but plan is back


def test_lookup_candidates_match_encode_assignment(spark, tmp_path):
    """candidate_parts replays the encode's ``offset + pmod(xxhash64,
    salts)`` on the driver (Python ``%``); on a hot source split over
    several salts — where negative hashes occur — every doc's candidate
    must be exactly the part_id plan_partitions gave it."""
    from etl_sql_duckdb_parquet__spark.encode import candidate_parts

    df = synth_token_table(spark, n_docs=40, seed=11, avg_len=64)
    target = 700
    planned, _, plan_rows = plan_partitions(df, target_tokens=target)
    salts = {src: k for src, _, k in plan_rows}
    assert salts["web"] > 1, plan_rows
    assigned = planned.select(
        "doc_id",
        "source",
        "part_id",
        (F.xxhash64("doc_id") < 0).alias("neg"),
    ).collect()
    assert {r["neg"] for r in assigned} == {True, False}
    out = str(tmp_path / "enc_assign")
    encode_token_table(spark, df, out, target_tokens=target)
    for r in assigned:
        got = candidate_parts(spark, out, [r["doc_id"]], source=r["source"])
        assert got == [r["part_id"]], (r, got)


def _run_dirs(paths) -> set[str]:
    """The ``run_id=`` directory names of blob file paths."""
    return {
        part
        for p in paths
        for part in p.split("/")
        if part.startswith("run_id=")
    }


def test_decode_reads_only_winning_run_directories(spark, tmp_path):
    """Winners reach the blob scan as a ``run_id`` partition filter, so
    the listing is pruned to the winning runs' directories: neither an
    older snapshot's run (for ``latest``) nor a crashed run's orphan
    blobs are ever listed."""
    import os
    import shutil

    from etl_sql_duckdb_parquet__spark.encode.decode_job import (
        winning_blobs,
    )

    out = str(tmp_path / "enc_prune")
    a = synth_token_table(spark, 300, avg_len=32, seed=1)
    b = synth_token_table(spark, 200, avg_len=32, seed=2).withColumn(
        "doc_id", F.concat(F.lit("b_"), F.col("doc_id"))
    )
    ra = encode_token_table(spark, a, out, target_tokens=5_000)["run_id"]
    rb = encode_token_table(spark, b, out, target_tokens=5_000)["run_id"]
    # a crashed run: blob files on disk, no ok manifest rows
    blobs = os.path.join(out, "blobs")
    shutil.copytree(
        os.path.join(blobs, f"run_id={rb}"),
        os.path.join(blobs, "run_id=run_crashed"),
    )
    assert _run_dirs(
        winning_blobs(spark, out, "all").inputFiles()
    ) == {f"run_id={ra}", f"run_id={rb}"}
    assert _run_dirs(winning_blobs(spark, out).inputFiles()) == {
        f"run_id={rb}"
    }
    v = verify_roundtrip(
        a.unionByName(b), decode_token_table(spark, out, snapshots="all")
    )
    assert v["ok"], v


def test_decode_drops_losing_pair_of_winning_run(spark, tmp_path):
    """A winning run whose partition a later run of the same snapshot
    won: the run filter admits the run's directory, so the losing
    ``(part_id, run_id)`` pair must still be excluded — decode returns
    every doc exactly once."""
    import datetime as dt

    from etl_sql_duckdb_parquet__spark.encode.encode_job import (
        ENCODED_SCHEMA,
    )
    from etl_sql_duckdb_parquet__spark.encode.manifest import (
        append_manifest,
        read_typed,
    )

    out = str(tmp_path / "enc_losing")
    df = synth_token_table(spark, 300, avg_len=32, seed=3)
    df.cache().count()
    stats = encode_token_table(spark, df, out, target_tokens=5_000)
    r1 = stats["run_id"]
    assert stats["n_parts_encoded"] > 1
    # run_later re-commits partition 0 of the same snapshot, later
    read_typed(
        spark, f"{out}/blobs/run_id={r1}", ENCODED_SCHEMA
    ).filter(F.col("part_id") == 0).write.option(
        "compression", "none"
    ).parquet(f"{out}/blobs/run_id=run_later")
    row0 = (
        read_manifest(spark, out)
        .filter((F.col("status") == "ok") & (F.col("part_id") == 0))
        .toArrow()
        .to_pylist()
    )
    assert len(row0) == 1
    later = dt.datetime(2035, 1, 1, tzinfo=dt.timezone.utc)
    append_manifest(
        spark, out, "ok-run_later.parquet",
        [{**row0[0], "run_id": "run_later", "finished_at": later}],
    )
    decoded = decode_token_table(spark, out)
    assert decoded.count() == df.count()
    v = verify_roundtrip(df, decoded)
    assert v["ok"], v
    df.unpersist()


def test_read_typed_answers_missing_local_path_without_spark(tmp_path):
    """A missing filesystem path reads as ``None`` before Spark is asked
    (Spark would log a WARN with a Java stack trace first); a remote URI
    still goes to Spark, which maps only PATH_NOT_FOUND to ``None``."""
    from pyspark.errors import AnalysisException

    from etl_sql_duckdb_parquet__spark.encode.manifest import (
        MANIFEST_SCHEMA,
        read_typed,
    )

    class Raised(AnalysisException):
        def __init__(self, condition):
            self.condition = condition

        def getCondition(self):
            return self.condition

    class Session:
        def __init__(self, error):
            self.error = error

        @property
        def read(self):
            raise self.error

    never = Session(AssertionError("a missing local path reached Spark"))
    for path in (str(tmp_path / "absent"), f"file:{tmp_path}/absent"):
        assert read_typed(never, path, MANIFEST_SCHEMA) is None
    remote = "s3a://bucket/store/manifest"
    assert read_typed(
        Session(Raised("PATH_NOT_FOUND")), remote, MANIFEST_SCHEMA
    ) is None
    with pytest.raises(AnalysisException):
        read_typed(Session(Raised("UNABLE_TO_INFER_SCHEMA")), remote,
                   MANIFEST_SCHEMA)


def _same_rows(got, want):
    """Row lists equal row for row, values and Python types alike."""
    def typed(rows):
        return sorted(
            (repr({k: (type(v).__name__, v) for k, v in r.items()})
             for r in rows)
        )

    assert typed(got) == typed(want)


def test_read_rows_matches_spark_typed_read(spark, tmp_path):
    """On a store after encode → drain → compact (``vacuum=False``), with
    ok, plan, running, merge and empty-partition rows, the driver-side reader
    returns what the typed Spark read returns through Arrow, row for
    row: same values, types and nulls, ``finished_at`` in UTC."""
    import datetime as dt

    from etl_sql_duckdb_parquet__spark.encode.maintenance import (
        compact_store,
    )
    from etl_sql_duckdb_parquet__spark.encode.manifest import (
        MANIFEST_SCHEMA,
        local_frame,
        manifest_path,
        read_rows,
        read_typed,
    )

    out = str(tmp_path / "enc_rows")
    encode_token_table(
        spark, synth_token_table(spark, 200, seed=5), out,
        target_tokens=20_000,
    )
    # a drain-shaped epoch: two docs of one hot source that hash to the
    # same one of its two salt buckets, so the other commits as empty
    hashed = local_frame(
        spark, [{"doc_id": f"rr_{i}"} for i in range(16)], "doc_id string"
    ).select("doc_id", F.pmod(F.xxhash64("doc_id"), F.lit(2))).collect()
    ids = [d for d, b in hashed if b == hashed[0][1]][:2]
    epoch = spark.createDataFrame(
        [(d, list(range(600)), 600, "hot") for d in ids],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    assert encode_token_table(
        spark, epoch, out, target_tokens=1_000
    )["n_parts_empty"] == 1
    compact_store(spark, out, target_tokens=20_000, vacuum=False)

    path = manifest_path(out)
    got = read_rows(spark, path, MANIFEST_SCHEMA)
    want = read_typed(spark, path, MANIFEST_SCHEMA).toArrow().to_pylist()
    _same_rows(got, want)
    assert {r["status"] for r in got} == {"ok", "plan", "running", "merge"}
    assert any(r["codec"] == "empty" for r in got)
    assert all(
        r["finished_at"].utcoffset() == dt.timedelta(0) for r in got
    )


def test_read_rows_reads_spark_written_files(spark, tmp_path):
    """Files Spark wrote (remote stores, and filesystem stores from
    before driver-side writes) read the same through both readers:
    ``finished_at`` stored as INT96, and a file holding a column subset,
    whose missing columns read as nulls."""
    import datetime as dt

    import pyarrow.parquet as pq

    from etl_sql_duckdb_parquet__spark.encode.manifest import (
        MANIFEST_SCHEMA,
        local_frame,
        read_rows,
        read_typed,
    )

    path = str(tmp_path / "spark_written")
    finished = dt.datetime(2026, 3, 4, 5, 6, 7, 891011, tzinfo=dt.timezone.utc)
    conf = "spark.sql.parquet.outputTimestampType"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "INT96")
    try:
        local_frame(
            spark,
            [{"run_id": "r1", "part_id": 3, "n_docs": 5, "status": "ok",
              "encode_s": 0.25, "finished_at": finished},
             {"run_id": "r2", "part_id": -1, "status": "running"}],
            MANIFEST_SCHEMA,
        ).coalesce(1).write.parquet(path)
    finally:
        spark.conf.set(conf, before)
    spark.createDataFrame(
        [("r3", "plan", 7, 4)],
        "run_id string, status string, part_id int, salts int",
    ).coalesce(1).write.mode("append").parquet(path)
    files = [f for f in tmp_path.joinpath("spark_written").iterdir()
             if f.name.startswith("part-")]
    physical = {
        c.name: c.physical_type
        for f in files
        for c in pq.ParquetFile(f).schema
    }
    assert physical["finished_at"] == "INT96"

    for columns in (None, ["run_id", "finished_at", "salts"]):
        frame = read_typed(spark, path, MANIFEST_SCHEMA)
        if columns is not None:
            frame = frame.select(*columns)
        got = read_rows(spark, path, MANIFEST_SCHEMA, columns)
        _same_rows(got, frame.toArrow().to_pylist())
    by_run = {r["run_id"]: r for r in got}
    assert by_run["r1"]["finished_at"] == finished
    assert by_run["r3"]["salts"] == 4 and by_run["r3"]["finished_at"] is None


def test_read_rows_listing_rules(tmp_path):
    """The driver-side reader lists files as Spark does: a dot-prefixed
    torn temporary and ``_SUCCESS`` are skipped, and a non-parquet
    ``part-*.parquet`` raises instead of reading as no rows.  A missing
    local path is ``None`` without asking Spark; a remote URI goes to
    Spark."""
    import pyarrow as pa
    from pyspark.errors import AnalysisException

    from etl_sql_duckdb_parquet__spark.encode.manifest import (
        MANIFEST_SCHEMA,
        read_rows,
        write_rows,
    )

    class Raised(AnalysisException):
        def __init__(self, condition):
            self.condition = condition

        def getCondition(self):
            return self.condition

    class Session:
        def __init__(self, error):
            self.error = error

        @property
        def read(self):
            raise self.error

    never = Session(AssertionError("a filesystem read reached Spark"))
    d = tmp_path / "m"
    write_rows(never, str(d), "a.parquet", [{"run_id": "r1"}], MANIFEST_SCHEMA)
    (d / ".marker-x.parquet.0.tmp").write_bytes(b"PAR1 torn")
    (d / "_SUCCESS").write_bytes(b"")
    for path in (str(d), f"file:{d}"):
        rows = read_rows(never, path, MANIFEST_SCHEMA)
        assert [r["run_id"] for r in rows] == ["r1"]
    (d / "part-00000.parquet").write_bytes(b"not parquet")
    with pytest.raises(pa.ArrowInvalid):
        read_rows(never, str(d), MANIFEST_SCHEMA)

    for path in (str(tmp_path / "absent"), f"file:{tmp_path}/absent"):
        assert read_rows(never, path, MANIFEST_SCHEMA) is None
    remote = "s3a://bucket/store/manifest"
    assert read_rows(
        Session(Raised("PATH_NOT_FOUND")), remote, MANIFEST_SCHEMA
    ) is None
    with pytest.raises(AnalysisException):
        read_rows(Session(Raised("UNABLE_TO_INFER_SCHEMA")), remote,
                  MANIFEST_SCHEMA)


def test_manifest_write_crash_leaves_store_readable(
    spark, tmp_path, monkeypatch
):
    """A metadata write that dies mid-file must not leave a truncated
    parquet file where manifest readers list it: the driver writes to a
    dot-prefixed temporary and renames it into place, and readers skip
    dot files (also the temporary of a writer killed outright)."""
    import pyarrow.parquet as pq

    from etl_sql_duckdb_parquet__spark.encode.manifest import (
        append_running_marker,
    )

    out = str(tmp_path / "enc_torn")
    df = synth_token_table(spark, 50, avg_len=32, seed=4)
    encode_token_table(spark, df, out, target_tokens=5_000)

    def torn_write(table, where, *args, **kwargs):
        with open(where, "wb") as f:
            f.write(b"PAR1 torn")
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", torn_write)
    with pytest.raises(OSError, match="disk full"):
        append_running_marker(spark, out, "run_torn", "snap_x")
    monkeypatch.undo()
    # the temporary a killed writer leaves behind
    (tmp_path / "enc_torn" / "manifest" / ".marker-x.parquet.0.tmp").write_bytes(
        b"PAR1 torn"
    )
    rows = read_manifest(spark, out).collect()
    assert rows and "run_torn" not in {r["run_id"] for r in rows}
    v = verify_roundtrip(df, decode_token_table(spark, out))
    assert v["ok"], v
