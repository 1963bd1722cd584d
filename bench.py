"""Per-round benchmark (driver contract): headline workload at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``; prints ONE JSON line.

Headline = the north-star encode pipeline (tokenize → salted partition →
codec encode → manifest → decode-verify) measured in tokens/sec and
compression ratio vs the reference method (plain Parquet/ZSTD of the same
table, reference ``src/etl/load.py:44-48``), plus a representative slice
of the query suite.

The sf-dir document set is small, so throughput there is overhead-bound;
``synth_encode`` adds a fixed-size synthetic workload (seed-fixed,
~19M tokens) for a CPU-bound tokens/sec figure.  Scaling (local[8] vs
local[32]) is measured separately by ``tools/scaling_bench.py`` and
recorded in BASELINE.md.

Every timed section is BEST-OF-N (``$SPARK_GRAFT_BENCH_REPEATS``, default
2): this host's CPU varies 3-10x run-to-run (CLAUDE.md), so single-shot
round-over-round deltas are unreadable.  Repeats are REUSE-PROOF: within
one session Spark reuses the shuffle output of an identical re-executed
lineage, which would flatter every repeat after the first.  Each repeat
therefore runs against its own input snapshot — a byte-identical copy of
the sf-dir at a distinct path (fresh scan ⇒ fresh shuffle) for the query
suite and the sf-dir encode, and a distinct generator seed for the
synthetic encode — plus a fresh output dir for encodes (resume would
no-op the second pass).  The scheme is recorded in the output JSON
(``repeat_variation``).
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "q04_segment_revenue",
    "q10_returnflag_summary",
    "q17_dedup_keep_latest",
    "q41_ngram_jaccard_pairs",
    "q42_minhash_lsh_pairs",
    "q45_cosine_topk",
    "q50_codec_selection",
]

SYNTH_DOCS = 75_000  # ~19M tokens at avg_len=256


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from etl_sql_duckdb_parquet__spark.encode.cli import dir_bytes
    from etl_sql_duckdb_parquet__spark.encode.decode_job import (
        decode_token_table,
        verify_roundtrip,
    )
    from etl_sql_duckdb_parquet__spark.encode.encode_job import (
        encode_token_table,
    )
    from etl_sql_duckdb_parquet__spark.encode.synth import (
        synth_token_table,
        tokenize_documents,
    )
    from etl_sql_duckdb_parquet__spark.queries import REGISTRY
    from etl_sql_duckdb_parquet__spark.session import get_spark

    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))
    spark = get_spark(cores=cores)
    queries: dict[str, float] = {}
    extra: dict[str, object] = {
        "repeats": repeats,
        "repeat_variation": (
            "per-repeat sf-dir snapshot copies (fresh scan lineage, no "
            "intra-session shuffle reuse) + per-repeat synth seed + fresh "
            "encode output dirs"
        ),
    }

    # per-repeat input snapshots: same bytes, distinct paths — an identical
    # re-executed lineage reuses its shuffle stage within a session
    # (CLAUDE.md), so repeat 2+ must scan a different path to honestly
    # redo the work
    snap_root = tempfile.mkdtemp(prefix="bench_sfsnap_")
    # backstop: an exception/Ctrl-C mid-bench must not strand repeats-1
    # full sf-dir copies in TMPDIR (tmpfs RAM under the documented
    # /dev/shm recipe); the success path still removes them eagerly
    atexit.register(shutil.rmtree, snap_root, ignore_errors=True)
    rep_sf_dirs = [sf_dir] + [
        os.path.join(snap_root, f"rep{r}") for r in range(1, repeats)
    ]
    for d in rep_sf_dirs[1:]:
        shutil.copytree(sf_dir, d)

    # untimed warmup: small full-path encode so the timed sections measure
    # steady state (JIT, python workers, codegen), not session cold-start
    warm_dir = tempfile.mkdtemp(prefix="bench_warm_")
    try:
        encode_token_table(
            spark,
            synth_token_table(spark, 3000, avg_len=64),
            warm_dir,
            target_tokens=50_000,
            resume=False,
        )
    finally:
        shutil.rmtree(warm_dir, ignore_errors=True)

    # --- headline: encode pipeline on the sf-dir documents table
    work = tempfile.mkdtemp(prefix="bench_enc_")
    try:
        enc_s, dec_s = float("inf"), float("inf")
        for rep in range(repeats):
            # materialize the tokenized input before timing: encode makes
            # two passes (stats + encode), and re-running the tokenizer
            # inside the timed region would measure generation, not the
            # encode engine.  Each repeat caches its OWN snapshot copy so
            # the encode shuffle is genuinely re-executed.
            df = tokenize_documents(spark, rep_sf_dirs[rep]).cache()
            df.count()
            rep_dir = os.path.join(work, f"rep{rep}")
            t0 = time.perf_counter()
            stats = encode_token_table(spark, df, rep_dir, resume=False)
            enc_s = min(enc_s, time.perf_counter() - t0)
            t0 = time.perf_counter()
            v = verify_roundtrip(df, decode_token_table(spark, rep_dir))
            dec_s = min(dec_s, time.perf_counter() - t0)
            if rep == 0:
                extra["decode_bit_identical"] = v["ok"]
                extra["sfdir_blob_bytes"] = dir_bytes(
                    os.path.join(rep_dir, "blobs")
                )
                ref_dir = os.path.join(work, "ref_zstd")
                df.write.mode("overwrite").option(
                    "compression", "zstd"
                ).parquet(ref_dir)
                extra["sfdir_reference_zstd_bytes"] = dir_bytes(ref_dir)
            else:
                extra["decode_bit_identical"] = (
                    extra["decode_bit_identical"] and v["ok"]
                )
            df.unpersist()
        queries["encode_sfdir"] = round(enc_s, 3)
        queries["decode_verify_sfdir"] = round(dec_s, 3)
        extra["sfdir_tokens"] = stats["n_tokens"]
        extra["sfdir_tokens_per_s"] = round(stats["n_tokens"] / enc_s, 1)
        extra["sfdir_compression_ratio"] = round(
            stats["raw_bytes"] / stats["comp_bytes"], 4
        )
        extra["sfdir_size_vs_reference"] = round(
            extra["sfdir_blob_bytes"] / extra["sfdir_reference_zstd_bytes"], 4
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # --- headline: CPU-bound synthetic encode (fixed size per repeat,
    # seed varied per repeat so repeat lineages are distinct)
    work = tempfile.mkdtemp(prefix="bench_synth_")
    try:
        enc_s, tok_per_s = float("inf"), 0.0
        for rep in range(repeats):
            sdf = synth_token_table(spark, SYNTH_DOCS, seed=1000 + rep).cache()
            sdf.count()
            rep_dir = os.path.join(work, f"rep{rep}")
            t0 = time.perf_counter()
            stats = encode_token_table(spark, sdf, rep_dir, resume=False)
            dt = time.perf_counter() - t0
            if dt < enc_s:
                enc_s = dt
                tok_per_s = stats["n_tokens"] / dt
                extra["synth_tokens"] = stats["n_tokens"]
                extra["synth_compression_ratio"] = round(
                    stats["raw_bytes"] / stats["comp_bytes"], 4
                )
            sdf.unpersist()
        queries["encode_synth"] = round(enc_s, 3)
        extra["synth_tokens_per_s"] = round(tok_per_s, 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # --- representative query-suite slice (best-of-N each, each repeat
    # scanning its own sf-dir snapshot so no shuffle stage is reused)
    for name in BENCH_QUERIES:
        best = float("inf")
        for rep in range(repeats):
            t0 = time.perf_counter()
            REGISTRY[name](spark, rep_sf_dirs[rep]).count()
            best = min(best, time.perf_counter() - t0)
        queries[name] = round(best, 3)
    shutil.rmtree(snap_root, ignore_errors=True)

    total = round(sum(queries.values()), 3)
    out = {
        "metric": "encode+query suite wall time",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "cores": cores,
        **extra,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
