"""spark-submit entry point for the encode/decode/verify pipeline.

Local smoke (also what `.claude/skills/verify` drives)::

    python -m etl_sql_duckdb_parquet__spark.encode.cli \
        --sf-dir /root/testdata/sf0.001 --out /tmp/enc --cores 8

Cluster: ``spark-submit --py-files etl_sql_duckdb_parquet__spark.zip
cli.py ...`` — the session then comes from spark-submit, not session.py.

Replaces the reference's ``python -m src.cli etl`` + ``benchmark`` entry
points (reference ``src/cli.py:31-99``, ``src/benchmarks.py:67-144``) for
the token-table workload: encode, lineage manifest, decode-verify, and a
compression comparison against the reference's own method (plain
Parquet/ZSTD of the same table, reference ``src/etl/load.py:44-48``).
"""

from __future__ import annotations

import argparse
import json
import os
import time


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path``; Spark's ``_``/``.``-prefixed
    metadata files (``_SUCCESS``, ``.crc``) are not counted."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    ap.add_argument("--out", required=True)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--target-tokens", type=int, default=2_000_000)
    ap.add_argument("--synth-docs", type=int, default=0,
                    help="use the synthetic generator with N docs instead of documents.parquet")
    ap.add_argument("--input-parquet", default=None,
                    help="encode an existing (doc_id, tokens, n_tok, source) parquet table")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--warmup-runs", type=int, default=0,
                    help="untimed full-path encode runs before the timed one "
                         "(steady-state measurement: JIT + page cache warm)")
    ap.add_argument("--warmup-docs", type=int, default=50_000,
                    help="doc count for the warmup slice (limit on the input)")
    ap.add_argument("--no-verify", action="store_true")
    ap.add_argument("--skip-reference", action="store_true",
                    help="skip writing the Parquet/ZSTD reference copy")
    ap.add_argument("--stream-input-dir", default=None,
                    help="incremental mode: drain parquet files landing in "
                         "this dir via Structured Streaming (exactly-once; "
                         "re-invoke as new files land — the stream checkpoint "
                         "under --out skips files already ingested)")
    # The CLI always drains with Trigger.AvailableNow (catch up on
    # available files, then exit — the scheduled-ingestion shape); the
    # long-running continuous mode is a library capability
    # (streaming.incremental.encode_stream(available_now=False)).
    ap.add_argument("--stream-timeout", type=int, default=600,
                    help="streaming mode: max seconds to wait for the drain")
    ap.add_argument("--lookup-ids", default=None,
                    help="point lookup: comma-separated doc ids to fetch "
                         "from an EXISTING store at --out (decodes only "
                         "the partitions the persisted plan maps them to)")
    ap.add_argument("--lookup-source", default=None,
                    help="optional source of the looked-up ids (collapses "
                         "candidates to one partition per id)")
    ap.add_argument("--compact", action="store_true",
                    help="maintenance: merge all snapshots of the store at "
                         "--out into one and vacuum superseded blobs")
    args = ap.parse_args(argv)

    from ..session import get_spark
    from .decode_job import (
        DECODED_SCHEMA,
        decode_token_table,
        verify_roundtrip,
    )
    from .encode_job import encode_token_table
    from .synth import synth_token_table, tokenize_documents

    spark = get_spark(cores=args.cores)

    if args.compact:
        from .maintenance import compact_store

        t0 = time.perf_counter()
        result = compact_store(
            spark, args.out, target_tokens=args.target_tokens
        )
        stats = {
            "mode": "compact",
            "out": args.out,
            "compact_wall_s": round(time.perf_counter() - t0, 3),
            **result,
        }
        print(json.dumps(stats, default=str))
        return stats

    if args.lookup_ids:
        from .decode_job import candidate_parts, lookup_docs

        ids = [s for s in args.lookup_ids.split(",") if s]
        # candidates computed once, outside the timed window, and passed
        # through so the reported wall is the decode+fetch only
        parts = candidate_parts(
            spark,
            args.out,
            ids,
            source=args.lookup_source,
            snapshots="latest",  # mirrors the lookup_docs default below
        )
        t0 = time.perf_counter()
        rows = lookup_docs(
            spark, args.out, ids, source=args.lookup_source, parts=parts
        ).collect()
        wall = round(time.perf_counter() - t0, 3)
        stats = {
            "mode": "lookup",
            "out": args.out,
            "n_requested": len(ids),
            "n_found": len(rows),
            "n_candidate_parts": len(parts),
            "lookup_wall_s": wall,
            "docs": [
                {"doc_id": r["doc_id"], "n_tok": r["n_tok"]} for r in rows
            ],
        }
        print(json.dumps(stats, default=str))
        return stats

    if args.stream_input_dir:
        from ..streaming.incremental import run_available_now

        t0 = time.perf_counter()
        run_available_now(
            spark,
            args.stream_input_dir,
            args.out,
            target_tokens=args.target_tokens,
            timeout_s=args.stream_timeout,
        )
        stats = {
            "mode": "stream_available_now",
            "input_dir": args.stream_input_dir,
            "out": args.out,
            "drain_wall_s": round(time.perf_counter() - t0, 3),
        }
        if not args.no_verify:
            src = spark.read.schema(DECODED_SCHEMA).parquet(
                args.stream_input_dir
            )
            decoded = decode_token_table(spark, args.out, snapshots="all")
            v = verify_roundtrip(src, decoded)
            stats["verified_ok"] = v["ok"]
            stats["verify"] = v
        print(json.dumps(stats, default=str))
        return stats
    if args.input_parquet:
        df = spark.read.parquet(args.input_parquet)
    elif args.synth_docs:
        df = synth_token_table(spark, args.synth_docs)
    else:
        df = tokenize_documents(spark, args.sf_dir)

    for w in range(args.warmup_runs):
        encode_token_table(
            spark,
            df.limit(args.warmup_docs),
            os.path.join(args.out, f"_warmup_{w}"),
            target_tokens=args.target_tokens,
            resume=False,
        )

    t0 = time.perf_counter()
    stats = encode_token_table(
        spark,
        df,
        args.out,
        target_tokens=args.target_tokens,
        resume=not args.no_resume,
    )
    stats["encode_wall_s"] = round(time.perf_counter() - t0, 3)
    stats["tokens_per_s"] = round(
        stats["n_tokens"] / stats["encode_wall_s"], 1
    ) if stats["encode_wall_s"] else 0.0

    if not args.skip_reference:
        ref_dir = os.path.join(args.out, "reference_zstd")
        if not os.path.exists(ref_dir):
            df.write.mode("overwrite").option("compression", "zstd").parquet(ref_dir)
        stats["reference_zstd_bytes"] = dir_bytes(ref_dir)
        stats["our_blob_file_bytes"] = dir_bytes(os.path.join(args.out, "blobs"))
        if stats["comp_bytes"]:
            stats["ratio_vs_reference"] = round(
                stats["our_blob_file_bytes"] / stats["reference_zstd_bytes"], 4
            )

    if not args.no_verify:
        decoded = decode_token_table(spark, args.out)
        v = verify_roundtrip(df, decoded)
        stats["verified_ok"] = v["ok"]
        stats["verify"] = v

    print(json.dumps(stats, default=str))
    return stats


if __name__ == "__main__":
    main()
