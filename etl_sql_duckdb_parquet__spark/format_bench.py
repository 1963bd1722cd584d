"""Per-query format benchmark: raw CSV vs Parquet/ZSTD vs our blobs.

Re-expresses the reference's signature deliverable (reference
``src/benchmarks.py:21-144``: median-of-3 per-query timing on CSV vs
Parquet with a speedup column and a markdown report, regression-tested by
``test_benchmark_fixes.py:16-106``) Spark-first:

- the same DataFrame query runs against the same table materialized as
  raw CSV, as Parquet/ZSTD (the reference's output format), and — for the
  token table — as our encoded blobs through the decode path;
- timings are median-of-N actions (the host CPU is noisy, see CLAUDE.md);
- the report carries file sizes, per-query times, and speedup columns.

The CSV leg deliberately reads with schema inference off and an explicit
schema (one pass, like the reference's ``pd.read_csv``); the Parquet legs
exercise column pruning/predicate pushdown, which is the point of the
comparison.  If the blob store is absent the blob column degrades to
"N/A" instead of failing (the reference fixed the same crash for missing
Parquet).

Run: ``python -m etl_sql_duckdb_parquet__spark.format_bench
--sf-dir /root/testdata/sf0.1 --out FORMAT_BENCH.md``.
"""

from __future__ import annotations

import argparse
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOC_SCHEMA = "doc_id string, text string, lang string, source string, n_chars long"


def _replicate(df: DataFrame, n: int, id_col: str) -> DataFrame:
    """Deterministically inflate a table n-fold (distinct ids per copy) so
    scan costs dominate fixed job overhead at small SF."""
    if n <= 1:
        return df
    rep = df.sparkSession.range(n).select(F.col("id").alias("_rep"))
    return (
        df.crossJoin(F.broadcast(rep))
        .withColumn(
            id_col,
            F.concat(F.col(id_col).cast("string"), F.lit("_r"), F.col("_rep")),
        )
        .drop("_rep")
    )


def prepare_formats(
    spark: SparkSession, sf_dir: str, work_dir: str, replicate: int = 1
) -> dict:
    """Materialize the documents table as CSV and Parquet/ZSTD, and the
    token table as Parquet/ZSTD + our encoded blobs.  Returns paths.

    ``replicate`` inflates both tables n-fold for the TIMING comparison —
    at sf0.1 the raw tables are ~1 MB, where per-job overhead swamps every
    scan and the format comparison measures nothing.  File SIZES are
    always reported from unreplicated (base-scale) artifacts: n identical
    copies are free lunch for ZSTD and would fake the compression column.
    """
    from .encode.encode_job import encode_token_table
    from .encode.synth import tokenize_documents

    base_docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).withColumn("doc_id", F.col("doc_id").cast("string"))
    docs = _replicate(base_docs, replicate, "doc_id")
    paths = {
        "docs_csv": os.path.join(work_dir, "docs_csv"),
        "docs_parquet": os.path.join(work_dir, "docs_parquet"),
        "tokens_parquet": os.path.join(work_dir, "tokens_parquet"),
        "blobs": os.path.join(work_dir, "blobs"),
    }

    def _write(docs_df, toks_df, p):
        (
            docs_df.coalesce(4)
            .write.mode("overwrite")
            .option("header", True)
            .option("escape", '"')
            .csv(p["docs_csv"])
        )
        (
            docs_df.coalesce(4)
            .write.mode("overwrite")
            .option("compression", "zstd")
            .parquet(p["docs_parquet"])
        )
        (
            toks_df.coalesce(4)
            .write.mode("overwrite")
            .option("compression", "zstd")
            .parquet(p["tokens_parquet"])
        )
        encode_token_table(spark, toks_df, p["blobs"], resume=False)

    base_toks = tokenize_documents(spark, sf_dir)
    _write(docs, _replicate(base_toks, replicate, "doc_id"), paths)
    if replicate > 1:
        base_paths = {
            k: os.path.join(work_dir, "base", os.path.basename(v))
            for k, v in paths.items()
        }
        _write(base_docs, base_toks, base_paths)
        paths = {**paths, **{f"size_{k}": v for k, v in base_paths.items()}}
    else:
        paths = {**paths, **{f"size_{k}": v for k, v in paths.items()}}
    return paths


def _read_docs_csv(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.read.option("header", True)
        .option("escape", '"')
        .option("multiLine", True)
        .schema(DOC_SCHEMA)
        .csv(path)
    )


DOC_QUERIES = {
    "filter_count": lambda df: df.filter(F.col("lang") == "en").agg(
        F.count("*").alias("n")
    ),
    "group_by_source": lambda df: df.groupBy("source").agg(
        F.count("*").alias("n"),
        F.avg(F.length("text")).alias("avg_len"),
    ),
    "top10_longest": lambda df: df.select(
        "doc_id", F.length("text").alias("len")
    )
    .orderBy(F.desc("len"), "doc_id")
    .limit(10),
    "projection_sum": lambda df: df.agg(
        F.sum(F.length("text")).alias("total_chars")
    ),
}

TOKEN_QUERIES = {
    "token_mass": lambda df: df.agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens")
    ),
    "longest_docs": lambda df: df.select("doc_id", "n_tok")
    .orderBy(F.desc("n_tok"), "doc_id")
    .limit(10),
}


def _median_time(make_df, iterations: int) -> float:
    times = []
    for _ in range(iterations):
        t0 = time.time()
        make_df().collect()
        times.append((time.time() - t0) * 1000.0)
    return sorted(times)[len(times) // 2]


def run_lookup_at_scale(
    spark: SparkSession,
    work_dir: str,
    n_docs: int = 700_000,
    k_ids: int = 3,
    iterations: int = 3,
) -> dict:
    """Point-lookup leg at a store big enough for the partition ratio to
    materialize as WALL TIME, not just partition counts.

    The base-scale lookup row (below) shows the work ratio (candidate
    parts / total) but its wall ratio is overhead-dominated — every leg
    costs one ~300 ms Spark job regardless of bytes.  This leg encodes a
    ~180M-token synthetic store (~90 partitions at the default 2M-token
    target) where a full decode+filter moves hundreds of MB through the
    codec kernels while the plan-targeted lookup decodes only the
    candidate partitions; the timings include the lookup's plan read and
    candidate computation (the honest end-to-end cost a caller pays).
    """
    from .encode.decode_job import (
        _resolve_snapshots,
        candidate_parts,
        decode_token_table,
        lookup_docs,
    )
    from .encode.encode_job import encode_token_table
    from .encode.synth import synth_token_table

    store = os.path.join(work_dir, "lookup_store")
    toks = synth_token_table(spark, n_docs)
    encode_token_table(spark, toks, store, resume=True)
    # the latest snapshot's ok rows: what a default decode/lookup reads
    ok, _ = _resolve_snapshots(spark, store, "latest")
    # ids drawn from one known source — the common case the lookup API
    # documents (the caller knows which feed a doc came from); the
    # source-unknown variant probes one candidate per (id, source)
    src = "web"
    ids = [
        r["doc_id"]
        for r in toks.filter(F.col("source") == src)
        .select("doc_id")
        .limit(k_ids)
        .collect()
    ]
    cand_src = candidate_parts(spark, store, ids, source=src, snapshots="latest")
    cand_any = candidate_parts(spark, store, ids, snapshots="latest")
    full_ms = _median_time(
        lambda: decode_token_table(spark, store).filter(
            F.col("doc_id").isin(ids)
        ),
        iterations,
    )
    look_src_ms = _median_time(
        lambda: lookup_docs(spark, store, ids, source=src), iterations
    )
    look_any_ms = _median_time(
        lambda: lookup_docs(spark, store, ids), iterations
    )
    return {
        "n_docs": n_docs,
        "n_tokens": sum(r["n_tokens"] for r in ok),
        "n_parts": len({r["part_id"] for r in ok}),
        "n_ids": len(ids),
        "cand_src": len(cand_src),
        "cand_any": len(cand_any),
        "full_ms": full_ms,
        "lookup_src_ms": look_src_ms,
        "lookup_any_ms": look_any_ms,
    }


def run_format_benchmark(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    iterations: int = 3,
    prepared: dict | None = None,
    replicate: int = 1,
    lookup_scale_docs: int = 0,
) -> str:
    """Run the suite; returns the markdown report."""
    from .encode.cli import dir_bytes
    from .encode.decode_job import (
        _resolve_snapshots,
        candidate_parts,
        decode_token_table,
        lookup_docs,
    )

    paths = prepared or prepare_formats(spark, sf_dir, work_dir, replicate)

    sizes = {k: dir_bytes(p) if os.path.isdir(p) else 0 for k, p in paths.items()}
    doc_rows = []
    for name, q in DOC_QUERIES.items():
        csv_ms = _median_time(
            lambda: q(_read_docs_csv(spark, paths["docs_csv"])), iterations
        )
        pq_ms = _median_time(
            lambda: q(spark.read.parquet(paths["docs_parquet"])), iterations
        )
        doc_rows.append((name, csv_ms, pq_ms, csv_ms / pq_ms))

    from .encode.manifest import manifest_path

    blobs_ok = os.path.isdir(manifest_path(paths["blobs"]))
    tok_rows = []
    for name, q in TOKEN_QUERIES.items():
        pq_ms = _median_time(
            lambda: q(spark.read.parquet(paths["tokens_parquet"])), iterations
        )
        if blobs_ok:
            blob_ms = _median_time(
                lambda: q(decode_token_table(spark, paths["blobs"])),
                iterations,
            )
            # projection-pushdown decode: both queries touch only
            # doc_id/n_tok, so the pruned leg skips the token blobs
            # entirely (the format's columnar payoff)
            pruned_ms = _median_time(
                lambda: q(
                    decode_token_table(
                        spark, paths["blobs"], columns=["doc_id", "n_tok"]
                    )
                ),
                iterations,
            )
            tok_rows.append((name, pq_ms, blob_ms, pruned_ms))
        else:
            tok_rows.append((name, pq_ms, None, None))

    # point lookup: plan-targeted candidate decode vs full decode + filter
    lookup_row = None
    if blobs_ok:
        toks_pq = spark.read.parquet(paths["tokens_parquet"])
        src_name = toks_pq.select("source").first()["source"]
        ids = [
            r["doc_id"]
            for r in toks_pq.filter(F.col("source") == src_name)
            .select("doc_id")
            .limit(3)
            .collect()
        ]
        ok, _ = _resolve_snapshots(spark, paths["blobs"], "latest")
        n_parts = len({r["part_id"] for r in ok})
        cand = candidate_parts(
            spark, paths["blobs"], ids, source=src_name, snapshots="latest"
        )
        full_ms = _median_time(
            lambda: decode_token_table(spark, paths["blobs"]).filter(
                F.col("doc_id").isin(ids)
            ),
            iterations,
        )
        look_ms = _median_time(
            lambda: lookup_docs(spark, paths["blobs"], ids, source=src_name),
            iterations,
        )
        lookup_row = (len(ids), len(cand), n_parts, full_ms, look_ms)

    mb = 1024 * 1024
    csv_mb = sizes.get("size_docs_csv", 0) / mb
    pq_mb = sizes.get("size_docs_parquet", 0) / mb
    blob_mb = sizes.get("size_blobs", 0) / mb if blobs_ok else 0.0
    tokpq_mb = sizes.get("size_tokens_parquet", 0) / mb
    lines = [
        "# Format benchmark: CSV vs Parquet/ZSTD vs encoded blobs",
        "",
        f"Input: `{sf_dir}` — median of {iterations} runs per query "
        "(single Spark session; absolute times include job overhead, the "
        "ratio column is the signal on a noisy host).",
        "",
        "## File sizes (base scale — replicated copies would fake the "
        "compression column)",
        "",
        "| Format | Size (MB) |",
        "|---|---|",
        f"| documents CSV | {csv_mb:.2f} |",
        f"| documents Parquet/ZSTD | {pq_mb:.2f} |",
        f"| CSV / Parquet ratio | "
        f"{(csv_mb / pq_mb):.2f}x |" if pq_mb else "| CSV / Parquet | N/A |",
        f"| token table Parquet/ZSTD | {tokpq_mb:.2f} |",
        f"| token table encoded blobs | "
        + (f"{blob_mb:.2f} |" if blobs_ok else "N/A |"),
        "",
        "## Documents table: CSV vs Parquet/ZSTD",
        "",
        f"| Query | CSV (ms) | Parquet (ms) | Speedup |",
        "|---|---|---|---|",
    ]
    slow_rows = [name for name, _c, _p, s in doc_rows if s < 1.0]
    for name, c, p, s in doc_rows:
        mark = " *" if name in slow_rows else ""
        lines.append(f"| {name} | {c:.0f} | {p:.0f} | {s:.1f}x{mark} |")
    if slow_rows:
        lines += [
            "",
            f"\\* {', '.join(slow_rows)}: CSV measured faster than Parquet "
            "on this run — at this input size both legs read the full text "
            "payload, so the formats differ only by parse cost and the "
            "delta is within this host's run-to-run CPU noise (CLAUDE.md: "
            "3-10x). Re-run with a larger `--replicate` for a stable "
            "ratio.",
        ]
    lines += [
        "",
        "## Token table: Parquet/ZSTD vs encoded blobs (decode path)",
        "",
        "| Query | Parquet (ms) | Blobs full (ms) | Blobs pruned (ms) |",
        "|---|---|---|---|",
    ]
    for name, p, b, pr in tok_rows:
        b_txt = f"{b:.0f}" if b is not None else "N/A"
        pr_txt = f"{pr:.0f}" if pr is not None else "N/A"
        lines.append(f"| {name} | {p:.0f} | {b_txt} | {pr_txt} |")
    if lookup_row is not None:
        k, cand, n_parts, full_ms, look_ms = lookup_row
        lines += [
            "",
            "## Point lookup: plan-targeted vs full decode + filter",
            "",
            "| ids | candidate parts / total | full+filter (ms) | "
            "lookup (ms) |",
            "|---|---|---|---|",
            f"| {k} | {cand} / {n_parts} | {full_ms:.0f} | {look_ms:.0f} |",
            "",
            "The lookup decodes only the partitions the persisted plan "
            "maps the ids to; the partition-count ratio is the work "
            "ratio at scale (wall times at this size are overhead-"
            "dominated — see the at-scale section below for where the "
            "ratio materializes as wall time).",
        ]
    if lookup_scale_docs:
        ls = run_lookup_at_scale(
            spark, work_dir, n_docs=lookup_scale_docs, iterations=iterations
        )
        r_src = ls["full_ms"] / ls["lookup_src_ms"] if ls["lookup_src_ms"] else 0.0
        r_any = ls["full_ms"] / ls["lookup_any_ms"] if ls["lookup_any_ms"] else 0.0
        lines += [
            "",
            "## Point lookup at scale "
            f"({ls['n_tokens'] / 1e6:.0f}M-token synthetic store, "
            f"{ls['n_ids']} ids, full+filter = {ls['full_ms']:.0f} ms)",
            "",
            "| variant | candidate parts / total | lookup (ms) | speedup |",
            "|---|---|---|---|",
            f"| source known | {ls['cand_src']} / {ls['n_parts']} | "
            f"{ls['lookup_src_ms']:.0f} | {r_src:.1f}x |",
            f"| source unknown | {ls['cand_any']} / {ls['n_parts']} | "
            f"{ls['lookup_any_ms']:.0f} | {r_any:.1f}x |",
            "",
            "The lookup's wall time is dominated by a ~2-3 s fixed "
            "metadata cost (manifest reads for the plan and the "
            "winners, blob file listing) that does NOT grow with "
            "store size, while the full decode grows linearly with it — "
            "whether the partition work ratio shows up as wall time at a "
            "given store size depends on where that crossover sits "
            "(measured trend in the committed FORMAT_BENCH.md).",
        ]
    lines += [
        "",
        "## Notes",
        "",
        "- Parquet reads only the projected columns and pushes filters to "
        "the scan; the CSV leg parses every byte of every row.",
        "- The full blob leg decodes every column through the codec "
        "kernels; the pruned leg uses projection-pushdown decode "
        "(`decode_token_table(columns=...)`) — each logical column is "
        "its own blob, so metadata queries skip reading AND decoding "
        "the token bytes. The blob format's win is storage footprint "
        "plus bit-identical token delivery (see BENCH "
        "`sfdir_size_vs_reference`).",
        "- Medians, not means: this host's CPU varies 3-10x run-to-run.",
        "- The CSV leg reads with `multiLine` (documents contain "
        "newlines), which makes each CSV file non-splittable — a real "
        "CSV-at-scale limitation the columnar formats don't have.",
    ]
    return "\n".join(lines) + "\n"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--work-dir", default="/tmp/format_bench")
    ap.add_argument("--out", default="FORMAT_BENCH.md")
    ap.add_argument("--iterations", type=int, default=3)
    ap.add_argument("--cores", type=int, default=8)
    # 200x sf0.1 documents ≈ 300 MB CSV / 65 MB Parquet: every timed scan
    # is multi-second signal, not per-job overhead (the 1 MB base tables
    # measured format-independent noise — speedup cells read 0.9-1.2x)
    ap.add_argument("--replicate", type=int, default=200)
    # ~700k synth docs ≈ 180M tokens ≈ 90 partitions: the store where the
    # lookup's partition-pruning ratio becomes a wall-time ratio
    ap.add_argument("--lookup-scale-docs", type=int, default=700_000)
    args = ap.parse_args()
    from .session import get_spark

    spark = get_spark(cores=args.cores)
    report = run_format_benchmark(
        spark,
        args.sf_dir,
        args.work_dir,
        args.iterations,
        replicate=args.replicate,
        lookup_scale_docs=args.lookup_scale_docs,
    )
    with open(args.out, "w") as f:
        f.write(report)
    print(report)


if __name__ == "__main__":
    main()
