"""Markdown metrics report over the encode manifest — the reference's
benchmark/metrics report capability (ref ``src/reporting.py:273-343``,
``src/benchmarks.py:105-141``) applied to our engine's lineage manifest.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .manifest import read_manifest


def manifest_report(spark: SparkSession, out_dir: str) -> str:
    """Per-codec and per-run totals from the manifest, as markdown."""
    m = read_manifest(spark, out_dir)
    if m is None:
        return "# Encode report\n\nNo manifest found.\n"
    ok = m.filter(F.col("status") == "ok")
    by_codec = (
        ok
        .groupBy("codec")
        .agg(
            F.count("*").alias("parts"),
            F.sum("n_docs").alias("docs"),
            F.sum("n_tokens").alias("tokens"),
            F.sum("raw_bytes").alias("raw"),
            F.sum("comp_bytes").alias("comp"),
            F.round(F.sum("encode_s"), 3).alias("cpu_s"),
        )
        .orderBy("codec")
        .collect()
    )
    if not by_codec:
        # an empty manifest directory, or only the running marker of a
        # first encode that never committed
        return "\n".join(
            ["# Encode report", "", "No committed partitions."]
            + _events_section(spark, out_dir)
        ) + "\n"
    total = (
        ok.agg(
            F.countDistinct("run_id").alias("runs"),
            F.count("*").alias("parts"),
            F.sum("raw_bytes").alias("raw"),
            F.sum("comp_bytes").alias("comp"),
        )
        .first()
    )
    lines = [
        "# Encode report",
        "",
        f"Runs: {total['runs']}  |  partitions: {total['parts']}  |  "
        f"raw: {total['raw']:,} B  |  compressed: {total['comp']:,} B  |  "
        f"ratio: {total['raw'] / max(total['comp'], 1):.2f}x",
        "",
        "| codec | parts | docs | tokens | raw B | comp B | ratio | cpu s |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in by_codec:
        lines.append(
            f"| {r['codec']} | {r['parts']} | {r['docs']:,} | "
            f"{r['tokens']:,} | {r['raw']:,} | {r['comp']:,} | "
            f"{r['raw'] / max(r['comp'], 1):.2f}x | {r['cpu_s']} |"
        )
    lines += _events_section(spark, out_dir)
    return "\n".join(lines) + "\n"


def _events_section(spark: SparkSession, out_dir: str) -> list[str]:
    """Stage-level event history (``<out>/events``), if present — the
    reference's ``pipeline_events`` surface (ref ``src/history.py:39-52``)."""
    from ..etl.history import read_events

    ev = read_events(spark, out_dir)
    if ev is None:
        return []
    rows = (
        ev.filter(F.col("status") != "start")
        .orderBy("ts", "table_name", "stage")
        .limit(100)
        .collect()
    )
    lines = [
        "",
        "## Stage events",
        "",
        "| run | table | stage | status | rows | s |",
        "|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            f"| {r['run_id']} | {r['table_name']} | {r['stage']} | "
            f"{r['status']} | {r['n_rows'] if r['n_rows'] is not None else ''} | "
            f"{r['duration_s'] if r['duration_s'] is not None else ''} |"
        )
    return lines
