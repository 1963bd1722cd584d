"""Markdown metrics report over the encode manifest — the reference's
benchmark/metrics report capability (ref ``src/reporting.py:273-343``,
``src/benchmarks.py:105-141``) applied to our engine's lineage manifest.

The manifest and event rows are metadata-sized, so they are read once
(:func:`manifest.read_rows`, no Spark job on a filesystem store) and
grouped on the driver.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import SparkSession

from .manifest import live_rows, manifest_rows, read_rows, winners


def _round3(x: float) -> float:
    """SQL ``ROUND(x, 3)``: half-up on the shortest decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("0.001"), ROUND_HALF_UP))


def manifest_report(spark: SparkSession, out_dir: str) -> str:
    """Per-codec and per-run totals of the store's live partitions (what
    ``decode(snapshots="all")`` reads), as markdown."""
    rows = manifest_rows(spark, out_dir)
    if rows is None:
        return "# Encode report\n\nNo manifest found.\n"
    ok = winners(live_rows(rows))
    if not ok:
        # an empty manifest directory, or only the running marker of a
        # first encode that never committed
        return "\n".join(
            ["# Encode report", "", "No committed partitions."]
            + _events_section(spark, out_dir)
        ) + "\n"
    runs = len({r["run_id"] for r in ok})
    raw = sum(r["raw_bytes"] for r in ok)
    comp = sum(r["comp_bytes"] for r in ok)
    lines = [
        "# Encode report",
        "",
        f"Runs: {runs}  |  partitions: {len(ok)}  |  "
        f"raw: {raw:,} B  |  compressed: {comp:,} B  |  "
        f"ratio: {raw / max(comp, 1):.2f}x",
        "",
        "| codec | parts | docs | tokens | raw B | comp B | ratio | cpu s |",
        "|---|---|---|---|---|---|---|---|",
    ]
    by_codec: dict[str, list[dict]] = {}
    for r in ok:
        by_codec.setdefault(r["codec"], []).append(r)
    for codec in sorted(by_codec):
        t = {
            k: sum(r[k] for r in by_codec[codec])
            for k in ("n_docs", "n_tokens", "raw_bytes", "comp_bytes",
                      "encode_s")
        }
        lines.append(
            f"| {codec} | {len(by_codec[codec])} | {t['n_docs']:,} | "
            f"{t['n_tokens']:,} | {t['raw_bytes']:,} | {t['comp_bytes']:,} | "
            f"{t['raw_bytes'] / max(t['comp_bytes'], 1):.2f}x | "
            f"{_round3(t['encode_s'])} |"
        )
    lines += _events_section(spark, out_dir)
    return "\n".join(lines) + "\n"


def _events_section(spark: SparkSession, out_dir: str) -> list[str]:
    """Stage-level event history (``<out>/events``), if present — the
    reference's ``pipeline_events`` surface (ref ``src/history.py:39-52``)."""
    from ..etl.history import EVENTS_SCHEMA, events_path

    ev = read_rows(spark, events_path(out_dir), EVENTS_SCHEMA)
    if ev is None:
        return []
    rows = sorted(
        (r for r in ev if r["status"] != "start"),
        key=lambda r: (r["ts"], r["table_name"], r["stage"]),
    )[:100]
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
