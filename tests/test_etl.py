"""ETL capability layer tests — the reference's test strategy applied
(SURVEY.md §5): unit tests per validator/transform + a seeded-dirty
dataset with the reference's 7 documented defect classes (dup key,
dangling FK, out-of-range values, bad enum, malformed date, negative
quantity; ref README_DATASET.md:5-13).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_sql_duckdb_parquet__spark.etl import (
    dedup_keep_last,
    detect_separator,
    enrich_with_dim,
    ingest_file,
    null_canonicalize,
    parse_bool,
    profile_columns,
    quality_score,
    safe_cast,
    to_date_safe,
    validate,
    write_parquet,
)
from etl_sql_duckdb_parquet__spark.etl.profiling import iqr_outlier_bounds
from etl_sql_duckdb_parquet__spark.etl.validate import (
    enum,
    in_range,
    no_future_date,
    not_null,
    positive,
    unique,
)

DIRTY_CSV = """sample_id,platform,q30_rate,collection_date,reads
S1,ILLUMINA,0.95,2024-01-02,100
S2,ILLUMINA,0.97,2024-01-03,200
S2,NANOPORE,0.91,2024-01-04,300
S3,PACBIO-X,-0.5,2024-13-40,400
S4,ILLUMINA,1.2,2031-01-01,-5
,NANOPORE,NA,2024-02-02,600
"""


@pytest.fixture(scope="module")
def dirty_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("raw") / "samples.csv"
    p.write_text(DIRTY_CSV)
    return str(p)


@pytest.fixture(scope="module")
def raw(spark, dirty_path):
    df = ingest_file(spark, dirty_path, ingested_at="2026-01-01 00:00:00")
    df.cache().count()
    return df


def test_detect_separator(spark, tmp_path):
    t = tmp_path / "t.tsv"
    t.write_text("a\tb\tc\n1\t2\t3\n")
    assert detect_separator(spark, str(t)) == "\t"
    c = tmp_path / "c.csv"
    c.write_text("a,b,c\n1,2,3\n")
    assert detect_separator(spark, str(c)) == ","


def test_ingest_all_string_with_audit(raw):
    assert raw.count() == 6
    for c in ("sample_id", "platform", "q30_rate", "collection_date", "reads"):
        assert dict(raw.dtypes)[c] == "string"
    assert {"ingested_at", "source_file", "row_hash", "_ingest_order"} <= set(
        raw.columns
    )
    hashes = [r["row_hash"] for r in raw.select("row_hash").collect()]
    assert len(set(hashes)) == 6 and all(len(h) == 64 for h in hashes)
    # ingest order strictly increasing in file order
    orders = [
        r["_ingest_order"]
        for r in raw.orderBy("_ingest_order").collect()
    ]
    assert orders == sorted(orders)


def test_validation_finds_all_seeded_defects(spark, raw):
    dim = spark.createDataFrame(
        [("ILLUMINA",), ("NANOPORE",)], ["platform"]
    )
    typed = raw.select(
        null_canonicalize("sample_id").alias("sample_id"),
        null_canonicalize("platform").alias("platform"),
        safe_cast("q30_rate", "double").alias("q30_rate"),
        F.col("collection_date"),
        safe_cast("reads", "long").alias("reads"),
    )
    errors = validate(
        typed,
        "samples",
        [
            not_null("sample_id"),
            unique("sample_id"),
            enum("platform", ["ILLUMINA", "NANOPORE", "PACBIO"]),
            in_range("q30_rate", 0.0, 1.0),
            no_future_date("collection_date", today="2026-08-17"),
            positive("reads"),
        ],
        fk={"platform": dim},
    ).collect()
    found = {(r["rule"], r["value"]) for r in errors}
    assert ("NOT_NULL", None) in found
    assert ("UNIQUE", "S2") in found
    assert ("ENUM", "PACBIO-X") in found
    assert ("RANGE", "-0.5") in found
    assert ("RANGE", "1.2") in found
    assert ("FUTURE_DATE", "2031-01-01") in found
    assert ("POSITIVE", "-5") in found
    assert ("FK", "PACBIO-X") in found
    # malformed date 2024-13-40 must NOT be flagged future (coerces to NULL)
    assert ("FUTURE_DATE", "2024-13-40") not in found


def test_transform_coerce_semantics(spark):
    df = spark.createDataFrame(
        [("  x  ",), ("NA",), ("null",), ("",), ("7",)], ["v"]
    )
    out = df.select(
        null_canonicalize("v").alias("canon"),
        safe_cast("v", "long").alias("num"),
    ).collect()
    assert [r["canon"] for r in out] == ["x", None, None, None, "7"]
    assert [r["num"] for r in out] == [None, None, None, None, 7]
    dd = spark.createDataFrame(
        [("2024-01-02",), ("2024-13-40",), ("NA",)], ["d"]
    )
    dates = [r["p"] for r in dd.select(to_date_safe("d").alias("p")).collect()]
    assert dates[0] is not None and dates[1] is None and dates[2] is None
    bb = spark.createDataFrame(
        [("true",), ("1",), ("YES",), ("no",), ("NA",)], ["b"]
    )
    bools = [r["p"] for r in bb.select(parse_bool("b").alias("p")).collect()]
    assert bools == [True, True, True, False, None]


def test_dedup_keep_last(raw):
    kept = dedup_keep_last(raw, "sample_id")
    s2 = kept.filter(F.col("sample_id") == "S2").collect()
    assert len(s2) == 1
    assert s2[0]["platform"] == "NANOPORE"  # last occurrence in file order


def test_load_partitioned_zstd_roundtrip(spark, raw, tmp_path):
    out = str(tmp_path / "curated")
    typed = raw.select(
        "sample_id", "platform", safe_cast("reads", "long").alias("reads")
    )
    write_parquet(typed, out, partition_cols=["platform"])
    back = spark.read.parquet(out)
    assert back.count() == 6
    assert any(d.startswith("platform=") for d in os.listdir(out))


def test_enrich_with_dim(spark):
    fact = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "x"])
    dim = spark.createDataFrame([(1, "P1"), (2, "P2")], ["k", "proj"])
    out = enrich_with_dim(fact, dim, "k", ["proj"]).orderBy("k").collect()
    assert [r["proj"] for r in out] == ["P1", "P2", None]


def test_profile_and_quality(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (2, "c", 3.0)], ["k", "s", "v"]
    )
    prof = {r["column_name"]: r for r in profile_columns(df).collect()}
    assert prof["v"]["n_null"] == 1 and prof["v"]["n_distinct"] == 2
    assert prof["s"]["max_len"] == 1
    assert prof["k"]["min_v"] == 1.0 and prof["k"]["max_v"] == 2.0
    q = quality_score(df, ["k"])
    assert q["n_rows"] == 3 and q["dup_rate"] > 0 and q["score"] < 100


def test_iqr_bounds(spark):
    df = spark.createDataFrame([(float(i),) for i in range(1, 101)], ["v"])
    b = iqr_outlier_bounds(df, "v")
    assert b["q1"] < b["q3"] and b["lo"] < b["q1"] and b["hi"] > b["q3"]


def test_ingest_dir_and_merge(spark, tmp_path):
    from etl_sql_duckdb_parquet__spark.etl.ingest import ingest_dir, merge_files
    from etl_sql_duckdb_parquet__spark.etl.load import write_csv

    (tmp_path / "a.csv").write_text("id,x\n1,a\n2,b\n")
    (tmp_path / "b.tsv").write_text("id\ty\n3\tc\n")
    tables = ingest_dir(
        spark,
        str(tmp_path),
        {"a": "a.csv", "b": "b.tsv"},
        ingested_at="2026-01-01 00:00:00",
    )
    assert tables["a"].count() == 2 and tables["b"].count() == 1
    merged = merge_files([tables["a"], tables["b"]])
    assert merged.count() == 3
    assert {"id", "x", "y"} <= set(merged.columns)
    # CSV sink round-trips (S9)
    out = str(tmp_path / "out_csv")
    write_csv(merged.select("id", "x", "y"), out)
    back = spark.read.option("header", True).csv(out)
    assert back.count() == 3 and set(back.columns) == {"id", "x", "y"}


def test_run_pipeline_strict_and_quarantine(spark, dirty_path, tmp_path):
    import os as _os

    from etl_sql_duckdb_parquet__spark.etl.pipeline import TableSpec, run_pipeline
    from etl_sql_duckdb_parquet__spark.etl.validate import in_range

    spec = {
        "samples": TableSpec(
            file="samples.csv",
            key="sample_id",
            columns={
                "sample_id": null_canonicalize("sample_id"),
                "platform": null_canonicalize("platform"),
                "q30_rate": safe_cast("q30_rate", "double"),
                "reads": safe_cast("reads", "long"),
            },
            rules=[not_null("sample_id"), in_range("q30_rate", 0.0, 1.0)],
        )
    }
    raw_dir = _os.path.dirname(dirty_path)
    with pytest.raises(ValueError, match="validation failed"):
        run_pipeline(spark, raw_dir, str(tmp_path / "strict"), spec,
                     mode="strict", ingested_at="2026-01-01 00:00:00")

    rep = run_pipeline(spark, raw_dir, str(tmp_path / "q"), spec,
                       mode="quarantine", ingested_at="2026-01-01 00:00:00")
    t = rep["tables"]["samples"]
    assert t["n_validation_errors"] > 0
    curated = spark.read.parquet(str(tmp_path / "q" / "curated" / "samples"))
    # dedup keep-last leaves 5 keyed rows; the NULL-key row (flagged by
    # not_null on the key) is quarantined via the null-safe join, so the
    # curated load holds the 4 keyed rows only
    assert curated.count() == 4
    assert curated.filter(F.col("sample_id").isNull()).count() == 0
    quarantined = spark.read.parquet(
        str(tmp_path / "q" / "quarantine" / "samples")
    )
    assert quarantined.count() == 1
    assert quarantined.first()["sample_id"] is None

    # per-stage event history (reference pipeline_events): the quarantine
    # run logs every stage ok, the strict run logs an error event
    from etl_sql_duckdb_parquet__spark.etl.history import read_events

    ev = read_events(spark, str(tmp_path / "q"))
    assert ev is not None
    done = {
        (r["stage"], r["status"])
        for r in ev.filter(F.col("table_name") == "samples").collect()
    }
    assert {("ingest", "ok"), ("transform", "ok"), ("validate", "ok"),
            ("load", "ok")} <= done
    run_row = ev.filter(
        (F.col("table_name") == "_run") & (F.col("status") == "ok")
    ).first()
    assert run_row is not None and run_row["stage"] == "pipeline"
    validate_ev = ev.filter(
        (F.col("stage") == "validate") & (F.col("status") == "ok")
    ).first()
    assert validate_ev["n_rows"] == rep["tables"]["samples"]["n_validation_errors"]

    ev_strict = read_events(spark, str(tmp_path / "strict"))
    assert ev_strict is not None
    assert ev_strict.filter(F.col("status") == "error").count() >= 1


def test_read_events_missing_is_none_unreadable_raises(spark, tmp_path):
    """No events directory reads as no history; an unreadable events file
    must raise, never pass for "no history"."""
    from etl_sql_duckdb_parquet__spark.etl.history import (
        events_path,
        read_events,
    )

    assert read_events(spark, str(tmp_path / "none")) is None
    bad = events_path(str(tmp_path / "bad"))
    os.makedirs(bad)
    with open(os.path.join(bad, "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    ev = read_events(spark, str(tmp_path / "bad"))
    assert ev is not None
    with pytest.raises(Exception, match="parquet"):
        ev.collect()
