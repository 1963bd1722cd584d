"""Schema inspector + manifest report tests."""

from __future__ import annotations

from etl_sql_duckdb_parquet__spark.encode import (
    encode_token_table,
    tokenize_documents,
)
from etl_sql_duckdb_parquet__spark.encode.report import manifest_report
from etl_sql_duckdb_parquet__spark.etl.schema_inspector import (
    compare_schemas,
    csv_schema,
    parquet_schema,
    validate_compatibility,
)


def test_parquet_and_csv_schema(spark, sf_dir, tmp_path):
    ps = parquet_schema(spark, f"{sf_dir}/nation.parquet")
    assert ps == {
        "n_nationkey": "int",
        "n_name": "string",
        "n_regionkey": "int",
    }
    p = tmp_path / "x.csv"
    p.write_text("A,b\n1,x\n2,y\n")
    cs = csv_schema(spark, str(p))
    assert cs == {"a": "int", "b": "string"}


def test_compare_and_compatibility():
    a = {"x": "int", "y": "string"}
    b = {"x": "bigint", "z": "string"}
    cmp = compare_schemas(a, b)
    assert cmp["common"] == ["x"]
    assert cmp["only_in_a"] == ["y"] and cmp["only_in_b"] == ["z"]
    assert cmp["type_changes"] == {"x": ("int", "bigint")}
    v = validate_compatibility(a, b)
    assert not v["compatible"]
    assert any("missing required column: y" in e for e in v["errors"])
    assert any("type mismatch for x" in e for e in v["errors"])
    assert any("extra column: z" in w for w in v["warnings"])
    ok = validate_compatibility(a, {"x": "int", "y": "string", "w": "int"})
    assert ok["compatible"] and ok["warnings"]


def test_manifest_report(spark, sf_dir, tmp_path):
    out = str(tmp_path / "enc")
    df = tokenize_documents(spark, sf_dir)
    encode_token_table(spark, df, out, target_tokens=10_000)
    rep = manifest_report(spark, out)
    assert "# Encode report" in rep
    assert "ratio" in rep and "| codec |" in rep
    assert manifest_report(spark, str(tmp_path / "nope")).endswith(
        "No manifest found.\n"
    )


def test_manifest_report_without_committed_rows(spark, tmp_path):
    """A store whose only manifest row is the running marker of a first
    encode that crashed, and an empty manifest directory, both report
    "No committed partitions" instead of failing on NULL totals."""
    from etl_sql_duckdb_parquet__spark.encode.manifest import (
        append_running_marker,
    )

    crashed = str(tmp_path / "crashed")
    append_running_marker(spark, crashed, "run_crashed", "snap_x")
    empty = tmp_path / "empty"
    (empty / "manifest").mkdir(parents=True)
    for out in (crashed, str(empty)):
        rep = manifest_report(spark, out)
        assert rep == "# Encode report\n\nNo committed partitions.\n", rep
