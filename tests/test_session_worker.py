"""The Python worker daemon: workers import the installed PySpark and keep
no Python-free archive on their path (``pydaemon``)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_sql_duckdb_parquet__spark.pydaemon import drop_archives  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_worker_path_holds_no_spark_archives(spark):
    def report(batches):
        import json
        import sys

        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        archives = [p for p in sys.path if p.endswith((".zip", ".jar"))]
        zip_keys = [
            k
            for k, v in sys.path_importer_cache.items()
            if type(v).__name__ == "zipimporter"
        ]
        yield pa.RecordBatch.from_pylist(
            [{"r": json.dumps([pyspark.__file__, archives, zip_keys])}]
        )

    row = spark.range(1).mapInArrow(report, "r string").collect()[0]
    pyspark_file, archives, zip_keys = json.loads(row.r)
    assert "pyspark.zip" not in pyspark_file
    for entry in [*archives, *zip_keys]:
        assert "pyspark.zip" not in entry
        assert "spark-core" not in entry


def _zip(path, members: dict[str, bytes]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    return str(path)


def _layout(tmp_path, zip_version: bytes):
    """An installed ``pyspark`` (version.py = b"v1"), a ``pyspark.zip``
    with the given version.py, a Python library zip and a class-only jar."""
    site = tmp_path / "site"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_bytes(b"")
    (site / "pyspark" / "version.py").write_bytes(b"v1")
    pyspark_zip = _zip(
        tmp_path / "pyspark.zip",
        {"pyspark/__init__.py": b"", "pyspark/version.py": zip_version},
    )
    lib_zip = _zip(tmp_path / "lib.zip", {"lib/__init__.py": b"x = 1"})
    jar = _zip(tmp_path / "core.jar", {"org/Foo.class": b"\xca\xfe"})
    path = [str(tmp_path / "missing.zip"), pyspark_zip, lib_zip, jar, str(site)]
    cache = {
        p: object()
        for p in [
            pyspark_zip,
            pyspark_zip + "/pyspark",
            lib_zip,
            lib_zip + "/lib",
            jar,
            jar + "/org",
            str(site),
        ]
    }
    return path, cache, pyspark_zip, lib_zip, jar


def test_mismatched_pyspark_zip_is_kept(tmp_path):
    path, cache, pyspark_zip, _, jar = _layout(tmp_path, zip_version=b"v2")
    assert drop_archives(path, cache) == [jar]
    assert pyspark_zip in path and pyspark_zip + "/pyspark" in cache


def test_python_free_archives_and_their_importers_are_dropped(tmp_path):
    path, cache, pyspark_zip, lib_zip, jar = _layout(tmp_path, zip_version=b"v1")
    before = list(path)
    assert drop_archives(path, cache) == [pyspark_zip, jar]
    assert path == [p for p in before if p not in (pyspark_zip, jar)]
    assert lib_zip in path  # holds .py files
    assert sorted(cache) == sorted([lib_zip, lib_zip + "/lib", str(tmp_path / "site")])


def test_package_import_stays_pyspark_free():
    """``python -m <package>.pydaemon`` imports the package first; a
    PySpark import there would load it from pyspark.zip before the daemon
    cleans the path."""
    code = (
        "import sys, etl_sql_duckdb_parquet__spark.pydaemon; "
        "print('pyspark' in sys.modules)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True,
        check=True,
    )
    assert out.stdout.strip() == "False"
