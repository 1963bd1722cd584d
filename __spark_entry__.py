"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship TPC-H-Q1-shaped aggregation at sf0.001;
``queries``/``oracle_sql`` expose the full operator inventory
(SURVEY.md §2 + the training-data-pipeline ops) with DuckDB twins for
every SQL-expressible query.  Implementations live in
``etl_sql_duckdb_parquet__spark/queries/``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_sql_duckdb_parquet__spark.queries import ORACLES, REGISTRY


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return REGISTRY["q10_returnflag_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(REGISTRY)


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL twins (same column names as the Spark queries).

    Keys absent here — the xxhash-based q43 SimHash kernel and the q54
    IVF-ANN with its trained k-means quantizer — are genuinely
    non-SQL-expressible: the driver records rows-only checks; pytest
    covers them with recall assertions instead.  SimHash itself IS
    oracle-checked via the md5-based twin q56, the IVF assignment
    structure via q65, and LSH-ANN (q46) and the embedding near-dup
    (q66) end to end, through their sequential-fold bucket kernel.
    """
    return dict(ORACLES)
