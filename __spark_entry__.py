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

    Every ``queries()`` key has one.  The approximate operators are
    deterministic, so their oracles check them exactly: SimHash (q56)
    through an md5-derived word hash both engines compute, and the LSH
    (q46, q66) and IVF (q54) ANN paths through kernels that fold every
    dot product left to right, as DuckDB's ``list_dot_product`` does.
    pytest measures their recall against brute force.
    """
    return dict(ORACLES)
