"""Local replica of the driver's correctness gate: every queries() entry
runs on Spark AND its oracle_sql() twin on DuckDB at sf0.01; row counts,
column names, and order-insensitive canonical values must match.  Mirrors the driver's sorted-columns value-hash comparison.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from etl_sql_duckdb_parquet__spark.queries.common import TABLES  # noqa: E402
from tools.parity import canon  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for tname in TABLES:
        con.execute(
            f"CREATE VIEW {tname} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{tname}.parquet')"
        )
    yield con
    con.close()


def test_all_oracle_keys_have_queries():
    assert set(ORACLES) <= set(QUERIES)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0 and len(df.columns) > 0


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_parity(name, spark, duck):
    assert name in ORACLES, f"{name} has no DuckDB oracle"
    sdf = QUERIES[name](spark, SF_DIR).toPandas()
    odf = duck.execute(ORACLES[name]).fetchdf()
    assert len(sdf) == len(odf), f"rowcount {len(sdf)} != {len(odf)}"
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert canon(sdf) == canon(odf)


def test_zero_norm_vector_is_in_no_pair(spark, tmp_path):
    """A zero embedding has no direction: its cosine divides by zero
    (DIVIDE_BY_ZERO under ANSI mode, NaN without it).  It must be dropped
    before any pair is scored, in Spark and in the oracles alike."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((12, 64))
    m = np.repeat(centers, 10, axis=0) + 0.6 * rng.standard_normal((120, 64))
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    zero_id = 3
    m[zero_id] = 0.0
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(len(m)), pa.int64()),
                "embedding": pa.array(
                    list(m.astype(np.float32)), pa.list_(pa.float32())
                ),
                "label": pa.array(np.arange(len(m)) // 10, pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet')"
    )
    for name, ids in (
        ("q45_cosine_topk", ("query_id", "neighbor_id")),
        ("q46_ann_lsh_topk", ("query_id", "neighbor_id")),
        ("q54_ann_ivf_topk", ("query_id", "neighbor_id")),
        ("q66_embedding_neardup_sql", ("a_id", "b_id")),
    ):
        sdf = QUERIES[name](spark, str(tmp_path)).toPandas()
        assert len(sdf), name
        assert zero_id not in set(sdf[ids[0]]) | set(sdf[ids[1]]), name
        assert canon(sdf) == canon(con.execute(ORACLES[name]).fetchdf()), name
    con.close()
