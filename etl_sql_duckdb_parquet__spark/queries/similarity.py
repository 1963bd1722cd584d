"""Similarity search over the ``embeddings`` table.

- q44/q45: brute-force cosine (exact baseline) — cross-join; each pair is
  scored by one Arrow kernel (:data:`_COSINE`) that folds the dim left to
  right in double precision, the IEEE order of DuckDB's
  ``list_dot_product``, so the oracle matches bit for bit before rounding.
- q46/q66: LSH-bucketed ANN top-k and embedding near-dup (the scale
  path) — deterministic random-hyperplane signs bucket the vectors; only
  same-bucket pairs are scored.  At 10^9 vectors the bucket join replaces
  the O(n²) cross-join; recall is traded via the number of hyperplanes.
  The one bucket kernel folds each plane dot left to right, the IEEE
  association of DuckDB's ``list_dot_product``, so both queries are
  oracle-checked end to end; pytest measures recall against brute force.
- q54: IVF ANN over √n md5-seeded cells.  Cell dots use the same
  sequential fold, so it is oracle-checked end to end too.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType

from .common import md5_60bit, t

_DIM = 64
_N_TABLES = 8  # OR-amplification: candidate if ANY table buckets a pair together
_K_PLANES = 4  # AND within a table: k sign bits per bucket id
_SEED = 42


def vector_matrix(arr: pa.Array | pa.ChunkedArray) -> np.ndarray:
    """``(n, _DIM)`` float64 rows of a ``list<float>`` Arrow array, exact
    as the oracle's ``CAST(x AS DOUBLE)``.  ``flatten()`` honours a sliced
    array's offset; ``.values`` does not."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    flat = arr.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64).reshape(-1, _DIM)


def seq_dots(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Dot products over the last axis of two broadcastable arrays, each a
    SEQUENTIAL fold seeded with 0.0 (``acc += a[..., j] * b[..., j]``).

    That is the IEEE association of DuckDB's ``list_dot_product``, so an
    oracle reproduces every cosine, sign or argmax decision bit for bit.
    A BLAS matmul reassociates the sum and can flip a decision that sits
    at the ulp level; the loop keeps one vectorized update per dim.  Pass
    ``m[:, None]`` and ``rows[None]`` for the ``(n, r)`` table of every
    row of ``m`` against every row of ``rows``."""
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for j in range(a.shape[-1]):
        acc += a[..., j] * b[..., j]
    return acc


def cosine_kernel(va: pa.Array, vb: pa.Array) -> pa.Array:
    """Arrow batch kernel: ``dot / (sqrt(aa) * sqrt(bb))`` per row, every
    term a :func:`seq_dots` fold — the oracle's ``list_dot_product(a, b)
    / (a.nrm * b.nrm)`` bit for bit."""
    a, b = vector_matrix(va), vector_matrix(vb)
    norms = np.sqrt(seq_dots(a, a)) * np.sqrt(seq_dots(b, b))
    return pa.array(seq_dots(a, b) / norms)


_COSINE = F.arrow_udf(cosine_kernel, DoubleType())
# Catalyst pushes nothing through a nondeterministic projection, so a
# filter on its ``cos`` cannot be pushed below it and run the kernel twice.
# A second UDF: ``asNondeterministic()`` mutates the one it is called on.
_COSINE_UNPUSHED = F.arrow_udf(
    cosine_kernel, DoubleType()
).asNondeterministic()


def _cell_lists(cells: np.ndarray) -> pa.ListArray:
    """``(n, k)`` int matrix → a ``list<int>`` array of its rows."""
    n, k = cells.shape
    offsets = pa.array(np.arange(0, n * k + 1, k, dtype=np.int32))
    values = pa.array(cells.ravel().astype(np.int32))
    return pa.ListArray.from_arrays(offsets, values)


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(vec_id, v)``: the fixed-dim, non-zero vectors, ``v`` as stored.

    The kernels reshape each batch to ``(n, _DIM)``, so a malformed row
    would fail the whole query; the size filter is a cheap codegen
    predicate that drops it instead.  A zero-norm vector has no
    direction, so it is dropped too: its cosine divides by zero, giving
    NaN, which Spark orders above every double, so ``NaN >= τ`` would
    hold.  That filter tests the raw elements' extremes, a pair of codegen
    predicates, rather than a norm."""
    return (
        t(spark, sf_dir, "embeddings")
        .filter(F.size("embedding") == _DIM)
        .filter(
            (F.array_max("embedding") != 0) | (F.array_min("embedding") != 0)
        )
        .select("vec_id", F.col("embedding").alias("v"))
    )


def _pair_cosine(
    a: DataFrame, b: DataFrame, pairs: DataFrame | None = None, cosine=_COSINE
) -> DataFrame:
    """``(a_id, b_id, cos)`` over every ``a`` × ``b`` pair (cross join), or
    over just the ``(a_id, b_id)`` id pairs in ``pairs``, whose vectors
    are joined back; caller filters/limits."""
    aa = a.select(F.col("vec_id").alias("a_id"), F.col("v").alias("va"))
    bb = b.select(F.col("vec_id").alias("b_id"), F.col("v").alias("vb"))
    joined = (
        aa.crossJoin(bb)
        if pairs is None
        else pairs.join(aa, "a_id").join(bb, "b_id")
    )
    return joined.select("a_id", "b_id", cosine("va", "vb").alias("cos"))


def _top5(pairs: DataFrame) -> DataFrame:
    """Top-5 ``b_id`` per ``a_id`` by (cos DESC, b_id ASC)."""
    w = Window.partitionBy("a_id").orderBy(F.desc("cos"), F.asc("b_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            F.col("a_id").alias("query_id"),
            F.col("b_id").alias("neighbor_id"),
            F.col("rank"),
            F.round("cos", 6).alias("cosine"),
        )
        .orderBy("query_id", "rank")
    )


def q44_top20_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 most-similar distinct pairs (brute force, exact)."""
    v = _vectors(spark, sf_dir)
    pairs = _pair_cosine(v, v).filter(F.col("a_id") < F.col("b_id"))
    return (
        pairs.select("a_id", "b_id", F.round("cos", 6).alias("cosine"))
        .orderBy(F.desc("cosine"), "a_id", "b_id")
        .limit(20)
    )


def q45_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors for each of the first 10 vectors (brute force)."""
    v = _vectors(spark, sf_dir)
    queries = v.filter(F.col("vec_id") < 10)
    pairs = _pair_cosine(queries, v).filter(F.col("a_id") != F.col("b_id"))
    return _top5(pairs)


def lsh_plane_literals(
    dim: int = _DIM, n_tables: int = _N_TABLES, k_planes: int = _K_PLANES
) -> list:
    """Deterministic ±1 hyperplanes per table (seed-fixed, no runtime RNG)."""
    rng = np.random.RandomState(_SEED)
    return (
        rng.randint(0, 2, size=(n_tables, k_planes, dim)) * 2 - 1
    ).tolist()


_PLANES = np.asarray(lsh_plane_literals(), dtype=np.float64)  # (L, k, dim)


def lsh_bucket_ids(vs: pa.Array) -> pa.Array:
    """Arrow batch kernel: L bucket ids (k sign bits each) per vector.

    A SQL-expression formulation of the 32 plane dots (even fully
    unrolled) puts ~64 multi-thousand-term expressions into the plan —
    Catalyst spends seconds ANALYZING the tree before any data moves —
    so the dots run as :func:`seq_dots` folds over each Arrow batch."""
    m = vector_matrix(vs)
    n_tables, k_planes, dim = _PLANES.shape
    dots = seq_dots(m[:, None], _PLANES.reshape(1, -1, dim))
    bits = dots.reshape(len(m), n_tables, k_planes) >= 0.0
    return _cell_lists((bits * (1 << np.arange(k_planes))).sum(axis=2))


_BUCKETS = F.arrow_udf(lsh_bucket_ids, ArrayType(IntegerType()))


def _lsh_bucketed(v: DataFrame) -> DataFrame:
    """Explode each vector into its ``(vec_id, table_idx, bucket)`` cells.

    L hash tables (OR) of k sign-bit planes (AND) — the standard
    recall/cost amplification shared by the ANN top-k (q46) and the
    embedding near-dup pass (q66)."""
    return v.select(
        "vec_id", F.posexplode(_BUCKETS("v")).alias("table_idx", "bucket")
    )


def _lsh_candidates(v: DataFrame, pair_filter: Column) -> DataFrame:
    """Distinct ``(a_id, b_id)`` pairs that share a bucket in ANY table
    and pass ``pair_filter``.  Candidate generation moves 16-byte id
    pairs only; vectors join back AFTER the distinct, so the dedup
    shuffle never carries the embeddings."""
    cells = _lsh_bucketed(v)
    a = cells.select(F.col("vec_id").alias("a_id"), "table_idx", "bucket")
    b = cells.select(F.col("vec_id").alias("b_id"), "table_idx", "bucket")
    return (
        a.join(b, ["table_idx", "bucket"])
        .filter(pair_filter)
        .select("a_id", "b_id")
        .distinct()
    )


def q46_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 neighbors for the first 10 vectors.

    A pair is a candidate if any table puts both vectors in the same
    bucket; candidates are ranked by exact cosine (q45's ranking).  At
    10^9 vectors the per-table bucket join replaces the O(n²) cross-join;
    L and k tune recall vs candidates.  The result is approximate vs
    q45 (pytest measures recall) but deterministic, so its DuckDB oracle
    checks it exactly.
    """
    v = _vectors(spark, sf_dir)
    cand = _lsh_candidates(
        v, (F.col("a_id") < 10) & (F.col("a_id") != F.col("b_id"))
    )
    return _top5(_pair_cosine(v, v, cand))


NEARDUP_COS = 0.40  # τ tuned to the synthetic embedding distribution


def q66_embedding_neardup_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH candidates + exact verify.

    The dedup variant of the ANN machinery: same-bucket pairs (see
    :func:`_lsh_candidates`) are the candidates, and each one is verified
    with the exact cosine before being reported as a near-dup (cosine ≥
    τ).  Precision is 1.0 by construction; recall is the LSH recall,
    measured in pytest against the brute-force pair set.  At 10^9
    vectors the bucket join is the only pair generator — no cross join,
    no driver data path (reference capability: duplicate detection, its
    ``sql/queries.sql`` exact-dup query; this is the embedding-space
    analogue for training-data curation).  The whole operator — bucket
    structure, pair set and verified cosines — is oracle-checked.
    """
    v = _vectors(spark, sf_dir)
    cand = _lsh_candidates(v, F.col("a_id") < F.col("b_id"))
    return (
        _pair_cosine(v, v, cand, _COSINE_UNPUSHED)
        .filter(F.col("cos") >= NEARDUP_COS)
        .select("a_id", "b_id", F.round("cos", 6).alias("cosine"))
        .orderBy(F.desc("cosine"), "a_id", "b_id")
    )


# Recall vs q45's top-5 (sf0.01 / sf0.1) and the share of vectors each
# query scores, by (R, share): (2, 3) 0.80 / 0.90 at 0.54; (3, 3) 0.86 /
# 0.94 at 0.70; (2, 2) 0.84 / 1.00 at 0.75; (3, 2) 0.92 / 1.00 at 0.87.
_PROBE_SHARE = 3  # probe n_cells // _PROBE_SHARE cells per query
_ASSIGN_REPLICAS = 3  # index each vector in its R nearest cells


def _nearest_cells(cents: np.ndarray, k: int):
    """Arrow UDF: each vector's ``k`` nearest centroids, nearest first.
    Dots are :func:`seq_dots` folds, and a stable argsort of ``-dots``
    ranks by (dot DESC, cell ASC), so the oracle's ``row_number`` picks
    the same cells bit for bit."""

    def kernel(vs: pa.Array) -> pa.Array:
        dots = seq_dots(vector_matrix(vs)[:, None], cents[None])
        return _cell_lists(np.argsort(-dots, axis=1, kind="stable")[:, :k])

    return F.arrow_udf(kernel, ArrayType(IntegerType()))


def q54_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 neighbors for the first 10 vectors: √n cells.

    The inverted-file pattern with deterministic, cross-engine pieces:

    - centroids = the ``n_cells`` vectors with the smallest
      ``md5_60bit(vec_id)`` (a seed-free uniform sample), collected and
      divided by their :func:`seq_dots` norms, the same left-to-right
      fold as DuckDB's ``list_dot_product``;
    - every vector is indexed in its ``_ASSIGN_REPLICAS`` nearest cells
      (R x storage, so a neighbor just across a cell boundary is still
      found) and each query probes its ``nprobe`` nearest cells, both
      through :func:`_nearest_cells`;
    - same-cell pairs are ranked by exact cosine (q45's ranking).

    At the test scales IVF barely prunes: each query scores 0.70 of all
    vectors at sf0.01 and at sf0.1 (349/500 and 1,396/2,000), the share
    that buys the recall measured beside ``_PROBE_SHARE``.  At 10^9
    vectors the cell join replaces the O(n²) cross-join; the
    driver sees two metadata-sized actions (the count and the
    ``n_cells`` seed rows), and the candidate join moves id pairs only.
    The result is approximate vs q45 (pytest measures recall) but
    deterministic, so its DuckDB oracle checks it exactly.
    """
    v = _vectors(spark, sf_dir)
    n_cells = int(np.clip(round(np.sqrt(v.count())), 4, 256))
    nprobe = max(2, n_cells // _PROBE_SHARE)
    seeds = vector_matrix(
        v.withColumn("_h", md5_60bit(F.col("vec_id").cast("string")))
        .orderBy("_h", "vec_id")
        .limit(n_cells)
        .toArrow()
        .column("v")
    )
    cents = seeds / np.sqrt(seq_dots(seeds, seeds))[:, None]
    assign = _nearest_cells(cents, _ASSIGN_REPLICAS)
    probe = _nearest_cells(cents, nprobe)
    assigned = v.select(
        F.col("vec_id").alias("b_id"), F.explode(assign("v")).alias("cell")
    )
    probes = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("a_id"), F.explode(probe("v")).alias("cell")
    )
    cand = (
        probes.join(assigned, "cell")
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    return _top5(_pair_cosine(v, v, cand))


# DuckDB side.  ``n`` holds the fixed-dim, non-zero vectors with
# ``sqrt(list_dot_product(vec, vec))`` norms: the same left-to-right fold
# as :func:`cosine_kernel`'s, so unrounded cosines — compared against τ
# and ranked — match bit for bit, not just to 6 decimals.
_SQL_VECTORS = f"""
    v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
        WHERE len(embedding) = {_DIM}
    ),
    n AS (
        SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS nrm
        FROM v
        WHERE list_dot_product(vec, vec) > 0
    )
"""


def _sql_lsh_candidates(pair_filter: str) -> str:
    """``cells`` and ``cand`` CTEs: :func:`_lsh_candidates` in DuckDB.

    Each table's bucket id is the sum of CASE sign bits over
    ``list_dot_product`` with the same ±1 planes — the association
    :func:`seq_dots` reproduces in Spark."""
    legs = []
    for ti, table in enumerate(lsh_plane_literals()):
        bits = " + ".join(
            "(CASE WHEN list_dot_product(vec, ["
            + ", ".join(f"{float(x)}" for x in plane)
            + f"]) >= 0 THEN {1 << j} ELSE 0 END)"
            for j, plane in enumerate(table)
        )
        legs.append(
            f"SELECT vec_id, {ti} AS table_idx, "
            f"CAST({bits} AS INT) AS bucket FROM n"
        )
    return f"""
        cells AS ({" UNION ALL ".join(legs)}),
        cand AS (
            SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
            FROM cells a
            JOIN cells b
              ON a.table_idx = b.table_idx AND a.bucket = b.bucket
            WHERE {pair_filter}
        )
    """


def _oracle_top5(pairs_from: str, *ctes: str) -> str:
    """:func:`_top5` over the ``a``/``b`` pairs of ``pairs_from``."""
    return f"""
        WITH {", ".join((_SQL_VECTORS, *ctes))},
        pairs AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm) AS cos
            FROM {pairs_from}
        ),
        ranked AS (
            SELECT query_id, neighbor_id,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank,
                   round(cos, 6) AS cosine
            FROM pairs
        )
        SELECT query_id, neighbor_id, rank, cosine
        FROM ranked
        WHERE rank <= 5
        ORDER BY query_id, rank
    """


_ORACLE_EMBEDDING_NEARDUP = f"""
    WITH {_SQL_VECTORS}, {_sql_lsh_candidates("a.vec_id < b.vec_id")},
    verified AS (
        SELECT c.a_id, c.b_id,
               list_dot_product(x.vec, y.vec) / (x.nrm * y.nrm) AS cos
        FROM cand c
        JOIN n x ON x.vec_id = c.a_id
        JOIN n y ON y.vec_id = c.b_id
    )
    SELECT a_id, b_id, round(cos, 6) AS cosine
    FROM verified
    WHERE cos >= {NEARDUP_COS}
    ORDER BY cosine DESC, a_id, b_id
"""

# :func:`q54_ann_ivf_topk`'s cells and ``cand`` pairs in DuckDB
_SQL_IVF_CANDIDATES = f"""
    ivf AS (
        SELECT CAST(least(greatest(round(sqrt(count(*))), 4), 256)
                    AS INT) AS n_cells
        FROM n
    ),
    h AS (
        SELECT vec_id, vec, nrm,
               CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS hh
        FROM n
    ),
    seeds AS (
        SELECT CAST(row_number() OVER (ORDER BY hh, vec_id) - 1
                    AS INT) AS cell,
               list_transform(vec, x -> x / nrm) AS c
        FROM h
        QUALIFY row_number() OVER (ORDER BY hh, vec_id)
                <= (SELECT n_cells FROM ivf)
    ),
    dots AS (
        SELECT n.vec_id, s.cell, list_dot_product(n.vec, s.c) AS d
        FROM n CROSS JOIN seeds s
    ),
    cell_rank AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d DESC, cell ASC) AS rnk
        FROM dots
    ),
    cand AS (
        SELECT DISTINCT p.vec_id AS a_id, x.vec_id AS b_id
        FROM cell_rank p
        JOIN cell_rank x ON p.cell = x.cell
        WHERE p.vec_id < 10
          AND p.rnk <= (SELECT greatest(2, n_cells // {_PROBE_SHARE})
                        FROM ivf)
          AND x.rnk <= {_ASSIGN_REPLICAS}
          AND p.vec_id != x.vec_id
    )
"""

SIMILARITY_ORACLES: dict[str, str] = {
    "q66_embedding_neardup_sql": _ORACLE_EMBEDDING_NEARDUP,
    "q44_top20_similar_pairs": f"""
        WITH {_SQL_VECTORS}
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               round(list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm), 6)
                   AS cosine
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        ORDER BY cosine DESC, a_id, b_id
        LIMIT 20
    """,
    "q49_label_centroids": """
        WITH dims AS (
            SELECT label,
                   i - 1 AS dim,
                   CAST(embedding[i] AS DOUBLE) AS x
            FROM embeddings,
                 unnest(generate_series(1, len(embedding))) AS t(i)
        ),
        cent AS (
            SELECT label, dim, avg(x) AS c
            FROM dims GROUP BY label, dim
        ),
        norms AS (
            SELECT label,
                   round(sqrt(sum(c * c)), 6) AS centroid_norm,
                   count(*) AS n_dims
            FROM cent GROUP BY label
        )
        SELECT n.label, n.centroid_norm, n.n_dims, v.n_vectors
        FROM norms n
        JOIN (SELECT label, count(*) AS n_vectors
              FROM embeddings GROUP BY label) v USING (label)
        ORDER BY label
    """,
    "q45_cosine_topk": _oracle_top5(
        "n a JOIN n b ON a.vec_id < 10 AND a.vec_id != b.vec_id"
    ),
    "q46_ann_lsh_topk": _oracle_top5(
        "cand c JOIN n a ON a.vec_id = c.a_id JOIN n b ON b.vec_id = c.b_id",
        _sql_lsh_candidates("a.vec_id < 10 AND a.vec_id != b.vec_id"),
    ),
    "q54_ann_ivf_topk": _oracle_top5(
        "cand c JOIN n a ON a.vec_id = c.a_id JOIN n b ON b.vec_id = c.b_id",
        _SQL_IVF_CANDIDATES,
    ),
}


def q49_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding vectors: positional explode →
    per-dimension mean → re-assembled norm.  The aggregation shape IVF-style
    ANN uses to build coarse quantizers."""
    emb = t(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    dims = emb.select("label", F.posexplode(vec).alias("dim", "x"))
    cent = dims.groupBy("label", "dim").agg(F.avg("x").alias("c"))
    return (
        cent.groupBy("label")
        .agg(
            F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 6).alias(
                "centroid_norm"
            ),
            F.count("*").alias("n_dims"),
        )
        .join(
            emb.groupBy("label").agg(F.count("*").alias("n_vectors")),
            "label",
        )
        .orderBy("label")
    )
