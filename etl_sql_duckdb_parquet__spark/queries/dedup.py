"""Deduplication operators over ``documents`` — exact hash, n-gram
Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each variant at 100 TB):

- exact: one hash-groupBy shuffle on a 16-byte key — cheapest, catches
  byte-identical dups only.
- n-gram Jaccard: exact pairwise similarity via a shingle-inverted-index
  self-join — quadratic in the worst case, used as the small-scale oracle
  for the approximate methods.
- MinHash+LSH: shingle → K minhashes → B bands; only documents sharing a
  band bucket are compared, so the self-join touches candidate pairs, not
  all pairs.  Bucket join keys are (band_idx, band_hash) — uniformly
  distributed, no skew salting needed.
- SimHash: one 60-bit signature per doc; candidates from 15-bit band
  collisions, verified by exact Hamming distance.

Every variant has a DuckDB oracle twin.  SimHash's word hash is the first
60 bits of md5 (``common.md5_60bit``), which both engines compute, so the
signatures and pairs are reproduced bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import md5_60bit, t

N_MINHASH = 16
LSH_ROWS_PER_BAND = 4  # 4 bands of 4
JACCARD_THRESHOLD = 0.5
SIMHASH_MAX_HAMMING = 8
_SIMHASH_BAND_BITS = 15  # 4 bands cover the 60-bit signature


def _shingles(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingle) — distinct k-word shingles, JVM-side only."""
    words = F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
    sh = F.expr(
        f"transform(sequence(0, size(_w) - {k}), "
        f"i -> concat_ws(' ', slice(_w, i + 1, {k})))"
    )
    return (
        docs.select("doc_id", words.alias("_w"))
        .filter(F.size("_w") >= k)
        .select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle"))
    )


def q40_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical duplicate groups via MD5 hash-groupBy."""
    docs = t(spark, sf_dir, "documents")
    g = docs.groupBy(F.md5("text").alias("h")).agg(F.count("*").alias("n"))
    dups = g.filter(F.col("n") > 1)
    return dups.agg(
        F.count("*").alias("n_dup_groups"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_docs_in_dup_groups"),
    )


def q41_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise n-gram Jaccard ≥ threshold via shingle self-join."""
    docs = t(spark, sf_dir, "documents")
    sh = _shingles(docs).cache()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("a_id"), "shingle")
    b = sh.select(F.col("doc_id").alias("b_id"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("nb"))
    jac = F.col("c").cast("double") / (
        F.col("na") + F.col("nb") - F.col("c")
    )
    return (
        common.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(jac >= 0.2)
        .select("a_id", "b_id", "jaccard")
        .orderBy("a_id", "b_id")
    )


def minhash_signatures(
    docs: DataFrame,
    n_hashes: int = N_MINHASH,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, m0..m{n-1}) MinHash signature columns, all JVM-side.

    ``shingles``: pass a (cached) pre-computed shingle set to avoid
    re-running the regexp shingling when the caller needs it too.
    """
    sh = _shingles(docs) if shingles is None else shingles
    mins = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"m{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy("doc_id").agg(*mins)


def q42_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidates, verified with exact Jaccard ≥ 0.5.

    Fully oracle-backed: the candidate pairs are verified with an EXACT
    Jaccard join, so the final answer is hash-independent and the DuckDB
    twin (same shingling + exact Jaccard ≥ 0.5) matches value-for-value.
    pytest additionally checks recall against q41's exact answer.
    """
    docs = t(spark, sf_dir, "documents")
    # one shingling pass feeds BOTH the signatures and the verify step
    sh = _shingles(docs).cache()
    sig = minhash_signatures(docs, shingles=sh)
    n_bands = N_MINHASH // LSH_ROWS_PER_BAND
    bands = F.array(
        *[
            F.xxhash64(
                *[
                    F.col(f"m{b * LSH_ROWS_PER_BAND + r}")
                    for r in range(LSH_ROWS_PER_BAND)
                ]
            )
            for b in range(n_bands)
        ]
    )
    bucketed = sig.select(
        "doc_id", F.posexplode(bands).alias("band_idx", "band_hash")
    )
    l = bucketed.select(
        F.col("doc_id").alias("a_id"), "band_idx", "band_hash"
    )
    r = bucketed.select(
        F.col("doc_id").alias("b_id"), "band_idx", "band_hash"
    )
    cand = (
        l.join(r, ["band_idx", "band_hash"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    # verify candidates with exact Jaccard over an inverted index
    # semi-joined down to candidate docs only — the self-join below touches
    # near-dup clusters, never the full corpus (the whole point of LSH).
    # Deliberately NOT broadcast: candidate cardinality is output-scale
    # (billions of ids on a 100 TB crawl), so the semi-join must stay a
    # shuffled join on 16-byte keys — AQE may still broadcast at runtime
    # when the measured size is genuinely small.
    cand_ids = (
        cand.select(F.col("a_id").alias("doc_id"))
        .union(cand.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    sh_cand = sh.join(cand_ids, "doc_id", "left_semi")
    sizes = sh_cand.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh_cand.select(F.col("doc_id").alias("a_id"), "shingle")
    b = sh_cand.select(F.col("doc_id").alias("b_id"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("c"))
    )
    verified = (
        cand.join(common, ["a_id", "b_id"])
        .join(sizes.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("na")), "a_id")
        .join(sizes.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("nb")), "b_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("c").cast("double")
                / (F.col("na") + F.col("nb") - F.col("c")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return verified.select("a_id", "b_id", "jaccard").orderBy("a_id", "b_id")


def _simhash_band_pairs(sigs: DataFrame) -> DataFrame:
    """Banded candidate join + exact-Hamming verify over (doc_id, simhash).

    4 bands of ``_SIMHASH_BAND_BITS`` bits each; only docs colliding in
    some band are paired, so the self-join touches candidate pairs, not
    all pairs.
    """
    mask = (1 << _SIMHASH_BAND_BITS) - 1
    bands = F.array(
        *[
            F.shiftrightunsigned(
                F.col("simhash"), _SIMHASH_BAND_BITS * b
            ).bitwiseAND(F.lit(mask))
            for b in range(4)
        ]
    )
    bucketed = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(bands).alias("band_idx", "band_val"),
    )
    l = bucketed.select(
        F.col("doc_id").alias("a_id"),
        F.col("simhash").alias("sig_a"),
        "band_idx",
        "band_val",
    )
    r = bucketed.select(
        F.col("doc_id").alias("b_id"),
        F.col("simhash").alias("sig_b"),
        "band_idx",
        "band_val",
    )
    hamming = F.bit_count(
        F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    ).cast("int")
    return (
        l.join(r, ["band_idx", "band_val"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .orderBy("a_id", "b_id")
    )


_SIMHASH_SQL_BITS = 60  # 15 hex chars of md5 — fits signed 64-bit in both engines


def q56_simhash_sql_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 15-bit band candidates + exact Hamming ≤ 8.

    The word hash is the first 60 bits of md5(word) — a hash both engines
    share — so signatures and pairs are exactly reproducible in ANSI SQL
    and the driver gate can hash-compare them.

    Scale design: everything is JVM built-ins — one explode, one
    groupBy(doc_id) with 60 small integer aggregates (map-side partial
    agg; ~480 bytes of agg state per doc), then a 4-band self-join that
    touches candidate pairs, not all pairs.  No Python in the plan.
    """
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("w"),
    )
    bits = words.select("doc_id", md5_60bit(F.col("w")).alias("h"))
    aggs = [
        F.sum(
            F.shiftrightunsigned("h", b).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"s{b}")
        for b in range(_SIMHASH_SQL_BITS)
    ]
    sig = None
    for b in range(_SIMHASH_SQL_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    sigs = (
        bits.groupBy("doc_id")
        .agg(*aggs)
        .select("doc_id", sig.cast("long").alias("simhash"))
    )
    return _simhash_band_pairs(sigs)


# q56's oracle is generated: 60 per-bit sums + the signature fold, kept
# textually in lockstep with the Spark plan above.
_S56_SUMS = ",\n                   ".join(
    f"sum(((h >> {b}) & 1) * 2 - 1) AS s{b}"
    for b in range(_SIMHASH_SQL_BITS)
)
_S56_SIG = "\n                 + ".join(
    f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END"
    for b in range(_SIMHASH_SQL_BITS)
)

DEDUP_ORACLES: dict[str, str] = {
    "q56_simhash_sql_pairs": f"""
        WITH w AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
            FROM documents
        ),
        h AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) AS h
            FROM w
        ),
        s AS (
            SELECT doc_id,
                   {_S56_SUMS}
            FROM h GROUP BY doc_id
        ),
        sig AS (
            SELECT doc_id,
                   CAST({_S56_SIG} AS BIGINT) AS simhash
            FROM s
        ),
        b AS (
            SELECT doc_id, simhash, i AS band_idx,
                   (simhash >> ({_SIMHASH_BAND_BITS} * CAST(i AS INT)))
                       & {(1 << _SIMHASH_BAND_BITS) - 1} AS band_val
            FROM sig, unnest(range(0, 4)) AS u(i)
        )
        SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
               CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
        FROM b x
        JOIN b y ON x.band_idx = y.band_idx AND x.band_val = y.band_val
                AND x.doc_id < y.doc_id
        WHERE bit_count(xor(x.simhash, y.simhash)) <= {SIMHASH_MAX_HAMMING}
        ORDER BY a_id, b_id
    """,
    "q40_exact_dup_groups": """
        WITH g AS (
            SELECT md5(text) AS h, count(*) AS n
            FROM documents
            GROUP BY h
            HAVING count(*) > 1
        )
        SELECT count(*) AS n_dup_groups,
               CAST(coalesce(sum(n), 0) AS BIGINT) AS n_docs_in_dup_groups
        FROM g
    """,
    # q42's verified output is EXACT Jaccard >= 0.5 restricted to LSH
    # candidate pairs; minhash banding is deterministic (seed-fixed
    # xxhash64) and its recall on this data is 1.0 (checked at sf0.01 and
    # sf0.1; pytest guards the subset property), so the full exact-Jaccard
    # SQL is a faithful oracle — any missed candidate would surface as a
    # row-count mismatch in the driver gate.
    "q42_minhash_lsh_pairs": """
        WITH w AS (
            SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
            FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id,
                   ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
            FROM w, unnest(range(1, len(ws) - 1)) AS r(i)
            WHERE len(ws) >= 3
        ),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a_id, b_id
        )
        SELECT a_id, b_id,
               round(c * 1.0 / (sa.n_sh + sb.n_sh - c), 4) AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = a_id
        JOIN sizes sb ON sb.doc_id = b_id
        WHERE c * 1.0 / (sa.n_sh + sb.n_sh - c) >= 0.5
        ORDER BY a_id, b_id
    """,
    "q41_ngram_jaccard_pairs": """
        WITH w AS (
            SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
            FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id,
                   ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
            FROM w, unnest(range(1, len(ws) - 1)) AS r(i)
            WHERE len(ws) >= 3
        ),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a_id, b_id
        )
        SELECT a_id, b_id,
               round(c * 1.0 / (sa.n_sh + sb.n_sh - c), 4) AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = a_id
        JOIN sizes sb ON sb.doc_id = b_id
        WHERE c * 1.0 / (sa.n_sh + sb.n_sh - c) >= 0.2
        ORDER BY a_id, b_id
    """,
}
