"""Codec-engine showcase queries — the north-star compression engine
exercised through the driver query contract.

q50/q52 run the real numpy codec kernels inside applyInArrow over the
SAME token-mass-proportional salted partition plan the encode job uses
(``encode_job.plan_partitions``) — a 90%-hot source is split across
proportionally many partitions instead of funneling through one Python
worker, and the per-partition stats are merged deterministically.  Both
carry full DuckDB oracles: doc/token/byte counts are SQL-expressible, and
the codec-dependent facts are surfaced as Spark-computed booleans the
oracle asserts TRUE (a codec regression breaks the driver's value hash).
q51 is the SQL-expressible tokenization path — global vocabulary ids via
a two-phase distributed rank join.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..codecs import decode_int, encode_int_best
from ..codecs.core import CODEC_NAMES, codec_of
from ..encode.encode_job import DEFAULT_TARGET_TOKENS, plan_partitions
from ..encode.synth import tokenize_documents
from .common import t


def _encode_stats_group(table: pa.Table) -> pa.Table:
    """Encode ONE salted partition's token stream through the real kernels."""
    values = (
        table.column("tokens").combine_chunks().flatten().to_numpy()
        .astype(np.int64)
    )
    blob = encode_int_best(values)
    return pa.table(
        {
            "source": [table.column("source")[0].as_py()],
            "codec": [codec_of(blob)],
            "n_docs": [table.num_rows],
            "n_tokens": [len(values)],
            "raw_bytes": [4 * len(values)],
            "comp_bytes": [len(blob)],
            "roundtrip_ok": [bool(np.array_equal(decode_int(blob), values))],
        }
    )


_STATS_SCHEMA = (
    "source string, codec string, n_docs long, n_tokens long, "
    "raw_bytes long, comp_bytes long, roundtrip_ok boolean"
)


def encoded_source_stats(
    toks: DataFrame, target_tokens: int = DEFAULT_TARGET_TOKENS
) -> DataFrame:
    """Per-source codec stats over the encode job's salted partition plan.

    Skew handling is the encode job's own (``plan_partitions``): each
    source gets ``ceil(source_tokens / target_tokens)`` salt buckets keyed
    by doc-id hash, so no single Python worker ever sees more than
    ~``target_tokens`` tokens regardless of source skew.  Per-partition
    stats merge deterministically: counts/bytes sum, ``roundtrip_ok``
    ANDs, and the reported codec is the one chosen for the partition with
    the largest token mass (ties break lexicographically) — at sf0.01
    every source fits one salt, so the output is byte-identical to an
    unsalted encode.
    """
    planned, _, _ = plan_partitions(toks, target_tokens)
    per_part = planned.groupBy("source", "part_id").applyInArrow(
        _encode_stats_group, _STATS_SCHEMA
    )
    return per_part.groupBy("source").agg(
        F.max(F.struct("n_tokens", "codec"))["codec"].alias("codec"),
        F.count("*").alias("n_parts"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("comp_bytes").alias("comp_bytes"),
        F.min("roundtrip_ok").alias("roundtrip_ok"),
    )


def q50_codec_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source codec auto-selection stats (real kernels), fully
    oracle-checked: counts/bytes are SQL-expressible; ``codec_known``
    (selector returned a registered codec) and ``compressed`` (the chosen
    codec beat raw) are Spark-computed booleans the oracle asserts TRUE —
    a selector or kernel regression breaks the value hash.  The codec
    *name* is asserted against the registry in pytest (xxhash-dependent,
    so it has no DuckDB twin)."""
    stats = encoded_source_stats(tokenize_documents(spark, sf_dir))
    return (
        stats.select(
            "source",
            "n_docs",
            "n_tokens",
            "raw_bytes",
            F.col("codec").isin(*CODEC_NAMES.values()).alias("codec_known"),
            (F.col("comp_bytes") < F.col("raw_bytes")).alias("compressed"),
        )
        .orderBy("source")
    )


VOCAB_RANK_PARTITIONS = 16


def global_rank_ids(
    df: DataFrame, col: str, n_parts: int = VOCAB_RANK_PARTITIONS
) -> DataFrame:
    """Distributed global dense ranking of the distinct values of ``col``
    (1-based), WITHOUT an unpartitioned window.

    Two-phase: range-partition the distinct values, rank within each range
    partition, then shift by broadcast per-partition offsets.  The only
    driver-side traffic is one count per range partition (metadata-sized);
    the web-scale vocab itself never funnels through a single task.
    """
    spark = df.sparkSession
    ranged = (
        df.select(col)
        .distinct()
        .repartitionByRange(n_parts, col)
        .withColumn("_pid", F.spark_partition_id())
    )
    local = ranged.withColumn(
        "_local_rank",
        F.row_number().over(Window.partitionBy("_pid").orderBy(col)),
    )
    local = local.cache()
    counts = (
        local.groupBy("_pid").agg(F.max("_local_rank").alias("cnt")).collect()
    )
    running = 0
    offsets = []
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets.append((row["_pid"], running))
        running += row["cnt"]
    off_df = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
    return local.join(F.broadcast(off_df), "_pid").select(
        col,
        (F.col("_off") + F.col("_local_rank")).cast("int").alias("token_id"),
    )


def q51_vocab_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-expressible tokenization: global vocab rank ids per word.

    Exercises explode → distinct → two-phase distributed ranking → join →
    re-aggregate.  The ranking deliberately avoids the single-partition
    ``Window.orderBy`` plan: vocab is unbounded over 100 TB of web text, so
    ids come from per-range-partition row_numbers plus broadcast offsets
    (see :func:`global_rank_ids`).  The vocab join is deliberately NOT
    hinted broadcast for the same reason — an unbounded vocab must ride a
    shuffle hash join on ``word``; AQE may still broadcast at runtime when
    the measured build side is genuinely small.
    """
    docs = t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("word"),
    )
    vocab = global_rank_ids(words, "word")
    return (
        words.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            F.sum("token_id").alias("tok_sum"),
            F.min("token_id").alias("tok_min"),
            F.max("token_id").alias("tok_max"),
        )
        .orderBy("doc_id")
    )


def q52_roundtrip_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source encode→decode bit-identity verdicts (north-rule invariant
    surfaced through the query contract), computed over the salted
    partition plan (see :func:`encoded_source_stats`).

    Fully oracle-checkable: n_docs/n_tokens are plain word counts (the
    tokenizer maps words 1:1 to ids) and the oracle asserts
    ``roundtrip_ok = TRUE`` — the Spark side computes it for real through
    the codec kernels, so any bit-infidelity fails the driver's value hash.
    """
    stats = encoded_source_stats(tokenize_documents(spark, sf_dir))
    return (
        stats.select("source", "n_docs", "n_tokens", "roundtrip_ok")
        .orderBy("source")
    )


def q53_token_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of hash-tokenized sequence lengths per source —
    the partition-planning statistic the encode job salts on."""
    toks = tokenize_documents(spark, sf_dir)
    return (
        toks.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.round(F.avg("n_tok"), 2).alias("avg_tokens"),
            F.max("n_tok").alias("max_tokens"),
        )
        .orderBy("source")
    )


ENCODE_ORACLES: dict[str, str] = {
    # q50: counts/bytes are SQL-expressible (hash tokenizer maps words 1:1
    # to ids, raw = 4 bytes/token); codec_known/compressed are asserted
    # TRUE — Spark computes them genuinely through the selector + kernels,
    # so a regression breaks the value hash.  The codec NAME is pytest-
    # asserted (xxhash-dependent choice has no DuckDB twin).
    "q50_codec_selection": """
        WITH per_doc AS (
            SELECT source,
                   len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tok
            FROM documents
        )
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               CAST(4 * sum(n_tok) AS BIGINT) AS raw_bytes,
               TRUE AS codec_known,
               TRUE AS compressed
        FROM per_doc
        GROUP BY source
        ORDER BY source
    """,
    # q52: doc/token counts are SQL-expressible (hash tokenizer maps words
    # 1:1 to ids); roundtrip_ok is asserted TRUE — Spark computes it
    # genuinely through encode_int_best/decode_int, so a codec regression
    # breaks the value hash.
    "q52_roundtrip_check": """
        WITH per_doc AS (
            SELECT source,
                   len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tok
            FROM documents
        )
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               TRUE AS roundtrip_ok
        FROM per_doc
        GROUP BY source
        ORDER BY source
    """,
    "q51_vocab_ids": """
        WITH words AS (
            SELECT doc_id, unnest(
                regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
            FROM documents
        ),
        vocab AS (
            SELECT word,
                   CAST(dense_rank() OVER (ORDER BY word) AS INT) AS token_id
            FROM (SELECT DISTINCT word FROM words)
        )
        SELECT doc_id,
               count(*) AS n_tok,
               CAST(sum(token_id) AS BIGINT) AS tok_sum,
               min(token_id) AS tok_min,
               max(token_id) AS tok_max
        FROM words JOIN vocab USING (word)
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    # q53: n_tok comes from the xxhash64 tokenizer, but the whitespace/alnum
    # token count is identical to the SQL-side word count — the tokenizer
    # maps words 1:1 to ids.
    "q53_token_length_stats": """
        WITH per_doc AS (
            SELECT source,
                   len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tok
            FROM documents
        )
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS total_tokens,
               round(avg(n_tok), 2) AS avg_tokens,
               CAST(max(n_tok) AS INT) AS max_tokens
        FROM per_doc
        GROUP BY source
        ORDER BY source
    """,
}
