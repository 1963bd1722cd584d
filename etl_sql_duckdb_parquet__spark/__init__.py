"""PySpark-native analytics + per-column lightweight-compression engine.

Brand-new implementation with the query and data-processing capabilities of
the reference repo ``KamilJ117417/ETL-SQL-DuckDB-Parquet-`` (see SURVEY.md),
re-expressed Spark-first:

- ``codecs``    — numpy codec kernels: dictionary, RLE, delta, bit-packing,
                  frame-of-reference, string pattern-id; statistics-driven
                  auto-selection, with pyarrow's ZSTD as the entropy layer
                  on top (a requirement).  (North star: the reference
                  delegates its columnar encoding to Parquet/ZSTD —
                  reference ``src/etl/load.py:44-48`` — here the light
                  codecs are ours.)
- ``encode``    — DataFrame-level encode/decode jobs over tokenized-sequence
                  tables ``(doc_id, tokens, n_tok, source)``, with explicit
                  repartitioning, a per-partition lineage manifest, and
                  checkpoint resume.
- ``operators`` — the reference's 12-query analytics suite (reference
                  ``sql/queries.sql``) + profiling/QC stats + training-data
                  ops (dedup, similarity search, text analysis).
- ``sources``   — CSV/TSV ingest with separator detect + audit columns,
                  Parquet IO (reference ``src/etl/ingest.py``, ``load.py``).
- ``functions`` — cleaning/casting scalar functions and validation rules
                  (reference ``src/etl/transform.py``, ``validate.py``).
"""

__version__ = "0.1.0"
