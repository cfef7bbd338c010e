"""data_pipelines_spark — a PySpark-native CDC / incremental-ingest engine.

A from-scratch engine with the capabilities of the reference ETL pipeline
(serpcompany/data-pipelines), re-expressed Spark-first:

- ``lake``       — snapshot-based Parquet lake-table layer (atomic commit,
                   merge-on-read MERGE, time travel, schema evolution).
- ``gen``        — deterministic synthetic web-page + change-stream generator.
- ``operators``  — LWW dedup, change filter, dedup family (exact / MinHash-LSH /
                   SimHash / n-gram), similarity search, validation suite.
- ``functions``  — JVM-side column expression library (normalization, hashing).
- ``extract``    — vectorized pandas/Arrow UDFs (HTML→text, field extraction,
                   language ID, quality scoring, multimodal plumbing).
- ``streaming``  — Structured Streaming CDC pipeline (readStream → foreachBatch
                   MERGE) with exactly-once ledger and lineage metrics.
"""

__version__ = "0.1.0"
