"""end_to_end_data_lakehouse_pipeline_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query and data-processing capabilities of the
reference lakehouse pipeline (medallion architecture: bronze CDC ingest →
silver clean/dedupe/merge → gold aggregates → star-schema warehouse →
materialized-view query corpus), re-expressed Spark-first:

- DataFrame / Spark SQL declarative plans; Catalyst does pushdown, pruning,
  join selection, AQE re-planning.
- Structured Streaming for the ingest path (file/rate sources locally; the
  Kafka source is the same API with different options).
- One ACID table format locally, a Delta-style transaction log over
  parquet (``sources.txnlog``), for silver, gold and every upsert or
  overwrite; bronze is an append-only parquet directory
  (``sources.lakehouse``). This container has no delta-spark.
- Beyond the reference surface: large-scale training-data operators
  (dedup exact/MinHash-LSH/SimHash/n-gram-Jaccard, embedding similarity
  search, text analysis, multimodal column plumbing), all designed to
  partition cleanly on a many-executor cluster.

Every public query lives in :mod:`end_to_end_data_lakehouse_pipeline_spark.plans`
and is registered with an equivalent DuckDB oracle SQL string for
differential testing.
"""

__version__ = "0.1.0"
