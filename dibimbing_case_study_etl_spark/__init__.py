"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference ETL project (caesarmario/dibimbing-case-study-etl),
re-expressed Spark-first.

Layout
------
- ``session``    : SparkSession factory (AQE, Arrow, dynamic partition overwrite).
- ``pyworker``   : Python worker daemon for local masters (keeps Spark's archive caches).
- ``schemas``    : single StructType registry (SURVEY §1.2 — the reference declares
                   its schema three times; here it lives once).
- ``catalog``    : test-table loader/registrar for the TPC-H-ish synthetic data.
- ``functions``  : scalar/text/vector helpers (built-in ``pyspark.sql.functions``
                   compositions; Pandas UDFs only where unavoidable).
- ``operators``  : txlog tables + merge_upsert, window dedup, DQ checks,
                   dedup family, similarity search, multimodal plumbing.
- ``sources``    : HTTP API source (driver-side), file readers with explicit schemas.
- ``pipeline``   : the medallion weather ETL (extract → normalize → L1 → L2).
- ``queries``    : the query registry — every entry pairs a Spark DataFrame
                   builder with an equivalent DuckDB oracle SQL string.
- ``streaming``  : Structured Streaming incremental mode.
"""

__version__ = "0.1.0"
