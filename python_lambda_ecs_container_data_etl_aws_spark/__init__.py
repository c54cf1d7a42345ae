"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference ETL pipeline
(renrihui8415/Python-Lambda-ECS-Container-Data-ETL-AWS).

The reference is an event-driven AWS Lambda/ECS orchestrator whose
relational logic lives in MySQL stored procedures; this package
re-expresses the whole surface Spark-first (DataFrame / Spark SQL /
Structured Streaming) and adds the large-scale training-data-pipeline
operators (dedup, similarity search, text analysis, multimodal
columns) mandated by the project north star.

Layout
------
- ``session``   : SparkSession factory (AQE, timezone, shuffle sizing),
                  and ``local_frame`` for driver-held rows
- ``catalog``   : loaders for the test star schema + events/documents/embeddings
- ``plans``     : the declared query catalog (Q01-Q16 + extension queries),
                  each with a DuckDB oracle-SQL twin
- ``sources``   : ingest spine — schema registry, filename routing,
                  CSV canonical projection, quarantine, chunking, merge
- ``functions`` : scalar/helper column expressions shared across plans
- ``operators`` : dedup (exact/minhash/simhash), similarity search,
                  text analysis, multimodal column plumbing
- ``streaming`` : Structured Streaming runner (file source, watermark,
                  completion hook)

Cache ownership convention
--------------------------
Operators that ``persist()`` an intermediate consumed on multiple
branches of the RETURNED lazy plan (banded self-joins, iterative rank
loops, shared edge aggregations) cannot unpersist it themselves — the
caller's action is what materializes the plan. Lifetime is therefore
caller-owned: run the consuming action, then release with
``spark.catalog.clearCache()`` (or targeted ``unpersist()``). Every
long-lived harness in this repo does so between queries (``bench.py``,
the ``__main__`` CLI, the parity/scale test suites). Operators whose
cached state dies BEFORE return (iteration N-1 labels in
``operators/dedup.connected_components``) unpersist it eagerly.
"""

__version__ = "0.1.0"
