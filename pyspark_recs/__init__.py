"""pyspark_recs — a PySpark-native analytics/recsys engine.

A from-scratch engine with the query and data-processing capabilities of
``jacopotagliabue/recs-at-resonable-scale`` (reference at /root/reference,
surveyed in SURVEY.md), re-expressed Spark-first:

- relational layer  -> Spark SQL / DataFrame (``pyspark_recs.sql``)
- ingest / sinks    -> ``pyspark_recs.io``
- features          -> Categorify estimator, sequence features
                       (``pyspark_recs.features``)
- retrieval model   -> ALS + ranking metrics (``pyspark_recs.model``)
- LLM-data ops      -> dedup / similarity / text / multimodal
                       (``pyspark_recs.llmops``)
- streaming         -> the Structured Streaming operators s18-s23 run
                       (``pyspark_recs.streaming``)

Every operator is designed for a 1000-executor / 100 TB deployment and
tested for correctness against a DuckDB oracle on local[32].
"""

__version__ = "0.1.0"
