"""flink_samples_spark — a PySpark-native analytics engine.

Re-expresses the query and data-processing capabilities of the
reference repo (echauchot/flink-samples, a Flink 1.19 streaming
sandbox) as an idiomatic Spark DataFrame / Spark SQL / Structured
Streaming library, and extends it with the relational surface the
reference ships via its SQL planner plus LLM-data-pipeline operators
(dedup, similarity search, text analysis, multimodal columns)
designed for 100 TB scale.

Layout:
- ``session``    — SparkSession builder (AQE, Arrow, UTC, tuned shuffle)
- ``sources``    — batch + streaming source/sink constructors
- ``operators``  — relational operators (agg, join, windows, set ops, ...)
- ``functions``  — scalar function families + UDF surface
- ``streaming``  — event-time windows, watermark, checkpointed jobs
- ``llmops``     — dedup / similarity / text-analysis / multimodal
- ``plans``      — the declared query catalog (q_* ids from SURVEY.md §2)
"""

__all__ = ["get_spark", "stop_spark"]
__version__ = "0.1.0"


def __getattr__(name: str):
    # PEP 562: importing the package imports no pyspark, so the Python
    # worker daemon (``worker_daemon``) can set ``sys.path`` first.
    if name in __all__:
        from flink_samples_spark import session

        return getattr(session, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
