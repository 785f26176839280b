"""kittispark — a PySpark-native analytics engine with the query and
data-processing capabilities of the KITTI_Data-Pipeline reference
(see SURVEY.md), generalized to a relational + LLM-data-pipeline
operator surface designed for 100 TB scale.

Layout:
    session     — tuned SparkSession builder (local test / cluster-ready)
    worker_daemon — Python-worker daemon of local sessions (see session)
    registry    — named query registry driving ``__spark_entry__``
    sources/    — table + KITTI-format readers
    operators/  — KITTI geometry, dedup, similarity, text, multimodal
    queries/    — registered queries with DuckDB oracle SQL twins
    sinks       — partitioned parquet + KITTI .bin exporters
    streaming/  — Structured Streaming facade over the events table
"""

__all__ = ["get_spark"]
__version__ = "0.1.0"


def __getattr__(name: str):
    # Lazy, so that importing the package (as ``python -m
    # kittispark.worker_daemon`` does first) does not import pyspark.
    if name == "get_spark":
        from kittispark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
