"""sports_betting_data_pipeline_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and
data-processing capabilities of the reference ETL pipeline
(rishabjn10/Sports-Betting-Data-Pipeline, surveyed in /root/repo/SURVEY.md),
plus the LLM-data-pipeline operator set (dedup, similarity search,
multimodal columns, text analysis) required for large-scale training-data
work.

Design stance (SURVEY.md §7): one small library, not a framework.
Declared StructType schemas, pure ``DataFrame -> DataFrame`` operator
functions, built-in ``pyspark.sql.functions`` everywhere, no custom
Catalyst rules; Pandas UDFs only where no built-in exists (similarity
search, multimodal decode). Side effects only in sinks.
"""

__all__ = ["get_spark"]
__version__ = "0.1.0"


def __getattr__(name: str):
    # Lazy (PEP 562): importing the package must not import pyspark,
    # because Spark starts worker_daemon as ``python -m`` with its own
    # pyspark archives still first on sys.path.
    if name == "get_spark":
        from sports_betting_data_pipeline_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
