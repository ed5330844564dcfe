"""deva_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference stream framework (sostc/deva).

Not a port: the reference is a single-process push-based Python stream DAG
(`/root/reference/deva/core/core.py:391-431`); this package re-expresses the
same operator surface as declarative Spark DataFrame / SQL plans so Catalyst
and Tungsten pick the physical strategy, and Structured Streaming provides
the streaming twin with event-time watermarks.

Layout:
  session     — SparkSession bootstrap + parquet table registry (NS/NB analog)
  operators/  — relational core, joins, windows, dedup, sampling, anomaly
  functions/  — scalar/text/simhash/minhash/vector function library
  sources/    — readers (parquet/csv/json/text) and sink writers
  streaming/  — Structured Streaming twins of the stream operators
  plans/      — declarative pipeline-spec runner + `>>` pipe DSL sugar
  workerd     — Python worker daemon (pyspark's, importing pyspark unzipped)
"""

__version__ = "0.1.0"

__all__ = ["get_spark", "load_tables", "register_views", "__version__"]


def __getattr__(name: str):
    # ``session`` (and with it pyspark) is imported on first use, not with
    # the package: ``python -m deva_spark.workerd`` imports this package
    # before it rewrites ``sys.path``, and pyspark must not be imported
    # until it has.
    if name in ("get_spark", "load_tables", "register_views"):
        from deva_spark import session

        return getattr(session, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
