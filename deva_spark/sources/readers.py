"""Source readers — the scan family (SURVEY.md §2.1).

Reference surface → Spark mapping:
  ``from_textfile`` (`/root/reference/deva/core/sources.py:198-263`)
    → text file source, batch or ``readStream.text`` (tail-follow)
  ``filenames`` directory watch (`sources.py:265-338`)
    → the file-stream source's built-in new-file discovery
  ``readlines``/``read`` (`pipe.py:1137-1174`) → ``spark.read.text``
  ``from_kafka`` (`sources.py:681-765`) → ``readStream.format("kafka")``
  ``from_tcp_port`` (`sources.py:340-424`) → ``format("socket")`` (dev)
  ``from_periodic``/``timer`` (`sources.py:1418-1451`) → ``format("rate")``
  ``Stream.emit`` / ``x >> stream`` → ``rows_source`` literal frames

Kafka needs the external spark-sql-kafka package; it is gated so the
module imports cleanly in this container and fails with a clear message
only when actually used.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession


def rows_source(spark: SparkSession, rows: Iterable[tuple], schema: str) -> DataFrame:
    """``emit``/literal injection analog: a bounded in-memory frame."""
    return spark.createDataFrame(list(rows), schema)


def text_lines(spark: SparkSession, path: str) -> DataFrame:
    """``readlines`` analog: one row per line, column ``value``."""
    return spark.read.text(path)


def text_stream(spark: SparkSession, directory: str) -> DataFrame:
    """``from_textfile``/``filenames`` analog: tail a directory of text
    files as a stream; new files become micro-batches."""
    return spark.readStream.text(directory)


def rate_stream(spark: SparkSession, rows_per_second: int = 10) -> DataFrame:
    """``from_periodic``/``timer`` analog: synthetic paced source with
    (timestamp, value) rows."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def socket_stream(spark: SparkSession, host: str, port: int) -> DataFrame:
    """``from_tcp_port`` analog (dev-only; production path is Kafka)."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """``from_kafka`` analog (`sources.py:681-765`): consumer-group
    semantics come from checkpointed offsets instead of explicit groups."""
    try:
        return (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topics)
            .option("startingOffsets", starting_offsets)
            .load()
        )
    except Exception as e:  # noqa: BLE001 — package not bundled here
        raise RuntimeError(
            "Kafka source requires the spark-sql-kafka package on the "
            "classpath (--packages org.apache.spark:spark-sql-kafka-0-10_2.13)"
        ) from e
