"""Streaming demo — replay the events table as a paced file stream and run
event-time windows + stateful operators against it.

Run: python examples/streaming_twin.py [sf_dir]
"""

import shutil
import sys
import tempfile

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from deva_spark.session import get_spark
from deva_spark.streaming import stateful, twin


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("example-streaming", cpus=8)

    staged = twin.stage_event_chunks(
        spark, sf_dir, chunks=4, out_dir=tempfile.mkdtemp(prefix="deva_stream_")
    )
    try:
        # tumbling event-time window with a watermark
        s = twin.events_file_stream(spark, staged)
        out = twin.run_available_now(twin.tumbling_counts(s), "ex_tumble")
        print("hourly counts (first 5):")
        out.orderBy("w", "event_type").show(5)

        # per-key online anomaly detection (Welford state in the state store)
        s2 = twin.events_file_stream(spark, staged)
        anomalies = twin.run_available_now(
            stateful.streaming_zscore_anomalies(s2), "ex_zscore", output_mode="append"
        )
        print(f"z-score anomalies: {anomalies.count()}")
        anomalies.orderBy(F.abs(F.col("z")).desc()).show(5)
    finally:
        shutil.rmtree(staged, ignore_errors=True)


if __name__ == "__main__":
    main()
