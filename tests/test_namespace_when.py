"""Namespace registry (NS/NB analog) and when→then trigger."""

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from deva_spark.sources.namespace import Namespace
from deva_spark.streaming import twin


def test_namespace_view_and_table(spark, sf_dir):
    ns = Namespace(spark)
    df = spark.range(5).select(F.col("id").alias("x"))
    ns.put("ns_live", df)
    assert ns["ns_live"].count() == 5
    assert "ns_live" in ns

    from deva_spark.session import read_table

    with tempfile.TemporaryDirectory() as d:
        ev = read_table(spark, sf_dir, "events").limit(50)
        ns.persist("ns_durable", ev, os.path.join(d, "t"))
        assert ns["ns_durable"].count() == 50
        assert "ns_durable" in ns
        assert "ns_durable" in ns.names()


def test_when_then_trigger(spark, sf_dir, tmp_path):
    staged = twin.stage_event_chunks(spark, sf_dir, chunks=2, out_dir=str(tmp_path))
    try:
        s = twin.events_file_stream(spark, staged)
        fired = []
        twin.when_then(s, F.col("value") > 90, lambda rows: fired.extend(rows))
        from deva_spark.session import read_table

        expected = read_table(spark, sf_dir, "events").filter(F.col("value") > 90).count()
        assert len(fired) == expected
        assert all(r.value > 90 for r in fired)
    finally:
        shutil.rmtree(staged, ignore_errors=True)
