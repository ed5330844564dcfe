"""Exactly-once recovery: a checkpointed streaming query killed mid-backlog
and restarted must produce every row exactly once — the durability the
reference lacks entirely (SURVEY §2.10: at-most-once in-memory)."""

import os
import shutil
import time

from pyspark.sql import functions as F

from deva_spark.session import read_table
from deva_spark.streaming import twin


def test_checkpoint_restart_no_dupes_no_loss(spark, sf_dir, tmp_path):
    staged = twin.stage_event_chunks(
        spark, sf_dir, chunks=6, out_dir=str(tmp_path / "staged")
    )
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    try:
        def start():
            s = twin.events_file_stream(spark, staged, files_per_trigger=1)
            return (
                s.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="0 seconds")
                .start()
            )

        q = start()
        # let it commit at least one micro-batch, then kill mid-backlog
        deadline = time.time() + 60
        while time.time() < deadline:
            if any(p.get("numInputRows", 0) > 0 for p in q.recentProgress):
                break
            time.sleep(0.3)
        q.stop()
        q.awaitTermination()

        # restart from the same checkpoint and drain the rest
        s2 = twin.events_file_stream(spark, staged, files_per_trigger=1)
        q2 = (
            s2.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()

        got = spark.read.parquet(out_dir)
        total = read_table(spark, sf_dir, "events").count()
        assert got.count() == total  # no loss, no duplicates
        assert got.select("event_id").distinct().count() == total
    finally:
        shutil.rmtree(staged, ignore_errors=True)


def test_funnel_state_survives_restart(spark, sf_dir, tmp_path):
    # stateful funnel killed mid-backlog: the per-user (step, entry) state
    # must restore from the checkpoint so conversions are emitted exactly
    # once and the final counts equal the batch funnel.
    from deva_spark.operators.analytics import funnel_counts
    from deva_spark.streaming import stateful

    steps = ["signup", "view", "click", "purchase"]
    staged = twin.stage_event_chunks(
        spark, sf_dir, chunks=6, out_dir=str(tmp_path / "staged")
    )
    out_dir = str(tmp_path / "conv")
    ckpt = str(tmp_path / "ckpt")
    try:
        def start(trigger_kwargs):
            s = twin.events_file_stream(spark, staged, files_per_trigger=1)
            return (
                stateful.streaming_funnel(s, steps)
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .trigger(**trigger_kwargs)
                .start()
            )

        q = start({"processingTime": "0 seconds"})
        deadline = time.time() + 60
        while time.time() < deadline:
            if any(p.get("numInputRows", 0) > 0 for p in q.recentProgress):
                break
            time.sleep(0.3)
        q.stop()
        q.awaitTermination()

        q2 = start({"availableNow": True})
        q2.awaitTermination()

        conv = spark.read.parquet(out_dir)
        # exactly-once per (user, step), monotonic state across restart
        assert conv.count() == conv.select("user_id", "step").distinct().count()
        stream_counts = {
            r.step: r.users
            for r in conv.groupBy("step").agg(F.count(F.lit(1)).alias("users")).collect()
        }
        batch_counts = {
            r.step: r.users
            for r in funnel_counts(read_table(spark, sf_dir, "events"), steps).collect()
        }
        assert stream_counts == {k: v for k, v in batch_counts.items() if v > 0}
    finally:
        shutil.rmtree(staged, ignore_errors=True)
