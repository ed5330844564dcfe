"""Pins the Spark internals behind the session's streaming checkpoint confs.

``get_spark`` picks Spark's ``FileSystemBasedCheckpointFileManager`` (the
default forks ``chmod`` and ``readlink`` for every checkpoint file), maps
``file:`` to Hadoop's ``LocalFileSystem`` (so that manager's overwriting
rename replaces the target) and sets a short state-store maintenance tick
(a finished query's state stores are unloaded on the next tick). The
manager class moved packages between Spark 3.x and 4.x, and all three
behaviours are read through Spark internals, so an upgrade that renames
them fails here instead of silently falling back to the slow manager, a
kept stale file or a minute of retained state.
"""

from __future__ import annotations

import time

import pytest
from py4j.protocol import Py4JJavaError

from deva_spark.session import CHECKPOINT_FILE_MANAGER


def _scala_object(package, name: str):
    return getattr(getattr(package, name + "$"), "MODULE$")


def _manager(spark, path: str):
    jvm = spark.sparkContext._jvm
    cfm = _scala_object(
        jvm.org.apache.spark.sql.execution.streaming.checkpointing,
        "CheckpointFileManager",
    )
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return cfm.create(jvm.org.apache.hadoop.fs.Path(path), conf)


def _write(spark, fm, path: str, data: bytes, overwrite: bool) -> None:
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    out = fm.createAtomic(jpath, overwrite)
    out.write(bytearray(data))
    out.close()


def test_session_uses_filesystem_checkpoint_manager(spark, tmp_path):
    fm = _manager(spark, f"file:{tmp_path}")
    assert fm.getClass().getName() == CHECKPOINT_FILE_MANAGER


def test_create_atomic_overwrite_replaces_content(spark, tmp_path):
    fm = _manager(spark, f"file:{tmp_path}")
    target = tmp_path / "f"
    _write(spark, fm, f"file:{target}", b"first", overwrite=True)
    _write(spark, fm, f"file:{target}", b"second", overwrite=True)
    assert target.read_bytes() == b"second"


def test_create_atomic_without_overwrite_refuses_existing_file(spark, tmp_path):
    fm = _manager(spark, f"file:{tmp_path}")
    target = tmp_path / "f"
    _write(spark, fm, f"file:{target}", b"first", overwrite=False)
    with pytest.raises(Py4JJavaError, match="FileAlreadyExists"):
        _write(spark, fm, f"file:{target}", b"second", overwrite=False)
    assert target.read_bytes() == b"first"


def test_finished_query_unloads_its_state_stores(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(2000).selectExpr("id", "id % 7 AS k").repartition(2).write.parquet(src)
    q = (
        spark.readStream.schema("id long, k long").parquet(src)
        .groupBy("k").count()
        .writeStream.format("memory")
        .queryName("state_release_probe")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        jvm = spark.sparkContext._jvm
        st = jvm.org.apache.spark.sql.execution.streaming.state
        store = _scala_object(st, "StateStore")
        state_root = q._jsq.streamingQuery().resolvedCheckpointRoot() + "/state"
        run_id = jvm.java.util.UUID.fromString(q.runId)
        parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        ids = [
            st.StateStoreProviderId(
                st.StateStoreId(state_root, 0, p, "default"), run_id
            )
            for p in range(parts)
        ]
        # the ids name the running query's providers
        assert all(store.isLoaded(i) for i in ids)
    finally:
        q.stop()
    # Spark's default tick is 60 s; the session's tick is a few seconds
    deadline = time.monotonic() + 10
    while any(store.isLoaded(i) for i in ids) and time.monotonic() < deadline:
        time.sleep(0.2)
    loaded = sum(store.isLoaded(i) for i in ids)
    assert loaded == 0, f"{loaded} of {parts} state stores still loaded after 10 s"
