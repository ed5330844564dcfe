"""Shared-artifact staging: atomic on-first-use staging and session
lifetime (queries/_infra.py).

Staging writes into a temp dir beside the final path and renames it into
place, so a directory at the final path is always complete; nothing the
artifact layer keeps may outlive the session that built it.
"""

import gc
import os
import threading
import weakref

import pytest

from deva_spark import queries as Q
from deva_spark.queries import _infra


def test_failed_stager_leaves_nothing_and_next_read_stages(
    spark, sf_dir, tmp_path, monkeypatch
):
    monkeypatch.setenv("DEVA_ARTIFACT_DIR", str(tmp_path))

    def broken(spark, sf_dir, path):
        spark.range(5).write.mode("overwrite").parquet(path)
        raise RuntimeError("stager died midway")

    monkeypatch.setitem(_infra.ARTIFACT_STAGERS, "probe", broken)
    with pytest.raises(RuntimeError, match="midway"):
        _infra._shared_artifact(spark, sf_dir, "probe")
    assert Q.staged_artifact_path(sf_dir, "probe") is None
    assert os.listdir(tmp_path) == []

    def working(spark, sf_dir, path):
        spark.range(5).write.mode("overwrite").parquet(path)

    monkeypatch.setitem(_infra.ARTIFACT_STAGERS, "probe", working)
    assert _infra._shared_artifact(spark, sf_dir, "probe").count() == 5
    assert os.listdir(tmp_path) == [
        os.path.basename(Q.staged_artifact_path(sf_dir, "probe"))
    ]


def test_racing_stagers_both_read_the_complete_table(
    spark, sf_dir, tmp_path, monkeypatch
):
    # both threads build and write their own copy; one rename wins, the
    # other drops its copy and reads the winner's
    monkeypatch.setenv("DEVA_ARTIFACT_DIR", str(tmp_path))
    build = _infra.ARTIFACT_BUILDERS["cms_cust"]
    both_building = threading.Barrier(2)

    def in_step(spark, sf_dir):
        both_building.wait(timeout=60)
        return build(spark, sf_dir)

    monkeypatch.setitem(_infra.ARTIFACT_BUILDERS, "cms_cust", in_step)
    got, errors = [], []

    def stage_and_read():
        try:
            path = _infra._stage(spark, sf_dir, "cms_cust")
            got.append(sorted(map(tuple, spark.read.parquet(path).collect())))
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    threads = [threading.Thread(target=stage_and_read) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    want = sorted(map(tuple, build(spark, sf_dir).collect()))
    assert got == [want, want] and want
    assert os.listdir(tmp_path) == [
        os.path.basename(Q.staged_artifact_path(sf_dir, "cms_cust"))
    ]


def test_dropped_session_is_collectable(spark, sf_dir, tmp_path, monkeypatch):
    # x05 stages and reads the shared pair set, x115 checkpoints its hash
    # synopsis; neither may leave anything that pins the session
    from pyspark import RDD

    monkeypatch.setenv("DEVA_ARTIFACT_DIR", str(tmp_path))
    to_df = RDD.toDF
    other = spark.newSession()
    # pyspark rebinds RDD.toDF to a closure over the newest session;
    # hand it back to the suite's session so only deva_spark could pin
    # `other`
    RDD.toDF = to_df
    for name in ("x05_ngram_jaccard", "x115_image_neardup_pairs"):
        df = Q.SPARK_QUERIES[name](other, sf_dir)
        assert df.count() >= 0
        del df
    ref = weakref.ref(other)
    del other
    gc.collect()
    assert ref() is None
