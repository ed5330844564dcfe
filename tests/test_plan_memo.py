"""Per-session query-plan memo (queries/_infra.py, r15 optimization).

The registry memoizes CONSTRUCTED plans per (session, sf_dir, corpus
fingerprint + cutover confs) — pure plan reuse only. These tests pin
the safety properties: identical results, a fresh DataFrame node per
call (so no shuffle-output reuse across actions), no memoization of
constructions that ran Spark jobs (their plans can embed computed
results), and invalidation when a construction-time cutover conf flips.
"""

from __future__ import annotations

import pytest

from deva_spark import queries as Q
from deva_spark.queries._infra import _jobs_submitted
from deva_spark.session import get_spark, session_memo

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    return get_spark("test-plan-memo")


def _cache(spark):
    return session_memo(spark)


def test_jobs_submitted_reads_the_dag_scheduler(spark):
    # the pure-plan guard reads an internal DAGScheduler counter and
    # degrades to never memoizing (None) if it moves: pin that it is
    # still there and counts jobs
    before = _jobs_submitted(spark)
    assert isinstance(before, int)
    spark.range(3).count()
    assert _jobs_submitted(spark) > before


def test_memoized_query_identical_results_fresh_node(spark):
    _cache(spark).clear()
    df1 = Q.SPARK_QUERIES["q12_multiway_join"](spark, SF)
    df2 = Q.SPARK_QUERIES["q12_multiway_join"](spark, SF)
    assert any(k[0] == "q12_multiway_join" for k in _cache(spark))
    # a fresh node per call: handing back the SAME object would let a
    # second action reuse the first's shuffle outputs (skipped stages
    # == intermediate-result caching across bench passes)
    assert df1 is not df2
    assert df1.toPandas().equals(df2.toPandas())


def test_eager_construction_never_memoized(spark):
    # x89 resolves its retraction subgraph EAGERLY at construct (driver
    # union-find below the cutover -> the plan embeds an ExistingRDD of
    # computed assignments). Memoizing it would cache results.
    _cache(spark).clear()
    Q.SPARK_QUERIES["x89_retract_clusters"](spark, SF)
    assert not any(k[0] == "x89_retract_clusters" for k in _cache(spark))


def test_cutover_conf_flip_invalidates(spark):
    from deva_spark.operators.windows import SMALL_INPUT_BYTES_CONF

    _cache(spark).clear()
    df_small = Q.SPARK_QUERIES["q13_positional_zip"](spark, SF)
    spark.conf.set(SMALL_INPUT_BYTES_CONF, "0")  # force the scale path
    try:
        df_scale = Q.SPARK_QUERIES["q13_positional_zip"](spark, SF)
        p_small = df_small._jdf.queryExecution().optimizedPlan().toString()
        p_scale = df_scale._jdf.queryExecution().optimizedPlan().toString()
        # the conf is in the memo key: the second call must have been
        # re-CONSTRUCTED under the new threshold (bucketed _gb path),
        # not served from the memo
        assert "_gb" not in p_small
        assert "_gb" in p_scale
    finally:
        spark.conf.unset(SMALL_INPUT_BYTES_CONF)
