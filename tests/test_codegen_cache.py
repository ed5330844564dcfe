"""Pins the Spark internals behind the session's compiled-class cache.

``get_spark`` raises ``spark.sql.codegen.cache.maxEntries`` so a session
that re-runs the same plans compiles each generated class once. These
tests read the cache bound through ``SQLConf`` and the compile count
through ``CodegenMetrics``; a Spark upgrade that renames either, or a
session that loses the conf, fails here instead of silently recompiling
every pass.
"""

from __future__ import annotations

import uuid

from deva_spark.session import CODEGEN_CACHE_MAX_ENTRIES, codegen_stats

#: Distinct queries per round; each compiles two classes, so one round
#: overflows Spark's default cache of 100 entries.
_QUERIES = 60


def _round(spark, salt: int) -> int:
    before = codegen_stats(spark)["classes_compiled"]
    for i in range(_QUERIES):
        spark.range(2).selectExpr(f"id * {salt} + {i} AS v").collect()
    return codegen_stats(spark)["classes_compiled"] - before


def test_session_sets_codegen_cache_bound(spark):
    jvm = spark.sparkContext._jvm
    conf = jvm.org.apache.spark.sql.internal.SQLConf.get()
    assert conf.codegenCacheMaxEntries() == CODEGEN_CACHE_MAX_ENTRIES


def test_second_round_compiles_no_class(spark):
    # a fresh salt keeps these classes out of anything compiled before
    salt = 1_000_003 + uuid.uuid4().int % 1_000_000_007
    cold = _round(spark, salt)
    assert cold > 100, cold  # more classes than Spark's default cache holds
    warm = _round(spark, salt)
    assert warm == 0, f"{warm} of {cold} classes recompiled: cache evicted them"

