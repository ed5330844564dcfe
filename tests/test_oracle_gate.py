"""Full oracle gate: every registry entry against its DuckDB oracle.

Each entry runs on Spark at the suite's scale factor and its oracle SQL
runs on DuckDB over the same parquet files; the two results must agree
on column names, row count and the order-insensitive value hash of
``tools/check_correctness.py`` (the mirror of the driver's compare).
Entries without an oracle must run. Artifacts stage on first use, so
this also runs every staged route.
"""

import pytest

from deva_spark import queries as Q
from tools import check_correctness as cc


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = cc.oracle_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(Q.SPARK_QUERIES))
def test_entry_matches_oracle(spark, sf_dir, oracle_con, name):
    ok, report = cc.check_entry(
        spark, oracle_con, sf_dir, name, Q.SPARK_QUERIES[name], Q.ORACLE_SQL.get(name)
    )
    assert ok, report
