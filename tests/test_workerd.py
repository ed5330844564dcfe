"""Python worker daemon (deva_spark/workerd.py).

``get_spark`` runs Python workers through ``deva_spark.workerd``, which
imports pyspark from the unpacked ``$SPARK_HOME/python`` tree instead of
``pyspark.zip`` and drops the jar from the workers' path, so pyspark's
per-task ``importlib.invalidate_caches()`` no longer re-reads zip
directories. These tests pin the Spark internals that relies on: the
daemon-module conf, the layout of the workers' path, and the workers'
``PYTHONPATH`` coming from ``spark.executorEnv.PYTHONPATH``.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.find_spark_home import _find_spark_home

from deva_spark.workerd import worker_sys_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_PYTHON = os.path.join(_find_spark_home(), "python")


def test_worker_path_swaps_zip_for_tree(tmp_path):
    python = tmp_path / "python"
    (python / "pyspark").mkdir(parents=True)
    (python / "pyspark" / "__init__.py").write_text("")
    zipped = str(python / "lib" / "pyspark.zip")
    path = ["/cwd", zipped, "/py4j-src.zip", "/jars/spark-core.jar", "/site"]
    assert worker_sys_path(path) == ["/cwd", str(python), "/py4j-src.zip", "/site"]


def test_worker_path_keeps_zip_without_tree(tmp_path):
    zipped = str(tmp_path / "python" / "lib" / "pyspark.zip")
    (tmp_path / "python" / "pyspark").mkdir(parents=True)  # no __init__.py
    assert worker_sys_path(["/cwd", zipped, "/a.jar"]) == ["/cwd", zipped]


@pytest.mark.skipif(
    not os.path.isfile(os.path.join(SPARK_PYTHON, "pyspark", "__init__.py")),
    reason="this Spark ships no unpacked pyspark tree",
)
def test_worker_imports_pyspark_from_unpacked_tree(spark):
    def facts(_):
        import sys
        import zipimport

        import pyspark

        archives = [
            imp.archive
            for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)
        ]
        yield pyspark.__file__, archives, sys.dont_write_bytecode

    assert spark.conf.get("spark.python.daemon.module") == "deva_spark.workerd"
    rdd = spark.sparkContext.parallelize([0], 1)
    pyspark_file, archives, no_bytecode = rdd.mapPartitions(facts).collect()[0]
    assert pyspark_file == os.path.join(SPARK_PYTHON, "pyspark", "__init__.py")
    # no importer over pyspark.zip or a jar is left for invalidate_caches()
    assert not [
        a for a in archives if a.endswith("pyspark.zip") or a.endswith(".jar")
    ], archives
    # nothing is compiled into $SPARK_HOME
    assert no_bytecode


def test_pandas_udf_runs_outside_repo_without_pythonpath(tmp_path):
    # the daemon is started as `python -m deva_spark.workerd` in the
    # driver's working directory; only spark.executorEnv.PYTHONPATH lets
    # it find the package from elsewhere
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from deva_spark.session import get_spark

        spark = get_spark("workerd-outside-repo", cpus=1)

        @F.pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        rows = spark.range(4).select(plus_one("id").alias("v")).collect()
        print("RESULT", sorted(r.v for r in rows))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    env.pop("DEVA_EXTRA_CONF", None)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "RESULT [1, 2, 3, 4]" in proc.stdout, proc.stderr[-3000:]
