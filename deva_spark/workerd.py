"""Python worker daemon: pyspark's own daemon, with pyspark imported from
its unpacked source tree instead of ``pyspark.zip``.

Spark starts its Python workers with ``$SPARK_HOME/python/lib/pyspark.zip``
and the spark-core jar first on ``PYTHONPATH``. Before every task,
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and on Python 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's whole
central directory: one importer per imported pyspark sub-package over the
1 328-entry zip, plus the importers over the 5 359-entry jar, which holds
no Python at all. On a 4-core VM that rescan cost 0.14-0.21 s of CPU per
task, more than the serializer and the user function together on the
streaming drains.

``python -m deva_spark.workerd`` removes it and then runs
``pyspark.daemon`` unchanged. :func:`worker_sys_path` swaps the zip for
the ``python/`` directory beside it when that directory holds the same
``pyspark`` package unpacked (the Spark distribution ships both), and
drops the jar entries. Where there is no unpacked tree, the zip stays.
Bytecode writing is switched off so that no ``__pycache__`` lands inside
``$SPARK_HOME``: the zip never cached bytecode either, so pyspark is
compiled once per daemon start, as before.

:func:`deva_spark.session.get_spark` sets ``spark.python.daemon.module``
to this module. It must run before anything imports pyspark, which is why
``deva_spark/__init__.py`` imports nothing eagerly.
"""

from __future__ import annotations

import os
import runpy
import sys


def worker_sys_path(path: list[str]) -> list[str]:
    """``path`` with ``…/python/lib/pyspark.zip`` replaced by ``…/python``
    when ``…/python/pyspark/__init__.py`` exists, and ``.jar`` entries
    dropped. Every other entry keeps its place."""
    out = []
    for entry in path:
        if entry.endswith(".jar"):
            continue
        if os.path.basename(entry) == "pyspark.zip":
            tree = os.path.dirname(os.path.dirname(entry))
            if os.path.isfile(os.path.join(tree, "pyspark", "__init__.py")):
                entry = tree
        out.append(entry)
    return out


def main() -> None:
    sys.path[:] = worker_sys_path(sys.path)
    sys.path_importer_cache.clear()
    sys.dont_write_bytecode = True
    runpy.run_module("pyspark.daemon", run_name="__main__")


if __name__ == "__main__":
    main()
