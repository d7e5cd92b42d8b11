"""Python worker daemon that keeps Spark's own archives' import caches.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). Before CPython
3.13, ``zipimporter.invalidate_caches`` re-reads the archive's central
directory on the spot, once per cached importer. A task's worker holds
16 of them: 12 on ``pyspark.zip`` (1,328 entries), 2 on the py4j zip
and 2 on the spark-core jar (5,359 entries). On a 4-core VM a 100-row,
4-partition ``mapInPandas`` took 0.39 s (median of 15) against 0.05 s
for the same job in the JVM; with this daemon it takes 0.16 s.

This daemon turns that re-read into a no-op for the archives that were
on ``sys.path`` when it started: Spark's zips and jar, which do not
change while the JVM runs. A user's archive on ``PYTHONPATH`` at launch
is kept the same way, so replace one only between sessions. Archives
added later (``addPyFile`` zips) and every ``FileFinder`` keep the
stock invalidation. CPython 3.13 made
``zipimporter.invalidate_caches`` lazy, so there the daemon changes
nothing. It then runs ``pyspark.daemon.manager()``; the forked workers
inherit the patch.

``session.get_spark`` names it in ``spark.python.daemon.module`` for
``local[...]`` masters only, where the workers run the driver's
interpreter and files.
"""

from __future__ import annotations

import os
import sys
import zipimport


def keep_archive_caches(archives: set[str]) -> None:
    """Make ``zipimporter.invalidate_caches`` a no-op for ``archives``
    (absolute paths); every other archive is re-read as before."""
    stock = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self: zipimport.zipimporter) -> None:
        if os.path.abspath(self.archive) not in archives:
            stock(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    if sys.version_info < (3, 13):
        # The archives on sys.path at launch: files, not directories.
        keep_archive_caches({os.path.abspath(p) for p in sys.path if p and os.path.isfile(p)})
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
