"""SparkSession factory.

Defaults are chosen for the 100 TB posture (SURVEY §4.2):

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast demotion/promotion at runtime).
- Arrow on (every Pandas-UDF boundary is Arrow-batched, never per-row).
- Dynamic partition overwrite (the partitioned-Parquet rewrites in
  ``operators/rollup.py`` and ``operators/maintenance.py`` replace only
  touched partitions; the L1/L2 upserts commit through ``txlog``).
- Session timezone pinned to UTC (Spark timestamps are session-TZ;
  the DuckDB oracle and the parquet test data are UTC-naive).
- Shuffle partitions sized to the local core count rather than the 200
  default; on a real cluster this is overridden per deployment (AQE
  coalescing makes the initial number less critical).
- Generated-class cache (``spark.sql.codegen.cache.maxEntries``) at
  2048 entries, not Spark's 100. One pass over the 31 ``bench=True``
  queries compiles 556 distinct classes at sf0.01 (555 at sf0.1), so
  with 100 entries every pass evicted and recompiled about 616 of them.
  With room for all of them a second pass compiles 8 and a third none;
  the 4-query ``headline`` benchmark pass went from 108-136 compiles
  (about 1 s of janino time) to at most 1. 2048 leaves about 3.7x
  headroom for larger query mixes.
- Python worker daemon ``pyworker`` for ``local[...]`` masters. Before
  CPython 3.13, PySpark's per-task ``importlib.invalidate_caches()``
  re-reads the central directory of ``pyspark.zip``, py4j and the
  spark-core jar 16 times per task; the daemon keeps the caches of the
  archives on ``sys.path`` at its start (see its docstring). A 100-row,
  4-partition ``mapInPandas`` went from 0.39 s to 0.16 s (4-core VM).
  ``spark.executorEnv.PYTHONPATH`` points at this package's parent
  directory so the daemon imports whatever the driver's cwd. Cluster
  masters keep the stock daemon: their executors need not have this
  package installed.

Local mode (``local[N]``) is the test substrate; nothing here assumes it —
``master`` is injectable and every operator in the package is written for
multi-executor partitioned execution (no driver-side collects in any
data path).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "dibimbing-case-study-etl-spark"
CODEGEN_CACHE_ENTRIES = 2048
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``driver_memory`` only takes effect if no JVM is running yet; in local
    mode the driver is the only process so it is the one memory knob.
    """
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if _LOCAL_MASTER.fullmatch(master):
        builder = builder.config(
            "spark.python.daemon.module", "dibimbing_case_study_etl_spark.pyworker"
        ).config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
