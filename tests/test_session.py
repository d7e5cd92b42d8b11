"""Session defaults that remove fixed costs: the generated-class cache
holds a repeat run's plans, and the Python worker daemon keeps Spark's
own archives' import caches while still re-reading every other one."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_repeat_run_of_150_plans_compiles_nothing(spark):
    # 150 whole-stage subtrees that differ only in an inlined literal: more
    # distinct generated classes than Spark's default 100-entry cache holds.
    # The union is not code-generated, so each branch has its own classes.
    branches = (f"SELECT id * 7 + {7_340_033 + i} AS v FROM range(0, 1, 1, 1)" for i in range(150))
    df = spark.sql(" UNION ALL ".join(branches))
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def compiles_of_one_run() -> int:
        before = compiles.getCount()
        assert len(df.collect()) == 150
        return compiles.getCount() - before

    assert compiles_of_one_run() >= 150
    assert compiles_of_one_run() == 0


def test_worker_keeps_spark_archives_and_rereads_its_own_zip(spark):
    # Nested, so the function travels to the worker by value.
    def _archive_probe(batches):
        import importlib
        import os
        import sys
        import tempfile
        import zipfile
        import zipimport

        for _ in batches:
            pass
        # Spark's zips and jar reach the worker through its launch PYTHONPATH.
        launch = {p for p in os.environ["PYTHONPATH"].split(os.pathsep) if os.path.isfile(p)}
        finders = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter) and os.path.abspath(f.archive) in launch
        ]
        before = [f._files for f in finders]

        with tempfile.TemporaryDirectory() as tmp:
            own = os.path.join(tmp, "task_own.zip")
            with zipfile.ZipFile(own, "w") as zf:
                zf.writestr("task_own_a.py", "A = 1\n")
            sys.path.insert(0, own)
            try:
                importlib.import_module("task_own_a")
                with zipfile.ZipFile(own, "a") as zf:
                    zf.writestr("task_own_b.py", "B = 2\n")
                importlib.invalidate_caches()
                own_reread = importlib.import_module("task_own_b").B == 2
            finally:
                sys.path.remove(own)
                sys.path_importer_cache.pop(own, None)
                for name in ("task_own_a", "task_own_b"):
                    sys.modules.pop(name, None)

        kept = sum(f._files is b for f, b in zip(finders, before))
        yield pd.DataFrame({
            "archives": [len({f.archive for f in finders})],
            "finders": [len(finders)],
            "kept": [kept],
            "own_reread": [own_reread],
        })

    schema = "archives long, finders long, kept long, own_reread boolean"
    row = spark.range(1, numPartitions=1).mapInPandas(_archive_probe, schema).collect()[0]
    assert row.archives >= 2  # at least pyspark.zip and the spark-core jar
    assert row.kept == row.finders
    assert row.own_reread


def test_map_in_pandas_runs_with_cwd_outside_the_repo(tmp_path):
    # The driver finds the package through sys.path, not PYTHONPATH, so
    # the JVM and its Python workers get no hint of the repo from the
    # environment or the working directory.
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from dibimbing_case_study_etl_spark.session import get_spark

        spark = get_spark(app_name="cwd-probe", master="local[1]", driver_memory="1g")
        assert spark.conf.get("spark.python.daemon.module").endswith(".pyworker")
        df = spark.range(100, numPartitions=2)
        total = df.mapInPandas(lambda it: (b * 2 for b in it), df.schema).groupBy().sum("id").first()[0]
        spark.stop()
        print("TOTAL", total)
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=180,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "TOTAL 9900" in out.stdout
