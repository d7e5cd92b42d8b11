"""Schema reuse in ``catalog.load_table``: a later read of an unchanged
table infers nothing (no Spark job), reads the same rows, and a rewritten
file or a changed inference conf is inferred again."""

from __future__ import annotations

import os

import pandas as pd

from dibimbing_case_study_etl_spark import catalog
from dibimbing_case_study_etl_spark.catalog import load_table


def _jobs(spark, group, fn):
    """Run ``fn`` under a fresh job group; return (result, jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_region(sf_dir, extra=False):
    pdf = pd.DataFrame({"r_regionkey": [0, 1, 2], "r_name": ["a", "b", "c"]})
    if extra:
        pdf["r_comment"] = ["x", "y", "z"]
    path = os.path.join(sf_dir, "region.parquet")
    pdf.to_parquet(path, index=False)
    return path


def test_second_load_of_unchanged_file_runs_no_job(spark, tmp_path):
    _write_region(str(tmp_path))
    first, jobs1 = _jobs(spark, "catalog-1", lambda: load_table(spark, str(tmp_path), "region"))
    second, jobs2 = _jobs(spark, "catalog-2", lambda: load_table(spark, str(tmp_path), "region"))
    assert jobs1 == 1  # Spark's Parquet footer inference
    assert jobs2 == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    _write_region(str(tmp_path))
    load_table(spark, str(tmp_path), "region")
    path = _write_region(str(tmp_path), extra=True)
    st = os.stat(path)
    # a rewrite inside the same mtime tick still changes the size
    df, jobs = _jobs(spark, "catalog-3", lambda: load_table(spark, str(tmp_path), "region"))
    assert jobs == 1
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(r.r_comment for r in df.collect()) == ["x", "y", "z"]
    # same bytes, new mtime: inferred again too (the stamp is size AND mtime)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    _, jobs = _jobs(spark, "catalog-4", lambda: load_table(spark, str(tmp_path), "region"))
    assert jobs == 1


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    _write_region(str(tmp_path))
    load_table(spark, str(tmp_path), "region")
    conf = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(conf, None)
    spark.conf.set(conf, "true" if old != "true" else "false")
    try:
        _, jobs = _jobs(spark, "catalog-5", lambda: load_table(spark, str(tmp_path), "region"))
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)
    assert jobs == 1
    assert conf in catalog._INFERENCE_CONFS


def test_events_flavors_reuse_the_schema(spark, sf_dir):
    """The events probe path (nanos or NTZ flavor) goes through the same
    reuse: its second load runs no job and keeps the normalized ts type."""
    load_table(spark, sf_dir, "events")
    df, jobs = _jobs(spark, "catalog-6", lambda: load_table(spark, sf_dir, "events"))
    assert jobs == 0
    assert dict(df.dtypes)["ts"] == "timestamp"
