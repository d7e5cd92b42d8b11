"""Tests of the benchmark's own parts: input generators, the medallion
model, the output checks and the span arithmetic.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime as dt
import json
import os
import signal
import subprocess
import sys
import time

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import harness  # noqa: E402
import meteo  # noqa: E402
import workloads  # noqa: E402
from checks import compare_daily_means, compare_l2  # noqa: E402

COLUMNS = ["ts", "date", "hour", "latitude", "longitude", "timezone", "temperature_c", "load_ds", "source"]


def _frame(model_rows: dict[tuple, tuple]) -> pd.DataFrame:
    rows = [
        (ts, date, hour, lat, lon, tz, temp, load_ds, src)
        for (ts, lat, lon, src), (date, hour, tz, temp, load_ds) in model_rows.items()
    ]
    return pd.DataFrame(rows, columns=COLUMNS)


def _doc(lat, lon, tz, times, temps):
    return {"latitude": lat, "longitude": lon, "timezone": tz, "hourly": {"time": times, "temperature_2m": temps}}


def test_generator_is_seeded():
    a, b = meteo.MeteoGenerator(7, 5), meteo.MeteoGenerator(7, 5)
    assert a.payload(3) == b.payload(3)
    assert a.payload(3) != meteo.MeteoGenerator(8, 5).payload(3)
    assert a.payload(3) != a.payload(4)


def test_consecutive_days_overlap_six_sevenths():
    gen = meteo.MeteoGenerator(1, 4)
    m = meteo.MedallionModel()
    m.apply(gen.payload(0), meteo.ds_for_day(0))
    before = set(m.l2)
    day1 = meteo.batch_rows(gen.payload(1), meteo.ds_for_day(1))
    assert len(set(day1) & before) == len(day1) * 6 // 7


def test_in_batch_duplicate_later_position_wins():
    times = ["2025-01-06T00:00", "2025-01-06T01:00", "2025-01-06T00:00"]
    rows = meteo.batch_rows([_doc(1.0, 2.0, "UTC", times, [10.0, 11.0, 12.5])], "2025-01-06")
    assert len(rows) == 2
    assert rows[(dt.datetime(2025, 1, 6, 0), 1.0, 2.0, "open-meteo")][3] == 12.5


def test_l1_keeps_first_seen_date_and_hour():
    m = meteo.MedallionModel()
    # the same UTC instant, first seen from UTC, then re-sent from UTC+7
    m.apply([_doc(1.0, 2.0, "UTC", ["2025-01-06T10:00"], [5.0])], "2025-01-06")
    m.apply([_doc(1.0, 2.0, "Asia/Jakarta", ["2025-01-06T17:00"], [None])], "2025-01-07")
    key = (dt.datetime(2025, 1, 6, 10), 1.0, 2.0, "open-meteo")
    assert m.l2[key] == (dt.date(2025, 1, 6), 10, "Asia/Jakarta", None, dt.date(2025, 1, 7))


def test_compare_l2_accepts_the_model_and_catches_an_injected_wrong_row():
    gen = meteo.MeteoGenerator(3, 6)
    expected = meteo.asof_model(gen, 2)
    pdf = _frame(expected)
    assert compare_l2(pdf, expected) == []

    wrong = pdf.copy()
    i = wrong.index[wrong["temperature_c"].notna()][17]
    wrong.loc[i, "temperature_c"] += 0.1
    assert compare_l2(wrong, expected)

    assert compare_l2(pdf.drop(index=pdf.index[5]), expected)  # missing row
    extra = pd.concat([pdf, pdf.iloc[[0]].assign(hour=99)], ignore_index=True)
    assert compare_l2(extra, expected)  # duplicate key
    stale = pdf.copy()
    stale.loc[stale.index[3], "load_ds"] = dt.date(2024, 1, 1)
    assert compare_l2(stale, expected)


def test_compare_daily_means_catches_a_wrong_mean():
    l2 = meteo.asof_model(meteo.MeteoGenerator(4, 3), 1)
    expected = meteo.daily_mean_model(l2)
    pdf = pd.DataFrame(
        [(lat, lon, date, mean, n) for (lat, lon, date), (mean, n) in expected.items()],
        columns=["latitude", "longitude", "date", "mean_c", "n"],
    )
    assert compare_daily_means(pdf, expected) == []
    pdf.loc[2, "mean_c"] += 1e-3
    assert compare_daily_means(pdf, expected)


def test_self_times_account_for_the_root():
    tr = harness.Tracer(True)
    with tr.span("root", "bench"):
        with tr.span("a", "pipeline"):
            with tr.span("b", "spark"):
                pass
        with tr.span("c", "operators"):
            pass
    selfs = tr.self_times()
    root = tr.spans[0]["end"] - tr.spans[0]["start"]
    assert sum(selfs) == pytest.approx(root, rel=1e-9, abs=1e-12)
    assert all(s >= 0 for s in selfs)
    assert [s["parent"] for s in tr.spans] == [None, 0, 1, 0]


def test_patched_restores_and_disabled_tracer_records_nothing():
    class M:
        @staticmethod
        def f(x):
            return x + 1

    tr = harness.Tracer(True)
    original = M.f
    with tr.patched(M, {"f": ("m.f", "pipeline")}):
        assert M.f(1) == 2
    assert M.f is original and [s["name"] for s in tr.spans] == ["m.f"]

    off = harness.Tracer(False)
    with off.patched(M, {"f": ("m.f", "pipeline")}), off.span("x", "bench"):
        assert M.f is original
    assert off.spans == []


def test_descendants_finds_the_whole_process_tree():
    parent = subprocess.Popen(["bash", "-c", "sleep 30 & sleep 30 & wait"])
    kids: list[int] = []
    try:
        for _ in range(100):
            kids = harness._descendants(parent.pid)
            if len(kids) == 2:
                break
            time.sleep(0.05)
        assert len(kids) == 2 and all(harness._running(k) for k in kids)
    finally:
        for k in kids:
            os.kill(k, signal.SIGKILL)
        parent.wait(timeout=10)
    assert not any(harness._running(k) for k in kids)


@pytest.mark.parametrize(
    "text,seconds",
    [
        ("2.1 s", 2.1),
        ("0 ms", 0.0),
        ("total (min, med, max (stageId: taskId))\n9.4 s (2.2 s, 2.4 s, 2.5 s (stage 0.0: task 3))", 9.4),
        ("total (min, med, max (stageId: taskId))\n933 ms (100 ms, 200 ms, 633 ms (stage 2.0: task 5))", 0.933),
        ("total (min, med, max (stageId: taskId))\n1.5 m (1 ms, 2 ms, 3 ms (stage 2.0: task 5))", 90.0),
    ],
)
def test_formatted_sql_timing(text, seconds):
    assert harness._formatted_seconds(text) == pytest.approx(seconds)


def test_headline_tables_match_their_checksums():
    import hashlib

    d = workloads.HEADLINE_DATA
    from dibimbing_case_study_etl_spark.catalog import TABLES

    with open(os.path.join(d, "SHA256SUMS"), encoding="ascii") as f:
        sums = dict(reversed(line.split()) for line in f if line.strip())
    assert set(sums) == {f"{t}.parquet" for t in TABLES}
    for name, digest in sums.items():
        with open(os.path.join(d, name), "rb") as f:
            assert hashlib.sha256(f.read()).hexdigest() == digest, name


def test_headline_subset_is_the_top_job_query_of_each_family():
    from dibimbing_case_study_etl_spark.queries import load_all

    registry = load_all()
    assert all(registry[n].bench for n in workloads.HEADLINE)
    assert sorted(workloads.FAMILIES[n[0]] for n in workloads.HEADLINE) == [
        "analytics", "dedup", "relational", "text_vector"
    ]


def test_uncovered_share_is_the_bench_self_time_of_each_root():
    tr = harness.Tracer(True)
    with tr.span("root", "bench"):
        with tr.span("q", "bench"):
            with tr.span("b", "queries"):
                time.sleep(0.02)
        time.sleep(0.02)
    share = workloads._uncovered(tr)["root"]
    selfs = tr.self_times()
    root = tr.spans[0]["end"] - tr.spans[0]["start"]
    assert share == pytest.approx((selfs[0] + selfs[1]) / root)
    assert 0.2 < share < 0.8


def test_benchmark_json_lists_what_the_workloads_report():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    assert [m["name"] for m in bench["per_layer"]] == list(workloads.LAYERS)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == workloads.LAYERS
    assert [m["name"] for m in bench["end_to_end"]] == ["op_p50_s", "setup_s"]


def test_pipeline_output_matches_the_model_and_a_wrong_row_is_caught(tmp_path):
    """Two real pipeline days through Spark, checked like a timed run."""
    from dibimbing_case_study_etl_spark.config import PipelineConfig, StorageConfig
    from dibimbing_case_study_etl_spark.pipeline.weather import read_l2, read_l2_asof, run_pipeline

    gen = meteo.MeteoGenerator(9, 3)
    cfg = PipelineConfig(storage=StorageConfig(base_dir=str(tmp_path / "m")))
    model = meteo.MedallionModel()
    spark = harness.start_spark(str(tmp_path))
    try:
        for day in range(2):
            run_pipeline(spark, cfg, meteo.ds_for_day(day), payload=gen.payload(day))
            model.apply(gen.payload(day), meteo.ds_for_day(day))
        l2 = read_l2(spark, cfg).toPandas()
        asof = read_l2_asof(spark, cfg, meteo.ds_for_day(0)).toPandas()
    finally:
        harness.stop_spark(spark)
    assert compare_l2(l2, model.l2) == []
    assert compare_l2(asof, meteo.asof_model(gen, 0)) == []
    l2.loc[l2.index[7], "hour"] = (l2.loc[l2.index[7], "hour"] + 1) % 24
    assert compare_l2(l2, model.l2)
