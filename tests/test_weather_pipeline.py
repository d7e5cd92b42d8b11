"""End-to-end weather pipeline tests against the FIXTURES.md F1/F3 variants:
payload edge cases, idempotency, latest-wins, in-batch dupes, multi-location.
"""

from __future__ import annotations

import datetime as dt
import shutil

import pytest
from pyspark.sql import functions as F

from dibimbing_case_study_etl_spark.config import PipelineConfig, StorageConfig
from dibimbing_case_study_etl_spark.operators.quality import DataQualityError
from dibimbing_case_study_etl_spark.operators.txlog import CommitStore, TxLogTable
from dibimbing_case_study_etl_spark.pipeline import weather
from dibimbing_case_study_etl_spark.pipeline.weather import read_l2, read_l2_asof, run_pipeline
from dibimbing_case_study_etl_spark.schemas import WEATHER_COLUMNS


def payload(
    n_hours: int = 48,
    start="2025-10-16T00:00",
    lat=-6.2,
    lon=106.8,
    tz="Asia/Jakarta",
    temps=None,
    times=None,
    include_meta=True,
):
    t0 = dt.datetime.fromisoformat(start)
    times = times if times is not None else [
        (t0 + dt.timedelta(hours=i)).strftime("%Y-%m-%dT%H:%M") for i in range(n_hours)
    ]
    temps = temps if temps is not None else [20.0 + 0.1 * i for i in range(len(times))]
    doc = {"hourly": {"time": times, "temperature_2m": temps}}
    if include_meta:
        doc.update({"latitude": lat, "longitude": lon, "timezone": tz})
    return doc


@pytest.fixture()
def cfg(tmp_path):
    return PipelineConfig(storage=StorageConfig(base_dir=str(tmp_path)))


def _snap(df):
    return sorted(tuple(r) for r in df.select(*WEATHER_COLUMNS).collect())


def test_happy_path_end_to_end(spark, cfg):
    run_pipeline(spark, cfg, ds="2025-10-16", payload=payload(48))
    l2 = read_l2(spark, cfg)
    rows = l2.orderBy("ts").collect()
    assert len(rows) == 48
    r = rows[0]
    # 2025-10-16T00:00 Asia/Jakarta (UTC+7) == 2025-10-15 17:00 UTC
    assert r.ts == dt.datetime(2025, 10, 15, 17, 0)
    assert r.date == dt.date(2025, 10, 16) and r.hour == 0
    assert r.temperature_c == 20.0 and r.source == "open-meteo"
    assert r.load_ds == dt.date(2025, 10, 16)
    # PK uniqueness
    n_keys = l2.select("ts", "latitude", "longitude", "source").distinct().count()
    assert n_keys == 48


def test_nulls_preserved(spark, cfg):
    temps = [20.0, None, 22.0, None]
    run_pipeline(spark, cfg, ds="2025-10-16", payload=payload(times=None, n_hours=4, temps=temps))
    l2 = read_l2(spark, cfg)
    assert l2.filter(F.col("temperature_c").isNull()).count() == 2


def test_len_mismatch_raises(spark, cfg):
    bad = payload(n_hours=4)
    bad["hourly"]["temperature_2m"] = bad["hourly"]["temperature_2m"][:-1]
    with pytest.raises(DataQualityError, match="hourly_arrays_same_length"):
        run_pipeline(spark, cfg, ds="2025-10-16", payload=bad)


def test_empty_arrays_raise(spark, cfg):
    with pytest.raises(DataQualityError, match="empty"):
        run_pipeline(spark, cfg, ds="2025-10-16", payload=payload(times=[], temps=[]))


def test_all_nan_raises(spark, cfg):
    with pytest.raises(DataQualityError, match="entirely null"):
        run_pipeline(spark, cfg, ds="2025-10-16", payload=payload(n_hours=3, temps=[None, None, None]))


def test_missing_meta_falls_back_to_config(spark, cfg):
    cfg.open_meteo.update({"latitude": 1.5, "longitude": 2.5, "timezone": "UTC"})
    run_pipeline(spark, cfg, ds="2025-10-16", payload=payload(n_hours=2, include_meta=False))
    r = read_l2(spark, cfg).first()
    assert r.latitude == 1.5 and r.longitude == 2.5 and r.timezone == "UTC"


def test_rerun_same_ds_idempotent(spark, cfg):
    p = payload(24)
    run_pipeline(spark, cfg, ds="2025-10-16", payload=p)
    first = {(r.ts, r.temperature_c) for r in read_l2(spark, cfg).collect()}
    run_pipeline(spark, cfg, ds="2025-10-16", payload=p)
    second = {(r.ts, r.temperature_c) for r in read_l2(spark, cfg).collect()}
    assert first == second and len(first) == 24


def test_newer_load_ds_wins(spark, cfg):
    run_pipeline(spark, cfg, ds="2025-10-16", payload=payload(24, temps=[10.0] * 24))
    # next day reprocesses the same hours with corrected temperatures
    run_pipeline(spark, cfg, ds="2025-10-17", payload=payload(24, temps=[99.0] * 24))
    l2 = read_l2(spark, cfg)
    assert l2.count() == 24
    temps = {r.temperature_c for r in l2.collect()}
    assert temps == {99.0}
    assert {r.load_ds for r in l2.collect()} == {dt.date(2025, 10, 17)}


def test_intra_batch_duplicates_last_wins(spark, cfg):
    # same hour appears twice in one payload (e.g. ambiguous DST hour):
    # the LAST occurrence in array order must win, matching the reference's
    # sequential row-by-row upsert (`load:140-147`).
    times = ["2025-10-16T00:00", "2025-10-16T01:00", "2025-10-16T00:00"]
    temps = [11.1, 22.2, 33.3]
    run_pipeline(spark, cfg, ds="2025-10-16", payload=payload(times=times, temps=temps))
    l2 = read_l2(spark, cfg)
    assert l2.count() == 2
    first_hour = l2.filter(F.col("hour") == 0).first()
    assert first_hour.temperature_c == 33.3


def test_multi_location_same_ds(spark, cfg):
    run_pipeline(spark, cfg, ds="2025-10-16", payload=payload(4, lat=-6.2, lon=106.8))
    run_pipeline(spark, cfg, ds="2025-10-16", payload=payload(4, lat=52.5, lon=13.4, tz="UTC"))
    l2 = read_l2(spark, cfg)
    assert l2.count() == 8
    assert l2.select("latitude").distinct().count() == 2


def test_dst_gap_and_overlap_pinned(spark, cfg):
    # SURVEY §7: pandas tz_localize(nonexistent="shift_forward",
    # ambiguous="NaT") vs Spark to_utc_timestamp — divergence documented,
    # behavior pinned here: every row lands with a non-null UTC ts.
    times = ["2025-03-09T02:30", "2025-11-02T01:30"]  # US spring gap + fall overlap
    run_pipeline(
        spark, cfg, ds="2025-03-09",
        payload=payload(times=times, temps=[1.0, 2.0], tz="America/New_York"),
    )
    rows = read_l2(spark, cfg).collect()
    assert len(rows) == 2 and all(r.ts is not None for r in rows)


def test_observed_dq_piggybacks_on_write(spark, tmp_path):
    """Observation-based DQ: metrics ride the write action itself (no
    second scan); a clean dataset passes, an injected violation raises."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from dibimbing_case_study_etl_spark.operators.quality import (
        DataQualityError,
        assert_observed,
        observe_checks,
    )

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 10).alias("bucket")
    )
    observed, obs = observe_checks(df, {"bucket_in_range": F.col("bucket") < 10})
    observed.write.mode("overwrite").parquet(str(tmp_path / "ok"))
    counts = assert_observed(obs)
    assert counts == {"bucket_in_range": 0, "__n": 100}

    observed2, obs2 = observe_checks(df, {"id_small": F.col("id") < 90})
    observed2.write.mode("overwrite").parquet(str(tmp_path / "bad"))
    with _pytest.raises(DataQualityError, match="10/100"):
        assert_observed(obs2)


def test_read_l2_asof_reproduces_historical_snapshot(spark, cfg):
    """Time-travel read: after three ingest days that re-load the same
    hours with drifting temperatures, read_l2_asof(day2) must equal the
    L2 table captured right after day 2's run — byte-for-byte row
    equality — and as-of the final day must equal the live table."""
    def day(ds, base):
        return payload(n_hours=6, start="2025-10-16T00:00", temps=[base + i for i in range(6)])

    run_pipeline(spark, cfg, ds="2025-10-16", payload=day("2025-10-16", 10.0))
    run_pipeline(spark, cfg, ds="2025-10-17", payload=day("2025-10-17", 20.0))
    snapshot_d2 = _snap(read_l2(spark, cfg))
    run_pipeline(spark, cfg, ds="2025-10-18", payload=day("2025-10-18", 30.0))

    # live table moved on (temps now 30-range)...
    live = _snap(read_l2(spark, cfg))
    assert live != snapshot_d2
    # ...but the as-of read reconstructs day 2 exactly
    assert _snap(read_l2_asof(spark, cfg, "2025-10-17")) == snapshot_d2
    # and as-of the newest day equals the live table
    assert _snap(read_l2_asof(spark, cfg, "2025-10-18")) == live


def test_read_l2_asof_before_first_run_is_empty(spark, cfg):
    before = read_l2_asof(spark, cfg, "2025-10-16")  # no L2 table yet
    assert before.columns == list(WEATHER_COLUMNS) and before.count() == 0
    run_pipeline(spark, cfg, ds="2025-10-17", payload=payload(4))
    earlier = read_l2_asof(spark, cfg, "2025-10-16")  # cutoff before the first run
    assert earlier.columns == list(WEATHER_COLUMNS) and earlier.count() == 0


def test_read_l2_asof_reads_no_staging(spark, cfg):
    """The as-of read is a version read of L2: its plan scans only L2
    files, and it still answers after the staging history is gone."""
    run_pipeline(spark, cfg, ds="2025-10-16", payload=payload(6, temps=[1.0] * 6))
    day1 = _snap(read_l2(spark, cfg))
    run_pipeline(spark, cfg, ds="2025-10-17", payload=payload(6, temps=[2.0] * 6))
    asof = read_l2_asof(spark, cfg, "2025-10-16")
    assert asof.inputFiles() and all(cfg.storage.l2_path in f for f in asof.inputFiles())
    shutil.rmtree(cfg.storage.staging_dir)
    assert _snap(read_l2_asof(spark, cfg, "2025-10-16")) == day1


def test_crash_between_l1_and_l2_commits(spark, cfg, tmp_path, monkeypatch):
    """Day 2 commits L1, then dies while publishing L2 (its data files
    already written). The previous L2 version stays the readable one, and
    rerunning day 2 gives the same L2 as an uninterrupted run."""
    day1 = payload(6, temps=[1.0 + i for i in range(6)])
    day2 = payload(6, start="2025-10-16T03:00", temps=[9.0 + i for i in range(6)])
    run_pipeline(spark, cfg, ds="2025-10-16", payload=day1)
    l1, l2 = TxLogTable(cfg.storage.l1_path), TxLogTable(cfg.storage.l2_path)
    l2_before, l2_version = _snap(read_l2(spark, cfg)), l2.latest_version()

    publish = CommitStore.put_if_absent

    def crash_on_l2(self, target, data):
        if str(target).startswith(cfg.storage.l2_path):
            raise RuntimeError("process died before the L2 commit")
        return publish(self, target, data)

    monkeypatch.setattr(CommitStore, "put_if_absent", crash_on_l2)
    with pytest.raises(RuntimeError, match="L2 commit"):
        run_pipeline(spark, cfg, ds="2025-10-17", payload=day2)
    monkeypatch.undo()

    assert l1.read(spark).count() == 9  # L1 committed day 2
    assert l2.latest_version() == l2_version
    assert _snap(read_l2(spark, cfg)) == l2_before

    run_pipeline(spark, cfg, ds="2025-10-17", payload=day2)
    clean = PipelineConfig(storage=StorageConfig(base_dir=str(tmp_path / "clean")))
    run_pipeline(spark, clean, ds="2025-10-16", payload=day1)
    run_pipeline(spark, clean, ds="2025-10-17", payload=day2)
    assert _snap(read_l2(spark, cfg)) == _snap(read_l2(spark, clean))


def test_racing_l1_merges_lose_no_update(spark, cfg, tmp_path, monkeypatch):
    """Two L1 loads of the same hours for two locations start from the
    same snapshot and rewrite the same file; an injected CommitStore lets
    the second one commit first. The loser recomputes on the winner's
    version, so both updates land."""
    run_pipeline(spark, cfg, ds="2025-10-16", payload=payload(4, temps=[0.0] * 4))
    run_pipeline(spark, cfg, ds="2025-10-16", payload=payload(4, lat=-7.8, lon=110.4, temps=[0.0] * 4))

    def stage(name, **loc):
        raw = weather.extract_to_raw(payload(4, temps=[7.0] * 4, **loc), str(tmp_path / name), "2025-10-17")
        return weather.normalize_to_staging(spark, raw, str(tmp_path / f"{name}_staging"), "2025-10-17")

    jakarta = stage("jakarta")
    yogyakarta = stage("yogyakarta", lat=-7.8, lon=110.4)

    class CompetingStore(CommitStore):
        compete = True

        def put_if_absent(self, target, data):
            if self.compete:
                self.compete = False
                weather.load_staging_to_l1(spark, yogyakarta, cfg.storage.l1_path)
            return super().put_if_absent(target, data)

    store = CompetingStore()
    monkeypatch.setattr(weather, "TxLogTable", lambda root: TxLogTable(root, store=store))
    weather.load_staging_to_l1(spark, jakarta, cfg.storage.l1_path)
    monkeypatch.undo()

    l1 = TxLogTable(cfg.storage.l1_path)
    merges = [c for c in l1.commits() if c["op"] == "merge"]
    assert len(merges) == 4  # two seed loads, the race winner, the retried loser
    rows = l1.read(spark).collect()
    assert len(rows) == 8
    assert {r.temperature_c for r in rows} == {7.0}
    assert {r.load_ds for r in rows} == {dt.date(2025, 10, 17)}
    assert len(l1.live_files()) == 1  # both loads rewrote the one shared file


def test_non_local_table_root_fails_before_any_stage(spark, tmp_path):
    cfg = PipelineConfig(
        storage=StorageConfig(base_dir=str(tmp_path), l2_path="s3a://bucket/l2_weather_hourly")
    )
    with pytest.raises(ValueError, match="not a local path"):
        run_pipeline(spark, cfg, ds="2025-10-16", payload=payload(4))
    assert not (tmp_path / "raw").exists()


def test_staging_schema_is_what_spark_infers(spark, cfg):
    """L1 reads staging with ``STAGING_SCHEMA`` instead of inferring it
    (one Spark job per day saved); the declared schema must be exactly
    what inference returns for the file the normalize stage writes, and
    the declared read must run no job before its action."""
    from dibimbing_case_study_etl_spark.schemas import STAGING_SCHEMA

    staging = run_pipeline(spark, cfg, ds="2025-10-16", payload=payload(24))["staging"]
    assert spark.read.parquet(staging).schema == STAGING_SCHEMA
    sc = spark.sparkContext
    sc.setJobGroup("staging-schema", "staging-schema")
    try:
        spark.read.schema(STAGING_SCHEMA).parquet(staging)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("staging-schema") == []
