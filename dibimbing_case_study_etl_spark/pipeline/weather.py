"""The reference pipeline, Spark-first: raw JSON → staging Parquet →
L1 (bronze, upsert) → L2 (silver, window-dedup + upsert).

Stage parity map (SURVEY §2.12 / §3):
- extract   ↔ `scripts/extract_open_meteo_to_minio.py` (driver-side HTTP,
              one JSON object landed per ``ds`` partition)
- normalize ↔ `scripts/normalize_open_meteo_to_parquet.py` (parallel-array
              explode + typing + DQ; here arrays_zip/posexplode instead of
              a driver-side pandas DataFrame — distributed, nothing buffers
              on the driver)
- load L1   ↔ `scripts/load_parquet_to_postgres_l1.py` (upsert, update set
              temperature_c/timezone/load_ds only)
- build L2  ↔ `scripts/sql/l2_tables/upsert_l2_for_ds.sql` (window dedup
              latest-load_ds-wins per PK, upsert all non-key cols)

L1 and L2 are :class:`~..operators.txlog.TxLogTable` tables: each load is
one atomic commit (the reference's one transaction per load), concurrent
writers recompute instead of losing updates, and every L2 commit records
its run's ``ds`` so :func:`read_l2_asof` is a plain version read. Raw and
staging may live on any Hadoop URI; the L1/L2 roots must be local paths.

Orchestration (the reference's Airflow DAG chain, O1–O7) is plain function
composition: each stage returns the path/count the next one consumes —
the XCom/TriggerDagRun machinery collapses into return values.
"""

from __future__ import annotations

import json
import logging
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dibimbing_case_study_etl_spark.config import PipelineConfig
from dibimbing_case_study_etl_spark.operators.merge_upsert import merge_upsert
from dibimbing_case_study_etl_spark.operators.dedup_window import latest_per_key
from dibimbing_case_study_etl_spark.operators.quality import expect
from dibimbing_case_study_etl_spark.operators.txlog import TxLogTable
from dibimbing_case_study_etl_spark.schemas import (
    L1_UPDATE_COLS,
    L2_UPDATE_COLS,
    RAW_OPEN_METEO_SCHEMA,
    STAGING_SCHEMA,
    WEATHER_COLUMNS,
    WEATHER_PK,
    WEATHER_SCHEMA,
)

log = logging.getLogger(__name__)

SOURCE_NAME = "open-meteo"


def raw_path_for_ds(raw_dir: str, ds: str) -> str:
    """Hive-style layout, parity with the reference's object-key template
    ``source=open-meteo/ds={ds}`` (`extract:87-91`, `README.md:146-147`)."""
    return os.path.join(raw_dir, f"source={SOURCE_NAME}", f"ds={ds}")


def staging_path_for_ds(staging_dir: str, ds: str) -> str:
    return os.path.join(staging_dir, f"source={SOURCE_NAME}", f"ds={ds}")


def extract_to_raw(payload: dict[str, Any], raw_dir: str, ds: str) -> str:
    """Land the payload verbatim as raw JSON (parity: `extract:144-153`).

    One small document per day — a driver-side write, exactly like the
    reference's single put_object. Local-FS paths only in this build; an
    object-store deployment swaps in a Hadoop-FS write.
    """
    path = raw_path_for_ds(raw_dir, ds)
    os.makedirs(path, exist_ok=True)
    out = os.path.join(path, "payload.json")
    with open(out, "w", encoding="utf-8") as f:
        json.dump(payload, f)
    log.info("extract: landed raw payload ds=%s -> %s", ds, out)
    return out


def normalize_to_staging(
    spark: SparkSession,
    raw_path: str,
    staging_dir: str,
    ds: str,
    fallback: dict[str, Any] | None = None,
) -> str:
    """Raw JSON → 9-column staging Parquet for one ``ds``.

    The reference's pandas mechanics (`normalize:48-101`) become one
    declarative plan: explicit-schema JSON read → parallel-array zip +
    posexplode (F2) → scalar derivations (F3–F8) → DQ (Q1–Q3) → snappy
    parquet. ``date``/``hour`` are derived from the *naive local* time
    string (pandas derives them from the tz-localized timestamp — same
    values); ``ts`` is the UTC instant via to_utc_timestamp.
    """
    fallback = fallback or {}
    raw = spark.read.schema(RAW_OPEN_METEO_SCHEMA).json(raw_path, multiLine=True)

    # Q1: parallel arrays must align (`normalize:55-56`)
    expect(
        raw,
        row_checks={
            "hourly_arrays_same_length": F.size("hourly.time") == F.size("hourly.temperature_2m")
        },
        require_nonempty=True,
    )

    # config fallback for missing payload metadata (`normalize:131-133`)
    tz = F.coalesce(F.col("timezone"), F.lit(fallback.get("timezone")))
    lat = F.coalesce(F.col("latitude"), F.lit(fallback.get("latitude")).cast("double"))
    lon = F.coalesce(F.col("longitude"), F.lit(fallback.get("longitude")).cast("double"))

    zipped = raw.select(
        lat.alias("latitude"),
        lon.alias("longitude"),
        tz.alias("timezone"),
        F.posexplode(F.arrays_zip("hourly.time", "hourly.temperature_2m")).alias("pos", "h"),
    )
    local_ts = F.to_timestamp(F.col("h.time"))
    df = zipped.select(
        F.to_utc_timestamp(local_ts, F.col("timezone")).alias("ts"),
        F.to_date(local_ts).alias("date"),
        F.hour(local_ts).cast("short").alias("hour"),
        "latitude",
        "longitude",
        "timezone",
        F.col("h.temperature_2m").cast("double").alias("temperature_c"),
        F.lit(ds).cast("date").alias("load_ds"),
        F.lit(SOURCE_NAME).alias("source"),
        "pos",
    )

    # Q2 + Q3 (`normalize:93-96`)
    expect(df, require_nonempty=True, require_some_nonnull=("temperature_c",))

    out = staging_path_for_ds(staging_dir, ds)
    # `pos` (array position) rides along so L1 can reproduce the reference's
    # "last row in batch order wins" arbitration (`load:140-147`).
    df.select(*WEATHER_COLUMNS, "pos").write.mode("overwrite").parquet(out, compression="snappy")
    log.info("normalize: wrote staging parquet ds=%s -> %s", ds, out)
    return out


def load_staging_to_l1(spark: SparkSession, staging_path: str, l1_path: str) -> None:
    """Staging → L1 bronze upsert (parity: `load:52-61, 124-149`).

    On PK conflict updates only temperature_c/timezone/load_ds (NOT
    date/hour). In-batch duplicates: highest array position wins (the
    reference's sequential execute_values makes the last row win).
    """
    src = spark.read.schema(STAGING_SCHEMA).parquet(staging_path)
    version = merge_upsert(
        spark,
        TxLogTable(l1_path),
        source=src.select(*WEATHER_COLUMNS, "pos"),
        keys=WEATHER_PK,
        update_cols=L1_UPDATE_COLS,
        order_by=[F.desc("load_ds"), F.desc("pos")],
    )
    log.info("load_l1: merged %s -> %s v%d", staging_path, l1_path, version)


def build_l2_for_ds(spark: SparkSession, l1_path: str, l2_path: str, ds: str) -> None:
    """L1 → L2 silver build for one ``ds`` (parity:
    `upsert_l2_for_ds.sql:7-33`): restrict to the day's slice (P2), window
    dedup latest-load_ds-wins per PK (W1), upsert updating ALL non-key
    columns (U2). The commit records ``ds`` for :func:`read_l2_asof`."""
    l1 = TxLogTable(l1_path).read(spark).select(*WEATHER_COLUMNS)
    day = l1.filter(F.col("load_ds") == F.lit(ds).cast("date"))
    dedup = latest_per_key(day, keys=list(WEATHER_PK), order_by=[F.desc("load_ds")])
    version = merge_upsert(
        spark,
        TxLogTable(l2_path),
        source=dedup,
        keys=WEATHER_PK,
        update_cols=L2_UPDATE_COLS,
        order_by=[F.desc("load_ds")],
        info={"ds": ds},
    )
    log.info("build_l2: merged ds=%s %s -> %s v%d", ds, l1_path, l2_path, version)


def run_pipeline(
    spark: SparkSession,
    cfg: PipelineConfig,
    ds: str,
    payload: dict[str, Any] | None = None,
) -> dict[str, str]:
    """Compose all four stages for one ingest day; returns stage artifacts.

    ``payload=None`` fetches from the live API (driver-side, retried);
    tests inject fixture payloads instead.
    """
    for root in (cfg.storage.l1_path, cfg.storage.l2_path):
        TxLogTable(root)  # a non-local root raises here, before any stage runs
    if payload is None:
        from dibimbing_case_study_etl_spark.sources.http_api import fetch_open_meteo

        payload = fetch_open_meteo(cfg.open_meteo)

    raw = extract_to_raw(payload, cfg.storage.raw_dir, ds)
    staging = normalize_to_staging(
        spark, raw, cfg.storage.staging_dir, ds, fallback=cfg.open_meteo
    )
    load_staging_to_l1(spark, staging, cfg.storage.l1_path)
    build_l2_for_ds(spark, cfg.storage.l1_path, cfg.storage.l2_path, ds)
    return {"raw": raw, "staging": staging, "l1": cfg.storage.l1_path, "l2": cfg.storage.l2_path}


def read_l2(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    """The current L2 snapshot."""
    return TxLogTable(cfg.storage.l2_path).read(spark)


def read_l2_asof(spark: SparkSession, cfg: PipelineConfig, as_of_ds: str) -> DataFrame:
    """L2 exactly as the last run with ``ds <= as_of_ds`` committed it —
    the snapshot/time-travel read a lakehouse needs for reproducible
    training runs. A version read: no staging files are touched. Before
    the first such run the result is empty (with the L2 schema).

    "Last" is commit order, so after a backfill (an older ``ds`` run
    after newer ones) the backfill's version, which includes the newer
    days, is the answer for every cutoff from the backfilled day on.
    """
    table = TxLogTable(cfg.storage.l2_path)
    for v in range(table.latest_version(), -1, -1):
        ds = (table.commit_info(v) or {}).get("ds")
        if ds is not None and ds <= as_of_ds:
            return table.read(spark, as_of=v)
    return spark.createDataFrame([], WEATHER_SCHEMA)
