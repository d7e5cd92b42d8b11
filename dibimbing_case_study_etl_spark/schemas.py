"""Single schema registry (SURVEY §1.2).

The reference declares its 9-column contract three times — pandas dtypes
(`scripts/normalize_open_meteo_to_parquet.py:75-85`), L1 DDL
(`scripts/load_parquet_to_postgres_l1.py:37-50`), L2 DDL
(`scripts/sql/l2_tables/create_l2.sql:7-18`) — and they must agree by
convention. Here the contract lives once, as StructTypes.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Raw Open-Meteo forecast payload, landed verbatim
# (`scripts/extract_open_meteo_to_minio.py:144-153`; consumed fields at
# `scripts/normalize_open_meteo_to_parquet.py:48-50, 131-133`).
# Parallel arrays: hourly.time[i] pairs with hourly.temperature_2m[i].
RAW_OPEN_METEO_SCHEMA = T.StructType(
    [
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("timezone", T.StringType()),
        T.StructField(
            "hourly",
            T.StructType(
                [
                    T.StructField("time", T.ArrayType(T.StringType())),
                    T.StructField("temperature_2m", T.ArrayType(T.DoubleType())),
                ]
            ),
        ),
    ]
)

# The 9-column staging/L1/L2 contract (FIXTURES.md F2/F3).
# PK for upserts: (ts, latitude, longitude, source)
# (`load_parquet_to_postgres_l1.py:48`; `create_l2.sql:17`).
WEATHER_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType(), nullable=False),
        T.StructField("date", T.DateType(), nullable=False),
        T.StructField("hour", T.ShortType(), nullable=True),
        T.StructField("latitude", T.DoubleType(), nullable=False),
        T.StructField("longitude", T.DoubleType(), nullable=False),
        T.StructField("timezone", T.StringType(), nullable=True),
        T.StructField("temperature_c", T.DoubleType(), nullable=True),
        T.StructField("load_ds", T.DateType(), nullable=False),
        T.StructField("source", T.StringType(), nullable=False),
    ]
)

WEATHER_COLUMNS = tuple(f.name for f in WEATHER_SCHEMA.fields)

# Staging Parquet: the contract plus ``pos``, the hourly array position
# that L1's last-row-wins arbitration orders by. Readers pass it to
# ``spark.read.schema`` so no footer-inference job runs; nullable because
# Spark reads every file-source column as nullable.
STAGING_SCHEMA = T.StructType(
    [T.StructField(f.name, f.dataType, nullable=True) for f in WEATHER_SCHEMA.fields]
    + [T.StructField("pos", T.IntegerType(), nullable=True)]
)
WEATHER_PK = ("ts", "latitude", "longitude", "source")

# Conflict-update column sets — the two upserts differ deliberately
# (SURVEY §2.6): L1 keeps first-seen date/hour
# (`load_parquet_to_postgres_l1.py:56-60`), L2 updates everything
# (`upsert_l2_for_ds.sql:28-33`).
L1_UPDATE_COLS = ("temperature_c", "timezone", "load_ds")
L2_UPDATE_COLS = ("date", "hour", "timezone", "temperature_c", "load_ds")
