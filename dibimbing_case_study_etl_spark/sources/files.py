"""Schema-enforced file readers/writers (SURVEY §2.1 S3/S6/S7/S8).

Production paths never use schema inference — the reference's fixed-schema
discipline (`normalize:86-90`, `load:94-97`) maps to explicit StructTypes
on every read. All functions take any Hadoop-compatible URI (local, s3a://
for MinIO/S3 — set ``fs.s3a.endpoint``/``path.style.access`` in the
session's Hadoop conf for a MinIO deployment, parity `README.md:136-147`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_parquet(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """Parquet source; optional schema pins column order/types (S8)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType, header: bool = True, sep: str = ","
) -> DataFrame:
    """CSV source — schema mandatory (inference double-scans and guesses)."""
    return spark.read.schema(schema).csv(path, header=header, sep=sep)


def read_orc(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
    compression: str = "snappy",
) -> None:
    """Distributed write (replaces the reference's driver-side BytesIO
    buffering, `normalize:140-157` — the one pattern explicitly rejected
    for the 100 TB posture)."""
    writer = df.write.mode(mode).format(fmt)
    if fmt in ("parquet", "orc"):
        writer = writer.option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)
