"""Catalog DDL (SURVEY §2.1 S10): the reference's schema/table bootstrap
(`load:37-50, 80-86`; `create_l2.sql:7-18`) as Spark catalog tables.

Views over the L1/L2 snapshot reads let every consumer address them by
name (``spark.table`` / ``spark.sql``). Secondary B-tree indexes
(`create_l2.sql:20-21`) have no Spark equivalent and need none: the
txlog's per-file ``ts`` stats and parquet min/max serve the same reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dibimbing_case_study_etl_spark.config import PipelineConfig
from dibimbing_case_study_etl_spark.operators.txlog import TxLogTable


def register_warehouse(spark: SparkSession, cfg: PipelineConfig) -> None:
    """Register the medallion outputs under the reference's table names,
    as session views over each table's current snapshot. A Parquet table
    over the root would also read the files later commits replaced (live
    rows twice); re-register after a run to see its commit."""
    for name, root in (
        ("l1_weather_hourly", cfg.storage.l1_path),
        ("l2_weather_hourly", cfg.storage.l2_path),
    ):
        TxLogTable(root).read(spark).createOrReplaceTempView(name)


def table(spark: SparkSession, name: str) -> DataFrame:
    return spark.table(name)


def create_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: tuple[str, ...],
    num_buckets: int = 32,
    sort_cols: tuple[str, ...] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a managed table hash-bucketed (and optionally sorted) on the
    join/aggregation keys — the 100 TB co-location primitive.

    Two tables bucketed on the same keys with the same bucket count join
    with NO shuffle on either side (Catalyst reuses the on-disk hash
    partitioning), and groupBy on the bucket keys skips its exchange too.
    At cluster scale this turns the biggest repeated cost of a fact-fact
    join (re-shuffling 100 TB per query) into a one-time write-side cost.
    Pair with ``sort_cols`` = bucket keys so sort-merge join also skips
    its per-query sort.
    """
    writer = (
        df.write.format("parquet")
        .mode(mode)
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)
