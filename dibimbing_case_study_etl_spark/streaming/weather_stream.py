"""Incremental weather ingestion (SURVEY §2.10's optional streaming mode).

The reference "streams" via daily Airflow micro-batches with idempotent
reprocessing (`dag_extract_from_api.py:28`, `README.md:261`). The Spark
equivalent: a Structured Streaming file source watching the staging
prefix, ``Trigger.AvailableNow`` (process everything pending, then stop —
the cron-batch semantics, but with checkpointed exactly-once file
tracking), and ``foreachBatch`` running the same ``merge_upsert`` into the
same L1 ``TxLogTable`` the batch pipeline uses, so late/duplicate data
resolves by the identical latest-``load_ds``-wins rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dibimbing_case_study_etl_spark.operators.merge_upsert import merge_upsert
from dibimbing_case_study_etl_spark.operators.txlog import TxLogTable
from dibimbing_case_study_etl_spark.schemas import L1_UPDATE_COLS, WEATHER_PK, WEATHER_SCHEMA


def incremental_l1(
    spark: SparkSession,
    staging_glob: str,
    l1_path: str,
    checkpoint_dir: str,
) -> None:
    """Merge every not-yet-processed staging file into L1, then stop.

    Exactly-once across restarts: the checkpoint tracks consumed files, and
    merge_upsert is idempotent per batch, so replays converge.
    """
    table = TxLogTable(l1_path)
    schema = T.StructType(WEATHER_SCHEMA.fields + [T.StructField("pos", T.IntegerType())])
    stream = spark.readStream.schema(schema).parquet(staging_glob)

    def upsert_batch(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        merge_upsert(
            batch.sparkSession,
            table,
            source=batch,
            keys=WEATHER_PK,
            update_cols=L1_UPDATE_COLS,
            order_by=[F.desc("load_ds"), F.desc("pos")],
        )

    q = (
        stream.writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
