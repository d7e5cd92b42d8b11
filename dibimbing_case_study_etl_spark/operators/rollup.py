"""Incremental rollup maintenance — the hypertable/materialized-rollup
pattern: a persistent aggregate table keyed by (time bucket, dims) that
absorbs each new batch by MERGING partial aggregate state, instead of
recomputing the aggregate from all history.

Mergeable state per group: ``n`` (count), ``sum_c`` (value sum as exact
scaled-integer cents — BIGINT, so merge order can never change a bit),
``min_v`` / ``max_v``. Derived measures (avg) are computed at read time
from the state. This is the classic partial-aggregate algebra: COUNT and
scaled-int SUM merge by +, MIN/MAX by min/max — so N incremental loads
produce bit-identical state to one full recompute, which is exactly what
the u01 registry oracle checks end-to-end.

Scale posture: each batch aggregates map-side to one row per touched
(bucket, dims) group before anything shuffles; the state table is
partitioned by time bucket and only TOUCHED buckets are read + rewritten
(dynamic partition overwrite), so a daily load costs O(day), not
O(history). The same state algebra serves the streaming twin
(foreachBatch) — this is the batch path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_STATE_COLS = ("n", "sum_c", "min_v", "max_v")


def _exists(spark: SparkSession, path: str) -> bool:
    import os

    return os.path.isdir(path) and any(
        not e.name.startswith(("_", ".")) for e in os.scandir(path)
    )


def rollup_partials(
    batch: DataFrame,
    bucket_col: str,
    keys: Sequence[str],
    value_col: str,
) -> DataFrame:
    """One batch → mergeable partial-aggregate rows, one per touched group."""
    return batch.groupBy(bucket_col, *keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.call_function("rint", F.col(value_col) * 100).cast("bigint")).alias("sum_c"),
        F.min(value_col).alias("min_v"),
        F.max(value_col).alias("max_v"),
    )


def merge_rollup(
    spark: SparkSession,
    state_path: str,
    batch: DataFrame,
    bucket_col: str,
    keys: Sequence[str],
    value_col: str,
) -> None:
    """Merge one batch into the persistent rollup state at ``state_path``.

    Reads ONLY the time-bucket partitions the batch touches, merges the
    partial state, and rewrites just those partitions (dynamic overwrite:
    a rerun of the batch converges; a crash mid-overwrite can leave a
    partition half-replaced, so transactional state belongs in a
    ``TxLogTable``, cf. `operators/txlog.py`)."""
    keys = list(keys)
    partial = rollup_partials(batch, bucket_col, keys, value_col)

    if _exists(spark, state_path):
        touched = [r[0] for r in partial.select(bucket_col).distinct().collect()]
        existing = spark.read.parquet(state_path).filter(F.col(bucket_col).isin(touched))
        partial = (
            existing.unionByName(partial)
            .groupBy(bucket_col, *keys)
            .agg(
                F.sum("n").alias("n"),
                F.sum("sum_c").alias("sum_c"),
                F.min("min_v").alias("min_v"),
                F.max("max_v").alias("max_v"),
            )
        )

    result = partial.localCheckpoint(eager=True)  # sever self-read lineage
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        result.write.mode("overwrite").partitionBy(bucket_col).parquet(state_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def read_rollup(
    spark: SparkSession,
    state_path: str,
    bucket_col: str,
    keys: Sequence[str],
) -> DataFrame:
    """State → serving view with derived measures (exact-cent avg)."""
    s = spark.read.parquet(state_path)
    # partition-directory values round-trip through Spark's partition type
    # inference (e.g. '2024-01-14' comes back as DATE); pin the caller's
    # string key type so the serving schema is load-count-independent
    return s.select(
        F.col(bucket_col).cast("string").alias(bucket_col),
        *keys,
        F.col("n").cast("bigint").alias("n_events"),
        (F.col("sum_c") / 100.0).alias("sum_value"),
        (F.col("sum_c") / 100.0 / F.col("n")).alias("avg_value"),
        F.col("min_v").alias("min_value"),
        F.col("max_v").alias("max_value"),
    )


def streaming_rollup(
    spark: SparkSession,
    staging_glob: str,
    schema,
    state_path: str,
    checkpoint_dir: str,
    bucket_col: str,
    keys: Sequence[str],
    value_col: str,
) -> None:
    """Streaming twin of :func:`merge_rollup`: a file-source stream with
    ``Trigger.AvailableNow`` feeds each micro-batch through the SAME
    partial-aggregate merge the batch path uses — one state algebra, two
    arrival modes (cf. `streaming/weather_stream.py` for the upsert twin).

    Exactly-once across restarts: the checkpoint tracks consumed files and
    the merge is deterministic per batch, so replays converge to the same
    state."""
    stream = spark.readStream.schema(schema).parquet(staging_glob)

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        merge_rollup(batch.sparkSession, state_path, batch, bucket_col, keys, value_col)

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
