"""JDBC source/sink (SURVEY §2.1 S9/S12) — the reference's Postgres L1/L2
surface, for deployments that keep a relational serving layer.

Two pieces:

- :func:`read_jdbc` — partitioned parallel reads (predicate-split on a
  numeric column so every executor fetches its own slice).
- :func:`upsert_sql` + :func:`write_jdbc_upsert` — the reference's
  ``INSERT ... ON CONFLICT (pk) DO UPDATE`` batch upsert
  (`scripts/load_parquet_to_postgres_l1.py:52-61, 124-149`) executed from
  ``foreachPartition`` so every partition streams its own batched
  transaction — nothing funnels through the driver.

The container has no Postgres/JDBC driver, so the network paths are
exercised only by deployments; ``upsert_sql`` (the semantics carrier) is
unit-tested, and psycopg2 is import-gated.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql import Column, DataFrame, SparkSession

from dibimbing_case_study_etl_spark.operators.dedup_window import latest_per_key


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """Parallel JDBC read; without a partition column the read is a single
    connection (only acceptable for dimension-sized tables)."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    return reader.load()


def upsert_sql(table: str, columns: Sequence[str], keys: Sequence[str], update_cols: Sequence[str]) -> str:
    """The reference's conflict-update statement (`load:52-61`), with the
    same split-update semantics merge_upsert implements over txlog tables."""
    cols = ", ".join(columns)
    placeholders = ", ".join(["%s"] * len(columns))
    conflict = ", ".join(keys)
    updates = ", ".join(f"{c} = EXCLUDED.{c}" for c in update_cols)
    return (
        f"INSERT INTO {table} ({cols}) VALUES ({placeholders}) "
        f"ON CONFLICT ({conflict}) DO UPDATE SET {updates}"
    )


def prepare_upsert_batches(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str] | None = None,
) -> DataFrame:
    """Shape a DataFrame for a safe concurrent ON CONFLICT upsert: one row
    per key (first under ``order_by`` wins; defaults to non-key columns as
    written, i.e. an arbitrary but single survivor), hash-partitioned on
    the key (each key owned by exactly one writing transaction) and sorted
    by key within partitions (deterministic lock order across writers)."""
    keys = list(keys)
    resolved_order: list[Column | str] = (
        list(order_by)
        if order_by is not None
        else [c for c in df.columns if c not in keys] or keys
    )
    deduped = latest_per_key(df, keys=keys, order_by=resolved_order)
    return deduped.repartition(*keys).sortWithinPartitions(*keys)


def write_jdbc_upsert(
    df: DataFrame,
    dsn: str,
    table: str,
    keys: Sequence[str],
    update_cols: Sequence[str],
    batch_size: int = 5000,
    order_by: Sequence[Column | str] | None = None,
) -> None:
    """Distributed upsert: each partition opens one connection and streams
    ``execute_values`` batches (batch size parity: `load:124`) in a single
    transaction. Requires psycopg2 at the executors.

    Safety shaping before the write (the reference loads sequentially from
    one process, so it never hits either failure mode):

    - **In-batch PK dedup**: duplicate keys inside one ``execute_values``
      statement raise Postgres "cannot affect row a second time" —
      duplicates are arbitrated first (first row under ``order_by`` wins;
      defaults to the natural column order descending, i.e. an arbitrary
      but single survivor — pass an explicit ordering for last-wins
      batch semantics like :func:`~..operators.merge_upsert.merge_upsert`).
    - **Key-partitioned, key-sorted writes**: rows are hash-partitioned on
      the PK (each key is owned by exactly one transaction) and sorted by
      key within partitions (deterministic lock acquisition order), so
      concurrent partition transactions cannot deadlock on overlapping
      keys.
    """
    df = prepare_upsert_batches(df, keys, order_by)
    columns = list(df.columns)
    sql = upsert_sql(table, columns, keys, update_cols).replace(
        f"VALUES ({', '.join(['%s'] * len(columns))})", "VALUES %s"
    )

    def write_partition(rows: Iterator) -> None:  # pragma: no cover - needs a DB
        import psycopg2
        from psycopg2.extras import execute_values

        conn = psycopg2.connect(dsn)
        try:
            with conn.cursor() as cur:
                batch: list[tuple] = []
                for row in rows:
                    batch.append(tuple(row))
                    if len(batch) >= batch_size:
                        execute_values(cur, sql, batch)
                        batch.clear()
                if batch:
                    execute_values(cur, sql, batch)
            conn.commit()
        finally:
            conn.close()

    df.foreachPartition(write_partition)
