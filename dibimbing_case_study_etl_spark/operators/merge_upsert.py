"""Keyed upsert (MERGE) — the reference's Postgres
``INSERT ... ON CONFLICT (pk) DO UPDATE`` (`scripts/load_parquet_to_postgres_l1.py:52-61`)
as two steps:

1. **In-batch duplicate arbitration** — Postgres applies batch rows
   sequentially so the *last* duplicate wins (`load:140-147`); a
   set-oriented merge must pre-dedup with an explicit ordering
   (``latest_per_key`` on ``order_by``).
2. **One transactional MERGE** — :meth:`TxLogTable.merge` with the
   composite key and the ``update_cols`` split (L1 deliberately does NOT
   update date/hour, `load:56-60`; L2 updates all non-key cols,
   `upsert_l2_for_ds.sql:28-33`). The commit is atomic and optimistic:
   a concurrent writer makes this merge recompute against the new
   snapshot, never lose an update, and a crash before the commit leaves
   the previous version readable.

Re-running any batch converges (idempotency, `README.md:38, 261`).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession

from dibimbing_case_study_etl_spark.operators.dedup_window import latest_per_key
from dibimbing_case_study_etl_spark.operators.txlog import TxLogTable


def merge_upsert(
    spark: SparkSession,
    table: TxLogTable,
    source: DataFrame,
    keys: Sequence[str],
    update_cols: Sequence[str],
    order_by: Sequence[Column | str],
    info: dict | None = None,
) -> int:
    """MERGE ``source`` into ``table``; returns the committed version.

    ``order_by`` resolves duplicate keys *within* the source batch (first row
    under this ordering wins — pass e.g. ``[F.desc("load_ds"), F.desc("_row")]``
    for last-wins batch semantics). ``info`` is recorded on the commit.
    """
    src = latest_per_key(source, keys=list(keys), order_by=list(order_by))
    return table.merge(
        spark,
        src.select(*source.columns),  # canonical column order
        list(keys),
        update_cols=list(update_cols),
        info=info,
    )
