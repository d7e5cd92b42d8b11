"""merge_upsert unit tests on the txlog path: update-column split (U1 vs
U2 semantics), in-batch arbitration, untouched-file preservation,
idempotency."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from dibimbing_case_study_etl_spark.operators.merge_upsert import merge_upsert
from dibimbing_case_study_etl_spark.operators.txlog import TxLogTable

SCHEMA = "k int, date date, hour int, val double, load_ds date, seq int"


def df_of(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


D = dt.date


@pytest.fixture()
def table(tmp_path):
    return TxLogTable.create(tmp_path / "target")


def seed(spark, table):
    """Two files: keys {1, 2} and key {3}, with disjoint key ranges."""
    table.append(
        df_of(
            spark,
            [
                (1, D(2025, 1, 1), 0, 10.0, D(2025, 1, 1), 0),
                (2, D(2025, 1, 1), 1, 20.0, D(2025, 1, 1), 0),
            ],
        ),
        key_col="k",
        target_files=1,
    )
    table.append(
        df_of(spark, [(3, D(2025, 1, 2), 2, 30.0, D(2025, 1, 1), 0)]),
        key_col="k",
        target_files=1,
    )


def upsert(spark, table, src, order_by=("load_ds",), update_cols=("val", "load_ds")):
    """Newest first: every ``order_by`` column descending."""
    return merge_upsert(
        spark, table, src, keys=["k"], update_cols=update_cols,
        order_by=[F.desc(c) for c in order_by],
    )


def test_update_col_split(spark, table):
    """Only update_cols take source values on match; other columns keep
    the target's (the L1 vs L2 distinction, SURVEY §2.6)."""
    seed(spark, table)
    upsert(spark, table, df_of(spark, [(1, D(2025, 1, 1), 99, 11.5, D(2025, 1, 2), 0)]))
    out = {r.k: r for r in table.read(spark).collect()}
    assert out[1].val == 11.5 and out[1].load_ds == D(2025, 1, 2)
    assert out[1].hour == 0  # NOT updated (source said 99)
    assert out[2].val == 20.0 and out[3].val == 30.0  # untouched


def test_insert_new_keys_and_preserve_other_partitions(spark, table):
    """A pure insert whose key range overlaps no file rewrites nothing:
    every seeded file is carried over by name."""
    seed(spark, table)
    seeded = {f.path for f in table.live_files()}
    upsert(spark, table, df_of(spark, [(4, D(2025, 1, 1), 3, 40.0, D(2025, 1, 2), 0)]))
    out = table.read(spark)
    assert out.count() == 4
    assert out.filter("k = 3").first().val == 30.0
    assert seeded <= {f.path for f in table.live_files()}
    assert table.commits()[-1]["removed"] == []


def test_in_batch_duplicate_arbitration(spark, table):
    """Duplicate keys within one source batch: first row under order_by
    wins (here: highest seq — 'last in batch order', `load:140-147`)."""
    seed(spark, table)
    src = df_of(
        spark,
        [
            (1, D(2025, 1, 1), 0, 111.0, D(2025, 1, 2), 0),
            (1, D(2025, 1, 1), 0, 222.0, D(2025, 1, 2), 1),
        ],
    )
    upsert(spark, table, src, order_by=("load_ds", "seq"))
    assert table.read(spark).filter("k = 1").first().val == 222.0


def test_rerun_converges(spark, table):
    seed(spark, table)
    src = df_of(spark, [(2, D(2025, 1, 1), 1, 21.0, D(2025, 1, 3), 0)])
    v1 = upsert(spark, table, src)
    v2 = upsert(spark, table, src)
    assert v2 == v1 + 1  # a rerun commits again; it is not skipped
    out = table.read(spark)
    assert out.count() == 3
    assert out.filter("k = 2").first().val == 21.0


def test_update_cols_overlapping_keys_rejected(spark, table):
    seed(spark, table)
    src = df_of(spark, [(1, D(2025, 1, 1), 0, 1.0, D(2025, 1, 1), 0)])
    with pytest.raises(ValueError, match="overlap"):
        upsert(spark, table, src, update_cols=("k", "val"))
