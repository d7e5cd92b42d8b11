"""Property-based invariants (SURVEY §5.2.4): random payloads and batch
sequences must preserve the pipeline's core guarantees — PK uniqueness,
latest-wins arbitration, idempotent convergence.

Each example runs real Spark jobs, so example counts are deliberately
small; the strategies bias toward the nasty cases (duplicate keys, nulls,
shared timestamps across batches).
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dibimbing_case_study_etl_spark.operators.dedup_window import latest_per_key
from dibimbing_case_study_etl_spark.operators.merge_upsert import merge_upsert
from dibimbing_case_study_etl_spark.operators.txlog import TxLogTable

_SLOW = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# a merge event: (key ∈ small space, load_day ∈ {1,2,3}, value)
merge_row = st.tuples(
    st.integers(min_value=0, max_value=3),
    st.integers(min_value=1, max_value=3),
    st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
)
batches_strategy = st.lists(st.lists(merge_row, min_size=1, max_size=6), min_size=1, max_size=3)


@_SLOW
@given(batches=batches_strategy)
def test_merge_upsert_matches_sequential_model(spark, tmp_path_factory, batches):
    """After merging any batch sequence, the table equals the naive model:
    per key, the (load_ds, seq)-max row wins within each batch, upserted
    sequentially — ``val``/``load_ds`` from the newest batch, ``first_ds``
    (not an update column) from the batch that inserted the key."""
    table = TxLogTable.create(tmp_path_factory.mktemp("prop") / "t")

    model: dict[int, tuple] = {}
    for batch in batches:
        rows = [
            (k, dt.date(2025, 1, d), dt.date(2025, 1, d), float(v), seq)
            for seq, (k, d, v) in enumerate(batch)
        ]
        df = spark.createDataFrame(rows, "k int, first_ds date, load_ds date, val double, seq int")
        merge_upsert(
            spark, table, df,
            keys=["k"], update_cols=["val", "load_ds"],
            order_by=[F.desc("load_ds"), F.desc("seq")],
        )
        # model replay: winner per key inside the batch, then upsert
        best: dict[int, tuple] = {}
        for k, _, d, v, seq in rows:
            cur = best.get(k)
            if cur is None or (d, seq) > (cur[0], cur[2]):
                best[k] = (d, v, seq)
        for k, (d, v, _) in best.items():
            model[k] = (model[k][0] if k in model else d, d, v)

    got = table.read(spark).collect()
    assert len(got) == len(model)  # PK uniqueness
    assert {r.k: (r.first_ds, r.load_ds, r.val) for r in got} == model


@_SLOW
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # key
            st.integers(min_value=0, max_value=5),   # order field
            st.integers(min_value=0, max_value=1000),  # payload
        ),
        min_size=1,
        max_size=20,
    )
)
def test_latest_per_key_is_deterministic_argmax(spark, rows):
    df = spark.createDataFrame(
        [(k, o, p, i) for i, (k, o, p) in enumerate(rows)], "k int, o int, p int, rid int"
    )
    out = {
        r.k: (r.o, r.rid)
        for r in latest_per_key(df, keys=["k"], order_by=[F.desc("o"), F.desc("rid")]).collect()
    }
    expected: dict[int, tuple] = {}
    for i, (k, o, _) in enumerate(rows):
        if k not in expected or (o, i) > expected[k]:
            expected[k] = (o, i)
    assert out == expected
