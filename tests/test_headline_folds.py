"""Spark-job budgets of the headline queries whose bounded-size
materializations and re-counts were folded into the final plan (g03,
q79, t45), and the edge cases of those folds.

The budgets count every job a warm build runs (eager checkpoints and
driver actions inside ``build()``) plus the ``noop`` action, at sf0.001.
A change that adds an eager action to one of these paths shows up here;
``scripts/profile_queries.py`` gives the same count per query at any
scale.
"""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd
import pytest

from dibimbing_case_study_etl_spark.queries import load_all

# jobs per warm build + noop action at sf0.001 (before the folds: 18/14/15)
JOB_BUDGET = {
    "g03_supply_chain_reach": 11,
    "q79_funnel_conversion": 9,
    "t45_batch_padding_efficiency": 4,
}


@pytest.fixture(scope="module")
def registry():
    return load_all()


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(JOB_BUDGET))
def test_headline_job_budget(spark, sf_dir, registry, name):
    def run():
        registry[name].build(spark, sf_dir).write.mode("overwrite").format("noop").save()

    run()  # warm: the first load of each table infers its schema
    assert _jobs(spark, f"budget:{name}", run) == JOB_BUDGET[name]


def test_q79_without_purchases(spark, tmp_path, registry):
    """No purchase event at all: the purchase stage reports 0 users, rate
    0.0 and a null mean time — what the three separate aggregates glued
    by cross joins returned, and what the oracle SQL returns."""
    t0 = dt.datetime(2025, 1, 1)
    rows = [
        (1, "view", t0),
        (1, "click", t0 + dt.timedelta(hours=2)),
        (2, "view", t0),
        (2, "click", t0 - dt.timedelta(hours=1)),  # before the view: not counted
        (3, "view", t0 + dt.timedelta(hours=1)),
        (3, "click", t0 + dt.timedelta(hours=2)),
        (4, "click", t0),  # no view
    ]
    pdf = pd.DataFrame(rows, columns=["user_id", "event_type", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(os.path.join(tmp_path, "events.parquet"), index=False)

    out = registry["q79_funnel_conversion"].build(spark, str(tmp_path)).orderBy("stage_idx").collect()
    got = [(r.stage, r.n_users, r.conv_from_prev, r.conv_from_top, r.avg_hours_from_prev) for r in out]
    assert got == [
        ("view", 3, 1.0, 1.0, None),
        ("click", 2, 0.666667, 0.666667, 1.5),
        ("purchase", 0, 0.0, 0.0, None),
    ]


def test_g03_seed_without_parts_is_absent(spark, tmp_path, registry):
    """Seed 1 ships nothing: it has no 1-hop frontier, so (inner-join
    semantics of the per-hop counts) it must not appear, while the other
    seeds' counts match a plain Python BFS."""
    edges = {(0, 10), (0, 11), (2, 11), (2, 12), (7, 12), (7, 13), (3, 20), (4, 20), (9, 99)}
    # duplicated lineitem rows: the edge table's DISTINCT must absorb them
    li = pd.DataFrame(sorted(edges) + [(0, 10), (7, 13)], columns=["l_suppkey", "l_partkey"])
    li.to_parquet(os.path.join(tmp_path, "lineitem.parquet"), index=False)

    def reach(seed):
        h1 = {p for s, p in edges if s == seed}
        h2 = {s for s, p in edges if p in h1}
        h3 = {p for s, p in edges if s in h2}
        return len(h1), len(h2), len(h3)

    want = [(s, *reach(s)) for s in (0, 1, 2, 3, 4) if reach(s)[0]]
    out = registry["g03_supply_chain_reach"].build(spark, str(tmp_path)).collect()
    got = [(r.seed, r.n_parts_1hop, r.n_suppliers_2hop, r.n_parts_3hop) for r in out]
    assert 1 not in [g[0] for g in got]
    assert got == want
    assert want[:2] == [(0, 2, 2, 3), (2, 2, 3, 4)]  # the BFS itself, pinned


def test_headline_folds_keep_the_result_types(spark, sf_dir, registry):
    """The folded plans keep each output column's type (the oracle
    comparison tolerates int/float widening; the schema must not move)."""
    want = {
        "g03_supply_chain_reach": [
            ("seed", "bigint"),
            ("n_parts_1hop", "bigint"),
            ("n_suppliers_2hop", "bigint"),
            ("n_parts_3hop", "bigint"),
        ],
        "q79_funnel_conversion": [
            ("stage_idx", "bigint"),
            ("stage", "string"),
            ("n_users", "bigint"),
            ("conv_from_prev", "double"),
            ("conv_from_top", "double"),
            ("avg_hours_from_prev", "double"),
        ],
    }
    for name, dtypes in want.items():
        assert registry[name].build(spark, sf_dir).dtypes == dtypes, name
    t45 = registry["t45_batch_padding_efficiency"].build(spark, sf_dir)
    assert dict(t45.dtypes)["n_batches"] == "bigint"
    assert [r.n_buckets for r in t45.collect()] == [1, 4, 16]

