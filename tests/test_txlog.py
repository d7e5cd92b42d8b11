"""Transactional commit-log table (operators/txlog.py).

Covers the ACID contract the reference delegates to Postgres
(``scripts/load_parquet_to_postgres_l1.py:124-149``): atomic visibility,
snapshot isolation / time travel, optimistic-concurrency races without
lost updates, stats-pruned copy-on-write merge, exactly-once replayed
streaming batches, and vacuum safety.
"""

from __future__ import annotations

import json
import threading

import pytest
from pyspark.sql import functions as F

from dibimbing_case_study_etl_spark.operators.txlog import (
    CommitStore,
    ConflictError,
    TxLogTable,
    foreach_batch_merge,
)


def _rows(spark, pairs):
    return spark.createDataFrame(pairs, "k bigint, v string")


def _state(table, spark, as_of=None) -> dict[int, str]:
    return {
        r["k"]: r["v"] for r in table.read(spark, as_of=as_of).collect()
    }


@pytest.fixture()
def table(tmp_path):
    return TxLogTable.create(tmp_path / "t")


def test_append_merge_delete_roundtrip(spark, table):
    v1 = table.append(_rows(spark, [(1, "a"), (2, "b"), (3, "c")]), key_col="k", target_files=1)
    assert v1 == 0
    v2 = table.merge(spark, _rows(spark, [(2, "B"), (4, "d")]), "k", target_files=1)
    assert v2 == 1
    assert _state(table, spark) == {1: "a", 2: "B", 3: "c", 4: "d"}
    v3 = table.merge(spark, _rows(spark, [(1, "x"), (4, "x")]), "k", delete=True, target_files=1)
    assert v3 == 2
    assert _state(table, spark) == {2: "B", 3: "c"}


def test_time_travel_snapshots_are_stable(spark, table):
    table.append(_rows(spark, [(1, "a")]), key_col="k", target_files=1)
    table.merge(spark, _rows(spark, [(1, "A"), (2, "b")]), "k", target_files=1)
    before = _state(table, spark, as_of=0)
    table.merge(spark, _rows(spark, [(1, "zz")]), "k", delete=True, target_files=1)
    # version 0 still reads exactly the original content after later commits
    assert _state(table, spark, as_of=0) == before == {1: "a"}
    assert _state(table, spark, as_of=1) == {1: "A", 2: "b"}
    assert _state(table, spark) == {2: "b"}


def test_merge_prunes_nonoverlapping_files(spark, table):
    # two disjoint key-range files from two appends
    table.append(_rows(spark, [(1, "a"), (2, "b")]), key_col="k", target_files=1)
    table.append(_rows(spark, [(100, "x"), (200, "y")]), key_col="k", target_files=1)
    low_file = {f.path for f in table.live_files() if f.max_key is not None and f.max_key <= 2}
    assert len(low_file) == 1
    table.merge(spark, _rows(spark, [(150, "X")]), "k", target_files=1)
    # the low-range file was carried over untouched (COW pruned it out)
    live = {f.path for f in table.live_files()}
    assert low_file <= live
    removed = set(table.commits()[-1]["removed"])
    assert low_file.isdisjoint(removed) and removed  # only the high file rewritten
    assert _state(table, spark) == {1: "a", 2: "b", 100: "x", 150: "X", 200: "y"}


def test_commit_publish_is_atomic_no_partial_log(spark, table):
    table.append(_rows(spark, [(1, "a")]), key_col="k", target_files=1)
    # every log entry is complete, parseable JSON (no torn writes visible)
    for p in sorted(table.log_dir.glob("*.json")):
        c = json.loads(p.read_text())
        assert {"version", "op", "added", "removed"} <= set(c)
    assert not list(table.log_dir.glob("*.tmp"))


def test_concurrent_appends_no_lost_update(spark, table):
    table.append(_rows(spark, [(0, "seed")]), key_col="k", target_files=1)
    errs: list[Exception] = []

    def worker(i: int):
        try:
            table.append(_rows(spark, [(10 + i, f"w{i}")]), key_col="k", target_files=1)
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    [t.start() for t in threads]
    [t.join() for t in threads]
    assert not errs
    # all four appends landed under distinct versions; nothing lost
    assert table.latest_version() == 4
    assert _state(table, spark) == {0: "seed", 10: "w0", 11: "w1", 12: "w2", 13: "w3"}


def test_merge_conflict_recomputes_against_new_snapshot(spark, table):
    """A merge that loses the publish race must fold the winner's rows in
    (no lost update). Simulated by injecting a competing commit between
    the loser's snapshot read and its publish."""
    table.append(_rows(spark, [(1, "a"), (2, "b")]), key_col="k", target_files=1)

    real_publish = table._try_publish
    raced = {"done": False}

    def racing_publish(payload, version):
        if not raced["done"]:
            raced["done"] = True
            # competitor lands first: updates k=1 to "WINNER"
            t2 = TxLogTable(table.root)
            t2.merge(spark, _rows(spark, [(1, "WINNER")]), "k", target_files=1)
        return real_publish(payload, version)

    table._try_publish = racing_publish  # type: ignore[method-assign]
    try:
        table.merge(spark, _rows(spark, [(2, "B2"), (3, "c")]), "k", target_files=1)
    finally:
        table._try_publish = real_publish  # type: ignore[method-assign]
    # both writers' effects survive
    assert _state(table, spark) == {1: "WINNER", 2: "B2", 3: "c"}


def test_merge_gives_up_after_max_retries(spark, table):
    table.append(_rows(spark, [(1, "a")]), key_col="k", target_files=1)
    table._try_publish = lambda payload, version: False  # type: ignore[method-assign]
    with pytest.raises(ConflictError):
        TxLogTable.merge(
            table, spark, _rows(spark, [(1, "x")]), "k", target_files=1, max_retries=1
        )
    # the refused merge published nothing: readers keep the prior version
    assert table.latest_version() == 0
    assert _state(table, spark) == {1: "a"}


def test_txn_batch_replay_is_idempotent(spark, table):
    table.append(_rows(spark, [(1, "a")]), key_col="k", target_files=1)
    v = table.merge(spark, _rows(spark, [(2, "b")]), "k", txn=("app1", 7), target_files=1)
    # replay of the same (app, batch) — and of an EARLIER batch — is a no-op
    assert table.merge(spark, _rows(spark, [(2, "DUP")]), "k", txn=("app1", 7)) == v
    assert table.merge(spark, _rows(spark, [(2, "OLD")]), "k", txn=("app1", 3)) == v
    assert _state(table, spark) == {1: "a", 2: "b"}
    # a NEW batch applies
    table.merge(spark, _rows(spark, [(2, "b8")]), "k", txn=("app1", 8), target_files=1)
    assert _state(table, spark)[2] == "b8"


def test_foreach_batch_sink_exactly_once(spark, table):
    table.append(_rows(spark, [(1, "a")]), key_col="k", target_files=1)
    sink = foreach_batch_merge(table, "k", app="stream1", target_files=1)
    b0 = _rows(spark, [(2, "s0")])
    sink(b0, 0)
    sink(b0, 0)  # Structured Streaming at-least-once replay
    sink(_rows(spark, [(3, "s1")]), 1)
    assert table.last_txn_batch("stream1") == 1
    assert _state(table, spark) == {1: "a", 2: "s0", 3: "s1"}
    # exactly one merge commit per distinct batch
    ops = [c["op"] for c in table.commits()]
    assert ops == ["append", "merge", "merge"]


def test_vacuum_removes_only_unreferenced(spark, table):
    table.append(_rows(spark, [(1, "a")]), key_col="k", target_files=1)
    table.merge(spark, _rows(spark, [(1, "A")]), "k", target_files=1)  # rewrites v0's file
    all_files = {
        f"{sub.name}/{p.name}"
        for sub in table.root.glob("data-*/")
        for p in sub.glob("*.parquet")
    }
    live_now = {f.path for f in table.live_files()}
    # retain only the latest version → v0's rewritten-away file goes
    removed = set(
        table.vacuum(as_of_retained=table.latest_version(), min_file_age_s=0)
    )
    assert removed == all_files - live_now and removed
    assert _state(table, spark) == {1: "A"}


def test_read_empty_table_raises(spark, tmp_path):
    t = TxLogTable.create(tmp_path / "empty")
    with pytest.raises(ValueError):
        t.read(spark)


def test_schema_and_values_roundtrip_types(spark, table):
    df = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 2.5).alias("v")
    )
    table.append(df, key_col="k", target_files=2)
    table.merge(
        spark,
        spark.range(25, 60).select(F.col("id").alias("k"), F.lit(-1.0).alias("v")),
        "k",
        target_files=2,
    )
    got = table.read(spark)
    assert got.schema["v"].dataType.simpleString() == "double"
    agg = got.agg(
        F.count("*").alias("n"), F.sum(F.when(F.col("v") < 0, 1).otherwise(0)).alias("neg")
    ).first()
    assert (agg["n"], agg["neg"]) == (60, 35)


def test_structured_streaming_foreach_batch_exactly_once(spark, table, tmp_path):
    """Real readStream → foreachBatch(txlog merge) drain, then a FULL
    checkpoint wipe and re-drain (Structured Streaming's worst-case
    replay): the (app, batch) txn ids make the second pass a no-op, so
    table state is exactly-once even when the stream layer forgets."""
    src = tmp_path / "src"
    chk1, chk2 = str(tmp_path / "chk1"), str(tmp_path / "chk2")
    _rows(spark, [(1, "a"), (2, "b")]).coalesce(1).write.parquet(str(src))
    table.append(_rows(spark, [(0, "seed")]), key_col="k", target_files=1)
    sink = foreach_batch_merge(table, "k", app="etl-stream", target_files=1)

    def drain(checkpoint):
        q = (
            spark.readStream.schema("k bigint, v string")
            .parquet(str(src) + "/*.parquet")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain(chk1)
    assert _state(table, spark) == {0: "seed", 1: "a", 2: "b"}
    v_after_first = table.latest_version()
    # fresh checkpoint → the batch REPLAYS from scratch; txn id absorbs it
    drain(chk2)
    assert table.latest_version() == v_after_first
    assert _state(table, spark) == {0: "seed", 1: "a", 2: "b"}


@pytest.mark.slow
def test_compact_is_data_identical_and_preserves_history(spark, table):
    for i in range(3):
        table.append(_rows(spark, [(i, f"v{i}")]), key_col="k", target_files=1)
    before = _state(table, spark)
    pre_compact_version = table.latest_version()
    table.compact(spark, key_col="k", target_files=1)
    assert len(table.live_files()) == 1
    assert _state(table, spark) == before  # data-identical
    # history before compaction still reads (files linger until vacuum)
    assert _state(table, spark, as_of=pre_compact_version) == before
    table.vacuum(as_of_retained=table.latest_version(), min_file_age_s=0)
    assert _state(table, spark) == before


def test_merge_schema_evolution_backfills_null(spark, table):
    table.append(_rows(spark, [(1, "a"), (2, "b")]), key_col="k", target_files=1)
    src = spark.createDataFrame([(2, "B", 9.5), (3, "c", 1.0)], "k bigint, v string, score double")
    table.merge(spark, src, "k", target_files=1, allow_schema_evolution=True)
    got = {r["k"]: (r["v"], r["score"]) for r in table.read(spark).collect()}
    assert got == {1: ("a", None), 2: ("B", 9.5), 3: ("c", 1.0)}


# --- property: random op sequences vs a dict model -------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_SLOW = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# an op: (kind, batch of (key ∈ small space, value tag))
_op = st.tuples(
    st.sampled_from(["append", "merge", "delete", "compact"]),
    st.lists(st.integers(min_value=0, max_value=5), min_size=1, max_size=4),
)
_ops_strategy = st.lists(_op, min_size=1, max_size=5)


@_SLOW
@given(ops=_ops_strategy)
@pytest.mark.slow
def test_txlog_random_ops_match_model_at_every_version(
    spark, tmp_path_factory, ops
):
    """Any sequence of append/merge/delete/compact equals a sequential
    dict model — at EVERY version, not just the tip (time travel must
    replay history exactly). Appends may create duplicate keys by
    design (blind writes); the model tracks a multiset for them."""
    table = TxLogTable.create(tmp_path_factory.mktemp("txprop") / "t")
    model: dict[int, list[str]] = {}  # key -> list of values (appends stack)
    history: list[dict[int, list[str]]] = []

    tag = 0
    for kind, keys in ops:
        tag += 1
        if kind == "append":
            rows = [(k, f"a{tag}") for k in keys]
            table.append(_rows(spark, rows), key_col="k", target_files=1)
            for k in keys:
                model.setdefault(k, []).append(f"a{tag}")
        elif kind == "merge":
            rows = [(k, f"m{tag}") for k in sorted(set(keys))]
            table.merge(spark, _rows(spark, rows), "k", target_files=1)
            for k in sorted(set(keys)):
                model[k] = [f"m{tag}"]  # upsert collapses duplicates too
        elif kind == "delete":
            if table.latest_version() < 0 or not table.live_files():
                continue
            rows = [(k, "x") for k in sorted(set(keys))]
            table.merge(spark, _rows(spark, rows), "k", delete=True, target_files=1)
            for k in keys:
                model.pop(k, None)
        else:  # compact
            if table.latest_version() < 0 or not table.live_files():
                continue
            table.compact(spark, key_col="k", target_files=1)
        history.append({k: sorted(v) for k, v in model.items() if v})

    # every version's snapshot equals the model state at that point
    assert table.latest_version() == len(history) - 1
    for v, expected in enumerate(history):
        if not expected:
            # deleting every key leaves either no live files (ValueError)
            # or an empty rewritten file (0 rows) — both are "empty"
            try:
                assert table.read(spark, as_of=v).count() == 0
            except ValueError:
                pass
            continue
        got: dict[int, list[str]] = {}
        for r in table.read(spark, as_of=v).collect():
            got.setdefault(r["k"], []).append(r["v"])
        assert {k: sorted(v) for k, v in got.items()} == expected, f"version {v}"


# --- manifest checkpoints ---------------------------------------------------


def test_checkpoint_fold_equals_full_replay(spark, tmp_path_factory):
    """State reconstructed from a checkpoint + tail commits must be
    byte-identical to folding the whole log; deleting every checkpoint
    must change nothing (checkpoints are derived, disposable state)."""
    root = tmp_path_factory.mktemp("txckpt") / "t"
    table = TxLogTable.create(root)
    table.checkpoint_interval = 4  # force frequent auto-checkpoints
    for i in range(10):
        table.merge(
            spark,
            _rows(spark, [(i % 3, f"v{i}"), (10 + i, f"w{i}")]),
            "k",
            target_files=1,
            txn=("app-a", i),
        )
    assert list(table.log_dir.glob("*.checkpoint.json"))  # auto-fired
    with_ckpt_files = {v: table.live_files(as_of=v) for v in range(10)}
    with_ckpt_state = _state(table, spark)
    assert table.last_txn_batch("app-a") == 9

    for p in table.log_dir.glob("*.checkpoint.json"):
        p.unlink()
    assert {v: table.live_files(as_of=v) for v in range(10)} == with_ckpt_files
    assert _state(table, spark) == with_ckpt_state
    assert table.last_txn_batch("app-a") == 9


@pytest.mark.slow
def test_checkpoint_bounds_commit_replay(spark, tmp_path_factory, monkeypatch):
    """After a checkpoint at version 8, reading the tip must replay only
    the commits after it — the unbounded-log problem the checkpoint
    exists to solve."""
    root = tmp_path_factory.mktemp("txckpt2") / "t"
    table = TxLogTable.create(root)
    table.checkpoint_interval = None  # manual
    for i in range(10):
        table.append(_rows(spark, [(i, f"a{i}")]), key_col="k", target_files=1)
    table.checkpoint(as_of=8)

    reads: list[int] = []
    orig = TxLogTable._read_commit
    monkeypatch.setattr(
        TxLogTable, "_read_commit", lambda self, v: reads.append(v) or orig(self, v)
    )
    files = table.live_files()
    assert len(files) == 10
    assert reads == [9]  # only the post-checkpoint tail


def test_checkpoint_race_is_harmless(spark, tmp_path_factory):
    """Two writers checkpointing the same version: first link wins, the
    loser's bytes were identical — no error, one file, correct content."""
    root = tmp_path_factory.mktemp("txckpt3") / "t"
    table = TxLogTable.create(root)
    table.append(_rows(spark, [(1, "a"), (2, "b")]), key_col="k", target_files=1)
    v1 = table.checkpoint()
    v2 = table.checkpoint()  # second publish hits FileExistsError path
    assert v1 == v2 == 0
    assert len(list(table.log_dir.glob("*.checkpoint.json"))) == 1
    assert {r["k"] for r in table.read(spark).collect()} == {1, 2}


@pytest.mark.slow
def test_multiprocess_writers_serialize(spark, table):
    """THE multi-writer claim, process-grade: three separate driver
    PROCESSES (own JVMs — nothing shared but the filesystem) append to
    the same table concurrently. The os.link commit publish must
    serialize them: every append lands under a distinct version, none
    lost, final state complete. This is the scenario the in-process
    thread test cannot prove (CPython locks, shared JVM) and the one a
    real cluster hits."""
    import os
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        """
        import sys
        from pyspark.sql import SparkSession
        from dibimbing_case_study_etl_spark.operators.txlog import TxLogTable

        root, wid = sys.argv[1], int(sys.argv[2])
        spark = (SparkSession.builder.master("local[2]")
                 .appName(f"txlog-writer-{wid}")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.ui.enabled", "false").getOrCreate())
        t = TxLogTable(root)
        df = spark.createDataFrame(
            [(100 + wid * 10 + j, f"p{wid}_{j}") for j in range(2)],
            "k bigint, v string")
        t.append(df, key_col="k", target_files=1)
        spark.stop()
        """
    )
    table.append(_rows(spark, [(0, "seed")]), key_col="k", target_files=1)

    env = dict(os.environ, PYTHONPATH="/root/repo")
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, str(table.root), str(i)],
            env=env,
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )
        for i in range(3)
    ]
    outs = [p.communicate(timeout=300) for p in procs]
    for p, (out, err) in zip(procs, outs):
        assert p.returncode == 0, err.decode()[-2000:]

    assert table.latest_version() == 3  # seed (v0) + three process commits
    expect = {0: "seed"}
    for wid in range(3):
        for j in range(2):
            expect[100 + wid * 10 + j] = f"p{wid}_{j}"
    assert _state(table, spark) == expect


class _RacingStore(CommitStore):
    """CommitStore that LOSES the first ``n_races`` publishes: before each
    of the writer's first N attempts, a phantom competitor publishes the
    same version first (through a plain store), so the writer's
    put-if-absent returns False and it must retry under a new version —
    the deterministic injection of the optimistic-concurrency race.
    Read side (list_names/read) is the inherited POSIX implementation —
    the r9 store seam routes ALL log reads through the store too."""

    def __init__(self, n_races: int):
        self._inner = CommitStore()
        self.races_left = n_races
        self.attempts = 0

    def put_if_absent(self, target, payload) -> bool:
        self.attempts += 1
        if self.races_left > 0 and not target.exists():
            self.races_left -= 1
            competitor = json.dumps(
                {"op": "append", "added": [], "removed": [], "key_col": None,
                 "txn": None, "version": int(target.name.split(".")[0])}
            ).encode()
            assert self._inner.put_if_absent(target, competitor)
            # now the writer's own attempt hits the occupied slot
        return self._inner.put_if_absent(target, payload)


def test_commit_store_cas_losing_races_still_commits(spark, tmp_path):
    """The injectable-store seam: an append that loses 3 CAS races (a
    competitor lands each version first) retries and still commits, with
    every competitor commit preserved — no lost update, no gap."""
    store = _RacingStore(n_races=3)
    table = TxLogTable.create(tmp_path / "t", store=store)
    v = table.append(_rows(spark, [(1, "a")]), key_col="k", target_files=1)
    # versions 0..2 went to the phantom competitors, ours landed at 3
    assert v == 3
    assert store.attempts == 4
    assert [c["version"] for c in table.commits()] == [0, 1, 2, 3]
    assert _state(table, spark) == {1: "a"}


def test_commit_store_cas_exhausting_retries_raises(spark, tmp_path):
    store = _RacingStore(n_races=10**9)
    table = TxLogTable.create(tmp_path / "t", store=store)
    with pytest.raises(ConflictError):
        table.append(_rows(spark, [(1, "a")]), key_col="k", target_files=1, max_retries=2)


def test_vacuum_age_guard_protects_inflight_writes(spark, table):
    """Data lands before the commit that references it, so a vacuum racing
    an in-flight writer must not delete young unreferenced files — only
    files older than ``min_file_age_s`` go."""
    table.append(_rows(spark, [(1, "a")]), key_col="k", target_files=1)
    # simulate an in-flight writer: data written, commit not yet published
    added = table._write_data(_rows(spark, [(9, "z")]), "k", 1)
    assert (table.root / added[0]["path"]).exists()
    removed = table.vacuum(as_of_retained=table.latest_version())  # default age guard
    assert removed == []  # the just-written file survives
    # the in-flight writer can still publish a commit referencing it
    payload = {"op": "append", "added": added, "removed": [], "key_col": "k", "txn": None}
    assert table._try_publish(payload, table.latest_version() + 1)
    assert _state(table, spark) == {1: "a", 9: "z"}
    # quiescent-writer vacuum (age 0) removes nothing either: all referenced
    assert table.vacuum(as_of_retained=0, min_file_age_s=0) == []


def test_string_key_records_no_stats_and_merge_stays_exact(spark, tmp_path):
    """String footer min/max can be writer-truncated (a too-small max would
    wrongly PRUNE a file that holds matching keys → duplicate keys after
    merge); non-integral key columns therefore record no stats — every
    file is always a rewrite candidate, and merge output stays exact."""
    table = TxLogTable.create(tmp_path / "t")
    df = spark.createDataFrame([("k1", 1), ("k2", 2)], "k string, v bigint")
    table.append(df, key_col="k", target_files=1)
    assert all(
        f.min_key is None and f.max_key is None for f in table.live_files()
    )
    src = spark.createDataFrame([("k2", 20), ("k3", 30)], "k string, v bigint")
    table.merge(spark, src, "k", target_files=1)
    got = {r["k"]: r["v"] for r in table.read(spark).collect()}
    assert got == {"k1": 1, "k2": 20, "k3": 30}


def test_merge_broadcast_hint_is_gated_on_source_size(spark, table):
    """A forced broadcast of an unbounded key set bypasses AQE and OOMs at
    scale; above the limit the merge must still be correct (AQE picks the
    strategy), below it the hint applies. Both paths value-checked."""
    table.append(_rows(spark, [(i, f"v{i}") for i in range(8)]), key_col="k", target_files=1)
    src = _rows(spark, [(2, "X"), (9, "Y")])
    table.merge(spark, src, "k", target_files=1, broadcast_key_limit=1)  # over limit → no hint
    assert _state(table, spark)[2] == "X" and _state(table, spark)[9] == "Y"
    table.merge(spark, _rows(spark, [(3, "Z")]), "k", target_files=1)  # under limit → hinted
    assert _state(table, spark)[3] == "Z"


class _FakeS3Client:
    """In-memory S3 semantics for the store contract: conditional put
    (IfNoneMatch='*' accepted only for absent keys, else a botocore-shaped
    412 ClientError), GetObject, and paginated ListObjectsV2 (page size 2
    so the continuation-token loop is actually exercised)."""

    _PAGE = 2

    def __init__(self):
        self.objects: dict[tuple[str, str], bytes] = {}

    def put_object(self, Bucket, Key, Body, IfNoneMatch=None):
        assert IfNoneMatch == "*", "commit publish must be conditional"
        if (Bucket, Key) in self.objects:
            from botocore.exceptions import ClientError

            raise ClientError(
                {
                    "Error": {"Code": "PreconditionFailed", "Message": "exists"},
                    "ResponseMetadata": {"HTTPStatusCode": 412},
                },
                "PutObject",
            )
        self.objects[(Bucket, Key)] = bytes(Body)
        return {"ResponseMetadata": {"HTTPStatusCode": 200}}

    def get_object(self, Bucket, Key):
        import io

        if (Bucket, Key) not in self.objects:
            from botocore.exceptions import ClientError

            raise ClientError(
                {"Error": {"Code": "NoSuchKey"},
                 "ResponseMetadata": {"HTTPStatusCode": 404}},
                "GetObject",
            )
        return {"Body": io.BytesIO(self.objects[(Bucket, Key)])}

    def list_objects_v2(self, Bucket, Prefix, ContinuationToken=None):
        keys = sorted(k for b, k in self.objects if b == Bucket and k.startswith(Prefix))
        start = int(ContinuationToken) if ContinuationToken else 0
        page = keys[start : start + self._PAGE]
        out = {"Contents": [{"Key": k} for k in page], "IsTruncated": False}
        if start + self._PAGE < len(keys):
            out["IsTruncated"] = True
            out["NextContinuationToken"] = str(start + self._PAGE)
        return out


class _Flaky409Client(_FakeS3Client):
    """Answers 409 ConditionalRequestConflict for the first ``n_conflicts``
    put attempts per key (the AWS concurrent-write window), then delegates
    to the real conditional-put semantics."""

    def __init__(self, n_conflicts: int):
        super().__init__()
        self.n_conflicts = n_conflicts
        self.attempts: dict[str, int] = {}

    def put_object(self, Bucket, Key, Body, IfNoneMatch=None):
        self.attempts[Key] = self.attempts.get(Key, 0) + 1
        if self.attempts[Key] <= self.n_conflicts:
            from botocore.exceptions import ClientError

            raise ClientError(
                {
                    "Error": {"Code": "ConditionalRequestConflict",
                              "Message": "concurrent conditional write"},
                    "ResponseMetadata": {"HTTPStatusCode": 409},
                },
                "PutObject",
            )
        return super().put_object(Bucket, Key, Body, IfNoneMatch=IfNoneMatch)


def test_s3_commit_store_put_if_absent_contract(tmp_path):
    """First conditional put wins; the second returns False and must NOT
    overwrite the winner's payload; non-CAS errors propagate."""
    from dibimbing_case_study_etl_spark.operators.txlog import S3CommitStore

    fake = _FakeS3Client()
    store = S3CommitStore("b", prefix="tbl/", root=tmp_path, client=fake)
    target = tmp_path / "_txlog" / "00000001.json"
    assert store.put_if_absent(target, b"winner") is True
    assert store.put_if_absent(target, b"loser") is False
    assert fake.objects[("b", "tbl/_txlog/00000001.json")] == b"winner"

    class _Boom(_FakeS3Client):
        def put_object(self, **kw):
            raise RuntimeError("network down")

    broken = S3CommitStore("b", client=_Boom())
    with pytest.raises(RuntimeError, match="network down"):
        broken.put_if_absent(target, b"x")


def test_s3_commit_store_race_exactly_one_winner(tmp_path):
    """Two independent writers (separate store instances, one backend)
    racing on every version: exactly one conditional put per key
    succeeds, losers all observe False — the optimistic-concurrency
    signal TxLogTable retries on."""
    from dibimbing_case_study_etl_spark.operators.txlog import S3CommitStore

    fake = _FakeS3Client()
    w1 = S3CommitStore("b", root=tmp_path, client=fake)
    w2 = S3CommitStore("b", root=tmp_path, client=fake)
    wins = {1: 0, 2: 0}
    for v in range(20):
        target = tmp_path / "_txlog" / f"{v:08d}.json"
        first, second = (w1, w2) if v % 3 else (w2, w1)
        r_first = first.put_if_absent(target, b"first")
        r_second = second.put_if_absent(target, b"second")
        assert (r_first, r_second) == (True, False)
        wins[1 if first is w1 else 2] += 1
        assert fake.objects[("b", f"_txlog/{v:08d}.json")] == b"first"
    assert wins[1] > 0 and wins[2] > 0


def test_s3_commit_store_409_retries_until_definitive(tmp_path):
    """AWS's 409 ConditionalRequestConflict is INDETERMINATE (the competing
    in-flight put may still fail, leaving NO object) — the store must
    re-issue the conditional put until a definitive 200 (True) or 412
    (False). Mapping 409 straight to False would let TxLogTable skip to
    v+1 and leave a permanent hole in the contiguous log."""
    from dibimbing_case_study_etl_spark.operators.txlog import S3CommitStore

    target = tmp_path / "_txlog" / "00000003.json"

    # 409 twice, then the key is free → must end True (the put landed)
    flaky = _Flaky409Client(n_conflicts=2)
    store = S3CommitStore("b", root=tmp_path, client=flaky, conflict_backoff_s=0.0)
    assert store.put_if_absent(target, b"mine") is True
    assert flaky.attempts["_txlog/00000003.json"] == 3
    assert flaky.objects[("b", "_txlog/00000003.json")] == b"mine"

    # 409 twice, then the COMPETITOR's object is there → definitive False
    flaky2 = _Flaky409Client(n_conflicts=2)
    flaky2.objects[("b", "_txlog/00000003.json")] = b"theirs"
    store2 = S3CommitStore("b", root=tmp_path, client=flaky2, conflict_backoff_s=0.0)
    assert store2.put_if_absent(target, b"mine") is False
    assert flaky2.objects[("b", "_txlog/00000003.json")] == b"theirs"

    # never-definitive 409 → ConflictError after the attempt budget,
    # NEVER a silent False (a spurious False is the hole-punching bug)
    stuck = _Flaky409Client(n_conflicts=10**9)
    store3 = S3CommitStore(
        "b", root=tmp_path, client=stuck, conflict_retries=3, conflict_backoff_s=0.0
    )
    with pytest.raises(ConflictError, match="indeterminate"):
        store3.put_if_absent(target, b"mine")
    assert stuck.attempts["_txlog/00000003.json"] == 4  # retries + 1


def test_s3_commit_store_read_side_contract(tmp_path):
    """list_names returns direct children only (no nested keys, no other
    prefixes) across ListObjectsV2 pages; read round-trips the payload."""
    from dibimbing_case_study_etl_spark.operators.txlog import S3CommitStore

    fake = _FakeS3Client()
    store = S3CommitStore("b", root=tmp_path, client=fake)
    log = tmp_path / "_txlog"
    for v in range(5):  # 5 keys > fake page size 2 → pagination exercised
        assert store.put_if_absent(log / f"{v:08d}.json", b"{}") is True
    fake.objects[("b", "_txlog/nested/deeper.json")] = b"{}"  # not a child
    fake.objects[("b", "other/00000009.json")] = b"{}"  # different prefix
    names = sorted(store.list_names(log))
    assert names == [f"{v:08d}.json" for v in range(5)]
    assert store.read(log / "00000002.json") == b"{}"


@pytest.mark.slow
def test_txlog_round_trips_entirely_through_s3_store(spark, tmp_path):
    """Verdict-r8 ask #4: the LOG lives only in the injected store — commit,
    read, time-travel, txn watermark, and checkpoint replay all go through
    put_if_absent/list_names/read. The local _txlog dir must stay empty
    (data parquet stays on the local root; Spark's source reads it)."""
    from dibimbing_case_study_etl_spark.operators.txlog import S3CommitStore

    fake = _FakeS3Client()
    root = tmp_path / "t"
    root.mkdir()
    store = S3CommitStore("b", root=root, client=fake)
    table = TxLogTable.create(root, store=store, checkpoint_interval=2)

    table.append(_rows(spark, [(1, "a"), (2, "b")]), key_col="k", target_files=1)
    table.merge(spark, _rows(spark, [(2, "B"), (3, "c")]), "k", target_files=1)
    table.merge(spark, _rows(spark, [(1, "x")]), "k", delete=True, target_files=1)

    assert _state(table, spark) == {2: "B", 3: "c"}
    assert _state(table, spark, as_of=0) == {1: "a", 2: "b"}  # time travel
    assert _state(table, spark, as_of=1) == {1: "a", 2: "B", 3: "c"}
    assert table.latest_version() == 2

    # exactly-once txn watermark folds through the store-backed log
    v = table.append(_rows(spark, [(9, "z")]), key_col="k", txn=("app", 7))
    assert table.append(_rows(spark, [(9, "dup")]), key_col="k", txn=("app", 7)) == v
    assert table.last_txn_batch("app") == 7

    # the interval-2 auto-checkpoint was published to the store and a fresh
    # handle (cold reader, same store) replays from it
    assert any(".checkpoint." in k for _, k in fake.objects)
    cold = TxLogTable(root, store=S3CommitStore("b", root=root, client=fake))
    assert _state(cold, spark) == {2: "B", 3: "c", 9: "z"}

    # nothing log-shaped leaked onto the local filesystem
    assert not list((root / "_txlog").glob("*.json"))


def test_schema_evolution_additive_and_time_travel(spark, tmp_path):
    """r10 schema evolution: the log records each writing commit's schema
    (Delta pattern — planning touches no footers), additive appends
    surface old files' missing columns as NULL, as_of reads see the
    schema AS OF that version, merge can widen with
    allow_schema_evolution, and compact physically normalizes every
    live file to the evolved schema."""
    from pyspark.sql import functions as F

    from dibimbing_case_study_etl_spark.operators.txlog import TxLogTable

    t = TxLogTable.create(tmp_path / "t", checkpoint_interval=2)
    a = spark.range(5).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("p"))
    t.append(a, key_col="k", target_files=1)  # v0: (k, p)
    b = spark.range(5, 10).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("p"),
        F.lit("web").alias("source"),
    )
    t.append(b, key_col="k", target_files=1)  # v1: + source
    cur = t.read(spark)
    assert cur.schema.simpleString() == "struct<k:bigint,p:double,source:string>"
    assert cur.filter(F.col("source").isNull()).count() == 5  # v0 files
    assert t.read(spark, as_of=0).schema.simpleString() == "struct<k:bigint,p:double>"

    src = spark.range(3).select(
        F.col("id").alias("k"), F.lit(9.9).alias("p"),
        F.lit("api").alias("source"), F.lit(1).alias("flag"),
    )
    t.merge(spark, src, "k", target_files=1, allow_schema_evolution=True)  # v2
    m = t.read(spark)
    assert "flag" in m.columns
    assert m.count() == 10 and m.filter(F.col("flag").isNotNull()).count() == 3

    # the v2 auto-checkpoint carries the folded schema: a COLD handle's
    # as_of=1 fold must still see the narrower v1 schema
    cold = TxLogTable(tmp_path / "t")
    assert (
        cold.read(spark, as_of=1).schema.simpleString()
        == "struct<k:bigint,p:double,source:string>"
    )

    # compact normalizes the physical files to the wide schema
    t.compact(spark, key_col="k", target_files=1)
    assert t.read(spark).count() == 10
    assert "flag" in t.read(spark).columns


def test_schema_evolution_rejects_drop_and_type_change(spark, tmp_path):
    """Only ADDITIVE evolution is legal: dropping a column would hide
    data in untouched files, a type change would corrupt the scan —
    both must raise before any data lands."""
    import pytest
    from pyspark.sql import functions as F

    from dibimbing_case_study_etl_spark.operators.txlog import TxLogTable

    t = TxLogTable.create(tmp_path / "t")
    t.append(
        spark.range(3).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("p")),
        key_col="k",
    )
    with pytest.raises(ValueError, match="DROP column"):
        t.append(spark.range(2).select(F.col("id").alias("k")), key_col="k")
    with pytest.raises(ValueError, match="types are immutable"):
        t.append(
            spark.range(2).select(F.col("id").alias("k"), F.lit("x").alias("p")),
            key_col="k",
        )
    # nothing published by the rejected writes
    assert t.latest_version() == 0


def test_compact_cluster_by_produces_disjoint_file_ranges(spark, tmp_path):
    """cluster_by range-partitions + sorts the rewrite: the resulting
    live files must cover pairwise-DISJOINT key ranges (that disjointness
    is what makes footer min/max selective), and the data must be
    byte-identical to the pre-compact table."""
    from pyspark.sql import functions as F

    from dibimbing_case_study_etl_spark.operators.txlog import TxLogTable

    t = TxLogTable.create(tmp_path / "t")
    src = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 0.5).alias("p"))
    for r in (0, 1):
        t.append(src.filter(F.col("k") % 2 == r).repartition(3, "k"), key_col="k")
    t.compact(spark, key_col="k", target_files=4, cluster_by="k")
    files = t.live_files()
    assert 1 < len(files) <= 4
    ranges = sorted((f.min_key, f.max_key) for f in files)
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi < b_lo  # strictly disjoint
    got = t.read(spark)
    assert got.count() == 1000
    assert got.agg(F.sum("k")).first()[0] == sum(range(1000))


@pytest.mark.slow
def test_deletion_vectors_merge_on_read(spark, tmp_path):
    """r10 merge-on-read deletes: delete_where writes a (file, key)
    sidecar instead of rewriting data files — the live set is unchanged,
    reads subtract the DV, time travel still sees the rows, a
    re-inserted key (new file) is NOT masked, merge does not resurrect
    deleted rows, compact physically purges, and vacuum collects the
    retired sidecars."""
    from pyspark.sql import functions as F

    from dibimbing_case_study_etl_spark.operators.txlog import TxLogTable

    t = TxLogTable.create(tmp_path / "t", checkpoint_interval=3)
    src = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("p"))
    t.append(src, key_col="k", target_files=2)  # v0
    n_files = len(t.live_files())

    t.delete_where(spark, F.col("k") % 10 == 0, "k")  # v1
    assert len(t.live_files()) == n_files  # merge-on-read: no rewrite
    cur = t.read(spark)
    assert cur.count() == 90
    assert cur.filter(F.col("k") % 10 == 0).count() == 0
    assert t.read(spark, as_of=0).count() == 100  # time travel

    t.append(spark.createDataFrame([(30, 7.5)], "k bigint, p double"), key_col="k")
    assert t.read(spark).filter(F.col("k") == 30).count() == 1  # re-insert ok

    t.merge(spark, spark.createDataFrame([(55, 9.9)], "k bigint, p double"), "k")
    m = t.read(spark)
    assert m.count() == 91 and m.filter(F.col("k") == 50).count() == 0

    # the auto-checkpoint at v3 carries dv_live: a cold fold must agree
    cold = TxLogTable(tmp_path / "t")
    assert cold.read(spark).count() == 91

    t.compact(spark, key_col="k", target_files=1)  # physical purge
    assert t.read(spark).count() == 91
    removed = t.vacuum(as_of_retained=t.latest_version(), min_file_age_s=0)
    assert any(r.startswith("dv-") for r in removed)
    assert t.read(spark).count() == 91


def test_double_delete_where_with_live_dvs(spark, tmp_path):
    """Second delete_where with DVs already live (no compact between):
    pins _metadata.file_path resolution after _apply_dvs has anti-joined
    the scan against the sidecar parquet source, and that already-masked
    rows cannot re-enter the new sidecar (r10 ADVICE)."""
    t = TxLogTable.create(tmp_path / "t")
    src = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("p"))
    t.append(src, key_col="k", target_files=2)  # v0
    t.delete_where(spark, F.col("k") % 10 == 0, "k")  # v1: masks 10 keys
    t.delete_where(spark, F.col("k") % 7 == 0, "k")  # v2: DVs live during scan
    # multiples of 7 in [0,100): 15, of which 0 and 70 were already masked
    assert t.read(spark).count() == 100 - 10 - 13
    assert t.read(spark, as_of=1).count() == 90  # time travel unaffected
    _, _, _, dvs1, _ = t._fold_state(1)
    _, _, _, dvs2, _ = t._fold_state(2)
    (new_sidecar,) = set(dvs2) - set(dvs1)
    masked = {
        r["k"]
        for r in spark.read.parquet(str(t.root / new_sidecar)).collect()
    }
    # minimal DV: rows already masked by v1 are not re-recorded
    assert masked == {k for k in range(100) if k % 7 == 0} - {0, 70}


@pytest.mark.slow
def test_merge_retires_fully_covered_dv_sidecars(spark, tmp_path):
    """A merge whose rewrite removes EVERY file a sidecar targets emits
    dv_removed for it (the rewrite physically applied the mask), so
    reads stop anti-joining dangling sidecars and vacuum can collect
    them without waiting for a compact; a sidecar that also masks an
    untouched file stays live (r10 ADVICE)."""
    t = TxLogTable.create(tmp_path / "t")
    src = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("p"))
    t.append(src, key_col="k", target_files=1)  # v0: one file, all keys
    t.delete_where(spark, F.col("k") < 10, "k")  # v1: sidecar targets it
    t.merge(spark, spark.createDataFrame([(5, 9.9)], "k bigint, p double"), "k")
    _, _, _, dvs, targets = t._fold_state()
    assert dvs == {} and targets == {}  # fully-covered sidecar retired
    out = t.read(spark)
    assert out.count() == 91  # 90 survivors + re-inserted k=5
    assert {r["k"] for r in out.filter(F.col("k") < 10).collect()} == {5}
    removed = t.vacuum(as_of_retained=t.latest_version(), min_file_age_s=0)
    assert any(r.startswith("dv-") for r in removed)  # no compact needed

    # partial coverage: sidecar spanning two files survives a one-file merge
    t2 = TxLogTable.create(tmp_path / "t2")
    t2.append(src.repartitionByRange(2, "k"), key_col="k", target_files=None)
    assert len(t2.live_files()) == 2
    t2.delete_where(spark, F.col("k").isin(5, 95), "k")  # targets both files
    t2.merge(spark, spark.createDataFrame([(6, 1.0)], "k bigint, p double"), "k")
    _, _, _, dvs2, targets2 = t2._fold_state()
    assert len(dvs2) == 1 and len(targets2) == 1  # still live for file 2
    assert t2.read(spark).filter(F.col("k") == 95).count() == 0  # still masked


@pytest.mark.slow
def test_append_retry_revalidates_schema_evolution(spark, table):
    """An append that loses the publish race to a writer that ADDED a
    column must not republish its stale (narrower) schema at a higher
    version — the last-writer-wins fold would silently hide the new
    column's data. The retry re-validates and raises instead (r10
    ADVICE, medium)."""
    table.append(_rows(spark, [(1, "a")]), key_col="k", target_files=1)

    real_publish = table._try_publish
    raced = {"done": False}

    def racing_publish(payload, version):
        if not raced["done"]:
            raced["done"] = True
            # competitor lands first with an additive evolution (+w)
            t2 = TxLogTable(table.root)
            t2.append(
                _rows(spark, [(2, "b")]).withColumn("w", F.lit(7)),
                key_col="k",
                target_files=1,
            )
        return real_publish(payload, version)

    table._try_publish = racing_publish  # type: ignore[method-assign]
    try:
        with pytest.raises(ValueError, match="DROP column 'w'"):
            table.append(_rows(spark, [(3, "c")]), key_col="k", target_files=1)
    finally:
        table._try_publish = real_publish  # type: ignore[method-assign]
    # the winner's column survives; the loser published nothing
    assert set(table.read(spark).columns) == {"k", "v", "w"}
    assert _state(table, spark) == {1: "a", 2: "b"}


def test_timestamp_key_stats_cluster_rewrites_by_day(spark, tmp_path):
    """A composite key led by a timestamp records exact UTC-microsecond
    file stats, a rewrite lands one file per day of key span with
    disjoint ranges, and an overlapping batch rewrites only files that
    reach into its own range — earlier days are carried over by name."""
    t = TxLogTable.create(tmp_path / "t")
    day_us = 86_400_000_000
    t0 = 1_735_689_600_000_000  # 2025-01-01T00:00Z

    def hours(start, n, val):
        return spark.range(n).select(
            F.timestamp_micros(F.lit(t0) + (F.col("id") + start) * 3_600_000_000).alias("ts"),
            F.lit("a").alias("loc"),
            F.lit(val).alias("val"),
            F.lit(0).alias("first"),
        )

    t.merge(spark, hours(0, 96, 1.0), ["ts", "loc"])
    files = sorted(t.live_files(), key=lambda f: f.min_key)
    assert len(files) == 4
    assert files[0].min_key == t0 and files[-1].max_key == t0 + 95 * 3_600_000_000
    assert all(a.max_key < b.min_key for a, b in zip(files, files[1:]))

    lo = t0 + 3 * day_us
    t.merge(
        spark,
        hours(72, 48, 2.0).withColumn("first", F.lit(1)),
        ["ts", "loc"],
        update_cols=["val"],
    )
    removed = set(t.commits()[-1]["removed"])
    assert removed == {f.path for f in files if f.max_key >= lo}
    assert len(removed) < len(files)
    rows = t.read(spark).collect()
    assert len(rows) == 120
    cut = [(r.val, r.first) for r in rows if r.ts.day == 4]  # hours 72..95
    assert set(cut) == {(2.0, 0)}  # updated val, kept first
    live = sorted(t.live_files(), key=lambda f: f.min_key)
    assert all(a.max_key < b.min_key for a, b in zip(live, live[1:]))


def test_concurrent_timestamp_writes_keep_stats_and_conf(spark, tmp_path):
    """Timestamp-keyed writes switch a process-wide session conf to get
    INT64 timestamps (and so footer stats). Eight threads writing at once
    must each get stats on every file, and leave the conf as it was."""
    before = spark.conf.get("spark.sql.parquet.outputTimestampType")
    df = spark.range(48).select(
        F.timestamp_micros(F.col("id") * 3_600_000_000).alias("ts"), F.col("id").alias("v")
    )
    tables = [TxLogTable.create(tmp_path / f"t{i}") for i in range(8)]
    errs: list[Exception] = []

    def worker(t):
        try:
            t.merge(spark, df, ["ts"])
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(t,)) for t in tables]
    [t.start() for t in threads]
    [t.join(timeout=300) for t in threads]
    assert not any(t.is_alive() for t in threads) and not errs
    assert all(f.min_key is not None for t in tables for f in t.live_files())
    assert spark.conf.get("spark.sql.parquet.outputTimestampType") == before
