"""File-format round-trips, JDBC upsert SQL generation, catalog DDL."""

from __future__ import annotations

from pyspark.sql import functions as F

from dibimbing_case_study_etl_spark.config import PipelineConfig, StorageConfig
from dibimbing_case_study_etl_spark.pipeline.weather import read_l2, run_pipeline
from dibimbing_case_study_etl_spark.schemas import WEATHER_SCHEMA
from dibimbing_case_study_etl_spark.sources.files import (
    read_csv,
    read_orc,
    read_parquet,
    write_table,
)
from dibimbing_case_study_etl_spark.sources.jdbc import upsert_sql
from dibimbing_case_study_etl_spark.warehouse import register_warehouse
from tests.test_weather_pipeline import payload


def _l2_df(spark, tmp_path):
    cfg = PipelineConfig(storage=StorageConfig(base_dir=str(tmp_path)))
    run_pipeline(spark, cfg, ds="2025-10-16", payload=payload(24))
    return cfg, read_l2(spark, cfg).select(*[f.name for f in WEATHER_SCHEMA.fields])


def test_format_round_trips(spark, tmp_path):
    _, df = _l2_df(spark, tmp_path)
    rows = {r.ts for r in df.collect()}

    orc_path = str(tmp_path / "as_orc")
    write_table(df, orc_path, fmt="orc")
    assert {r.ts for r in read_orc(spark, orc_path).collect()} == rows

    csv_path = str(tmp_path / "as_csv")
    write_table(df, csv_path, fmt="csv", compression="none")
    back = read_csv(spark, csv_path, WEATHER_SCHEMA, header=False)
    assert {r.ts for r in back.collect()} == rows

    pq_path = str(tmp_path / "as_parquet")
    write_table(df, pq_path, fmt="parquet", partition_by=("date",))
    assert read_parquet(spark, pq_path).count() == len(rows)


def test_upsert_sql_reference_parity():
    sql = upsert_sql(
        "weather.l1_weather_hourly",
        ["ts", "date", "hour", "latitude", "longitude", "timezone", "temperature_c", "load_ds", "source"],
        keys=["ts", "latitude", "longitude", "source"],
        update_cols=["temperature_c", "timezone", "load_ds"],
    )
    assert "ON CONFLICT (ts, latitude, longitude, source) DO UPDATE SET" in sql
    assert "temperature_c = EXCLUDED.temperature_c" in sql
    assert "date = EXCLUDED.date" not in sql  # L1 never updates date/hour


def test_warehouse_catalog_tables(spark, tmp_path):
    cfg, _ = _l2_df(spark, tmp_path)
    register_warehouse(spark, cfg)
    out = spark.sql(
        "SELECT COUNT(*) AS n FROM l2_weather_hourly WHERE date = DATE'2025-10-16'"
    ).first()
    assert out.n == 24
    assert spark.table("l1_weather_hourly").count() == 24
    spark.catalog.dropTempView("l1_weather_hourly")
    spark.catalog.dropTempView("l2_weather_hourly")


def test_warehouse_views_return_each_key_once(spark, tmp_path):
    """Over a two-day history the second day replaced files the first
    wrote; the registered names still return each primary key once."""
    cfg = PipelineConfig(storage=StorageConfig(base_dir=str(tmp_path)))
    run_pipeline(spark, cfg, ds="2025-10-16", payload=payload(24, temps=[1.0] * 24))
    run_pipeline(spark, cfg, ds="2025-10-17", payload=payload(24, temps=[2.0] * 24))
    register_warehouse(spark, cfg)
    try:
        for name in ("l1_weather_hourly", "l2_weather_hourly"):
            t = spark.table(name)
            assert t.count() == t.select("ts", "latitude", "longitude", "source").distinct().count() == 24
            assert {r.temperature_c for r in t.collect()} == {2.0}
    finally:
        spark.catalog.dropTempView("l1_weather_hourly")
        spark.catalog.dropTempView("l2_weather_hourly")


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """Fact-fact join on co-bucketed tables: neither side shuffles (no
    Exchange in the join subtree) and neither side re-sorts, and the result
    is identical to the plain shuffled join."""
    import contextlib
    import io

    from dibimbing_case_study_etl_spark.catalog import load_table
    from dibimbing_case_study_etl_spark.warehouse import create_bucketed_table

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    create_bucketed_table(
        orders, "bkt_orders", ("o_orderkey",), num_buckets=8, sort_cols=("o_orderkey",)
    )
    create_bucketed_table(
        lineitem, "bkt_lineitem", ("l_orderkey",), num_buckets=8, sort_cols=("l_orderkey",)
    )
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # tiny test tables would broadcast; disable so the plan shows the
        # co-located sort-merge join a fact-fact join would use at scale
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (
            spark.table("bkt_orders")
            .join(
                spark.table("bkt_lineitem"),
                spark.table("bkt_orders").o_orderkey
                == spark.table("bkt_lineitem").l_orderkey,
            )
            .select("o_orderkey", "l_linenumber", "l_quantity")
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "co-bucketed join must not shuffle"

        plain = (
            orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
            .select("o_orderkey", "l_linenumber", "l_quantity")
        )
        assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, plain.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_lineitem")


def test_open_meteo_python_datasource(spark, tmp_path):
    """Custom Python DataSource: a 3-day range reads as 3 input partitions
    (one task per day), rows land in the raw schema with the ds column."""
    from dibimbing_case_study_etl_spark.pipeline.weather import extract_to_raw
    from dibimbing_case_study_etl_spark.sources.api_source import (
        register_open_meteo_source,
    )
    from tests.test_weather_pipeline import payload

    raw_dir = str(tmp_path / "raw")
    days = ["2025-10-16", "2025-10-17", "2025-10-18"]
    for i, ds in enumerate(days):
        extract_to_raw(payload(24, start=f"{ds}T00:00", temps=[15.0 + i] * 24), raw_dir, ds)

    register_open_meteo_source(spark)
    df = (
        spark.read.format("open_meteo")
        .option("path", raw_dir)
        .option("start_ds", days[0])
        .option("end_ds", days[-1])
        .load()
    )
    assert df.rdd.getNumPartitions() == 3
    rows = {r.ds: r for r in df.collect()}
    assert set(rows) == set(days)
    assert rows["2025-10-17"].hourly.temperature_2m[0] == 16.0
    assert rows["2025-10-16"].timezone == "Asia/Jakarta"
    assert len(rows["2025-10-18"].hourly.time) == 24


def test_compact_small_files(spark, sf_dir, tmp_path):
    """Compaction collapses a fragmented partitioned layout to ~1 file per
    leaf without changing a single row, and a second run is a no-op."""
    from pyspark.sql import functions as F

    from dibimbing_case_study_etl_spark.catalog import load_table
    from dibimbing_case_study_etl_spark.operators.maintenance import compact_path

    path = str(tmp_path / "fragmented")
    events = load_table(spark, sf_dir, "events").withColumn("date", F.to_date("ts"))
    # 16 files per date partition — the post-incremental-merge pathology
    events.repartition(16).write.mode("overwrite").partitionBy("date").parquet(path)
    before = spark.read.parquet(path)
    n_rows = before.count()
    checksum = before.agg(F.sum("event_id")).first()[0]

    results = compact_path(spark, path, target_file_bytes=128 << 20)
    assert results, "fragmented leaves should have been rewritten"
    assert all(b > a for b, a in results.values())
    assert all(a == 1 for _b, a in results.values())  # tiny leaves -> 1 file

    after = spark.read.parquet(path)
    assert after.count() == n_rows
    assert after.agg(F.sum("event_id")).first()[0] == checksum

    assert compact_path(spark, path, target_file_bytes=128 << 20) == {}


def test_open_meteo_datasource_write_read_roundtrip(spark, tmp_path):
    """The writer half lands rows back into the raw layout; reading the
    written zone returns the original rows."""
    from dibimbing_case_study_etl_spark.pipeline.weather import extract_to_raw
    from dibimbing_case_study_etl_spark.sources.api_source import (
        register_open_meteo_source,
    )
    from tests.test_weather_pipeline import payload

    src_dir = str(tmp_path / "src_zone")
    days = ["2025-10-16", "2025-10-17"]
    for ds in days:
        extract_to_raw(payload(24, start=f"{ds}T00:00"), src_dir, ds)

    register_open_meteo_source(spark)
    df = (
        spark.read.format("open_meteo")
        .option("path", src_dir)
        .option("start_ds", days[0])
        .option("end_ds", days[-1])
        .load()
    )
    dst_dir = str(tmp_path / "dst_zone")
    df.write.format("open_meteo").option("path", dst_dir).mode("append").save()

    back = (
        spark.read.format("open_meteo")
        .option("path", dst_dir)
        .option("start_ds", days[0])
        .option("end_ds", days[-1])
        .load()
    )
    a = {(r.ds, tuple(r.hourly.time), tuple(r.hourly.temperature_2m)) for r in df.collect()}
    b = {(r.ds, tuple(r.hourly.time), tuple(r.hourly.temperature_2m)) for r in back.collect()}
    assert a == b and len(a) == 2


def test_compact_unpartitioned_root(spark, tmp_path):
    """Compaction also handles a flat (unpartitioned) layout, where the
    dataset root itself is the rewrite target."""
    from pyspark.sql import functions as F

    from dibimbing_case_study_etl_spark.operators.maintenance import compact_path

    path = str(tmp_path / "flat")
    spark.range(10_000).repartition(12).write.mode("overwrite").parquet(path)
    before = spark.read.parquet(path).agg(F.sum("id")).first()[0]

    results = compact_path(spark, path, target_file_bytes=128 << 20)
    assert list(results) == [path] and results[path][1] == 1
    assert spark.read.parquet(path).agg(F.sum("id")).first()[0] == before


def test_compact_recovers_crashed_run(spark, tmp_path):
    """Work dirs left by a crashed compaction (*__compact_tmp/*__compact_old)
    are never treated as partition leaves, a leaf missing after the first
    swap rename is restored from its __compact_old twin, and stale work
    dirs are cleaned — so a re-run sees exactly the original rows."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from dibimbing_case_study_etl_spark.catalog import load_table
    from dibimbing_case_study_etl_spark.operators.maintenance import compact_path

    path = str(tmp_path / "crashed")
    events = load_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "date", F.to_date("ts")
    )
    events.repartition(8).write.mode("overwrite").partitionBy("date").parquet(path)
    n_rows = spark.read.parquet(path).count()
    checksum = spark.read.parquet(path).agg(F.sum("event_id")).first()[0]

    leaves = sorted(
        os.path.join(path, d) for d in os.listdir(path) if d.startswith("date=")
    )
    # crash mode 1: tmp written, swap never started (stale duplicate copy)
    shutil.copytree(leaves[0], leaves[0] + "__compact_tmp")
    # crash mode 2: crash BETWEEN the two renames — leaf is absent
    os.rename(leaves[1], leaves[1] + "__compact_old")
    # crash mode 3: stale old dir next to a live leaf (crash after rename 2)
    shutil.copytree(leaves[2], leaves[2] + "__compact_old")

    results = compact_path(spark, path, target_file_bytes=128 << 20)
    assert results, "fragmented leaves should still compact after recovery"
    assert not [
        d for d in os.listdir(path) if "__compact_tmp" in d or "__compact_old" in d
    ]
    after = spark.read.parquet(path)
    assert after.count() == n_rows
    assert after.agg(F.sum("event_id")).first()[0] == checksum


def test_prepare_upsert_batches_dedups_and_partitions(spark):
    """ON CONFLICT batches must not contain duplicate PKs (Postgres raises
    'cannot affect row a second time') and each key must be owned by one
    partition (no cross-transaction deadlocks)."""
    from pyspark.sql import functions as F

    from dibimbing_case_study_etl_spark.sources.jdbc import prepare_upsert_batches

    df = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "c", 30), (2, "d", 5), (3, "e", 1)],
        "pk int, val string, seq int",
    )
    shaped = prepare_upsert_batches(df, keys=["pk"], order_by=[F.desc("seq")])
    rows = {r.pk: r for r in shaped.collect()}
    assert len(rows) == 3  # one row per key
    assert rows[1].val == "b" and rows[2].val == "c"  # first under order_by wins

    # every key lives in exactly one partition
    key_parts = (
        shaped.rdd.mapPartitionsWithIndex(
            lambda i, it: [(row.pk, i) for row in it]
        ).groupByKey().mapValues(lambda v: len(set(v))).collect()
    )
    assert all(n == 1 for _k, n in key_parts)


def test_zorder_clusters_files_for_multi_dim_skipping(spark, tmp_path):
    """After a Z-order rewrite on (user_id, value), each file's min/max
    footer range must cover a small slice of BOTH dimensions (so filters
    on either column can skip most files); a hash-scattered layout covers
    ~the full range in every file. Row content must be unchanged."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from dibimbing_case_study_etl_spark.catalog import load_table
    from dibimbing_case_study_etl_spark.operators.maintenance import zorder_path

    path = str(tmp_path / "zorder")
    events = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "value"
    )
    events.repartition(8).write.mode("overwrite").parquet(path)  # scattered
    n_rows = spark.read.parquet(path).count()
    checksum = spark.read.parquet(path).agg(F.sum("event_id")).first()[0]

    def avg_span(col):
        spans, glo_min, glo_max = [], None, None
        for f in glob.glob(path + "/*.parquet"):
            md = pq.read_metadata(f)
            names = {md.schema.column(j).name: j for j in range(md.num_columns)}
            stats = [
                md.row_group(i).column(names[col]).statistics
                for i in range(md.num_row_groups)
            ]
            mn = min(s.min for s in stats)
            mx = max(s.max for s in stats)
            spans.append((mn, mx))
            glo_min = mn if glo_min is None else min(glo_min, mn)
            glo_max = mx if glo_max is None else max(glo_max, mx)
        width = (glo_max - glo_min) or 1
        return sum((mx - mn) / width for mn, mx in spans) / len(spans)

    before_u, before_v = avg_span("user_id"), avg_span("value")
    n_files = zorder_path(spark, path, ["user_id", "value"], n_files=8)
    after_u, after_v = avg_span("user_id"), avg_span("value")

    assert n_files >= 4
    assert spark.read.parquet(path).count() == n_rows
    assert spark.read.parquet(path).agg(F.sum("event_id")).first()[0] == checksum
    # scattered files each cover ~the full range; clustered files cover a
    # slice of BOTH dimensions (measured ~0.41/0.35 vs 1.0/0.78 scattered)
    assert before_u > 0.9 and before_v > 0.7
    assert after_u < 0.6 and after_v < 0.6


def test_rollup_merge_order_invariant_and_incremental_equals_full(spark, tmp_path):
    """Partial-aggregate algebra: merging batches in ANY order must yield
    bit-identical state, and N incremental merges must equal the one-shot
    aggregate over the union."""
    from pyspark.sql import functions as F

    from dibimbing_case_study_etl_spark.catalog import load_table
    from dibimbing_case_study_etl_spark.operators.rollup import (
        merge_rollup,
        read_rollup,
        rollup_partials,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    batches = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]

    def run(order, path):
        for i in order:
            merge_rollup(spark, path, batches[i], "day", ["event_type"], "value")
        return {
            (r.day, r.event_type): (r.n_events, r.sum_value, r.min_value, r.max_value)
            for r in read_rollup(spark, path, "day", ["event_type"]).collect()
        }

    fwd = run([0, 1, 2], str(tmp_path / "a"))
    rev = run([2, 0, 1], str(tmp_path / "b"))
    assert fwd == rev

    full = {
        (r.day, r.event_type): (r.n, r.sum_c / 100.0, r.min_v, r.max_v)
        for r in rollup_partials(ev, "day", ["event_type"], "value").collect()
    }
    assert fwd == full


def test_retention_sweep_drops_only_expired_partitions(spark, tmp_path):
    from pyspark.sql import functions as F

    from dibimbing_case_study_etl_spark.catalog import load_table
    from dibimbing_case_study_etl_spark.operators.maintenance import retention_sweep

    path = str(tmp_path / "events_by_day")
    ev = load_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    ev.write.mode("overwrite").partitionBy("day").parquet(path)
    days = sorted(
        e.name.split("=")[1] for e in __import__("os").scandir(path) if e.name.startswith("day=")
    )
    cutoff = days[2]
    audit = retention_sweep(path, "day", cutoff, dry_run=True)
    assert audit == days[:2]
    assert sorted(
        e.name.split("=")[1] for e in __import__("os").scandir(path) if e.name.startswith("day=")
    ) == days  # dry run deleted nothing
    dropped = retention_sweep(path, "day", cutoff)
    assert dropped == days[:2]
    left = {
        r.day
        for r in spark.read.parquet(path)
        .select(F.col("day").cast("string").alias("day"))
        .distinct()
        .collect()
    }
    assert left == set(days[2:])
    n = spark.read.parquet(path).count()
    assert n == ev.filter(F.col("day") >= cutoff).count()


def test_forget_keys_rewrites_only_affected_partitions(spark, tmp_path):
    """GDPR keyed delete: matching rows disappear, untouched partitions
    stay byte-identical on disk, and a fully-forgotten partition's leaf
    directory is removed (dynamic overwrite alone would silently keep it)."""
    import os

    from pyspark.sql import functions as F

    from dibimbing_case_study_etl_spark.operators.maintenance import forget_keys

    path = str(tmp_path / "tbl")
    rows = [(uid, ds, float(uid)) for ds in ("d1", "d2", "d3") for uid in range(10)]
    df = spark.createDataFrame(rows, "user_id int, load_ds string, v double")
    df.write.partitionBy("load_ds").parquet(path)

    def leaf_bytes(part):
        d = os.path.join(path, f"load_ds={part}")
        return {
            f: open(os.path.join(d, f), "rb").read()
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet")
        }

    before_d3 = leaf_bytes("d3")

    keys = spark.createDataFrame([(3,), (7,)], "user_id int")
    # audit first: dry_run reports, changes nothing
    audit = forget_keys(spark, path, "load_ds", keys, ["user_id"], dry_run=True)
    assert audit["n_deleted"] == 6 and audit["partitions"] == ["d1", "d2", "d3"]
    assert spark.read.parquet(path).count() == 30

    res = forget_keys(spark, path, "load_ds", keys, ["user_id"])
    assert res["n_deleted"] == 6 and res["n_kept"] == 24
    out = spark.read.parquet(path)
    assert out.count() == 24
    assert out.filter(F.col("user_id").isin(3, 7)).count() == 0

    # a no-match pass must leave every partition byte-identical
    keys2 = spark.createDataFrame([(999,), (998,)], "user_id int")
    before_all = {p: leaf_bytes(p) for p in ("d1", "d2", "d3")}
    res2 = forget_keys(spark, path, "load_ds", keys2, ["user_id"])
    assert res2["n_deleted"] == 0 and res2["partitions"] == []
    assert {p: leaf_bytes(p) for p in ("d1", "d2", "d3")} == before_all

    # a partition whose EVERY row is forgotten must vanish (dynamic
    # overwrite alone writes no rows for it and would keep the old files)
    spark.createDataFrame([(500, "dX", 0.0)], "user_id int, load_ds string, v double").write.mode(
        "append"
    ).partitionBy("load_ds").parquet(path)
    res3 = forget_keys(
        spark, path, "load_ds", spark.createDataFrame([(500,)], "user_id int"), ["user_id"]
    )
    assert res3["partitions"] == ["dX"] and res3["n_deleted"] == 1
    assert not os.path.isdir(os.path.join(path, "load_ds=dX"))
    assert spark.read.parquet(path).filter(F.col("user_id") == 500).count() == 0
    # and the surviving partitions again unchanged by the dX-only pass
    assert {p: leaf_bytes(p) for p in ("d1", "d2", "d3")} == before_all


def test_forget_keys_removes_hive_escaped_emptied_leaves(spark, tmp_path):
    """A fully-forgotten partition whose value Spark Hive-escapes on disk
    (colon → %3A) must still have its leaf removed — matching must go
    through directory-name decoding, not naive path formatting."""
    import os

    from dibimbing_case_study_etl_spark.operators.maintenance import forget_keys

    path = str(tmp_path / "tbl")
    rows = [(1, "2024:01", 1.0), (2, "2024:01", 2.0), (3, "plain", 3.0)]
    spark.createDataFrame(rows, "user_id int, load_ds string, v double").write.partitionBy(
        "load_ds"
    ).parquet(path)
    # precondition: the escaped leaf is what's actually on disk
    assert os.path.isdir(os.path.join(path, "load_ds=2024%3A01"))

    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    keys = spark.createDataFrame([(1,), (2,)], "user_id int")
    res = forget_keys(spark, path, "load_ds", keys, ["user_id"])
    assert res["n_deleted"] == 2 and res["partitions"] == ["2024:01"]
    assert not os.path.isdir(os.path.join(path, "load_ds=2024%3A01"))
    assert spark.read.parquet(path).count() == 1
    # session conf restored exactly — including back to "unset"
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode", None) == prev_mode


def test_schema_evolution_merge_read(spark, tmp_path):
    """Schema evolution on the parquet warehouse: a later load adds a
    column; mergeSchema reads the union with NULL backfill for old rows,
    and the narrow (pre-evolution) read of old columns is unaffected —
    the append-new-columns contract a long-lived L1 table needs."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "evolving")
    v1 = spark.createDataFrame(
        [(1, "jakarta", 29.0), (2, "bandung", 24.0)], "id long, city string, temp double"
    )
    v1.write.mode("overwrite").parquet(path)
    v2 = spark.createDataFrame(
        [(3, "surabaya", 31.0, 78.0)], "id long, city string, temp double, humidity double"
    )
    v2.write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "city", "temp", "humidity"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].humidity is None and rows[3].humidity == 78.0
    # old-column projection still reads every row
    assert spark.read.parquet(path).select("id", "temp").count() == 3
