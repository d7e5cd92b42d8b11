"""The two workloads. Each runs as a closed loop with one client: the next
operation starts when the previous one has returned.

A run has three phases:

1. set-up, repeated ``SETUP_ROUNDS`` times: (re)start the Spark
   session and run the warm-up work: a pass over the queries
   (``headline``) or more days of pipeline history (``medallion``). The
   first round also launches the JVM; ``setup_s`` is the median of the
   warm rounds after it.
2. the timed loop, for at least ``seconds`` of operation time.
3. output checks and, in a traced run, the counter harvest. Nothing here
   is timed.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass, field

from checks import compare_daily_means, compare_l2
from harness import SparkProbe, Tracer, canary, peak_rss_mb, start_spark
from meteo import MedallionModel, MeteoGenerator, daily_mean_model, ds_for_day

HERE = os.path.dirname(os.path.abspath(__file__))

# Round 0 launches the JVM and is the cold one; ``setup_s`` is the median
# of the warm rounds after it.
SETUP_ROUNDS = 3
MIN_OPS = 3

# The headline subset: the query with the most Spark jobs in each of the
# four families, taken from the job ledger in ROADMAP.md (item 2; sf0.1,
# local[4], one warm pass). All four are also on that ledger's list of
# queries that spend more than half their wall time inside ``build()``.
# Query -> jobs the ledger recorded.
LEDGER_JOBS = {
    "g03_supply_chain_reach": 17,
    "t45_batch_padding_efficiency": 14,
    "q79_funnel_conversion": 11,
    "d03_dedup_minhash_lsh": 9,
}
LEDGER_BUILD_SHARE = 0.52  # share of suite wall inside build(), all 31 headliners
HEADLINE = tuple(LEDGER_JOBS)
# Registry name prefix -> family, so moving queries between modules cannot
# regroup them.
FAMILIES = {
    "q": "relational",
    "d": "dedup",
    "r": "text_vector",
    "s": "text_vector",
    "t": "text_vector",
    "g": "analytics",
    "u": "analytics",
    "v": "analytics",
    "x": "analytics",
}
# A byte copy of the shared seed-42 test tables at sf0.01 (TESTDATA.md).
HEADLINE_DATA = os.path.join(HERE, "data", "sf0.01")

MEDALLION_LOCATIONS = 200


@dataclass
class Run:
    workdir: str
    seed: int
    seconds: float
    tracer: Tracer
    spark: object = None
    probe: SparkProbe | None = None
    setup_rounds: list[float] = field(default_factory=list)
    op_walls: list[float] = field(default_factory=list)
    canaries: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    report: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def restart(self) -> None:
        if self.spark is not None:
            self.spark.stop()
        self.spark = start_spark(self.workdir)
        self.probe = SparkProbe(self.spark)

    def canary(self) -> float:
        """Time the fixed-work canary outside every job group and span."""
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        enabled, self.tracer.enabled = self.tracer.enabled, False
        try:
            return canary(self.spark)
        finally:
            self.tracer.enabled = enabled

    def fail(self, what: str, problems: list[str], count: int = 1) -> None:
        self.failed += count
        self.problems.append(f"{what}: {problems[:3]}")

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        return {
            "op_p50_s": (statistics.median(self.op_walls), "s"),
            "setup_s": (statistics.median(self.setup_rounds[1:]), "s"),
        }


class Counters:
    """Per-operation deltas of the JVM-wide counters plus the per-group
    Spark stats, gathered only in a traced run."""

    def __init__(self, run: Run):
        self.run = run
        self.totals: dict[str, float] = {}
        self._before: dict[str, float] = {}

    def begin(self) -> None:
        if self.run.traced:
            self._before = self.run.probe.globals()

    def end(self) -> None:
        if self.run.traced:
            after = self.run.probe.globals()
            for k, v in after.items():
                self.totals[k] = self.totals.get(k, 0.0) + v - self._before[k]

    def harvest(self, groups: list[str]) -> dict[str, float]:
        self.run.probe.drain()
        return self.run.probe.stats(groups)


def _span_totals(tracer: Tracer) -> tuple[dict[str, float], dict[str, float]]:
    """Inclusive and self seconds per span name."""
    incl: dict[str, float] = {}
    self_: dict[str, float] = {}
    for s, st in zip(tracer.spans, tracer.self_times()):
        incl[s["name"]] = incl.get(s["name"], 0.0) + s["end"] - s["start"]
        self_[s["name"]] = self_.get(s["name"], 0.0) + st
    return incl, self_


def _layer_common(run: Run, counters: Counters, stats: dict[str, float], n_ops: int, wall: float) -> None:
    """Per-layer metrics every workload reports, as means per operation."""
    cores = run.spark.sparkContext.defaultParallelism
    incl, _ = _span_totals(run.tracer)
    spark_s = sum(v for k, v in incl.items() if k.startswith("spark."))
    run.layer.update(
        {
            "spark.action_s": (spark_s / n_ops, "s"),
            "spark.jobs": (stats["jobs"] / n_ops, "count"),
            "spark.stages": (stats["stages"] / n_ops, "count"),
            "spark.tasks": (stats["tasks"] / n_ops, "count"),
            "spark.executor_run_s": (stats["executor_run_s"] / n_ops, "s"),
            "spark.core_util": (stats["executor_run_s"] / (wall * cores), "ratio"),
            "spark.shuffle_bytes": (stats["shuffle_bytes"] / n_ops, "B"),
            "spark.spill_bytes": (stats["spill_bytes"] / n_ops, "B"),
            "spark.input_bytes": (stats["input_bytes"] / n_ops, "B"),
            "catalyst.rule_s": (counters.totals["rule_s"] / n_ops, "s"),
            "codegen.compiles": (counters.totals["compiles"] / n_ops, "count"),
            "codegen.compile_s": (counters.totals["compile_s"] / n_ops, "s"),
            "arrow.python_worker_pct": (100.0 * stats["python_worker_s"] / (wall * cores), "%"),
            "env.canary_s": (statistics.median(run.canaries), "s"),
            "mem.python_peak_rss_mb": (run.report["peak_rss_mb"]["python"], "MB"),
            "mem.jvm_peak_rss_mb": (run.report["peak_rss_mb"]["jvm"], "MB"),
        }
    )
    run.report["uncovered_share"] = _uncovered(run.tracer)


def _uncovered(tracer: Tracer) -> dict[str, float]:
    """Per root span name, the largest share of one root's duration that no
    layer span covers: the self time of the benchmark's own spans under
    that root (the root included) over the root's duration."""
    selfs = tracer.self_times()
    root_of: list[int] = []
    for i, s in enumerate(tracer.spans):
        root_of.append(i if s["parent"] is None else root_of[s["parent"]])
    bench_self: dict[int, float] = {}
    for i, s in enumerate(tracer.spans):
        if s["layer"] == "bench":
            bench_self[root_of[i]] = bench_self.get(root_of[i], 0.0) + selfs[i]
    out: dict[str, float] = {}
    for r, v in bench_self.items():
        root = tracer.spans[r]
        share = v / (root["end"] - root["start"])
        out[root["name"]] = max(out.get(root["name"], 0.0), share)
    return out


def _layer_zero(run: Run, names: dict[str, str]) -> None:
    run.layer.update({n: (0.0, unit) for n, unit in names.items()})


COMMON_LAYERS = {
    "spark.action_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.core_util": "ratio",
    "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.input_bytes": "B",
    "catalyst.rule_s": "s",
    "codegen.compiles": "count",
    "codegen.compile_s": "s",
    "arrow.python_worker_pct": "%",
    "env.canary_s": "s",
    "mem.python_peak_rss_mb": "MB",
    "mem.jvm_peak_rss_mb": "MB",
}
HEADLINE_LAYERS = {
    "queries.build_pct": "%",
    "queries.build_jobs": "count",
}
MEDALLION_LAYERS = {
    "pipeline.extract_pct": "%",
    "pipeline.normalize_pct": "%",
    "pipeline.load_l1_pct": "%",
    "pipeline.build_l2_pct": "%",
    "pipeline.asof_read_pct": "%",
    "pipeline.l2_scan_pct": "%",
    "pipeline.jobs_per_day": "count",
    "pipeline.asof_jobs": "count",
    "operators.merge_upsert_pct": "%",
    "operators.dedup_window_pct": "%",
    "operators.quality_pct": "%",
    "storage.bytes_written_per_day": "B",
    "storage.write_amp": "ratio",
    "storage.staging_files": "count",
    "storage.l2_files": "count",
    "storage.l2_bytes_per_row": "B",
}
LAYERS = {**COMMON_LAYERS, **HEADLINE_LAYERS, **MEDALLION_LAYERS}


# --------------------------------------------------------------------------
# headline


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def headline(run: Run) -> None:
    from dibimbing_case_study_etl_spark.queries import load_all
    from dibimbing_case_study_etl_spark.testing import compare_frames, run_oracle

    data = HEADLINE_DATA
    registry = None
    frames = {}
    checked: dict[str, list[str]] = {}
    for r in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        run.restart()
        registry = load_all()
        # The cold first round collects every answer for the oracle check;
        # the warm rounds run the timed loop's noop sink.
        for name in HEADLINE:
            try:
                df = registry[name].build(run.spark, data)
                if r == 0:
                    frames[name] = df.toPandas()
                else:
                    _noop(df)
            except Exception as exc:  # noqa: BLE001 - the timed loop counts it
                checked[name] = [repr(exc)]
        run.setup_rounds.append(time.perf_counter() - t0)
    # each query once against the DuckDB oracle on the same files
    for name, pdf in frames.items():
        try:
            checked[name] = compare_frames(pdf, run_oracle(registry[name].oracle, data))
        except Exception as exc:  # noqa: BLE001 - an oracle error fails the query
            checked[name] = [f"oracle: {exc!r}"]

    tracer, probe = run.tracer, run.probe
    counters = Counters(run)
    rng = random.Random(run.seed)
    per_query: dict[str, list[float]] = {n: [] for n in HEADLINE}
    build_q: dict[str, float] = dict.fromkeys(HEADLINE, 0.0)
    groups_build: list[str] = []
    groups_all: list[str] = []
    errors: dict[str, int] = {}
    with tracer.spark_calls(run.spark):
        while sum(run.op_walls) < run.seconds or len(run.op_walls) < MIN_OPS:
            order = list(HEADLINE)
            rng.shuffle(order)
            p = len(run.op_walls)
            tracer.op = f"pass{p}"
            counters.begin()
            t_pass = time.perf_counter()
            with tracer.span("headline.pass", "bench"):
                for name in order:
                    run.attempted += 1
                    t0 = time.perf_counter()
                    try:
                        with tracer.span(name, "bench"):
                            probe.tag(f"{tracer.op}:{name}:build")
                            with tracer.span("queries.build", "queries"):
                                df = registry[name].build(run.spark, data)
                            tb = time.perf_counter()
                            probe.tag(f"{tracer.op}:{name}:act")
                            _noop(df)
                    except Exception as exc:  # noqa: BLE001 - count and keep going
                        errors[name] = errors.get(name, 0) + 1
                        run.fail(name, [repr(exc)])
                        tb = t0
                    per_query[name].append(time.perf_counter() - t0)
                    build_q[name] += tb - t0
                    groups_build.append(f"{tracer.op}:{name}:build")
                    groups_all += [f"{tracer.op}:{name}:build", f"{tracer.op}:{name}:act"]
            run.op_walls.append(time.perf_counter() - t_pass)
            counters.end()
    run.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    timed = sum(run.op_walls)
    n_pass = len(run.op_walls)

    for name, problems in checked.items():
        if problems and name not in errors:
            run.fail(f"{name} vs oracle", problems, count=len(per_query[name]))

    fam: dict[str, float] = {}
    for name, ts in per_query.items():
        f = FAMILIES[name[0]]
        fam[f] = fam.get(f, 0.0) + sum(ts)
    tracker = run.spark.sparkContext.statusTracker()
    jobs = {
        name: sum(
            len(tracker.getJobIdsForGroup(f"pass{p}:{name}:{part}")) for p in range(n_pass) for part in ("build", "act")
        )
        / n_pass
        for name in HEADLINE
    }
    run.report.update(
        {
            "suite_s": statistics.median(run.op_walls),
            "passes": n_pass,
            **{f"{f}_s": v / n_pass for f, v in sorted(fam.items())},
            "build_share": sum(build_q.values()) / timed,
            "query_p50_s": {n: statistics.median(ts) for n, ts in per_query.items()},
            # Measured against the ROADMAP job ledger: its jobs per query, and
            # its finding that each of these spends over half its wall in
            # build() (52% over all 31 headliners).
            "vs_ledger": {
                "build_share_all31": LEDGER_BUILD_SHARE,
                **{
                    n: {
                        "jobs": jobs[n],
                        "ledger_jobs": LEDGER_JOBS[n],
                        "build_share": build_q[n] / sum(per_query[n]),
                    }
                    for n in HEADLINE
                },
            },
        }
    )
    run.report["peak_rss_mb"] = peak_rss_mb(probe.jvm_pid)
    if not run.traced:
        return
    run.canaries += [run.canary() for _ in range(3)]
    stats = counters.harvest(groups_all)
    build_stats = counters.harvest(groups_build)
    _layer_common(run, counters, stats, n_pass, timed)
    incl, _ = _span_totals(tracer)
    run.layer.update(
        {
            "queries.build_pct": (100.0 * incl.get("queries.build", 0.0) / timed, "%"),
            "queries.build_jobs": (build_stats["jobs"] / n_pass, "count"),
        }
    )
    _layer_zero(run, MEDALLION_LAYERS)


# --------------------------------------------------------------------------
# medallion


def _parquet_sizes(*roots: str) -> dict[str, int]:
    """Path -> size of every Parquet data file under ``roots``."""
    out: dict[str, int] = {}
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                if n.endswith(".parquet"):
                    out[os.path.join(d, n)] = os.path.getsize(os.path.join(d, n))
    return out


def medallion(run: Run) -> None:
    from pyspark.sql import functions as F

    from dibimbing_case_study_etl_spark.config import PipelineConfig, StorageConfig
    from dibimbing_case_study_etl_spark.pipeline import weather

    gen = MeteoGenerator(run.seed, MEDALLION_LOCATIONS)
    cfg = PipelineConfig(storage=StorageConfig(base_dir=os.path.join(run.workdir, "medallion")))
    day = 0
    for _ in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        run.restart()
        # Every round adds one day to one history: an insert, then merges.
        weather.run_pipeline(run.spark, cfg, ds_for_day(day), payload=gen.payload(day))
        day += 1
        run.setup_rounds.append(time.perf_counter() - t0)

    model = MedallionModel()
    snapshots = []
    for d in range(day):
        model.apply(gen.payload(d), ds_for_day(d))
        snapshots.append(dict(model.l2))

    tracer, probe = run.tracer, run.probe
    counters = Counters(run)
    rng = random.Random(run.seed)
    spark = run.spark
    day_s, asof_s, scan_s = [], [], []
    staged_rows = 0
    day_groups, asof_groups, all_groups = [], [], []
    written, staging_bytes = [], []
    stages = {
        "extract_to_raw": ("pipeline.extract", "pipeline"),
        "normalize_to_staging": ("pipeline.normalize", "pipeline"),
        "load_staging_to_l1": ("pipeline.load_l1", "pipeline"),
        "build_l2_for_ds": ("pipeline.build_l2", "pipeline"),
        "merge_upsert": ("operators.merge_upsert", "operators"),
        "latest_per_key": ("operators.dedup_window", "operators"),
        "expect": ("operators.quality", "operators"),
    }

    def scan_query():
        with tracer.span("pipeline.read_l2", "pipeline"):
            l2 = weather.read_l2(spark, cfg)
        return l2.groupBy("latitude", "longitude", "date").agg(
            F.avg("temperature_c").alias("mean_c"), F.count("temperature_c").alias("n")
        )

    with tracer.spark_calls(spark), tracer.patched(weather, stages):
        while sum(run.op_walls) < run.seconds or len(run.op_walls) < MIN_OPS:
            ds = ds_for_day(day)
            docs = gen.payload(day)
            tracer.op = f"cycle{day}"
            before = _parquet_sizes(cfg.storage.l1_path, cfg.storage.l2_path) if run.traced else {}
            counters.begin()
            cycle = 0.0

            # 1. one ingest day
            run.attempted += 1
            probe.tag(f"{tracer.op}:day")
            t0 = time.perf_counter()
            try:
                with tracer.span("medallion.day", "bench"):
                    weather.run_pipeline(spark, cfg, ds, payload=docs)
                ok = True
            except Exception as exc:  # noqa: BLE001
                run.fail(f"day {ds}", [repr(exc)])
                ok = False
            dt_day = time.perf_counter() - t0
            counters.end()
            day_s.append(dt_day)
            cycle += dt_day
            day_groups.append(f"{tracer.op}:day")
            model.apply(docs, ds)
            snapshots.append(dict(model.l2))
            staged_rows += sum(len(d["hourly"]["time"]) for d in docs)
            if run.traced and ok:
                after = _parquet_sizes(cfg.storage.l1_path, cfg.storage.l2_path)
                written.append(sum(s for p, s in after.items() if p not in before))
                staging_bytes.append(
                    sum(_parquet_sizes(weather.staging_path_for_ds(cfg.storage.staging_dir, ds)).values())
                )

            # 2. a point-in-time read at a seeded cutoff
            cutoff = rng.randint(0, day)
            run.attempted += 1
            probe.tag(f"{tracer.op}:asof")
            counters.begin()
            t0 = time.perf_counter()
            try:
                with tracer.span("medallion.asof", "bench"):
                    with tracer.span("pipeline.read_l2_asof", "pipeline"):
                        df = weather.read_l2_asof(spark, cfg, ds_for_day(cutoff))
                    pdf = df.toPandas()
            except Exception as exc:  # noqa: BLE001
                pdf = None
                run.fail(f"asof {cutoff}", [repr(exc)])
            dt_asof = time.perf_counter() - t0
            counters.end()
            asof_s.append(dt_asof)
            cycle += dt_asof
            asof_groups.append(f"{tracer.op}:asof")
            if pdf is not None:
                problems = compare_l2(pdf, snapshots[cutoff])
                if problems:
                    run.fail(f"asof {cutoff}", problems)

            # 3. the analyst aggregate over current L2
            run.attempted += 1
            probe.tag(f"{tracer.op}:scan")
            counters.begin()
            t0 = time.perf_counter()
            try:
                with tracer.span("medallion.scan", "bench"):
                    pdf = scan_query().toPandas()
            except Exception as exc:  # noqa: BLE001
                pdf = None
                run.fail("scan", [repr(exc)])
            dt_scan = time.perf_counter() - t0
            counters.end()
            scan_s.append(dt_scan)
            cycle += dt_scan
            if pdf is not None:
                problems = compare_daily_means(pdf, daily_mean_model(model.l2))
                if problems:
                    run.fail("scan", problems)

            all_groups += [f"{tracer.op}:day", f"{tracer.op}:asof", f"{tracer.op}:scan"]
            run.op_walls.append(cycle)
            day += 1
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    # final state of L2, in full
    run.attempted += 1
    try:
        problems = compare_l2(weather.read_l2(spark, cfg).toPandas(), model.l2)
    except Exception as exc:  # noqa: BLE001
        problems = [repr(exc)]
    if problems:
        run.fail("final L2", problems)

    timed = sum(run.op_walls)
    n = len(run.op_walls)
    run.report.update(
        {
            "cycles": n,
            "day_p50_s": statistics.median(day_s),
            "asof_p50_s": statistics.median(asof_s),
            "scan_p50_s": statistics.median(scan_s),
            "rows_per_s": staged_rows / sum(day_s),
            "history_days": day,
        }
    )
    run.report["peak_rss_mb"] = peak_rss_mb(probe.jvm_pid)
    if not run.traced:
        return
    run.canaries += [run.canary() for _ in range(3)]
    stats = counters.harvest(all_groups)
    day_stats = counters.harvest(day_groups)
    asof_stats = counters.harvest(asof_groups)
    _layer_common(run, counters, stats, n, timed)
    incl, self_ = _span_totals(tracer)
    l2_files = _parquet_sizes(cfg.storage.l2_path)
    staging_files = _parquet_sizes(cfg.storage.staging_dir)

    def pct(v: float) -> tuple[float, str]:
        return (100.0 * v / timed, "%")

    run.layer.update(
        {
            "pipeline.extract_pct": pct(incl.get("pipeline.extract", 0.0)),
            "pipeline.normalize_pct": pct(incl.get("pipeline.normalize", 0.0)),
            "pipeline.load_l1_pct": pct(incl.get("pipeline.load_l1", 0.0)),
            "pipeline.build_l2_pct": pct(incl.get("pipeline.build_l2", 0.0)),
            "pipeline.asof_read_pct": pct(sum(asof_s)),
            "pipeline.l2_scan_pct": pct(sum(scan_s)),
            "pipeline.jobs_per_day": (day_stats["jobs"] / n, "count"),
            "pipeline.asof_jobs": (asof_stats["jobs"] / n, "count"),
            "operators.merge_upsert_pct": pct(self_.get("operators.merge_upsert", 0.0)),
            "operators.dedup_window_pct": pct(self_.get("operators.dedup_window", 0.0)),
            "operators.quality_pct": pct(self_.get("operators.quality", 0.0)),
            "storage.bytes_written_per_day": (statistics.mean(written), "B"),
            "storage.write_amp": (sum(written) / sum(staging_bytes), "ratio"),
            "storage.staging_files": (float(len(staging_files)), "count"),
            "storage.l2_files": (float(len(l2_files)), "count"),
            "storage.l2_bytes_per_row": (sum(l2_files.values()) / len(model.l2), "B"),
        }
    )
    _layer_zero(run, HEADLINE_LAYERS)


WORKLOADS = {"headline": headline, "medallion": medallion}
