#!/usr/bin/env python
"""Profile registry queries one at a time in a warm session: wall seconds
(noop sink), Spark job count, stage count, task count, and shuffle bytes
per query — the per-operator measurement §1 of the optimization guide asks
for before touching anything.

Usage: python scripts/profile_queries.py out.json [name,name,...] [--passes=N]

Defaults to the bench=True headline set. Each query is warmed once at
sf0.001 (plan/codegen warmup, same as bench.py) and then timed --passes
times at $SPARK_GRAFT_SF_DIR (default sf0.1); per-query min is reported.
Every build + action of every pass runs under its own job group
(``profile:<name>:<pass>``), so the eager actions inside ``build()`` count
against their query. The job, stage, task and shuffle-byte counts are
those of the LAST pass; stages count only the ones that ran (a stage whose
shuffle output is reused is skipped, not counted). The last line totals
seconds and jobs over every profiled query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _group_stats(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran, their tasks and shuffle bytes, for one job group."""
    from py4j.protocol import Py4JJavaError

    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_bytes": 0}
    for job in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job)
        for sid in info.stageIds if info else ():
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
    return out


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/profile_queries.json"
    names_arg = sys.argv[2] if len(sys.argv) > 2 and not sys.argv[2].startswith("--") else ""
    passes = 2
    for a in sys.argv[2:]:
        if a.startswith("--passes="):
            passes = int(a.split("=", 1)[1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    smoke = os.path.join(os.path.dirname(sf_dir.rstrip("/")) or "/root/testdata", "sf0.001")

    from dibimbing_case_study_etl_spark.queries import load_all
    from dibimbing_case_study_etl_spark.session import get_spark

    registry = load_all()
    names = (
        [n for n in names_arg.split(",") if n]
        if names_arg
        else sorted(n for n, s in registry.items() if s.bench)
    )

    spark = get_spark(app_name="profile-queries")
    sc = spark.sparkContext
    results: dict[str, dict] = {}
    for name in names:
        spec = registry[name]
        sc.setJobGroup(f"warmup:{name}", f"warmup:{name}")
        if os.path.isdir(smoke):
            try:
                spec.build(spark, smoke).write.mode("overwrite").format("noop").save()
            except Exception as exc:  # noqa: BLE001
                results[name] = {"error": f"warmup: {type(exc).__name__}: {exc}"}
                print(json.dumps({"q": name, **results[name]}), flush=True)
                continue
        samples = []
        for p in range(passes):
            group = f"profile:{name}:{p}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            try:
                spec.build(spark, sf_dir).write.mode("overwrite").format("noop").save()
            except Exception as exc:  # noqa: BLE001
                results[name] = {"error": f"{type(exc).__name__}: {exc}"}
                break
            samples.append(round(time.perf_counter() - t0, 3))
        else:
            results[name] = {"sec": min(samples), "samples": samples, **_group_stats(sc, group)}
        print(json.dumps({"q": name, **results[name]}), flush=True)
    sc.setLocalProperty("spark.jobGroup.id", None)
    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=1, sort_keys=True)
    ok = [r for r in results.values() if "sec" in r]
    print(
        json.dumps(
            {
                "total_sec": round(sum(r["sec"] for r in ok), 3),
                "total_jobs": sum(r["jobs"] for r in ok),
                "total_tasks": sum(r["tasks"] for r in ok),
                "n": len(results),
                "errors": len(results) - len(ok),
            }
        )
    )


if __name__ == "__main__":
    main()
