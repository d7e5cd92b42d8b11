"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout: it imports the package from there and
keeps every file it writes under ``.perfbench_run/`` (deleted at exit) and
``.perfbench_out/`` (spans and the report of the last run of each
workload). ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
wraps the layers in spans and prints the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "dibimbing_case_study_etl_spark"

# A Spark job that deadlocks never returns. A run still going after this
# many seconds is ended: the JVM is killed and the operation in flight
# counts as failed.
DEADLINE_S = 150


def emit(run, args, out_dir: str, metrics: dict, hung: bool = False) -> None:
    """Write the report and span files and print the two result lines."""
    tag = f"{args.workload}-trace{args.trace}"
    if args.trace and not hung:
        run.tracer.dump(os.path.join(out_dir, f"spans-{tag}.jsonl"))
    rounds = run.setup_rounds
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "setup_rounds_s": rounds,
        # change of the last warm set-up round against the one before it
        "warmup_drift": rounds[-1] / rounds[-2] - 1 if len(rounds) > 1 else None,
        "op_walls_s": run.op_walls,
        "canary_s": run.canaries,
        "failed_frac": run.failed / run.attempted,
        "problems": run.problems,
        **run.report,
    }
    with open(os.path.join(out_dir, f"report-{tag}.json"), "w", encoding="utf-8") as f:
        json.dump(report, f, indent=1, default=str)
    print(json.dumps({"report": report}, default=str))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("headline", "medallion"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(work, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # Queries that stage files through tempfile, the JVM and the Python
    # workers all write under the run's own directory.
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")  # else it beats spark.local.dir
    tempfile.tempdir = work
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    sys.path.insert(0, ROOT)

    from harness import Tracer, kill_jvm, stop_spark
    from workloads import WORKLOADS, Run

    run = Run(workdir=work, seed=args.seed, seconds=args.seconds, tracer=Tracer(bool(args.trace)))
    lock = threading.Lock()
    ending: list[str] = []  # the thread that ends the run, once one has

    def take_over() -> bool:
        with lock:
            if ending:
                return False
            ending.append(threading.current_thread().name)
            return True

    def on_deadline() -> None:
        if not take_over():
            return
        run.failed += 1
        run.attempted = max(run.attempted, run.failed)
        run.problems.append(f"an operation was still running after {DEADLINE_S} s; the JVM was killed")
        kill_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            metrics = {} if args.trace else run.end_to_end()
        except Exception:  # noqa: BLE001 - the run ended before any operation
            metrics = {}
        emit(run, args, out_dir, metrics, hung=True)
        os._exit(0)

    timer = threading.Timer(DEADLINE_S, on_deadline)
    timer.daemon = True
    timer.start()
    try:
        WORKLOADS[args.workload](run)
        metrics = run.layer if args.trace else run.end_to_end()
    finally:
        if not take_over():
            threading.Event().wait()  # the deadline thread ends the process
        timer.cancel()
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    emit(run, args, out_dir, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
