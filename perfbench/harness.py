"""Measurement plumbing shared by the workloads: the Spark session, spans,
Spark's own counters, memory high-water marks and the fixed-work canary.

Everything here observes the program from outside. Spans wrap calls into
the package's public functions (and, in a traced run, Spark's action,
writer and reader methods); counters are read from ``statusTracker()``, the app and SQL
status stores, ``CodegenMetrics``, ``CodeGenerator`` and Catalyst's
``RuleExecutor`` metering. Counters are read between operations, never
inside a timed region.
"""

from __future__ import annotations

import json
import os
import re
import signal
import subprocess
import time
from contextlib import contextmanager
from typing import Any, Callable

# --------------------------------------------------------------------------
# session


def start_spark(workdir: str):
    """The package's own session factory with its defaults (driver memory
    included: ``SPARK_GRAFT_DRIVER_MEM`` or the package's default). The
    benchmark adds only scratch paths kept inside ``workdir`` (the JVM's
    temp dir; no ``hsperfdata`` file, which would go to ``/tmp``) and
    status stores large enough to keep every job of a run."""
    from dibimbing_case_study_etl_spark.session import get_spark

    local = os.path.join(workdir, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={workdir} -XX:-UsePerfData",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def kill_jvm() -> None:
    """Kill the JVM this process launched, and every process under it (the
    Python workers), then wait until they have ended. For a JVM that no
    longer answers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if proc is None:
        return
    pids = _descendants(proc.pid)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.kill()
    proc.wait(timeout=30)
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and any(_running(p) for p in pids):
        time.sleep(0.1)


def _stat(pid: int | str) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _running(pid: int) -> bool:
    stat = _stat(pid)
    return stat is not None and stat[0] != "Z"


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        stat = _stat(d) if d.isdigit() else None
        if stat is not None:
            children.setdefault(int(stat[1]), []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


# --------------------------------------------------------------------------
# spans


class Tracer:
    """In-memory spans: name, layer, start, end, parent and operation id.

    Disabled tracers record nothing and install no wrappers, so the
    untraced run measures the program alone.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "layer": layer,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def in_layer(self, layer: str) -> bool:
        return bool(self._stack) and self.spans[self._stack[-1]]["layer"] == layer

    def wrap(self, fn: Callable, name: str, layer: str) -> Callable:
        def wrapped(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return wrapped

    @contextmanager
    def patched(self, module, names: dict[str, tuple[str, str]]):
        """Replace ``module.<attr>`` with a spanned wrapper for the duration;
        ``names`` maps attribute -> (span name, layer)."""
        if not self.enabled:
            yield
            return
        saved = {attr: getattr(module, attr) for attr in names}
        try:
            for attr, (name, layer) in names.items():
                setattr(module, attr, self.wrap(saved[attr], name, layer))
            yield
        finally:
            for attr, fn in saved.items():
                setattr(module, attr, fn)

    @contextmanager
    def spark_calls(self, spark):
        """Span every call into Spark that runs jobs or reads files, as
        layer ``spark``: DataFrame actions, writer calls and reader calls
        (which list files and read footers). Nested calls (``first`` ->
        ``head`` -> ``collect``) record once."""
        if not self.enabled:
            yield
            return
        from pyspark.sql import DataFrameReader, DataFrameWriter

        targets = {
            type(spark.range(0)): (
                "collect", "count", "first", "head", "take", "toPandas", "localCheckpoint",
                "checkpoint", "isEmpty", "foreach", "foreachPartition", "toLocalIterator",
            ),
            DataFrameWriter: ("save", "parquet", "json", "csv", "orc", "text", "saveAsTable", "insertInto"),
            DataFrameReader: ("load", "parquet", "json", "csv", "orc", "text", "table"),
        }
        saved = []
        tracer = self

        def make(fn, name):
            def call(*args, **kwargs):
                if tracer.in_layer("spark"):
                    return fn(*args, **kwargs)
                with tracer.span(name, "spark"):
                    return fn(*args, **kwargs)

            return call

        try:
            for cls, methods in targets.items():
                prefix = "spark.read." if cls is DataFrameReader else "spark."
                for m in methods:
                    fn = getattr(cls, m, None)
                    if fn is None:
                        continue
                    saved.append((cls, m, cls.__dict__.get(m)))
                    setattr(cls, m, make(fn, prefix + m))
            yield
        finally:
            for cls, m, own in saved:
                if own is None:
                    delattr(cls, m)
                else:
                    setattr(cls, m, own)

    def self_times(self) -> list[float]:
        """Each span's duration minus the part of it its children cover.
        Children of one span run one after another on one thread, so the
        covered part is the sum of their durations."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - c for s, c in zip(self.spans, child)]

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w", encoding="utf-8") as f:
            for i, (s, st) in enumerate(zip(self.spans, selfs)):
                f.write(json.dumps({"id": i, **s, "self": st}) + "\n")


# --------------------------------------------------------------------------
# Spark counters

_DURATION = re.compile(r"([0-9][0-9.,]*)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _formatted_seconds(text: str) -> float:
    """Total of a formatted SQL timing metric: ``"2.1 s"`` or
    ``"total (min, med, max ...)\\n9.4 s (2.2 s, ...)"``."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _DURATION.search(body)
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)] if m else 0.0


class SparkProbe:
    """Per-operation Spark counters read from outside the program.

    ``tag`` labels the jobs an operation runs with a job group; ``stats``
    reads those jobs' stages and tasks after the fact. ``globals`` reads
    the JVM-wide codegen and Catalyst counters, whose deltas around one
    operation belong to it because one client runs at a time.
    """

    PYTHON_TIME = "time to run Python workers"

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._ssc = self.sc._jsc.sc()
        jvm = spark._jvm
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._rules = jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._scala = jvm.scala.jdk.javaapi.CollectionConverters
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def tag(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def globals(self) -> dict[str, float]:
        return {
            "compiles": float(self._compiles.getCount()),
            "compile_s": self._codegen.compileTime() / 1e9,
            "rule_s": self._rules.getCurrentMetrics().time() / 1e9,
        }

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores hold the finished operation."""
        self._ssc.listenerBus().waitUntilEmpty()

    def stats(self, groups: list[str]) -> dict[str, float]:
        """Totals over every job of the given job groups."""
        from py4j.protocol import Py4JJavaError

        tracker = self.sc.statusTracker()
        store = self._ssc.statusStore()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_s", "shuffle_bytes", "spill_bytes", "input_bytes"), 0.0
        )
        job_ids = {j for g in groups for j in tracker.getJobIdsForGroup(g)}
        out["jobs"] = float(len(job_ids))
        for job in job_ids:
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
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["input_bytes"] += sd.inputBytes()
        out["python_worker_s"] = self._python_seconds(job_ids)
        return out

    def _python_seconds(self, job_ids: set[int]) -> float:
        """Python-worker run time of the SQL executions whose jobs belong
        to ``job_ids``."""
        total = 0.0
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            if not {int(j) for j in self._scala.asJava(e.jobs()).keys()} & job_ids:
                continue
            accs = []
            it = e.metrics().iterator()
            while it.hasNext():
                m = it.next()
                if m.name() == self.PYTHON_TIME:
                    accs.append(m.accumulatorId())
            if not accs:
                continue
            values = self._sql.executionMetrics(e.executionId())
            for acc in accs:
                v = values.get(acc)
                if v.isDefined():
                    total += _formatted_seconds(v.get())
        return total


# --------------------------------------------------------------------------
# memory and canary


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(jvm_pid: int) -> dict[str, float]:
    """High-water resident memory of this process and of its JVM child."""
    return {"python": _hwm_mb("self"), "jvm": _hwm_mb(jvm_pid)}


def canary(spark) -> float:
    """Seconds for a fixed, data-independent join/window/explode/aggregate
    pipeline that belongs to no workload: it moves with the host, not with
    the program."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    t0 = time.perf_counter()
    df = spark.range(200_000).select(
        "id", (F.col("id") % 97).alias("k"), (F.col("id") * 0.001).alias("v")
    )
    dim = spark.range(97).select(F.col("id").alias("k"), F.lit("x").alias("name"))
    (
        df.join(dim, "k")
        .withColumn("rn", F.row_number().over(W.partitionBy("k").orderBy("id")))
        .withColumn("arr", F.array("id", "k"))
        .select("*", F.explode("arr").alias("e"))
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
        .orderBy("s")
        .write.mode("overwrite")
        .format("noop")
        .save()
    )
    return time.perf_counter() - t0
