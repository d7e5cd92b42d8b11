"""Table maintenance: small-file compaction.

At 100 TB the silent killer is file-count growth — every incremental
merge/append leaves another handful of files per partition, and a year
later each scan pays millions of opens and the driver pays listing time.
Compaction rewrites each partition's files into ~target-size outputs.

The layout walk is driver-side *metadata only* (file names + sizes —
never data); the rewrite itself is a distributed read → repartition →
write per leaf. The swap is local-FS rename; an object-store deployment
would commit through a manifest/rename protocol instead (same plan
shape, different committer).
"""

from __future__ import annotations

import math
import os
import re
import shutil
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


_TMP_SUFFIX = "__compact_tmp"
_OLD_SUFFIX = "__compact_old"

_HIVE_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _unescape_hive_partition(name: str) -> str | None:
    """Invert Hive's partition-directory escaping: ``%XX`` hex escapes back
    to their characters, and the NULL sentinel back to None. Matching on
    the *decoded* value (instead of re-formatting a path from the raw
    value) is what keeps deletion correct for values Spark escapes on
    disk — colons, newlines, ``%`` itself — and for NULL."""
    if name == _HIVE_NULL_PARTITION:
        return None
    return re.sub(r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), name)


def _leaf_dirs(path: str) -> list[str]:
    """Directories that directly hold parquet files (partition leaves, or
    the root itself for unpartitioned layouts). Work dirs left by a
    crashed compaction run (``*__compact_tmp``/``*__compact_old``) are
    never treated as leaves — they hold duplicate/stale copies of a real
    leaf's data."""
    leaves = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [
            d for d in dirnames if not d.endswith((_TMP_SUFFIX, _OLD_SUFFIX))
        ]
        if any(f.endswith(".parquet") for f in filenames):
            leaves.append(dirpath)
    return leaves


def _recover_stale_workdirs(path: str) -> None:
    """Clean up after a crashed compaction run, restoring the invariant
    that every leaf exists exactly once:

    - ``X__compact_old`` present and ``X`` missing → the crash hit between
      the two renames; rename the old data back into place.
    - otherwise stale ``X__compact_tmp``/``X__compact_old`` dirs are
      leftovers whose live twin exists → delete them.
    """
    for dirpath, dirnames, _filenames in os.walk(path):
        for d in list(dirnames):
            if not d.endswith((_TMP_SUFFIX, _OLD_SUFFIX)):
                continue
            full = os.path.join(dirpath, d)
            if d.endswith(_OLD_SUFFIX):
                leaf = full[: -len(_OLD_SUFFIX)]
                if not os.path.exists(leaf):
                    os.rename(full, leaf)
                    dirnames.remove(d)
                    continue
            shutil.rmtree(full)
            dirnames.remove(d)


def _dir_bytes(dirpath: str) -> int:
    return sum(
        e.stat().st_size
        for e in os.scandir(dirpath)
        if e.is_file() and e.name.endswith(".parquet")
    )


def zorder_key(df: DataFrame, cols: Sequence[str], nbits: int = 8) -> Column:
    """Morton (Z-order) interleave of the given columns, as a BIGINT sort
    key: each column is quantized into ``2**nbits`` uniform-width buckets
    between its global min and max (one tiny aggregate, broadcast as
    literals), then the bucket bits interleave so that sorting by the key
    keeps rows close in EVERY dimension close in the file order.

    ``len(cols) * nbits`` must fit in 63 bits. Uniform-width buckets (not
    quantiles) are deliberate: they need only min/max — O(1) driver state —
    and file-skipping effectiveness depends on locality, not on perfectly
    balanced buckets.
    """
    if len(cols) * nbits > 63:
        raise ValueError(f"{len(cols)} cols x {nbits} bits exceeds a BIGINT key")
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
    ).first()
    nb = 1 << nbits
    buckets = []
    for c in cols:
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        span = (mx - mn) or 1.0
        b = F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * nb).cast("bigint")
        buckets.append(F.least(F.greatest(b, F.lit(0)), F.lit(nb - 1)))
    key = F.lit(0).cast("bigint")
    for j in range(nbits):
        for i, b in enumerate(buckets):
            bit = F.shiftright(b, j).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, j * len(buckets) + i))
    return key


def zorder_path(
    spark: SparkSession,
    path: str,
    cols: Sequence[str],
    nbits: int = 8,
    n_files: int | None = None,
) -> int:
    """Rewrite the (unpartitioned) dataset at ``path`` in Z-order on
    ``cols`` so parquet min/max footer stats can skip files for filters on
    ANY of the clustered columns — the data-layout half of data skipping
    (the query half, partition pruning + pushed filters, is plan-audited
    in tests/test_plans.py).

    Plan: one min/max aggregate, one range-shuffle on the interleaved key
    (repartitionByRange samples the key distribution, so files get
    balanced row counts even though buckets are uniform-width), an
    in-partition sort, and a rewrite through the same crash-safe two-step
    swap as :func:`compact_path`. Cost is one full read+write of the
    dataset — O(data), no driver-side data movement. Returns the number
    of files written.
    """
    _recover_stale_workdirs(path)
    df = spark.read.parquet(path)
    n_files = n_files or max(df.rdd.getNumPartitions() // 4, 4)
    keyed = df.withColumn("__z", zorder_key(df, cols, nbits))
    tmp = path.rstrip("/") + _TMP_SUFFIX
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(tmp)
    )
    old = path.rstrip("/") + _OLD_SUFFIX
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return sum(1 for e in os.scandir(path) if e.is_file() and e.name.endswith(".parquet"))


def compact_path(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 << 20,
    min_files_to_compact: int = 2,
) -> dict[str, tuple[int, int]]:
    """Compact every partition leaf under ``path`` to
    ``ceil(leaf_bytes / target_file_bytes)`` files.

    Leaves already at or under the target count are skipped, so repeated
    runs are idempotent and cheap. Returns ``{leaf: (files_before,
    files_after)}`` for the leaves rewritten.

    Crash safety: a run starts by recovering any ``*__compact_tmp`` /
    ``*__compact_old`` work dirs a previous crash left behind (restoring
    the leaf if the crash hit between the swap renames, deleting stale
    copies otherwise), and the layout walk never mistakes a work dir for
    a partition leaf.
    """
    _recover_stale_workdirs(path)
    results: dict[str, tuple[int, int]] = {}
    for leaf in _leaf_dirs(path):
        files_before = sum(
            1 for e in os.scandir(leaf) if e.is_file() and e.name.endswith(".parquet")
        )
        n_target = max(1, math.ceil(_dir_bytes(leaf) / target_file_bytes))
        if files_before < min_files_to_compact or files_before <= n_target:
            continue
        tmp = leaf + _TMP_SUFFIX
        (
            spark.read.parquet(leaf)
            .repartition(n_target)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        old = leaf + _OLD_SUFFIX
        os.rename(leaf, old)
        os.rename(tmp, leaf)
        shutil.rmtree(old)
        files_after = sum(
            1 for e in os.scandir(leaf) if e.is_file() and e.name.endswith(".parquet")
        )
        results[leaf] = (files_before, files_after)
    return results


def retention_sweep(
    path: str,
    partition_col: str,
    keep_from: str,
    dry_run: bool = False,
) -> list[str]:
    """Data-lifecycle retention: drop every ``partition_col=<value>`` leaf
    whose value sorts strictly below ``keep_from`` (ISO dates compare
    lexicographically, which is why the engine's partition values are
    zero-padded strings). Returns the dropped partition values.

    Metadata-only against the file listing — cost is O(partitions), never
    a data scan, so a daily sweep over a 100 TB table touches nothing but
    directory entries. ``dry_run=True`` reports without deleting (the
    audit mode a production sweep runs first)."""
    prefix = f"{partition_col}="
    dropped = []
    if not os.path.isdir(path):
        return dropped
    for e in sorted(os.scandir(path), key=lambda e: e.name):
        if not e.is_dir() or not e.name.startswith(prefix):
            continue
        value = e.name[len(prefix):]
        if value < keep_from:
            dropped.append(value)
            if not dry_run:
                shutil.rmtree(e.path)
    return dropped


def forget_keys(
    spark: SparkSession,
    path: str,
    partition_col: str,
    keys: DataFrame,
    key_cols: Sequence[str],
    dry_run: bool = False,
) -> dict:
    """Targeted key deletion (GDPR right-to-be-forgotten) over a
    partitioned parquet table: remove every row matching ``keys`` on
    ``key_cols``, rewriting ONLY the partitions that contain matches.

    Shape (the only one that survives a 100 TB table):

    1. locate affected partitions with a column-pruned scan semi-joined
       against the (broadcastable) key set — the scan reads key columns +
       the partition column, nothing else;
    2. anti-join just those partitions' rows against the keys;
    3. dynamic partition overwrite commits the rewrite partition-scoped —
       untouched partitions are never read for rewrite, never rewritten,
       and stay byte-identical on disk (asserted in tests).

    ``dry_run=True`` reports what would happen (the audit mode a
    compliance run executes first). Returns ``{"partitions": [...],
    "n_deleted": int, "n_kept": int}``.
    """
    key_cols = list(key_cols)
    df = spark.read.parquet(path)
    hits = df.join(F.broadcast(keys), key_cols, "left_semi")
    affected_parts = [r[0] for r in hits.select(partition_col).distinct().collect()]
    n_deleted = hits.count()
    if dry_run or not affected_parts:
        return {"partitions": sorted(affected_parts), "n_deleted": n_deleted, "n_kept": None}

    affected = df.filter(F.col(partition_col).isin(affected_parts))
    remaining = affected.join(F.broadcast(keys), key_cols, "left_anti")
    # Self-referential overwrite: cut the lineage so the write doesn't
    # read the files it replaces.
    remaining = remaining.localCheckpoint(eager=True)
    n_kept = remaining.count()
    # dynamic overwrite only replaces partitions PRESENT in the written
    # data — a partition whose every row matched the keys would write no
    # rows and silently keep its old files. Drop those leaves explicitly.
    remaining_parts = {r[0] for r in remaining.select(partition_col).distinct().collect()}
    emptied = [p for p in affected_parts if p not in remaining_parts]
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        if n_kept:
            remaining.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        else:
            # restoring "unset" matters: leaving 'dynamic' behind silently
            # changes later mode('overwrite').partitionBy(...) writes in the
            # same session from truncate-table to per-partition semantics.
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    # Locate emptied leaves by *decoding* the on-disk directory names rather
    # than formatting a path from the raw value — Hive-escaped values
    # (specials → %XX) and NULL (__HIVE_DEFAULT_PARTITION__) don't round-trip
    # through naive f-string formatting, and a missed leaf here is residual
    # data in a right-to-be-forgotten operator.
    emptied_values = {None if p is None else str(p) for p in emptied}
    prefix = f"{partition_col}="
    if emptied_values:
        for e in os.scandir(path):
            if not e.is_dir() or not e.name.startswith(prefix):
                continue
            decoded = _unescape_hive_partition(e.name[len(prefix):])
            if (None if decoded is None else str(decoded)) in emptied_values:
                shutil.rmtree(e.path)
                if os.path.exists(e.path):
                    raise RuntimeError(
                        f"forget_keys failed to remove emptied partition leaf {e.path!r}"
                    )
    return {"partitions": sorted(affected_parts), "n_deleted": n_deleted, "n_kept": n_kept}
