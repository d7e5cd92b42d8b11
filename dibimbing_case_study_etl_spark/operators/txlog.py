"""Transactional commit-log table format (mini-Delta) on plain parquet.

The reference gets atomicity, upsert isolation, and multi-writer safety
from Postgres transactions (reference
``scripts/load_parquet_to_postgres_l1.py:124-149`` — one connection, one
``execute_values`` batch, one COMMIT). A Spark warehouse writing parquet
to a filesystem has none of that natively. This module is the engine's
one table layer — the medallion L1/L2 tables
(``pipeline/weather.py``, through ``operators/merge_upsert.py``) and the
u-family queries all commit through it — with the same design the public
lakehouse formats (Delta Lake, Iceberg) use, re-expressed minimally:

- **Commit log**: the table is defined by ``_txlog/{version:08d}.json``
  files; each commit lists parquet files *added* (with per-file key
  min/max stats) and *removed*. Readers reconstruct any version's live
  file set by folding the log — data files are immutable, so a reader
  pinned to a version is consistent forever (snapshot isolation / time
  travel).
- **Atomic publish**: a commit becomes visible via ``os.link`` of a
  fully-written temp file to the next version's name. POSIX ``link``
  fails atomically if the target exists, which is simultaneously the
  conflict detector — the exact protocol Delta uses ("mutual exclusion
  on the log object"). No partial commit is ever observable.
- **Optimistic concurrency**: writers never lock. A blind ``append``
  retries the publish under a new version (its data files are already
  valid). A ``merge``/``delete`` that loses the race re-reads the new
  snapshot and recomputes before retrying, so lost updates are
  impossible by construction.
- **Stats-pruned copy-on-write MERGE**: each data file records the
  min/max of its merge key (the FIRST column of a composite key); a
  merge only rewrites files whose key range overlaps the source batch
  and carries every other file over untouched — at 100 TB an upsert of
  one day's keys touches one day's files, not the table. Timestamp-keyed
  rewrites are range-clustered into one file per day of key span, so
  files cover disjoint ranges and the touched set stays one batch wide.
- **Exactly-once streaming**: commits may carry a ``(app, batch)``
  transaction id; a replayed ``foreachBatch`` (same app, batch ≤ last
  committed) becomes a no-op, which makes the streaming MERGE sink
  idempotent under Structured Streaming's at-least-once replay.

Driver-side state is O(commits) tiny JSON plus file names — the data
plane (rewrites, anti-joins, appends) is all distributed DataFrame work.

Storage scope: the LOG goes through the injectable :class:`CommitStore`
(POSIX or S3 conditional PUT), but data files are written and listed
through ``pathlib``, so the table root must be a local/POSIX path
(a mounted filesystem); ``TxLogTable`` rejects ``scheme://`` roots.
"""

from __future__ import annotations

import json
import math
import os
import re
import tempfile
import threading
import uuid
from collections.abc import Sequence
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class ConflictError(RuntimeError):
    """A concurrent writer won the commit race more times than allowed."""


class CommitStore:
    """The one storage primitive the log needs: atomic put-if-absent of a
    fully-written payload at a path. On POSIX this is ``os.link`` of a
    temp file (link fails with EEXIST if the target exists — mutual
    exclusion for free). Object stores without atomic rename get this
    from a conditional write (S3 ``If-None-Match: *``, GCS
    ``ifGenerationMatch=0``, Azure ``If-None-Match``) or an external CAS
    (DynamoDB, the S3-commit-service pattern Delta documents) — implement
    this one method against that API and every TxLogTable guarantee
    carries over unchanged. Injectable so tests can drive lost races and
    fault windows deterministically."""

    def put_if_absent(self, target: Path, payload: bytes) -> bool:
        """Publish ``payload`` at ``target`` iff nothing is there; True on
        success, False when another writer already published. Must never
        leave a partially-visible target."""
        target.parent.mkdir(parents=True, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=str(target.parent), suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as fh:
                fh.write(payload.decode("utf-8"))
                fh.flush()
                os.fsync(fh.fileno())
            try:
                os.link(tmp, target)  # atomic; EEXIST = lost race
                return True
            except FileExistsError:
                return False
        finally:
            os.unlink(tmp)

    # -- read side ----------------------------------------------------------
    # The log's only other storage needs: enumerate what's published under
    # the log dir and fetch one published object. Together with
    # ``put_if_absent`` this makes TxLogTable's LOG fully store-backed
    # (commit → read → time-travel round-trips through the seam); the data
    # files themselves are read by Spark's own parquet source (s3a/file),
    # which is orthogonal.

    def list_names(self, log_dir: Path) -> list[str]:
        """Names (no directory part) of objects directly under ``log_dir``.
        Missing directory = empty log, not an error."""
        if not log_dir.is_dir():
            return []
        return [p.name for p in log_dir.iterdir() if p.is_file()]

    def read(self, target: Path) -> bytes:
        """Fetch one published object's payload."""
        return target.read_bytes()

    def ensure_dir(self, d: Path) -> None:
        """Bootstrap hook: POSIX needs the directory to exist before
        ``os.link``; object stores have no directories (no-op there)."""
        d.mkdir(parents=True, exist_ok=True)


class S3CommitStore(CommitStore):
    """Production CAS for S3-compatible object stores (AWS S3, MinIO):
    ``put_if_absent`` is one conditional ``PutObject`` with
    ``If-None-Match: *`` — the store accepts the write only when the key
    does not exist and answers **412 PreconditionFailed** when it does,
    which is exactly the lost-race signal the optimistic-concurrency
    protocol needs. A **409 ConditionalRequestConflict** (AWS, while a
    competing conditional write is still in flight) is NOT definitive —
    the competitor may yet fail, leaving no object at the key — so 409
    re-issues the conditional put with backoff until a definitive 200
    (→ True) or 412 (→ False); mapping 409 straight to False could punch
    a permanent hole at that version (the caller would retry at v+1,
    breaking the contiguous-log replay in ``_fold_state``). No
    external lock table (the DynamoDB pattern Delta documents for
    pre-conditional-put S3) is required since S3/MinIO shipped
    conditional writes.

    Scope: this class covers the full LOG protocol — the publish CAS plus
    the read side (``list_names`` via paginated ``ListObjectsV2``,
    ``read`` via ``GetObject``) — so a TxLogTable's commit → read →
    time-travel cycle round-trips entirely through the store. The parquet
    DATA files are still read by Spark's own source (point the table root
    at the same bucket via s3a), which is orthogonal to log atomicity.

    ``client`` is injectable (anything with S3's ``put_object``
    signature) so the publish/race contract is testable without a live
    endpoint; by default a ``boto3`` client is built lazily
    (``endpoint_url`` supports MinIO). Keys are ``prefix`` + the target
    path relative to ``root`` (or the absolute path sans leading slash
    when no root is given).
    """

    def __init__(
        self,
        bucket: str,
        prefix: str = "",
        root: Path | None = None,
        client=None,
        endpoint_url: str | None = None,
        conflict_retries: int = 8,
        conflict_backoff_s: float = 0.05,
    ):
        if client is None:
            import boto3  # optional dependency: only the S3 store needs it

            client = boto3.client("s3", endpoint_url=endpoint_url)
        self._client = client
        self._bucket = bucket
        self._prefix = prefix
        self._root = root
        self._conflict_retries = conflict_retries
        self._conflict_backoff_s = conflict_backoff_s

    def _key(self, target: Path) -> str:
        rel = (
            str(target.relative_to(self._root))
            if self._root is not None
            else str(target).lstrip("/")
        )
        return f"{self._prefix}{rel}"

    def put_if_absent(self, target: Path, payload: bytes) -> bool:
        import time as _time

        attempts = self._conflict_retries + 1
        for attempt in range(attempts):
            try:
                self._client.put_object(
                    Bucket=self._bucket,
                    Key=self._key(target),
                    Body=payload,
                    IfNoneMatch="*",
                )
                return True
            except Exception as ex:  # botocore ClientError without a hard import
                resp = getattr(ex, "response", None) or {}
                status = (resp.get("ResponseMetadata") or {}).get("HTTPStatusCode")
                code = (resp.get("Error") or {}).get("Code")
                if status == 412 or code == "PreconditionFailed":
                    return False  # definitive: an object exists at the key
                if status == 409 or code == "ConditionalRequestConflict":
                    # indeterminate: a competing conditional write is in
                    # flight and may still fail — retry until 200/412
                    if attempt + 1 < attempts:
                        _time.sleep(self._conflict_backoff_s * (2**attempt))
                        continue
                    raise ConflictError(
                        f"conditional put on {self._key(target)} stayed "
                        f"indeterminate (409) after {attempts} attempts"
                    ) from ex
                raise
        raise AssertionError("unreachable")  # loop always returns or raises

    def list_names(self, log_dir: Path) -> list[str]:
        prefix = self._key(log_dir).rstrip("/") + "/"
        names: list[str] = []
        token: str | None = None
        while True:
            kw = {"Bucket": self._bucket, "Prefix": prefix}
            if token:
                kw["ContinuationToken"] = token
            resp = self._client.list_objects_v2(**kw)
            for obj in resp.get("Contents", ()) or ():
                tail = obj["Key"][len(prefix):]
                if tail and "/" not in tail:  # direct children only
                    names.append(tail)
            if not resp.get("IsTruncated"):
                return names
            token = resp.get("NextContinuationToken")

    def read(self, target: Path) -> bytes:
        resp = self._client.get_object(Bucket=self._bucket, Key=self._key(target))
        body = resp["Body"]
        return body.read() if hasattr(body, "read") else bytes(body)

    def ensure_dir(self, d: Path) -> None:
        """Object stores have no directories; publishing the first commit
        key is all the bootstrap S3 needs."""


class _S3ClientError(Exception):
    """botocore.ClientError-shaped (has ``.response``) without botocore."""

    def __init__(self, status: int, code: str):
        super().__init__(code)
        self.response = {
            "Error": {"Code": code},
            "ResponseMetadata": {"HTTPStatusCode": status},
        }


class InMemoryS3Client:
    """Executable reference of the S3 subset :class:`S3CommitStore` uses —
    conditional ``put_object`` (``If-None-Match: *`` → 412 on existing
    key), ``get_object``, ``list_objects_v2`` — with no boto3 dependency.
    Lets the full TxLogTable log protocol run against object-store
    semantics in-process (the u13 registry query and the contract tests);
    a live MinIO/AWS endpoint exercises the same code paths via boto3."""

    def __init__(self) -> None:
        self.objects: dict[tuple[str, str], bytes] = {}
        # API-call audit (the scale legs record these per run: the log
        # protocol's cost model is "1 conditional PUT per commit +
        # O(commits-since-checkpoint) GETs per snapshot + 1 LIST per fold")
        self.n_put = 0
        self.n_get = 0
        self.n_list = 0

    def put_object(self, Bucket, Key, Body, IfNoneMatch=None):
        self.n_put += 1
        if IfNoneMatch == "*" and (Bucket, Key) in self.objects:
            raise _S3ClientError(412, "PreconditionFailed")
        self.objects[(Bucket, Key)] = bytes(Body)
        return {"ResponseMetadata": {"HTTPStatusCode": 200}}

    def get_object(self, Bucket, Key):
        import io

        self.n_get += 1
        if (Bucket, Key) not in self.objects:
            raise _S3ClientError(404, "NoSuchKey")
        return {"Body": io.BytesIO(self.objects[(Bucket, Key)])}

    def list_objects_v2(self, Bucket, Prefix, ContinuationToken=None):
        self.n_list += 1
        keys = sorted(k for b, k in self.objects if b == Bucket and k.startswith(Prefix))
        return {"Contents": [{"Key": k} for k in keys], "IsTruncated": False}


@dataclass(frozen=True)
class _DataFile:
    path: str  # relative to the table root
    rows: int
    min_key: int | None
    max_key: int | None


# parquet physical/logical types whose footer min/max are exact and
# JSON-serializable — string stats can be writer-TRUNCATED (an
# underestimated max would wrongly prune a file that contains matching
# keys → duplicate keys after merge), and date/decimal stats are objects
# json.dump rejects. Anything else records no stats = never pruned.
_STATS_SAFE_TYPES = ("int8", "int16", "int32", "int64", "uint8", "uint16", "uint32")
# Spark timestamps written as INT64 micros (see ``_write_data``): the raw
# footer value is the exact UTC microsecond, i.e. ``unix_micros(ts)``.
# Spark's default INT96 encoding carries no statistics at all.
_TS_MICROS_TYPE = "timestamp[us, tz=UTC]"
_TS_WRITE_LOCK = threading.Lock()  # guards the process-wide session conf
_DAY_MICROS = 86_400_000_000


def _file_stats(abs_path: str, key_col: str | None) -> tuple[int, int | None, int | None]:
    """(rows, min_key, max_key) from the parquet footer — write-time stats
    collection, the Delta/Iceberg pattern (no data read). Stats are kept
    only for integral key columns (see ``_STATS_SAFE_TYPES``) and for
    INT64-micros timestamps (as UTC microseconds)."""
    import pyarrow.parquet as pq

    f = pq.ParquetFile(abs_path)
    rows = f.metadata.num_rows
    if key_col is None or key_col not in f.schema_arrow.names:
        return rows, None, None
    idx = f.schema_arrow.get_field_index(key_col)
    kind = str(f.schema_arrow.types[idx])
    if kind not in _STATS_SAFE_TYPES and kind != _TS_MICROS_TYPE:
        return rows, None, None  # no exact stats → no pruning, always rewritten
    lo = hi = None
    for rg in range(f.metadata.num_row_groups):
        st = f.metadata.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return rows, None, None  # no stats → never prune this file
        mn, mx = (st.min_raw, st.max_raw) if kind == _TS_MICROS_TYPE else (st.min, st.max)
        lo = mn if lo is None else min(lo, mn)
        hi = mx if hi is None else max(hi, mx)
    return rows, lo, hi


def _is_ts(df: DataFrame, col: str | None) -> bool:
    return col is not None and isinstance(df.schema[col].dataType, T.TimestampType)


def _local_root(root: str | os.PathLike) -> Path:
    """The table root as a local path. Data files go through ``pathlib``
    (``_write_data`` globs the written directory), so a Hadoop URI such
    as ``s3a://`` cannot host the data — fail at construction, not after
    a half-run pipeline."""
    s = str(root)
    if s.startswith("file:"):
        s = "/" + s[len("file:"):].lstrip("/")
    if "://" in s:
        raise ValueError(
            f"txlog table root {s!r} is not a local path: TxLogTable writes "
            "and lists data files through the local filesystem (mount the "
            "store, or keep the table on a POSIX path)"
        )
    return Path(s)


class TxLogTable:
    """A parquet table governed by an atomic commit log under ``_txlog/``.

    ``checkpoint_interval``: every N-th commit also writes a manifest
    checkpoint (the folded live-file set + per-app txn watermarks), so
    snapshot reconstruction replays O(commits since last checkpoint)
    JSONs instead of O(all commits) — Delta's ``_last_checkpoint``
    pattern, without which a long-lived streaming table's every read
    walks an unbounded log. Checkpoints are DERIVED state: deterministic
    given the version, safe to lose, safe for two writers to race on
    (link-if-absent, first wins, both wrote identical bytes)."""

    def __init__(
        self,
        root: str | os.PathLike,
        checkpoint_interval: int | None = 16,
        store: CommitStore | None = None,
    ):
        self.root = _local_root(root)
        self.log_dir = self.root / "_txlog"
        self.checkpoint_interval = checkpoint_interval
        self.store = store if store is not None else CommitStore()

    # -- bootstrap ---------------------------------------------------------

    @classmethod
    def create(
        cls,
        root: str | os.PathLike,
        store: CommitStore | None = None,
        checkpoint_interval: int | None = 16,
    ) -> "TxLogTable":
        t = cls(root, store=store, checkpoint_interval=checkpoint_interval)
        t.store.ensure_dir(t.log_dir)
        return t

    # -- log plumbing ------------------------------------------------------

    def _commit_path(self, version: int) -> Path:
        return self.log_dir / f"{version:08d}.json"

    _COMMIT_RE = re.compile(r"^\d{8}\.json$")
    _CKPT_RE = re.compile(r"^(\d{8})\.checkpoint\.json$")

    def latest_version(self) -> int:
        versions = [
            int(n.split(".")[0])
            for n in self.store.list_names(self.log_dir)
            if self._COMMIT_RE.match(n)
        ]
        return max(versions, default=-1)

    def _read_commit(self, version: int) -> dict:
        return json.loads(self.store.read(self._commit_path(version)))

    def commits(self, as_of: int | None = None) -> list[dict]:
        last = self.latest_version() if as_of is None else as_of
        return [self._read_commit(v) for v in range(last + 1)]

    def commit_info(self, version: int) -> dict | None:
        """The ``info`` a merge recorded on ``version`` (None if none)."""
        return self._read_commit(version).get("info")

    def _try_publish(self, payload: dict, version: int) -> bool:
        """Atomically publish ``payload`` as ``version`` through the
        injected :class:`CommitStore`. False on a lost race (the version
        already exists) — never a partial commit."""
        payload = {**payload, "version": version}
        return self.store.put_if_absent(
            self._commit_path(version), json.dumps(payload).encode("utf-8")
        )

    def last_txn_batch(self, app: str, as_of: int | None = None) -> int | None:
        """Highest committed batch id for a streaming writer ``app``."""
        _, txn, _, _, _ = self._fold_state(as_of)
        return txn.get(app)

    # -- schema evolution --------------------------------------------------

    def table_schema(self, as_of: int | None = None) -> dict | None:
        """The LOG-recorded table schema at ``as_of`` (Spark StructType
        JSON dict) — the last writing commit's schema, folded like the
        live set. ``None`` for legacy logs whose commits predate schema
        recording (readers fall back to parquet mergeSchema)."""
        _, _, schema, _, _ = self._fold_state(as_of)
        return schema

    @staticmethod
    def _schema_dict(df: DataFrame) -> dict:
        return json.loads(df.schema.json())

    def _check_additive_evolution(
        self, new_schema: dict, as_of: int | None = None
    ) -> None:
        """Schema evolution is ADDITIVE-ONLY (the Delta default): a write
        may introduce new columns (older files read them as NULL through
        the log schema) but must keep every existing column with an
        identical type — a drop would silently hide data in untouched
        files, a type change would corrupt the scan. Loud, never wrong.
        ``as_of`` lets retry loops re-validate against the folded schema
        at the version they are about to commit on top of."""
        cur = self.table_schema(as_of)
        if cur is None:
            return
        new_fields = {f["name"]: f["type"] for f in new_schema["fields"]}
        for f in cur["fields"]:
            if f["name"] not in new_fields:
                raise ValueError(
                    f"schema evolution on {self.root} would DROP column "
                    f"{f['name']!r}; only additive evolution is supported "
                    f"(project the column through, or rewrite via compact)"
                )
            if new_fields[f["name"]] != f["type"]:
                raise ValueError(
                    f"schema evolution on {self.root} would change column "
                    f"{f['name']!r} from {f['type']!r} to "
                    f"{new_fields[f['name']]!r}; types are immutable"
                )

    def _read_files(self, spark: SparkSession, paths: list[str], schema: dict | None) -> DataFrame:
        if schema is not None:
            # log-recorded schema (the Delta pattern): planning touches NO
            # parquet footers, and files written before an additive
            # evolution surface the missing columns as NULL
            reader = spark.read.schema(T.StructType.fromJson(schema))
        else:
            # legacy log: fall back to footer-merged union semantics
            reader = spark.read.option("mergeSchema", "true")
        return reader.parquet(*paths)

    # -- checkpoints (manifest compaction) ---------------------------------

    def _ckpt_path(self, version: int) -> Path:
        return self.log_dir / f"{version:08d}.checkpoint.json"

    def _latest_checkpoint(self, as_of: int) -> tuple[int, dict] | None:
        best = -1
        for n in self.store.list_names(self.log_dir):
            m = self._CKPT_RE.match(n)
            if m:
                v = int(m.group(1))
                if v <= as_of and v > best:
                    best = v
        if best < 0:
            return None
        return best, json.loads(self.store.read(self._ckpt_path(best)))

    def checkpoint(self, as_of: int | None = None) -> int:
        """Write the folded manifest at ``as_of`` (default latest) so
        later reads replay only newer commits. Idempotent: the payload is
        a pure function of the version, so a publish race is harmless —
        link-if-absent, loser's bytes were identical."""
        v = self.latest_version() if as_of is None else as_of
        live, txn, schema, dvs, dv_targets = self._fold_state(v)
        payload = {
            "version": v,
            "op": "checkpoint",  # superset of the commit schema on purpose
            "added": [],
            "removed": [],
            "live": [
                {
                    "path": f.path,
                    "rows": f.rows,
                    "min_key": f.min_key,
                    "max_key": f.max_key,
                }
                for f in live.values()
            ],
            "txn_watermarks": txn,
            "schema": schema,
            "dv_live": dvs,
            "dv_targets": dv_targets,
        }
        # derived state: a lost race means identical bytes already published
        self.store.put_if_absent(
            self._ckpt_path(v), json.dumps(payload).encode("utf-8")
        )
        return v

    def _maybe_auto_checkpoint(self, version: int) -> None:
        iv = self.checkpoint_interval
        if iv and version > 0 and version % iv == 0:
            self.checkpoint(as_of=version)

    # -- snapshots ---------------------------------------------------------

    def _fold_state(
        self, as_of: int | None = None
    ) -> tuple[
        dict[str, _DataFile],
        dict[str, int],
        dict | None,
        dict[str, str],
        dict[str, list[str]],
    ]:
        """(live files, per-app txn watermark, log-recorded schema, live
        deletion vectors {rel path → key col}, DV target files {sidecar
        rel path → data-file rel paths it masks}) at ``as_of`` — seeded
        from the newest checkpoint ≤ ``as_of``, then replaying only the
        commits after it. Schema folds last-writer-wins; DVs accumulate
        until a rewrite (compact, or a merge that removed every file a
        sidecar targets) retires them, like the live set. Targets let
        merge retire fully-covered sidecars; legacy sidecars without
        recorded targets stay live until compact."""
        last = self.latest_version() if as_of is None else as_of
        live: dict[str, _DataFile] = {}
        txn: dict[str, int] = {}
        schema: dict | None = None
        dvs: dict[str, str] = {}
        dv_targets: dict[str, list[str]] = {}
        start = 0
        ckpt = self._latest_checkpoint(last)
        if ckpt is not None:
            cv, payload = ckpt
            for f in payload["live"]:
                live[f["path"]] = _DataFile(
                    f["path"], f["rows"], f.get("min_key"), f.get("max_key")
                )
            txn.update(payload.get("txn_watermarks", {}))
            schema = payload.get("schema")
            dvs.update(payload.get("dv_live", {}))
            dv_targets.update(payload.get("dv_targets", {}))
            start = cv + 1
        for v in range(start, last + 1):
            c = self._read_commit(v)
            for rel in c.get("removed", ()):
                live.pop(rel, None)
            for f in c.get("added", ()):
                live[f["path"]] = _DataFile(
                    f["path"], f["rows"], f.get("min_key"), f.get("max_key")
                )
            if c.get("txn"):
                app, batch = c["txn"]["app"], c["txn"]["batch"]
                txn[app] = max(txn.get(app, batch), batch)
            if c.get("schema") is not None:
                schema = c["schema"]
            for rel in c.get("dv_removed", ()):
                dvs.pop(rel, None)
                dv_targets.pop(rel, None)
            for rel, kc in c.get("dv_added", {}).items():
                dvs[rel] = kc
            for rel, tgts in c.get("dv_targets", {}).items():
                dv_targets[rel] = tgts
        return live, txn, schema, dvs, dv_targets

    def live_files(self, as_of: int | None = None) -> list[_DataFile]:
        live, _, _, _, _ = self._fold_state(as_of)
        return [live[k] for k in sorted(live)]

    def read(self, spark: SparkSession, as_of: int | None = None) -> DataFrame:
        """Snapshot read (``as_of=None`` → latest). Immutable data files +
        a pinned file list = a consistent view regardless of concurrent
        commits. The scan schema comes from the LOG (r10): files written
        before an additive schema evolution surface the newer columns as
        NULL, no parquet footers are touched at planning, and an
        ``as_of`` read sees the schema AS OF that version — legacy logs
        without recorded schemas fall back to footer mergeSchema."""
        live, _, schema, dvs, _ = self._fold_state(as_of)
        files = [live[k] for k in sorted(live)]
        if not files:
            raise ValueError(f"txlog table {self.root} is empty at version {as_of}")
        base = self._read_files(
            spark, [str(self.root / f.path) for f in files], schema
        )
        return self._apply_dvs(spark, base, dvs)

    @staticmethod
    def _rel_path_col() -> "F.Column":
        """Last two path components of the scanned file — the log's
        relative file identity (``data-<uuid>/part-*.parquet``), derived
        from the hidden ``_metadata.file_path`` column so DV scoping is
        exact per FILE, not per key."""
        return F.regexp_extract(
            F.col("_metadata.file_path"), r"([^/]+/[^/]+)$", 1
        )

    def _apply_dvs(
        self, spark: SparkSession, base: DataFrame, dvs: dict[str, str]
    ) -> DataFrame:
        """Merge-on-read: subtract deletion-vector rows from the scan.
        A DV row is ``(file rel path, key)`` — it masks that key ONLY in
        that file, so a later re-insert of the key (new file) is
        unaffected. One broadcast-friendly anti-join on (file, key); DV
        parquet is tiny (deleted keys only). Dangling DV rows whose
        target file was since rewritten match nothing, harmlessly."""
        if not dvs:
            return base
        key_cols = set(dvs.values())
        if len(key_cols) != 1:
            raise ValueError(
                f"deletion vectors with mixed key columns {sorted(key_cols)} "
                f"on {self.root}; one key column per table"
            )
        (key_col,) = key_cols
        dv = spark.read.parquet(*[str(self.root / p) for p in sorted(dvs)]).select(
            F.col("__dv_file").alias("__dvf"), F.col(key_col).alias("__dvk")
        )
        marked = base.withColumn("__file", self._rel_path_col())
        return (
            marked.join(
                dv,
                (marked["__file"] == dv["__dvf"])
                & (marked[key_col] == dv["__dvk"]),
                "left_anti",
            ).drop("__file")
        )

    def delete_where(
        self,
        spark: SparkSession,
        predicate,
        key_col: str,
        max_retries: int = 5,
    ) -> int:
        """MERGE-ON-READ delete (the Delta/Iceberg deletion-vector
        pattern, key-granular): instead of copy-on-write rewriting every
        file containing a matching row, write a tiny sidecar of
        ``(file, key)`` pairs and subtract it at read time. The write
        cost is O(deleted keys) regardless of file sizes — the right
        trade for frequent small deletes (GDPR erasure, CDC tombstones)
        on a 100 TB table, where copy-on-write would rewrite terabytes
        to remove kilobytes. ``compact`` later purges DVs by rewriting
        (restoring pure-scan reads); readers pinned to older versions
        still see the rows (the DV folds at its commit version).

        ``predicate``: a Column (or SQL string) evaluated against the
        current snapshot."""
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        for _ in range(max_retries + 1):
            base_v = self.latest_version()
            live, _, schema, dvs, _ = self._fold_state(base_v)
            files = [live[k] for k in sorted(live)]
            if not files:
                raise ValueError(f"txlog table {self.root} is empty")
            scan = self._read_files(
                spark, [str(self.root / f.path) for f in files], schema
            )
            # apply existing DVs first so an already-deleted row cannot
            # re-enter a new DV (harmless, but keeps DVs minimal)
            visible = self._apply_dvs(spark, scan, dvs)
            hits = (
                visible.filter(pred)
                .withColumn("__dv_file", self._rel_path_col())
                .select("__dv_file", key_col)
                .distinct()
            )
            sub = f"dv-{uuid.uuid4().hex}"
            out = self.root / sub
            hits.coalesce(1).write.mode("errorifexists").parquet(str(out))
            dv_files = [f"{sub}/{p.name}" for p in sorted(out.glob("*.parquet"))]
            # record which data files each sidecar masks (read back from
            # the written parquet footer-side — local column scan of a
            # deleted-keys-only file, distinct is O(live files)) so a
            # later merge whose rewrite covers ALL of a sidecar's targets
            # can retire it instead of leaving it dangling forever
            import pyarrow.parquet as pq

            targets: dict[str, list[str]] = {}
            for p in sorted(out.glob("*.parquet")):
                col = pq.read_table(str(p), columns=["__dv_file"]).column(0)
                targets[f"{sub}/{p.name}"] = sorted(
                    v for v in set(col.to_pylist()) if v is not None
                )
            payload = {
                "op": "dv_delete",
                "added": [],
                "removed": [],
                "dv_added": {p: key_col for p in dv_files},
                "dv_targets": targets,
                "key_col": key_col,
                "txn": None,
            }
            if self._try_publish(payload, base_v + 1):
                self._maybe_auto_checkpoint(base_v + 1)
                return base_v + 1
            # lost the race: the snapshot (and its DV set) is stale
        raise ConflictError(
            f"delete_where lost {max_retries} commit races on {self.root}"
        )

    # -- writes ------------------------------------------------------------

    def _write_data(
        self, df: DataFrame, key_col: str | None, target_files: int | None
    ) -> list[dict]:
        """Write ``df`` to immutable uniquely-named parquet under the table
        root; return the added-file entries (with footer stats). Data lands
        BEFORE any commit references it, so failures leave only unreferenced
        garbage (cleaned by vacuum), never a corrupt table."""
        sub = f"data-{uuid.uuid4().hex}"
        out = self.root / sub
        if target_files is not None:
            df = df.coalesce(target_files)
        if _is_ts(df, key_col):
            # the writer reads this session conf, not a per-write option;
            # the lock keeps concurrent writers from restoring each other's
            # value (a file written as INT96 would lose its stats)
            conf = df.sparkSession.conf
            with _TS_WRITE_LOCK:
                prev = conf.get("spark.sql.parquet.outputTimestampType")
                conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
                try:
                    df.write.mode("errorifexists").parquet(str(out))
                finally:
                    conf.set("spark.sql.parquet.outputTimestampType", prev)
        else:
            df.write.mode("errorifexists").parquet(str(out))
        added = []
        for p in sorted(out.glob("*.parquet")):
            rows, lo, hi = _file_stats(str(p), key_col)
            added.append(
                {
                    "path": f"{sub}/{p.name}",
                    "rows": rows,
                    "min_key": lo,
                    "max_key": hi,
                }
            )
        return added

    def append(
        self,
        df: DataFrame,
        key_col: str | None = None,
        txn: tuple[str, int] | None = None,
        target_files: int | None = None,
        max_retries: int = 20,
    ) -> int:
        """Blind append. Data files are version-independent, so a lost
        commit race just retries the publish — no recompute. Returns the
        committed version (or the existing one for a replayed ``txn``)."""
        base = self.latest_version()
        if txn is not None:
            last = self.last_txn_batch(txn[0], as_of=base)
            if last is not None and txn[1] <= last:
                return base  # replayed batch → idempotent no-op
        new_schema = self._schema_dict(df)
        self._check_additive_evolution(new_schema)
        added = self._write_data(df, key_col, target_files)
        payload = {
            "op": "append",
            "added": added,
            "removed": [],
            "key_col": key_col,
            "txn": {"app": txn[0], "batch": txn[1]} if txn else None,
            "schema": new_schema,
        }
        for v in range(base + 1, base + 2 + max_retries):
            if v > base + 1:
                # a lost race means another writer committed after the
                # pre-write check; with the last-writer-wins schema fold,
                # republishing our (now possibly stale) schema would
                # silently revert a concurrently-added column. Re-validate
                # against the winner's folded schema before each retry —
                # mirrors merge's per-retry recompute; raises rather than
                # narrowing (the data files become vacuum-able garbage).
                self._check_additive_evolution(new_schema, as_of=v - 1)
            if txn is not None:
                last = self.last_txn_batch(txn[0], as_of=v - 1)
                if last is not None and txn[1] <= last:
                    return v - 1
            if self._try_publish(payload, v):
                self._maybe_auto_checkpoint(v)
                return v
        raise ConflictError(f"append lost {max_retries} commit races on {self.root}")

    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        key_col: str | Sequence[str],
        delete: bool = False,
        txn: tuple[str, int] | None = None,
        target_files: int | None = None,
        max_retries: int = 5,
        allow_schema_evolution: bool = False,
        broadcast_key_limit: int = 4_000_000,
        update_cols: Sequence[str] | None = None,
        info: dict | None = None,
    ) -> int:
        """Copy-on-write MERGE (upsert; ``delete=True`` → anti-delete by
        key). Only files whose footer key range overlaps the source batch
        are rewritten; the rest carry over by name. A lost commit race
        re-reads the NEW snapshot and recomputes the rewrite, so a
        concurrent writer's rows are never silently resurrected (no lost
        update). Source must be unique per key.

        ``key_col`` may be composite; file stats (and so pruning) follow
        its first column. ``update_cols`` is the Postgres ``ON CONFLICT
        DO UPDATE SET`` list: a matched row takes only these columns from
        the source and keeps every other column from the target (default:
        the whole row is replaced). ``info`` is recorded verbatim on the
        commit (``commits()[v]["info"]``) — caller metadata such as the
        run's ingest day, without the replay semantics of ``txn``.

        A timestamp first key column is clustered: the rewrite is
        range-partitioned on it into one file per day of key span
        (``target_files`` overrides the count), so files cover disjoint
        ranges and the next overlapping batch touches only its own days."""
        keys = [key_col] if isinstance(key_col, str) else list(key_col)
        stats_col = keys[0]
        if update_cols is not None:
            bad = set(update_cols) & set(keys)
            if bad:
                raise ValueError(f"update_cols may not overlap keys: {sorted(bad)}")
        if txn is not None:
            last = self.last_txn_batch(txn[0])
            if last is not None and txn[1] <= last:
                return self.latest_version()  # replayed batch → no-op, no work
        src = source.localCheckpoint(eager=True)  # stable across retries
        clustered = _is_ts(src, stats_col)
        stat = F.unix_micros(stats_col) if clustered else F.col(stats_col)
        bounds = src.agg(
            F.min(stat).alias("lo"),
            F.max(stat).alias("hi"),
            F.count("*").alias("n"),
        ).first()
        if bounds["lo"] is None:
            raise ValueError("merge source is empty")
        lo, hi = bounds["lo"], bounds["hi"]
        # a forced broadcast of an unbounded source key set bypasses AQE's
        # size-based choice and OOMs the executors at large batch sizes —
        # hint only when the (already-counted) batch is verifiably small,
        # otherwise let AQE pick the join strategy
        src_keys = src.select(*keys)
        if bounds["n"] <= broadcast_key_limit:
            src_keys = F.broadcast(src_keys)
        keep = (
            []
            if update_cols is None
            else [c for c in src.columns if c not in keys and c not in update_cols]
        )

        for _ in range(max_retries + 1):
            base = self.latest_version()
            live, _, cur_schema, cur_dvs, cur_dv_targets = self._fold_state(base)
            files = [live[k] for k in sorted(live)]
            touched = [
                f
                for f in files
                if f.min_key is None or not (f.max_key < lo or f.min_key > hi)
            ]
            if touched:
                # read the touched set through the LOG schema — a plain
                # parquet read of schema-heterogeneous files (pre- and
                # post-evolution) would take the first file's footer and
                # silently drop the newer columns from the rewrite — and
                # through the DV mask, else the rewrite would RESURRECT
                # merge-on-read-deleted rows into the new files
                current = self._apply_dvs(
                    spark,
                    self._read_files(
                        spark,
                        [str(self.root / f.path) for f in touched],
                        cur_schema,
                    ),
                    cur_dvs,
                )
                survivors = current.join(src_keys, on=keys, how="left_anti")
                upserts = src
                if keep and not delete:
                    # matched rows keep the target's non-update columns
                    hit = current.select(
                        *keys,
                        *[F.col(c).alias(f"__t_{c}") for c in keep],
                        F.lit(True).alias("__hit"),
                    )
                    upserts = src.join(hit, on=keys, how="left").select(
                        *[
                            F.when(F.col("__hit"), F.col(f"__t_{c}")).otherwise(F.col(c)).alias(c)
                            if c in keep
                            else F.col(c)
                            for c in src.columns
                        ]
                    )
                rewritten = (
                    survivors
                    if delete
                    else survivors.unionByName(
                        upserts, allowMissingColumns=allow_schema_evolution
                    )
                )
            else:
                rewritten = None if delete else src
            written_schema = (
                self._schema_dict(rewritten) if rewritten is not None else None
            )
            if written_schema is not None:
                self._check_additive_evolution(written_schema)
            if clustered and rewritten is not None:
                span = [lo, hi] + [
                    v for f in touched for v in (f.min_key, f.max_key) if v is not None
                ]
                days = math.ceil((max(span) - min(span) + 1) / _DAY_MICROS)
                rewritten = rewritten.repartitionByRange(
                    target_files or days, F.col(stats_col)
                ).sortWithinPartitions(stats_col)
            added = (
                self._write_data(rewritten, stats_col, None if clustered else target_files)
                if rewritten is not None
                else []
            )
            # the rewrite physically applied every DV against the touched
            # files, so any sidecar whose ENTIRE target set is in this
            # commit's removed list is now dead weight — retire it here
            # rather than letting reads anti-join dangling sidecars until
            # the next compact. Sidecars that also mask untouched files
            # stay live (their rows for rewritten files match nothing,
            # harmlessly); legacy sidecars without recorded targets are
            # only retired by compact.
            removed_set = {f.path for f in touched}
            dv_retired = sorted(
                rel
                for rel, tgts in cur_dv_targets.items()
                if rel in cur_dvs and tgts and set(tgts) <= removed_set
            )
            payload = {
                "op": "delete" if delete else "merge",
                "added": added,
                "removed": [f.path for f in touched],
                "key_col": key_col,
                "txn": {"app": txn[0], "batch": txn[1]} if txn else None,
                "schema": written_schema,
                "dv_removed": dv_retired,
                "info": info,
            }
            if txn is not None:
                last = self.last_txn_batch(txn[0], as_of=base)
                if last is not None and txn[1] <= last:
                    return base
            if self._try_publish(payload, base + 1):
                self._maybe_auto_checkpoint(base + 1)
                return base + 1
            # lost the race: the snapshot we rewrote is stale → recompute
        raise ConflictError(f"merge lost {max_retries} commit races on {self.root}")

    # -- maintenance -------------------------------------------------------

    def compact(
        self,
        spark: SparkSession,
        key_col: str | None = None,
        target_files: int = 1,
        max_retries: int = 5,
        cluster_by: str | None = None,
    ) -> int:
        """Bin-pack the current live files into ``target_files`` — a
        data-identical commit (adds the packed files, removes every live
        one), the small-files maintenance pass every streaming-ingest
        table needs. Readers pinned to older versions are untouched
        (their files stay until vacuum). Loses a commit race → recompute
        against the new snapshot, like merge.

        ``cluster_by`` (r10, the OPTIMIZE-with-clustering half of the
        maintenance pass): range-repartition + sort the rewrite on that
        column, so each output file covers a DISJOINT key range and its
        footer min/max becomes selective — a point or range merge then
        rewrites O(1) files instead of every file whose unsorted span
        covered the whole domain. One extra exchange over plain
        compaction (the range shuffle), amortized across every later
        stats-pruned read/merge. The ingest-order live set has each file
        spanning ~the full key range, which is what makes streaming
        tables progressively unprunable without this pass."""
        for _ in range(max_retries + 1):
            base = self.latest_version()
            live, _, cur_schema, cur_dvs, _ = self._fold_state(base)
            files = [live[k] for k in sorted(live)]
            if not files:
                raise ValueError(f"txlog table {self.root} is empty; nothing to compact")
            # compaction reads through the log schema AND the DV mask, so
            # it is the schema normalizer and the DV purge in one pass:
            # post-compact every live file physically carries the evolved
            # (wide) schema with the deleted rows physically gone
            current = self._apply_dvs(
                spark,
                self._read_files(
                    spark, [str(self.root / f.path) for f in files], cur_schema
                ),
                cur_dvs,
            )
            if cluster_by is not None:
                # disjoint ranges per output partition; the in-partition
                # sort tightens row-group stats for readers that push
                # predicates below the file level too
                current = current.repartitionByRange(
                    target_files, F.col(cluster_by)
                ).sortWithinPartitions(cluster_by)
                added = self._write_data(current, key_col, None)
            else:
                added = self._write_data(current, key_col, target_files)
            payload = {
                "op": "compact",
                "added": added,
                "removed": [f.path for f in files],
                "key_col": key_col,
                "txn": None,
                "schema": self._schema_dict(current),
                # the rewrite physically applied every DV — retire them
                # (their sidecar files become vacuum-able garbage)
                "dv_removed": sorted(cur_dvs),
            }
            if self._try_publish(payload, base + 1):
                self._maybe_auto_checkpoint(base + 1)
                return base + 1
        raise ConflictError(f"compact lost {max_retries} commit races on {self.root}")

    def vacuum(
        self, as_of_retained: int = 0, min_file_age_s: float = 3600.0
    ) -> list[str]:
        """Delete data files no commit ≥ ``as_of_retained`` references
        (plus never-committed write garbage). Returns removed rel-paths.

        ``min_file_age_s`` protects IN-FLIGHT writers: data intentionally
        lands before the commit that references it (``_write_data``), so
        an unreferenced file may belong to an append/merge that has not
        published yet — deleting it would make that writer's commit
        reference missing files and break reads of the new version. Files
        younger than the threshold are skipped (the Delta
        ``deletedFileRetentionDuration`` pattern); pass ``0`` only when
        writers are known quiescent."""
        import time

        referenced: set[str] = set()  # live (data or DV) at ANY retained version
        for v in range(as_of_retained, self.latest_version() + 1):
            live, _, _, dvs, _ = self._fold_state(v)
            referenced.update(live)
            referenced.update(dvs)
        cutoff = time.time() - min_file_age_s
        removed = []
        for pattern in ("data-*/", "dv-*/"):
            for sub in self.root.glob(pattern):
                for p in sub.glob("*.parquet"):
                    rel = f"{sub.name}/{p.name}"
                    if rel not in referenced and p.stat().st_mtime <= cutoff:
                        p.unlink()
                        removed.append(rel)
        return removed


def foreach_batch_merge(
    table: TxLogTable, key_col: str, app: str, target_files: int | None = None
):
    """``foreachBatch`` sink: exactly-once MERGE into a TxLogTable. The
    (app, epoch_id) txn id makes Structured Streaming's replayed batches
    no-ops, upgrading at-least-once delivery to exactly-once table state."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        table.merge(
            batch_df.sparkSession,
            batch_df,
            key_col,
            txn=(app, int(epoch_id)),
            target_files=target_files,
        )

    return sink
