"""Test-table catalog: load the driver-generated TPC-H-ish parquet tables
and register them as temp views so both the DataFrame builders and
``spark.sql`` queries can address them by name.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}/``.

Schema reuse. ``spark.read.parquet(path)`` without a schema runs one
Spark job (Parquet footer inference) each time it is called, so every
query build used to pay one job per table it reads. ``load_table`` keeps
the ``StructType`` Spark inferred the first time and reads later builds
with ``spark.read.schema(s).parquet(path)``, which runs none.

- Only metadata is reused: every build still lists and reads the files.
- The entry is keyed by the absolute path and the session confs that
  change what inference returns (``_INFERENCE_CONFS``, among them
  ``spark.sql.legacy.parquet.nanosAsLong``, which the ``events`` probe
  sets). It is stamped with the file identity: size and ``st_mtime_ns``
  of the file, or of every file under a directory.
- The schema is inferred again when that stamp changes (the file was
  rewritten), when an inference conf differs, and for paths that are not
  local (``scheme://`` URIs), which are never cached.
- There is one entry per (path, conf values), so the cache is bounded by
  the tables read, not by the number of builds or sessions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Session confs that change the schema Parquet inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
)
# (abspath, conf values) -> (file stamp, inferred schema). Racing loads of
# one table at worst both infer; each dict get/set is atomic.
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _file_stamp(path: str) -> tuple | None:
    """(size, st_mtime_ns) of a file, or of every file under a directory;
    None for a path that is missing or not local."""
    if "://" in path:
        return None
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return ((st.st_size, st.st_mtime_ns),)
        out = []
        for d, _, names in os.walk(path):
            for n in names:
                st = os.stat(os.path.join(d, n))
                out.append((os.path.relpath(os.path.join(d, n), path), st.st_size, st.st_mtime_ns))
        return tuple(sorted(out))
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema inferred once per file
    identity and session inference confs (see the module docstring)."""
    stamp = _file_stamp(path)
    if stamp is None:
        return spark.read.parquet(path)
    key = (os.path.abspath(path), tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS))
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (stamp, df.schema)
    return df


def _parquet_ts_unit(path: str) -> str | None:
    """Cheap footer probe: the time unit ('ns' | 'us' | 'ms' | 's') of the
    ``ts`` column, or None when the probe can't tell (missing column,
    directory layout pyarrow can't open, no pyarrow)."""
    try:
        import pyarrow.parquet as pq

        field = pq.read_schema(path).field("ts")
        return getattr(field.type, "unit", None)
    except Exception:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # Driver-generated events.parquet has shipped in two physical
        # flavors; handle both and normalize to one logical schema
        # (ts: TimestampType, session tz pinned UTC) so every downstream
        # query sees the same types regardless of data version:
        #  * INT64 TIMESTAMP(NANOS) — Spark's parquet reader rejects it
        #    outright, so read nanos as long and truncate to micros (the
        #    same nanos→micros truncation DuckDB applies, keeping the
        #    oracle comparison exact). The conf must stay set for the
        #    lifetime of the plan (footers are re-read at execution), so
        #    only set it when the footer probe shows nanos.
        #  * INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false) — Spark 4.x
        #    reads it as TIMESTAMP_NTZ (spark.sql.parquet.inferTimestampNTZ
        #    default true); cast to session-TZ timestamp. The session tz is
        #    pinned UTC below, so the NTZ→LTZ cast is semantics-preserving
        #    vs the UTC-naive data and the DuckDB oracle.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        path = table_path(sf_dir, name)
        unit = _parquet_ts_unit(path)
        if unit == "ns":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = _read_parquet(spark, path)
        elif unit is not None:
            df = _read_parquet(spark, path)
        else:
            # Probe couldn't tell (no pyarrow / multi-file dir): try the
            # plain read, and on Spark's TIMESTAMP(NANOS) rejection retry
            # with the legacy conf — same behavior the probe would have
            # picked, just discovered the expensive way.
            try:
                df = _read_parquet(spark, path)
            except Exception:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
                df = _read_parquet(spark, path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer DIV, not `/` — float division loses exactness at 1e18 ns
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, table_path(sf_dir, name))


def register(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Register each table as a temp view named after itself; returns the
    DataFrames. Re-registration is cheap (metadata only) and idempotent."""
    # timestamp semantics (hour/date_trunc/year...) must match the UTC-naive
    # parquet data and the DuckDB oracle regardless of the caller's session
    # defaults — pin the session timezone here, where every query passes.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
