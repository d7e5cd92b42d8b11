"""Training-shard writer — the last mile of the training-data pipeline:
turn a cleaned corpus into numbered, size-bounded, manifest-audited
parquet shards a data loader can stream.

Contract:

- **Deterministic sharding**: documents order by content fingerprint
  (the same reproducible corpus order t11's packing uses), and the shard
  id is ``first_seq // seqs_per_shard`` — re-running on the same corpus
  reproduces byte-identical shard membership, so a training run can be
  resumed or exactly replayed from the manifest.
- **Bounded shards**: each shard covers a fixed window of training
  sequences (``seqs_per_shard × seq_len`` tokens ± one document of
  spill), so loaders can size download/prefetch buffers.
- **Audited**: the manifest records per-shard document/token counts and
  an order-insensitive content checksum, plus corpus totals. Manifest
  state is O(shards) on the driver — never rows.
- **Atomic-enough**: shards write under Spark's normal job commit (temp
  dir + rename); the manifest is written LAST, so a reader that requires
  the manifest never observes a partial corpus.

Reference parity: the reference's loaders land parquet then upsert to a
warehouse (`scripts/load_parquet_to_postgres_l1.py`); a training pipeline
lands shards + manifest instead — same landing-zone discipline, different
consumer.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dibimbing_case_study_etl_spark.operators.packing import pack_sequences

# underscore prefix: Spark's file index ignores _-prefixed files (same
# convention as _SUCCESS), so the manifest can live inside the shard dir
# without breaking parquet read-back
MANIFEST_NAME = "_manifest.json"


def _write_static_overwrite(rows: DataFrame, path: str) -> None:
    """Partitioned overwrite that truncates the target path first (static
    mode), saving/restoring the session's partitionOverwriteMode — the
    session default is dynamic (right for upserts, wrong for whole-corpus
    landings, where surplus partitions from a previous landing must go)."""
    spark = rows.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        rows.write.mode("overwrite").partitionBy("shard").parquet(path)
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        else:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_len: int = 512,
    seqs_per_shard: int = 64,
) -> dict:
    """Write ``df`` as numbered training shards under ``path`` and return
    the manifest (also written to ``path/_manifest.json``).

    Layout: ``path/shard=<n>/*.parquet`` with columns
    ``(doc_id, text, n_tokens, first_seq, last_seq)``; a document whose
    token span crosses a shard boundary lands in the shard of its FIRST
    sequence (loaders that need the tail re-read the next shard's head —
    the standard pretraining-loader convention).

    Scale: the packing plan is t11's distributed prefix sum (no global
    window); the shard column is pure arithmetic on it; the write is one
    partitioned parquet job under STATIC overwrite — the whole corpus
    landing replaces the whole path. Static matters: under the session's
    dynamic default, re-landing a smaller/resharded corpus would leave
    the previous landing's surplus ``shard=N`` directories in place, the
    read-back manifest would silently fold those stale documents into
    its totals, and verify_shards would still report green — contaminated
    training data with no signal. The manifest aggregation is one groupBy
    over O(shards) groups.
    """
    packed = pack_sequences(df, id_col=id_col, text_col=text_col, seq_len=seq_len)
    shard = (F.col("first_seq") / seqs_per_shard).cast("bigint").alias("shard")
    rows = (
        df.select(id_col, text_col)
        .join(packed.select(id_col, "n_tokens", "first_seq", "last_seq"), id_col)
        .select(id_col, text_col, "n_tokens", "first_seq", "last_seq", shard)
    )
    _write_static_overwrite(rows, path)

    back = df.sparkSession.read.parquet(path)
    stats = (
        back.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            # order-insensitive content checksum: XOR of per-row hashes via
            # the partial-aggregable bit_xor — constant memory per group
            # (the r1-r4 collect_list fold built an O(docs-per-shard) array
            # per shard before folding)
            F.expr(f"bit_xor(hash({id_col}, n_tokens))").cast("long").alias("checksum"),
        )
        .orderBy("shard")
        .collect()
    )
    manifest = {
        "seq_len": seq_len,
        "seqs_per_shard": seqs_per_shard,
        "id_col": id_col,
        "n_shards": len(stats),
        "total_docs": int(sum(r["n_docs"] for r in stats)),
        "total_tokens": int(sum(r["n_tokens"] for r in stats)),
        "shards": [
            {
                "shard": int(r["shard"]),
                "n_docs": int(r["n_docs"]),
                "n_tokens": int(r["n_tokens"]),
                "checksum": int(r["checksum"]),
            }
            for r in stats
        ],
    }
    with open(os.path.join(path, MANIFEST_NAME), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def verify_shards(spark, path: str) -> dict:
    """Re-derive the manifest's per-shard stats from the parquet files and
    compare — the loader-side integrity check. Returns
    ``{"ok": bool, "mismatches": [shard, ...]}``; missing manifest raises.
    """
    with open(os.path.join(path, MANIFEST_NAME)) as f:
        manifest = json.load(f)
    id_col = manifest.get("id_col", "doc_id")  # recorded since r5
    back = spark.read.parquet(path)
    actual = {
        int(r["shard"]): (int(r["n_docs"]), int(r["n_tokens"]), int(r["checksum"]))
        for r in back.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.expr(f"bit_xor(hash({id_col}, n_tokens))").cast("long").alias("checksum"),
        )
        .collect()
    }
    mismatches = []
    for s in manifest["shards"]:
        if actual.get(s["shard"]) != (s["n_docs"], s["n_tokens"], s["checksum"]):
            mismatches.append(s["shard"])
    extra = set(actual) - {s["shard"] for s in manifest["shards"]}
    mismatches.extend(sorted(extra))
    return {"ok": not mismatches, "mismatches": mismatches}


STREAM_MANIFEST_NAME = "_stream_manifest.json"


def land_shard_stream(
    spark,
    src_path: str,
    out_path: str,
    checkpoint: str,
    seq_len: int = 512,
    seqs_per_shard: int = 64,
    min_tokens: int = 5,
) -> dict:
    """Streaming twin of :func:`write_training_shards`: as document files
    land, each micro-batch is hygiene-passed (PII scrub + quality gate —
    the ``documents_stream`` map) and written as self-contained shards
    under ``out_path/ingest_batch=<id>/shard=<n>/`` with a per-batch
    manifest entry. Runs with ``availableNow`` and returns the manifest.

    Exactly-once: the checkpoint makes each batch id fire once per epoch;
    a retried batch OVERWRITES its own ``ingest_batch=<id>`` directory
    (idempotent — partial output from a failed attempt is replaced, never
    appended to) and its manifest entry is keyed by batch id, so replays
    converge. Shards are packed WITHIN the batch (per-batch prefix sum):
    the shard-per-ingest-window layout a continuous feed needs — no
    global repack of the existing corpus when new data arrives, which is
    the property that makes this O(new data) instead of O(corpus).

    Single-writer contract: one stream owns ``out_path`` (plain Parquet
    sinks have no commit protocol; multi-writer tables use ``TxLogTable``).
    """
    from dibimbing_case_study_etl_spark.streaming.documents_stream import (
        hygiene_pass,
        read_document_stream,
    )

    clean = hygiene_pass(read_document_stream(spark, src_path), min_tokens=min_tokens)
    kept = clean.filter("keep").select("doc_id", F.col("clean_text").alias("text"))

    manifest_path = os.path.join(out_path, STREAM_MANIFEST_NAME)

    def land(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        packed = pack_sequences(batch_df, id_col="doc_id", text_col="text", seq_len=seq_len)
        shard = (F.col("first_seq") / seqs_per_shard).cast("bigint").alias("shard")
        rows = (
            batch_df.join(
                packed.select("doc_id", "n_tokens", "first_seq", "last_seq"), "doc_id"
            ).select("doc_id", "text", "n_tokens", "first_seq", "last_seq", shard)
        )
        batch_dir = os.path.join(out_path, f"ingest_batch={batch_id}")
        # static overwrite: a replayed batch must REPLACE its directory
        # wholesale — under dynamic mode a retry that packs fewer shards
        # would leave the failed attempt's surplus shard dirs in place
        _write_static_overwrite(rows, batch_dir)

        stats = (
            batch_df.sparkSession.read.parquet(batch_dir)
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("n_tokens"))
            .orderBy("shard")
            .collect()
        )
        entry = {
            "n_docs": int(sum(r["n_docs"] for r in stats)),
            "n_tokens": int(sum(r["n_tokens"] for r in stats)),
            "shards": [int(r["shard"]) for r in stats],
        }
        existing = {}
        if os.path.exists(manifest_path):
            with open(manifest_path) as f:
                existing = json.load(f)
        existing[str(batch_id)] = entry  # keyed replace ⇒ replay converges
        with open(manifest_path, "w") as f:
            json.dump(existing, f, indent=1)

    q = (
        kept.writeStream.foreachBatch(land)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    return {}
