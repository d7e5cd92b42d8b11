"""Sequence packing for LLM pretraining: concatenate the corpus in a
deterministic pseudo-random order and chunk it into fixed-length training
sequences (the standard GPT-style "concat and chunk" loader), computing for
each document which sequences it lands in.

The core primitive is a DISTRIBUTED PREFIX SUM — the global running token
count in the packing order — built so no stage ever sees more than one
bucket's rows:

0. the input is materialized once; its partition count (sized by bytes
   upstream: file splits, AQE coalescing) is the default bucket count;
1. estimate ``num_buckets - 1`` boundary values of the ordering key with
   one ``approxQuantile`` pass (driver state: the boundary list; skipped
   for a single bucket), and
   assign every row a bucket id with a deterministic comparison
   expression — NOT ``repartitionByRange``, whose sampled boundaries
   differ between the two executions below and would silently mismatch
   offsets to rows;
2. one aggregate computes each bucket's token total (``num_buckets``
   rows — KB-scale even with 100k buckets), which the driver turns into
   exclusive offsets and broadcasts back; their sum is the grand total
   :func:`prefix_sum_with_total` returns;
3. rows shuffle once on the bucket id (a single bucket merges the
   partitions without a shuffle); an Arrow-batched pass computes the
   running sum inside each bucket (rows of a bucket are contiguous and
   sorted within a partition) and adds the bucket's offset.

Bucket skew affects only balance, never correctness: the final cumsum is a
function of the total order alone. The packing order (content fingerprint,
doc id) is a deterministic shuffle — reproducible across runs and engines,
uncorrelated with ingestion order — which is also what makes the DuckDB
oracle (a plain ``SUM() OVER (ORDER BY ...)``) well-defined. A naive Spark
window over a global ORDER BY would collapse to a single partition — the
one thing this operator exists to avoid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dibimbing_case_study_etl_spark.functions.text import fingerprint, token_count


def prefix_sum(
    df: DataFrame,
    value_col: str,
    order_cols: list[str],
    out_col: str = "cum",
    num_buckets: int | None = None,
) -> DataFrame:
    """Inclusive prefix sum of ``value_col`` over the total order given by
    ``order_cols`` (which must be a unique key; the FIRST order column is
    used for range bucketing), without a single-partition window. Output =
    input columns + ``out_col``. See :func:`prefix_sum_with_total`, which
    also returns the grand total."""
    return prefix_sum_with_total(df, value_col, order_cols, out_col, num_buckets)[0]


def prefix_sum_with_total(
    df: DataFrame,
    value_col: str,
    order_cols: list[str],
    out_col: str = "cum",
    num_buckets: int | None = None,
) -> tuple[DataFrame, int]:
    """:func:`prefix_sum` plus the grand total of ``value_col`` (the last
    row's ``out_col``; 0 for an empty input), which the driver already
    holds after the bucket-totals pass — a caller that needs it uses the
    literal instead of re-aggregating the output.

    Bucket count: ``num_buckets`` when given, else the partition count of
    the materialized input. File splits and AQE partition coalescing
    already size that count by bytes, so a small input gets one bucket —
    no quantile pass and no shuffle — and a large one gets as many as its
    upstream stage had tasks. The result is exact for any bucket count.

    Driver state is one boundary + one offset per bucket — bounded by the
    bucket count, not the data."""
    import pandas as pd

    # Three passes read this input (quantile estimation, bucket totals,
    # the bucketed shuffle) — materialize it once. Callers hand in narrow
    # projections (id, ordering key, value), so the checkpoint stores a
    # few longs per row; without it, an expensive ordering key (t11's
    # per-character rolling-hash fingerprint) is recomputed per pass.
    df = df.localCheckpoint(eager=True)

    key = order_cols[0]
    n_buckets = num_buckets or max(df.rdd.getNumPartitions(), 1)
    probs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = sorted(set(df.approxQuantile(key, probs, 0.001))) if probs else []

    # bucket id = number of boundaries strictly below the key — the same
    # deterministic expression in every pass, so offsets always match rows
    # (same-key rows can never straddle a bucket).
    if bounds:
        barr = F.array(*[F.lit(b) for b in bounds])
        bucket = F.size(F.filter(barr, lambda b: F.col(key) > b))
    else:
        bucket = F.lit(0)
    wb = df.withColumn("__bkt", bucket)

    totals = {
        r["__bkt"]: r["tot"]
        for r in wb.groupBy("__bkt").agg(F.sum(value_col).alias("tot")).collect()
    }
    offsets = {}
    acc = 0
    for b in sorted(totals):
        offsets[b] = acc
        acc += totals[b]

    # one bucket: every row goes to one task anyway, so merge partitions
    # in place instead of shuffling them there
    grouped = wb.coalesce(1) if n_buckets == 1 else wb.repartition(n_buckets, "__bkt")
    parts = grouped.sortWithinPartitions("__bkt", *order_cols)

    # per-bucket running sum + bucket offset (pure map stage; a partition
    # may hold several whole buckets — hash collisions — but never a
    # partial one, and rows of each bucket arrive contiguous and ordered)
    def add_offsets(batches):
        run: dict[int, int] = {}  # carry across Arrow batches within a task
        for pdf in batches:
            if len(pdf) == 0:
                continue
            grp = pdf.groupby("__bkt", sort=False)[value_col]
            base = pdf["__bkt"].map(lambda b: run.get(int(b), offsets[int(b)]))
            cum = grp.cumsum() + base
            for b, g in pdf.groupby("__bkt", sort=False):
                run[int(b)] = int(cum[g.index[-1]])
            out = pdf.drop(columns="__bkt")
            out[out_col] = cum
            yield out

    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"{out_col} bigint"]
    )
    return parts.mapInPandas(add_offsets, schema=schema), int(acc)


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_len: int = 512,
) -> DataFrame:
    """Concat-and-chunk packing plan: in fingerprint order, documents are
    concatenated and cut every ``seq_len`` tokens; each document reports
    the first and last training sequence it occupies (a document spanning
    a boundary appears in both — exactly how pretraining loaders split).

    Returns (id, n_tokens, first_seq, last_seq, n_seqs)."""
    base = df.select(
        F.col(id_col),
        fingerprint(text_col).alias("__fp"),
        token_count(F.col(text_col)).alias("n_tokens"),
    )
    cum = prefix_sum(base, "n_tokens", ["__fp", id_col], out_col="__cum_end")
    return cum.select(
        id_col,
        "n_tokens",
        F.floor((F.col("__cum_end") - F.col("n_tokens")) / seq_len)
        .cast("bigint")
        .alias("first_seq"),
        F.floor((F.col("__cum_end") - 1) / seq_len).cast("bigint").alias("last_seq"),
        (
            F.floor((F.col("__cum_end") - 1) / seq_len)
            - F.floor((F.col("__cum_end") - F.col("n_tokens")) / seq_len)
            + 1
        )
        .cast("bigint")
        .alias("n_seqs"),
    )
