"""Round-5 late additions V: funnel analytics, engagement streaks, corpus
rewrite reconstruction, and serving-cache audits.

- ``q79`` is the classic strictly-ordered conversion funnel
  (view → click → purchase): each stage admits a user only if the stage
  event happens *after* their previous-stage timestamp — the product
  question every event warehouse answers first, and the one shape the
  attribution family (q74/q75: credit assignment) and the path miner
  (q76: unordered frequency) do not cover.
- ``q80`` is gaps-and-islands: each user's longest run of consecutive
  active days, reported as a streak-length histogram — retention's
  per-user intensity counterpart to q71's cohort view.
- ``t33`` executes the dedup REWRITE that t26 only plans: the corpus is
  split into non-overlapping token blocks, every block that re-occurs
  anywhere keeps only its globally-first occurrence, and each document is
  reconstructed from its surviving blocks (C4-style span dedup applied,
  not just measured). The md5 of the rebuilt text makes the
  transformation itself hash-verifiable against the oracle.
- ``t36`` closes the SPLIT side of dedup: t05/t21 assign documents to
  train/val/test independently, so the two sides of a near-duplicate
  pair can land in different splits — eval contamination that document-
  level hashing cannot prevent. Cluster-aware assignment (every member
  inherits its d06 cluster representative's split) keeps near-dup
  clusters atomic, and the query MEASURES the difference: leaked
  cross-split pairs under the naive policy vs zero under the
  cluster-aware one.
- ``s17`` sweeps the IVF latency/recall knob: recall@10 at every
  nprobe setting from ONE shared corpus assignment — the tuning curve
  that sizes an ANN deployment (s06r proves one operating point).
- ``s16`` audits incremental ANN-index maintenance: a delta of new
  vectors is routed onto the BASE corpus's (seeded) IVF centroids and
  each cell reports its growth — the freshness/rebalance report an index
  rebuild scheduler consumes. s06r proves the routing is right; s16 is
  the operation a serving fleet actually runs between full retrains.
- ``t35`` audits prefix-cache effectiveness for LLM serving: documents
  sharing an exact leading-token prefix can reuse one KV-cache entry;
  the saved-token ranking is the standard sizing input for prefix/RAG
  cache tiers (vLLM-style automatic prefix caching).

Reference parity: the reference repo (caesarmario/dibimbing-case-study-etl,
pandas+Postgres `scripts/`) has none of these surfaces; the family belongs
to the beyond-reference analytics / LLM-data-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from dibimbing_case_study_etl_spark.catalog import register
from dibimbing_case_study_etl_spark.functions.oracle_safe import iround, sql_iround
from dibimbing_case_study_etl_spark.functions.text import tokens
from dibimbing_case_study_etl_spark.queries import query

# --- q79: strictly-ordered conversion funnel ------------------------------

_Q79_US_PER_HOUR = 3_600_000_000.0


@query(
    "q79_funnel_conversion",
    oracle=f"""
    WITH e AS (SELECT user_id, event_type, ts FROM events),
    v AS (
      SELECT user_id, MIN(ts) AS t1 FROM e WHERE event_type = 'view'
      GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(v.t1) AS t1, MIN(e.ts) AS t2
      FROM e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(c.t2) AS t2, MIN(e.ts) AS t3
      FROM e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id
    ),
    m AS (SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n1,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n2,
      (SELECT CAST(SUM(date_diff('microsecond', t1, t2)) AS BIGINT) FROM c) AS s21,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n3,
      (SELECT CAST(SUM(date_diff('microsecond', t2, t3)) AS BIGINT) FROM p) AS s32)
    SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage, n1 AS n_users,
           CAST(1 AS DOUBLE) AS conv_from_prev, CAST(1 AS DOUBLE) AS conv_from_top,
           CAST(NULL AS DOUBLE) AS avg_hours_from_prev
    FROM m
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'click', n2,
           {sql_iround("CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1 ELSE 0 END", 6)},
           {sql_iround("CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1 ELSE 0 END", 6)},
           CASE WHEN n2 > 0 THEN
             {sql_iround(f"CAST(s21 AS DOUBLE) / n2 / CAST({int(_Q79_US_PER_HOUR)} AS DOUBLE)", 4)}
           END
    FROM m
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'purchase', n3,
           {sql_iround("CASE WHEN n2 > 0 THEN CAST(n3 AS DOUBLE) / n2 ELSE 0 END", 6)},
           {sql_iround("CASE WHEN n1 > 0 THEN CAST(n3 AS DOUBLE) / n1 ELSE 0 END", 6)},
           CASE WHEN n3 > 0 THEN
             {sql_iround(f"CAST(s32 AS DOUBLE) / n3 / CAST({int(_Q79_US_PER_HOUR)} AS DOUBLE)", 4)}
           END
    FROM m
    """,
    tags=("relational", "events", "funnel"),
    bench=True,
)
def q79_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered view → click → purchase funnel: a user reaches a
    stage only via an event later than their previous-stage entry time
    (first view, then first click after it, then first purchase after
    that). Per stage: user count, step/top conversion rates, and the mean
    hours spent between stages.

    Scale: the corpus-sized work is three user-keyed partial aggregates
    and two user-keyed equi-joins — every shuffle is on ``user_id`` (AQE
    skew-splittable), nothing ever sorts globally or collects per-user
    event arrays (an unbounded-fan-in ``collect_list(events)`` per user is
    the standard funnel anti-pattern at 100 TB; the min-after-join chain
    never materializes more than one timestamp per user per stage). The
    stage table is one single-row global aggregate over the stage-tagged
    users, exploded into rows on the driver-free plan side.
    """
    t = register(spark, sf_dir, ("events",))
    e = t["events"].select("user_id", "event_type", "ts")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .localCheckpoint()  # consumed by the click join AND n1 (eager: see c)
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("t1").alias("t1"), F.min("ts").alias("t2"))
        # consumed by the purchase join AND the stage aggregate; eager, so
        # a broadcast thread never computes a lazy checkpoint
        # while the DAG scheduler does (a JVM deadlock seen under load)
        .localCheckpoint()
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c.select("user_id", "t2"), "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("t2").alias("t2"), F.min("ts").alias("t3"))
    )
    us = lambda a, b: F.unix_micros(F.col(b)) - F.unix_micros(F.col(a))  # noqa: E731
    # n1, n2/s21 and n3/s32 from ONE global aggregate over the stage-tagged
    # users (d = microseconds since the previous stage)
    staged = (
        v.select(F.lit(1).alias("stage"), F.lit(None).cast("bigint").alias("d"))
        .unionByName(c.select(F.lit(2).alias("stage"), us("t1", "t2").alias("d")))
        .unionByName(p.select(F.lit(3).alias("stage"), us("t2", "t3").alias("d")))
    )
    at = lambda k, col: F.when(F.col("stage") == k, col)  # noqa: E731
    m = staged.agg(
        F.count(at(1, F.lit(1))).alias("n1"),
        F.count(at(2, F.lit(1))).alias("n2"),
        F.sum(at(2, F.col("d"))).alias("s21"),
        F.count(at(3, F.lit(1))).alias("n3"),
        F.sum(at(3, F.col("d"))).alias("s32"),
    )
    hours = lambda s, n: F.when(  # noqa: E731
        F.col(n) > 0,
        iround(F.col(s).cast("double") / F.col(n) / F.lit(_Q79_US_PER_HOUR), 4),
    )
    rate = lambda num, den: F.when(  # noqa: E731
        F.col(den) > 0, iround(F.col(num).cast("double") / F.col(den), 6)
    ).otherwise(F.lit(0.0))
    null_d = F.lit(None).cast("double")
    stage = lambda i, name, n_users, c_prev, c_top, avg_h: F.struct(  # noqa: E731
        F.lit(i).cast("bigint").alias("stage_idx"),
        F.lit(name).alias("stage"),
        F.col(n_users).alias("n_users"),
        c_prev.alias("conv_from_prev"),
        c_top.alias("conv_from_top"),
        avg_h.alias("avg_hours_from_prev"),
    )
    return m.select(
        F.explode(
            F.array(
                stage(1, "view", "n1", F.lit(1.0), F.lit(1.0), null_d),
                stage(2, "click", "n2", rate("n2", "n1"), rate("n2", "n1"), hours("s21", "n2")),
                stage(3, "purchase", "n3", rate("n3", "n2"), rate("n3", "n1"), hours("s32", "n3")),
            )
        ).alias("r")
    ).select("r.*")


# --- q80: longest consecutive-day activity streaks ------------------------


@query(
    "q80_activity_streaks",
    oracle="""
    WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    isl AS (
      SELECT user_id,
             d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER) AS g
      FROM d
    ),
    st AS (SELECT user_id, g, COUNT(*) AS len FROM isl GROUP BY user_id, g),
    mx AS (SELECT user_id, CAST(MAX(len) AS BIGINT) AS best FROM st GROUP BY user_id)
    SELECT best AS streak_len, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM mx GROUP BY best ORDER BY streak_len
    """,
    tags=("relational", "events", "window"),
)
def q80_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day active streak per user (gaps-and-islands:
    ``active_date - row_number()`` is constant exactly along a run of
    consecutive days), reported as a streak-length histogram — the
    engagement-intensity audit that q71's cohort retention (calendar
    buckets) cannot express.

    Scale: the only corpus-sized stage is the ``DISTINCT (user, day)``
    partial aggregate (combiner collapses each user-day to one row before
    the shuffle). The island window partitions by user and is bounded by
    days-per-user (≤ a few thousand rows even for a bot), so no skewed
    window partition exists; everything after runs on per-user-day then
    per-user tables.
    """
    t = register(spark, sf_dir, ("events",))
    d = (
        t["events"]
        .select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
    )
    isl = d.select(
        "user_id",
        F.date_sub(
            F.col("d"),
            F.row_number().over(W.partitionBy("user_id").orderBy("d")),
        ).alias("g"),
    )
    st = isl.groupBy("user_id", "g").agg(F.count(F.lit(1)).alias("len"))
    mx = st.groupBy("user_id").agg(F.max("len").cast("bigint").alias("best"))
    return (
        mx.groupBy(F.col("best").alias("streak_len"))
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("streak_len")
    )


# --- t33: block-level dedup rewrite with document reconstruction ----------

_T33_W = 16  # tokens per non-overlapping block


@query(
    "t33_chunk_dedup_reconstruct",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS w FROM documents
    ),
    occ AS (
      SELECT doc_id, CAST((s - 1) / {_T33_W} AS BIGINT) AS b,
             array_to_string(list_slice(w, s, s + {_T33_W} - 1), ' ') AS chunk
      FROM tok, unnest(generate_series(1, greatest(len(w), 1), {_T33_W})) AS u(s)
    ),
    flagged AS (
      SELECT doc_id, b, chunk,
             CASE WHEN ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, b) = 1
                  THEN 1 ELSE 0 END AS kept
      FROM occ
    ),
    agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(SUM(kept) AS BIGINT) AS n_kept,
             COALESCE(string_agg(CASE WHEN kept = 1 THEN chunk END, ' ' ORDER BY b), '')
               AS rebuilt
      FROM flagged GROUP BY doc_id
    )
    SELECT doc_id, n_chunks, n_kept,
           md5(rebuilt) AS rebuilt_md5,
           CAST(length(rebuilt) AS BIGINT) AS n_chars_kept
    FROM agg
    """,
    tags=("llm", "dedup", "rewrite"),
    bench=True,
)
def t33_chunk_dedup_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the C4-style span-dedup REWRITE: split every document into
    non-overlapping {w}-token blocks, keep only the globally-FIRST
    occurrence (min ``(doc_id, block_idx)``) of every distinct block, and
    reconstruct each document from its surviving blocks. Output is the
    per-document rewrite receipt — block counts plus the md5 and length of
    the rebuilt text, so the transformation itself (not just its
    accounting, which is t26's job) is value-verified against the oracle.

    Scale shape (cost O(corpus tokens), never O(docs²)):

    1. ONE scan tokenizes and emits block occurrences; the occurrence set
       is ``localCheckpoint``-ed because two consumers read it (the keeper
       aggregate and the join-back — the d12/t26 lesson).
    2. the keeper is ``min(struct(doc_id, b))`` per 64-bit block hash — a
       partial-aggregable min, so a boilerplate block that floods the
       corpus costs one partial row per input partition (the oracle's
       ``row_number() over (partition by chunk)`` formulation would put
       the hottest block's every occurrence in one window task; AQE can
       split a skewed JOIN but not a skewed WINDOW).
    3. occurrences ⋈ keeper on the 8-byte hash (build side unique-per-key,
       AQE-skew-splittable); blocks shuffle as 8-byte keys, never as
       strings. At ~10¹² blocks the 64-bit key needs widening to two
       independent hashes (the oracle groups by the block text itself, so
       the key is engine-internal).
    4. reconstruction is one doc-keyed aggregate whose ``collect_list`` is
       bounded by document length — never corpus-fan-in.
    """.format(w=_T33_W)
    t = register(spark, sf_dir, ("documents",))
    w = F.col("__w")
    n = F.size(w)
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(_T33_W))
    occ = (
        t["documents"]
        .select("doc_id", tokens(F.col("text")).alias("__w"))
        .select("doc_id", w, F.explode(starts).alias("__s"))
        .select(
            "doc_id",
            ((F.col("__s") - 1) / _T33_W).cast("bigint").alias("b"),
            F.array_join(F.slice(w, F.col("__s"), _T33_W), " ").alias("chunk"),
        )
        .withColumn("key", F.xxhash64("chunk"))
        .localCheckpoint(eager=False)
    )
    keep = occ.groupBy("key").agg(F.min(F.struct("doc_id", "b")).alias("k"))
    j = occ.join(keep, "key").withColumn(
        "kept",
        (F.col("doc_id") == F.col("k.doc_id")) & (F.col("b") == F.col("k.b")),
    )
    agg = j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("kept").cast("bigint")).alias("n_kept"),
        F.array_sort(F.collect_list(F.struct("b", "kept", "chunk"))).alias("cl"),
    )
    rebuilt = F.array_join(
        F.transform(
            F.filter(F.col("cl"), lambda x: x["kept"]), lambda x: x["chunk"]
        ),
        " ",
    )
    return agg.select(
        "doc_id",
        "n_chunks",
        "n_kept",
        F.md5(rebuilt).alias("rebuilt_md5"),
        F.length(rebuilt).cast("bigint").alias("n_chars_kept"),
    )


# --- t36: near-dup-cluster-aware train/val/test split ----------------------


def _t36_oracle() -> str:
    from dibimbing_case_study_etl_spark.functions.text import sql_fingerprint
    from dibimbing_case_study_etl_spark.queries.llm_ops import _SQL_SHINGLE_CTE

    split_case = (
        f"CASE WHEN {sql_fingerprint('text')} % 100 < 80 THEN 'train' "
        f"WHEN {sql_fingerprint('text')} % 100 < 90 THEN 'val' "
        "ELSE 'test' END"
    )
    return f"""
    WITH RECURSIVE {_SQL_SHINGLE_CTE},
    prs AS (
      SELECT doc_a, doc_b FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common / (sa.n + sb.n - n_common) >= 0.8
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM prs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM prs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    labels AS (
      SELECT d.doc_id,
             LEAST(d.doc_id, COALESCE(MIN(r.dst), d.doc_id)) AS cluster_id
      FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
      GROUP BY d.doc_id
    ),
    sp AS (SELECT doc_id, {split_case} AS s FROM documents),
    asn AS (
      SELECT l.doc_id, n.s AS naive_s, c.s AS cl_s
      FROM labels l
      JOIN sp n ON n.doc_id = l.doc_id
      JOIN sp c ON c.doc_id = l.cluster_id
    ),
    nv AS (SELECT naive_s AS split, CAST(COUNT(*) AS BIGINT) AS n_docs_naive
           FROM asn GROUP BY naive_s),
    cl AS (SELECT cl_s AS split, CAST(COUNT(*) AS BIGINT) AS n_docs_cluster
           FROM asn GROUP BY cl_s),
    lk AS (
      SELECT a.naive_s AS split,
             CAST(SUM(CASE WHEN a.naive_s <> b.naive_s THEN 1 ELSE 0 END) AS BIGINT)
               AS leaked_pairs_naive,
             CAST(SUM(CASE WHEN a.cl_s <> b.cl_s THEN 1 ELSE 0 END) AS BIGINT)
               AS leaked_pairs_cluster
      FROM prs p JOIN asn a ON a.doc_id = p.doc_a JOIN asn b ON b.doc_id = p.doc_b
      GROUP BY a.naive_s
    )
    SELECT nv.split, nv.n_docs_naive,
           COALESCE(cl.n_docs_cluster, 0) AS n_docs_cluster,
           COALESCE(lk.leaked_pairs_naive, 0) AS leaked_pairs_naive,
           COALESCE(lk.leaked_pairs_cluster, 0) AS leaked_pairs_cluster
    FROM nv LEFT JOIN cl ON cl.split = nv.split LEFT JOIN lk ON lk.split = nv.split
    ORDER BY nv.split
    """


@query(
    "t36_cluster_aware_split",
    oracle=_t36_oracle(),
    tags=("llm", "dedup", "sampling", "decontamination"),
)
def t36_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-cluster-aware train/val/test split: every document
    inherits the split of its d06 cluster REPRESENTATIVE (the min-id
    member), so a near-dup cluster is assigned atomically — the leakage
    t21's document-level hash split cannot prevent (the two sides of a
    near-dup pair hash independently). The query measures both policies:
    per-split document counts AND cross-split near-dup pairs — nonzero
    under the naive t05 rule, structurally zero under the cluster-aware
    rule (both pair members share a representative by construction; the
    measured zero is the audit).

    Scale: the pair set comes from the LSH scale path (d03's banded
    candidates, exact-Jaccard-verified; the pair-set equality against the
    quadratic oracle is d03's own hash-checked claim) and is checkpointed
    once for its two consumers (label propagation + leakage count — the
    g02 lesson). Labels propagate over the touched subgraph only (d06's
    pruned fixpoint). The split rule stays the cross-engine fingerprint,
    so even the assignment is oracle-checked; the rep's split reaches
    members through one cluster_id-keyed equi-join, and every report
    table after that is 3 rows."""
    from dibimbing_case_study_etl_spark.functions.text import fingerprint
    from dibimbing_case_study_etl_spark.operators.dedup import (
        dedup_clusters,
        minhash_lsh_pairs,
    )

    t = register(spark, sf_dir, ("documents",))
    docs = t["documents"]
    pairs = (
        minhash_lsh_pairs(docs, "doc_id", "text", k=3, threshold=0.8)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)  # consumers: label prop + leakage count
    )
    labels = dedup_clusters(docs, pairs, "doc_id")
    bucket = fingerprint("text") % 100
    sp = docs.select(
        "doc_id",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("s"),
    )
    asn = (
        labels.join(sp, "doc_id")
        .withColumnRenamed("s", "naive_s")
        .join(
            sp.select(F.col("doc_id").alias("cluster_id"), F.col("s").alias("cl_s")),
            "cluster_id",
        )
        .select("doc_id", "naive_s", "cl_s")
        .localCheckpoint(eager=False)  # consumers: nv, cl, both leakage sides
    )
    nv = asn.groupBy(F.col("naive_s").alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs_naive")
    )
    cl = asn.groupBy(F.col("cl_s").alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs_cluster")
    )
    lk = (
        pairs.join(
            asn.select(
                F.col("doc_id").alias("doc_a"),
                F.col("naive_s").alias("a_n"),
                F.col("cl_s").alias("a_c"),
            ),
            "doc_a",
        )
        .join(
            asn.select(
                F.col("doc_id").alias("doc_b"),
                F.col("naive_s").alias("b_n"),
                F.col("cl_s").alias("b_c"),
            ),
            "doc_b",
        )
        .groupBy(F.col("a_n").alias("split"))
        .agg(
            F.sum((F.col("a_n") != F.col("b_n")).cast("bigint")).alias(
                "leaked_pairs_naive"
            ),
            F.sum((F.col("a_c") != F.col("b_c")).cast("bigint")).alias(
                "leaked_pairs_cluster"
            ),
        )
    )
    return (
        nv.join(cl, "split", "left")
        .join(lk, "split", "left")
        .select(
            "split",
            "n_docs_naive",
            F.coalesce("n_docs_cluster", F.lit(0)).alias("n_docs_cluster"),
            F.coalesce("leaked_pairs_naive", F.lit(0)).alias("leaked_pairs_naive"),
            F.coalesce("leaked_pairs_cluster", F.lit(0)).alias("leaked_pairs_cluster"),
        )
        .orderBy("split")
    )


# --- s16: incremental ANN index merge / rebalance audit --------------------

_S16_NCELLS = 16
_S16_MOD = 8  # vec_id % mod == 0 → the "newly arrived" delta slice


@query(
    "s16_delta_index_merge",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             CASE WHEN vec_id % {_S16_MOD} = 0 THEN 1 ELSE 0 END AS is_delta
      FROM embeddings
    ),
    cents AS (
      SELECT vec_id AS cell, v AS cv FROM vecs WHERE is_delta = 0
      ORDER BY vec_id LIMIT {_S16_NCELLS}
    ),
    scored AS (
      SELECT vecs.vec_id, vecs.is_delta, cents.cell,
             least(1.0, greatest(-1.0, list_cosine_similarity(v, cv))) AS sim
      FROM vecs CROSS JOIN cents
    ),
    asg AS (
      SELECT vec_id, is_delta, cell FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
        FROM scored
      ) WHERE rn = 1
    ),
    percell AS (
      SELECT cell,
             CAST(SUM(1 - is_delta) AS BIGINT) AS n_base,
             CAST(SUM(is_delta) AS BIGINT) AS n_delta
      FROM asg GROUP BY cell
    ),
    tot AS (SELECT CAST(SUM(n_base + n_delta) AS BIGINT) AS total FROM percell)
    SELECT cell, n_base, n_delta,
           {sql_iround("CAST(n_delta AS DOUBLE) / (n_base + n_delta)", 6)} AS delta_frac,
           CASE WHEN (n_base + n_delta) * {_S16_NCELLS} > 2 * total
                THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS resplit_flag
    FROM percell, tot
    ORDER BY cell
    """,
    tags=("llm", "similarity", "ivf", "maintenance"),
)
def s16_delta_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN-index maintenance audit: new vectors (the delta
    slice, ``vec_id % {m} == 0``) are routed onto the BASE corpus's seeded
    IVF centroids (s06r's structure: {c} lowest-id base vectors, clamped
    sequential cosine, sim-then-cell tie-break) without retraining; each
    cell reports base/delta occupancy, the delta fraction, and a
    rebalance flag (cell > 2× the uniform share) — the report an index
    rebuild scheduler consumes to decide which cells to re-split.

    Scale: centroids broadcast ({c} rows); the corpus-sized stage is one
    scan exploded ×{c} against the broadcast, immediately collapsed by a
    partial-aggregable ``max(struct(sim, -cell))`` argmax per vector —
    the combiner folds the {c} candidate rows map-side, so only one row
    per vector reaches the shuffle (s06r's window-rank formulation sorts
    per vec_id; the agg form is the 100 TB shape). Everything after runs
    on the {c}-row cell table (checkpointed once for its two consumers).
    """.format(m=_S16_MOD, c=_S16_NCELLS)
    from dibimbing_case_study_etl_spark.functions.vector import as_double, cosine

    t = register(spark, sf_dir, ("embeddings",))
    e = t["embeddings"].select(
        "vec_id",
        as_double(F.col("embedding")).alias("__v"),
        (F.col("vec_id") % _S16_MOD == 0).cast("bigint").alias("is_delta"),
    )
    cents = (
        e.filter(F.col("is_delta") == 0)
        .orderBy("vec_id")
        .limit(_S16_NCELLS)
        .select(F.col("vec_id").alias("cell"), F.col("__v").alias("__cent"))
    )
    scored = e.join(F.broadcast(cents), F.lit(True)).select(
        "vec_id",
        "is_delta",
        "cell",
        cosine(F.col("__v"), F.col("__cent")).alias("sim"),
    )
    asg = (
        scored.groupBy("vec_id")
        .agg(
            F.max(F.struct(F.col("sim"), (-F.col("cell")).alias("nc"))).alias("b"),
            F.first("is_delta").alias("is_delta"),
        )
        .select("vec_id", "is_delta", (-F.col("b.nc")).alias("cell"))
    )
    percell = (
        asg.groupBy("cell")
        .agg(
            F.sum(1 - F.col("is_delta")).alias("n_base"),
            F.sum("is_delta").alias("n_delta"),
        )
        .localCheckpoint(eager=False)  # two consumers: total agg + report
    )
    tot = F.broadcast(
        percell.agg(F.sum(F.col("n_base") + F.col("n_delta")).alias("total"))
    )
    return (
        percell.crossJoin(tot)
        .select(
            "cell",
            "n_base",
            "n_delta",
            iround(
                F.col("n_delta").cast("double") / (F.col("n_base") + F.col("n_delta")), 6
            ).alias("delta_frac"),
            (
                (F.col("n_base") + F.col("n_delta")) * _S16_NCELLS > 2 * F.col("total")
            )
            .cast("bigint")
            .alias("resplit_flag"),
        )
        .orderBy("cell")
    )


# --- s17: IVF nprobe→recall tuning curve -----------------------------------

_S17_PROBES = (1, 2, 4, 8)
_S17_K = 10


@query(
    "s17_ivf_nprobe_recall_curve",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cents AS (
      SELECT vec_id AS cell, v AS cv FROM vecs ORDER BY vec_id LIMIT {_S16_NCELLS}
    ),
    q_assign AS (
      SELECT vec_id, v, cell, rn FROM (
        SELECT vecs.vec_id, vecs.v, cents.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY vecs.vec_id
                 ORDER BY least(1.0, greatest(-1.0, list_cosine_similarity(v, cv))) DESC,
                          cell) AS rn
        FROM vecs CROSS JOIN cents WHERE vecs.vec_id < {_S17_K}
      ) WHERE rn <= {max(_S17_PROBES)}
    ),
    c_assign AS (
      SELECT vec_id, v, cell FROM (
        SELECT vecs.vec_id, vecs.v, cents.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY vecs.vec_id
                 ORDER BY least(1.0, greatest(-1.0, list_cosine_similarity(v, cv))) DESC,
                          cell) AS rn
        FROM vecs CROSS JOIN cents
      ) WHERE rn = 1
    ),
    cand AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(MIN(q.rn) AS BIGINT) AS crank,
             MAX(least(1.0, greatest(-1.0, list_cosine_similarity(q.v, c.v)))) AS sim
      FROM q_assign q JOIN c_assign c USING (cell)
      WHERE c.vec_id <> q.vec_id
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY least(1.0, greatest(-1.0, list_cosine_similarity(q.v, c.v))) DESC,
                          c.vec_id) AS r
        FROM (SELECT * FROM vecs WHERE vec_id < {_S17_K}) q
        JOIN vecs c ON c.vec_id <> q.vec_id
      ) WHERE r <= {_S17_K}
    ),
    nq AS (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries FROM exact),
    per_p AS (
      SELECT pr.p AS nprobe, query_id, neighbor_id,
             ROW_NUMBER() OVER (
               PARTITION BY pr.p, query_id ORDER BY sim DESC, neighbor_id) AS r
      FROM cand, unnest([{", ".join(str(p) for p in _S17_PROBES)}]) AS pr(p)
      WHERE crank <= pr.p
    ),
    ov AS (
      SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS overlap_sum
      FROM per_p JOIN exact USING (query_id, neighbor_id)
      WHERE r <= {_S17_K} GROUP BY nprobe
    ),
    ps AS (SELECT CAST(unnest([{", ".join(str(p) for p in _S17_PROBES)}]) AS BIGINT) AS nprobe)
    SELECT ps.nprobe,
           COALESCE(ov.overlap_sum, 0) AS overlap_sum,
           nq.n_queries,
           {sql_iround(f"CAST(COALESCE(ov.overlap_sum, 0) AS DOUBLE) / ({_S17_K} * nq.n_queries)", 4)}
             AS mean_recall
    FROM ps CROSS JOIN nq LEFT JOIN ov ON ov.nprobe = ps.nprobe
    ORDER BY ps.nprobe
    """,
    tags=("llm", "similarity", "ivf", "tuning"),
)
def s17_ivf_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF serving tuning curve: recall@{k} at nprobe ∈ {probes}
    against the exact cosine top-{k} — the measurement that sizes an ANN
    deployment's latency/recall trade (s06r proves one operating point;
    this sweeps the knob).

    Scale — one corpus pass for ALL nprobe settings: the corpus assigns
    to its nearest seeded cell ONCE (broadcast centroids; partial-
    aggregable ``max(struct)`` argmax, one row per vector to the
    shuffle), each candidate pair is tagged with the MINIMUM probe rank
    that discovers it, and every nprobe setting derives by FILTER on that
    tag — no per-setting re-scan, no per-setting shuffle of the corpus.
    The exact side is one brute-force pass for the bounded query set
    (s01's contract). Everything after runs on the candidate table
    (queries × probed-cell members).
    """.format(k=_S17_K, probes=list(_S17_PROBES))
    from dibimbing_case_study_etl_spark.functions.vector import as_double, cosine

    t = register(spark, sf_dir, ("embeddings",))
    e = t["embeddings"].select("vec_id", as_double(F.col("embedding")).alias("v"))
    cents = (
        e.orderBy("vec_id")
        .limit(_S16_NCELLS)
        .select(F.col("vec_id").alias("cell"), F.col("v").alias("__cent"))
    )
    scored = e.join(F.broadcast(cents), F.lit(True)).select(
        "vec_id", "v", "cell", cosine(F.col("v"), F.col("__cent")).alias("sim")
    )
    c_assign = (
        scored.groupBy("vec_id")
        .agg(
            F.max(F.struct(F.col("sim"), (-F.col("cell")).alias("nc"))).alias("b"),
            F.first("v").alias("v"),
        )
        .select("vec_id", "v", (-F.col("b.nc")).alias("cell"))
    )
    qs = e.filter(F.col("vec_id") < _S17_K)
    wq = W.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cell"))
    q_assign = (
        qs.join(F.broadcast(cents), F.lit(True))
        .select("vec_id", "v", "cell", cosine(F.col("v"), F.col("__cent")).alias("sim"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= max(_S17_PROBES))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("__qv"),
            "cell",
            F.col("rn").cast("bigint").alias("rn"),
        )
    )
    cand = (
        c_assign.join(F.broadcast(q_assign), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rn",
            cosine(F.col("__qv"), F.col("v")).alias("sim"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.min("rn").alias("crank"), F.max("sim").alias("sim"))
    )
    wx = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    exact = (
        e.join(
            F.broadcast(qs.select(F.col("vec_id").alias("query_id"), F.col("v").alias("__qv"))),
            F.lit(True),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("__qv"), F.col("v")).alias("sim"),
        )
        .withColumn("r", F.row_number().over(wx))
        .filter(F.col("r") <= _S17_K)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)  # consumers: overlap join + n_queries
    )
    nq = F.broadcast(
        exact.agg(F.countDistinct("query_id").cast("bigint").alias("n_queries"))
    )
    wp = W.partitionBy("nprobe", "query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    per_p = (
        cand.select(
            "*",
            F.explode(F.array([F.lit(p).cast("bigint") for p in _S17_PROBES])).alias(
                "nprobe"
            ),
        )
        .filter(F.col("crank") <= F.col("nprobe"))
        .withColumn("r", F.row_number().over(wp))
        .filter(F.col("r") <= _S17_K)
    )
    ov = per_p.join(exact, ["query_id", "neighbor_id"]).groupBy("nprobe").agg(
        F.count(F.lit(1)).alias("overlap_sum")
    )
    ps = nq.select(
        F.explode(F.array([F.lit(p).cast("bigint") for p in _S17_PROBES])).alias("nprobe"),
        "n_queries",
    )
    return (
        ps.join(ov, "nprobe", "left")
        .select(
            "nprobe",
            F.coalesce("overlap_sum", F.lit(0)).alias("overlap_sum"),
            "n_queries",
            iround(
                F.coalesce("overlap_sum", F.lit(0)).cast("double")
                / (_S17_K * F.col("n_queries")),
                4,
            ).alias("mean_recall"),
        )
        .orderBy("nprobe")
    )


# --- t35: serving prefix-cache audit ---------------------------------------

_T35_P = 4  # leading tokens forming the cacheable prefix
_T35_TOPK = 20


@query(
    "t35_prefix_cache_audit",
    oracle=f"""
    WITH tok AS (
      SELECT regexp_split_to_array(trim(text), ' +') AS w FROM documents
    ),
    pre AS (
      SELECT array_to_string(list_slice(w, 1, {_T35_P}), ' ') AS prefix,
             least({_T35_P}, len(w)) AS plen
      FROM tok
    ),
    g AS (
      SELECT prefix,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(MIN(plen) AS BIGINT) AS prefix_tokens
      FROM pre GROUP BY prefix
    )
    SELECT prefix, n_docs, prefix_tokens,
           (n_docs - 1) * prefix_tokens AS saved_tokens
    FROM g
    ORDER BY saved_tokens DESC, prefix
    LIMIT {_T35_TOPK}
    """,
    tags=("llm", "serving", "cache"),
)
def t35_prefix_cache_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-cache sizing audit for LLM serving: documents (prompts)
    sharing an exact leading-{p}-token prefix can reuse one KV-cache
    entry (vLLM-style automatic prefix caching); each group saves
    ``(n_docs − 1) × prefix_tokens`` prefill tokens. Top-{k} prefixes by
    saved tokens, fully tie-broken.

    Scale: one scan, one hash aggregate on the short prefix string (the
    combiner collapses each partition's repeats before the shuffle — the
    group count, not the corpus, crosses the wire), and a
    ``TakeOrderedAndProject`` top-{k} — no global sort ever materializes.
    """.format(p=_T35_P, k=_T35_TOPK)
    t = register(spark, sf_dir, ("documents",))
    w = tokens(F.col("text"))
    pre = t["documents"].select(
        F.array_join(F.slice(w, 1, _T35_P), " ").alias("prefix"),
        F.least(F.lit(_T35_P), F.size(w)).alias("plen"),
    )
    g = pre.groupBy("prefix").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("plen").cast("bigint").alias("prefix_tokens"),
    )
    return (
        g.select(
            "prefix",
            "n_docs",
            "prefix_tokens",
            ((F.col("n_docs") - 1) * F.col("prefix_tokens")).alias("saved_tokens"),
        )
        .orderBy(F.desc("saved_tokens"), F.asc("prefix"))
        .limit(_T35_TOPK)
    )
