"""Similarity search over an embedding column (north star).

- :func:`cosine_topk`      — exact brute-force top-k per query (the
                             correctness baseline; cost O(|Q|·|corpus|)
                             with the query side broadcast).
- :func:`lsh_cosine_topk`  — random-hyperplane (signed random projection)
                             LSH bucketing, exact re-rank within candidate
                             buckets: the 100 TB path (cost ~ bucket sizes,
                             not |corpus|). Approximate: recall measured in
                             tests against the brute-force baseline.

Hyperplanes are generated from a fixed-seed LCG (no numpy state, no
runtime randomness) so plans are deterministic and replayable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dibimbing_case_study_etl_spark.functions.vector import as_double, clamp_unit, cosine, dot, norm


from dibimbing_case_study_etl_spark.operators.dedup import _spread  # noqa: E402
# (data-proportional hash-spread before CPU-heavy per-row vector math —
#  one shared implementation; see dedup._spread for the sizing rationale)

_BLOCK_TARGET_BYTES = 32 << 20  # packed vectors per GEMM block row


def _auto_blocks(df: DataFrame, floor: int) -> int:
    """Data-proportional block count for the block-GEMM family
    (cosine_pairs / cosine_histogram / knn_graph): each block packs
    ~|corpus|/nblocks vectors into ONE aggregate row, so a fixed default
    stops fitting the moment the corpus outgrows executor memory (and
    ultimately the 2 GB row limit). Size from catalyst's plan-time
    estimate at ~32 MB of packed vectors per block, floored at the
    operator's small-corpus default. Same stats-sentinel discipline as
    :func:`dedup._spread_partitions` (≥1 PiB estimates are "unknown",
    not "huge"). Block count changes partitioning only — the scored pair
    set and histogram are block-layout-invariant."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        unknown = int(
            df.sparkSession.conf.get("spark.sql.defaultSizeInBytes", str(1 << 62))
        )
        if est <= 0 or est >= min(unknown, 1 << 50):
            est = 0
    except Exception:
        est = 0
    return max(floor, min(est // _BLOCK_TARGET_BYTES, 100_000))


# Driver-side collects of a query/sample side are only legal when that side
# is small BY CONTRACT (it becomes broadcast model state). The contract is
# enforced, not assumed: _collect_small raises past this bound instead of
# silently OOMing the driver at scale.
MAX_QUERY_ROWS = 65_536


def _collect_small(df: DataFrame, what: str, limit: int = MAX_QUERY_ROWS) -> list:
    rows = df.limit(limit + 1).collect()
    if len(rows) > limit:
        raise ValueError(
            f"{what} has more than {limit} rows — it is collected to the driver "
            "and broadcast as model state, which only works for a small query/"
            "sample side. Partition the queries (e.g. run in batches) instead."
        )
    return rows


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-``k`` cosine neighbors per query vector.

    Plan: broadcast the (small) query side against the corpus scan (spread
    across all cores), norms precomputed once per vector instead of per
    pair, dot product JVM-side, per-query top-k via ranking window. Total
    order (score desc, neighbor id) makes results deterministic under ties.
    The cosine arithmetic (sequential double accumulation, sqrt per side)
    is unchanged by the precompute, so values stay oracle-bitwise-equal.

    ``exclude_self`` (default True) drops ``query_id == neighbor_id`` rows —
    correct for self-search, where queries come from the corpus id space.
    Pass False when queries and corpus are DIFFERENT tables whose ids may
    coincide, or a legitimate neighbor is silently lost to the id collision.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("__qv"),
    ).withColumn("__qn", norm(F.col("__qv")))
    c = _spread(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("__cv"),
    ).withColumn("__cn", norm(F.col("__cv")))
    cond = (F.col("query_id") != F.col("neighbor_id")) if exclude_self else F.lit(True)
    scored = (
        c.join(F.broadcast(q), cond)
        .withColumn("cos_sim", clamp_unit(dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn"))))
        .select("query_id", "neighbor_id", "cos_sim")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    nblocks: int | None = None,
) -> DataFrame:
    """All vector pairs (a < b) with cosine ≥ ``threshold`` — exact all-pairs
    baseline (O(n²) compute by construction; the LSH path buckets first).

    Two phases:

    1. **Blocked-GEMM prefilter** (distributed, no driver collect): vectors
       are packed into ``nblocks`` block rows, block pairs cross-joined
       (upper triangle only), and each block pair scored with one numpy
       matmul inside ``mapInPandas``. Pairs scoring ≥ threshold − 1e-6
       survive; the margin is ~8 orders of magnitude wider than the worst
       reordering error of a 64-dim double dot product, so no true pair is
       lost.
    2. **Exact rescore** of the surviving pairs with the JVM sequential-
       accumulation cosine — bitwise-identical values and threshold
       membership to the naive pair join, at ~candidate cost.

    Scale: compute stays O(n²) (it is the exact baseline), but data
    movement is O(n·nblocks) and every matmul is cache-blocked BLAS
    instead of per-pair JVM lambda evaluation (~100× throughput).
    """
    import numpy as np
    import pandas as pd

    nblocks = nblocks or _auto_blocks(df, floor=32)
    e = _spread(df, id_col).select(
        F.col(id_col).alias("__id"), as_double(F.col(vec_col)).alias("__v")
    )
    blocks = e.groupBy(F.pmod(F.xxhash64("__id"), F.lit(nblocks)).alias("__b")).agg(
        F.collect_list(F.struct("__id", "__v")).alias("rows")
    )

    def score_blocks(batches):
        for pdf in batches:
            out_a, out_b = [], []
            for rows_a, rows_b, same in zip(pdf["rows_a"], pdf["rows_b"], pdf["same"]):
                ids_a = np.array([r["__id"] for r in rows_a], dtype=np.int64)
                ids_b = np.array([r["__id"] for r in rows_b], dtype=np.int64)
                m_a = np.array([r["__v"] for r in rows_a], dtype=np.float64)
                m_b = np.array([r["__v"] for r in rows_b], dtype=np.float64)
                m_a /= np.linalg.norm(m_a, axis=1, keepdims=True)
                m_b /= np.linalg.norm(m_b, axis=1, keepdims=True)
                sims = m_a @ m_b.T
                ia, ib = np.nonzero(sims >= threshold - 1e-6)
                pa, pb = ids_a[ia], ids_b[ib]
                if same:
                    keep = pa < pb
                    pa, pb = pa[keep], pb[keep]
                else:
                    pa, pb = np.minimum(pa, pb), np.maximum(pa, pb)
                out_a.append(pa)
                out_b.append(pb)
            yield pd.DataFrame(
                {
                    "vec_a": np.concatenate(out_a) if out_a else np.array([], dtype=np.int64),
                    "vec_b": np.concatenate(out_b) if out_b else np.array([], dtype=np.int64),
                }
            )

    ba, bb = blocks.alias("ba"), blocks.alias("bb")
    block_pairs = (
        ba.join(bb, F.col("ba.__b") <= F.col("bb.__b"))
        .select(
            F.col("ba.rows").alias("rows_a"),
            F.col("bb.rows").alias("rows_b"),
            (F.col("ba.__b") == F.col("bb.__b")).alias("same"),
        )
        # spread the GEMMs: block-pair rows are few-but-heavy, and AQE's
        # byte-based coalescing would otherwise serialize them onto one task
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
    )
    candidates = block_pairs.mapInPandas(score_blocks, schema="vec_a long, vec_b long")

    # exact rescore: values + threshold membership decided by the same JVM
    # sequential-accumulation arithmetic as the naive pair join
    ea = e.select(F.col("__id").alias("vec_a"), F.col("__v").alias("__va")).withColumn(
        "__na", norm(F.col("__va"))
    )
    eb = e.select(F.col("__id").alias("vec_b"), F.col("__v").alias("__vb")).withColumn(
        "__nb", norm(F.col("__vb"))
    )
    return (
        candidates.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            clamp_unit(dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def cosine_topk_blas(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-``k`` cosine neighbors via Arrow-batched numpy matmul —
    the throughput path for brute-force scoring (BLAS does the
    query×corpus-block product ~100× faster than per-pair JVM lambdas).

    The query matrix broadcasts to every partition as a plain Python
    closure (small by assumption); each corpus partition streams through
    one GEMM per Arrow batch. Results are NOT bitwise-equal to
    :func:`cosine_topk` (BLAS reorders the accumulation), so this variant
    is for serving, while cosine_topk remains the oracle-checked baseline;
    tests assert the rankings agree.
    """
    import numpy as np
    import pandas as pd

    q_rows = _collect_small(queries.select(id_col, vec_col), "cosine_topk_blas query side")
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)

    c = _spread(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )

    def score(batches):
        for pdf in batches:
            c_mat = np.array(list(pdf["__cv"]), dtype=np.float64)
            c_mat /= np.linalg.norm(c_mat, axis=1, keepdims=True)
            sims = c_mat @ q_mat.T  # (batch, n_queries)
            n = len(pdf)
            out = {
                "query_id": np.repeat(q_ids, n),
                "neighbor_id": pd.concat([pdf["neighbor_id"]] * len(q_ids)).to_numpy(),
                "cos_sim": sims.T.reshape(-1),
            }
            yield pd.DataFrame(out)

    scored = c.mapInPandas(score, schema="query_id long, neighbor_id long, cos_sim double")
    scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _hyperplanes(dim: int, nbits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-gaussian hyperplanes: sum of 4 LCG uniforms - 2
    (Irwin–Hall approximation) — fixed stream, no RNG object."""
    state = seed
    planes: list[list[float]] = []
    for _ in range(nbits):
        v: list[float] = []
        for _ in range(dim):
            acc = 0.0
            for _ in range(4):
                state = (state * 6_364_136_223_846_793_005 + 1_442_695_040_888_963_407) % (2**63)
                acc += state / float(2**63)
            v.append(acc - 2.0)
        planes.append(v)
    return planes


def lsh_signature(df: DataFrame, vec_col: str, nbits: int = 16, seed: int = 42, dim: int = 64):
    """Append an ``nbits``-bit signed-random-projection signature column.

    Expression-tree hygiene (the planning-cost discipline from
    ``functions/text._with_tokens``): the old form summed ``nbits``
    shiftleft terms, each re-inlining the vector cast and a ``dim``-literal
    plane array — the analyzer re-walks every copy (~6 s of pure planning
    at nbits=16, dim=64). The vector now binds ONCE as a lambda variable;
    the planes ride along as one 2-D literal; bit weights come from a
    single fold carrying (signature, 2^j) — identical signature values,
    O(nbits·dim) tree instead of O(nbits·dim) per term."""
    planes = _hyperplanes(dim, nbits, seed)
    # NB: the explicit CreateArray form measured faster end-to-end than a
    # single F.lit(planes) Literal (4.3s vs 7.0s fresh-build) — keep it.
    planes_lit = F.array(*[F.array(*[F.lit(x) for x in p]) for p in planes])

    def build(v):
        bits = F.transform(
            planes_lit,
            lambda p: F.when(
                F.aggregate(F.zip_with(v, p, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x)
                >= 0,
                F.lit(1).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint")),
        )
        return F.aggregate(
            bits,
            F.struct(F.lit(0).cast("bigint").alias("s"), F.lit(1).cast("bigint").alias("m")),
            lambda acc, b: F.struct(
                (acc["s"] + b * acc["m"]).alias("s"), (acc["m"] * F.lit(2)).alias("m")
            ),
            lambda acc: acc["s"],
        )

    sig = F.element_at(F.transform(F.array(as_double(F.col(vec_col))), build), 1)
    return df.withColumn("__sig", sig)


def lsh_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nbits: int = 16,
    bands: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-``k``: candidates share ≥1 LSH signature band with the
    query (equi-join on (band, value) — the shuffle key is 2 small ints),
    then exact cosine re-rank within candidates. Same output schema as
    :func:`cosine_topk`."""
    width = nbits // bands
    mask = (1 << width) - 1

    def banded(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
        with_sig = lsh_signature(df, vec_col, nbits=nbits, dim=dim)
        return with_sig.select(
            F.col(id_col).alias(id_alias),
            F.col(vec_col).alias(vec_alias),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"),
                            F.shiftright("__sig", i * width).bitwiseAND(F.lit(mask)).alias("val"),
                        )
                        for i in range(bands)
                    ]
                )
            ).alias("bv"),
        ).select(id_alias, vec_alias, F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))

    qb = banded(queries, "query_id", "__qv")
    cb = banded(corpus, "neighbor_id", "__cv")
    cand = (
        cb.join(F.broadcast(qb), ["band", "val"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "__qv", "__cv")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.withColumn("cos_sim", cosine(F.col("__qv"), F.col("__cv"))).select(
        "query_id", "neighbor_id", "cos_sim"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def ivf_fit_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ncells: int = 16,
    iters: int = 2,
):
    """Deterministic IVF coarse quantizer: init centroids from the
    ``ncells`` lowest-id vectors, refine with ``iters`` distributed Lloyd
    passes (assignment via numpy mapInPandas, update via per-dimension
    grouped means). Only the ncells×dim centroid matrix ever reaches the
    driver — model state, not data.

    Returns a plain list-of-lists centroid matrix (unit-normalized rows).
    """
    import numpy as np

    seed_rows = (
        corpus.select(id_col, as_double(F.col(vec_col)).alias("__v"))
        .orderBy(id_col)
        .limit(ncells)
        .collect()
    )
    cents = np.array([r["__v"] for r in seed_rows], dtype=np.float64)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)

    vecs = _spread(corpus, id_col).select(
        F.col(id_col).alias("__id"), as_double(F.col(vec_col)).alias("__v")
    )
    for _ in range(iters):
        assigned = _assign_cells(vecs, cents, nprobe=1).select(
            F.col("__id"), F.col("cell"), F.col("__v")
        )
        dim_means = (
            assigned.select("cell", F.posexplode("__v").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new = cents.copy()
        by_cell: dict[int, dict[int, float]] = {}
        for r in dim_means:
            by_cell.setdefault(r["cell"], {})[r["dim"]] = r["m"]
        for cell, dims in by_cell.items():
            v = np.array([dims[d] for d in sorted(dims)], dtype=np.float64)
            n = np.linalg.norm(v)
            if n > 0:
                new[cell] = v / n
        cents = new
    return [list(row) for row in cents]


def _assign_cells(vecs: DataFrame, cents, nprobe: int) -> DataFrame:
    """Append the ``nprobe`` nearest (by cosine) centroid ids to each
    vector row: one numpy matmul per Arrow batch against the broadcast
    centroid matrix, exploded to (row, cell) pairs."""
    import numpy as np
    import pandas as pd

    c_mat = np.array(cents, dtype=np.float64)

    def assign(batches):
        for pdf in batches:
            m = np.array(list(pdf["__v"]), dtype=np.float64)
            m = m / np.linalg.norm(m, axis=1, keepdims=True)
            sims = m @ c_mat.T
            order = np.argsort(-sims, axis=1)[:, :nprobe]
            yield pd.DataFrame(
                {
                    "__id": np.repeat(pdf["__id"].to_numpy(), nprobe),
                    "__v": [v for v in pdf["__v"] for _ in range(nprobe)],
                    "cell": order.reshape(-1),
                }
            )

    return vecs.mapInPandas(assign, schema="__id long, __v array<double>, cell int")


def ivf_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    ncells: int = 16,
    nprobe: int = 8,
    iters: int = 2,
) -> DataFrame:
    """Approximate top-``k`` via an IVF (inverted-file) index: corpus
    vectors live in their nearest centroid cell; each query probes its
    ``nprobe`` nearest cells and scores exact cosine only within them.

    Scale: the cell equi-join shuffles on a small-int key; scan cost per
    query drops from |corpus| to ~|corpus|·nprobe/ncells. ncells grows as
    √n at scale (the centroid matrix stays driver-resident model state).
    Same output schema as :func:`cosine_topk`; recall vs the exact
    baseline is pinned in tests (approximate — no SQL oracle by design).
    """
    cents = ivf_fit_centroids(corpus, id_col, vec_col, ncells=ncells, iters=iters)

    c = _assign_cells(
        _spread(corpus, id_col).select(
            F.col(id_col).alias("__id"), as_double(F.col(vec_col)).alias("__v")
        ),
        cents,
        nprobe=1,
    ).select(F.col("__id").alias("neighbor_id"), F.col("__v").alias("__cv"), "cell")
    q = _assign_cells(
        queries.select(F.col(id_col).alias("__id"), as_double(F.col(vec_col)).alias("__v")),
        cents,
        nprobe=nprobe,
    ).select(F.col("__id").alias("query_id"), F.col("__v").alias("__qv"), "cell")

    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cos_sim", cosine(F.col("__qv"), F.col("__cv")))
        .select("query_id", "neighbor_id", "cos_sim")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _assign_cells_seeded(
    vecs: DataFrame, cent_rows: list, nprobe: int, id_name: str, vec_name: str
) -> DataFrame:
    """Nearest-``nprobe``-centroid assignment for the SEEDED twins (d11r /
    s06r) with selection EXACTLY equal to the former
    ``cosine(vec, cent)`` broadcast join + ``row_number`` window
    (``__csim`` desc, ``cell`` asc) — r12, guide §4.2: the JVM
    higher-order-function cosine is CodegenFallback (interpreted, boxing
    every element), so the assign step paid ncells × n interpreted
    64-dim folds plus a window shuffle of the n × ncells scored rows.
    One Arrow batch kernel replaces both: dots and norms accumulate
    SEQUENTIAL-IN-K (operation-for-operation the `functions.vector`
    fold, so every cosine is bitwise-identical), the clamp matches
    ``clamp_unit``, zero-norm vectors raise (ANSI divide-by-zero
    contract), non-finite elements raise (the JVM clamp ranked a NaN
    cosine first, numpy's lexsort ranks it last — rather than silently
    probe other cells, fail), and the per-row top-``nprobe`` uses the
    window's exact total order via lexsort on (cos desc, cell asc). ``cent_rows`` is
    the collected (cell_id, vector) seed list — ncells rows of model
    state, the same driver-side footprint `ivf_fit_centroids` already
    carries for the production path."""
    import numpy as np
    import pandas as pd

    cell_ids = np.array([r[0] for r in cent_rows], dtype=np.int64)
    C = np.array([r[1] for r in cent_rows], dtype=np.float64)
    ncells, d = C.shape
    if not np.isfinite(C).all():
        raise ValueError(
            "non-finite seed centroid element — filter NaN/Inf vectors upstream"
        )
    ncsq = np.zeros(ncells)
    for k in range(d):
        col = C[:, k]
        ncsq += col * col
    cnrm = np.sqrt(ncsq)
    if (cnrm == 0.0).any():
        raise ValueError(
            "zero-norm seed centroid — filter degenerate vectors upstream "
            "(ANSI fail-fast contract)"
        )
    k_take = min(nprobe, ncells)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.array(list(pdf[vec_name]), dtype=np.float64)
            if not np.isfinite(M).all():
                raise ValueError(
                    "non-finite embedding element in centroid assignment — "
                    "filter NaN/Inf vectors upstream"
                )
            n = len(pdf)
            D = np.zeros((n, ncells))
            nsq = np.zeros(n)
            for k in range(d):
                mc = M[:, k]
                D += mc[:, None] * C[:, k][None, :]
                nsq += mc * mc
            nrm = np.sqrt(nsq)
            if (nrm == 0.0).any():
                raise ValueError(
                    "zero-norm embedding in centroid assignment — filter "
                    "degenerate vectors upstream (ANSI fail-fast contract)"
                )
            cos = D / (nrm[:, None] * cnrm[None, :])
            np.minimum(cos, 1.0, out=cos)
            np.maximum(cos, -1.0, out=cos)
            # row_number over (desc __csim, asc cell): lexsort is ascending
            # on the LAST key first — (-cos primary, cell secondary)
            order = np.lexsort(
                (np.broadcast_to(cell_ids, (n, ncells)), -cos), axis=1
            )[:, :k_take]
            yield pd.DataFrame(
                {
                    id_name: np.repeat(pdf[id_name].to_numpy(), k_take),
                    vec_name: [v for v in pdf[vec_name] for _ in range(k_take)],
                    "cell": cell_ids[order].reshape(-1),
                }
            )

    return vecs.mapInPandas(
        assign, schema=f"{id_name} long, {vec_name} array<double>, cell long"
    )


def _collect_seed_cents(
    corpus: DataFrame, id_col: str, vec_col: str, ncells: int
) -> list:
    """The ``ncells`` lowest-id corpus vectors as driver-side model state
    (one top-k job — the same bounded collect `ivf_fit_centroids` does)."""
    return (
        corpus.orderBy(id_col)
        .limit(ncells)
        .select(F.col(id_col).cast("long"), as_double(F.col(vec_col)))
        .collect()
    )


def ivf_cosine_topk_seeded(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    ncells: int = 16,
    nprobe: int = 8,
) -> DataFrame:
    """:func:`ivf_cosine_topk` with SEEDED centroids (the ``ncells``
    lowest-id corpus vectors) and sequential-fold cosines throughout —
    the driver-hash-checkable twin of the Lloyd-refined IVF path.

    Two deliberate differences from the production operator make every
    step reproducible in plain SQL: centroids come straight from the data
    (no Lloyd refinement — its distributed means are accumulation-order-
    dependent) and cell assignment ranks with the same clamped sequential
    cosine the re-rank uses. Assignment runs in the numpy kernel
    :func:`_assign_cells_seeded`, which accumulates sequentially in k (no
    BLAS), so its cosines are bitwise-equal to the JVM fold
    (``tests/test_llm_ops.py::test_assign_cells_seeded_matches_window_form``);
    the in-cell re-rank is the JVM fold itself. Cell labels are
    the seed vectors' ids. The IVF STRUCTURE under audit is identical:
    nearest-cell corpus partitioning, ``nprobe`` probed cells per query,
    exact scoring only within probed cells, per-query top-k. Cosine is
    normalization-invariant, so seeds need no normalize step.
    """
    from dibimbing_case_study_etl_spark.functions.vector import as_double, cosine

    cent_rows = _collect_seed_cents(corpus, id_col, vec_col, ncells)

    def assign(df: DataFrame, id_alias: str, vec_alias: str, probes: int) -> DataFrame:
        # r12 (guide §4.2): numpy kernel with the window's exact total
        # order — see _assign_cells_seeded; selection and downstream
        # scores are unchanged (assignment cosines are bitwise-equal)
        return _assign_cells_seeded(
            df.select(
                F.col(id_col).alias(id_alias), as_double(F.col(vec_col)).alias(vec_alias)
            ),
            cent_rows,
            probes,
            id_alias,
            vec_alias,
        )

    c = assign(_spread(corpus, id_col), "neighbor_id", "__cv", 1)
    q = assign(queries, "query_id", "__qv", nprobe)
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cos_sim", cosine(F.col("__qv"), F.col("__cv")))
        .select("query_id", "neighbor_id", "cos_sim")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# Row-strip bound for the in-cell pair scorer below — same discipline as
# dedup's bucket-pair kernel: peak per-task memory is O(strip × m) cells,
# never the full m×m pair matrix of a degenerate cell.
_CELL_STRIP_ELEMS = 1 << 24  # 16M float64 cells ≈ 128 MB peak per strip
_CELL_EMIT_ROWS = 1 << 21
# Row budget for one collected sub-block (r12): a cell larger than this is
# salted into ceil(m / budget) hash sub-blocks and scored block-pair-wise,
# so no single collect_list row — and no single Arrow cell — ever scales
# with cell size (a degenerate hot cell at 100 TB would otherwise blow the
# 2 GB row/batch limit before the kernel ran). 8192 rows × 64 dims × 8 B
# ≈ 4 MB per block row; override for very wide embeddings.
_CELL_BLOCK_ROWS = 8192


def _cell_block_rows() -> int:
    import os

    return int(os.environ.get("SPARK_GRAFT_CELL_BLOCK_ROWS", str(_CELL_BLOCK_ROWS)))


def _cell_pair_scores(
    assigned: DataFrame, threshold: float, block_rows: int | None = None
) -> DataFrame:
    """Exact in-cell pair cosine scores for the SemDeDup family:
    ``assigned`` is (__id, __v, cell); output is every in-cell pair
    (__ra < __rb) with ``cos_sim >= threshold``.

    r11 (guide §4.2): this replaces a per-pair JVM higher-order-function
    cosine inside the cell self-join — HOFs are CodegenFallback
    (interpreted, boxing every element), and the in-cell pair count is
    quadratic, which made d11r the single most expensive registry entry
    (~166 s at sf0.1 for ~2M interpreted 64-dim cosines). The kernel
    computes the pair scores vectorized with SEQUENTIAL-IN-K
    accumulation: ``S += col_a·col_bᵀ`` accumulates each pair's dot
    product in element order, one IEEE double add per k —
    operation-for-operation the fold `functions.vector.dot` evaluates
    and DuckDB's ``list_cosine_similarity`` loop — so scores (and
    threshold membership) are BITWISE-identical to the join form
    (float multiply is commutative, so block orientation cannot flip a
    bit). Zero-norm vectors raise, matching the engine's ANSI
    divide-by-zero contract (`functions.vector.clamp_unit` docstring).

    r12 (guide §2.5/§5 — bound the row, not just the compute): a cell
    used to collect into ONE ``collect_list`` row of O(m × dim) — per-
    task *compute* was strip-bounded but a degenerate hot cell (skewed
    assignment, near-duplicate-heavy corpus) scaled that single row with
    the cell and would blow the 2 GB row/Arrow limit at 100 TB. Cells
    now salt into ``ceil(m / block_rows)`` deterministic hash sub-blocks
    (``pmod(xxhash64(__id), nsub)`` — the d03 bucket-kernel discipline);
    every sub-block PAIR (lo ≤ hi) becomes one bounded group — each row
    ships once per sub-block, key ``(cell, lo, hi)`` — and the kernel
    scores the A×B cross (or the within-block upper triangle on the
    diagonal). Pair coverage is exact: each unordered in-cell pair lands
    in exactly one block pair. Physical shape: one window count per cell
    (exchange on cell) + one exchange on (cell, lo, hi) into MapInPandas;
    parallelism now scales with Σ nsub² per cell instead of stalling on
    the hottest cell. Per-task memory stays O(strip × m) via row strips,
    and emission streams through Arrow in bounded flushes."""
    import numpy as np
    import pandas as pd

    budget = int(block_rows or _cell_block_rows())
    if budget < 2:
        raise ValueError(f"block_rows must be >= 2, got {budget}")

    m_cnt = F.count(F.lit(1)).over(W.partitionBy("cell"))
    nsub = F.ceil(F.col("__m") / F.lit(budget)).cast("int")
    memb = (
        assigned.withColumn("__m", m_cnt)
        .filter(F.col("__m") > 1)
        .withColumn("__nsub", nsub)
        .withColumn(
            "__sub", F.pmod(F.xxhash64("__id"), F.col("__nsub").cast("bigint")).cast("int")
        )
        .select(
            "cell",
            "__id",
            "__v",
            "__sub",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.col("__nsub") - 1),
                    lambda l: F.struct(
                        F.least(F.col("__sub"), l).alias("lo"),
                        F.greatest(F.col("__sub"), l).alias("hi"),
                    ),
                )
            ).alias("bp"),
        )
        .select(
            "cell",
            F.col("bp.lo").alias("__lo"),
            F.col("bp.hi").alias("__hi"),
            F.struct(
                "__id", "__v", (F.col("__sub") == F.col("bp.lo")).alias("__a")
            ).alias("entry"),
        )
    )
    blocks = memb.groupBy("cell", "__lo", "__hi").agg(
        F.collect_list("entry").alias("rows")
    ).select("rows", (F.col("__lo") == F.col("__hi")).alias("same"))

    def score(batches):
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        out_s: list[np.ndarray] = []
        out_n = 0

        def drain():
            nonlocal out_a, out_b, out_s, out_n
            df_out = pd.DataFrame(
                {
                    "__ra": np.concatenate(out_a),
                    "__rb": np.concatenate(out_b),
                    "cos_sim": np.concatenate(out_s),
                }
            )
            out_a, out_b, out_s, out_n = [], [], [], 0
            return df_out

        def norms(M: np.ndarray) -> np.ndarray:
            # per-vector norms, sequential in k (== functions.vector.norm)
            nsq = np.zeros(M.shape[0])
            for k in range(M.shape[1]):
                col = M[:, k]
                nsq += col * col
            nrm = np.sqrt(nsq)
            if (nrm == 0.0).any():
                raise ValueError(
                    "zero-norm embedding in cell pair scoring — filter "
                    "degenerate vectors upstream (ANSI fail-fast contract)"
                )
            return nrm

        for pdf in batches:
            for rows, same in zip(pdf["rows"], pdf["same"]):
                if same:
                    ids = np.array([r["__id"] for r in rows], dtype=np.int64)
                    order = np.argsort(ids)
                    ids = ids[order]
                    M = np.array([r["__v"] for r in rows], dtype=np.float64)[order]
                    m, d = M.shape
                    nrm = norms(M)
                    strip = max(1, _CELL_STRIP_ELEMS // max(m, 1))
                    for r0 in range(0, m - 1, strip):
                        r1 = min(r0 + strip, m - 1)
                        S = np.zeros((r1 - r0, m))
                        for k in range(d):
                            col = M[:, k]
                            S += col[r0:r1, None] * col[None, :]
                        cos = S / (nrm[r0:r1, None] * nrm[None, :])
                        np.minimum(cos, 1.0, out=cos)
                        np.maximum(cos, -1.0, out=cos)
                        allowed = (
                            np.arange(m)[None, :] > np.arange(r0, r1)[:, None]
                        ) & (cos >= threshold)
                        li, ju = np.nonzero(allowed)
                        out_a.append(ids[li + r0])
                        out_b.append(ids[ju])
                        out_s.append(cos[li, ju])
                        out_n += len(ju)
                        if out_n >= _CELL_EMIT_ROWS:
                            yield drain()
                else:
                    side = np.array([bool(r["__a"]) for r in rows])
                    ids = np.array([r["__id"] for r in rows], dtype=np.int64)
                    M = np.array([r["__v"] for r in rows], dtype=np.float64)
                    A, B = M[side], M[~side]
                    ida, idb = ids[side], ids[~side]
                    if not len(A) or not len(B):
                        continue
                    nra, nrb = norms(A), norms(B)
                    d = M.shape[1]
                    nb = len(B)
                    strip = max(1, _CELL_STRIP_ELEMS // max(nb, 1))
                    for r0 in range(0, len(A), strip):
                        r1 = min(r0 + strip, len(A))
                        S = np.zeros((r1 - r0, nb))
                        for k in range(d):
                            S += A[r0:r1, k][:, None] * B[:, k][None, :]
                        cos = S / (nra[r0:r1, None] * nrb[None, :])
                        np.minimum(cos, 1.0, out=cos)
                        np.maximum(cos, -1.0, out=cos)
                        li, ju = np.nonzero(cos >= threshold)
                        pa, pb = ida[li + r0], idb[ju]
                        out_a.append(np.minimum(pa, pb))
                        out_b.append(np.maximum(pa, pb))
                        out_s.append(cos[li, ju])
                        out_n += len(ju)
                        if out_n >= _CELL_EMIT_ROWS:
                            yield drain()
        if out_a:
            yield drain()

    return blocks.mapInPandas(score, schema="__ra long, __rb long, cos_sim double")


def semdedup_pairs_seeded(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    ncells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """:func:`semdedup_pairs` with SEEDED centroids and JVM sequential
    scoring — the driver-hash-checkable twin of the Lloyd-refined SemDeDup
    path (same relationship as :func:`ivf_cosine_topk_seeded` to s06).

    Cluster-then-compare with the identical structure: every vector lands
    in its ``nprobe`` nearest cells (multi-probe recall), only in-cell
    pairs are scored with the exact clamped cosine, pairs found through
    two shared cells dedupe. Only the centroid FIT differs: seeds are the
    ``ncells`` lowest-id corpus vectors (cosine is normalization-
    invariant, so unnormalized seeds rank identically), which is the one
    substitution that makes every step SQL-reproducible.

    Exact-duplicate vectors are CANONICALIZED before assignment, exactly
    like the production :func:`semdedup_pairs`: identical vectors share
    identical cell assignments and pairwise cosines, so the in-cell
    quadratic compare runs on DISTINCT vectors and clone groups expand
    back arithmetically — cross-group pairs inherit the representative
    pair's cosine, within-group pairs carry cosine(v, v). Without this
    the twin re-pays the clone-squared cost d11 eliminated in r4 (the
    sf1 sweep's replicated embeddings are exactly that input).
    """
    from dibimbing_case_study_etl_spark.functions.vector import as_double, cosine
    from dibimbing_case_study_etl_spark.operators.dedup import _materialize

    cent_rows = _collect_seed_cents(corpus, id_col, vec_col, ncells)
    vecs = _spread(corpus, id_col).select(
        F.col(id_col).alias("__id"), as_double(F.col(vec_col)).alias("__v")
    )
    groups = _materialize(
        vecs.groupBy("__v").agg(
            F.min("__id").alias("__rep"),
            F.sort_array(F.collect_list("__id")).alias("__members"),
        )
    )
    reps = _spread(groups.select(F.col("__rep").alias("__id"), "__v"), "__id")
    # r12 (guide §4.2): numpy kernel with the window's exact total order —
    # see _assign_cells_seeded; cell membership is unchanged
    assigned = _assign_cells_seeded(reps, cent_rows, nprobe, "__id", "__v")
    # in-cell scoring via the strip-bounded sequential-accumulation numpy
    # kernel (bitwise-equal to the former per-pair JVM cosine join — see
    # _cell_pair_scores); a pair probing two shared cells scores
    # identically in both, so the dedup keeps exact values
    rep_pairs = _cell_pair_scores(assigned, threshold).dropDuplicates(
        ["__ra", "__rb"]
    )

    members = groups.select("__rep", "__members")
    cross = (
        rep_pairs.join(
            members.withColumnRenamed("__members", "__ma"),
            rep_pairs["__ra"] == members["__rep"],
        )
        .drop("__rep")
        .join(
            members.withColumnRenamed("__members", "__mb"),
            F.col("__rb") == members["__rep"],
        )
        .select(F.explode("__ma").alias("__a"), "__mb", "cos_sim")
        .select("__a", F.explode("__mb").alias("__b"), "cos_sim")
        .select(
            F.least("__a", "__b").alias("vec_a"),
            F.greatest("__a", "__b").alias("vec_b"),
            "cos_sim",
        )
    )
    within = (
        groups.filter(F.size("__members") >= 2)
        .select("__members", cosine(F.col("__v"), F.col("__v")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
        .select(F.explode("__members").alias("__a"), "__members", "cos_sim")
        .select(
            F.col("__a").alias("vec_a"),
            F.explode(F.filter("__members", lambda m: m > F.col("__a"))).alias("vec_b"),
            "cos_sim",
        )
    )
    return cross.unionByName(within)


def pca_fit(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_components: int = 16,
    sample: int = 4096,
):
    """Fit a PCA/whitening model on a deterministic sample (lowest
    ``sample`` ids — no RNG): mean vector, top ``n_components`` principal
    axes, and their eigenvalues.

    Driver-side numpy over a bounded sample, like the PQ codebook fit —
    the model is (d + k·d + k) doubles regardless of corpus size, which is
    what lets it broadcast to every executor at 100 TB. Eigenvector sign
    is canonicalized (largest-|coord| entry made positive) so the model is
    bit-reproducible across BLAS builds that return flipped axes.
    """
    import numpy as np

    rows = corpus.orderBy(id_col).limit(sample).select(vec_col).collect()
    X = np.array([r[0] for r in rows], dtype=np.float64)
    mean = X.mean(axis=0)
    Xc = X - mean
    cov = (Xc.T @ Xc) / max(len(X) - 1, 1)
    eigvals, eigvecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(eigvals)[::-1][:n_components]
    comps = eigvecs[:, order].T  # (k, d)
    evs = np.maximum(eigvals[order], 1e-12)
    for i in range(len(comps)):
        j = int(np.abs(comps[i]).argmax())
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return mean, comps, evs


def pca_project(
    corpus: DataFrame,
    mean,
    components,
    eigvals=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    whiten: bool = False,
) -> DataFrame:
    """Project vectors onto the fitted principal axes — optionally whitened
    (unit variance per component: divide by sqrt(eigenvalue)).

    One Arrow-batched GEMM per batch against the closure-broadcast model;
    a pure map stage (no shuffle) that runs scan-speed over 100 TB. The
    standard preprocessing step before similarity search or clustering
    when raw embedding dimensions are correlated.
    """
    import numpy as np
    import pandas as pd

    mean = np.asarray(mean, dtype=np.float64)
    comps = np.asarray(components, dtype=np.float64)
    scale = 1.0 / np.sqrt(np.asarray(eigvals, dtype=np.float64)) if whiten else None

    vecs = _spread(corpus, id_col).select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("__v")
    )

    def project(batches):
        for pdf in batches:
            X = np.array(list(pdf["__v"]), dtype=np.float64)
            Y = (X - mean) @ comps.T
            if scale is not None:
                Y = Y * scale
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "pca": list(Y)})

    return vecs.mapInPandas(project, schema="vec_id long, pca array<double>")


def pq_fit_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    iters: int = 5,
    sample: int = 2048,
):
    """Fit product-quantization codebooks: the vector space splits into
    ``m`` subspaces and each gets a ``ksub``-centroid k-means codebook.

    Training is driver-side numpy over a deterministic sample (lowest
    ``sample`` ids — no RNG); the model is tiny (m × ksub × dim/m doubles)
    regardless of corpus size, which is what lets the codebooks broadcast
    to every executor at 100 TB. Init is the first ``ksub`` sampled
    subvectors + Lloyd iterations — fully deterministic.
    """
    import numpy as np

    rows = corpus.orderBy(id_col).limit(sample).select(vec_col).collect()
    X = np.array([r[0] for r in rows], dtype=np.float64)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    d = X.shape[1]
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    dsub = d // m
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        sub = X[:, j * dsub : (j + 1) * dsub]
        cents = sub[:ksub].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(ksub):
                pts = sub[assign == c]
                if len(pts):
                    cents[c] = pts.mean(axis=0)
        books[j] = cents
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each (normalized) vector as ``m`` one-byte codes — nearest
    codeword per subspace. 64 float32 dims (256 B) become 8 codes (8 B):
    a 32× storage compression for the corpus at rest; the codes column is
    what a 100 TB vector store actually persists/scans."""
    import numpy as np
    import pandas as pd

    books = codebooks  # (m, ksub, dsub) — closure-broadcast, tiny
    m, _ksub, dsub = books.shape

    vecs = _spread(corpus, id_col).select(
        F.col(id_col).alias("__id"), as_double(F.col(vec_col)).alias("__v")
    )

    def encode(batches):
        for pdf in batches:
            X = np.array(list(pdf["__v"]), dtype=np.float64)
            X /= np.linalg.norm(X, axis=1, keepdims=True)
            codes = np.empty((len(pdf), m), dtype=np.int64)
            for j in range(m):
                sub = X[:, j * dsub : (j + 1) * dsub]
                d2 = ((sub[:, None, :] - books[None, j]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame({"__id": pdf["__id"], "codes": list(codes)})

    return vecs.mapInPandas(encode, schema="__id long, codes array<bigint>")


def pq_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    m: int = 8,
    ksub: int = 256,
    oversample: int = 5,
) -> DataFrame:
    """Approximate top-``k`` cosine via PQ asymmetric distance (ADC) plus
    exact re-rank: the query stays full-precision; each corpus vector is
    its ``m`` codes. Per query the scorer builds one lookup table per
    subspace (``ksub`` dot products against the codebook) and every
    corpus score is then m table gathers + a normalization — no corpus
    floats are read in the scan. The ADC top ``k*oversample`` shortlist
    then re-scores exactly against the (tiny) retrieved float vectors.

    Scale: corpus I/O shrinks 32× (codes vs float32), the LUT build is
    O(m·ksub·dsub) per query regardless of corpus size, scoring is
    memory-bandwidth-bound gathers, and the exact re-rank touches only
    k·oversample vectors per query. Approximate by construction (no SQL
    oracle); recall vs the exact baseline is pinned in tests.
    """
    import numpy as np
    import pandas as pd

    books = pq_fit_codebooks(corpus, id_col, vec_col, m=m, ksub=ksub)
    codes = pq_encode(corpus, books, id_col, vec_col)

    q_rows = _collect_small(queries.select(id_col, vec_col), "pq_cosine_topk query side")
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    mm, _ksub2, dsub = books.shape
    # LUT[q][j][c] = dot(query_sub_j, codeword_jc); reconstructed-norm² per
    # codeword precomputes the same way
    luts = np.einsum("qjd,jcd->qjc", q_mat.reshape(len(q_mat), mm, dsub), books)
    cw_sq = (books**2).sum(axis=2)  # (m, ksub)

    def score(batches):
        for pdf in batches:
            C = np.array(list(pdf["codes"]), dtype=np.int64)  # (n, m)
            n = len(pdf)
            approx_sq = np.take_along_axis(
                cw_sq[None].repeat(n, 0), C[:, :, None], axis=2
            )[:, :, 0].sum(axis=1)
            approx_norm = np.sqrt(approx_sq)
            sims = np.empty((n, len(q_ids)))
            for qi in range(len(q_ids)):
                per_sub = np.take_along_axis(
                    luts[qi][None].repeat(n, 0), C[:, :, None], axis=2
                )[:, :, 0]
                sims[:, qi] = per_sub.sum(axis=1) / approx_norm
            ids = pdf["__id"].to_numpy()
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, n),
                    "neighbor_id": np.tile(ids, len(q_ids)),
                    "cos_sim": sims.T.reshape(-1),
                }
            )

    scored = codes.mapInPandas(score, schema="query_id long, neighbor_id long, cos_sim double")
    scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k * oversample)
        .select("query_id", "neighbor_id")
    )
    # exact re-rank: retrieve floats ONLY for shortlisted neighbors (a
    # broadcast semi-join against k*oversample ids/query), score with the
    # same JVM cosine as the exact baseline, keep the true top-k
    cand = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("__cv")
    ).join(F.broadcast(shortlist), "neighbor_id")
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("__qv")
    )
    rescored = cand.join(F.broadcast(q), "query_id").withColumn(
        "cos_sim", cosine(F.col("__qv"), F.col("__cv"))
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def semdedup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    ncells: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pairs found by
    clustering embeddings first and comparing only WITHIN clusters — the
    scale path for embedding dedup, turning d05's all-pairs O(n²) into
    O(Σ cell²) where cells are corpus_size/ncells on average.

    Reuses the IVF coarse quantizer (`ivf_fit_centroids` — distributed
    Lloyd refinement, only the ncells×dim matrix on the driver). Each
    vector lands in its ``nprobe`` nearest cells, so near-boundary pairs
    split across neighboring cells still meet in one (the standard
    recall patch; recall vs the exact d05 baseline is pinned in tests).
    Returned similarities are computed with the exact JVM cosine, so
    precision is exact by construction — only recall is approximate.

    Scale: one shuffle keyed by cell id; in-cell pairing is quadratic only
    in the cell, and ``ncells`` grows with the corpus (√n is the usual
    choice) to hold cell sizes flat. Exact-duplicate vectors (common in
    replicated/augmented corpora — the sf1 sweep's clone shards made the
    naive shape 57× super-linear) are CANONICALIZED first: the in-cell
    quadratic compare runs on distinct vectors only, and clone groups
    expand back afterward — cross-group pairs inherit the representative
    pair's cosine (identical vectors ⇒ identical similarity, exactly),
    within-group pairs carry cosine(v, v). The expansion is output-bound;
    the compare cost depends on DISTINCT corpus size, not row count.
    """
    from dibimbing_case_study_etl_spark.functions.vector import as_double, cosine

    vecs_all = _spread(corpus, id_col).select(
        F.col(id_col).alias("__id"), as_double(F.col(vec_col)).alias("__v")
    )
    def build_groups() -> DataFrame:
        return vecs_all.groupBy("__v").agg(
            F.min("__id").alias("__rep"),
            F.sort_array(F.collect_list("__id")).alias("__members"),
        )

    # Checkpoint a copy for the Lloyd ITERATIONS (each a separate action —
    # without it every k-means pass re-runs the canonicalization shuffle)
    # and for the members-expansion arms. localCheckpoint (not persist):
    # blocks release with the RDD, no session-lifetime cache accumulation.
    groups = build_groups().localCheckpoint(eager=True)
    reps_ck = groups.select(F.col("__rep").alias(id_col), F.col("__v").alias(vec_col))
    cents = ivf_fit_centroids(reps_ck, id_col, vec_col, ncells=ncells)

    # Assignment reads a FRESH lineage (not the checkpoint) spread across
    # the cluster: the distinct-vector table is BYTES-tiny after its
    # groupBy, so AQE would coalesce it to one partition and serialize
    # the numpy assignment pass — the explicit repartition keeps it
    # fanned. One extra canonicalization shuffle, one pass, inside the
    # same job. (In-cell pair scoring itself now lives in
    # _cell_pair_scores — one cell-keyed shuffle into the strip-bounded
    # kernel, parallelism = ncells, which grows ~√n at scale.)
    assigned = _assign_cells(
        _spread(
            build_groups().select(F.col("__rep").alias("__id"), F.col("__v")),
            "__id",
        ),
        cents,
        nprobe=nprobe,
    )
    # in-cell scoring via the strip-bounded sequential-accumulation numpy
    # kernel (bitwise-equal to the former per-pair JVM cosine join — see
    # _cell_pair_scores); nprobe>1 pairs meeting in two cells score
    # identically in both, so the dedup keeps exact values
    rep_pairs = _cell_pair_scores(assigned, threshold).dropDuplicates(
        ["__ra", "__rb"]
    )

    members = groups.select("__rep", "__members")
    cross = (
        rep_pairs.join(members.withColumnRenamed("__members", "__ma"), rep_pairs["__ra"] == members["__rep"])
        .drop("__rep")
        .join(members.withColumnRenamed("__members", "__mb"), F.col("__rb") == members["__rep"])
        .select(
            F.explode("__ma").alias("__a"), F.col("__mb"), F.col("cos_sim")
        )
        .select(
            F.col("__a"), F.explode("__mb").alias("__b"), F.col("cos_sim")
        )
        .select(
            F.least("__a", "__b").alias("vec_a"),
            F.greatest("__a", "__b").alias("vec_b"),
            "cos_sim",
        )
    )
    within = (
        groups.filter(F.size("__members") >= 2)
        .select(
            F.col("__members"),
            cosine(F.col("__v"), F.col("__v")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select(F.explode("__members").alias("__a"), "__members", "cos_sim")
        .select(
            F.col("__a"),
            F.explode(F.filter("__members", lambda m: m > F.col("__a"))).alias("__b"),
            "cos_sim",
        )
        .select(F.col("__a").alias("vec_a"), F.col("__b").alias("vec_b"), "cos_sim")
    )
    return cross.unionByName(within)


def knn_graph(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_blocks: int | None = None,
) -> DataFrame:
    """Exact cosine k-NN graph over the WHOLE corpus (corpus↔corpus) — the
    input structure for graph-based embedding dedup/clustering — without
    ever broadcasting or collecting the corpus.

    Block-pair GEMM: vectors hash into ``num_blocks`` packed block
    matrices (one applyInPandas per block); every block PAIR becomes one
    task that GEMMs the two matrices and emits only its local top-``k``
    per row; a final per-vector window keeps the global top-``k``. The
    shuffled volume is O(N·k·num_blocks), never O(N²); compute is the
    irreducible O(N²·dim) of exact all-pairs, spread over num_blocks²
    embarrassingly-parallel tasks. For corpora where even that compute is
    too much, the ANN family (s02 LSH / s06 IVF / s07 PQ) is the
    documented scale path — this operator is the exact baseline they are
    measured against.
    """
    import numpy as np
    import pandas as pd

    num_blocks = num_blocks or _auto_blocks(corpus, floor=8)
    packed_schema = "block_id long, ids array<long>, mat array<double>, nrows long"

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.array(list(pdf["__v"]), dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        return pd.DataFrame(
            {
                "block_id": [int(pdf["__b"].iloc[0])],
                "ids": [pdf["__id"].to_numpy(dtype=np.int64)],
                "mat": [m.reshape(-1)],
                "nrows": [len(pdf)],
            }
        )

    src = corpus.select(
        F.col(id_col).alias("__id"),
        as_double(F.col(vec_col)).alias("__v"),
        (F.abs(F.hash(F.col(id_col))) % num_blocks).alias("__b"),
    )
    blocks = src.groupBy("__b").applyInPandas(pack, schema=packed_schema)

    a = blocks.select(
        F.col("ids").alias("a_ids"), F.col("mat").alias("a_mat"), F.col("nrows").alias("a_n")
    )
    b = blocks.select(
        F.col("ids").alias("b_ids"), F.col("mat").alias("b_mat"), F.col("nrows").alias("b_n")
    )
    pairs = a.crossJoin(b)

    def score(batches):
        for pdf in batches:
            outs = {"vec_id": [], "neighbor_id": [], "cos_sim": []}
            for _, row in pdf.iterrows():
                am = np.asarray(row["a_mat"], dtype=np.float64).reshape(int(row["a_n"]), -1)
                bm = np.asarray(row["b_mat"], dtype=np.float64).reshape(int(row["b_n"]), -1)
                a_ids = np.asarray(row["a_ids"], dtype=np.int64)
                b_ids = np.asarray(row["b_ids"], dtype=np.int64)
                sims = am @ bm.T  # (a_n, b_n)
                # mask self-pairs (same id can only meet in the diagonal block)
                self_mask = a_ids[:, None] == b_ids[None, :]
                sims = np.where(self_mask, -np.inf, sims)
                kk = min(k, sims.shape[1])
                top = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
                rows = np.repeat(np.arange(sims.shape[0]), kk)
                cols = top.reshape(-1)
                keep = np.isfinite(sims[rows, cols])
                outs["vec_id"].append(np.repeat(a_ids, kk)[keep])
                outs["neighbor_id"].append(b_ids[cols][keep])
                outs["cos_sim"].append(sims[rows, cols][keep])
            yield pd.DataFrame({c: np.concatenate(v) if v else np.array([]) for c, v in outs.items()})

    local = pairs.mapInPandas(score, schema="vec_id long, neighbor_id long, cos_sim double")
    w = W.partitionBy("vec_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "cos_sim", "rank")
    )


def cosine_histogram(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_width: int = 500,  # in 1e-4 sim units → 0.05-wide buckets
    nblocks: int | None = None,
) -> DataFrame:
    """Distribution of cosine similarity over ALL unordered vector pairs —
    the calibration curve behind every near-dup threshold choice (where
    does the clone mode sit? where does the background mass end?).

    The pair space is O(n²) but the ANSWER is O(#buckets): block-pair
    GEMM computes each block's similarities and bins them INSIDE the
    Arrow task, so only (bucket, count) rows — never pairs — are
    shuffled. Cross-engine determinism: sims round to 4 dp as scaled
    integers first, then bucket by integer floor-division — no float
    boundary can flip a bucket between engines.

    Returns (bucket_lo, n_pairs): bucket_lo is the bucket's inclusive
    lower edge in similarity units.
    """
    import numpy as np
    import pandas as pd

    nblocks = nblocks or _auto_blocks(corpus, floor=32)
    e = _spread(corpus, id_col).select(
        F.col(id_col).alias("__id"), as_double(F.col(vec_col)).alias("__v")
    )
    blocks = e.groupBy(F.pmod(F.xxhash64("__id"), F.lit(nblocks)).alias("__b")).agg(
        F.collect_list(F.struct("__id", "__v")).alias("rows")
    )

    def hist_blocks(batches):
        for pdf in batches:
            acc: dict[int, int] = {}
            for rows_a, rows_b, same in zip(pdf["rows_a"], pdf["rows_b"], pdf["same"]):
                m_a = np.array([r["__v"] for r in rows_a], dtype=np.float64)
                m_b = np.array([r["__v"] for r in rows_b], dtype=np.float64)
                m_a /= np.linalg.norm(m_a, axis=1, keepdims=True)
                m_b /= np.linalg.norm(m_b, axis=1, keepdims=True)
                sims = np.clip(m_a @ m_b.T, -1.0, 1.0)
                if same:
                    iu = np.triu_indices(sims.shape[0], k=1)
                    vals = sims[iu]
                else:
                    vals = sims.reshape(-1)
                s4 = np.rint(vals * 10000).astype(np.int64)
                buckets = s4 // bucket_width
                for b, c in zip(*np.unique(buckets, return_counts=True)):
                    acc[int(b)] = acc.get(int(b), 0) + int(c)
            yield pd.DataFrame(
                {"bucket": list(acc.keys()), "n": list(acc.values())}
                if acc
                else {"bucket": pd.Series([], dtype="int64"), "n": pd.Series([], dtype="int64")}
            )

    ba, bb = blocks.alias("ba"), blocks.alias("bb")
    block_pairs = (
        ba.join(bb, F.col("ba.__b") <= F.col("bb.__b"))
        .select(
            F.col("ba.rows").alias("rows_a"),
            F.col("bb.rows").alias("rows_b"),
            (F.col("ba.__b") == F.col("bb.__b")).alias("same"),
        )
        .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    )
    partial = block_pairs.mapInPandas(hist_blocks, schema="bucket long, n long")
    return (
        partial.groupBy("bucket")
        .agg(F.sum("n").alias("n_pairs"))
        .select(
            (F.col("bucket") * bucket_width / 10000.0).alias("bucket_lo"),
            "n_pairs",
        )
        .orderBy("bucket_lo")
    )
