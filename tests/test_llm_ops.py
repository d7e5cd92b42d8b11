"""Behavioral tests for the LLM-data ops beyond the oracle gate:
LSH recall vs the exact baseline, SimHash/Jaccard agreement, multimodal
stub contract."""

from __future__ import annotations

import pytest

from dibimbing_case_study_etl_spark.queries import load_all

REGISTRY = load_all()


def pairs(df, a="doc_a", b="doc_b"):
    return {(r[a], r[b]) for r in df.collect()}


@pytest.mark.slow
def test_minhash_lsh_equals_exact_jaccard(spark, sf_dir):
    """The LSH path must reproduce the exact-Jaccard answer on this data
    (that's why it shares d02's oracle)."""
    exact = pairs(REGISTRY["d02_dedup_jaccard_pairs"].build(spark, sf_dir))
    lsh = pairs(REGISTRY["d03_dedup_minhash_lsh"].build(spark, sf_dir))
    assert exact == lsh and len(exact) > 0


def test_simhash_catches_near_identical_docs(spark, sf_dir):
    """SimHash (Hamming ≤ 3) and 3-gram Jaccard ≥ 0.8 are different
    similarity notions, but near-identical documents must overlap heavily."""
    jac = pairs(REGISTRY["d02_dedup_jaccard_pairs"].build(spark, sf_dir))
    sim = pairs(REGISTRY["d04_dedup_simhash"].build(spark, sf_dir))
    assert len(jac & sim) / len(jac) >= 0.5


def test_ann_lsh_recall_vs_exact(spark, sf_dir):
    exact = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["s01_ann_cosine_topk"].build(spark, sf_dir).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["s02_ann_lsh_topk"].build(spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"LSH recall degraded: {recall}"


def test_blas_topk_matches_jvm_baseline(spark, sf_dir):
    """The BLAS serving path must produce the same neighbor sets and ranks
    as the oracle-checked JVM baseline (values differ only in float dust)."""
    base = {
        (r.query_id, r.rank): r.neighbor_id
        for r in REGISTRY["s01_ann_cosine_topk"].build(spark, sf_dir).collect()
    }
    blas = {
        (r.query_id, r.rank): r.neighbor_id
        for r in REGISTRY["s03_ann_topk_blas"].build(spark, sf_dir).collect()
    }
    agree = sum(1 for k, v in base.items() if blas.get(k) == v)
    assert agree / len(base) >= 0.98  # float-dust rank swaps only


def test_multimodal_real_decode_contract(spark, sf_dir):
    """_decode_real is a REAL decoder now (r4): valid PNGs round-trip to
    exact pixel stats; undecodable bytes raise loudly (never fake features).
    The stub path stays available for the text stand-in blobs."""
    import numpy as np

    from dibimbing_case_study_etl_spark.functions.imaging import encode_png
    from dibimbing_case_study_etl_spark.operators.multimodal import (
        _decode_real,
        decode_features,
        to_blob_table,
    )
    from dibimbing_case_study_etl_spark.catalog import register

    with pytest.raises(ValueError):
        _decode_real(b"\x00")  # not an image byte stream — must be loud

    arr = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    feats = _decode_real(encode_png(arr))
    assert (feats["width"], feats["height"], feats["channels"]) == (6, 4, 3)
    assert feats["px_sum"] == int(arr.astype(np.int64).sum())

    t = register(spark, sf_dir, ("documents",))
    blobs = to_blob_table(t["documents"].limit(5), "doc_id", "text")
    rows = decode_features(blobs, stub=True).collect()
    assert len(rows) == 5 and all(r.n_bytes > 0 for r in rows)


def test_fingerprint_is_content_identity(spark, sf_dir):
    """Equal text ⇒ equal fingerprint; distinct texts ⇒ (here) distinct."""
    fp = REGISTRY["t04_fingerprint"].build(spark, sf_dir)
    n = fp.count()
    assert fp.select("fp").distinct().count() == n  # corpus has no exact dups


def test_ann_ivf_recall_vs_exact(spark, sf_dir):
    """IVF with nprobe=8 of 16 cells must recover most of the exact top-10
    (approximate path: accuracy contract instead of a SQL oracle)."""
    exact = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["s01_ann_cosine_topk"].build(spark, sf_dir).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["s06_ann_ivf_topk"].build(spark, sf_dir).collect()
    }
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.6, f"IVF recall degraded: {recall}"


def test_video_frame_sample_fanout(spark, sf_dir):
    """Frame sampling fans one video row out to ceil(n_frames/4) frame rows
    with byte-exact checksums (spot-checked against Python slicing)."""
    from dibimbing_case_study_etl_spark.catalog import load_table
    from dibimbing_case_study_etl_spark.operators.multimodal import (
        sample_frames,
        synth_video_table,
    )

    docs = load_table(spark, sf_dir, "documents").limit(20)
    vids = synth_video_table(docs, "doc_id", "text", frame_bytes=8)
    got = {
        (r.doc_id, r.frame_idx): r.checksum
        for r in sample_frames(vids, step=4).collect()
    }
    for row in docs.collect():
        blob = row.text.encode()
        n_frames = len(blob) // 8
        expect = {
            (row.doc_id, f): sum(blob[f * 8 : (f + 1) * 8]) for f in range(0, n_frames, 4)
        }
        for key, val in expect.items():
            assert got[key] == val


def test_audio_resample_decimation(spark, sf_dir):
    """4:1 decimation keeps every 4th byte; counts and checksum match a
    direct Python slice of the same payload."""
    from dibimbing_case_study_etl_spark.catalog import load_table
    from dibimbing_case_study_etl_spark.operators.multimodal import (
        resample_audio,
        synth_audio_table,
    )

    docs = load_table(spark, sf_dir, "documents").limit(20)
    audio = synth_audio_table(docs, "doc_id", "text", sample_rate=16000)
    got = {r.doc_id: r for r in resample_audio(audio, factor=4).collect()}
    for row in docs.collect():
        blob = row.text.encode()
        r = got[row.doc_id]
        assert (r.sr_in, r.sr_out) == (16000, 4000)
        assert (r.n_in, r.n_out) == (len(blob), len(blob[::4]))
        assert r.checksum == sum(blob[::4])


def test_ann_pq_recall_vs_exact(spark, sf_dir):
    """PQ-ADC top-10 must recover a solid fraction of the exact top-10
    (32x-compressed codes lose precision by design; recall, not identity,
    is the contract)."""
    from dibimbing_case_study_etl_spark.queries import load_all

    registry = load_all()
    exact = {
        (r.query_id, r.neighbor_id)
        for r in registry["s01_ann_cosine_topk"].build(spark, sf_dir).collect()
    }
    pq = {
        (r.query_id, r.neighbor_id)
        for r in registry["s07_ann_pq_topk"].build(spark, sf_dir).collect()
    }
    recall = len(exact & pq) / len(exact)
    assert recall >= 0.8, f"PQ recall degraded: {recall}"


def test_collect_small_guard_raises(spark):
    """The small-by-contract query sides are enforced, not assumed: a
    query table past the bound raises instead of OOMing the driver."""
    import pytest

    from dibimbing_case_study_etl_spark.operators import similarity

    big = spark.range(300).selectExpr("id as vec_id", "array(1.0d, 2.0d) as embedding")
    with pytest.raises(ValueError, match="more than 256 rows"):
        similarity._collect_small(big, "test side", limit=256)


def test_cosine_topk_exclude_self_flag(spark):
    """exclude_self=False keeps a corpus row whose id collides with a
    query id (queries and corpus from different id spaces)."""
    from dibimbing_case_study_etl_spark.operators.similarity import cosine_topk

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        "vec_id int, embedding array<double>",
    )
    queries = spark.createDataFrame([(1, [1.0, 0.05])], "vec_id int, embedding array<double>")
    with_self = cosine_topk(queries, corpus, k=3, exclude_self=False)
    without = cosine_topk(queries, corpus, k=3)
    assert {r.neighbor_id for r in with_self.collect()} == {1, 2, 3}
    assert {r.neighbor_id for r in without.collect()} == {2, 3}


def test_pca_whitening_properties(spark):
    """The PCA model must (a) concentrate variance in leading components,
    (b) produce ~identity covariance when whitened, (c) reconstruct the
    sample better with more components, and (d) be invariant to input
    partitioning (deterministic fit + map-stage projection)."""
    import numpy as np

    from dibimbing_case_study_etl_spark.catalog import load_table
    from dibimbing_case_study_etl_spark.operators.similarity import pca_fit, pca_project

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    mean, comps, evs = pca_fit(emb, n_components=8)
    assert comps.shape[1] == 64 and len(evs) == 8
    assert all(evs[i] >= evs[i + 1] for i in range(7))  # variance ordered

    proj = pca_project(emb, mean, comps, evs, whiten=True)
    Y = np.array([r.pca for r in proj.collect()])
    cov = np.cov(Y.T)
    # whitened covariance ~ I on the fitted distribution (sample == corpus here)
    assert np.abs(np.diag(cov) - 1.0).max() < 0.15
    off = cov - np.diag(np.diag(cov))
    assert np.abs(off).max() < 0.15

    # reconstruction error shrinks as components grow
    X = np.array([r.embedding for r in emb.select("embedding").collect()], dtype=np.float64)
    errs = []
    for k in (2, 8, 32):
        _m, c, _e = pca_fit(emb, n_components=k)
        Z = (X - mean) @ c.T
        errs.append(float(((X - mean - Z @ c) ** 2).sum()))
    assert errs[0] > errs[1] > errs[2]

    # repartition-invariance: same rows regardless of input layout
    proj2 = pca_project(emb.repartition(7), mean, comps, evs, whiten=True)
    a = {r.vec_id: tuple(r.pca) for r in proj.collect()}
    b = {r.vec_id: tuple(r.pca) for r in proj2.collect()}
    assert a == b


def test_containment_catches_subset_dup_jaccard_misses(spark):
    """A short doc embedded verbatim in a much longer one: overlap
    coefficient 1.0 (flagged) while Jaccard stays below any dedup
    threshold (missed) — the exact gap containment_pairs exists to cover."""
    from dibimbing_case_study_etl_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    short = "the quick brown fox jumps over the lazy dog"
    long = short + " " + " ".join(f"filler{i} pad{i} word{i}" for i in range(40))
    df = spark.createDataFrame([(1, short), (2, long)], "doc_id long, text string")
    cont = containment_pairs(df, "doc_id", "text", k=3, threshold=0.9).collect()
    assert [(r.doc_a, r.doc_b, r.containment) for r in cont] == [(1, 2, 1.0)]
    assert jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.5).count() == 0


def test_prefix_sum_matches_window_and_is_layout_invariant(spark):
    """The distributed prefix sum must equal the single-partition window
    ground truth and be independent of input partitioning (the range
    bucketing is derived from data values, not from layout)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from dibimbing_case_study_etl_spark.catalog import load_table
    from dibimbing_case_study_etl_spark.operators.packing import prefix_sum

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    base = docs.select("doc_id", (F.col("doc_id") * 7919 % 1000).alias("k"),
                       F.col("n_chars").alias("v"))
    truth = base.withColumn(
        "cum", F.sum("v").over(W.orderBy("k", "doc_id").rowsBetween(W.unboundedPreceding, 0))
    )
    mine = prefix_sum(base, "v", ["k", "doc_id"], out_col="cum", num_buckets=8)
    t = {r.doc_id: r.cum for r in truth.collect()}
    m = {r.doc_id: r.cum for r in mine.collect()}
    assert m == t
    m2 = {
        r.doc_id: r.cum
        for r in prefix_sum(base.repartition(5), "v", ["k", "doc_id"], "cum", 8).collect()
    }
    assert m2 == t


def test_prefix_sum_exact_at_one_and_data_sized_bucket_counts(spark, sf_dir):
    """One bucket (no quantile pass, no shuffle) and the default bucket
    count (the materialized input's partition count) both equal the
    window ground truth, and the returned total is the value sum."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from dibimbing_case_study_etl_spark.catalog import load_table
    from dibimbing_case_study_etl_spark.operators.packing import prefix_sum_with_total

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", (F.col("doc_id") * 7919 % 1000).alias("k"),
                       F.col("n_chars").alias("v"))
    truth = {
        r.doc_id: r.cum
        for r in base.withColumn(
            "cum", F.sum("v").over(W.orderBy("k", "doc_id").rowsBetween(W.unboundedPreceding, 0))
        ).collect()
    }
    value_sum = base.agg(F.sum("v")).first()[0]
    for layout, buckets in ((base, 1), (base, None), (base.repartition(5), None), (base.repartition(3), 1)):
        out, total = prefix_sum_with_total(layout, "v", ["k", "doc_id"], "cum", buckets)
        assert {r.doc_id: r.cum for r in out.collect()} == truth, (layout.rdd.getNumPartitions(), buckets)
        assert total == value_sum == max(truth.values())
    empty, total = prefix_sum_with_total(base.filter("false"), "v", ["k", "doc_id"], "cum")
    assert total == 0 and empty.count() == 0


def test_semdedup_precision_exact_and_recall_pinned(spark):
    """SemDeDup must (a) return ONLY true near-dup pairs (exact cosine on
    in-cell candidates ⇒ precision 1.0 by construction), (b) reach recall
    1.0 vs the exact d05 baseline on this corpus at nprobe=4, and (c)
    find every constructed near-identical clone pair with nprobe=1 — the
    operator's actual production target."""
    from pyspark.sql import functions as F

    from dibimbing_case_study_etl_spark.catalog import load_table
    from dibimbing_case_study_etl_spark.operators.similarity import (
        cosine_pairs,
        semdedup_pairs,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {(r.vec_a, r.vec_b) for r in cosine_pairs(emb, threshold=0.45).collect()}
    sem = {
        (r.vec_a, r.vec_b)
        for r in semdedup_pairs(emb, threshold=0.45, nprobe=4).collect()
    }
    assert sem <= exact  # precision 1.0
    assert sem == exact  # recall 1.0 at nprobe=4 on this corpus

    clones = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.001)).alias("embedding"),
        "label",
    )
    both = emb.unionByName(clones)
    found = {
        (r.vec_a, r.vec_b)
        for r in semdedup_pairs(both, threshold=0.999, ncells=16, nprobe=1).collect()
    }
    want = {(r.vec_id, r.vec_id + 100000) for r in emb.select("vec_id").collect()}
    assert found & want == want  # every clone pair found
    for a, b in found - want:  # anything extra must still be a true near-dup
        assert (a, b) in found


def test_cell_pair_scores_block_bounded(spark):
    """r12: _cell_pair_scores salts oversized cells into hash sub-blocks so
    no collect_list row scales with cell size. The (pair, score) set must
    be IDENTICAL (bitwise scores included) between a block budget that
    splits every cell several ways and one that keeps each cell whole."""
    from dibimbing_case_study_etl_spark.catalog import load_table
    from dibimbing_case_study_etl_spark.functions.vector import as_double
    from dibimbing_case_study_etl_spark.operators.similarity import (
        _assign_cells_seeded,
        _cell_pair_scores,
        _collect_seed_cents,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = _collect_seed_cents(emb, "vec_id", "embedding", 4)
    assigned = _assign_cells_seeded(
        emb.select(
            F.col("vec_id").alias("__id"),
            as_double(F.col("embedding")).alias("__v"),
        ),
        cents,
        2,
        "__id",
        "__v",
    )
    whole = {
        (r["__ra"], r["__rb"]): r["cos_sim"]
        for r in _cell_pair_scores(assigned, 0.3, block_rows=10**9).collect()
    }
    split = {
        (r["__ra"], r["__rb"]): r["cos_sim"]
        for r in _cell_pair_scores(assigned, 0.3, block_rows=8).collect()
    }
    assert whole and split == whole  # same pairs, bitwise-same scores


def test_assign_cells_seeded_matches_window_form(spark):
    """r12: the numpy seeded-assignment kernel must pick EXACTLY the cells
    the former cosine-join + row_number window picked (cos desc, cell asc
    tie order), per row."""
    from dibimbing_case_study_etl_spark.catalog import load_table
    from dibimbing_case_study_etl_spark.functions.vector import as_double, cosine
    from dibimbing_case_study_etl_spark.operators.similarity import (
        _assign_cells_seeded,
        _collect_seed_cents,
    )
    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents_df = (
        emb.orderBy("vec_id")
        .limit(8)
        .select(F.col("vec_id").alias("cell"), as_double(F.col("embedding")).alias("__cent"))
    )
    scored = emb.select(
        F.col("vec_id").alias("__id"), as_double(F.col("embedding")).alias("__v")
    ).join(F.broadcast(cents_df), F.lit(True)).withColumn(
        "__csim", cosine(F.col("__v"), F.col("__cent"))
    )
    w = W.partitionBy("__id").orderBy(F.desc("__csim"), F.asc("cell"))
    ref = (
        scored.withColumn("__crank", F.row_number().over(w))
        .filter(F.col("__crank") <= 3)
        .select("__id", "cell")
    )
    want = {(r["__id"], r["cell"]) for r in ref.collect()}
    got = {
        (r["__id"], r["cell"])
        for r in _assign_cells_seeded(
            emb.select(
                F.col("vec_id").alias("__id"),
                as_double(F.col("embedding")).alias("__v"),
            ),
            _collect_seed_cents(emb, "vec_id", "embedding", 8),
            3,
            "__id",
            "__v",
        ).collect()
    }
    assert got == want


def test_assign_cells_seeded_rejects_non_finite(spark):
    """A NaN or Inf element (in a centroid or in a batch row) raises
    instead of silently ranking a NaN cosine last."""
    from dibimbing_case_study_etl_spark.operators.similarity import _assign_cells_seeded

    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    ok = spark.createDataFrame([(1, [1.0, 2.0]), (2, [3.0, 1.0])], "__id long, __v array<double>")
    assert {r.cell for r in _assign_cells_seeded(ok, cents, 1, "__id", "__v").collect()} == {0, 1}
    with pytest.raises(ValueError, match="non-finite seed centroid"):
        _assign_cells_seeded(ok, [(0, [1.0, float("nan")]), (1, [0.0, 1.0])], 1, "__id", "__v")
    for bad in (float("nan"), float("inf")):
        df = spark.createDataFrame([(1, [1.0, 2.0]), (2, [bad, 1.0])], "__id long, __v array<double>")
        with pytest.raises(Exception, match="non-finite embedding element"):
            _assign_cells_seeded(df, cents, 1, "__id", "__v").collect()


def test_ahash_int_array_refuses_int64_wrap():
    """The aHash bit test ``cs·L >= total·chunk_len`` in numpy int64 must
    equal the same test in Python ints while it fits, and raise rather
    than wrap once max|w|·L² reaches 2^63."""
    import numpy as np

    from dibimbing_case_study_etl_spark.operators.multimodal import _ahash_int_array

    def reference(w):
        w = [int(x) for x in w]
        n, total = len(w), sum(w)
        bits = []
        for j in range(64):
            lo, hi = j * n // 64, (j + 1) * n // 64
            bits.append(int(sum(w[lo:hi]) * n >= total * (hi - lo)))
        return sum(b << j for j, b in enumerate(bits[:32])), sum(b << j for j, b in enumerate(bits[32:]))

    rng = np.random.default_rng(7)
    for n in (1, 63, 64, 1000):
        w = rng.integers(0, 256, n)
        assert _ahash_int_array(w) == reference(w)
    # the largest value that still fits: max|w|·L² just below 2^63
    n = 1024
    w = np.full(n, (1 << 63) // (n * n) - 1, dtype=np.int64)
    w[: n // 2] = 0
    assert _ahash_int_array(w) == reference(w)
    # 2^50 per value over 1024 values: cs·L = 2^64 would wrap
    with pytest.raises(OverflowError, match="overflows int64"):
        _ahash_int_array(np.full(n, 1 << 50, dtype=np.int64))


def test_d12_exact_under_boilerplate_skew(spark, tmp_path):
    """Boilerplate-heavy corpus (one hot trigram in 60% of docs — the
    guaranteed-at-scale skew d12's semi-join shape exists for): output must
    still hash-match the DuckDB oracle run on the same synthetic parquet."""
    import duckdb
    import pandas as pd

    from dibimbing_case_study_etl_spark.queries import load_all
    from dibimbing_case_study_etl_spark.testing import compare_frames

    n = 1000
    rows = []
    for i in range(n):
        tail = f"tail{i} word{i} unique{i} filler{i % 7}"
        text = ("copyright boilerplate header " + tail) if i % 5 < 3 else tail
        rows.append({"doc_id": i, "text": text})
    pdf = pd.DataFrame(rows)
    path = tmp_path / "documents.parquet"
    pdf.to_parquet(path)

    spec = load_all()["d12_dup_ngram_fraction"]
    got = spec.build(spark, str(tmp_path)).toPandas()

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    want = con.execute(spec.oracle).df()
    con.close()

    assert not compare_frames(got, want)
    # the hot trigrams really are flagged as duplicated
    hot = got[got.doc_id % 5 < 3]
    assert (hot.n_dup >= 1).all()


def test_m06_phash_finds_crafted_near_duplicates(spark, tmp_path):
    """The synthetic corpus has no near-identical byte streams (its minimum
    pairwise phash distance at sf0.01 is 9 — the registry row runs the
    16-band/≤11 diagnostic setting so the driver check is non-vacuous) —
    the non-degenerate semantics are pinned here: perturbed clones must
    pair up with small Hamming distance, and the band-join output must
    equal the O(n²) oracle on the same parquet."""
    import duckdb
    import pandas as pd

    from dibimbing_case_study_etl_spark.queries import load_all

    from dibimbing_case_study_etl_spark.testing import compare_frames

    rng = __import__("random").Random(11)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "kappa", "sigma"]
    rows = []
    for i in range(60):
        base = " ".join(rng.choice(words) for _ in range(40))
        rows.append({"doc_id": i * 10, "text": base})
        if i % 3 == 0:  # clone with a one-character perturbation
            rows.append({"doc_id": i * 10 + 1, "text": base[:-1] + "x"})
    pdf = pd.DataFrame(rows)
    path = tmp_path / "documents.parquet"
    pdf.to_parquet(path)

    spec = load_all()["m06_phash_neardup"]
    got = spec.build(spark, str(tmp_path)).toPandas()

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    want = con.execute(spec.oracle).df()
    con.close()

    assert not compare_frames(got, want)
    assert len(got) > 0
    # every clone pairs with its base at tiny distance
    clone_pairs = got[(got.doc_b - got.doc_a) == 1]
    assert len(clone_pairs) >= 15
    assert (clone_pairs.hamming <= 3).all()


def test_phash_band_params_enforce_pigeonhole_guarantee(spark):
    """max_hamming >= n_bands would silently lose recall (a pair can
    differ one bit per band and share none) — the operator must refuse."""
    import pytest

    from dibimbing_case_study_etl_spark.operators.multimodal import phash_neardup_pairs

    df = spark.createDataFrame([(1, "x" * 80)], "doc_id long, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        phash_neardup_pairs(df, "doc_id", "text", max_hamming=4, n_bands=4)
    with pytest.raises(ValueError, match="n_bands"):
        phash_neardup_pairs(df, "doc_id", "text", max_hamming=2, n_bands=5)


def test_multiprobe_banding_matches_brute_force(spark):
    """m08's radius-1 multiprobe (8-bit bands) must emit EXACTLY the
    brute-force Hamming<=11 pair set — same guarantee as the 4-bit exact
    bands, ~12x fewer candidates. Signatures are a deterministic LCG so
    the set includes near pairs, far pairs, and exact clones (h XOR 0)."""
    from pyspark.sql import functions as F

    from dibimbing_case_study_etl_spark.operators.multimodal import band_hamming_pairs

    rows = []
    state = 1234567
    for i in range(120):
        state = (state * 1103515245 + 12345) % (1 << 31)
        h1 = state & 0xFFFFFFFF >> 1
        state = (state * 1103515245 + 12345) % (1 << 31)
        h2 = state & 0xFFFFFFFF >> 1
        rows.append((i, h1, h2))
        if i % 4 == 0:  # near neighbor: flip ≤3 known bits
            rows.append((i + 1000, h1 ^ 0b101, h2 ^ 0b1))
        if i % 7 == 0:  # exact clone
            rows.append((i + 2000, h1, h2))
    sig = spark.createDataFrame(rows, "doc_id long, h1 long, h2 long")

    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in band_hamming_pairs(sig, max_hamming=11, n_bands=8, probe_bits=1).collect()
    }
    want = set()
    for ia, (da, a1, a2) in enumerate(rows):
        for db, b1, b2 in rows[ia + 1 :]:
            hd = bin((a1 ^ b1)).count("1") + bin((a2 ^ b2)).count("1")
            if hd <= 11:
                want.add((min(da, db), max(da, db), hd))
    assert got == want and len(want) > 30


def test_s09_knn_graph_agrees_with_exact_baseline(spark, sf_dir):
    """The block-pair GEMM graph must produce the same neighbor sets and
    ranks as the exact JVM cosine_topk baseline run with the whole corpus
    as the query side (legal here — the corpus is under the broadcast
    contract bound at test SF; the GEMM path exists because at 100 TB it
    is not)."""
    from dibimbing_case_study_etl_spark.operators.similarity import cosine_topk, knn_graph

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    got = {
        (r.vec_id, r.rank): r.neighbor_id
        for r in knn_graph(e, k=5, num_blocks=4).collect()
    }
    want = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk(e, e, k=5).collect()
    }
    assert set(got) == set(want)
    disagreements = [k for k in want if got[k] != want[k]]
    assert not disagreements, disagreements[:5]


def test_t16_chunks_cover_every_word_exactly(spark, sf_dir):
    """Chunking invariants: chunk 0 starts at word 1; consecutive kept
    chunks advance by the stride; the union of [start, start+n_words)
    covers 1..len(w) with no gap; no chunk is empty."""
    from dibimbing_case_study_etl_spark.queries.llm_ops4 import (
        _CHUNK_STRIDE,
        _CHUNK_WINDOW,
    )

    rows = (
        REGISTRY["t16_document_chunking"].build(spark, sf_dir)
        .orderBy("doc_id", "chunk_idx")
        .collect()
    )
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert by_doc
    for doc, chunks in by_doc.items():
        starts = [c.chunk_idx * _CHUNK_STRIDE + 1 for c in chunks]
        assert starts[0] == 1
        assert all(b - a == _CHUNK_STRIDE for a, b in zip(starts, starts[1:]))
        covered_end = 0
        for c, s in zip(chunks, starts):
            assert 1 <= c.n_words <= _CHUNK_WINDOW
            assert s <= covered_end + 1  # no gap
            covered_end = max(covered_end, s + c.n_words - 1)
            assert len(c.chunk_text.split(" ")) == c.n_words
        # last chunk reaches the end of the document
        assert covered_end == max(s + c.n_words - 1 for c, s in zip(chunks, starts))


def test_s10_quantization_error_bound(spark, sf_dir):
    """Symmetric int8 with scale = max|x|/127 guarantees every
    reconstruction error ≤ scale/2 (half a quantization step)."""
    rows = REGISTRY["s10_embedding_quantize_int8"].build(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # both sides are 6-dp-rounded outputs → allow one rounding ulp
        assert r.max_abs_err <= r.qscale / 2 + 1e-6


def test_d14_verdicts_on_crafted_corpus(spark, tmp_path):
    """Crafted corpus: an incoming doc identical to an existing one is
    'exact'; a one-word-changed twin is 'near'; unrelated text is 'new'.
    Incoming docs are NEVER compared to each other (two identical incoming
    docs with no existing match must both be 'new')."""
    import pyspark.sql.functions as F

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    other = "one two three four five six seven eight nine ten"
    dup_inc = "red orange yellow green blue indigo violet umber black white"
    docs = [
        # existing: ids ending 0-7
        (10, base, "en", "web", len(base)),
        (11, other, "en", "web", len(other)),
        # incoming: ids ending 8/9
        (18, base, "en", "web", len(base)),      # exact dup of 10
        (19, near, "en", "web", len(near)),      # near dup of 10
        (28, dup_inc, "en", "web", len(dup_inc)),  # incoming-only dup pair...
        (38, dup_inc, "en", "web", len(dup_inc)),  # ...must both stay 'new'
    ]
    sf = str(tmp_path / "d14sf")
    import os

    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))

    out = {
        r.doc_id: (r.verdict, r.dup_of)
        for r in REGISTRY["d14_incremental_dedup"].build(spark, sf).collect()
    }
    assert out[18] == ("exact", 10)
    assert out[19][0] == "near" and out[19][1] == 10
    assert out[28] == ("new", None) and out[38] == ("new", None)


def test_shard_writer_manifest_and_determinism(spark, sf_dir, tmp_path):
    """Shard writer contract: manifest totals equal corpus totals; every
    shard's first_seq window respects seqs_per_shard; verify_shards
    round-trips green; a second landing of the same corpus reproduces the
    identical manifest (deterministic resharding); corrupting a shard is
    caught."""
    import json
    import os
    import shutil

    from dibimbing_case_study_etl_spark.catalog import load_table
    from dibimbing_case_study_etl_spark.functions.text import token_count
    from dibimbing_case_study_etl_spark.operators.shards import (
        verify_shards,
        write_training_shards,
    )
    import pyspark.sql.functions as F

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "shards")
    m1 = write_training_shards(docs, out, seq_len=256, seqs_per_shard=16)

    n_docs = docs.count()
    n_tokens = docs.select(F.sum(token_count(F.col("text")))).first()[0]
    assert m1["total_docs"] == n_docs
    assert m1["total_tokens"] == n_tokens
    assert m1["n_shards"] >= 2  # corpus big enough to actually shard

    back = spark.read.parquet(out)
    bad = back.filter(
        (F.col("first_seq") / 16).cast("bigint") != F.col("shard")
    ).count()
    assert bad == 0
    assert verify_shards(spark, out)["ok"]

    # deterministic relanding
    m2 = write_training_shards(docs, out, seq_len=256, seqs_per_shard=16)
    assert m1 == m2

    # corruption is caught: drop one shard directory, keep the manifest
    victims = [d for d in os.listdir(out) if d.startswith("shard=")]
    shutil.rmtree(os.path.join(out, sorted(victims)[0]))
    res = verify_shards(spark, out)
    assert not res["ok"] and res["mismatches"]


def test_shard_relanding_smaller_corpus_leaves_no_stale_shards(spark, sf_dir, tmp_path):
    """Re-landing a SMALLER corpus to the same path must not fold the
    previous landing's surplus shard dirs into the manifest (static
    overwrite truncates the whole landing; under the session's dynamic
    default the stale documents would count silently and verify would
    still pass). Also: the manifest records id_col, so shards written
    with a non-default id column verify instead of raising."""
    import pyspark.sql.functions as F

    from dibimbing_case_study_etl_spark.catalog import load_table
    from dibimbing_case_study_etl_spark.functions.text import token_count
    from dibimbing_case_study_etl_spark.operators.shards import (
        verify_shards,
        write_training_shards,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "shards")
    write_training_shards(docs, out, seq_len=256, seqs_per_shard=16)

    smaller = docs.limit(docs.count() // 4)
    m = write_training_shards(smaller, out, seq_len=256, seqs_per_shard=16)
    n_docs = smaller.count()
    n_tokens = smaller.select(F.sum(token_count(F.col("text")))).first()[0]
    assert m["total_docs"] == n_docs
    assert m["total_tokens"] == n_tokens
    back = spark.read.parquet(out)
    assert back.count() == n_docs  # no stale shard dirs survive on disk
    assert verify_shards(spark, out)["ok"]
    # the session's dynamic default survives the landing (conf restored)
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "unset")
        != "static"
    )

    # custom id column round-trips through the manifest into verify
    renamed = docs.withColumnRenamed("doc_id", "document_key")
    out2 = str(tmp_path / "shards_custom_id")
    m2 = write_training_shards(renamed, out2, id_col="document_key",
                               seq_len=256, seqs_per_shard=16)
    assert m2["id_col"] == "document_key"
    assert verify_shards(spark, out2)["ok"]


def test_d15_cdc_catches_pasted_span_at_any_offset(spark, tmp_path):
    """The CDC property: a verbatim span pasted at a DIFFERENT offset in
    another document anchors identically in both (anchors follow content,
    not position), so the pair is found; documents with no shared span
    are not. This is what fixed-stride gram sampling cannot guarantee."""
    import os

    span = ("the quick brown fox jumps over the lazy dog while seventeen "
            "wizards briskly mix quartz flagons of java and sphinx quotes "
            "until dawn breaks over the misty harbor town")
    filler_a = "alpha " * 30
    filler_b = "totally different preamble text with its own words here padding " * 3
    unrelated = "nothing in common with anything else at all " * 8
    docs = [
        (1, filler_a + span + " trailing tail one", "en", "web", 0),
        (2, filler_b + span + " other ending entirely", "en", "web", 0),
        (3, unrelated, "en", "web", 0),
    ]
    sf = str(tmp_path / "d15sf")
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))

    out = {(r.doc_a, r.doc_b): r.n_spans
           for r in REGISTRY["d15_cdc_span_pairs"].build(spark, sf).collect()}
    assert (1, 2) in out and out[(1, 2)] >= 1  # shared span found despite offset shift
    assert all(3 not in p for p in out)  # unrelated doc pairs with nobody


def test_cosine_clamped_on_identical_vectors(spark):
    """The sf1-sweep finding, pinned at unit level: identical vectors must
    score EXACTLY 1.0 (dot/(sqrt·sqrt) overshoots to 1+2e-16 unclamped,
    which hash-diverges from engines that clamp)."""
    import pyspark.sql.functions as F

    from dibimbing_case_study_etl_spark.functions.vector import cosine

    # a vector whose norm² is inexact under sqrt — the overshoot trigger
    v = [0.1, 0.2, 0.3, 0.7, 0.11, 0.13, 0.17, 0.19]
    df = spark.createDataFrame([(v, v)], "a array<double>, b array<double>")
    got = df.select(cosine(F.col("a"), F.col("b")).alias("c")).first().c
    assert got == 1.0


def test_cosine_zero_vector_contract(spark):
    """Pin the documented zero-norm contract (clamp_unit docstring):
    under the engine's ANSI-default sessions a zero embedding FAILS FAST
    with DIVIDE_BY_ZERO — it can never silently clamp to a perfect 1.0
    and rank as a duplicate. If a future session config disables ANSI,
    this test flags the regression to the silent-footgun behavior
    before the similarity family inherits it."""
    import pytest
    import pyspark.sql.functions as F
    from pyspark.errors.exceptions.captured import ArithmeticException

    from dibimbing_case_study_etl_spark.functions.vector import cosine

    z, v = [0.0, 0.0, 0.0], [1.0, 2.0, 3.0]
    df = spark.createDataFrame([(z, v)], "a array<double>, b array<double>")
    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        df.select(cosine(F.col("a"), F.col("b")).alias("c")).first()


def test_t21_no_cluster_straddles_splits(spark, sf_dir):
    """The property t21 exists for: every near-dup cluster lands entirely
    in ONE split — zero cross-split leakage edges by construction."""
    import pyspark.sql.functions as F

    from dibimbing_case_study_etl_spark.catalog import load_table
    from dibimbing_case_study_etl_spark.functions.text import fingerprint
    from dibimbing_case_study_etl_spark.operators.dedup import (
        dedup_clusters,
        jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    prs = jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.8)
    clusters = dedup_clusters(docs, prs, "doc_id")
    b = fingerprint("CAST(cluster_id AS STRING)") % 100
    split = F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    assigned = clusters.select("doc_id", "cluster_id", split.alias("split"))
    straddlers = (
        assigned.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter("n_splits > 1")
        .count()
    )
    assert straddlers == 0
    # and the near-dup EDGES respect it too (the leakage definition)
    leaks = (
        prs.join(assigned.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("split", "split_a")
        .join(
            assigned.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")),
            "doc_b",
        )
        .filter("split_a <> split_b")
        .count()
    )
    assert leaks == 0


def test_t22_epoch_shuffle_is_deterministic_and_epochs_differ(spark, sf_dir):
    """Same epoch twice ⇒ identical order; different epochs ⇒ different
    permutations (a loader that accidentally reuses epoch keys trains on
    one fixed order forever)."""
    import pyspark.sql.functions as F

    from dibimbing_case_study_etl_spark.catalog import load_table
    from dibimbing_case_study_etl_spark.functions.text import fingerprint
    from dibimbing_case_study_etl_spark.operators.packing import prefix_sum

    docs = load_table(spark, sf_dir, "documents")

    def order(epoch):
        keyed = docs.select(
            "doc_id",
            F.pmod(
                fingerprint("CAST(doc_id AS STRING)") * F.lit(1_103_515_245 + epoch),
                F.lit(2_147_483_647),
            ).alias("k"),
            F.lit(1).cast("bigint").alias("__one"),
        )
        ranked = prefix_sum(keyed, "__one", ["k", "doc_id"], out_col="pos")
        return [r.doc_id for r in ranked.orderBy("pos").collect()]

    o3a, o3b, o4 = order(3), order(3), order(4)
    assert o3a == o3b
    assert o3a != o4
    assert sorted(o3a) == sorted(o4)  # same corpus, different permutation


@pytest.mark.slow
def test_d08_salt_cells_preserve_pair_set_on_degenerate_block(spark):
    """The 2D salt (build cell × probe chunk) must not change the emitted
    pair set: on a corpus whose every doc shares ONE (prefix16, lenband)
    block — the boilerplate worst case — the salted kernel must equal a
    brute-force reference, and the L1 char-profile prune must never drop
    a true pair."""
    import itertools

    from dibimbing_case_study_etl_spark.operators.dedup import edit_distance_pairs

    base = "the quick brown fox jumps over the lazy dog " * 4  # 180 chars
    rows = []
    for i in range(600):
        # same 16-char prefix; lengths within one band; bodies: 200 docs
        # are suffix-perturbed clones (true pairs), the rest differ widely
        if i % 3 == 0:
            rows.append((i, base + f"v{i % 7}"))
        else:
            body = "".join(chr(97 + (i * 7 + k) % 26) for k in range(140))
            rows.append((i, base[:40] + body + "x" * (42 + i % 4)))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r["doc_a"], r["doc_b"], r["edit_dist"])
        for r in edit_distance_pairs(df, "doc_id", "text", block_cap=64).collect()
    }
    # brute-force reference of the exact semantics (DuckDB levenshtein)
    import duckdb
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    con = duckdb.connect()
    con.register("documents", pdf)
    ref = {
        tuple(r)
        for r in con.execute(
            """
            SELECT a.doc_id, b.doc_id, levenshtein(a.text, b.text)
            FROM documents a JOIN documents b
              ON substring(a.text, 1, 16) = substring(b.text, 1, 16)
             AND a.doc_id < b.doc_id
            WHERE abs(length(a.text) - length(b.text)) <= 8
              AND levenshtein(a.text, b.text) <= 32
            """
        ).fetchall()
    }
    con.close()
    assert got == ref and len(ref) > 1000  # non-vacuous: real pair mass


def test_prefix_filter_jaccard_exact_at_double_boundaries(spark):
    """The AllPairs prefix filter must not lose pairs whose Jaccard sits
    EXACTLY at the double-rounded threshold (|∩|=44,|∪|=55 at t=0.8:
    44/55 ≥ 0.8 is TRUE in doubles, yet float prefix lengths round one
    element short — the first cut of the r7 rewrite silently dropped 55
    of 248,962 sf1 pairs this way). Reference = the naive posting
    self-join, run inline; both kernels must emit the identical pair set
    on a corpus engineered to live on the boundary."""
    from pyspark.sql import functions as F

    from dibimbing_case_study_etl_spark.operators.dedup import (
        _shingle_index,
        containment_pairs,
        jaccard_pairs,
    )

    # Build docs as explicit word sets so shingle sets (k=1) are exact:
    # family i has a 55-word doc and a 44-word subset doc (J = 44/55 =
    # 0.8 exactly), plus noise docs sharing half the words.
    rows = []
    for i in range(40):
        words55 = [f"w{i}_{j}" for j in range(55)]
        rows.append((i * 10 + 1, " ".join(words55)))
        rows.append((i * 10 + 2, " ".join(words55[:44])))
        rows.append((i * 10 + 3, " ".join(words55[:28] + [f"n{i}_{j}" for j in range(27)])))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    def naive(threshold):
        sh = _shingle_index(df, "doc_id", "text", 1)
        a, b = sh.alias("a"), sh.alias("b")
        common = (
            a.join(b, (F.col("a.__s") == F.col("b.__s")) & (F.col("a.__id") < F.col("b.__id")))
            .groupBy(F.col("a.__id").alias("doc_a"), F.col("b.__id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("nc"))
        )
        sizes = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("n"))
        return (
            common.join(sizes.withColumnRenamed("__id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
            .join(sizes.withColumnRenamed("__id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        )

    jn = naive(0.8).withColumn("j", F.col("nc") / (F.col("na") + F.col("nb") - F.col("nc")))
    ref_j = {(r["doc_a"], r["doc_b"]) for r in jn.filter("j >= 0.8").collect()}
    got_j = {(r["doc_a"], r["doc_b"]) for r in jaccard_pairs(df, "doc_id", "text", k=1, threshold=0.8).collect()}
    assert got_j == ref_j and len(ref_j) >= 40  # every boundary pair present

    cn = naive(0.8).withColumn("c", F.col("nc") / F.least("na", "nb"))
    ref_c = {(r["doc_a"], r["doc_b"]) for r in cn.filter("c >= 1.0").collect()}
    got_c = {(r["doc_a"], r["doc_b"]) for r in containment_pairs(df, "doc_id", "text", k=1, threshold=1.0).collect()}
    assert got_c == ref_c and len(ref_c) >= 40  # exact-containment boundary


def test_minhash_hashed_verify_equals_string_verify(spark, sf_dir, monkeypatch):
    """The certified xxhash64-encoded verify (engaged past the candidate
    -count threshold at scale) must emit the identical (pair, jaccard)
    set as the string verify — forced on here by dropping the dispatch
    threshold to zero."""
    import dibimbing_case_study_etl_spark.operators.dedup as dd
    from dibimbing_case_study_etl_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    baseline = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in dd.minhash_lsh_pairs(docs, "doc_id", "text", k=3, threshold=0.8).collect()
    }
    monkeypatch.setattr(dd, "_HASH_VERIFY_MIN_CANDIDATES", 0)
    hashed = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in dd.minhash_lsh_pairs(docs, "doc_id", "text", k=3, threshold=0.8).collect()
    }
    assert baseline == hashed and len(baseline) > 0


def test_lsh_strip_kernel_invariant_to_strip_size(spark, sf_dir, monkeypatch):
    """The strip-chunked bucket-pair kernel (r8: bounded memory in bucket
    size) must emit the identical pair set whatever the strip/flush sizes
    — shrunk here so every real bucket spans multiple strips and the
    drain() path fires mid-bucket."""
    import dibimbing_case_study_etl_spark.operators.dedup as dd
    from dibimbing_case_study_etl_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    baseline = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in dd.minhash_lsh_pairs(docs, "doc_id", "text", k=3, threshold=0.8).collect()
    }
    monkeypatch.setattr(dd, "_PAIR_STRIP_ELEMS", 7)
    monkeypatch.setattr(dd, "_PAIR_EMIT_ROWS", 3)
    tiny = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in dd.minhash_lsh_pairs(docs, "doc_id", "text", k=3, threshold=0.8).collect()
    }
    assert baseline == tiny and len(baseline) > 0


@pytest.mark.slow
def test_lsh_giant_bucket_star_downgrade(spark):
    """The r7 verdict's one perf-weak item: a degenerate LSH bucket with
    1e5 DISTINCT near-identical members must complete under a fixed
    memory budget. With ``bucket_cap`` set, giant buckets downgrade to
    star emission (hub spokes): O(m) output, O(m x bands) kernel cost,
    same connected components for cluster-then-keeper pipelines.

    Corpus: 30 shared words + one unique tail word per doc -> every pair
    has Jaccard 28/30 ~= 0.933 (one differing shingle of 29), so all 1e5
    docs are one true near-dup cluster and verified spokes pass the 0.8
    threshold."""
    import dibimbing_case_study_etl_spark.operators.dedup as dd
    from pyspark.sql import functions as F

    n = 100_000
    core = " ".join(f"w{i}" for i in range(30))
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(core + " u"), F.col("id").cast("string")).alias("text"),
    )
    out = dd.minhash_lsh_pairs(
        docs, "doc_id", "text", k=3, threshold=0.8, bucket_cap=4096
    )
    rows = out.collect()
    # star output is corpus-linear, not quadratic
    assert 0 < len(rows) < 5 * n
    assert all(r["jaccard"] >= 0.8 for r in rows)
    # union-find: the emitted spokes must stitch (nearly) every doc into
    # one component — the property cluster-then-keeper consumers need
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        a, b = find(r["doc_a"]), find(r["doc_b"])
        if a != b:
            parent[a] = b
    roots = {find(x) for x in range(n)}
    covered = {x for r in rows for x in (r["doc_a"], r["doc_b"])}
    assert len(covered) >= 0.99 * n
    assert len(roots) <= 1 + (n - len(covered)) + 0.01 * n


def test_lsh_bucket_cap_env_wiring_and_downgrade_audit(spark, monkeypatch):
    """The deployment seam for the star downgrade (r8 verdict ask #5):
    SPARK_GRAFT_LSH_BUCKET_CAP caps the kernel when no explicit
    ``bucket_cap`` is passed (the scale-path runner's hook), an explicit
    argument overrides the env, the uncapped registry path parks no
    audit accumulator, and a capped run's accumulator counts the buckets
    that actually downgraded — no silent approximation."""
    import dibimbing_case_study_etl_spark.operators.dedup as dd
    from pyspark.sql import functions as F

    n = 60  # one clique: all pairs Jaccard ~0.93, one bucket per band
    core = " ".join(f"w{i}" for i in range(30))
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(core + " u"), F.col("id").cast("string")).alias("text"),
    )

    monkeypatch.delenv(dd._BUCKET_CAP_ENV, raising=False)
    exact = dd.minhash_lsh_pairs(docs, "doc_id", "text", k=3, threshold=0.8).collect()
    assert dd.LAST_LSH_DOWNGRADED_BUCKETS is None  # uncapped = no audit
    assert len(exact) == n * (n - 1) // 2

    monkeypatch.setenv(dd._BUCKET_CAP_ENV, "8")
    starred = dd.minhash_lsh_pairs(docs, "doc_id", "text", k=3, threshold=0.8).collect()
    assert dd.LAST_LSH_DOWNGRADED_BUCKETS is not None
    assert dd.LAST_LSH_DOWNGRADED_BUCKETS.value >= 1  # the clique downgraded
    assert len(starred) == n - 1  # star emission: corpus-linear output

    # explicit argument beats the env: a huge cap restores exact output
    huge = dd.minhash_lsh_pairs(
        docs, "doc_id", "text", k=3, threshold=0.8, bucket_cap=10**9
    ).collect()
    assert dd.LAST_LSH_DOWNGRADED_BUCKETS is not None
    assert dd.LAST_LSH_DOWNGRADED_BUCKETS.value == 0
    assert len(huge) == len(exact)


def test_lsh_bucket_cap_env_rejects_bad_values(spark, monkeypatch):
    """r9 ADVICE: '0'/negatives would silently star-downgrade EVERY
    multi-member bucket and non-integers raised a bare ValueError
    mid-build — both must fail loud, naming the env var."""
    import pytest

    import dibimbing_case_study_etl_spark.operators.dedup as dd
    from pyspark.sql import functions as F

    docs = spark.range(4).select(
        F.col("id").alias("doc_id"),
        F.lit("a b c d e").alias("text"),
    )
    for bad in ("0", "1", "-5", "banana"):
        monkeypatch.setenv(dd._BUCKET_CAP_ENV, bad)
        with pytest.raises(ValueError, match=dd._BUCKET_CAP_ENV):
            dd.minhash_lsh_pairs(docs, "doc_id", "text", k=3, threshold=0.8)


def test_component_algorithms_reject_non_integral_ids(spark):
    """r9 ADVICE: string ids cast to null bigint labels, so the loops
    'converged' instantly on all-null cluster_ids. Both component
    implementations must raise up front instead."""
    import pytest

    from dibimbing_case_study_etl_spark.operators.dedup import (
        connected_components_pointer_jump,
        dedup_clusters,
    )

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c")], ["doc_a", "doc_b"]
    )
    docs = spark.createDataFrame([("a",), ("b",), ("c",)], ["doc_id"])
    with pytest.raises(TypeError, match="integral"):
        dedup_clusters(docs, pairs, "doc_id")
    with pytest.raises(TypeError, match="integral"):
        connected_components_pointer_jump(pairs)


def test_pointer_jump_cc_converges_in_log_rounds_on_long_path(spark):
    """The reason g04's operator exists: a PATH graph of 4096 nodes has
    diameter 4095, so d06's min-label propagation needs ~4095 rounds —
    pointer jumping must finish within ~log2(n)+slack rounds (the
    operator RAISES past max_iterations, so a pass certifies the round
    count) and label every node with the path minimum, exactly."""
    from pyspark.sql import functions as F

    from dibimbing_case_study_etl_spark.operators.dedup import (
        connected_components_pointer_jump,
    )

    n = 4096
    pairs = spark.range(1, n).select(
        (F.col("id") - 1).alias("doc_a"), F.col("id").alias("doc_b")
    )
    out = connected_components_pointer_jump(pairs, max_iterations=16)
    rows = out.collect()
    assert len(rows) == n
    assert all(r["cluster_id"] == 0 for r in rows)


@pytest.mark.slow
def test_pointer_jump_cc_matches_propagation_on_random_graph(spark):
    """On an arbitrary (seeded) sparse graph the doubling algorithm and
    d06's propagation must produce identical components, and isolated
    nodes must self-cluster through the ``nodes`` join."""
    import random

    from pyspark.sql import functions as F

    from dibimbing_case_study_etl_spark.operators.dedup import (
        connected_components_pointer_jump,
        dedup_clusters,
    )

    rng = random.Random(7)
    n = 500
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(300)]
    pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    nodes = spark.range(n + 50).select(F.col("id").alias("doc_id"))  # 50 isolated

    pj = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components_pointer_jump(pairs, nodes=nodes).collect()
    }
    prop = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(nodes, pairs, "doc_id").collect()
    }
    assert pj == prop and len(pj) == n + 50
    assert all(pj[i] == i for i in range(n, n + 50))  # isolated = self


def test_ks_two_sample_exact_against_reference(spark):
    """ks_two_sample_scaled (x11's kernel) against a sequential numpy
    reference on a tied, skewed fixture — exact integer agreement, and
    the distributed prefix-sum (range partitions + offsets) must not
    depend on partition count."""
    import numpy as np

    from dibimbing_case_study_etl_spark.operators.stats import ks_two_sample_scaled

    rng = np.random.default_rng(11)
    a = np.round(rng.exponential(10.0, 400), 1)  # heavy ties at 1 dp
    b = np.round(rng.exponential(12.0, 300), 1)

    def ref(a, b):
        vals = np.unique(np.concatenate([a, b]))
        fa = np.searchsorted(np.sort(a), vals, side="right")
        fb = np.searchsorted(np.sort(b), vals, side="right")
        return int(np.max(np.abs(fa * len(b) - fb * len(a))))

    da = spark.createDataFrame([(float(x),) for x in a], "value double")
    db = spark.createDataFrame([(float(x),) for x in b], "value double")
    for parts in (1, 3, 16):
        n_a, n_b, d = ks_two_sample_scaled(da, db, "value", partitions=parts)
        assert (n_a, n_b) == (400, 300)
        assert d == ref(a, b), parts

    # identical distributions -> D = 0; empty cohort -> loud
    n_a, n_b, d = ks_two_sample_scaled(da, da, "value")
    assert d == 0
    import pytest

    with pytest.raises(ValueError, match="non-empty"):
        ks_two_sample_scaled(da.filter("value < 0"), db, "value")
