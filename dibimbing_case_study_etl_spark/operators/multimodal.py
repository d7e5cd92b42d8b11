"""Multimodal column plumbing (north star): image/audio/video as opaque
``binary`` columns plus a typed metadata struct, processed with
Arrow-batched ``mapInPandas``.

Image decode is REAL: ``_decode_real`` uses Pillow when importable and
falls back to the dependency-free subset PNG codec
(``functions/imaging.py``) otherwise, so :func:`decode_image_features`
runs end-to-end in this container against :func:`synth_png_table`'s
spec-valid PNGs. Audio decode is REAL too: :func:`synth_wav_table` /
:func:`resample_audio_real` run the dependency-free 16-bit mono PCM
RIFF WAVE codec (``functions/audio.py``); video container parsing is
REAL via the greyscale YUV4MPEG2 subset (``functions/video.py``,
:func:`synth_y4m_table` / :func:`sample_frames_y4m`), and
:func:`resize_images_real` resamples decoded PNG pixels in exact
integer arithmetic. COMPRESSED codecs (JPEG, H.264, MP3 …) remain out
of scope in this container — a deployment with Pillow/ffmpeg/torchaudio
extends ``_decode_real``/``decode_y4m`` the same way; the legacy
``stub=True`` paths are kept for the byte-level plumbing tests.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BLOB_SCHEMA = "doc_id bigint, content binary, meta struct<format string, n_bytes bigint>"
FEATURE_SCHEMA = "doc_id bigint, n_bytes bigint, checksum bigint"


def to_blob_table(df: DataFrame, id_col: str, text_col: str, fmt: str = "txt") -> DataFrame:
    """Pack content into the canonical multimodal layout: opaque binary +
    metadata struct. Here the 'blob' is the UTF-8 text bytes (deterministic
    stand-in for an image/audio payload)."""
    content = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        content.alias("content"),
        F.struct(
            F.lit(fmt).alias("format"),
            F.length(content).cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )


def _decode_real(blob: bytes) -> dict:
    """Real image decode: Pillow when importable, else the dependency-free
    subset PNG decoder (``functions/imaging.py``). Raises ValueError on
    byte streams neither can read (e.g. the text stand-in blobs the stub
    paths use) — decode errors must be loud, never fake features."""
    import numpy as np

    from dibimbing_case_study_etl_spark.functions.imaging import decode_image

    arr = decode_image(blob)
    h, w = arr.shape[:2]
    channels = 1 if arr.ndim == 2 else arr.shape[2]
    flat = arr.reshape(-1).astype(np.int64)
    return {
        "width": int(w),
        "height": int(h),
        "channels": int(channels),
        "px_sum": int(flat.sum()),
        "px_mean": float(flat.mean()) if flat.size else 0.0,
    }


def decode_features(blobs: DataFrame, stub: bool = True) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    ``mapInPandas`` keeps the operator partition-parallel (one Python worker
    per partition, Arrow record batches — never row-at-a-time). The stub
    emits deterministic features (byte length + additive checksum) so the
    full distributed path is exercised and oracle-checkable.
    """
    # spread across cores first: a single-file input would otherwise run the
    # (expensive, real-decode) Python stage on one worker
    blobs = blobs.repartition(blobs.sparkSession.sparkContext.defaultParallelism, "doc_id")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if stub:
                content = pdf["content"]
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "n_bytes": content.map(len).astype("int64"),
                        "checksum": content.map(lambda b: sum(b) % 65536).astype("int64"),
                    }
                )
            else:
                # real decode (errors raise — see _decode_real): n_bytes is
                # the DECODED payload size (width·height·channels — what a
                # pipeline sizes tensors on; the container length is an I/O
                # detail and zlib-dependent), checksum over decoded pixels
                feats = [_decode_real(b) for b in pdf["content"]]
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "n_bytes": [
                            f["width"] * f["height"] * f["channels"] for f in feats
                        ],
                        "checksum": [f["px_sum"] % 65536 for f in feats],
                    }
                )

    return blobs.mapInPandas(extract, schema=FEATURE_SCHEMA)


RESIZE_REAL_SCHEMA = (
    "doc_id bigint, orig_w bigint, orig_h bigint, out_w bigint, out_h bigint, "
    "px_sum bigint, px_mean double"
)


def resize_images_real(images: DataFrame, spread: bool = True) -> DataFrame:
    """REAL image resize — no stub: decode each PNG blob with the actual
    codec (Pillow when importable, else the built-in subset decoder), then
    2×2 box-filter downsample in EXACT integer arithmetic — each output
    pixel is ``(a + b + c + d) // 4`` over its block, odd trailing row/
    column truncated — and report the output geometry plus pixel
    statistics of the resized image. Exact integer math is what lets the
    SQL oracle reproduce every resized pixel from the fixture bytes
    without a codec, so the decode → resample → re-measure loop is
    value-checked end-to-end (the m04/m07 real-codec pattern).

    One Arrow-batched ``mapInPandas`` pass, partition-spread first; the
    per-doc work is O(pixels) numpy, embarrassingly parallel — the
    deployment posture for codec work on a cluster. ``spread=False`` skips the defensive
    input spread — pass it when the producer (a ``synth_*_table``) has
    already hash-spread by doc_id: the blobs then stay on their render
    partitions and the codec plan carries ONE exchange instead of two
    (at scale the second exchange re-ships every blob for zero
    rebalancing gain)."""
    if spread:
        images = images.repartition(
            images.sparkSession.sparkContext.defaultParallelism, "doc_id"
        )

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from dibimbing_case_study_etl_spark.functions.imaging import decode_image

        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "orig_w": [], "orig_h": [], "out_w": [],
                "out_h": [], "px_sum": [], "px_mean": [],
            }
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                a = decode_image(bytes(blob))
                if a.ndim == 3:  # colour → luma-ish first channel (fixtures are grey)
                    a = a[:, :, 0]
                h, w = a.shape
                oh, ow = max(h // 2, 1), max(w // 2, 1)
                b = a[: 2 * oh, : 2 * ow].astype(np.int64)
                out = (b[0::2, 0::2] + b[0::2, 1::2] + b[1::2, 0::2] + b[1::2, 1::2]) // 4
                px_sum = int(out.sum())
                rows["doc_id"].append(doc_id)
                rows["orig_w"].append(w)
                rows["orig_h"].append(h)
                rows["out_w"].append(ow)
                rows["out_h"].append(oh)
                rows["px_sum"].append(px_sum)
                rows["px_mean"].append(px_sum / out.size)
            yield pd.DataFrame(rows)

    return images.mapInPandas(resize, schema=RESIZE_REAL_SCHEMA)


VIDEO_FRAME_SCHEMA = "doc_id bigint, frame_idx bigint, checksum bigint"


def synth_video_table(
    df: DataFrame, id_col: str, text_col: str, frame_bytes: int = 8, fps: int = 24
) -> DataFrame:
    """Deterministic fake-video table: the payload is the document's bytes
    interpreted as a sequence of fixed-size 'frames'; the metadata struct
    carries frame geometry (n_frames = payload // frame_bytes, trailing
    partial frame dropped) — the real video layout (binary + typed
    metadata) without codec libraries."""
    content = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        content.alias("content"),
        F.struct(
            F.lit("fake-video").alias("format"),
            (F.octet_length(content) / frame_bytes).cast("bigint").alias("n_frames"),
            F.lit(frame_bytes).cast("bigint").alias("frame_bytes"),
            F.lit(fps).cast("bigint").alias("fps"),
        ).alias("meta"),
    )


def sample_frames(videos: DataFrame, step: int = 4, stub: bool = True) -> DataFrame:
    """Frame sampling over the video table: every ``step``-th frame is
    sliced out of the payload byte-exactly and fingerprinted (byte sum) —
    one Arrow-batched pass, partition-spread first. The frame *decode* is
    the stubbed deployment step (`_decode_real`); the byte slicing,
    per-frame fan-out (one row in → n_frames/step rows out), schema, and
    batch shape are the real pipeline."""
    videos = videos.repartition(videos.sparkSession.sparkContext.defaultParallelism, "doc_id")

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not stub:  # pragma: no cover - deployment path
                [_decode_real(b) for b in pdf["content"]]
            ids, idxs, sums = [], [], []
            for doc_id, blob, meta in zip(pdf["doc_id"], pdf["content"], pdf["meta"]):
                fb = int(meta["frame_bytes"])
                for f in range(0, int(meta["n_frames"]), step):
                    ids.append(doc_id)
                    idxs.append(f)
                    sums.append(sum(blob[f * fb : (f + 1) * fb]))
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "checksum": sums})

    return videos.mapInPandas(sample, schema=VIDEO_FRAME_SCHEMA)


SHOT_BOUNDARY_SCHEMA = (
    "doc_id bigint, n_frames bigint, n_shots bigint, max_diff bigint, mean_shot_len double"
)


def shot_boundaries(videos: DataFrame, threshold: int = 120) -> DataFrame:
    """Shot-boundary detection over the video table: per-frame byte-sum
    'luma' signal, a cut wherever the absolute frame-to-frame delta
    exceeds ``threshold`` — the classic intensity-difference detector,
    with the codec decode stubbed to the byte signal the synthetic
    format defines. ONE Arrow-batched pass emits one row per document
    (n_frames, n_shots, max delta, mean shot length) — the frame-level
    signal never leaves the task, so nothing frame-sized is ever
    shuffled or collected (at 100 TB the per-frame table is the thing
    you must not materialize)."""
    import numpy as np

    videos = videos.repartition(
        videos.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )

    def detect(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nf, ns, mx, ml = [], [], [], [], []
            for doc_id, blob, meta in zip(pdf["doc_id"], pdf["content"], pdf["meta"]):
                fb, n = int(meta["frame_bytes"]), int(meta["n_frames"])
                if n < 1:
                    continue
                sums = (
                    np.frombuffer(bytes(blob)[: n * fb], dtype=np.uint8)
                    .reshape(n, fb)
                    .sum(axis=1, dtype=np.int64)
                )
                diffs = np.abs(np.diff(sums))
                shots = 1 + int((diffs > threshold).sum())
                ids.append(doc_id)
                nf.append(n)
                ns.append(shots)
                mx.append(int(diffs.max()) if len(diffs) else 0)
                # same arithmetic as oracle_safe.iround / DuckDB round_even:
                # half-even on (x * 1e4), never Python's decimal round()
                ml.append(float(np.rint(n / shots * 10000.0) / 10000.0))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_frames": nf,
                    "n_shots": ns,
                    "max_diff": mx,
                    "mean_shot_len": ml,
                }
            )

    return videos.mapInPandas(detect, schema=SHOT_BOUNDARY_SCHEMA)


AUDIO_RESAMPLE_SCHEMA = (
    "doc_id bigint, sr_in bigint, sr_out bigint, n_in bigint, n_out bigint, checksum bigint"
)


def synth_audio_table(
    df: DataFrame, id_col: str, text_col: str, sample_rate: int = 16000
) -> DataFrame:
    """Deterministic fake-audio table: the payload is the document's bytes
    interpreted as 8-bit PCM samples; the metadata struct carries the codec
    facts a real audio pipeline needs (sample rate, sample count, bit
    depth) — the real audio layout (binary + typed metadata) without
    torchaudio/ffmpeg."""
    content = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        content.alias("content"),
        F.struct(
            F.lit("fake-pcm8").alias("format"),
            F.lit(sample_rate).cast("bigint").alias("sample_rate"),
            F.octet_length(content).cast("bigint").alias("n_samples"),
            F.lit(8).cast("bigint").alias("bit_depth"),
        ).alias("meta"),
    )


def resample_audio(audio: DataFrame, factor: int = 4, stub: bool = True) -> DataFrame:
    """Decimation resample over the audio table: keep every ``factor``-th
    sample (sr_out = sr_in / factor) and fingerprint the decimated signal
    (byte sum). One Arrow-batched ``mapInPandas`` pass, partition-spread
    first. The anti-alias filter + interpolation of a production resampler
    is the stubbed step (`_decode_real`); the byte-exact decimation,
    metadata arithmetic, schema, and batch shape are the real pipeline."""
    audio = audio.repartition(audio.sparkSession.sparkContext.defaultParallelism, "doc_id")

    def resample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not stub:  # pragma: no cover - deployment path
                [_decode_real(b) for b in pdf["content"]]
            rows = {"doc_id": [], "sr_in": [], "sr_out": [], "n_in": [], "n_out": [], "checksum": []}
            for doc_id, blob, meta in zip(pdf["doc_id"], pdf["content"], pdf["meta"]):
                sr = int(meta["sample_rate"])
                decimated = blob[::factor]
                rows["doc_id"].append(doc_id)
                rows["sr_in"].append(sr)
                rows["sr_out"].append(sr // factor)
                rows["n_in"].append(len(blob))
                rows["n_out"].append(len(decimated))
                rows["checksum"].append(sum(decimated))
            yield pd.DataFrame(rows)

    return audio.mapInPandas(resample, schema=AUDIO_RESAMPLE_SCHEMA)


def synth_wav_table(
    df: DataFrame, id_col: str, text_col: str, sample_rate: int = 16000
) -> DataFrame:
    """Deterministic REAL-WAV table: each document's UTF-8 bytes become
    int16 samples (``(byte - 128) * 256`` — full-scale, reconstructible by
    the SQL oracle) wrapped in a spec-valid 16-bit mono PCM RIFF WAVE by
    the dependency-free codec (``functions/audio.py``). Unlike the
    fake-pcm8 stand-ins these blobs open in any audio tool — the fixture
    generator for the genuinely-executable audio decode path (the m07
    PNG precedent applied to audio).

    Encoding runs in an Arrow-batched ``mapInPandas`` stage, partition
    -spread first like every expensive Python hop."""
    from dibimbing_case_study_etl_spark.functions.audio import encode_wav

    src = df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
    )
    src = src.repartition(src.sparkSession.sparkContext.defaultParallelism, "doc_id")

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            blobs = []
            for payload in pdf["payload"]:
                buf = (
                    np.frombuffer(payload, dtype=np.uint8)
                    if len(payload)
                    else np.full(1, 128, np.uint8)  # empty doc → one zero sample
                )
                samples = (buf.astype(np.int32) - 128) * 256
                blobs.append(encode_wav(samples.astype(np.int16), sample_rate))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "content": blobs,
                    "format": ["wav"] * len(blobs),
                }
            )

    rendered = src.mapInPandas(render, schema="doc_id bigint, content binary, format string")
    return rendered.select(
        "doc_id",
        "content",
        F.struct(
            F.col("format"),
            F.length("content").cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )


def resample_audio_real(
    audio: DataFrame, factor: int = 4, spread: bool = True
) -> DataFrame:
    """Decimation resample over REAL WAV blobs: decode each RIFF/PCM
    payload with the subset codec (no stub — the sample rate and samples
    come from the container, not the synthetic metadata), keep every
    ``factor``-th sample, and fingerprint the decimated int16 signal.
    One Arrow-batched ``mapInPandas`` pass, partition-spread first; the
    per-doc work is O(n_samples) numpy slicing. ``spread=False`` skips the defensive
    input spread — pass it when the producer (a ``synth_*_table``) has
    already hash-spread by doc_id: the blobs then stay on their render
    partitions and the codec plan carries ONE exchange instead of two
    (at scale the second exchange re-ships every blob for zero
    rebalancing gain)."""
    if spread:
        audio = audio.repartition(
            audio.sparkSession.sparkContext.defaultParallelism, "doc_id"
        )

    def resample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dibimbing_case_study_etl_spark.functions.audio import decode_wav

        for pdf in batches:
            rows = {
                "doc_id": [], "sr_in": [], "sr_out": [],
                "n_in": [], "n_out": [], "checksum": [],
            }
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                sr, samples = decode_wav(bytes(blob))
                decimated = samples[::factor]
                rows["doc_id"].append(doc_id)
                rows["sr_in"].append(sr)
                rows["sr_out"].append(sr // factor)
                rows["n_in"].append(len(samples))
                rows["n_out"].append(len(decimated))
                rows["checksum"].append(int(decimated.astype("int64").sum()))
            yield pd.DataFrame(rows)

    return audio.mapInPandas(resample, schema=AUDIO_RESAMPLE_SCHEMA)


def synth_y4m_table(df: DataFrame, id_col: str, text_col: str, fps: int = 24) -> DataFrame:
    """Deterministic REAL-video table: each document renders as a
    spec-valid greyscale YUV4MPEG2 stream (``functions/video.py``) —
    geometry and frame count derived from the id (w = 8 + id % 5,
    h = 4 + 3·id % 5, n_frames = 1 + id % 7), frame ``f``'s luma plane
    holding the document's bytes tiled from absolute offset ``f·w·h``
    (empty documents become all-zero planes). Unlike the fixed-stride
    fake-video stand-ins these blobs open in any Y4M reader — the m07
    PNG / m04 WAV precedent applied to video.

    Encoding runs in an Arrow-batched ``mapInPandas`` stage, partition
    -spread first like every expensive Python hop."""
    from dibimbing_case_study_etl_spark.functions.video import encode_y4m

    src = df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
    )
    src = src.repartition(src.sparkSession.sparkContext.defaultParallelism, "doc_id")

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            blobs = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                did = int(doc_id)
                w, h, nf = 8 + did % 5, 4 + (did * 3) % 5, 1 + did % 7
                n = len(payload)
                if n:
                    buf = np.frombuffer(payload, dtype=np.uint8)
                    idx = np.arange(nf * h * w, dtype=np.int64) % n
                    frames = buf[idx].reshape(nf, h, w)
                else:
                    frames = np.zeros((nf, h, w), np.uint8)
                blobs.append(encode_y4m(frames, fps))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "content": blobs,
                    "format": ["y4m"] * len(blobs),
                }
            )

    rendered = src.mapInPandas(render, schema="doc_id bigint, content binary, format string")
    return rendered.select(
        "doc_id",
        "content",
        F.struct(
            F.col("format"),
            F.length("content").cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )


Y4M_FRAME_SCHEMA = (
    "doc_id bigint, frame_idx bigint, width bigint, height bigint, luma_sum bigint"
)


def sample_frames_y4m(
    videos: DataFrame, step: int = 4, spread: bool = True
) -> DataFrame:
    """REAL video frame sampling — no stub: container-parse each Y4M blob
    (header tokens + per-frame ``FRAME`` marker verification, the actual
    seek arithmetic a video reader performs), keep every ``step``-th
    frame, and fingerprint each kept luma plane. Geometry comes from the
    CONTAINER, not the synthetic metadata, so the parse itself is what
    the oracle checks. One Arrow-batched ``mapInPandas`` pass,
    partition-spread first; per-doc work is O(payload) numpy. ``spread=False`` skips the defensive
    input spread — pass it when the producer (a ``synth_*_table``) has
    already hash-spread by doc_id: the blobs then stay on their render
    partitions and the codec plan carries ONE exchange instead of two
    (at scale the second exchange re-ships every blob for zero
    rebalancing gain)."""
    if spread:
        videos = videos.repartition(
            videos.sparkSession.sparkContext.defaultParallelism, "doc_id"
        )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dibimbing_case_study_etl_spark.functions.video import decode_y4m

        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "frame_idx": [], "width": [], "height": [], "luma_sum": [],
            }
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                _fps, frames = decode_y4m(bytes(blob))
                nf, h, w = frames.shape
                for idx in range(0, nf, step):
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(idx)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["luma_sum"].append(int(frames[idx].astype("int64").sum()))
            yield pd.DataFrame(rows)

    return videos.mapInPandas(sample, schema=Y4M_FRAME_SCHEMA)


def decode_features_arrow(blobs: DataFrame, stub: bool = True) -> DataFrame:
    """:func:`decode_features`, but through ``mapInArrow``: the function
    receives raw ``pyarrow.RecordBatch``es and never materializes pandas
    objects — no block-manager allocation, no dtype coercion, zero-copy
    buffer access for the binary column. For a wide binary column this is
    the leanest Python hop Spark offers; semantics are identical to the
    pandas path (same schema, same features)."""
    blobs = blobs.repartition(blobs.sparkSession.sparkContext.defaultParallelism, "doc_id")

    def extract(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            content = batch.column(batch.schema.get_field_index("content"))
            if stub:
                n_bytes = pa.compute.binary_length(content).cast(pa.int64())
                checksums = pa.array(
                    [
                        int(np.frombuffer(v.as_buffer(), dtype=np.uint8).sum()) % 65536
                        for v in content
                    ],
                    type=pa.int64(),
                )
            else:
                # real decode, same feature contract as decode_features'
                # real branch: decoded payload size + pixel checksum
                feats = [_decode_real(v.as_py()) for v in content]
                n_bytes = pa.array(
                    [f["width"] * f["height"] * f["channels"] for f in feats],
                    type=pa.int64(),
                )
                checksums = pa.array(
                    [f["px_sum"] % 65536 for f in feats], type=pa.int64()
                )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(batch.schema.get_field_index("doc_id")),
                    n_bytes,
                    checksums,
                ],
                names=["doc_id", "n_bytes", "checksum"],
            )

    return blobs.mapInArrow(extract, schema=FEATURE_SCHEMA)


# --- perceptual-hash near-duplicate detection ------------------------------


def _ahash_int_array(w) -> tuple[int, int]:
    """64-bit aHash over an int64 'pixel' array, as two 32-bit halves —
    the EXACT integer arithmetic :func:`phash_cols` defines (bit j set iff
    ``chunk_sum * L >= total_sum * chunk_len`` with bounds ``(j*L)//64``),
    vectorized: bounds via integer floor division, chunk sums from one
    cumsum, bits packed with a dot against 2^j. Every product is bounded
    by max|w|·L² (cs·L and total·chunk_len both are); an input where that
    bound reaches 2^63 (e.g. ~2M characters at the largest codepoints)
    raises ``OverflowError`` instead of letting numpy wrap into a wrong
    hash. Shared by the real-decode path (:func:`decode_phash`, pixels)
    and the codepoint stand-in path (:func:`phash_neardup_pairs`)."""
    import numpy as np

    pow2 = (1 << np.arange(32, dtype=np.int64)).astype(np.int64)
    w = w.reshape(-1).astype(np.int64)
    length = int(w.size)
    if length and int(np.abs(w).max()) * length * length >= 1 << 63:
        raise OverflowError(
            f"aHash input of {length} values up to {int(np.abs(w).max())} "
            "overflows int64 products (max|w|·L² ≥ 2^63)"
        )
    total = int(w.sum())
    cum = np.concatenate(([0], np.cumsum(w)))
    bounds = (np.arange(65, dtype=np.int64) * length) // 64
    cs = cum[bounds[1:]] - cum[bounds[:-1]]
    bits = (cs * length >= total * np.diff(bounds)).astype(np.int64)
    return int(bits[:32] @ pow2), int(bits[32:] @ pow2)


def phash_cols(col_name: str, n_chunks: int = 64) -> Column:
    """64-bit aHash over the content's codepoint sequence, packed as
    ``struct<h1:bigint, h2:bigint>`` (two 32-bit halves — keeps every value
    non-negative so Spark and an oracle engine agree without 64-bit
    sign games).

    The grayscale stand-in is the codepoint array (ASCII corpus ⇒ byte
    values); a real deployment decodes pixels in the Arrow path and feeds
    the same chunk-mean machinery. Bit j compares chunk j's mean against
    the global mean in EXACT integer arithmetic —
    ``chunk_sum * L >= total_sum * chunk_len`` — so the hash is
    bit-identical across engines (no float means).

    Expression hygiene: the codepoint array binds once as a lambda
    variable (see ``functions/text._with_tokens``); the 64 chunk
    aggregates reference it as a leaf.
    """
    cp = F.expr(
        "transform(sequence(1, length({c})), i -> cast(ascii(substr({c}, i, 1)) as bigint))".format(
            c=col_name
        )
    )

    def build(w: Column) -> Column:
        L = F.size(w).cast("bigint")
        total = F.aggregate(w, F.lit(0).cast("bigint"), lambda a, x: a + x)

        def bit(j: int) -> Column:
            lo = F.floor(F.lit(j) * L / n_chunks).cast("int")
            hi = F.floor(F.lit(j + 1) * L / n_chunks).cast("int")
            n = hi - lo
            cs = F.aggregate(F.slice(w, lo + 1, n), F.lit(0).cast("bigint"), lambda a, x: a + x)
            return F.when(cs * L >= total * n.cast("bigint"), F.lit(1).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )

        half = n_chunks // 2
        h1 = sum(F.shiftleft(bit(j), j) for j in range(half))
        h2 = sum(F.shiftleft(bit(half + j), j) for j in range(half))
        return F.struct(h1.alias("h1"), h2.alias("h2"))

    return F.element_at(F.transform(F.array(cp), build), 1)


def phash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    min_len: int = 64,
    n_bands: int = 4,
) -> DataFrame:
    """Image-near-dup twin of SimHash (d04) for multimodal content: pairs
    whose perceptual hashes differ in ≤ ``max_hamming`` of 64 bits.

    Pigeonhole band join: ``n_bands`` equal slices of the 64-bit hash —
    any pair within Hamming distance ``n_bands - 1`` agrees exactly on ≥1
    band, so candidates come from equi-joins keyed by a ``64/n_bands``-bit
    value, never an n² cross join; one XOR+bit_count verifies. Narrower
    bands buy a looser verified threshold at the cost of bigger candidate
    buckets (key space 2^(64/n_bands)) — the 4×16-bit default is the scale
    posture; 16×4-bit is the loose-threshold diagnostic setting. Unlike
    d04 (xxhash64 has no oracle twin), the hash here is pure integer
    arithmetic, so the WHOLE operator is exact-oracled including the hash
    itself.

    r12 (guide §4.2): the signature stage is the numpy aHash kernel
    :func:`decode_phash` already runs on decoded pixels, applied to the
    codepoint sequence (vectorized via the UTF-32 byte view — codepoint
    extraction with no per-character Python loop). The former JVM
    expression (:func:`phash_cols`) evaluated 64 slice-``aggregate``
    higher-order functions per row — CodegenFallback, interpreted,
    boxing every element — and was the whole operator's CPU bottleneck
    (~90 % of m06's wall). Chunk bounds, integer comparisons, and bit
    packing are the same exact arithmetic, so every hash value — and
    therefore every pair — is unchanged.
    """
    # A small parquet input arrives as ONE split — without a spread the
    # whole (CPU-heavy) signature stage runs on a single core. The
    # narrow-row shuffle is orders of magnitude cheaper than the per-row
    # work it parallelizes.
    from dibimbing_case_study_etl_spark.operators.dedup import _spread

    src = _spread(df.filter(F.length(text_col) >= min_len), id_col).select(
        F.col(id_col).cast("bigint").alias("doc_id"), F.col(text_col).alias("__t")
    )

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            hashes = [
                _ahash_int_array(
                    np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(
                        np.int64
                    )
                )
                for t in pdf["__t"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "h1": [h[0] for h in hashes],
                    "h2": [h[1] for h in hashes],
                }
            )

    sig = src.mapInPandas(hash_batch, schema="doc_id bigint, h1 bigint, h2 bigint")
    return band_hamming_pairs(sig, max_hamming=max_hamming, n_bands=n_bands)


def band_hamming_pairs(
    sig: DataFrame, max_hamming: int, n_bands: int, probe_bits: int = 0
) -> DataFrame:
    """Pigeonhole band self-join over a ``(doc_id, h1, h2)`` signature
    table (two 32-bit halves of a 64-bit hash): pairs agreeing on ≥1 of
    ``n_bands`` hash slices — exactly (``probe_bits=0``) or within
    ``probe_bits`` flipped bits (multiprobe: the probe side also emits
    every ≤``probe_bits``-flip variant of each slice) — are candidates;
    one XOR+bit_count verifies Hamming ≤ ``max_hamming``. Pigeonhole:
    ``max_hamming`` errors over ``n_bands`` slices leave some slice with
    ≤ ``floor(max_hamming / n_bands)`` errors, so the guarantee is
    ``max_hamming ≤ n_bands*(probe_bits+1) - 1``. Fewer, wider bands with
    multiprobe trade a small per-rep probe fan-out for far more selective
    buckets: on the sf1 decode corpus, 8-bit bands cut the candidate mass
    11.6× vs the 4-bit bands the same guarantee would otherwise force
    (sum c² 3.58e9 → 3.09e8). Shared by the JVM-hash path
    (:func:`phash_neardup_pairs`) and the real-decode path
    (:func:`decode_phash`)."""
    if n_bands not in (4, 8, 16, 32):
        raise ValueError(f"n_bands must divide both 32-bit halves evenly, got {n_bands}")
    if probe_bits not in (0, 1):
        raise ValueError(f"probe_bits must be 0 or 1, got {probe_bits}")
    if max_hamming >= n_bands * (probe_bits + 1):
        raise ValueError(
            f"pigeonhole guarantee needs max_hamming < n_bands*(probe_bits+1) "
            f"(got {max_hamming} >= {n_bands}*{probe_bits + 1}): a pair can "
            f"exceed the probe radius in every band and never collide"
        )
    # Materialize once so the 64-bit hash isn't recomputed on both join
    # sides. localCheckpoint (not persist): the blocks are released when the
    # DataFrame goes out of scope, so repeated builds in a long-lived
    # session don't accumulate pinned cache entries.
    sig = sig.localCheckpoint(eager=True)

    # Canonicalize identical signatures BEFORE banding (the d03/d11 clone
    # posture): c byte-identical or hash-identical documents would put c
    # members into every band bucket and the verify would touch c² ordered
    # candidates per colliding group — on replica-heavy corpora (exactly
    # what a dedup pipeline ingests) that is the scale-killer (measured:
    # 280s at sf4 pre-fix). Band-join the DISTINCT signatures only, then
    # expand member pairs arithmetically: cross-group pairs inherit the
    # rep pair's hamming (the hash fully determines it), intra-group pairs
    # are hamming 0 by construction. The pair SET is unchanged.
    from dibimbing_case_study_etl_spark.operators.dedup import _spread

    reps = (
        sig.groupBy("h1", "h2")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    # The checkpoint pins AQE's coalesced layout — for a vocab-sized agg
    # that is ONE partition, and everything downstream (the band explode
    # and the probe side of the candidate join) would inherit it, running
    # the near-quadratic candidate scan on a single core (observed: m08
    # sf1 went from ~27s to >13min exactly this way). Spread BEFORE the
    # explosion; the narrow-row shuffle is noise next to the join work.
    reps = _spread(reps, "doc_id")
    mem = sig.join(
        reps.select("h1", "h2", F.col("doc_id").alias("rep_id")), ["h1", "h2"]
    ).select("doc_id", "rep_id")

    width = 64 // n_bands  # bits per band, drawn evenly from both halves
    mask = (1 << width) - 1
    bands = [
        F.shiftright(half, i * width).bitwiseAND(F.lit(mask))
        for half in (F.col("h1"), F.col("h2"))
        for i in range(n_bands // 2)
    ]
    def emit(row_df: DataFrame, flips: bool) -> DataFrame:
        structs = []
        for i, bv in enumerate(bands):
            structs.append(F.struct(F.lit(i).alias("band"), bv.cast("bigint").alias("val")))
            if flips:
                structs.extend(
                    F.struct(
                        F.lit(i).alias("band"),
                        bv.bitwiseXOR(F.lit(1 << p)).cast("bigint").alias("val"),
                    )
                    for p in range(width)
                )
        return row_df.select(
            "doc_id", "h1", "h2", F.explode(F.array(*structs)).alias("bv")
        ).select(
            "doc_id", "h1", "h2", F.col("bv.band").alias("band"), F.col("bv.val").alias("val")
        )

    # Build side: exact band values only. Probe side: adds the flipped
    # variants, so a probe row meets a build row iff their slices differ
    # in ≤ probe_bits positions — and for probe_bits ≤ 1 EXACTLY ONE probe
    # variant can match a given build value per band, so no within-band
    # duplicate candidates exist by construction.
    a = emit(reps, probe_bits == 1).alias("a")
    b = emit(reps, False).alias("b")
    xh1 = F.col("a.h1").bitwiseXOR(F.col("b.h1"))
    xh2 = F.col("a.h2").bitwiseXOR(F.col("b.h2"))
    hamming = F.bit_count(xh1) + F.bit_count(xh2)
    # Exactly-once emission without a distinct: a pair colliding on k bands
    # appears k times in the join output (once per band — within a band at
    # most one probe variant matches, see emit()); keep only the occurrence
    # on the LOWEST matching band. Band j matches iff the width-bit slice
    # of the XOR has ≤ probe_bits set bits, so the first matching band is
    # computable from (xh1, xh2) alone — a codegen'd when-chain per
    # candidate replaces a full shuffle of the (near-quadratic) candidate
    # set through a distinct.
    first_match: Column = F.lit(-1)
    for j in reversed(range(n_bands)):
        xh = xh1 if j < n_bands // 2 else xh2
        i = j % (n_bands // 2)
        slice_xor = F.shiftright(xh, i * width).bitwiseAND(F.lit(mask))
        slice_match = (
            (slice_xor == 0)
            if probe_bits == 0
            else (F.bit_count(slice_xor) <= probe_bits)
        )
        first_match = F.when(slice_match, F.lit(j)).otherwise(first_match)
    # Broadcast the build side: the band key space is only
    # n_bands * 2^width values (256 here), so a shuffled join would hash
    # the heaviest bucket's entire candidate set into one reducer — the
    # broadcast plan instead streams every spread partition of the probe
    # side against an in-memory map, which parallelizes the candidate scan
    # by PROBE rows, not by key. The build side is the rep signature table
    # (vocab-sized after canonicalization; ~20 MB at sf1). Past broadcast
    # range, replicate-the-build-side salting is the same plan by hand.
    rep_pairs = (
        a.join(
            F.broadcast(b),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter((F.col("a.band") == first_match) & (hamming <= max_hamming))
        .select(
            F.col("a.doc_id").alias("rep_a"),
            F.col("b.doc_id").alias("rep_b"),
            hamming.cast("bigint").alias("hamming"),
        )
    )

    # Expansion is output-bound: one row out per member pair, no verify
    # work. Cross-group member pairs need least/greatest — rep ids order
    # the GROUPS, but member ids of the two groups interleave.
    cross = (
        rep_pairs.join(
            mem.select(F.col("rep_id").alias("rep_a"), F.col("doc_id").alias("id_a")), "rep_a"
        )
        .join(mem.select(F.col("rep_id").alias("rep_b"), F.col("doc_id").alias("id_b")), "rep_b")
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            "hamming",
        )
    )
    ma, mb = mem.alias("ma"), mem.alias("mb")
    intra = ma.join(
        mb,
        (F.col("ma.rep_id") == F.col("mb.rep_id"))
        & (F.col("ma.doc_id") < F.col("mb.doc_id")),
    ).select(
        F.col("ma.doc_id").alias("doc_a"),
        F.col("mb.doc_id").alias("doc_b"),
        F.lit(0).cast("bigint").alias("hamming"),
    )
    return cross.unionByName(intra)


PNG_DECODE_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, channels bigint, "
    "px_sum bigint, px_mean double"
)


def synth_png_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Deterministic REAL-PNG table: each document's bytes become the
    pixels of a small greyscale image (dimensions derived from the id,
    pixels from the UTF-8 bytes tiled to fill), zlib-compressed into a
    spec-valid PNG by the dependency-free encoder. Unlike the fake-rgb
    stand-ins, these blobs decode with any PNG reader — this is the
    fixture generator for the genuinely-executable decode path.

    Encoding runs in an Arrow-batched ``mapInPandas`` stage (zlib is
    Python-side), partition-spread first like every expensive Python hop.
    """
    from dibimbing_case_study_etl_spark.functions.imaging import encode_png

    src = df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
    )
    src = src.repartition(src.sparkSession.sparkContext.defaultParallelism, "doc_id")

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            blobs = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w = 8 + int(doc_id) % 9
                h = 8 + (int(doc_id) * 3) % 9
                buf = np.frombuffer(payload, dtype=np.uint8) if len(payload) else np.zeros(1, np.uint8)
                px = np.resize(buf, (h, w))  # tile/truncate to fill
                blobs.append(encode_png(px))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "content": blobs,
                    "format": ["png"] * len(blobs),
                }
            )

    rendered = src.mapInPandas(render, schema="doc_id bigint, content binary, format string")
    return rendered.select(
        "doc_id",
        "content",
        F.struct(
            F.col("format"),
            F.length("content").cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )


def synth_jpeg_table(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic REAL-JPEG table (the m02/synth_png_table precedent
    for the JPEG seam): each document becomes a BLOCK-CONSTANT greyscale
    image — dimensions are id-derived multiples of 8 and every 8×8 block
    holds one id-derived gray level — encoded as spec-valid baseline
    JPEG by the dependency-free ``functions/jpeg.py`` encoder.

    Block-constant pixels are the exactly-reconstructible JPEG subclass:
    each block's DCT is a lone DC coefficient, so with unit quantization
    any conforming decoder (Pillow/libjpeg when installed, the built-in
    subset decoder otherwise) returns the constants bit-exactly, and a
    SQL oracle can reproduce every pixel from ``doc_id`` alone while the
    entropy coder still exercises DC differentials across blocks.
    General (non-constant) JPEG round-trips are lossy by design and are
    pinned in pytest with the ±1 T.81 tolerance instead.
    """
    from dibimbing_case_study_etl_spark.functions.jpeg import encode_jpeg_gray

    src = df.select(F.col(id_col).cast("bigint").alias("doc_id"))
    src = src.repartition(src.sparkSession.sparkContext.defaultParallelism, "doc_id")

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            blobs = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                # (d*3)%3 was identically 0 (r8 ADVICE): d//3 actually
                # varies the height, so multi-block-ROW images (vertical
                # MCU order, DC differentials across block rows) are on
                # the registry/oracle path, not just in pytest
                bw_, bh_ = 1 + d % 3, 1 + (d // 3) % 3  # blocks per axis
                by, bx = np.meshgrid(np.arange(bh_), np.arange(bw_), indexing="ij")
                g = ((d + 37 * by + 11 * bx) % 256).astype(np.uint8)
                px = np.kron(g, np.ones((8, 8), dtype=np.uint8))
                blobs.append(encode_jpeg_gray(px))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "content": blobs,
                    "format": ["jpeg"] * len(blobs),
                }
            )

    rendered = src.mapInPandas(render, schema="doc_id bigint, content binary, format string")
    return rendered.select(
        "doc_id",
        "content",
        F.struct(
            F.col("format"),
            F.length("content").cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )


COLOR_DECODE_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, channels bigint, "
    "r_sum bigint, g_sum bigint, b_sum bigint"
)


def synth_jpeg_color_table(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic COLOUR-JPEG table (``synth_jpeg_table``'s 4:4:4
    sibling): each document becomes a block-constant YCbCr image — the
    same id-derived multiple-of-8 geometry as m14, with three independent
    id-derived levels per 8×8 block (Y, Cb, Cr on different lattices so
    all three DC differential chains carry distinct values) — encoded as
    a spec-valid interleaved baseline 4:4:4 JPEG by
    ``functions/jpeg.py:encode_jpeg_ycbcr``.

    Encoding from the YCbCr domain keeps the fixture in the
    exactly-reconstructible subclass: constant blocks are DC-only under
    unit quantization, so the decoder returns the integer planes
    bit-exactly and the RGB output is a pure deterministic function
    (JFIF inverse transform, half-even rounding) a SQL oracle can
    reproduce from ``doc_id`` alone."""
    from dibimbing_case_study_etl_spark.functions.jpeg import encode_jpeg_ycbcr

    src = df.select(F.col(id_col).cast("bigint").alias("doc_id"))
    src = src.repartition(src.sparkSession.sparkContext.defaultParallelism, "doc_id")

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            blobs = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                bw_, bh_ = 1 + d % 3, 1 + (d // 3) % 3  # blocks per axis
                by, bx = np.meshgrid(np.arange(bh_), np.arange(bw_), indexing="ij")
                y = ((d + 37 * by + 11 * bx) % 256).astype(np.uint8)
                cb = ((3 * d + 59 * by + 17 * bx) % 256).astype(np.uint8)
                cr = ((7 * d + 23 * by + 29 * bx) % 256).astype(np.uint8)
                one = np.ones((8, 8), dtype=np.uint8)
                blobs.append(
                    encode_jpeg_ycbcr(
                        np.kron(y, one), np.kron(cb, one), np.kron(cr, one)
                    )
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "content": blobs,
                    "format": ["jpeg"] * len(blobs),
                }
            )

    rendered = src.mapInPandas(render, schema="doc_id bigint, content binary, format string")
    return rendered.select(
        "doc_id",
        "content",
        F.struct(
            F.col("format"),
            F.length("content").cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )


def synth_jpeg_420_table(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic 4:2:0 CHROMA-SUBSAMPLED JPEG table (r11, the
    dominant real-world layout): each document becomes a
    16×16-multiple image — luma constant per 8×8 block on a
    (2·bh, 2·bw) id-derived lattice, chroma constant per 8×8 block IN
    THE SUBSAMPLED DOMAIN (i.e. per 16×16 full-res region) on the
    (bh, bw) lattice — encoded by
    ``functions/jpeg.py:encode_jpeg_ycbcr_420``. On that subclass
    chroma decimation is the identity and the decoder's box upsampling
    its exact inverse, so every output pixel is a pure deterministic
    function of ``doc_id`` a SQL oracle reproduces arithmetically —
    the m15 pattern carried across the subsampled MCU layout."""
    from dibimbing_case_study_etl_spark.functions.jpeg import encode_jpeg_ycbcr_420

    src = df.select(F.col(id_col).cast("bigint").alias("doc_id"))
    src = src.repartition(src.sparkSession.sparkContext.defaultParallelism, "doc_id")

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        one = np.ones((8, 8), dtype=np.uint8)
        for pdf in batches:
            blobs = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                bw_, bh_ = 1 + d % 3, 1 + (d // 3) % 3  # chroma cells per axis
                # luma: (2*bh, 2*bw) 8x8 blocks -> (16*bh, 16*bw) pixels
                ly, lx = np.meshgrid(
                    np.arange(2 * bh_), np.arange(2 * bw_), indexing="ij"
                )
                y = ((d + 37 * ly + 11 * lx) % 256).astype(np.uint8)
                # chroma: (bh, bw) 8x8 blocks in the SUBSAMPLED plane
                cy, cx = np.meshgrid(np.arange(bh_), np.arange(bw_), indexing="ij")
                cb = ((3 * d + 59 * cy + 17 * cx) % 256).astype(np.uint8)
                cr = ((7 * d + 23 * cy + 29 * cx) % 256).astype(np.uint8)
                blobs.append(
                    encode_jpeg_ycbcr_420(
                        np.kron(y, one), np.kron(cb, one), np.kron(cr, one)
                    )
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "content": blobs,
                    "format": ["jpeg"] * len(blobs),
                }
            )

    rendered = src.mapInPandas(render, schema="doc_id bigint, content binary, format string")
    return rendered.select(
        "doc_id",
        "content",
        F.struct(
            F.col("format"),
            F.length("content").cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )


def decode_color_image_features(images: DataFrame, spread: bool = True) -> DataFrame:
    """Colour-JPEG decode features through the BUILT-IN 4:4:4 decoder
    (``functions/jpeg.py:decode_jpeg_color``) — deliberately NOT the
    Pillow-first ``decode_image`` dispatch: libjpeg's fixed-point
    YCbCr→RGB differs by ±1 from the JFIF float transform, so pinning
    the oracle to the built-in codec keeps the per-channel sums
    bit-deterministic on every deployment. One Arrow-batched
    ``mapInPandas`` pass; decode failures raise, never fake features."""
    from dibimbing_case_study_etl_spark.functions.jpeg import decode_jpeg_color

    if spread:
        images = images.repartition(
            images.sparkSession.sparkContext.defaultParallelism, "doc_id"
        )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = {k: [] for k in ("width", "height", "r_sum", "g_sum", "b_sum")}
            for blob in pdf["content"]:
                rgb = decode_jpeg_color(blob)
                h, w = rgb.shape[:2]
                flat = rgb.reshape(-1, 3).astype(np.int64)
                rows["width"].append(int(w))
                rows["height"].append(int(h))
                rows["r_sum"].append(int(flat[:, 0].sum()))
                rows["g_sum"].append(int(flat[:, 1].sum()))
                rows["b_sum"].append(int(flat[:, 2].sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": rows["width"],
                    "height": rows["height"],
                    "channels": [3] * len(pdf),
                    "r_sum": rows["r_sum"],
                    "g_sum": rows["g_sum"],
                    "b_sum": rows["b_sum"],
                }
            )

    return images.mapInPandas(decode, schema=COLOR_DECODE_SCHEMA)


def decode_image_features(images: DataFrame, spread: bool = True) -> DataFrame:
    """REAL image decode over a binary column — no stub: Pillow when
    present, else the built-in subset PNG decoder. One Arrow-batched
    ``mapInPandas`` pass emitting per-image geometry + pixel statistics;
    a corrupt/unsupported blob raises rather than producing fake rows.
    ``spread=False`` skips the defensive
    input spread — pass it when the producer (a ``synth_*_table``) has
    already hash-spread by doc_id: the blobs then stay on their render
    partitions and the codec plan carries ONE exchange instead of two
    (at scale the second exchange re-ships every blob for zero
    rebalancing gain)."""
    if spread:
        images = images.repartition(
            images.sparkSession.sparkContext.defaultParallelism, "doc_id"
        )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_decode_real(b) for b in pdf["content"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [f["width"] for f in feats],
                    "height": [f["height"] for f in feats],
                    "channels": [f["channels"] for f in feats],
                    "px_sum": [f["px_sum"] for f in feats],
                    "px_mean": [f["px_mean"] for f in feats],
                }
            )

    return images.mapInPandas(decode, schema=PNG_DECODE_SCHEMA)


def decode_phash(images: DataFrame, spread: bool = True) -> DataFrame:
    """REAL-decode perceptual hash: decode each image blob (Pillow or the
    built-in subset PNG codec), flatten the pixels row-major, and compute
    the same 64-bit aHash :func:`phash_cols` defines — bit j set iff
    ``chunk_sum * L >= total_sum * chunk_len`` with chunk bounds
    ``(j*L)//64`` (EXACT integer arithmetic; bit-identical to the SQL
    twin). Output schema ``doc_id, h1, h2`` (two 32-bit halves) feeds
    :func:`band_hamming_pairs`.

    Scale: one Arrow-batched ``mapInPandas`` pass, partition-spread first;
    decode failures raise — a hash of garbage pixels would silently poison
    the dedup downstream.
    """
    from dibimbing_case_study_etl_spark.functions.imaging import decode_image

    if spread:
        images = images.repartition(
            images.sparkSession.sparkContext.defaultParallelism, "doc_id"
        )

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = [_ahash_int_array(decode_image(b)) for b in pdf["content"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "h1": [h[0] for h in hashes],
                    "h2": [h[1] for h in hashes],
                }
            )

    return images.mapInPandas(hash_batch, schema="doc_id bigint, h1 bigint, h2 bigint")
