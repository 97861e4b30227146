"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata.

Image/audio/video payloads are carried as ``binary`` columns with a typed
metadata struct; decode / feature-extract / frame-sample run as
Arrow-batched Pandas UDFs over ``mapInPandas``. Codec resolution is layered:

- ``fake=True`` → a deterministic stand-in (dimensions/features derived
  from the payload hash) so the distributed plumbing is exercisable in any
  environment;
- otherwise, if the codec imports (Pillow for images, PyAV for video),
  payloads decode for real;
- otherwise ``NotImplementedError`` — an honest environment limitation,
  not a silent wrong answer.

Scale: payload columns stay opaque bytes end-to-end (no driver collect);
``mapInPandas`` streams Arrow batches, so per-executor memory is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` × payload size, and every
operator is a stateless map — no shuffle. Per-item codec work is inherently
per-payload Python; the batch bookkeeping around it is vectorized (no
``iterrows``).
"""

from __future__ import annotations

import hashlib
import io
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # optional codec — absent in this container, used when available
    from PIL import Image as _PILImage

    _HAS_PIL = True
except ImportError:  # pragma: no cover - environment dependent
    _PILImage = None
    _HAS_PIL = False

try:  # optional video codec — absent in this container, used when available
    import av as _av

    _HAS_PYAV = True
except ImportError:  # pragma: no cover - environment dependent
    _av = None
    _HAS_PYAV = False

try:  # optional compressed-audio codec (mp3/ogg/flac) — same layering
    import soundfile as _soundfile

    _HAS_SOUNDFILE = True
except ImportError:  # pragma: no cover - environment dependent
    _soundfile = None
    _HAS_SOUNDFILE = False


MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("media_type", T.StringType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("content_sha", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("feature", T.ArrayType(T.DoubleType()), True),
    ]
)


def decode_image(payload: bytes, fake: bool = False) -> tuple[int, int, list[float]]:
    """Decode an image payload → (width, height, 8-dim feature).

    ``fake=True`` selects the deterministic stand-in; otherwise Pillow is
    used when importable (feature = mean intensity of a 2×4 grayscale
    grid), else NotImplementedError.
    """
    if fake:
        digest = hashlib.sha256(payload).digest()
        width = 16 + digest[0] % 64
        height = 16 + digest[1] % 64
        feature = [digest[2 + i] / 255.0 for i in range(8)]
        return width, height, feature
    if _HAS_PIL:
        img = _PILImage.open(io.BytesIO(payload)).convert("L")
        width, height = img.size
        # 2 rows × 4 cols of mean intensities — a deterministic, library-
        # stable 8-dim descriptor
        small = img.resize((4, 2))
        feature = [px / 255.0 for px in small.getdata()]
        return width, height, feature
    raise NotImplementedError(
        "image decoding requires a codec library (e.g. Pillow); "
        "re-run with fake=True for the deterministic stand-in"
    )


def _single_pass_sample(frames, n: int, materialize=lambda f: f) -> list:
    """Evenly-spaced n-frame sample over a stream of UNKNOWN length in one
    sequential pass with O(n) memory: keep frames at stride ``s`` (doubling
    ``s`` and halving the buffer whenever it would exceed 2n entries); once
    the stream ends and the true total is known, answer each exact even
    target index with the nearest kept frame. Kept indices are ≤ s apart
    with final ``s`` ≈ total/n, so every answer is within ~total/(2n)
    frames of the exact target — the price of a single decode instead of
    count-then-sample. ``materialize`` converts a frame only when it is
    buffered (never for discarded frames). Deterministic for a given
    stream. Returns [] for an empty stream."""
    kept: list[tuple[int, object]] = []
    stride = 1
    total = 0
    for idx, frame in enumerate(frames):
        total = idx + 1
        if idx % stride == 0:
            kept.append((idx, materialize(frame)))
            if len(kept) > 2 * n:
                kept = kept[::2]
                stride *= 2
    if not total:
        return []
    import bisect

    indices = [i for i, _ in kept]
    step = (total - 1) / max(n - 1, 1)
    out = []
    for i in range(n):
        t = min(round(i * step), total - 1)
        pos = bisect.bisect_left(indices, t)
        if pos == len(indices):
            pos -= 1
        elif pos > 0 and t - indices[pos - 1] <= indices[pos] - t:
            pos -= 1  # prefer the earlier frame on ties
        out.append(kept[pos][1])
    return out


def sample_frames(
    payload: bytes, n_frames: int, fake: bool = False
) -> list[bytes]:
    """Sample exactly n_frames evenly-spaced frames from a video payload.

    ``fake=True`` selects the deterministic stand-in (each frame derived
    from the payload hash + frame index); otherwise PyAV decodes for real
    when importable — frames come back as raw RGB24 bytes, evenly spaced
    over the stream, clamping (repeating frames) when the video is
    shorter than n_frames so the fixed fan-out contract of
    `sample_video_frames` holds either way — else NotImplementedError.

    Memory contract on the real path: only O(n_frames) frames are ever
    retained — never the whole decoded clip (raw RGB24 of a 1-minute
    1080p@30 clip is ~11 GB; holding it would OOM the executor inside
    `sample_video_frames`). When the container header declares a frame
    count, targets are exact and the decode stops at the last one; the
    header is trusted, so an OVERCOUNTING header leaves high targets
    unfilled (clamped to the last KEPT target frame) and an UNDERCOUNTING
    header spans only its declared prefix of the clip. Without a header
    count, `_single_pass_sample` decodes once with a stride-doubling
    buffer — single decode, O(n_frames) memory, frames within ~total/(2n)
    of the exact even spacing. (A production path over long videos would
    keyframe-seek instead of decoding sequentially.)"""
    if fake:
        return [
            hashlib.sha256(payload + i.to_bytes(4, "big")).digest()
            for i in range(n_frames)
        ]
    if _HAS_PYAV:
        with _av.open(io.BytesIO(payload)) as container:
            stream = container.streams.video[0]
            total = stream.frames or 0
        if not total:
            with _av.open(io.BytesIO(payload)) as container:
                stream = container.streams.video[0]
                out = _single_pass_sample(
                    container.decode(stream),
                    n_frames,
                    lambda f: f.to_ndarray(format="rgb24").tobytes(),
                )
            if not out:
                raise ValueError(
                    "video payload contains no decodable frames"
                )
            return out
        step = (total - 1) / max(n_frames - 1, 1)
        targets = [min(round(i * step), total - 1) for i in range(n_frames)]
        need = sorted(set(targets))
        kept: dict[int, bytes] = {}
        last: bytes | None = None
        with _av.open(io.BytesIO(payload)) as container:
            stream = container.streams.video[0]
            pending = iter(need)
            nxt = next(pending)
            for idx, frame in enumerate(container.decode(stream)):
                if idx == nxt:
                    last = frame.to_ndarray(format="rgb24").tobytes()
                    kept[idx] = last
                    nxt = next(pending, None)
                    if nxt is None:
                        break
        if not kept:
            raise ValueError("video payload contains no decodable frames")
        # metadata overcounts (container header lies) leave high targets
        # unfilled — clamp them to the last KEPT target frame (non-target
        # frames decoded after it were discarded, not retained)
        return [kept.get(t, last) for t in targets]
    raise NotImplementedError(
        "video decoding requires a codec library (e.g. PyAV); "
        "re-run with fake=True for the deterministic stand-in"
    )


def decode_audio(
    payload: bytes, fake: bool = False
) -> tuple[int, int, list[float]]:
    """Decode an audio payload → (sample_rate, n_samples, 8-dim feature).

    ``fake=True`` selects the deterministic stand-in (rate/length/feature
    derived from the payload hash). The real path needs no optional
    dependency for PCM WAV: it parses with the stdlib ``wave`` module.
    Compressed codecs (mp3/ogg/flac) decode via ``soundfile`` behind a
    guarded import, exactly like Pillow/PyAV do for images/video; when
    soundfile is absent a non-WAV payload raises ValueError. Features
    are per-window RMS over 8 equal windows of the first channel either
    way (deterministic, library-stable)."""
    if fake:
        digest = hashlib.sha256(payload).digest()
        rate = (8000, 16000, 22050, 44100)[digest[0] % 4]
        n_samples = 256 + int.from_bytes(digest[1:3], "big") % 4096
        feature = [digest[3 + i] / 255.0 for i in range(8)]
        return rate, n_samples, feature
    import wave

    import numpy as np

    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            rate = w.getframerate()
            n_channels = w.getnchannels()
            width = w.getsampwidth()
            n_samples = w.getnframes()
            raw = w.readframes(n_samples)
    except (wave.Error, EOFError) as exc:
        if _HAS_SOUNDFILE:
            try:
                data, rate = _soundfile.read(
                    io.BytesIO(payload), dtype="float64", always_2d=True
                )
            except Exception as sf_exc:  # soundfile raises RuntimeError
                raise ValueError(
                    f"payload is neither PCM WAV nor a soundfile-decodable "
                    f"stream: {sf_exc}"
                ) from sf_exc
            return _rms_windows(data[:, 0], rate, len(data))
        raise ValueError(
            f"payload is not a PCM WAV stream: {exc} "
            "(compressed codecs need the optional soundfile library)"
        ) from exc
    if width != 2:
        raise ValueError(f"only 16-bit PCM supported, got {8 * width}-bit")
    samples = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    if n_channels > 1:
        samples = samples[::n_channels]  # first channel
    return _rms_windows(samples, rate, int(n_samples))


def _rms_windows(
    samples, rate: int, n_samples: int
) -> tuple[int, int, list[float]]:
    """Shared feature tail of both audio decode paths: per-window RMS over
    8 equal windows of one channel."""
    import numpy as np

    if len(samples) == 0:
        return rate, 0, [0.0] * 8
    windows = np.array_split(np.asarray(samples, dtype=np.float64), 8)
    feature = [
        float(np.sqrt((w_ * w_).mean())) if len(w_) else 0.0 for w_ in windows
    ]
    return rate, n_samples, feature


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("feature", T.ArrayType(T.DoubleType()), True),
    ]
)


def extract_audio_features(media: DataFrame, fake_decode: bool = True) -> DataFrame:
    """mapInPandas audio decode/feature pipeline over binary payloads —
    same stateless-map shape as `extract_features` (no shuffle, Arrow
    batches, bytes never driver-side)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = _payload_bytes(pdf["payload"])
            decoded = [decode_audio(p, fake=fake_decode) for p in payloads]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "n_bytes": [len(p) for p in payloads],
                    "sample_rate": [d[0] for d in decoded],
                    "n_samples": [d[1] for d in decoded],
                    "duration_s": [
                        d[1] / d[0] if d[0] else 0.0 for d in decoded
                    ],
                    "feature": [d[2] for d in decoded],
                }
            )

    return media.mapInPandas(run, schema=AUDIO_FEATURE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_no", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), True),
    ]
)


def _payload_bytes(s: pd.Series) -> list[bytes]:
    return [bytes(p) if p is not None else b"" for p in s.tolist()]


def sample_video_frames(
    media: DataFrame, n_frames: int, fake_decode: bool = True
) -> DataFrame:
    """mapInPandas frame sampling: one output row per (media, frame) — the
    fan-out shape a video pipeline feeds into per-frame feature extraction."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["media_id"].to_numpy()
            all_frames = [
                sample_frames(p, n_frames, fake=fake_decode)
                for p in _payload_bytes(pdf["payload"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": ids.repeat(n_frames),
                    "frame_no": list(range(n_frames)) * len(ids),
                    "frame": [fr for frames in all_frames for fr in frames],
                }
            )

    return media.mapInPandas(run, schema=FRAME_SCHEMA)


def attach_payloads(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Build a media table from the documents fixture: payload = UTF-8 bytes
    of the text (a deterministic opaque blob standing in for image bytes)."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.col(text_col).cast("binary").alias("payload"),
        F.lit("image/fake").alias("media_type"),
    )


def extract_features(media: DataFrame, fake_decode: bool = True) -> DataFrame:
    """The mapInPandas decode/feature pipeline over binary payloads."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = _payload_bytes(pdf["payload"])
            decoded = [decode_image(p, fake=fake_decode) for p in payloads]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "media_type": pdf["media_type"].to_numpy(),
                    "n_bytes": [len(p) for p in payloads],
                    "content_sha": [
                        hashlib.sha256(p).hexdigest() for p in payloads
                    ],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "feature": [d[2] for d in decoded],
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def perceptual_hash(feature_col: Column | str) -> Column:
    """16-bit perceptual hash of the 8-dim image descriptor — aHash+dHash:
    bits 0-7 threshold each cell against the global mean (average hash),
    bits 8-15 threshold each cell against its right neighbor, wrapping
    (difference hash). Pure Catalyst — a stateless map, so the dedup that
    consumes it is one hash aggregation at any corpus size.

    Integer-exact cross-engine contract: the descriptor's cells are
    byte-derived (b/255.0), so each cell is first recovered as the exact
    int byte and every threshold is an INT comparison (8·b_i > Σb_j;
    b_i > b_j) — no float boundary can diverge between Spark and the
    DuckDB oracle."""
    c = F.col(feature_col) if isinstance(feature_col, str) else feature_col
    bytes_ = [
        F.round(c.getItem(i) * F.lit(255.0)).cast("int") for i in range(8)
    ]
    total = sum(bytes_[1:], bytes_[0])
    mean_bits = [
        (bytes_[i] * F.lit(8) > total).cast("int") * F.lit(1 << i)
        for i in range(8)
    ]
    grad_bits = [
        (bytes_[i] > bytes_[(i + 1) % 8]).cast("int") * F.lit(1 << (8 + i))
        for i in range(8)
    ]
    acc = mean_bits[0]
    for b in mean_bits[1:] + grad_bits:
        acc = acc + b
    return acc.cast("long")


def phash_dedup(features: DataFrame) -> DataFrame:
    """Perceptual-duplicate groups over decoded image features:
    ``(phash, canonical_id, n_copies)`` — min media_id per 16-bit
    perceptual bucket. decode (Arrow map) → stateless hash expression →
    one map-side-combinable hash aggregation; nothing pairwise, nothing
    driver-side, linear at any corpus size."""
    return (
        features.withColumn("phash", perceptual_hash("feature"))
        .groupBy("phash")
        .agg(
            F.min("media_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def binary_metadata(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Pure-Catalyst metadata over the payload (no Python): byte length +
    MD5 content hash — the checkable face of the binary-column plumbing."""
    media = attach_payloads(df, text_col, id_col)
    return media.select(
        "media_id",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.md5("payload").alias("content_md5"),
    )
