"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The Spark-side machinery here is REAL and tested — schemas, Arrow batch
shapes, mapInPandas signatures, partitioning — while the codec step is
stubbed (this container has no image/audio libraries): ``decode_image``
raises NotImplementedError unless ``fake=True``, which substitutes a
deterministic md5-derived feature vector so the distributed plumbing is
exercised end-to-end. Swap ``_decode_image_real`` for a PIL/libvips call on
a real cluster; nothing else changes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_DIM = 16

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("content_hash", StringType()),
        StructField("features", ArrayType(FloatType())),
        StructField("decode_ok", BooleanType()),
        StructField("error", StringType()),
    ]
)


def _decode_image_real(payload: bytes):  # pragma: no cover - needs codec libs
    """STUB: real decoder requires an image library not present here."""
    raise NotImplementedError(
        "image decoding requires PIL/libvips; run with fake=True in this "
        "environment or swap in a real decoder on a cluster with codecs"
    )


def _fake_features(payload: bytes) -> list[float]:
    """Deterministic stand-in 'embedding': md5-expanded to FEATURE_DIM floats
    in [0,1). Purely a plumbing exerciser — NOT a real feature extractor."""
    out: list[float] = []
    counter = 0
    while len(out) < FEATURE_DIM:
        h = hashlib.md5(payload + counter.to_bytes(4, "big")).digest()
        for i in range(0, 16, 4):
            out.append(int.from_bytes(h[i : i + 4], "big") / 2**32)
            if len(out) == FEATURE_DIM:
                break
        counter += 1
    return out


def extract_image_features(
    df: DataFrame,
    fake: bool = False,
) -> DataFrame:
    """Decode + feature-extract via mapInPandas (Arrow-batched, no per-row
    Python on the Spark side). At scale, repartition upstream so each task
    holds a bounded number of payloads (payloads can be MBs each)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(payload) if payload is not None else b""
                try:
                    feats = (
                        _fake_features(payload) if fake else _decode_image_real(payload)
                    )
                    rows.append(
                        (
                            int(media_id),
                            len(payload),
                            hashlib.md5(payload).hexdigest(),
                            feats,
                            True,
                            None,
                        )
                    )
                except Exception as exc:
                    rows.append(
                        (int(media_id), len(payload), hashlib.md5(payload).hexdigest(), [], False, f"{type(exc).__name__}: {exc}")
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_bytes", "content_hash", "features", "decode_ok", "error"],
            )

    return df.mapInPandas(run, IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("content_hash", StringType()),
        StructField("duration_est_ms", LongType()),
        StructField("features", ArrayType(FloatType())),
        StructField("decode_ok", BooleanType()),
        StructField("error", StringType()),
    ]
)

_AUDIO_BYTES_PER_SEC = 16000  # assumed mono 16 kB/s for the duration estimate


def _decode_audio_real(payload: bytes):  # pragma: no cover - needs codec libs
    """STUB: real decoder requires an audio library not present here."""
    raise NotImplementedError(
        "audio decoding requires soundfile/ffmpeg; run with fake=True in "
        "this environment or swap in a real decoder on a cluster with codecs"
    )


def extract_audio_features(
    df: DataFrame,
    fake: bool = False,
) -> DataFrame:
    """Audio half of the multimodal triad: same mapInPandas plumbing as
    ``extract_image_features`` with audio metadata (estimated duration at
    an assumed byte rate) and a salt-distinguished fake feature family
    ('audio:' prefix) so identical payloads yield different audio vs image
    features. The codec itself is an honest stub; everything Spark-side
    (schema, batch shape, partitioning, determinism) is real and
    oracle-checked."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(payload) if payload is not None else b""
                try:
                    feats = (
                        _fake_features(b"audio:" + payload)
                        if fake
                        else _decode_audio_real(payload)
                    )
                    rows.append(
                        (
                            int(media_id),
                            len(payload),
                            hashlib.md5(payload).hexdigest(),
                            len(payload) * 1000 // _AUDIO_BYTES_PER_SEC,
                            feats,
                            True,
                            None,
                        )
                    )
                except Exception as exc:
                    rows.append(
                        (
                            int(media_id),
                            len(payload),
                            hashlib.md5(payload).hexdigest(),
                            0,
                            [],
                            False,
                            f"{type(exc).__name__}: {exc}",
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "n_bytes", "content_hash", "duration_est_ms",
                    "features", "decode_ok", "error",
                ],
            )

    return df.mapInPandas(run, AUDIO_FEATURES_SCHEMA)


PHASH_BITS = 60  # fits a signed long with headroom; 4 x 15-bit chunk blocking

PHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("phash", LongType()),
        StructField("decode_ok", BooleanType()),
        StructField("error", StringType()),
    ]
)


def _dct_matrix(n: int):
    """Orthonormal DCT-II basis matrix (pure numpy — no scipy here)."""
    import numpy as np

    k = np.arange(n).reshape(-1, 1)
    i = np.arange(n).reshape(1, -1)
    m = np.cos(np.pi * k * (2 * i + 1) / (2 * n))
    m[0] *= 1.0 / np.sqrt(2)
    return m * np.sqrt(2.0 / n)


def _block_mean_resize(gray, out: int = 32):
    """Downscale a 2-D array to out x out by mean over index-mapped blocks
    (the cheap pHash pre-filter; exactness of the resample is irrelevant —
    only stability under small perturbations matters)."""
    import numpy as np

    g = np.asarray(gray, dtype=np.float64)
    if g.ndim != 2 or g.shape[0] < 1 or g.shape[1] < 1:
        raise ValueError(f"expected 2-D gray image, got shape {g.shape}")
    ys = (np.arange(out + 1) * g.shape[0]) // out
    xs = (np.arange(out + 1) * g.shape[1]) // out
    res = np.empty((out, out))
    for r in range(out):
        y0, y1 = ys[r], max(ys[r + 1], ys[r] + 1)
        for c in range(out):
            x0, x1 = xs[c], max(xs[c + 1], xs[c] + 1)
            res[r, c] = g[y0:y1, x0:x1].mean()
    return res


def phash_from_gray(gray) -> int:
    """Perceptual hash of a grayscale pixel matrix — the REAL pHash math
    (this part is fully implemented and unit-tested; only the bytes->pixels
    codec is stubbed in this container): block-mean resize to 32x32, 2-D
    DCT-II, keep the top-left 8x8 low-frequency block, drop the DC term,
    bit j = (coefficient j > median of the kept coefficients). Nearby
    images (small pixel perturbations) flip few bits; unrelated images
    differ in ~PHASH_BITS/2.
    """
    import numpy as np

    d = _dct_matrix(32)
    coef = d @ _block_mean_resize(gray, 32) @ d.T
    low = coef[:8, :8].flatten()[1 : 1 + PHASH_BITS]  # skip DC
    med = float(np.median(low))
    out = 0
    for j, v in enumerate(low):
        if v > med:
            out |= 1 << j
    return out


def _fake_phash(payload: bytes) -> int:
    """Deterministic stand-in signature for the no-codec environment:
    the first PHASH_BITS/4 md5 hex nibbles of b'phash:' + payload. NOT
    locality-sensitive over bytes (only byte-identical payloads collide)
    — it exercises the distributed plumbing and the chunk-blocked pair
    join, and the oracle reproduces it with strpos nibble arithmetic."""
    return int(
        hashlib.md5(b"phash:" + payload).hexdigest()[: PHASH_BITS // 4], 16
    )


def extract_phash(
    df: DataFrame,
    fake: bool = False,
) -> DataFrame:
    """Decode + perceptual-hash via mapInPandas -> (media_id, phash,
    decode_ok, error). Real path: codec -> gray matrix -> phash_from_gray
    (the DCT math above, unit-tested); fake path: md5 signature so the
    plumbing and the downstream Hamming blocking run end-to-end here."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(payload) if payload is not None else b""
                try:
                    ph = (
                        _fake_phash(payload)
                        if fake
                        else phash_from_gray(_decode_image_real(payload))
                    )
                    rows.append((int(media_id), ph, True, None))
                except Exception as exc:
                    rows.append(
                        (int(media_id), 0, False, f"{type(exc).__name__}: {exc}")
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "phash", "decode_ok", "error"]
            )

    return df.mapInPandas(run, PHASH_SCHEMA)


def frame_sample_plan(
    df: DataFrame, every_ms: int = 1000
) -> DataFrame:
    """Video frame-sampling PLAN: one row per sampled frame timestamp.

    The expansion is pure Spark (sequence + explode, no UDF); actual frame
    decode would plug into extract_image_features per emitted row."""
    return df.withColumn(
        "frame_ts_ms",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.coalesce(F.col("duration_ms"), F.lit(0)) - 1, F.lit(0)),
                F.lit(every_ms),
            )
        ),
    )
