"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Training-data-pipeline plumbing (engine-side requirement).  The Spark side
is fully real — schemas, partition-aware batching, Arrow UDF signatures,
size/type accounting; the codec step is STUBBED (no image/audio libraries
in this container) behind ``DecoderStub``:

- ``decode="stub"``  -> raises NotImplementedError (the honest default)
- ``decode="fake"``  -> deterministic fake decode (FNV-1a of the bytes
  seeds a tiny synthetic frame) so the downstream plumbing — resize, frame
  sampling, feature extraction, batch shapes — is exercised and tested.

Swapping in Pillow/torchaudio later only replaces ``_fake_decode``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from freemap_tiler_spark.functions.resample import resize_bilinear

class DecoderStub(NotImplementedError):
    """Raised when a real media codec is required but not installed."""


def _fake_decode(payload: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic fake frame: tile the payload bytes into an RGB image.
    Pure plumbing stand-in — NOT a real decoder."""
    arr = np.frombuffer(payload, np.uint8)
    if len(arr) == 0:
        arr = np.zeros(3, np.uint8)
    reps = int(np.ceil(width * height * 3 / len(arr)))
    return np.tile(arr, reps)[: width * height * 3].reshape(height, width, 3)


def decode_and_resize(
    media: DataFrame,
    out_w: int = 64,
    out_h: int = 64,
    decode: str = "stub",
) -> DataFrame:
    """(media rows) -> (media_id, frame binary, out_w, out_h): decode the
    payload, resize to a fixed thumbnail.  Arrow-batched mapInPandas —
    the batch shape (one numpy stack per Arrow batch) is the real design."""
    if decode == "stub":
        raise DecoderStub(
            "no media codec installed in this container; use decode='fake' "
            "to exercise the Spark plumbing with a deterministic stand-in"
        )

    def _proc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for p, w, h in zip(pdf["payload"], pdf["width"], pdf["height"]):
                img = _fake_decode(p, int(w), int(h))
                frames.append(resize_bilinear(img, out_h, out_w).tobytes())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame": frames,
                    "out_w": out_w,
                    "out_h": out_h,
                }
            )

    return media.mapInPandas(_proc, "media_id long, frame binary, out_w int, out_h int")


def sample_frames(
    media: DataFrame,
    every_ms: int = 1000,
    max_frames: int = 8,
    decode: str = "stub",
) -> DataFrame:
    """Video frame sampling: one row per sampled frame at ``every_ms``
    spacing (capped at ``max_frames``), (media_id, frame_idx, ts_ms,
    frame binary).  The Spark plumbing — row explosion inside one Arrow
    batch, typed schema, deterministic frame identity — is real; the
    decoder is the same honest stub as decode_and_resize (``fake`` =
    FNV-tiled payload bytes salted by frame index so frames differ)."""
    if decode == "stub":
        raise DecoderStub(
            "no media codec installed in this container; use decode='fake'"
        )

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, tss, frames = [], [], [], []
            for mid, kind, p, w, h, dur in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"],
                pdf["width"], pdf["height"], pdf["duration_ms"],
            ):
                n = 1 if kind == "image" else max(
                    1, min(int(dur) // every_ms + 1, max_frames)
                )
                for k in range(n):
                    # salt the payload by frame index: deterministic,
                    # frame-distinct fake decode
                    img = _fake_decode(bytes([k & 0xFF]) + p, int(w), int(h))
                    ids.append(mid)
                    idxs.append(k)
                    tss.append(k * every_ms)
                    frames.append(img.tobytes())
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "ts_ms": tss, "frame": frames}
            )

    return media.mapInPandas(
        _sample, "media_id long, frame_idx int, ts_ms int, frame binary"
    )


def frame_features(frames: DataFrame, out_w: int = 64, out_h: int = 64) -> DataFrame:
    """Thumbnail -> feature vector (channel means/stds + 8x8 luma grid) —
    the feature-extraction stage, fully real numpy over the fake frames."""

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, feats = [], []
            for mid, fr in zip(pdf["media_id"], pdf["frame"]):
                img = np.frombuffer(fr, np.uint8).reshape(out_h, out_w, 3).astype(np.float64)
                luma = img.mean(axis=2)
                grid = luma.reshape(8, out_h // 8, 8, out_w // 8).mean(axis=(1, 3))
                v = np.concatenate(
                    [img.mean(axis=(0, 1)), img.std(axis=(0, 1)), grid.ravel()]
                )
                ids.append(mid)
                feats.append([float(x) for x in v])
            yield pd.DataFrame({"media_id": ids, "features": feats})

    return frames.mapInPandas(_feat, "media_id long, features array<double>")


def synthetic_media(spark, n_rows: int = 100) -> DataFrame:
    """Deterministic fake media table for tests: ``media_id long, kind
    string, payload binary, width int, height int, duration_ms int, codec
    string``, the payload derived from the row id."""
    i = F.col("id")
    return spark.range(n_rows).select(
        i.alias("media_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")), (i % 3).cast("int") + 1).alias("kind"),
        F.sha2(i.cast("string"), 256).cast("binary").alias("payload"),
        F.lit(320).alias("width"),
        F.lit(240).alias("height"),
        (i % 5000).cast("int").alias("duration_ms"),
        F.lit("fake").alias("codec"),
    )


def phash(frames: DataFrame, out_w: int = 64, out_h: int = 64) -> DataFrame:
    """64-bit DCT perceptual hash per frame (the classic pHash recipe:
    luma → 32×32 → 2-D DCT-II → low-frequency 8×8 block minus DC →
    median threshold → bit string).  The DCT/threshold math is fully
    real numpy; only the upstream frame decode is the honest stub/fake.

    Returns (media_id, phash long).  Arrow-batched; one matrix DCT per
    frame (32×32 — microseconds), no shuffle.
    """
    k = np.arange(32)
    D = np.sqrt(2.0 / 32) * np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / 64)
    D[0] /= np.sqrt(2.0)

    def _ph(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hs = [], []
            for mid, fr in zip(pdf["media_id"], pdf["frame"]):
                img = np.frombuffer(fr, np.uint8).reshape(out_h, out_w, 3)
                luma = img.mean(axis=2)
                # block-mean to 32x32
                small = luma.reshape(32, out_h // 32, 32, out_w // 32).mean(axis=(1, 3))
                dct = D @ small @ D.T
                low = dct[:8, :8].ravel().copy()
                low[0] = np.median(low)  # drop DC from the comparison
                med = np.median(low)
                bits = (low > med).astype(np.uint64)
                h = 0
                for b in bits:
                    h = (h << 1) | int(b)
                # keep in signed-long range for the Spark column
                ids.append(mid)
                hs.append(h - (1 << 64) if h >= (1 << 63) else h)
            yield pd.DataFrame({"media_id": ids, "phash": hs})

    return frames.mapInPandas(_ph, "media_id long, phash long")


def phash_near_dups(
    media: DataFrame,
    max_hamming: int = 3,
    out_w: int = 64,
    out_h: int = 64,
    decode: str = "stub",
) -> DataFrame:
    """Image near-dup pairs by perceptual-hash Hamming distance: decode →
    pHash → pigeonhole-blocked Hamming join (dedup.hamming_pairs — the
    same O(pairs-sharing-a-block) plan as SimHash, never all-pairs).
    Returns (id_a, id_b, hamming)."""
    from freemap_tiler_spark.operators.dedup import hamming_pairs

    frames = decode_and_resize(media, out_w, out_h, decode=decode)
    return hamming_pairs(
        phash(frames, out_w, out_h), "phash", id_col="media_id",
        bits=64, max_hamming=max_hamming,
    )
