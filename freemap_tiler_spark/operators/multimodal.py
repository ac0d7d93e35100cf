"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Training-data-pipeline plumbing (engine-side requirement).  The Spark side
is fully real — schemas, partition-aware batching, Arrow UDF signatures,
size/type accounting; the codec step is STUBBED (no image/audio libraries
in this container) behind ``DecoderStub``:

- ``decode="stub"``  -> raises NotImplementedError (the honest default)
- ``decode="fake"``  -> deterministic fake decode (the payload bytes
  tiled into a frame) so the downstream plumbing — resize, feature
  extraction, batch shapes — is exercised by the ``media_features``
  contract query.

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


def frame_features(frames: DataFrame) -> DataFrame:
    """``decode_and_resize`` thumbnail -> feature vector (channel
    means/stds + 8x8 luma grid) — the feature-extraction stage, fully real
    numpy over the fake frames."""

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, feats = [], []
            for mid, fr, w, h in zip(pdf["media_id"], pdf["frame"],
                                     pdf["out_w"], pdf["out_h"]):
                img = np.frombuffer(fr, np.uint8).reshape(h, w, 3).astype(np.float64)
                luma = img.mean(axis=2)
                grid = luma.reshape(8, h // 8, 8, w // 8).mean(axis=(1, 3))
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
