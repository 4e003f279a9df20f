"""Multimodal column plumbing: opaque binary media + typed metadata.

Images/audio/video travel as ``binary`` columns with a small typed metadata
struct; decode / feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` stages. The decode libraries (PIL/ffmpeg/librosa) are NOT in
this container, so the decoders are STUBS — ``fake=True`` substitutes a
deterministic bytes-derived fake so the Spark-side plumbing (schema,
batching, partitioning, UDF signatures) is real and tested;
``fake=False`` raises NotImplementedError at the decode call site.

Scale notes: media bytes never pass through a shuffle — the map stages are
narrow; select the binary column as late as possible and aggregate on the
extracted features, not the payload.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

MEDIA_SCHEMA = "media_id long, kind string, payload binary, meta map<string,string>"

IMAGE_FEATURES_SCHEMA = (
    "media_id long, width int, height int, channels int, mean_luma double, phash long"
)
FRAME_SAMPLE_SCHEMA = "media_id long, frame_idx int, frame_phash long"


def _fake_image_stats(payload: bytes) -> tuple[int, int, int, float, int]:
    """Deterministic bytes-derived stand-in for a real decoder."""
    h = hashlib.blake2b(payload or b"", digest_size=16).digest()
    width = 64 + h[0] * 4
    height = 64 + h[1] * 4
    channels = 3
    mean_luma = h[2] / 255.0
    phash = int.from_bytes(h[8:16], "big", signed=True)
    return width, height, channels, mean_luma, phash


def decode_image_features(df: DataFrame, fake: bool = True,
                          payload_col: str = "payload") -> DataFrame:
    """Image decode + feature extraction as a mapInPandas stage."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "real image decoding requires PIL/opencv — not in this container"
                )
            stats = [_fake_image_stats(p) for p in pdf[payload_col]]
            out = pd.DataFrame(stats, columns=["width", "height", "channels",
                                               "mean_luma", "phash"])
            out.insert(0, "media_id", pdf["media_id"].to_numpy())
            yield out

    return df.mapInPandas(run, schema=IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = (
    "media_id long, duration_sec double, sample_rate int, n_channels int, rms double"
)


def decode_audio_features(df: DataFrame, fake: bool = True,
                          payload_col: str = "payload") -> DataFrame:
    """Audio decode + summary features as a mapInPandas stage (stubbed decode)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "real audio decoding requires librosa/ffmpeg — not in this container"
                )
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                h = hashlib.blake2b(payload or b"", digest_size=8).digest()
                rows.append((int(mid), 1.0 + h[0] / 8.0, 16000 * (1 + h[1] % 3),
                             1 + h[2] % 2, h[3] / 255.0))
            yield pd.DataFrame(rows, columns=["media_id", "duration_sec",
                                              "sample_rate", "n_channels", "rms"])

    return df.mapInPandas(run, schema=AUDIO_FEATURES_SCHEMA)


def sample_video_frames(df: DataFrame, n_frames: int = 4, fake: bool = True,
                        payload_col: str = "payload") -> DataFrame:
    """Frame sampling: one output row per sampled frame (flatMap shape)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "real video decoding requires ffmpeg — not in this container"
                )
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                h = hashlib.blake2b(payload or b"", digest_size=8 * n_frames).digest()
                for i in range(n_frames):
                    ph = int.from_bytes(h[8 * i:8 * (i + 1)], "big", signed=True)
                    rows.append((int(mid), i, ph))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame_phash"])

    return df.mapInPandas(run, schema=FRAME_SAMPLE_SCHEMA)
