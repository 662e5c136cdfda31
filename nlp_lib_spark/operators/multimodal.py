"""Multimodal columns: opaque binary payloads + typed metadata.

Design per the build brief: image/audio/video travel as ``binary`` columns
with typed metadata; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` operators. Two modes:

* ``mode="fake"`` — deterministic md5-derived feature vector (stable across
  runs/partitions, so the Spark-side plumbing — schema, partitioning, UDF
  signature, batch shape — is testable independent of any codec).
* ``mode="real"`` — genuine decode via ``operators/mediacodec``: magic-byte
  dispatch across a BMP parser (24-bit: struct + row padding +
  bottom-up/top-down handling; 8-bit palette, raw or BI_RLE8), a gray8
  PNG reader (zlib inflate + all five filter reconstructions), a stdlib
  linear-PCM WAV reader (8/16/24-bit, stereo downmix), and an
  uncompressed-DIB AVI demuxer (RIFF chunk walk) for real video frame
  sampling — emitting pixel/sample statistics + a 4x4 nearest-neighbor
  resize. Any other container or codec is rejected with ``ValueError``.
  PIL/librosa/pyav are absent from this container (recorded in
  BASELINE.md); richer codecs would plug in at
  ``mediacodec.real_features``.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

MEDIA_FEATURES_SCHEMA = ("media_id long, kind string, n_bytes int, "
                         "features array<float>")

_FEAT_DIM = 16


def _fake_features(payload: bytes) -> list[float]:
    """Deterministic stand-in feature vector: md5 bytes -> [-1, 1] floats."""
    h = hashlib.md5(payload).digest()
    return [round((b - 128) / 128.0, 6) for b in h[:_FEAT_DIM]]


def extract_media_features(df: DataFrame, mode: str = "fake") -> DataFrame:
    """media(media_id, kind, payload binary) -> feature vectors.

    Batch shape: one Arrow batch in, one out; payload bytes never leave the
    executor. Partitioning is inherited — repartition upstream by media_id
    when payload sizes are skewed.
    """
    if mode not in ("fake", "real"):
        raise ValueError(mode)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if mode == "real":
            from nlp_lib_spark.operators.mediacodec import real_features
            feat = real_features
        else:
            feat = _fake_features
        for pdf in batches:
            rows = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"],
                                          pdf["payload"]):
                data = bytes(payload) if payload is not None else b""
                rows.append((int(mid), kind, len(data), feat(data)))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "n_bytes",
                                              "features"])

    return (df.select("media_id", "kind", "payload")
              .mapInPandas(fn, schema=MEDIA_FEATURES_SCHEMA))


def frame_sample(df: DataFrame, every_n: int = 10,
                 mode: str = "fake") -> DataFrame:
    """video -> sampled frame rows (media_id, frame_idx, features).

    ``mode="real"`` demuxes uncompressed-DIB AVI payloads (RIFF walk via
    operators/mediacodec.decode_avi) and emits per-sampled-frame pixel
    stats + a 4x4 nearest-neighbor resize — a genuine decode/frame-sample,
    not a stub. ``mode="fake"`` keeps the deterministic md5 stand-in so
    the explode shape (one input row -> K frame rows) is testable without
    real payloads. One Arrow batch in -> one out; payload bytes never
    leave the executor.
    """
    if mode not in ("fake", "real"):
        raise ValueError(mode)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if mode == "real":
            from nlp_lib_spark.operators.mediacodec import frame_features
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                data = bytes(payload) if payload is not None else b""
                if mode == "real":
                    for k, feats in frame_features(data, every_n):
                        rows.append((int(mid), k, feats))
                else:
                    n_frames = max(1, len(data) // 64)
                    for k in range(0, n_frames, every_n):
                        rows.append((int(mid), k, _fake_features(
                            data + k.to_bytes(4, "big"))))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx",
                                              "features"])

    return (df.select("media_id", "payload")
              .mapInPandas(fn, schema="media_id long, frame_idx int, "
                                      "features array<float>"))

