"""Multimodal (image/audio/video) column plumbing for training-data
pipelines.

Media travel as opaque ``binary`` columns plus typed metadata structs; all
per-item compute is Arrow-batched ``mapInPandas`` so decode/transform code
receives contiguous byte batches, never per-row Python calls. The actual
codec work (PIL/ffmpeg/torchaudio) is NOT available in this environment —
each operator takes a ``decoder`` callable; the default
:func:`deterministic_fake_decoder` derives plausible metadata purely from the
bytes (so the plumbing — schemas, batching, partition behavior — is real and
tested), and :func:`strict_decoder` raises ``NotImplementedError`` to mark
the integration point for a real codec.

Schema conventions:
- ``media``: binary payload column
- ``media_meta``: struct<format string, width int, height int, n_channels int,
  duration_ms long> — absent fields null per modality.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

META_FIELDS = "format string, width int, height int, n_channels int, duration_ms long"

Decoder = Callable[[bytes], dict]


def strict_decoder(payload: bytes) -> dict:
    """The integration point for a real codec stack (PIL / libav / …)."""
    raise NotImplementedError(
        "media codecs are not available in this environment; "
        "plug a real decoder or use deterministic_fake_decoder for tests"
    )


def deterministic_fake_decoder(payload: bytes) -> dict:
    """Deterministic metadata derived only from the payload bytes — a stand-in
    with the same shape a real decoder returns."""
    n = len(payload)
    return {
        "format": "fake",
        "width": 16 + n % 64,
        "height": 16 + (n // 64) % 64,
        "n_channels": 3,
        "duration_ms": n * 10,
    }


def decode_media(
    df: DataFrame, media_col: str = "media", decoder: Decoder | None = None
) -> DataFrame:
    """Append decoded metadata columns to every row (schema above).
    Arrow-batched; one decoder call per item within a batch, bytes stay
    executor-side."""
    dec = decoder or deterministic_fake_decoder
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields] + [META_FIELDS]
    )

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [dec(bytes(b)) for b in pdf[media_col]]
            for field in ("format", "width", "height", "n_channels", "duration_ms"):
                pdf[field] = [m[field] for m in metas]
            yield pdf

    return df.mapInPandas(_decode, schema=out_schema)


def sample_frames(
    df: DataFrame,
    media_col: str = "media",
    every_n_bytes: int = 256,
    frame_size: int = 64,
) -> DataFrame:
    """Frame-sampling plumbing: explode each payload into fixed-stride byte
    windows (stand-in for video frame extraction — the stride/window shape
    is exactly what a real ffmpeg-backed sampler produces). Output one row
    per (item, frame_idx) with the frame bytes.

    The explode is vectorized: id columns repeat via ``index.repeat`` and
    frame indexes come from a concatenated arange — no ``iterrows``. Only
    the byte slicing itself is a per-frame comprehension (bytes objects have
    no vector form)."""
    import numpy as np

    id_cols = [f.name for f in df.schema.fields if f.name != media_col]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields if f.name != media_col]
        + ["frame_idx int", "frame binary"]
    )

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = [bytes(b) for b in pdf[media_col]]
            # empty payloads still emit one (empty) frame, like the stride loop
            n_frames = np.array([max(-(-len(p) // every_n_bytes), 1) for p in payloads])
            rep = np.repeat(np.arange(len(payloads)), n_frames)
            out = pdf[id_cols].iloc[rep].reset_index(drop=True)
            idx = np.concatenate([np.arange(k) for k in n_frames])
            out["frame_idx"] = idx.astype("int32")
            starts = idx * every_n_bytes
            out["frame"] = [
                payloads[r][s : s + frame_size] for r, s in zip(rep, starts)
            ]
            yield out

    return df.mapInPandas(_sample, schema=out_schema)
