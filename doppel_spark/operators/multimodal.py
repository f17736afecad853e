"""Multimodal column plumbing — binary payloads with typed metadata.

Images/audio/video ride through the pipeline as opaque ``binary``
columns plus a typed metadata struct; compute-heavy steps (decode,
resize, frame-sample, feature-extract) run as Arrow-batched pandas
UDFs over ``mapInPandas``. The decode step itself is **stubbed** in
this environment (no image/audio libraries in the container): set
``decoder="real"`` and you get ``NotImplementedError`` at plan
execution; the default deterministic fake decoder exercises the entire
Spark-side contract — schema, batch shape, partitioning, UDF signature
— which is the part that has to be right at 100 TB.

Real-decode integration point: replace ``_fake_decode`` with a
PIL/ffmpeg call; nothing else changes.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _fake_decode(payload: bytes, kind: str) -> tuple[int, int, int, str]:
    """Deterministic fake media decode: dimensions derived from a
    content digest, so tests are reproducible and schema-realistic."""
    d = hashlib.sha256(payload or b"").digest()
    width = 64 + d[0] % 192          # 64..255
    height = 64 + d[1] % 192
    n_frames = 1 if kind == "image" else 1 + d[2] % 64
    return width, height, n_frames, d.hex()[:16]


#: output schema of the resize step — payload stays a binary column so
#: downstream stages treat resized assets exactly like originals
RESIZED_SCHEMA = (
    "asset_id string, kind string, width int, height int, payload binary"
)

#: output schema of frame sampling — one row per kept frame (fan-out)
FRAMES_SCHEMA = (
    "asset_id string, frame_no int, frame_digest string, payload binary"
)


def resize_media(
    media: DataFrame, max_side: int = 128,
    id_col: str = "asset_id", payload_col: str = "payload",
    kind_col: str = "kind", decoder: str = "fake",
) -> DataFrame:
    """Resize pass: assets whose longer side exceeds ``max_side`` are
    scaled down (aspect preserved, integer math — ``new_w = w ·
    max_side // max(w, h)``, floored, min 1); smaller assets pass
    through byte-identical.

    The decode is stubbed (module docstring): the fake
    decoder derives dimensions from the content digest and synthesizes
    a deterministic resized payload (the UTF-8 bytes of
    ``"{digest}:{w}x{h}"``), so the full Spark-side contract — binary
    in/binary out, schema, Arrow batching, pass-through branch — is
    exercised and oracle-checkable; swapping in PIL/ffmpeg changes only
    the body of the batch loop.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decoder == "real":
                raise NotImplementedError(
                    "real media resize requires image/audio libraries not "
                    "present in this environment; plug a decoder in here")
            rows = []
            for aid, kind, payload in zip(pdf[id_col], pdf[kind_col],
                                          pdf[payload_col]):
                w, h, _nf, digest = _fake_decode(payload, kind)
                m = max(w, h)
                if m > max_side:
                    nw = max(1, w * max_side // m)
                    nh = max(1, h * max_side // m)
                    out = f"{digest}:{nw}x{nh}".encode()
                else:
                    nw, nh = w, h
                    out = bytes(payload or b"")
                rows.append((aid, kind, nw, nh, out))
            yield pd.DataFrame(rows, columns=[
                "asset_id", "kind", "width", "height", "payload"])

    cols = media.select(F.col(id_col), F.col(kind_col), F.col(payload_col))
    return cols.mapInPandas(run, RESIZED_SCHEMA)


def sample_frames(
    media: DataFrame, every_k: int = 8,
    id_col: str = "asset_id", payload_col: str = "payload",
    kind_col: str = "kind", decoder: str = "fake",
) -> DataFrame:
    """Frame-sampling pass: each video asset fans out to one row per
    kept frame (``0, k, 2k, … < n_frames``); images contribute their
    single frame 0.

    The row fan-out inside ``mapInPandas`` is the part that matters at
    scale (output cardinality ≠ input cardinality — Arrow handles it;
    no explode of a pre-built array column, so frames never exist as a
    per-asset in-memory list). Fake decoder: frame count from the
    content digest, per-frame payload/digest from
    ``"{digest}#{frame_no}"`` — deterministic and mirrored literally by
    the contract oracle.
    """
    if every_k <= 0:
        raise ValueError(f"every_k must be positive, got {every_k}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decoder == "real":
                raise NotImplementedError(
                    "real frame extraction requires video libraries not "
                    "present in this environment; plug a decoder in here")
            rows = []
            for aid, kind, payload in zip(pdf[id_col], pdf[kind_col],
                                          pdf[payload_col]):
                _w, _h, nf, digest = _fake_decode(payload, kind)
                for frame_no in range(0, nf, every_k):
                    fkey = f"{digest}#{frame_no}"
                    fdig = hashlib.sha256(fkey.encode()).hexdigest()[:16]
                    rows.append((aid, int(frame_no), fdig, fkey.encode()))
            yield pd.DataFrame(rows, columns=[
                "asset_id", "frame_no", "frame_digest", "payload"])

    cols = media.select(F.col(id_col), F.col(kind_col), F.col(payload_col))
    return cols.mapInPandas(run, FRAMES_SCHEMA)
