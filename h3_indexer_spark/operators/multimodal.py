"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

The Spark-side machinery — schemas, batch iteration, partition-size
control, UDF signatures — is real and tested. Decoding is selected by
an explicit ``codec`` parameter:

- ``"pil"``  — real image decode via Pillow (imported lazily on the
  executor; works the moment PIL is installed, no code changes);
- ``"fake"`` — deterministic stand-in (payload-digest pixels) so the
  full plumbing stays testable in codec-less environments;
- ``"auto"`` (default) — ``"pil"`` when Pillow imports, else
  ``"fake"``.

Video frame sampling follows the same pattern with PyAV (``"av"``).

Design for 100 TB of media:
- binary payloads ride in their own column so column pruning keeps
  metadata-only queries from ever reading the bytes;
- ``mapInPandas`` with small Arrow batches (payloads are fat — cap
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` well below the
  default for media tables).
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def _have_pil() -> bool:
    try:  # pragma: no cover - environment probe
        from PIL import Image  # noqa: F401

        return True
    except ImportError:
        return False


def _have_av() -> bool:
    try:  # pragma: no cover - environment probe
        import av  # noqa: F401

        return True
    except ImportError:
        return False


def _resolve_codec(codec: str) -> str:
    if codec == "auto":
        return "pil" if _have_pil() else "fake"
    if codec not in ("pil", "fake"):
        raise ValueError(f"unknown image codec {codec!r}")
    return codec


IMAGE_META_SCHEMA = (
    "media_id long, width int, height int, channels int, format string"
)
FRAME_SCHEMA = "media_id long, frame_no int, frame_bytes binary"
RESIZED_SCHEMA = (
    "media_id long, width int, height int, channels int, pixels binary"
)


def _fake_decode(payload: bytes) -> np.ndarray:
    """Deterministic stand-in for an image decode: derives a stable
    8x8x3 uint8 array from the payload digest. NOT a real codec."""
    digest = hashlib.sha256(payload).digest()
    arr = np.frombuffer((digest * 6)[:192], dtype=np.uint8)
    return arr.reshape(8, 8, 3)


def _decode_image(payload: bytes, codec: str):
    """payload → (H×W×C uint8 array, format string)."""
    if codec == "fake":
        return _fake_decode(payload), "fake/raw"
    # codec == "pil": real decode (lazy import so only executors that
    # actually decode need Pillow installed)
    import io

    from PIL import Image

    img = Image.open(io.BytesIO(payload))
    fmt = (img.format or "unknown").lower()
    arr = np.asarray(img.convert("RGB"))
    return arr, fmt


# --- batch cores (module-level so they are unit-testable without Spark) ---


def _meta_batch(pdf: pd.DataFrame, codec: str, id_col: str,
                payload_col: str) -> pd.DataFrame:
    ids, ws, hs, cs, fmts = [], [], [], [], []
    for mid, payload in zip(pdf[id_col], pdf[payload_col]):
        if payload is None:
            continue
        img, fmt = _decode_image(bytes(payload), codec)
        ids.append(mid)
        hs.append(img.shape[0])
        ws.append(img.shape[1])
        cs.append(img.shape[2] if img.ndim == 3 else 1)
        fmts.append(fmt)
    return pd.DataFrame(
        {
            id_col: pd.Series(ids, dtype="int64"),
            "width": pd.Series(ws, dtype="int32"),
            "height": pd.Series(hs, dtype="int32"),
            "channels": pd.Series(cs, dtype="int32"),
            "format": pd.Series(fmts, dtype="object"),
        }
    )


def _resize_batch(pdf: pd.DataFrame, codec: str, id_col: str,
                  payload_col: str, target_w: int,
                  target_h: int) -> pd.DataFrame:
    ids, blobs = [], []
    for mid, payload in zip(pdf[id_col], pdf[payload_col]):
        if payload is None:
            continue
        img, _ = _decode_image(bytes(payload), codec)
        src_h, src_w = img.shape[0], img.shape[1]
        ys = (np.arange(target_h) * src_h) // target_h
        xs = (np.arange(target_w) * src_w) // target_w
        resized = img[np.ix_(ys, xs)]
        ids.append(mid)
        blobs.append(resized.tobytes())
    return pd.DataFrame(
        {
            id_col: pd.Series(ids, dtype="int64"),
            "width": pd.Series([target_w] * len(ids), dtype="int32"),
            "height": pd.Series([target_h] * len(ids), dtype="int32"),
            "channels": pd.Series([3] * len(ids), dtype="int32"),
            "pixels": pd.Series(blobs, dtype="object"),
        }
    )


def _frames_batch(pdf: pd.DataFrame, codec: str, id_col: str,
                  payload_col: str, every_n: int,
                  max_frames: int) -> pd.DataFrame:
    ids, nos, blobs = [], [], []
    for mid, payload in zip(pdf[id_col], pdf[payload_col]):
        if payload is None:
            continue
        raw = bytes(payload)
        if codec == "av":
            # real video decode (lazy import; PyAV)
            import io

            import av

            taken = 0
            with av.open(io.BytesIO(raw)) as container:
                for fno, frame in enumerate(container.decode(video=0)):
                    if taken >= max_frames:
                        # stop decoding outright — decoding the rest of
                        # the container just to drop it is wasted work
                        break
                    if fno % every_n:
                        continue
                    ids.append(mid)
                    nos.append(fno)
                    blobs.append(
                        frame.to_ndarray(format="rgb24").tobytes()
                    )
                    taken += 1
            continue
        # fake path: payload as a concatenation of fixed 1 KiB frames
        frame_size = 1024
        n_frames = max(1, len(raw) // frame_size)
        taken = 0
        for fno in range(0, n_frames, every_n):
            if taken >= max_frames:
                break
            ids.append(mid)
            nos.append(fno)
            blobs.append(raw[fno * frame_size : (fno + 1) * frame_size])
            taken += 1
    return pd.DataFrame(
        {
            id_col: pd.Series(ids, dtype="int64"),
            "frame_no": pd.Series(nos, dtype="int32"),
            "frame_bytes": pd.Series(blobs, dtype="object"),
        }
    )


# --- Spark operators ------------------------------------------------------


def decode_metadata(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    codec: str = "auto",
) -> DataFrame:
    """Extract typed metadata per media row."""
    codec = _resolve_codec(codec)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _meta_batch(pdf, codec, id_col, payload_col)

    return df.select(id_col, payload_col).mapInPandas(
        fn, schema=IMAGE_META_SCHEMA
    )


def resize_images(
    df: DataFrame,
    target_w: int = 4,
    target_h: int = 4,
    payload_col: str = "payload",
    id_col: str = "media_id",
    codec: str = "auto",
) -> DataFrame:
    """Resize every image to (target_w, target_h) and emit the raw
    pixel buffer (vectorized nearest-neighbor index sampling — the same
    math at any source resolution and under either codec)."""
    codec = _resolve_codec(codec)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _resize_batch(
                pdf, codec, id_col, payload_col, target_w, target_h
            )

    return df.select(id_col, payload_col).mapInPandas(
        fn, schema=RESIZED_SCHEMA
    )


def sample_frames(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    every_n: int = 10,
    max_frames: int = 4,
    codec: str = "auto",
) -> DataFrame:
    """Frame sampling for video payloads: (media_id, frame_no,
    frame_bytes) rows. ``codec="av"`` decodes real containers via
    PyAV; the fake treats the payload as fixed 1 KiB frames."""
    if codec == "auto":
        codec = "av" if _have_av() else "fake"
    if codec not in ("av", "fake"):
        raise ValueError(f"unknown video codec {codec!r}")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _frames_batch(
                pdf, codec, id_col, payload_col, every_n, max_frames
            )

    return df.select(id_col, payload_col).mapInPandas(fn, schema=FRAME_SCHEMA)


def synthesize_media_table(spark, n: int = 100) -> DataFrame:
    """Deterministic fake media table for tests: binary payloads with
    metadata columns, the schema a real ingest would produce."""
    rows = []
    for i in range(n):
        payload = struct.pack("<q", i) * (64 + (i % 17) * 32)
        rows.append((i, bytearray(payload), "image/fake", len(payload)))
    return spark.createDataFrame(
        rows, "media_id long, payload binary, mime string, n_bytes long"
    )


# --- audio ---------------------------------------------------------------

AUDIO_META_SCHEMA = (
    "media_id long, sample_rate int, n_samples long, n_channels int, "
    "duration_s double"
)


def _have_soundfile() -> bool:
    try:  # pragma: no cover - environment probe
        import soundfile  # noqa: F401

        return True
    except ImportError:
        return False


def _resolve_audio_codec(codec: str) -> str:
    if codec == "auto":
        return "soundfile" if _have_soundfile() else "fake"
    if codec not in ("soundfile", "fake"):
        raise ValueError(f"unknown audio codec {codec!r}")
    return codec


def _decode_audio(payload: bytes, codec: str):
    """payload → (float32 waveform (n_samples, n_channels), rate)."""
    if codec == "fake":
        # deterministic stand-in: payload bytes as a mono 16 kHz signal
        arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float32)
        return ((arr - 127.5) / 127.5).reshape(-1, 1), 16000
    import io

    import soundfile as sf

    data, rate = sf.read(io.BytesIO(payload), dtype="float32",
                         always_2d=True)
    return data, rate


def _audio_meta_batch(pdf: pd.DataFrame, codec: str, id_col: str,
                      payload_col: str) -> pd.DataFrame:
    ids, rates, ns, chs, durs = [], [], [], [], []
    for mid, payload in zip(pdf[id_col], pdf[payload_col]):
        if payload is None:
            continue
        wav, rate = _decode_audio(bytes(payload), codec)
        ids.append(mid)
        rates.append(rate)
        ns.append(wav.shape[0])
        chs.append(wav.shape[1])
        durs.append(wav.shape[0] / float(rate))
    return pd.DataFrame(
        {
            id_col: pd.Series(ids, dtype="int64"),
            "sample_rate": pd.Series(rates, dtype="int32"),
            "n_samples": pd.Series(ns, dtype="int64"),
            "n_channels": pd.Series(chs, dtype="int32"),
            "duration_s": pd.Series(durs, dtype="float64"),
        }
    )


def decode_audio_metadata(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    codec: str = "auto",
) -> DataFrame:
    """Typed audio metadata per media row (codec: soundfile/fake/auto,
    same contract as the image operators)."""
    codec = _resolve_audio_codec(codec)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _audio_meta_batch(pdf, codec, id_col, payload_col)

    return df.select(id_col, payload_col).mapInPandas(
        fn, schema=AUDIO_META_SCHEMA
    )


def dedup_media_by_content(
    df: "DataFrame",
    payload_col: str = "payload",
    id_col: str = "media_id",
):
    """Exact content-level media dedup: group binary payloads by md5
    digest, keep the minimum id as canonical, count the copies —
    byte-identical re-uploads/re-crawls of the same asset collapse
    regardless of filename or metadata. Output: (id, content_hash,
    n_copies), one row per distinct content.

    The digest is a narrow JVM expression over the binary column (no
    decode, no Python), so the only shuffle carries (hash, id) pairs
    with map-side partial aggregation — the cheapest possible
    multimodal dedup, and the first pass to run before any perceptual
    (decode-based) near-dup. md5 here is a content FINGERPRINT, not a
    security boundary; both the engine and external SQL oracles
    compute it identically over the same bytes."""
    from pyspark.sql import functions as F

    h = F.md5(F.col(payload_col))
    return (
        df.select(F.col(id_col), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(id_col, "content_hash", "n_copies")
    )
