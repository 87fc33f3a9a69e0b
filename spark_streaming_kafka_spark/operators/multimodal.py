"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, processed by Arrow-batched pandas UDFs.

The Spark-side plumbing here is real and tested (schemas, partitioning,
UDF signatures, batch shapes — tests/test_multimodal.py), and so are
ALL THREE codecs: ``codec="real"`` decodes genuine PNG images, PCM16
WAV audio, and uncompressed-DIB AVI video with the stdlib-only codecs
in operators/media_codecs.py (no PIL/ffmpeg/decord in this container —
PNG+zlib, WAV, and raw-RIFF AVI are simple enough to do for real
without them; compressed video fourccs raise loudly and need a codec
library). ``codec="stub"`` (the default via ``_STUB_DECODERS``) keeps
the md5-derived deterministic fakes, which is what makes the
mapInPandas path SQL-reproducible for the driver oracle and what
fake-byte corpora (like the testdata documents table) need.

Scale doctrine for binary columns:

- Binary payloads ride the SAME parquet row-group as their metadata —
  no side files, so locality is free and predicate pushdown on metadata
  (e.g. ``kind = 'image'``, ``meta['width'] > 512``) prunes byte reads
  (parquet column chunks for unselected rows are never fetched).
- ``mapInPandas`` streams Arrow record batches through the Python
  worker; ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds the
  per-batch memory (set it low for video rows — default 10k rows of
  multi-MB payloads would OOM the worker).
- Decode is CPU-heavy and embarrassingly parallel → repartition by a
  size-balanced key before decode if payload sizes are skewed (one
  4 GB video must not pin a partition-worth of small images behind it).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _fake_dims(payload: bytes | None, kind: str) -> tuple[int, int, int, float]:
    """Deterministic stand-in for a real decode: dims derived from the
    payload hash. Replace with PIL/ffprobe; signature is the contract."""
    if payload is None:
        return (0, 0, 0, 0.0)
    h = hashlib.md5(bytes(payload)).digest()
    width = 64 + h[0] % 192
    height = 64 + h[1] % 192
    n_frames = 1 if kind == "image" else 1 + h[2] % 300
    duration = 0.0 if kind == "image" else round(n_frames / 30.0, 3)
    return (width, height, n_frames, duration)


def _fake_feature(payload: bytes | None, dim: int = 8) -> list[float]:
    """Deterministic fake embedding from payload bytes — stands in for a
    CLIP/CLAP-style encoder."""
    if payload is None:
        return [0.0] * dim
    h = hashlib.md5(bytes(payload)).digest()
    return [round((h[i] - 128) / 128.0, 6) for i in range(dim)]


#: Default decode mode. "stub" = md5-derived deterministic fakes (the
#: oracle-reproducible path); "real" = stdlib PNG/WAV/AVI codecs
#: (operators/media_codecs.py). Per-call override via ``codec=``.
_STUB_DECODERS = True


def _decode_row(
    payload: bytes | None, kind: str, feature_dim: int
) -> tuple[int, int, int, float, list[float]]:
    """Real decode dispatch keyed on the row's DECLARED kind — the
    payload's magic bytes then have to agree (a kind='audio' row
    carrying PNG bytes is an upstream mixup and must fail loudly, not
    silently decode as the other modality and fake its dimensions)."""
    from . import media_codecs as mc

    if payload is None:
        return (0, 0, 0, 0.0, [0.0] * feature_dim)
    if kind == "image":
        if not mc.is_png(payload):
            raise ValueError(
                f"kind='image' payload is not PNG ({bytes(payload[:8])!r}...)"
            )
        return mc.png_features(payload, feature_dim)
    if kind == "audio":
        if not mc.is_wav(payload):
            raise ValueError(
                f"kind='audio' payload is not WAV ({bytes(payload[:8])!r}...)"
            )
        return mc.wav_features(payload, feature_dim)
    if kind == "video":
        if not mc.is_avi(payload):
            raise ValueError(
                f"kind='video' payload is not AVI ({bytes(payload[:8])!r}...)"
            )
        return mc.avi_features(payload, feature_dim)
    raise ValueError(
        f"cannot decode kind={kind!r}: real codecs support PNG images, "
        "PCM16 WAV audio, and uncompressed-DIB AVI video"
    )


def extract_media_features(
    media: DataFrame, feature_dim: int = 8, codec: str | None = None
) -> DataFrame:
    """media(media_id, kind, payload, mime, meta) → MEDIA_FEATURES rows.

    One ``mapInPandas`` pass: decode + dims + feature per Arrow batch.
    ``codec``: "stub" (md5-derived fakes, SQL-reproducible — what the
    driver oracle checks) or "real" (stdlib PNG/WAV/AVI decode,
    media_codecs.py — actual pixels/samples feed the feature vector);
    defaults to the module flag ``_STUB_DECODERS``. Column pruning
    applies upstream — if a caller selects only ``media_id``/``width``,
    parquet still must deliver ``payload`` here, so run feature
    extraction ONCE and persist its (small) output rather than
    re-decoding per query.
    """
    if codec is None:
        codec = "stub" if _STUB_DECODERS else "real"
    if codec not in ("stub", "real"):
        raise ValueError(f"codec must be 'stub' or 'real', got {codec!r}")
    real = codec == "real"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if real:
                rows = [
                    _decode_row(p, k, feature_dim)
                    for p, k in zip(pdf["payload"], pdf["kind"])
                ]
            else:
                rows = [
                    (*_fake_dims(p, k), _fake_feature(p, feature_dim))
                    for p, k in zip(pdf["payload"], pdf["kind"])
                ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "width": [r[0] for r in rows],
                    "height": [r[1] for r in rows],
                    "n_frames": [r[2] for r in rows],
                    "duration_s": [r[3] for r in rows],
                    "feature": [r[4] for r in rows],
                }
            )

    schema = (
        "media_id long, kind string, width int, height int, "
        "n_frames int, duration_s double, feature array<float>"
    )
    # Decode is CPU-bound and embarrassingly parallel; a single-split
    # input (one parquet row group) would otherwise pin the whole pass
    # to one Python worker. No-op on many-split scans at scale.
    from .skew import fan_out

    return fan_out(media).mapInPandas(run, schema=schema)


def frame_sample_plan(media: DataFrame, every_n: int = 30) -> DataFrame:
    """Video → (media_id, frame_index) rows to decode, WITHOUT touching
    payloads: the fan-out is planned from metadata (n_frames), so the
    expensive decode UDF downstream receives an explicit work list it
    can repartition for balance. (sequence+explode = pure JVM.)"""
    feats = media.filter(F.col("kind") == "video")
    return (
        extract_media_features(feats)
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0), F.greatest(F.col("n_frames") - 1, F.lit(0)), F.lit(every_n)
                )
            ).alias("frame_index"),
        )
    )


def ahash60(pixels) -> int:
    """60-bit average-hash of a grayscale pixel block: bit p is set iff
    ``flat[p] > mean(flat[:64])``. 60 bits (not 64) keeps the value
    signed-safe in every engine the repo's portable-hash convention
    targets; the mean still runs over all 64 pixels."""
    import numpy as np

    flat = np.asarray(pixels).reshape(-1)[:64].astype("int64")
    mean = flat.sum() / 64.0
    h = 0
    for p in range(60):
        if flat[p] > mean:
            h |= 1 << p
    return h


def image_ahash(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Perceptual hash of REAL PNG payloads: decode with the stdlib
    codec (operators/media_codecs.py::decode_png), grayscale by
    channel mean, nearest-resample to 8x8, :func:`ahash60`. Output
    ``(id, ahash)``.

    This is the image twin of text exact-dedup: byte-identical
    re-encodes, metadata-stripped copies, and (with the resample)
    trivially rescaled copies of an image collapse to one hash, and
    the downstream grouping shuffles 8-byte hashes, never payloads.
    One Arrow-batched mapInPandas over the scan — decode cost is
    embarrassingly parallel; repartition by a size-balanced key first
    when payload sizes are skewed (module docstring).
    """
    from .media_codecs import decode_png, resize_nearest

    out_schema = f"{id_col} long, ahash long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, hashes = [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                px = decode_png(bytes(payload))
                gray = px.mean(axis=2) if px.ndim == 3 else px
                small = resize_nearest(gray, 8, 8)
                ids.append(mid)
                hashes.append(ahash60(small))
            yield pd.DataFrame({id_col: ids, "ahash": pd.array(hashes, dtype="int64")})

    return media.mapInPandas(run, schema=out_schema)


def image_ahash_dedup(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Group identical-looking images: ``(ahash, canonical_id,
    n_copies)`` with the minimum id as canonical — exactly the
    exact_dedup contract, over perceptual identity instead of text
    bytes. Shuffle carries (hash, id) pairs only."""
    hashed = image_ahash(media, id_col=id_col, payload_col=payload_col)
    return hashed.groupBy("ahash").agg(
        F.min(id_col).cast("long").alias("canonical_id"),
        F.count(F.lit(1)).cast("long").alias("n_copies"),
    )


def energy_fingerprint(samples) -> int:
    """31-bit delta-energy fingerprint of a mono sample block: split
    the first 64 samples into 32 frames of 2, frame energy
    ``e_f = s_{2f}^2 + s_{2f+1}^2`` (exact int64 — no float anywhere),
    bit f-1 set iff ``e_f > e_{f-1}``. The energy-CONTOUR shape of the
    classic audio-fingerprint family: invariant to uniform gain in the
    continuous domain and to container/metadata differences, cheap
    enough for column replay in any engine."""
    import numpy as np

    flat = np.asarray(samples).reshape(-1)[:64].astype("int64")
    e = (flat[0::2] ** 2 + flat[1::2] ** 2)
    h = 0
    for f in range(1, 32):
        if e[f] > e[f - 1]:
            h |= 1 << (f - 1)
    return h


def audio_fingerprint(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Fingerprint REAL WAV payloads: decode PCM16 with the stdlib
    codec (operators/media_codecs.py::decode_wav), mix channels to
    mono by taking channel 0, :func:`energy_fingerprint`. Output
    ``(id, afp)``. Same Arrow mapInPandas shape as :func:`image_ahash`
    — one decode pass over the scan, fingerprints shuffle, payloads
    never do."""
    from .media_codecs import decode_wav

    out_schema = f"{id_col} long, afp long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                samples, _rate = decode_wav(bytes(payload))
                ids.append(mid)
                fps.append(energy_fingerprint(samples[:, 0]))
            yield pd.DataFrame({id_col: ids, "afp": pd.array(fps, dtype="int64")})

    return media.mapInPandas(run, schema=out_schema)


def audio_fingerprint_dedup(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Group same-sounding audio: ``(afp, canonical_id, n_copies)`` —
    the exact_dedup contract over the energy contour, so re-encodes of
    the same PCM (different framerate metadata, different container
    bytes) collapse to one canonical row."""
    fps = audio_fingerprint(media, id_col=id_col, payload_col=payload_col)
    return fps.groupBy("afp").agg(
        F.min(id_col).cast("long").alias("canonical_id"),
        F.count(F.lit(1)).cast("long").alias("n_copies"),
    )


def video_fingerprint(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Fingerprint REAL AVI payloads: decode uncompressed-DIB video
    with the stdlib codec (operators/media_codecs.py::decode_avi),
    grayscale each frame by channel mean, nearest-resample to 8x8,
    per-frame :func:`ahash60`, then one 60-bit md5 over the ordered
    frame-hash sequence. Output ``(id, vfp)``.

    This is the exact-sequence member of the video-dedup family: two
    files with the same frame CONTENT in the same order — re-muxed
    containers, fps-metadata edits — collapse to one fingerprint,
    while any frame edit changes it. (Robust near-dup variants sample
    frames first — ``frame_sample_plan`` — and match hash subsequences;
    the per-frame hash here is the same building block.) One Arrow
    mapInPandas decode pass; 8-byte fingerprints shuffle, multi-MB
    payloads never do."""
    import hashlib

    from .media_codecs import decode_avi, resize_nearest

    out_schema = f"{id_col} long, vfp long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                frames, _fps = decode_avi(bytes(payload))
                hs = []
                for fr in frames:
                    gray = fr.mean(axis=2)
                    hs.append(str(ahash60(resize_nearest(gray, 8, 8))))
                joined = "_".join(hs)
                vfp = int(hashlib.md5(joined.encode()).hexdigest()[:15], 16)
                ids.append(mid)
                fps.append(vfp)
            yield pd.DataFrame({id_col: ids, "vfp": pd.array(fps, dtype="int64")})

    return media.mapInPandas(run, schema=out_schema)


def video_fingerprint_dedup(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Group identical-content videos: ``(vfp, canonical_id,
    n_copies)`` — the exact_dedup contract over the ordered frame-hash
    sequence."""
    fps = video_fingerprint(media, id_col=id_col, payload_col=payload_col)
    return fps.groupBy("vfp").agg(
        F.min(id_col).cast("long").alias("canonical_id"),
        F.count(F.lit(1)).cast("long").alias("n_copies"),
    )
