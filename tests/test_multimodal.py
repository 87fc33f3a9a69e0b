"""Multimodal column plumbing: opaque binary payloads + typed metadata,
deterministic stub codecs behind real mapInPandas fan-out (schemas, batch
shapes, UDF signatures are the product; decode is a labeled stand-in —
operators/multimodal.py)."""

from __future__ import annotations

import pytest

from spark_streaming_kafka_spark.operators.multimodal import (
    extract_media_features,
    frame_sample_plan,
)

@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (0, "image", bytearray(b"imgbytes-0"), "image/png", {"src": "a"}),
        (1, "video", bytearray(b"vidbytes-1"), "video/mp4", {"src": "b"}),
        (2, "audio", None, "audio/wav", {}),
    ]
    from spark_streaming_kafka_spark.schemas import MEDIA

    return spark.createDataFrame(rows, MEDIA)


def test_media_feature_extraction_deterministic(media):
    out = {r["media_id"]: r for r in extract_media_features(media).collect()}
    assert len(out) == 3
    assert out[0]["n_frames"] == 1 and out[0]["duration_s"] == 0.0
    assert out[1]["n_frames"] >= 1
    assert out[2]["width"] == 0  # null payload contract
    assert len(out[0]["feature"]) == 8
    again = {r["media_id"]: r for r in extract_media_features(media).collect()}
    assert out[0]["feature"] == again[0]["feature"]


def test_frame_sample_plan_only_videos(media):
    out = frame_sample_plan(media, every_n=10).collect()
    assert {r["media_id"] for r in out} == {1}
    idx = sorted(r["frame_index"] for r in out)
    assert idx[0] == 0 and all(i % 10 == 0 for i in idx)


def test_image_ahash_collapses_rescaled_copies(spark):
    import numpy as np

    from spark_streaming_kafka_spark.operators.media_codecs import (
        encode_png,
        resize_nearest,
    )
    from spark_streaming_kafka_spark.operators.multimodal import (
        ahash60,
        image_ahash,
        image_ahash_dedup,
    )

    rng = np.random.RandomState(7)
    base = rng.randint(0, 256, size=(8, 8)).astype(np.uint8)
    other = rng.randint(0, 256, size=(8, 8)).astype(np.uint8)
    rows = [
        (1, bytearray(encode_png(base))),
        (2, bytearray(encode_png(resize_nearest(base, 16, 16)))),  # 2x upscale
        (3, bytearray(encode_png(other))),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    hashes = {r["media_id"]: r["ahash"] for r in image_ahash(media).collect()}
    assert hashes[1] == hashes[2] == ahash60(base)
    assert hashes[1] != hashes[3]
    groups = {r["ahash"]: (r["canonical_id"], r["n_copies"])
              for r in image_ahash_dedup(media).collect()}
    assert groups[hashes[1]] == (1, 2)
    assert groups[hashes[3]] == (3, 1)
    # 60-bit: signed-safe, top 4 pixel bits never set
    assert all(0 <= h < (1 << 60) for h in hashes.values())


def test_audio_fingerprint_collapses_reencoded_copies(spark):
    import numpy as np

    from spark_streaming_kafka_spark.operators.media_codecs import encode_wav
    from spark_streaming_kafka_spark.operators.multimodal import (
        audio_fingerprint,
        audio_fingerprint_dedup,
        energy_fingerprint,
    )

    rng = np.random.RandomState(11)
    pcm = rng.randint(-32768, 32768, size=64).astype(np.int16)
    other = rng.randint(-32768, 32768, size=64).astype(np.int16)
    rows = [
        (1, bytearray(encode_wav(pcm, framerate=16000))),
        (2, bytearray(encode_wav(pcm, framerate=8000))),   # re-encode: same PCM
        (3, bytearray(encode_wav(other, framerate=16000))),
    ]
    # the two containers really are byte-different
    assert bytes(rows[0][1]) != bytes(rows[1][1])
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    fps = {r["media_id"]: r["afp"] for r in audio_fingerprint(media).collect()}
    assert fps[1] == fps[2] == energy_fingerprint(pcm)
    assert fps[1] != fps[3]
    groups = {r["afp"]: (r["canonical_id"], r["n_copies"])
              for r in audio_fingerprint_dedup(media).collect()}
    assert groups[fps[1]] == (1, 2)
    assert all(0 <= h < (1 << 31) for h in fps.values())


def test_video_fingerprint_collapses_remuxed_copies(spark):
    import numpy as np

    from spark_streaming_kafka_spark.operators.media_codecs import encode_avi
    from spark_streaming_kafka_spark.operators.multimodal import (
        video_fingerprint,
        video_fingerprint_dedup,
    )

    rng = np.random.RandomState(13)
    clip = rng.randint(0, 256, size=(4, 8, 8, 3)).astype(np.uint8)
    edited = clip.copy()
    edited[2] = rng.randint(0, 256, size=(8, 8, 3)).astype(np.uint8)  # one frame edit
    reordered = clip[::-1].copy()  # same frames, different order
    rows = [
        (1, bytearray(encode_avi(clip, fps=30))),
        (2, bytearray(encode_avi(clip, fps=15))),      # fps metadata re-encode
        (3, bytearray(encode_avi(edited, fps=30))),
        (4, bytearray(encode_avi(reordered, fps=30))),
    ]
    assert bytes(rows[0][1]) != bytes(rows[1][1])
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    fps = {r["media_id"]: r["vfp"] for r in video_fingerprint(media).collect()}
    assert fps[1] == fps[2]          # re-encode collapses
    assert fps[1] != fps[3]          # frame edit splits
    assert fps[1] != fps[4]          # order matters (sequence hash)
    groups = {r["vfp"]: (r["canonical_id"], r["n_copies"])
              for r in video_fingerprint_dedup(media).collect()}
    assert groups[fps[1]] == (1, 2)
