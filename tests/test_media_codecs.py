"""Real stdlib media codecs (operators/media_codecs.py) and their wiring
into the multimodal operators: genuine PNG/WAV bytes in, real decoded
dimensions/samples out — no PIL/ffmpeg involved."""

from __future__ import annotations

import base64
import struct
import zlib

import numpy as np
import pytest

from pyspark.sql import functions as F

from spark_streaming_kafka_spark.operators import media_codecs as mc
from spark_streaming_kafka_spark.operators.multimodal import extract_media_features

#: A well-known tiny real-world PNG (1x1, RGBA, produced by an external
#: encoder) — decoding it proves format compat beyond our own encoder.
_EXTERNAL_1PX_PNG = base64.b64decode(
    "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJ"
    "AAAADUlEQVR42mNkYPhfDwAChwGA60e6kgAAAABJRU5ErkJggg=="
)


def _rng(seed=7):
    return np.random.default_rng(seed)


# --- PNG round trips --------------------------------------------------

@pytest.mark.parametrize("shape", [(5, 4), (5, 4, 2), (6, 3, 3), (4, 4, 4)])
def test_png_roundtrip_all_color_types(shape):
    img = _rng().integers(0, 256, size=shape, dtype=np.uint8)
    decoded = mc.decode_png(mc.encode_png(img))
    expect = img if img.ndim == 3 else img[:, :, None]
    assert decoded.shape == expect.shape
    assert np.array_equal(decoded, expect)


def test_png_external_file_decodes():
    mat = mc.decode_png(_EXTERNAL_1PX_PNG)
    assert mat.shape[0] == 1 and mat.shape[1] == 1


def _png_with_filter(img: np.ndarray, ftype: int) -> bytes:
    """Hand-build a PNG whose every scanline uses filter ``ftype`` —
    exercises the decoder's filter reconstruction beyond our encoder's
    filter-0 output."""
    h, w, ch = img.shape
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        line = img[y].reshape(-1).astype(np.int32)
        filt = np.zeros_like(line)
        for x in range(len(line)):
            a = int(line[x - ch]) if x >= ch else 0
            b = int(prev[x])
            c = int(prev[x - ch]) if x >= ch else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:
                pred = mc._paeth(a, b, c)
            filt[x] = (int(line[x]) - pred) & 0xFF
        raw.append(ftype)
        raw.extend(filt.astype(np.uint8).tobytes())
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, {1: 0, 2: 4, 3: 2, 4: 6}[ch], 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + mc._chunk(b"IHDR", ihdr)
        + mc._chunk(b"IDAT", zlib.compress(bytes(raw)))
        + mc._chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_decoder_handles_every_filter_type(ftype):
    img = _rng(ftype).integers(0, 256, size=(7, 5, 3), dtype=np.uint8)
    assert np.array_equal(mc.decode_png(_png_with_filter(img, ftype)), img)


def test_png_palette_expands_to_rgb():
    # 2x2 palette image: indices into a 4-color palette
    palette = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [9, 9, 9]], dtype=np.uint8)
    idx = np.array([[0, 1], [2, 3]], dtype=np.uint8)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    raw = b"\x00" + idx[0].tobytes() + b"\x00" + idx[1].tobytes()
    png = (
        b"\x89PNG\r\n\x1a\n"
        + mc._chunk(b"IHDR", ihdr)
        + mc._chunk(b"PLTE", palette.tobytes())
        + mc._chunk(b"IDAT", zlib.compress(raw))
        + mc._chunk(b"IEND", b"")
    )
    assert np.array_equal(mc.decode_png(png), palette[idx])


def test_png_rejects_garbage_and_bad_crc():
    with pytest.raises(ValueError):
        mc.decode_png(b"not a png at all")
    good = mc.encode_png(np.zeros((2, 2, 3), dtype=np.uint8))
    corrupt = bytearray(good)
    corrupt[40] ^= 0xFF  # flip a byte inside a chunk body
    with pytest.raises((ValueError, zlib.error)):
        mc.decode_png(bytes(corrupt))


def test_resize_nearest_shape_and_sampling():
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    out = mc.resize_nearest(img, 4, 4)
    assert out.shape == (4, 4)
    assert np.array_equal(out, img[::2, ::2])


# --- WAV round trips --------------------------------------------------

def test_wav_roundtrip_mono_and_stereo():
    t = np.arange(1600)
    mono = (np.sin(2 * np.pi * 440 * t / 16000) * 20000).astype(np.int16)
    arr, rate = mc.decode_wav(mc.encode_wav(mono, 16000))
    assert rate == 16000 and arr.shape == (1600, 1)
    assert np.array_equal(arr[:, 0], mono)

    stereo = np.stack([mono, -mono], axis=1)
    arr2, rate2 = mc.decode_wav(mc.encode_wav(stereo, 8000))
    assert rate2 == 8000 and arr2.shape == (1600, 2)
    assert np.array_equal(arr2, stereo)


# --- wiring into the multimodal operators -----------------------------

def test_extract_media_features_real_codecs(spark):
    img = _rng(1).integers(0, 256, size=(12, 10, 3), dtype=np.uint8)
    png = mc.encode_png(img)
    wav = mc.encode_wav(
        (np.sin(np.arange(8000) / 5.0) * 10000).astype(np.int16), 16000
    )
    rows = [(1, "image", bytearray(png)), (2, "audio", bytearray(wav))]
    media = spark.createDataFrame(rows, "media_id long, kind string, payload binary")
    got = {
        r["media_id"]: r
        for r in extract_media_features(media, codec="real").collect()
    }
    assert got[1]["width"] == 10 and got[1]["height"] == 12
    assert got[1]["n_frames"] == 1 and got[1]["duration_s"] == 0.0
    # feature = real per-channel pixel means then stds, scaled to [0,1]
    expect_mean = img.reshape(-1, 3).mean(axis=0) / 255.0
    np.testing.assert_allclose(got[1]["feature"][:3], expect_mean, atol=1e-4)
    assert got[2]["n_frames"] == 8000 and got[2]["duration_s"] == 0.5
    assert all(0.0 <= v <= 1.0 for v in got[2]["feature"])
    assert any(v > 0 for v in got[2]["feature"])  # real RMS energy


def test_extract_media_features_real_rejects_fake_bytes(spark):
    media = spark.createDataFrame(
        [(1, "image", bytearray(b"definitely not an image"))],
        "media_id long, kind string, payload binary",
    )
    with pytest.raises(Exception, match="not PNG"):
        extract_media_features(media, codec="real").collect()


def test_extract_media_features_real_rejects_cross_typed_payload(spark):
    """Dispatch is by DECLARED kind: a kind='audio' row carrying valid
    PNG bytes is an upstream mixup and must fail loudly, not silently
    decode as an image."""
    img = _rng(5).integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
    media = spark.createDataFrame(
        [(1, "audio", bytearray(mc.encode_png(img)))],
        "media_id long, kind string, payload binary",
    )
    with pytest.raises(Exception, match="not WAV"):
        extract_media_features(media, codec="real").collect()


def test_stub_mode_unchanged_default(spark):
    """Default stays stub (oracle parity): fake bytes flow through."""
    media = spark.createDataFrame(
        [(1, "image", bytearray(b"fake-bytes"))],
        "media_id long, kind string, payload binary",
    )
    row = extract_media_features(media).first()
    assert 64 <= row["width"] < 256 and row["n_frames"] == 1


# --- AVI --------------------------------------------------------------

def test_avi_roundtrip_exact():
    frames = _rng(9).integers(0, 256, size=(9, 13, 17, 3), dtype=np.uint8)
    avi = mc.encode_avi(frames, fps=12)
    assert mc.is_avi(avi) and not mc.is_wav(avi) and not mc.is_png(avi)
    dec, fps = mc.decode_avi(avi)
    assert fps == 12.0
    assert np.array_equal(dec, frames)  # exact pixels through BGR/bottom-up/stride


def test_avi_stride_padding_roundtrip():
    # width*3 not divisible by 4 exercises the DIB row-padding path
    frames = _rng(3).integers(0, 256, size=(2, 5, 6, 3), dtype=np.uint8)
    dec, _ = mc.decode_avi(mc.encode_avi(frames, fps=30))
    assert np.array_equal(dec, frames)


def test_avi_rejects_compressed_and_garbage():
    with pytest.raises(ValueError, match="not an AVI"):
        mc.decode_avi(b"RIFF\x00\x00\x00\x00WAVE")
    frames = _rng(4).integers(0, 256, size=(1, 4, 4, 3), dtype=np.uint8)
    avi = bytearray(mc.encode_avi(frames, fps=30))
    # flip biCompression in strf to a fake MJPG fourcc
    pos = avi.find(b"strf") + 8
    avi[pos + 16 : pos + 20] = b"MJPG"
    with pytest.raises(ValueError, match="compressed"):
        mc.decode_avi(bytes(avi))


def test_avi_features_real_luminance():
    # black half then white half -> first feature chunks ~0, last ~1
    black = np.zeros((4, 6, 6, 3), dtype=np.uint8)
    white = np.full((4, 6, 6, 3), 255, dtype=np.uint8)
    avi = mc.encode_avi(np.concatenate([black, white]), fps=8)
    w, h, n, dur, feat = mc.avi_features(avi, dim=4)
    assert (w, h, n) == (6, 6, 8) and dur == 1.0
    assert feat[0] == 0.0 and feat[1] == 0.0
    assert feat[2] == 1.0 and feat[3] == 1.0


def test_extract_media_features_real_video(spark):
    frames = _rng(11).integers(0, 256, size=(6, 8, 9, 3), dtype=np.uint8)
    media = spark.createDataFrame(
        [(1, "video", bytearray(mc.encode_avi(frames, fps=30)))],
        "media_id long, kind string, payload binary",
    )
    row = extract_media_features(media, codec="real").first()
    assert row["width"] == 9 and row["height"] == 8
    assert row["n_frames"] == 6 and row["duration_s"] == 0.2
    expect = (
        frames[:, :, :, 0] * 0.299
        + frames[:, :, :, 1] * 0.587
        + frames[:, :, :, 2] * 0.114
    ).reshape(6, -1).mean(axis=1) / 255.0
    got_mean = float(np.mean(row["feature"][:6]))
    assert abs(got_mean - float(expect.mean())) < 1e-3


def test_extract_media_features_real_rejects_cross_typed_video(spark):
    img = _rng(5).integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
    media = spark.createDataFrame(
        [(1, "video", bytearray(mc.encode_png(img)))],
        "media_id long, kind string, payload binary",
    )
    with pytest.raises(Exception, match="not AVI"):
        extract_media_features(media, codec="real").collect()


def test_avi_video_as_second_stream_decodes():
    """An AVI with an audio strl FIRST (video is stream 1, frames in
    '01db' chunks): the decoder must find the vids stream by index and
    must not misparse the audio strf (WAVEFORMATEX) as a video
    BITMAPINFOHEADER."""
    frames = _rng(21).integers(0, 256, size=(3, 4, 5, 3), dtype=np.uint8)
    base = mc.encode_avi(frames, fps=10)
    # deconstruct: rebuild hdrl with an auds strl prepended, renumber
    # the movi frame chunks 00db -> 01db, dwStreams -> 2
    w, h, n, fps_n = 5, 4, 3, 10
    stride = (w * 3 + 3) & ~3
    frame_size = stride * h
    avih = struct.pack("<14I", 100000, frame_size * fps_n, 0, 0x10,
                       n, 0, 2, frame_size, w, h, 0, 0, 0, 0)
    auds_strh = struct.pack("<4s4sIHHIIIIIIiI4h", b"auds", b"\x00\x00\x00\x00",
                            0, 0, 0, 0, 1, 16000, 0, 16000, 0, -1, 2, 0, 0, 0, 0)
    # WAVEFORMATEX: PCM, 1ch, 16kHz, 16-bit (18 bytes, nothing like a BITMAPINFOHEADER)
    auds_strf = struct.pack("<HHIIHHH", 1, 1, 16000, 32000, 2, 16, 0)
    vids_strh = struct.pack("<4s4sIHHIIIIIIiI4h", b"vids", b"DIB ",
                            0, 0, 0, 0, 1, fps_n, 0, n, frame_size, -1, 0, 0, 0, w, h)
    vids_strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_size, 0, 0, 0, 0)
    hdrl = mc._riff_list(
        b"hdrl",
        mc._riff_chunk(b"avih", avih)
        + mc._riff_list(b"strl", mc._riff_chunk(b"strh", auds_strh)
                        + mc._riff_chunk(b"strf", auds_strf))
        + mc._riff_list(b"strl", mc._riff_chunk(b"strh", vids_strh)
                        + mc._riff_chunk(b"strf", vids_strf)),
    )

    def dib(frame):
        bgr = frame[::-1, :, ::-1]
        padded = np.zeros((h, stride), dtype=np.uint8)
        padded[:, : w * 3] = bgr.reshape(h, w * 3)
        return padded.tobytes()

    movi = mc._riff_list(
        b"movi", b"".join(mc._riff_chunk(b"01db", dib(frames[i])) for i in range(n))
    )
    body = b"AVI " + hdrl + movi
    avi = b"RIFF" + struct.pack("<I", len(body)) + body
    dec, fps = mc.decode_avi(avi)
    assert fps == 10.0
    assert np.array_equal(dec, frames)
    # and a file with NO video stream fails loudly, not silently empty
    body2 = b"AVI " + mc._riff_list(
        b"hdrl",
        mc._riff_chunk(b"avih", avih)
        + mc._riff_list(b"strl", mc._riff_chunk(b"strh", auds_strh)
                        + mc._riff_chunk(b"strf", auds_strf)),
    )
    with pytest.raises(ValueError, match="no 'vids' stream"):
        mc.decode_avi(b"RIFF" + struct.pack("<I", len(body2)) + body2)


def test_avi_top_down_dib_not_flipped():
    """Negative biHeight = rows stored top-down: the decoder must skip
    the bottom-up flip, not silently mirror every frame."""
    frames = _rng(22).integers(0, 256, size=(2, 4, 4, 3), dtype=np.uint8)
    avi = bytearray(mc.encode_avi(frames, fps=30))
    # flip biHeight sign in the strf and rewrite each frame's rows
    # top-down (encode wrote them bottom-up)
    pos = avi.find(b"strf") + 8
    (bh,) = struct.unpack_from("<i", avi, pos + 8)
    struct.pack_into("<i", avi, pos + 8, -bh)
    w = h = 4
    stride = (w * 3 + 3) & ~3
    idx = 0
    while True:
        idx = avi.find(b"00db", idx)
        if idx < 0:
            break
        body = idx + 8
        raw = bytes(avi[body : body + stride * h])
        rows = [raw[r * stride : (r + 1) * stride] for r in range(h)]
        avi[body : body + stride * h] = b"".join(reversed(rows))
        idx = body
    dec, _ = mc.decode_avi(bytes(avi))
    assert np.array_equal(dec, frames)
