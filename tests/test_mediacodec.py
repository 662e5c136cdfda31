"""Real media codec path: BMP/WAV encode<->decode round trips, header
edge cases (row padding, top-down BMPs), feature extraction, and the
mode="real" Arrow seam in extract_media_features."""

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from nlp_lib_spark.operators.mediacodec import (
    audio_features,
    decode_avi,
    decode_bmp,
    decode_png,
    decode_wav,
    encode_avi,
    encode_bmp,
    encode_png,
    encode_wav,
    frame_features,
    image_features,
    md5_expand,
    real_features,
    synth_avi_payload,
    synth_payload,
    synth_png_payload,
    video_features,
)


@settings(max_examples=60, deadline=None)
@given(st.integers(1, 13), st.integers(1, 9), st.data())
def test_bmp_roundtrip_any_dims(w, h, data):
    # odd widths exercise the 4-byte row padding
    gray = data.draw(st.lists(st.integers(0, 255), min_size=w * h,
                              max_size=w * h))
    blob = encode_bmp(gray, w, h)
    assert blob[:2] == b"BM"
    assert len(blob) == 54 + ((w * 3 + 3) // 4 * 4) * h
    w2, h2, gray2 = decode_bmp(blob)
    assert (w2, h2, gray2) == (w, h, gray)


def test_bmp_topdown_negative_height():
    gray = list(range(12))  # 4x3
    blob = bytearray(encode_bmp(gray, 4, 3))
    # rewrite as top-down: negate height, reverse stored row order
    stride = (4 * 3 + 3) // 4 * 4
    rows = [bytes(blob[54 + i * stride:54 + (i + 1) * stride])
            for i in range(3)]
    body = b"".join(reversed(rows))
    struct.pack_into("<i", blob, 22, -3)
    topdown = bytes(blob[:54]) + body
    assert decode_bmp(topdown) == (4, 3, gray)


def test_bmp_rejects_non_bmp_and_unsupported_bpp():
    with pytest.raises(ValueError):
        decode_bmp(b"PNG garbage")
    blob = bytearray(encode_bmp([0, 0], 2, 1))
    struct.pack_into("<H", blob, 28, 8)  # claim 8bpp
    with pytest.raises(ValueError):
        decode_bmp(bytes(blob))


@settings(max_examples=40, deadline=None)
@given(st.lists(st.integers(-32768, 32767), min_size=1, max_size=64),
       st.sampled_from([8000, 16000, 44100]))
def test_wav_roundtrip(samples, rate):
    blob = encode_wav(samples, rate)
    assert blob[:4] == b"RIFF" and blob[8:12] == b"WAVE"
    assert len(blob) == 44 + 2 * len(samples)  # canonical PCM16 header
    rate2, samples2 = decode_wav(blob)
    assert (rate2, samples2) == (rate, samples)


def _with_wav_format_tag(tag):
    blob = bytearray(encode_wav([1, -2, 3], 8000))
    struct.pack_into("<H", blob, 20, tag)  # fmt chunk body starts at 20
    return bytes(blob)


def test_wav_rejects_garbage():
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxAVI LIST")
    # IEEE float (3), IMA ADPCM (0x11), a header-only RIFF and a cut-off
    # data chunk: ValueError from every entry point, never wave.Error
    for bad in (_with_wav_format_tag(3), _with_wav_format_tag(0x0011),
                b"RIFF\x04\x00\x00\x00WAVE",
                encode_wav([1, -2, 3], 8000)[:-3]):
        for fn in (decode_wav, real_features):
            with pytest.raises(ValueError):
                fn(bad)


def test_real_features_dispatch_and_values():
    # image: known pixels -> exact stats + 4x4 nearest-neighbor resize
    gray = list(range(32))  # 8x4
    feats = real_features(encode_bmp(gray, 8, 4))
    assert feats[:5] == [8.0, 4.0, 0.0, 31.0, float(sum(gray))]
    assert feats[5:] == [float(i * 8 + 2 * j)
                         for i in range(4) for j in range(4)]
    # audio: rate, n, min, max, sum|s|, then the first 16 samples
    s = [-5, 7, 0]
    feats = real_features(encode_wav(s, 8000))
    assert feats[:5] == [8000.0, 3.0, -5.0, 7.0, 12.0]
    assert feats[5:] == [-5.0, 7.0] + [0.0] * 14
    # unknown and removed containers (JPEG SOI, GIF signature) raise
    for bad in (b"\x00\x01mystery", b"\xff\xd8\xff\xe0\x00\x10JFIF\x00",
                b"GIF89a\x08\x00\x08\x00\x80\x00\x00"):
        with pytest.raises(ValueError):
            real_features(bad)


@settings(max_examples=60, deadline=None)
@given(st.integers(1, 13), st.integers(1, 11), st.data())
def test_png_roundtrip_any_dims(w, h, data):
    # h >= 5 exercises all five filter types (scanline r uses filter r % 5)
    gray = data.draw(st.lists(st.integers(0, 255), min_size=w * h,
                              max_size=w * h))
    blob = encode_png(gray, w, h)
    assert blob[:8] == b"\x89PNG\r\n\x1a\n"
    assert blob.count(b"IDAT") == 2  # decoder must concatenate IDATs
    assert decode_png(blob) == (w, h, gray)


def test_png_rejects_garbage_and_unsupported():
    with pytest.raises(ValueError):
        decode_png(b"BM not a png")
    # rewrite IHDR to claim RGB (color type 2): must refuse, not misdecode
    blob = bytearray(encode_png([1, 2, 3, 4], 2, 2))
    blob[8 + 8 + 9] = 2  # sig + chunk len/tag + 9th IHDR byte = color type
    import zlib
    body = bytes(blob[16:16 + 13])
    struct.pack_into(">I", blob, 16 + 13, zlib.crc32(b"IHDR" + body))
    with pytest.raises(ValueError):
        decode_png(bytes(blob))


@settings(max_examples=30, deadline=None)
@given(st.integers(1, 5), st.integers(1, 9), st.integers(1, 6), st.data())
def test_avi_roundtrip(n_frames, w, h, data):
    frames = [data.draw(st.lists(st.integers(0, 255), min_size=w * h,
                                 max_size=w * h)) for _ in range(n_frames)]
    blob = encode_avi(frames, w, h)
    assert blob[:4] == b"RIFF" and blob[8:12] == b"AVI "
    assert decode_avi(blob) == (w, h, frames)


def test_avi_rejects_garbage():
    with pytest.raises(ValueError):
        decode_avi(b"RIFFxxxxWAVEdata")
    # a GIF signature is no video container for frame sampling either
    with pytest.raises(ValueError):
        frame_features(b"GIF89a\x08\x00\x08\x00\x80\x00\x00")
    # a DIB AVI whose strf claims a compressed (MJPG) stream must be
    # rejected, not decoded as raw DIB frames
    blob = bytearray(encode_avi([[0] * 8], 4, 2))
    strf = blob.index(b"strf") + 8
    blob[strf + 16:strf + 20] = b"MJPG"  # BITMAPINFOHEADER.biCompression
    for fn in (decode_avi, real_features, frame_features):
        with pytest.raises(ValueError, match="compression"):
            fn(bytes(blob))


def test_frame_features_sampling():
    frames = [[(f * 37 + p) % 256 for p in range(8 * 4)] for f in range(5)]
    blob = encode_avi(frames, 8, 4)
    rows = frame_features(blob, every_n=2)
    assert [k for k, _ in rows] == [0, 2, 4]
    for k, feats in rows:
        g = frames[k]
        assert feats[:5] == [8.0, 4.0, float(min(g)), float(max(g)),
                             float(sum(g))]
        assert feats[5:] == [float(g[i * 8 + 2 * j])
                             for i in range(4) for j in range(4)]
    vf = video_features(blob)
    allpx = [v for f in frames for v in f]
    assert vf == [8.0, 4.0, 5.0, float(min(allpx)), float(max(allpx)),
                  float(sum(allpx))]


def test_synth_png_avi_match_oracle_model():
    """The new gate payload builders must equal the oracles' closed form:
    PNG raster = md5_expand(text, 64); AVI frame k = md5_expand(text#fk, 32)."""
    w, h, gray = decode_png(synth_png_payload("hello"))
    assert (w, h) == (8, 8) and bytes(gray) == md5_expand("hello", 64)
    w, h, frames = decode_avi(synth_avi_payload("hello"))
    assert (w, h, len(frames)) == (8, 4, 4)
    for k, f in enumerate(frames):
        assert bytes(f) == md5_expand(f"hello#f{k}", 32)
    # real_features dispatches PNG to image stats and AVI to clip stats
    assert real_features(synth_png_payload("hello"))[:2] == [8.0, 8.0]
    assert real_features(synth_avi_payload("hello"))[:3] == [8.0, 4.0, 4.0]


def test_md5_expand_blocks():
    import hashlib
    b = md5_expand("abc", 40)
    assert b[:16] == hashlib.md5(b"abc").digest()
    assert b[16:32] == hashlib.md5(b"abc:1").digest()
    assert b[32:40] == hashlib.md5(b"abc:2").digest()[:8]


def test_synth_payload_matches_oracle_model():
    """The gate's payload builder must equal the oracle's closed form:
    image pixels / audio samples are the md5-expansion bytes."""
    kind, blob = synth_payload(2, "hello")
    assert kind == "image" and len(blob) == 150
    w, h, gray = decode_bmp(blob)
    assert (w, h) == (8, 4) and bytes(gray) == md5_expand("hello", 32)
    kind, blob = synth_payload(3, "hello")
    assert kind == "audio" and len(blob) == 76
    rate, samples = decode_wav(blob)
    b = md5_expand("hello", 32)
    assert rate == 8000
    assert samples == [b[2 * k] * 256 + b[2 * k + 1] - 32768
                       for k in range(16)]


def test_extract_media_features_real_spark(spark):
    import pandas as pd

    from nlp_lib_spark.operators.multimodal import extract_media_features
    rows = [synth_payload(i, f"doc {i}") for i in range(6)]
    pdf = pd.DataFrame({"media_id": range(6),
                        "kind": [k for k, _ in rows],
                        "payload": [p for _, p in rows]})
    df = spark.createDataFrame(pdf)
    out = {r["media_id"]: r
           for r in extract_media_features(df, mode="real").collect()}
    assert len(out) == 6
    for i in range(6):
        kind, blob = rows[i]
        expect = (image_features(blob) if kind == "image"
                  else audio_features(blob))
        assert out[i]["kind"] == kind
        assert out[i]["n_bytes"] == len(blob)
        assert [round(x, 4) for x in out[i]["features"]] == expect


# ---------------------------------------------------------- BI_RLE8 BMP

@settings(max_examples=80, deadline=None)
@given(st.integers(1, 13), st.integers(1, 11), st.integers(0, 2), st.data())
def test_rle8_roundtrip_any_dims(w, h, kind, data):
    from nlp_lib_spark.operators.mediacodec import (decode_bmp,
                                                    encode_bmp_rle8)
    if kind == 0:    # random: absolute-mode heavy
        px = data.draw(st.lists(st.integers(0, 255), min_size=w * h,
                                max_size=w * h))
    elif kind == 1:  # runs-heavy: encoded-mode heavy
        px = data.draw(st.lists(st.sampled_from([7, 7, 7, 9]),
                                min_size=w * h, max_size=w * h))
    else:            # flat: single max-length runs per row
        px = [data.draw(st.integers(0, 255))] * (w * h)
    blob = encode_bmp_rle8(px, w, h)
    assert blob[:2] == b"BM"
    assert struct.unpack_from("<I", blob, 30)[0] == 1  # BI_RLE8
    assert decode_bmp(blob) == (w, h, px)


def test_rle8_delta_and_early_eob_fill_zero():
    """Hand-built escape vectors: pixels skipped by a (0,2) position
    delta or an early end-of-bitmap must decode as palette index 0 (the
    GDI convention), and absolute runs pad to word boundaries."""
    from nlp_lib_spark.operators.mediacodec import (decode_bmp,
                                                    encode_bmp_rle8)
    base = encode_bmp_rle8([0] * 16, 4, 4)
    off = struct.unpack_from("<I", base, 10)[0]
    # rows bottom-up: run(2,200), delta right1 up1, abs(3: 10,20,30)+pad,
    # EOL, then EOB two rows early
    stream = bytes((2, 200,           # bottom row: x=0..1 = 200
                    0, 2, 1, 1,       # skip to x=3, y=1
                    0, 0,             # EOL -> x=0, y=2
                    0, 3, 10, 20, 30, 0,   # abs mode + pad byte
                    0, 1))            # EOB (row y=3 untouched)
    blob = bytearray(base[:off]) + stream
    blob[2:6] = struct.pack("<I", len(blob))
    struct.pack_into("<I", blob, 34, len(stream))
    w, h, gray = decode_bmp(bytes(blob))
    assert (w, h) == (4, 4)
    grid = [gray[r * 4:(r + 1) * 4] for r in range(4)]   # row 0 = top
    assert grid[3] == [200, 200, 0, 0]    # bottom row: the run
    assert grid[2] == [0, 0, 0, 0]        # y=1: delta skipped it entirely
    assert grid[1] == [10, 20, 30, 0]     # y=2: absolute mode
    assert grid[0] == [0, 0, 0, 0]        # y=3: early EOB
    # spec transliteration cross-check of the same stream: the GDI
    # machine, written independently (x/y cursor over a zeroed surface)
    surface = [[0] * 4 for _ in range(4)]
    x = y = p = 0
    while True:
        b0, b1 = stream[p], stream[p + 1]
        p += 2
        if b0:
            for _ in range(b0):
                surface[y][x] = b1
                x += 1
        elif b1 == 0:
            x, y = 0, y + 1
        elif b1 == 1:
            break
        elif b1 == 2:
            x += stream[p]
            y += stream[p + 1]
            p += 2
        else:
            for k in range(b1):
                surface[y][x] = stream[p + k]
                x += 1
            p += b1 + (b1 % 2)
    assert [grid[3 - yy] for yy in range(4)] == surface


def test_rle8_uncompressed_8bpp_and_rejects():
    from nlp_lib_spark.operators.mediacodec import (decode_bmp,
                                                    encode_bmp_rle8)
    # rewrite a 5x3 RLE8 file as BI_RGB 8bpp (stride-padded raw indices)
    px = list(range(15))
    blob = bytearray(encode_bmp_rle8(px, 5, 3))
    off = struct.unpack_from("<I", blob, 10)[0]
    stride = (5 + 3) // 4 * 4
    raw = bytearray()
    for r in (2, 1, 0):  # bottom-up
        row = bytes(px[r * 5:(r + 1) * 5])
        raw += row + b"\x00" * (stride - len(row))
    struct.pack_into("<I", blob, 30, 0)  # BI_RGB
    struct.pack_into("<I", blob, 34, len(raw))
    out = bytes(blob[:off]) + bytes(raw)
    assert decode_bmp(out) == (5, 3, px)
    # top-down RLE8 is invalid per the spec
    bad = bytearray(encode_bmp_rle8(px, 5, 3))
    struct.pack_into("<i", bad, 22, -3)
    with pytest.raises(ValueError):
        decode_bmp(bytes(bad))
    # truncated stream (EOB stripped mid-run)
    with pytest.raises(ValueError):
        decode_bmp(bytes(encode_bmp_rle8(px, 5, 3))[:-3])


def test_rle8_synth_matches_oracle_model_and_dispatch():
    from nlp_lib_spark.operators.mediacodec import (PNG_DIM, decode_image,
                                                    synth_rle8_payload)
    for text in ("hello", "x"):
        payload = synth_rle8_payload(text)
        exp = list(md5_expand(text, PNG_DIM * PNG_DIM))
        assert decode_image(payload) == (PNG_DIM, PNG_DIM, exp)
        feats = real_features(payload)
        assert feats[:5] == [8.0, 8.0, float(min(exp)), float(max(exp)),
                             float(sum(exp))]
        assert feats[5:] == [float(exp[(t // 4) * 16 + (t % 4) * 2])
                             for t in range(16)]


# --------------------------------------------- PCM WAV width/channel variants

@settings(max_examples=40, deadline=None)
@given(st.lists(st.integers(-32768, 32767), min_size=1, max_size=40),
       st.sampled_from([1, 2, 3]), st.sampled_from([1, 2]))
def test_wav_pcm_widths_and_stereo(samples, sampwidth, channels):
    """8-bit WAVs round-trip to the top-byte quantization, 16/24-bit
    exactly; stereo files (both channels = the mono signal) downmix back
    to it exactly under the floor mean."""
    from nlp_lib_spark.operators.mediacodec import decode_wav, encode_wav
    blob = encode_wav(samples, 8000, sampwidth=sampwidth,
                      channels=channels)
    rate, got = decode_wav(blob)
    if sampwidth == 1:
        exp = [((s >> 8) + 128 - 128) << 8 for s in samples]
    else:
        exp = samples
    assert (rate, got) == (8000, exp)


def test_wav_24bit_full_range_and_stereo_mix_vector():
    from nlp_lib_spark.operators.mediacodec import decode_wav, encode_wav
    big = [8_000_000, -8_000_000, 1, -1]
    _, got = decode_wav(encode_wav(big, 8000, sampwidth=3))
    assert got == big
    # hand-interleaved unequal channels: floor mean, negative included
    import io
    import struct
    import wave
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<6h", 100, 51, -100, -51, 7, -8))
    _, got = decode_wav(buf.getvalue())
    assert got == [(100 + 51) // 2, (-100 - 51) // 2, (7 - 8) // 2]
    with pytest.raises(ValueError):
        encode_wav([0], 8000, sampwidth=4)
