"""Pure-stdlib media codecs for the ``mode="real"`` decode path.

The container has no PIL/librosa/pyav (verified at round-3 start, recorded
in BASELINE.md), but four real, widely-used container formats ARE decodable
with what IS baked in: BMP (uncompressed 24-bit, and 8-bit palette raw or
BI_RLE8; struct parsing), gray8 PNG (stdlib ``zlib`` inflate + full
five-filter scanline reconstruction), linear-PCM WAV (stdlib ``wave``;
8/16/24-bit, stereo downmix), and uncompressed-DIB AVI (RIFF chunk walk +
per-frame DIB decode — a genuine video demuxer, so frame sampling is a
real operation, not a stub). This module provides symmetric
encoders/decoders so the ``extract_media_features(mode="real")`` seam
(operators/multimodal.py) performs a genuine decode — magic-byte dispatch,
header parsing, row-padding/bottom-up handling, filter reconstruction,
sample extraction — rather than a stub. Every other container or codec
(JPEG, GIF, compressed WAV or AVI streams, ...) is rejected with
``ValueError``, never misdecoded.

Feature vectors are integer-valued floats so the driver's value-hash
compares exactly (no float formatting divergence):

* image  -> [w, h, min, max, sum] + 4x4 nearest-neighbor resize (16 grays)
* audio  -> [rate, n_samples, min, max, sum(|s|)] + first 16 samples

Scale posture: encode/decode run inside Arrow ``mapInPandas`` batches;
payload bytes never leave the executor, and per-row work is O(payload).
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib

RESIZE_N = 4  # 4x4 nearest-neighbor thumbnail
_N_SAMPLES_FEAT = 16


def md5_expand(text: str, n: int) -> bytes:
    """Deterministic byte expansion used by the synthetic payload builders
    and mirrored closed-form by the DuckDB oracle: block 0 = md5(text),
    block k = md5(text + ':' + k)."""
    out = bytearray()
    blk = 0
    while len(out) < n:
        key = text if blk == 0 else f"{text}:{blk}"
        out.extend(hashlib.md5(key.encode("utf-8")).digest())
        blk += 1
    return bytes(out[:n])


# ----------------------------------------------------- DIB pixel array (24bpp)
# Shared by BMP files and AVI '00db' frame chunks — both carry the same
# uncompressed BGR pixel array (bottom-up rows padded to 4-byte boundaries).

def _dib_stride(width: int) -> int:
    return (width * 3 + 3) // 4 * 4


def _pack_dib(gray: list[int], width: int, height: int) -> bytes:
    """gray raster (row 0 = TOP) -> bottom-up padded BGR pixel array."""
    if len(gray) != width * height:
        raise ValueError("pixel count != width*height")
    row_stride = _dib_stride(width)
    body = bytearray()
    for r in range(height - 1, -1, -1):  # bottom-up
        row = bytearray()
        for c in range(width):
            v = gray[r * width + c]
            row += bytes((v, v, v))  # BGR
        row += b"\x00" * (row_stride - len(row))
        body += row
    return bytes(body)


def _unpack_dib(data: bytes, off: int, width: int, height: int,
                top_down: bool = False) -> list[int]:
    """Padded BGR pixel array -> gray raster (row 0 = TOP)."""
    row_stride = _dib_stride(width)
    gray: list[int] = [0] * (width * height)
    for i in range(height):
        src_row = i if top_down else height - 1 - i
        base = off + src_row * row_stride
        for c in range(width):
            b, g, r = data[base + 3 * c:base + 3 * c + 3]
            gray[i * width + c] = (r + g + b) // 3
    return gray


# --------------------------------------------------------------- BMP (24bpp)

def encode_bmp(gray: list[int], width: int, height: int) -> bytes:
    """Write an uncompressed 24-bit BMP (gray pixels r=g=b, standard
    bottom-up row order, rows padded to 4-byte boundaries). ``gray`` is
    raster order: row 0 = TOP row."""
    body = _pack_dib(gray, width, height)
    off = 14 + 40
    hdr = struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                       len(body), 2835, 2835, 0, 0)
    return hdr + info + body


def decode_bmp(data: bytes) -> tuple[int, int, list[int]]:
    """Parse an uncompressed 24-bit BMP -> (width, height, gray pixels in
    raster order, row 0 = top). Handles bottom-up (positive height) and
    top-down (negative height) files and arbitrary pixel-array offsets."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = struct.unpack_from("<I", data, 10)[0]
    hdr_size, width, height = struct.unpack_from("<Iii", data, 14)
    if hdr_size < 40:
        raise ValueError("unsupported BMP header")
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    if bpp == 8 and compression in (0, 1):
        return _decode_bmp8(data, off, hdr_size, width, height, compression)
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={compression}")
    top_down = height < 0
    height = abs(height)
    return width, height, _unpack_dib(data, off, width, height, top_down)


# ------------------------------------------- BMP (8bpp palette + BI_RLE8)
# The OTHER classic BMP pixel format: 8-bit palette indices, optionally
# run-length encoded with the BI_RLE8 scheme (Windows GDI bitmap spec) —
# encoded runs (n, v), plus the 00-escapes: 00 00 end-of-line, 00 01
# end-of-bitmap, 00 02 dx dy position delta (pixels skipped by EOL/delta
# are defined as palette index 0), 00 n>=3 absolute mode (n literal
# indices, padded to a 2-byte boundary). RLE8 rows are bottom-up like
# every BMP. A real compressed image codec with no entropy coder, so the
# gate corpus decodes closed-form (RLE is lossless).

def encode_bmp_rle8(gray: list[int], width: int, height: int) -> bytes:
    """Write an 8-bit BI_RLE8 BMP over a grayscale (i,i,i,0) palette so
    palette index == gray level. Encoded-mode runs (capped at 255) for
    repeats >= 3, absolute mode for literal stretches, EOL after every
    row, EOB at the end — the canonical GDI encoder shape."""
    if len(gray) != width * height:
        raise ValueError("pixel count != width*height")
    body = bytearray()
    for r in range(height - 1, -1, -1):       # bottom-up
        row = [v & 0xFF for v in gray[r * width:(r + 1) * width]]
        c = 0
        lit: list[int] = []

        def flush_lit() -> None:
            i = 0
            while i < len(lit):
                chunk = lit[i:i + 255]
                if len(chunk) >= 3:
                    body.append(0)
                    body.append(len(chunk))
                    body.extend(chunk)
                    if len(chunk) % 2:
                        body.append(0)        # word padding
                else:                          # too short for absolute mode
                    for v in chunk:
                        body.extend((1, v))
                i += 255
            lit.clear()

        while c < width:
            run = 1
            while c + run < width and row[c + run] == row[c] and run < 255:
                run += 1
            if run >= 3:
                flush_lit()
                body += bytes((run, row[c]))
            else:
                lit.extend(row[c:c + run])
            c += run
        flush_lit()
        body += b"\x00\x00"                   # end of line
    body += b"\x00\x01"                       # end of bitmap
    palette = b"".join(bytes((i, i, i, 0)) for i in range(256))
    off = 14 + 40 + len(palette)
    hdr = struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 8, 1,
                       len(body), 2835, 2835, 256, 0)
    return hdr + info + palette + body


def _decode_bmp8(data: bytes, off: int, hdr_size: int, width: int,
                 height: int, compression: int) -> tuple[int, int,
                                                         list[int]]:
    """8bpp BMP branch: palette walk + BI_RGB row copy or the BI_RLE8
    escape machine (encoded runs, EOL/EOB/delta, absolute mode with word
    padding). Pixels never written (skipped by EOL, delta or early EOB)
    hold palette index 0 per the GDI convention."""
    if height < 0 and compression == 1:
        raise ValueError("top-down BI_RLE8 is invalid")
    top_down = height < 0
    height = abs(height)
    n_colors = struct.unpack_from("<I", data, 46)[0] or 256
    pal_off = 14 + hdr_size
    if n_colors > 256 or pal_off + 4 * n_colors > min(off, len(data)):
        raise ValueError("truncated or missing 8bpp BMP palette")
    luma = [(data[pal_off + 4 * i + 2] * 299 + data[pal_off + 4 * i + 1]
             * 587 + data[pal_off + 4 * i] * 114 + 500) // 1000
            for i in range(n_colors)]
    idx = [0] * (width * height)              # bottom-up raster (y=0 bottom)
    if compression == 0:                      # uncompressed 8bpp
        stride = (width + 3) // 4 * 4
        for s in range(height):               # s = storage row order
            y = height - 1 - s if top_down else s
            base = off + s * stride
            for c in range(width):
                idx[y * width + c] = data[base + c]
    else:                                     # BI_RLE8
        x, y = 0, 0                           # y = 0 is the BOTTOM row
        pos = off
        while True:
            if pos + 2 > len(data):
                raise ValueError("truncated RLE8 stream")
            b0, b1 = data[pos], data[pos + 1]
            pos += 2
            if b0 > 0:                        # encoded run
                if y >= height or x + b0 > width:
                    raise ValueError("RLE8 run overflows row")
                for _ in range(b0):
                    idx[y * width + x] = b1
                    x += 1
            elif b1 == 0:                     # end of line
                x, y = 0, y + 1
            elif b1 == 1:                     # end of bitmap
                break
            elif b1 == 2:                     # delta
                if pos + 2 > len(data):
                    raise ValueError("truncated RLE8 delta")
                x += data[pos]
                y += data[pos + 1]
                pos += 2
                if x > width or y > height:
                    raise ValueError("RLE8 delta out of bounds")
            else:                             # absolute mode
                n = b1
                if pos + n > len(data):
                    raise ValueError("truncated RLE8 absolute run")
                if y >= height or x + n > width:
                    raise ValueError("RLE8 absolute run overflows row")
                for k in range(n):
                    idx[y * width + x] = data[pos + k]
                    x += 1
                pos += n + (n % 2)            # word padding
    for v in idx:
        if v >= n_colors:
            raise ValueError("palette index out of range")
    gray = [0] * (width * height)
    for disp_r in range(height):              # display order: row 0 = top
        src_y = height - 1 - disp_r           # idx is normalized bottom-up
        for c in range(width):
            gray[disp_r * width + c] = luma[idx[src_y * width + c]]
    return width, height, gray


def image_features(data: bytes) -> list[float]:
    w, h, gray = decode_image(data)
    resized = [gray[(i * h // RESIZE_N) * w + (j * w // RESIZE_N)]
               for i in range(RESIZE_N) for j in range(RESIZE_N)]
    return [float(x) for x in
            (w, h, min(gray), max(gray), sum(gray), *resized)]


# ----------------------------------------------------------- PNG (grayscale 8)

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))


def encode_png(gray: list[int], width: int, height: int) -> bytes:
    """Write a real compressed PNG: 8-bit grayscale (color type 0), no
    interlace. Scanline ``r`` is filtered with type ``r % 5``, so decoding
    a multi-row image must reconstruct through ALL five PNG filters
    (None/Sub/Up/Average/Paeth) — the decoder can't shortcut. IDAT is
    split in two chunks because real encoders emit multiple IDATs and a
    correct reader must concatenate before inflating."""
    if len(gray) != width * height:
        raise ValueError("pixel count != width*height")
    raw = bytearray()
    prior = bytes(width)
    for r in range(height):
        row = bytes(gray[r * width:(r + 1) * width])
        f = r % 5
        raw.append(f)
        for i in range(width):
            a = row[i - 1] if i else 0
            b, c = prior[i], (prior[i - 1] if i else 0)
            x = row[i]
            if f == 0:
                v = x
            elif f == 1:
                v = x - a
            elif f == 2:
                v = x - b
            elif f == 3:
                v = x - (a + b) // 2
            else:
                v = x - _paeth(a, b, c)
            raw.append(v & 0xFF)
        prior = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    comp = zlib.compress(bytes(raw), 6)
    mid = max(1, len(comp) // 2)
    return (PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", comp[:mid])
            + _png_chunk(b"IDAT", comp[mid:])
            + _png_chunk(b"IEND", b""))


def decode_png(data: bytes) -> tuple[int, int, list[int]]:
    """Parse an 8-bit grayscale non-interlaced PNG -> (width, height, gray
    raster, row 0 = top): chunk walk, IDAT concatenation, zlib inflate,
    and per-scanline reconstruction of all five filter types."""
    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, width, height = 8, None, None
    idat = bytearray()
    while pos + 8 <= len(data):
        ln, tag = struct.unpack_from(">I4s", data, pos)
        body = data[pos + 8:pos + 8 + ln]
        pos += 12 + ln  # length + tag + body + CRC
        if tag == b"IHDR":
            width, height, depth, color, comp_m, filt_m, il = (
                struct.unpack(">IIBBBBB", body))
            if (depth, color, comp_m, filt_m, il) != (8, 0, 0, 0, 0):
                raise ValueError(
                    f"unsupported PNG: depth={depth} color={color} "
                    f"interlace={il} (gray8 non-interlaced only)")
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    if len(raw) != (width + 1) * height:
        raise ValueError("PNG pixel data size mismatch")
    gray: list[int] = [0] * (width * height)
    prior = bytes(width)
    for r in range(height):
        f = raw[r * (width + 1)]
        line = raw[r * (width + 1) + 1:(r + 1) * (width + 1)]
        rec = bytearray(width)
        for i in range(width):
            a = rec[i - 1] if i else 0
            b, c = prior[i], (prior[i - 1] if i else 0)
            x = line[i]
            if f == 0:
                v = x
            elif f == 1:
                v = x + a
            elif f == 2:
                v = x + b
            elif f == 3:
                v = x + (a + b) // 2
            elif f == 4:
                v = x + _paeth(a, b, c)
            else:
                raise ValueError(f"bad PNG filter type {f}")
            rec[i] = v & 0xFF
        gray[r * width:(r + 1) * width] = rec
        prior = bytes(rec)
    return width, height, gray


def decode_image(data: bytes) -> tuple[int, int, list[int]]:
    """Magic-byte dispatch over the still-image decoders."""
    if data[:2] == b"BM":
        return decode_bmp(data)
    if data[:8] == PNG_SIG:
        return decode_png(data)
    raise ValueError("unsupported image container (BMP / gray8 PNG)")


# --------------------------------------------------- AVI (uncompressed 'DIB ')

def _iter_riff(data: bytes, pos: int, end: int):
    """Yield (tag, body_start, body_len) over a RIFF chunk run; chunks are
    word-aligned (odd sizes carry a pad byte)."""
    while pos + 8 <= end:
        tag = data[pos:pos + 4]
        ln = struct.unpack_from("<I", data, pos + 4)[0]
        yield tag, pos + 8, ln
        pos += 8 + ln + (ln & 1)


def encode_avi(frames: list[list[int]], width: int, height: int,
               fps: int = 10) -> bytes:
    """Write a minimal standards-shaped uncompressed AVI: RIFF('AVI ') with
    a LIST('hdrl') carrying avih + LIST('strl'){strh('vids'/'DIB '), strf
    (BITMAPINFOHEADER, 24bpp, BI_RGB)} and a LIST('movi') of one '00db'
    chunk per frame (same DIB pixel array a BMP carries)."""
    if not frames:
        raise ValueError("AVI needs at least one frame")
    bodies = [_pack_dib(f, width, height) for f in frames]
    frame_size = len(bodies[0])
    us_per_frame = 1_000_000 // fps
    avih = struct.pack("<14I", us_per_frame, frame_size * fps, 0, 0x10,
                       len(frames), 0, 1, frame_size, width, height,
                       0, 0, 0, 0)
    strh = (b"vids" + b"DIB " + struct.pack("<IHHIIIIIIII4H", 0, 0, 0, 0,
                                            1, fps, 0, len(frames),
                                            frame_size, 0xFFFFFFFF, 0,
                                            0, 0, width, height))
    strf = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                       frame_size, 2835, 2835, 0, 0)
    strl = b"LIST" + struct.pack("<I", 4 + 8 + len(strh) + 8 + len(strf)) \
        + b"strl" + b"strh" + struct.pack("<I", len(strh)) + strh \
        + b"strf" + struct.pack("<I", len(strf)) + strf
    hdrl_body = (b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih
                 + strl)
    hdrl = b"LIST" + struct.pack("<I", len(hdrl_body)) + hdrl_body
    movi_body = bytearray(b"movi")
    for b in bodies:
        movi_body += b"00db" + struct.pack("<I", len(b)) + b
        if len(b) & 1:
            movi_body += b"\x00"
    movi = b"LIST" + struct.pack("<I", len(movi_body)) + bytes(movi_body)
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def decode_avi(data: bytes) -> tuple[int, int, list[list[int]]]:
    """Demux an AVI -> (width, height, frames as gray rasters): RIFF walk,
    BITMAPINFOHEADER from LIST hdrl/strl/strf, frames from the LIST movi
    '00db'/'00dc' chunks. Uncompressed 24-bit DIB only (biCompression=0,
    fixed-stride BGR frames); any compressed stream is rejected."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    riff_len = struct.unpack_from("<I", data, 4)[0]
    end = min(len(data), 8 + riff_len)
    width = height = None
    frames: list[list[int]] = []
    frame_chunks: list[tuple[int, int]] = []
    for tag, body, ln in _iter_riff(data, 12, end):
        if tag != b"LIST":
            continue
        list_type = data[body:body + 4]
        if list_type == b"hdrl":
            for t2, b2, l2 in _iter_riff(data, body + 4, body + ln):
                if t2 == b"LIST" and data[b2:b2 + 4] == b"strl":
                    for t3, b3, l3 in _iter_riff(data, b2 + 4, b2 + l2):
                        if t3 == b"strf":
                            (_, width, height, _, bpp, comp) = (
                                struct.unpack_from("<IiiHHI", data, b3))
                            if comp != 0:
                                raise ValueError(
                                    "unsupported AVI stream: "
                                    f"compression={comp:#x} (DIB only)")
                            if bpp != 24:
                                raise ValueError(
                                    f"unsupported DIB AVI: bpp={bpp}")
        elif list_type == b"movi":
            for t2, b2, l2 in _iter_riff(data, body + 4, body + ln):
                if t2 in (b"00db", b"00dc"):
                    frame_chunks.append((b2, l2))
    if width is None:
        raise ValueError("AVI missing strf header")
    if height < 0:
        raise ValueError("top-down AVI frames unsupported")
    for b2, l2 in frame_chunks:
        if l2 != _dib_stride(width) * height:
            raise ValueError("AVI frame chunk size mismatch")
        frames.append(_unpack_dib(data, b2, width, height))
    return width, height, frames


def frame_features(data: bytes, every_n: int = 1) -> list[tuple[int, list[float]]]:
    """Demux + sample every ``every_n``-th frame -> per-frame feature rows
    (frame_idx, [w, h, min, max, sum] + 4x4 nearest-neighbor resize) — the
    same feature contract as still images, per sampled frame, over an
    uncompressed-DIB AVI."""
    w, h, frames = decode_avi(data)
    out = []
    for k in range(0, len(frames), every_n):
        gray = frames[k]
        resized = [gray[(i * h // RESIZE_N) * w + (j * w // RESIZE_N)]
                   for i in range(RESIZE_N) for j in range(RESIZE_N)]
        out.append((k, [float(x) for x in
                        (w, h, min(gray), max(gray), sum(gray), *resized)]))
    return out


def video_features(data: bytes) -> list[float]:
    """Whole-clip summary vector: [w, h, n_frames, min, max, sum] over all
    frames' pixels."""
    w, h, frames = decode_avi(data)
    allpx = [v for f in frames for v in f]
    return [float(x) for x in
            (w, h, len(frames), min(allpx), max(allpx), sum(allpx))]


# --------------------------------------------------------------- WAV (PCM16)

def encode_wav(samples: list[int], rate: int = 8000,
               sampwidth: int = 2, channels: int = 1) -> bytes:
    """PCM WAV writer over the real-world linear-PCM variants: 16-bit
    signed (the default), 8-bit unsigned (PCM16 input quantized to the
    top byte + 0x80 bias, the WAV u8 convention) and 24-bit signed LE.
    ``channels=2`` duplicates the mono input into both channels
    (interleaved frames) — the round-trip partner of the decoder's
    stereo downmix."""
    if sampwidth not in (1, 2, 3) or channels not in (1, 2):
        raise ValueError(f"unsupported layout: sampwidth={sampwidth} "
                         f"channels={channels}")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(sampwidth)
        w.setframerate(rate)
        inter = [s for s in samples for _ in range(channels)]
        if sampwidth == 1:
            w.writeframes(bytes(((s >> 8) + 128) & 0xFF for s in inter))
        elif sampwidth == 2:
            w.writeframes(struct.pack(f"<{len(inter)}h", *inter))
        else:
            w.writeframes(b"".join(
                int(s).to_bytes(3, "little", signed=True) for s in inter))
    return buf.getvalue()


def decode_wav(data: bytes) -> tuple[int, list[int]]:
    """Parse linear-PCM WAV -> (sample_rate, samples): 8-bit unsigned
    (expanded to centered PCM16, (v-128)<<8), 16-bit signed, or 24-bit
    signed LE; mono, or stereo downmixed to mono by the per-frame floor
    mean ((l + r) // 2)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    try:
        with wave.open(io.BytesIO(data), "rb") as w:
            ch, sw = w.getnchannels(), w.getsampwidth()
            rate, n = w.getframerate(), w.getnframes()
            raw = w.readframes(n)
    except (wave.Error, EOFError) as e:
        # the stdlib reader's own error type is not a ValueError; every
        # other decoder here rejects bad input with one
        raise ValueError(
            f"malformed or non-PCM WAV: {e or 'truncated header'}") from e
    if ch not in (1, 2) or sw not in (1, 2, 3):
        raise ValueError("unsupported WAV layout")
    if len(raw) != n * ch * sw:
        raise ValueError("truncated WAV data chunk")
    if sw == 1:
        flat = [(b - 128) << 8 for b in raw]
    elif sw == 2:
        flat = list(struct.unpack(f"<{n * ch}h", raw))
    else:
        flat = [int.from_bytes(raw[3 * i:3 * i + 3], "little", signed=True)
                for i in range(n * ch)]
    if ch == 2:
        flat = [(flat[2 * i] + flat[2 * i + 1]) // 2 for i in range(n)]
    return rate, flat


def audio_features(data: bytes) -> list[float]:
    rate, s = decode_audio(data)
    head = (s + [0] * _N_SAMPLES_FEAT)[:_N_SAMPLES_FEAT]
    return [float(x) for x in
            (rate, len(s), min(s), max(s), sum(abs(v) for v in s), *head)]


def decode_audio(data: bytes) -> tuple[int, list[int]]:
    """WAV dispatch on wFormatTag: only 0x0001 (linear PCM) is decoded;
    any other tag (IEEE float, ADPCM, G.711, ...) is rejected loudly."""
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        for tag, off, _size in _iter_riff(data, 12, min(len(data), 64)):
            if tag == b"fmt ":
                fmt_tag = struct.unpack("<H", data[off:off + 2])[0]
                if fmt_tag != 0x0001:
                    raise ValueError(
                        f"unsupported WAV format tag {fmt_tag:#06x} "
                        "(linear PCM only)")
                break
    return decode_wav(data)


def real_features(data: bytes) -> list[float]:
    """Magic-byte dispatch for the real decode seam."""
    if data[:2] == b"BM" or data[:8] == PNG_SIG:
        return image_features(data)
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return audio_features(data)
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        return video_features(data)
    raise ValueError("unsupported media container (BMP, gray8 PNG, "
                     "PCM 8/16/24-bit WAV and uncompressed-DIB AVI are the "
                     "decoders available without optional codec deps)")


def synth_payload(doc_id: int, text: str) -> tuple[str, bytes]:
    """Deterministic real-container payload from a document row (the gate's
    input builder, mirrored closed-form by the media_features_real oracle):
    even doc_id -> 8x4 gray BMP, odd -> 16-sample PCM16 WAV @8kHz, pixel /
    sample material = md5_expand(text, 32)."""
    b = md5_expand(text, 32)
    if doc_id % 2 == 0:
        return "image", encode_bmp(list(b), 8, 4)
    samples = [b[2 * k] * 256 + b[2 * k + 1] - 32768 for k in range(16)]
    return "audio", encode_wav(samples, 8000)


PNG_DIM = 8       # synth PNG / RLE8 BMP: 8x8 gray (64 bytes = 4 md5 blocks)
AVI_FRAMES = 4    # synth AVI: 4 frames of 8x4
AVI_W, AVI_H = 8, 4


def synth_png_payload(text: str) -> bytes:
    """Deterministic PNG payload (gate input builder, mirrored closed-form
    by the media_features_png oracle): 8x8 gray8 PNG whose raster is
    md5_expand(text, 64). With 8 scanlines every PNG filter type (r % 5)
    is exercised on every payload."""
    return encode_png(list(md5_expand(text, PNG_DIM * PNG_DIM)),
                      PNG_DIM, PNG_DIM)


def synth_rle8_payload(text: str) -> bytes:
    """Deterministic BI_RLE8 BMP payload (gate input builder, mirrored
    closed-form by the media_features_rle8 oracle): the same 8x8 raster
    as :func:`synth_png_payload`, md5_expand(text, 64), over the grayscale
    palette. RLE8 is lossless, so the oracle recomputes the decoded pixels
    straight from the md5 bytes (the PNG gate's closed form); the decoder
    still runs the full real path (header/palette walk, escape machine,
    absolute-mode word padding, bottom-up reorder)."""
    return encode_bmp_rle8(list(md5_expand(text, PNG_DIM * PNG_DIM)),
                           PNG_DIM, PNG_DIM)


def synth_avi_payload(text: str) -> bytes:
    """Deterministic AVI payload (gate input builder, mirrored closed-form
    by the media_frames_avi oracle): AVI_FRAMES frames of 8x4 gray, frame
    k's raster = md5_expand(text + '#f' + k, 32)."""
    frames = [list(md5_expand(f"{text}#f{k}", AVI_W * AVI_H))
              for k in range(AVI_FRAMES)]
    return encode_avi(frames, AVI_W, AVI_H)
