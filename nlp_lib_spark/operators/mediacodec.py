"""Pure-stdlib/numpy media codecs for the ``mode="real"`` decode path.

The container has no PIL/librosa/pyav (verified at round-3 start, recorded
in BASELINE.md), but four real, widely-used container formats ARE decodable
with what IS baked in: uncompressed 24-bit BMP (struct parsing), gray8 PNG
(stdlib ``zlib`` inflate + full five-filter scanline reconstruction),
linear-PCM WAV (stdlib ``wave``; 8/16/24-bit, stereo downmix), and
uncompressed-DIB AVI (RIFF chunk walk +
per-frame DIB decode — a genuine video demuxer, so frame sampling is a
real operation, not a stub). This module provides symmetric
encoders/decoders so the ``extract_media_features(mode="real")`` seam
(operators/multimodal.py) performs a genuine decode — magic-byte dispatch,
header parsing, row-padding/bottom-up handling, filter reconstruction,
sample extraction — rather than a stub. Compressed video codecs (H.264
etc.) remain out of scope: no stdlib decoder exists.

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
    if data[:2] == b"\xff\xd8":
        return decode_jpeg(data)
    if data[:4] == b"GIF8":
        return decode_gif(data)
    raise ValueError(
        "unsupported image container (BMP / gray8 PNG / GIF / JPEG)")


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


_MJPG_FOURCC = struct.unpack("<I", b"MJPG")[0]


def decode_avi(data: bytes) -> tuple[int, int, list[list[int]]]:
    """Demux an AVI -> (width, height, frames as gray rasters): RIFF walk,
    BITMAPINFOHEADER from LIST hdrl/strl/strf, frames from the LIST movi
    '00db'/'00dc' chunks. Two video formats: uncompressed DIB
    (biCompression=0, fixed-stride BGR frames) and Motion-JPEG
    (biCompression='MJPG', each frame chunk a complete baseline JPEG
    decoded via :func:`decode_jpeg` — a real compressed-video path)."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    riff_len = struct.unpack_from("<I", data, 4)[0]
    end = min(len(data), 8 + riff_len)
    width = height = None
    comp = 0
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
                            if comp == 0 and bpp != 24:
                                raise ValueError(
                                    f"unsupported DIB AVI: bpp={bpp}")
                            if comp not in (0, _MJPG_FOURCC):
                                raise ValueError(
                                    "unsupported AVI stream: "
                                    f"compression={comp:#x} (DIB / MJPG)")
        elif list_type == b"movi":
            for t2, b2, l2 in _iter_riff(data, body + 4, body + ln):
                if t2 in (b"00db", b"00dc"):
                    frame_chunks.append((b2, l2))
    if width is None:
        raise ValueError("AVI missing strf header")
    if height < 0:
        raise ValueError("top-down AVI frames unsupported")
    for b2, l2 in frame_chunks:
        if comp == _MJPG_FOURCC:
            fw, fh, gray = decode_jpeg(data[b2:b2 + l2])
            if (fw, fh) != (width, height):
                raise ValueError("MJPG frame dims disagree with strf")
            frames.append(gray)
        else:
            if l2 != _dib_stride(width) * height:
                raise ValueError("AVI frame chunk size mismatch")
            frames.append(_unpack_dib(data, b2, width, height))
    return width, height, frames


def encode_mjpeg_avi(frames: list[list[int]], width: int, height: int,
                     fps: int = 10) -> bytes:
    """Write a Motion-JPEG AVI: same RIFF/hdrl/movi layout as
    :func:`encode_avi` but strh/strf declare 'MJPG' and every '00dc'
    chunk is a complete baseline JPEG (variable-size frames — the reader
    cannot assume a fixed stride)."""
    if not frames:
        raise ValueError("AVI needs at least one frame")
    bodies = [encode_jpeg(f, width, height) for f in frames]
    frame_size = max(len(b) for b in bodies)
    us_per_frame = 1_000_000 // fps
    avih = struct.pack("<14I", us_per_frame, frame_size * fps, 0, 0x10,
                       len(frames), 0, 1, frame_size, width, height,
                       0, 0, 0, 0)
    strh = (b"vids" + b"MJPG" + struct.pack("<IHHIIIIIIII4H", 0, 0, 0, 0,
                                            1, fps, 0, len(frames),
                                            frame_size, 0xFFFFFFFF, 0,
                                            0, 0, width, height))
    strf = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24,
                       _MJPG_FOURCC, frame_size, 2835, 2835, 0, 0)
    strl = b"LIST" + struct.pack("<I", 4 + 8 + len(strh) + 8 + len(strf)) \
        + b"strl" + b"strh" + struct.pack("<I", len(strh)) + strh \
        + b"strf" + struct.pack("<I", len(strf)) + strf
    hdrl_body = (b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih
                 + strl)
    hdrl = b"LIST" + struct.pack("<I", len(hdrl_body)) + hdrl_body
    movi_body = bytearray(b"movi")
    for b in bodies:
        movi_body += b"00dc" + struct.pack("<I", len(b)) + b
        if len(b) & 1:
            movi_body += b"\x00"
    movi = b"LIST" + struct.pack("<I", len(movi_body)) + bytes(movi_body)
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def frame_features(data: bytes, every_n: int = 1) -> list[tuple[int, list[float]]]:
    """Demux + sample every ``every_n``-th frame -> per-frame feature rows
    (frame_idx, [w, h, min, max, sum] + 4x4 nearest-neighbor resize) — the
    same feature contract as still images, per sampled frame. Container
    dispatch by magic: RIFF AVI (DIB / Motion-JPEG) or animated GIF."""
    if data[:4] == b"GIF8":
        w, h, frames = decode_gif_anim(data)
    else:
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
    with wave.open(io.BytesIO(data), "rb") as w:
        ch, sw = w.getnchannels(), w.getsampwidth()
        if ch not in (1, 2) or sw not in (1, 2, 3):
            raise ValueError("unsupported WAV layout")
        n = w.getnframes()
        raw = w.readframes(n)
        if sw == 1:
            flat = [(b - 128) << 8 for b in raw]
        elif sw == 2:
            flat = list(struct.unpack(f"<{n * ch}h", raw))
        else:
            flat = [int.from_bytes(raw[3 * i:3 * i + 3], "little",
                                   signed=True) for i in range(n * ch)]
        if ch == 2:
            flat = [(flat[2 * i] + flat[2 * i + 1]) // 2 for i in range(n)]
        return w.getframerate(), flat


def audio_features(data: bytes) -> list[float]:
    rate, s = decode_audio(data)
    head = (s + [0] * _N_SAMPLES_FEAT)[:_N_SAMPLES_FEAT]
    return [float(x) for x in
            (rate, len(s), min(s), max(s), sum(abs(v) for v in s), *head)]


# --------------------------------------------- IMA ADPCM WAV (format 0x0011)
# A real compressed-audio codec (VERDICT r4 stretch item 7): IMA/DVI
# ADPCM, the 4-bit differential format WAV carries as wFormatTag 0x0011.
# Pure stdlib — the ``wave`` module refuses compressed formats, so the
# decoder walks RIFF chunks itself (fmt parse, fact skip, per-block
# header + low-nibble-first data). The encoder quantizes real samples
# through the same step machine, so pytest round-trips it; the gate
# corpus instead BUILDS blocks whose nibble stream is the md5 hex digits
# of the document text, making the decoded samples a closed-form
# function the DuckDB oracle replays with a recursive CTE over the same
# step/index tables (the flat-block-JPEG trick, applied to audio).

IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
IMA_INDEX_ADJ = (-1, -1, -1, -1, 2, 4, 6, 8)


def _ima_decode_nibble(n: int, pred: int, idx: int) -> tuple[int, int]:
    """One IMA step: (nibble, state) -> (new predicted sample, new index).
    The canonical bit-exact integer form (IMA ADPCM reference algorithm;
    diff = (step >> 3) + conditional step>>2 / step>>1 / step terms)."""
    step = IMA_STEPS[idx]
    diff = step >> 3
    if n & 1:
        diff += step >> 2
    if n & 2:
        diff += step >> 1
    if n & 4:
        diff += step
    pred = pred - diff if n & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + IMA_INDEX_ADJ[n & 7]))
    return pred, idx


def _ima_encode_sample(s: int, pred: int, idx: int) -> int:
    """Choose the nibble whose decode lands nearest ``s`` (the standard
    IMA quantizer: sign bit + greedy magnitude bits against the step)."""
    step = IMA_STEPS[idx]
    delta = s - pred
    n = 0
    if delta < 0:
        n = 8
        delta = -delta
    if delta >= step:
        n |= 4
        delta -= step
    if delta >= step >> 1:
        n |= 2
        delta -= step >> 1
    if delta >= step >> 2:
        n |= 1
    return n


def encode_wav_ima(samples: list[int], rate: int = 8000) -> bytes:
    """PCM16 samples -> single-block IMA-ADPCM WAV (mono). Sample 0 seeds
    the block header predictor verbatim; the rest quantize to 4-bit
    nibbles (padded to an even count), packed low-nibble-first."""
    if not samples:
        raise ValueError("empty sample list")
    pred, idx = samples[0], 0
    nibbles = []
    for s in samples[1:]:
        n = _ima_encode_sample(s, pred, idx)
        pred, idx = _ima_decode_nibble(n, pred, idx)
        nibbles.append(n)
    if len(nibbles) % 2:
        nibbles.append(0)
    return build_wav_ima_block(samples[0], 0, nibbles, rate)


def build_wav_ima_block(pred0: int, idx0: int, nibbles: list[int],
                        rate: int = 8000) -> bytes:
    """Assemble a mono IMA-ADPCM WAV holding ONE block with the given
    header state and nibble stream (the gate's synthetic payload path —
    the nibbles come straight from md5 hex digits there)."""
    if len(nibbles) % 2:
        raise ValueError("nibble count must be even (2 per data byte)")
    data = bytes(nibbles[2 * j] | (nibbles[2 * j + 1] << 4)
                 for j in range(len(nibbles) // 2))
    block = struct.pack("<hBB", pred0, idx0, 0) + data
    samples_per_block = len(nibbles) + 1
    block_align = 4 + len(data)
    fmt = struct.pack("<HHIIHHHH", 0x0011, 1, rate,
                      rate * block_align // samples_per_block,
                      block_align, 4, 2, samples_per_block)
    fact = struct.pack("<I", samples_per_block)
    body = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"fact" + struct.pack("<I", len(fact)) + fact
            + b"data" + struct.pack("<I", len(block)) + block)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def decode_wav_ima(data: bytes) -> tuple[int, list[int]]:
    """Parse + decode a mono IMA-ADPCM WAV -> (rate, samples). Sample 0
    of each block is the header predictor; each nibble (low first) then
    emits one sample through the reference step machine."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    rate = block_align = None
    blocks = None
    for tag, off, size in _iter_riff(data, 12, 8 + struct.unpack(
            "<I", data[4:8])[0]):
        if tag == b"fmt ":
            (fmt_tag, channels, rate, _br, block_align,
             bits) = struct.unpack("<HHIIHH", data[off:off + 16])
            if fmt_tag != 0x0011 or channels != 1 or bits != 4:
                raise ValueError("unsupported ADPCM WAV layout")
        elif tag == b"data":
            blocks = data[off:off + size]
    if rate is None or blocks is None:
        raise ValueError("missing fmt/data chunk")
    samples: list[int] = []
    for b0 in range(0, len(blocks), block_align):
        block = blocks[b0:b0 + block_align]
        pred, idx = struct.unpack("<hB", block[:3])[0], block[2]
        if idx > 88:
            raise ValueError("corrupt block header (step index > 88)")
        samples.append(pred)
        for byte in block[4:]:
            for n in (byte & 0x0F, byte >> 4):
                pred, idx = _ima_decode_nibble(n, pred, idx)
                samples.append(pred)
    return rate, samples


# ------------------------------------------- G.711 µ-law / A-law WAV (6/7)
# The ITU-T G.711 companded telephony codecs WAV carries as wFormatTag
# 0x0006 (A-law) / 0x0007 (µ-law): 8 bits per sample, sign + 3-bit segment
# + 4-bit mantissa, expanded by the canonical integer formulas (CCITT
# reference code shape — bias 0x84 for µ-law, the 0x55 toggle + segment
# switch for A-law). The stdlib ``wave`` module refuses compressed
# formats, so the decoder walks RIFF chunks itself like the IMA path.
# The gate corpus builds payloads whose 8-bit code stream IS the md5
# expansion of the document text, so the decoded samples are a pure
# integer function of the md5 bytes that the DuckDB oracle recomputes
# closed-form; the true sample ENCODER (nearest-codeword quantizer) is
# certified by the pytest round-trip + code-idempotence suite.

def g711_ulaw_to_linear(b: int) -> int:
    """One µ-law byte -> PCM16 sample (CCITT ulaw2linear, bias 0x84)."""
    u = ~b & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
    return (0x84 - t) if u & 0x80 else (t - 0x84)


def g711_alaw_to_linear(b: int) -> int:
    """One A-law byte -> PCM16 sample (CCITT alaw2linear, 0x55 toggle)."""
    a = b ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if a & 0x80 else -t


_G711_TABLES: dict[str, list[int]] = {}


def _g711_table(law: str) -> list[int]:
    if law not in _G711_TABLES:
        fn = {"ulaw": g711_ulaw_to_linear,
              "alaw": g711_alaw_to_linear}[law]
        _G711_TABLES[law] = [fn(b) for b in range(256)]
    return _G711_TABLES[law]


G711_TAGS = {"alaw": 0x0006, "ulaw": 0x0007}


def build_wav_g711(codes: bytes, law: str = "ulaw",
                   rate: int = 8000) -> bytes:
    """Assemble a mono G.711 WAV around the given 8-bit code stream (the
    gate's synthetic payload path — the codes come straight from
    md5_expand there). 18-byte fmt (cbSize=0) + fact chunk per the spec
    for non-PCM formats."""
    fmt = struct.pack("<HHIIHHH", G711_TAGS[law], 1, rate, rate, 1, 8, 0)
    fact = struct.pack("<I", len(codes))
    body = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"fact" + struct.pack("<I", len(fact)) + fact
            + b"data" + struct.pack("<I", len(codes)) + codes)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def encode_wav_g711(samples: list[int], law: str = "ulaw",
                    rate: int = 8000) -> bytes:
    """PCM16 samples -> G.711 WAV via the optimal quantizer: each sample
    takes the code whose expansion is nearest (ties to the smaller code),
    which makes encode(decode(code)) == code for every code whose
    expansion is unique — the idempotence property the pytest suite
    pins."""
    tab = _g711_table(law)
    order = sorted(range(256), key=lambda b: (tab[b], b))
    vals = [tab[b] for b in order]
    import bisect
    out = bytearray()
    for s in samples:
        i = bisect.bisect_left(vals, s)
        best = None
        for j in (i - 1, i, i + 1):
            if 0 <= j < 256:
                cand = (abs(vals[j] - s), order[j])
                if best is None or cand < best:
                    best = cand
        out.append(best[1])
    return build_wav_g711(bytes(out), law, rate)


def decode_wav_g711(data: bytes) -> tuple[int, list[int]]:
    """Parse + expand a mono G.711 WAV -> (rate, PCM16 samples)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    rate = tag_fmt = codes = None
    for tag, off, size in _iter_riff(data, 12, 8 + struct.unpack(
            "<I", data[4:8])[0]):
        if tag == b"fmt ":
            (tag_fmt, channels, rate, _br, _ba,
             bits) = struct.unpack("<HHIIHH", data[off:off + 16])
            if tag_fmt not in (0x0006, 0x0007) or channels != 1 or bits != 8:
                raise ValueError("unsupported G.711 WAV layout")
        elif tag == b"data":
            codes = data[off:off + size]
    if rate is None or codes is None:
        raise ValueError("missing fmt/data chunk")
    tab = _g711_table("alaw" if tag_fmt == 0x0006 else "ulaw")
    return rate, [tab[b] for b in codes]


# --------------------------------------------- MS ADPCM WAV (format 0x0002)
# The OTHER classic 4-bit WAV ADPCM (wFormatTag 0x0002, Microsoft's own):
# unlike IMA's fixed step table, MS-ADPCM predicts each sample from the
# previous TWO through one of seven coefficient pairs chosen per block,
# then adapts a per-block delta through a 16-entry multiplier table
# ("Multimedia Data Standards Update" pseudocode; same algorithm ffmpeg's
# adpcm_ms implements). The spec's arithmetic is C signed division, which
# TRUNCATES toward zero — Python's // floors, so the predictor division
# is spelled out; DuckDB's // truncates like C, so the gate oracle can
# use it directly (two different spellings of the same arithmetic).
# Reference NLP-Lib is text-only Java with no media path (SURVEY §2);
# this implements the engine's multimodal contract like the IMA/G.711
# decoders above it.

MS_ADAPT = (230, 230, 230, 230, 307, 409, 512, 614,
            768, 614, 512, 409, 307, 230, 230, 230)
MS_COEF1 = (256, 512, 0, 192, 240, 460, 392)
MS_COEF2 = (0, -256, 0, 64, 0, -208, -232)


def _trunc_div_256(a: int) -> int:
    # C-style signed-division semantics for the spec's `/ 256`
    return -((-a) >> 8) if a < 0 else a >> 8


def _ms_decode_nibble(n: int, s1: int, s2: int, delta: int,
                      c1: int, c2: int) -> tuple[int, int]:
    """One MS-ADPCM step: predict from the two prior samples through the
    block's coefficient pair, add the signed-nibble error scaled by the
    current delta, clamp, then adapt delta (floor 16)."""
    pred = _trunc_div_256(s1 * c1 + s2 * c2)
    signed = n - 16 if n >= 8 else n
    pred = max(-32768, min(32767, pred + signed * delta))
    delta = (MS_ADAPT[n] * delta) >> 8
    if delta < 16:
        delta = 16
    return pred, delta


def build_wav_msadpcm_block(pred_idx: int, delta0: int, s1: int, s2: int,
                            nibbles: list[int], rate: int = 8000) -> bytes:
    """Assemble a mono MS-ADPCM WAV holding ONE block with the given
    7-byte header (predictor index, initial delta, the two seed samples)
    and nibble stream, HIGH nibble first per the spec (the gate's
    synthetic payload path — the nibbles come straight from md5 hex
    digits there). The fmt chunk carries the canonical 7-pair coefficient
    table in its extra bytes as the spec requires."""
    if not 0 <= pred_idx < 7:
        raise ValueError("predictor index out of 0..6")
    if len(nibbles) % 2:
        raise ValueError("nibble count must be even (2 per data byte)")
    data = bytes((nibbles[2 * j] << 4) | nibbles[2 * j + 1]
                 for j in range(len(nibbles) // 2))
    block = struct.pack("<Bhhh", pred_idx, delta0, s1, s2) + data
    samples_per_block = len(nibbles) + 2
    block_align = 7 + len(data)
    coefs = b"".join(struct.pack("<hh", MS_COEF1[i], MS_COEF2[i])
                     for i in range(7))
    fmt = struct.pack("<HHIIHHHHH", 0x0002, 1, rate,
                      rate * block_align // samples_per_block,
                      block_align, 4, 4 + len(coefs),
                      samples_per_block, 7) + coefs
    fact = struct.pack("<I", samples_per_block)
    body = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"fact" + struct.pack("<I", len(fact)) + fact
            + b"data" + struct.pack("<I", len(block)) + block)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def decode_wav_msadpcm(data: bytes) -> tuple[int, list[int]]:
    """Parse + decode a mono MS-ADPCM WAV -> (rate, samples). Each block
    emits its two header seed samples (older first), then one sample per
    nibble, high nibble first, through the coefficient pair the header's
    predictor index selects from the fmt chunk's table."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    rate = block_align = None
    coefs = None
    blocks = None
    for tag, off, size in _iter_riff(data, 12, 8 + struct.unpack(
            "<I", data[4:8])[0]):
        if tag == b"fmt ":
            (fmt_tag, channels, rate, _br, block_align,
             bits) = struct.unpack("<HHIIHH", data[off:off + 16])
            if fmt_tag != 0x0002 or channels != 1 or bits != 4:
                raise ValueError("unsupported MS-ADPCM WAV layout")
            n_coef = struct.unpack("<H", data[off + 20:off + 22])[0]
            coefs = [struct.unpack("<hh", data[off + 22 + 4 * i:
                                              off + 26 + 4 * i])
                     for i in range(n_coef)]
        elif tag == b"data":
            blocks = data[off:off + size]
    if rate is None or blocks is None or coefs is None:
        raise ValueError("missing fmt/data chunk")
    samples: list[int] = []
    for b0 in range(0, len(blocks), block_align):
        block = blocks[b0:b0 + block_align]
        pred_idx, delta, s1, s2 = struct.unpack("<Bhhh", block[:7])
        if pred_idx >= len(coefs):
            raise ValueError("corrupt block header (predictor index)")
        c1, c2 = coefs[pred_idx]
        samples.append(s2)
        samples.append(s1)
        for byte in block[7:]:
            for n in (byte >> 4, byte & 0x0F):
                pred, delta = _ms_decode_nibble(n, s1, s2, delta, c1, c2)
                s2, s1 = s1, pred
                samples.append(pred)
    return rate, samples


def encode_wav_msadpcm(samples: list[int], rate: int = 8000) -> bytes:
    """PCM16 -> single-block mono MS-ADPCM WAV. Predictor selection is
    the spec's shape (score all seven coefficient pairs on ideal
    prediction error, keep the best), the initial delta seeds from the
    mean residual, then each sample quantizes greedily while tracking the
    DECODER's state — so decode(encode(x)) equals the encoder's own
    simulation exactly (the property pytest pins), and tracks x within
    quantizer error."""
    if len(samples) < 2:
        raise ValueError("need at least 2 samples")
    best = None
    for idx in range(7):
        c1, c2 = MS_COEF1[idx], MS_COEF2[idx]
        a1, a2 = samples[1], samples[0]
        err = 0
        for s in samples[2:]:
            err += abs(s - _trunc_div_256(a1 * c1 + a2 * c2))
            a2, a1 = a1, s
        if best is None or err < best[0]:
            best = (err, idx)
    pred_idx = best[1]
    c1, c2 = MS_COEF1[pred_idx], MS_COEF2[pred_idx]
    n_rest = max(1, len(samples) - 2)
    delta0 = max(16, min(32767, best[0] // (4 * n_rest)))
    s2, s1, delta = samples[0], samples[1], delta0
    nibbles = []
    for s in samples[2:]:
        pred = _trunc_div_256(s1 * c1 + s2 * c2)
        n = max(-8, min(7, (s - pred) // delta)) & 0x0F
        dec, delta = _ms_decode_nibble(n, s1, s2, delta, c1, c2)
        s2, s1 = s1, dec
        nibbles.append(n)
    if len(nibbles) % 2:
        nibbles.append(0)
    return build_wav_msadpcm_block(pred_idx, delta0, samples[1],
                                   samples[0], nibbles, rate)


def decode_audio(data: bytes) -> tuple[int, list[int]]:
    """WAV dispatch on wFormatTag: 0x0001 PCM16 (stdlib wave), 0x0002
    MS ADPCM, 0x0006 / 0x0007 G.711 A-law / µ-law, or 0x0011 IMA ADPCM
    (own RIFF walks)."""
    fmt_tag = None
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        for tag, off, _size in _iter_riff(data, 12, min(len(data), 64)):
            if tag == b"fmt ":
                fmt_tag = struct.unpack("<H", data[off:off + 2])[0]
                break
    if fmt_tag == 0x0011:
        return decode_wav_ima(data)
    if fmt_tag == 0x0002:
        return decode_wav_msadpcm(data)
    if fmt_tag in (0x0006, 0x0007):
        return decode_wav_g711(data)
    return decode_wav(data)


def real_features(data: bytes) -> list[float]:
    """Magic-byte dispatch for the real decode seam."""
    if data[:2] == b"BM" or data[:8] == PNG_SIG or data[:4] == b"GIF8":
        return image_features(data)
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return audio_features(data)
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        return video_features(data)
    if data[:2] == b"\xff\xd8":
        return image_features(data)
    raise ValueError("unsupported media container (BMP, gray8 PNG, GIF, "
                     "baseline + progressive JPEG, PCM 8/16/24-bit WAV, "
                     "IMA-ADPCM WAV, MS-ADPCM WAV, G.711 u-law/A-law WAV, "
                     "uncompressed-DIB AVI and MJPG AVI are the "
                     "decoders available without optional codec deps)")


# --------------------------------------------------- GIF (87a/89a, LZW)
# A real GIF codec in pure stdlib (same seam as the PNG/JPEG/ADPCM
# decoders: reference NLP-Lib is text-only Java with no media path, so
# this implements the engine's multimodal contract, cited at
# operators/multimodal.py): the decoder walks the logical screen
# descriptor, global/local color tables, 0x21 extension blocks
# (sub-block chains), the image descriptor (including the 4-pass
# interlace layout), and entropy-decodes the variable-width LSB-first
# LZW code stream with code-width growth, the KwKwK case, and deferred
# clear codes. Palette entries map to gray via integer ITU-R 601 luma
# (exact identity on the encoder's (i,i,i) grayscale table). GIF's LZW
# is lossless, so the gate oracle recomputes decoded pixels closed-form
# from the md5-expansion raster, like media_features_png.

def _gif_lzw_compress(indices: list[int], mcs: int,
                      defer_clear: bool = False) -> bytes:
    """Variable-width LZW, LSB-first (GIF appendix F): emits CLEAR up
    front, giflib-conformant late width growth, table reset at
    LZ_MAX_CODE. With defer_clear the encoder instead freezes the full
    table and keeps emitting 12-bit codes — the spec-legal deferred-clear
    stream shape some encoders produce, used to exercise the decoder's
    tolerance for it."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {(i,): i for i in range(1 << mcs)}
    nxt, width = eoi + 1, mcs + 1
    emit(clear, width)
    run: tuple[int, ...] = ()
    for idx in indices:
        if not 0 <= idx < (1 << mcs):
            raise ValueError("palette index out of range")
        cand = run + (idx,)
        if cand in table:
            run = cand
            continue
        emit(table[run], width)
        # giflib's "late change": width grows AFTER the emission at which
        # the next-assignable code (pre-insert) no longer fits — the first
        # wider code on the wire is the one after that, not it
        if nxt >= (1 << width) and width < 12:
            width += 1
        if nxt >= 4095:  # giflib clears at LZ_MAX_CODE; decoders also
            if not defer_clear:  # survive deferred clears past this point
                emit(clear, width)
                table = {(i,): i for i in range(1 << mcs)}
                nxt, width = eoi + 1, mcs + 1
        else:
            table[cand] = nxt
            nxt += 1
        run = (idx,)
    if run:
        emit(table[run], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_lzw_decompress(data: bytes, mcs: int) -> list[int]:
    """Inverse of _gif_lzw_compress, tolerant of deferred clear codes
    (a conforming encoder may keep emitting 12-bit codes with a full
    table instead of resetting — GIF89a spec, appendix F note)."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    pos = acc = nbits = 0

    def read(width: int) -> int:
        nonlocal pos, acc, nbits
        while nbits < width:
            if pos >= len(data):
                return eoi  # truncated stream: treat as end
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return code

    table: dict[int, tuple[int, ...]] = {i: (i,) for i in range(1 << mcs)}
    nxt, width = eoi + 1, mcs + 1
    out: list[int] = []
    prev: tuple[int, ...] | None = None
    while True:
        code = read(width)
        if code == eoi:
            break
        if code == clear:
            table = {i: (i,) for i in range(1 << mcs)}
            nxt, width = eoi + 1, mcs + 1
            prev = None
            continue
        if code in table:
            entry = table[code]
        elif prev is not None and code == nxt:
            entry = prev + (prev[0],)  # KwKwK: defined by this very output
        else:
            raise ValueError("corrupt LZW stream: undefined code")
        out.extend(entry)
        if prev is not None and nxt < 4096:
            table[nxt] = prev + (entry[0],)
            nxt += 1
        # the decoder's insertions lag the encoder's by one code (it can
        # only build entry k while reading code k+1), so checking the SAME
        # nxt == 2^width threshold after its lagged insert lands exactly
        # one read later than the encoder's post-emission check — i.e. the
        # first wider read is the code after the encoder's first wider
        # emission, which is giflib's RunningCode > MaxCode1 behavior
        if nxt == (1 << width) and width < 12:
            width += 1
        prev = entry
    return out


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))  # (start, step)


def _gif_row_order(height: int, interlaced: bool) -> list[int]:
    if not interlaced:
        return list(range(height))
    return [r for start, step in _GIF_INTERLACE_PASSES
            for r in range(start, height, step)]


def _gif_subblocks(payload: bytes) -> bytes:
    """Chop a byte stream into GIF sub-blocks (<=255 bytes, length-prefixed,
    0x00 terminator)."""
    out = bytearray()
    for i in range(0, len(payload), 255):
        chunk = payload[i:i + 255]
        out.append(len(chunk))
        out.extend(chunk)
    out.append(0)
    return bytes(out)


def encode_gif(gray: list[int], width: int, height: int,
               interlaced: bool = False) -> bytes:
    """Write a real GIF89a: logical screen descriptor, 256-entry grayscale
    global color table ((i,i,i) so palette index == gray level), a Graphic
    Control Extension (so decoders must walk 0x21 extension chains), one
    image descriptor (optionally interlaced), LZW-compressed indices with
    minimum code size 8."""
    if len(gray) != width * height:
        raise ValueError("pixel count != width*height")
    rows = _gif_row_order(height, interlaced)
    indices = [gray[r * width + c] & 0xFF
               for r in rows for c in range(width)]
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out.append(0xF7)          # GCT present, 8-bit color res, 256 entries
    out += b"\x00\x00"        # background index, aspect ratio
    for i in range(256):      # grayscale GCT
        out += bytes((i, i, i))
    out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"   # GCE: no transparency
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height)
    out.append(0x40 if interlaced else 0x00)      # no LCT; interlace flag
    out.append(8)                                 # LZW min code size
    out += _gif_subblocks(_gif_lzw_compress(indices, 8))
    out.append(0x3B)                              # trailer
    return bytes(out)


def decode_gif(data: bytes) -> tuple[int, int, list[int]]:
    """Decode the first image of a GIF87a/89a to a gray raster: header +
    logical-screen walk, global/local color tables, extension-block
    skipping, interlace reordering, LZW decompression, and palette-to-gray
    via integer ITU-R 601 luma (exact identity on (i,i,i) gray tables)."""
    if data[:4] != b"GIF8" or data[4:6] not in (b"7a", b"9a"):
        raise ValueError("not a GIF87a/GIF89a stream")
    pos = 6
    _sw, _sh = struct.unpack_from("<HH", data, pos)
    packed, _bg, _aspect = data[pos + 4], data[pos + 5], data[pos + 6]
    pos += 7
    palette: list[tuple[int, int, int]] = []
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        palette = [tuple(data[pos + 3 * i:pos + 3 * i + 3])
                   for i in range(n)]
        pos += 3 * n
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:                      # trailer before any image
            raise ValueError("GIF contains no image data")
        if block == 0x21:                      # extension: label + chain
            pos += 1
            while data[pos]:
                pos += 1 + data[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        _left, _top, w, h = struct.unpack_from("<HHHH", data, pos)
        ipacked = data[pos + 8]
        pos += 9
        if ipacked & 0x80:                     # local color table wins
            n = 2 << (ipacked & 0x07)
            palette = [tuple(data[pos + 3 * i:pos + 3 * i + 3])
                       for i in range(n)]
            pos += 3 * n
        if not palette:
            raise ValueError("GIF image with no color table")
        mcs = data[pos]
        pos += 1
        payload = bytearray()
        while data[pos]:
            ln = data[pos]
            payload += data[pos + 1:pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = _gif_lzw_decompress(bytes(payload), mcs)
        if len(idx) < w * h:
            raise ValueError("GIF pixel data truncated")
        luma = [(r * 299 + g * 587 + b * 114 + 500) // 1000
                for r, g, b in palette]
        gray = [0] * (w * h)
        for out_r, src_r in enumerate(_gif_row_order(h, bool(ipacked & 0x40))):
            for c in range(w):
                gray[src_r * w + c] = luma[idx[out_r * w + c]]
        return w, h, gray
    raise ValueError("truncated GIF stream")


# ------------------------------------------- animated GIF (multi-frame 89a)
# Animated GIF as a VIDEO container at the frame_sample seam, beside the
# DIB-AVI and Motion-JPEG demuxers: GIF89a files carrying several image
# blocks, each preceded by a Graphic Control Extension (delay/disposal)
# and optionally an application extension (NETSCAPE2.0 looping), each
# frame independently interlaceable with its own local color table.
# Scope is full-frame replacement (every image descriptor covers the
# whole logical screen — disposal semantics never matter); partial-frame
# composition raises loudly rather than decoding wrong pixels.

def encode_gif_anim(frames: list[list[int]], width: int, height: int,
                    delay_cs: int = 4) -> bytes:
    """Write a real animated GIF89a: logical screen + grayscale GCT, a
    NETSCAPE2.0 looping application extension (so decoders must walk
    app-extension sub-block chains), then per frame a Graphic Control
    Extension and a full-screen image block — odd frames interlaced so
    the per-frame reorder path runs inside one file."""
    if not frames:
        raise ValueError("empty frame list")
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out.append(0xF7)
    out += b"\x00\x00"
    for i in range(256):
        out += bytes((i, i, i))
    out += (b"\x21\xff\x0bNETSCAPE2.0"      # app extension: loop forever
            b"\x03\x01\x00\x00\x00")
    for k, gray in enumerate(frames):
        if len(gray) != width * height:
            raise ValueError("pixel count != width*height")
        interlaced = bool(k % 2)
        out += b"\x21\xf9\x04\x04" + struct.pack("<H", delay_cs) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height)
        out.append(0x40 if interlaced else 0x00)
        out.append(8)
        rows = _gif_row_order(height, interlaced)
        idx = [gray[r * width + c] & 0xFF
               for r in rows for c in range(width)]
        out += _gif_subblocks(_gif_lzw_compress(idx, 8))
    out.append(0x3B)
    return bytes(out)


def decode_gif_anim(data: bytes) -> tuple[int, int, list[list[int]]]:
    """Demux + decode every frame of a GIF87a/89a -> (w, h, frames).
    Walks the logical screen, global color table, all extension chains
    (GCE, comment, application), and each image block with its own
    optional local color table and interlace flag. Only full-screen
    frames are supported (see module note); gray via integer ITU-R 601
    luma like decode_gif."""
    if data[:4] != b"GIF8" or data[4:6] not in (b"7a", b"9a"):
        raise ValueError("not a GIF87a/GIF89a stream")
    pos = 6
    sw, sh = struct.unpack_from("<HH", data, pos)
    packed = data[pos + 4]
    pos += 7
    gpal: list[tuple[int, int, int]] = []
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gpal = [tuple(data[pos + 3 * i:pos + 3 * i + 3]) for i in range(n)]
        pos += 3 * n
    frames: list[list[int]] = []
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:
            if not frames:
                raise ValueError("GIF contains no image data")
            return sw, sh, frames
        if block == 0x21:
            pos += 1
            while data[pos]:
                pos += 1 + data[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        left, top, w, h = struct.unpack_from("<HHHH", data, pos)
        ipacked = data[pos + 8]
        pos += 9
        if (left, top, w, h) != (0, 0, sw, sh):
            raise ValueError("partial-frame GIF composition unsupported")
        pal = gpal
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            pal = [tuple(data[pos + 3 * i:pos + 3 * i + 3])
                   for i in range(n)]
            pos += 3 * n
        if not pal:
            raise ValueError("GIF image with no color table")
        mcs = data[pos]
        pos += 1
        payload = bytearray()
        while data[pos]:
            ln = data[pos]
            payload += data[pos + 1:pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = _gif_lzw_decompress(bytes(payload), mcs)
        if len(idx) < w * h:
            raise ValueError("GIF pixel data truncated")
        luma = [(r * 299 + g * 587 + b * 114 + 500) // 1000
                for r, g, b in pal]
        gray = [0] * (w * h)
        for out_r, src_r in enumerate(
                _gif_row_order(h, bool(ipacked & 0x40))):
            for c in range(w):
                gray[src_r * w + c] = luma[idx[out_r * w + c]]
        frames.append(gray)
    raise ValueError("truncated GIF stream")


# ------------------------------------------------ JPEG (baseline DCT, gray)
# A real baseline-sequential JFIF codec in pure stdlib+numpy (VERDICT r3
# "Next round" 7): the decoder walks markers (APPn/COM/DQT/SOF0/DHT/DRI/
# SOS), builds canonical Huffman tables from DHT, entropy-decodes with
# 0xFF00 unstuffing and RSTn predictor resets, dequantizes, de-zigzags and
# runs a separable float IDCT per block. Single-component (grayscale)
# baseline only; progressive / multi-component files raise loudly.
#
# Exact-gate trick: for an image made of FLAT 8x8 blocks encoded with a DC
# quantization step of 8, quantized DC = round(8*(v-128)/8) = v-128 with
# zero ACs, so decode is bit-exact (the IDCT of a DC-only block is the
# constant dc/8). The gate corpus uses such images, so the DuckDB oracle
# can recompute the decoded pixels closed-form from the md5 bytes; the
# general lossy path (real FDCT, AC run-lengths, ZRL) is certified by the
# pytest round-trip-tolerance suite instead.

ZIGZAG = [0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
          12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
          35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
          58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63]

_ZIGZAG_ARR = None  # lazy numpy mirror of ZIGZAG (encoder fast path)


def _zigzag_arr():
    global _ZIGZAG_ARR
    if _ZIGZAG_ARR is None:
        import numpy as np
        _ZIGZAG_ARR = np.asarray(ZIGZAG)
    return _ZIGZAG_ARR

# DC Huffman table: ITU T.81 Annex K.3.1 luminance DC (variable-length
# canonical codes, 12 size-category symbols). AC table: a spec-valid
# fixed-8-bit canonical table over all 162 (run,size) symbols — real
# encoders may emit any valid DHT, and a correct decoder must build the
# code from BITS/HUFFVAL rather than assume the Annex K layout.
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 162, 0, 0, 0, 0, 0, 0, 0, 0]
_AC_VALS = [0x00, 0xF0] + [(r << 4) | s for r in range(16)
                           for s in range(1, 11)]


_HUFF_CODES_CACHE: dict[tuple[bytes, bytes], dict] = {}


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman assignment (T.81 C.2): symbol -> (code, length).
    Memoized — the encoder uses the same two module-constant tables for
    every payload."""
    key = (bytes(bits), bytes(vals))
    cached = _HUFF_CODES_CACHE.get(key)
    if cached is not None:
        return cached
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    if len(_HUFF_CODES_CACHE) < 64:
        _HUFF_CODES_CACHE[key] = out
    return out


_DCT_BASIS = None


def _dct_basis():
    """8x8 DCT-II basis (row u = C(u) cos((2x+1)u pi/16)), built once per
    process — every block decode reuses it."""
    global _DCT_BASIS
    if _DCT_BASIS is None:
        import math

        import numpy as np
        b = np.zeros((8, 8))
        for u in range(8):
            cu = (1.0 / math.sqrt(2.0)) if u == 0 else 1.0
            for x in range(8):
                b[u, x] = cu * math.cos((2 * x + 1) * u * math.pi / 16.0)
        _DCT_BASIS = b
    return _DCT_BASIS


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._nbits += length
        while self._nbits >= 8:
            self._nbits -= 8
            byte = (self._acc >> self._nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)

    def flush(self) -> bytes:
        if self._nbits:
            pad = 8 - self._nbits
            self.write((1 << pad) - 1, pad)  # 1-fill per spec
        return bytes(self.out)


def _category(v: int) -> int:
    return 0 if v == 0 else abs(v).bit_length()


def _amplitude_bits(v: int, size: int) -> int:
    # T.81 F.1.2.1: negative amplitudes store v - 1 in `size` bits
    return v if v >= 0 else v + (1 << size) - 1


def encode_jpeg(gray: list[int], width: int, height: int,
                q_dc: int = 8, q_ac: int = 16) -> bytes:
    """Baseline-sequential grayscale JFIF encoder: real forward DCT,
    uniform quantization (``q_dc`` for coefficient 0, ``q_ac`` for the
    rest), run-length AC coding with ZRL/EOB, canonical Huffman entropy
    coding, byte stuffing. With flat 8x8 blocks and the default q_dc=8
    the file decodes bit-exactly (see module comment); on arbitrary
    images it is honestly lossy."""
    import numpy as np
    if width % 8 or height % 8:
        raise ValueError("encode_jpeg requires multiple-of-8 dimensions")
    if len(gray) != width * height:
        raise ValueError("pixel count != width*height")
    basis = _dct_basis()
    img = (np.asarray(gray, dtype=np.float64).reshape(height, width)
           - 128.0)
    qtab = np.full(64, float(q_ac))
    qtab[0] = float(q_dc)
    dc_huff = _huff_codes(_DC_BITS, _DC_VALS)
    ac_huff = _huff_codes(_AC_BITS, _AC_VALS)
    bw = _BitWriter()
    pred = 0
    # one batched FDCT over all blocks (broadcast matmul on the
    # (bh, bw, 8, 8) block view: basis @ block @ basis.T per block with a
    # single dispatch — einsum spent more time in its per-call path
    # search than in the contraction at these block counts), then one
    # vectorized zigzag + quantize pass (np.rint is round-half-even,
    # matching Python round()) instead of 64 scalar round() calls per
    # block — together ~3x on the MJPEG synth path
    blocks = (img.reshape(height // 8, 8, width // 8, 8)
              .transpose(0, 2, 1, 3))
    coefs = 0.25 * (basis @ blocks @ basis.T)
    zz_all = np.rint(coefs.reshape(-1, 64)[:, _zigzag_arr()]
                     / qtab).astype(np.int64).tolist()
    for zz in zz_all:
            diff = zz[0] - pred
            pred = zz[0]
            size = _category(diff)
            code, ln = dc_huff[size]
            bw.write(code, ln)
            if size:
                bw.write(_amplitude_bits(diff, size), size)
            run = 0
            last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
            for k in range(1, last_nz + 1):
                if zz[k] == 0:
                    run += 1
                    continue
                while run > 15:  # ZRL: 16 zeros
                    code, ln = ac_huff[0xF0]
                    bw.write(code, ln)
                    run -= 16
                size = _category(zz[k])
                code, ln = ac_huff[(run << 4) | size]
                bw.write(code, ln)
                bw.write(_amplitude_bits(zz[k], size), size)
                run = 0
            if last_nz < 63:
                code, ln = ac_huff[0x00]  # EOB
                bw.write(code, ln)
    scan = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    app0 = seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    dqt = seg(0xFFDB, bytes([0x00]) + bytes(int(qtab[k]) for k in range(64)))
    sof0 = seg(0xFFC0, struct.pack(">BHHB", 8, height, width, 1)
               + bytes([1, 0x11, 0]))
    dht = (seg(0xFFC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS))
           + seg(0xFFC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)))
    sos = seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return (b"\xff\xd8" + app0 + dqt + sof0 + dht + sos + scan
            + b"\xff\xd9")


class _BitReader:
    """Entropy-segment bit reader: 0xFF00 unstuffing; raises _Marker at
    any real marker so the MCU loop can handle RSTn / end-of-scan."""

    class _Marker(Exception):
        def __init__(self, code: int, pos: int) -> None:
            self.code, self.pos = code, pos

    def __init__(self, data: bytes, pos: int) -> None:
        self.data, self.pos = data, pos
        self._acc, self._n = 0, 0

    def read_bit(self) -> int:
        if self._n == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG scan truncated")
            byte = self.data[self.pos]
            if byte == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(
                    self.data) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                else:
                    raise _BitReader._Marker(nxt, self.pos)
            else:
                self.pos += 1
            self._acc, self._n = byte, 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align(self) -> None:
        self._n = 0


_HUFF_DECODER_CACHE: dict[tuple[bytes, bytes], dict] = {}


def _build_huff_decoder(bits: list[int], vals: list[int]):
    """DHT BITS/HUFFVAL -> {(length, code): symbol} canonical decode map.
    Memoized on the table bytes: a corpus of same-encoder files (the gate
    path, MJPEG frames) rebuilds identical tables per payload otherwise."""
    key = (bytes(bits), bytes(vals))
    cached = _HUFF_DECODER_CACHE.get(key)
    if cached is not None:
        return cached
    table: dict[tuple[int, int], int] = {}
    code, k = 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    if len(_HUFF_DECODER_CACHE) < 64:  # bound worker-resident cache
        _HUFF_DECODER_CACHE[key] = table
    return table


def _huff_decode(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, ln = 0, 0
    while ln < 16:
        code = (code << 1) | br.read_bit()
        ln += 1
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _extend(bits: int, size: int) -> int:
    # T.81 F.2.2.1 EXTEND: high bit 0 means negative amplitude
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def decode_jpeg(data: bytes) -> tuple[int, int, list[int]]:
    """Full baseline-sequential grayscale JPEG decode -> (width, height,
    gray raster, row 0 = top). Marker walk, multi-table DQT/DHT, DRI +
    RSTn predictor resets, Huffman/RLE entropy decode, dequantize,
    de-zigzag, separable float IDCT, level shift + clamp. Progressive
    (SOF2) files dispatch to decode_jpeg_progressive; arithmetic coding
    and multi-component scans raise."""
    import numpy as np
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtabs: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    width = height = None
    comp_q = comp_dc = comp_ac = 0
    restart_interval = 0
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI before SOS
            raise ValueError("JPEG has no scan")
        seg_len = struct.unpack_from(">H", data, pos + 2)[0]
        body = data[pos + 4:pos + 2 + seg_len]
        pos += 2 + seg_len
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                i += 1
                if pq == 0:
                    qtabs[tq] = list(body[i:i + 64])
                    i += 64
                else:
                    qtabs[tq] = [struct.unpack_from(">H", body, i + 2 * k)[0]
                                 for k in range(64)]
                    i += 128
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1:i + 17])
                nv = sum(bits)
                vals = list(body[i + 17:i + 17 + nv])
                huff[(tc, th)] = _build_huff_decoder(bits, vals)
                i += 17 + nv
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            precision, height, width, nf = struct.unpack_from(
                ">BHHB", body, 0)
            if precision != 8 or nf != 1:
                raise ValueError(
                    f"unsupported JPEG: precision={precision} "
                    f"components={nf} (8-bit grayscale baseline only)")
            comp_q = body[8]  # per-component: id, sampling, quant-table id
        elif marker == 0xC2:  # SOF2: progressive DCT — dedicated decoder
            return decode_jpeg_progressive(data)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError("unsupported JPEG coding process "
                             f"(SOF marker 0xFF{marker:02X})")
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:  # SOS — entropy-coded data follows
            ns = body[0]
            if ns != 1:
                raise ValueError("multi-component JPEG scan unsupported")
            comp_dc, comp_ac = body[2] >> 4, body[2] & 0x0F
            break
        # APPn / COM / other segments: skipped
    else:
        raise ValueError("JPEG missing SOS")
    if width is None:
        raise ValueError("JPEG missing SOF before SOS")
    qt = qtabs[comp_q]
    dc_tab, ac_tab = huff[(0, comp_dc)], huff[(1, comp_ac)]
    basis = _dct_basis()
    bw = (width + 7) // 8
    bh = (height + 7) // 8
    out = np.zeros((bh * 8, bw * 8), dtype=np.int64)
    br = _BitReader(data, pos)
    pred = 0
    mcu = 0
    for by in range(bh):
        for bx in range(bw):
            if restart_interval and mcu and mcu % restart_interval == 0:
                # byte-align and consume the RSTn marker; reset predictor
                try:
                    br.align()
                    br.read_bit()
                    raise ValueError("expected JPEG restart marker")
                except _BitReader._Marker as m:
                    if not 0xD0 <= m.code <= 0xD7:
                        raise ValueError("expected JPEG restart marker")
                    br = _BitReader(data, m.pos + 2)
                    pred = 0
            coef = np.zeros(64)
            size = _huff_decode(br, dc_tab)
            pred += _extend(br.read_bits(size), size)
            coef[0] = pred * qt[0]
            k = 1
            while k < 64:
                sym = _huff_decode(br, ac_tab)
                if sym == 0x00:  # EOB
                    break
                run, size = sym >> 4, sym & 0x0F
                if size == 0:
                    if run != 15:
                        raise ValueError("bad JPEG AC symbol")
                    k += 16  # ZRL
                    continue
                k += run
                if k > 63:
                    raise ValueError("JPEG AC coefficient overrun")
                coef[ZIGZAG[k]] = _extend(br.read_bits(size), size) * qt[k]
                k += 1
            blk = 0.25 * (basis.T @ coef.reshape(8, 8) @ basis)
            out[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = np.clip(
                np.rint(blk) + 128, 0, 255).astype(np.int64)
            mcu += 1
    return width, height, [int(v) for v in
                           out[:height, :width].reshape(-1)]


# ------------------------------------------- JPEG (progressive DCT, gray)
# A real progressive (SOF2) codec (VERDICT r4 stretch direction, continuing
# the "genuine codecs at the media seam" line): the encoder emits FOUR
# scans — DC first pass at point transform Al=1, AC spectral band 1..63
# first pass at Al=1 with EOB-run coding, then the DC and AC successive-
# approximation REFINEMENT passes (T.81 G.1.2.2/G.1.2.3: raw DC low bits;
# newly-nonzero AC insertion with buffered correction bits for history-
# nonzero coefficients, interleaved with ZRL and EOB-run codes). The
# decoder accumulates quantized coefficients across scans and runs the
# shared dequant/de-zigzag/IDCT once at EOI. Because the two passes
# together transmit every coefficient bit, progressive decode is EXACTLY
# equal to baseline decode of the same quantized coefficients — the pytest
# suite asserts that equality on arbitrary images, and the flat-block gate
# corpus stays bit-exact, so the media_features_jpeg closed-form oracle
# certifies this decoder unchanged.

# AC table for progressive scans: the baseline 162-symbol table lacks the
# EOBn run codes (r<<4, r=1..14). 176 symbols, all at code length 8 —
# canonical codes 0..175 leave the all-ones byte unassigned (T.81 C.2
# guidance), so 1-fill padding can never alias a symbol.
_AC_PROG_BITS = [0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0, 0]
_AC_PROG_VALS = ([r << 4 for r in range(15)] + [0xF0]
                 + [(r << 4) | s for r in range(16) for s in range(1, 11)])


class _ProgAcWriter:
    """Shared EOB-run state for one progressive AC scan: symbols must not
    be emitted while an end-of-band run is pending, so every write funnels
    through flush_eob(). Refinement passes additionally buffer correction
    bits (T.81 G.1.2.3) that trail the next emitted symbol."""

    def __init__(self, bw: _BitWriter, ac_huff: dict) -> None:
        self.bw, self.ac = bw, ac_huff
        self.eobrun = 0
        self.pending: list[int] = []  # correction bits owed after next sym

    def flush_eob(self) -> None:
        if self.eobrun > 0:
            nbits = self.eobrun.bit_length() - 1
            code, ln = self.ac[nbits << 4]
            self.bw.write(code, ln)
            if nbits:
                self.bw.write(self.eobrun & ((1 << nbits) - 1), nbits)
            self.eobrun = 0
        for b in self.pending:
            self.bw.write(b, 1)
        self.pending = []

    def symbol(self, sym: int) -> None:
        self.flush_eob()
        code, ln = self.ac[sym]
        self.bw.write(code, ln)

    def end_of_band(self, correction_bits: list[int]) -> None:
        self.eobrun += 1
        self.pending.extend(correction_bits)
        if self.eobrun == 0x7FFF:  # EOBn maximum (T.81 table G.1)
            self.flush_eob()


def _encode_ac_first(zz_all: list, ss: int, se: int, al: int,
                     ac_huff: dict) -> bytes:
    """Progressive AC first pass (T.81 G.1.2.2): band ss..se, magnitudes
    point-transformed by al, zero runs + ZRL + accumulated EOB runs."""
    bw = _BitWriter()
    w = _ProgAcWriter(bw, ac_huff)
    for zz in zz_all:
        run = 0
        emitted = False
        for k in range(ss, se + 1):
            mag = abs(zz[k]) >> al
            if mag == 0:
                run += 1
                continue
            while run > 15:
                w.symbol(0xF0)  # ZRL
                run -= 16
            size = mag.bit_length()
            w.symbol((run << 4) | size)
            v = mag if zz[k] >= 0 else -mag
            bw.write(_amplitude_bits(v, size), size)
            run = 0
            emitted = True
        if run > 0 or not emitted:
            w.end_of_band([])
    w.flush_eob()
    return bw.flush()


def _encode_ac_refine(zz_all: list, ss: int, se: int, al: int,
                      ac_huff: dict) -> bytes:
    """Progressive AC refinement pass (T.81 G.1.2.3): newly-nonzero
    coefficients (post-shift magnitude 1) emit (run, 1) + a sign bit;
    history-nonzero coefficients ride along as buffered correction bits;
    runs past 15 emit ZRL only up to the last newly-nonzero position,
    after which the block tail joins the EOB run."""
    bw = _BitWriter()
    w = _ProgAcWriter(bw, ac_huff)
    for zz in zz_all:
        mags = [abs(zz[k]) >> al for k in range(ss, se + 1)]
        eob = -1  # index of the last newly-nonzero coefficient
        for i, m in enumerate(mags):
            if m == 1:
                eob = i
        run = 0
        corr: list[int] = []  # correction bits since the last symbol
        for i, m in enumerate(mags):
            if m == 0:
                run += 1
                continue
            # the ZRL check runs at EVERY nonzero coefficient (history or
            # new) so correction bits flush incrementally in the exact
            # order the decoder's skip walk consumes them; runs past the
            # last newly-nonzero position fold into the EOB run instead
            while run > 15 and i <= eob:
                w.symbol(0xF0)
                run -= 16
                for b in corr:
                    bw.write(b, 1)
                corr = []
            if m > 1:  # history coefficient: correction bit only
                corr.append(m & 1)
                continue
            w.symbol((run << 4) | 1)
            bw.write(1 if zz[ss + i] >= 0 else 0, 1)
            for b in corr:
                bw.write(b, 1)
            corr = []
            run = 0
        if run > 0 or corr:
            w.end_of_band(corr)
    w.flush_eob()
    return bw.flush()


def encode_jpeg_progressive(gray: list[int], width: int, height: int,
                            q_dc: int = 8, q_ac: int = 16) -> bytes:
    """Progressive (SOF2) grayscale JFIF encoder: same FDCT/quantization
    as encode_jpeg, then four scans — (Ss=0,Se=0,Ah=0,Al=1),
    (1,63,0,1), (0,0,1,0), (1,63,1,0). Coefficients are transmitted
    exactly across the pass pairs, so the file decodes to the SAME pixels
    as the baseline encoding of the same image."""
    import numpy as np
    if width % 8 or height % 8:
        raise ValueError("encode_jpeg_progressive requires multiple-of-8 "
                         "dimensions")
    if len(gray) != width * height:
        raise ValueError("pixel count != width*height")
    basis = _dct_basis()
    img = (np.asarray(gray, dtype=np.float64).reshape(height, width)
           - 128.0)
    qtab = np.full(64, float(q_ac))
    qtab[0] = float(q_dc)
    blocks = (img.reshape(height // 8, 8, width // 8, 8)
              .transpose(0, 2, 1, 3))
    coefs = 0.25 * (basis @ blocks @ basis.T)
    zz_all = np.rint(coefs.reshape(-1, 64)[:, _zigzag_arr()]
                     / qtab).astype(np.int64).tolist()
    dc_huff = _huff_codes(_DC_BITS, _DC_VALS)
    ac_huff = _huff_codes(_AC_PROG_BITS, _AC_PROG_VALS)
    al = 1
    # scan 1: DC first pass at Al=1 (arithmetic >> keeps two's-complement
    # low bits for the refinement pass)
    bw = _BitWriter()
    pred = 0
    for zz in zz_all:
        v = zz[0] >> al
        diff = v - pred
        pred = v
        size = _category(diff)
        code, ln = dc_huff[size]
        bw.write(code, ln)
        if size:
            bw.write(_amplitude_bits(diff, size), size)
    scan_dc1 = bw.flush()
    scan_ac1 = _encode_ac_first(zz_all, 1, 63, al, ac_huff)
    # scan 3: DC refinement — one raw bit (bit Al-1=0) per block
    bw = _BitWriter()
    for zz in zz_all:
        bw.write(zz[0] & 1, 1)
    scan_dc2 = bw.flush()
    scan_ac2 = _encode_ac_refine(zz_all, 1, 63, 0, ac_huff)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    def sos(ss: int, se: int, ah: int, al_: int) -> bytes:
        return seg(0xFFDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al_]))

    app0 = seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    dqt = seg(0xFFDB, bytes([0x00]) + bytes(int(qtab[k]) for k in range(64)))
    sof2 = seg(0xFFC2, struct.pack(">BHHB", 8, height, width, 1)
               + bytes([1, 0x11, 0]))
    dht = (seg(0xFFC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS))
           + seg(0xFFC4, bytes([0x10]) + bytes(_AC_PROG_BITS)
                 + bytes(_AC_PROG_VALS)))
    return (b"\xff\xd8" + app0 + dqt + sof2 + dht
            + sos(0, 0, 0, 1) + scan_dc1
            + sos(1, 63, 0, 1) + scan_ac1
            + sos(0, 0, 1, 0) + scan_dc2
            + sos(1, 63, 1, 0) + scan_ac2
            + b"\xff\xd9")


def _prog_dc_scan(br: _BitReader, coef, nblk: int, ah: int, al: int,
                  dc_tab: dict) -> None:
    """One progressive DC scan over all blocks: first pass (Ah=0) is
    baseline-style differential coding of the point-transformed value;
    refinement appends bit Al via OR (two's complement keeps negatives
    exact)."""
    if ah == 0:
        pred = 0
        for b in range(nblk):
            size = _huff_decode(br, dc_tab)
            pred += _extend(br.read_bits(size), size)
            coef[b][0] = pred << al
    else:
        for b in range(nblk):
            coef[b][0] |= br.read_bit() << al


def _prog_ac_first_scan(br: _BitReader, coef, nblk: int, ss: int, se: int,
                        al: int, ac_tab: dict) -> None:
    """Progressive AC first pass decode (T.81 G.2 / libjpeg shape): zero
    runs, ZRL, EOBn run codes with extension bits."""
    eobrun = 0
    for b in range(nblk):
        if eobrun > 0:
            eobrun -= 1
            continue
        k = ss
        while k <= se:
            sym = _huff_decode(br, ac_tab)
            r, s = sym >> 4, sym & 0x0F
            if s:
                k += r
                if k > se:
                    raise ValueError("progressive JPEG AC overrun")
                coef[b][k] = _extend(br.read_bits(s), s) << al
                k += 1
            elif r != 15:
                eobrun = (1 << r) - 1
                if r:
                    eobrun += br.read_bits(r)
                break
            else:
                k += 16  # ZRL
    if eobrun:
        raise ValueError("progressive JPEG EOB run past final block")


def _prog_ac_refine_scan(br: _BitReader, coef, nblk: int, ss: int, se: int,
                         al: int, ac_tab: dict) -> None:
    """Progressive AC refinement decode: correction bits grow the
    magnitude of history-nonzero coefficients; (run, 1) symbols insert
    newly-nonzero ±(1<<Al) after skipping `run` zero-HISTORY positions;
    EOB runs still consume correction bits for the blocks they cover."""
    p1, m1 = 1 << al, -1 << al

    def correct(b: int, k: int) -> None:
        if br.read_bit() and not (coef[b][k] & p1):
            coef[b][k] += p1 if coef[b][k] >= 0 else m1

    eobrun = 0
    for b in range(nblk):
        k = ss
        if eobrun == 0:
            while k <= se:
                sym = _huff_decode(br, ac_tab)
                r, s = sym >> 4, sym & 0x0F
                val = 0
                if s:
                    if s != 1:
                        raise ValueError("bad refinement AC symbol")
                    val = p1 if br.read_bit() else m1
                elif r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.read_bits(r)
                    break
                # advance over `r` zero-history coefficients, applying
                # correction bits to nonzero-history ones along the way
                while k <= se:
                    if coef[b][k] != 0:
                        correct(b, k)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val:
                    if k > se:
                        raise ValueError("progressive JPEG refine overrun")
                    coef[b][k] = val
                k += 1
        if eobrun > 0:
            while k <= se:
                if coef[b][k] != 0:
                    correct(b, k)
                k += 1
            eobrun -= 1
    if eobrun:
        raise ValueError("progressive JPEG EOB run past final block")


def decode_jpeg_progressive(data: bytes) -> tuple[int, int, list[int]]:
    """Full progressive (SOF2) grayscale JPEG decode: multi-scan marker
    walk, per-scan DHT redefinition honored, DC/AC first + refinement
    passes accumulating quantized coefficients in zigzag order, then one
    dequant/de-zigzag/IDCT pass at EOI (shared with the baseline
    decoder). Restart intervals inside progressive scans are unsupported
    and raise; single-component 8-bit only, like the baseline path."""
    import numpy as np
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtabs: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    width = height = None
    comp_q = 0
    coef = None
    nblk = bw = bh = 0
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if pos + 4 > len(data):
            raise ValueError("truncated JPEG segment header")
        seg_len = struct.unpack_from(">H", data, pos + 2)[0]
        if pos + 2 + seg_len > len(data):
            raise ValueError("truncated JPEG segment")
        body = data[pos + 4:pos + 2 + seg_len]
        pos += 2 + seg_len
        if marker == 0xDB:
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                i += 1
                if pq == 0:
                    qtabs[tq] = list(body[i:i + 64])
                    i += 64
                else:
                    qtabs[tq] = [struct.unpack_from(">H", body, i + 2 * k)[0]
                                 for k in range(64)]
                    i += 128
        elif marker == 0xC4:
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1:i + 17])
                nv = sum(bits)
                vals = list(body[i + 17:i + 17 + nv])
                huff[(tc, th)] = _build_huff_decoder(bits, vals)
                i += 17 + nv
        elif marker == 0xC2:
            precision, height, width, nf = struct.unpack_from(
                ">BHHB", body, 0)
            if precision != 8 or nf != 1:
                raise ValueError(
                    f"unsupported progressive JPEG: precision={precision} "
                    f"components={nf} (8-bit grayscale only)")
            comp_q = body[8]
            bw = (width + 7) // 8
            bh = (height + 7) // 8
            nblk = bw * bh
            coef = [[0] * 64 for _ in range(nblk)]
        elif marker in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("decode_jpeg_progressive requires SOF2 "
                             f"(got SOF marker 0xFF{marker:02X})")
        elif marker == 0xDD:
            if struct.unpack_from(">H", body, 0)[0]:
                raise ValueError("restart intervals unsupported in "
                                 "progressive scans")
        elif marker == 0xDA:
            if coef is None:
                raise ValueError("progressive JPEG scan before SOF2")
            if body[0] != 1:
                raise ValueError("multi-component JPEG scan unsupported")
            td, ta = body[2] >> 4, body[2] & 0x0F
            ss, se = body[3], body[4]
            ah, al = body[5] >> 4, body[5] & 0x0F
            br = _BitReader(data, pos)
            try:
                if ss == 0:
                    if se != 0:
                        raise ValueError("progressive scan mixes DC and AC")
                    _prog_dc_scan(br, coef, nblk, ah, al, huff[(0, td)])
                elif ah == 0:
                    _prog_ac_first_scan(br, coef, nblk, ss, se, al,
                                        huff[(1, ta)])
                else:
                    _prog_ac_refine_scan(br, coef, nblk, ss, se, al,
                                         huff[(1, ta)])
            except _BitReader._Marker:
                raise ValueError("JPEG marker inside progressive scan "
                                 "(restart markers unsupported)")
            # entropy data ends byte-aligned just before the next marker
            # (the bit reader advances pos at byte-load time, so any
            # partially-consumed padding byte is already behind pos)
            pos = br.pos
            while pos < len(data) and data[pos] != 0xFF:
                pos += 1
    else:
        raise ValueError("JPEG missing EOI")
    if width is None or coef is None:
        raise ValueError("progressive JPEG missing SOF2")
    qt = np.asarray(qtabs[comp_q], dtype=np.float64)
    basis = _dct_basis()
    zz = _zigzag_arr()
    cz = np.asarray(coef, dtype=np.float64) * qt  # (nblk, 64) zigzag order
    nat = np.zeros_like(cz)
    nat[:, zz] = cz
    blocks = 0.25 * (basis.T @ nat.reshape(nblk, 8, 8) @ basis)
    out = np.clip(np.rint(blocks) + 128, 0, 255).astype(np.int64)
    raster = (out.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3)
              .reshape(bh * 8, bw * 8))
    return width, height, [int(v) for v in
                           raster[:height, :width].reshape(-1)]


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


PNG_DIM = 8       # synth PNG: 8x8 gray (64 bytes = 4 md5 blocks)
AVI_FRAMES = 4    # synth AVI: 4 frames of 8x4
AVI_W, AVI_H = 8, 4


def synth_png_payload(text: str) -> bytes:
    """Deterministic PNG payload (gate input builder, mirrored closed-form
    by the media_features_png oracle): 8x8 gray8 PNG whose raster is
    md5_expand(text, 64). With 8 scanlines every PNG filter type (r % 5)
    is exercised on every payload."""
    return encode_png(list(md5_expand(text, PNG_DIM * PNG_DIM)),
                      PNG_DIM, PNG_DIM)


GIF_DIM = 8       # synth GIF: 8x8 gray (64 bytes = 4 md5 blocks)


def synth_gif_payload(text: str) -> bytes:
    """Deterministic GIF payload (gate input builder, mirrored closed-form
    by the media_features_gif oracle): 8x8 GIF89a whose raster is
    md5_expand(text, 64); odd-length texts encode interlaced so the gate
    corpus exercises the 4-pass row order on both sides of the codec.
    LZW is lossless, so the oracle recomputes the decoded pixels straight
    from the md5 bytes (same contract as media_features_png)."""
    return encode_gif(list(md5_expand(text, GIF_DIM * GIF_DIM)),
                      GIF_DIM, GIF_DIM, interlaced=bool(len(text) % 2))


def synth_rle8_payload(text: str) -> bytes:
    """Deterministic BI_RLE8 BMP payload (gate input builder, mirrored
    closed-form by the media_features_rle8 oracle): 8x8 raster =
    md5_expand(text, 64) over the grayscale palette. RLE8 is lossless, so
    the oracle recomputes the decoded pixels straight from the md5 bytes
    (same contract as media_features_png/gif); the decoder still runs the
    full real path (header/palette walk, escape machine, absolute-mode
    word padding, bottom-up reorder)."""
    return encode_bmp_rle8(list(md5_expand(text, GIF_DIM * GIF_DIM)),
                           GIF_DIM, GIF_DIM)


GIF_ANIM_FRAMES = 4   # synth animated GIF: 4 frames of 8x8


def synth_gif_anim_payload(text: str) -> bytes:
    """Deterministic animated-GIF payload (gate input builder, mirrored
    closed-form by the media_frames_gif oracle): GIF_ANIM_FRAMES full-
    screen 8x8 frames, frame k's raster = md5_expand(text + '#g' + k,
    64); encode_gif_anim interlaces the odd frames, so the per-frame
    reorder runs inside every payload. LZW is lossless, so the oracle
    recomputes every sampled frame straight from the per-frame md5
    expansions (same contract as media_frames_avi)."""
    frames = [list(md5_expand(f"{text}#g{k}", GIF_DIM * GIF_DIM))
              for k in range(GIF_ANIM_FRAMES)]
    return encode_gif_anim(frames, GIF_DIM, GIF_DIM)


def synth_avi_payload(text: str) -> bytes:
    """Deterministic AVI payload (gate input builder, mirrored closed-form
    by the media_frames_avi oracle): AVI_FRAMES frames of 8x4 gray, frame
    k's raster = md5_expand(text + '#f' + k, 32)."""
    frames = [list(md5_expand(f"{text}#f{k}", AVI_W * AVI_H))
              for k in range(AVI_FRAMES)]
    return encode_avi(frames, AVI_W, AVI_H)


JPEG_DIM = 16        # synth JPEG: 16x16 gray = 2x2 flat 8x8 blocks
JPEG_BLOCKS = 4
MJPEG_FRAMES = 4     # synth MJPEG AVI: 4 such JPEG frames


def _flat_block_raster(dcs: list[int]) -> list[int]:
    """4 block grays -> 16x16 raster of flat 8x8 blocks (b0 b1 / b2 b3)."""
    return [dcs[(y // 8) * 2 + (x // 8)]
            for y in range(JPEG_DIM) for x in range(JPEG_DIM)]


def synth_jpeg_payload(text: str) -> bytes:
    """Deterministic baseline-JPEG payload (gate input builder, mirrored
    closed-form by the media_features_jpeg oracle): 16x16 gray made of 4
    FLAT 8x8 blocks whose values are md5_expand(text, 4) — with the
    encoder's DC quant step of 8 such an image decodes bit-exactly (see
    the JPEG section comment), so the oracle can recompute the decoded
    features straight from the md5 bytes while the decoder still runs the
    full marker/Huffman/dequant/IDCT machinery."""
    return encode_jpeg(_flat_block_raster(list(md5_expand(text, 4))),
                       JPEG_DIM, JPEG_DIM)


def synth_jpeg_prog_payload(text: str) -> bytes:
    """Deterministic progressive-JPEG payload (gate input builder): the
    SAME 16x16 flat-block image as synth_jpeg_payload, encoded as a
    four-scan SOF2 file. Progressive decode of fully-transmitted
    coefficients is exactly the baseline decode, so the
    media_features_jpeg closed-form oracle applies verbatim while the
    decoder exercises the whole multi-scan successive-approximation
    machinery (DC/AC first + refinement passes, EOB-run codes)."""
    return encode_jpeg_progressive(
        _flat_block_raster(list(md5_expand(text, 4))), JPEG_DIM, JPEG_DIM)


G711_N_CODES = 32  # two md5 blocks' worth of 8-bit codes


def synth_g711_payload(doc_id: int, text: str) -> bytes:
    """Deterministic G.711 WAV payload (gate input builder, mirrored
    closed-form by the media_features_g711 oracle): the 8-bit code stream
    IS md5_expand(text, 32); even doc_id -> µ-law, odd -> A-law. The
    decoder still runs the full real path (RIFF walk, fmt 6/7 parse,
    segment/mantissa expansion per code)."""
    law = "ulaw" if doc_id % 2 == 0 else "alaw"
    return build_wav_g711(md5_expand(text, G711_N_CODES), law, 8000)


IMA_N_NIBBLES = 32  # one md5 hex string's worth -> 33 decoded samples


def synth_ima_payload(text: str) -> bytes:
    """Deterministic IMA-ADPCM WAV payload (gate input builder, mirrored
    closed-form by the media_features_ima oracle): the block's nibble
    stream IS the 32 hex digits of md5(text), with the header predictor/
    step-index seeded from md5(text || ':a') bytes — so the decoded
    samples are a pure function of the md5 strings, which the DuckDB
    oracle replays with a recursive CTE over the same step/index-adjust
    tables. The decoder still runs the full real path (RIFF walk, fmt
    0x0011 parse, block header, low-nibble-first unpack, step machine)."""
    h = hashlib.md5(text.encode()).hexdigest()
    nibbles = [int(c, 16) for c in h]
    b = hashlib.md5((text + ":a").encode()).digest()
    pred0 = b[0] * 256 + b[1] - 32768
    idx0 = b[2] % 89
    return build_wav_ima_block(pred0, idx0, nibbles, 8000)


def synth_msadpcm_payload(text: str) -> bytes:
    """Deterministic MS-ADPCM WAV payload (gate input builder, mirrored
    closed-form by the media_features_msadpcm oracle): the block's nibble
    stream IS the 32 hex digits of md5(text) (high nibble first on the
    wire), with the header (predictor index, initial delta, two seed
    samples) derived from md5(text || ':m') bytes — so the 34 decoded
    samples are a pure function of the md5 strings, which the DuckDB
    oracle replays with a recursive CTE over the same coefficient/adapt
    tables. The decoder still runs the full real path (RIFF walk, fmt
    0x0002 parse incl. the coefficient table, 7-byte block header,
    high-nibble-first unpack, two-tap predictor machine)."""
    h = hashlib.md5(text.encode()).hexdigest()
    nibbles = [int(c, 16) for c in h]
    b = hashlib.md5((text + ":m").encode()).digest()
    pred_idx = b[0] % 7
    delta0 = 16 + (b[1] * 256 + b[2]) % 30000
    s1 = b[3] * 256 + b[4] - 32768
    s2 = b[5] * 256 + b[6] - 32768
    return build_wav_msadpcm_block(pred_idx, delta0, s1, s2, nibbles, 8000)


def synth_mjpeg_payload(text: str) -> bytes:
    """Deterministic Motion-JPEG AVI payload (gate input builder, mirrored
    closed-form by the media_frames_mjpeg oracle): MJPEG_FRAMES frames,
    frame k = flat-block JPEG over md5_expand(text + '#j' + k, 4)."""
    frames = [_flat_block_raster(list(md5_expand(f"{text}#j{k}", 4)))
              for k in range(MJPEG_FRAMES)]
    return encode_mjpeg_avi(frames, JPEG_DIM, JPEG_DIM)
