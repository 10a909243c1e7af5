"""Pure-numpy codecs for media formats (PPM, WAV, PNG, GIF, JPEG).

The container has no PIL/cv2/ffmpeg, but these formats need no codec
library: binary PPM (P6) is a text header + raw RGB raster, RIFF/WAVE
PCM is a fixed 44-byte header + little-endian samples, PNG is
zlib-compressed (stdlib!) scanlines under five byte-level prediction
filters, GIF is variable-width LZW over palette indices in a
sub-block framed container, and baseline JPEG (greyscale) is an
8x8-DCT transform code with canonical Huffman entropy coding —
implemented here from the ITU-T T.81 spec with numpy alone. These
implementations make the m-family's decode -> resize -> feature path
REAL end-to-end — `decode_image` parses actual image bytes
(including COMPRESSED and TRANSFORM-CODED formats) and the
downstream statistics depend on the decoded values — while the
remaining codec-library formats (WebP/MP3/H.264, progressive or
chroma-subsampled JPEG) stay the documented external-codec extension
point in operators/multimodal.py.

Format references (public): the Netpbm P6 format spec (header
``P6\\n<w> <h>\\n<maxval>\\n`` then ``3*w*h`` raw bytes, ``#`` comments
allowed in the header); the Microsoft RIFF/WAVE container (chunked:
``RIFF<size>WAVE`` then ``fmt `` and ``data`` chunks; PCM16 mono);
the PNG specification (RFC 2083 / W3C PNG): 8-byte signature,
length-type-data-CRC chunks, IHDR/IDAT/IEND, zlib-deflated image data,
one filter-type byte per scanline selecting None/Sub/Up/Average/Paeth
byte predictors at bytes-per-pixel offset; and the GIF89a
specification (CompuServe, 1990): logical screen descriptor + global
color table, per-frame image descriptors, and image data as
variable-code-width LZW (clear/EOI codes, LSB-first bit packing,
code width grows 9->12 as the string table fills) split into
<=255-byte sub-blocks.

Everything is deterministic integer math — nearest-neighbor resize
uses ``src = (dst * src_dim) // dst_dim`` — so a DuckDB oracle can
state the identical arithmetic and the cross-engine hash gate applies
to decoded-pixel results, not just plumbing.
"""

from __future__ import annotations

import math
import struct
import zlib
from typing import NamedTuple

import numpy as np

PPM_MAGIC = b"P6"
WAV_MAGIC = b"RIFF"
PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


# -- PPM (binary Netpbm, P6) ------------------------------------------------


def encode_ppm(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 raster -> binary PPM bytes."""
    if arr.ndim != 3 or arr.shape[2] != 3 or arr.dtype != np.uint8:
        raise ValueError(f"expected (h, w, 3) uint8, got {arr.shape} {arr.dtype}")
    h, w = arr.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


def decode_ppm(data: bytes) -> np.ndarray:
    """Binary PPM bytes -> (h, w, 3) uint8. Handles whitespace runs and
    ``#`` comments in the header per the Netpbm spec; exactly one
    whitespace byte separates the maxval from the raster."""
    if not data.startswith(PPM_MAGIC):
        raise ValueError("not a binary PPM (P6) payload")
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        # skip whitespace and comment lines
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(data[start:pos]))
    pos += 1  # the single whitespace byte after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"only maxval=255 supported, got {maxval}")
    n = w * h * 3
    raster = data[pos : pos + n]
    if len(raster) != n:
        raise ValueError(f"truncated raster: want {n} bytes, got {len(raster)}")
    return np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)


def resize_nearest(arr: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize with floor index mapping
    ``src = (dst * src_dim) // dst_dim`` — integer-exact, so oracles
    can restate it."""
    h, w = arr.shape[:2]
    ys = (np.arange(out_h, dtype=np.int64) * h) // out_h
    xs = (np.arange(out_w, dtype=np.int64) * w) // out_w
    return arr[ys][:, xs]


# -- PNG (8-bit greyscale/RGB/RGBA, non-interlaced) -------------------------
#
# Filters operate on SCANLINE BYTES at bytes-per-pixel offset (PNG
# spec §6): for byte x with left = raw[x-bpp], up = prior[x],
# ul = prior[x-bpp] (0 beyond the left edge):
#   0 None    raw[x]
#   1 Sub     raw[x] - left            (mod 256)
#   2 Up      raw[x] - up              (mod 256)
#   3 Average raw[x] - (left+up)//2    (mod 256)
#   4 Paeth   raw[x] - PaethPredictor(left, up, ul)   (mod 256)

_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}  # greyscale, RGB, RGBA


def _paeth_row(raw: np.ndarray, prior: np.ndarray, bpp: int) -> np.ndarray:
    """Per-byte Paeth predictor for one scanline (int32 in/out)."""
    out = np.empty_like(raw)
    for x in range(len(raw)):
        a = int(raw[x - bpp]) if x >= bpp else 0  # left (reconstructed)
        b = int(prior[x])
        c = int(prior[x - bpp]) if x >= bpp else 0
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            out[x] = a
        elif pb <= pc:
            out[x] = b
        else:
            out[x] = c
    return out


def _unfilter_row(
    ftype: int, flt: np.ndarray, prior: np.ndarray, bpp: int
) -> np.ndarray:
    """Reconstruct one scanline (uint8) from its filtered bytes."""
    n = len(flt)
    raw = flt.astype(np.int32)
    prior32 = prior.astype(np.int32)
    if ftype == 0:
        pass
    elif ftype == 2:  # Up is fully vectorizable
        raw = (raw + prior32) & 0xFF
    elif ftype in (1, 3, 4):  # left-dependent: sequential along x
        for x in range(n):
            left = raw[x - bpp] if x >= bpp else 0
            if ftype == 1:
                raw[x] = (raw[x] + left) & 0xFF
            elif ftype == 3:
                raw[x] = (raw[x] + (left + prior32[x]) // 2) & 0xFF
            else:
                a, b = int(left), int(prior32[x])
                c = int(prior32[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                raw[x] = (raw[x] + pred) & 0xFF
    else:
        raise ValueError(f"unknown PNG filter type {ftype}")
    return raw.astype(np.uint8)


def _filter_row(
    ftype: int, raw: np.ndarray, prior: np.ndarray, bpp: int
) -> np.ndarray:
    """Apply filter ``ftype`` to one reconstructed scanline (uint8)."""
    raw32 = raw.astype(np.int32)
    prior32 = prior.astype(np.int32)
    left = np.concatenate([np.zeros(bpp, np.int32), raw32[:-bpp]])
    ul = np.concatenate([np.zeros(bpp, np.int32), prior32[:-bpp]])
    if ftype == 0:
        flt = raw32
    elif ftype == 1:
        flt = raw32 - left
    elif ftype == 2:
        flt = raw32 - prior32
    elif ftype == 3:
        flt = raw32 - (left + prior32) // 2
    elif ftype == 4:
        flt = raw32 - _paeth_row(raw32, prior32, bpp)
    else:
        raise ValueError(f"unknown PNG filter type {ftype}")
    return (flt & 0xFF).astype(np.uint8)


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 raster -> PNG bytes (color type 2, 8-bit,
    non-interlaced). Filter type cycles ``y % 5`` per scanline so every
    decoder filter path (None/Sub/Up/Average/Paeth) is exercised by any
    image taller than 4 rows — a decoder with one broken predictor
    cannot round-trip these payloads."""
    if arr.ndim != 3 or arr.shape[2] != 3 or arr.dtype != np.uint8:
        raise ValueError(f"expected (h, w, 3) uint8, got {arr.shape} {arr.dtype}")
    h, w = arr.shape[:2]
    bpp = 3
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    prior = np.zeros(w * bpp, dtype=np.uint8)
    lines = bytearray()
    for y in range(h):
        raw = arr[y].reshape(-1)
        ftype = y % 5
        lines.append(ftype)
        lines.extend(_filter_row(ftype, raw, prior, bpp).tobytes())
        prior = raw
    return (
        PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(lines), 6))
        + _png_chunk(b"IEND", b"")
    )


def _png_pack(vals: np.ndarray, depth: int) -> list[bytes]:
    """(h, w) sample values -> packed scanline bytes per row list
    (MSB-first within each byte, rows padded to byte boundaries)."""
    if depth == 8:
        return [row.tobytes() for row in vals]
    per = 8 // depth
    h, w = vals.shape
    pad = (-w) % per
    out = []
    for row in vals:
        if pad:
            row = np.concatenate([row, np.zeros(pad, np.uint8)])
        chunks = row.reshape(-1, per)
        byte = np.zeros(len(chunks), dtype=np.uint8)
        for k in range(per):
            byte |= (chunks[:, k] & ((1 << depth) - 1)) << (
                depth * (per - 1 - k)
            )
        out.append(byte.tobytes())
    return out


def encode_png_palette(
    indices: np.ndarray, palette: np.ndarray, depth: int = 4,
    interlace: bool = True,
) -> bytes:
    """(h, w) palette indices + (n, 3) palette -> PNG bytes (color
    type 3) at bit depth 1/2/4/8, optionally Adam7-interlaced. Filter
    type cycles y % 5 per scanline WITHIN each pass (sub-byte rows
    filter over packed bytes with bpp = 1, spec §7.2), so all five
    predictors sit on the decode path of every pass."""
    if depth not in (1, 2, 4, 8):
        raise ValueError(f"bad palette bit depth {depth}")
    if int(indices.max(initial=0)) >= min(len(palette), 1 << depth):
        raise ValueError("palette index out of range for depth")
    h, w = indices.shape
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, 1 if interlace else 0)
    passes = _PNG_ADAM7 if interlace else ((0, 0, 1, 1),)
    lines = bytearray()
    for x0, y0, dx, dy in passes:
        sub = indices[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        packed = _png_pack(sub.astype(np.uint8), depth)
        prior = np.zeros(len(packed[0]), dtype=np.uint8)
        for y, rowbytes in enumerate(packed):
            raw = np.frombuffer(rowbytes, dtype=np.uint8)
            ftype = y % 5
            lines.append(ftype)
            lines.extend(_filter_row(ftype, raw, prior, 1).tobytes())
            prior = raw
    return (
        PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", palette.astype(np.uint8).tobytes())
        + _png_chunk(b"IDAT", zlib.compress(bytes(lines), 6))
        + _png_chunk(b"IEND", b"")
    )


# Adam7 pass geometry (PNG spec §8.2): (x0, y0, dx, dy) per pass.
_PNG_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_defilter(raw: bytes, off: int, h: int, stride: int, bpp: int):
    """Defilter ``h`` scanlines of ``stride`` bytes starting at byte
    ``off`` of the inflated stream (each preceded by its filter-type
    byte). Returns ((h, stride) uint8, next offset)."""
    need = h * (stride + 1)
    if off + need > len(raw):
        raise ValueError(
            f"inflated size {len(raw)} < expected {off + need}"
        )
    out = np.empty((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ftype = raw[off]
        flt = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=off + 1)
        prior = _unfilter_row(ftype, flt, prior, bpp)
        out[y] = prior
        off += stride + 1
    return out, off


def _png_unpack(rows: np.ndarray, w: int, depth: int) -> np.ndarray:
    """(h, stride) packed scanline bytes -> (h, w) sample values for
    bit depth 1/2/4/8 (MSB-first packing, spec §7.2)."""
    if depth == 8:
        return rows[:, :w]
    per = 8 // depth
    shifts = np.arange(per - 1, -1, -1, dtype=np.uint8) * depth
    mask = (1 << depth) - 1
    # (h, stride, per) -> (h, stride*per), then trim the row tail
    unpacked = (rows[:, :, None] >> shifts[None, None, :]) & mask
    return unpacked.reshape(rows.shape[0], -1)[:, :w]


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> (h, w, channels) uint8. Walks the chunk list with
    CRC verification, inflates the concatenated IDAT stream, reverses
    the per-scanline filters, reassembles Adam7 interlaced passes, and
    maps palette indices through PLTE. Supports 8-bit greyscale / RGB
    / RGBA (color types 0/2/6) and palette (color type 3) at bit
    depths 1/2/4/8, both interlace methods — the wild-web PNG surface
    short of 16-bit and ancillary transparency (tRNS fails loudly
    rather than silently dropping alpha)."""
    if not data.startswith(PNG_MAGIC):
        raise ValueError("not a PNG payload")
    pos = len(PNG_MAGIC)
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (size,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        if pos + 12 + size > len(data):
            raise ValueError(f"truncated PNG {ctype!r} chunk")
        body = data[pos + 8 : pos + 8 + size]
        (crc,) = struct.unpack(">I", data[pos + 8 + size : pos + 12 + size])
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {ctype!r} chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            if len(body) % 3:
                raise ValueError("PLTE size not a multiple of 3")
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS":
            raise ValueError("PNG tRNS transparency not supported")
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
        pos += 12 + size
    if ihdr is None:
        raise ValueError("missing IHDR chunk")
    w, h, depth, ctype_id, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0 or interlace not in (0, 1):
        raise ValueError(
            f"unsupported PNG: comp={comp} filter={filt} "
            f"interlace={interlace}"
        )
    if ctype_id == 3:
        if depth not in (1, 2, 4, 8):
            raise ValueError(f"unsupported palette bit depth {depth}")
        if plte is None:
            raise ValueError("palette PNG missing PLTE chunk")
        channels = 1
    elif ctype_id in _PNG_CHANNELS:
        if depth != 8:
            raise ValueError(
                f"unsupported PNG: depth={depth} for color type {ctype_id}"
            )
        channels = _PNG_CHANNELS[ctype_id]
    else:
        raise ValueError(f"unsupported PNG color type {ctype_id}")
    bits_pp = channels * depth
    bpp = max(1, bits_pp // 8)
    raw = zlib.decompress(bytes(idat))

    def stride_of(width: int) -> int:
        return (width * bits_pp + 7) // 8

    if interlace == 0:
        rows, off = _png_defilter(raw, 0, h, stride_of(w), bpp)
        samples = _png_unpack(rows, w * channels, depth)
    else:
        samples = np.zeros((h, w * channels), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy in _PNG_ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            rows, off = _png_defilter(raw, off, ph, stride_of(pw), bpp)
            sub = _png_unpack(rows, pw * channels, depth).reshape(
                ph, pw, channels
            )
            samples.reshape(h, w, channels)[y0::dy, x0::dx] = sub
    if off != len(raw):
        raise ValueError(
            f"inflated size {len(raw)} != consumed {off}"
        )
    if ctype_id == 3:
        idx = samples.reshape(h, w)
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("palette index out of range")
        return plte[idx]
    return samples.reshape(h, w, channels)


# -- GIF (animated, 8-bit indexed, greyscale GCT) ---------------------------
#
# Image data is GIF-variant LZW over palette indices: min code size 8,
# clear = 256, end-of-information = 257, first dynamic code 258; code
# width starts at 9 bits and grows to at most 12 as the string table
# fills, following the GIF89a convention: the decoder widens when its
# table reaches 1<<width entries, and the encoder — whose table runs
# one entry ahead of the decoder's — widens one assignment later, when
# the next free code reaches (1<<width)+1. At 4096 entries the encoder
# emits CLEAR and both sides reset (the decoder also tolerates
# deferred-clear streams by freezing its full table until a CLEAR
# arrives). Codes are packed LSB-first into bytes, and the byte stream
# is framed into <=255-byte sub-blocks each preceded by its length,
# terminated by a zero-length block. Interop with standards encoders is
# regression-pinned against a checked-in real-world GIF fixture
# (tests/fixtures/earth.gif, from the public Tk 8.6 demo images).

GIF_MAGIC = b"GIF89a"
_GIF_MIN_CODE_SIZE = 8
_GIF_MAX_WIDTH = 12


def _lzw_encode(indices: bytes) -> bytes:
    """GIF-variant LZW: palette-index bytes -> packed code stream."""
    clear = 1 << _GIF_MIN_CODE_SIZE
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = _GIF_MIN_CODE_SIZE + 1
    emit(clear, width)
    buf = b""
    for byte in indices:
        nb = buf + bytes([byte])
        if nb in table:
            buf = nb
            continue
        emit(table[buf], width)
        table[nb] = next_code
        next_code += 1
        # GIF89a: widen only once a code that NEEDS width+1 bits has
        # been assigned — one entry later than the decoder, whose table
        # lags this one by a single entry.
        if next_code == (1 << width) + 1 and width < _GIF_MAX_WIDTH:
            width += 1
        if next_code == (1 << _GIF_MAX_WIDTH):
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = _GIF_MIN_CODE_SIZE + 1
        buf = bytes([byte])
    if buf:
        emit(table[buf], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(
    data: bytes, n_expected: int, min_code_size: int = _GIF_MIN_CODE_SIZE
) -> bytes:
    """GIF-variant LZW: packed code stream -> palette-index bytes."""
    clear = 1 << min_code_size
    eoi = clear + 1
    acc = 0
    nbits = 0
    pos = 0
    width = min_code_size + 1
    table: list[bytes] = []
    prev: bytes | None = None
    out = bytearray()

    def reset() -> None:
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = min_code_size + 1
        prev = None

    reset()
    while len(out) < n_expected:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated LZW stream")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            reset()
            continue
        if code == eoi:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError(f"corrupt LZW stream: code {code}")
        out.extend(entry)
        if prev is not None and len(table) < (1 << _GIF_MAX_WIDTH):
            table.append(prev + entry[:1])
            # GIF89a rule: widen when the table is full at the current
            # width (the next append would need width+1 bits). The
            # encoder, whose table runs one entry ahead, widens at
            # next_code == (1<<width)+1 — the two stay in lockstep.
            if len(table) == (1 << width) and width < _GIF_MAX_WIDTH:
                width += 1
        prev = entry
    if len(out) != n_expected:
        raise ValueError(f"LZW decoded {len(out)} bytes, want {n_expected}")
    return bytes(out)


def _gif_subblocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out.extend(chunk)
    out.append(0)
    return bytes(out)


GIF_GREY_PALETTE = bytes(v for i in range(256) for v in (i, i, i))


def encode_gif(
    frames: np.ndarray, delay_cs: int = 4, interlace: bool = False
) -> bytes:
    """(n, h, w) uint8 palette-index frames -> animated GIF89a bytes
    with a 256-entry greyscale global color table. Each frame gets a
    graphic-control extension (delay in centiseconds) and its own
    LZW-compressed image data; ``interlace`` stores each frame's rows
    in the GIF89a 4-pass order with the descriptor flag set."""
    if frames.ndim != 3 or frames.dtype != np.uint8:
        raise ValueError(f"expected (n, h, w) uint8, got {frames.shape} {frames.dtype}")
    n, h, w = frames.shape
    out = bytearray()
    out.extend(GIF_MAGIC)
    # logical screen descriptor: GCT present, 8-bit color res, 256 entries
    out.extend(struct.pack("<HHBBB", w, h, 0xF7, 0, 0))
    out.extend(GIF_GREY_PALETTE)
    for f in range(n):
        out.extend(b"\x21\xf9\x04\x00" + struct.pack("<H", delay_cs) + b"\x00\x00")
        out.extend(
            b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
            + (b"\x40" if interlace else b"\x00")
        )
        rows = frames[f]
        if interlace:
            rows = rows[_gif_interlace_order(h)]
        out.append(_GIF_MIN_CODE_SIZE)
        out.extend(_gif_subblocks(_lzw_encode(rows.tobytes())))
    out.append(0x3B)
    return bytes(out)


def decode_gif(data: bytes) -> tuple[np.ndarray, np.ndarray]:
    """GIF bytes -> ((n, h, w) uint8 palette indices, (256, 3) uint8
    palette). Walks the block structure: logical screen descriptor +
    global color table, skips extensions, LZW-decodes each image
    descriptor's sub-block stream. Full-frame, GCT-only images (the
    subset the fixture encoder emits; per-frame local color tables and
    interlace raise)."""
    if not data.startswith(GIF_MAGIC[:3]):
        raise ValueError("not a GIF payload")
    if len(data) < 13:
        raise ValueError("truncated GIF")

    def _byte(p: int) -> int:
        if p >= len(data):
            raise ValueError("truncated GIF")
        return data[p]

    w, h, packed, _bg, _aspect = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    if not packed & 0x80:
        raise ValueError("missing global color table")
    gct_n = 2 << (packed & 0x07)
    palette = np.frombuffer(
        data[pos : pos + 3 * gct_n], dtype=np.uint8
    ).reshape(gct_n, 3)
    if gct_n < 256:
        palette = np.vstack([palette, np.zeros((256 - gct_n, 3), np.uint8)])
    pos += 3 * gct_n
    frames: list[np.ndarray] = []
    while pos < len(data):
        introducer = _byte(pos)
        pos += 1
        if introducer == 0x3B:  # trailer
            break
        if introducer == 0x21:  # extension: label + sub-blocks
            pos += 1
            while _byte(pos) != 0:
                pos += 1 + data[pos]
            pos += 1
            continue
        if introducer != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{introducer:02x}")
        if pos + 9 > len(data):
            raise ValueError("truncated GIF")
        left, top, fw, fh, fpacked = struct.unpack("<HHHHB", data[pos : pos + 9])
        pos += 9
        if fpacked & 0x80:
            raise ValueError("local color tables not supported")
        if (left, top, fw, fh) != (0, 0, w, h):
            raise ValueError("partial-frame images not supported")
        mcs = _byte(pos)
        pos += 1
        if not 2 <= mcs <= 8:
            raise ValueError(f"min code size {mcs} outside GIF89a range 2..8")
        lzw = bytearray()
        while _byte(pos) != 0:
            size = data[pos]
            if pos + 1 + size > len(data):
                raise ValueError("truncated GIF")
            lzw.extend(data[pos + 1 : pos + 1 + size])
            pos += 1 + size
        pos += 1
        idx = _lzw_decode(bytes(lzw), fw * fh, mcs)
        frame = np.frombuffer(idx, dtype=np.uint8).reshape(fh, fw)
        if fpacked & 0x40:  # interlaced: rows arrive in 4-pass order
            out = np.empty_like(frame)
            out[_gif_interlace_order(fh)] = frame
            frame = out
        frames.append(frame)
    return np.stack(frames), palette


def _gif_interlace_order(h: int) -> list[int]:
    """GIF89a appendix E 4-pass row order: every 8th row from 0, every
    8th from 4, every 4th from 2, every 2nd from 1."""
    return (
        list(range(0, h, 8)) + list(range(4, h, 8))
        + list(range(2, h, 4)) + list(range(1, h, 2))
    )


# -- WAV (RIFF PCM16 mono) --------------------------------------------------


def encode_wav(samples: np.ndarray, sample_rate: int = 16_000) -> bytes:
    """1-D int16 sample array -> RIFF/WAVE PCM16 mono bytes."""
    if samples.ndim != 1 or samples.dtype != np.int16:
        raise ValueError(f"expected 1-D int16, got {samples.shape} {samples.dtype}")
    pcm = samples.astype("<i2").tobytes()
    byte_rate = sample_rate * 2
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(pcm), b"WAVE",
        b"fmt ", 16, 1, 1, sample_rate, byte_rate, 2, 16,
        b"data", len(pcm),
    )
    return hdr + pcm


def decode_wav(data: bytes) -> tuple[int, np.ndarray]:
    """RIFF/WAVE bytes -> (sample_rate, 1-D int16 samples). Walks the
    chunk list (tolerates extra chunks like LIST/fact before data);
    PCM16 mono only."""
    if data[:4] != WAV_MAGIC or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    sample_rate = None
    pcm = None
    while pos + 8 <= len(data):
        cid, size = data[pos : pos + 4], struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt, channels, sample_rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if (fmt, channels, bits) != (1, 1, 16):
                raise ValueError(
                    f"only PCM16 mono supported, got fmt={fmt} ch={channels} bits={bits}"
                )
        elif cid == b"data":
            pcm = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if sample_rate is None or pcm is None:
        raise ValueError("missing fmt/data chunk")
    return sample_rate, np.frombuffer(pcm, dtype="<i2").astype(np.int16)


# -- JPEG (baseline sequential DCT, greyscale, JFIF) ------------------------
#
# The one transform-coded format in the codec family: ITU-T T.81
# baseline process (SOF0) over a single 8-bit luminance component.
# Pipeline per the spec: level shift (-128), 8x8 forward DCT,
# uniform quantization (Annex K.1 luminance table), zigzag scan,
# DC DPCM + AC zero-run-length coding, canonical Huffman entropy
# coding (Annex K.3/K.5 tables), 0xFF byte stuffing, JFIF marker
# framing (SOI/APP0/DQT/SOF0/DHT/SOS/EOI). The decoder walks the
# marker stream (skipping APPn/COM), rebuilds the canonical Huffman
# codes from BITS/HUFFVAL exactly as T.81 Annex C prescribes, handles
# restart markers (RSTn: bit realignment + DC predictor reset), and
# exposes both the full IDCT raster and the quantized-DC plane.
#
# The quantized DC path is INTEGER-EXACT and oracle-statable: for an
# 8x8 block with pixel sum S, the orthonormal FDCT gives
# F(0,0) = (S - 64*128)/8, and with the K.1 DC step q00 = 16 the
# denominator 8*q00 = 128 is a power of two, so
#     qDC = round_half_away((S - 8192) / 128)
# is exact integer arithmetic on both engines. The encoder computes
# the DC term with this integer formula (it IS the DCT DC value,
# computed without float error) so encoder, decoder, and SQL oracle
# agree bit-for-bit; the lossy AC path is exercised by roundtrip and
# property tests instead.

JPEG_MAGIC = b"\xff\xd8\xff"

# Annex K.1 luminance quantization table (row-major).
JPEG_QUANT = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int32,
)

# Annex K.3 (DC luminance) and K.5 (AC luminance) Huffman specs:
# BITS[i] = number of codes of length i+1; HUFFVAL in code order.
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# Annex K.2 chrominance quantization table (row-major).
JPEG_QUANT_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int32,
)

# Annex K.4 (DC chrominance) and K.6 (AC chrominance) Huffman specs.
_JPEG_DC_BITS_C = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_JPEG_DC_VALS_C = list(range(12))
_JPEG_AC_BITS_C = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_JPEG_AC_VALS_C = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# Zigzag scan order (T.81 Figure 5): _JPEG_ZIGZAG[k] = row-major index
# of the k-th coefficient in scan order.
_JPEG_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)


def _jpeg_dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix D: F = D @ block @ D.T."""
    x = np.arange(8, dtype=np.float64)
    d = np.cos((2.0 * x[None, :] + 1.0) * x[:, None] * np.pi / 16.0) / 2.0
    d[0, :] = 1.0 / (2.0 * np.sqrt(2.0))
    return d


_JPEG_DCT = _jpeg_dct_matrix()


def _round_half_away(num: int, den: int) -> int:
    """round(num/den) with ties away from zero; den > 0; pure ints."""
    if num >= 0:
        return (2 * num + den) // (2 * den)
    return -((2 * -num + den) // (2 * den))


def jpeg_canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """T.81 Annex C code generation: {symbol: (code, length)}. Codes
    are assigned in HUFFVAL order, counting up within each length and
    doubling at each length step (canonical Huffman)."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


_JPEG_DC_CODES = jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
_JPEG_AC_CODES = jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
_JPEG_DC_CODES_C = jpeg_canonical_codes(_JPEG_DC_BITS_C, _JPEG_DC_VALS_C)
_JPEG_AC_CODES_C = jpeg_canonical_codes(_JPEG_AC_BITS_C, _JPEG_AC_VALS_C)
# Decoder side: {(length, code): symbol}.
_JPEG_DC_DECODE = {(ln, c): s for s, (c, ln) in _JPEG_DC_CODES.items()}
_JPEG_AC_DECODE = {(ln, c): s for s, (c, ln) in _JPEG_AC_CODES.items()}


class _JpegBitWriter:
    """MSB-first bit packer with 0xFF byte stuffing (T.81 F.1.2.3)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.nbits -= 8
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def restart_marker(self, n: int) -> None:
        """Byte-align with 1-fill bits, then emit RSTn (markers are
        written raw — only entropy bytes are stuffed)."""
        if self.nbits:
            self.put(0xFF, 8 - self.nbits)
        self.out += bytes([0xFF, 0xD0 + n])

    def flush(self) -> bytes:
        if self.nbits:
            self.put(0xFF, 8 - self.nbits)  # pad with 1-bits
        return bytes(self.out)


def _jpeg_magnitude(v: int) -> tuple[int, int]:
    """(category, extra-bits value) per T.81 F.1.2.1: negative values
    are sent as v + 2^size - 1."""
    size = int(abs(v)).bit_length()
    return size, (v if v >= 0 else v + (1 << size) - 1)


def _jpeg_segment(marker: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def encode_jpeg(arr: np.ndarray, restart_interval: int = 0) -> bytes:
    """(h, w) uint8 greyscale raster -> baseline JFIF bytes.

    Arbitrary dimensions: the raster is edge-replicated up to the next
    multiple of 8 (the decoder crops back to the SOF0 dimensions).
    DC is quantized with the exact integer formula
    round_half_away((S - 8192) / 128); AC with
    sign * floor(|F|/q + 1/2) in float64. With ``restart_interval``
    > 0 a DRI segment is written and a byte-aligned RSTn marker (DC
    predictor reset) is emitted every that-many MCUs (T.81 B.2.1) —
    the mechanism real encoders use so a corrupted scan only loses
    one interval.
    """
    if arr.ndim != 2 or arr.dtype != np.uint8:
        raise ValueError(f"expected (h, w) uint8 greyscale, got {arr.shape} {arr.dtype}")
    h, w = arr.shape
    if h == 0 or w == 0 or h > 0xFFFF or w > 0xFFFF:
        raise ValueError(f"bad dimensions {h}x{w}")
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(arr, ((0, ph - h), (0, pw - w)), mode="edge")

    # Forward DCT + quantization for all blocks at once.
    blocks = (
        padded.reshape(ph // 8, 8, pw // 8, 8)
        .transpose(0, 2, 1, 3)
        .astype(np.float64)
    )
    shifted = blocks - 128.0
    coefs = np.einsum("ux,byxz,vz->byuv", _JPEG_DCT, shifted, _JPEG_DCT)
    q = np.sign(coefs) * np.floor(np.abs(coefs) / JPEG_QUANT[None, None] + 0.5)
    q = q.astype(np.int32)
    # Overwrite DC with the exact integer quantization (no float path):
    sums = blocks.reshape(ph // 8, pw // 8, 64).sum(axis=2).astype(np.int64)
    for by in range(ph // 8):
        for bx in range(pw // 8):
            q[by, bx, 0, 0] = _round_half_away(int(sums[by, bx]) - 8192, 128)

    writer = _JpegBitWriter()
    pred = 0
    mcu = 0
    for by in range(ph // 8):
        for bx in range(pw // 8):
            if restart_interval and mcu and mcu % restart_interval == 0:
                writer.restart_marker((mcu // restart_interval - 1) % 8)
                pred = 0
            mcu += 1
            zz = q[by, bx].reshape(64)[_JPEG_ZIGZAG]
            diff = int(zz[0]) - pred
            pred = int(zz[0])
            size, extra = _jpeg_magnitude(diff)
            code, length = _JPEG_DC_CODES[size]
            writer.put(code, length)
            if size:
                writer.put(extra, size)
            run = 0
            last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
            for k in range(1, 64):
                v = int(zz[k])
                if k > last_nz:
                    code, length = _JPEG_AC_CODES[0x00]  # EOB
                    writer.put(code, length)
                    break
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, length = _JPEG_AC_CODES[0xF0]  # ZRL
                    writer.put(code, length)
                    run -= 16
                size, extra = _jpeg_magnitude(v)
                code, length = _JPEG_AC_CODES[(run << 4) | size]
                writer.put(code, length)
                writer.put(extra, size)
                run = 0
    entropy = writer.flush()

    zz_quant = JPEG_QUANT.reshape(64)[_JPEG_ZIGZAG].astype(np.uint8).tobytes()
    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += _jpeg_segment(0xE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HHBB", 1, 1, 0, 0))
    out += _jpeg_segment(0xDB, b"\x00" + zz_quant)  # DQT, Pq=0 Tq=0
    out += _jpeg_segment(0xC0, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00")  # SOF0
    out += _jpeg_segment(0xC4, b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
    out += _jpeg_segment(0xC4, b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
    if restart_interval:
        out += _jpeg_segment(0xDD, struct.pack(">H", restart_interval))  # DRI
    out += _jpeg_segment(0xDA, b"\x01\x01\x00\x00\x3f\x00")  # SOS
    out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _JpegBitReader:
    """MSB-first bit reader over the entropy segment: un-stuffs
    0xFF00; restart boundaries are synced explicitly by the caller
    (T.81 B.2.1 — intervals are byte-aligned with fill bits, so the
    in-flight accumulator is discarded, never decoded across)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("truncated JPEG entropy stream")
        byte = d[self.pos]
        if byte == 0xFF:
            if self.pos + 1 >= len(d):
                raise ValueError("truncated JPEG entropy stream")
            if d[self.pos + 1] != 0x00:
                raise ValueError("JPEG entropy stream ran into a marker")
            self.pos += 2  # stuffed data byte
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | byte
        self.nbits += 8

    def sync_restart(self) -> None:
        """Discard fill bits and consume the next RSTn marker. Between
        intervals the stream holds at most one fill byte (possibly FF
        with its stuffed 00) before the marker — anything else is
        corruption."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        for _ in range(2):  # marker now, or after one fill unit
            if self.pos + 1 >= len(d):
                raise ValueError("truncated JPEG: missing restart marker")
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            if d[self.pos] == 0xFF and d[self.pos + 1] == 0x00:
                self.pos += 2  # 0xFF fill byte, stuffed
            else:
                self.pos += 1  # plain fill byte
        raise ValueError("restart marker not found at interval boundary")

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        b = (self.acc >> self.nbits) & 1
        self.acc &= (1 << self.nbits) - 1
        return b

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def huffman(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")


def _jpeg_extend(extra: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map size-bit magnitude bits to a value."""
    if size == 0:
        return 0
    if extra < (1 << (size - 1)):
        return extra - (1 << size) + 1
    return extra


class _JpegHeader(NamedTuple):
    """Everything the marker walk yields before entropy data starts
    (single-component view — the legacy greyscale decode path)."""

    quant: np.ndarray
    dc_table: dict[tuple[int, int], int]
    ac_table: dict[tuple[int, int], int]
    h: int
    w: int
    restart_interval: int
    sos_pos: int


class _JpegComp(NamedTuple):
    comp_id: int
    hsamp: int
    vsamp: int
    tq: int  # quant table id


class _JpegHeaderMulti(NamedTuple):
    """Multi-component marker-walk result (SOF0 baseline / SOF2
    progressive, 1 or 3 components; for progressive streams the
    fields describe the FIRST scan)."""

    quants: dict[int, np.ndarray]  # tq -> (8, 8) natural order
    dc_tables: dict[int, dict[tuple[int, int], int]]  # th -> decode map
    ac_tables: dict[int, dict[tuple[int, int], int]]
    comps: list[_JpegComp]  # SOF order
    sos_tables: dict[int, tuple[int, int]]  # comp_id -> (td, ta)
    h: int
    w: int
    restart_interval: int
    sos_pos: int
    progressive: bool = False
    scan_comps: tuple[int, ...] = ()  # first scan's comp ids, order
    scan_spec: tuple[int, int, int, int] = (0, 63, 0, 0)  # Ss,Se,Ah,Al


def _jpeg_parse_headers_multi(data: bytes) -> _JpegHeaderMulti:
    """Walk the marker stream up to (and including) SOS: -> all quant
    and Huffman tables by id, per-component sampling factors and table
    assignments, dimensions, restart interval, and the offset where
    entropy-coded data begins. Shared by the greyscale decoder (via
    the :func:`_jpeg_parse_headers` adapter), the restart-segment
    path, and the 4:2:0 color decoder."""
    if not data.startswith(JPEG_MAGIC[:2]):
        raise ValueError("not a JPEG payload")
    pos = 2
    quants: dict[int, np.ndarray] = {}
    dc_tables: dict[int, dict[tuple[int, int], int]] = {}
    ac_tables: dict[int, dict[tuple[int, int], int]] = {}
    comps: list[_JpegComp] = []
    sos_tables: dict[int, tuple[int, int]] = {}
    h = w = None
    restart_interval = 0
    progressive = False
    scan_comps: tuple[int, ...] = ()
    scan_spec = (0, 63, 0, 0)
    while True:
        if pos + 4 > len(data):
            raise ValueError("truncated JPEG: no SOS marker")
        if data[pos] != 0xFF:
            raise ValueError(f"JPEG marker expected at {pos}")
        marker = data[pos + 1]
        if marker == 0xD8:  # stray SOI
            pos += 2
            continue
        seglen = struct.unpack(">H", data[pos + 2 : pos + 4])[0]
        body = data[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT (possibly several tables)
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0x0F
                if pq != 0:
                    raise ValueError("only 8-bit quant tables supported")
                zz = np.frombuffer(body[p + 1 : p + 65], dtype=np.uint8)
                nat = np.zeros(64, dtype=np.int32)
                nat[_JPEG_ZIGZAG] = zz
                quants[tq] = nat.reshape(8, 8)
                p += 65
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            precision, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            if precision != 8 or ncomp not in (1, 3):
                raise ValueError(
                    f"only 8-bit 1- or 3-component supported "
                    f"(precision={precision}, components={ncomp})"
                )
            comps = [
                _JpegComp(
                    body[6 + 3 * i],
                    body[7 + 3 * i] >> 4,
                    body[7 + 3 * i] & 0x0F,
                    body[8 + 3 * i],
                )
                for i in range(ncomp)
            ]
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError(
                "only baseline (SOF0) / progressive (SOF2) supported"
            )
        elif marker == 0xC4:  # DHT (possibly several tables)
            p = 0
            while p < len(body):
                tc, th = body[p] >> 4, body[p] & 0x0F
                bits = list(body[p + 1 : p + 17])
                n = sum(bits)
                vals = list(body[p + 17 : p + 17 + n])
                table = {
                    (ln, c): s
                    for s, (c, ln) in jpeg_canonical_codes(bits, vals).items()
                }
                if tc == 0:
                    dc_tables[th] = table
                else:
                    ac_tables[th] = table
                p += 17 + n
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif marker == 0xDA:  # SOS: entropy data follows
            ns = body[0]
            for i in range(ns):
                cid = body[1 + 2 * i]
                sos_tables[cid] = (body[2 + 2 * i] >> 4, body[2 + 2 * i] & 0x0F)
            scan_comps = tuple(body[1 + 2 * i] for i in range(ns))
            ss, se, ahal = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
            scan_spec = (ss, se, ahal >> 4, ahal & 0x0F)
            pos += 2 + seglen
            break
        # APPn / COM / anything else: skip
        pos += 2 + seglen
    if not quants or not dc_tables or h is None or not comps:
        raise ValueError("missing DQT/DHT/SOF before SOS")
    if not ac_tables and not (progressive and scan_spec[1] == 0):
        raise ValueError("missing AC Huffman tables")
    return _JpegHeaderMulti(
        quants, dc_tables, ac_tables, comps, sos_tables, h, w,
        restart_interval, pos, progressive, scan_comps, scan_spec,
    )


def _jpeg_parse_headers(data: bytes) -> _JpegHeader:
    """Single-component adapter over :func:`_jpeg_parse_headers_multi`
    — the greyscale decode / restart-split paths' unchanged view."""
    hdr = _jpeg_parse_headers_multi(data)
    if hdr.progressive:
        raise ValueError(
            "progressive stream on the baseline path — use"
            " decode_jpeg_progressive_dc"
        )
    if len(hdr.comps) != 1:
        raise ValueError(
            f"single-component path on a {len(hdr.comps)}-component JPEG"
            " — use decode_jpeg_color"
        )
    comp = hdr.comps[0]
    if (comp.hsamp, comp.vsamp) != (1, 1):
        raise ValueError("subsampled components not supported")
    td, ta = hdr.sos_tables.get(comp.comp_id, (0, 0))
    return _JpegHeader(
        hdr.quants[comp.tq],
        hdr.dc_tables[td],
        hdr.ac_tables[ta],
        hdr.h,
        hdr.w,
        hdr.restart_interval,
        hdr.sos_pos,
    )


def _decode_entropy_block(
    reader: _JpegBitReader,
    dc_table: dict[tuple[int, int], int],
    ac_table: dict[tuple[int, int], int],
    pred: int,
) -> tuple[np.ndarray, int]:
    """Entropy-decode ONE 8x8 block: -> (zigzag-order coefficients
    (64,) int32, updated DC predictor). The AC walk must run even
    when only DC is wanted — it is what advances the bitstream."""
    zz = np.zeros(64, dtype=np.int32)
    size = reader.huffman(dc_table)
    diff = _jpeg_extend(reader.bits(size), size)
    pred += diff
    zz[0] = pred
    k = 1
    while k < 64:
        sym = reader.huffman(ac_table)
        if sym == 0x00:  # EOB
            break
        run, size = sym >> 4, sym & 0x0F
        if size == 0:
            if run != 15:
                raise ValueError(f"invalid AC symbol {sym:#x}")
            k += 16  # ZRL
            continue
        k += run
        if k > 63:
            raise ValueError("AC run overflows block")
        zz[k] = _jpeg_extend(reader.bits(size), size)
        k += 1
    return zz, pred


def _decode_jpeg_coefficients(
    data: bytes,
) -> tuple[np.ndarray, np.ndarray, int, int]:
    """Parse markers + entropy-decode: -> (quantized coefficient
    blocks (n_by, n_bx, 8, 8) int32 in natural order, quant table
    (8, 8) int32, true height, true width)."""
    hdr = _jpeg_parse_headers(data)
    h, w, restart_interval = hdr.h, hdr.w, hdr.restart_interval
    n_by, n_bx = -(-h // 8), -(-w // 8)
    coefs = np.zeros((n_by, n_bx, 64), dtype=np.int32)
    reader = _JpegBitReader(data, hdr.sos_pos)
    pred = 0
    mcu = 0
    for by in range(n_by):
        for bx in range(n_bx):
            if restart_interval and mcu and mcu % restart_interval == 0:
                reader.sync_restart()
                pred = 0
            zz, pred = _decode_entropy_block(
                reader, hdr.dc_table, hdr.ac_table, pred
            )
            nat = np.zeros(64, dtype=np.int32)
            nat[_JPEG_ZIGZAG] = zz
            coefs[by, bx] = nat
            mcu += 1
    return coefs.reshape(n_by, n_bx, 8, 8), hdr.quant, h, w


def decode_jpeg_dc(data: bytes) -> np.ndarray:
    """JPEG bytes -> (n_by, n_bx) int32 plane of QUANTIZED DC
    coefficients — the 1/64-scale "DC thumbnail" extractable without
    any IDCT (the standard trick for thumbnailing crawl images at
    scale). Requires full entropy decode (AC codes must be walked to
    advance the bitstream), so Huffman, DPCM, and marker handling are
    all on this path."""
    coefs, _, _, _ = _decode_jpeg_coefficients(data)
    return coefs[:, :, 0, 0]


def decode_jpeg(data: bytes) -> np.ndarray:
    """JPEG bytes -> (h, w) uint8 greyscale raster: entropy decode,
    dequantize, inverse DCT, level shift, clamp, crop to SOF0 dims."""
    coefs, quant, h, w = _decode_jpeg_coefficients(data)
    deq = coefs.astype(np.float64) * quant[None, None]
    blocks = np.einsum("xu,byuv,zv->byxz", _JPEG_DCT.T, deq, _JPEG_DCT.T)
    n_by, n_bx = coefs.shape[:2]
    raster = (
        blocks.transpose(0, 2, 1, 3).reshape(n_by * 8, n_bx * 8) + 128.0
    )
    return np.clip(np.round(raster), 0, 255).astype(np.uint8)[:h, :w]


def _jpeg_quantize_plane(plane: np.ndarray, quant: np.ndarray) -> np.ndarray:
    """(ph, pw) uint8 plane (dims multiples of 8) -> quantized
    coefficient blocks (ph//8, pw//8, 8, 8) int32, with the DC term
    overwritten by the exact integer formula
    round_half_away((S - 8192) / (8 * q00)) so encoder, decoder, and
    SQL oracle agree bit-for-bit on DC for ANY quant table."""
    ph, pw = plane.shape
    blocks = (
        plane.reshape(ph // 8, 8, pw // 8, 8)
        .transpose(0, 2, 1, 3)
        .astype(np.float64)
    )
    coefs = np.einsum("ux,byxz,vz->byuv", _JPEG_DCT, blocks - 128.0, _JPEG_DCT)
    q = (np.sign(coefs) * np.floor(np.abs(coefs) / quant[None, None] + 0.5)).astype(
        np.int32
    )
    sums = blocks.reshape(ph // 8, pw // 8, 64).sum(axis=2).astype(np.int64)
    den = 8 * int(quant[0, 0])
    for by in range(ph // 8):
        for bx in range(pw // 8):
            q[by, bx, 0, 0] = _round_half_away(int(sums[by, bx]) - 8192, den)
    return q


def _jpeg_write_block(
    writer: _JpegBitWriter,
    zz: np.ndarray,
    pred: int,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
) -> int:
    """Entropy-write ONE zigzag-ordered block; returns the new DC
    predictor. (The greyscale encoder keeps its fused loop; this is
    the shared per-block form the interleaved color scan uses.)"""
    diff = int(zz[0]) - pred
    size, extra = _jpeg_magnitude(diff)
    code, length = dc_codes[size]
    writer.put(code, length)
    if size:
        writer.put(extra, size)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for k in range(1, 64):
        v = int(zz[k])
        if k > last_nz:
            code, length = ac_codes[0x00]  # EOB
            writer.put(code, length)
            break
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            writer.put(code, length)
            run -= 16
        size, extra = _jpeg_magnitude(v)
        code, length = ac_codes[(run << 4) | size]
        writer.put(code, length)
        writer.put(extra, size)
        run = 0
    return int(zz[0])


def encode_jpeg_color(
    y: np.ndarray,
    cb: np.ndarray,
    cr: np.ndarray,
    restart_interval: int = 0,
) -> bytes:
    """YCbCr 4:2:0 component planes -> baseline JFIF bytes (SOF0,
    3 components, Y sampled 2x2 against 1x1 chroma — the layout of
    essentially every camera/web JPEG).

    Takes the COMPONENT PLANES, not RGB: per T.81 the codec is
    component-agnostic (the RGB<->YCbCr transform is JFIF metadata,
    not entropy coding), and taking planes keeps the integer-exact DC
    oracle per component. ``cb``/``cr`` arrive already at half
    resolution (ceil(h/2), ceil(w/2)) — how the subsampling happened
    is the caller's (tested float) business, what the codec owns is
    the interleaved-MCU scan. Y pads to 16-pixel multiples
    (edge-replicated), chroma to the matching 8-multiples; MCU =
    4 Y blocks (raster order) + Cb + Ca with per-component DC
    predictors (T.81 A.2.3); luma uses the Annex K.1/K.3/K.5 tables,
    chroma K.2/K.4/K.6. DC terms are integer-exact per component
    (round_half_away((S-8192)/128) luma, /136 chroma)."""
    if y.ndim != 2 or y.dtype != np.uint8:
        raise ValueError(f"expected (h, w) uint8 luma, got {y.shape} {y.dtype}")
    h, w = y.shape
    ch, cw = -(-h // 2), -(-w // 2)
    if cb.shape != (ch, cw) or cr.shape != (ch, cw):
        raise ValueError(
            f"chroma planes must be ({ch}, {cw}), got {cb.shape} {cr.shape}"
        )
    if h == 0 or w == 0 or h > 0xFFFF or w > 0xFFFF:
        raise ValueError(f"bad dimensions {h}x{w}")
    ph, pw = -(-h // 16) * 16, -(-w // 16) * 16
    yp = np.pad(y, ((0, ph - h), (0, pw - w)), mode="edge")
    cbp = np.pad(cb, ((0, ph // 2 - ch), (0, pw // 2 - cw)), mode="edge")
    crp = np.pad(cr, ((0, ph // 2 - ch), (0, pw // 2 - cw)), mode="edge")

    qy = _jpeg_quantize_plane(yp, JPEG_QUANT)
    qcb = _jpeg_quantize_plane(cbp, JPEG_QUANT_CHROMA)
    qcr = _jpeg_quantize_plane(crp, JPEG_QUANT_CHROMA)

    writer = _JpegBitWriter()
    preds = {"y": 0, "cb": 0, "cr": 0}
    n_mcuy, n_mcux = ph // 16, pw // 16
    mcu = 0
    for my in range(n_mcuy):
        for mx in range(n_mcux):
            if restart_interval and mcu and mcu % restart_interval == 0:
                writer.restart_marker((mcu // restart_interval - 1) % 8)
                preds = {"y": 0, "cb": 0, "cr": 0}
            mcu += 1
            for r in range(2):
                for c in range(2):
                    zz = qy[2 * my + r, 2 * mx + c].reshape(64)[_JPEG_ZIGZAG]
                    preds["y"] = _jpeg_write_block(
                        writer, zz, preds["y"], _JPEG_DC_CODES, _JPEG_AC_CODES
                    )
            for name, q in (("cb", qcb), ("cr", qcr)):
                zz = q[my, mx].reshape(64)[_JPEG_ZIGZAG]
                preds[name] = _jpeg_write_block(
                    writer, zz, preds[name], _JPEG_DC_CODES_C, _JPEG_AC_CODES_C
                )
    entropy = writer.flush()

    zq_l = JPEG_QUANT.reshape(64)[_JPEG_ZIGZAG].astype(np.uint8).tobytes()
    zq_c = JPEG_QUANT_CHROMA.reshape(64)[_JPEG_ZIGZAG].astype(np.uint8).tobytes()
    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += _jpeg_segment(
        0xE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HHBB", 1, 1, 0, 0)
    )
    out += _jpeg_segment(0xDB, b"\x00" + zq_l + b"\x01" + zq_c)
    out += _jpeg_segment(
        0xC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + b"\x01\x22\x00"  # Y: 2x2 sampling, quant 0
        + b"\x02\x11\x01"  # Cb: 1x1, quant 1
        + b"\x03\x11\x01",  # Cr: 1x1, quant 1
    )
    out += _jpeg_segment(0xC4, b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
    out += _jpeg_segment(0xC4, b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
    out += _jpeg_segment(
        0xC4, b"\x01" + bytes(_JPEG_DC_BITS_C) + bytes(_JPEG_DC_VALS_C)
    )
    out += _jpeg_segment(
        0xC4, b"\x11" + bytes(_JPEG_AC_BITS_C) + bytes(_JPEG_AC_VALS_C)
    )
    if restart_interval:
        out += _jpeg_segment(0xDD, struct.pack(">H", restart_interval))
    out += _jpeg_segment(0xDA, b"\x03\x01\x00\x02\x11\x03\x11\x00\x3f\x00")
    out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _decode_jpeg_coefficients_color(
    data: bytes,
) -> tuple[dict[str, np.ndarray], _JpegHeaderMulti]:
    """Parse + entropy-decode a 3-component 4:2:0 baseline scan:
    -> ({'y': (2*n_mcuy, 2*n_mcux, 8, 8), 'cb': (n_mcuy, n_mcux, 8,
    8), 'cr': ...} quantized int32 natural-order blocks, header).
    Interleaved MCU order (T.81 A.2.3) with per-component DC
    predictors; restart markers reset all three."""
    hdr = _jpeg_parse_headers_multi(data)
    if hdr.progressive:
        raise ValueError(
            "progressive stream on the baseline color path — use"
            " decode_jpeg_progressive_dc"
        )
    if len(hdr.comps) != 3:
        raise ValueError("decode_jpeg_color needs a 3-component JPEG")
    samps = [(c.hsamp, c.vsamp) for c in hdr.comps]
    if samps != [(2, 2), (1, 1), (1, 1)]:
        raise ValueError(f"only 4:2:0 (2x2,1x1,1x1) supported, got {samps}")
    n_mcuy, n_mcux = -(-hdr.h // 16), -(-hdr.w // 16)
    names = ("y", "cb", "cr")
    out = {
        "y": np.zeros((2 * n_mcuy, 2 * n_mcux, 64), dtype=np.int32),
        "cb": np.zeros((n_mcuy, n_mcux, 64), dtype=np.int32),
        "cr": np.zeros((n_mcuy, n_mcux, 64), dtype=np.int32),
    }
    tables = {}
    for name, comp in zip(names, hdr.comps):
        td, ta = hdr.sos_tables.get(comp.comp_id, (0, 0))
        tables[name] = (hdr.dc_tables[td], hdr.ac_tables[ta])
    reader = _JpegBitReader(data, hdr.sos_pos)
    preds = {n: 0 for n in names}
    mcu = 0
    for my in range(n_mcuy):
        for mx in range(n_mcux):
            if hdr.restart_interval and mcu and mcu % hdr.restart_interval == 0:
                reader.sync_restart()
                preds = {n: 0 for n in names}
            mcu += 1
            for r in range(2):
                for c in range(2):
                    zz, preds["y"] = _decode_entropy_block(
                        reader, *tables["y"], preds["y"]
                    )
                    nat = np.zeros(64, dtype=np.int32)
                    nat[_JPEG_ZIGZAG] = zz
                    out["y"][2 * my + r, 2 * mx + c] = nat
            for name in ("cb", "cr"):
                zz, preds[name] = _decode_entropy_block(
                    reader, *tables[name], preds[name]
                )
                nat = np.zeros(64, dtype=np.int32)
                nat[_JPEG_ZIGZAG] = zz
                out[name][my, mx] = nat
    return (
        {n: a.reshape(a.shape[0], a.shape[1], 8, 8) for n, a in out.items()},
        hdr,
    )


def decode_jpeg_dc_color(
    data: bytes,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """3-component 4:2:0 JPEG bytes -> (y_dc, cb_dc, cr_dc) int32
    planes of QUANTIZED per-component DC coefficients — the color "DC
    thumbnail" (1/64-scale luma + 1/256-scale chroma views) with no
    IDCT. Like the greyscale path, the full AC walk runs per block to
    advance the bitstream, so the whole interleaved entropy layer is
    on this path."""
    coefs, _ = _decode_jpeg_coefficients_color(data)
    return (
        coefs["y"][:, :, 0, 0],
        coefs["cb"][:, :, 0, 0],
        coefs["cr"][:, :, 0, 0],
    )


def _jpeg_idct_plane(coefs: np.ndarray, quant: np.ndarray) -> np.ndarray:
    deq = coefs.astype(np.float64) * quant[None, None]
    blocks = np.einsum("xu,byuv,zv->byxz", _JPEG_DCT.T, deq, _JPEG_DCT.T)
    n_by, n_bx = coefs.shape[:2]
    raster = blocks.transpose(0, 2, 1, 3).reshape(n_by * 8, n_bx * 8) + 128.0
    return np.clip(np.round(raster), 0, 255).astype(np.uint8)


def decode_jpeg_color(data: bytes) -> np.ndarray:
    """3-component 4:2:0 baseline JPEG bytes -> (h, w, 3) uint8 RGB:
    per-component IDCT, nearest-neighbor 2x chroma upsampling, JFIF
    YCbCr -> RGB (BT.601 full-range), clamp, crop to SOF0 dims."""
    coefs, hdr = _decode_jpeg_coefficients_color(data)
    tq = {n: hdr.quants[c.tq] for n, c in zip(("y", "cb", "cr"), hdr.comps)}
    h, w = hdr.h, hdr.w
    yp = _jpeg_idct_plane(coefs["y"], tq["y"])[:h, :w].astype(np.float64)
    cbp = _jpeg_idct_plane(coefs["cb"], tq["cb"])
    crp = _jpeg_idct_plane(coefs["cr"], tq["cr"])
    cbu = cbp.repeat(2, axis=0).repeat(2, axis=1)[:h, :w].astype(np.float64)
    cru = crp.repeat(2, axis=0).repeat(2, axis=1)[:h, :w].astype(np.float64)
    r = yp + 1.402 * (cru - 128.0)
    g = yp - 0.344136 * (cbu - 128.0) - 0.714136 * (cru - 128.0)
    b = yp + 1.772 * (cbu - 128.0)
    return np.clip(
        np.round(np.stack([r, g, b], axis=-1)), 0, 255
    ).astype(np.uint8)


def rgb_to_ycbcr420(
    rgb: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(h, w, 3) uint8 RGB -> (y, cb, cr) planes with 2x2 box-averaged
    chroma subsampling (JFIF BT.601 full-range; floats rounded
    half-up). The encode-side companion to :func:`decode_jpeg_color`;
    float math is on the tested-roundtrip path, never the oracle."""
    f = rgb.astype(np.float64)
    r, g, b = f[..., 0], f[..., 1], f[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    h, w = y.shape
    ph, pw = -(-h // 2) * 2, -(-w // 2) * 2
    cbp = np.pad(cb, ((0, ph - h), (0, pw - w)), mode="edge")
    crp = np.pad(cr, ((0, ph - h), (0, pw - w)), mode="edge")
    cb2 = cbp.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
    cr2 = crp.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
    to8 = lambda a: np.clip(np.floor(a + 0.5), 0, 255).astype(np.uint8)  # noqa: E731
    return to8(y), to8(cb2), to8(cr2)


def split_jpeg_restarts(data: bytes) -> tuple[bytes, list[bytes]]:
    """Split a baseline JPEG at its restart-marker boundaries:
    -> (header bytes through SOS, [entropy bytes per interval]).

    This is what restart markers are FOR (T.81 B.2.1): RSTn is
    byte-aligned and byte stuffing (FF -> FF 00) guarantees no FF
    D0..D7 sequence can occur inside entropy data, so the scan can be
    partitioned by a PURE BYTE SCAN — no entropy decode, no Huffman
    tables — and each interval is independently decodable (the DC
    predictor resets to 0 at every marker). That turns one large
    image into many parallel decode tasks: a single object no longer
    serializes into a single task, which is the intra-file analogue
    of fan_out's file-level spread.

    The byte scan is component-agnostic — greyscale and interleaved
    4:2:0 color scans split identically; only the expected interval
    count depends on the MCU geometry (per-block for 1x1 single
    component, per-16x16-MCU for 2x2 color).

    Raises ValueError when the interval structure implied by DRI and
    the SOF0 dimensions does not match the markers actually present.
    """
    hdr = _jpeg_parse_headers_multi(data)
    n = len(data)
    segs: list[bytes] = []
    start = hdr.sos_pos
    i = hdr.sos_pos
    closed = False
    while i + 1 < n:
        if data[i] != 0xFF:
            i += 1
            continue
        marker = data[i + 1]
        if marker == 0x00:  # stuffed FF: entropy data
            i += 2
        elif 0xD0 <= marker <= 0xD7:  # RSTn
            segs.append(data[start:i])
            start = i + 2
            i += 2
        elif marker == 0xD9:  # EOI
            segs.append(data[start:i])
            closed = True
            break
        else:
            raise ValueError(f"unexpected marker {marker:#x} in scan")
    if not closed:
        raise ValueError("truncated JPEG: missing EOI")
    if len(hdr.comps) == 1:
        mcus = -(-hdr.h // 8) * (-(-hdr.w // 8))
    else:
        mcus = -(-hdr.h // 16) * (-(-hdr.w // 16))
    expect = (
        -(-mcus // hdr.restart_interval) if hdr.restart_interval else 1
    )
    if len(segs) != expect:
        raise ValueError(
            f"found {len(segs)} restart intervals, DRI/SOF0 imply {expect}"
        )
    return data[: hdr.sos_pos], segs


class JpegSegmentDecoder:
    """Parse a JPEG header ONCE, entropy-decode many restart intervals.

    The header (canonical Huffman table reconstruction) is
    byte-identical across every interval of a payload — and across
    payloads from the same encoder config — so callers decoding many
    segments memoize one decoder per distinct header instead of paying
    the parse per interval (~7% of per-interval decode cost)."""

    def __init__(self, header: bytes) -> None:
        self._hdr = _jpeg_parse_headers(header)

    def dc(self, seg: bytes, n_mcus: int) -> np.ndarray:
        """One interval's entropy bytes -> (n_mcus,) int32 quantized
        DC values in scan order. The DC predictor starts at 0 exactly
        as it does after a restart marker; the AC walk still runs per
        block (it advances the bitstream), so Huffman and DPCM bugs
        surface here the same as in the whole-image decoder."""
        hdr = self._hdr
        reader = _JpegBitReader(seg, 0)
        pred = 0
        out = np.empty(n_mcus, dtype=np.int32)
        for k in range(n_mcus):
            zz, pred = _decode_entropy_block(
                reader, hdr.dc_table, hdr.ac_table, pred
            )
            out[k] = zz[0]
        return out


def decode_jpeg_segment_dc(header: bytes, seg: bytes, n_mcus: int) -> np.ndarray:
    """Entropy-decode ONE restart interval standalone: -> (n_mcus,)
    int32 quantized DC values in scan order. ``header`` is the
    marker-stream prefix from split_jpeg_restarts (tables travel with
    the segment — the decoder assumes nothing about the encoder).
    One-shot convenience over JpegSegmentDecoder."""
    return JpegSegmentDecoder(header).dc(seg, n_mcus)


class JpegColorSegmentDecoder:
    """The color (4:2:0 interleaved) counterpart of
    :class:`JpegSegmentDecoder`: parse the 3-component header ONCE,
    entropy-decode many restart intervals independently. Every
    interval starts with all three DC predictors at 0 (T.81 B.2.1),
    exactly as the whole-image decoder resets them at each RSTn, so
    intervals decode in any order on any task."""

    def __init__(self, header: bytes) -> None:
        hdr = _jpeg_parse_headers_multi(header)
        if len(hdr.comps) != 3:
            raise ValueError("color segment decoder needs a 3-component JPEG")
        samps = [(c.hsamp, c.vsamp) for c in hdr.comps]
        if samps != [(2, 2), (1, 1), (1, 1)]:
            raise ValueError(f"only 4:2:0 supported, got {samps}")
        self._tables = []
        for comp in hdr.comps:
            td, ta = hdr.sos_tables.get(comp.comp_id, (0, 0))
            self._tables.append((hdr.dc_tables[td], hdr.ac_tables[ta]))

    def dc(
        self, seg: bytes, n_mcus: int
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """One interval's entropy bytes -> ((n_mcus, 4) Y quantized
        DCs in sub-block raster order, (n_mcus,) Cb, (n_mcus,) Cr),
        MCUs in scan order. The full AC walk runs per block — it is
        what advances the bitstream."""
        reader = _JpegBitReader(seg, 0)
        preds = [0, 0, 0]
        y = np.empty((n_mcus, 4), dtype=np.int32)
        cb = np.empty(n_mcus, dtype=np.int32)
        cr = np.empty(n_mcus, dtype=np.int32)
        (ydc, yac), (cbdc, cbac), (crdc, crac) = self._tables
        for k in range(n_mcus):
            for s in range(4):
                zz, preds[0] = _decode_entropy_block(reader, ydc, yac, preds[0])
                y[k, s] = zz[0]
            zz, preds[1] = _decode_entropy_block(reader, cbdc, cbac, preds[1])
            cb[k] = zz[0]
            zz, preds[2] = _decode_entropy_block(reader, crdc, crac, preds[2])
            cr[k] = zz[0]
        return y, cb, cr


# -- Progressive JPEG (SOF2): DC-scan decode --------------------------------
#
# Most large web JPEGs are progressive: the image arrives as a
# sequence of scans — a DC scan first (optionally with the low Al
# bits deferred), then AC bands refined over further scans. For a
# training-data pipeline the FIRST scan is the prize: it alone yields
# the quantized-DC thumbnail (the same 1/64-scale view m17 extracts
# from baseline files) without decoding the other 90% of the bytes.
# decode_jpeg_progressive_dc parses the marker stream, entropy-decodes
# ONLY the first scan (interleaved or single-component, generic
# HxV sampling factors, successive-approximation shift Al), and
# returns the per-component DC planes. Later scans are untouched —
# that is the point.


def encode_jpeg_progressive_dc(
    arr: np.ndarray, restart_interval: int = 0
) -> bytes:
    """(h, w) uint8 greyscale raster -> progressive JFIF bytes whose
    single scan is the full-precision DC scan (Ss=Se=0, Ah=Al=0) —
    the 'DC-only progressive' layout real encoders emit first. DC
    quantization uses the same exact integer formula as encode_jpeg,
    so the decoded DC plane is oracle-statable identically."""
    if arr.ndim != 2 or arr.dtype != np.uint8:
        raise ValueError(f"expected (h, w) uint8, got {arr.shape} {arr.dtype}")
    h, w = arr.shape
    if h == 0 or w == 0 or h > 0xFFFF or w > 0xFFFF:
        raise ValueError(f"bad dimensions {h}x{w}")
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(arr, ((0, ph - h), (0, pw - w)), mode="edge")
    blocks = (
        padded.reshape(ph // 8, 8, pw // 8, 8)
        .transpose(0, 2, 1, 3)
        .astype(np.int64)
    )
    sums = blocks.reshape(ph // 8, pw // 8, 64).sum(axis=2)

    writer = _JpegBitWriter()
    pred = 0
    mcu = 0
    for by in range(ph // 8):
        for bx in range(pw // 8):
            if restart_interval and mcu and mcu % restart_interval == 0:
                writer.restart_marker((mcu // restart_interval - 1) % 8)
                pred = 0
            mcu += 1
            dc = _round_half_away(int(sums[by, bx]) - 8192, 128)
            size, extra = _jpeg_magnitude(dc - pred)
            pred = dc
            code, length = _JPEG_DC_CODES[size]
            writer.put(code, length)
            if size:
                writer.put(extra, size)
    entropy = writer.flush()

    zz_quant = JPEG_QUANT.reshape(64)[_JPEG_ZIGZAG].astype(np.uint8).tobytes()
    out = bytearray()
    out += b"\xff\xd8"
    out += _jpeg_segment(
        0xE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HHBB", 1, 1, 0, 0)
    )
    out += _jpeg_segment(0xDB, b"\x00" + zz_quant)
    out += _jpeg_segment(
        0xC2, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00"
    )  # SOF2
    out += _jpeg_segment(0xC4, b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
    if restart_interval:
        out += _jpeg_segment(0xDD, struct.pack(">H", restart_interval))
    # SOS: 1 component, DC scan Ss=0 Se=0 Ah=0 Al=0
    out += _jpeg_segment(0xDA, b"\x01\x01\x00\x00\x00\x00")
    out += entropy
    out += b"\xff\xd9"
    return bytes(out)


def decode_jpeg_progressive_dc(data: bytes) -> dict[str, np.ndarray]:
    """Progressive (SOF2) JPEG bytes -> {component name: int32 DC
    plane} from the FIRST scan only. The plane holds the quantized DC
    coefficients as coded in scan 1, shifted left by the scan's
    successive-approximation Al (so they approximate the full DC to
    within 2^Al); component names are 'y'/'cb'/'cr' for 3-component
    streams, 'y' for greyscale. Generic HxV sampling factors: the
    interleaved MCU walk visits hsamp x vsamp blocks per component
    per MCU (T.81 A.2.3); a single-component first scan walks that
    component's own block grid. Later scans are never read."""
    hdr = _jpeg_parse_headers_multi(data)
    if not hdr.progressive:
        raise ValueError("not a progressive (SOF2) stream")
    ss, se, _ah, al = hdr.scan_spec
    if ss != 0 or se != 0:
        raise ValueError("first scan is not a DC scan")
    names = ["y", "cb", "cr"][: len(hdr.comps)]
    by_id = {c.comp_id: (names[i], c) for i, c in enumerate(hdr.comps)}
    max_h = max(c.hsamp for c in hdr.comps)
    max_v = max(c.vsamp for c in hdr.comps)
    n_mcux = -(-hdr.w // (8 * max_h))
    n_mcuy = -(-hdr.h // (8 * max_v))
    planes = {
        names[i]: np.zeros(
            (n_mcuy * c.vsamp, n_mcux * c.hsamp), dtype=np.int32
        )
        for i, c in enumerate(hdr.comps)
    }
    reader = _JpegBitReader(data, hdr.sos_pos)
    preds = {n: 0 for n in names}

    def read_dc(name: str, table) -> int:
        size = reader.huffman(table)
        preds[name] += _jpeg_extend(reader.bits(size), size)
        return preds[name] << al

    if len(hdr.scan_comps) > 1:  # interleaved DC scan over all comps
        mcu = 0
        for my in range(n_mcuy):
            for mx in range(n_mcux):
                if (
                    hdr.restart_interval
                    and mcu
                    and mcu % hdr.restart_interval == 0
                ):
                    reader.sync_restart()
                    preds.update({n: 0 for n in names})
                mcu += 1
                for cid in hdr.scan_comps:
                    name, comp = by_id[cid]
                    td, _ = hdr.sos_tables.get(cid, (0, 0))
                    table = hdr.dc_tables[td]
                    for r in range(comp.vsamp):
                        for c in range(comp.hsamp):
                            planes[name][
                                my * comp.vsamp + r, mx * comp.hsamp + c
                            ] = read_dc(name, table)
    else:  # non-interleaved: the component's own block grid
        cid = hdr.scan_comps[0]
        name, comp = by_id[cid]
        td, _ = hdr.sos_tables.get(cid, (0, 0))
        table = hdr.dc_tables[td]
        rows = -(-(hdr.h * comp.vsamp) // (8 * max_v))
        cols = -(-(hdr.w * comp.hsamp) // (8 * max_h))
        planes[name] = np.zeros((rows, cols), dtype=np.int32)
        mcu = 0
        for by in range(rows):
            for bx in range(cols):
                if (
                    hdr.restart_interval
                    and mcu
                    and mcu % hdr.restart_interval == 0
                ):
                    reader.sync_restart()
                    preds[name] = 0
                mcu += 1
                planes[name][by, bx] = read_dc(name, table)
    return planes


# -- FLAC (fixed-predictor subset, mono 16-bit) ------------------------------
#
# A real lossless audio codec from the public FLAC format spec
# (xiph.org/flac/format.html): fLaC magic + STREAMINFO metadata block,
# then self-synchronizing frames — 14-bit sync code, coded frame
# number, CRC-8-protected header, one mono subframe per frame
# (CONSTANT / VERBATIM / FIXED order 0-4, plus LPC orders 1-32),
# rice-coded residuals (unary quotient + k-bit remainder over the
# zigzag mapping), and a CRC-16 over the whole frame. Everything is
# integer and bit-exact — FLAC is lossless — so decode(encode(pcm)) ==
# pcm EXACTLY and the decoded samples are oracle-statable.
#
# LPC subframes (the general quantized-coefficient linear predictor
# real-world encoders emit on nearly every frame) carry the
# coefficients IN the bitstream — precision-1 (4 bits), a signed
# 5-bit right-shift, then `order` signed precision-bit coefficients —
# and reconstruct with pure integer arithmetic:
#   x[i] = residual[i] + ((sum_j c_j * x[i-1-j]) >> shift)
# (arithmetic shift, i.e. floor). How an encoder ESTIMATES the
# coefficients is unconstrained by the spec (float math is fine);
# losslessness never depends on it because the residual is computed
# with the same quantized integer prediction the decoder runs.

FLAC_MAGIC = b"fLaC"

# 4-bit sample-rate codes from the frame-header table (subset).
_FLAC_RATES = {
    88200: 1, 176400: 2, 192000: 3, 8000: 4, 16000: 5, 22050: 6,
    24000: 7, 32000: 8, 44100: 9, 48000: 10, 96000: 11,
}
_FLAC_RATES_INV = {v: k for k, v in _FLAC_RATES.items()}

# Fixed-predictor residual: res = x convolved with these (order -> taps).
_FLAC_FIXED = {
    0: [1],
    1: [1, -1],
    2: [1, -2, 1],
    3: [1, -3, 3, -1],
    4: [1, -4, 6, -4, 1],
}


def _crc_table(poly: int, width: int) -> list[int]:
    mask = (1 << width) - 1
    top = 1 << (width - 1)
    table = []
    for byte in range(256):
        crc = byte << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly) & mask if crc & top else (crc << 1) & mask
        table.append(crc)
    return table


_CRC8_TABLE = _crc_table(0x07, 8)
_CRC16_TABLE = _crc_table(0x8005, 16)


def _crc8(data: bytes) -> int:
    """CRC-8, poly x^8+x^2+x+1 (0x07), init 0 — FLAC frame header.
    Table-driven (one lookup per byte; the bit-serial definition lives
    in _crc_table)."""
    crc = 0
    table = _CRC8_TABLE
    for byte in data:
        crc = table[crc ^ byte]
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16, poly x^16+x^15+x^2+1 (0x8005), init 0 — FLAC frame.
    Table-driven (one lookup per byte)."""
    crc = 0
    table = _CRC16_TABLE
    for byte in data:
        crc = (table[(crc >> 8) ^ byte] ^ (crc << 8)) & 0xFFFF
    return crc


class _BitWriter:
    """MSB-first bit packer (no byte stuffing — FLAC doesn't stuff)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.out.append((self.acc >> (self.nbits - 8)) & 0xFF)
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1

    def unary(self, q: int) -> None:
        while q >= 32:
            self.put(0, 32)
            q -= 32
        self.put(1, q + 1)  # q zeros then a one

    def align(self) -> None:
        if self.nbits:
            self.put(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.out)


class _BitReader:
    """MSB-first bit reader over a byte window."""

    __slots__ = ("data", "bitpos")

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.bitpos = pos * 8

    def bits(self, n: int) -> int:
        """Read n bits in one int.from_bytes over the covering byte
        span (the per-bit shift loop was the decode hot spot; n == 1
        — the CABAC-renorm / flag case — takes a byte-indexed fast
        path with no slice allocation)."""
        if n == 1:
            pos = self.bitpos
            byte_i = pos >> 3
            if byte_i >= len(self.data):
                raise ValueError("truncated FLAC stream")
            self.bitpos = pos + 1
            return (self.data[byte_i] >> (7 - (pos & 7))) & 1
        if n == 0:
            return 0
        start = self.bitpos
        end = start + n
        byte_end = (end + 7) >> 3
        if byte_end > len(self.data):
            raise ValueError("truncated FLAC stream")
        word = int.from_bytes(self.data[start >> 3 : byte_end], "big")
        self.bitpos = end
        return (word >> ((byte_end << 3) - end)) & ((1 << n) - 1)

    def unary(self) -> int:
        """Count leading zero bits up to the terminating one — scanned
        a byte at a time (bit_length finds the first set bit)."""
        data = self.data
        pos = self.bitpos
        q = 0
        while True:
            byte_i = pos >> 3
            if byte_i >= len(data):
                raise ValueError("truncated FLAC stream")
            bit_i = pos & 7
            rest = data[byte_i] & (0xFF >> bit_i)
            if rest:
                first_one = 8 - rest.bit_length()
                q += first_one - bit_i
                self.bitpos = (byte_i << 3) + first_one + 1
                return q
            q += 8 - bit_i
            pos = (byte_i + 1) << 3
            if q > 1 << 20:
                raise ValueError("runaway unary code (corrupt FLAC)")

    def align(self) -> None:
        self.bitpos = -(-self.bitpos // 8) * 8

    def bytepos(self) -> int:
        assert self.bitpos % 8 == 0
        return self.bitpos // 8


def _flac_coded_number(n: int) -> bytes:
    """Frame-number coding (the UTF-8-style variable-length integer
    from the frame-header spec)."""
    if n < 0x80:
        return bytes([n])
    out = []
    bits_left = n.bit_length()
    nbytes = 2
    while bits_left > 6 - nbytes + 5 * (nbytes - 1) + 1:
        # capacity of an nbytes sequence: (7 - nbytes) + 6*(nbytes-1)
        if (7 - nbytes) + 6 * (nbytes - 1) >= bits_left:
            break
        nbytes += 1
        if nbytes > 7:
            raise ValueError("frame number too large")
    while (7 - nbytes) + 6 * (nbytes - 1) < bits_left:
        nbytes += 1
    lead = (0xFF << (8 - nbytes)) & 0xFF
    shift = 6 * (nbytes - 1)
    out.append(lead | ((n >> shift) & ((1 << (7 - nbytes)) - 1)))
    for i in range(nbytes - 1):
        shift -= 6
        out.append(0x80 | ((n >> shift) & 0x3F))
    return bytes(out)


def _flac_read_coded_number(reader: _BitReader) -> int:
    first = reader.bits(8)
    if first < 0x80:
        return first
    nbytes = 0
    mask = 0x80
    while first & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > 7:
        raise ValueError("invalid FLAC coded number")
    n = first & ((1 << (7 - nbytes)) - 1)
    for _ in range(nbytes - 1):
        byte = reader.bits(8)
        if byte & 0xC0 != 0x80:
            raise ValueError("invalid FLAC coded-number continuation")
        n = (n << 6) | (byte & 0x3F)
    return n


def _flac_stream_header(
    n: int, sample_rate: int, blocksize: int, channels: int = 1
) -> bytes:
    """fLaC magic + STREAMINFO (last-metadata flag set)."""
    info = bytearray()
    info += struct.pack(">HH", blocksize, blocksize)
    info += b"\x00\x00\x00" * 2  # min/max framesize unknown
    # sample_rate(20) | channels-1(3) | bps-1(5) | total_samples(36)
    packed = (sample_rate << 44) | ((channels - 1) << 41) | (15 << 36) | n
    info += packed.to_bytes(8, "big")
    info += bytes(16)  # raw-PCM MD5 unknown
    return (
        FLAC_MAGIC + bytes([0x80]) + len(info).to_bytes(3, "big") + bytes(info)
    )


def _flac_frame_header(
    f: int, bs: int, sample_rate: int, chan_code: int = 0b0000
) -> bytes:
    """CRC-8-terminated frame header (16 bps, 16-bit blocksize at end
    of header; ``chan_code`` is the 4-bit channel-assignment field:
    0=mono, 1=independent stereo, 8=left/side, 9=right/side,
    10=mid/side)."""
    hdr = _BitWriter()
    hdr.put(0b11111111111110, 14)
    hdr.put(0, 1)  # reserved
    hdr.put(0, 1)  # fixed-blocksize stream
    hdr.put(0b0111, 4)  # blocksize: 16-bit at end of header
    hdr.put(_FLAC_RATES[sample_rate], 4)
    hdr.put(chan_code, 4)
    hdr.put(0b100, 3)  # 16 bps
    hdr.put(0, 1)  # reserved
    hdr.align()
    header = hdr.bytes() + _flac_coded_number(f) + struct.pack(">H", bs - 1)
    return header + bytes([_crc8(header)])


def _write_rice(body: _BitWriter, res: np.ndarray) -> None:
    """Partition-order-0 rice residual with k from the mean zigzag
    magnitude (the spec's own estimator)."""
    u = (res << 1) ^ (res >> 63)  # zigzag
    mean = int(u.mean()) if u.size else 0
    k = min(14, max(0, int(mean).bit_length() - 1))
    body.put(0b00, 2)  # rice, 4-bit params
    body.put(0, 4)  # partition order 0
    body.put(k, 4)
    for uv in u:
        body.unary(int(uv) >> k)
        if k:
            body.put(int(uv) & ((1 << k) - 1), k)


def _flac_validate(samples: np.ndarray, sample_rate: int, blocksize: int):
    if samples.ndim != 1 or samples.dtype != np.int16:
        raise ValueError(
            f"expected 1-D int16, got {samples.shape} {samples.dtype}"
        )
    if sample_rate not in _FLAC_RATES:
        raise ValueError(f"unsupported sample rate {sample_rate}")
    if not 16 <= blocksize <= 65535:
        raise ValueError(f"bad blocksize {blocksize}")


def encode_flac(
    samples: np.ndarray,
    sample_rate: int = 16_000,
    blocksize: int = 1024,
) -> bytes:
    """1-D int16 mono samples -> FLAC bytes (fixed-predictor subset).

    Per block, the encoder picks the fixed predictor order (0-4)
    minimizing the residual magnitude sum — the spec's own fast
    estimation — then rice-codes the residuals in one partition with
    k chosen from the mean magnitude. A constant block becomes a
    CONSTANT subframe. Lossless by construction: decode_flac returns
    the exact samples."""
    _flac_validate(samples, sample_rate, blocksize)
    n = samples.size
    out = bytearray(_flac_stream_header(n, sample_rate, blocksize))
    x = samples.astype(np.int64)
    for f, start in enumerate(range(0, n, blocksize)):
        blk = x[start : start + blocksize]
        bs = blk.size
        header = _flac_frame_header(f, bs, sample_rate)
        body = _BitWriter()
        _write_fixed_subframe(body, blk, 16)
        body.align()
        frame = header + body.bytes()
        frame += struct.pack(">H", _crc16(frame))
        out += frame
    return bytes(out)


def _write_fixed_subframe(body: _BitWriter, blk: np.ndarray, eff: int) -> None:
    """One CONSTANT/FIXED subframe at ``eff`` sample bits (16 for a
    plain channel, 17 for a stereo side channel): pick the fixed
    predictor order 0-4 minimizing the residual magnitude sum (the
    spec's own fast estimation), rice-code the residual."""
    bs = blk.size
    if np.all(blk == blk[0]):
        body.put(0, 1)
        body.put(0b000000, 6)  # CONSTANT
        body.put(0, 1)
        body.put(int(blk[0]) & ((1 << eff) - 1), eff)
        return
    best_o, best_res, best_cost = 0, blk, None
    for o, taps in _FLAC_FIXED.items():
        if bs <= o:
            continue
        res = np.convolve(blk, taps)[o:bs] if o else blk
        cost = int(np.abs(res).sum())
        if best_cost is None or cost < best_cost:
            best_o, best_res, best_cost = o, res, cost
    o, res = best_o, best_res.astype(np.int64)
    body.put(0, 1)
    body.put(8 + o, 6)  # FIXED order o
    body.put(0, 1)  # no wasted bits
    for w in blk[:o]:
        body.put(int(w) & ((1 << eff) - 1), eff)
    _write_rice(body, res)


def encode_flac_stereo(
    left: np.ndarray,
    right: np.ndarray,
    sample_rate: int = 16_000,
    blocksize: int = 1024,
) -> bytes:
    """Stereo int16 -> FLAC bytes with MID/SIDE channel decorrelation
    on every frame — how real-world encoders ship stereo audio: the
    two channels are usually near-identical, so coding
    ``mid = (l + r) >> 1`` and ``side = l - r`` (the side channel gets
    one extra bit of dynamic range, bps+1, per the spec) collapses the
    inter-channel redundancy before the per-channel predictor runs.
    Each frame carries channel assignment 0b1010 and two subframes
    (mid at 16 bits, side at 17); reconstruction is pure integer
    (``mid = (mid << 1) | (side & 1); l = (mid + side) >> 1;
    r = (mid - side) >> 1``), so the codec stays lossless for ANY
    stereo input."""
    _flac_validate(left, sample_rate, blocksize)
    _flac_validate(right, sample_rate, blocksize)
    if left.size != right.size:
        raise ValueError(f"channel lengths differ: {left.size}/{right.size}")
    n = left.size
    out = bytearray(_flac_stream_header(n, sample_rate, blocksize, channels=2))
    lx = left.astype(np.int64)
    rx = right.astype(np.int64)
    for f, start in enumerate(range(0, n, blocksize)):
        lb = lx[start : start + blocksize]
        rb = rx[start : start + blocksize]
        bs = lb.size
        mid = (lb + rb) >> 1
        side = lb - rb
        header = _flac_frame_header(f, bs, sample_rate, chan_code=0b1010)
        body = _BitWriter()
        _write_fixed_subframe(body, mid, 16)
        _write_fixed_subframe(body, side, 17)
        body.align()
        frame = header + body.bytes()
        frame += struct.pack(">H", _crc16(frame))
        out += frame
    return bytes(out)


def _estimate_lpc(blk: np.ndarray, order: int) -> np.ndarray | None:
    """Float LPC coefficient estimation: solve the autocorrelation
    normal equations (Toeplitz R a = r). The spec leaves estimation to
    the encoder; float math here is safe because the residual below is
    computed with the QUANTIZED integer coefficients the decoder reads
    back — losslessness never depends on this step."""
    x = blk.astype(np.float64)
    n = x.size
    ac = np.array(
        [float(np.dot(x[: n - lag], x[lag:])) for lag in range(order + 1)]
    )
    if ac[0] <= 0:
        return None
    r_mat = np.empty((order, order))
    for i in range(order):
        for j in range(order):
            r_mat[i, j] = ac[abs(i - j)]
    r_mat += np.eye(order) * (ac[0] * 1e-9)  # ridge: near-singular blocks
    try:
        return np.linalg.solve(r_mat, ac[1 : order + 1])
    except np.linalg.LinAlgError:
        return None


def _quantize_lpc(
    coefs: np.ndarray, precision: int
) -> tuple[np.ndarray, int] | None:
    """Float coefficients -> (precision-bit signed ints, right-shift):
    the largest shift (<= 15) that keeps every rounded coefficient in
    the signed precision-bit range."""
    cmax = float(np.max(np.abs(coefs)))
    if cmax <= 0:
        return None
    shift = precision - 1 - (math.floor(math.log2(cmax)) + 1)
    shift = max(0, min(15, shift))
    lim = 1 << (precision - 1)
    q = np.clip(np.round(coefs * (1 << shift)), -lim, lim - 1).astype(np.int64)
    if not q.any():
        return None
    return q, shift


def encode_flac_lpc(
    samples: np.ndarray,
    sample_rate: int = 16_000,
    blocksize: int = 1024,
    order: int = 8,
    precision: int = 12,
) -> bytes:
    """1-D int16 mono samples -> FLAC bytes where EVERY subframe is an
    LPC subframe — the general quantized-coefficient predictor
    real-world encoders emit on nearly every frame (fixed predictors,
    ``encode_flac``, are the spec's fast path).

    Per block: estimate order-``order`` float coefficients from the
    autocorrelation normal equations, quantize to ``precision``-bit
    signed ints with a derived right-shift, compute the residual with
    the SAME integer prediction the decoder runs
    (``x[i] - ((sum c_j x[i-1-j]) >> shift)``), rice-code it. Blocks
    where estimation degenerates (constant/silence) fall back to the
    order-1 identity predictor ``c = [1 << shift]`` — still an LPC
    subframe, still lossless. Lossless by construction for any input:
    decode_flac returns the exact samples."""
    _flac_validate(samples, sample_rate, blocksize)
    if not 1 <= order <= 32:
        raise ValueError(f"LPC order {order} out of range 1-32")
    if not 2 <= precision <= 15:
        raise ValueError(f"precision {precision} out of range 2-15")
    n = samples.size
    out = bytearray(_flac_stream_header(n, sample_rate, blocksize))
    x = samples.astype(np.int64)
    for f, start in enumerate(range(0, n, blocksize)):
        blk = x[start : start + blocksize]
        bs = blk.size
        if bs < 2:
            # degenerate 1-sample tail: no room for warm-up + residual;
            # VERBATIM is the spec's own raw fallback
            header = _flac_frame_header(f, bs, sample_rate)
            body = _BitWriter()
            body.put(0, 1)
            body.put(0b000001, 6)  # VERBATIM
            body.put(0, 1)
            for w in blk:
                body.put(int(w) & 0xFFFF, 16)
            body.align()
            frame = header + body.bytes()
            frame += struct.pack(">H", _crc16(frame))
            out += frame
            continue
        o = min(order, bs - 1)
        est = _estimate_lpc(blk, o) if o >= 1 else None
        quant = _quantize_lpc(est, precision) if est is not None else None
        if quant is None:
            o, quant = 1, (np.array([1], dtype=np.int64), 0)
        q, shift = quant
        o = q.size
        # Integer residual with the quantized predictor (exact int64:
        # |sum| <= 32 * 2^(precision-1) * 2^15 < 2^31). conv[i] =
        # sum_j q_j * blk[i-j], so the prediction sum for sample i is
        # conv[i-1].
        conv = np.convolve(blk, q)
        pred = conv[o - 1 : bs - 1] >> shift  # arithmetic shift = floor
        res = blk[o:] - pred

        header = _flac_frame_header(f, bs, sample_rate)
        body = _BitWriter()
        body.put(0, 1)
        body.put(31 + o, 6)  # LPC order o
        body.put(0, 1)  # no wasted bits
        for w in blk[:o]:
            body.put(int(w) & 0xFFFF, 16)
        body.put(precision - 1, 4)
        body.put(shift, 5)
        for c in q:
            body.put(int(c) & ((1 << precision) - 1), precision)
        _write_rice(body, res)
        body.align()
        frame = header + body.bytes()
        frame += struct.pack(">H", _crc16(frame))
        out += frame
    return bytes(out)


def _read_rice_residual(reader: _BitReader, bs: int, order: int) -> np.ndarray:
    """Residual section shared by FIXED and LPC subframes: coding
    method (2), partition order (4), then per partition a rice
    parameter (4/5 bits, all-ones = escape to raw n-bit residuals)."""
    method = reader.bits(2)
    if method not in (0, 1):
        raise ValueError("reserved residual coding method")
    pbits = 4 if method == 0 else 5
    porder = reader.bits(4)
    nparts = 1 << porder
    res = np.empty(bs - order, dtype=np.int64)
    ri = 0
    for p in range(nparts):
        cnt = (bs >> porder) - (order if p == 0 else 0)
        k = reader.bits(pbits)
        if k == (1 << pbits) - 1:  # escape: raw n-bit residuals
            nb = reader.bits(5)
            for _ in range(cnt):
                v = reader.bits(nb) if nb else 0
                if nb and v >= 1 << (nb - 1):
                    v -= 1 << nb
                res[ri] = v
                ri += 1
        else:
            for _ in range(cnt):
                u = (reader.unary() << k) | (reader.bits(k) if k else 0)
                res[ri] = (u >> 1) ^ -(u & 1)  # un-zigzag
                ri += 1
    return res


def _read_subframe(reader: _BitReader, bs: int, eff_base: int):
    """One subframe at ``eff_base`` sample bits (16, or 17 for a
    stereo side channel): padding bit, 6-bit type, wasted-bits flag,
    then CONSTANT/VERBATIM/FIXED/LPC payload. Returns
    (int64 samples, subframe type code)."""
    if reader.bits(1) != 0:
        raise ValueError("bad subframe padding bit")
    stype = reader.bits(6)
    wasted = 0
    if reader.bits(1):
        wasted = 1 + reader.unary()
    eff = eff_base - wasted
    if stype == 0:  # CONSTANT
        v = reader.bits(eff)
        if v >= 1 << (eff - 1):
            v -= 1 << eff
        blk = np.full(bs, v << wasted, dtype=np.int64)
    elif stype == 1:  # VERBATIM
        vals = np.empty(bs, dtype=np.int64)
        for i in range(bs):
            v = reader.bits(eff)
            if v >= 1 << (eff - 1):
                v -= 1 << eff
            vals[i] = v
        blk = vals << wasted
    elif 8 <= stype <= 12:  # FIXED order o
        o = stype - 8
        warm = np.empty(o, dtype=np.int64)
        for i in range(o):
            v = reader.bits(eff)
            if v >= 1 << (eff - 1):
                v -= 1 << eff
            warm[i] = v
        res = _read_rice_residual(reader, bs, o)
        # plain-int recurrence (numpy scalar indexing in a
        # sequential loop is ~5x slower than list arithmetic)
        vals = [int(w) for w in warm]
        if o == 0:
            vals = res.tolist()
        else:
            for r in res.tolist():
                if o == 1:
                    pred = vals[-1]
                elif o == 2:
                    pred = 2 * vals[-1] - vals[-2]
                elif o == 3:
                    pred = 3 * vals[-1] - 3 * vals[-2] + vals[-3]
                else:
                    pred = (
                        4 * vals[-1] - 6 * vals[-2]
                        + 4 * vals[-3] - vals[-4]
                    )
                vals.append(r + pred)
        blk = np.array(vals, dtype=np.int64) << wasted
    elif 32 <= stype <= 63:  # LPC order o = stype - 31
        o = stype - 31
        if o >= bs:
            raise ValueError(f"LPC order {o} >= blocksize {bs}")
        warm = np.empty(o, dtype=np.int64)
        for i in range(o):
            v = reader.bits(eff)
            if v >= 1 << (eff - 1):
                v -= 1 << eff
            warm[i] = v
        prec = reader.bits(4)
        if prec == 0b1111:
            raise ValueError("invalid LPC coefficient precision")
        prec += 1
        shift = reader.bits(5)
        if shift >= 16:
            shift -= 32  # two's complement
        if shift < 0:
            # the spec marks negative shifts obsolete; no encoder
            # emits them
            raise ValueError("negative LPC shift unsupported")
        coefs = np.empty(o, dtype=np.int64)
        for i in range(o):
            v = reader.bits(prec)
            if v >= 1 << (prec - 1):
                v -= 1 << prec
            coefs[i] = v
        res = _read_rice_residual(reader, bs, o)
        # x[i] = res + ((sum_j c_j * x[i-1-j]) >> shift); Python
        # ints keep the pre-shift dot product exact and >> is the
        # arithmetic (floor) shift the spec requires on negatives.
        cof = [int(c) for c in coefs]
        rng = range(1, o + 1)
        vals = [int(w) for w in warm]
        for r in res.tolist():
            acc = 0
            for j in rng:
                acc += cof[j - 1] * vals[-j]
            vals.append(r + (acc >> shift))
        blk = np.array(vals, dtype=np.int64) << wasted
    else:
        raise ValueError(f"unsupported subframe type {stype}")
    return blk, stype


def decode_flac(
    data: bytes, return_subframe_types: bool = False
) -> tuple[int, np.ndarray] | tuple[int, np.ndarray, list[int]]:
    """FLAC bytes -> (sample_rate, int16 samples — 1-D for mono,
    shape (2, n) [left; right] for stereo). Verifies the sync code,
    header CRC-8, and frame CRC-16 of every frame; supports 16-bit
    CONSTANT/VERBATIM/FIXED (orders 0-4) and LPC (orders 1-32,
    quantized-coefficient integer prediction) subframes,
    multi-partition rice residuals, the raw-escape rice code, and all
    four stereo channel assignments (independent, left/side,
    right/side, mid/side — the side channel reads at bps+1 and the
    inter-channel reconstruction is pure integer). With
    ``return_subframe_types`` the 6-bit subframe type codes are
    appended to the result in read order (one per frame for mono, two
    per frame for stereo; 0=CONSTANT, 1=VERBATIM, 8+o=FIXED order o,
    31+o=LPC order o)."""
    if not data.startswith(FLAC_MAGIC):
        raise ValueError("not a FLAC payload")
    pos = 4
    sample_rate = None
    total = None
    # metadata blocks
    while True:
        if pos + 4 > len(data):
            raise ValueError("truncated FLAC metadata")
        last = data[pos] & 0x80
        btype = data[pos] & 0x7F
        blen = int.from_bytes(data[pos + 1 : pos + 4], "big")
        body = data[pos + 4 : pos + 4 + blen]
        if btype == 0:  # STREAMINFO
            packed = int.from_bytes(body[10:18], "big")
            sample_rate = packed >> 44
            channels = ((packed >> 41) & 0x7) + 1
            bps = ((packed >> 36) & 0x1F) + 1
            total = packed & ((1 << 36) - 1)
            if channels not in (1, 2) or bps != 16:
                raise ValueError(
                    f"only mono/stereo 16-bit supported ({channels} ch, "
                    f"{bps} bps)"
                )
        pos += 4 + blen
        if last:
            break
    if sample_rate is None:
        raise ValueError("missing STREAMINFO")
    out: list[np.ndarray] = []
    out_r: list[np.ndarray] = []  # right channel (stereo only)
    stypes: list[int] = []
    got = 0
    while pos < len(data) and (total == 0 or got < total):
        reader = _BitReader(data, pos)
        if reader.bits(14) != 0b11111111111110:
            raise ValueError(f"bad FLAC sync at byte {pos}")
        reader.bits(1)
        reader.bits(1)
        bs_code = reader.bits(4)
        sr_code = reader.bits(4)
        chan = reader.bits(4)
        ss_code = reader.bits(3)
        reader.bits(1)
        if channels == 1 and chan != 0b0000:
            raise ValueError(f"mono stream with channel assignment {chan}")
        if channels == 2 and chan not in (0b0001, 0b1000, 0b1001, 0b1010):
            raise ValueError(f"bad stereo channel assignment {chan}")
        if ss_code != 0b100:
            raise ValueError("only 16-bit frames supported")
        _flac_read_coded_number(reader)
        if bs_code == 0b0110:
            bs = reader.bits(8) + 1
        elif bs_code == 0b0111:
            bs = reader.bits(16) + 1
        elif 0b0010 <= bs_code <= 0b0101:
            bs = 576 << (bs_code - 2)
        elif bs_code >= 0b1000:
            bs = 256 << (bs_code - 8)
        else:
            raise ValueError(f"bad blocksize code {bs_code}")
        if sr_code in _FLAC_RATES_INV:
            pass  # table rate; STREAMINFO stays authoritative
        elif sr_code == 0b1100:
            reader.bits(8)
        elif sr_code in (0b1101, 0b1110):
            reader.bits(16)
        elif sr_code != 0b0000:
            raise ValueError(f"bad sample-rate code {sr_code}")
        hdr_crc = reader.bits(8)
        hdr_end = reader.bytepos() if reader.bitpos % 8 == 0 else None
        if hdr_end is None:
            raise ValueError("misaligned FLAC header")
        if _crc8(data[pos : hdr_end - 1]) != hdr_crc:
            raise ValueError("FLAC header CRC-8 mismatch")
        # subframes (side channel reads at bps+1)
        if channels == 1:
            blk, st = _read_subframe(reader, bs, 16)
            out.append(blk)
            stypes.append(st)
        else:
            effs = {0b0001: (16, 16), 0b1000: (16, 17),
                    0b1001: (17, 16), 0b1010: (16, 17)}[chan]
            c0, st0 = _read_subframe(reader, bs, effs[0])
            c1, st1 = _read_subframe(reader, bs, effs[1])
            stypes += [st0, st1]
            if chan == 0b0001:  # independent L, R
                lch, rch = c0, c1
            elif chan == 0b1000:  # left/side: R = L - side
                lch, rch = c0, c0 - c1
            elif chan == 0b1001:  # right/side: channel 0 IS the side
                lch, rch = c1 + c0, c1
            else:  # mid/side (integer-exact inverse)
                m2 = (c0 << 1) | (c1 & 1)
                lch, rch = (m2 + c1) >> 1, (m2 - c1) >> 1
            out.append(lch)
            out_r.append(rch)
        reader.align()
        end = reader.bytepos()
        if end + 2 > len(data):
            raise ValueError("truncated FLAC frame")
        crc = struct.unpack(">H", data[end : end + 2])[0]
        if _crc16(data[pos:end]) != crc:
            raise ValueError("FLAC frame CRC-16 mismatch")
        got += bs
        pos = end + 2
    pcm = np.concatenate(out) if out else np.empty(0, dtype=np.int64)
    if channels == 2:
        right = np.concatenate(out_r) if out_r else np.empty(0, dtype=np.int64)
        pcm = np.stack([pcm, right])
    if total and pcm.shape[-1] != total:
        raise ValueError(
            f"decoded {pcm.shape[-1]} samples, STREAMINFO says {total}"
        )
    if pcm.size and (pcm.max() > 32767 or pcm.min() < -32768):
        raise ValueError("decoded samples out of int16 range (corrupt FLAC)")
    if return_subframe_types:
        return int(sample_rate), pcm.astype(np.int16), stypes
    return int(sample_rate), pcm.astype(np.int16)


# =====================================================================
# WebP lossless (VP8L) — implemented from the PUBLIC WebP Lossless
# Bitstream Specification (RFC 9649) and the WebP Container
# Specification (RIFF layout, VP8X/ALPH chunks). Pure stdlib + numpy,
# same from-spec discipline as the PNG/GIF/JPEG/FLAC family above.
#
# Coverage:
#   decode: full image-stream — canonical prefix codes (simple AND
#     normal with RLE code-length coding + max_symbol), LZ77 backward
#     references (plain >120 distance codes exactly; the 120-entry 2D
#     neighborhood table is RECONSTRUCTED from the spec's published
#     ordering rule — sort by squared distance, then |dx|, positive dx
#     first — see _VP8L_DIST_TABLE), color cache, meta prefix codes,
#     and all four transforms (predictor incl. all 14 modes,
#     cross-color, subtract-green, color-indexing incl. sub-byte pixel
#     packing). Predictor modes 11-13 (Select/ClampAddSub*) follow the
#     spec pseudocode but no third-party VP8L pixel decoder exists in
#     this container to cross-check them; the verified surface is
#     pinned by hand-built bitstream vectors + encoder roundtrip +
#     the third-party ALPH stream in tests/fixtures/python.webp.
#   encode: subtract-green + one normal prefix-code group, literal
#     pixels, plain distance codes only — a minimal but fully
#     spec-valid writer (every bit it emits decodes through the
#     from-spec reader and, by construction, any compliant decoder).
# =====================================================================

WEBP_MAGIC = b"RIFF"

_VP8L_CL_ORDER = (
    17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15,
)


class _Vp8lBitReader:
    """LSB-first bit reader (VP8L convention: values little-endian
    bit-packed; canonical prefix codes emitted MSB-of-code first, as
    in DEFLATE)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def bit(self) -> int:
        byte = self.data[self.pos >> 3]
        b = (byte >> (self.pos & 7)) & 1
        self.pos += 1
        return b

    def bits(self, n: int) -> int:
        v = 0
        for i in range(n):
            v |= self.bit() << i
        return v


class _Vp8lBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def bits(self, value: int, n: int) -> None:
        self.acc |= (value & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def code(self, code: int, length: int) -> None:
        """Emit a canonical prefix code MSB-first (DEFLATE convention)."""
        for i in range(length - 1, -1, -1):
            self.bits((code >> i) & 1, 1)

    def done(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def _vp8l_canonical(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), canonical assignment (numerically
    increasing codes in (length, symbol) order — DEFLATE rule)."""
    pairs = sorted(
        (l, s) for s, l in enumerate(lengths) if l > 0
    )
    codes: dict[int, tuple[int, int]] = {}
    code, prev_len = 0, 0
    for l, s in pairs:
        code <<= l - prev_len
        codes[s] = (code, l)
        code += 1
        prev_len = l
    return codes


class _Vp8lCode:
    """Decode side of one prefix code: either a 0-bit constant or a
    (length, code) -> symbol map walked bit-by-bit."""

    def __init__(self, lengths: list[int]):
        nz = [(l, s) for s, l in enumerate(lengths) if l > 0]
        if len(nz) == 0:
            raise ValueError("VP8L: empty prefix code")
        if len(nz) == 1:
            self.const: int | None = nz[0][1]
            self.table: dict[tuple[int, int], int] = {}
            self.max_len = 0
            return
        self.const = None
        self.table = {
            (l, c): s for s, (c, l) in _vp8l_canonical(lengths).items()
        }
        self.max_len = max(l for l, _ in nz)

    def read(self, br: _Vp8lBitReader) -> int:
        if self.const is not None:
            return self.const
        code, depth = 0, 0
        while depth <= self.max_len:
            code = (code << 1) | br.bit()
            depth += 1
            sym = self.table.get((depth, code))
            if sym is not None:
                return sym
        raise ValueError("VP8L: invalid prefix code in stream")


def _balanced_lengths(freqs: dict[int, int], alphabet: int) -> list[int]:
    """Kraft-COMPLETE near-optimal code lengths: with n used symbols
    and 2**k <= n < 2**(k+1), the (2**(k+1) - n) most frequent symbols
    get length k and the rest k+1 (complete binary tree with n leaves).
    Optimal for the near-uniform md5 rasters this encoder targets and
    structurally depth-bounded (n <= 280+cache => max length 10)."""
    used = sorted(freqs, key=lambda s: (-freqs[s], s))
    lengths = [0] * alphabet
    n = len(used)
    if n == 1:
        lengths[used[0]] = 1  # handled as a simple code by the writer
        return lengths
    k = n.bit_length() - 1
    if n == (1 << k):
        short = n
    else:
        short = (1 << (k + 1)) - n
        k += 0  # short symbols keep length k, rest k+1
    for i, s in enumerate(used):
        lengths[s] = k if i < short else k + 1
    return lengths


def _vp8l_write_prefix_code(bw: _Vp8lBitWriter, lengths: list[int]) -> None:
    used = [s for s, l in enumerate(lengths) if l > 0]
    if 1 <= len(used) <= 2 and max(used) < 256:
        bw.bits(1, 1)  # simple code
        bw.bits(len(used) - 1, 1)
        if used[0] < 2 and len(used) == 1:
            bw.bits(0, 1)  # first symbol in 1 bit
            bw.bits(used[0], 1)
        else:
            bw.bits(1, 1)  # first symbol in 8 bits
            bw.bits(used[0], 8)
        if len(used) == 2:
            bw.bits(used[1], 8)
        return
    bw.bits(0, 1)  # normal code
    cl_freq: dict[int, int] = {}
    for l in lengths:
        cl_freq[l] = cl_freq.get(l, 0) + 1
    cl_lengths = _balanced_lengths(cl_freq, 19)
    # a 1-symbol code-length code is legal at this level (the reader
    # builds a 0-bit constant code for it)
    bw.bits(19 - 4, 4)
    for sym in _VP8L_CL_ORDER:
        bw.bits(cl_lengths[sym], 3)
    cl_codes = _vp8l_canonical(cl_lengths)
    bw.bits(0, 1)  # no max_symbol shortcut
    single = len(cl_freq) == 1
    for l in lengths:
        if not single:
            c, n = cl_codes[l]
            bw.code(c, n)


def _vp8l_read_code_lengths(
    br: _Vp8lBitReader, alphabet: int
) -> list[int]:
    num_codes = 4 + br.bits(4)
    cl_lengths = [0] * 19
    for i in range(num_codes):
        cl_lengths[_VP8L_CL_ORDER[i]] = br.bits(3)
    cl_code = _Vp8lCode(cl_lengths)
    if br.bit():  # use max_symbol
        length_nbits = 2 + 2 * br.bits(3)
        max_symbol = 2 + br.bits(length_nbits)
    else:
        max_symbol = alphabet
    lengths = [0] * alphabet
    prev_len = 8  # spec default when a repeat precedes any literal
    symbol = 0
    while symbol < alphabet:
        if max_symbol == 0:
            break
        max_symbol -= 1
        cl = cl_code.read(br)
        if cl < 16:
            lengths[symbol] = cl
            symbol += 1
            if cl != 0:
                prev_len = cl
        elif cl == 16:
            rep = 3 + br.bits(2)
            for _ in range(rep):
                if symbol < alphabet:
                    lengths[symbol] = prev_len
                    symbol += 1
        elif cl == 17:
            symbol += 3 + br.bits(3)
        else:  # 18
            symbol += 11 + br.bits(7)
    return lengths


def _vp8l_read_prefix_code(br: _Vp8lBitReader, alphabet: int) -> _Vp8lCode:
    if br.bit():  # simple
        num_symbols = br.bits(1) + 1
        if br.bit():
            sym0 = br.bits(8)
        else:
            sym0 = br.bits(1)
        lengths = [0] * alphabet
        if num_symbols == 1:
            lengths[sym0] = 1  # becomes a 0-bit constant code
        else:
            sym1 = br.bits(8)
            lengths[sym0] = 1
            lengths[sym1] = 1
        return _Vp8lCode(lengths)
    return _Vp8lCode(_vp8l_read_code_lengths(br, alphabet))


def _vp8l_lz77_value(br: _Vp8lBitReader, code: int) -> int:
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.bits(extra) + 1


# The 120 two-dimensional distance codes (dx, dy) of RFC 9649 section
# 4.2.2.3, stated EXPLICITLY. An earlier revision reconstructed the
# table as "neighborhood offsets sorted by squared euclidean distance"
# — that heuristic matches the first 96 entries but 24 of the tail
# entries differ from the normative list (e.g. code 97 is (8, 0), not
# (0, 8)), which mis-decoded third-party palette subimages whose LZ77
# references use the far window (caught by the libwebp-lossless
# interop test; this repo's own encoder emits only plain distances
# > 120, so round-trips could never see it).
_VP8L_DIST_TABLE = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0),
    (1, 2), (-1, 2), (2, 1), (-2, 1), (2, 2), (-2, 2),
    (0, 3), (3, 0), (1, 3), (-1, 3), (3, 1), (-3, 1),
    (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3),
    (2, 4), (-2, 4), (4, 2), (-4, 2), (0, 5), (3, 4),
    (-3, 4), (4, 3), (-4, 3), (5, 0), (1, 5), (-1, 5),
    (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3),
    (0, 6), (6, 0), (1, 6), (-1, 6), (6, 1), (-6, 1),
    (2, 6), (-2, 6), (6, 2), (-6, 2), (4, 5), (-4, 5),
    (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5),
    (7, 1), (-7, 1), (4, 6), (-4, 6), (6, 4), (-6, 4),
    (2, 7), (-2, 7), (7, 2), (-7, 2), (3, 7), (-3, 7),
    (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1),
    (8, 2), (6, 6), (-6, 6), (8, 3), (5, 7), (-5, 7),
    (7, 5), (-7, 5), (8, 4), (6, 7), (-6, 7), (7, 6),
    (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
)


def _vp8l_plane_to_dist(plane_code: int, width: int) -> int:
    if plane_code > 120:
        return plane_code - 120
    dx, dy = _VP8L_DIST_TABLE[plane_code - 1]
    return max(1, dy * width + dx)


def _vp8l_cache_idx(px: int, cache_bits: int) -> int:
    return ((0x1E35A7BD * px) & 0xFFFFFFFF) >> (32 - cache_bits)


def _vp8l_subsample(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _vp8l_decode_pixels(
    br: _Vp8lBitReader,
    w: int,
    h: int,
    cache_bits: int,
    groups: list[list[_Vp8lCode]],
    meta: "object | None",
    meta_bits: int,
) -> "object":
    import numpy as np

    n = w * h
    out = np.zeros(n, dtype=np.uint32)
    cache = [0] * (1 << cache_bits) if cache_bits else None
    pos = 0
    group = groups[0]
    while pos < n:
        if meta is not None:
            x, y = pos % w, pos // w
            mpx = int(meta[(y >> meta_bits) * _vp8l_subsample(w, meta_bits)
                           + (x >> meta_bits)])
            group = groups[(mpx >> 8) & 0xFFFF]
        s = group[0].read(br)
        if s < 256:
            r = group[1].read(br)
            b = group[2].read(br)
            a = group[3].read(br)
            px = (a << 24) | (r << 16) | (s << 8) | b
            out[pos] = px
            if cache is not None:
                cache[_vp8l_cache_idx(px, cache_bits)] = px
            pos += 1
        elif s < 280:
            length = _vp8l_lz77_value(br, s - 256)
            dist_code = group[4].read(br)
            dist = _vp8l_plane_to_dist(
                _vp8l_lz77_value(br, dist_code), w
            )
            if dist > pos or pos + length > n:
                raise ValueError("VP8L: backward reference out of range")
            for _ in range(length):
                px = int(out[pos - dist])
                out[pos] = px
                if cache is not None:
                    cache[_vp8l_cache_idx(px, cache_bits)] = px
                pos += 1
        else:
            if cache is None:
                raise ValueError("VP8L: cache symbol without color cache")
            out[pos] = cache[s - 280]
            pos += 1
    return out


def _vp8l_read_groups(
    br: _Vp8lBitReader, n_groups: int, cache_size: int
) -> list[list[_Vp8lCode]]:
    alphabets = (256 + 24 + cache_size, 256, 256, 256, 40)
    return [
        [_vp8l_read_prefix_code(br, a) for a in alphabets]
        for _ in range(n_groups)
    ]


def _vp8l_decode_image_stream(
    br: _Vp8lBitReader, w: int, h: int, is_level0: bool
) -> "object":
    """Decode one image stream at (w, h); returns a flat uint32 ARGB
    array of the FINAL image (transforms inverted) — the spec's
    DecodeImageStream."""
    import numpy as np

    transforms = []
    cur_w = w
    if is_level0:
        seen: set[int] = set()
        while br.bit():
            ttype = br.bits(2)
            if ttype in seen:
                raise ValueError("VP8L: duplicate transform")
            seen.add(ttype)
            if ttype == 2:  # subtract green
                transforms.append(("subgreen",))
            elif ttype in (0, 1):  # predictor / cross-color
                size_bits = br.bits(3) + 2
                bw_ = _vp8l_subsample(cur_w, size_bits)
                bh_ = _vp8l_subsample(h, size_bits)
                sub = _vp8l_decode_image_stream(br, bw_, bh_, False)
                transforms.append(
                    ("predictor" if ttype == 0 else "color", size_bits, sub)
                )
            elif ttype == 3:  # color indexing
                n_colors = br.bits(8) + 1
                pal = _vp8l_decode_image_stream(br, n_colors, 1, False)
                # palette entries are delta-coded componentwise
                acc = np.zeros(4, dtype=np.uint8)
                entries = []
                for px in pal:
                    cur = np.array(
                        [
                            (int(px) >> 24) & 0xFF,
                            (int(px) >> 16) & 0xFF,
                            (int(px) >> 8) & 0xFF,
                            int(px) & 0xFF,
                        ],
                        dtype=np.uint8,
                    )
                    acc = acc + cur  # uint8 wraparound
                    entries.append(
                        (int(acc[0]) << 24)
                        | (int(acc[1]) << 16)
                        | (int(acc[2]) << 8)
                        | int(acc[3])
                    )
                if n_colors <= 2:
                    pack_bits = 3
                elif n_colors <= 4:
                    pack_bits = 2
                elif n_colors <= 16:
                    pack_bits = 1
                else:
                    pack_bits = 0
                transforms.append(
                    ("palette", entries, pack_bits, cur_w)
                )
                cur_w = _vp8l_subsample(cur_w, pack_bits)
    cache_bits = 0
    if br.bit():
        cache_bits = br.bits(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("VP8L: invalid color cache size")
    meta = None
    meta_bits = 0
    n_groups = 1
    if is_level0 and br.bit():
        meta_bits = br.bits(3) + 2
        meta = _vp8l_decode_image_stream(
            br,
            _vp8l_subsample(cur_w, meta_bits),
            _vp8l_subsample(h, meta_bits),
            False,
        )
        n_groups = 1 + max(
            (int(px) >> 8) & 0xFFFF for px in meta
        )
    groups = _vp8l_read_groups(br, n_groups, 1 << cache_bits if cache_bits else 0)
    out = _vp8l_decode_pixels(
        br, cur_w, h, cache_bits, groups, meta, meta_bits
    )
    for t in reversed(transforms):
        if t[0] == "subgreen":
            out = _vp8l_inv_subtract_green(out)
        elif t[0] == "predictor":
            out = _vp8l_inv_predictor(out, cur_w, h, t[1], t[2])
        elif t[0] == "color":
            out = _vp8l_inv_color_transform(out, cur_w, h, t[1], t[2])
        else:  # palette
            entries, pack_bits, full_w = t[1], t[2], t[3]
            out = _vp8l_inv_palette(
                out, cur_w, h, entries, pack_bits, full_w
            )
            cur_w = full_w
    return out


def _vp8l_inv_subtract_green(out):
    g = (out >> 8) & 0xFF
    r = (((out >> 16) & 0xFF) + g) & 0xFF
    b = ((out & 0xFF) + g) & 0xFF
    return (out & 0xFF00FF00) | (r << 16) | b


def _vp8l_avg2(a: int, b: int) -> int:
    return (
        ((((a >> 24) & 0xFF) + ((b >> 24) & 0xFF)) >> 1) << 24
        | ((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) >> 1) << 16
        | ((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) >> 1) << 8
        | ((((a & 0xFF) + (b & 0xFF)) >> 1))
    )


def _vp8l_add_pixels(a: int, b: int) -> int:
    return (
        ((((a >> 24) & 0xFF) + ((b >> 24) & 0xFF)) & 0xFF) << 24
        | ((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) & 0xFF) << 16
        | ((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) & 0xFF) << 8
        | ((((a & 0xFF) + (b & 0xFF)) & 0xFF))
    )


def _vp8l_select(l: int, t: int, tl: int) -> int:
    pa = pb = 0
    for sh in (24, 16, 8, 0):
        lc = (l >> sh) & 0xFF
        tc = (t >> sh) & 0xFF
        tlc = (tl >> sh) & 0xFF
        p = lc + tc - tlc
        pa += abs(p - lc)  # predict == left?
        pb += abs(p - tc)
    # RFC 9649 Select(): `if (pL < pT) return L else return T` — ties
    # go to TOP (libwebp agrees). `<=` here mis-decoded third-party
    # streams whenever pL == pT and L != T.
    return l if pa < pb else t


def _clamp255(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


def _vp8l_clamp_add_sub_full(l: int, t: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        c = _clamp255(
            ((l >> sh) & 0xFF) + ((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        )
        out |= c << sh
    return out


def _vp8l_clamp_add_sub_half(l: int, t: int, tl: int) -> int:
    ave = _vp8l_avg2(l, t)
    out = 0
    for sh in (24, 16, 8, 0):
        a = (ave >> sh) & 0xFF
        # RFC 9649 ClampAddSubtractHalf: `clamp(a + (a - b) / 2)` with
        # C integer division, which truncates TOWARD ZERO; Python `//`
        # floors, off by one for negative odd deltas (a=10, tl=13:
        # spec 9, floor-div 8).
        d = a - ((tl >> sh) & 0xFF)
        c = _clamp255(a + (abs(d) // 2) * (1 if d >= 0 else -1))
        out |= c << sh
    return out


def _vp8l_inv_predictor(res, w: int, h: int, size_bits: int, modes):
    """Spec predictor inverse: pixel = residual + prediction (per
    channel mod 256). Edge rules: (0,0) predicts opaque black; rest of
    the top row predicts LEFT; the left column predicts TOP; the
    top-right neighbor of the rightmost column is the scan-order pixel
    `pos - width + 1` (i.e. the CURRENT row's first pixel), exactly as
    the spec's flat addressing implies."""
    out = [0] * (w * h)
    blocks_w = _vp8l_subsample(w, size_bits)
    for pos in range(w * h):
        x, y = pos % w, pos // w
        if pos == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = out[pos - 1]
        elif x == 0:
            pred = out[pos - w]
        else:
            mode = (
                int(modes[(y >> size_bits) * blocks_w + (x >> size_bits)])
                >> 8
            ) & 0xFF
            left = out[pos - 1]
            top = out[pos - w]
            tl = out[pos - w - 1]
            tr = out[pos - w + 1]  # wraps to this row's x=0 when x==w-1
            if mode == 0:
                pred = 0xFF000000
            elif mode == 1:
                pred = left
            elif mode == 2:
                pred = top
            elif mode == 3:
                pred = tr
            elif mode == 4:
                pred = tl
            elif mode == 5:
                pred = _vp8l_avg2(_vp8l_avg2(left, tr), top)
            elif mode == 6:
                pred = _vp8l_avg2(left, tl)
            elif mode == 7:
                pred = _vp8l_avg2(left, top)
            elif mode == 8:
                pred = _vp8l_avg2(tl, top)
            elif mode == 9:
                pred = _vp8l_avg2(top, tr)
            elif mode == 10:
                pred = _vp8l_avg2(
                    _vp8l_avg2(left, tl), _vp8l_avg2(top, tr)
                )
            elif mode == 11:
                pred = _vp8l_select(left, top, tl)
            elif mode == 12:
                pred = _vp8l_clamp_add_sub_full(left, top, tl)
            elif mode == 13:
                pred = _vp8l_clamp_add_sub_half(left, top, tl)
            else:
                raise ValueError(f"VP8L: invalid predictor mode {mode}")
        out[pos] = _vp8l_add_pixels(int(res[pos]), pred)
    import numpy as np

    return np.array(out, dtype=np.uint32)


def _vp8l_color_delta(t: int, c: int) -> int:
    """(int8(t) * int8(c)) >> 5 — the spec's ColorTransformDelta."""
    if t >= 128:
        t -= 256
    if c >= 128:
        c -= 256
    return (t * c) >> 5


def _vp8l_inv_color_transform(res, w: int, h: int, size_bits: int, cm):
    import numpy as np

    out = np.zeros(w * h, dtype=np.uint32)
    blocks_w = _vp8l_subsample(w, size_bits)
    for pos in range(w * h):
        x, y = pos % w, pos // w
        el = int(cm[(y >> size_bits) * blocks_w + (x >> size_bits)])
        # spec element layout: green_to_red in the BLUE channel,
        # green_to_blue in GREEN, red_to_blue in RED
        g2r, g2b, r2b = el & 0xFF, (el >> 8) & 0xFF, (el >> 16) & 0xFF
        px = int(res[pos])
        a = (px >> 24) & 0xFF
        r = (px >> 16) & 0xFF
        g = (px >> 8) & 0xFF
        b = px & 0xFF
        r = (r + _vp8l_color_delta(g2r, g)) & 0xFF
        b = (b + _vp8l_color_delta(g2b, g) + _vp8l_color_delta(r2b, r)) & 0xFF
        out[pos] = (a << 24) | (r << 16) | (g << 8) | b
    return out


def _vp8l_inv_palette(res, packed_w, h, entries, pack_bits, full_w):
    import numpy as np

    out = np.zeros(full_w * h, dtype=np.uint32)
    per = 1 << pack_bits
    bpp = 8 >> pack_bits
    mask = (1 << bpp) - 1
    for y in range(h):
        for x in range(full_w):
            packed = int(res[y * packed_w + (x >> pack_bits)])
            idx = ((packed >> 8) >> ((x % per) * bpp)) & mask
            if idx >= len(entries):
                raise ValueError("VP8L: palette index out of range")
            out[y * full_w + x] = entries[idx]
    return out


def decode_webp_lossless_stream(
    data: bytes, w: int, h: int, is_level0: bool = True
):
    """Decode a headerless VP8L image stream (the ALPH-chunk form) to
    a flat uint32 ARGB array."""
    br = _Vp8lBitReader(data)
    return _vp8l_decode_image_stream(br, w, h, is_level0)


def _riff_chunk_list(data: bytes) -> list[tuple[bytes, bytes]]:
    import struct

    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP (RIFF) file")
    chunks: list[tuple[bytes, bytes]] = []
    pos = 12
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        size = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        chunks.append((tag, data[pos + 8 : pos + 8 + size]))
        pos += 8 + size + (size & 1)
    return chunks


def _riff_chunks(data: bytes) -> dict[bytes, bytes]:
    return dict(_riff_chunk_list(data))


def _decode_vp8l_payload(payload: bytes):
    """A full VP8L chunk payload (signature + header + stream) ->
    (h, w, 3) uint8 RGB raster."""
    import numpy as np

    if payload[0] != 0x2F:
        raise ValueError("VP8L: bad signature byte")
    br = _Vp8lBitReader(payload[1:])
    w = br.bits(14) + 1
    h = br.bits(14) + 1
    br.bit()  # alpha_is_used hint
    if br.bits(3) != 0:
        raise ValueError("VP8L: unsupported version")
    argb = _vp8l_decode_image_stream(br, w, h, True)
    out = np.zeros((h, w, 3), dtype=np.uint8)
    arr = argb.reshape(h, w)
    out[:, :, 0] = (arr >> 16) & 0xFF
    out[:, :, 1] = (arr >> 8) & 0xFF
    out[:, :, 2] = arr & 0xFF
    return out


def decode_webp_lossless(data: bytes):
    """RIFF 'WEBP' + VP8L chunk -> (h, w, 3) uint8 RGB raster."""
    chunks = _riff_chunks(data)
    if b"VP8L" not in chunks:
        raise ValueError("WebP: no VP8L chunk (lossy VP8 not supported)")
    return _decode_vp8l_payload(chunks[b"VP8L"])


def _webp_chunk(tag: bytes, body: bytes) -> bytes:
    import struct

    out = tag + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        out += b"\x00"
    return out


def encode_webp_anim(frames, durations_ms: int = 40) -> bytes:
    """(n, h, w, 3) uint8 RGB -> animated WebP (container spec: VP8X
    with the ANIM flag, one ANIM chunk, one ANMF chunk per frame, each
    carrying a lossless VP8L frame at the full canvas)."""
    import struct

    import numpy as np

    frames = np.asarray(frames, dtype=np.uint8)
    n, h, w = frames.shape[:3]
    vp8x = bytes([0x02, 0, 0, 0]) + struct.pack("<I", w - 1)[:3] + struct.pack(
        "<I", h - 1
    )[:3]
    anim = struct.pack("<I", 0) + struct.pack("<H", 0)  # bg BGRA + loops
    body = _webp_chunk(b"VP8X", vp8x) + _webp_chunk(b"ANIM", anim)
    for i in range(n):
        inner = encode_webp_lossless(frames[i])
        vp8l_chunk = inner[12:]  # strip the frame's own RIFF header
        anmf = (
            struct.pack("<I", 0)[:3]          # frame_x / 2
            + struct.pack("<I", 0)[:3]        # frame_y / 2
            + struct.pack("<I", w - 1)[:3]
            + struct.pack("<I", h - 1)[:3]
            + struct.pack("<I", durations_ms)[:3]
            + bytes([0])                      # blend over, keep canvas
            + vp8l_chunk
        )
        body += _webp_chunk(b"ANMF", anmf)
    riff = b"WEBP" + body
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def decode_webp_anim(data: bytes):
    """Animated WebP -> ((n, h, w, 3) uint8 RGB frames, durations_ms).
    Only full-canvas VP8L frames are supported (what encode_webp_anim
    writes; lossy ANMF frames raise)."""
    import struct

    import numpy as np

    chunks = _riff_chunk_list(data)
    tags = [t for t, _ in chunks]
    if b"VP8X" not in tags:
        raise ValueError("WebP: no VP8X chunk (not extended format)")
    vp8x = dict(chunks)[b"VP8X"]
    if not vp8x[0] & 0x02:
        raise ValueError("WebP: ANIM flag not set")
    frames, durations = [], []
    for tag, payload in chunks:
        if tag != b"ANMF":
            continue
        fw = 1 + (payload[6] | payload[7] << 8 | payload[8] << 16)
        fh = 1 + (payload[9] | payload[10] << 8 | payload[11] << 16)
        dur = payload[12] | payload[13] << 8 | payload[14] << 16
        sub = payload[16:]
        stag = sub[0:4]
        if stag != b"VP8L":
            raise ValueError(f"ANMF: unsupported frame codec {stag!r}")
        size = struct.unpack("<I", sub[4:8])[0]
        arr = _decode_vp8l_payload(sub[8 : 8 + size])
        if arr.shape[:2] != (fh, fw):
            raise ValueError("ANMF: frame dims disagree with VP8L header")
        frames.append(arr)
        durations.append(dur)
    if not frames:
        raise ValueError("WebP: no ANMF frames")
    return np.stack(frames), durations


def webp_info(data: bytes) -> dict:
    """Container-level metadata: chunk list, canvas size, alpha/format
    flags — cross-checked from the independent VP8X and frame headers
    where both exist (the real-file interop layer)."""
    chunks = _riff_chunks(data)
    info: dict = {"chunks": [t.decode("ascii").strip() for t in chunks]}
    if b"VP8X" in chunks:
        v = chunks[b"VP8X"]
        info["canvas_w"] = 1 + (v[4] | v[5] << 8 | v[6] << 16)
        info["canvas_h"] = 1 + (v[7] | v[8] << 8 | v[9] << 16)
        info["has_alpha"] = bool(v[0] & 0x10)
        info["has_anim"] = bool(v[0] & 0x02)
    if b"VP8 " in chunks:
        f = chunks[b"VP8 "]
        tag = f[0] | f[1] << 8 | f[2] << 16
        info["format"] = "lossy"
        info["keyframe"] = not (tag & 1)
        if f[3:6] != b"\x9d\x01\x2a":
            raise ValueError("VP8: bad start code")
        info["frame_w"] = (f[6] | f[7] << 8) & 0x3FFF
        info["frame_h"] = (f[8] | f[9] << 8) & 0x3FFF
    if b"VP8L" in chunks:
        p = chunks[b"VP8L"]
        if p[0] != 0x2F:
            raise ValueError("VP8L: bad signature byte")
        br = _Vp8lBitReader(p[1:])
        info["format"] = "lossless"
        info["frame_w"] = br.bits(14) + 1
        info["frame_h"] = br.bits(14) + 1
    if b"ALPH" in chunks:
        a = chunks[b"ALPH"]
        info["alpha_compression"] = a[0] & 3
        info["alpha_filter"] = (a[0] >> 2) & 3
        info["alpha_preprocess"] = (a[0] >> 4) & 3
    n_anmf = sum(1 for t, _ in _riff_chunk_list(data) if t == b"ANMF")
    if n_anmf:
        info["n_frames"] = n_anmf
    return info


def decode_webp_alpha(data: bytes):
    """Decode the ALPH chunk's alpha plane of a VP8X WebP. Compression
    method 1 is a headerless VP8L stream with alpha in the GREEN
    channel (container spec 'Alpha' section) — this is the one REAL
    third-party VP8L bitstream path testable in this container."""
    import numpy as np

    chunks = _riff_chunks(data)
    info = webp_info(data)
    a = chunks[b"ALPH"]
    w, h = info["canvas_w"], info["canvas_h"]
    method = a[0] & 3
    filt = (a[0] >> 2) & 3
    if method == 0:
        plane = np.frombuffer(a[1 : 1 + w * h], dtype=np.uint8).reshape(h, w)
        plane = plane.copy()
    elif method == 1:
        argb = decode_webp_lossless_stream(a[1:], w, h, True)
        plane = ((argb.reshape(h, w) >> 8) & 0xFF).astype(np.uint8)
    else:
        raise ValueError(f"ALPH: invalid compression method {method}")
    if filt:
        # filters 1..3: horizontal / vertical / gradient prediction,
        # inverse-applied in scan order (container spec)
        out = plane.astype(np.int32)
        for y in range(h):
            for x in range(w):
                if x == 0 and y == 0:
                    pred = 0
                elif y == 0:
                    pred = out[0, x - 1]
                elif x == 0:
                    pred = out[y - 1, 0]
                else:
                    left, top, tl = (
                        out[y, x - 1],
                        out[y - 1, x],
                        out[y - 1, x - 1],
                    )
                    if filt == 1:
                        pred = left
                    elif filt == 2:
                        pred = top
                    else:
                        pred = min(max(left + top - tl, 0), 255)
                out[y, x] = (out[y, x] + pred) & 0xFF
        plane = out.astype(np.uint8)
    return plane


def encode_webp_lossless(arr) -> bytes:
    """(h, w, 3) uint8 RGB -> RIFF/VP8L bytes: subtract-green
    transform + one normal prefix-code group of literal pixels (plain
    distance codes only; alpha rides a 0-bit single-symbol code).
    Minimal but fully spec-valid — see the section header."""
    import struct

    import numpy as np

    arr = np.asarray(arr, dtype=np.uint8)
    h, w = arr.shape[:2]
    if not (1 <= w <= 1 << 14 and 1 <= h <= 1 << 14):
        raise ValueError("VP8L: dimensions out of range")
    r = arr[:, :, 0].astype(np.int32)
    g = arr[:, :, 1].astype(np.int32)
    b = arr[:, :, 2].astype(np.int32)
    # subtract green (the forward transform)
    r = (r - g) & 0xFF
    b = (b - g) & 0xFF
    bw = _Vp8lBitWriter()
    bw.bits(w - 1, 14)
    bw.bits(h - 1, 14)
    bw.bits(0, 1)  # alpha unused
    bw.bits(0, 3)  # version
    bw.bits(1, 1)  # one transform:
    bw.bits(2, 2)  # SUBTRACT_GREEN
    bw.bits(0, 1)  # no more transforms
    bw.bits(0, 1)  # no color cache
    bw.bits(0, 1)  # no meta prefix codes
    gs = g.ravel().tolist()
    rs = r.ravel().tolist()
    bs = b.ravel().tolist()

    def _freqs(vals) -> dict[int, int]:
        f: dict[int, int] = {}
        for v in vals:
            f[v] = f.get(v, 0) + 1
        return f

    green_lengths = _balanced_lengths(_freqs(gs), 256 + 24)
    red_lengths = _balanced_lengths(_freqs(rs), 256)
    blue_lengths = _balanced_lengths(_freqs(bs), 256)
    alpha_lengths = _balanced_lengths({255: 1}, 256)
    dist_lengths = _balanced_lengths({0: 1}, 40)
    for lengths in (
        green_lengths,
        red_lengths,
        blue_lengths,
        alpha_lengths,
        dist_lengths,
    ):
        _vp8l_write_prefix_code(bw, lengths)
    gc = _vp8l_canonical(green_lengths)
    rc = _vp8l_canonical(red_lengths)
    bc = _vp8l_canonical(blue_lengths)
    n_green = len([l for l in green_lengths if l])
    n_red = len([l for l in red_lengths if l])
    n_blue = len([l for l in blue_lengths if l])
    for gv, rv, bv in zip(gs, rs, bs):
        if n_green > 1:
            bw.code(*gc[gv])
        if n_red > 1:
            bw.code(*rc[rv])
        if n_blue > 1:
            bw.code(*bc[bv])
        # alpha: 0-bit code, nothing emitted
    payload = b"\x2f" + bw.done()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


# =====================================================================
# MP3 (MPEG-1 Audio Layer III) FRAME-HEADER layer — from the public
# ISO/IEC 11172-3 header layout: the ingest-triage surface a training
# pipeline needs (frame walk, bitrate/samplerate tables, frame-length
# arithmetic, duration accounting) implemented for real; full audio
# decode (huffman + IMDCT + polyphase synthesis) stays a documented
# extension point, stated honestly here rather than stubbed silently.
# =====================================================================

MP3_BITRATES_KBPS = (
    0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
)  # MPEG-1 Layer III bitrate_index 0..14 (0 = free, 15 = invalid)
MP3_SAMPLERATES = (44100, 48000, 32000)  # samplerate_index 0..2
MP3_SAMPLES_PER_FRAME = 1152  # MPEG-1 Layer III


def mp3_frame_length(bitrate_kbps: int, samplerate: int, padding: int) -> int:
    """ISO 11172-3: FrameLen = floor(144 * bitrate / samplerate) + pad."""
    return (144 * bitrate_kbps * 1000) // samplerate + padding


def encode_mp3_frames(
    specs: list[tuple[int, int]],
    payload: bytes,
    samplerate_index: int = 0,
) -> bytes:
    """Build a structurally valid MPEG-1 Layer III frame sequence:
    one (bitrate_index, padding) spec per frame, payload bytes drawn
    sequentially from `payload` to fill each frame body. Headers are
    bit-exact per the spec (sync 0x7FF, version 11=MPEG-1, layer
    01=III, no CRC, mono); bodies are opaque bytes (no side info /
    huffman data — valid for header walking, not for audio decode)."""
    out = bytearray()
    pos = 0
    sr = MP3_SAMPLERATES[samplerate_index]
    for bitrate_index, padding in specs:
        if not 1 <= bitrate_index <= 14:
            raise ValueError("MP3: bitrate_index out of range")
        kbps = MP3_BITRATES_KBPS[bitrate_index]
        flen = mp3_frame_length(kbps, sr, padding)
        b0 = 0xFF
        b1 = 0b11111011  # sync(3) + version 11 + layer 01 + no-CRC 1
        b2 = (bitrate_index << 4) | (samplerate_index << 2) | (padding << 1)
        b3 = 0b11000000  # channel mode 11 = mono/single channel
        body = payload[pos : pos + flen - 4]
        if len(body) < flen - 4:
            raise ValueError("MP3: payload underrun")
        pos += flen - 4
        out += bytes([b0, b1, b2, b3]) + body
    return bytes(out)


def decode_mp3_frames(data: bytes) -> list[dict]:
    """Walk an MPEG-1 Layer III frame sequence by header arithmetic
    (no byte scanning: each header's frame length positions the next
    sync, and a broken walk desyncs immediately). Returns one dict per
    frame: bitrate_kbps, samplerate, padding, frame_len."""
    frames = []
    pos = 0
    while pos < len(data):
        if pos + 4 > len(data):
            raise ValueError("MP3: truncated header")
        b0, b1, b2, b3 = data[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            raise ValueError(f"MP3: lost sync at byte {pos}")
        version = (b1 >> 3) & 3
        layer = (b1 >> 1) & 3
        if version != 3 or layer != 1:
            raise ValueError("MP3: only MPEG-1 Layer III supported")
        bitrate_index = (b2 >> 4) & 0xF
        samplerate_index = (b2 >> 2) & 3
        padding = (b2 >> 1) & 1
        if bitrate_index in (0, 15) or samplerate_index == 3:
            raise ValueError("MP3: invalid bitrate/samplerate index")
        kbps = MP3_BITRATES_KBPS[bitrate_index]
        sr = MP3_SAMPLERATES[samplerate_index]
        flen = mp3_frame_length(kbps, sr, padding)
        if pos + flen > len(data):
            raise ValueError("MP3: frame overruns payload")
        frames.append(
            {
                "bitrate_kbps": kbps,
                "samplerate": sr,
                "padding": padding,
                "frame_len": flen,
            }
        )
        pos += flen
    return frames


# =====================================================================
# H.264 / AVC (ISO/IEC 14496-10) NAL-unit layer — Annex B byte-stream
# walking with REAL emulation-prevention (RBSP unescaping): the
# structure-triage surface for video training data. Slice/macroblock
# decode is the documented extension point.
# =====================================================================


def h264_escape_rbsp(rbsp: bytes) -> bytes:
    """Insert emulation_prevention_three_byte: any 00 00 followed by
    00/01/02/03 in the raw payload becomes 00 00 03 xx on the wire."""
    out = bytearray()
    zeros = 0
    for byte in rbsp:
        if zeros >= 2 and byte <= 3:
            out.append(3)
            zeros = 0
        out.append(byte)
        zeros = zeros + 1 if byte == 0 else 0
    return bytes(out)


def h264_unescape_rbsp(data: bytes) -> bytes:
    """Remove emulation_prevention_three_byte (00 00 03 -> 00 00).

    Splice-based form of the per-byte scan (which was a measurable
    leaf of every from-spec decode): an escape is a literal
    ``00 00 03`` whose next byte is <= 3.  This is exactly the
    per-byte rule — the scan's zero counter resets after each
    removal, so output zero-runs never bridge a removed byte and the
    escape condition is always visible as the literal input pattern
    (fuzz-pinned against the reference scan in
    tests/test_hevc_native.py)."""
    i = data.find(b"\x00\x00\x03")
    if i < 0:
        return data
    n = len(data)
    out = bytearray()
    start = 0
    while i >= 0:
        if i + 3 < n and data[i + 3] <= 3:
            out += data[start:i + 2]
            start = i + 3
            i = data.find(b"\x00\x00\x03", start)
        else:
            i = data.find(b"\x00\x00\x03", i + 1)
    out += data[start:]
    return bytes(out)


def encode_annexb(nals: list[tuple[int, int, bytes]]) -> bytes:
    """(nal_ref_idc, nal_unit_type, rbsp payload) -> Annex B byte
    stream: 4-byte start code before parameter sets / IDR, 3-byte
    before other NALs (the common packaging), header byte
    forbidden_zero(1) | ref_idc(2) | type(5), payload escaped. Every
    RBSP gets the spec's rbsp_trailing_bits byte (0x80) appended — the
    stop bit is what disambiguates a payload's trailing zero bytes
    from the NEXT NAL's start code (a raw payload ending in 00 00
    would otherwise be swallowed by the start-code scan)."""
    out = bytearray()
    for ref_idc, ntype, rbsp in nals:
        start = (
            b"\x00\x00\x00\x01" if ntype in (5, 7, 8) else b"\x00\x00\x01"
        )
        out += start
        out.append(((ref_idc & 3) << 5) | (ntype & 0x1F))
        out += h264_escape_rbsp(rbsp + b"\x80")
    return bytes(out)


def decode_annexb(data: bytes) -> list[dict]:
    """Walk an Annex B stream: find start codes, split NAL units,
    unescape each RBSP. Returns dicts with ref_idc, nal_type, rbsp."""
    starts = []
    i = 0
    n = len(data)
    while i + 3 <= n:
        if data[i] == 0 and data[i + 1] == 0:
            if data[i + 2] == 1:
                starts.append((i, i + 3))
                i += 3
                continue
            if i + 4 <= n and data[i + 2] == 0 and data[i + 3] == 1:
                starts.append((i, i + 4))
                i += 4
                continue
        i += 1
    if not starts or starts[0][0] != 0:
        raise ValueError("H264: stream must begin with a start code")
    nals = []
    for k, (s, body_start) in enumerate(starts):
        body_end = starts[k + 1][0] if k + 1 < len(starts) else n
        hdr = data[body_start]
        if hdr & 0x80:
            raise ValueError("H264: forbidden_zero_bit set")
        body = data[body_start + 1 : body_end]
        # trailing_zero_8bits belong to the byte stream, not the NAL
        body = body.rstrip(b"\x00")
        rbsp = h264_unescape_rbsp(body)
        if not rbsp or rbsp[-1] != 0x80:
            raise ValueError("H264: missing rbsp_trailing_bits stop byte")
        nals.append(
            {
                "ref_idc": (hdr >> 5) & 3,
                "nal_type": hdr & 0x1F,
                "rbsp": rbsp[:-1],
            }
        )
    return nals


# ===========================================================================
# VP8 (lossy WebP) intra-frame codec — RFC 6386, implemented from the
# spec in pure Python/numpy (no external codec).  Scope: keyframes
# (which is all a still lossy WebP contains): boolean arithmetic
# coder, full keyframe header (segmentation, loop-filter deltas,
# multiple token partitions, coefficient-probability updates), token
# decoding with band/context modeling, dequantization, inverse WHT and
# DCT, all 4x4/8x8/16x16 intra predictors, and both normal and simple
# loop filters.  The probability/quantizer constants below are the
# NORMATIVE tables of RFC 6386 sections 11.5, 13.4, 13.5 and 14.1.
# Third-party interop is pinned in tests against the system libwebp
# (tests/fixtures/python.webp's VP8 chunk and libwebp-encoded streams
# decode bit-exactly at the YUV plane level), and the repo's own
# minimal encoder (_encode_vp8_dc_mosaic) emits spec-valid streams
# that libwebp decodes to the same planes.
# ===========================================================================

# Quantizer lookup tables (RFC 6386 section 14.1).
_VP8_DC_Q = bytes([
    4, 5, 6, 7, 8, 9, 10, 10, 11, 12, 13, 14, 15, 16, 17, 17,
    18, 19, 20, 20, 21, 21, 22, 22, 23, 23, 24, 25, 25, 26, 27, 28,
    29, 30, 31, 32, 33, 34, 35, 36, 37, 37, 38, 39, 40, 41, 42, 43,
    44, 45, 46, 46, 47, 48, 49, 50, 51, 52, 53, 54, 55, 56, 57, 58,
    59, 60, 61, 62, 63, 64, 65, 66, 67, 68, 69, 70, 71, 72, 73, 74,
    75, 76, 76, 77, 78, 79, 80, 81, 82, 83, 84, 85, 86, 87, 88, 89,
    91, 93, 95, 96, 98, 100, 101, 102, 104, 106, 108, 110, 112, 114, 116, 118,
    122, 124, 126, 128, 130, 132, 134, 136, 138, 140, 143, 145, 148, 151, 154, 157,
])
_VP8_AC_Q = [
    4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19,
    20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34, 35,
    36, 37, 38, 39, 40, 41, 42, 43, 44, 45, 46, 47, 48, 49, 50, 51,
    52, 53, 54, 55, 56, 57, 58, 60, 62, 64, 66, 68, 70, 72, 74, 76,
    78, 80, 82, 84, 86, 88, 90, 92, 94, 96, 98, 100, 102, 104, 106, 108,
    110, 112, 114, 116, 119, 122, 125, 128, 131, 134, 137, 140, 143, 146, 149, 152,
    155, 158, 161, 164, 167, 170, 173, 177, 181, 185, 189, 193, 197, 201, 205, 209,
    213, 217, 221, 225, 229, 234, 239, 245, 249, 254, 259, 264, 269, 274, 279, 284,
]
# Default token probabilities, 4 types x 8 bands x 3 contexts x 11
# tree nodes (RFC 6386 section 13.5).
_VP8_COEFF_PROBS = bytes([
    128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128,
    128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128,
    128, 253, 136, 254, 255, 228, 219, 128, 128, 128, 128, 128, 189, 129, 242, 255,
    227, 213, 255, 219, 128, 128, 128, 106, 126, 227, 252, 214, 209, 255, 255, 128,
    128, 128, 1, 98, 248, 255, 236, 226, 255, 255, 128, 128, 128, 181, 133, 238,
    254, 221, 234, 255, 154, 128, 128, 128, 78, 134, 202, 247, 198, 180, 255, 219,
    128, 128, 128, 1, 185, 249, 255, 243, 255, 128, 128, 128, 128, 128, 184, 150,
    247, 255, 236, 224, 128, 128, 128, 128, 128, 77, 110, 216, 255, 236, 230, 128,
    128, 128, 128, 128, 1, 101, 251, 255, 241, 255, 128, 128, 128, 128, 128, 170,
    139, 241, 252, 236, 209, 255, 255, 128, 128, 128, 37, 116, 196, 243, 228, 255,
    255, 255, 128, 128, 128, 1, 204, 254, 255, 245, 255, 128, 128, 128, 128, 128,
    207, 160, 250, 255, 238, 128, 128, 128, 128, 128, 128, 102, 103, 231, 255, 211,
    171, 128, 128, 128, 128, 128, 1, 152, 252, 255, 240, 255, 128, 128, 128, 128,
    128, 177, 135, 243, 255, 234, 225, 128, 128, 128, 128, 128, 80, 129, 211, 255,
    194, 224, 128, 128, 128, 128, 128, 1, 1, 255, 128, 128, 128, 128, 128, 128,
    128, 128, 246, 1, 255, 128, 128, 128, 128, 128, 128, 128, 128, 255, 128, 128,
    128, 128, 128, 128, 128, 128, 128, 128, 198, 35, 237, 223, 193, 187, 162, 160,
    145, 155, 62, 131, 45, 198, 221, 172, 176, 220, 157, 252, 221, 1, 68, 47,
    146, 208, 149, 167, 221, 162, 255, 223, 128, 1, 149, 241, 255, 221, 224, 255,
    255, 128, 128, 128, 184, 141, 234, 253, 222, 220, 255, 199, 128, 128, 128, 81,
    99, 181, 242, 176, 190, 249, 202, 255, 255, 128, 1, 129, 232, 253, 214, 197,
    242, 196, 255, 255, 128, 99, 121, 210, 250, 201, 198, 255, 202, 128, 128, 128,
    23, 91, 163, 242, 170, 187, 247, 210, 255, 255, 128, 1, 200, 246, 255, 234,
    255, 128, 128, 128, 128, 128, 109, 178, 241, 255, 231, 245, 255, 255, 128, 128,
    128, 44, 130, 201, 253, 205, 192, 255, 255, 128, 128, 128, 1, 132, 239, 251,
    219, 209, 255, 165, 128, 128, 128, 94, 136, 225, 251, 218, 190, 255, 255, 128,
    128, 128, 22, 100, 174, 245, 186, 161, 255, 199, 128, 128, 128, 1, 182, 249,
    255, 232, 235, 128, 128, 128, 128, 128, 124, 143, 241, 255, 227, 234, 128, 128,
    128, 128, 128, 35, 77, 181, 251, 193, 211, 255, 205, 128, 128, 128, 1, 157,
    247, 255, 236, 231, 255, 255, 128, 128, 128, 121, 141, 235, 255, 225, 227, 255,
    255, 128, 128, 128, 45, 99, 188, 251, 195, 217, 255, 224, 128, 128, 128, 1,
    1, 251, 255, 213, 255, 128, 128, 128, 128, 128, 203, 1, 248, 255, 255, 128,
    128, 128, 128, 128, 128, 137, 1, 177, 255, 224, 255, 128, 128, 128, 128, 128,
    253, 9, 248, 251, 207, 208, 255, 192, 128, 128, 128, 175, 13, 224, 243, 193,
    185, 249, 198, 255, 255, 128, 73, 17, 171, 221, 161, 179, 236, 167, 255, 234,
    128, 1, 95, 247, 253, 212, 183, 255, 255, 128, 128, 128, 239, 90, 244, 250,
    211, 209, 255, 255, 128, 128, 128, 155, 77, 195, 248, 188, 195, 255, 255, 128,
    128, 128, 1, 24, 239, 251, 218, 219, 255, 205, 128, 128, 128, 201, 51, 219,
    255, 196, 186, 128, 128, 128, 128, 128, 69, 46, 190, 239, 201, 218, 255, 228,
    128, 128, 128, 1, 191, 251, 255, 255, 128, 128, 128, 128, 128, 128, 223, 165,
    249, 255, 213, 255, 128, 128, 128, 128, 128, 141, 124, 248, 255, 255, 128, 128,
    128, 128, 128, 128, 1, 16, 248, 255, 255, 128, 128, 128, 128, 128, 128, 190,
    36, 230, 255, 236, 255, 128, 128, 128, 128, 128, 149, 1, 255, 128, 128, 128,
    128, 128, 128, 128, 128, 1, 226, 255, 128, 128, 128, 128, 128, 128, 128, 128,
    247, 192, 255, 128, 128, 128, 128, 128, 128, 128, 128, 240, 128, 255, 128, 128,
    128, 128, 128, 128, 128, 128, 1, 134, 252, 255, 255, 128, 128, 128, 128, 128,
    128, 213, 62, 250, 255, 255, 128, 128, 128, 128, 128, 128, 55, 93, 255, 128,
    128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128,
    128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128,
    128, 128, 128, 128, 128, 128, 128, 128, 202, 24, 213, 235, 186, 191, 220, 160,
    240, 175, 255, 126, 38, 182, 232, 169, 184, 228, 174, 255, 187, 128, 61, 46,
    138, 219, 151, 178, 240, 170, 255, 216, 128, 1, 112, 230, 250, 199, 191, 247,
    159, 255, 255, 128, 166, 109, 228, 252, 211, 215, 255, 174, 128, 128, 128, 39,
    77, 162, 232, 172, 180, 245, 178, 255, 255, 128, 1, 52, 220, 246, 198, 199,
    249, 220, 255, 255, 128, 124, 74, 191, 243, 183, 193, 250, 221, 255, 255, 128,
    24, 71, 130, 219, 154, 170, 243, 182, 255, 255, 128, 1, 182, 225, 249, 219,
    240, 255, 224, 128, 128, 128, 149, 150, 226, 252, 216, 205, 255, 171, 128, 128,
    128, 28, 108, 170, 242, 183, 194, 254, 223, 255, 255, 128, 1, 81, 230, 252,
    204, 203, 255, 192, 128, 128, 128, 123, 102, 209, 247, 188, 196, 255, 233, 128,
    128, 128, 20, 95, 153, 243, 164, 173, 255, 203, 128, 128, 128, 1, 222, 248,
    255, 216, 213, 128, 128, 128, 128, 128, 168, 175, 246, 252, 235, 205, 255, 255,
    128, 128, 128, 47, 116, 215, 255, 211, 212, 255, 255, 128, 128, 128, 1, 121,
    236, 253, 212, 214, 255, 255, 128, 128, 128, 141, 84, 213, 252, 201, 202, 255,
    219, 128, 128, 128, 42, 80, 160, 240, 162, 185, 255, 205, 128, 128, 128, 1,
    1, 255, 128, 128, 128, 128, 128, 128, 128, 128, 244, 1, 255, 128, 128, 128,
    128, 128, 128, 128, 128, 238, 1, 255, 128, 128, 128, 128, 128, 128, 128, 128,
])
# Probabilities governing the per-node update flags for the table
# above (RFC 6386 section 13.4).
_VP8_COEFF_UPDATE_PROBS = bytes([
    255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255,
    255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255,
    255, 176, 246, 255, 255, 255, 255, 255, 255, 255, 255, 255, 223, 241, 252, 255,
    255, 255, 255, 255, 255, 255, 255, 249, 253, 253, 255, 255, 255, 255, 255, 255,
    255, 255, 255, 244, 252, 255, 255, 255, 255, 255, 255, 255, 255, 234, 254, 254,
    255, 255, 255, 255, 255, 255, 255, 255, 253, 255, 255, 255, 255, 255, 255, 255,
    255, 255, 255, 255, 246, 254, 255, 255, 255, 255, 255, 255, 255, 255, 239, 253,
    254, 255, 255, 255, 255, 255, 255, 255, 255, 254, 255, 254, 255, 255, 255, 255,
    255, 255, 255, 255, 255, 248, 254, 255, 255, 255, 255, 255, 255, 255, 255, 251,
    255, 254, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255,
    255, 255, 255, 255, 255, 255, 253, 254, 255, 255, 255, 255, 255, 255, 255, 255,
    251, 254, 254, 255, 255, 255, 255, 255, 255, 255, 255, 254, 255, 254, 255, 255,
    255, 255, 255, 255, 255, 255, 255, 254, 253, 255, 254, 255, 255, 255, 255, 255,
    255, 250, 255, 254, 255, 254, 255, 255, 255, 255, 255, 255, 254, 255, 255, 255,
    255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255,
    255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255,
    255, 255, 255, 255, 255, 255, 255, 255, 217, 255, 255, 255, 255, 255, 255, 255,
    255, 255, 255, 225, 252, 241, 253, 255, 255, 254, 255, 255, 255, 255, 234, 250,
    241, 250, 253, 255, 253, 254, 255, 255, 255, 255, 254, 255, 255, 255, 255, 255,
    255, 255, 255, 255, 223, 254, 254, 255, 255, 255, 255, 255, 255, 255, 255, 238,
    253, 254, 254, 255, 255, 255, 255, 255, 255, 255, 255, 248, 254, 255, 255, 255,
    255, 255, 255, 255, 255, 249, 254, 255, 255, 255, 255, 255, 255, 255, 255, 255,
    255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 253, 255, 255, 255,
    255, 255, 255, 255, 255, 255, 247, 254, 255, 255, 255, 255, 255, 255, 255, 255,
    255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 253, 254, 255,
    255, 255, 255, 255, 255, 255, 255, 252, 255, 255, 255, 255, 255, 255, 255, 255,
    255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 254, 254,
    255, 255, 255, 255, 255, 255, 255, 255, 253, 255, 255, 255, 255, 255, 255, 255,
    255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 254,
    253, 255, 255, 255, 255, 255, 255, 255, 255, 250, 255, 255, 255, 255, 255, 255,
    255, 255, 255, 255, 254, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255,
    255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255,
    255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255,
    186, 251, 250, 255, 255, 255, 255, 255, 255, 255, 255, 234, 251, 244, 254, 255,
    255, 255, 255, 255, 255, 255, 251, 251, 243, 253, 254, 255, 254, 255, 255, 255,
    255, 255, 253, 254, 255, 255, 255, 255, 255, 255, 255, 255, 236, 253, 254, 255,
    255, 255, 255, 255, 255, 255, 255, 251, 253, 253, 254, 254, 255, 255, 255, 255,
    255, 255, 255, 254, 254, 255, 255, 255, 255, 255, 255, 255, 255, 254, 254, 254,
    255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255,
    255, 255, 255, 255, 254, 255, 255, 255, 255, 255, 255, 255, 255, 255, 254, 254,
    255, 255, 255, 255, 255, 255, 255, 255, 255, 254, 255, 255, 255, 255, 255, 255,
    255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 254,
    255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255,
    255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255,
    255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255,
    255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255,
    255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255,
    255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255,
    255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255,
    255, 255, 255, 255, 255, 255, 255, 255, 248, 255, 255, 255, 255, 255, 255, 255,
    255, 255, 255, 250, 254, 252, 254, 255, 255, 255, 255, 255, 255, 255, 248, 254,
    249, 253, 255, 255, 255, 255, 255, 255, 255, 255, 253, 253, 255, 255, 255, 255,
    255, 255, 255, 255, 246, 253, 253, 255, 255, 255, 255, 255, 255, 255, 255, 252,
    254, 251, 254, 254, 255, 255, 255, 255, 255, 255, 255, 254, 252, 255, 255, 255,
    255, 255, 255, 255, 255, 248, 254, 253, 255, 255, 255, 255, 255, 255, 255, 255,
    253, 255, 254, 254, 255, 255, 255, 255, 255, 255, 255, 255, 251, 254, 255, 255,
    255, 255, 255, 255, 255, 255, 245, 251, 254, 255, 255, 255, 255, 255, 255, 255,
    255, 253, 253, 254, 255, 255, 255, 255, 255, 255, 255, 255, 255, 251, 253, 255,
    255, 255, 255, 255, 255, 255, 255, 252, 253, 254, 255, 255, 255, 255, 255, 255,
    255, 255, 255, 254, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 252, 255,
    255, 255, 255, 255, 255, 255, 255, 255, 249, 255, 254, 255, 255, 255, 255, 255,
    255, 255, 255, 255, 255, 254, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255,
    253, 255, 255, 255, 255, 255, 255, 255, 255, 250, 255, 255, 255, 255, 255, 255,
    255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255,
    255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 254, 255, 255, 255, 255, 255,
    255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255,
])
# Keyframe 4x4 intra mode probabilities, indexed by the above and
# left neighbor submodes (RFC 6386 section 11.5).
_VP8_KF_BMODE_PROBS = bytes([
    231, 120, 48, 89, 115, 113, 120, 152, 112, 152, 179, 64, 126, 170, 118, 46,
    70, 95, 175, 69, 143, 80, 85, 82, 72, 155, 103, 56, 58, 10, 171, 218,
    189, 17, 13, 152, 114, 26, 17, 163, 44, 195, 21, 10, 173, 121, 24, 80,
    195, 26, 62, 44, 64, 85, 144, 71, 10, 38, 171, 213, 144, 34, 26, 170,
    46, 55, 19, 136, 160, 33, 206, 71, 63, 20, 8, 114, 114, 208, 12, 9,
    226, 81, 40, 11, 96, 182, 84, 29, 16, 36, 134, 183, 89, 137, 98, 101,
    106, 165, 148, 72, 187, 100, 130, 157, 111, 32, 75, 80, 66, 102, 167, 99,
    74, 62, 40, 234, 128, 41, 53, 9, 178, 241, 141, 26, 8, 107, 74, 43,
    26, 146, 73, 166, 49, 23, 157, 65, 38, 105, 160, 51, 52, 31, 115, 128,
    104, 79, 12, 27, 217, 255, 87, 17, 7, 87, 68, 71, 44, 114, 51, 15,
    186, 23, 47, 41, 14, 110, 182, 183, 21, 17, 194, 66, 45, 25, 102, 197,
    189, 23, 18, 22, 88, 88, 147, 150, 42, 46, 45, 196, 205, 43, 97, 183,
    117, 85, 38, 35, 179, 61, 39, 53, 200, 87, 26, 21, 43, 232, 171, 56,
    34, 51, 104, 114, 102, 29, 93, 77, 39, 28, 85, 171, 58, 165, 90, 98,
    64, 34, 22, 116, 206, 23, 34, 43, 166, 73, 107, 54, 32, 26, 51, 1,
    81, 43, 31, 68, 25, 106, 22, 64, 171, 36, 225, 114, 34, 19, 21, 102,
    132, 188, 16, 76, 124, 62, 18, 78, 95, 85, 57, 50, 48, 51, 193, 101,
    35, 159, 215, 111, 89, 46, 111, 60, 148, 31, 172, 219, 228, 21, 18, 111,
    112, 113, 77, 85, 179, 255, 38, 120, 114, 40, 42, 1, 196, 245, 209, 10,
    25, 109, 88, 43, 29, 140, 166, 213, 37, 43, 154, 61, 63, 30, 155, 67,
    45, 68, 1, 209, 100, 80, 8, 43, 154, 1, 51, 26, 71, 142, 78, 78,
    16, 255, 128, 34, 197, 171, 41, 40, 5, 102, 211, 183, 4, 1, 221, 51,
    50, 17, 168, 209, 192, 23, 25, 82, 138, 31, 36, 171, 27, 166, 38, 44,
    229, 67, 87, 58, 169, 82, 115, 26, 59, 179, 63, 59, 90, 180, 59, 166,
    93, 73, 154, 40, 40, 21, 116, 143, 209, 34, 39, 175, 47, 15, 16, 183,
    34, 223, 49, 45, 183, 46, 17, 33, 183, 6, 98, 15, 32, 183, 57, 46,
    22, 24, 128, 1, 54, 17, 37, 65, 32, 73, 115, 28, 128, 23, 128, 205,
    40, 3, 9, 115, 51, 192, 18, 6, 223, 87, 37, 9, 115, 59, 77, 64,
    21, 47, 104, 55, 44, 218, 9, 54, 53, 130, 226, 64, 90, 70, 205, 40,
    41, 23, 26, 57, 54, 57, 112, 184, 5, 41, 38, 166, 213, 30, 34, 26,
    133, 152, 116, 10, 32, 134, 39, 19, 53, 221, 26, 114, 32, 73, 255, 31,
    9, 65, 234, 2, 15, 1, 118, 73, 75, 32, 12, 51, 192, 255, 160, 43,
    51, 88, 31, 35, 67, 102, 85, 55, 186, 85, 56, 21, 23, 111, 59, 205,
    45, 37, 192, 55, 38, 70, 124, 73, 102, 1, 34, 98, 125, 98, 42, 88,
    104, 85, 117, 175, 82, 95, 84, 53, 89, 128, 100, 113, 101, 45, 75, 79,
    123, 47, 51, 128, 81, 171, 1, 57, 17, 5, 71, 102, 57, 53, 41, 49,
    38, 33, 13, 121, 57, 73, 26, 1, 85, 41, 10, 67, 138, 77, 110, 90,
    47, 114, 115, 21, 2, 10, 102, 255, 166, 23, 6, 101, 29, 16, 10, 85,
    128, 101, 196, 26, 57, 18, 10, 102, 102, 213, 34, 20, 43, 117, 20, 15,
    36, 163, 128, 68, 1, 26, 102, 61, 71, 37, 34, 53, 31, 243, 192, 69,
    60, 71, 38, 73, 119, 28, 222, 37, 68, 45, 128, 34, 1, 47, 11, 245,
    171, 62, 17, 19, 70, 146, 85, 55, 62, 70, 37, 43, 37, 154, 100, 163,
    85, 160, 1, 63, 9, 92, 136, 28, 64, 32, 201, 85, 75, 15, 9, 9,
    64, 255, 184, 119, 16, 86, 6, 28, 5, 64, 255, 25, 248, 1, 56, 8,
    17, 132, 137, 255, 55, 116, 128, 58, 15, 20, 82, 135, 57, 26, 121, 40,
    164, 50, 31, 137, 154, 133, 25, 35, 218, 51, 103, 44, 131, 131, 123, 31,
    6, 158, 86, 40, 64, 135, 148, 224, 45, 183, 128, 22, 26, 17, 131, 240,
    154, 14, 1, 209, 45, 16, 21, 91, 64, 222, 7, 1, 197, 56, 21, 39,
    155, 60, 138, 23, 102, 213, 83, 12, 13, 54, 192, 255, 68, 47, 28, 85,
    26, 85, 85, 128, 128, 32, 146, 171, 18, 11, 7, 63, 144, 171, 4, 4,
    246, 35, 27, 10, 146, 174, 171, 12, 26, 128, 190, 80, 35, 99, 180, 80,
    126, 54, 45, 85, 126, 47, 87, 176, 51, 41, 20, 32, 101, 75, 128, 139,
    118, 146, 116, 128, 85, 56, 41, 15, 176, 236, 85, 37, 9, 62, 71, 30,
    17, 119, 118, 255, 17, 18, 138, 101, 38, 60, 138, 55, 70, 43, 26, 142,
    146, 36, 19, 30, 171, 255, 97, 27, 20, 138, 45, 61, 62, 219, 1, 81,
    188, 64, 32, 41, 20, 117, 151, 142, 20, 21, 163, 112, 19, 12, 61, 195,
    128, 48, 4, 24,
])
# Coefficient-position -> probability band (RFC 6386 section 13.3).
_VP8_BANDS = (0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7, 7)
# Zigzag scan order (RFC 6386 section 14.4 / 13.3).
_VP8_ZIGZAG = (0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)
# Extra-bit probabilities for DCT_VAL_CATEGORY1..6 (section 13.2).
_VP8_CAT_PROBS = (
    (159,),
    (165, 145),
    (173, 148, 140),
    (176, 155, 140, 135),
    (180, 157, 141, 134, 130),
    (254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129),
)
_VP8_CAT_BASE = (5, 7, 11, 19, 35, 67)
# Keyframe mode trees and probabilities (sections 11.2-11.5, 8.2).
_VP8_KF_YMODE_TREE = (-4, 2, 4, 6, -0, -1, -2, -3)  # B_PRED, DC, V, H, TM
_VP8_KF_YMODE_PROBS = (145, 156, 163, 128)
_VP8_UV_MODE_TREE = (-0, 2, -1, 4, -2, -3)
_VP8_KF_UV_PROBS = (142, 114, 183)
_VP8_BMODE_TREE = (
    -0, 2,   # B_DC_PRED
    -1, 4,   # B_TM_PRED
    -2, 6,   # B_VE_PRED
    8, 12,
    -3, 10,  # B_HE_PRED
    -4, -5,  # B_RD_PRED, B_VR_PRED
    -6, 14,  # B_LD_PRED
    -7, 16,  # B_VL_PRED
    -8, -9,  # B_HD_PRED, B_HU_PRED
)
_VP8_SEG_TREE = (2, 4, -0, -1, -2, -3)
# Implied 4x4 submode of a 16x16-predicted macroblock, used as the
# bmode-probability context of a neighboring B_PRED block (sec 11.3).
_VP8_IMPLIED_BMODE = {0: 0, 1: 2, 2: 3, 3: 1}  # DC->B_DC, V->B_VE, H->B_HE, TM->B_TM


class _Vp8BoolDecoder:
    """RFC 6386 section 7 boolean arithmetic decoder."""

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 2
        self.value = ((buf[0] << 8) | buf[1]) if len(buf) >= 2 else (
            (buf[0] << 8) if buf else 0
        )
        self.range_ = 255
        self.bit_count = 0

    def get(self, prob: int) -> int:
        split = 1 + (((self.range_ - 1) * prob) >> 8)
        big_split = split << 8
        if self.value >= big_split:
            ret = 1
            self.range_ -= split
            self.value -= big_split
        else:
            ret = 0
            self.range_ = split
        while self.range_ < 128:
            self.value <<= 1
            self.range_ <<= 1
            self.bit_count += 1
            if self.bit_count == 8:
                self.bit_count = 0
                if self.pos < len(self.buf):
                    self.value |= self.buf[self.pos]
                self.pos += 1
        return ret

    def literal(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.get(128)
        return v

    def signed_literal(self, n: int) -> int:
        v = self.literal(n)
        return -v if self.get(128) else v

    def tree(self, tree, probs, start: int = 0) -> int:
        i = start
        while True:
            i = tree[i + self.get(probs[i >> 1])]
            if i <= 0:
                return -i


class _Vp8BoolEncoder:
    """RFC 6386 section 7.3 boolean arithmetic encoder (carry on a
    byte list; flush pads with zero bits)."""

    def __init__(self):
        self.range_ = 255
        self.bottom = 0
        self.bit_count = 24
        self.out = bytearray()

    def _carry(self) -> None:
        i = len(self.out) - 1
        while True:
            if i < 0:
                raise AssertionError("carry out of stream start")
            if self.out[i] == 0xFF:
                self.out[i] = 0
                i -= 1
            else:
                self.out[i] += 1
                return

    def _shift(self) -> None:
        self.range_ <<= 1
        if self.bottom & (1 << 31):
            self._carry()
        self.bottom = (self.bottom << 1) & 0xFFFFFFFF
        self.bit_count -= 1
        if self.bit_count == 0:
            self.out.append((self.bottom >> 24) & 0xFF)
            self.bottom &= (1 << 24) - 1
            self.bit_count = 8

    def put(self, prob: int, bit: int) -> None:
        split = 1 + (((self.range_ - 1) * prob) >> 8)
        if bit:
            self.bottom += split
            if self.bottom > 0xFFFFFFFF:  # carry out of the 32-bit low end
                self._carry()
                self.bottom &= 0xFFFFFFFF
            self.range_ -= split
        else:
            self.range_ = split
        while self.range_ < 128:
            self._shift()

    def literal(self, v: int, n: int) -> None:
        for sh in range(n - 1, -1, -1):
            self.put(128, (v >> sh) & 1)

    def signed_literal(self, v: int, n: int) -> None:
        self.literal(abs(v), n)
        self.put(128, 1 if v < 0 else 0)

    def tree(self, tree, probs, value_path) -> None:
        for node, bit in value_path:
            self.put(probs[node >> 1], bit)

    def flush(self) -> bytes:
        for _ in range(32):
            self._shift()
        return bytes(self.out)


def _vp8_mul1(a: int) -> int:
    return ((a * 20091) >> 16) + a


def _vp8_mul2(a: int) -> int:
    return (a * 35468) >> 16


def _vp8_idct4x4_add(coeffs, dst, y0: int, x0: int) -> None:
    """RFC 6386 section 14.4 inverse DCT, added into dst (clamped)."""
    tmp = [0] * 16
    for i in range(4):
        a = coeffs[i] + coeffs[8 + i]
        b = coeffs[i] - coeffs[8 + i]
        c = _vp8_mul2(coeffs[4 + i]) - _vp8_mul1(coeffs[12 + i])
        d = _vp8_mul1(coeffs[4 + i]) + _vp8_mul2(coeffs[12 + i])
        tmp[i] = a + d
        tmp[4 + i] = b + c
        tmp[8 + i] = b - c
        tmp[12 + i] = a - d
    for i in range(4):
        dc = tmp[4 * i] + 4
        a = dc + tmp[4 * i + 2]
        b = dc - tmp[4 * i + 2]
        c = _vp8_mul2(tmp[4 * i + 1]) - _vp8_mul1(tmp[4 * i + 3])
        d = _vp8_mul1(tmp[4 * i + 1]) + _vp8_mul2(tmp[4 * i + 3])
        row = dst[y0 + i]
        for j, v in ((0, a + d), (1, b + c), (2, b - c), (3, a - d)):
            row[x0 + j] = _clamp255(row[x0 + j] + (v >> 3))


def _vp8_iwht4x4(coeffs):
    """RFC 6386 section 14.3 inverse Walsh-Hadamard transform: the Y2
    block's outputs become the DC terms of the 16 luma subblocks."""
    tmp = [0] * 16
    out = [0] * 16
    for i in range(4):
        a1 = coeffs[i] + coeffs[12 + i]
        b1 = coeffs[4 + i] + coeffs[8 + i]
        c1 = coeffs[4 + i] - coeffs[8 + i]
        d1 = coeffs[i] - coeffs[12 + i]
        tmp[i] = a1 + b1
        tmp[4 + i] = c1 + d1
        tmp[8 + i] = a1 - b1
        tmp[12 + i] = d1 - c1
    for i in range(4):
        a1 = tmp[4 * i] + tmp[4 * i + 3]
        b1 = tmp[4 * i + 1] + tmp[4 * i + 2]
        c1 = tmp[4 * i + 1] - tmp[4 * i + 2]
        d1 = tmp[4 * i] - tmp[4 * i + 3]
        out[4 * i] = (a1 + b1 + 3) >> 3
        out[4 * i + 1] = (c1 + d1 + 3) >> 3
        out[4 * i + 2] = (a1 - b1 + 3) >> 3
        out[4 * i + 3] = (d1 - c1 + 3) >> 3
    return out


def _vp8_get_coeffs(bd, probs_by_band, ctx: int, dq_dc: int, dq_ac: int,
                    first: int, out) -> int:
    """Token-decode one 4x4 block (RFC 6386 section 13.3) into ``out``
    (natural order, dequantized).  Returns the end position n; the
    neighbor nonzero context is (n > first)."""
    n = first
    p = probs_by_band[_VP8_BANDS[n]][ctx]
    while n < 16:
        if not bd.get(p[0]):
            return n  # DCT_EOB
        while not bd.get(p[1]):  # ZERO token: no EOB allowed next
            n += 1
            if n == 16:
                return 16
            p = probs_by_band[_VP8_BANDS[n]][0]
        if not bd.get(p[2]):
            v = 1
            next_ctx = 1
        else:
            if not bd.get(p[3]):
                if not bd.get(p[4]):
                    v = 2
                else:
                    v = 3 + bd.get(p[5])
            elif not bd.get(p[6]):
                if not bd.get(p[7]):
                    v = _VP8_CAT_BASE[0] + bd.get(_VP8_CAT_PROBS[0][0])
                else:
                    v = (_VP8_CAT_BASE[1]
                         + 2 * bd.get(_VP8_CAT_PROBS[1][0])
                         + bd.get(_VP8_CAT_PROBS[1][1]))
            else:
                bit1 = bd.get(p[8])
                bit0 = bd.get(p[9 + bit1])
                cat = 2 + 2 * bit1 + bit0  # categories 3..6
                acc = 0
                for cp in _VP8_CAT_PROBS[cat]:
                    acc = (acc << 1) | bd.get(cp)
                v = _VP8_CAT_BASE[cat] + acc
            next_ctx = 2
        if bd.get(128):
            v = -v
        out[_VP8_ZIGZAG[n]] = v * (dq_dc if n == 0 else dq_ac)
        n += 1
        if n == 16:
            return 16
        p = probs_by_band[_VP8_BANDS[n]][next_ctx]
    return 16


def _vp8_clamp_q(i: int, hi: int = 127) -> int:
    return 0 if i < 0 else (hi if i > hi else i)


def _vp8_dequant_factors(qi_base, deltas, seg_enabled, seg_abs, seg_q, seg):
    """Per-segment dequantization factors (RFC 6386 sections 9.6/14.1)."""
    qi = qi_base
    if seg_enabled:
        qi = seg_q[seg] if seg_abs else qi + seg_q[seg]
    qi = _vp8_clamp_q(qi)
    ydc_d, y2dc_d, y2ac_d, uvdc_d, uvac_d = deltas
    y2ac = (_VP8_AC_Q[_vp8_clamp_q(qi + y2ac_d)] * 155) // 100
    if y2ac < 8:
        y2ac = 8
    return {
        "ydc": _VP8_DC_Q[_vp8_clamp_q(qi + ydc_d)],
        "yac": _VP8_AC_Q[qi],
        "y2dc": _VP8_DC_Q[_vp8_clamp_q(qi + y2dc_d)] * 2,
        "y2ac": y2ac,
        # the chroma DC index saturates at 117 (section 14.1)
        "uvdc": _VP8_DC_Q[_vp8_clamp_q(qi + uvdc_d, 117)],
        "uvac": _VP8_AC_Q[_vp8_clamp_q(qi + uvac_d)],
    }


def _vp8_pred_dc(plane, y0, x0, n, have_above, have_left):
    if have_above and have_left:
        s = sum(plane[y0 - 1][x0:x0 + n]) + sum(
            plane[y + y0][x0 - 1] for y in range(n)
        )
        dc = (s + n) >> (5 if n == 16 else 4)
    elif have_above:
        s = sum(plane[y0 - 1][x0:x0 + n])
        dc = (s + (n >> 1)) >> (4 if n == 16 else 3)
    elif have_left:
        s = sum(plane[y + y0][x0 - 1] for y in range(n))
        dc = (s + (n >> 1)) >> (4 if n == 16 else 3)
    else:
        dc = 128
    for y in range(n):
        plane[y0 + y][x0:x0 + n] = [dc] * n


def _vp8_pred_block(plane, y0, x0, n, mode):
    """Whole-block intra prediction (16x16 luma / 8x8 chroma): mode in
    DC(0)/V(1)/H(2)/TM(3), padded-array fillers supply off-frame
    samples (above row 127, left column 129, corner 127)."""
    if mode == 0:
        # availability is what the pad encodes: y0==1 means top row
        _vp8_pred_dc(plane, y0, x0, n, y0 > 1, x0 > 1)
    elif mode == 1:  # V
        row = plane[y0 - 1][x0:x0 + n]
        for y in range(n):
            plane[y0 + y][x0:x0 + n] = row[:]
    elif mode == 2:  # H
        for y in range(n):
            plane[y0 + y][x0:x0 + n] = [plane[y0 + y][x0 - 1]] * n
    else:  # TM
        p = plane[y0 - 1][x0 - 1]
        above = plane[y0 - 1][x0:x0 + n]
        for y in range(n):
            l = plane[y0 + y][x0 - 1]
            row = plane[y0 + y]
            for x in range(n):
                row[x0 + x] = _clamp255(l + above[x] - p)


def _avg2(a, b):
    return (a + b + 1) >> 1


def _avg3(a, b, c):
    return (a + 2 * b + c + 2) >> 2


def _vp8_pred_b(plane, y0, x0, mode, tr):
    """4x4 intra prediction (RFC 6386 section 12.3). ``tr`` is the
    4-pixel above-right sample row (the per-macroblock top-right rule
    for right-column subblocks; None means read the array)."""
    above = plane[y0 - 1][x0:x0 + 4]
    if tr is None:
        ar = plane[y0 - 1][x0 + 4:x0 + 8]
    else:
        ar = tr
    left = [plane[y0 + i][x0 - 1] for i in range(4)]
    tl = plane[y0 - 1][x0 - 1]
    out = [[0] * 4 for _ in range(4)]
    A, B, C, D = above
    E, F_, G, H = ar
    I, J, K, L = left
    X = tl
    if mode == 0:  # B_DC_PRED
        dc = (A + B + C + D + I + J + K + L + 4) >> 3
        out = [[dc] * 4 for _ in range(4)]
    elif mode == 1:  # B_TM_PRED
        for y in range(4):
            for x in range(4):
                out[y][x] = _clamp255(left[y] + above[x] - X)
    elif mode == 2:  # B_VE_PRED
        row = [_avg3(X, A, B), _avg3(A, B, C), _avg3(B, C, D), _avg3(C, D, E)]
        out = [row[:] for _ in range(4)]
    elif mode == 3:  # B_HE_PRED
        col = [_avg3(X, I, J), _avg3(I, J, K), _avg3(J, K, L), _avg3(K, L, L)]
        out = [[col[y]] * 4 for y in range(4)]
    elif mode == 6:  # B_LD_PRED
        t = [A, B, C, D, E, F_, G, H]
        for y in range(4):
            for x in range(4):
                i = x + y
                out[y][x] = (
                    _avg3(t[i], t[i + 1], t[i + 2])
                    if i < 6
                    else _avg3(t[6], t[7], t[7])
                )
    elif mode == 4:  # B_RD_PRED
        e = [L, K, J, I, X, A, B, C, D]
        for y in range(4):
            for x in range(4):
                i = x - y + 4
                out[y][x] = _avg3(e[i - 1], e[i], e[i + 1])
    elif mode == 5:  # B_VR_PRED
        out[0][0] = out[2][1] = _avg2(X, A)
        out[0][1] = out[2][2] = _avg2(A, B)
        out[0][2] = out[2][3] = _avg2(B, C)
        out[0][3] = _avg2(C, D)
        out[1][0] = out[3][1] = _avg3(I, X, A)
        out[1][1] = out[3][2] = _avg3(X, A, B)
        out[1][2] = out[3][3] = _avg3(A, B, C)
        out[1][3] = _avg3(B, C, D)
        out[2][0] = _avg3(J, I, X)
        out[3][0] = _avg3(K, J, I)
    elif mode == 7:  # B_VL_PRED
        out[0][0] = _avg2(A, B)
        out[0][1] = out[2][0] = _avg2(B, C)
        out[0][2] = out[2][1] = _avg2(C, D)
        out[0][3] = out[2][2] = _avg2(D, E)
        out[1][0] = _avg3(A, B, C)
        out[1][1] = out[3][0] = _avg3(B, C, D)
        out[1][2] = out[3][1] = _avg3(C, D, E)
        out[1][3] = out[3][2] = _avg3(D, E, F_)
        out[2][3] = _avg3(E, F_, G)
        out[3][3] = _avg3(F_, G, H)
    elif mode == 8:  # B_HD_PRED
        out[0][0] = out[1][2] = _avg2(I, X)
        out[0][1] = out[1][3] = _avg3(I, X, A)
        out[0][2] = _avg3(X, A, B)
        out[0][3] = _avg3(A, B, C)
        out[1][0] = out[2][2] = _avg2(J, I)
        out[1][1] = out[2][3] = _avg3(J, I, X)
        out[2][0] = out[3][2] = _avg2(K, J)
        out[2][1] = out[3][3] = _avg3(K, J, I)
        out[3][0] = _avg2(L, K)
        out[3][1] = _avg3(L, K, J)
    else:  # B_HU_PRED
        out[0][0] = _avg2(I, J)
        out[0][1] = _avg3(I, J, K)
        out[0][2] = out[1][0] = _avg2(J, K)
        out[0][3] = out[1][1] = _avg3(J, K, L)
        out[1][2] = out[2][0] = _avg2(K, L)
        out[1][3] = out[2][1] = _avg3(K, L, L)
        out[2][2] = out[2][3] = L
        out[3][0] = out[3][1] = out[3][2] = out[3][3] = L
    for y in range(4):
        plane[y0 + y][x0:x0 + 4] = out[y]


def _vp8_c128(v: int) -> int:
    """Clamp to signed char, RFC 6386 section 15.3 c()."""
    return -128 if v < -128 else (127 if v > 127 else v)


def _vp8_filter_mask(lim, ilim, p3, p2, p1, p0, q0, q1, q2, q3) -> bool:
    return (
        abs(p0 - q0) * 2 + (abs(p1 - q1) >> 1) <= lim
        and abs(p3 - p2) <= ilim
        and abs(p2 - p1) <= ilim
        and abs(p1 - p0) <= ilim
        and abs(q1 - q0) <= ilim
        and abs(q2 - q1) <= ilim
        and abs(q3 - q2) <= ilim
    )


def _vp8_common_adjust(use_outer, px) -> int:
    """RFC 6386 common_adjust on [p1,p0,q0,q1] (values mutated in
    place as unsigned); returns the rounding value F."""
    p1 = px[0] - 128
    p0 = px[1] - 128
    q0 = px[2] - 128
    q1 = px[3] - 128
    a = _vp8_c128((_vp8_c128(p1 - q1) if use_outer else 0) + 3 * (q0 - p0))
    f1 = _vp8_c128(a + 4) >> 3
    f2 = _vp8_c128(a + 3) >> 3
    px[2] = _vp8_c128(q0 - f1) + 128
    px[1] = _vp8_c128(p0 + f2) + 128
    return f1


def _vp8_subblock_filter(hev_t, ilim, lim, seg) -> None:
    p3, p2, p1, p0, q0, q1, q2, q3 = seg
    if not _vp8_filter_mask(lim, ilim, p3, p2, p1, p0, q0, q1, q2, q3):
        return
    hev = abs(p1 - p0) > hev_t or abs(q1 - q0) > hev_t
    px = [p1, p0, q0, q1]
    f = _vp8_common_adjust(hev, px)
    if not hev:
        a = (f + 1) >> 1
        px[3] = _vp8_c128((q1 - 128) - a) + 128
        px[0] = _vp8_c128((p1 - 128) + a) + 128
    seg[2], seg[3], seg[4], seg[5] = px


def _vp8_mb_filter(hev_t, ilim, lim, seg) -> None:
    p3, p2, p1, p0, q0, q1, q2, q3 = seg
    if not _vp8_filter_mask(lim, ilim, p3, p2, p1, p0, q0, q1, q2, q3):
        return
    hev = abs(p1 - p0) > hev_t or abs(q1 - q0) > hev_t
    if hev:
        px = [p1, p0, q0, q1]
        _vp8_common_adjust(True, px)
        seg[2], seg[3], seg[4], seg[5] = px
        return
    sp2, sp1, sp0 = p2 - 128, p1 - 128, p0 - 128
    sq0, sq1, sq2 = q0 - 128, q1 - 128, q2 - 128
    w = _vp8_c128(_vp8_c128(sp1 - sq1) + 3 * (sq0 - sp0))
    a = _vp8_c128((27 * w + 63) >> 7)
    sq0 = _vp8_c128(sq0 - a)
    sp0 = _vp8_c128(sp0 + a)
    a = _vp8_c128((18 * w + 63) >> 7)
    sq1 = _vp8_c128(sq1 - a)
    sp1 = _vp8_c128(sp1 + a)
    a = _vp8_c128((9 * w + 63) >> 7)
    sq2 = _vp8_c128(sq2 - a)
    sp2 = _vp8_c128(sp2 + a)
    seg[1], seg[2], seg[3] = sp2 + 128, sp1 + 128, sp0 + 128
    seg[4], seg[5], seg[6] = sq0 + 128, sq1 + 128, sq2 + 128


def _vp8_simple_filter(lim, seg) -> None:
    p1, p0, q0, q1 = seg[2], seg[3], seg[4], seg[5]
    if abs(p0 - q0) * 2 + (abs(p1 - q1) >> 1) <= lim:
        px = [p1, p0, q0, q1]
        _vp8_common_adjust(True, px)
        seg[3], seg[4] = px[1], px[2]


def _vp8_filter_edge(plane, y0, x0, n, vertical, fn, *args) -> None:
    """Apply a filter function to the n pixel lines crossing the edge
    at (x0, y0): vertical edges read 8 horizontal pixels, horizontal
    edges read 8 vertical pixels (padded-array coordinates)."""
    for i in range(n):
        if vertical:
            row = plane[y0 + i]
            seg = row[x0 - 4:x0 + 4]
            fn(*args, seg)
            row[x0 - 4:x0 + 4] = seg
        else:
            seg = [plane[y0 + j][x0 + i] for j in range(-4, 4)]
            fn(*args, seg)
            for j in range(-4, 4):
                plane[y0 + j][x0 + i] = seg[j + 4]


def decode_vp8(data: bytes):
    """Decode a VP8 keyframe (RFC 6386) to numpy uint8 (Y, U, V)
    planes (Y is h x w; U/V are the 4:2:0 subsampled planes)."""
    import numpy as np

    tag = data[0] | (data[1] << 8) | (data[2] << 16)
    if tag & 1:
        raise ValueError("VP8: not a keyframe")
    part1_size = tag >> 5
    if data[3:6] != b"\x9d\x01\x2a":
        raise ValueError("VP8: bad start code")
    w = (data[6] | (data[7] << 8)) & 0x3FFF
    h = (data[8] | (data[9] << 8)) & 0x3FFF
    if w == 0 or h == 0 or 10 + part1_size > len(data):
        raise ValueError("VP8: bad dimensions or truncated header")
    bd = _Vp8BoolDecoder(data[10:10 + part1_size])

    bd.literal(1)  # color_space
    bd.literal(1)  # clamping_type
    seg_enabled = bd.literal(1)
    update_map = 0
    seg_abs = 0
    seg_q = [0, 0, 0, 0]
    seg_lf = [0, 0, 0, 0]
    seg_tree_probs = [255, 255, 255]
    if seg_enabled:
        update_map = bd.literal(1)
        update_data = bd.literal(1)
        if update_data:
            seg_abs = bd.literal(1)
            for i in range(4):
                if bd.literal(1):
                    seg_q[i] = bd.signed_literal(7)
            for i in range(4):
                if bd.literal(1):
                    seg_lf[i] = bd.signed_literal(6)
        if update_map:
            for i in range(3):
                if bd.literal(1):
                    seg_tree_probs[i] = bd.literal(8)
    filter_type = bd.literal(1)  # 1 = simple
    filter_level = bd.literal(6)
    sharpness = bd.literal(3)
    ref_delta = [0, 0, 0, 0]
    mode_delta = [0, 0, 0, 0]
    lf_delta_enabled = bd.literal(1)
    if lf_delta_enabled:
        if bd.literal(1):  # update
            for i in range(4):
                if bd.literal(1):
                    ref_delta[i] = bd.signed_literal(6)
            for i in range(4):
                if bd.literal(1):
                    mode_delta[i] = bd.signed_literal(6)
    nparts = 1 << bd.literal(2)
    yac_qi = bd.literal(7)
    deltas = tuple(
        bd.signed_literal(4) if bd.literal(1) else 0 for _ in range(5)
    )
    bd.literal(1)  # refresh_entropy_probs (single frame: no effect)
    coef = [
        [
            [
                list(
                    _VP8_COEFF_PROBS[
                        ((t * 8 + b) * 3 + c) * 11:((t * 8 + b) * 3 + c) * 11 + 11
                    ]
                )
                for c in range(3)
            ]
            for b in range(8)
        ]
        for t in range(4)
    ]
    for t in range(4):
        for b in range(8):
            for c in range(3):
                row = coef[t][b][c]
                for p in range(11):
                    if bd.get(
                        _VP8_COEFF_UPDATE_PROBS[((t * 8 + b) * 3 + c) * 11 + p]
                    ):
                        row[p] = bd.literal(8)
    use_skip = bd.literal(1)
    p_skip = bd.literal(8) if use_skip else 0

    # token partitions: (nparts-1) 3-byte sizes, then the partitions
    rest = data[10 + part1_size:]
    offs = 3 * (nparts - 1)
    parts = []
    for i in range(nparts):
        if i < nparts - 1:
            size = rest[3 * i] | (rest[3 * i + 1] << 8) | (rest[3 * i + 2] << 16)
            parts.append(_Vp8BoolDecoder(rest[offs:offs + size]))
            offs += size
        else:
            parts.append(_Vp8BoolDecoder(rest[offs:]))

    mb_w = (w + 15) >> 4
    mb_h = (h + 15) >> 4
    # padded planes: row 0 is the 127-valued above row (plus 4 extra
    # top-right columns), column 0 the 129-valued left column, corner
    # 127 (section 12.2's off-frame conventions)
    yp = [[129] * (mb_w * 16 + 5) for _ in range(mb_h * 16 + 1)]
    yp[0] = [127] * (mb_w * 16 + 5)
    up = [[129] * (mb_w * 8 + 1) for _ in range(mb_h * 8 + 1)]
    up[0] = [127] * (mb_w * 8 + 1)
    vp = [[129] * (mb_w * 8 + 1) for _ in range(mb_h * 8 + 1)]
    vp[0] = [127] * (mb_w * 8 + 1)

    # per-MB mode parse state
    above_sub = [[0] * 4 for _ in range(mb_w)]
    # residual nonzero contexts
    above_nz_y = [0] * (4 * mb_w)
    above_nz_u = [0] * (2 * mb_w)
    above_nz_v = [0] * (2 * mb_w)
    above_nz_y2 = [0] * mb_w
    mb_info = []  # (ymode, segment, filter_inner) per MB for the filter pass

    for mby in range(mb_h):
        left_sub = [0] * 4
        left_nz_y = [0] * 4
        left_nz_u = [0] * 2
        left_nz_v = [0] * 2
        left_nz_y2 = 0
        td = parts[mby % nparts]
        for mbx in range(mb_w):
            seg = 0
            if update_map:
                seg = bd.tree(_VP8_SEG_TREE, seg_tree_probs)
            skip = bd.get(p_skip) if use_skip else 0
            ymode = bd.tree(_VP8_KF_YMODE_TREE, _VP8_KF_YMODE_PROBS)
            if ymode == 4:  # B_PRED
                bmodes = [0] * 16
                for r in range(4):
                    for c in range(4):
                        above = (
                            above_sub[mbx][c] if r == 0 else bmodes[(r - 1) * 4 + c]
                        )
                        left = left_sub[r] if c == 0 else bmodes[r * 4 + c - 1]
                        probs = _VP8_KF_BMODE_PROBS[
                            (above * 10 + left) * 9:(above * 10 + left) * 9 + 9
                        ]
                        bmodes[r * 4 + c] = bd.tree(_VP8_BMODE_TREE, probs)
            else:
                bmodes = [_VP8_IMPLIED_BMODE[ymode]] * 16
            above_sub[mbx] = bmodes[12:16]
            left_sub = [bmodes[3], bmodes[7], bmodes[11], bmodes[15]]
            uvmode = bd.tree(_VP8_UV_MODE_TREE, _VP8_KF_UV_PROBS)

            dq = _vp8_dequant_factors(
                yac_qi, deltas, seg_enabled, seg_abs, seg_q, seg
            )
            has_y2 = ymode != 4
            coeffs = [[0] * 16 for _ in range(24)]
            any_nz = False
            if skip:
                left_nz_y[:] = [0] * 4
                left_nz_u[:] = [0] * 2
                left_nz_v[:] = [0] * 2
                above_nz_y[4 * mbx:4 * mbx + 4] = [0] * 4
                above_nz_u[2 * mbx:2 * mbx + 2] = [0] * 2
                above_nz_v[2 * mbx:2 * mbx + 2] = [0] * 2
                if has_y2:
                    left_nz_y2 = 0
                    above_nz_y2[mbx] = 0
            else:
                if has_y2:
                    y2 = [0] * 16
                    ctx = left_nz_y2 + above_nz_y2[mbx]
                    n = _vp8_get_coeffs(
                        td, coef[1], ctx, dq["y2dc"], dq["y2ac"], 0, y2
                    )
                    flag = 1 if n > 0 else 0
                    left_nz_y2 = flag
                    above_nz_y2[mbx] = flag
                    any_nz = any_nz or flag
                    wht = _vp8_iwht4x4(y2)
                    for b in range(16):
                        coeffs[b][0] = wht[b]
                    ytype, first = 0, 1
                else:
                    ytype, first = 3, 0
                for r in range(4):
                    l = left_nz_y[r]
                    for c in range(4):
                        ctx = l + above_nz_y[4 * mbx + c]
                        n = _vp8_get_coeffs(
                            td, coef[ytype], ctx, dq["ydc"], dq["yac"],
                            first, coeffs[r * 4 + c],
                        )
                        l = 1 if n > first else 0
                        above_nz_y[4 * mbx + c] = l
                        any_nz = any_nz or l
                    left_nz_y[r] = l
                for plane_i, (left_nz, above_nz, base) in enumerate(
                    ((left_nz_u, above_nz_u, 16), (left_nz_v, above_nz_v, 20))
                ):
                    for r in range(2):
                        l = left_nz[r]
                        for c in range(2):
                            ctx = l + above_nz[2 * mbx + c]
                            n = _vp8_get_coeffs(
                                td, coef[2], ctx, dq["uvdc"], dq["uvac"],
                                0, coeffs[base + r * 2 + c],
                            )
                            l = 1 if n > 0 else 0
                            above_nz[2 * mbx + c] = l
                            any_nz = any_nz or l
                        left_nz[r] = l

            # reconstruction (unfiltered: intra prediction reads the
            # pre-loop-filter pixels; the filter runs as a later pass)
            y0, x0 = mby * 16 + 1, mbx * 16 + 1
            if mby > 0:
                tr_base = yp[y0 - 1]
                if mbx == mb_w - 1:
                    tr4 = [tr_base[x0 + 15]] * 4
                else:
                    tr4 = tr_base[x0 + 16:x0 + 20]
            else:
                tr4 = [127] * 4
            if ymode == 4:
                for r in range(4):
                    for c in range(4):
                        sy, sx = y0 + 4 * r, x0 + 4 * c
                        _vp8_pred_b(
                            yp, sy, sx, bmodes[r * 4 + c],
                            tr4 if c == 3 else None,
                        )
                        _vp8_idct4x4_add(coeffs[r * 4 + c], yp, sy, sx)
            else:
                saved = yp[y0 - 1][x0 + 16:x0 + 20]
                yp[y0 - 1][x0 + 16:x0 + 20] = tr4
                _vp8_pred_block(yp, y0, x0, 16, ymode)
                yp[y0 - 1][x0 + 16:x0 + 20] = saved
                for r in range(4):
                    for c in range(4):
                        _vp8_idct4x4_add(
                            coeffs[r * 4 + c], yp, y0 + 4 * r, x0 + 4 * c
                        )
            cy0, cx0 = mby * 8 + 1, mbx * 8 + 1
            _vp8_pred_block(up, cy0, cx0, 8, uvmode)
            _vp8_pred_block(vp, cy0, cx0, 8, uvmode)
            for r in range(2):
                for c in range(2):
                    _vp8_idct4x4_add(
                        coeffs[16 + r * 2 + c], up, cy0 + 4 * r, cx0 + 4 * c
                    )
                    _vp8_idct4x4_add(
                        coeffs[20 + r * 2 + c], vp, cy0 + 4 * r, cx0 + 4 * c
                    )

            # per-MB loop-filter level (section 15.1)
            lvl = filter_level
            if seg_enabled:
                lvl = seg_lf[seg] if seg_abs else lvl + seg_lf[seg]
                lvl = 0 if lvl < 0 else (63 if lvl > 63 else lvl)
            if lf_delta_enabled:
                lvl += ref_delta[0]  # intra frame
                if ymode == 4:
                    lvl += mode_delta[0]
                lvl = 0 if lvl < 0 else (63 if lvl > 63 else lvl)
            mb_info.append((ymode, lvl, bool(any_nz) or ymode == 4))

    # loop-filter pass (raster MB order, in place)
    if filter_level > 0:
        for mby in range(mb_h):
            for mbx in range(mb_w):
                ymode, lvl, inner = mb_info[mby * mb_w + mbx]
                if lvl == 0:
                    continue
                ilim = lvl
                if sharpness:
                    ilim >>= 2 if sharpness > 4 else 1
                    if ilim > 9 - sharpness:
                        ilim = 9 - sharpness
                if ilim < 1:
                    ilim = 1
                mb_lim = ((lvl + 2) * 2) + ilim
                sb_lim = (lvl * 2) + ilim
                hev_t = 2 if lvl >= 40 else (1 if lvl >= 15 else 0)
                y0, x0 = mby * 16 + 1, mbx * 16 + 1
                cy0, cx0 = mby * 8 + 1, mbx * 8 + 1
                if filter_type == 1:  # simple: luma only
                    if mbx > 0:
                        _vp8_filter_edge(
                            yp, y0, x0, 16, True, _vp8_simple_filter, mb_lim
                        )
                    if inner:
                        for dx in (4, 8, 12):
                            _vp8_filter_edge(
                                yp, y0, x0 + dx, 16, True,
                                _vp8_simple_filter, sb_lim,
                            )
                    if mby > 0:
                        _vp8_filter_edge(
                            yp, y0, x0, 16, False, _vp8_simple_filter, mb_lim
                        )
                    if inner:
                        for dy in (4, 8, 12):
                            _vp8_filter_edge(
                                yp, y0 + dy, x0, 16, False,
                                _vp8_simple_filter, sb_lim,
                            )
                    continue
                if mbx > 0:
                    _vp8_filter_edge(
                        yp, y0, x0, 16, True, _vp8_mb_filter, hev_t, ilim, mb_lim
                    )
                    _vp8_filter_edge(
                        up, cy0, cx0, 8, True, _vp8_mb_filter, hev_t, ilim, mb_lim
                    )
                    _vp8_filter_edge(
                        vp, cy0, cx0, 8, True, _vp8_mb_filter, hev_t, ilim, mb_lim
                    )
                if inner:
                    for dx in (4, 8, 12):
                        _vp8_filter_edge(
                            yp, y0, x0 + dx, 16, True,
                            _vp8_subblock_filter, hev_t, ilim, sb_lim,
                        )
                    _vp8_filter_edge(
                        up, cy0, cx0 + 4, 8, True,
                        _vp8_subblock_filter, hev_t, ilim, sb_lim,
                    )
                    _vp8_filter_edge(
                        vp, cy0, cx0 + 4, 8, True,
                        _vp8_subblock_filter, hev_t, ilim, sb_lim,
                    )
                if mby > 0:
                    _vp8_filter_edge(
                        yp, y0, x0, 16, False, _vp8_mb_filter, hev_t, ilim, mb_lim
                    )
                    _vp8_filter_edge(
                        up, cy0, cx0, 8, False, _vp8_mb_filter, hev_t, ilim, mb_lim
                    )
                    _vp8_filter_edge(
                        vp, cy0, cx0, 8, False, _vp8_mb_filter, hev_t, ilim, mb_lim
                    )
                if inner:
                    for dy in (4, 8, 12):
                        _vp8_filter_edge(
                            yp, y0 + dy, x0, 16, False,
                            _vp8_subblock_filter, hev_t, ilim, sb_lim,
                        )
                    _vp8_filter_edge(
                        up, cy0 + 4, cx0, 8, False,
                        _vp8_subblock_filter, hev_t, ilim, sb_lim,
                    )
                    _vp8_filter_edge(
                        vp, cy0 + 4, cx0, 8, False,
                        _vp8_subblock_filter, hev_t, ilim, sb_lim,
                    )

    y_out = np.array(
        [row[1:w + 1] for row in yp[1:h + 1]], dtype=np.uint8
    )
    cw, ch = (w + 1) >> 1, (h + 1) >> 1
    u_out = np.array([row[1:cw + 1] for row in up[1:ch + 1]], dtype=np.uint8)
    v_out = np.array([row[1:cw + 1] for row in vp[1:ch + 1]], dtype=np.uint8)
    return y_out, u_out, v_out


def decode_webp_lossy(data: bytes):
    """Extract the 'VP8 ' chunk from a WebP container (simple-lossy or
    VP8X layout) and decode it. Returns (Y, U, V) planes."""
    import struct

    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP container")
    pos = 12
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        size = struct.unpack("<I", data[pos + 4:pos + 8])[0]
        if tag == b"VP8 ":
            return decode_vp8(data[pos + 8:pos + 8 + size])
        pos += 8 + size + (size & 1)
    raise ValueError("no VP8 chunk (lossy) in container")


def _vp8_put_token(be, p, m: int) -> None:
    """Write the token-tree path for a coefficient magnitude m >= 1
    under node probabilities p (the inverse of _vp8_get_coeffs's
    walk), then the extra-category bits."""
    be.put(p[0], 1)  # not EOB
    be.put(p[1], 1)  # not ZERO
    if m == 1:
        be.put(p[2], 0)
        return
    be.put(p[2], 1)
    if m <= 4:
        be.put(p[3], 0)
        if m == 2:
            be.put(p[4], 0)
        else:
            be.put(p[4], 1)
            be.put(p[5], m - 3)
        return
    be.put(p[3], 1)
    if m <= 10:
        be.put(p[6], 0)
        if m <= 6:
            be.put(p[7], 0)
            be.put(_VP8_CAT_PROBS[0][0], m - 5)
        else:
            be.put(p[7], 1)
            bits = m - 7
            be.put(_VP8_CAT_PROBS[1][0], (bits >> 1) & 1)
            be.put(_VP8_CAT_PROBS[1][1], bits & 1)
        return
    be.put(p[6], 1)
    for cat in (2, 3, 4, 5):
        lo = _VP8_CAT_BASE[cat]
        hi = lo + (1 << len(_VP8_CAT_PROBS[cat])) - 1
        if m <= hi:
            be.put(p[8], 0 if cat < 4 else 1)
            be.put(p[9 + (0 if cat < 4 else 1)], cat & 1)
            bits = m - lo
            for i, cp in enumerate(_VP8_CAT_PROBS[cat]):
                be.put(cp, (bits >> (len(_VP8_CAT_PROBS[cat]) - 1 - i)) & 1)
            return
    raise ValueError("magnitude out of range")


VP8_MOSAIC_QI = 40  # y_ac quantizer index for the DC-mosaic encoder


def encode_vp8_dc_mosaic(
    levels, mb_w: int, mb_h: int,
    filter_type: int = 0, filter_level: int = 0,
    n_partitions: int = 1, uv_levels=None,
) -> bytes:
    """Minimal spec-valid VP8 keyframe: every macroblock is 16x16
    DC_PRED luma / DC_PRED chroma whose only residual is the signed
    Y2 DC coefficient ``levels[mb]`` (level 0 macroblocks use the skip
    flag), so each decoded macroblock is a uniform luma tile — a "DC
    mosaic" whose reconstruction chain is short enough to restate in
    ANSI SQL (the llm_m31 oracle) while still exercising the real
    boolean coder, token trees, Y2 WHT path, skip machinery, and
    DC-prediction edge rules.  libwebp decodes these streams to the
    same planes (pinned in tests).  Default filter level 0 keeps the
    oracle exact; tests raise it to cross-validate both loop filters
    against libwebp.

    ``uv_levels`` (optional): per-MB ``(lu, lv)`` signed chroma DC
    coefficients — every 4x4 subblock of the MB's 8x8 U (resp. V)
    plane carries the same DC token, so each chroma tile reconstructs
    uniformly to ``clamp(128 + ((uvdc * l + 4) >> 3))`` at the mosaic
    origin (the llm_m35 color oracle restates exactly this plus the
    fixed-point CSC).  Chroma nonzero contexts chain across subblocks
    and macroblocks exactly as the decoder tracks them; a macroblock
    is skip-flagged only when its Y2 AND chroma levels are all 0."""
    assert len(levels) == mb_w * mb_h
    if uv_levels is None:
        uv_levels = [(0, 0)] * (mb_w * mb_h)
    assert len(uv_levels) == mb_w * mb_h
    w, h = mb_w * 16, mb_h * 16
    qi = VP8_MOSAIC_QI
    coef = _VP8_COEFF_PROBS

    def cp(t, b, c):
        return coef[((t * 8 + b) * 3 + c) * 11:((t * 8 + b) * 3 + c) * 11 + 11]

    # --- first partition: header + per-MB modes ---
    be = _Vp8BoolEncoder()
    be.literal(0, 1)  # color_space
    be.literal(0, 1)  # clamping
    be.literal(0, 1)  # segmentation_enabled
    be.literal(filter_type, 1)
    be.literal(filter_level, 6)
    be.literal(0, 3)  # sharpness
    be.literal(0, 1)  # lf delta enable
    if n_partitions not in (1, 2, 4, 8):
        raise ValueError("VP8: 1/2/4/8 token partitions")
    be.literal(n_partitions.bit_length() - 1, 2)  # log2(dct partitions)
    be.literal(qi, 7)  # y_ac_qi
    for _ in range(5):  # all quantizer deltas absent
        be.literal(0, 1)
    be.literal(0, 1)  # refresh_entropy_probs
    for i in range(4 * 8 * 3 * 11):  # no coefficient prob updates
        be.put(_VP8_COEFF_UPDATE_PROBS[i], 0)
    be.literal(1, 1)  # mb_no_skip_coeff: use per-MB skip flags
    p_skip = 128
    be.literal(p_skip, 8)
    for mb in range(mb_w * mb_h):
        zero = levels[mb] == 0 and uv_levels[mb] == (0, 0)
        be.put(p_skip, 1 if zero else 0)
        # ymode DC_PRED: kf tree path "1 0 0"
        be.put(_VP8_KF_YMODE_PROBS[0], 1)
        be.put(_VP8_KF_YMODE_PROBS[1], 0)
        be.put(_VP8_KF_YMODE_PROBS[2], 0)
        be.put(_VP8_KF_UV_PROBS[0], 0)  # uv DC_PRED
    part1 = be.flush()

    # --- token partitions (MB row r -> partition r % n_partitions,
    # each with its own boolean coder and nonzero contexts persisting
    # across that partition's rows, exactly as the decoder tracks) ---
    tes = [_Vp8BoolEncoder() for _ in range(n_partitions)]
    above_y2 = [0] * mb_w
    above_uv = {p: [0] * (mb_w * 2) for p in ("u", "v")}

    def put_dc(te, ttype: int, ctx: int, lv: int) -> int:
        """One 4x4 block whose only coefficient is a DC of magnitude
        |lv| (EOB at position 1), or a bare EOB when lv == 0; returns
        the block's nonzero flag for the context chain."""
        if lv == 0:
            te.put(cp(ttype, _VP8_BANDS[0], ctx)[0], 0)
            return 0
        _vp8_put_token(te, cp(ttype, _VP8_BANDS[0], ctx), abs(lv))
        te.put(128, 1 if lv < 0 else 0)  # sign
        nctx = 1 if abs(lv) == 1 else 2
        te.put(cp(ttype, _VP8_BANDS[1], nctx)[0], 0)  # EOB at position 1
        return 1

    for mby in range(mb_h):
        te = tes[mby % n_partitions]
        left_y2 = 0
        left_uv = {p: [0, 0] for p in ("u", "v")}
        for mbx in range(mb_w):
            mb = mby * mb_w + mbx
            lv = levels[mb]
            if lv == 0 and uv_levels[mb] == (0, 0):  # skip-flagged
                left_y2 = 0
                above_y2[mbx] = 0
                for p in ("u", "v"):
                    left_uv[p][:] = [0, 0]
                    above_uv[p][mbx * 2:mbx * 2 + 2] = [0, 0]
                continue
            nz = put_dc(te, 1, left_y2 + above_y2[mbx], lv)
            left_y2 = nz
            above_y2[mbx] = nz
            for _ in range(16):  # Y blocks: EOB at first coeff (pos 1)
                te.put(cp(0, _VP8_BANDS[1], 0)[0], 0)
            for p, luv in zip(("u", "v"), uv_levels[mb]):
                for sy in range(2):
                    for sx in range(2):
                        ctx = left_uv[p][sy] + above_uv[p][mbx * 2 + sx]
                        cnz = put_dc(te, 2, ctx, luv)
                        left_uv[p][sy] = cnz
                        above_uv[p][mbx * 2 + sx] = cnz
    parts = [te.flush() for te in tes]
    sizes = b"".join(
        bytes([len(p) & 0xFF, (len(p) >> 8) & 0xFF, (len(p) >> 16) & 0xFF])
        for p in parts[:-1]
    )

    tag = (0 << 0) | (3 << 1) | (1 << 4) | (len(part1) << 5)
    head = bytes(
        [tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF]
    ) + b"\x9d\x01\x2a" + bytes(
        [w & 0xFF, (w >> 8) & 0x3F, h & 0xFF, (h >> 8) & 0x3F]
    )
    return head + part1 + sizes + b"".join(parts)


def vp8_mosaic_tiles(levels, mb_w: int, mb_h: int):
    """The analytic reconstruction the mosaic's oracle restates: the
    uniform luma value of each macroblock tile after the DC-prediction
    chain (128 at the origin, left/above averages after) plus the
    quantized Y2-DC residual (y2dc = 2 * dc_q[qi]; WHT spread
    (D+3)>>3; DC-only IDCT (dc+4)>>3)."""
    y2dc = _VP8_DC_Q[VP8_MOSAIC_QI] * 2
    tiles = [0] * (mb_w * mb_h)
    for mby in range(mb_h):
        for mbx in range(mb_w):
            d = y2dc * levels[mby * mb_w + mbx]
            r = (((d + 3) >> 3) + 4) >> 3
            if mby == 0 and mbx == 0:
                pred = 128
            elif mby == 0:
                pred = tiles[mbx - 1]
            elif mbx == 0:
                pred = tiles[(mby - 1) * mb_w]
            else:
                pred = (
                    16 * tiles[(mby - 1) * mb_w + mbx]
                    + 16 * tiles[mby * mb_w + mbx - 1]
                    + 16
                ) >> 5
            tiles[mby * mb_w + mbx] = _clamp255(pred + r)
    return tiles


def vp8_mosaic_uv_tiles(levels, mb_w: int, mb_h: int):
    """Chroma counterpart of :func:`vp8_mosaic_tiles` for ONE 8x8
    plane (U or V) of the DC mosaic: chroma has no WHT, so the
    per-pixel residual is the DC-only IDCT (uvdc*l + 4) >> 3 with
    uvdc = dc_q[qi] (delta 0), and the DC-prediction chain averages
    the 8-pixel edges ((8*above + 8*left + 8) >> 4 interior).
    Verified uniform-per-MB against both decode_webp_lossy and the
    system libwebp in tests/test_vp8.py."""
    uvdc = _VP8_DC_Q[VP8_MOSAIC_QI]
    tiles = [0] * (mb_w * mb_h)
    for mby in range(mb_h):
        for mbx in range(mb_w):
            r = (uvdc * levels[mby * mb_w + mbx] + 4) >> 3
            if mby == 0 and mbx == 0:
                pred = 128
            elif mby == 0:
                pred = tiles[mbx - 1]
            elif mbx == 0:
                pred = tiles[(mby - 1) * mb_w]
            else:
                pred = (
                    8 * tiles[(mby - 1) * mb_w + mbx]
                    + 8 * tiles[mby * mb_w + mbx - 1]
                    + 8
                ) >> 4
            tiles[mby * mb_w + mbx] = _clamp255(pred + r)
    return tiles


def _vp8_fancy_upsample_plane(c, h: int, w: int):
    """libwebp's "fancy" 4:2:0 chroma upsampler (upsampling.c's
    UPSAMPLE_FUNC pair structure, exactly — including its two-step
    rounding, which is NOT the closed-form (9a+3b+3c+d+8)>>4): output
    row 0 and, for even heights, row h-1 mirror the boundary chroma
    row; interior output rows 2r+1/2r+2 blend chroma rows r/r+1.
    Returns an (h, w) int64 plane."""
    import numpy as np

    c = np.asarray(c, dtype=np.int64)
    out = np.empty((h, w), np.int64)
    lpp = (w - 1) >> 1

    def pair_rows(T, C):
        top = np.empty(w, np.int64)
        bot = np.empty(w, np.int64)
        top[0] = (3 * T[0] + C[0] + 2) >> 2
        bot[0] = (3 * C[0] + T[0] + 2) >> 2
        if lpp >= 1:
            x = np.arange(1, lpp + 1)
            tl, t = T[x - 1], T[x]
            l, cc = C[x - 1], C[x]
            avg = tl + t + l + cc + 8
            d12 = (avg + 2 * (t + l)) >> 3
            d03 = (avg + 2 * (tl + cc)) >> 3
            top[2 * x - 1] = (d12 + tl) >> 1
            top[2 * x] = (d03 + t) >> 1
            bot[2 * x - 1] = (d03 + l) >> 1
            bot[2 * x] = (d12 + cc) >> 1
        if not (w & 1):
            top[w - 1] = (3 * T[lpp] + C[lpp] + 2) >> 2
            bot[w - 1] = (3 * C[lpp] + T[lpp] + 2) >> 2
        return top, bot

    out[0] = pair_rows(c[0], c[0])[0]
    for r in range(c.shape[0] - 1):
        top, bot = pair_rows(c[r], c[r + 1])
        out[2 * r + 1] = top
        if 2 * r + 2 < h:
            out[2 * r + 2] = bot
    if not (h & 1) and h > 1:
        out[h - 1] = pair_rows(c[-1], c[-1])[0]
    return out


def vp8_yuv_to_rgb(y, u, v, fancy: bool = True):
    """libwebp's fixed-point BT.601 YUV->RGB (yuv.h):

        R = clip8(MultHi(y,19077) + MultHi(v,26149) - 14234)
        G = clip8(MultHi(y,19077) - MultHi(u,6419)
                                  - MultHi(v,13320) +  8708)
        B = clip8(MultHi(y,19077) + MultHi(u,33050) - 17685)

    with MultHi(x, c) = (x * c) >> 8 and clip8(x) = x >> 6 when
    0 <= x < 2^14 else saturate — every step integer-exact, so the
    llm_m35 oracle can restate it verbatim in SQL. ``fancy`` selects
    libwebp's default bilinear-ish chroma upsampler; ``fancy=False``
    is its ``no_fancy_upsampling`` point sampler.  Returns an
    (h, w, 3) uint8 RGB array, bit-exact against libwebp's MODE_RGB
    output (adjudicated in tests/test_vp8.py)."""
    import numpy as np

    y = np.asarray(y, dtype=np.int64)
    h, w = y.shape
    if fancy:
        uf = _vp8_fancy_upsample_plane(u, h, w)
        vf = _vp8_fancy_upsample_plane(v, h, w)
    else:
        uf = np.asarray(u, dtype=np.int64).repeat(2, 0).repeat(2, 1)[:h, :w]
        vf = np.asarray(v, dtype=np.int64).repeat(2, 0).repeat(2, 1)[:h, :w]

    def clip8(x):
        return np.where(
            (x & ~16383) == 0, x >> 6, np.where(x < 0, 0, 255)
        ).astype(np.uint8)

    yy = (y * 19077) >> 8
    r = clip8(yy + ((vf * 26149) >> 8) - 14234)
    g = clip8(yy - ((uf * 6419) >> 8) - ((vf * 13320) >> 8) + 8708)
    b = clip8(yy + ((uf * 33050) >> 8) - 17685)
    return np.stack([r, g, b], axis=-1)


def encode_webp_lossy(vp8_payload: bytes) -> bytes:
    """Wrap a raw VP8 frame in the simple-lossy WebP container."""
    import struct

    chunk = b"VP8 " + struct.pack("<I", len(vp8_payload)) + vp8_payload
    if len(vp8_payload) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


# ---------------------------------------------------------------------------
# MP3 side-info + scale-factor layer (ISO/IEC 11172-3 section 2.4.1.7
# / 2.4.2.7) — the next honest layer under m29's frame walk: parse the
# 17-byte mono side info per frame (both long- and short-block
# layouts), follow main_data_begin through the bit reservoir, and
# decode the part2 scale factors with scfsi sharing. Spectrum
# (Huffman) decode remains the documented extension point — its bit
# budget is reported per granule as part2_3_length - part2.
# ---------------------------------------------------------------------------

# scalefac_compress -> (slen1, slen2) (ISO 11172-3 table B.6 shape)
MP3_SLEN = (
    (0, 0), (0, 1), (0, 2), (0, 3), (3, 0), (1, 1), (1, 2), (1, 3),
    (2, 1), (2, 2), (2, 3), (3, 1), (3, 2), (3, 3), (4, 2), (4, 3),
)
# scfsi band groups over the 21 long-block scalefactor bands
MP3_SCFSI_GROUPS = ((0, 6), (6, 11), (11, 16), (16, 21))


def encode_mp3_sideinfo_frames(
    frames, bitrate_index: int = 9, samplerate_index: int = 0
) -> bytes:
    """Build MPEG-1 Layer III mono frames with REAL side info and
    scale factors. ``frames`` is a list of
    ``(scfsi, [(global_gain, scalefac_compress, scalefacs[21])] * 2)``
    — long blocks, no bit reservoir (main_data_begin = 0), zero
    spectrum (part2_3_length == part2, big_values == 0), granule 1's
    scfsi-shared groups not transmitted per the spec."""
    out = bytearray()
    sr = MP3_SAMPLERATES[samplerate_index]
    kbps = MP3_BITRATES_KBPS[bitrate_index]
    flen = mp3_frame_length(kbps, sr, 0)
    for scfsi, granules in frames:
        if len(granules) != 2:
            raise ValueError("MP3: two granules per MPEG-1 frame")
        b2 = (bitrate_index << 4) | (samplerate_index << 2)
        header = bytes([0xFF, 0b11111011, b2, 0b11000000])
        side = _BitWriter()
        side.put(0, 9)  # main_data_begin: no reservoir
        side.put(0, 5)  # private bits (mono)
        side.put(scfsi & 0xF, 4)
        sf_bits = []
        for g, (gain, sc, sfs) in enumerate(granules):
            slen1, slen2 = MP3_SLEN[sc & 0xF]
            part2 = 0
            for band in range(21):
                slen = slen1 if band < 11 else slen2
                copied = g == 1 and any(
                    lo <= band < hi
                    and (scfsi >> (3 - gi)) & 1
                    for gi, (lo, hi) in enumerate(MP3_SCFSI_GROUPS)
                )
                if not copied:
                    part2 += slen
            side.put(part2, 12)  # part2_3_length: zero spectrum
            side.put(0, 9)       # big_values
            side.put(gain & 0xFF, 8)
            side.put(sc & 0xF, 4)
            side.put(0, 1)       # windows_switching_flag: long blocks
            side.put(0, 15)      # table_select x3
            side.put(0, 4)       # region0_count
            side.put(0, 3)       # region1_count
            side.put(0, 1)       # preflag
            side.put(0, 1)       # scalefac_scale
            side.put(0, 1)       # count1table_select
            sf_bits.append(part2)
        side_bytes = side.out
        assert side.nbits == 0 and len(side_bytes) == 17
        main = _BitWriter()
        for g, (gain, sc, sfs) in enumerate(granules):
            slen1, slen2 = MP3_SLEN[sc & 0xF]
            if len(sfs) != 21:
                raise ValueError("MP3: 21 long-block scalefactors")
            for band in range(21):
                slen = slen1 if band < 11 else slen2
                copied = g == 1 and any(
                    lo <= band < hi and (scfsi >> (3 - gi)) & 1
                    for gi, (lo, hi) in enumerate(MP3_SCFSI_GROUPS)
                )
                if copied:
                    continue
                if sfs[band] >> slen:
                    raise ValueError("MP3: scalefactor exceeds slen")
                if slen:
                    main.put(sfs[band], slen)
        main.align()
        body = bytes(side_bytes) + bytes(main.out)
        if len(body) > flen - 4:
            raise ValueError("MP3: side info + scalefacs overflow frame")
        out += header + body + b"\x00" * (flen - 4 - len(body))
    return bytes(out)


def decode_mp3_sideinfo(data: bytes) -> list[dict]:
    """Walk MPEG-1 Layer III mono frames and decode the side info and
    part2 scale factors of each granule, following main_data_begin
    through the bit reservoir (each frame's main data may start inside
    earlier frames' bodies). Returns one dict per frame with granule
    lists: global_gain, scalefac_compress, block_type, part2_bits,
    huffman_bits (part2_3_length - part2 — the undecoded spectrum
    budget, the documented next layer), and the EFFECTIVE 21
    scalefactors (scfsi-shared groups copied from granule 0).
    Truncated side info, a reservoir pointer before the first byte,
    or part2 exceeding part2_3_length all fail loudly."""
    frames = []
    reservoir = bytearray()  # all main-data bytes seen so far
    starts = []  # reservoir offset where each frame's own body begins
    pos = 0
    pending = []
    while pos < len(data):
        if pos + 4 > len(data):
            raise ValueError("MP3: truncated header")
        b0, b1, b2, _b3 = data[pos:pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            raise ValueError(f"MP3: lost sync at byte {pos}")
        if (b1 >> 3) & 3 != 3 or (b1 >> 1) & 3 != 1:
            raise ValueError("MP3: only MPEG-1 Layer III supported")
        if b1 & 1 == 0:
            raise ValueError("MP3: CRC frames not supported")
        bitrate_index = (b2 >> 4) & 0xF
        samplerate_index = (b2 >> 2) & 3
        padding = (b2 >> 1) & 1
        if bitrate_index in (0, 15) or samplerate_index == 3:
            raise ValueError("MP3: invalid bitrate/samplerate index")
        flen = mp3_frame_length(
            MP3_BITRATES_KBPS[bitrate_index],
            MP3_SAMPLERATES[samplerate_index],
            padding,
        )
        if pos + flen > len(data):
            raise ValueError("MP3: truncated frame body")
        side_raw = data[pos + 4:pos + 21]
        if len(side_raw) < 17:
            raise ValueError("MP3: truncated side info")
        starts.append(len(reservoir))
        reservoir += data[pos + 21:pos + flen]
        pending.append(side_raw)
        pos += flen

    for idx, side_raw in enumerate(pending):
        br = _BitReader(bytes(side_raw))
        main_data_begin = br.bits(9)
        br.bits(5)  # private
        scfsi = br.bits(4)
        gr = []
        for _g in range(2):
            info = {
                "part2_3_length": br.bits(12),
                "big_values": br.bits(9),
                "global_gain": br.bits(8),
                "scalefac_compress": br.bits(4),
            }
            if br.bits(1):  # windows_switching_flag
                info["block_type"] = br.bits(2)
                if info["block_type"] == 0:
                    raise ValueError("MP3: reserved block_type 0 with "
                                     "window switching")
                info["mixed_block"] = br.bits(1)
                br.bits(10)  # table_select x2
                br.bits(9)   # subblock_gain x3
            else:
                info["block_type"] = 0
                info["mixed_block"] = 0
                br.bits(15)  # table_select x3
                br.bits(4)   # region0_count
                br.bits(3)   # region1_count
            br.bits(1)  # preflag
            br.bits(1)  # scalefac_scale
            br.bits(1)  # count1table_select
            gr.append(info)
        md_start = starts[idx] - main_data_begin
        if md_start < 0:
            raise ValueError("MP3: bit reservoir underrun "
                             f"(main_data_begin {main_data_begin})")
        mr = _BitReader(bytes(reservoir))
        mr.bitpos = md_start * 8
        granules = []
        sf_prev = None
        for g, info in enumerate(gr):
            slen1, slen2 = MP3_SLEN[info["scalefac_compress"]]
            part2 = 0
            if info["block_type"] == 2:
                if scfsi:
                    raise ValueError("MP3: scfsi with short blocks")
                n1 = 17 if info["mixed_block"] else 18
                sfs = [mr.bits(slen1) for _ in range(n1)]
                sfs += [mr.bits(slen2) for _ in range(18)]
                part2 = n1 * slen1 + 18 * slen2
            else:
                sfs = []
                for band in range(21):
                    slen = slen1 if band < 11 else slen2
                    copied = g == 1 and any(
                        lo <= band < hi and (scfsi >> (3 - gi)) & 1
                        for gi, (lo, hi) in enumerate(MP3_SCFSI_GROUPS)
                    )
                    if copied:
                        sfs.append(sf_prev[band])
                    else:
                        sfs.append(mr.bits(slen))
                        part2 += slen
            if part2 > info["part2_3_length"]:
                raise ValueError(
                    "MP3: scalefactors exceed part2_3_length "
                    f"({part2} > {info['part2_3_length']})"
                )
            huff = info["part2_3_length"] - part2
            mr.bitpos += huff  # skip the (undecoded) spectrum bits
            if mr.bitpos > len(reservoir) * 8:
                raise ValueError("MP3: main data truncated")
            granules.append(
                {
                    "global_gain": info["global_gain"],
                    "scalefac_compress": info["scalefac_compress"],
                    "block_type": info["block_type"],
                    "part2_bits": part2,
                    "huffman_bits": huff,
                    "scalefacs": sfs,
                }
            )
            if g == 0:
                sf_prev = sfs
        frames.append(
            {
                "main_data_begin": main_data_begin,
                "scfsi": scfsi,
                "granules": granules,
            }
        )
    return frames


# ---------------------------------------------------------------------------
# H.264 SPS layer (ISO/IEC 14496-10 section 7.3.2.1) — the next honest
# layer under m30's NAL walk: Exp-Golomb-decode the sequence parameter
# set, the NAL that answers video ingest's first questions (profile,
# level, DISPLAY dimensions including the 4:2:0 crop-unit rules).
# Slice/macroblock decode remains the documented extension point.
# ---------------------------------------------------------------------------


def _expgolomb_ue(br: _BitReader) -> int:
    n = br.unary()  # leading zeros before the marker one
    return (1 << n) - 1 + br.bits(n)


def _expgolomb_se(br: _BitReader) -> int:
    k = _expgolomb_ue(br)
    return (k + 1) >> 1 if k & 1 else -(k >> 1)


class _ExpGolombWriter(_BitWriter):
    def ue(self, v: int) -> None:
        n = (v + 1).bit_length() - 1
        self.put(0, n)
        self.put(v + 1, n + 1)

    def se(self, v: int) -> None:
        self.ue(2 * v - 1 if v > 0 else -2 * v)


def encode_h264_sps(
    profile_idc: int,
    level_idc: int,
    mb_w: int,
    mb_h: int,
    crop=(0, 0, 0, 0),
    sps_id: int = 0,
    log2_max_frame_num_minus4: int = 4,
    poc_type: int = 2,
    log2_max_poc_lsb_minus4: int = 4,
) -> bytes:
    """Build a spec-valid baseline/main-profile SPS RBSP (no trailing
    bits or emulation prevention — encode_annexb adds both).
    ``log2_max_frame_num_minus4`` and ``poc_type`` (0 or 2) size the
    slice header's frame_num / pic_order_cnt_lsb fields — the
    cross-NAL contract decode_h264_slice_header resolves through the
    parameter-set store."""
    bw = _ExpGolombWriter()
    bw.put(profile_idc, 8)
    bw.put(0, 8)  # constraint flags + reserved
    bw.put(level_idc, 8)
    bw.ue(sps_id)
    if profile_idc in (100, 110, 122, 244, 44, 83, 86, 118, 128):
        raise ValueError("high-profile SPS extensions not emitted")
    bw.ue(log2_max_frame_num_minus4)
    if poc_type not in (0, 2):
        raise ValueError("H264: only poc_type 0/2 emitted")
    bw.ue(poc_type)
    if poc_type == 0:
        bw.ue(log2_max_poc_lsb_minus4)
    bw.ue(2)  # max_num_ref_frames
    bw.put(0, 1)  # gaps_in_frame_num_value_allowed
    bw.ue(mb_w - 1)
    bw.ue(mb_h - 1)
    bw.put(1, 1)  # frame_mbs_only_flag (progressive)
    bw.put(0, 1)  # direct_8x8_inference_flag
    left, right, top, bottom = crop
    if any(crop):
        bw.put(1, 1)
        for v in crop:
            bw.ue(v)
    else:
        bw.put(0, 1)
    bw.put(0, 1)  # vui_parameters_present_flag
    bw.align()
    return bytes(bw.out)


def decode_h264_sps(rbsp: bytes) -> dict:
    """Parse an SPS RBSP (baseline/extended/main profiles) and derive
    the DISPLAY dimensions: 16*mb sizes minus the frame-cropping
    offsets scaled by the 4:2:0 crop units (CropUnitX = 2,
    CropUnitY = 2 * (2 - frame_mbs_only_flag)); truncation fails
    loudly via the bit reader."""
    br = _BitReader(rbsp)
    profile_idc = br.bits(8)
    br.bits(8)  # constraint/reserved
    level_idc = br.bits(8)
    sps_id = _expgolomb_ue(br)
    if profile_idc in (100, 110, 122, 244, 44, 83, 86, 118, 128):
        chroma_format_idc = _expgolomb_ue(br)
        if chroma_format_idc == 3:
            br.bits(1)  # separate_colour_plane
        _expgolomb_ue(br)  # bit_depth_luma_minus8
        _expgolomb_ue(br)  # bit_depth_chroma_minus8
        br.bits(1)  # qpprime_y_zero_transform_bypass
        if br.bits(1):  # seq_scaling_matrix_present
            raise ValueError("H264: scaling matrices not supported")
    else:
        chroma_format_idc = 1  # 4:2:0
    log2_max_frame_num_minus4 = _expgolomb_ue(br)
    poc_type = _expgolomb_ue(br)
    log2_max_poc_lsb_minus4 = 0
    if poc_type == 0:
        log2_max_poc_lsb_minus4 = _expgolomb_ue(br)
    elif poc_type == 1:
        br.bits(1)
        _expgolomb_se(br)
        _expgolomb_se(br)
        for _ in range(_expgolomb_ue(br)):
            _expgolomb_se(br)
    _expgolomb_ue(br)  # max_num_ref_frames
    br.bits(1)  # gaps allowed
    mb_w = _expgolomb_ue(br) + 1
    mb_h_units = _expgolomb_ue(br) + 1
    frame_mbs_only = br.bits(1)
    if not frame_mbs_only:
        br.bits(1)  # mb_adaptive_frame_field
    br.bits(1)  # direct_8x8_inference
    crop = (0, 0, 0, 0)
    if br.bits(1):  # frame_cropping_flag
        crop = tuple(_expgolomb_ue(br) for _ in range(4))
    # 4:2:0 crop units (14496-10 table 6-1 + eq 7-13..7-16)
    cux = 2 if chroma_format_idc in (1, 2) else 1
    cuy = (2 if chroma_format_idc == 1 else 1) * (2 - frame_mbs_only)
    mb_h = mb_h_units * (2 - frame_mbs_only)
    width = 16 * mb_w - cux * (crop[0] + crop[1])
    height = 16 * mb_h - cuy * (crop[2] + crop[3])
    return {
        "profile_idc": profile_idc,
        "level_idc": level_idc,
        "sps_id": sps_id,
        "mb_width": mb_w,
        "mb_height": mb_h,
        "frame_mbs_only": frame_mbs_only,
        "crop": crop,
        "width": width,
        "height": height,
        "log2_max_frame_num_minus4": log2_max_frame_num_minus4,
        "poc_type": poc_type,
        "log2_max_poc_lsb_minus4": log2_max_poc_lsb_minus4,
    }


# ---------------------------------------------------------------------------
# H.264 PPS + slice-header layer (ISO/IEC 14496-10 sections 7.3.2.2
# and 7.3.3) — the next honest layer under m34's SPS parse: the slice
# header is the first NAL whose decode REQUIRES cross-NAL context
# (slice -> active PPS -> active SPS resolve frame_num / poc_lsb bit
# widths and the QP base), which is exactly what a video-ingest
# triage needs to segment streams into pictures. Slice DATA
# (macroblock entropy decode) remains the documented extension point.
# ---------------------------------------------------------------------------

H264_SLICE_TYPES = ("P", "B", "I", "SP", "SI")


def encode_h264_pps(
    pps_id: int = 0,
    sps_id: int = 0,
    pic_init_qp_minus26: int = 0,
    chroma_qp_index_offset: int = 0,
    deblocking_filter_control_present: int = 0,
    entropy_coding_mode: int = 0,
) -> bytes:
    """Build a spec-valid baseline PPS RBSP (7.3.2.2): one slice
    group, no weighted prediction, no high-profile tail."""
    bw = _ExpGolombWriter()
    bw.ue(pps_id)
    bw.ue(sps_id)
    bw.put(entropy_coding_mode & 1, 1)
    bw.put(0, 1)  # bottom_field_pic_order_in_frame_present
    bw.ue(0)      # num_slice_groups_minus1 (no FMO)
    bw.ue(0)      # num_ref_idx_l0_default_active_minus1
    bw.ue(0)      # num_ref_idx_l1_default_active_minus1
    bw.put(0, 1)  # weighted_pred_flag
    bw.put(0, 2)  # weighted_bipred_idc
    bw.se(pic_init_qp_minus26)
    bw.se(0)      # pic_init_qs_minus26
    bw.se(chroma_qp_index_offset)
    bw.put(deblocking_filter_control_present & 1, 1)
    bw.put(0, 1)  # constrained_intra_pred_flag
    bw.put(0, 1)  # redundant_pic_cnt_present_flag
    bw.align()
    return bytes(bw.out)


def decode_h264_pps(rbsp: bytes) -> dict:
    """Parse a PPS RBSP (7.3.2.2). FMO (num_slice_groups > 1) and
    weighted prediction are parse-supported flags; slice-group maps
    fail loudly."""
    br = _BitReader(rbsp)
    pps = {
        "pps_id": _expgolomb_ue(br),
        "sps_id": _expgolomb_ue(br),
        "entropy_coding_mode": br.bits(1),
        "bottom_field_poc_present": br.bits(1),
    }
    if _expgolomb_ue(br) != 0:  # num_slice_groups_minus1
        raise ValueError("H264: FMO slice groups not supported")
    pps["num_ref_idx_l0_default"] = _expgolomb_ue(br) + 1
    pps["num_ref_idx_l1_default"] = _expgolomb_ue(br) + 1
    pps["weighted_pred_flag"] = br.bits(1)
    pps["weighted_bipred_idc"] = br.bits(2)
    pps["pic_init_qp"] = 26 + _expgolomb_se(br)
    pps["pic_init_qs"] = 26 + _expgolomb_se(br)
    pps["chroma_qp_index_offset"] = _expgolomb_se(br)
    pps["deblocking_filter_control_present"] = br.bits(1)
    pps["constrained_intra_pred"] = br.bits(1)
    pps["redundant_pic_cnt_present"] = br.bits(1)
    return pps


def encode_h264_slice_header(
    sps: dict,
    pps: dict,
    slice_type_ue: int,
    first_mb: int,
    frame_num: int,
    slice_qp_delta: int,
    idr_pic_id=None,
    poc_lsb: int = 0,
    direct_spatial_mv: int = 1,
    cabac_init_idc: int = 0,
    disable_deblocking_idc: int = 0,
    alpha_c0_offset_div2: int = 0,
    beta_offset_div2: int = 0,
    nal_ref_idc: int = 2,
) -> bytes:
    """Write a spec-valid slice header (7.3.3) against decoded
    sps/pps dicts, followed by NO slice data — callers append opaque
    bytes for the undecoded macroblock layer. ``idr_pic_id`` not None
    marks an IDR (nal type 5) header."""
    bw = _ExpGolombWriter()
    _h264_put_slice_header(
        bw, sps, pps, slice_type_ue, first_mb, frame_num, slice_qp_delta,
        idr_pic_id, poc_lsb, direct_spatial_mv, cabac_init_idc,
        disable_deblocking_idc, alpha_c0_offset_div2, beta_offset_div2,
        nal_ref_idc,
    )
    bw.align()
    return bytes(bw.out)


def _h264_put_slice_header(
    bw: "_ExpGolombWriter",
    sps: dict,
    pps: dict,
    slice_type_ue: int,
    first_mb: int,
    frame_num: int,
    slice_qp_delta: int,
    idr_pic_id=None,
    poc_lsb: int = 0,
    direct_spatial_mv: int = 1,
    cabac_init_idc: int = 0,
    disable_deblocking_idc: int = 0,
    alpha_c0_offset_div2: int = 0,
    beta_offset_div2: int = 0,
    nal_ref_idc: int = 2,
) -> None:
    """Slice-header field walk (7.3.3) onto an OPEN writer — no
    trailing alignment, so slice DATA can continue bit-contiguous
    (the CAVLC path needs this; I_PCM's writer byte-aligns
    separately)."""
    stype = H264_SLICE_TYPES[slice_type_ue % 5]
    bw.ue(first_mb)
    bw.ue(slice_type_ue)
    bw.ue(pps["pps_id"])
    bw.put(frame_num, sps["log2_max_frame_num_minus4"] + 4)
    if idr_pic_id is not None:
        if stype not in ("I", "SI"):
            raise ValueError("H264: IDR pictures carry only I/SI slices")
        bw.ue(idr_pic_id)
    if sps["poc_type"] == 0:
        bw.put(poc_lsb, sps["log2_max_poc_lsb_minus4"] + 4)
    if stype == "B":
        bw.put(direct_spatial_mv & 1, 1)
    if stype in ("P", "SP", "B"):
        bw.put(0, 1)  # num_ref_idx_active_override_flag
        bw.put(0, 1)  # ref_pic_list_modification_flag_l0
        if stype == "B":
            bw.put(0, 1)  # ref_pic_list_modification_flag_l1
    if idr_pic_id is not None:
        bw.put(0, 1)  # no_output_of_prior_pics_flag
        bw.put(0, 1)  # long_term_reference_flag
    elif nal_ref_idc:
        bw.put(0, 1)  # adaptive_ref_pic_marking_mode_flag
    if pps["entropy_coding_mode"] and stype not in ("I", "SI"):
        bw.ue(cabac_init_idc)
    bw.se(slice_qp_delta)
    if pps["deblocking_filter_control_present"]:
        bw.ue(disable_deblocking_idc)
        if disable_deblocking_idc != 1:
            bw.se(alpha_c0_offset_div2)
            bw.se(beta_offset_div2)


def decode_h264_slice_header(
    rbsp: bytes, nal_type: int, nal_ref_idc: int, pps_store: dict,
    sps_store: dict,
) -> dict:
    """Parse a slice header (7.3.3) by resolving its PPS/SPS through
    the parameter-set stores — frame_num and pic_order_cnt_lsb bit
    widths come from the ACTIVE SPS, the QP base from the active PPS.
    Unknown parameter-set ids, weighted-prediction tables, MMCO
    sequences, and truncation all fail loudly."""
    br = _BitReader(rbsp)
    out = {"first_mb": _expgolomb_ue(br)}
    slice_type_ue = _expgolomb_ue(br)
    if slice_type_ue > 9:
        raise ValueError(f"H264: bad slice_type {slice_type_ue}")
    stype = H264_SLICE_TYPES[slice_type_ue % 5]
    pps_id = _expgolomb_ue(br)
    if pps_id not in pps_store:
        raise ValueError(f"H264: slice references unknown PPS {pps_id}")
    pps = pps_store[pps_id]
    if pps["sps_id"] not in sps_store:
        raise ValueError(
            f"H264: PPS references unknown SPS {pps['sps_id']}"
        )
    sps = sps_store[pps["sps_id"]]
    out.update(
        slice_type=stype, slice_type_ue=slice_type_ue, pps_id=pps_id,
        is_idr=nal_type == 5,
        frame_num=br.bits(sps["log2_max_frame_num_minus4"] + 4),
    )
    if nal_type == 5:
        if stype not in ("I", "SI"):
            raise ValueError("H264: IDR pictures carry only I/SI slices")
        out["idr_pic_id"] = _expgolomb_ue(br)
    out["poc_lsb"] = (
        br.bits(sps["log2_max_poc_lsb_minus4"] + 4)
        if sps["poc_type"] == 0 else 0
    )
    if pps["redundant_pic_cnt_present"]:
        _expgolomb_ue(br)
    if stype == "B":
        out["direct_spatial_mv"] = br.bits(1)
    if stype in ("P", "SP", "B"):
        if br.bits(1):  # num_ref_idx_active_override_flag
            _expgolomb_ue(br)
            if stype == "B":
                _expgolomb_ue(br)
        if br.bits(1):  # ref_pic_list_modification_flag_l0
            while (idc := _expgolomb_ue(br)) != 3:
                if idc > 3:
                    raise ValueError("H264: bad modification idc")
                _expgolomb_ue(br)
        if stype == "B" and br.bits(1):
            while (idc := _expgolomb_ue(br)) != 3:
                if idc > 3:
                    raise ValueError("H264: bad modification idc")
                _expgolomb_ue(br)
    if (pps["weighted_pred_flag"] and stype in ("P", "SP")) or (
        pps["weighted_bipred_idc"] == 1 and stype == "B"
    ):
        raise ValueError("H264: pred_weight_table not supported")
    if nal_type == 5:
        br.bits(1)  # no_output_of_prior_pics_flag
        br.bits(1)  # long_term_reference_flag
    elif nal_ref_idc:
        if br.bits(1):  # adaptive_ref_pic_marking_mode_flag
            while (op := _expgolomb_ue(br)) != 0:
                if op in (1, 3):
                    _expgolomb_ue(br)
                if op == 2:
                    _expgolomb_ue(br)
                if op == 3:
                    _expgolomb_ue(br)
                if op == 4:
                    _expgolomb_ue(br)
                if op == 6:
                    _expgolomb_ue(br)
                if op > 6:
                    raise ValueError("H264: bad MMCO op")
    out["cabac_init_idc"] = (
        _expgolomb_ue(br)
        if pps["entropy_coding_mode"] and stype not in ("I", "SI") else 0
    )
    out["slice_qp"] = pps["pic_init_qp"] + _expgolomb_se(br)
    if pps["deblocking_filter_control_present"]:
        idc = _expgolomb_ue(br)
        if idc > 2:
            raise ValueError(f"H264: bad disable_deblocking_idc {idc}")
        out["disable_deblocking_idc"] = idc
        if idc != 1:
            out["alpha_c0_offset"] = 2 * _expgolomb_se(br)
            out["beta_offset"] = 2 * _expgolomb_se(br)
        else:
            out["alpha_c0_offset"] = out["beta_offset"] = 0
    else:
        out["disable_deblocking_idc"] = -1
        out["alpha_c0_offset"] = out["beta_offset"] = 0
    return out


def encode_h264_ipcm_slice(
    sps: dict, pps: dict, luma: "np.ndarray", cb: "np.ndarray",
    cv: "np.ndarray", frame_num: int = 0, idr_pic_id: int = 0,
) -> bytes:
    """Write a spec-valid IDR I slice whose every macroblock is I_PCM
    (7.3.5/7.4.5: mb_type 25 in I slices — RAW samples, no residual
    coding), covering the whole picture. I_PCM is the spec's own
    uncompressed escape hatch, which makes it the honest first
    slice-DATA layer: the stream decodes to exact pixels through only
    Exp-Golomb, the pcm alignment rule, and the 4:2:0 sample order —
    no CAVLC tables. ``luma`` is (16*mb_h, 16*mb_w); cb/cv are the
    (8*mb_h, 8*mb_w) chroma planes."""
    import numpy as np

    mb_w, mb_h = sps["mb_width"], sps["mb_height"]
    if luma.shape != (16 * mb_h, 16 * mb_w) or cb.shape != (8 * mb_h, 8 * mb_w):
        raise ValueError("planes must cover the SPS picture size")
    hdr = encode_h264_slice_header(
        sps, pps, 7, 0, frame_num, 0, idr_pic_id=idr_pic_id,
        poc_lsb=0, nal_ref_idc=3,
    )
    body = bytearray()
    # the header writer byte-aligned with zero padding; each I_PCM
    # macroblock is mb_type ue(25) = 000011010 (9 bits) followed by
    # pcm_alignment_zero_bit padding, so every sample run starts on a
    # byte boundary by construction
    for mby in range(mb_h):
        for mbx in range(mb_w):
            w = _ExpGolombWriter()
            w.ue(25)  # I_PCM
            w.align()  # pcm_alignment_zero_bit*
            body.extend(w.out)
            body.extend(
                luma[mby * 16:(mby + 1) * 16, mbx * 16:(mbx + 1) * 16]
                .astype(np.uint8).tobytes()
            )
            for plane in (cb, cv):
                body.extend(
                    plane[mby * 8:(mby + 1) * 8, mbx * 8:(mbx + 1) * 8]
                    .astype(np.uint8).tobytes()
                )
    return hdr + bytes(body)


def decode_h264_ipcm_slice(
    rbsp: bytes, nal_type: int, nal_ref_idc: int, pps_store: dict,
    sps_store: dict,
):
    """Parse an all-I_PCM I slice to PIXELS: slice header through the
    parameter-set stores, then PicSizeInMbs macroblocks of
    mb_type ue(25) + pcm alignment + raw 4:2:0 samples (7.3.5).
    Returns (header dict, (h,w) luma, (h/2,w/2) cb, cr). Non-I_PCM
    macroblocks (entropy-coded residual data) fail loudly — CAVLC
    remains the documented extension point."""
    import numpy as np

    hdr = decode_h264_slice_header(
        rbsp, nal_type, nal_ref_idc, pps_store, sps_store
    )
    sps = sps_store[pps_store[hdr["pps_id"]]["sps_id"]]
    mb_w, mb_h = sps["mb_width"], sps["mb_height"]
    # locate slice_data: walk the header fields on a fresh reader (the
    # field walk is shared with the header decoder), then consume the
    # writer's byte-alignment padding
    br2 = _BitReader(rbsp)
    _h264_skip_slice_header(br2, nal_type, nal_ref_idc, pps_store, sps_store)
    br2.align()
    y = np.empty((16 * mb_h, 16 * mb_w), np.uint8)
    cb = np.empty((8 * mb_h, 8 * mb_w), np.uint8)
    cr = np.empty((8 * mb_h, 8 * mb_w), np.uint8)
    for mby in range(mb_h):
        for mbx in range(mb_w):
            mb_type = _expgolomb_ue(br2)
            if mb_type != 25:
                raise ValueError(
                    f"H264: only I_PCM slice data supported, got mb_type"
                    f" {mb_type} (CAVLC is the documented extension point)"
                )
            br2.align()  # pcm_alignment_zero_bit*
            off = br2.bytepos()
            if off + 384 > len(rbsp):
                raise ValueError("H264: truncated I_PCM samples")
            y[mby * 16:(mby + 1) * 16, mbx * 16:(mbx + 1) * 16] = (
                np.frombuffer(rbsp, np.uint8, 256, off).reshape(16, 16)
            )
            cb[mby * 8:(mby + 1) * 8, mbx * 8:(mbx + 1) * 8] = (
                np.frombuffer(rbsp, np.uint8, 64, off + 256).reshape(8, 8)
            )
            cr[mby * 8:(mby + 1) * 8, mbx * 8:(mbx + 1) * 8] = (
                np.frombuffer(rbsp, np.uint8, 64, off + 320).reshape(8, 8)
            )
            br2.bitpos = (off + 384) * 8
    return hdr, y, cb, cr


def _h264_skip_slice_header(
    br, nal_type: int, nal_ref_idc: int, pps_store: dict, sps_store: dict
) -> None:
    """Advance ``br`` past a slice header (same field walk as
    decode_h264_slice_header, shared reader) — used by the I_PCM
    decoder to locate slice_data."""
    _expgolomb_ue(br)  # first_mb
    stype = H264_SLICE_TYPES[_expgolomb_ue(br) % 5]
    pps = pps_store[_expgolomb_ue(br)]
    sps = sps_store[pps["sps_id"]]
    br.bits(sps["log2_max_frame_num_minus4"] + 4)
    if nal_type == 5:
        _expgolomb_ue(br)  # idr_pic_id
    if sps["poc_type"] == 0:
        br.bits(sps["log2_max_poc_lsb_minus4"] + 4)
    if pps["redundant_pic_cnt_present"]:
        _expgolomb_ue(br)
    if stype == "B":
        br.bits(1)
    if stype in ("P", "SP", "B"):
        if br.bits(1):
            _expgolomb_ue(br)
            if stype == "B":
                _expgolomb_ue(br)
        if br.bits(1):
            while _expgolomb_ue(br) != 3:
                _expgolomb_ue(br)
        if stype == "B" and br.bits(1):
            while _expgolomb_ue(br) != 3:
                _expgolomb_ue(br)
    if nal_type == 5:
        br.bits(2)
    elif nal_ref_idc:
        if br.bits(1):
            while (op := _expgolomb_ue(br)) != 0:
                for _ in range(
                    {1: 1, 2: 1, 3: 2, 4: 1, 6: 1}.get(op, 0)
                ):
                    _expgolomb_ue(br)
    if pps["entropy_coding_mode"] and stype not in ("I", "SI"):
        _expgolomb_ue(br)
    _expgolomb_se(br)  # slice_qp_delta
    if pps["deblocking_filter_control_present"]:
        if _expgolomb_ue(br) != 1:
            _expgolomb_se(br)
            _expgolomb_se(br)


def decode_h264_stream(data: bytes) -> list[dict]:
    """Walk an Annex B stream maintaining the parameter-set stores
    (7.4.1.2 activation): SPS and PPS NALs populate the stores, slice
    NALs (types 1/5) resolve through them. Returns one dict per
    slice; a slice before its parameter sets fails loudly."""
    sps_store, pps_store, slices = {}, {}, []
    for nal in decode_annexb(data):
        t = nal["nal_type"]
        if t == 7:
            info = decode_h264_sps(nal["rbsp"])
            sps_store[info["sps_id"]] = info
        elif t == 8:
            info = decode_h264_pps(nal["rbsp"])
            pps_store[info["pps_id"]] = info
        elif t in (1, 5):
            slices.append(
                decode_h264_slice_header(
                    nal["rbsp"], t, nal["ref_idc"], pps_store, sps_store
                )
            )
    return slices


# ---------------------------------------------------------------------------
# H.264 CAVLC residual layer (ISO/IEC 14496-10 section 9.2) — the
# entropy-coded slice-data layer under m38's I_PCM: coeff_token /
# trailing-one signs / level_prefix+suffix / total_zeros / run_before,
# through Intra_16x16 reconstruction (4x4 luma DC Hadamard 8.5.10,
# dequant 8.5.12.1, the integer inverse 4x4 transform 8.5.12.2, 2x2
# chroma DC 8.5.11, and Intra16x16/chroma DC prediction 8.3.3/8.3.4).
#
# NORMATIVE TABLES, stated explicitly (the r10 VP8L rule: never derive
# them from roundtrips).  Adjudication, honestly declared: no H.264
# decoder ships in this container (re-probed r12), so the tables below
# rest on (a) two independent recalls of the published spec tables —
# the codeword-column form and the widely-mirrored length/value form —
# written separately and cross-checked cell by cell, (b) structural
# validation in tests/test_h264_cavlc.py: every table is prefix-free
# and its Kraft deficit sits EXACTLY on the all-zeros codewords
# (H.264's start-code-emulation-avoidance design: CT0 frees the two
# 16-bit near-zero words, CT2 and TZ[1] and RB[7] free precisely their
# all-zeros word), and (c) the published Richardson worked example,
# pinned bit-for-bit (coeff_token(5,3) ctx0 + levels + total_zeros +
# run_before).  Cells with TotalCoeff >= 13 in contexts 1-2 carry the
# least external evidence; they are covered by per-cell encode/decode
# roundtrips only.
# ---------------------------------------------------------------------------

_CAVLC_CT = (
    # 0 <= nC < 2
    {
        (0, 0): "1",
        (1, 0): "000101", (1, 1): "01",
        (2, 0): "00000111", (2, 1): "000100", (2, 2): "001",
        (3, 0): "000000111", (3, 1): "00000110", (3, 2): "0000101",
        (3, 3): "00011",
        (4, 0): "0000000111", (4, 1): "000000110", (4, 2): "00000101",
        (4, 3): "000011",
        (5, 0): "00000000111", (5, 1): "0000000110", (5, 2): "000000101",
        (5, 3): "0000100",
        (6, 0): "0000000001111", (6, 1): "00000000110", (6, 2): "0000000101",
        (6, 3): "00000100",
        (7, 0): "0000000001011", (7, 1): "0000000001110",
        (7, 2): "00000000101", (7, 3): "000000100",
        (8, 0): "0000000001000", (8, 1): "0000000001010",
        (8, 2): "0000000001101", (8, 3): "0000000100",
        (9, 0): "00000000001111", (9, 1): "00000000001110",
        (9, 2): "0000000001001", (9, 3): "00000000100",
        (10, 0): "00000000001011", (10, 1): "00000000001010",
        (10, 2): "00000000001101", (10, 3): "0000000001100",
        (11, 0): "000000000001111", (11, 1): "000000000001110",
        (11, 2): "00000000001001", (11, 3): "00000000001100",
        (12, 0): "000000000001011", (12, 1): "000000000001010",
        (12, 2): "000000000001101", (12, 3): "00000000001000",
        (13, 0): "0000000000001111", (13, 1): "000000000000001",
        (13, 2): "000000000001001", (13, 3): "000000000001100",
        (14, 0): "0000000000001011", (14, 1): "0000000000001110",
        (14, 2): "0000000000001101", (14, 3): "000000000001000",
        (15, 0): "0000000000000111", (15, 1): "0000000000001010",
        (15, 2): "0000000000001001", (15, 3): "0000000000001100",
        (16, 0): "0000000000000100", (16, 1): "0000000000000110",
        (16, 2): "0000000000000101", (16, 3): "0000000000001000",
    },
    # 2 <= nC < 4
    {
        (0, 0): "11",
        (1, 0): "001011", (1, 1): "10",
        (2, 0): "000111", (2, 1): "00111", (2, 2): "011",
        (3, 0): "0000111", (3, 1): "001010", (3, 2): "001001", (3, 3): "0101",
        (4, 0): "00000111", (4, 1): "000110", (4, 2): "000101", (4, 3): "0100",
        (5, 0): "00000100", (5, 1): "0000110", (5, 2): "0000101",
        (5, 3): "00110",
        (6, 0): "000000111", (6, 1): "00000110", (6, 2): "00000101",
        (6, 3): "001000",
        (7, 0): "00000001111", (7, 1): "000000110", (7, 2): "000000101",
        (7, 3): "000100",
        (8, 0): "00000001011", (8, 1): "00000001110", (8, 2): "00000001101",
        (8, 3): "0000100",
        (9, 0): "000000001111", (9, 1): "00000001010", (9, 2): "00000001001",
        (9, 3): "000000100",
        (10, 0): "000000001011", (10, 1): "000000001110",
        (10, 2): "000000001101", (10, 3): "00000001100",
        (11, 0): "000000001000", (11, 1): "000000001010",
        (11, 2): "000000001001", (11, 3): "00000001000",
        (12, 0): "0000000001111", (12, 1): "0000000001110",
        (12, 2): "0000000001101", (12, 3): "000000001100",
        (13, 0): "0000000001011", (13, 1): "0000000001010",
        (13, 2): "0000000001001", (13, 3): "0000000001100",
        (14, 0): "0000000000111", (14, 1): "00000000001011",
        (14, 2): "00000000001010", (14, 3): "0000000001000",
        (15, 0): "00000000001001", (15, 1): "00000000001000",
        (15, 2): "00000000001101", (15, 3): "0000000000001",
        (16, 0): "00000000000111", (16, 1): "00000000000110",
        (16, 2): "00000000000101", (16, 3): "00000000000100",
    },
    # 4 <= nC < 8
    {
        (0, 0): "1111",
        (1, 0): "001111", (1, 1): "1110",
        (2, 0): "001011", (2, 1): "01111", (2, 2): "1101",
        (3, 0): "001000", (3, 1): "01100", (3, 2): "01110", (3, 3): "1100",
        (4, 0): "0001111", (4, 1): "01010", (4, 2): "01011", (4, 3): "1011",
        (5, 0): "0001011", (5, 1): "01000", (5, 2): "01001", (5, 3): "1010",
        (6, 0): "0001001", (6, 1): "001110", (6, 2): "001101", (6, 3): "1001",
        (7, 0): "0001000", (7, 1): "001010", (7, 2): "001001", (7, 3): "1000",
        (8, 0): "00001111", (8, 1): "0001110", (8, 2): "0001101",
        (8, 3): "01101",
        (9, 0): "00001011", (9, 1): "00001110", (9, 2): "0001010",
        (9, 3): "001100",
        (10, 0): "000001111", (10, 1): "00001010", (10, 2): "00001101",
        (10, 3): "0001100",
        (11, 0): "000001011", (11, 1): "000001110", (11, 2): "00001001",
        (11, 3): "00001100",
        (12, 0): "000001000", (12, 1): "000001010", (12, 2): "000001101",
        (12, 3): "00001000",
        (13, 0): "0000001101", (13, 1): "000000111", (13, 2): "000001001",
        (13, 3): "000001100",
        (14, 0): "0000001001", (14, 1): "0000001100", (14, 2): "0000001011",
        (14, 3): "0000001010",
        (15, 0): "0000000101", (15, 1): "0000001000", (15, 2): "0000000111",
        (15, 3): "0000000110",
        (16, 0): "0000000001", (16, 1): "0000000100", (16, 2): "0000000011",
        (16, 3): "0000000010",
    },
)

# nC == -1: chroma DC, 4:2:0 (Table 9-5 last column)
_CAVLC_CT_CHROMA = {
    (0, 0): "01",
    (1, 0): "000111", (1, 1): "1",
    (2, 0): "000100", (2, 1): "000110", (2, 2): "001",
    (3, 0): "000011", (3, 1): "0000011", (3, 2): "0000010", (3, 3): "000101",
    (4, 0): "000010", (4, 1): "00000011", (4, 2): "00000010", (4, 3): "0000000",
}

# Table 9-7: total_zeros for 4x4 blocks, indexed by TotalCoeff
_CAVLC_TZ = {
    1: {0: "1", 1: "011", 2: "010", 3: "0011", 4: "0010", 5: "00011",
        6: "00010", 7: "000011", 8: "000010", 9: "0000011", 10: "0000010",
        11: "00000011", 12: "00000010", 13: "000000011", 14: "000000010",
        15: "000000001"},
    2: {0: "111", 1: "110", 2: "101", 3: "100", 4: "011", 5: "0101",
        6: "0100", 7: "0011", 8: "0010", 9: "00011", 10: "00010",
        11: "000011", 12: "000010", 13: "000001", 14: "000000"},
    3: {0: "0101", 1: "111", 2: "110", 3: "101", 4: "0100", 5: "0011",
        6: "100", 7: "011", 8: "0010", 9: "00011", 10: "00010",
        11: "000001", 12: "00001", 13: "000000"},
    4: {0: "00011", 1: "111", 2: "0101", 3: "0100", 4: "110", 5: "101",
        6: "100", 7: "0011", 8: "011", 9: "0010", 10: "00010",
        11: "00001", 12: "00000"},
    5: {0: "0101", 1: "0100", 2: "0011", 3: "111", 4: "110", 5: "101",
        6: "100", 7: "011", 8: "0010", 9: "00001", 10: "0001",
        11: "00000"},
    6: {0: "000001", 1: "00001", 2: "111", 3: "110", 4: "101", 5: "100",
        6: "011", 7: "010", 8: "0001", 9: "001", 10: "000000"},
    7: {0: "000001", 1: "00001", 2: "101", 3: "100", 4: "011", 5: "11",
        6: "010", 7: "0001", 8: "001", 9: "000000"},
    8: {0: "000001", 1: "0001", 2: "00001", 3: "011", 4: "11", 5: "10",
        6: "010", 7: "001", 8: "000000"},
    9: {0: "000001", 1: "000000", 2: "0001", 3: "11", 4: "10", 5: "001",
        6: "01", 7: "00001"},
    10: {0: "00001", 1: "00000", 2: "001", 3: "11", 4: "10", 5: "01",
         6: "0001"},
    11: {0: "0000", 1: "0001", 2: "001", 3: "010", 4: "1", 5: "011"},
    12: {0: "0000", 1: "0001", 2: "01", 3: "1", 4: "001"},
    13: {0: "000", 1: "001", 2: "1", 3: "01"},
    14: {0: "00", 1: "01", 2: "1"},
    15: {0: "0", 1: "1"},
}

# Table 9-9(a): total_zeros for chroma DC (4:2:0, maxNumCoeff 4)
_CAVLC_TZ_CHROMA = {
    1: {0: "1", 1: "01", 2: "001", 3: "000"},
    2: {0: "1", 1: "01", 2: "00"},
    3: {0: "1", 1: "0"},
}

# Table 9-10: run_before, indexed by min(zerosLeft, 7)
_CAVLC_RB = {
    1: {0: "1", 1: "0"},
    2: {0: "1", 1: "01", 2: "00"},
    3: {0: "11", 1: "10", 2: "01", 3: "00"},
    4: {0: "11", 1: "10", 2: "01", 3: "001", 4: "000"},
    5: {0: "11", 1: "10", 2: "011", 3: "010", 4: "001", 5: "000"},
    6: {0: "11", 1: "000", 2: "001", 3: "011", 4: "010", 5: "101",
        6: "100"},
    7: {0: "111", 1: "110", 2: "101", 3: "100", 4: "011", 5: "010",
        6: "001", 7: "0001", 8: "00001", 9: "000001", 10: "0000001",
        11: "00000001", 12: "000000001", 13: "0000000001",
        14: "00000000001"},
}

# 4x4 zigzag scan (Table 8-13, frame coding): scan position -> raster
H264_ZIGZAG_4x4 = (0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

# LevelScale weights (Table for 8.5.12.1): per qP%6, by raster-position
# class — corners {(0,0),(0,2),(2,0),(2,2)}, centers {(1,1),(1,3),
# (3,1),(3,3)}, others
_H264_LS_CORNER = (10, 11, 13, 14, 16, 18)
_H264_LS_CENTER = (16, 18, 20, 23, 25, 29)
_H264_LS_OTHER = (13, 14, 16, 18, 20, 23)

# Chroma QP mapping (Table 8-15) for qPi in [30, 51]; below 30, QPc=qPi
_H264_CHROMA_QP_TAIL = (29, 30, 31, 32, 32, 33, 34, 34, 35, 35, 36, 36,
                        37, 37, 37, 38, 38, 38, 39, 39, 39, 39)


def h264_levelscale(m: int, i: int, j: int) -> int:
    """LevelScale(qP%6, i, j) for the flat (no-scaling-list) case."""
    if (i % 2, j % 2) == (0, 0):
        return _H264_LS_CORNER[m]
    if (i % 2, j % 2) == (1, 1):
        return _H264_LS_CENTER[m]
    return _H264_LS_OTHER[m]


def h264_chroma_qp(q_pi: int) -> int:
    """qPi -> QPc (Table 8-15)."""
    if q_pi < 30:
        return q_pi
    return _H264_CHROMA_QP_TAIL[min(q_pi, 51) - 30]


def _cavlc_decode_tables():
    """(lazy, cached) decode maps: {(length, value): symbol}."""
    global _CAVLC_DEC
    try:
        return _CAVLC_DEC
    except NameError:
        pass

    def inv(tbl):
        return {(len(c), int(c, 2)): sym for sym, c in tbl.items()}

    _CAVLC_DEC = {
        "ct": tuple(inv(t) for t in _CAVLC_CT),
        "ct_chroma": inv(_CAVLC_CT_CHROMA),
        "tz": {k: inv(t) for k, t in _CAVLC_TZ.items()},
        "tz_chroma": {k: inv(t) for k, t in _CAVLC_TZ_CHROMA.items()},
        "rb": {k: inv(t) for k, t in _CAVLC_RB.items()},
    }
    return _CAVLC_DEC


def _vlc_read(br: "_BitReader", dec: dict, what: str):
    """Read one codeword from a {(len, value): symbol} map, extending
    bit by bit (max codeword length in any CAVLC table is 16)."""
    v = 0
    for n in range(1, 17):
        v = (v << 1) | br.bits(1)
        sym = dec.get((n, v))
        if sym is not None:
            return sym
    raise ValueError(f"H264: invalid {what} codeword")


def _cavlc_ct_context(n_c: int) -> int:
    return 0 if n_c < 2 else 1 if n_c < 4 else 2


def cavlc_encode_block(
    bw: "_BitWriter", coeffs, n_c: int, max_coeff: int
) -> int:
    """CAVLC-encode one residual block (9.2, encoder direction).
    ``coeffs`` are the levels in SCAN order (zigzag for 4x4, raster
    for the 2x2 chroma DC), length ``max_coeff``.  ``n_c`` is the
    coeff_token context (-1 for chroma DC).  Returns TotalCoeff."""
    nz = [(i, c) for i, c in enumerate(coeffs) if c != 0]
    total = len(nz)
    # trailing ones: up to three |1| levels at the scan tail
    t1 = 0
    while t1 < 3 and t1 < total and abs(nz[total - 1 - t1][1]) == 1:
        t1 += 1
    if n_c == -1:
        code = _CAVLC_CT_CHROMA[(total, t1)]
        bw.put(int(code, 2), len(code))
    elif n_c < 8:
        code = _CAVLC_CT[_cavlc_ct_context(n_c)][(total, t1)]
        bw.put(int(code, 2), len(code))
    else:  # 6-bit FLC: xxxxyy, except (0,0) -> 000011
        bw.put(3 if total == 0 else ((total - 1) << 2) | t1, 6)
    if total == 0:
        return 0
    for k in range(t1):  # trailing-one signs, reverse scan order
        bw.put(1 if nz[total - 1 - k][1] < 0 else 0, 1)
    suffix_len = 1 if total > 10 and t1 < 3 else 0
    for k in range(t1, total):  # remaining levels, reverse scan order
        level = nz[total - 1 - k][1]
        lc = 2 * level - 2 if level > 0 else -2 * level - 1
        if k == t1 and t1 < 3:
            lc -= 2
        if suffix_len == 0:
            if lc < 14:
                bw.unary(lc)
            elif lc < 30:
                bw.unary(14)
                bw.put(lc - 14, 4)
            else:
                esc, width = lc - 30, 12
                prefix = 15
                while esc >= (1 << width):
                    # level_prefix >= 16: each step doubles the suffix
                    esc -= 1 << width
                    prefix += 1
                    width += 1
                bw.unary(prefix)
                bw.put(esc, width)
        else:
            if lc < (15 << suffix_len):
                bw.unary(lc >> suffix_len)
                bw.put(lc & ((1 << suffix_len) - 1), suffix_len)
            else:
                esc, width = lc - (15 << suffix_len), 12
                prefix = 15
                while esc >= (1 << width):
                    esc -= 1 << width
                    prefix += 1
                    width += 1
                bw.unary(prefix)
                bw.put(esc, width)
        if suffix_len == 0:
            suffix_len = 1
        if abs(level) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    # total_zeros + run_before
    last_idx = nz[-1][0]
    total_zeros = last_idx + 1 - total
    if total < max_coeff:
        tz_tbl = (
            _CAVLC_TZ_CHROMA[total] if n_c == -1 else _CAVLC_TZ[total]
        )
        code = tz_tbl[total_zeros]
        bw.put(int(code, 2), len(code))
    zeros_left = total_zeros
    for k in range(total - 1, 0, -1):  # from last coeff down to second
        if zeros_left == 0:
            break
        run = nz[k][0] - nz[k - 1][0] - 1
        code = _CAVLC_RB[min(zeros_left, 7)][run]
        bw.put(int(code, 2), len(code))
        zeros_left -= run
    return total


def cavlc_decode_block(br: "_BitReader", n_c: int, max_coeff: int):
    """CAVLC-decode one residual block (9.2, decoder direction).
    Returns (levels in scan order — length ``max_coeff`` — ,
    TotalCoeff)."""
    dec = _cavlc_decode_tables()
    if n_c == -1:
        total, t1 = _vlc_read(br, dec["ct_chroma"], "coeff_token")
    elif n_c < 8:
        total, t1 = _vlc_read(
            br, dec["ct"][_cavlc_ct_context(n_c)], "coeff_token"
        )
    else:
        v = br.bits(6)
        total, t1 = (0, 0) if v == 3 else ((v >> 2) + 1, v & 3)
    out = [0] * max_coeff
    if total == 0:
        return out, 0
    if total > max_coeff:
        raise ValueError("H264: coeff_token exceeds block size")
    levels = []
    for _ in range(t1):
        levels.append(-1 if br.bits(1) else 1)
    suffix_len = 1 if total > 10 and t1 < 3 else 0
    for k in range(t1, total):
        prefix = br.unary()
        if prefix > 19:
            raise ValueError("H264: runaway level_prefix")
        if suffix_len == 0:
            sfx_size = 4 if prefix == 14 else (
                prefix - 3 if prefix >= 15 else 0
            )
        else:
            sfx_size = prefix - 3 if prefix >= 15 else suffix_len
        lc = (min(15, prefix) << suffix_len) + (
            br.bits(sfx_size) if sfx_size else 0
        )
        if prefix >= 15 and suffix_len == 0:
            lc += 15
        if prefix >= 16:
            lc += (1 << (prefix - 3)) - 4096
        if k == t1 and t1 < 3:
            lc += 2
        level = (lc + 2) >> 1 if lc % 2 == 0 else -((lc + 1) >> 1)
        levels.append(level)
        if suffix_len == 0:
            suffix_len = 1
        if abs(level) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    if total < max_coeff:
        tz_dec = (
            dec["tz_chroma"][total] if n_c == -1 else dec["tz"][total]
        )
        total_zeros = _vlc_read(br, tz_dec, "total_zeros")
    else:
        total_zeros = 0
    runs = [0] * total
    zeros_left = total_zeros
    for k in range(total - 1):
        if zeros_left == 0:
            break
        run = _vlc_read(br, dec["rb"][min(zeros_left, 7)], "run_before")
        runs[total - 1 - k] = run
        zeros_left -= run
    runs[0] = zeros_left
    idx = -1
    for k in range(total):
        idx += runs[k] + 1
        if idx >= max_coeff:
            raise ValueError("H264: run_before overruns block")
        out[idx] = levels[total - 1 - k]
    return out, total


def _h264_blk_xy(idx: int) -> tuple[int, int]:
    """Luma 4x4 coding order (8x8 quadrant raster, then 2x2 raster
    within) -> spatial (x4, y4) in 4-sample units (Figure 6-10)."""
    return (
        ((idx >> 2) & 1) * 2 + (idx & 1),
        ((idx >> 3) & 1) * 2 + ((idx >> 1) & 1),
    )


def _h264_nc(nnz_cur, nnz_left, x4: int, y4: int, nnz_top=None) -> int:
    """coeff_token context nC for luma block (x4, y4) of the current
    MB (9.2.1): mean of the available left/top neighbours'
    TotalCoeff, rounded up; 0 if neither is available.  The left
    neighbour crosses into ``nnz_left`` (the MB to the left) at
    x4 == 0; the top neighbour crosses into ``nnz_top`` (the MB
    above) at y4 == 0."""
    if x4 > 0:
        na = nnz_cur[y4][x4 - 1]
    elif nnz_left is not None:
        na = nnz_left[y4][3]
    else:
        na = None
    if y4 > 0:
        nb = nnz_cur[y4 - 1][x4]
    elif nnz_top is not None:
        nb = nnz_top[3][x4]
    else:
        nb = None
    if na is not None and nb is not None:
        return (na + nb + 1) >> 1
    if na is not None:
        return na
    if nb is not None:
        return nb
    return 0


def _h264_chroma_nc(cn_cur, cn_left, cn_top, x2: int, y2: int) -> int:
    """nC for a ChromaACLevel block at (x2, y2) of the current MB's
    per-plane 2x2 block grid (9.2.1): left/top neighbours cross MB
    edges into the adjacent MB's grid."""
    if x2 > 0:
        na = cn_cur[y2][x2 - 1]
    elif cn_left is not None:
        na = cn_left[y2][1]
    else:
        na = None
    if y2 > 0:
        nb = cn_cur[y2 - 1][x2]
    elif cn_top is not None:
        nb = cn_top[1][x2]
    else:
        nb = None
    if na is not None and nb is not None:
        return (na + nb + 1) >> 1
    if na is not None:
        return na
    if nb is not None:
        return nb
    return 0


def _h264_idct4(d: "np.ndarray") -> "np.ndarray":
    """Integer inverse 4x4 transform (8.5.12.2) on dequantized
    coefficients: row pass, column pass, then (x + 32) >> 6.  numpy
    int64 >> is an arithmetic (floor) shift, matching the spec."""
    import numpy as np

    d = d.astype(np.int64)
    e = np.empty((4, 4), np.int64)
    for r in range(4):
        d0, d1, d2, d3 = d[r]
        e0, e1 = d0 + d2, d0 - d2
        e2, e3 = (d1 >> 1) - d3, d1 + (d3 >> 1)
        e[r] = (e0 + e3, e1 + e2, e1 - e2, e0 - e3)
    out = np.empty((4, 4), np.int64)
    for c in range(4):
        d0, d1, d2, d3 = e[:, c]
        e0, e1 = d0 + d2, d0 - d2
        e2, e3 = (d1 >> 1) - d3, d1 + (d3 >> 1)
        out[:, c] = (e0 + e3, e1 + e2, e1 - e2, e0 - e3)
    return (out + 32) >> 6


_H264_HADAMARD4 = (
    (1, 1, 1, 1), (1, 1, -1, -1), (1, -1, -1, 1), (1, -1, 1, -1),
)


def _h264_luma_dc_dequant(f: "np.ndarray", qp: int) -> "np.ndarray":
    """Intra16x16 luma DC path (8.5.10): inverse 4x4 Hadamard on the
    parsed levels, then the DC-specific scaling with its qP < 36
    rounding branch."""
    import numpy as np

    h = np.array(_H264_HADAMARD4, np.int64)
    g = h @ f.astype(np.int64) @ h
    v = h264_levelscale(qp % 6, 0, 0)
    if qp >= 36:
        return (g * v) << (qp // 6 - 6)
    return (g * v + (1 << (5 - qp // 6))) >> (6 - qp // 6)


def _h264_chroma_dc_dequant(f: "np.ndarray", qpc: int) -> "np.ndarray":
    """Chroma DC path (8.5.11): inverse 2x2 Hadamard, then
    ((g * LS) << (qPc / 6)) >> 5."""
    import numpy as np

    h = np.array(((1, 1), (1, -1)), np.int64)
    g = h @ f.astype(np.int64) @ h
    return ((g * h264_levelscale(qpc % 6, 0, 0)) << (qpc // 6)) >> 5


def encode_h264_i16x16_slice(
    sps: dict, pps: dict, mbs, frame_num: int = 0, idr_pic_id: int = 0,
) -> bytes:
    """Write an IDR I slice of Intra_16x16 macroblocks with CAVLC
    residual data (7.3.5.3 / 9.2) — mb_type 19 (DC prediction,
    CodedBlockPatternChroma 1, CodedBlockPatternLuma 15).  This is a
    fixture SYNTHESIZER, not a rate-distortion encoder: each MB dict
    carries chosen coded-domain levels — ``dc`` (4,4) Hadamard-domain
    Intra16x16DCLevel, ``ac`` (4,4,4,4) raster [y4][x4] 4x4 AC blocks
    (position (0,0) must be 0), ``cb_dc``/``cr_dc`` (2,2) chroma DC —
    and the writer emits the exact spec bitstream for them, slice
    data bit-contiguous with the header (no alignment).  ``mbs`` is
    one dict per macroblock in RASTER order (row-major over the SPS
    mb grid); nC's neighbour derivation crosses MB edges in both
    dimensions (9.2.1)."""
    mb_w, mb_h = sps["mb_width"], sps["mb_height"]
    if len(mbs) != mb_w * mb_h:
        raise ValueError("one MB dict per SPS grid cell, raster order")
    bw = _ExpGolombWriter()
    _h264_put_slice_header(
        bw, sps, pps, 7, 0, frame_num, 0,
        idr_pic_id=idr_pic_id, poc_lsb=0, nal_ref_idc=3,
    )
    nnz_store: dict[tuple[int, int], list] = {}
    cnnz_store: dict[tuple[int, int, int], list] = {}
    for my in range(mb_h):
        for mx in range(mb_w):
            mb = mbs[my * mb_w + mx]
            has_cac = "cb_ac" in mb
            pmode = int(mb.get("pred_mode", 2))
            if pmode in (0, 3) and my == 0:
                raise ValueError("V/Plane prediction needs a top MB")
            if pmode in (1, 3) and mx == 0:
                raise ValueError("H/Plane prediction needs a left MB")
            # Intra_16x16 mb_type packs (predMode, cbpChroma, cbpLuma
            # 15); cbpChroma 2 (DC+AC) when the MB carries chroma AC
            bw.ue(1 + pmode + 4 * (2 if has_cac else 1) + 12)
            bw.ue(0)   # intra_chroma_pred_mode: DC
            bw.se(0)   # mb_qp_delta
            left = nnz_store.get((mx - 1, my))
            top = nnz_store.get((mx, my - 1))
            nnz = [[0] * 4 for _ in range(4)]
            dc_scan = [int(mb["dc"].flat[z]) for z in H264_ZIGZAG_4x4]
            cavlc_encode_block(
                bw, dc_scan, _h264_nc(nnz, left, 0, 0, top), 16
            )
            for idx in range(16):
                x4, y4 = _h264_blk_xy(idx)
                blk = mb["ac"][y4][x4]
                if blk.flat[0] != 0:
                    raise ValueError("AC block position (0,0) must be 0")
                scan = [int(blk.flat[z]) for z in H264_ZIGZAG_4x4[1:]]
                n_c = _h264_nc(nnz, left, x4, y4, top)
                nnz[y4][x4] = cavlc_encode_block(bw, scan, n_c, 15)
            for plane in ("cb_dc", "cr_dc"):
                cavlc_encode_block(
                    bw, [int(v) for v in mb[plane].flat], -1, 4
                )
            if has_cac:
                # ChromaACLevel (7.3.5.3.3 order: all four Cb blocks,
                # then all four Cr), nC over the per-plane 2x2 block
                # grids with cross-MB neighbours
                for pi, key in ((0, "cb_ac"), (1, "cr_ac")):
                    cleft = cnnz_store.get((pi, mx - 1, my))
                    ctop = cnnz_store.get((pi, mx, my - 1))
                    cn = cnnz_store.setdefault(
                        (pi, mx, my), [[0, 0], [0, 0]]
                    )
                    for idx in range(4):
                        x2, y2 = idx % 2, idx // 2
                        blk = mb[key][y2][x2]
                        if blk.flat[0] != 0:
                            raise ValueError(
                                "chroma AC position (0,0) must be 0"
                            )
                        scan = [
                            int(blk.flat[z]) for z in H264_ZIGZAG_4x4[1:]
                        ]
                        n_c = _h264_chroma_nc(cn, cleft, ctop, x2, y2)
                        cn[y2][x2] = cavlc_encode_block(bw, scan, n_c, 15)
            nnz_store[(mx, my)] = nnz
    bw.put(1, 1)  # rbsp_stop_one_bit
    bw.align()
    return bytes(bw.out)


def decode_h264_i16x16_slice(
    rbsp: bytes, nal_type: int, nal_ref_idc: int, pps_store: dict,
    sps_store: dict,
):
    """Decode an Intra_16x16 CAVLC slice to PIXELS: slice header
    through the parameter-set stores, then per MB (raster order over
    the SPS grid) the 7.3.5 walk — mb_type, intra_chroma_pred_mode,
    mb_qp_delta, Intra16x16DCLevel, 16 ACLevel blocks, 2 chroma DC
    blocks — with 2D nC bookkeeping (left and top neighbours cross
    MB edges, 9.2.1), the 8.5.10/8.5.11/8.5.12 dequant + inverse
    transforms, Intra16x16 DC prediction over the available MB
    boundaries (8.3.3.1: both/left/top/neither cases), and chroma DC
    prediction from MB-boundary samples only (8.3.4.1, including the
    corner blocks' top/left preferences).  Returns (header, luma,
    cb, cr, total_coeff).  Non-DC intra prediction modes and chroma
    AC (cbpChroma 2) fail loudly (documented extension points)."""
    import numpy as np

    hdr = decode_h264_slice_header(
        rbsp, nal_type, nal_ref_idc, pps_store, sps_store
    )
    pps = pps_store[hdr["pps_id"]]
    sps = sps_store[pps["sps_id"]]
    mb_w, mb_h = sps["mb_width"], sps["mb_height"]
    br = _BitReader(rbsp)
    _h264_skip_slice_header(br, nal_type, nal_ref_idc, pps_store, sps_store)
    y = np.zeros((16 * mb_h, 16 * mb_w), np.uint8)
    cb = np.zeros((8 * mb_h, 8 * mb_w), np.uint8)
    cr = np.zeros((8 * mb_h, 8 * mb_w), np.uint8)
    qp = hdr["slice_qp"]
    nnz_store: dict[tuple[int, int], list] = {}
    cnnz_store: dict[tuple[int, int, int], list] = {}
    total_coeff = 0
    for my in range(mb_h):
        for mx in range(mb_w):
            mb_type = _expgolomb_ue(br)
            if not 1 <= mb_type <= 24:
                raise ValueError(
                    f"H264: only Intra_16x16 mb_type supported, got"
                    f" {mb_type}"
                )
            k = mb_type - 1
            pred_mode, cbp_chroma = k % 4, (k // 4) % 3
            cbp_luma = 15 if k >= 12 else 0
            if pred_mode in (0, 3) and my == 0:
                raise ValueError("H264: V/Plane prediction without top MB")
            if pred_mode in (1, 3) and mx == 0:
                raise ValueError("H264: H/Plane prediction without left MB")

            if _expgolomb_ue(br) != 0:
                raise ValueError(
                    "H264: only chroma DC prediction implemented"
                )
            qp = qp + _expgolomb_se(br)  # mb_qp_delta
            qpc = h264_chroma_qp(qp + pps["chroma_qp_index_offset"])
            left = nnz_store.get((mx - 1, my))
            top = nnz_store.get((mx, my - 1))
            nnz = [[0] * 4 for _ in range(4)]
            dc_scan, n = cavlc_decode_block(
                br, _h264_nc(nnz, left, 0, 0, top), 16
            )
            total_coeff += n
            f_dc = np.zeros(16, np.int64)
            f_dc[list(H264_ZIGZAG_4x4)] = dc_scan
            dc = _h264_luma_dc_dequant(f_dc.reshape(4, 4), qp)
            ac = np.zeros((4, 4, 4, 4), np.int64)
            if cbp_luma:
                for idx in range(16):
                    x4, y4 = _h264_blk_xy(idx)
                    scan, n = cavlc_decode_block(
                        br, _h264_nc(nnz, left, x4, y4, top), 15
                    )
                    nnz[y4][x4] = n
                    total_coeff += n
                    flat = np.zeros(16, np.int64)
                    flat[list(H264_ZIGZAG_4x4[1:])] = scan
                    ac[y4][x4] = flat.reshape(4, 4)
            # Intra16x16 prediction (8.3.3.1-8.3.3.4): V copies the
            # top boundary row down, H copies the left boundary
            # column across, DC means the available boundaries,
            # Plane fits the 8.3.3.4 gradient (Clip1 per predicted
            # sample)
            ox, oy = 16 * mx, 16 * my
            top_row = (
                y[oy - 1, ox:ox + 16].astype(np.int64) if my > 0 else None
            )
            left_col = (
                y[oy:oy + 16, ox - 1].astype(np.int64) if mx > 0 else None
            )
            if pred_mode == 0:  # Vertical
                pred = np.tile(top_row, (16, 1))
            elif pred_mode == 1:  # Horizontal
                pred = np.tile(left_col, (16, 1)).T
            elif pred_mode == 2:  # DC
                sums, cnt = 0, 0
                if left_col is not None:
                    sums += int(left_col.sum())
                    cnt += 16
                if top_row is not None:
                    sums += int(top_row.sum())
                    cnt += 16
                if cnt == 32:
                    pred = (sums + 16) >> 5
                elif cnt == 16:
                    pred = (sums + 8) >> 4
                else:
                    pred = 128
            else:  # Plane (8.3.3.4)
                corner = int(y[oy - 1, ox - 1])
                hsum = sum(
                    (xp + 1) * (
                        int(top_row[8 + xp])
                        - (int(top_row[6 - xp]) if xp < 7 else corner)
                    )
                    for xp in range(8)
                )
                vsum = sum(
                    (yp + 1) * (
                        int(left_col[8 + yp])
                        - (int(left_col[6 - yp]) if yp < 7 else corner)
                    )
                    for yp in range(8)
                )
                aa = 16 * (int(top_row[15]) + int(left_col[15]))
                bb = (5 * hsum + 32) >> 6
                cc = (5 * vsum + 32) >> 6
                xs = np.arange(16, dtype=np.int64)
                pred = np.clip(
                    (aa + bb * (xs[None, :] - 7)
                     + cc * (xs[:, None] - 7) + 16) >> 5,
                    0, 255,
                )
            vshift = qp // 6
            m6 = qp % 6
            ls = np.array(
                [[h264_levelscale(m6, i, j) for j in range(4)]
                 for i in range(4)], np.int64,
            )
            for y4 in range(4):
                for x4 in range(4):
                    d = (ac[y4][x4] * ls) << vshift
                    d[0, 0] = dc[y4, x4]
                    res = _h264_idct4(d)
                    pblk = (
                        pred if np.isscalar(pred)
                        else pred[4 * y4:4 * y4 + 4, 4 * x4:4 * x4 + 4]
                    )
                    px = np.clip(pblk + res, 0, 255).astype(np.uint8)
                    y[oy + 4 * y4:oy + 4 * y4 + 4,
                      ox + 4 * x4:ox + 4 * x4 + 4] = px
            # chroma residual parse (7.3.5.3.3 order): DC for both
            # planes, then — when cbpChroma == 2 — ChromaACLevel for
            # all four Cb blocks then all four Cr blocks, with nC over
            # the per-plane 2x2 block grids (cross-MB neighbours)
            cdc, cac = {}, {}
            for pi in (0, 1):
                if cbp_chroma:
                    scan, n = cavlc_decode_block(br, -1, 4)
                    total_coeff += n
                    cdc[pi] = _h264_chroma_dc_dequant(
                        np.array(scan, np.int64).reshape(2, 2), qpc
                    )
                else:
                    cdc[pi] = np.zeros((2, 2), np.int64)
                cac[pi] = np.zeros((2, 2, 4, 4), np.int64)
            for pi in (0, 1):
                if cbp_chroma != 2:
                    cnnz_store[(pi, mx, my)] = [[0, 0], [0, 0]]
                    continue
                cleft = cnnz_store.get((pi, mx - 1, my))
                ctop = cnnz_store.get((pi, mx, my - 1))
                cn = [[0, 0], [0, 0]]
                for idx in range(4):
                    x2, y2 = idx % 2, idx // 2
                    scan, n = cavlc_decode_block(
                        br, _h264_chroma_nc(cn, cleft, ctop, x2, y2), 15
                    )
                    cn[y2][x2] = n
                    total_coeff += n
                    flat = np.zeros(16, np.int64)
                    flat[list(H264_ZIGZAG_4x4[1:])] = scan
                    cac[pi][y2][x2] = flat.reshape(4, 4)
                cnnz_store[(pi, mx, my)] = cn
            # chroma reconstruction: prediction per 4x4 block from the
            # MB-BOUNDARY samples only (8.3.4.1) — corner blocks use
            # both edges, (4,0) prefers top, (0,4) prefers left —
            # then per-block dequant at QPc + inverse transform
            cox, coy = 8 * mx, 8 * my
            lsc = np.array(
                [[h264_levelscale(qpc % 6, i, j) for j in range(4)]
                 for i in range(4)], np.int64,
            )
            for pi, tgt in ((0, cb), (1, cr)):
                dcc = cdc[pi]
                up = (
                    tgt[coy - 1, cox:cox + 8].astype(np.int64)
                    if my > 0 else None
                )
                lf = (
                    tgt[coy:coy + 8, cox - 1].astype(np.int64)
                    if mx > 0 else None
                )
                for y2 in range(2):
                    for x2 in range(2):
                        su = (
                            int(up[4 * x2:4 * x2 + 4].sum())
                            if up is not None else None
                        )
                        sl = (
                            int(lf[4 * y2:4 * y2 + 4].sum())
                            if lf is not None else None
                        )
                        if x2 == y2:  # (0,0) and (4,4): both edges
                            if su is not None and sl is not None:
                                p = (su + sl + 4) >> 3
                            elif sl is not None:
                                p = (sl + 2) >> 2
                            elif su is not None:
                                p = (su + 2) >> 2
                            else:
                                p = 128
                        elif x2 == 1:  # (4,0): top preferred
                            if su is not None:
                                p = (su + 2) >> 2
                            elif sl is not None:
                                p = (sl + 2) >> 2
                            else:
                                p = 128
                        else:  # (0,4): left preferred
                            if sl is not None:
                                p = (sl + 2) >> 2
                            elif su is not None:
                                p = (su + 2) >> 2
                            else:
                                p = 128
                        d = (cac[pi][y2][x2] * lsc) << (qpc // 6)
                        d[0, 0] = int(dcc[y2, x2])
                        res = _h264_idct4(d)
                        tgt[
                            coy + 4 * y2:coy + 4 * y2 + 4,
                            cox + 4 * x2:cox + 4 * x2 + 4,
                        ] = np.clip(p + res, 0, 255)
            nnz_store[(mx, my)] = nnz
    return hdr, y, cb, cr, total_coeff


# ---------------------------------------------------------------------------
# H.264 I_4x4 macroblock layer (ISO/IEC 14496-10 7.3.5 mb_type 0 /
# 8.3.1): per-4x4-block intra prediction with most-probable-mode
# signalling (prev_intra4x4_pred_mode_flag + rem), the coded_block_
# pattern me(v) mapping, and full-16-coefficient luma residual blocks
# (no DC/AC split).  NORMATIVE TABLE 9-4 (Intra_4x4 column) stated
# explicitly below; adjudication: the widely-mirrored form recalled
# whole, validated structurally as a PERMUTATION of 0..47 with the
# published anchors codeNum 0..3 -> cbp 47/31/15/0 (tests pin both).
# Prediction modes 0 (Vertical), 1 (Horizontal), 2 (DC) are
# implemented; the six diagonal modes (3-8) fail loudly as the
# documented extension point.  Single-MB pictures only (the "4x4
# intra mosaic"): cross-MB mode/pixel neighbours are the next layer.
# ---------------------------------------------------------------------------

H264_CBP_INTRA = (
    47, 31, 15, 0, 23, 27, 29, 30, 7, 11, 13, 14, 39, 43, 45, 46,
    16, 3, 5, 10, 12, 19, 21, 26, 28, 35, 37, 42, 44, 1, 2, 4,
    8, 17, 18, 20, 24, 6, 9, 22, 25, 32, 33, 34, 36, 40, 38, 41,
)


def _h264_i4x4_pred_mode(modes, x4: int, y4: int) -> int:
    """Most-probable Intra_4x4 mode (8.3.1.1): min of the left/top
    neighbour modes; DC (2) when either neighbour is unavailable
    (single-MB scope: availability is within-MB adjacency)."""
    ma = modes[y4][x4 - 1] if x4 > 0 else None
    mb = modes[y4 - 1][x4] if y4 > 0 else None
    if ma is None or mb is None:
        return 2
    return min(ma, mb)


_H264_I4_CODING = {}  # spatial (x4, y4) -> coding index
for _k in range(16):
    _H264_I4_CODING[_h264_blk_xy(_k)] = _k


def _h264_i4x4_predict(mode: int, t, l, c):
    """All nine Intra_4x4 prediction modes (8.3.1.2.1-8.3.1.2.9) over
    the CONSTRUCTED reference samples: ``t`` = 8 top samples (t[4..7]
    already substituted with t[3] when the top-right block is
    unavailable), ``l`` = 4 left samples, ``c`` = the corner; any of
    them None when unavailable.  Returns a (4, 4) int array."""
    import numpy as np

    out = np.empty((4, 4), np.int64)

    def tv(k):  # t[-1] is the corner
        return int(c) if k < 0 else int(t[k])

    def lv(k):
        return int(c) if k < 0 else int(l[k])

    def a2(a, b):
        return (a + b + 1) >> 1

    def a3(a, b, cc):
        return (a + 2 * b + cc + 2) >> 2

    if mode == 0:  # Vertical
        return np.tile(np.asarray(t[:4], np.int64), (4, 1))
    if mode == 1:  # Horizontal
        return np.tile(np.asarray(l, np.int64), (4, 1)).T
    if mode == 2:  # DC
        if t is not None and l is not None:
            v = (int(np.sum(t[:4])) + int(np.sum(l)) + 4) >> 3
        elif l is not None:
            v = (int(np.sum(l)) + 2) >> 2
        elif t is not None:
            v = (int(np.sum(t[:4])) + 2) >> 2
        else:
            v = 128
        out[:] = v
        return out
    for i in range(4):       # y
        for j in range(4):   # x
            if mode == 3:  # Diagonal Down-Left
                if i == 3 and j == 3:
                    v = (tv(6) + 3 * tv(7) + 2) >> 2
                else:
                    v = a3(tv(i + j), tv(i + j + 1), tv(i + j + 2))
            elif mode == 4:  # Diagonal Down-Right
                if j > i:
                    v = a3(tv(j - i - 2), tv(j - i - 1), tv(j - i))
                elif j < i:
                    v = a3(lv(i - j - 2), lv(i - j - 1), lv(i - j))
                else:
                    v = a3(tv(0), int(c), lv(0))
            elif mode == 5:  # Vertical-Right
                z = 2 * j - i
                if z >= 0 and z % 2 == 0:
                    v = a2(tv(j - (i >> 1) - 1), tv(j - (i >> 1)))
                elif z >= 1:
                    v = a3(
                        tv(j - (i >> 1) - 2), tv(j - (i >> 1) - 1),
                        tv(j - (i >> 1)),
                    )
                elif z == -1:
                    v = a3(lv(0), int(c), tv(0))
                else:
                    v = a3(lv(i - 1), lv(i - 2), lv(i - 3))
            elif mode == 6:  # Horizontal-Down
                z = 2 * i - j
                if z >= 0 and z % 2 == 0:
                    v = a2(lv(i - (j >> 1) - 1), lv(i - (j >> 1)))
                elif z >= 1:
                    v = a3(
                        lv(i - (j >> 1) - 2), lv(i - (j >> 1) - 1),
                        lv(i - (j >> 1)),
                    )
                elif z == -1:
                    v = a3(lv(0), int(c), tv(0))
                else:
                    v = a3(tv(j - 1), tv(j - 2), tv(j - 3))
            elif mode == 7:  # Vertical-Left
                if i % 2 == 0:
                    v = a2(tv(j + (i >> 1)), tv(j + (i >> 1) + 1))
                else:
                    v = a3(
                        tv(j + (i >> 1)), tv(j + (i >> 1) + 1),
                        tv(j + (i >> 1) + 2),
                    )
            elif mode == 8:  # Horizontal-Up
                z = j + 2 * i
                if z > 5:
                    v = lv(3)
                elif z == 5:
                    v = (lv(2) + 3 * lv(3) + 2) >> 2
                elif z % 2 == 0:
                    v = a2(lv(i + (j >> 1)), lv(i + (j >> 1) + 1))
                else:
                    v = a3(
                        lv(i + (j >> 1)), lv(i + (j >> 1) + 1),
                        lv(i + (j >> 1) + 2),
                    )
            else:
                raise ValueError(f"bad Intra_4x4 mode {mode}")
            out[i, j] = v
    return out


def encode_h264_i4x4_slice(
    sps: dict, pps: dict, mb: dict, frame_num: int = 0, idr_pic_id: int = 0,
) -> bytes:
    """Write an IDR I slice with ONE I_4x4 macroblock (mb_type 0):
    per-block mode signalling against the 8.3.1.1 most-probable-mode
    inference, coded_block_pattern 31 via the Table 9-4 me(v)
    mapping, 16 full LumaLevel4x4 CAVLC blocks, 2 chroma DC blocks.
    ``mb``: ``modes`` (4,4) ints in {0,1,2} (V needs a top
    neighbour, H a left one), ``luma`` (4,4,4,4) raster coefficient
    blocks (all 16 positions live), ``cb_dc``/``cr_dc`` (2,2)."""
    if (sps["mb_width"], sps["mb_height"]) != (1, 1):
        raise ValueError("I_4x4 layer: single-MB pictures only")
    modes = mb["modes"]
    for y4 in range(4):
        for x4 in range(4):
            m = int(modes[y4][x4])
            if not 0 <= m <= 8:
                raise ValueError(f"bad Intra_4x4 mode {m}")
            if m in (0, 3, 7) and y4 == 0:
                raise ValueError(
                    "I_4x4: V/DDL/VL modes need a top neighbour"
                )
            if m in (1, 8) and x4 == 0:
                raise ValueError(
                    "I_4x4: H/HU modes need a left neighbour"
                )
            if m in (4, 5, 6) and (x4 == 0 or y4 == 0):
                raise ValueError(
                    "I_4x4: DDR/VR/HD modes need both neighbours"
                )
    bw = _ExpGolombWriter()
    _h264_put_slice_header(
        bw, sps, pps, 7, 0, frame_num, 0,
        idr_pic_id=idr_pic_id, poc_lsb=0, nal_ref_idc=3,
    )
    bw.ue(0)  # mb_type I_NxN
    for idx in range(16):
        x4, y4 = _h264_blk_xy(idx)
        actual = int(modes[y4][x4])
        pred = _h264_i4x4_pred_mode(modes, x4, y4)
        if actual == pred:
            bw.put(1, 1)  # prev_intra4x4_pred_mode_flag
        else:
            bw.put(0, 1)
            bw.put(actual if actual < pred else actual - 1, 3)
    bw.ue(0)  # intra_chroma_pred_mode: DC
    bw.ue(H264_CBP_INTRA.index(31))  # coded_block_pattern me(v)
    bw.se(0)  # mb_qp_delta
    nnz = [[0] * 4 for _ in range(4)]
    for idx in range(16):
        x4, y4 = _h264_blk_xy(idx)
        blk = mb["luma"][y4][x4]
        scan = [int(blk.flat[z]) for z in H264_ZIGZAG_4x4]
        n_c = _h264_nc(nnz, None, x4, y4, None)
        nnz[y4][x4] = cavlc_encode_block(bw, scan, n_c, 16)
    for plane in ("cb_dc", "cr_dc"):
        cavlc_encode_block(bw, [int(v) for v in mb[plane].flat], -1, 4)
    bw.put(1, 1)  # rbsp_stop_one_bit
    bw.align()
    return bytes(bw.out)


def decode_h264_i4x4_slice(
    rbsp: bytes, nal_type: int, nal_ref_idc: int, pps_store: dict,
    sps_store: dict,
):
    """Decode a single-MB I_4x4 slice to PIXELS: mode signalling
    inverted through the SAME 8.3.1.1 inference (a different code
    path from the encoder's forward walk — a mis-inferred
    most-probable mode decodes the wrong mode and shifts pixels),
    coded_block_pattern via Table 9-4, 16 sequential 4x4
    reconstructions in coding order (each block's V/H/DC prediction
    reads ALREADY-RECONSTRUCTED spatial neighbours), chroma DC as in
    the I_16x16 path.  Returns (header, luma, cb, cr, modes,
    total_coeff)."""
    import numpy as np

    hdr = decode_h264_slice_header(
        rbsp, nal_type, nal_ref_idc, pps_store, sps_store
    )
    pps = pps_store[hdr["pps_id"]]
    sps = sps_store[pps["sps_id"]]
    if (sps["mb_width"], sps["mb_height"]) != (1, 1):
        raise ValueError("I_4x4 layer: single-MB pictures only")
    br = _BitReader(rbsp)
    _h264_skip_slice_header(br, nal_type, nal_ref_idc, pps_store, sps_store)
    if _expgolomb_ue(br) != 0:
        raise ValueError("H264: expected I_NxN mb_type")
    modes = [[None] * 4 for _ in range(4)]
    for idx in range(16):
        x4, y4 = _h264_blk_xy(idx)
        pred = _h264_i4x4_pred_mode(modes, x4, y4)
        if br.bits(1):
            modes[y4][x4] = pred
        else:
            rem = br.bits(3)
            modes[y4][x4] = rem if rem < pred else rem + 1

    if _expgolomb_ue(br) != 0:
        raise ValueError("H264: only chroma DC prediction implemented")
    cbp = H264_CBP_INTRA[_expgolomb_ue(br)]
    cbp_luma, cbp_chroma = cbp & 15, cbp >> 4
    if cbp_chroma == 2:
        raise ValueError("H264: chroma AC not wired for I_4x4")
    qp = hdr["slice_qp"] + _expgolomb_se(br)
    qpc = h264_chroma_qp(qp + pps["chroma_qp_index_offset"])
    ls = np.array(
        [[h264_levelscale(qp % 6, i, j) for j in range(4)]
         for i in range(4)], np.int64,
    )
    vshift = qp // 6
    y = np.zeros((16, 16), np.uint8)
    nnz = [[0] * 4 for _ in range(4)]
    total_coeff = 0
    for idx in range(16):
        x4, y4 = _h264_blk_xy(idx)
        if cbp_luma & (1 << (idx >> 2)):
            scan, n = cavlc_decode_block(
                br, _h264_nc(nnz, None, x4, y4, None), 16
            )
            nnz[y4][x4] = n
            total_coeff += n
            flat = np.zeros(16, np.int64)
            flat[list(H264_ZIGZAG_4x4)] = scan
            d = flat.reshape(4, 4) * ls << vshift
        else:
            d = np.zeros((4, 4), np.int64)
        res = _h264_idct4(d)
        # reference-sample construction (8.3.1.2): top-right samples
        # substitute t[3] when the above-right block is not yet
        # decoded (coding order) or off-picture; then the full
        # nine-mode predictor
        if y4 > 0:
            t4 = y[4 * y4 - 1, 4 * x4:4 * x4 + 4].astype(np.int64)
            tr_ok = (
                x4 < 3
                and _H264_I4_CODING[(x4 + 1, y4 - 1)] < idx
            )
            if tr_ok:
                t8 = np.concatenate([
                    t4,
                    y[4 * y4 - 1, 4 * x4 + 4:4 * x4 + 8].astype(np.int64),
                ])
            else:
                t8 = np.concatenate([t4, np.full(4, int(t4[3]), np.int64)])
        else:
            t8 = None
        left = y[4 * y4:4 * y4 + 4, 4 * x4 - 1].astype(np.int64) \
            if x4 > 0 else None
        corner = int(y[4 * y4 - 1, 4 * x4 - 1]) \
            if x4 > 0 and y4 > 0 else None
        pred = _h264_i4x4_predict(modes[y4][x4], t8, left, corner)
        y[4 * y4:4 * y4 + 4, 4 * x4:4 * x4 + 4] = np.clip(
            pred + res, 0, 255
        )
    cb = np.zeros((8, 8), np.uint8)
    cr = np.zeros((8, 8), np.uint8)
    for tgt in (cb, cr):
        if cbp_chroma:
            scan, n = cavlc_decode_block(br, -1, 4)
            total_coeff += n
            dcc = _h264_chroma_dc_dequant(
                np.array(scan, np.int64).reshape(2, 2), qpc
            )
        else:
            dcc = np.zeros((2, 2), np.int64)
        for y2 in range(2):
            for x2 in range(2):
                tgt[4 * y2:4 * y2 + 4, 4 * x2:4 * x2 + 4] = np.clip(
                    128 + ((int(dcc[y2, x2]) + 32) >> 6), 0, 255
                )
    return hdr, y, cb, cr, modes, total_coeff


# ---------------------------------------------------------------------------
# H.264 CABAC entropy layer (ISO/IEC 14496-10 clause 9.3) — the other
# entropy coder under the m39-m44 reconstruction stack (CAVLC's
# declared negative space since r12).
#
# Adjudication, strongest-first (the r10 discipline — normative tables
# are STATED from an extractable source, never derived from memory):
#
# * ENGINE tables: H.264's rangeTabLPS (Table 9-44) and
#   transIdxLPS/transIdxMPS (Tables 9-45/9-46) are byte-identical to
#   HEVC's ivlLpsRange/transIdxLps/transIdxMps (H.265 clause 9.3.4.3);
#   both HEVC codecs in this container carry them in .rodata.
#   rangeTabLPS below was EXTRACTED r13 and cross-validates across
#   FOUR in-binary copies (1x libde265.so.0.1.4 @361696, 3x
#   libx265.so.199) — all 256 bytes identical.  transIdxLPS/MPS were
#   extracted from libde265's adjacent table block (@361536/@361600;
#   single in-binary copy) and are additionally cross-validated
#   BEHAVIORALLY: llm_m48's x265-encode -> libde265-decode lossless
#   roundtrip is bit-exact, which it could not be if de265's state
#   transition tables disagreed with x265's independent
#   implementation.  The extraction is re-run against both binaries
#   in tests/test_h264_cavlc.py.  (Extraction already caught a recall
#   error: transIdxLPS[28..29] is 22,22 — not the 23,22 of memory.)
#
# * CONTEXT-INIT values (Table 9-12): NO H.264 codec ships in this
#   container (probed r13: a full-/usr/lib scan for the (m,n) byte
#   pattern found nothing), so the I-slice init table cannot be
#   extracted, and hand-recalling ~150 signed pairs from memory is
#   exactly the r10 VP8L-distance-table trap.  Only the widely
#   reproduced mb_type block (ctxIdx 3..10) is pinned as Table 9-12
#   data; every other context initialises with the DECLARED
#   NON-NORMATIVE neutral profile (m, n) = (0, 64) (pStateIdx 0,
#   valMPS 1) through the normative 9.3.1.1 init FORMULA.  This
#   affects coding efficiency and conformance-to-external-streams
#   ONLY — encoder and decoder share the init, and the oracle pins
#   decoded pixels against the planted levels, so the roundtrip
#   adjudication is unaffected.  Completing Table 9-12 is declared
#   negative space until an extractable source lands (same honest
#   deferral as the MP3 B.7 Huffman tables).
# ---------------------------------------------------------------------------

# Extracted from libde265.so.0.1.4/.rodata@361696 == 3 copies in
# libx265.so.199 (see block comment; re-extracted in tests).
H264_RANGE_TAB_LPS = (
    (128, 176, 208, 240), (128, 167, 197, 227), (128, 158, 187, 216),
    (123, 150, 178, 205), (116, 142, 169, 195), (111, 135, 160, 185),
    (105, 128, 152, 175), (100, 122, 144, 166), (95, 116, 137, 158),
    (90, 110, 130, 150), (85, 104, 123, 142), (81, 99, 117, 135),
    (77, 94, 111, 128), (73, 89, 105, 122), (69, 85, 100, 116),
    (66, 80, 95, 110), (62, 76, 90, 104), (59, 72, 86, 99),
    (56, 69, 81, 94), (53, 65, 77, 89), (51, 62, 73, 85),
    (48, 59, 69, 80), (46, 56, 66, 76), (43, 53, 63, 72),
    (41, 50, 59, 69), (39, 48, 56, 65), (37, 45, 54, 62),
    (35, 43, 51, 59), (33, 41, 48, 56), (32, 39, 46, 53),
    (30, 37, 43, 50), (29, 35, 41, 48), (27, 33, 39, 45),
    (26, 31, 37, 43), (24, 30, 35, 41), (23, 28, 33, 39),
    (22, 27, 32, 37), (21, 26, 30, 35), (20, 24, 29, 33),
    (19, 23, 27, 31), (18, 22, 26, 30), (17, 21, 25, 28),
    (16, 20, 23, 27), (15, 19, 22, 25), (14, 18, 21, 24),
    (14, 17, 20, 23), (13, 16, 19, 22), (12, 15, 18, 21),
    (12, 14, 17, 20), (11, 14, 16, 19), (11, 13, 15, 18),
    (10, 12, 15, 17), (10, 12, 14, 16), (9, 11, 13, 15),
    (9, 11, 12, 14), (8, 10, 12, 14), (8, 9, 11, 13),
    (7, 9, 11, 12), (7, 9, 10, 12), (7, 8, 10, 11),
    (6, 8, 9, 11), (6, 7, 9, 10), (6, 7, 8, 9), (2, 2, 2, 2),
)

# Extracted from libde265.so.0.1.4/.rodata@361536 (transIdxLPS) and
# @361600 (transIdxMPS), adjacent to the rangeTab block.
H264_TRANS_IDX_LPS = (
    0, 0, 1, 2, 2, 4, 4, 5, 6, 7, 8, 9, 9, 11, 11, 12, 13, 13, 15,
    15, 16, 16, 18, 18, 19, 19, 21, 21, 22, 22, 23, 24, 24, 25, 26,
    26, 27, 27, 28, 29, 29, 30, 30, 30, 31, 32, 32, 33, 33, 33, 34,
    34, 35, 35, 35, 36, 36, 36, 37, 37, 37, 38, 38, 63,
)
H264_TRANS_IDX_MPS = tuple(list(range(1, 63)) + [62, 63])

# Flattened (s << 2) | qRangeIdx view of the LPS table — DERIVED from
# the extracted table above (never retyped), for the decoder's
# single-lookup hot path.
_RANGE_LPS_FLAT = tuple(v for row in H264_RANGE_TAB_LPS for v in row)

# Table 9-12 mb_type(I) block, ctxIdx 3..10 (dual-recall pin — see
# block comment); all other contexts take _CABAC_INIT_DEFAULT.
H264_CABAC_INIT_I = {
    3: (20, -15), 4: (2, 54), 5: (3, 74), 6: (-28, 127),
    7: (-23, 104), 8: (-6, 53), 9: (-1, 54), 10: (7, 51),
}
_CABAC_INIT_DEFAULT = (0, 64)  # DECLARED non-normative neutral init


def _clip3(lo: int, hi: int, v: int) -> int:
    return lo if v < lo else hi if v > hi else v


def cabac_init_state(ctx: int, qp: int) -> list:
    """9.3.1.1 context-variable init: [pStateIdx, valMPS] at SliceQPy
    from the (m, n) pair (Table 9-12 where pinned, the declared
    neutral profile otherwise)."""
    m, n = H264_CABAC_INIT_I.get(ctx, _CABAC_INIT_DEFAULT)
    pre = _clip3(1, 126, ((m * _clip3(0, 51, qp)) >> 4) + n)
    if pre <= 63:
        return [63 - pre, 0]
    return [pre - 64, 1]


class _CabacEncoder:
    """9.3.4 arithmetic encoder writing MSB-first into a _BitWriter.
    The first PutBit output is discarded (firstBitFlag)."""

    def __init__(self, bw: "_BitWriter") -> None:
        self.bw = bw
        self.low = 0
        self.range = 510
        self.outstanding = 0
        self.first = True

    def _putbit(self, b: int) -> None:
        if self.first:
            self.first = False
        else:
            self.bw.put(b, 1)
        while self.outstanding:
            self.bw.put(1 - b, 1)
            self.outstanding -= 1

    def _renorm(self) -> None:
        while self.range < 256:
            if self.low >= 512:
                self._putbit(1)
                self.low -= 512
            elif self.low < 256:
                self._putbit(0)
            else:
                self.outstanding += 1
                self.low -= 256
            self.range <<= 1
            self.low <<= 1

    def decision(self, state: list, binval: int) -> None:
        s, mps = state
        lps = H264_RANGE_TAB_LPS[s][(self.range >> 6) & 3]
        self.range -= lps
        if binval != mps:
            self.low += self.range
            self.range = lps
            if s == 0:
                state[1] = 1 - mps
            state[0] = H264_TRANS_IDX_LPS[s]
        else:
            state[0] = H264_TRANS_IDX_MPS[s]
        self._renorm()

    def bypass(self, binval: int) -> None:
        self.low <<= 1
        if binval:
            self.low += self.range
        if self.low >= 1024:
            self._putbit(1)
            self.low -= 1024
        elif self.low < 512:
            self._putbit(0)
        else:
            self.outstanding += 1
            self.low -= 512

    def terminate(self, binval: int) -> None:
        self.range -= 2
        if binval:
            self.low += self.range
            self.flush()
        else:
            self._renorm()

    def flush(self) -> None:
        """9.3.4.6: the trailing |1 IS the rbsp_stop_one_bit."""
        self.range = 2
        self._renorm()
        self._putbit((self.low >> 9) & 1)
        self.bw.put(((self.low >> 7) & 3) | 1, 2)
        self.bw.align()


class _CabacDecoder:
    """9.3.3.2 arithmetic decoder over a byte-aligned _BitReader.

    Restructured for speed, bit-identically (fuzz-verified against
    the per-bit reference form over random streams: same outputs AND
    same (range, offset, bitpos) trajectory): renorm fetches all
    needed bits in one read (range >= 2 bounds the shift at 7, so
    ``9 - range.bit_length()`` is exactly the spec's
    while-range<256 loop), ``bypass`` reads one byte-indexed bit,
    and the batched helpers ``bypass_bits`` / ``bypass_unary``
    collapse the per-bin call overhead of multi-bin bypass runs
    (UEG/EGk suffixes, sign runs, TR prefixes) — this engine was the
    top profile leaf of every from-spec H.264/HEVC decode query
    (optimization guide §1.2 step 2 / §4.2: make the per-task inner
    loop cheap once the distributed shape is right)."""

    __slots__ = ("br", "range", "offset")

    def __init__(self, br: "_BitReader") -> None:
        self.br = br
        self.range = 510
        self.offset = br.bits(9)

    def decision(self, state: list) -> int:
        s, mps = state
        r = self.range
        lps = _RANGE_LPS_FLAT[(s << 2) | ((r >> 6) & 3)]
        r -= lps
        off = self.offset
        if off >= r:
            binval = 1 - mps
            off -= r
            r = lps
            if s == 0:
                state[1] = binval
            state[0] = H264_TRANS_IDX_LPS[s]
        else:
            binval = mps
            state[0] = H264_TRANS_IDX_MPS[s]
        if r < 256:
            sh = 9 - r.bit_length()
            br = self.br
            pos = br.bitpos
            end = pos + sh
            byte_end = (end + 7) >> 3
            data = br.data
            if byte_end > len(data):
                raise ValueError("truncated CABAC stream")
            word = int.from_bytes(data[pos >> 3:byte_end], "big")
            off = (off << sh) | (
                (word >> ((byte_end << 3) - end)) & ((1 << sh) - 1)
            )
            br.bitpos = end
            r <<= sh
        self.range = r
        self.offset = off
        return binval

    def bypass(self) -> int:
        br = self.br
        pos = br.bitpos
        bit = (br.data[pos >> 3] >> (7 - (pos & 7))) & 1
        br.bitpos = pos + 1
        off = (self.offset << 1) | bit
        if off >= self.range:
            self.offset = off - self.range
            return 1
        self.offset = off
        return 0

    def bypass_bits(self, n: int) -> int:
        """n bypass bins in one stream fetch, MSB-first packed into
        an int — bin-for-bin identical to n ``bypass()`` calls (only
        the low n bits of the fetched word are consumed, so the
        1-/2-byte fast paths need no masking)."""
        if n == 0:
            return 0
        br = self.br
        pos = br.bitpos
        end = pos + n
        byte_start = pos >> 3
        byte_end = (end + 7) >> 3
        data = br.data
        if byte_end > len(data):
            raise ValueError("truncated CABAC stream")
        nb = byte_end - byte_start
        sh = (byte_end << 3) - end
        if nb == 1:
            word = data[byte_start] >> sh
        elif nb == 2:
            word = ((data[byte_start] << 8) | data[byte_start + 1]) >> sh
        else:
            word = int.from_bytes(data[byte_start:byte_end], "big") >> sh
        br.bitpos = end
        r = self.range
        off = self.offset
        val = 0
        for i in range(n - 1, -1, -1):
            off = (off << 1) | ((word >> i) & 1)
            if off >= r:
                off -= r
                val = (val << 1) | 1
            else:
                val <<= 1
        self.offset = off
        return val

    def remaining(self, rice: int) -> int:
        """HEVC 9.3.3.13 coeff_abs_level_remaining, fused: TR-prefix
        unary (limit 31) then the rice / Exp-Golomb-escape suffix in
        one call — bin-identical to bypass_unary(31) + bypass_bits."""
        br = self.br
        data = br.data
        nbytes = len(data)
        r = self.range
        off = self.offset
        pos = br.bitpos
        prefix = 0
        while True:
            bi = pos >> 3
            if bi >= nbytes:
                raise ValueError("truncated CABAC stream")
            off = (off << 1) | ((data[bi] >> (7 - (pos & 7))) & 1)
            pos += 1
            if off >= r:
                off -= r
                prefix += 1
                if prefix > 31:
                    br.bitpos = pos
                    self.offset = off
                    raise ValueError("runaway bypass unary")
            else:
                break
        n = rice if prefix < 3 else prefix - 3 + rice
        if n:
            end = pos + n
            byte_start = pos >> 3
            byte_end = (end + 7) >> 3
            if byte_end > nbytes:
                raise ValueError("truncated CABAC stream")
            sh = (byte_end << 3) - end
            if byte_end - byte_start == 1:
                word = data[byte_start] >> sh
            elif byte_end - byte_start == 2:
                word = (
                    (data[byte_start] << 8) | data[byte_start + 1]
                ) >> sh
            else:
                word = int.from_bytes(
                    data[byte_start:byte_end], "big"
                ) >> sh
            pos = end
            suffix = 0
            for i in range(n - 1, -1, -1):
                off = (off << 1) | ((word >> i) & 1)
                if off >= r:
                    off -= r
                    suffix = (suffix << 1) | 1
                else:
                    suffix <<= 1
        else:
            suffix = 0
        br.bitpos = pos
        self.offset = off
        if prefix < 3:
            return (prefix << rice) + suffix
        return (((1 << (prefix - 3)) + 2) << rice) + suffix

    def bypass_unary(self, limit: int) -> int:
        """Count of consecutive 1 bypass bins before the terminating
        0 bin (the TR/EGk prefix shape ``while dec.bypass(): q += 1``
        with a runaway guard at ``q > limit``)."""
        br = self.br
        data = br.data
        nbytes = len(data)
        r = self.range
        off = self.offset
        pos = br.bitpos
        q = 0
        while True:
            bi = pos >> 3
            if bi >= nbytes:
                raise ValueError("truncated CABAC stream")
            off = (off << 1) | ((data[bi] >> (7 - (pos & 7))) & 1)
            pos += 1
            if off >= r:
                off -= r
                q += 1
                if q > limit:
                    br.bitpos = pos
                    self.offset = off
                    raise ValueError("runaway bypass unary")
            else:
                br.bitpos = pos
                self.offset = off
                return q

    def terminate(self) -> int:
        r = self.range - 2
        off = self.offset
        if off >= r:
            self.range = r
            return 1
        if r < 256:
            sh = 9 - r.bit_length()
            br = self.br
            pos = br.bitpos
            end = pos + sh
            byte_end = (end + 7) >> 3
            data = br.data
            if byte_end > len(data):
                raise ValueError("truncated CABAC stream")
            word = int.from_bytes(data[pos >> 3:byte_end], "big")
            off = (off << sh) | (
                (word >> ((byte_end << 3) - end)) & ((1 << sh) - 1)
            )
            br.bitpos = end
            r <<= sh
            self.offset = off
        self.range = r
        return 0


# Table 9-40 ctxBlockCatOffsets for the categories this layer codes
# (0 = Intra16x16DCLevel, 1 = Intra16x16ACLevel, 3 = ChromaDCLevel).
_CABAC_SIG_CAT_OFF = {0: 0, 1: 15, 3: 44}
_CABAC_ABS_CAT_OFF = {0: 0, 1: 10, 3: 30}
_CABAC_CTX_SIG = 105
_CABAC_CTX_LAST = 166
_CABAC_CTX_ABS = 227
_CABAC_CTX_CBF = 85
_CABAC_CTX_MB_TYPE = 3
_CABAC_CTX_QP_DELTA = 60
_CABAC_CTX_CHROMA_PRED = 64


def _cabac_states(qp: int) -> dict:
    """Fresh per-slice context-variable store, lazily initialised."""
    states: dict[int, list] = {}

    def get(ctx: int) -> list:
        st = states.get(ctx)
        if st is None:
            st = states[ctx] = cabac_init_state(ctx, qp)
        return st

    return get


def _cabac_encode_block(enc, get, levels, cat: int, cbf_inc: int) -> int:
    """residual_block_cabac (7.3.5.3.3) for one scan-ordered level
    list: coded_block_flag, significance/last maps, then levels in
    REVERSE scan order (UEG0 escape at prefix 14, bypass signs).
    Returns the coded_block_flag for the caller's neighbour store."""
    n = len(levels)
    nz = [i for i, v in enumerate(levels) if v != 0]
    cbf = 1 if nz else 0
    enc.decision(get(_CABAC_CTX_CBF + 4 * cat + cbf_inc), cbf)
    if not cbf:
        return 0
    last_i = nz[-1]
    sig_base = _CABAC_CTX_SIG + _CABAC_SIG_CAT_OFF[cat]
    last_base = _CABAC_CTX_LAST + _CABAC_SIG_CAT_OFF[cat]
    for i in range(min(last_i + 1, n - 1)):
        sig = 1 if levels[i] != 0 else 0
        enc.decision(get(sig_base + i), sig)
        if sig:
            enc.decision(get(last_base + i), 1 if i == last_i else 0)
    abs_base = _CABAC_CTX_ABS + _CABAC_ABS_CAT_OFF[cat]
    gt1 = eq1 = 0
    for i in reversed(nz):
        v = abs(levels[i]) - 1
        ctx0 = abs_base + (0 if gt1 else min(4, 1 + eq1))
        ctxn = abs_base + 5 + min(4 - (1 if cat == 3 else 0), gt1)
        if v < 14:
            for k in range(v):
                enc.decision(get(ctx0 if k == 0 else ctxn), 1)
            enc.decision(get(ctx0 if v == 0 else ctxn), 0)
        else:
            for k in range(14):
                enc.decision(get(ctx0 if k == 0 else ctxn), 1)
            suf = v - 14
            k = 0
            while suf >= (1 << k):
                enc.bypass(1)
                suf -= 1 << k
                k += 1
            enc.bypass(0)
            while k:
                k -= 1
                enc.bypass((suf >> k) & 1)
        enc.bypass(1 if levels[i] < 0 else 0)
        if abs(levels[i]) > 1:
            gt1 += 1
        else:
            eq1 += 1
    return 1


def _cabac_decode_block(dec, get, n: int, cat: int, cbf_inc: int):
    """Inverse of _cabac_encode_block: returns (levels, cbf)."""
    cbf = dec.decision(get(_CABAC_CTX_CBF + 4 * cat + cbf_inc))
    levels = [0] * n
    if not cbf:
        return levels, 0
    sig_base = _CABAC_CTX_SIG + _CABAC_SIG_CAT_OFF[cat]
    last_base = _CABAC_CTX_LAST + _CABAC_SIG_CAT_OFF[cat]
    sig = [0] * n
    last_i = n - 1  # implicit when no last flag fires
    for i in range(n - 1):
        if dec.decision(get(sig_base + i)):
            sig[i] = 1
            if dec.decision(get(last_base + i)):
                last_i = i
                break
    else:
        sig[n - 1] = 1
    if last_i == n - 1 and not sig[n - 1]:
        sig[n - 1] = 1
    abs_base = _CABAC_CTX_ABS + _CABAC_ABS_CAT_OFF[cat]
    gt1 = eq1 = 0
    for i in range(last_i, -1, -1):
        if not sig[i]:
            continue
        ctx0 = abs_base + (0 if gt1 else min(4, 1 + eq1))
        ctxn = abs_base + 5 + min(4 - (1 if cat == 3 else 0), gt1)
        v = 0
        while v < 14 and dec.decision(get(ctx0 if v == 0 else ctxn)):
            v += 1
        if v == 14:
            # UEG0 escape: q-bin unary prefix (suf = 2^q - 1) then q
            # suffix bins — batched, bin-identical to the per-bin loop.
            try:
                k = dec.bypass_unary(24)
            except ValueError as e:
                if "runaway bypass unary" in str(e):
                    raise ValueError(
                        "H264 CABAC: runaway UEG0 suffix"
                    ) from None
                raise
            v = 14 + ((1 << k) - 1) + dec.bypass_bits(k)
        mag = v + 1
        levels[i] = -mag if dec.bypass() else mag
        if mag > 1:
            gt1 += 1
        else:
            eq1 += 1
    return levels, 1


def encode_h264_i16x16_slice_cabac(
    sps: dict, pps: dict, mbs, frame_num: int = 0, idr_pic_id: int = 0,
) -> bytes:
    """Write an IDR I slice of Intra_16x16 macroblocks with CABAC
    slice data (7.3.4 / 9.3) — the entropy-coded sibling of
    encode_h264_i16x16_slice, same coded-domain MB dicts (``dc``
    (4,4), ``ac`` (4,4,4,4), ``cb_dc``/``cr_dc`` (2,2)), mb_type 19
    only (DC prediction, cbpChroma 1, cbpLuma 15).  The PPS must
    carry entropy_coding_mode_flag = 1; after the Exp-Golomb slice
    header come cabac_alignment_one_bit padding, then the arithmetic
    payload — per MB: mb_type bins (prefix 1, DecodeTerminate-coded
    I_PCM flag 0, cbp/pred-mode suffix), intra_chroma_pred_mode 0,
    mb_qp_delta 0, 19 residual_block_cabac blocks with the 9.3.3.1.1.9
    coded_block_flag neighbour derivation, and end_of_slice_flag —
    flushed per 9.3.4.6 (the |1 is the rbsp stop bit).  See the CABAC
    block comment for the table-adjudication split."""
    if not pps.get("entropy_coding_mode"):
        raise ValueError("H264 CABAC: PPS must set entropy_coding_mode")
    mb_w, mb_h = sps["mb_width"], sps["mb_height"]
    if len(mbs) != mb_w * mb_h:
        raise ValueError("one MB dict per SPS grid cell, raster order")
    qp = pps["pic_init_qp"]
    bw = _ExpGolombWriter()
    _h264_put_slice_header(
        bw, sps, pps, 7, 0, frame_num, 0,
        idr_pic_id=idr_pic_id, poc_lsb=0, nal_ref_idc=3,
    )
    while bw.nbits:  # cabac_alignment_one_bit
        bw.put(1, 1)
    enc = _CabacEncoder(bw)
    get = _cabac_states(qp)
    dc_cbf: dict[tuple[int, int], int] = {}
    ac_cbf: dict[tuple[int, int], list] = {}
    cdc_cbf: dict[tuple[int, int, int], int] = {}
    n_mb = mb_w * mb_h
    for addr in range(n_mb):
        mx, my = addr % mb_w, addr // mb_w
        mb = mbs[addr]
        if "cb_ac" in mb or int(mb.get("pred_mode", 2)) != 2:
            raise ValueError(
                "H264 CABAC: only mb_type 19 (DC pred, cbpChroma 1)"
                " slice data is emitted"
            )
        # mb_type 19 bins: 1 (not I_NxN), terminate 0 (not I_PCM),
        # cbpLuma15 1, cbpChroma!=0 1, cbpChroma==2 0, predMode 10.
        # Suffix ctxIdxInc per Table 9-39 + 9.3.3.1.2: binIdx 2,3 ->
        # 3,4 fixed; binIdx 4 -> (b3!=0)?5:6; binIdx 5 -> (b3!=0)?6:7;
        # binIdx 6 -> 7 — so with cbpChroma!=0 the two pred-mode bins
        # take incs 6 then 7 (r13 ADVICE fix: the second bin was 6).
        inc = (1 if mx > 0 else 0) + (1 if my > 0 else 0)
        enc.decision(get(_CABAC_CTX_MB_TYPE + inc), 1)
        enc.terminate(0)
        enc.decision(get(_CABAC_CTX_MB_TYPE + 3), 1)
        enc.decision(get(_CABAC_CTX_MB_TYPE + 4), 1)
        enc.decision(get(_CABAC_CTX_MB_TYPE + 5), 0)
        enc.decision(get(_CABAC_CTX_MB_TYPE + 6), 1)
        enc.decision(get(_CABAC_CTX_MB_TYPE + 7), 0)
        enc.decision(get(_CABAC_CTX_CHROMA_PRED), 0)  # DC chroma pred
        enc.decision(get(_CABAC_CTX_QP_DELTA), 0)     # mb_qp_delta 0
        # Intra16x16DCLevel (cat 0): neighbours are the MB-level DC
        # blocks; unavailable neighbour of an intra MB counts 1
        ca = dc_cbf.get((mx - 1, my), 1)
        cb_ = dc_cbf.get((mx, my - 1), 1)
        dc_scan = [int(mb["dc"].flat[z]) for z in H264_ZIGZAG_4x4]
        dc_cbf[(mx, my)] = _cabac_encode_block(
            enc, get, dc_scan, 0, ca + 2 * cb_
        )
        # 16 Intra16x16ACLevel blocks (cat 1), 7.3.5.3 block order
        grid = [[0] * 4 for _ in range(4)]
        ac_cbf[(mx, my)] = grid
        for idx in range(16):
            x4, y4 = _h264_blk_xy(idx)
            if x4 > 0:
                la = grid[y4][x4 - 1]
            else:
                left = ac_cbf.get((mx - 1, my))
                la = left[y4][3] if left is not None else 1
            if y4 > 0:
                ta = grid[y4 - 1][x4]
            else:
                top = ac_cbf.get((mx, my - 1))
                ta = top[3][x4] if top is not None else 1
            blk = mb["ac"][y4][x4]
            if blk.flat[0] != 0:
                raise ValueError("AC block position (0,0) must be 0")
            scan = [int(blk.flat[z]) for z in H264_ZIGZAG_4x4[1:]]
            grid[y4][x4] = _cabac_encode_block(
                enc, get, scan, 1, la + 2 * ta
            )
        # ChromaDCLevel Cb then Cr (cat 3)
        for pi, key in ((0, "cb_dc"), (1, "cr_dc")):
            ca = cdc_cbf.get((pi, mx - 1, my), 1)
            cb_ = cdc_cbf.get((pi, mx, my - 1), 1)
            levels = [int(v) for v in mb[key].flat]
            cdc_cbf[(pi, mx, my)] = _cabac_encode_block(
                enc, get, levels, 3, ca + 2 * cb_
            )
        enc.terminate(1 if addr == n_mb - 1 else 0)
    return bytes(bw.out)


def decode_h264_i16x16_slice_cabac(
    rbsp: bytes, nal_type: int, nal_ref_idc: int, pps_store: dict,
    sps_store: dict,
):
    """Decode a CABAC Intra_16x16 slice to PIXELS: slice header,
    cabac_alignment_one_bit verification, then the 9.3.3 arithmetic
    walk recovering every planted level — and the reconstruction is
    the ALREADY-VERIFIED CAVLC path (the decoded coded-domain levels
    are transcoded through encode/decode_h264_i16x16_slice, m39's
    machinery), so exactly the entropy layer is new here.  Returns
    (header, luma, cb, cr, total_coeff) like the CAVLC decoder.
    Non-mb_type-19 slice data and I_NxN/I_PCM escapes fail loudly."""
    import numpy as np

    hdr = decode_h264_slice_header(
        rbsp, nal_type, nal_ref_idc, pps_store, sps_store
    )
    pps = pps_store[hdr["pps_id"]]
    if not pps.get("entropy_coding_mode"):
        raise ValueError("H264 CABAC: slice PPS is CAVLC-coded")
    sps = sps_store[pps["sps_id"]]
    mb_w, mb_h = sps["mb_width"], sps["mb_height"]
    qp = hdr["slice_qp"]
    br = _BitReader(rbsp)
    _h264_skip_slice_header(br, nal_type, nal_ref_idc, pps_store, sps_store)
    while br.bitpos % 8:
        if br.bits(1) != 1:
            raise ValueError("H264 CABAC: cabac_alignment_one_bit is 0")
    dec = _CabacDecoder(br)
    get = _cabac_states(qp)
    dc_cbf: dict[tuple[int, int], int] = {}
    ac_cbf: dict[tuple[int, int], list] = {}
    cdc_cbf: dict[tuple[int, int, int], int] = {}
    n_mb = mb_w * mb_h
    mbs = []
    for addr in range(n_mb):
        mx, my = addr % mb_w, addr // mb_w
        inc = (1 if mx > 0 else 0) + (1 if my > 0 else 0)
        if dec.decision(get(_CABAC_CTX_MB_TYPE + inc)) == 0:
            raise ValueError("H264 CABAC: I_NxN slice data not supported")
        if dec.terminate():
            raise ValueError("H264 CABAC: I_PCM escape not supported")
        cbp_l = dec.decision(get(_CABAC_CTX_MB_TYPE + 3))
        cbp_c = dec.decision(get(_CABAC_CTX_MB_TYPE + 4))
        if cbp_c:
            cbp_c += dec.decision(get(_CABAC_CTX_MB_TYPE + 5))
        pm = 2 * dec.decision(get(_CABAC_CTX_MB_TYPE + 6))
        pm += dec.decision(get(_CABAC_CTX_MB_TYPE + 7))
        if (cbp_l, cbp_c, pm) != (1, 1, 2):
            raise ValueError(
                f"H264 CABAC: unsupported mb_type "
                f"{1 + pm + 4 * cbp_c + 12 * cbp_l}"
            )
        if dec.decision(get(_CABAC_CTX_CHROMA_PRED)) != 0:
            raise ValueError("H264 CABAC: only DC chroma prediction")
        if dec.decision(get(_CABAC_CTX_QP_DELTA)) != 0:
            raise ValueError("H264 CABAC: nonzero mb_qp_delta")
        ca = dc_cbf.get((mx - 1, my), 1)
        cb_ = dc_cbf.get((mx, my - 1), 1)
        dc_scan, f = _cabac_decode_block(dec, get, 16, 0, ca + 2 * cb_)
        dc_cbf[(mx, my)] = f
        dc = np.zeros(16, np.int64)
        for k, z in enumerate(H264_ZIGZAG_4x4):
            dc[z] = dc_scan[k]
        grid = [[0] * 4 for _ in range(4)]
        ac_cbf[(mx, my)] = grid
        ac = np.zeros((4, 4, 4, 4), np.int64)
        for idx in range(16):
            x4, y4 = _h264_blk_xy(idx)
            if x4 > 0:
                la = grid[y4][x4 - 1]
            else:
                left = ac_cbf.get((mx - 1, my))
                la = left[y4][3] if left is not None else 1
            if y4 > 0:
                ta = grid[y4 - 1][x4]
            else:
                top = ac_cbf.get((mx, my - 1))
                ta = top[3][x4] if top is not None else 1
            scan, f = _cabac_decode_block(dec, get, 15, 1, la + 2 * ta)
            grid[y4][x4] = f
            flat = np.zeros(16, np.int64)
            for j, z in enumerate(H264_ZIGZAG_4x4[1:]):
                flat[z] = scan[j]
            ac[y4][x4] = flat.reshape(4, 4)
        mbd = {"dc": dc.reshape(4, 4), "ac": ac}
        for pi, key in ((0, "cb_dc"), (1, "cr_dc")):
            ca = cdc_cbf.get((pi, mx - 1, my), 1)
            cb_ = cdc_cbf.get((pi, mx, my - 1), 1)
            levels, f = _cabac_decode_block(dec, get, 4, 3, ca + 2 * cb_)
            cdc_cbf[(pi, mx, my)] = f
            mbd[key] = np.array(levels, np.int64).reshape(2, 2)
        mbs.append(mbd)
        eos = dec.terminate()
        if eos != (1 if addr == n_mb - 1 else 0):
            raise ValueError(
                f"H264 CABAC: end_of_slice_flag {eos} at MB {addr}"
            )
    # transcode the recovered coded-domain levels through the
    # verified CAVLC encode/decode pair (m39's reconstruction)
    cavlc_pps = dict(pps)
    cavlc_pps["entropy_coding_mode"] = 0
    sl = encode_h264_i16x16_slice(
        sps, cavlc_pps, mbs,
        frame_num=hdr["frame_num"], idr_pic_id=hdr.get("idr_pic_id", 0),
    )
    return decode_h264_i16x16_slice(
        sl, 5, 3, {cavlc_pps["pps_id"]: cavlc_pps}, sps_store
    )


# ---------------------------------------------------------------------------
# H.264 inter prediction — P slices (clause 8.4), r12 VERDICT #3: the
# first INTER path under the intra stack.  Fixture shape: frame 0 is
# an IDR Intra_16x16 picture (the verified m39 machinery), frame 1 a
# P slice of P_L0_16x16 macroblocks with planted quarter-pel motion
# vectors and zero residual (coded_block_pattern 0), so frame 1 IS
# the 8.4.2.2 interpolation of frame 0 — 6-tap half-pel luma
# (1,-5,20,20,-5,1), quarter-pel averaging per the Fig 8-4 position
# grid, 1/8-pel bilinear chroma — all integer-exact and restated in
# generated SQL by the m46 oracle.  Declared negative space: B
# slices, deblocking, multi-reference lists, sub-16x16 partitions.
# ---------------------------------------------------------------------------

_H264_MC_TAPS = (1, -5, 20, 20, -5, 1)


def h264_mc_luma(ref, oy0: int, ox0: int, bh: int, bw_: int,
                 mvx: int, mvy: int):
    """8.4.2.2.1 luma sample interpolation for one block: returns the
    (bh, bw_) prediction from full-pel ``ref`` at quarter-pel MV
    (mvx, mvy), with picture-edge CLAMPED reads (the spec's sample
    substitution)."""
    import numpy as np

    H, W = ref.shape
    xf, yf = mvx & 3, mvy & 3
    xi, yi = mvx >> 2, mvy >> 2
    # clamped gather window: rows/cols -2..+3 around the (bh+1,bw_+1)
    # integer grid (the +1 row/col feeds H/M/m/s neighbours)
    ys = np.clip(np.arange(oy0 + yi - 2, oy0 + yi + bh + 4), 0, H - 1)
    xs = np.clip(np.arange(ox0 + xi - 2, ox0 + xi + bw_ + 4), 0, W - 1)
    win = ref[np.ix_(ys, xs)].astype(np.int64)
    t = _H264_MC_TAPS
    g = win[2:3 + bh, 2:3 + bw_]
    b1full = sum(t[k] * win[:, k:k + bw_ + 1] for k in range(6))
    h1 = sum(t[k] * win[k:k + bh + 1, 2:3 + bw_] for k in range(6))
    j1 = sum(t[k] * b1full[k:k + bh + 1, :] for k in range(6))
    b1 = b1full[2:3 + bh, :]
    clip = lambda a: np.clip(a, 0, 255)  # noqa: E731
    b = clip((b1 + 16) >> 5)
    h = clip((h1 + 16) >> 5)
    j = clip((j1 + 512) >> 10)

    def avg(a, c):
        return (a + c + 1) >> 1

    # cropped (bh, bw_) views; the +1 row/col supplies the Fig 8-4
    # neighbours: H = gr (integer right), M = gd (integer below),
    # m = hr (vertical half right), s = bd (horizontal half below)
    g0, b0 = g[:bh, :bw_], b[:bh, :bw_]
    h0, j0 = h[:bh, :bw_], j[:bh, :bw_]
    gr, gd = g[:bh, 1:bw_ + 1], g[1:bh + 1, :bw_]
    hr, bd = h[:bh, 1:bw_ + 1], b[1:bh + 1, :bw_]
    grids = {
        (0, 0): g0, (1, 0): avg(g0, b0), (2, 0): b0, (3, 0): avg(b0, gr),
        (0, 1): avg(g0, h0), (1, 1): avg(b0, h0),
        (2, 1): avg(b0, j0), (3, 1): avg(b0, hr),
        (0, 2): h0, (1, 2): avg(h0, j0), (2, 2): j0, (3, 2): avg(j0, hr),
        (0, 3): avg(gd, h0), (1, 3): avg(h0, bd),
        (2, 3): avg(j0, bd), (3, 3): avg(hr, bd),
    }
    return grids[(xf, yf)]


def h264_mc_chroma(refc, oy0: int, ox0: int, bh: int, bw_: int,
                   mvx: int, mvy: int):
    """8.4.2.2.2 chroma interpolation (4:2:0): eighth-pel bilinear
    over the half-resolution plane, clamped reads."""
    import numpy as np

    H, W = refc.shape
    xf, yf = mvx & 7, mvy & 7
    xi, yi = mvx >> 3, mvy >> 3
    ys = np.clip(np.arange(oy0 + yi, oy0 + yi + bh + 1), 0, H - 1)
    xs = np.clip(np.arange(ox0 + xi, ox0 + xi + bw_ + 1), 0, W - 1)
    win = refc[np.ix_(ys, xs)].astype(np.int64)
    a = win[:bh, :bw_]
    b = win[:bh, 1:]
    c = win[1:, :bw_]
    d = win[1:, 1:]
    return (
        (8 - xf) * (8 - yf) * a + xf * (8 - yf) * b
        + (8 - xf) * yf * c + xf * yf * d + 32
    ) >> 6


def encode_h264_p16x16_slice(
    sps: dict, pps: dict, mvs, frame_num: int = 1,
) -> bytes:
    """Write a non-IDR P slice of P_L0_16x16 macroblocks with zero
    residual (CAVLC: mb_skip_run 0, mb_type 0, mvd_l0 against the
    8.4.1.3 median predictor, coded_block_pattern 0) — one quarter-pel
    (mvx, mvy) per MB in raster order.  With a single reference
    picture (num_ref_idx_l0_active 1) ref_idx_l0 is not coded."""
    mb_w, mb_h = sps["mb_width"], sps["mb_height"]
    if len(mvs) != mb_w * mb_h:
        raise ValueError("one MV per SPS grid cell, raster order")
    if pps.get("entropy_coding_mode"):
        raise ValueError("H264 P slices: CAVLC only (extension point)")
    bw = _ExpGolombWriter()
    _h264_put_slice_header(
        bw, sps, pps, 5, 0, frame_num, 0, idr_pic_id=None,
        poc_lsb=0, nal_ref_idc=0,
    )
    store: dict[tuple[int, int], tuple[int, int]] = {}
    for addr, (mvx, mvy) in enumerate(mvs):
        mx, my = addr % mb_w, addr // mb_w
        px, py = _h264_mvp(store, mx, my, mb_w)
        bw.ue(0)           # mb_skip_run
        bw.ue(0)           # mb_type P_L0_16x16
        bw.se(mvx - px)    # mvd_l0 x
        bw.se(mvy - py)    # mvd_l0 y
        bw.ue(0)           # coded_block_pattern (inter me(v): 0 -> 0)
        store[(mx, my)] = (int(mvx), int(mvy))
    bw.put(1, 1)  # rbsp_stop_one_bit
    bw.align()
    return bytes(bw.out)


def _h264_mvp(store: dict, mx: int, my: int, mb_w: int):
    """8.4.1.3 median MV prediction for 16x16 partitions over
    same-reference neighbours: A = left, B = top, C = top-right
    (D = top-left substitutes when C is off-picture); if B, C (and D)
    are all unavailable and A is available, the predictor is mvA."""
    a = store.get((mx - 1, my))
    b = store.get((mx, my - 1))
    c = store.get((mx + 1, my - 1))
    if c is None:
        c = store.get((mx - 1, my - 1))  # D substitution
    if b is None and c is None:
        if a is None:
            return (0, 0)
        return a
    ax, ay = a or (0, 0)
    bx, by = b or (0, 0)
    cx, cy = c or (0, 0)
    med = lambda p, q, r: sorted((p, q, r))[1]  # noqa: E731
    return med(ax, bx, cx), med(ay, by, cy)


def decode_h264_p16x16_slice(
    rbsp: bytes, nal_ref_idc: int, pps_store: dict, sps_store: dict,
    ref_y, ref_cb, ref_cr,
):
    """Decode a P_L0_16x16 zero-residual slice against decoded
    reference planes: parse the header + per-MB MV walk (rebuilding
    the 8.4.1.3 predictor chain), then motion-compensate every MB
    through the 8.4.2.2 interpolators.  Returns (header, y, cb, cr,
    mvs).  Non-P_L0_16x16 mb_types, skips, and nonzero CBP fail
    loudly (declared extension points)."""
    import numpy as np

    hdr = decode_h264_slice_header(
        rbsp, 1, nal_ref_idc, pps_store, sps_store
    )
    if hdr["slice_type"] != "P":
        raise ValueError(f"H264 MC: not a P slice ({hdr['slice_type']})")
    pps = pps_store[hdr["pps_id"]]
    sps = sps_store[pps["sps_id"]]
    mb_w, mb_h = sps["mb_width"], sps["mb_height"]
    br = _BitReader(rbsp)
    _h264_skip_slice_header(br, 1, nal_ref_idc, pps_store, sps_store)
    y = np.zeros((16 * mb_h, 16 * mb_w), np.uint8)
    cb = np.zeros((8 * mb_h, 8 * mb_w), np.uint8)
    cr = np.zeros((8 * mb_h, 8 * mb_w), np.uint8)
    store: dict[tuple[int, int], tuple[int, int]] = {}
    mvs = []
    for addr in range(mb_w * mb_h):
        mx, my = addr % mb_w, addr // mb_w
        if _expgolomb_ue(br) != 0:
            raise ValueError("H264 MC: mb_skip_run != 0 unsupported")
        if _expgolomb_ue(br) != 0:
            raise ValueError("H264 MC: only P_L0_16x16 supported")
        px, py = _h264_mvp(store, mx, my, mb_w)
        mvx = px + _expgolomb_se(br)
        mvy = py + _expgolomb_se(br)
        if _expgolomb_ue(br) != 0:
            raise ValueError("H264 MC: nonzero CBP unsupported")
        store[(mx, my)] = (mvx, mvy)
        mvs.append((mvx, mvy))
        oy, ox = 16 * my, 16 * mx
        y[oy:oy + 16, ox:ox + 16] = h264_mc_luma(
            ref_y, oy, ox, 16, 16, mvx, mvy
        )
        cy, cx = 8 * my, 8 * mx
        cb[cy:cy + 8, cx:cx + 8] = h264_mc_chroma(
            ref_cb, cy, cx, 8, 8, mvx, mvy
        )
        cr[cy:cy + 8, cx:cx + 8] = h264_mc_chroma(
            ref_cr, cy, cx, 8, 8, mvx, mvy
        )
    return hdr, y, cb, cr, mvs


def encode_h264_b16x16_slice(
    sps: dict, pps: dict, mvs01, frame_num: int = 2,
) -> bytes:
    """Write a non-ref B slice of B_Bi_16x16 macroblocks with zero
    residual (7.3.5/Table 7-14: mb_skip_run 0, mb_type ue(3) =
    B_Bi_16x16, mvd_l0 then mvd_l1 each against its own 8.4.1.3
    median chain, inter-me(v) coded_block_pattern 0).  One
    ((mv0x, mv0y), (mv1x, mv1y)) pair per MB in raster order.  The
    DPB holds a SINGLE reference picture, so per 8.2.4.2.3/8.2.4.2.4
    both default lists are [that picture] (the swap rule needs more
    than one entry) and no ref_idx is coded — bipred averages two
    independent quarter-pel interpolations of frame 0."""
    mb_w, mb_h = sps["mb_width"], sps["mb_height"]
    if len(mvs01) != mb_w * mb_h:
        raise ValueError("one MV pair per SPS grid cell, raster order")
    if pps.get("entropy_coding_mode"):
        raise ValueError("H264 B slices: CAVLC only (extension point)")
    bw = _ExpGolombWriter()
    _h264_put_slice_header(
        bw, sps, pps, 1, 0, frame_num, 0, idr_pic_id=None,
        poc_lsb=0, nal_ref_idc=0,
    )
    stores: list[dict] = [{}, {}]
    for addr, (mv0, mv1) in enumerate(mvs01):
        mx, my = addr % mb_w, addr // mb_w
        bw.ue(0)  # mb_skip_run
        bw.ue(3)  # mb_type B_Bi_16x16
        for lst, (mvx, mvy) in enumerate((mv0, mv1)):
            px, py = _h264_mvp(stores[lst], mx, my, mb_w)
            bw.se(mvx - px)
            bw.se(mvy - py)
            stores[lst][(mx, my)] = (int(mvx), int(mvy))
        bw.ue(0)  # coded_block_pattern (inter me(v): 0 -> 0)
    bw.put(1, 1)  # rbsp_stop_one_bit
    bw.align()
    return bytes(bw.out)


def decode_h264_b16x16_slice(
    rbsp: bytes, nal_ref_idc: int, pps_store: dict, sps_store: dict,
    ref_y, ref_cb, ref_cr,
):
    """Decode a B_Bi_16x16 zero-residual slice against the single
    decoded reference picture (both lists): parse the header + per-MB
    dual-MV walk (independent per-list 8.4.1.3 predictor chains),
    interpolate each list through the verified 8.4.2.2 kernels, and
    combine per 8.4.2.3.2 with weighted_bipred_idc 0 — the default
    bipred AVERAGE (a + b + 1) >> 1, luma and chroma alike.  Returns
    (header, y, cb, cr, mvs0, mvs1).  Non-B_Bi mb_types, skips, and
    nonzero CBP fail loudly (declared extension points: B_Direct
    spatial/temporal prediction, L0/L1-only B MBs, sub-partitions)."""
    import numpy as np

    hdr = decode_h264_slice_header(
        rbsp, 1, nal_ref_idc, pps_store, sps_store
    )
    if hdr["slice_type"] != "B":
        raise ValueError(f"H264 bipred: not a B slice ({hdr['slice_type']})")
    pps = pps_store[hdr["pps_id"]]
    sps = sps_store[pps["sps_id"]]
    mb_w, mb_h = sps["mb_width"], sps["mb_height"]
    br = _BitReader(rbsp)
    _h264_skip_slice_header(br, 1, nal_ref_idc, pps_store, sps_store)
    y = np.zeros((16 * mb_h, 16 * mb_w), np.uint8)
    cb = np.zeros((8 * mb_h, 8 * mb_w), np.uint8)
    cr = np.zeros((8 * mb_h, 8 * mb_w), np.uint8)
    stores: list[dict] = [{}, {}]
    mvs0, mvs1 = [], []
    for addr in range(mb_w * mb_h):
        mx, my = addr % mb_w, addr // mb_w
        if _expgolomb_ue(br) != 0:
            raise ValueError("H264 bipred: mb_skip_run != 0 unsupported")
        if _expgolomb_ue(br) != 3:
            raise ValueError("H264 bipred: only B_Bi_16x16 supported")
        pair = []
        for lst in (0, 1):
            px, py = _h264_mvp(stores[lst], mx, my, mb_w)
            mvx = px + _expgolomb_se(br)
            mvy = py + _expgolomb_se(br)
            stores[lst][(mx, my)] = (mvx, mvy)
            pair.append((mvx, mvy))
        if _expgolomb_ue(br) != 0:
            raise ValueError("H264 bipred: nonzero CBP unsupported")
        mvs0.append(pair[0])
        mvs1.append(pair[1])
        oy, ox = 16 * my, 16 * mx
        p0 = h264_mc_luma(ref_y, oy, ox, 16, 16, *pair[0])
        p1 = h264_mc_luma(ref_y, oy, ox, 16, 16, *pair[1])
        y[oy:oy + 16, ox:ox + 16] = (p0 + p1 + 1) >> 1
        cy, cx = 8 * my, 8 * mx
        for plane, out in ((ref_cb, cb), (ref_cr, cr)):
            c0 = h264_mc_chroma(plane, cy, cx, 8, 8, *pair[0])
            c1 = h264_mc_chroma(plane, cy, cx, 8, 8, *pair[1])
            out[cy:cy + 8, cx:cx + 8] = (c0 + c1 + 1) >> 1
    return hdr, y, cb, cr, mvs0, mvs1


# ---------------------------------------------------------------------------
# HEVC / HEIF structure layer (r13) — the ingest-triage walk for the
# H.265 family, adjudicated against REAL x265 bitstreams (the m48
# fixtures' containers): ISOBMFF box tree -> item properties ->
# HEVCDecoderConfigurationRecord (ISO/IEC 14496-15 8.3.3.1) -> the
# H.265 7.3.2.2.1 SPS bit walk (profile_tier_level, CTU-padded
# picture geometry, chroma format, bit depths).  x265 signals the
# Main Still Picture profile (general_profile_idc 3) at level 8.5
# (general_level_idc 255) and pads pictures to 16-sample multiples
# with a 64-sample minimum — libheif records the TRUE dimensions in
# the ispe item property (and, below 64, adds a cropped derived
# item, which this layer rejects loudly rather than resolving ipma
# chains — the fixture keeps dims >= 64).
# ---------------------------------------------------------------------------


def isobmff_boxes(data: bytes, off: int = 0, end: int | None = None):
    """One level of ISOBMFF (14496-12 4.2) box headers: list of
    (type, payload_start, payload_end); size==1 reads the 64-bit
    largesize, size==0 extends to the enclosing end."""
    end = len(data) if end is None else end
    out = []
    while off + 8 <= end:
        size = int.from_bytes(data[off:off + 4], "big")
        typ = data[off + 4:off + 8].decode("latin1")
        if size == 1:
            size = int.from_bytes(data[off + 8:off + 16], "big")
            hdr = 16
        elif size == 0:
            size = end - off
            hdr = 8
        else:
            hdr = 8
        if size < hdr or off + size > end:
            raise ValueError(f"ISOBMFF: bad box size {size} for {typ!r}")
        out.append((typ, off + hdr, off + size))
        off += size
    return out


_ISOBMFF_FULLBOXES = frozenset({"meta"})


def isobmff_find(data: bytes, path: list[str]):
    """All payload spans reached by descending ``path`` from the top
    level (FullBox version/flags skipped where the container is one)."""
    spans = [(0, len(data))]
    for name in path:
        nxt = []
        for off, end in spans:
            for typ, bo, be in isobmff_boxes(data, off, end):
                if typ == name:
                    skip = 4 if name in _ISOBMFF_FULLBOXES else 0
                    nxt.append((bo + skip, be))
        spans = nxt
    return spans


def heic_resolve_grid(data: bytes) -> dict:
    """Resolve a sub-64 HEIC's DERIVED-ITEM chain from spec (ISO
    23008-12) — the m49 declared extension point, closed by m56:
    pitm -> the primary 'grid' item, ipma -> which ipco properties
    attach to which item (the coded hvc1 item carries hvcC + the
    PADDED ispe; the grid item carries the TRUE ispe), iref 'dimg' ->
    the coded tile, iloc construction_method 1 -> the grid descriptor
    bytes inside idat (6.6.2.2: rows/cols_minus_one + output dims),
    whose output size must equal the grid item's ispe — two
    independent statements of the true dimensions inside one real
    file, with libheif's own decode as the third (checked by the
    operator)."""
    meta = isobmff_find(data, ["meta"])
    if len(meta) != 1:
        raise ValueError("HEIC: expected one meta box")

    def fullbox(name):
        spans = isobmff_find(data, ["meta", name])
        if len(spans) != 1:
            raise ValueError(f"HEIC: {len(spans)} {name} boxes")
        o, e = spans[0]
        return data[o] >> 0, data[o:o + 4], data[o + 4:e]  # v, vflags, body

    _, vf, body = fullbox("pitm")
    if vf[0] != 0:
        raise ValueError("HEIC: pitm version unsupported")
    primary_id = int.from_bytes(body[0:2], "big")

    # iinf -> {item_id: item_type}
    _, vf, body = fullbox("iinf")
    n_items = int.from_bytes(body[0:2], "big") if vf[0] == 0 else None
    if n_items is None:
        raise ValueError("HEIC: iinf version unsupported")
    items: dict[int, str] = {}
    o, e = isobmff_find(data, ["meta", "iinf"])[0]
    for t, bo, be in isobmff_boxes(data, o + 6, e):
        if t != "infe":
            raise ValueError(f"HEIC: unexpected {t} in iinf")
        if data[bo] != 2:
            raise ValueError("HEIC: infe version unsupported")
        iid = int.from_bytes(data[bo + 4:bo + 6], "big")
        items[iid] = data[bo + 8:bo + 12].decode("ascii")
    if len(items) != n_items:
        raise ValueError("HEIC: iinf count mismatch")
    if items.get(primary_id) != "grid":
        raise ValueError(
            f"HEIC: primary item is {items.get(primary_id)}, not grid"
        )

    # iref 'dimg': primary -> coded tiles
    iref_spans = isobmff_find(data, ["meta", "iref"])
    if len(iref_spans) != 1:
        raise ValueError("HEIC: expected one iref")
    o, e = iref_spans[0]
    if data[o] != 0:
        raise ValueError("HEIC: iref version unsupported (32-bit ids)")
    dimg: list[int] = []
    for t, bo, be in isobmff_boxes(data, o + 4, e):
        if t != "dimg":
            raise ValueError(f"HEIC: unexpected reference type {t}")
        frm = int.from_bytes(data[bo:bo + 2], "big")
        cnt = int.from_bytes(data[bo + 2:bo + 4], "big")
        if frm != primary_id:
            raise ValueError("HEIC: dimg not from the primary item")
        dimg = [
            int.from_bytes(data[bo + 4 + 2 * k:bo + 6 + 2 * k], "big")
            for k in range(cnt)
        ]
    if not dimg:
        raise ValueError("HEIC: no dimg reference")

    # ipco ordered property list (1-based indices for ipma)
    o, e = isobmff_find(data, ["meta", "iprp", "ipco"])[0]
    props = [(t, bo, be) for t, bo, be in isobmff_boxes(data, o, e)]

    # ipma -> {item_id: [property indices]}
    spans = isobmff_find(data, ["meta", "iprp", "ipma"])
    if len(spans) != 1:
        raise ValueError("HEIC: expected one ipma")
    o, e = spans[0]
    version, flags = data[o], data[o + 3]
    p = o + 4
    n_entries = int.from_bytes(data[p:p + 4], "big")
    p += 4
    assoc: dict[int, list[int]] = {}
    for _ in range(n_entries):
        if version < 1:
            iid = int.from_bytes(data[p:p + 2], "big")
            p += 2
        else:
            iid = int.from_bytes(data[p:p + 4], "big")
            p += 4
        cnt = data[p]
        p += 1
        idxs = []
        for _ in range(cnt):
            if flags & 1:
                idxs.append(int.from_bytes(data[p:p + 2], "big") & 0x7FFF)
                p += 2
            else:
                idxs.append(data[p] & 0x7F)
                p += 1
        assoc[iid] = idxs

    def ispe_of(iid: int) -> tuple[int, int]:
        for idx in assoc.get(iid, []):
            t, bo, be = props[idx - 1]
            if t == "ispe":
                return (
                    int.from_bytes(data[bo + 4:bo + 8], "big"),
                    int.from_bytes(data[bo + 8:bo + 12], "big"),
                )
        raise ValueError(f"HEIC: item {iid} has no ispe")

    if len(dimg) != 1 or items.get(dimg[0]) != "hvc1":
        raise ValueError("HEIC: expected a single hvc1 tile")
    coded_id = dimg[0]
    if not any(
        props[idx - 1][0] == "hvcC" for idx in assoc.get(coded_id, [])
    ):
        raise ValueError("HEIC: coded item lacks hvcC via ipma")

    # grid descriptor from idat via iloc construction_method 1
    idat_spans = isobmff_find(data, ["meta", "idat"])
    if len(idat_spans) != 1:
        raise ValueError("HEIC: expected one idat")
    io, ie = idat_spans[0]
    spans = isobmff_find(data, ["meta", "iloc"])
    o, e = spans[0]
    version = data[o]
    p = o + 4
    sizes = data[p]
    offset_size, length_size = sizes >> 4, sizes & 15
    sizes2 = data[p + 1]
    base_offset_size = sizes2 >> 4
    index_size = sizes2 & 15 if version in (1, 2) else 0
    p += 2
    item_count = int.from_bytes(data[p:p + 2], "big")
    p += 2
    grid_extent = None
    for _ in range(item_count):
        iid = int.from_bytes(data[p:p + 2], "big")
        p += 2
        method = 0
        if version in (1, 2):
            method = int.from_bytes(data[p:p + 2], "big") & 15
            p += 2
        p += 2  # data_reference_index
        base = int.from_bytes(data[p:p + base_offset_size], "big")
        p += base_offset_size
        n_ext = int.from_bytes(data[p:p + 2], "big")
        p += 2
        for _ in range(n_ext):
            p += index_size
            off = int.from_bytes(data[p:p + offset_size], "big")
            p += offset_size
            ln = int.from_bytes(data[p:p + length_size], "big")
            p += length_size
            if iid == primary_id:
                if method != 1:
                    raise ValueError(
                        "HEIC: grid item not idat-constructed"
                    )
                grid_extent = (base + off, ln)
    if grid_extent is None:
        raise ValueError("HEIC: no iloc extent for the grid item")
    go, gl = grid_extent
    gd = data[io + go:io + go + gl]
    if len(gd) < 8 or gd[0] != 0:
        raise ValueError("HEIC: bad ImageGrid descriptor")
    fl = ((gd[1] & 1) + 1) * 2  # FieldLength bytes
    rows = gd[2] + 1
    cols = gd[3] + 1
    out_w = int.from_bytes(gd[4:4 + fl], "big")
    out_h = int.from_bytes(gd[4 + fl:4 + 2 * fl], "big")
    true_w, true_h = ispe_of(primary_id)
    if (out_w, out_h) != (true_w, true_h):
        raise ValueError(
            f"HEIC: grid output {out_w}x{out_h} != derived ispe "
            f"{true_w}x{true_h}"
        )
    coded_w, coded_h = ispe_of(coded_id)
    return {
        "n_items": n_items,
        "primary_id": primary_id,
        "coded_id": coded_id,
        "grid_rows": rows,
        "grid_cols": cols,
        "width": true_w,
        "height": true_h,
        "coded_w": coded_w,
        "coded_h": coded_h,
    }


def parse_hvcc(cfg: bytes) -> dict:
    """HEVCDecoderConfigurationRecord (14496-15 8.3.3.1): the general
    PTL mirror fields plus the parameter-set NAL arrays."""
    if len(cfg) < 23 or cfg[0] != 1:
        raise ValueError("hvcC: bad configurationVersion")
    out = {
        "profile_space": cfg[1] >> 6,
        "tier": (cfg[1] >> 5) & 1,
        "profile_idc": cfg[1] & 0x1F,
        "level_idc": cfg[12],
        "nal_length_size": (cfg[21] & 3) + 1,
        "param_sets": [],
    }
    p = 23
    for _ in range(cfg[22]):
        nal_type = cfg[p] & 0x3F
        cnt = int.from_bytes(cfg[p + 1:p + 3], "big")
        p += 3
        for _ in range(cnt):
            ln = int.from_bytes(cfg[p:p + 2], "big")
            p += 2
            out["param_sets"].append((nal_type, cfg[p:p + ln]))
            p += ln
    return out


def parse_hevc_sps(nal: bytes) -> dict:
    """H.265 7.3.2.2.1 SPS walk through profile_tier_level (7.3.3)
    and the picture geometry — 2-byte NAL header, then the RBSP
    (H.265 shares H.264's emulation-prevention escape).  Sub-layers,
    chroma_format 3's separate-planes flag, and anything beyond the
    bit depths are out of scope and fail loudly where they would
    change the walked bit positions."""
    if len(nal) < 2 or ((nal[0] >> 1) & 0x3F) != 33:
        raise ValueError("HEVC: not an SPS NAL")
    rbsp = h264_unescape_rbsp(nal[2:])
    br = _BitReader(rbsp)
    out = {"vps_id": br.bits(4)}
    max_sub = br.bits(3)
    br.bits(1)  # sps_temporal_id_nesting_flag
    out["profile_space"] = br.bits(2)
    out["tier"] = br.bits(1)
    out["profile_idc"] = br.bits(5)
    out["compat_flags"] = br.bits(32)
    br.bits(4)   # progressive/interlaced/non_packed/frame_only
    br.bits(32)
    br.bits(11)
    br.bits(1)   # general_reserved_zero_43bits + inbld
    out["level_idc"] = br.bits(8)
    if max_sub:
        raise ValueError("HEVC: sub-layer PTL entries unsupported")
    out["sps_id"] = _expgolomb_ue(br)
    out["chroma_format_idc"] = _expgolomb_ue(br)
    if out["chroma_format_idc"] == 3:
        raise ValueError("HEVC: 4:4:4 separate-planes flag unsupported")
    out["pic_w"] = _expgolomb_ue(br)
    out["pic_h"] = _expgolomb_ue(br)
    if br.bits(1):  # conformance_window_flag
        out["crop_l"] = _expgolomb_ue(br)
        out["crop_r"] = _expgolomb_ue(br)
        out["crop_t"] = _expgolomb_ue(br)
        out["crop_b"] = _expgolomb_ue(br)
    else:
        out["crop_l"] = out["crop_r"] = out["crop_t"] = out["crop_b"] = 0
    out["bit_depth_luma"] = _expgolomb_ue(br) + 8
    out["bit_depth_chroma"] = _expgolomb_ue(br) + 8
    return out


def hevc_heic_structure(data: bytes) -> dict:
    """The m49 walk over one HEIC container: locate hvcC + ispe under
    meta/iprp/ipco, parse the SPS, and return the structure fields.
    A second ispe (libheif's padded-image + crop shape for sub-64
    dimensions) fails loudly — resolving ipma property associations
    is the declared extension point."""
    hvcc_spans = isobmff_find(data, ["meta", "iprp", "ipco", "hvcC"])
    ispe_spans = isobmff_find(data, ["meta", "iprp", "ipco", "ispe"])
    if len(hvcc_spans) != 1:
        raise ValueError(f"HEIC: {len(hvcc_spans)} hvcC boxes")
    if len(ispe_spans) != 1:
        raise ValueError(
            f"HEIC: {len(ispe_spans)} ispe boxes (derived crop items"
            " are the declared extension point)"
        )
    o, e = hvcc_spans[0]
    cfg = parse_hvcc(data[o:e])
    sps_nals = [n for t, n in cfg["param_sets"] if t == 33]
    if len(sps_nals) != 1:
        raise ValueError(f"HEIC: {len(sps_nals)} SPS NALs in hvcC")
    sps = parse_hevc_sps(sps_nals[0])
    if (sps["profile_idc"], sps["level_idc"]) != (
        cfg["profile_idc"], cfg["level_idc"],
    ):
        raise ValueError("HEIC: hvcC PTL mirror disagrees with SPS")
    o, e = ispe_spans[0]
    return {
        "width": int.from_bytes(data[o + 4:o + 8], "big"),
        "height": int.from_bytes(data[o + 8:o + 12], "big"),
        "pic_w": sps["pic_w"],
        "pic_h": sps["pic_h"],
        "profile_idc": sps["profile_idc"],
        "level_idc": sps["level_idc"],
        "chroma_format_idc": sps["chroma_format_idc"],
        "bit_depth": sps["bit_depth_luma"],
        "n_param_sets": len(cfg["param_sets"]),
    }


# ---------------------------------------------------------------------------
# AV1 structure layer (r13) — the OBU walk for the AV1 family over
# REAL libaom bitstreams (the m47 fixtures' AVIF containers): av1C
# (AV1CodecConfigurationBox, AVIF spec 2.2.1) + the low-overhead OBU
# framing (AV1 spec 5.2/5.3: obu_header, leb128 sizes) + the
# reduced-still-picture sequence header (5.5.1) whose
# max_frame_width/height carry the EXACT picture dimensions (no
# padding — AV1 codes arbitrary sizes natively, unlike HEVC's
# CTU-padded SPS + ispe split the m49 walk reconciles).
# ---------------------------------------------------------------------------


def av1_leb128(data: bytes, p: int) -> tuple[int, int]:
    """AV1 4.10.5 leb128: (value, next_offset); >8 bytes fails."""
    v = 0
    for i in range(8):
        if p >= len(data):
            raise ValueError("AV1: truncated leb128")
        b = data[p]
        p += 1
        v |= (b & 0x7F) << (7 * i)
        if not (b & 0x80):
            return v, p
    raise ValueError("AV1: leb128 over 8 bytes")


def av1_obus(data: bytes) -> list:
    """Walk a low-overhead OBU stream: [(obu_type, payload)].
    Extension headers are skipped; size-field-less OBUs (only legal
    for the last OBU of a temporal unit in length-delimited
    containers) fail loudly."""
    p, out = 0, []
    while p < len(data):
        b0 = data[p]
        p += 1
        if b0 & 0x80:
            raise ValueError("AV1: obu_forbidden_bit set")
        typ = (b0 >> 3) & 0xF
        if (b0 >> 2) & 1:  # extension header
            p += 1
        if not ((b0 >> 1) & 1):
            raise ValueError("AV1: OBU without obu_has_size_field")
        sz, p = av1_leb128(data, p)
        if p + sz > len(data):
            raise ValueError("AV1: truncated OBU payload")
        out.append((typ, data[p:p + sz]))
        p += sz
    return out


def parse_av1_sequence_header(payload: bytes) -> dict:
    """AV1 5.5.1 sequence_header_obu — BOTH shapes libaom emits
    in-container: the reduced still-picture header of AVIF stills
    (llm_m50) and, since r14, the FULL non-reduced header of AVIF
    image sequences (llm_m52: avis tracks have still_picture = 0, so
    every operating-point / order-hint / screen-content branch of
    5.5.1 and the full 5.5.2 color_config are on the parse path).
    Decoder-model and frame-id branches raise loudly (libaom never
    emits them for avis; parsing them untested would be the r10
    trap)."""
    br = _BitReader(payload)
    d = {
        "seq_profile": br.bits(3),
        "still_picture": br.bits(1),
        "reduced_header": br.bits(1),
    }
    if d["reduced_header"]:
        d["seq_level_idx"] = br.bits(5)
        d["n_operating_points"] = 1
    else:
        d["timing_info_present"] = br.bits(1)
        if d["timing_info_present"]:
            d["num_units_in_display_tick"] = br.bits(32)
            d["time_scale"] = br.bits(32)
            if br.bits(1):  # equal_picture_interval: uvlc ticks
                lz = 0
                while br.bits(1) == 0:
                    lz += 1
                if lz >= 32:
                    raise ValueError("AV1: uvlc overflow")
                d["ticks_per_picture"] = (
                    (1 << lz) - 1 + (br.bits(lz) if lz else 0)
                )
            if br.bits(1):
                raise ValueError("AV1: decoder_model_info unsupported")
        d["initial_display_delay_present"] = br.bits(1)
        n_ops = br.bits(5) + 1
        d["n_operating_points"] = n_ops
        ops = []
        for _ in range(n_ops):
            idc = br.bits(12)
            lvl = br.bits(5)
            tier = br.bits(1) if lvl > 7 else 0
            if d["initial_display_delay_present"] and br.bits(1):
                br.bits(4)
            ops.append((idc, lvl, tier))
        d["operating_points"] = ops
        d["seq_level_idx"] = ops[0][1]
    wb = br.bits(4) + 1
    hb = br.bits(4) + 1
    d["width"] = br.bits(wb) + 1
    d["height"] = br.bits(hb) + 1
    if not d["reduced_header"]:
        if br.bits(1):
            raise ValueError("AV1: frame_id_numbers unsupported")
    d["use_128x128_superblock"] = br.bits(1)
    d["enable_filter_intra"] = br.bits(1)
    d["enable_intra_edge_filter"] = br.bits(1)
    if not d["reduced_header"]:
        d["enable_interintra_compound"] = br.bits(1)
        d["enable_masked_compound"] = br.bits(1)
        d["enable_warped_motion"] = br.bits(1)
        d["enable_dual_filter"] = br.bits(1)
        d["enable_order_hint"] = br.bits(1)
        if d["enable_order_hint"]:
            d["enable_jnt_comp"] = br.bits(1)
            d["enable_ref_frame_mvs"] = br.bits(1)
        force_sct = 2 if br.bits(1) else br.bits(1)
        d["seq_force_screen_content_tools"] = force_sct
        if force_sct > 0:
            d["seq_force_integer_mv"] = 2 if br.bits(1) else br.bits(1)
        if d["enable_order_hint"]:
            d["order_hint_bits"] = br.bits(3) + 1
    d["enable_superres"] = br.bits(1)
    d["enable_cdef"] = br.bits(1)
    d["enable_restoration"] = br.bits(1)
    # 5.5.2 color_config
    high = br.bits(1)
    if d["seq_profile"] == 2 and high:
        d["bit_depth"] = 12 if br.bits(1) else 10
    else:
        d["bit_depth"] = 10 if high else 8
    d["mono_chrome"] = 0 if d["seq_profile"] == 1 else br.bits(1)
    if br.bits(1):  # color_description_present_flag
        cp, tc, mc = br.bits(8), br.bits(8), br.bits(8)
    else:
        cp, tc, mc = 2, 2, 2  # UNSPECIFIED
    d["matrix_coefficients"] = mc
    if d["mono_chrome"]:
        d["color_range"] = br.bits(1)
        d["subsampling_x"] = d["subsampling_y"] = 1
    elif cp == 1 and tc == 13 and mc == 0:  # BT709 + sRGB + identity
        d["color_range"] = 1
        d["subsampling_x"] = d["subsampling_y"] = 0
        d["separate_uv_delta_q"] = br.bits(1)
        d["film_grain_params_present"] = br.bits(1)
        return d
    else:
        d["color_range"] = br.bits(1)
        if d["seq_profile"] == 0:
            d["subsampling_x"] = d["subsampling_y"] = 1
        elif d["seq_profile"] == 1:
            d["subsampling_x"] = d["subsampling_y"] = 0
        else:
            raise ValueError("AV1: profile 2 subsampling unsupported")
        if d["subsampling_x"] and d["subsampling_y"]:
            d["chroma_sample_position"] = br.bits(2)
    if not d["mono_chrome"]:
        d["separate_uv_delta_q"] = br.bits(1)
    d["film_grain_params_present"] = br.bits(1)
    return d


def av1_avis_structure(data: bytes) -> dict:
    """The m52 walk over one AVIF image SEQUENCE (avis brand): the
    mdat OBU stream must carry exactly one NON-reduced sequence
    header (multi-frame tracks cannot use the still-picture shape),
    and the frame count is stated THREE independent ways inside the
    same real file — OBU_FRAME count, temporal-delimiter count, and
    the track's stsz sample_count — all of which must agree (the
    m50 ispe==sequence-header trick, one level deeper)."""
    if data[4:8] != b"ftyp" or data[8:12] != b"avis":
        raise ValueError("AVIS: not an avis-brand container")
    mdat = [(bo, be) for t, bo, be in isobmff_boxes(data) if t == "mdat"]
    if len(mdat) != 1:
        raise ValueError(f"AVIS: {len(mdat)} mdat boxes")
    seq = None
    n_obus = n_frames = n_tds = 0
    for typ, payload in av1_obus(data[mdat[0][0]:mdat[0][1]]):
        n_obus += 1
        if typ == 1:
            if seq is not None:
                raise ValueError("AVIS: multiple sequence headers")
            seq = parse_av1_sequence_header(payload)
        elif typ == 6:
            n_frames += 1
        elif typ == 2:
            n_tds += 1
        elif typ in (3, 4):
            raise ValueError(
                "AVIS: split FRAME_HEADER/TILE_GROUP OBUs unexpected"
            )
    if seq is None:
        raise ValueError("AVIS: no sequence header OBU")
    if seq["reduced_header"]:
        raise ValueError("AVIS: reduced header in a sequence track")
    stsz = isobmff_find(
        data, ["moov", "trak", "mdia", "minf", "stbl", "stsz"]
    )
    if len(stsz) != 1:
        raise ValueError(f"AVIS: {len(stsz)} stsz boxes")
    o, e = stsz[0]
    n_samples = int.from_bytes(data[o + 8:o + 12], "big")
    if not (n_frames == n_tds == n_samples):
        raise ValueError(
            f"AVIS: frame-count triangulation failed — {n_frames} frame"
            f" OBUs, {n_tds} temporal delimiters, stsz {n_samples}"
        )
    return {**seq, "n_obus": n_obus, "n_frames": n_frames}


def parse_av1_still_frame_header(payload: bytes, seq: dict) -> dict:
    """AV1 5.9.2 uncompressed_header for the reduced-still-picture
    shape (m54): with reduced_still_picture_header = 1 the header
    pins show_existing_frame = 0, frame_type = KEY_FRAME, show_frame
    = 1, so the wire starts at disable_cdf_update and runs through
    the QUANTIZATION layer — base_q_idx (8 bits), the y/u/v DC/AC
    delta_q flags, qmatrix and segmentation flags, delta-q presence —
    exactly the fields ingest triage needs to price a stream.  Fails
    loudly on tools our fixtures never produce (superres scaling,
    render-size override, intrabc, qmatrix, segmentation, non-uniform
    tiles) rather than skipping bits blind."""
    if not seq.get("reduced_header"):
        raise ValueError("AV1: not a reduced still-picture header")
    br = _BitReader(payload)
    d = {"disable_cdf_update": br.bits(1)}
    # reduced header implies seq_force_screen_content_tools == SELECT
    d["allow_screen_content_tools"] = br.bits(1)
    if seq.get("enable_superres") and br.bits(1):
        raise ValueError("AV1: superres unsupported")
    if br.bits(1):  # render_and_frame_size_different
        raise ValueError("AV1: render-size override unsupported")
    if d["allow_screen_content_tools"] and br.bits(1):
        raise ValueError("AV1: intra block copy unsupported")
    if br.bits(1) != 1:  # uniform_tile_spacing_flag
        raise ValueError("AV1: non-uniform tiles unsupported")
    sb = 128 if seq.get("use_128x128_superblock") else 64
    sb_cols = (seq["width"] + sb - 1) // sb
    sb_rows = (seq["height"] + sb - 1) // sb
    if sb_cols > 1 or sb_rows > 1:
        # increment_tile_cols/rows_log2 unary walks exist once the
        # picture exceeds one superblock; fixtures stay <= 64 so the
        # walk is empty — widen when a fixture needs it
        while br.bits(1):
            pass
        while br.bits(1):
            pass
    d["base_q_idx"] = br.bits(8)

    def delta_q() -> int:
        if not br.bits(1):
            return 0
        v = br.bits(7)  # su(1+6): sign-extend 7 bits
        return v - 128 if v >= 64 else v

    d["delta_q_y_dc"] = delta_q()
    if not seq.get("mono_chrome"):
        diff_uv = (
            br.bits(1) if seq.get("separate_uv_delta_q") else 0
        )
        d["delta_q_u_dc"] = delta_q()
        d["delta_q_u_ac"] = delta_q()
        if diff_uv:
            d["delta_q_v_dc"] = delta_q()
            d["delta_q_v_ac"] = delta_q()
        else:
            d["delta_q_v_dc"] = d["delta_q_u_dc"]
            d["delta_q_v_ac"] = d["delta_q_u_ac"]
    if br.bits(1):  # using_qmatrix
        raise ValueError("AV1: qmatrix unsupported")
    d["using_qmatrix"] = 0
    if br.bits(1):  # segmentation_enabled
        raise ValueError("AV1: segmentation unsupported")
    d["segmentation_enabled"] = 0
    if d["base_q_idx"] > 0:
        d["delta_q_present"] = br.bits(1)
        if d["delta_q_present"]:
            br.bits(2)  # delta_q_res
    else:
        d["delta_q_present"] = 0
    d["coded_lossless"] = int(
        d["base_q_idx"] == 0
        and d["delta_q_y_dc"] == 0
        and d.get("delta_q_u_dc", 0) == 0
        and d.get("delta_q_u_ac", 0) == 0
        and d.get("delta_q_v_dc", 0) == 0
        and d.get("delta_q_v_ac", 0) == 0
    )
    return d


def av1_avif_quant_structure(data: bytes) -> dict:
    """m54's walk: the m50 still-AVIF structure walk extended one
    level deeper into the frame OBU — the 5.9.2 uncompressed header's
    quantization layer over a REAL fixed-quantizer libaom stream."""
    st = av1_avif_structure(data)
    mdat = [(bo, be) for t, bo, be in isobmff_boxes(data) if t == "mdat"]
    seq = None
    hdr = None
    for typ, payload in av1_obus(data[mdat[0][0]:mdat[0][1]]):
        if typ == 1:
            seq = parse_av1_sequence_header(payload)
        elif typ == 6:
            if hdr is not None:
                raise ValueError("AVIF: multiple frame OBUs in a still")
            hdr = parse_av1_still_frame_header(payload, seq)
    if hdr is None:
        raise ValueError("AVIF: no frame OBU")
    return {**st, **hdr}


def av1_avif_structure(data: bytes) -> dict:
    """The m50 walk over one AVIF container: av1C + ispe properties,
    then the mdat OBU stream's sequence header — dimensions must
    agree between the OBU layer and the container's ispe (two
    independent statements of the same fact inside one real file)."""
    av1c = isobmff_find(data, ["meta", "iprp", "ipco", "av1C"])
    ispe = isobmff_find(data, ["meta", "iprp", "ipco", "ispe"])
    if len(av1c) != 1 or len(ispe) != 1:
        raise ValueError(
            f"AVIF: {len(av1c)} av1C / {len(ispe)} ispe boxes"
        )
    o, e = av1c[0]
    cfg = data[o:e]
    if len(cfg) < 4 or cfg[0] != 0x81:
        raise ValueError("AVIF: bad av1C marker/version")
    mdat = [s for t, *s in
            [(t, bo, be) for t, bo, be in isobmff_boxes(data)]
            if t == "mdat"]
    if len(mdat) != 1:
        raise ValueError(f"AVIF: {len(mdat)} mdat boxes")
    seq = None
    n_obus = 0
    for typ, payload in av1_obus(data[mdat[0][0]:mdat[0][1]]):
        n_obus += 1
        if typ == 1:
            if seq is not None:
                raise ValueError("AVIF: multiple sequence headers")
            seq = parse_av1_sequence_header(payload)
    if seq is None:
        raise ValueError("AVIF: no sequence header OBU")
    o, e = ispe[0]
    iw = int.from_bytes(data[o + 4:o + 8], "big")
    ih = int.from_bytes(data[o + 8:o + 12], "big")
    if (iw, ih) != (seq["width"], seq["height"]):
        raise ValueError(
            f"AVIF: ispe {iw}x{ih} != sequence header"
            f" {seq['width']}x{seq['height']}"
        )
    return {
        **seq,
        "n_obus": n_obus,
        "chroma_sub_x": (cfg[2] >> 3) & 1,
        "chroma_sub_y": (cfg[2] >> 2) & 1,
        "high_bitdepth": (cfg[2] >> 6) & 1,
        "monochrome": (cfg[2] >> 5) & 1,
    }
