"""Minimal 8-bit grayscale PNG codec (NumPy + stdlib zlib).

The container ships no imaging library, so media blobs are encoded/decoded
here. Only what the pipeline needs: 8-bit grayscale (color type 0) and 8-bit
truecolor (color type 2, for the F8 debug renders), all five scanline filters
on read, filter 0 on write. Gray reference assets are pre-converted by the
Java oracle (tools/java_oracle/GoldenDump.java, mode "gray") and committed
under tests/goldens/, so both sides consume identical rasters.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"

# Decode bound for untrusted blobs: a mutated/hostile header must not be able
# to OOM an executor (np.zeros on absurd dims), zip-bomb via IDAT, or stall a
# task in the pure-Python defilter loops (filters 1/3/4 cost one Python
# iteration per SAMPLE, i.e. per byte). The cap therefore counts w*h*bpp.
# Largest legitimate page is a few Mpx gray (A4@300dpi = 8.7M samples);
# 64M samples is ~7x headroom.
_MAX_SAMPLES = 1 << 26


def _check_dims(w: int, h: int, bpp: int):
    if w == 0 or h == 0 or w * h * bpp > _MAX_SAMPLES:
        raise ValueError(f"implausible dimensions {w}x{h}x{bpp}")


def _parse_chunks(data: bytes):
    """Walk the chunk stream; return (w, h, bit_depth, color_type, idat).

    Malformed input (bad signature, truncated chunk, missing IHDR/IDAT,
    implausible dimensions) raises ValueError — never Index/struct errors —
    so UDF callers catch one exception family. CRCs are ignored by design
    (corrupt pixel data decodes to garbage of the declared shape)."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG")
    pos = 8
    idat = b""
    w = h = bit_depth = color_type = None
    while pos < len(data):
        if pos + 8 > len(data):
            raise ValueError("truncated chunk header")
        (length, ctype) = struct.unpack(">I4s", data[pos : pos + 8])
        pos += 8
        if pos + length > len(data):
            raise ValueError("truncated chunk body")
        chunk = data[pos : pos + length]
        pos += length + 4  # skip CRC
        if ctype == b"IHDR":
            if length != 13:
                raise ValueError("bad IHDR length")
            w, h, bit_depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", chunk
            )
            if interlace:
                raise ValueError("interlaced PNG not supported")
        elif ctype == b"IDAT":
            idat += chunk
        elif ctype == b"IEND":
            break
    if w is None:
        raise ValueError("missing IHDR")
    if not idat:
        raise ValueError("missing IDAT")
    return w, h, bit_depth, color_type, idat


def _inflate(idat: bytes, expected: int) -> bytes:
    """Decompress exactly the scanline bytes, output-bounded (zip-bomb-safe)."""
    try:
        raw = zlib.decompressobj().decompress(idat, expected)
    except zlib.error as e:
        raise ValueError(f"bad IDAT stream: {e}") from None
    if len(raw) < expected:
        raise ValueError("truncated scanlines")
    return raw


def _defilter(raw: bytes, w: int, h: int, bpp: int) -> np.ndarray:
    """Reconstruct all five scanline filters; returns (h, w*bpp) uint8."""
    stride = w * bpp
    img = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    pos = 0
    for y in range(h):
        f = raw[pos]
        pos += 1
        row = np.frombuffer(raw[pos : pos + stride], dtype=np.uint8).astype(np.int32)
        pos += stride
        if f == 0:
            pass
        elif f == 2:  # up
            row = (row + prev) & 0xFF
        elif f == 1:  # sub
            row = row.copy()
            for x in range(bpp, stride):
                row[x] = (row[x] + row[x - bpp]) & 0xFF
        elif f == 3:  # average
            row = row.copy()
            for x in range(stride):
                left = int(row[x - bpp]) if x >= bpp else 0
                row[x] = (row[x] + ((left + int(prev[x])) >> 1)) & 0xFF
        elif f == 4:  # paeth
            row = row.copy()
            for x in range(stride):
                a = int(row[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[x] = (row[x] + pr) & 0xFF
        else:
            raise ValueError(f"bad filter {f}")
        img[y] = row
        prev = row.astype(np.int32)
    return img


def decode_gray(data: bytes) -> np.ndarray:
    """Decode an 8-bit grayscale PNG to a (h, w) uint8 array."""
    w, h, bit_depth, color_type, idat = _parse_chunks(data)
    if color_type != 0 or bit_depth != 8:
        raise ValueError(f"only 8-bit grayscale supported, got ct={color_type} bd={bit_depth}")
    _check_dims(w, h, 1)
    return _defilter(_inflate(idat, h * (w + 1)), w, h, 1)


def decode_rgb(data: bytes) -> np.ndarray:
    """Decode an 8-bit truecolor (or grayscale) PNG to a (h, w, 3) uint8 array.

    Needed by the F8 debug-curvature goldens (GoldenDump "debugbmp"/"aaprobe"
    write TYPE_INT_RGB images, which ImageIO emits as color type 2). Gray
    inputs (color type 0) are broadcast to 3 channels. Alpha (color types 4/6)
    is rejected — the pipeline never produces it.
    """
    w, h, bit_depth, color_type, idat = _parse_chunks(data)
    if bit_depth != 8 or color_type not in (0, 2):
        raise ValueError(f"only 8-bit gray/truecolor supported, got ct={color_type} bd={bit_depth}")
    bpp = 1 if color_type == 0 else 3
    _check_dims(w, h, bpp)
    img = _defilter(_inflate(idat, h * (w * bpp + 1)), w, h, bpp)
    if bpp == 1:
        return np.repeat(img[:, :, None], 3, axis=2)
    return img.reshape(h, w, 3)


def _encode(img: np.ndarray, w: int, h: int, color_type: int) -> bytes:
    """Emit a filter-0 PNG from a C-contiguous (h, stride) byte view."""
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(h))

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def encode_gray(img: np.ndarray) -> bytes:
    """Encode a (h, w) uint8 array as an 8-bit grayscale PNG (filter 0)."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    h, w = img.shape
    return _encode(img, w, h, 0)


def encode_rgb(img: np.ndarray) -> bytes:
    """Encode a (h, w, 3) uint8 array as an 8-bit truecolor PNG (filter 0)."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    h, w, c = img.shape
    if c != 3:
        raise ValueError("expected (h, w, 3)")
    return _encode(img.reshape(h, w * 3), w, h, 2)
