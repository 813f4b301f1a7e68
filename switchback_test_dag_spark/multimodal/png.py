"""Pure-Python PNG codec: stdlib ``zlib`` + ``struct`` + numpy only (PNG's
only entropy coder is DEFLATE, which the stdlib provides).

Encoder: canonical 8-bit non-interlaced truecolor (color type 2) files —
signature, IHDR, one IDAT (zlib-compressed filtered scanlines), IEND, with
correct CRCs. To make the decoder's filter handling a *real* contract rather
than a fixed-offset read, the encoder assigns scanline ``r`` filter type
``r % 5``, so every one of the five PNG filters (None/Sub/Up/Average/Paeth)
appears in any image with ≥5 rows and must be inverted correctly on decode.

Decoder: a real chunk walker, not a fixed-layout reader — verifies the
signature and each chunk's CRC32, concatenates multiple IDAT chunks, inflates
with ``zlib``, and inverts all five scanline filters. Supports 8-bit
truecolor (type 2) and truecolor+alpha (type 6, alpha dropped); raises
``ValueError`` on palette/grayscale/16-bit/interlaced or corrupt files rather
than mis-decoding.
"""
from __future__ import annotations

import struct
import zlib

import numpy as np

_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _filter_row(ftype: int, row: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    """Apply PNG filter ``ftype`` to a raw scanline (encoder side). ``row`` and
    ``prev`` are int16 arrays (int16 so subtraction wraps via % 256 explicitly)."""
    a = np.zeros_like(row)
    a[bpp:] = row[:-bpp]  # left neighbor, per byte
    b = prev
    c = np.zeros_like(prev)
    c[bpp:] = prev[:-bpp]
    if ftype == 0:
        out = row
    elif ftype == 1:
        out = row - a
    elif ftype == 2:
        out = row - b
    elif ftype == 3:
        out = row - (a + b) // 2
    elif ftype == 4:
        out = row - _paeth(a, b, c)
    else:  # pragma: no cover - encoder only emits 0-4
        raise ValueError(f"bad filter type {ftype}")
    return out % 256


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Vectorized Paeth predictor (RFC 2083 §6.6)."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def encode_png(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB array → PNG bytes (8-bit truecolor, filters cycling
    ``row % 5`` so decode exercises every filter type)."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) RGB array, got shape {px.shape}")
    h, w, _ = px.shape
    bpp = 3
    raw = px.reshape(h, w * bpp).astype(np.int16)
    prev = np.zeros(w * bpp, dtype=np.int16)
    lines = bytearray()
    for r in range(h):
        ftype = r % 5
        lines.append(ftype)
        lines.extend(_filter_row(ftype, raw[r], prev, bpp).astype(np.uint8).tobytes())
        prev = raw[r]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit, type 2, no interlace
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(lines), 6))
        + _chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes → (h, w, 3) uint8 RGB array.

    Real chunk walk: signature + per-chunk CRC verification, multi-IDAT
    concatenation, zlib inflate, and inversion of all five scanline filters.
    8-bit truecolor (type 2) and truecolor+alpha (type 6, alpha dropped) only;
    anything else raises ``ValueError``.
    """
    if len(payload) < len(_SIGNATURE) + 12 or payload[: len(_SIGNATURE)] != _SIGNATURE:
        raise ValueError("not a PNG file")
    pos = len(_SIGNATURE)
    ihdr: tuple | None = None
    idat = bytearray()
    while pos + 12 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated chunk")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {tag!r} chunk")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("missing IHDR")
    w, h, depth, ctype, compression, filt, interlace = ihdr
    if depth != 8 or ctype not in (2, 6) or compression != 0 or filt != 0:
        raise ValueError(
            f"unsupported PNG: depth={depth} color_type={ctype} "
            f"compression={compression} filter_method={filt}"
        )
    if interlace != 0:
        raise ValueError("interlaced PNG not supported")
    if w <= 0 or h <= 0:
        raise ValueError(f"bad dimensions {w}x{h}")
    bpp = 3 if ctype == 2 else 4
    stride = w * bpp
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:  # CRC-valid chunk around a corrupt stream
        raise ValueError(f"bad IDAT deflate stream: {exc}") from exc
    if len(raw) != h * (stride + 1):
        raise ValueError("decompressed size mismatch")
    out = np.zeros((h, stride), dtype=np.int16)
    prev = np.zeros(stride, dtype=np.int16)
    for r in range(h):
        ftype = raw[r * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=r * (stride + 1) + 1
        ).astype(np.int16)
        b = prev
        c = np.zeros(stride, dtype=np.int16)
        c[bpp:] = prev[:-bpp]
        if ftype == 0:
            recon = line
        elif ftype == 2:
            recon = (line + b) % 256
        elif ftype in (1, 3, 4):
            # left-neighbor filters are sequential within the row: reconstruct
            # pixel-by-pixel (vector ops across the bpp channels of each pixel)
            recon = np.zeros(stride, dtype=np.int16)
            for x in range(0, stride, bpp):
                seg = slice(x, x + bpp)
                a = recon[x - bpp : x] if x else np.zeros(bpp, dtype=np.int16)
                if ftype == 1:
                    recon[seg] = (line[seg] + a) % 256
                elif ftype == 3:
                    recon[seg] = (line[seg] + (a + b[seg]) // 2) % 256
                else:
                    cc = c[seg]
                    recon[seg] = (line[seg] + _paeth(a, b[seg], cc)) % 256
        else:
            raise ValueError(f"bad filter type {ftype} on row {r}")
        out[r] = recon
        prev = recon
    px = out.astype(np.uint8).reshape(h, w, bpp)
    return np.ascontiguousarray(px[:, :, :3])
