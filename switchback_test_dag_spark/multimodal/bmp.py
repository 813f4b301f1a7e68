"""Pure-Python BMP (Windows DIB) codec: no native libraries, ``struct`` +
numpy only.

The encoder writes canonical 24-bit bottom-up BI_RGB files
(BITMAPFILEHEADER + BITMAPINFOHEADER, rows padded to 4-byte boundaries).
The decoder is a real DIB parser, not a fixed-offset reader: it honors the
pixel-array offset from the file header (palettes / V4 / V5 header sizes are
skipped correctly), supports 24- and 32-bit uncompressed BI_RGB, both
bottom-up (positive height) and top-down (negative height) row orders, and
raises ``ValueError`` on anything else (compressed, paletted, or truncated
files) rather than mis-decoding.
"""
from __future__ import annotations

import struct

import numpy as np

_BM = b"BM"
_BI_RGB = 0
_FILE_HEADER = "<2sIHHI"  # magic, file size, res1, res2, pixel offset
_INFO_HEADER = "<IiiHHIIiiII"  # size, w, h, planes, bpp, compr, imgsize, ...


def _row_stride(width: int, bpp: int) -> int:
    return (width * (bpp // 8) + 3) & ~3


def encode_bmp24(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB array → canonical 24-bit bottom-up BMP bytes."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) RGB array, got shape {px.shape}")
    h, w, _ = px.shape
    stride = _row_stride(w, 24)
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    body = rows.tobytes()
    offset = 14 + 40
    header = struct.pack(_FILE_HEADER, _BM, offset + len(body), 0, 0, offset)
    info = struct.pack(_INFO_HEADER, 40, w, h, 1, 24, _BI_RGB, len(body), 2835, 2835, 0, 0)
    return header + info + body


def decode_bmp(payload: bytes) -> np.ndarray:
    """BMP bytes → (h, w, 3) uint8 RGB array.

    Accepts 24/32-bit uncompressed BI_RGB with any BITMAPINFOHEADER-family
    header size (40/52/56/108/124); pixel rows are located via the file
    header's pixel-array offset, padded rows are stripped, bottom-up images
    are flipped to natural row order, and the alpha byte of 32-bit files is
    dropped.
    """
    if len(payload) < 14 + 40 or payload[:2] != _BM:
        raise ValueError("not a BMP file")
    _magic, _fsize, _r1, _r2, offset = struct.unpack_from(_FILE_HEADER, payload, 0)
    hsize, w, h_signed, planes, bpp, compression = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if hsize < 40:
        raise ValueError(f"unsupported DIB header size {hsize}")
    if planes != 1 or compression != _BI_RGB or bpp not in (24, 32):
        raise ValueError(
            f"unsupported BMP: planes={planes} bpp={bpp} compression={compression}"
        )
    top_down = h_signed < 0
    h = -h_signed if top_down else h_signed
    if w <= 0 or h <= 0:
        raise ValueError(f"bad dimensions {w}x{h_signed}")
    stride = _row_stride(w, bpp)
    end = offset + stride * h
    if end > len(payload):
        raise ValueError("truncated pixel array")
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=offset)
    rows = rows.reshape(h, stride)[:, : w * (bpp // 8)].reshape(h, w, bpp // 8)
    rgb = rows[:, :, 2::-1]  # BGR(A) → RGB, alpha dropped
    if not top_down:
        rgb = rgb[::-1]
    return np.ascontiguousarray(rgb)
