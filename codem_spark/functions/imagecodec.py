"""From-scratch PNG codec — stdlib zlib + numpy only.

PNG is zlib-deflated scanlines, each prefixed with a predictor (filter)
byte, so no imaging library is needed. ``encode_png`` writes the
registration match-visualization image (registration/viz.py);
``decode_png`` reads it back in tests.

Scope (clear ValueError outside it, never a silent wrong answer): 8-bit
depth, color types 0/2/4/6 (gray, RGB, gray+alpha, RGBA), non-interlaced,
filter 0 (None) on every scanline — the one predictor the encoder writes.

Reference parity note: the reference writes its match-visualization PNG
via OpenCV (codem/registration/apply.py / dsm_registration docs); this
module is the sanctioned in-container analog.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> (H, W, C) uint8 array (C in 1/2/3/4)."""
    if data[:8] != _PNG_SIG:
        raise ValueError("PNG: bad signature")
    pos = 8
    ihdr = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # skip CRC
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG: missing IHDR")
    width, height, depth, color, comp, filt, interlace = ihdr
    if depth != 8:
        raise ValueError(f"PNG: unsupported bit depth {depth} (only 8)")
    if color not in _CHANNELS:
        raise ValueError(f"PNG: unsupported color type {color}")
    if comp != 0 or filt != 0:
        raise ValueError("PNG: unsupported compression/filter method")
    if interlace != 0:
        raise ValueError("PNG: Adam7 interlace not supported")
    ch = _CHANNELS[color]
    stride = width * ch
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    if raw.size != height * (1 + stride):
        raise ValueError("PNG: IDAT size mismatch")
    raw = raw.reshape(height, 1 + stride)
    filtered = np.flatnonzero(raw[:, 0])
    if len(filtered):
        y = int(filtered[0])
        raise ValueError(f"PNG: unsupported filter type {raw[y, 0]} on scanline {y} (only 0)")
    return raw[:, 1:].reshape(height, width, ch)


def encode_png(img: np.ndarray) -> bytes:
    """(H, W[, C]) uint8 -> PNG bytes, filter 0 (None) on every scanline."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    raw = np.zeros((h, 1 + w * ch), dtype=np.uint8)
    raw[:, 1:] = np.asarray(img, dtype=np.uint8).reshape(h, w * ch)
    zdata = zlib.compress(raw.tobytes(), 6)

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zdata) + chunk(b"IEND", b"")
