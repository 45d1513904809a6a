"""From-scratch PNG codec — stdlib zlib + numpy only.

The container has no PIL/cv2, but PNG is just zlib-inflated scanlines with
five per-scanline predictors. ``encode_png`` writes the registration
match-visualization image (registration/viz.py); ``decode_png`` reads it
back in tests.

Scope (clear ValueError outside it, never a silent wrong answer): 8-bit
depth, color types 0/2/3/4/6, non-interlaced, filters 0-4.

Reference parity note: the reference writes its match-visualization PNG
via OpenCV (codem/registration/apply.py / dsm_registration docs); this
module is the sanctioned in-container analog.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


# --------------------------------------------------------------------- PNG
def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor, vectorized over a lane of pixels (int16 math)."""
    p = a.astype(np.int16) + b.astype(np.int16) - c.astype(np.int16)
    pa = np.abs(p - a)
    pb = np.abs(p - b)
    pc = np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def _unfilter(raw: np.ndarray, height: int, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG per-scanline filtering. raw is height*(1+stride) filter-byte
    prefixed scanlines; returns (height, stride) uint8."""
    raw = raw.reshape(height, 1 + stride)
    ftypes = raw[:, 0]
    img = np.zeros((height, stride), dtype=np.uint8)
    zero_prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        line = raw[y, 1:].copy()
        ft = int(ftypes[y])
        prev = img[y - 1] if y > 0 else zero_prev
        if ft == 0:
            img[y] = line
        elif ft == 1:  # Sub: sequential in x (uint8 wrap), vector over lanes
            out = line.reshape(-1, bpp)
            for x in range(1, out.shape[0]):
                out[x] += out[x - 1]
            img[y] = out.reshape(-1)
        elif ft == 2:  # Up: fully vectorized
            img[y] = line + prev
        elif ft == 3:  # Average
            out = line.reshape(-1, bpp).astype(np.int16)
            pr = prev.reshape(-1, bpp).astype(np.int16)
            left = np.zeros(bpp, dtype=np.int16)
            for x in range(out.shape[0]):
                out[x] = (out[x] + ((left + pr[x]) >> 1)) & 0xFF
                left = out[x]
            img[y] = out.astype(np.uint8).reshape(-1)
        elif ft == 4:  # Paeth
            out = line.reshape(-1, bpp)
            pr = prev.reshape(-1, bpp)
            left = np.zeros(bpp, dtype=np.uint8)
            upleft = np.zeros(bpp, dtype=np.uint8)
            for x in range(out.shape[0]):
                out[x] = out[x] + _paeth(left, pr[x], upleft)
                left = out[x]
                upleft = pr[x]
            img[y] = out.reshape(-1)
        else:
            raise ValueError(f"PNG: unknown filter type {ft} on scanline {y}")
    return img


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> (H, W, C) uint8 array (C in 1/2/3/4)."""
    if data[:8] != _PNG_SIG:
        raise ValueError("PNG: bad signature")
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # skip CRC
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
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
    img = _unfilter(raw, height, stride, ch).reshape(height, width, ch)
    if color == 3:
        if plte is None:
            raise ValueError("PNG: palette image without PLTE")
        img = plte[img[:, :, 0]]
    return img


def encode_png(img: np.ndarray, filter_type: int = 0) -> bytes:
    """(H, W[, C]) uint8 -> PNG bytes. ``filter_type`` picks the per-scanline
    predictor (0-4) so tests exercise every _unfilter branch."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    img = np.ascontiguousarray(img, dtype=np.uint8)
    lines = []
    prev = np.zeros(w * ch, dtype=np.uint8)
    for y in range(h):
        line = img[y].reshape(-1)
        ft = filter_type
        if ft == 0:
            enc = line
        elif ft == 1:
            px = img[y].astype(np.int16)
            left = np.vstack([np.zeros((1, ch), np.int16), px[:-1]])
            enc = ((px - left) & 0xFF).astype(np.uint8).reshape(-1)
        elif ft == 2:
            enc = (line.astype(np.int16) - prev.astype(np.int16) & 0xFF).astype(np.uint8)
        elif ft == 3:
            px = img[y].reshape(-1, ch).astype(np.int16)
            pr = prev.reshape(-1, ch).astype(np.int16)
            left = np.vstack([np.zeros((1, ch), np.int16), px[:-1]])
            enc = ((px - ((left + pr) >> 1)) & 0xFF).astype(np.uint8).reshape(-1)
        elif ft == 4:
            px = img[y].reshape(-1, ch)
            pr = prev.reshape(-1, ch)
            left = np.vstack([np.zeros((1, ch), np.uint8), px[:-1]])
            upleft = np.vstack([np.zeros((1, ch), np.uint8), pr[:-1]])
            pred = np.stack(
                [_paeth(left[x], pr[x], upleft[x]) for x in range(px.shape[0])]
            )
            enc = ((px.astype(np.int16) - pred) & 0xFF).astype(np.uint8).reshape(-1)
        else:
            raise ValueError(f"PNG: bad filter type {ft}")
        lines.append(bytes([ft]) + enc.tobytes())
        prev = line
    zdata = zlib.compress(b"".join(lines), 6)

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zdata) + chunk(b"IEND", b"")
