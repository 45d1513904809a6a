"""From-scratch PNG codec: byte-exact roundtrips vs numpy arrays."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from codem_spark.functions import imagecodec as ic


def _img(h, w, ch, seed=0):
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
    return a


def _png(width, height, color, raw):
    """Hand-built PNG around the filter-byte-prefixed scanlines ``raw``."""

    def chunk(t, b):
        return struct.pack(">I", len(b)) + t + b + struct.pack(">I", zlib.crc32(t + b))

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("ch", [1, 2, 3, 4])
def test_png_roundtrip_all_filters_channels(ftype, ch):
    """Filter 0 (None), the one predictor the encoder writes, roundtrips
    byte-exact; scanlines carrying filter byte 1-4 are rejected with a
    ValueError instead of being decoded."""
    img = _img(13, 17, ch, seed=ftype * 10 + ch)
    if ftype == 0:
        back = ic.decode_png(ic.encode_png(img))
        assert back.shape == (13, 17, ch)
        assert np.array_equal(back, img)
        return
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    raw = b"".join(bytes([ftype if y == 6 else 0]) + img[y].tobytes() for y in range(13))
    with pytest.raises(ValueError, match=f"filter type {ftype} on scanline 6"):
        ic.decode_png(_png(17, 13, color, raw))


def test_png_gradient_smooth_image():
    y, x = np.mgrid[0:32, 0:48]
    img = np.stack([(x * 3) % 256, (y * 5) % 256, (x + y) % 256], axis=2).astype(np.uint8)
    assert np.array_equal(ic.decode_png(ic.encode_png(img)), img)


def test_png_rejects_exotic():
    img = _img(4, 4, 3)
    data = bytearray(ic.encode_png(img))
    # flip interlace byte inside IHDR (offset: 8 sig + 8 hdr + 12 = byte 28)
    data[8 + 8 + 12] = 1
    with pytest.raises(ValueError, match="interlace"):
        ic.decode_png(bytes(data))
    with pytest.raises(ValueError, match="signature"):
        ic.decode_png(b"notapng" + bytes(16))
    # palette (color type 3) images are not decoded
    with pytest.raises(ValueError, match="color type 3"):
        ic.decode_png(_png(2, 1, 3, b"\x00\x00\x01"))
