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


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("ch", [1, 2, 3, 4])
def test_png_roundtrip_all_filters_channels(ftype, ch):
    img = _img(13, 17, ch, seed=ftype * 10 + ch)
    data = ic.encode_png(img, filter_type=ftype)
    back = ic.decode_png(data)
    assert back.shape == (13, 17, ch)
    assert np.array_equal(back, img)


def test_png_gradient_smooth_image():
    # smooth ramps exercise predictor wraparound differently than noise
    y, x = np.mgrid[0:32, 0:48]
    img = np.stack([(x * 3) % 256, (y * 5) % 256, (x + y) % 256], axis=2).astype(np.uint8)
    for ft in range(5):
        assert np.array_equal(ic.decode_png(ic.encode_png(img, ft)), img)


def test_png_palette_decode():
    # hand-build a color-type-3 PNG: 2x2 palette indices
    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8)
    idx = np.array([[0, 1], [2, 0]], dtype=np.uint8)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))

    def chunk(t, b):
        return struct.pack(">I", len(b)) + t + b + struct.pack(">I", zlib.crc32(t + b))

    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", pal.tobytes())
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    back = ic.decode_png(data)
    assert np.array_equal(back, pal[idx])


def test_png_rejects_exotic():
    img = _img(4, 4, 3)
    data = bytearray(ic.encode_png(img))
    # flip interlace byte inside IHDR (offset: 8 sig + 8 hdr + 12 = byte 28)
    data[8 + 8 + 12] = 1
    with pytest.raises(ValueError, match="interlace"):
        ic.decode_png(bytes(data))
    with pytest.raises(ValueError, match="signature"):
        ic.decode_png(b"notapng" + bytes(16))
