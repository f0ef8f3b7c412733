"""Golden-bytes fixtures for the image encoders: the SHA-256 of each
payload for fixed arrays. Roundtrip and staged-vs-fused tests pass for
any self-consistent encoder; these fail when the bytes themselves change
(quantization, Huffman tables, marker layout, zlib settings)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from pyprima_spark.operators.jpeg import encode_jpeg_gray
from pyprima_spark.operators.multimodal import encode_png_rgb

_Y, _X = np.mgrid[0:24, 0:40]

GRAY = {
    "flat": np.full((16, 16), 77, np.uint8),
    "gradient": ((_X * 6 + _Y * 3) % 256).astype(np.uint8),
    # 13x21 exercises the edge-replicate padding to 8x8 multiples
    "checker_13x21": (np.mgrid[0:13, 0:21].sum(0) % 2 * 255).astype(np.uint8),
}

JPEG_GRAY_SHA256 = {
    ("flat", 50): "bf283cfbc7d1634f5784d1a974d16ac17d8f1597138dd59f29e6e667274c754f",
    ("flat", 95): "5e109db63d50b38fc4acedee2aec7de078e9459942ff707b40e075b0474dbe1e",
    ("gradient", 50): "fd7d1fc7cf7ca112a34d547a59bd073574be7199a5689f0984238d3c1cd27090",
    ("gradient", 85): "b4f80fa55c4734ac970caf65192584fec5051e413e30ae1547b5568c03221966",
    ("gradient", 95): "3cadda357b59e366bbfeb8e9bb672c0e8a778b7c1d60b5b7ec5dce56a50726fe",
    ("checker_13x21", 85): "ed0cf79f8e07114db6129e4b0452a7af13d1b43db78c046fcc91747f3ad572b8",
}

RGB = {
    "pixel": np.zeros((1, 1, 3), np.uint8),
    "bands": np.stack(
        [_X * 6 % 256, _Y * 10 % 256, _X * _Y % 256], axis=-1
    ).astype(np.uint8),
}

PNG_RGB_SHA256 = {
    "pixel": "c47dd9465c00e9a0c8b85e9ea58d3034a0d23b9cf926113602f3460752a4eb96",
    "bands": "0cafd9b871408c4cedcffec60367ee8aa7f204826be8f3fc4a38270c303f44ee",
}


def _sha256(payload: bytes) -> str:
    return hashlib.sha256(payload).hexdigest()


@pytest.mark.parametrize("image, quality", sorted(JPEG_GRAY_SHA256))
def test_encode_jpeg_gray_golden_bytes(image, quality):
    payload = encode_jpeg_gray(GRAY[image], quality)
    assert _sha256(payload) == JPEG_GRAY_SHA256[(image, quality)]


@pytest.mark.parametrize("image", sorted(PNG_RGB_SHA256))
def test_encode_png_rgb_golden_bytes(image):
    assert _sha256(encode_png_rgb(RGB[image])) == PNG_RGB_SHA256[image]
