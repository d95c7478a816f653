from __future__ import annotations

import numpy as np
import pytest

from egp_crn_spark.functions import imagecodec as IC


def test_lossless_roundtrip():
    rng = np.random.default_rng(0)
    arr = rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
    data = IC.encode_image(arr, "png")
    back = IC.decode_image(data)
    assert (back == arr).all()
    assert IC.psnr(arr, back) == float("inf")


def test_lossy_psnr_above_40db():
    rng = np.random.default_rng(1)
    arr = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    data = IC.encode_image(arr, "jpeg")
    back = IC.decode_image(data)
    assert back.shape == arr.shape
    assert IC.psnr(arr, back) >= 40.0  # BASELINE.json input_hint invariant
    assert np.abs(back.astype(int) - arr.astype(int)).max() <= IC.JPEG_QUANT_STEP


def test_deterministic():
    arr = np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3)
    assert IC.encode_image(arr, "jpeg") == IC.encode_image(arr, "jpeg")


def test_unsupported_fmt():
    with pytest.raises(NotImplementedError):
        IC.encode_image(np.zeros((4, 4, 3), dtype=np.uint8), "webp")


def test_resize_nearest():
    arr = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    out = IC.resize_nearest(arr, 2, 8)
    assert out.shape == (2, 8, 3)


@pytest.mark.parametrize("codec", ["standin"] + (["pil"] if IC.HAS_PIL else []))
def test_roundtrip_contract_per_codec(codec):
    """(array → bytes → array) contract holds for every available codec:
    exact for png, PSNR >= 40 dB for jpeg."""
    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, (24, 17, 3), dtype=np.uint8)
    assert (IC.decode_image(IC.encode_image(arr, "png", codec=codec)) == arr).all()
    lossy = IC.decode_image(IC.encode_image(arr, "jpeg", codec=codec))
    assert lossy.shape == arr.shape
    assert IC.psnr(arr, lossy) >= 40.0


def test_pil_codec_gated():
    if IC.HAS_PIL:
        import pytest as _p
        _p.skip("PIL present — gate untestable")
    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
    with pytest.raises(RuntimeError):
        IC.encode_image(arr, "png", codec="pil")
