"""Deterministic stand-in image codec + PSNR helpers.

The sandbox container has no PIL/opencv, so real PNG/JPEG codecs are
STUBBED by a self-describing container format with the same *semantics*
the engine needs (BASELINE.json input_hint: decoded-pixel allclose,
PSNR>=40dB for lossy, exact caption equality):

- ``fmt="png"``  → lossless: zlib-compressed raw uint8 HxWx3.
- ``fmt="jpeg"`` → lossy-deterministic: uniform quantization (step Q) then
  zlib — decode error is bounded by Q/2 per channel, so PSNR is
  controllable and >=40dB for Q<=4 (max MSE (Q/2)^2 → PSNR >= 20*log10(255/2)).

All Spark-side plumbing (binary columns, Arrow batch shapes, mapInPandas
signatures, per-tile applyInPandas decode) is REAL and tested; only the
byte-level codec is a stand-in. Swap ``encode_image``/``decode_image`` for
PIL when available — callers depend on the (array -> bytes -> array)
contract only.
"""

from __future__ import annotations

import io
import struct
import zlib

import numpy as np

try:  # real codecs when the runtime has Pillow — sandbox does not
    from PIL import Image as _PILImage

    HAS_PIL = True
except ImportError:  # pragma: no cover - exercised only without PIL
    _PILImage = None
    HAS_PIL = False

MAGIC_LOSSLESS = b"FPN1"
MAGIC_LOSSY = b"FJP1"
_PNG_MAGIC = b"\x89PNG"
_JPEG_MAGIC = b"\xff\xd8"
_HEADER = struct.Struct("<4sHHBB")  # magic, w, h, channels, quant_step

JPEG_QUANT_STEP = 4  # max abs error 2 → PSNR >= 20*log10(255/2) ≈ 42.1 dB


def encode_image(arr: np.ndarray, fmt: str, codec: str = "standin") -> bytes:
    """arr: uint8 (h, w, 3). fmt: 'png' (lossless) | 'jpeg' (lossy).

    codec='standin' (default) uses the deterministic container — the
    driver oracles depend on its closed-form quantizer, so it stays the
    default even when PIL is importable. codec='pil' emits real
    PNG/JPEG bytes (requires Pillow)."""
    if arr.dtype != np.uint8 or arr.ndim != 3:
        raise ValueError("expected uint8 (h, w, c) array")
    if codec == "pil":
        if not HAS_PIL:
            raise RuntimeError("codec='pil' requires Pillow")
        buf = io.BytesIO()
        img = _PILImage.fromarray(arr, mode="RGB")
        if fmt == "png":
            img.save(buf, format="PNG")
        elif fmt == "jpeg":
            img.save(buf, format="JPEG", quality=95, subsampling=0)
        else:
            raise NotImplementedError(f"unsupported fmt {fmt!r}")
        return buf.getvalue()
    h, w, c = arr.shape
    if fmt == "png":
        header = _HEADER.pack(MAGIC_LOSSLESS, w, h, c, 0)
        payload = zlib.compress(arr.tobytes(), 6)
    elif fmt == "jpeg":
        q = JPEG_QUANT_STEP
        quant = (arr.astype(np.int32) // q).astype(np.uint8)
        header = _HEADER.pack(MAGIC_LOSSY, w, h, c, q)
        payload = zlib.compress(quant.tobytes(), 6)
    else:
        raise NotImplementedError(f"unsupported fmt {fmt!r} (stub codec: png/jpeg)")
    return header + payload


def decode_image(data: bytes) -> np.ndarray:
    """bytes -> uint8 (h, w, c) array. Auto-detects the container: the
    deterministic stand-in (FPN1/FJP1) decodes dependency-free; real
    PNG/JPEG bytes decode via PIL when importable — drop-in for corpora
    of real images outside the sandbox."""
    if len(data) < _HEADER.size:
        raise ValueError("truncated image container")
    magic, w, h, c, q = _HEADER.unpack(data[: _HEADER.size])
    if magic not in (MAGIC_LOSSLESS, MAGIC_LOSSY):
        if data[:4] == _PNG_MAGIC or data[:2] == _JPEG_MAGIC:
            if not HAS_PIL:
                raise RuntimeError("real PNG/JPEG bytes need Pillow to decode")
            img = _PILImage.open(io.BytesIO(data)).convert("RGB")
            return np.asarray(img, dtype=np.uint8)
        raise ValueError("unknown image container magic")
    raw = np.frombuffer(zlib.decompress(data[_HEADER.size :]), dtype=np.uint8)
    arr = raw.reshape(h, w, c)
    if magic == MAGIC_LOSSLESS:
        return arr.copy()
    # dequantize to bin centers, clip to uint8 range
    deq = arr.astype(np.int32) * q + q // 2
    return np.clip(deq, 0, 255).astype(np.uint8)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 arrays."""
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0:
        return float("inf")
    return 20.0 * np.log10(255.0) - 10.0 * np.log10(mse)


def resize_nearest(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbour resize (pure numpy; PIL-free)."""
    h, w = arr.shape[:2]
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return arr[ys][:, xs]
