"""DRF — deterministic raster format for the ``html:binary`` payload column.

The reference accepts decoded RGBA buffers (``ImageBitmap``/``ImageData`` —
reference: src/ocr-engine.ts:171-210); JPEG/PNG parsing happens *outside* the
engine (browser ``createImageBitmap`` or sharp — reference: test/util.js:33-36,
Makefile:72-77 strips all image codecs from the WASM build). This environment
likewise has no image codecs, so the corpus stores pages in DRF, a trivially
numpy-decodable container:

    bytes 0..3   magic  b"DRF1"
    bytes 4..7   width  int32 little-endian
    bytes 8..11  height int32 little-endian
    bytes 12..15 channels int32 little-endian (always 4 = RGBA)
    bytes 16..   zlib-compressed row-major uint8 pixel data (h*w*channels)

Input validation reproduces the reference's observable error behavior exactly
(messages pinned by reference tests test/ocr-engine-test.js:63-85):
  - payload length mismatch, including a corrupt or truncated zlib body ->
    "Image data length does not match width/height"
    (reference: src/ocr-engine.ts:179-181)
  - zero/negative dimensions -> "Image width or height is zero"
    (reference: src/ocr-engine.ts:183-185)
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

MAGIC = b"DRF1"
HEADER_LEN = 16
CHANNELS = 4  # RGBA; channels=1 grayscale also supported (OCR corpora are
# stored single-channel at scale: 4x less decode bandwidth per page, which is
# what keeps the 32-way extraction compute-bound instead of memory-bound)

ERR_BAD_LENGTH = "Image data length does not match width/height"
ERR_ZERO_DIM = "Image width or height is zero"
ERR_BAD_MAGIC = "Unsupported image format"


def encode(img: np.ndarray) -> bytes:
    """uint8[H, W], [H, W, 1] or [H, W, 4] -> DRF bytes."""
    if img.dtype != np.uint8:
        raise ValueError("encode expects uint8")
    if img.ndim == 2:
        img = img[:, :, None]
    if img.ndim != 3 or img.shape[2] not in (1, CHANNELS):
        raise ValueError("encode expects uint8[H, W] / [H, W, 1] / [H, W, 4]")
    h, w, ch = img.shape
    header = MAGIC + struct.pack("<iii", w, h, ch)
    return header + zlib.compress(np.ascontiguousarray(img).tobytes(), level=6)


def decode(payload: bytes) -> np.ndarray:
    """DRF bytes -> uint8[H, W, C] (C = 1 or 4); raises ValueError with
    reference-matching messages on malformed input."""
    if len(payload) < HEADER_LEN or payload[:4] != MAGIC:
        raise ValueError(ERR_BAD_MAGIC)
    w, h, ch = struct.unpack("<iii", payload[4:HEADER_LEN])
    if w <= 0 or h <= 0:
        raise ValueError(ERR_ZERO_DIM)
    if ch not in (1, CHANNELS):
        raise ValueError(ERR_BAD_MAGIC)
    try:
        raw = zlib.decompress(payload[HEADER_LEN:])
    except zlib.error:  # corrupt or truncated body: no pixels of w*h*ch
        raise ValueError(ERR_BAD_LENGTH) from None
    if len(raw) != w * h * ch:
        raise ValueError(ERR_BAD_LENGTH)
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, ch)


def encode_raw_invalid(w: int, h: int, body: bytes) -> bytes:
    """Build a syntactically-valid header with an arbitrary body — used by
    error-path fixtures (mirrors reference test/ocr-engine-test.js:63-78)."""
    return MAGIC + struct.pack("<iii", w, h, CHANNELS) + zlib.compress(body)
