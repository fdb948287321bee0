"""Test-fixture encoders: the inverses of ``multimodal.decode_netpbm`` and
``multimodal.decode_wav``, used only to build test payloads."""

from __future__ import annotations

import numpy as np


def encode_ppm(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → binary PPM bytes (the test-fixture inverse)."""
    h, w, _ = img.shape
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """mono float [-1,1] → 16-bit PCM WAV bytes (the test-fixture inverse)."""
    import struct

    pcm = (np.clip(samples, -1.0, 1.0) * 32767).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    chunks = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks
