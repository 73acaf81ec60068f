"""Media payload builders — TEST FIXTURES.

Python-side byte builders for the multimodal operator tests: a JPEG
SOF0 header (the twin of ``operators/multimodal.jpeg_payload``), a
silent PCM16 WAV, a PNG signature + IHDR, and a real grayscale GIF.
"""

from __future__ import annotations

import struct


def make_jpeg(width: int, height: int) -> bytes:
    """Python-side fixture twin of the ``jpeg_payload`` Column."""
    return (
        b"\xff\xd8"
        + b"\xff\xc0\x00\x11\x08"
        + struct.pack(">HH", height, width)
        + bytes.fromhex("03011100021101031101")
        + b"\xff\xd9"
    )


def make_wav(sample_rate: int, n_channels: int, n_samples: int) -> bytes:
    """Canonical 44-byte-header PCM16 WAV for tests."""
    block = n_channels * 2
    data_size = n_samples * block
    byte_rate = sample_rate * block
    return (
        b"RIFF"
        + struct.pack("<I", 36 + data_size)
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, n_channels, sample_rate, byte_rate, block, 16)
        + b"data"
        + struct.pack("<I", data_size)
        + b"\x00" * data_size
    )


def make_png(width: int, height: int) -> bytes:
    """Minimal valid-enough PNG header for tests (signature + IHDR)."""
    ihdr = struct.pack(">II", width, height) + b"\x08\x02\x00\x00\x00"
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + ihdr
        + b"\x00\x00\x00\x00"
    )


def encode_gif_gray8(pixels: list[list[int]]) -> bytes:
    """Minimal real GIF encoder: 256-entry grayscale palette, LZW with
    a CLEAR before every pixel code (fixed 9-bit width — valid, just
    uncompressed; the classic codec-free trick).  Fixture builder."""
    h = len(pixels)
    w = len(pixels[0]) if h else 0
    gct = bytes(v for i in range(256) for v in (i, i, i))
    # bit-pack [CLEAR, px] pairs at 9 bits
    acc = bits = 0
    payload = bytearray()
    for v in [c for row in pixels for px in row for c in (256, px)] + [257]:
        acc |= v << bits
        bits += 9
        while bits >= 8:
            payload.append(acc & 0xFF)
            acc >>= 8
            bits -= 8
    if bits:
        payload.append(acc & 0xFF)
    blocks = bytearray()
    for i in range(0, len(payload), 255):
        part = payload[i : i + 255]
        blocks += bytes([len(part)]) + part
    blocks += b"\x00"
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0x80 | 0x07, 0, 0)  # GCT, 256 entries
        + gct
        + b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        + bytes([8])  # LZW min code size
        + bytes(blocks)
        + b"\x3B"
    )
