"""Dependency-free image header parsers (struct only) so the
multimodal metadata pass reads TRUE dimensions in containers without
Pillow: png_dims reads the fixed-offset IHDR chunk, jpeg_dims walks the
JPEG marker stream to the first SOF segment. Neither inflates or
decodes pixels — a metadata pass reads two ints per image.

PNG structure per the W3C spec (public): 8-byte signature, then chunks
[len u32][type 4s][data][crc32 u32], IHDR first.
"""

from __future__ import annotations

import struct

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def png_dims(buf: bytes) -> tuple[int, int]:
    """(width, height) from the IHDR chunk alone — a 24-byte header
    parse, no zlib inflate, no scanline defiltering: the two ints sit at
    fixed offsets (IHDR is required to be the first chunk, PNG spec
    5.6)."""
    if buf[:8] != PNG_MAGIC:
        raise ValueError("not a PNG (bad signature)")
    if len(buf) < 24 or buf[12:16] != b"IHDR":
        raise ValueError("truncated PNG (no IHDR)")
    w, h = struct.unpack(">II", buf[16:24])
    return int(w), int(h)


JPEG_MAGIC = b"\xff\xd8"

# SOF markers carry frame dimensions; 0xC4 (DHT), 0xC8 (JPG ext),
# 0xCC (DAC) share the 0xC0-0xCF range but are not frames (ITU T.81 B.1)
_JPEG_NON_SOF = frozenset({0xC4, 0xC8, 0xCC})
_JPEG_STANDALONE = frozenset({0x01, 0xD8}) | frozenset(range(0xD0, 0xD8))


def jpeg_dims(buf: bytes) -> tuple[int, int]:
    """(width, height) from the first SOF0-SOF15 marker — a segment-walk
    over the JPEG marker stream (ITU T.81, public), no entropy decode.
    The JPEG analog of png_dims: metadata passes read two ints, they do
    not reconstruct pixels."""
    if buf[:2] != JPEG_MAGIC:
        raise ValueError("not a JPEG (bad SOI)")
    pos = 2
    while pos + 2 <= len(buf):
        if buf[pos] != 0xFF:
            raise ValueError("malformed JPEG (lost marker sync)")
        # 0xFF fill bytes may pad between segments (T.81 B.1.1.2)
        while pos + 1 < len(buf) and buf[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= len(buf):  # stream ends inside the fill bytes
            raise ValueError("truncated JPEG (ends in fill bytes)")
        marker = buf[pos + 1]
        if marker in _JPEG_STANDALONE:
            pos += 2
            continue
        if marker == 0xD9:  # EOI before any SOF
            break
        if pos + 4 > len(buf):
            raise ValueError("truncated JPEG segment header")
        (seglen,) = struct.unpack(">H", buf[pos + 2 : pos + 4])
        if seglen < 2:
            raise ValueError("malformed JPEG (segment length < 2)")
        if 0xC0 <= marker <= 0xCF and marker not in _JPEG_NON_SOF:
            if pos + 9 > len(buf):
                raise ValueError("truncated JPEG SOF")
            h, w = struct.unpack(">HH", buf[pos + 5 : pos + 9])
            return int(w), int(h)
        if marker == 0xDA:  # SOS: entropy-coded data follows, SOF must precede it
            break
        pos += 2 + seglen
    raise ValueError("no SOF marker found")
