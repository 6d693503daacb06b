"""Minimal real PNG codec in pure stdlib (struct + zlib).

The container ships no image libraries, but "multimodal columns" as a
first-class capability needs at least one REAL decode path — parsing
actual PNG bytes (signature, chunk framing + CRC, IHDR, zlib-inflated
IDAT, per-scanline unfiltering), not a byte-stride stub. This module
implements the public PNG format (RFC 2083 / W3C PNG spec) for 8-bit
greyscale / RGB / RGBA, non-interlaced — the subset every real-world
thumbnail pipeline hits first.

The registered ``multimodal_decode_png`` face in operators/multimodal.py
decodes its payloads with this codec, so the real-decode path runs in
any environment.

Scale note: the codec is called from Arrow-batched mapInPandas only —
per-asset CPU work on executors, no driver involvement, payload bytes
ride Arrow buffers.
"""

from __future__ import annotations

import struct
import zlib

_SIGNATURE = b"\x89PNG\r\n\x1a\n"

# color type -> samples per pixel (bit depth 8 only)
_CHANNELS = {0: 1, 2: 3, 6: 4}
_MODE = {0: "L", 2: "RGB", 6: "RGBA"}


def _chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _filter_row(ftype: int, row: bytes, prev: bytes, bpp: int) -> bytes:
    """Apply filter ``ftype`` to a raw scanline (encoder direction)."""
    out = bytearray(len(row))
    for i, x in enumerate(row):
        a = row[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if ftype == 0:
            out[i] = x
        elif ftype == 1:
            out[i] = (x - a) & 0xFF
        elif ftype == 2:
            out[i] = (x - b) & 0xFF
        elif ftype == 3:
            out[i] = (x - (a + b) // 2) & 0xFF
        elif ftype == 4:
            out[i] = (x - _paeth(a, b, c)) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
    return bytes(out)


def _unfilter_row(ftype: int, row: bytearray, prev: bytes, bpp: int) -> None:
    """Reverse filter ``ftype`` in place (decoder direction)."""
    if ftype == 0:
        return
    for i in range(len(row)):
        a = row[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if ftype == 1:
            row[i] = (row[i] + a) & 0xFF
        elif ftype == 2:
            row[i] = (row[i] + b) & 0xFF
        elif ftype == 3:
            row[i] = (row[i] + (a + b) // 2) & 0xFF
        elif ftype == 4:
            row[i] = (row[i] + _paeth(a, b, c)) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")


def encode_png(
    pixels: bytes, width: int, height: int, channels: int = 3, filter_type: int = 0
) -> bytes:
    """Encode raw 8-bit samples (row-major, ``channels`` per pixel)
    into a standards-conformant PNG. ``filter_type`` applies one fixed
    filter to every scanline (0 none, 1 sub, 2 up, 3 average, 4 paeth)
    — real encoders pick per-row; a fixed choice keeps output
    deterministic and lets tests exercise every decode path."""
    color = {1: 0, 3: 2, 4: 6}[channels]
    stride = width * channels
    if len(pixels) != stride * height:
        raise ValueError(f"expected {stride * height} bytes, got {len(pixels)}")
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        row = pixels[y * stride : (y + 1) * stride]
        raw += bytes([filter_type]) + _filter_row(filter_type, row, prev, channels)
        prev = row
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw), 9))
        + _chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> tuple[int, int, str, bytes]:
    """Decode a PNG to (width, height, mode, raw pixel bytes).

    Supports bit depth 8, color types 0/2/6, no interlace — raises
    ValueError (with the offending field) on anything else, and on a
    bad signature, truncated chunk, or CRC mismatch: a decoder that
    silently tolerates corruption is useless as a data-quality gate.
    """
    if data[:8] != _SIGNATURE:
        raise ValueError("not a PNG: bad signature")
    pos = 8
    ihdr = None
    idat = bytearray()
    while pos < len(data):
        if pos + 8 > len(data):
            raise ValueError("truncated chunk header")
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        typ = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        crc_raw = data[pos + 8 + length : pos + 12 + length]
        if len(body) != length or len(crc_raw) != 4:
            raise ValueError(f"truncated {typ!r} chunk")
        (crc,) = struct.unpack(">I", crc_raw)
        if crc != zlib.crc32(typ + body) & 0xFFFFFFFF:
            raise ValueError(f"CRC mismatch in {typ!r} chunk")
        if typ == b"IHDR":
            ihdr = body
        elif typ == b"IDAT":
            idat += body
        elif typ == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("missing IHDR")
    width, height, depth, color, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if depth != 8:
        raise ValueError(f"unsupported bit depth {depth}")
    if color not in _CHANNELS:
        raise ValueError(f"unsupported color type {color}")
    if interlace != 0:
        raise ValueError("interlaced PNG unsupported")
    channels = _CHANNELS[color]
    stride = width * channels
    raw = zlib.decompress(bytes(idat))
    if len(raw) != (stride + 1) * height:
        raise ValueError("IDAT length does not match dimensions")
    out = bytearray()
    prev = bytes(stride)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        row = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        _unfilter_row(ftype, row, prev, channels)
        out += row
        prev = bytes(row)
    return width, height, _MODE[color], bytes(out)
