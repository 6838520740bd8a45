"""Minimal real image codecs in pure Python (stdlib only).

This container ships no PIL/libjpeg, but PNG is zlib + byte filters and
zlib IS in the stdlib — so the PNG path here is a REAL codec, not a
stub: chunk parsing with CRC verification, IDAT inflate, scanline
unfiltering (all five filter types), palette expansion, and a matching
encoder. JPEG and GIF additionally get fast *header* parsers here
(dimensions + format, used by the metadata path); their full pixel
codecs live in the sibling modules functions/jpeg.py (baseline DCT
decode) and functions/gif.py (LZW decode); their encoders live in
functions/codec_oracle.py.

Used by operators/multimodal.py as the middle tier of its decode
ladder (PIL when importable -> these -> deterministic fake for
non-image bytes). Scope: 8-bit depth, non-interlaced PNGs, color types
0/2/3/4/6 — which covers the tiny real PNGs the tests round-trip and
the common corpus case; anything else raises ValueError and the caller
decides (metadata-only callers can still use :func:`png_info`).
"""

from __future__ import annotations

import functools
import struct
import zlib

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _valueerror_boundary(fn):
    """Public decode entry points raise ONLY ValueError on malformed
    input: struct.error (short buffers) and zlib.error (corrupt
    streams) escaping the parsers would crash callers' except-ValueError
    ladders (the multimodal kernels' never-crash-a-task contract)."""

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except (struct.error, zlib.error, IndexError) as e:
            raise ValueError(f"malformed image bytes: {e}") from e

    return wrapped


def is_png(raw: bytes) -> bool:
    return raw[:8] == PNG_MAGIC


def _chunks(raw: bytes):
    pos = 8
    while pos + 8 <= len(raw):
        (length,) = struct.unpack(">I", raw[pos : pos + 4])
        ctype = raw[pos + 4 : pos + 8]
        data = raw[pos + 8 : pos + 8 + length]
        crc = raw[pos + 8 + length : pos + 12 + length]
        if len(data) < length or len(crc) < 4:
            raise ValueError("truncated PNG chunk")
        if struct.unpack(">I", crc)[0] != zlib.crc32(ctype + data) & 0xFFFFFFFF:
            raise ValueError("PNG chunk CRC mismatch")
        yield ctype, data
        pos += 12 + length
        if ctype == b"IEND":
            return


@_valueerror_boundary
def png_info(raw: bytes) -> tuple[int, int, int, int]:
    """(width, height, bit_depth, color_type) from IHDR — real header
    parse (signature + CRC checked), no pixel decode."""
    if not is_png(raw):
        raise ValueError("not a PNG")
    for ctype, data in _chunks(raw):
        if ctype == b"IHDR":
            w, h, depth, color = struct.unpack(">IIBB", data[:10])
            return w, h, depth, color
        break
    raise ValueError("PNG missing IHDR")


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


@_valueerror_boundary
def png_decode(raw: bytes) -> tuple[int, int, int, bytes]:
    """Full PNG decode: (width, height, channels, pixel_bytes).

    ``pixel_bytes`` is rows concatenated, ``channels`` bytes per pixel
    (palette images are expanded to RGB). 8-bit, non-interlaced only."""
    if not is_png(raw):
        raise ValueError("not a PNG")
    w = h = depth = color = interlace = None
    idat = bytearray()
    plte = b""
    for ctype, data in _chunks(raw):
        if ctype == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data[:13]
            )
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat.extend(data)
    if w is None:
        raise ValueError("PNG missing IHDR")
    if depth != 8 or interlace != 0 or color not in _CHANNELS:
        raise ValueError(
            f"unsupported PNG (depth={depth} color={color} interlace={interlace})"
        )
    ch = _CHANNELS[color]
    stride = w * ch
    # bounded inflate: IDAT is untrusted corpus bytes, and a tiny
    # crafted stream can inflate to gigabytes inside an executor. Ask
    # for at most expected+1 bytes — a bomb is detected (and aborted)
    # after one excess byte instead of materializing the whole payload.
    expected = (stride + 1) * h
    d = zlib.decompressobj()
    decomp = d.decompress(bytes(idat), expected + 1)
    # eof check: a TRUNCATED stream can still deliver exactly the
    # expected byte count; only a finished stream has read its final
    # block and verified the adler32 trailer (the completeness the
    # old unbounded zlib.decompress gave for free)
    if len(decomp) != expected or d.unconsumed_tail or not d.eof:
        raise ValueError("PNG pixel data length mismatch")
    out = bytearray(stride * h)
    prev = bytearray(stride)
    for row in range(h):
        off = row * (stride + 1)
        ftype = decomp[off]
        line = bytearray(decomp[off + 1 : off + 1 + stride])
        if ftype == 1:  # Sub
            for i in range(ch, stride):
                line[i] = (line[i] + line[i - ch]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                c = prev[i - ch] if i >= ch else 0
                line[i] = (line[i] + _paeth(a, prev[i], c)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown PNG filter {ftype}")
        out[row * stride : (row + 1) * stride] = line
        prev = line
    if color == 3:  # palette -> RGB
        # a short slice assigned into a bytearray SHRINKS it silently,
        # so out-of-range indices / missing PLTE must raise instead of
        # corrupting every subsequent pixel
        n_entries = len(plte) // 3
        if n_entries == 0:
            raise ValueError("palette PNG missing PLTE chunk")
        rgb = bytearray(w * h * 3)
        for i, idx in enumerate(out):
            if idx >= n_entries:
                raise ValueError(
                    f"palette index {idx} out of range ({n_entries} entries)"
                )
            rgb[i * 3 : i * 3 + 3] = plte[idx * 3 : idx * 3 + 3]
        return w, h, 3, bytes(rgb)
    return w, h, ch, bytes(out)


def png_encode(w: int, h: int, channels: int, pixels: bytes) -> bytes:
    """Encode raw pixel rows as a real PNG (filter 0, one zlib stream).
    ``channels``: 1=gray, 2=gray+alpha, 3=RGB, 4=RGBA."""
    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    stride = w * channels
    if len(pixels) != stride * h:
        raise ValueError("pixel buffer does not match dimensions")
    scan = b"".join(
        b"\x00" + pixels[r * stride : (r + 1) * stride] for r in range(h)
    )

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scan))
        + chunk(b"IEND", b"")
    )


@_valueerror_boundary
def jpeg_info(raw: bytes) -> tuple[int, int]:
    """(width, height) from the first JPEG SOF0-SOF15 frame header —
    real marker-segment walk per ITU T.81."""
    if raw[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    while pos + 4 <= len(raw):
        if raw[pos] != 0xFF:
            pos += 1
            continue
        marker = raw[pos + 1]
        if marker == 0xFF:  # fill byte: FF FF ... FF <marker> padding
            pos += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker in (0xDA, 0xD9):
            # SOS (entropy-coded data follows — SOF always precedes it)
            # or EOI: no frame header was seen, stop walking
            break
        (seglen,) = struct.unpack(">H", raw[pos + 2 : pos + 4])
        # SOF markers, excluding DHT(C4)/JPG(C8)/DAC(CC)
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            h, w = struct.unpack(">HH", raw[pos + 5 : pos + 9])
            return w, h
        pos += 2 + seglen
    raise ValueError("JPEG missing SOF header")


@_valueerror_boundary
def gif_info(raw: bytes) -> tuple[int, int]:
    """(width, height) from the GIF logical screen descriptor."""
    if raw[:6] not in (b"GIF87a", b"GIF89a") or len(raw) < 10:
        raise ValueError("not a GIF / truncated header")
    w, h = struct.unpack("<HH", raw[6:10])
    return w, h
