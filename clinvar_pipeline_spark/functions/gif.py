"""GIF decoder (LZW) in pure Python (stdlib only).

Completes the multimodal decode ladder for the third advertised image
format: GIF payloads — including animated, multi-frame GIFs — now get
REAL pixel decode in the ``pure`` tier (operators/multimodal.py)
instead of stopping at the screen descriptor (functions/png.py
gif_info). Animated GIFs are the one "video-like" format this
container can genuinely decode, so ``sample_frames`` gets real
temporal frame extraction from them.

Scope: GIF87a/89a, global and local color tables, interlaced images,
LZW with variable code width, graphic-control transparency and
disposal methods 0-3. Each decoded frame is the full composited
canvas state after that frame is drawn (what a viewer displays), as
RGB. Malformed input raises ValueError only (the kernels'
never-crash-a-task contract).

The matching test-side encoder is functions/codec_oracle.gif_encode.

All from public knowledge: the GIF89a specification and the standard
LZW variable-code algorithm.
"""

from __future__ import annotations

import functools
import struct

GIF_MAGICS = (b"GIF87a", b"GIF89a")

#: interlace pass layout: (row offset, row step) per GIF89a appendix E
_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _valueerror_boundary(fn):
    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except (struct.error, IndexError) as e:
            raise ValueError(f"malformed GIF bytes: {e}") from e

    return wrapped


def _sub_blocks(raw: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate a GIF sub-block chain; returns (data, pos_after)."""
    out = bytearray()
    while True:
        if pos >= len(raw):
            raise ValueError("truncated GIF sub-block chain")
        n = raw[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        out.extend(raw[pos : pos + n])
        if pos + n > len(raw):
            raise ValueError("truncated GIF sub-block")
        pos += n


def _lzw_decode(min_code_size: int, data: bytes, expected: int) -> bytes:
    """Variable-width LZW per GIF89a; stops after ``expected`` pixels
    (bounded output — same decompression-bomb discipline as
    png_decode's bounded inflate)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()

    # bit reader, LSB-first
    bitpos = 0
    total_bits = len(data) * 8

    def read_code(width: int) -> int | None:
        nonlocal bitpos
        if bitpos + width > total_bits:
            return None
        v = 0
        for i in range(width):
            byte = data[(bitpos + i) >> 3]
            if (byte >> ((bitpos + i) & 7)) & 1:
                v |= 1 << i
        bitpos += width
        return v

    def reset_table():
        return {i: bytes([i]) for i in range(clear)}

    table = reset_table()
    width = min_code_size + 1
    prev: bytes | None = None
    next_code = eoi + 1
    while len(out) < expected:
        code = read_code(width)
        if code is None:
            break  # truncated stream: return what decoded (viewer behavior)
        if code == clear:
            table = reset_table()
            width = min_code_size + 1
            next_code = eoi + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            entry = table.get(code)
            if entry is None:
                raise ValueError("invalid first LZW code")
        elif code in table:
            entry = table[code]
        elif code == next_code:  # the KwKwK case
            entry = prev + prev[:1]
        else:
            raise ValueError("invalid LZW code")
        out.extend(entry)
        if prev is not None and next_code < 4096:
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry
    return bytes(out[:expected])


@_valueerror_boundary
def gif_frames(raw: bytes, max_frames: int = 0) -> tuple[int, int, list[bytes]]:
    """Decode a GIF into composited RGB canvas states.

    Returns (width, height, [rgb_bytes per frame]) where each entry is
    the full w*h*3 canvas AFTER that frame is drawn — transparency and
    disposal applied, i.e. what a viewer displays. ``max_frames`` > 0
    stops early (bounded work for frame sampling)."""
    if raw[:6] not in GIF_MAGICS:
        raise ValueError("not a GIF")
    w, h, flags, bg_idx, _ratio = struct.unpack("<HHBBB", raw[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = raw[pos : pos + 3 * n]
        if len(gct) < 3 * n:
            raise ValueError("truncated GIF global color table")
        pos += 3 * n

    # canvas starts transparent-black; GIF viewers differ on background
    # fill, black is the common canonical choice
    canvas = bytearray(w * h * 3)
    frames: list[bytes] = []
    transparent_idx = -1
    disposal = 0

    while pos < len(raw):
        b = raw[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            label = raw[pos + 1]
            if label == 0xF9:  # graphic control
                block, npos = _sub_blocks(raw, pos + 2)
                if len(block) >= 4:
                    gflags = block[0]
                    disposal = (gflags >> 2) & 0x07
                    transparent_idx = block[3] if gflags & 0x01 else -1
                pos = npos
            else:  # comment / plain text / application: skip
                _, pos = _sub_blocks(raw, pos + 2)
            continue
        if b != 0x2C:  # not an image descriptor: unknown block
            raise ValueError(f"unknown GIF block 0x{b:02X}")

        ix, iy, iw, ih, iflags = struct.unpack("<HHHHB", raw[pos + 1 : pos + 10])
        pos += 10
        if iflags & 0x80:  # local color table
            n = 2 << (iflags & 0x07)
            ct = raw[pos : pos + 3 * n]
            if len(ct) < 3 * n:
                raise ValueError("truncated GIF local color table")
            pos += 3 * n
        else:
            ct = gct
        if ct is None:
            raise ValueError("GIF image with no color table")
        interlaced = bool(iflags & 0x40)
        min_code_size = raw[pos]
        pos += 1
        data, pos = _sub_blocks(raw, pos)
        idx = _lzw_decode(min_code_size, data, iw * ih)
        if len(idx) < iw * ih:
            # truncated frame: pad with transparent (skip) pixels
            idx = idx + bytes([transparent_idx if transparent_idx >= 0 else 0])\
                * (iw * ih - len(idx))

        if interlaced:
            de = bytearray(iw * ih)
            src_row = 0
            for off, step in _INTERLACE_PASSES:
                for y in range(off, ih, step):
                    de[y * iw : (y + 1) * iw] = idx[
                        src_row * iw : (src_row + 1) * iw
                    ]
                    src_row += 1
            idx = bytes(de)

        saved = bytes(canvas) if disposal == 3 else None
        n_colors = len(ct) // 3
        for y in range(ih):
            cy = iy + y
            if cy >= h:
                break
            row = idx[y * iw : (y + 1) * iw]
            for x, ci in enumerate(row):
                cx = ix + x
                if cx >= w or ci == transparent_idx:
                    continue
                if ci >= n_colors:
                    raise ValueError(
                        f"GIF color index {ci} out of range ({n_colors})"
                    )
                o = (cy * w + cx) * 3
                canvas[o : o + 3] = ct[ci * 3 : ci * 3 + 3]
        frames.append(bytes(canvas))
        if max_frames and len(frames) >= max_frames:
            break

        # disposal AFTER the frame displays, affects the next frame
        if disposal == 2:  # restore to background
            # background color comes from the GLOBAL table per spec —
            # indexing the current (possibly local, shorter) table with
            # the global background index could slice short and corrupt
            # the canvas length for every later frame
            bg = (
                gct[bg_idx * 3 : bg_idx * 3 + 3]
                if gct is not None and bg_idx < len(gct) // 3
                and transparent_idx != bg_idx
                else b"\x00\x00\x00"
            )
            for y in range(ih):
                cy = iy + y
                if cy >= h:
                    break
                for x in range(iw):
                    cx = ix + x
                    if cx >= w:
                        continue
                    o = (cy * w + cx) * 3
                    canvas[o : o + 3] = bg
        elif disposal == 3 and saved is not None:  # restore previous
            canvas = bytearray(saved)
        disposal = 0
        transparent_idx = -1

    if not frames:
        raise ValueError("GIF contains no image data")
    return w, h, frames


@_valueerror_boundary
def gif_decode(raw: bytes) -> tuple[int, int, int, bytes]:
    """First displayed frame as (width, height, 3, rgb_bytes) — the
    still-image view of a (possibly animated) GIF."""
    w, h, frames = gif_frames(raw, max_frames=1)
    return w, h, 3, frames[0]
