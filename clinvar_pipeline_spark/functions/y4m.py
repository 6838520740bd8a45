"""Pure-Python YUV4MPEG2 (.y4m) codec — the real-video-frame tier of
the multimodal ladder.

Y4M is the simplest real video container (raw planar YUV frames behind
a text header; mjpegtools/ffmpeg interchange format), which makes
actual seek+decode frame sampling implementable without an entropy
codec: parse the stream header, stride to the requested frame, convert
its planes to RGB. ``operators/multimodal.sample_frames`` uses this
for payloads with the Y4M magic; compressed containers (MP4 et al.)
remain header-parse-only (functions/mp4.py) — full H.26x entropy
decode is out of honest scope for a codec-less container.

Supported chroma: C444, C420 (+jpeg/paldv/mpeg2 siting variants —
siting only affects filtering, not plane sizes), Cmono. Color math is
BT.601 limited-range (the Y4M default), integer-exact and clamped so
encode→decode round-trips within ±2/255 per channel (the encoder is
functions/codec_oracle.y4m_encode).

All reads are bounded by the buffer length; malformed input raises
ValueError (the ladder's uniform failure boundary — never a task
crash).
"""

from __future__ import annotations

Y4M_MAGIC = b"YUV4MPEG2 "

_PLANE_DIVS = {
    # chroma tag -> (x_div, y_div) of each chroma plane; None = no chroma
    "444": (1, 1),
    "420": (2, 2),
    "420jpeg": (2, 2),
    "420mpeg2": (2, 2),
    "420paldv": (2, 2),
    "mono": None,
}


def _parse_header(raw: bytes) -> tuple[int, int, int, int, str, int]:
    """Return (w, h, fps_num, fps_den, chroma, header_end)."""
    if not raw.startswith(Y4M_MAGIC):
        raise ValueError("not a YUV4MPEG2 stream")
    nl = raw.find(b"\n", 0, 512)  # spec headers are short; bound the scan
    if nl < 0:
        raise ValueError("y4m: unterminated stream header")
    w = h = 0
    num, den = 30, 1
    chroma = "420jpeg"  # spec default when C is absent
    for tok in raw[len(Y4M_MAGIC): nl].split(b" "):
        if not tok:
            continue
        tag, val = chr(tok[0]), tok[1:]
        try:
            if tag == "W":
                w = int(val)
            elif tag == "H":
                h = int(val)
            elif tag == "F":
                n, d = val.split(b":")
                num, den = int(n), int(d)
            elif tag == "C":
                chroma = val.decode("ascii")
        except (ValueError, UnicodeDecodeError) as e:  # noqa: F841
            raise ValueError(f"y4m: bad header token {tok!r}") from None
    if w <= 0 or h <= 0 or den <= 0:
        raise ValueError("y4m: missing/invalid W/H/F")
    if chroma not in _PLANE_DIVS:
        raise ValueError(f"y4m: unsupported chroma C{chroma}")
    return w, h, num, den, chroma, nl + 1


def _frame_size(w: int, h: int, chroma: str) -> int:
    div = _PLANE_DIVS[chroma]
    y = w * h
    if div is None:
        return y
    cw, ch_ = -(-w // div[0]), -(-h // div[1])
    return y + 2 * cw * ch_


def y4m_info(raw: bytes) -> tuple[int, int, int, int, str, int]:
    """(w, h, fps_num, fps_den, chroma, n_frames) without decoding
    pixels: frames are located by striding FRAME markers."""
    w, h, num, den, chroma, pos = _parse_header(raw)
    fsz = _frame_size(w, h, chroma)
    n = 0
    while pos < len(raw):
        if raw[pos: pos + 5] != b"FRAME":
            raise ValueError("y4m: expected FRAME marker")
        nl = raw.find(b"\n", pos, pos + 256)
        if nl < 0:
            raise ValueError("y4m: unterminated FRAME header")
        pos = nl + 1 + fsz
        if pos > len(raw):
            raise ValueError("y4m: truncated frame payload")
        n += 1
    return w, h, num, den, chroma, n


def _yuv_to_rgb_row(
    yrow: bytes, urow: bytes, vrow: bytes, w: int, xdiv: int
) -> bytearray:
    out = bytearray(w * 3)
    for x in range(w):
        c = yrow[x] - 16
        cx = x // xdiv
        d = urow[cx] - 128
        e = vrow[cx] - 128
        # BT.601 limited-range, integer form (libyuv constants)
        r = (298 * c + 409 * e + 128) >> 8
        g = (298 * c - 100 * d - 208 * e + 128) >> 8
        b = (298 * c + 516 * d + 128) >> 8
        o = x * 3
        out[o] = 0 if r < 0 else (255 if r > 255 else r)
        out[o + 1] = 0 if g < 0 else (255 if g > 255 else g)
        out[o + 2] = 0 if b < 0 else (255 if b > 255 else b)
    return out


def y4m_frames(
    raw: bytes, frame_indices: list[int] | None = None
) -> tuple[int, int, list[bytes]]:
    """Decode frames to packed RGB888. ``frame_indices`` selects which
    frames to convert (others are strided over, not decoded — the
    'seek' in seek+decode); None decodes all."""
    w, h, num, den, chroma, pos = _parse_header(raw)
    fsz = _frame_size(w, h, chroma)
    div = _PLANE_DIVS[chroma]
    wanted = None if frame_indices is None else set(frame_indices)
    frames: dict[int, bytes] = {}
    idx = 0
    while pos < len(raw):
        if raw[pos: pos + 5] != b"FRAME":
            raise ValueError("y4m: expected FRAME marker")
        nl = raw.find(b"\n", pos, pos + 256)
        if nl < 0:
            raise ValueError("y4m: unterminated FRAME header")
        data_at = nl + 1
        if data_at + fsz > len(raw):
            raise ValueError("y4m: truncated frame payload")
        if wanted is None or idx in wanted:
            frames[idx] = _decode_frame(raw, data_at, w, h, div)
        pos = data_at + fsz
        idx += 1
    if wanted is not None and not wanted.issubset(frames):
        raise ValueError("y4m: frame index out of range")
    order = sorted(frames) if frame_indices is None else frame_indices
    return w, h, [frames[i] for i in order]


def _decode_frame(
    raw: bytes, at: int, w: int, h: int, div: tuple[int, int] | None
) -> bytes:
    ysz = w * h
    if div is None:  # mono: replicate luma (full-range identity on Y)
        out = bytearray(ysz * 3)
        for i in range(ysz):
            c = raw[at + i]
            out[3 * i] = out[3 * i + 1] = out[3 * i + 2] = c
        return bytes(out)
    xdiv, ydiv = div
    cw, ch_ = -(-w // xdiv), -(-h // ydiv)
    u_at = at + ysz
    v_at = u_at + cw * ch_
    out = bytearray()
    for y in range(h):
        yrow = raw[at + y * w: at + (y + 1) * w]
        cy = y // ydiv
        urow = raw[u_at + cy * cw: u_at + (cy + 1) * cw]
        vrow = raw[v_at + cy * cw: v_at + (cy + 1) * cw]
        out += _yuv_to_rgb_row(yrow, urow, vrow, w, xdiv)
    return bytes(out)
