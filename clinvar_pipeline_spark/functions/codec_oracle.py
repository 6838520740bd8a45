"""Encoders for the pure-Python media codecs in this package: GIF,
baseline JPEG, Y4M and PCM WAV, plus the WAV time-window reference.

The decoders (functions/{gif,jpeg,y4m,wav}.py) are product code; these
encoders are their test-side counterpart. They build valid inputs in a
container with no PIL or ffmpeg, so the tests can round-trip real
files through the decoders and pin ``sample_frames`` against an
independent windowing of the same WAV bytes. No product path calls
them.

Everything here is public knowledge: the GIF89a specification, ITU-T
T.81 and the JFIF spec, the YUV4MPEG2 header format, BT.601, and the
RIFF/WAVE layout.
"""

from __future__ import annotations

import struct

import numpy as np

from clinvar_pipeline_spark.functions.gif import _INTERLACE_PASSES
from clinvar_pipeline_spark.functions.jpeg import _A, ZIGZAG
from clinvar_pipeline_spark.functions.wav import wav_info
from clinvar_pipeline_spark.functions.y4m import _PLANE_DIVS

# ---------------------------------------------------------------------------
# GIF89a (clear-code-refresh LZW)
# ---------------------------------------------------------------------------


def _lzw_encode_literals(indices: bytes, min_code_size: int) -> bytes:
    """LZW stream of pure literal codes at ``min_code_size + 1`` bits,
    emitting CLEAR whenever the decoder's table is about to force a
    width bump — the classic 'uncompressed GIF' strategy. Valid input
    for any conforming decoder."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    # decoder table after CLEAR: eoi+1 entries; grows by 1 per code
    # after the first. Stay below 2**width - 1 so width never bumps.
    budget = (1 << width) - (eoi + 1) - 1
    count = 0
    for ci in indices:
        if count == budget:
            emit(clear)
            count = 0
        emit(ci)
        count += 1
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def gif_encode(
    w: int,
    h: int,
    frames: list[bytes],
    palette: bytes | None = None,
    interlace_first: bool = False,
) -> bytes:
    """Encode one or more w*h index-byte frames as GIF89a with a
    256-entry color table (default: grayscale identity palette, so
    index i renders as RGB(i,i,i))."""
    if palette is None:
        palette = bytes(v for i in range(256) for v in (i, i, i))
    if len(palette) != 768:
        raise ValueError("palette must be 256 RGB entries")
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # GCT, 256 entries
    out += palette
    if len(frames) > 1:  # NETSCAPE looping block, the animation marker
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for fi, frame in enumerate(frames):
        if len(frame) != w * h:
            raise ValueError("frame size does not match dimensions")
        if len(frames) > 1:
            # graphic control: 10cs delay, no transparency, disposal 1
            out += b"\x21\xf9\x04\x04\x0a\x00\x00\x00"
        interlaced = interlace_first and fi == 0
        out += struct.pack(
            "<BHHHHB", 0x2C, 0, 0, w, h, 0x40 if interlaced else 0
        )
        idx = bytes(frame)
        if interlaced:
            rows = []
            for off, step in _INTERLACE_PASSES:
                for y in range(off, h, step):
                    rows.append(idx[y * w : (y + 1) * w])
            idx = b"".join(rows)
        out.append(8)  # min LZW code size
        stream = _lzw_encode_literals(idx, 8)
        for i in range(0, len(stream), 255):
            chunk = stream[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out.append(0x3B)
    return bytes(out)


# ---------------------------------------------------------------------------
# Baseline JPEG (4:4:4, flat Huffman tables, uniform quantization)
# ---------------------------------------------------------------------------

# flat canonical tables: all DC symbols (sizes 0..11) at length 4,
# all 162 AC symbols at length 8 — valid Huffman (Kraft holds, the
# all-ones code stays unassigned), trivially canonical
_DC_SYMBOLS = bytes(range(12))
_DC_BITS = [0, 0, 0, 12] + [0] * 12
_AC_SYMBOLS = bytes(
    [0x00, 0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 162] + [0] * 8
_QUANT = 16  # uniform quantizer step


def _encode_tables() -> tuple[dict, dict]:
    """symbol -> (length, code) for the flat tables above."""
    def enc(bits, values):
        table = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                table[values[k]] = (length, code)
                k += 1
                code += 1
            code <<= 1
        return table

    return enc(_DC_BITS, _DC_SYMBOLS), enc(_AC_BITS, _AC_SYMBOLS)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:  # byte stuffing
                    self.out.append(0x00)
                self.acc = 0
                self.n = 0

    def flush(self) -> bytes:
        if self.n:
            self.acc <<= 8 - self.n
            self.acc |= (1 << (8 - self.n)) - 1  # pad with 1s per T.81
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.n = 0
        return bytes(self.out)


def _csize(v: int) -> int:
    """Magnitude category (number of bits) of a coefficient value."""
    return int(abs(v)).bit_length()


def jpeg_encode(w: int, h: int, channels: int, pixels: bytes) -> bytes:
    """Encode raw 8-bit pixels (1=gray, 3=RGB interleaved) as a real
    baseline JFIF JPEG (4:4:4, uniform quantization step 16)."""
    if channels not in (1, 3):
        raise ValueError("jpeg_encode supports 1 or 3 channels")
    if len(pixels) != w * h * channels:
        raise ValueError("pixel buffer does not match dimensions")
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, channels)

    if channels == 3:
        rf = img[..., 0].astype(np.float64)
        gf = img[..., 1].astype(np.float64)
        bf = img[..., 2].astype(np.float64)
        yy = 0.299 * rf + 0.587 * gf + 0.114 * bf
        cb = -0.168736 * rf - 0.331264 * gf + 0.5 * bf + 128.0
        cr = 0.5 * rf - 0.418688 * gf - 0.081312 * bf + 128.0
        comps = [yy, cb, cr]
    else:
        comps = [img[..., 0].astype(np.float64)]

    # pad each plane to 8x8 blocks by edge replication
    bw, bh = (w + 7) // 8 * 8, (h + 7) // 8 * 8
    padded = []
    for p in comps:
        pp = np.empty((bh, bw), dtype=np.float64)
        pp[:h, :w] = p
        pp[:h, w:] = p[:, -1:]
        pp[h:, :] = pp[h - 1 : h, :]
        padded.append(pp)

    dc_tab, ac_tab = _encode_tables()
    writer = _BitWriter()
    dc_pred = [0] * len(comps)
    inv_zz = ZIGZAG  # coeff order: flat[ZIGZAG[i]] is i-th zigzag coeff
    for my in range(bh // 8):
        for mx in range(bw // 8):
            for ci, p in enumerate(padded):
                block = p[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] - 128.0
                coeffs = _A @ block @ _A.T
                q = np.round(coeffs / _QUANT).astype(np.int64)
                zz = q.reshape(-1)[inv_zz]
                diff = int(zz[0]) - dc_pred[ci]
                dc_pred[ci] = int(zz[0])
                size = _csize(diff)
                length, code = dc_tab[size]
                writer.write(code, length)
                if size:
                    v = diff if diff >= 0 else diff + (1 << size) - 1
                    writer.write(v & ((1 << size) - 1), size)
                run = 0
                last_nz = max(
                    (i for i in range(1, 64) if zz[i]), default=0
                )
                for k in range(1, last_nz + 1):
                    v = int(zz[k])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        length, code = ac_tab[0xF0]
                        writer.write(code, length)
                        run -= 16
                    size = _csize(v)
                    length, code = ac_tab[(run << 4) | size]
                    writer.write(code, length)
                    ev = v if v >= 0 else v + (1 << size) - 1
                    writer.write(ev & ((1 << size) - 1), size)
                    run = 0
                if last_nz < 63:
                    length, code = ac_tab[0x00]  # EOB
                    writer.write(code, length)
    data = writer.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    zz_q = bytes([_QUANT] * 64)
    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, b"\x00" + zz_q)
    if channels == 3:
        out += seg(0xDB, b"\x01" + zz_q)
    sof = struct.pack(">BHHB", 8, h, w, channels)
    for c in range(channels):
        sof += struct.pack(">BBB", c + 1, 0x11, 0 if c == 0 else 1)
    out += seg(0xC0, sof)
    out += seg(0xC4, b"\x00" + bytes(_DC_BITS) + _DC_SYMBOLS)
    out += seg(0xC4, b"\x10" + bytes(_AC_BITS) + _AC_SYMBOLS)
    if channels == 3:
        out += seg(0xC4, b"\x01" + bytes(_DC_BITS) + _DC_SYMBOLS)
        out += seg(0xC4, b"\x11" + bytes(_AC_BITS) + _AC_SYMBOLS)
    sos = bytes([channels])
    for c in range(channels):
        sos += struct.pack(">BB", c + 1, 0x00 if c == 0 else 0x11)
    sos += b"\x00\x3f\x00"
    out += seg(0xDA, sos)
    out += data
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# YUV4MPEG2
# ---------------------------------------------------------------------------


def y4m_encode(
    w: int,
    h: int,
    rgb_frames: list[bytes],
    fps: tuple[int, int] = (25, 1),
    chroma: str = "444",
) -> bytes:
    """RGB888 frames → BT.601
    limited-range planar YUV in a spec-conformant stream."""
    if chroma not in _PLANE_DIVS or _PLANE_DIVS[chroma] is None:
        raise ValueError("y4m_encode: supported chroma are 444/420*")
    xdiv, ydiv = _PLANE_DIVS[chroma]
    head = (
        f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 C{chroma}\n"
    ).encode()
    out = bytearray(head)
    cw, ch_ = -(-w // xdiv), -(-h // ydiv)
    for fr in rgb_frames:
        if len(fr) != w * h * 3:
            raise ValueError("y4m_encode: frame size mismatch")
        yp = bytearray(w * h)
        up = bytearray(cw * ch_)
        vp = bytearray(cw * ch_)
        usum = [[0, 0] for _ in range(cw * ch_)]  # (sum, n)
        vsum = [[0, 0] for _ in range(cw * ch_)]
        for yy in range(h):
            for xx in range(w):
                o = (yy * w + xx) * 3
                r, g, b = fr[o], fr[o + 1], fr[o + 2]
                yv = (66 * r + 129 * g + 25 * b + 128 >> 8) + 16
                uv = (-38 * r - 74 * g + 112 * b + 128 >> 8) + 128
                vv = (112 * r - 94 * g - 18 * b + 128 >> 8) + 128
                yp[yy * w + xx] = max(16, min(235, yv))
                ci = (yy // ydiv) * cw + (xx // xdiv)
                usum[ci][0] += max(16, min(240, uv))
                usum[ci][1] += 1
                vsum[ci][0] += max(16, min(240, vv))
                vsum[ci][1] += 1
        for ci in range(cw * ch_):
            up[ci] = usum[ci][0] // max(usum[ci][1], 1)
            vp[ci] = vsum[ci][0] // max(vsum[ci][1], 1)
        out += b"FRAME\n" + bytes(yp) + bytes(up) + bytes(vp)
    return bytes(out)


# ---------------------------------------------------------------------------
# PCM WAV
# ---------------------------------------------------------------------------


def wav_window(raw: bytes, at_sample: int, n_samples: int) -> bytes:
    """Seek+slice: the PCM bytes for ``n_samples`` sample-frames
    starting at ``at_sample`` (clamped to the stream end) — real audio
    windowing, no decode needed for integer PCM."""
    info = wav_info(raw)
    frame = info["channels"] * info["bits"] // 8
    lo = min(at_sample, info["n_samples"]) * frame
    hi = min(at_sample + n_samples, info["n_samples"]) * frame
    return raw[info["data_off"] + lo: info["data_off"] + hi]


def wav_encode(
    samples: list[int], sample_rate: int = 8000, channels: int = 1,
    bits: int = 16,
) -> bytes:
    """Minimal PCM encoder. ``samples`` are
    interleaved integer sample values."""
    if bits == 16:
        data = b"".join(struct.pack("<h", s) for s in samples)
    elif bits == 8:
        data = bytes((s + 128) & 0xFF for s in samples)
    else:
        raise ValueError("wav_encode: 8/16-bit only")
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate,
        sample_rate * channels * bits // 8, channels * bits // 8, bits,
    )
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    if len(data) & 1:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
