"""Baseline JPEG codec in pure Python + numpy (no libjpeg/PIL).

Closes the one advertised multimodal capability that previously
stopped at header parsing (functions/png.py jpeg_info): a JPEG-heavy
corpus now gets REAL pixel decode in the ``pure`` tier of the
multimodal decode ladder (operators/multimodal.py) instead of falling
to the deterministic fake.

Scope — baseline sequential DCT (SOF0), 8-bit, 1 or 3 components,
arbitrary h/v chroma sampling factors (4:4:4 / 4:2:2 / 4:2:0 ...),
restart markers, 8- and 16-bit quantization tables. Progressive
(SOF2), arithmetic coding, and 12-bit precision raise ValueError and
the caller's ladder decides (metadata still comes from jpeg_info).

The matching test-side encoder is functions/codec_oracle.jpeg_encode.
decode(encode(x)) is lossy but pixel-close; tests pin both the round
trip and a handcrafted known-bytes stream, so a shared transform bug
cannot cancel out.

Everything here is public knowledge: ITU-T T.81 (the JPEG spec),
the JFIF spec, and the BT.601 YCbCr matrix.
"""

from __future__ import annotations

import functools
import struct

import numpy as np

# ---------------------------------------------------------------------------
# Shared transform pieces
# ---------------------------------------------------------------------------

#: zigzag order: ZIGZAG[i] = raster index of the i-th zigzag coefficient
ZIGZAG = np.array(
    [
        0,  1,  8, 16,  9,  2,  3, 10,
       17, 24, 32, 25, 18, 11,  4,  5,
       12, 19, 26, 33, 40, 48, 41, 34,
       27, 20, 13,  6,  7, 14, 21, 28,
       35, 42, 49, 56, 57, 50, 43, 36,
       29, 22, 15, 23, 30, 37, 44, 51,
       58, 59, 52, 45, 38, 31, 39, 46,
       53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int32,
)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II basis: coeffs = A @ X @ A.T, X = A.T @ C @ A."""
    k = np.arange(8).reshape(-1, 1)
    n = np.arange(8).reshape(1, -1)
    a = np.sqrt(2.0 / 8.0) * np.cos((2 * n + 1) * k * np.pi / 16.0)
    a[0, :] = np.sqrt(1.0 / 8.0)
    return a


_A = _dct_matrix()


def _valueerror_boundary(fn):
    """Same contract as functions/png.py: malformed input raises ONLY
    ValueError (the multimodal kernels' never-crash-a-task boundary)."""

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except (struct.error, IndexError) as e:
            raise ValueError(f"malformed JPEG bytes: {e}") from e

    return wrapped


# ---------------------------------------------------------------------------
# Huffman
# ---------------------------------------------------------------------------


def _build_decode_table(bits: list[int], values: bytes) -> dict:
    """(length, code) -> symbol for a canonical JPEG Huffman table.
    ``bits[i]`` = number of codes of length i+1 (T.81 C.2)."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[k]
            k += 1
            code += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment with 0xFF00
    unstuffing; stops cleanly at any non-RST marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0
        self.marker = None  # set when a non-stuffing marker is hit

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("JPEG entropy data truncated")
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
            if nxt == 0x00:  # stuffed 0xFF data byte
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:  # RSTn consumed by caller
                raise ValueError("restart marker inside coefficient read")
            else:  # EOI / next segment: pad with zeros (T.81 F.2.2.5)
                self.marker = nxt
                b = 0
                self.pos = len(d)
        else:
            self.pos += 1
        self.bitbuf = (self.bitbuf << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_to_restart(self) -> None:
        """Drop partial byte, consume one RSTn marker."""
        self.nbits = 0
        self.bitbuf = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("expected JPEG restart marker")

    def decode_symbol(self, table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map ``size`` raw bits to a signed value."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


@_valueerror_boundary
def jpeg_decode(raw: bytes) -> tuple[int, int, int, bytes]:
    """Full baseline JPEG decode: (width, height, channels, pixel_bytes).

    ``pixel_bytes`` is interleaved rows — 1 byte/pixel for grayscale,
    RGB for 3-component (BT.601 YCbCr conversion, chroma upsampled by
    replication)."""
    if raw[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None  # (w, h, [(cid, h_samp, v_samp, tq)])
    restart_interval = 0
    scan = None  # ([(comp_idx, dc_id, ac_id)], data_pos)

    pos = 2
    while pos + 4 <= len(raw):
        if raw[pos] != 0xFF:
            pos += 1
            continue
        marker = raw[pos + 1]
        if marker in (0xFF, 0x01) or 0xD0 <= marker <= 0xD9:
            pos += 1 if marker == 0xFF else 2
            continue
        (seglen,) = struct.unpack(">H", raw[pos + 2 : pos + 4])
        seg = raw[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                i += 1
                if pq == 0:
                    tbl = np.frombuffer(seg[i : i + 64], dtype=np.uint8)
                    i += 64
                else:
                    tbl = np.frombuffer(seg[i : i + 128], dtype=">u2")
                    i += 128
                if tbl.size != 64:
                    raise ValueError("short DQT segment")
                zz = np.zeros(64, dtype=np.float64)
                zz[ZIGZAG] = tbl.astype(np.float64)
                qt[tq] = zz.reshape(8, 8)
        elif marker == 0xC4:  # DHT
            i = 0
            while i + 17 <= len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                values = seg[i + 17 : i + 17 + n]
                if len(values) != n:
                    raise ValueError("short DHT segment")
                (huff_dc if tc == 0 else huff_ac)[th] = _build_decode_table(
                    bits, values
                )
                i += 17 + n
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker in (0xC0, 0xC1):  # baseline / extended sequential
            precision, h, w, ncomp = struct.unpack(">BHHB", seg[:6])
            if precision != 8:
                raise ValueError(f"unsupported JPEG precision {precision}")
            comps = []
            for c in range(ncomp):
                cid, hv, tq = struct.unpack(
                    ">BBB", seg[6 + 3 * c : 9 + 3 * c]
                )
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            frame = (w, h, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG frame type 0xFF{marker:02X} (not baseline)"
            )
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            by_cid = {c[0]: i for i, c in enumerate(frame[2])}
            mapping = []
            for s in range(ns):
                cs, tables = seg[1 + 2 * s], seg[2 + 2 * s]
                if cs not in by_cid:
                    raise ValueError(f"JPEG scan references unknown component {cs}")
                mapping.append((by_cid[cs], tables >> 4, tables & 0x0F))
            scan = (mapping, pos + 2 + seglen)
            break
        pos += 2 + seglen

    if frame is None or scan is None:
        raise ValueError("JPEG missing SOF/SOS")
    w, h, comps = frame
    if w == 0 or h == 0:
        raise ValueError("empty JPEG frame")
    mapping, data_pos = scan
    if len(mapping) != len(comps):
        raise ValueError("JPEG non-interleaved multi-scan not supported")

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = (w + mcu_w - 1) // mcu_w
    mcus_y = (h + mcu_h - 1) // mcu_h

    # per-component pixel planes at that component's native resolution
    planes = []
    for _cid, ch, cv, _tq in comps:
        planes.append(
            np.zeros((mcus_y * cv * 8, mcus_x * ch * 8), dtype=np.float64)
        )

    reader = _BitReader(raw, data_pos)
    dc_pred = [0] * len(comps)
    n_mcu = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                reader.align_to_restart()
                dc_pred = [0] * len(comps)
            for comp_idx, dc_id, ac_id in mapping:
                _cid, ch, cv, tq = comps[comp_idx]
                if tq not in qt:
                    raise ValueError(f"JPEG missing quant table {tq}")
                dct = huff_dc.get(dc_id)
                act = huff_ac.get(ac_id)
                if dct is None or act is None:
                    raise ValueError("JPEG missing Huffman table")
                for by in range(cv):
                    for bx in range(ch):
                        zz = np.zeros(64, dtype=np.float64)
                        size = reader.decode_symbol(dct)
                        diff = _extend(reader.read_bits(size), size)
                        dc_pred[comp_idx] += diff
                        zz[0] = dc_pred[comp_idx]
                        k = 1
                        while k < 64:
                            rs = reader.decode_symbol(act)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC index overflow")
                            zz[k] = _extend(reader.read_bits(s), s)
                            k += 1
                        block = np.zeros(64, dtype=np.float64)
                        block[ZIGZAG] = zz
                        block = block.reshape(8, 8) * qt[tq]
                        px = _A.T @ block @ _A + 128.0
                        y0 = (my * cv + by) * 8
                        x0 = (mx * ch + bx) * 8
                        planes[comp_idx][y0 : y0 + 8, x0 : x0 + 8] = px
            n_mcu += 1

    # upsample to full resolution by replication, crop to (h, w)
    full = []
    for (_cid, ch, cv, _tq), plane in zip(comps, planes):
        up = np.repeat(np.repeat(plane, vmax // cv, axis=0), hmax // ch, axis=1)
        full.append(up[:h, :w])

    if len(comps) == 1:
        out = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return w, h, 1, out.tobytes()
    if len(comps) != 3:
        raise ValueError(f"unsupported JPEG component count {len(comps)}")
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    out = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    return w, h, 3, out.tobytes()
