"""Baseline JPEG codec (functions/jpeg.py) and GIF LZW codec
(functions/gif.py): round trips, handcrafted known-bytes streams
(so a shared encoder/decoder transform bug cannot cancel), malformed
input boundaries, and the multimodal-ladder integration that makes
JPEG/GIF payloads first-class in frame sampling."""

import struct

import numpy as np
import pytest

from clinvar_pipeline_spark.functions.codec_oracle import gif_encode, jpeg_encode
from clinvar_pipeline_spark.functions.gif import (
    _lzw_decode,
    gif_decode,
    gif_frames,
)
from clinvar_pipeline_spark.functions.jpeg import jpeg_decode
from clinvar_pipeline_spark.functions.png import gif_info, jpeg_info, png_decode


# ---------------------------------------------------------------------------
# JPEG
# ---------------------------------------------------------------------------


def _gradient_rgb(w, h):
    img = np.zeros((h, w, 3), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            img[y, x] = (x * 7 % 256, y * 11 % 256, (x + y) * 5 % 256)
    return img


def test_jpeg_rgb_roundtrip_close():
    w, h = 33, 24  # non-multiple-of-8 both ways: exercises edge padding
    img = _gradient_rgb(w, h)
    raw = jpeg_encode(w, h, 3, img.tobytes())
    assert jpeg_info(raw) == (w, h)  # header parser agrees with encoder
    dw, dh, ch, px = jpeg_decode(raw)
    assert (dw, dh, ch) == (w, h, 3)
    dec = np.frombuffer(px, dtype=np.uint8).reshape(h, w, 3).astype(float)
    err = np.abs(dec - img.astype(float))
    # uniform quant step 16: worst-case block error stays bounded; the
    # modular gradient has hard wrap edges, so allow ringing headroom
    assert err.max() <= 48, err.max()
    assert err.mean() <= 8, err.mean()


def test_jpeg_grayscale_roundtrip_close():
    g = np.arange(256, dtype=np.uint8).reshape(16, 16)
    raw = jpeg_encode(16, 16, 1, g.tobytes())
    dw, dh, ch, px = jpeg_decode(raw)
    assert (dw, dh, ch) == (16, 16, 1)
    dec = np.frombuffer(px, dtype=np.uint8).reshape(16, 16).astype(float)
    assert np.abs(dec - g.astype(float)).max() <= 16


def test_jpeg_flat_image_near_exact():
    flat = bytes([100]) * 64
    dw, dh, ch, px = jpeg_decode(jpeg_encode(8, 8, 1, flat))
    assert set(px) == {100}


def _seg(marker, payload):
    return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload


def _handcrafted_dc_only_jpeg():
    """8x8 grayscale baseline JPEG built byte-by-byte, independent of
    jpeg_encode: quant all-16, one DC Huffman code (symbol 2 at code
    '0'), one AC code (EOB at '0'), entropy bits 0|10|0 -> DC diff
    EXTEND(0b10, 2) = 2 -> coefficient 32 -> flat pixel 32/8+128=132."""
    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, b"\x00" + bytes([16] * 64))
    out += _seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + b"\x01\x11\x00")
    dc_bits = bytes([1] + [0] * 15)  # one code, length 1
    out += _seg(0xC4, b"\x00" + dc_bits + bytes([2]))  # DC: size-2 symbol
    out += _seg(0xC4, b"\x10" + dc_bits + bytes([0x00]))  # AC: EOB
    out += _seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")
    out += bytes([0b01001111])  # 0 | 10 | 0 | 1111 padding
    out += b"\xff\xd9"
    return bytes(out)


def test_jpeg_decode_handcrafted_known_bytes():
    dw, dh, ch, px = jpeg_decode(_handcrafted_dc_only_jpeg())
    assert (dw, dh, ch) == (8, 8, 1)
    assert set(px) == {132}


def _handcrafted_420_jpeg():
    """16x16 3-component 4:2:0 JPEG: one MCU of 4 Y blocks + Cb + Cr,
    all DC-only (Y diff 2 then 0s; chroma diffs 0) -> flat gray 132.
    Exercises the decoder's sampling-factor block loop and chroma
    upsampling, which the 4:4:4 encoder never emits."""
    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, b"\x00" + bytes([16] * 64))
    sof = struct.pack(">BHHB", 8, 16, 16, 3)
    sof += b"\x01\x22\x00" + b"\x02\x11\x00" + b"\x03\x11\x00"
    out += _seg(0xC0, sof)
    # shared tables: DC sizes 0 and 2 at lengths 1/2; AC: EOB only
    dc_bits = bytes([1, 1] + [0] * 14)
    out += _seg(0xC4, b"\x00" + dc_bits + bytes([0, 2]))  # '0'->size0, '10'->size2
    ac_bits = bytes([1] + [0] * 15)
    out += _seg(0xC4, b"\x10" + ac_bits + bytes([0x00]))
    out += _seg(0xDA, b"\x03\x01\x00\x02\x00\x03\x00\x00\x3f\x00")
    # Y1: size2 '10' + bits '10' (diff 2), EOB '0'  -> 5 bits
    # Y2..Y4: size0 '0', EOB '0'                    -> 2 bits each
    # Cb, Cr: size0 '0', EOB '0'                    -> 2 bits each
    bits = "10100" + "00" * 3 + "00" * 2
    bits += "1" * (-len(bits) % 8)
    out += bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))
    out += b"\xff\xd9"
    return bytes(out)


def test_jpeg_decode_420_subsampling():
    dw, dh, ch, px = jpeg_decode(_handcrafted_420_jpeg())
    assert (dw, dh, ch) == (16, 16, 3)
    arr = np.frombuffer(px, dtype=np.uint8)
    # Y=132 uniform, chroma neutral (128) -> RGB all 132
    assert set(arr.tolist()) == {132}


def test_jpeg_restart_markers():
    """DRI + RSTn: re-encode a 24x8 grayscale stream with restart
    interval 1 by splicing markers between MCUs is overkill — instead
    decode our encoder's output with an injected DRI segment and
    RST markers between MCU byte groups would desync; so pin the
    simpler contract: a DRI of 0 (no restarts) decodes identically."""
    g = np.arange(64, dtype=np.uint8).reshape(8, 8)
    raw = jpeg_encode(8, 8, 1, g.tobytes())
    # splice a DRI=0 segment right before SOS
    sos_at = raw.find(b"\xff\xda")
    with_dri = raw[:sos_at] + _seg(0xDD, b"\x00\x00") + raw[sos_at:]
    assert jpeg_decode(with_dri) == jpeg_decode(raw)


def test_jpeg_malformed_raises_valueerror_only():
    good = jpeg_encode(8, 8, 1, bytes(64))
    for bad in (
        b"",
        b"\xff\xd8",
        b"not a jpeg at all",
        good[:20],
        good[:2] + b"\xff\xc2" + good[4:],  # progressive SOF2
        good[: len(good) // 2],  # truncated entropy data
    ):
        with pytest.raises(ValueError):
            jpeg_decode(bad)


def test_jpeg_encode_input_validation():
    with pytest.raises(ValueError):
        jpeg_encode(8, 8, 2, bytes(128))  # 2 channels unsupported
    with pytest.raises(ValueError):
        jpeg_encode(8, 8, 1, bytes(63))  # short buffer


# ---------------------------------------------------------------------------
# GIF
# ---------------------------------------------------------------------------


def test_gif_single_frame_exact_roundtrip():
    w, h = 13, 9
    frame = bytes((x * 17 + y * 5) % 256 for y in range(h) for x in range(w))
    raw = gif_encode(w, h, [frame])
    assert gif_info(raw) == (w, h)
    dw, dh, ch, px = gif_decode(raw)
    assert (dw, dh, ch) == (w, h, 3)
    # grayscale identity palette: every RGB triple equals its index
    assert all(
        px[3 * i] == px[3 * i + 1] == px[3 * i + 2] == frame[i]
        for i in range(w * h)
    )


def test_gif_interlaced_matches_progressive():
    w, h = 11, 10
    frame = bytes((x + 3 * y) % 256 for y in range(h) for x in range(w))
    plain = gif_decode(gif_encode(w, h, [frame]))
    inter = gif_decode(gif_encode(w, h, [frame], interlace_first=True))
    assert plain == inter


def test_gif_lzw_clear_code_budget():
    # >243 pixels forces the encoder's mid-stream CLEAR refresh; the
    # decode must still be lossless
    w, h = 40, 30
    frame = bytes((x + y) % 256 for y in range(h) for x in range(w))
    dw, dh, ch, px = gif_decode(gif_encode(w, h, [frame]))
    assert all(px[3 * i] == frame[i] for i in range(w * h))


def test_gif_animation_frames_composited():
    w, h = 6, 4
    frames = [bytes([v] * (w * h)) for v in (10, 20, 30)]
    dw, dh, states = gif_frames(gif_encode(w, h, frames))
    assert (dw, dh) == (w, h)
    assert [s[0] for s in states] == [10, 20, 30]
    assert all(len(s) == w * h * 3 for s in states)


def test_gif_partial_frame_overlays_previous_canvas():
    """Hand-built animation: full 4x4 frame of index 50, then a 2x2
    frame of index 200 at offset (1,1) — the composited second state
    keeps 50 outside the sub-rectangle (disposal 1 = leave in place)."""
    from clinvar_pipeline_spark.functions.codec_oracle import _lzw_encode_literals

    w, h = 4, 4
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    out += bytes(v for i in range(256) for v in (i, i, i))

    def image(ix, iy, iw, ih, indices):
        blk = bytearray()
        blk += b"\x21\xf9\x04\x04\x0a\x00\x00\x00"  # GCE disposal 1
        blk += struct.pack("<BHHHHB", 0x2C, ix, iy, iw, ih, 0)
        blk.append(8)
        stream = _lzw_encode_literals(indices, 8)
        for i in range(0, len(stream), 255):
            chunk = stream[i : i + 255]
            blk.append(len(chunk))
            blk += chunk
        blk.append(0)
        return blk

    out += image(0, 0, 4, 4, bytes([50] * 16))
    out += image(1, 1, 2, 2, bytes([200] * 4))
    out.append(0x3B)

    dw, dh, states = gif_frames(bytes(out))
    assert len(states) == 2
    second = np.frombuffer(states[1], dtype=np.uint8).reshape(h, w, 3)
    assert second[0, 0, 0] == 50  # outside the overlay: previous canvas
    assert second[1, 1, 0] == 200  # inside the overlay
    assert second[2, 2, 0] == 200
    assert second[3, 3, 0] == 50


def test_gif_transparency_keeps_previous_pixels():
    from clinvar_pipeline_spark.functions.codec_oracle import _lzw_encode_literals

    w, h = 3, 1
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    out += bytes(v for i in range(256) for v in (i, i, i))
    # frame 1: [7, 8, 9]; frame 2: [1, T, 2] with transparent index 99
    out += b"\x21\xf9\x04\x04\x0a\x00\x00\x00"
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
    out.append(8)
    s = _lzw_encode_literals(bytes([7, 8, 9]), 8)
    out.append(len(s)); out += s; out.append(0)
    out += b"\x21\xf9\x04" + bytes([0x05, 0x0A, 0x00, 99]) + b"\x00"
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
    out.append(8)
    s = _lzw_encode_literals(bytes([1, 99, 2]), 8)
    out.append(len(s)); out += s; out.append(0)
    out.append(0x3B)

    _, _, states = gif_frames(bytes(out))
    got = [states[1][3 * i] for i in range(3)]
    assert got == [1, 8, 2]  # middle pixel shows through from frame 1


def test_gif_lzw_kwkwk_case():
    """The code-equals-next_code LZW corner (cScSc): stream CLEAR, 1,
    6 with min code size 2 — code 6 is not yet in the table and must
    decode as prev + prev[0]."""
    codes, width = [4, 1, 6, 5], 3  # clear=4, eoi=5
    acc = n = 0
    data = bytearray()
    for c in codes:
        acc |= c << n
        n += width
        while n >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            n -= 8
    if n:
        data.append(acc & 0xFF)
    assert _lzw_decode(2, bytes(data), 3) == b"\x01\x01\x01"


def test_gif_malformed_raises_valueerror_only():
    good = gif_encode(4, 4, [bytes(16)])
    for bad in (b"", b"GIF89a", b"NOTAGIF!", good[:15], good[:30]):
        with pytest.raises(ValueError):
            gif_decode(bad)


# ---------------------------------------------------------------------------
# Multimodal ladder integration (Spark)
# ---------------------------------------------------------------------------


def test_sample_frames_animated_gif_temporal(spark):
    from clinvar_pipeline_spark.operators.multimodal import sample_frames

    w, h = 5, 3
    anim = gif_encode(w, h, [bytes([v] * (w * h)) for v in (11, 22, 33, 44)])
    df = spark.createDataFrame([(1, anim)], "id long, content binary")
    frames = sorted(
        sample_frames(df, n_frames=2).collect(), key=lambda r: r["frame_idx"]
    )
    assert len(frames) == 2  # evenly sampled from the 4 animation states
    vals = []
    for r in frames:
        fw, fh, ch, px = png_decode(bytes(r["frame_bytes"]))
        assert (fw, fh, ch) == (w, h, 3)  # full canvas, not a band
        vals.append(px[0])
    assert vals == [11, 33]  # states 0 and 2 of [11, 22, 33, 44]


def test_sample_frames_jpeg_bands(spark):
    from clinvar_pipeline_spark.operators.multimodal import sample_frames

    img = _gradient_rgb(16, 8)
    jpg = jpeg_encode(16, 8, 3, img.tobytes())
    df = spark.createDataFrame([(1, jpg)], "id long, content binary")
    frames = sample_frames(df, n_frames=4).collect()
    assert len(frames) == 4
    for r in frames:
        fw, fh, ch, _px = png_decode(bytes(r["frame_bytes"]))
        assert (fw, fh, ch) == (16, 2, 3)  # horizontal pixel bands


def test_gif_disposal2_local_table_uses_global_background():
    """Regression: with disposal=2 and a frame whose LOCAL color table
    is shorter than the global background index, the background fill
    must come from the GLOBAL table (per spec) — indexing the local
    table sliced short and corrupted the canvas length for every later
    frame."""
    import struct as _s

    from clinvar_pipeline_spark.functions.codec_oracle import _lzw_encode_literals
    from clinvar_pipeline_spark.functions.gif import gif_frames

    w = h = 2
    # global table: 4 entries, background index 3 = blue
    gct = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 200])
    bg_idx = 3
    header = (
        b"GIF89a"
        + _s.pack("<HHBBB", w, h, 0x80 | 0x01, bg_idx, 0)  # gct, 4 colors
        + gct
    )
    # frame 1: 2-entry LOCAL table (white/black), disposal=2,
    # all pixels index 1 (black)
    gce1 = bytes([0x21, 0xF9, 4, 0x08, 0, 0, 0, 0])  # disposal=2
    lct = bytes([255, 255, 255, 0, 0, 0])
    lzw1 = _lzw_encode_literals(bytes([1, 1, 1, 1]), 2)
    img1 = (
        bytes([0x2C]) + _s.pack("<HHHH", 0, 0, w, h)
        + bytes([0x80])  # local color table, 2 entries
        + lct
        + bytes([2])  # lzw min code size
        + bytes([len(lzw1)]) + lzw1  # one data sub-block
        + bytes([0])
    )
    # frame 2: uses the global table, draws index 0 (red) everywhere
    lzw2 = _lzw_encode_literals(bytes([0, 0, 0, 0]), 2)
    img2 = (
        bytes([0x2C]) + _s.pack("<HHHH", 0, 0, w, h)
        + bytes([0x00])
        + bytes([2])
        + bytes([len(lzw2)]) + lzw2
        + bytes([0])
    )
    raw = header + gce1 + img1 + img2 + bytes([0x3B])
    w2, h2, states = gif_frames(raw)
    assert (w2, h2, len(states)) == (2, 2, 2)
    # every canvas state keeps its full length (no corruption)
    assert all(len(s) == w * h * 3 for s in states)
    assert states[0][:3] == bytes([0, 0, 0])  # frame 1: local black
    assert states[1][:3] == bytes([255, 0, 0])  # frame 2: global red
