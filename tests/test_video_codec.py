"""Y4M codec, MP4 box walker, and the video rungs of the multimodal
ladder: real temporal frame sampling for Y4M, header-tier metadata for
MP4, fake tier for everything else, malformed input never crashing a
task."""

from __future__ import annotations

import struct

import pytest

from clinvar_pipeline_spark.functions import png as pngc
from clinvar_pipeline_spark.functions.mp4 import mp4_info
from clinvar_pipeline_spark.functions.codec_oracle import y4m_encode
from clinvar_pipeline_spark.functions.y4m import y4m_frames, y4m_info
from clinvar_pipeline_spark.operators.multimodal import (
    attach_binary,
    extract_video_meta,
    sample_frames,
)


def _solid(w, h, rgb):
    return bytes(rgb) * (w * h)


def _clip(w=6, h=4, colors=((250, 10, 10), (10, 250, 10), (10, 10, 250),
                            (200, 200, 30), (30, 200, 200))):
    return y4m_encode(w, h, [_solid(w, h, c) for c in colors], fps=(10, 1))


# ---------------------------------------------------------------------
# Y4M codec
# ---------------------------------------------------------------------

def test_y4m_info_and_roundtrip_444():
    raw = _clip()
    w, h, fn, fd, chroma, n = y4m_info(raw)
    assert (w, h, fn, fd, chroma, n) == (6, 4, 10, 1, "444", 5)
    w2, h2, frames = y4m_frames(raw)
    assert (w2, h2, len(frames)) == (6, 4, 5)
    # limited-range YUV round-trip: within a couple of code values
    for fr, (r, g, b) in zip(frames, [(250, 10, 10), (10, 250, 10),
                                      (10, 10, 250), (200, 200, 30),
                                      (30, 200, 200)]):
        px = (fr[0], fr[1], fr[2])
        assert abs(px[0] - r) <= 4 and abs(px[1] - g) <= 4 \
            and abs(px[2] - b) <= 4


def test_y4m_420_chroma_subsampling_roundtrip():
    raw = y4m_encode(8, 8, [_solid(8, 8, (40, 180, 90))], chroma="420")
    w, h, fn, fd, chroma, n = y4m_info(raw)
    assert (w, h, chroma, n) == (8, 8, "420", 1)
    _, _, (fr,) = y4m_frames(raw)
    assert abs(fr[0] - 40) <= 4 and abs(fr[1] - 180) <= 4 \
        and abs(fr[2] - 90) <= 4


def test_y4m_seek_decodes_only_requested():
    raw = _clip()
    w, h, frames = y4m_frames(raw, [0, 4])
    assert len(frames) == 2
    assert frames[0][:3] != frames[1][:3]  # red vs cyan


@pytest.mark.parametrize(
    "mangle",
    [
        lambda b: b[:20],                         # truncated header
        lambda b: b.replace(b"FRAME", b"FRAMX", 1),  # bad marker
        lambda b: b[:-5],                         # truncated payload
        lambda b: b.replace(b"C444", b"C999", 1),  # unsupported chroma
    ],
)
def test_y4m_malformed_raises_valueerror(mangle):
    raw = _clip()
    with pytest.raises(ValueError):
        y4m_frames(mangle(raw))


# ---------------------------------------------------------------------
# MP4 box walker
# ---------------------------------------------------------------------

def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _minimal_mp4(timescale=1000, duration=5500) -> bytes:
    mvhd = _box(
        b"mvhd",
        b"\x00" + b"\x00" * 3  # version/flags
        + b"\x00" * 8  # creation/modification
        + struct.pack(">I", timescale) + struct.pack(">I", duration)
        + b"\x00" * 80,
    )
    hdlr = _box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)
    stsd = _box(
        b"stsd",
        b"\x00" * 4 + struct.pack(">I", 1)
        + _box(b"avc1", b"\x00" * 20),
    )
    trak = _box(
        b"trak",
        _box(b"tkhd", b"\x00" * 84)
        + _box(b"mdia", hdlr + _box(b"minf", _box(b"stbl", stsd))),
    )
    moov = _box(b"moov", mvhd + trak)
    ftyp = _box(b"ftyp", b"isom" + b"\x00" * 4 + b"isomavc1")
    return ftyp + moov


def test_mp4_info_minimal():
    m = mp4_info(_minimal_mp4())
    assert m["container"] == "isom"
    assert m["timescale"] == 1000 and m["duration"] == 5500
    assert m["duration_s"] == 5.5
    assert m["n_tracks"] == 1
    assert m["handlers"] == ["vide"]
    assert m["codecs"] == ["avc1"]


def test_mp4_malformed_raises():
    with pytest.raises(ValueError):
        mp4_info(b"\x00" * 16)  # no ftyp
    bad = _minimal_mp4()
    # corrupt a box size to overrun its container
    bad = bad[:32] + struct.pack(">I", 1 << 30) + bad[36:]
    with pytest.raises(ValueError):
        mp4_info(bad)


# ---------------------------------------------------------------------
# Spark-side ladder integration
# ---------------------------------------------------------------------

def test_extract_video_meta_tiers(spark):
    rows = [
        (1, bytearray(_clip())),
        (2, bytearray(_minimal_mp4())),
        (3, bytearray(b"not a video at all")),
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = {
        r["id"]: r
        for r in extract_video_meta(
            attach_binary(df, "id", "payload")
        ).collect()
    }
    y = out[1]
    assert (y["container"], y["width"], y["height"], y["fps"],
            y["n_frames"], y["decode_tier"]) == ("y4m", 6, 4, 10.0, 5,
                                                 "pure")
    assert y["duration_s"] == 0.5
    m = out[2]
    assert (m["container"], m["duration_s"], m["n_tracks"], m["codecs"],
            m["decode_tier"]) == ("isom", 5.5, 1, "avc1", "header")
    f = out[3]
    assert f["decode_tier"] == "fake"
    assert f["container"].startswith("fake/")


def test_sample_frames_real_y4m_temporal(spark):
    raw = _clip()  # 5 frames, distinct solid colors
    df = spark.createDataFrame(
        [(7, bytearray(raw))], "id long, payload binary"
    )
    out = sample_frames(
        attach_binary(df, "id", "payload"), n_frames=3
    ).collect()
    assert [r["frame_idx"] for r in out] == [0, 1, 2]
    # picks = [0, 1, 3] of 5 -> red, green, yellow; each emitted frame
    # is a real decodable PNG with the source frame's pixel content
    expect = [(250, 10, 10), (10, 250, 10), (200, 200, 30)]
    for r, (er, eg, eb) in zip(sorted(out, key=lambda r: r["frame_idx"]),
                               expect):
        w, h, ch, px = pngc.png_decode(bytes(r["frame_bytes"]))
        assert (w, h, ch) == (6, 4, 3)
        assert abs(px[0] - er) <= 4 and abs(px[1] - eg) <= 4 \
            and abs(px[2] - eb) <= 4


def test_sample_frames_malformed_y4m_falls_to_byte_slice(spark):
    raw = _clip()[:-5]  # truncated payload
    df = spark.createDataFrame(
        [(9, bytearray(raw))], "id long, payload binary"
    )
    out = sample_frames(
        attach_binary(df, "id", "payload"), n_frames=2, frame_size=8
    ).collect()
    assert len(out) == 2
    assert all(len(r["frame_bytes"]) <= 8 for r in out)


# ---------------------------------------------------------------------
# property tests: Y4M round-trip error bound over random frames
# ---------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=15, deadline=None)
@given(
    st.integers(min_value=1, max_value=8),
    st.integers(min_value=1, max_value=8),
    st.integers(min_value=1, max_value=3),
    st.randoms(use_true_random=False),
)
def test_y4m_444_roundtrip_bounded_error(w, h, n, rnd):
    frames = [
        bytes(rnd.randrange(256) for _ in range(w * h * 3))
        for _ in range(n)
    ]
    raw = y4m_encode(w, h, frames)
    w2, h2, out = y4m_frames(raw)
    assert (w2, h2, len(out)) == (w, h, n)
    # BT.601 limited-range YUV444 quantizes each channel; the
    # round-trip error bound is a few code values per sample
    for fin, fout in zip(frames, out):
        assert all(abs(a - b) <= 6 for a, b in zip(fin, fout))


def test_mp4_tkhd_dims_surface():
    """A tkhd with nonzero 16.16 presentation dims lands width/height
    in mp4_info; the all-zero fixture keeps reporting none (audio
    tracks carry zeros, so zero never wins)."""
    tkhd = (
        b"\x00" * 76
        + struct.pack(">I", 640 << 16)
        + struct.pack(">I", 360 << 16)
    )
    trak = _box(b"trak", _box(b"tkhd", tkhd))
    raw = (
        _box(b"ftyp", b"isom" + b"\x00" * 4)
        + _box(b"moov", trak)
    )
    m = mp4_info(raw)
    assert (m["width"], m["height"]) == (640, 360)
    assert "width" not in mp4_info(_minimal_mp4())
