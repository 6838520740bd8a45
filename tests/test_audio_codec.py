"""WAV/PCM parser and the audio rung of the multimodal ladder: real
metadata + time-windowed sampling for PCM WAV, fake tier otherwise,
malformed input never crashing a task."""

from __future__ import annotations

import struct

import pytest

from clinvar_pipeline_spark.functions.codec_oracle import wav_encode, wav_window
from clinvar_pipeline_spark.functions.wav import wav_info
from clinvar_pipeline_spark.operators.multimodal import (
    attach_binary,
    extract_audio_meta,
    sample_frames,
)


def _tone(n=4000):
    # deterministic ramp, 16-bit mono @ 8 kHz: sample i has value i-2000
    return wav_encode([i - 2000 for i in range(n)], sample_rate=8000)


def test_wav_info_roundtrip():
    raw = _tone()
    i = wav_info(raw)
    assert (i["sample_rate"], i["channels"], i["bits"]) == (8000, 1, 16)
    assert i["n_samples"] == 4000
    assert i["duration_s"] == 0.5


def test_wav_window_seeks_by_time():
    raw = _tone()
    w = wav_window(raw, 1000, 4)  # 4 samples starting at sample 1000
    vals = struct.unpack("<4h", w)
    assert vals == (-1000, -999, -998, -997)
    # clamped at the end of stream
    assert len(wav_window(raw, 3998, 10)) == 2 * 2


@pytest.mark.parametrize(
    "mangle",
    [
        lambda b: b[:10],                      # truncated header
        lambda b: b"RIFX" + b[4:],             # wrong magic
        lambda b: b.replace(b"fmt ", b"xxxx"),  # missing fmt
        # non-PCM format tag (3 = IEEE float)
        lambda b: b[:20] + b"\x03" + b[21:],
    ],
)
def test_wav_malformed_raises(mangle):
    with pytest.raises(ValueError):
        wav_info(mangle(_tone()))


def test_extract_audio_meta_tiers(spark):
    rows = [(1, bytearray(_tone())), (2, bytearray(b"mp3-ish junk"))]
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = {
        r["id"]: r
        for r in extract_audio_meta(
            attach_binary(df, "id", "payload")
        ).collect()
    }
    a = out[1]
    assert (a["sample_rate"], a["channels"], a["bits"], a["n_samples"],
            a["duration_s"], a["decode_tier"]) == (8000, 1, 16, 4000,
                                                   0.5, "pure")
    assert out[2]["decode_tier"] == "fake"


def test_sample_frames_wav_time_windows(spark):
    raw = _tone()  # 4000 samples
    df = spark.createDataFrame(
        [(5, bytearray(raw))], "id long, payload binary"
    )
    out = sorted(
        sample_frames(
            attach_binary(df, "id", "payload"), n_frames=4, frame_size=2
        ).collect(),
        key=lambda r: r["frame_idx"],
    )
    assert [r["frame_idx"] for r in out] == [0, 1, 2, 3]
    # windows start at samples 0, 1000, 2000, 3000: 2 samples each
    starts = [
        struct.unpack("<h", bytes(r["frame_bytes"])[:2])[0] for r in out
    ]
    assert starts == [-2000, -1000, 0, 1000]
    assert all(len(r["frame_bytes"]) == 4 for r in out)


# ---------------------------------------------------------------------
# property tests: PCM WAV is lossless end to end
# ---------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-32768, max_value=32767),
        min_size=1,
        max_size=200,
    ),
    st.sampled_from([8000, 16000, 44100]),
)
def test_wav_16bit_roundtrip_lossless(samples, rate):
    raw = wav_encode(samples, sample_rate=rate)
    info = wav_info(raw)
    assert info["sample_rate"] == rate
    assert info["n_samples"] == len(samples)
    got = struct.unpack(f"<{len(samples)}h", wav_window(raw, 0, len(samples)))
    assert list(got) == samples
