"""Pure-Python WAV (RIFF/PCM) parser — the real-audio tier of the
multimodal ladder.

PCM WAV needs no entropy codec, so — like Y4M for video — the real
thing is implementable in-container: parse the RIFF chunk list for
``fmt `` (sample rate / channels / bit depth) and ``data`` (sample
payload). ``operators/multimodal.sample_frames`` windows the PCM
stream by *time*, not bytes, slicing evenly spaced fixed-duration
windows from the ``data_off`` layout :func:`wav_info` reports (the
seek+slice semantics an audio feature extractor has). MP3 parses at the header tier
(functions/mp3.py frame walk); remaining compressed audio (AAC)
stays at the documented fake tier.

All reads are length-checked; malformed input raises ValueError (the
ladder's uniform failure boundary).
"""

from __future__ import annotations

import struct

WAV_MAGIC = b"RIFF"


def wav_info(raw: bytes) -> dict:
    """``{sample_rate, channels, bits, n_samples, duration_s,
    data_off, data_len}`` from the RIFF chunk walk. Only uncompressed
    integer PCM (format tag 1) is accepted — anything else raises
    (and lands on the fake tier upstream)."""
    if len(raw) < 12 or raw[:4] != WAV_MAGIC or raw[8:12] != b"WAVE":
        raise ValueError("wav: no RIFF/WAVE signature")
    pos, end = 12, len(raw)
    fmt = None
    data_off = data_len = None
    while pos + 8 <= end:
        cid = raw[pos: pos + 4]
        size = struct.unpack_from("<I", raw, pos + 4)[0]
        body = pos + 8
        if body + size > end:
            raise ValueError("wav: chunk overruns file")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("wav: short fmt chunk")
            tag, ch, rate = struct.unpack_from("<HHI", raw, body)
            bits = struct.unpack_from("<H", raw, body + 14)[0]
            if tag != 1:
                raise ValueError(f"wav: non-PCM format tag {tag}")
            if ch == 0 or rate == 0 or bits not in (8, 16, 24, 32):
                raise ValueError("wav: invalid fmt fields")
            fmt = (ch, rate, bits)
        elif cid == b"data":
            data_off, data_len = body, size
        pos = body + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data_off is None:
        raise ValueError("wav: missing fmt/data chunk")
    ch, rate, bits = fmt
    frame = ch * bits // 8
    n = data_len // frame if frame else 0
    return {
        "sample_rate": rate,
        "channels": ch,
        "bits": bits,
        "n_samples": n,
        "duration_s": round(n / rate, 3),
        "data_off": data_off,
        "data_len": data_len,
    }
