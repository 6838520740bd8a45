"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched ``mapInPandas``
stages.

Decode ladder (per payload, inside the kernel):
1. PIL, when importable — full codec coverage;
2. the pure-Python real codecs in functions/ — full PNG decode
   (png.py: zlib inflate + unfilter, CRC-checked), full baseline JPEG
   decode (jpeg.py: Huffman + dequant + IDCT + chroma upsample), and
   full GIF decode (gif.py: LZW + compositing, including animated
   multi-frame) — all three advertised image formats decode for real
   even in this codec-less container;
3. a clearly-marked deterministic fake for bytes that are not a
   recognizable image (the text-derived test corpora) — metadata
   derived from byte length, format prefixed ``fake/``.
Everything Spark-side — schema, partitioning, UDF signatures, Arrow
batch shape — is identical across tiers; swapping tiers changes no
plan.

Scale notes:
- binary payloads stay columnar end-to-end (parquet binary -> Arrow ->
  pandas bytes); no base64 round-trips;
- mapInPandas streams batches (spark.sql.execution.arrow.
  maxRecordsPerBatch bounds memory per task) — a 100 TB image corpus
  is just more input splits;
- metadata-only consumers prune the binary column at the scan
  (column pruning: select metadata first, decode only where needed).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_META_SCHEMA = (
    "id long, n_bytes int, sha256 string, width int, height int,"
    " format string, decode_tier string"
)
FRAME_SCHEMA = "id long, frame_idx int, frame_bytes binary"

# decode_tier values — which rung of the ladder actually produced the
# result, surfaced as a column so a production corpus can report how
# much of it decoded for real (the same observability discipline as
# the VCF drop counters of plans/vcf.py)
TIER_PIL = "pil"
TIER_PURE = "pure"  # pure-Python codecs in functions/{png,jpeg,gif}.py
TIER_FAKE = "fake"  # unrecognizable/malformed bytes, deterministic fake


def _decode_pixels(raw: bytes) -> tuple[int, int, int, bytes] | None:
    """Pure-tier pixel decode for any supported format: (w, h,
    channels, pixel_bytes), or None when the bytes are not a
    recognizable PNG/JPEG/GIF or are malformed (ValueError from the
    codecs is absorbed here — the caller's ladder falls through)."""
    from clinvar_pipeline_spark.functions import gif as _gif
    from clinvar_pipeline_spark.functions import jpeg as _jpeg
    from clinvar_pipeline_spark.functions import png as _png

    try:
        if _png.is_png(raw):
            return _png.png_decode(raw)
        if raw[:2] == b"\xff\xd8":
            return _jpeg.jpeg_decode(raw)
        if raw[:6] in _gif.GIF_MAGICS:
            return _gif.gif_decode(raw)
    except ValueError:
        pass  # malformed image bytes -> caller falls to the fake tier
    return None

try:  # pragma: no cover - codec not present in this container
    from PIL import Image  # noqa: F401

    _HAS_PIL = True
except Exception:
    _HAS_PIL = False


def attach_binary(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """(id, content: binary) from any column castable to binary — the
    ingest shape for multimodal corpora. Real corpora read parquet/
    files with binary columns directly; tests derive bytes from text."""
    return df.select(
        F.col(id_col).alias("id"), F.col(payload_col).cast("binary").alias("content")
    )


def _decode_image_fake(raw: bytes) -> tuple[int, int, str]:
    """DETERMINISTIC FAKE decode for non-image bytes: dimensions
    derived from the byte length, format from the first byte. Only the
    last rung of the decode ladder — real PNG/JPEG/GIF payloads never
    reach it (see :func:`_decode_image`)."""
    n = len(raw)
    return n % 256, (n // 256) % 256, "fake/%d" % (raw[0] if n else 0)


def _decode_image(raw: bytes) -> tuple[int, int, str, str]:
    """(width, height, format, decode_tier) via the decode ladder:
    PIL -> pure PNG/JPEG/GIF header parsers (functions/png.py; the
    metadata path needs dimensions, not pixels, so it uses the cheap
    parsers while features/frames use the full codecs) -> deterministic
    fake for unrecognizable bytes. Each tier
    falls through to the next on failure, so a PIL build missing a
    plugin still gets the stdlib parse, and only unrecognizable/
    malformed bytes reach the fake tier (never a task crash)."""
    from clinvar_pipeline_spark.functions import gif as _gif
    from clinvar_pipeline_spark.functions import png as _codec

    if _HAS_PIL:  # pragma: no cover - PIL absent in this container
        import io

        from PIL import Image

        try:
            with Image.open(io.BytesIO(raw)) as im:
                return im.width, im.height, im.format or "unknown", TIER_PIL
        except Exception:
            pass  # tier 2 below still gets its chance
    try:
        if _codec.is_png(raw):
            w, h, _depth, _color = _codec.png_info(raw)
            return w, h, "PNG", TIER_PURE
        if raw[:2] == b"\xff\xd8":
            w, h = _codec.jpeg_info(raw)
            return w, h, "JPEG", TIER_PURE
        if raw[:6] in _gif.GIF_MAGICS:
            w, h = _codec.gif_info(raw)
            return w, h, "GIF", TIER_PURE
    except ValueError:
        pass  # malformed image bytes -> fake tier, never a task crash
    return (*_decode_image_fake(raw), TIER_FAKE)


def extract_image_meta(binaries: DataFrame) -> DataFrame:
    """(id, content) -> (id, n_bytes, sha256, width, height, format)
    via mapInPandas (one Python worker pass per input batch; output
    rows 1:1 with input). Real images get real dimensions (decode
    ladder above); non-image bytes get the deterministic fake tier."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raws = pdf["content"]
            out = pd.DataFrame(
                {
                    "id": pdf["id"],
                    "n_bytes": raws.map(lambda b: len(b) if b is not None else 0),
                    "sha256": raws.map(
                        lambda b: hashlib.sha256(b or b"").hexdigest()
                    ),
                }
            )
            dims = raws.map(lambda b: _decode_image(b or b""))
            out["width"] = dims.map(lambda d: d[0])
            out["height"] = dims.map(lambda d: d[1])
            out["format"] = dims.map(lambda d: d[2])
            out["decode_tier"] = dims.map(lambda d: d[3])
            yield out

    return binaries.mapInPandas(kernel, IMAGE_META_SCHEMA)


VIDEO_META_SCHEMA = (
    "id long, n_bytes int, sha256 string, container string, width int,"
    " height int, fps double, n_frames int, duration_s double,"
    " n_tracks int, codecs string, decode_tier string"
)

TIER_HEADER = "header"  # container metadata parsed; media not decoded


def _decode_video(raw: bytes) -> tuple:
    """(container, w, h, fps, n_frames, duration_s, n_tracks, codecs,
    tier) via the video ladder: Y4M full parse (frame-accurate — tier
    'pure') → ISO-BMFF box walk (duration/tracks/codecs without media
    decode — tier 'header') → deterministic fake."""
    from clinvar_pipeline_spark.functions import h264 as _h264
    from clinvar_pipeline_spark.functions import mp4 as _mp4
    from clinvar_pipeline_spark.functions import y4m as _y4m

    try:
        if raw.startswith(_y4m.Y4M_MAGIC):
            w, h, fn, fd, _chroma, n = _y4m.y4m_info(raw)
            fps = round(fn / fd, 3) if fd else 0.0
            dur = round(n * fd / fn, 3) if fn else 0.0
            return ("y4m", w, h, fps, n, dur, 1, "rawvideo", TIER_PURE)
        if len(raw) >= 12 and raw[4:8] == b"ftyp":
            m = _mp4.mp4_info(raw)
            return (
                m["container"], m.get("width", 0), m.get("height", 0),
                0.0, 0,
                m.get("duration_s", 0.0), m["n_tracks"],
                "|".join(m["codecs"]), TIER_HEADER,
            )
        if raw.startswith(_h264.ANNEXB_PREFIXES):
            i = _h264.h264_info(raw)
            return (
                "h264", i["width"], i["height"], i["fps"],
                i["n_frames"], i["duration_s"], 1, "avc1", TIER_HEADER,
            )
    except ValueError:
        pass  # malformed container -> fake tier, never a task crash
    n = len(raw)
    return (
        "fake/%d" % (raw[0] if n else 0), n % 256, (n // 256) % 256,
        0.0, 0, 0.0, 0, "", TIER_FAKE,
    )


def extract_video_meta(binaries: DataFrame) -> DataFrame:
    """(id, content) -> per-asset video manifest row. The video twin
    of extract_image_meta: real container metadata where a real parser
    exists (Y4M frame-accurate; MP4 box tree), deterministic fake
    otherwise, with the tier surfaced for run reports."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raws = pdf["content"]
            out = pd.DataFrame(
                {
                    "id": pdf["id"],
                    "n_bytes": raws.map(lambda b: len(b) if b is not None else 0),
                    "sha256": raws.map(
                        lambda b: hashlib.sha256(b or b"").hexdigest()
                    ),
                }
            )
            v = raws.map(lambda b: _decode_video(b or b""))
            for i, c in enumerate(
                ["container", "width", "height", "fps", "n_frames",
                 "duration_s", "n_tracks", "codecs", "decode_tier"]
            ):
                out[c] = v.map(lambda d, i=i: d[i])
            yield out

    return binaries.mapInPandas(kernel, VIDEO_META_SCHEMA)


AUDIO_META_SCHEMA = (
    "id long, n_bytes int, sha256 string, sample_rate int,"
    " channels int, bits int, n_samples long, duration_s double,"
    " decode_tier string"
)


def _decode_audio(raw: bytes) -> tuple:
    """(sample_rate, channels, bits, n_samples, duration_s, tier):
    real RIFF/PCM parse (functions/wav.py — tier 'pure'), ADTS/AAC or
    MPEG-audio frame-header walk (functions/aac.py, functions/mp3.py
    — tier 'header': true rate/channels/duration, payload undecoded,
    bits=0 since entropy-coded audio has no PCM depth), or the
    deterministic fake for unrecognizable audio. The two header
    families share the 0xFF sync byte but disambiguate on the layer
    bits (ADTS requires 00, MPEG audio forbids it), so the stricter
    ADTS walk runs first and falls through cleanly."""
    from clinvar_pipeline_spark.functions import aac as _aac
    from clinvar_pipeline_spark.functions import mp3 as _mp3
    from clinvar_pipeline_spark.functions import wav as _wav

    if raw[:4] == _wav.WAV_MAGIC and raw[8:12] == b"WAVE":
        try:
            i = _wav.wav_info(raw)
            return (
                i["sample_rate"], i["channels"], i["bits"],
                i["n_samples"], i["duration_s"], TIER_PURE,
            )
        except ValueError:
            pass  # malformed/non-PCM -> fake tier, never a task crash
    if len(raw) >= 2 and raw[0] == 0xFF and (raw[1] & 0xF0) == 0xF0:
        # ADTS sync (0xFFF) is a subset of the MPEG-audio sync
        # (0xFFE): try the stricter frame walk first
        try:
            i = _aac.aac_info(raw)
            return (
                i["sample_rate"], i["channels"], 0,
                i["n_samples"], i["duration_s"], TIER_HEADER,
            )
        except ValueError:
            pass
    if raw[:3] == b"ID3" or (
        len(raw) >= 2
        and raw[0] == _mp3.MP3_SYNC_BYTE
        and (raw[1] & 0xE0) == 0xE0
    ):
        try:
            i = _mp3.mp3_info(raw)
            return (
                i["sample_rate"], i["channels"], 0,
                i["n_samples"], i["duration_s"], TIER_HEADER,
            )
        except ValueError:
            pass  # truncated/garbage-tailed -> fake tier
    n = len(raw)
    # unrounded: n/8000.0 is the same IEEE double in Python and
    # DuckDB, while round() half-even vs half-up diverge on ties
    return (8000, 1 + n % 2, 16, n, n / 8000.0, TIER_FAKE)


def extract_audio_meta(binaries: DataFrame) -> DataFrame:
    """(id, content) -> per-asset audio manifest row: the audio twin
    of extract_image_meta/extract_video_meta. PCM WAV parses for real
    (sample rate / channels / depth / duration); MP3 and ADTS/AAC
    parse at the header tier (functions/mp3.py, functions/aac.py
    frame walks — true rate/channels/sample count/duration, payload
    undecoded); only non-self-framing payloads (raw AAC outside its
    MP4 container, bare H.264) remain honestly fake-tier — entropy
    decode needs a codec library this container lacks."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raws = pdf["content"]
            out = pd.DataFrame(
                {
                    "id": pdf["id"],
                    "n_bytes": raws.map(lambda b: len(b) if b is not None else 0),
                    "sha256": raws.map(
                        lambda b: hashlib.sha256(b or b"").hexdigest()
                    ),
                }
            )
            v = raws.map(lambda b: _decode_audio(b or b""))
            for i, c in enumerate(
                ["sample_rate", "channels", "bits", "n_samples",
                 "duration_s", "decode_tier"]
            ):
                out[c] = v.map(lambda d, i=i: d[i])
            yield out

    return binaries.mapInPandas(kernel, AUDIO_META_SCHEMA)


def sample_frames(
    binaries: DataFrame, n_frames: int = 4, frame_size: int = 16
) -> DataFrame:
    """Frame sampling: (id, content) -> one row per sampled frame,
    fan-out n_frames:1 (mapInPandas yields more rows than it consumes).

    Genuinely temporal formats sample REAL frames: Y4M video streams
    (functions/y4m.py — seek to evenly spaced frame offsets, decode
    only those) and animated GIFs (up to ``n_frames`` composited
    canvas states, evenly spaced across the animation), each frame
    re-encoded as its own decodable PNG. Still images (PNG, baseline
    JPEG, single-frame GIF) sample real pixel REGIONS instead: the
    decoded image split into up to ``n_frames`` horizontal bands, the
    seek+decode semantics a video kernel would have. Images shorter
    than ``n_frames`` rows emit one frame per row (fan-out is bounded
    by content, exactly like a short video).

    Self-framing compressed audio (MP3, ADTS/AAC) samples REAL
    compressed frames: the header walk (functions/mp3.py /
    functions/aac.py seek tables) yields exact frame boundaries, so
    each sampled unit is one complete variable-length compressed
    frame at an evenly spaced frame index — self-describing units a
    codec-feeding extractor wants, NOT fixed-size byte slices. WAV
    PCM samples real audio windows.

    Remaining payloads keep the deterministic byte-slice stand-in
    (``frame_size`` bytes at evenly spaced offsets) — the documented
    fake tier for containerless entropy streams (MP4/H.26x video —
    metadata via extract_video_meta — and malformed audio)."""
    from clinvar_pipeline_spark.functions import gif as _gif
    from clinvar_pipeline_spark.functions import png as _codec
    from clinvar_pipeline_spark.functions import wav as _wav
    from clinvar_pipeline_spark.functions import y4m as _y4m

    def band_frames(w: int, h: int, ch: int, px: bytes) -> list[bytes]:
        stride = w * ch
        n = min(n_frames, h)
        return [
            _codec.png_encode(
                w,
                (fi + 1) * h // n - fi * h // n,
                ch,
                px[(fi * h // n) * stride : ((fi + 1) * h // n) * stride],
            )
            for fi in range(n)
        ]

    def real_frames(raw: bytes) -> list[bytes] | None:
        # every real tier is wrapped as a whole: ANY ValueError —
        # container parse, pixel decode, or the PNG re-encode of a
        # frame whose buffer came out wrong — falls to the byte-slice
        # tier, never a task crash (the ladder's uniform boundary)
        # PCM WAV audio: REAL temporal windows — integer PCM needs no
        # codec, so each "frame" is frame_size sample-frames sliced at
        # evenly spaced TIME offsets (functions/wav.py)
        if raw[:4] == _wav.WAV_MAGIC and raw[8:12] == b"WAVE":
            try:
                info = _wav.wav_info(raw)
                total = info["n_samples"]
                if total == 0:
                    return []
                # slice from the one parsed chunk layout — wav_window
                # would re-walk the RIFF tree once per window
                fw = info["channels"] * info["bits"] // 8
                off = info["data_off"]
                n = min(n_frames, total)
                out = []
                for fi in range(n):
                    lo = min(fi * total // n, total) * fw
                    hi = min(fi * total // n + frame_size, total) * fw
                    out.append(raw[off + lo : off + hi])
                return out
            except ValueError:
                return None  # malformed/non-PCM -> byte-slice tier
        # MP3/ADTS compressed audio: REAL temporal frames — the
        # header walk yields exact frame boundaries, so each sampled
        # "frame" is one complete compressed frame unit at an evenly
        # spaced frame index (what a codec-feeding feature extractor
        # wants: self-describing units, not arbitrary byte slices).
        # Same 0xFF-sync disambiguation as _decode_audio.
        if len(raw) >= 2 and raw[0] == 0xFF and (raw[1] & 0xE0) == 0xE0:
            from clinvar_pipeline_spark.functions import aac as _aac
            from clinvar_pipeline_spark.functions import mp3 as _mp3

            for walker in (_aac.aac_frames, _mp3.mp3_frames):
                try:
                    tbl = walker(raw)
                except ValueError:
                    continue
                n = min(n_frames, len(tbl))
                return [
                    raw[o: o + ln]
                    for o, ln in (
                        tbl[fi * len(tbl) // n] for fi in range(n)
                    )
                ]
        if raw[:3] == b"ID3":
            from clinvar_pipeline_spark.functions import mp3 as _mp3

            try:
                tbl = _mp3.mp3_frames(raw)
                n = min(n_frames, len(tbl))
                return [
                    raw[o: o + ln]
                    for o, ln in (
                        tbl[fi * len(tbl) // n] for fi in range(n)
                    )
                ]
            except ValueError:
                pass  # malformed -> byte-slice tier
        # Y4M video: REAL temporal frames — stride to evenly spaced
        # frame offsets (seek), decode only those (functions/y4m.py),
        # emit each as its own decodable PNG
        if raw.startswith(_y4m.Y4M_MAGIC):
            try:
                w, h, _fn, _fd, _c, total = _y4m.y4m_info(raw)
                if total == 0:
                    return []
                n = min(n_frames, total)
                picks = [fi * total // n for fi in range(n)]
                w, h, frames = _y4m.y4m_frames(raw, picks)
                return [_codec.png_encode(w, h, 3, fr) for fr in frames]
            except ValueError:
                return None  # malformed stream -> byte-slice tier
        # animated GIF: temporal frames (evenly sampled canvas states);
        # a single-frame GIF band-samples its one already-decoded
        # state directly (no second full LZW decode via _decode_pixels)
        if raw[:6] in _gif.GIF_MAGICS:
            try:
                w, h, states = _gif.gif_frames(raw)
                if len(states) > 1:
                    n = min(n_frames, len(states))
                    picks = [fi * len(states) // n for fi in range(n)]
                    return [
                        _codec.png_encode(w, h, 3, states[p]) for p in picks
                    ]
                if states:
                    return band_frames(w, h, 3, states[0])
                return []
            except ValueError:
                return None  # malformed GIF -> byte-slice tier
        decoded = _decode_pixels(raw)
        if decoded is None:
            return None
        try:
            return band_frames(*decoded)
        except ValueError:
            return None  # inconsistent buffer -> byte-slice tier

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for i, raw in zip(pdf["id"], pdf["content"]):
                raw = raw or b""
                real = real_frames(raw)
                if real is not None:
                    for fi, fb in enumerate(real):
                        ids.append(i)
                        idxs.append(fi)
                        frames.append(fb)
                    continue
                stride = max(len(raw) // max(n_frames, 1), 1)
                for fi in range(n_frames):
                    start = fi * stride
                    if start >= len(raw):
                        break
                    ids.append(i)
                    idxs.append(fi)
                    frames.append(raw[start : start + frame_size])
            yield pd.DataFrame(
                {"id": ids, "frame_idx": idxs, "frame_bytes": frames}
            )

    return binaries.mapInPandas(kernel, FRAME_SCHEMA)


FEATURE_SCHEMA = "id long, dim int, value double, feature_tier string"
FEATURE_DIMS = 14  # [mean x3, std x3, 8-bin histogram]
FEATURE_BINS = 8


def _rgb_feature_slots(data: bytes, ch: int) -> list:
    """The 14 visual slots over packed interleaved pixel bytes:
    per-channel mean x3, per-channel std x3, 8-bin luminance
    histogram (grayscale broadcasts its one channel), all in
    [0, 1]."""
    import numpy as np

    a = np.frombuffer(data, dtype=np.uint8).astype(np.float64)
    a = a.reshape(-1, ch)
    rgb = a[:, :3] if ch >= 3 else np.repeat(a[:, :1], 3, axis=1)
    mean = rgb.mean(axis=0) / 255.0
    std = rgb.std(axis=0) / 255.0
    lum = rgb.mean(axis=1)
    hist = np.bincount(
        np.minimum(
            (lum / 256.0 * FEATURE_BINS).astype(np.int64),
            FEATURE_BINS - 1,
        ),
        minlength=FEATURE_BINS,
    ) / len(lum)
    return [*mean, *std, *hist]


def _byte_feature_slots(raw: bytes) -> list:
    """The deterministic byte tier: the same 14 slots over the raw
    byte stream (mean/std broadcast across the three channel slots,
    8-bin byte histogram) — DuckDB-recomputable, so the registry
    query stays oracle-exact on non-decodable payloads."""
    import numpy as np

    b = np.frombuffer(raw, dtype=np.uint8).astype(np.float64)
    mean = b.mean() / 255.0
    std = b.std() / 255.0
    hist = np.bincount(
        np.minimum(
            (b / 256.0 * FEATURE_BINS).astype(np.int64),
            FEATURE_BINS - 1,
        ),
        minlength=FEATURE_BINS,
    ) / len(b)
    return [mean, mean, mean, std, std, std, *hist]


FEATURE_FRAME_SAMPLE = 4  # video tier: frames pooled per payload
FEATURE_PCM_WINDOWS = 8   # audio tier: equal sample windows


def _video_feature_slots(raw: bytes) -> list | None:
    """Video tier ('frame'): the visual 14 slots pooled over up to
    FEATURE_FRAME_SAMPLE evenly-strided Y4M frames decoded to RGB —
    the image descriptor computed over the sampled frames' pixels
    jointly, so image and video land in the SAME feature space and
    the curation screens (centroid outliers, k-NN noise) can mix
    modalities. None if the payload is not decodable Y4M."""
    from clinvar_pipeline_spark.functions import y4m as _y4m

    if not raw.startswith(_y4m.Y4M_MAGIC):
        return None
    try:
        _w, _h, _fn, _fd, _chroma, n = _y4m.y4m_info(raw)
        if n == 0:
            return None
        take = min(n, FEATURE_FRAME_SAMPLE)
        idx = [i * n // take for i in range(take)]
        _w, _h, frames = _y4m.y4m_frames(raw, idx)
    except ValueError:
        return None  # malformed payload -> caller's next rung
    return _rgb_feature_slots(b"".join(frames), 3)


def _gif_frame_slots(raw: bytes) -> list | None:
    """Animated-GIF branch of the 'frame' tier: the visual slots
    pooled over up to FEATURE_FRAME_SAMPLE evenly-strided composited
    canvas states (gif_frames — transparency/disposal applied, what a
    viewer displays; the sample_frames discipline). None for non-GIF
    bytes, malformed streams, or SINGLE-frame GIFs — those fall
    through to the pixel tier like any still image."""
    from clinvar_pipeline_spark.functions import gif as _gif

    if raw[:6] not in _gif.GIF_MAGICS:
        return None
    try:
        w, h, states = _gif.gif_frames(raw)
    except ValueError:
        return None
    if len(states) <= 1:
        return None  # still image: the pixel tier's job
    take = min(len(states), FEATURE_FRAME_SAMPLE)
    picks = [i * len(states) // take for i in range(take)]
    return _rgb_feature_slots(b"".join(states[p] for p in picks), 3)


def _pcm_samples(raw: bytes):
    """Decoded mono float64 samples in [-1, 1] from a RIFF/PCM
    payload, or None if not decodable WAV. Multi-channel averages to
    mono; 8-bit PCM is unsigned per the RIFF spec, wider widths are
    signed little-endian."""
    import numpy as np

    from clinvar_pipeline_spark.functions import wav as _wav

    if not raw.startswith(_wav.WAV_MAGIC):
        return None
    try:
        info = _wav.wav_info(raw)
    except ValueError:
        return None
    bits, ch = info["bits"], info["channels"]
    n = info["n_samples"]
    if n == 0:
        return None
    data = raw[info["data_off"]: info["data_off"] + n * ch * bits // 8]
    if bits == 8:
        x = (np.frombuffer(data, dtype=np.uint8).astype(np.float64)
             - 128.0) / 128.0
    elif bits == 16:
        x = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    elif bits == 32:
        x = np.frombuffer(data, dtype="<i4").astype(np.float64) / 2147483648.0
    else:  # 24-bit: sign-extend 3-byte little-endian lanes
        b3 = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        v = (
            b3[:, 0].astype(np.int64)
            | (b3[:, 1].astype(np.int64) << 8)
            | (b3[:, 2].astype(np.int64) << 16)
        )
        v = np.where(v >= 1 << 23, v - (1 << 24), v)
        x = v.astype(np.float64) / float(1 << 23)
    return x.reshape(-1, ch).mean(axis=1)


def _audio_feature_slots(raw: bytes) -> list | None:
    """Audio tier ('pcm'): 14 slots of windowed RMS / zero-crossing
    statistics over decoded WAV PCM — [overall RMS, zero-crossing
    rate, mean |x|, std of per-window RMS, peak |x|, std of
    per-window ZCR, then FEATURE_PCM_WINDOWS per-window RMS values],
    all in [0, 1]. None if the payload is not decodable PCM WAV."""
    import numpy as np

    x = _pcm_samples(raw)
    if x is None:
        return None

    def zcr(v) -> float:
        if len(v) < 2:
            return 0.0
        return float(np.mean((v[1:] >= 0) != (v[:-1] >= 0)))

    def rms(v) -> float:
        return float(np.sqrt(np.mean(v * v))) if len(v) else 0.0

    wins = np.array_split(x, FEATURE_PCM_WINDOWS)
    wrms = np.array([rms(w) for w in wins])
    wzcr = np.array([zcr(w) for w in wins])
    return [
        rms(x),
        zcr(x),
        float(np.mean(np.abs(x))),
        float(wrms.std()),
        float(np.max(np.abs(x))),
        float(wzcr.std()),
        *wrms,
    ]


def extract_image_features(binaries: DataFrame) -> DataFrame:
    """(id, content) -> FEATURE_DIMS rows of (id, dim, value,
    feature_tier): the feature-extraction rung of the multimodal
    ladder (decode -> features -> frame-sample), a
    fixed-width hand-crafted visual descriptor a curation pipeline
    can cluster / near-dup / outlier-screen like any embedding.

    Decodable images (PNG / baseline JPEG / GIF via the pure
    codecs) emit PIXEL statistics — per-channel mean and std (RGB,
    grayscale broadcast) plus an 8-bin luminance histogram, all
    normalized to [0, 1] — tier 'pixel'. Anything else falls to the
    DETERMINISTIC byte tier: the same 14 slots computed over the raw
    byte stream (mean/std broadcast across the three channel slots,
    8-bin byte histogram), so every payload yields the same feature
    shape and the column is trainer-ready. A learned NN embedding
    would slot in as a higher tier; the model is not in this
    container, so the descriptor stays the honest hand-crafted one
    (the decode ladder's tier discipline).

    Rows are exploded (one per dimension) rather than an
    array column so the scalar value path is oracle-hashable.

    Scale: mapInPandas over the binary scan, map-only, fixed
    FEATURE_DIMS fan-out per row; nothing pixel-sized leaves the
    task."""
    import pandas as pd

    def features_of(raw: bytes) -> tuple[list, str]:
        raw = raw or b"\0"
        px = _decode_pixels(bytes(raw))
        if px is not None:
            w, h, ch, data = px
            return _rgb_feature_slots(data, ch), "pixel"
        return _byte_feature_slots(bytes(raw)), "byte"

    def kernel(batches):
        for pdf in batches:
            ids, dims, vals, tiers = [], [], [], []
            for i, raw in zip(pdf["id"], pdf["content"]):
                f, tier = features_of(raw)
                for d, v in enumerate(f):
                    ids.append(i)
                    dims.append(d)
                    vals.append(float(v))
                    tiers.append(tier)
            if ids:
                yield pd.DataFrame(
                    {
                        "id": ids,
                        "dim": dims,
                        "value": vals,
                        "feature_tier": tiers,
                    }
                )

    return binaries.mapInPandas(kernel, FEATURE_SCHEMA)


def extract_media_features(binaries: DataFrame) -> DataFrame:
    """(id, content) -> FEATURE_DIMS rows of (id, dim, value,
    feature_tier) for EVERY modality the engine can decode — the
    full-ladder version of extract_image_features, so the curation
    screens (class-centroid outliers, k-NN label noise, hard
    negatives) can run over mixed image / video / audio corpora:

    - tier 'pixel': decodable still images (PNG / baseline JPEG /
      GIF) — the visual 14 slots over their pixels;
    - tier 'frame': decodable Y4M video — the SAME visual slots
      pooled over up to FEATURE_FRAME_SAMPLE evenly-strided frames
      decoded to RGB, so images and video share a feature space;
    - tier 'pcm': decodable RIFF/PCM WAV — windowed RMS /
      zero-crossing slots (audio is its own feature space; the
      curation screens group by label, never across tiers);
    - tier 'byte': everything else — the deterministic byte slots,
      DuckDB-recomputable so the registry query stays oracle-exact
      on non-decodable payloads.

    Compressed A/V (MP3 / ADTS / H.264 / MP4) intentionally lands on
    the byte tier: the header tiers recover true metadata but not
    samples, and a fake decode would poison the feature space — the
    ladder's honesty discipline.

    Scale: identical envelope to extract_image_features — map-only
    Arrow kernel, fixed FEATURE_DIMS fan-out per row, nothing
    pixel- or sample-sized leaves the task."""
    import pandas as pd

    def features_of(raw: bytes) -> tuple[list, str]:
        raw = bytes(raw or b"\0")
        gf = _gif_frame_slots(raw)  # animated GIF: temporal, not still
        if gf is not None:
            return gf, "frame"
        px = _decode_pixels(raw)
        if px is not None:
            _w, _h, ch, data = px
            return _rgb_feature_slots(data, ch), "pixel"
        vf = _video_feature_slots(raw)
        if vf is not None:
            return vf, "frame"
        af = _audio_feature_slots(raw)
        if af is not None:
            return af, "pcm"
        return _byte_feature_slots(raw), "byte"

    def kernel(batches):
        for pdf in batches:
            ids, dims, vals, tiers = [], [], [], []
            for i, raw in zip(pdf["id"], pdf["content"]):
                f, tier = features_of(raw)
                for d, v in enumerate(f):
                    ids.append(i)
                    dims.append(d)
                    vals.append(float(v))
                    tiers.append(tier)
            if ids:
                yield pd.DataFrame(
                    {
                        "id": ids,
                        "dim": dims,
                        "value": vals,
                        "feature_tier": tiers,
                    }
                )

    return binaries.mapInPandas(kernel, FEATURE_SCHEMA)
