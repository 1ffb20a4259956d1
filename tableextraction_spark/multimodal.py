"""Multimodal binary columns: image / audio / video as opaque ``binary``
payloads with typed metadata, processed by Arrow-batched ``mapInPandas``
stages — the training-data-pipeline side of the engine (round brief), next to
the page-image path in ``media.py``.

Deterministic container codecs (this container has no PIL/ffmpeg/librosa):

- ``IMG1`` — grayscale page image (``media.py``)
- ``AUD1`` — magic + uint32 sample_rate + int16 LE PCM samples
- ``VID1`` — magic + uint32 n_frames + concatenated length-prefixed IMG1 frames

Real formats, no library excuse (same standard that brought PNG/JPEG to the
image path): **WAV** (RIFF/WAVE, PCM 8/16-bit, mono or multi-channel —
stdlib ``wave``) decodes natively; stereo downmixes to mono by channel mean
(the conventional feature-extraction reduction).  **FLAC** (``flac.py``
from-scratch decoder — the format real speech corpora ship),
**Ogg/Vorbis** (``ogg.py`` RFC 3533 page walk + ``vorbis.py`` from-scratch
Vorbis I: codebooks, floor1, residues 0/1/2, coupling, IMDCT),
**AVI/MJPEG** video (``avi.py`` RIFF walk + the from-scratch JPEG codec),
**MP4/ISO-BMFF with MJPEG samples** (``mp4.py`` box walk + sample tables)
and **animated GIF** decode natively too.  The *Spark-side plumbing is
real* — schemas, 1→N frame explode, Arrow batch shapes, per-row error
capture — and fully tested; only genuinely-library-bound formats
(MP3 audio — its fixed ISO 11172-3 Huffman tables cannot be transcribed
faithfully without the spec text — and non-MJPEG video codecs) remain
stubbed: such payloads raise a named error pointing at the deploy-time
library.

Reference parity note: the reference handles images only
(``table_extraction/preprocessing.py:10-62``); audio/video are engine-side
capabilities required by the corpus data model, not ports.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .media import AUD_MAGIC, VID_MAGIC, decode_image, decoder, encode_image, sniff

_AUD_HEADER = struct.Struct("<4sI")  # magic, sample_rate
_VID_HEADER = struct.Struct("<4sI")  # magic, n_frames
_LEN = struct.Struct("<I")


# --- deterministic codecs ---

def encode_audio(pcm: np.ndarray, sample_rate: int) -> bytes:
    if pcm.dtype != np.int16 or pcm.ndim != 1:
        raise ValueError(f"expected int16 1-D PCM, got {pcm.dtype} {pcm.shape}")
    return _AUD_HEADER.pack(AUD_MAGIC, sample_rate) + pcm.tobytes()


def decode_audio(payload: bytes) -> tuple[np.ndarray, int]:
    """AUD1, real WAV, FLAC, or Ogg/Vorbis bytes → (mono int16 PCM,
    sample_rate), routed by the ``media.FORMATS`` row the payload sniffs as."""
    return decoder(sniff(payload), "audio", payload)(payload)


def decode_aud1(payload: bytes) -> tuple[np.ndarray, int]:
    _magic, rate = _AUD_HEADER.unpack_from(payload, 0)
    if rate <= 0:
        raise ValueError(f"corrupt AUD1 header: sample_rate={rate}")
    pcm = np.frombuffer(payload, dtype=np.int16, offset=_AUD_HEADER.size)
    return pcm, rate


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM via stdlib ``wave``: 16-bit passes through, 8-bit
    (unsigned per spec) rescales to int16, multi-channel downmixes to mono
    by channel mean.  Compressed chunks (``wave`` raises) and exotic sample
    widths surface as ValueError → a per-row error row, never a task kill."""
    import io
    import wave

    try:
        with wave.open(io.BytesIO(payload)) as w:
            nch = w.getnchannels()
            sw = w.getsampwidth()
            rate = w.getframerate()
            raw = w.readframes(w.getnframes())
    except (wave.Error, EOFError) as exc:
        raise ValueError(f"corrupt/unsupported WAV: {exc}") from exc
    if rate <= 0:
        raise ValueError(f"corrupt WAV header: sample_rate={rate}")
    if sw == 2:
        pcm = np.frombuffer(raw, dtype="<i2")
    elif sw == 1:  # 8-bit WAV is unsigned; center then scale to int16 range
        pcm = (np.frombuffer(raw, dtype=np.uint8).astype(np.int16) - 128) << 8
    else:
        raise ValueError(f"unsupported WAV sample width {sw * 8}-bit (PCM 8/16)")
    if nch > 1:
        frames = len(pcm) // nch
        pcm = (
            pcm[: frames * nch]
            .reshape(frames, nch)
            .mean(axis=1)
            .astype(np.int16)
        )
    return pcm, rate


def encode_wav(pcm: np.ndarray, sample_rate: int, n_channels: int = 1) -> bytes:
    """int16 PCM → real RIFF/WAVE bytes (fixture generator for the WAV path;
    interleaved input for n_channels > 1)."""
    import io
    import wave

    if pcm.dtype != np.int16 or pcm.ndim != 1:
        raise ValueError(f"expected int16 1-D PCM, got {pcm.dtype} {pcm.shape}")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


def encode_video(frames: list[np.ndarray]) -> bytes:
    parts = [_VID_HEADER.pack(VID_MAGIC, len(frames))]
    for f in frames:
        blob = encode_image(f)
        parts.append(_LEN.pack(len(blob)))
        parts.append(blob)
    return b"".join(parts)


def iter_video_frames(payload: bytes):
    """Lazily yield (frame_no, n_frames, frame) — one decoded frame live at
    a time, so a 10k-frame video never materializes in memory.  Routes by
    the ``media.FORMATS`` row: VID1 (synthetic container), real AVI/MJPEG
    (RIFF walk, ``avi.py``), animated GIF, MP4/ISO-BMFF with MJPEG or
    H.264/avc1 samples (box walk + sample tables, ``mp4.py``; I_PCM-coded
    H.264 decodes natively via ``h264.py``), raw Annex-B H.264 elementary
    streams, or Matroska/WebM with MJPEG blocks (EBML walk, ``mkv.py``);
    every container's structure parses natively — only library-bound
    *codecs* (CAVLC/CABAC H.264 residuals, HEVC/VP9/AV1) stay named per-row
    errors."""
    yield from decoder(sniff(payload), "frames", payload)(payload)


def iter_vid1_frames(payload: bytes):
    _magic, n = _VID_HEADER.unpack_from(payload, 0)
    off = _VID_HEADER.size
    for i in range(n):
        (ln,) = _LEN.unpack_from(payload, off)
        off += _LEN.size
        yield i, n, decode_image(payload[off : off + ln])
        off += ln


def decode_video(payload: bytes) -> list[np.ndarray]:
    return [f for _i, _n, f in iter_video_frames(payload)]


# Per-row isolation breadth for every mapInPandas stage below: the decoders
# raise beyond ValueError (zlib.error, KeyError from malformed PDF objects,
# struct.error on short buffers) and a crashing payload must become an error
# ROW, never a task failure — same breadth as operators/decode_detect.py.
# Narrowing or widening the policy happens HERE, once.
_ROW_ERRORS = Exception


# --- mapInPandas stages (Arrow-batched; never per-row Python at the DF level) ---

RESIZED_SCHEMA = (
    "media_ref string, width int, height int, content binary, error string"
)


def resize_images(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """(media_ref, content) image rows → nearest-neighbor resized IMG1 rows.

    Payloads are magic-routed through ``media.decode_page`` — IMG1, PNG,
    JPEG (baseline/progressive), GIF, BMP, TIFF, and ``%PDF`` (first page)
    all resize natively.  1→1 map; the decode/resize/encode loop is NumPy over each
    Arrow batch.  Undecodable payloads yield an ``error`` row (null
    content) instead of failing the task — the pipeline's per-row
    failure-isolation rule.
    """

    cols = ["media_ref", "width", "height", "content", "error"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .media import decode_page

        for pdf in batches:
            out = []
            for ref, blob in zip(pdf["media_ref"], pdf["content"]):
                try:
                    # magic-routed: IMG1/PNG/JPEG/GIF/BMP/TIFF/%PDF (page 1)
                    img = decode_page(bytes(blob))
                    if img.ndim == 3:  # color page (e.g. palette/RGB PNG)
                        from .media import rgb_to_gray

                        img = rgb_to_gray(img)
                    h, w = img.shape
                    yi = (np.arange(out_h) * h // out_h).astype(np.intp)
                    xi = (np.arange(out_w) * w // out_w).astype(np.intp)
                    out.append(
                        (ref, out_w, out_h, encode_image(img[yi][:, xi]), None)
                    )
                except _ROW_ERRORS as exc:  # noqa: BLE001 — see _ROW_ERRORS
                    out.append((ref, 0, 0, None, f"{type(exc).__name__}: {exc}"))
            yield pd.DataFrame(out, columns=cols)

    return df.select("media_ref", "content").mapInPandas(gen, RESIZED_SCHEMA)


FRAMES_SCHEMA = (
    "media_ref string, frame_no int, n_frames int, width int, height int, "
    "content binary, error string"
)


def sample_frames(df: DataFrame, every_n: int) -> DataFrame:
    """(media_ref, content) VID1 rows → every_n-th frame as image rows.

    1→N explode inside ``mapInPandas`` (UDTF-shaped, like doc→table-regions
    in the extraction path): a 10k-frame video emits rows incrementally per
    Arrow batch instead of materializing all frames.  A corrupt container or
    frame yields ONE ``error`` row for the video (frames already emitted
    stand) instead of failing the task.
    """

    cols = ["media_ref", "frame_no", "n_frames", "width", "height", "content", "error"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for ref, blob in zip(pdf["media_ref"], pdf["content"]):
                rows: list[tuple] = []
                try:
                    for i, n, f in iter_video_frames(bytes(blob)):
                        if i % every_n:
                            continue
                        rows.append(
                            (ref, i, n, f.shape[1], f.shape[0], encode_image(f), None)
                        )
                        if len(rows) >= 64:  # bound memory: flush sampled frames
                            yield pd.DataFrame(rows, columns=cols)
                            rows = []
                except _ROW_ERRORS as exc:  # noqa: BLE001 — see _ROW_ERRORS
                    rows.append(
                        (ref, -1, 0, 0, 0, None, f"{type(exc).__name__}: {exc}")
                    )
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    return df.select("media_ref", "content").mapInPandas(gen, FRAMES_SCHEMA)


AUDIO_FEATURES_SCHEMA = (
    "media_ref string, sample_rate int, duration_s double, rms double, "
    "zero_crossing_rate double, error string"
)


def audio_features(df: DataFrame) -> DataFrame:
    """(media_ref, content) AUD1 rows → per-clip features (duration, RMS,
    zero-crossing rate), vectorized NumPy per batch; undecodable payloads are
    captured per-row in ``error`` (the pipeline's failure-isolation rule,
    SURVEY §3) instead of failing the task.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for ref, blob in zip(pdf["media_ref"], pdf["content"]):
                try:
                    pcm, rate = decode_audio(bytes(blob))
                    x = pcm.astype(np.float64) / 32768.0
                    zc = float(np.mean(np.abs(np.diff(np.signbit(x))))) if len(x) > 1 else 0.0
                    out.append((
                        ref, rate, len(pcm) / rate,
                        float(np.sqrt(np.mean(x * x))) if len(x) else 0.0,
                        zc, None,
                    ))
                except _ROW_ERRORS as exc:  # noqa: BLE001 — see _ROW_ERRORS
                    out.append((ref, 0, 0.0, 0.0, 0.0, f"{type(exc).__name__}: {exc}"))
            yield pd.DataFrame(
                out,
                columns=[
                    "media_ref", "sample_rate", "duration_s", "rms",
                    "zero_crossing_rate", "error",
                ],
            )

    return df.select("media_ref", "content").mapInPandas(gen, AUDIO_FEATURES_SCHEMA)
