"""Raw grayscale page-image codec and the engine's one format table.

The reference rasterizes PDFs with Poppler into RGB numpy arrays
(`table_extraction/preprocessing.py:10-62`).  This container has no Poppler /
cv2 / PIL, so the engine defines its own trivially-decodable deterministic
format: ``IMG1`` = magic + little-endian uint32 width/height + H*W uint8
grayscale pixels (255 = white background, 0 = black ink).

:data:`FORMATS` is the ordered format table that every payload consumer
routes through: :func:`decode_page` and :func:`iter_pages` (pages),
``multimodal.decode_audio`` and ``multimodal.iter_video_frames`` (audio,
video) and ``probe.probe_bytes`` (header probe).  Each row names a format,
its kind, one sniff predicate over the payload's first ``HEAD_BYTES`` bytes,
and whichever handlers the format has; the first matching row wins.  A
handler imports its codec on its first call, so a Python worker pays only
for the codecs its payloads use.  A payload that no row claims (or whose row
lacks the asked-for handler) raises the consumer's named error, which the
decode stages capture as a per-row error — never a task failure.
"""

from __future__ import annotations

import struct
from collections.abc import Callable
from importlib import import_module
from typing import NamedTuple

import numpy as np

MAGIC = b"IMG1"
AUD_MAGIC = b"AUD1"  # multimodal.py's synthetic audio container
VID_MAGIC = b"VID1"  # multimodal.py's synthetic video container
_HEADER = struct.Struct("<4sII")  # magic, width, height


def rgb_to_gray(arr: np.ndarray) -> np.ndarray:
    """H×W passes through; H×W×3 uint8 RGB reduces to BT.601 luma — the ONE
    shared conversion (avi/pdfx lanes), float math so no integer wraparound."""
    if arr.ndim == 2:
        return arr
    px = arr.astype(np.float64)
    return (
        0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]
    ).astype(np.uint8)


def palette_to_gray(pal: np.ndarray) -> np.ndarray:
    """(N, 3) RGB palette → per-index gray LUT — the ONE shared reduction
    (gif/bmp lanes).  Grayscale palettes map by index EXACTLY (float luma
    of (i,i,i) truncates to i-1: 0.299+0.587+0.114 < 1.0 in binary);
    color palettes reduce via :func:`rgb_to_gray`."""
    if (pal[:, 0] == pal[:, 1]).all() and (pal[:, 1] == pal[:, 2]).all():
        return np.ascontiguousarray(pal[:, 0])
    return rgb_to_gray(pal.reshape(1, -1, 3)).reshape(-1)


def encode_image(img: np.ndarray) -> bytes:
    """uint8 H×W grayscale → IMG1 bytes."""
    if img.dtype != np.uint8 or img.ndim != 2:
        raise ValueError(f"expected uint8 H×W grayscale, got {img.dtype} {img.shape}")
    h, w = img.shape
    return _HEADER.pack(MAGIC, w, h) + img.tobytes()


def decode_image(payload: bytes) -> np.ndarray:
    """IMG1 bytes → uint8 H×W grayscale (zero-copy view of the payload)."""
    magic, w, h = _HEADER.unpack_from(payload, 0)
    if magic != MAGIC:
        raise ValueError(f"bad magic {magic!r}")
    arr = np.frombuffer(payload, dtype=np.uint8, offset=_HEADER.size, count=w * h)
    return arr.reshape(h, w)


def _lazy(module: str, name: str) -> Callable:
    """``module.name``, imported on the first call: importing every codec
    up front costs ~0.8 s per Python worker."""

    def handler(*args):
        return getattr(import_module(f"{__package__}.{module}"), name)(*args)

    return handler


def _pdf_page(payload) -> np.ndarray:
    """First page of a ``%PDF`` payload: the deployed renderer library when
    present, else the from-scratch subset (``pdfx.py`` — vector paths,
    Type 3 glyph programs, Flate/DCT image XObjects) at 72 dpi (1 pt = 1 px,
    matching the pixel-dimensioned MediaBox of vector document pages).
    Features outside the subset raise named errors."""
    from .sources.pdf_adapter import pdf_renderer_available, rasterize_pdf

    if pdf_renderer_available():
        return rasterize_pdf(payload)
    from .pdfx import rasterize_pdf_page

    return rasterize_pdf_page(payload)


def _pdf_pages(payload):
    """Every page of a ``%PDF`` payload.  With a renderer library it is the
    authority on page count AND pixels (the from-scratch parser must not
    pre-gate documents the library handles); it renders once — O(pages),
    though the library materializes the whole document."""
    from .sources.pdf_adapter import pdf_renderer_available, pdf_to_pages

    if not pdf_renderer_available():
        from .pdfx import iter_pdf_pages

        return iter_pdf_pages(payload)
    pages = pdf_to_pages(payload)
    return ((i, len(pages), page) for i, page in enumerate(pages))


def _annexb(h: bytes) -> bool:
    """Raw H.264 elementary stream: a 3- or 4-byte start code, then a
    plausible NAL header (forbidden bit clear, known unit type)."""
    if h[:4] == b"\x00\x00\x00\x01":
        nal = h[4:5]
    elif h[:3] == b"\x00\x00\x01":
        nal = h[3:4]
    else:
        return False
    return bool(nal) and not nal[0] & 0x80 and (nal[0] & 0x1F) in (1, 5, 6, 7, 8, 9, 12)


class Format(NamedTuple):
    """One row of :data:`FORMATS`.  A handler is None where the format has
    no such decoder."""

    name: str  # the canonical format name (``probe_bytes``'s ``format``)
    kind: str  # image | document | audio | video | container
    sniff: Callable[[bytes], bool]  # over the payload's first HEAD_BYTES
    page: Callable | None = None  # payload → uint8 page (first page)
    pages: Callable | None = None  # payload → (index, n_pages, page) iter
    frames: Callable | None = None  # payload → (frame_no, n_frames, frame)
    audio: Callable | None = None  # payload → (mono int16 PCM, sample_rate)
    probe: Callable | None = None  # bytes → header fields, no pixel decode


HEAD_BYTES = 12  # the longest head a predicate reads (RIFF form, ftyp box)
# the four VALID TIFF magic/order pairs (II is little-endian so 42/43
# lead; MM is big-endian so they trail)
_TIFF_MAGICS = (b"II*\x00", b"II+\x00", b"MM\x00*", b"MM\x00+")

# Order is load-bearing: ``\xff\xd8`` (JPEG) precedes the MP3 frame sync,
# the RIFF rows split on the form type (WAVE audio, AVI video), and ICO/CUR
# precedes Annex-B — an ICO directory is a 3-byte start code followed by
# NAL type 0.
FORMATS: tuple[Format, ...] = (
    Format("img1", "image", lambda h: h[:4] == MAGIC,
           page=decode_image, probe=_lazy("probe", "_probe_img1")),
    Format("png", "image", lambda h: h[:8] == b"\x89PNG\r\n\x1a\n",
           page=_lazy("png", "decode_png"), probe=_lazy("probe", "_probe_png")),
    Format("jpeg", "image", lambda h: h[:2] == b"\xff\xd8",
           page=_lazy("jpeg", "decode_jpeg"), probe=_lazy("probe", "_probe_jpeg")),
    Format("gif", "image", lambda h: h[:6] in (b"GIF87a", b"GIF89a"),
           page=_lazy("gif", "decode_gif"), frames=_lazy("gif", "iter_gif_frames"),
           probe=_lazy("probe", "_probe_gif")),
    Format("bmp", "image", lambda h: h[:2] == b"BM",
           page=_lazy("bmp", "decode_bmp"), probe=_lazy("probe", "_probe_bmp")),
    Format("tiff", "image", lambda h: h[:4] in _TIFF_MAGICS,
           page=_lazy("tiff", "decode_tiff"), pages=_lazy("tiff", "iter_tiff_pages"),
           probe=_lazy("tiff", "tiff_probe")),
    Format("pdf", "document", lambda h: h[:4] == b"%PDF",
           page=_pdf_page, pages=_pdf_pages, probe=_lazy("probe", "_probe_pdf")),
    Format("aud1", "audio", lambda h: h[:4] == AUD_MAGIC,
           audio=_lazy("multimodal", "decode_aud1"), probe=_lazy("probe", "_probe_aud1")),
    Format("wav", "audio", lambda h: h[:4] == b"RIFF" and h[8:12] == b"WAVE",
           audio=_lazy("multimodal", "decode_wav"), probe=_lazy("probe", "_probe_wav")),
    Format("flac", "audio", lambda h: h[:4] == b"fLaC",
           audio=_lazy("flac", "decode_flac"), probe=_lazy("probe", "_probe_flac")),
    Format("avi", "video", lambda h: h[:4] == b"RIFF" and h[8:12] == b"AVI ",
           frames=_lazy("avi", "iter_avi_mjpeg_frames"), probe=_lazy("probe", "_probe_avi")),
    Format("vid1", "video", lambda h: h[:4] == VID_MAGIC,
           frames=_lazy("multimodal", "iter_vid1_frames"), probe=_lazy("probe", "_probe_vid1")),
    Format("mp4", "video", lambda h: len(h) >= 12 and h[4:8] == b"ftyp",
           frames=_lazy("mp4", "iter_mp4_mjpeg_frames"), probe=_lazy("probe", "_probe_mp4")),
    Format("mkv", "video", lambda h: h[:4] == b"\x1aE\xdf\xa3",
           frames=_lazy("mkv", "iter_mkv_mjpeg_frames"), probe=_lazy("probe", "_probe_mkv")),
    Format("ico", "image", lambda h: h[:4] in (b"\x00\x00\x01\x00", b"\x00\x00\x02\x00"),
           page=_lazy("ico", "decode_ico"), probe=_lazy("ico", "ico_probe")),
    Format("h264", "video", _annexb,
           frames=_lazy("h264", "iter_annexb_video_frames"),
           probe=_lazy("probe", "_probe_h264_annexb")),
    Format("ogg", "audio", lambda h: h[:4] == b"OggS",
           audio=_lazy("vorbis", "decode_ogg_vorbis"), probe=_lazy("probe", "_probe_ogg")),
    Format("mp3", "audio",
           lambda h: h[:3] == b"ID3" or (len(h) >= 2 and h[0] == 0xFF and h[1] & 0xE0 == 0xE0),
           probe=_lazy("probe", "_probe_mp3")),
    Format("jp2", "image",  # JP2 box file or raw T.800 codestream
           lambda h: h[:8] == b"\x00\x00\x00\x0cjP  " or h[:4] == b"\xff\x4f\xff\x51",
           page=_lazy("jp2", "decode_jp2_gray8"), probe=_lazy("probe", "_probe_jp2")),
    Format("jbig2", "image", lambda h: h[:8] == b"\x97JB2\r\n\x1a\n",
           probe=_lazy("probe", "_probe_jbig2")),
    # dataset/crawl containers: a raw bucket listing mixes these in with
    # media payloads, and the inventory must name them
    Format("warc", "container", lambda h: h[:5] == b"WARC/", probe=lambda _b: {"codec": "warc"}),
    Format("avro", "container", lambda h: h[:4] == b"Obj\x01",
           probe=lambda _b: {"codec": "avro-ocf"}),
    Format("parquet", "container", lambda h: h[:4] == b"PAR1",
           probe=lambda _b: {"codec": "parquet"}),
    Format("gzip", "container", lambda h: h[:2] == b"\x1f\x8b",
           probe=_lazy("probe", "_probe_gzip")),
)


def sniff(payload) -> Format | None:
    """The first :data:`FORMATS` row whose predicate accepts the payload's
    head, or None.  Arrow memoryviews are signed-format — their slices never
    == bytes literals — so the predicates see materialized head bytes."""
    head = bytes(payload[:HEAD_BYTES])
    for fmt in FORMATS:
        if fmt.sniff(head):
            return fmt
    return None


# per decode role: the kind it decodes, and the deploy-time library behind
# that kind's library-bound payloads
_ROLES = {
    "page": ("image", None),
    "audio": ("audio", "soundfile/librosa (MP3)"),
    "frames": ("video", "pyav/ffmpeg (unknown container)"),
}


def decoder(fmt: Format | None, role: str, payload) -> Callable:
    """``fmt``'s ``role`` handler, or the role's named per-row error.  A row
    of the role's own kind without the handler (MP3 audio) and an unclaimed
    video container are library-bound (NotImplementedError); any other
    miss is a ValueError naming the formats the role takes."""
    fn = getattr(fmt, role, None)
    if fn is not None:
        return fn
    head = bytes(payload[:4])
    kind, lib = _ROLES[role]
    library_bound = fmt.kind == kind if fmt is not None else role == "frames"
    if lib and library_bound:
        raise NotImplementedError(
            f"real {kind} decode (magic {head!r}) requires {lib}, not present "
            f"in this container; the deploy-time adapter decodes inside the "
            f"same mapInPandas batch — Spark-side plumbing unchanged"
        )
    takes = "/".join(sorted(f.name.upper() for f in FORMATS if getattr(f, role)))
    if fmt is None:
        raise ValueError(f"unknown media payload magic {head!r}; {role} decode takes {takes}")
    raise ValueError(f"{fmt.name} {fmt.kind} is not {takes}")


def decode_page(payload) -> np.ndarray:
    """Decode one page payload to a grayscale array via its format row.

    Mirrors ``preprocessing.bytes_file_to_array`` (reference
    ``table_extraction/preprocessing.py:10-28``): raw bytes in, uint8 page
    array out; multi-page containers give their first page.  The geometry /
    OCR pipeline after this point is format-agnostic.
    """
    return decoder(sniff(payload), "page", payload)(payload)


def iter_pages(payload):
    """Lazily yield (page_index, n_pages, gray page) — the multi-page-aware
    face of :func:`decode_page`.

    Real crawls deliver whole DOCUMENTS (a 40-page fax TIFF, a 300-page
    scanned PDF), not pre-split pages; this is the decode stage's 1→N
    expansion point.  Multi-page containers (TIFF IFD chains, multi-page
    PDFs) expand with one decoded page live at a time; every single-page
    format yields exactly once.  Parallelism note: the unit of distribution
    stays the input row, so a whale document serializes within its task —
    size ingestion batches by page count, not document count, when corpora
    have deep documents.
    """
    fmt = sniff(payload)
    if fmt is not None and fmt.pages is not None:
        yield from fmt.pages(payload)
    else:
        yield 0, 1, decoder(fmt, "page", payload)(payload)


def downscale(img: np.ndarray, factor: int) -> np.ndarray:
    """Block-min downscale: the detection-resolution view of a page.

    The reference renders every page twice (dpi 50 detect / dpi 500 OCR,
    ``extractor.py:24-33``).  We render once at high resolution and reduce by
    ``factor`` with a block **minimum**, which preserves thin dark grid lines
    (a plain stride would drop them); bboxes found at low resolution are
    scaled back up by ``factor`` exactly like the reference's
    ``resize_tables_cells`` (``detection.py:607-628``).
    """
    h, w = img.shape
    hc, wc = h - h % factor, w - w % factor
    v = img[:hc, :wc].reshape(hc // factor, factor, wc // factor, factor)
    return v.min(axis=(1, 3))
