"""Metadata-only media probe — the "what's in this crawl?" pass.

At 100 TB the FIRST job over a new corpus is never a decode: it's a
header walk that answers *what formats, what dimensions, what durations*
so the real pipeline can be capacity-planned and routed.  ``probe_bytes``
reads ONLY fixed headers / box trees / frame headers — a few hundred
bytes per payload regardless of size — and identifies every format the
engine decodes (IMG1/PNG/JPEG/GIF/BMP/TIFF/PDF pages, AUD1/WAV/FLAC
audio, VID1/AVI/GIF/MP4-MJPEG video) PLUS the library-bound ones
(MP4/ISO-BMFF box walk with stsz frame counts, MP3 frame header +
Xing/VBRI duration, MKV/WebM EBML walk — DocType/codec/dims/duration,
OGG page walk), so a crawl inventory covers payloads the decode lanes
would reject.

All header formats here are public specifications (PNG ISO 15948, T.81,
GIF89a, BMP/DIB, TIFF 6.0, ISO 14496-12 BMFF, RFC 8794 EBML + RFC 9559
Matroska, MPEG-1/2 audio frame headers, RFC 9639 FLAC, RIFF).  Hostile-input bounds: every length clamps to the
buffer; box/frame walks strictly advance; unknown magics return
format='unknown' rather than raising (an inventory must count garbage,
not die on it).
"""

from __future__ import annotations

import re
import struct
import zlib

from .media import sniff

_U16B = struct.Struct(">H")
_U32B = struct.Struct(">I")
_U16L = struct.Struct("<H")
# /Type /Page but NOT /Type /Pages (negative lookahead on a name char).
_PDF_PAGE_RE = re.compile(rb"/Type\s*/Page(?![A-Za-z0-9])")
_U32L = struct.Struct("<I")

# MPEG audio: bitrate kbps table [version V1/V2][layer 3] and sample rates
_MP3_BITRATE_V1_L3 = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0]
_MP3_BITRATE_V2_L3 = [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0]
_MP3_RATES = {3: [44100, 48000, 32000], 2: [22050, 24000, 16000], 0: [11025, 12000, 8000]}


def _empty() -> dict:
    return {
        "format": "unknown", "kind": "unknown", "width": 0, "height": 0,
        "n_frames": 0, "duration_s": 0.0, "sample_rate": 0, "codec": "",
    }


def probe_bytes(payload: bytes) -> dict:
    """Bytes → {format, kind, width, height, n_frames, duration_s,
    sample_rate, codec} from headers only (no pixel/sample decode).  The
    payload's ``media.FORMATS`` row names the format and kind once its
    probe handler has parsed the header; the handler's fields fill (and
    may refine) the rest.  A header it cannot parse stays format='unknown'
    with codec='malformed'."""
    out = _empty()
    fmt = sniff(payload)
    if fmt is None:
        return out
    try:
        fields = fmt.probe(bytes(payload))
    except Exception:  # noqa: BLE001 — inventory counts malformed, never dies
        out["codec"] = "malformed"
        return out
    out.update(format=fmt.name, kind=fmt.kind)
    out.update(fields)
    return out


def _probe_img1(buf: bytes) -> dict:
    _m, w, h = struct.unpack_from("<4sII", buf, 0)
    return {"width": w, "height": h, "n_frames": 1}


def _probe_png(buf: bytes) -> dict:
    w, h = _U32B.unpack_from(buf, 16)[0], _U32B.unpack_from(buf, 20)[0]
    return {"width": w, "height": h, "n_frames": 1}


def _probe_bmp(buf: bytes) -> dict:
    w = struct.unpack_from("<i", buf, 18)[0]
    h = abs(struct.unpack_from("<i", buf, 22)[0])
    return {"width": w, "height": h, "n_frames": 1}


def _probe_pdf(buf: bytes) -> dict:
    # Boundary-aware: '/Type /Pages' (the page-TREE nodes) must not count
    # as pages — a bare substring count overstates every well-formed PDF
    # by its Pages-node count.
    return {"n_frames": len(_PDF_PAGE_RE.findall(buf))}


def _probe_aud1(buf: bytes) -> dict:
    rate = _U32L.unpack_from(buf, 4)[0]
    n = (len(buf) - 8) // 2
    return {"sample_rate": rate, "duration_s": n / rate if rate else 0.0}


def _probe_vid1(buf: bytes) -> dict:
    return {"n_frames": _U32L.unpack_from(buf, 4)[0]}


def _probe_jp2(buf: bytes) -> dict:
    """JPEG 2000 (JP2 box file or raw T.800 codestream): header-only SIZ
    parse (width/height/components/depth)."""
    from .jp2 import probe_jp2

    info = probe_jp2(buf)
    return {"codec": "jpeg2000" if info else "malformed",
            "n_frames": 1 if info else 0,
            "width": info.get("width", 0), "height": info.get("height", 0)}


def _probe_jbig2(buf: bytes) -> dict:
    """Standalone JBIG2 file (T.88 Annex D.1): file header + segment
    sequence; page count from the header when known, else counted from
    page-information segments."""
    from .jbig2 import _parse_segment_headers

    out = {"codec": "jbig2", "width": 0, "height": 0}
    flags = buf[8] if len(buf) > 8 else 1
    hdr_end = 9 if flags & 2 else 13
    pages = 0
    for _n, t, _p, _r, seg_body in _parse_segment_headers(buf[hdr_end:]):
        if t == 48:
            pages += 1
            if not out["width"] and len(seg_body) >= 8:
                out["width"] = _U32B.unpack_from(seg_body, 0)[0]
                out["height"] = _U32B.unpack_from(seg_body, 4)[0]
    if not flags & 2 and len(buf) >= 13:  # known page count
        pages = _U32B.unpack_from(buf, 9)[0]
    out["n_frames"] = pages
    return out


def _probe_gzip(buf: bytes) -> dict:
    """Peek the first member's first bytes (bounded inflate) to tell a
    .warc.gz crawl file from generic gzip; a stream that yields fewer than
    5 bytes WITHOUT completing (d.eof) is truncated and must not inventory
    as a well-formed container (a valid empty-payload gzip completes and
    stays 'gzip')."""
    d = zlib.decompressobj(wbits=31)
    head = d.decompress(buf[:4096], 5)
    if len(head) < 5 and not d.eof:
        return {"codec": "truncated"}
    return {"format": "warc.gz" if head == b"WARC/" else "gzip", "codec": "gzip"}


def _probe_jpeg(buf: bytes) -> dict:
    """Marker walk to SOFx for dims + baseline/progressive tag."""
    out = {"n_frames": 1}
    pos = 2
    while pos + 4 <= len(buf):
        if buf[pos] != 0xFF:
            break
        marker = buf[pos + 1]
        if marker in (0xC0, 0xC1, 0xC2):
            h = _U16B.unpack_from(buf, pos + 5)[0]
            w = _U16B.unpack_from(buf, pos + 7)[0]
            return {
                **out, "width": w, "height": h,
                "codec": "progressive" if marker == 0xC2 else "baseline",
            }
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        pos += 2 + _U16B.unpack_from(buf, pos + 2)[0]
    return out


def _probe_gif(buf: bytes) -> dict:
    """LSD dims + image-descriptor count (structural walk, no LZW)."""
    from .gif import _parse_frames

    w = _U16L.unpack_from(buf, 6)[0]
    h = _U16L.unpack_from(buf, 8)[0]
    n = sum(1 for _ in _parse_frames(buf, light=True))
    return {
        "kind": "video" if n > 1 else "image",
        "width": w, "height": h, "n_frames": n,
    }


def _probe_wav(buf: bytes) -> dict:
    import io
    import wave

    with wave.open(io.BytesIO(buf)) as w:
        rate, nfr = w.getframerate(), w.getnframes()
        return {
            "sample_rate": rate,
            "duration_s": nfr / rate if rate else 0.0,
            "codec": f"pcm{w.getsampwidth() * 8}",
        }


def _probe_flac(buf: bytes) -> dict:
    from .flac import parse_streaminfo

    info = parse_streaminfo(buf)
    rate = info["sample_rate"]
    return {
        "sample_rate": rate,
        "duration_s": info["total_samples"] / rate if rate else 0.0,
        "codec": f"flac{info['bps']}",
    }


def _probe_avi(buf: bytes) -> dict:
    """avih header only: µs/frame, frame count, dims."""
    # RIFF(12) 'LIST'(4) size(4) 'hdrl'(4) 'avih'(4) size(4) → fields at 32
    if buf[12:16] != b"LIST" or buf[20:24] != b"hdrl" or buf[24:28] != b"avih":
        return {}
    usec, _mb, _pad, _fl, total = struct.unpack_from("<5I", buf, 32)
    w, h = struct.unpack_from("<II", buf, 32 + 32)
    return {
        "width": w, "height": h, "n_frames": total,
        "duration_s": total * usec / 1e6, "codec": "mjpeg",
    }


def _probe_h264_annexb(buf: bytes) -> dict:
    """Raw Annex-B elementary stream: dims/profile from the first SPS,
    picture count from the header-only slice scan — start-code finds plus
    single-byte peeks; only the (small) SPS NAL's payload is sliced and
    parsed, so mid-stream captures with megabyte slice NALs before the
    first SPS stay O(header) bytes touched."""
    from .h264 import count_annexb_pictures, parse_sps, strip_emulation_prevention

    out: dict = {"codec": "h264"}
    try:
        pos = buf.find(b"\x00\x00\x01")
        while pos >= 0:
            start = pos + 3
            nxt = buf.find(b"\x00\x00\x01", start)
            if start < len(buf) and (buf[start] & 0x1F) == 7 and not (
                buf[start] & 0x80
            ):
                end = nxt if nxt >= 0 else len(buf)
                while end > start and buf[end - 1] == 0:
                    end -= 1  # 4-byte start-code form of the NEXT nal
                sps = parse_sps(
                    strip_emulation_prevention(buf[start + 1 : end])
                )
                out.update(
                    width=sps["width"], height=sps["height"],
                    codec=f"h264-profile{sps['profile']}",
                )
                break
            pos = nxt
    except (ValueError, NotImplementedError):
        pass  # no parsable SPS: keep codec=h264, dims 0
    try:
        out["n_frames"] = count_annexb_pictures(buf)
    except (ValueError, NotImplementedError):
        pass  # truncated slice header mid-scan: keep the SPS fields
    return out


def _probe_mp4(buf: bytes) -> dict:
    """ISO-BMFF box walk: ftyp brand; moov/mvhd duration; trak/tkhd dims."""
    brand = buf[8:12].decode("ascii", "replace")
    out = {"codec": brand}

    def walk(start: int, end: int, depth: int = 0):
        pos = start
        while pos + 8 <= end and depth < 8:
            size = _U32B.unpack_from(buf, pos)[0]
            btype = buf[pos + 4 : pos + 8]
            if size == 1:  # 64-bit largesize
                if pos + 16 > end:
                    return
                size = struct.unpack_from(">Q", buf, pos + 8)[0]
                body = pos + 16
            else:
                body = pos + 8
            stop = min(end, pos + max(8, size))
            if btype == b"mvhd" and body + 20 <= stop:
                ver = buf[body]
                if ver == 1:
                    scale = _U32B.unpack_from(buf, body + 20)[0]
                    dur = struct.unpack_from(">Q", buf, body + 24)[0]
                else:
                    scale = _U32B.unpack_from(buf, body + 12)[0]
                    dur = _U32B.unpack_from(buf, body + 16)[0]
                if scale:
                    out["duration_s"] = dur / scale
            elif btype == b"tkhd" and stop - body >= 84:
                ver = buf[body]
                off = stop - 8  # width/height are the LAST two 16.16 fields
                w = _U32B.unpack_from(buf, off)[0] >> 16
                h = _U32B.unpack_from(buf, off + 4)[0] >> 16
                if w and h:
                    out["width"], out["height"] = w, h
            elif btype in (b"moov", b"trak", b"mdia"):
                walk(body, stop, depth + 1)
            if size < 8:
                return  # refuse to loop on garbage sizes
            pos += size
    walk(0, len(buf))
    # video-track sample count from the stsz table and the REAL codec
    # fourcc from the stsd sample entry (brand alone says 'isom' for
    # mjpeg and avc1 alike) — still header-only (no payload decode); any
    # malformed table just leaves n_frames at 0 / codec at the brand
    try:
        from .mp4 import _find, _full_box, _require, _stsd_fourcc, _video_stbl

        moov = _find(buf, 0, len(buf), b"moov")
        if moov is not None:
            stbl = _video_stbl(buf, moov)
            _, pos = _full_box(buf, *_require(buf, stbl, b"stsz"))
            out["n_frames"] = _U32B.unpack_from(buf, pos + 4)[0]
            fourcc = _stsd_fourcc(buf, stbl).decode("ascii", "replace")
            out["codec"] = f"{brand}/{fourcc}"
    except (ValueError, struct.error):
        pass
    return out


def _read_vint(buf: bytes, pos: int, keep_marker: bool) -> tuple[int, int]:
    """EBML variable-length integer at ``pos`` (RFC 8794 §4) →
    (value, next_pos).  Element IDs keep the length-marker bit (the spec
    writes IDs with it, e.g. 0x1A45DFA3); sizes strip it."""
    if pos >= len(buf):
        raise ValueError("EBML: truncated vint")
    first = buf[pos]
    if first == 0:
        raise ValueError("EBML: invalid vint lead byte 0x00")
    length = 8 - first.bit_length() + 1
    if pos + length > len(buf):
        raise ValueError("EBML: vint runs past EOF")
    val = first if keep_marker else first & ((1 << (8 - length)) - 1)
    for i in range(1, length):
        val = (val << 8) | buf[pos + i]
    return val, pos + length


# Matroska element ids (public spec / RFC 9559); master elements we descend
_MKV_MASTERS = {0x1A45DFA3, 0x18538067, 0x1549A966, 0x1654AE6B, 0xAE, 0xE0, 0xE1}
_MKV_UNKNOWN_SIZE = True  # sizes of all-ones mean "to end of parent"


def _probe_mkv(buf: bytes) -> dict:
    """EBML walk (RFC 8794 + Matroska RFC 9559): DocType, segment Info
    (TimestampScale × Duration), first video/audio TrackEntry (CodecID,
    PixelWidth/Height, SamplingFrequency).  Header-only — Clusters (the
    payload data, 0x1F43B675) are never descended; bounded by the same
    clamp-and-advance rules as the box/chunk walks.  The frame count comes
    from the reader's cluster/block structure walk (element headers only;
    payload bytes are skipped by size)."""
    out: dict = {}
    state = {"scale": 1_000_000, "dur": 0.0, "have_video": False,
             "have_audio": False}

    def walk(start: int, end: int, depth: int = 0):
        pos = start
        while pos + 2 <= end and depth < 8:
            try:
                eid, p2 = _read_vint(buf, pos, keep_marker=True)
                size, body = _read_vint(buf, p2, keep_marker=False)
            except ValueError:
                return
            # unknown-size (all value bits set) streams: runs to parent end
            nlen = body - p2
            if size == (1 << (7 * nlen)) - 1:
                stop = end
            else:
                stop = min(end, body + size)
            if eid in _MKV_MASTERS:
                walk(body, stop, depth + 1)
            elif eid == 0x4282:  # DocType
                doc = buf[body:stop].decode("ascii", "replace")
                out["format"] = "webm" if doc == "webm" else "mkv"
            elif eid == 0x2AD7B1:  # TimestampScale (ns per tick)
                state["scale"] = int.from_bytes(buf[body:stop], "big") or state["scale"]
            elif eid == 0x4489:  # Duration (float ticks)
                raw = buf[body:stop]
                if len(raw) == 4:
                    state["dur"] = struct.unpack(">f", raw)[0]
                elif len(raw) == 8:
                    state["dur"] = struct.unpack(">d", raw)[0]
            elif eid == 0x83:  # TrackType: 1 video, 2 audio
                t = int.from_bytes(buf[body:stop], "big")
                state["have_video"] |= t == 1
                state["have_audio"] |= t == 2
            elif eid == 0x86 and "codec" not in out:  # CodecID
                out["codec"] = buf[body:stop].decode("ascii", "replace")
            elif eid == 0xB0 and not out.get("width"):  # PixelWidth
                out["width"] = int.from_bytes(buf[body:stop], "big")
            elif eid == 0xBA and not out.get("height"):  # PixelHeight
                out["height"] = int.from_bytes(buf[body:stop], "big")
            elif eid == 0xB5 and not out.get("sample_rate"):  # SamplingFrequency
                raw = buf[body:stop]
                if len(raw) == 4:
                    out["sample_rate"] = int(struct.unpack(">f", raw)[0])
                elif len(raw) == 8:
                    out["sample_rate"] = int(struct.unpack(">d", raw)[0])
            if stop <= pos:
                return  # refuse to loop on garbage sizes
            pos = stop

    walk(0, len(buf))
    if state["dur"]:
        out["duration_s"] = state["dur"] * state["scale"] / 1e9
    if state["have_video"]:
        out["kind"] = "video"
    elif state["have_audio"]:
        out["kind"] = "audio"
    out.setdefault("codec", "ebml")
    try:
        from .mkv import _frame_ranges

        out["n_frames"] = len(_frame_ranges(buf)[0])
    except (ValueError, NotImplementedError):
        pass  # audio-only or truncated: keep the header-only fields
    return out


def _probe_mp3(buf: bytes) -> dict:
    """First MPEG audio frame header (after any ID3v2 tag): version/layer/
    bitrate/samplerate.  Duration: a **Xing/Info or VBRI** header inside the
    first frame gives the exact frame count (the accurate number for VBR
    files — filesize/first-frame-bitrate can be off by 2-3×); CBR files
    fall back to filesize/bitrate."""
    pos = 0
    if buf[:3] == b"ID3" and len(buf) >= 10:
        # syncsafe 28-bit tag size
        sz = (buf[6] << 21) | (buf[7] << 14) | (buf[8] << 7) | buf[9]
        pos = 10 + sz
    end = min(len(buf) - 4, pos + 4096)
    while pos <= end:
        if buf[pos] == 0xFF and buf[pos + 1] & 0xE0 == 0xE0:
            ver = (buf[pos + 1] >> 3) & 0x3  # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
            layer = (buf[pos + 1] >> 1) & 0x3  # 1 = Layer III
            brx = (buf[pos + 2] >> 4) & 0xF
            srx = (buf[pos + 2] >> 2) & 0x3
            if ver != 1 and layer == 1 and srx < 3:
                rates = _MP3_RATES.get(ver)
                table = _MP3_BITRATE_V1_L3 if ver == 3 else _MP3_BITRATE_V2_L3
                kbps = table[brx]
                rate = rates[srx] if rates else 0
                spf = 1152 if ver == 3 else 576  # Layer III samples/frame
                vbr_frames = _mp3_vbr_frames(buf, pos, ver)
                if vbr_frames and rate:
                    dur = vbr_frames * spf / rate
                    tag = "vbr"
                else:
                    dur = len(buf) * 8 / (kbps * 1000) if kbps else 0.0
                    tag = f"{kbps}kbps"
                return {
                    "sample_rate": rate,
                    "duration_s": round(dur, 3),
                    "codec": f"mpeg{'1' if ver == 3 else '2'}-l3@{tag}",
                }
        pos += 1
    return {"codec": "mpeg-audio"}


def _mp3_vbr_frames(buf: bytes, frame: int, ver: int) -> int:
    """Frame count from a Xing/Info or VBRI header in the first frame, or
    0 when absent.  Xing sits after the side-info block (offset depends on
    version + channel mode); VBRI sits at a fixed 32 bytes past the
    header (Fraunhofer encoders)."""
    mono = ((buf[frame + 3] >> 6) & 0x3) == 3 if frame + 3 < len(buf) else False
    if ver == 3:  # MPEG1
        off = frame + 4 + (17 if mono else 32)
    else:  # MPEG2/2.5
        off = frame + 4 + (9 if mono else 17)
    if buf[off : off + 4] in (b"Xing", b"Info") and off + 12 <= len(buf):
        flags = _U32B.unpack_from(buf, off + 4)[0]
        if flags & 1:  # frames field present
            return _U32B.unpack_from(buf, off + 8)[0]
        return 0
    vb = frame + 4 + 32
    if buf[vb : vb + 4] == b"VBRI" and vb + 18 <= len(buf):
        return _U32B.unpack_from(buf, vb + 14)[0]
    return 0


def _probe_ogg(buf: bytes) -> dict:
    """OGG page walk (RFC 3533): codec id from the first page's packet
    (Vorbis/Opus/Theora/FLAC-in-Ogg), sample rate from its id header, and
    duration from the LAST page's granule position — found by scanning the
    tail for 'OggS', so bytes touched stay O(header), not O(payload)."""
    out: dict = {"codec": "ogg"}
    if len(buf) < 28:
        return out
    nseg = buf[26]
    body = 27 + nseg
    pkt = buf[body : body + 64]
    rate = 0
    if pkt[:7] == b"\x01vorbis" and len(pkt) >= 16:
        rate = _U32L.unpack_from(pkt, 12)[0]
        out["codec"] = "vorbis"
    elif pkt[:8] == b"OpusHead":
        rate = 48000  # Opus granules are ALWAYS 48 kHz regardless of input
        out["codec"] = "opus"
        out["sample_rate"] = (
            _U32L.unpack_from(pkt, 12)[0] if len(pkt) >= 16 else 48000
        )
    elif pkt[:7] == b"\x80theora":
        out["codec"] = "theora"
        out["kind"] = "video"
    elif pkt[:5] == b"\x7fFLAC":
        out["codec"] = "flac-in-ogg"
    if rate and "sample_rate" not in out:
        out["sample_rate"] = rate
    # last page: granule position of the final 'OggS' with a sane header
    tail_start = max(0, len(buf) - 65536)
    p = buf.rfind(b"OggS", tail_start)
    while p > 0 and (p + 14 > len(buf) or buf[p + 4] != 0):
        p = buf.rfind(b"OggS", tail_start, p)
    if p >= 0 and p + 14 <= len(buf) and rate:
        granule = struct.unpack_from("<q", buf, p + 6)[0]
        if granule > 0:
            out["duration_s"] = round(granule / rate, 3)
    return out


# ------------------------------------------------------------ Spark stage

PROBE_SCHEMA = (
    "media_ref string, format string, kind string, width int, height int, "
    "n_frames int, duration_s double, sample_rate int, codec string"
)

_PROBE_COLS = [
    "media_ref", "format", "kind", "width", "height",
    "n_frames", "duration_s", "sample_rate", "codec",
]


def probe_media(df):
    """(media_ref, content) rows → one inventory row per payload.

    Header-only: bytes read per row are O(header), not O(payload) — this
    is the stage a 100 TB corpus runs FIRST (scan → map → agg by format,
    zero shuffles before the final counts).  ``probe_bytes`` never raises:
    garbage classifies as format='unknown' and stays countable.
    """
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            rows = []
            for ref, blob in zip(pdf["media_ref"], pdf["content"]):
                d = probe_bytes(bytes(blob))
                rows.append((ref, d["format"], d["kind"], d["width"],
                             d["height"], d["n_frames"], d["duration_s"],
                             d["sample_rate"], d["codec"]))
            yield pd.DataFrame(rows, columns=_PROBE_COLS)

    return df.select("media_ref", "content").mapInPandas(gen, PROBE_SCHEMA)
