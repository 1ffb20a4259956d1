"""From-scratch TIFF 6.0 / BigTIFF reader + fixture writer.

Scanned-document corpora — the reference's own domain (scanned steel
standards, rasterized in ``table_extraction/preprocessing.py``) — store
fax archives and scanner output as TIFF, overwhelmingly 1-bit CCITT G4
(RFC 2306 "TIFF-F").  This module implements the public Adobe TIFF 6.0
specification (plus the BigTIFF extension's 8-byte offsets) the same
no-library way as ``jpeg.py``/``ccitt.py``/``flac.py``, reusing the
codecs the repo already has:

- **CCITT** compressions 2 (1-D MH, per-row byte alignment), 3 (G3 with
  T4Options: 2-D flag → mixed K>0, fill-bit flag → aligned EOLs) and 4
  (G4/T.6) decode via ``ccitt.decode_ccitt``.
- **JPEG** compression 7 (new-style) decodes via ``jpeg.decode_jpeg``,
  including abbreviated streams whose DQT/DHT live in the shared
  ``JPEGTables`` tag (spliced after each segment's SOI, the libtiff
  layout).  Old-style compression 6 raises a named error (deprecated by
  TIFF TechNote 2; real-world files are rare and inconsistently written).
- **LZW** compression 5 is the TIFF variant (MSB-first code packing,
  early code-width change — NOT the GIF variant in ``gif.py``) with
  horizontal-differencing predictor 2, implemented here.
- **Deflate** (8 / legacy 32946) via stdlib zlib; **PackBits** (32773)
  implemented here.

Both byte orders, classic (magic 42) and BigTIFF (43) headers, strip and
tile layouts, FillOrder 2 (LSB-first fax bits, reversed via a 256-entry
table), bilevel/gray/RGB/palette photometrics, and multi-page IFD chains
(cycle-guarded) are handled.  Output matches every other page decoder:
``uint8 H×W`` grayscale with dark ink.  Unsupported corners (planar
config 2, old-style JPEG, exotic bit depths) raise named ValueErrors the
decode stage captures per-row.

Reference parity note: the reference handles PNG/JPEG pages via PIL and
never reads TIFF; this lane exists because a corpus of scanned documents
at 100 TB is full of it.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np

__all__ = [
    "decode_tiff",
    "iter_tiff_pages",
    "tiff_page_count",
    "tiff_probe",
    "encode_tiff_gray",
    "encode_tiff_multipage",
]

# tag ids (TIFF 6.0 §8)
_T_WIDTH, _T_HEIGHT = 256, 257
_T_BPS, _T_COMPRESSION, _T_PHOTOMETRIC = 258, 259, 262
_T_FILL_ORDER = 266
_T_STRIP_OFFSETS, _T_SPP, _T_ROWS_PER_STRIP, _T_STRIP_COUNTS = 273, 277, 278, 279
_T_T4_OPTIONS, _T_T6_OPTIONS = 292, 293
_T_PLANAR = 284
_T_PREDICTOR = 317
_T_COLORMAP = 320
_T_TILE_W, _T_TILE_H, _T_TILE_OFFSETS, _T_TILE_COUNTS = 322, 323, 324, 325
_T_JPEG_TABLES = 347

# field type → (struct char, byte size); types we never dereference
# (rationals etc.) fall back to raw skip
_TYPES = {
    1: ("B", 1), 2: ("s", 1), 3: ("H", 2), 4: ("I", 4), 6: ("b", 1),
    7: ("B", 1), 8: ("h", 2), 9: ("i", 4), 16: ("Q", 8), 17: ("q", 8),
}

_BIT_REVERSE = bytes(
    int(f"{i:08b}"[::-1], 2) for i in range(256)
)

def is_tiff_magic(head: bytes) -> bool:
    """The ``tiff`` row's sniff in ``media.FORMATS`` — the one definition of
    the four valid magic/byte-order pairs, which every consumer (page
    decode, multi-page iteration, the header probe) routes through."""
    from .media import sniff

    fmt = sniff(head[:4])
    return fmt is not None and fmt.name == "tiff"


def _parse_header(buf: bytes) -> tuple[str, bool, int]:
    """→ (endian prefix, is_bigtiff, first IFD offset)."""
    if len(buf) < 8:
        raise ValueError("TIFF: truncated header")
    if buf[:2] == b"II":
        en = "<"
    elif buf[:2] == b"MM":
        en = ">"
    else:
        raise ValueError(f"TIFF: bad byte-order mark {buf[:2]!r}")
    (magic,) = struct.unpack_from(en + "H", buf, 2)
    if magic == 42:
        (off,) = struct.unpack_from(en + "I", buf, 4)
        return en, False, off
    if magic == 43:
        ver, zero = struct.unpack_from(en + "HH", buf, 4)
        if ver != 8 or zero != 0:
            raise ValueError(f"BigTIFF: bad offset size {ver}/{zero}")
        (off,) = struct.unpack_from(en + "Q", buf, 8)
        return en, True, off
    raise ValueError(f"TIFF: bad magic {magic}")


def _read_values(buf: bytes, en: str, ftype: int, count: int, at: int, big: bool):
    """Entry value field at ``at`` (4 bytes classic / 8 BigTIFF): inline
    when it fits, else a pointer."""
    if ftype not in _TYPES:
        return None  # rational/unknown — nothing in this reader needs them
    ch, sz = _TYPES[ftype]
    total = sz * count
    inline = 8 if big else 4
    if total <= inline:
        pos = at
    else:
        (pos,) = struct.unpack_from(en + ("Q" if big else "I"), buf, at)
    if pos + total > len(buf):
        raise ValueError("TIFF: tag value beyond EOF")
    if ftype == 2:
        return buf[pos : pos + count]
    return list(struct.unpack_from(f"{en}{count}{ch}", buf, pos))


def _read_ifds(buf: bytes) -> tuple[str, list[dict[int, list]]]:
    """→ (endian prefix, IFD chain).  The endianness travels with the
    tables because 16-bit SAMPLE data is header-endian too (reading it
    native-endian silently byte-swaps every pixel of an MM-order file on
    a little-endian host — found in review)."""
    en, big, off = _parse_header(buf)
    ifds: list[dict[int, list]] = []
    seen: set[int] = set()
    while off:
        if off in seen or len(ifds) >= 10_000:
            raise ValueError("TIFF: IFD chain loops")
        seen.add(off)
        if big:
            if off + 8 > len(buf):
                raise ValueError("TIFF: IFD beyond EOF")
            (n,) = struct.unpack_from(en + "Q", buf, off)
            entry0, esz = off + 8, 20
        else:
            if off + 2 > len(buf):
                raise ValueError("TIFF: IFD beyond EOF")
            (n,) = struct.unpack_from(en + "H", buf, off)
            entry0, esz = off + 2, 12
        if entry0 + n * esz + (8 if big else 4) > len(buf):
            raise ValueError("TIFF: IFD entries beyond EOF")
        ifd: dict[int, list] = {}
        for i in range(n):
            e = entry0 + i * esz
            tag, ftype = struct.unpack_from(en + "HH", buf, e)
            (count,) = struct.unpack_from(en + ("Q" if big else "I"), buf, e + 4)
            vals = _read_values(buf, en, ftype, count, e + (12 if big else 8), big)
            if vals is not None:
                ifd[tag] = vals
        ifds.append(ifd)
        (off,) = struct.unpack_from(
            en + ("Q" if big else "I"), buf, entry0 + n * esz
        )
    if not ifds:
        raise ValueError("TIFF has no IFDs")
    return en, ifds


# ------------------------------------------------------------ codecs


def _packbits_decode(data: bytes, expected: int) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n and len(out) < expected:
        h = data[i]
        i += 1
        if h < 128:  # literal run of h+1 bytes
            out += data[i : i + h + 1]
            i += h + 1
        elif h > 128:  # repeat next byte 257-h times
            if i >= n:
                break
            out += data[i : i + 1] * (257 - h)
            i += 1
        # h == 128: no-op
    if len(out) < expected:
        raise ValueError("TIFF PackBits: segment shorter than declared")
    return bytes(out[:expected])


def _packbits_encode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        lit = i
        while (
            i < n
            and i - lit < 128
            and not (i + 2 < n and data[i] == data[i + 1] == data[i + 2])
        ):
            i += 1
        out += bytes([i - lit - 1]) + data[lit:i]
    return bytes(out)


_LZW_CLEAR, _LZW_EOI = 256, 257


def _lzw_decode(data: bytes, expected: int) -> bytes:
    """TIFF-variant LZW (spec §13): MSB-first code packing and the *early*
    code-width change — the decoder, one table add behind the encoder,
    bumps at 2^w − 2 (the classic TIFF off-by-one).  Decodes via the
    shared (src, len) slice-dictionary core (``lzw.decode_slices``);
    TIFF is the ``min_code = 8`` flavor with EOI-before-size an error."""
    from .lzw import decode_slices

    return decode_slices(
        data,
        expected,
        8,
        msb=True,
        early=2,
        eoi_raises=True,
        msg_truncated="TIFF LZW: data exhausted before declared size",
        msg_invalid="TIFF LZW: code {code} out of table",
        msg_eoi="TIFF LZW: EOI before declared size",
    )


def _lzw_encode(data: bytes) -> bytes:
    """Matching TIFF-variant encoder (fixture writer)."""
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    nxt, width = 258, 9
    emit(_LZW_CLEAR, width)
    w = b""
    for byte in data:
        wk = w + bytes([byte])
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        table[wk] = nxt
        nxt += 1
        # early change on the ENCODER side too: the code about to be
        # assigned must fit the width the decoder will be using
        if nxt == (1 << width) - 1 and width < 12:
            width += 1
        if nxt >= 4094:  # reset before the table fills
            emit(_LZW_CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            nxt, width = 258, 9
        w = bytes([byte])
    if w:
        emit(table[w], width)
    emit(_LZW_EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _splice_jpeg_tables(tables: bytes, segment: bytes) -> bytes:
    """JPEGTables tag (SOI…tables…EOI) + abbreviated segment (SOI…frame)
    → one standalone stream: tables inserted after the segment's SOI."""
    if len(tables) < 4 or tables[:2] != b"\xff\xd8":
        raise ValueError("TIFF: malformed JPEGTables tag")
    if segment[:2] != b"\xff\xd8":
        raise ValueError("TIFF: JPEG segment lacks SOI")
    return segment[:2] + tables[2:-2] + segment[2:]


# ------------------------------------------------------------ decode


def _gray_from_samples(
    arr: np.ndarray, photometric: int, colormap: list[int] | None
) -> np.ndarray:
    """H×W(×S) sample array → uint8 H×W grayscale, dark ink."""
    from .media import rgb_to_gray

    if photometric in (2, 6):  # RGB, or YCbCr (6) already converted to RGB
        # by the JPEG decoder (the standard libtiff color-JPEG layout);
        # raw non-JPEG YCbCr samples arrive 2-D-per-sample and refuse below
        if arr.ndim != 3 or arr.shape[2] < 3:
            raise ValueError(
                f"TIFF: photometric {photometric} without 3 decoded samples "
                f"(raw YCbCr outside the JPEG lane is not supported)"
            )
        return rgb_to_gray(arr[:, :, :3])
    if photometric == 3:  # palette
        if colormap is None:
            raise ValueError("TIFF: palette image without ColorMap")
        third = len(colormap) // 3
        r, g, b = (
            np.asarray(colormap[i * third : (i + 1) * third], dtype=np.uint16)
            for i in range(3)
        )
        idx = arr if arr.ndim == 2 else arr[:, :, 0]
        idx = np.clip(idx, 0, third - 1)
        rgb = np.dstack([(c[idx] >> 8).astype(np.uint8) for c in (r, g, b)])
        return rgb_to_gray(rgb)
    gray = arr if arr.ndim == 2 else arr[:, :, 0]
    if photometric == 0:  # WhiteIsZero
        return (255 - gray).astype(np.uint8)
    return gray.astype(np.uint8)


def _decode_segment(
    raw: bytes, en: str, ifd: dict, w: int, h: int, spp: int, bps: int,
    buf_note: str,
) -> np.ndarray:
    """One strip/tile's compressed bytes → uint8 h×w(×spp) sample array
    (bilevel already mapped to 0/1 sample values)."""
    comp = ifd.get(_T_COMPRESSION, [1])[0]
    if ifd.get(_T_FILL_ORDER, [1])[0] == 2:
        raw = raw.translate(_BIT_REVERSE)

    if comp in (2, 3, 4):
        from .ccitt import decode_ccitt

        if bps != 1 or spp != 1:
            raise ValueError("TIFF: CCITT compression requires 1-bit samples")
        if comp == 4:
            bitmap = decode_ccitt(raw, columns=w, rows=h, k=-1)
        elif comp == 3:
            opts = ifd.get(_T_T4_OPTIONS, [0])[0]
            bitmap = decode_ccitt(
                raw, columns=w, rows=h,
                k=4 if opts & 1 else 0,
                byte_align=bool(opts & 4),
            )
        else:  # 2: 1-D MH, every row byte-aligned, no EOLs
            bitmap = decode_ccitt(raw, columns=w, rows=h, k=0, byte_align=True)
        return bitmap  # 1 = black, matches the photometric-0 sample sense

    if comp == 7:
        from .jpeg import decode_jpeg

        tables = ifd.get(_T_JPEG_TABLES)
        stream = (
            _splice_jpeg_tables(bytes(tables), raw)
            if tables and not _has_huffman(raw)
            else raw
        )
        img = decode_jpeg(stream)
        if img.shape[0] != h or img.shape[1] != w:
            raise ValueError(
                f"TIFF: JPEG {buf_note} decodes to {img.shape[1]}x"
                f"{img.shape[0]}, declared {w}x{h}"
            )
        if img.ndim == 2 and spp == 1:
            return img
        if img.ndim == 3 and spp >= 3:
            return img
        raise ValueError("TIFF: JPEG segment sample count mismatch")

    expected = (w * bps * spp + 7) // 8 * h
    if comp == 1:
        data = raw[:expected]
        if len(data) < expected:
            raise ValueError(f"TIFF: {buf_note} shorter than declared size")
    elif comp == 5:
        data = _lzw_decode(raw, expected)
    elif comp in (8, 32946):
        data = zlib.decompress(raw)[:expected]
        if len(data) < expected:
            raise ValueError(f"TIFF: deflate {buf_note} shorter than declared")
    elif comp == 32773:
        data = _packbits_decode(raw, expected)
    elif comp == 6:
        raise ValueError(
            "TIFF: old-style JPEG (compression 6) was deprecated by "
            "TechNote 2 and is not supported — re-encode as compression 7"
        )
    else:
        raise ValueError(f"TIFF: unsupported compression {comp}")

    if bps == 1:
        bits = np.unpackbits(
            np.frombuffer(data, dtype=np.uint8).reshape(h, -1), axis=1
        )[:, :w]
        return bits  # sample values; photometric maps them later
    if bps == 8:
        arr = np.frombuffer(data, dtype=np.uint8).reshape(h, w, spp)
    elif bps == 16:
        # 16-bit samples are HEADER-endian (an MM file on a little-endian
        # host byte-swaps every pixel if read natively — found in review)
        arr = (
            np.frombuffer(data, dtype=en + "u2")
            .reshape(h, w, spp)
            .astype(np.uint16)
        )
    else:
        raise ValueError(f"TIFF: unsupported BitsPerSample {bps}")

    if ifd.get(_T_PREDICTOR, [1])[0] == 2:
        arr = np.cumsum(arr.astype(np.uint32), axis=1).astype(arr.dtype)
    if bps == 16:
        arr = (arr >> 8).astype(np.uint8)
    return arr[:, :, 0] if spp == 1 else arr


def _has_huffman(stream: bytes) -> bool:
    """Does a JPEG stream carry its own DHT before SOS?  (Abbreviated
    TIFF/JPEG segments don't — their tables live in JPEGTables.)"""
    i, n = 2, len(stream)
    while i + 4 <= n and stream[i] == 0xFF:
        marker = stream[i + 1]
        if marker == 0xC4:
            return True
        if marker == 0xDA:
            return False
        (ln,) = struct.unpack_from(">H", stream, i + 2)
        i += 2 + ln
    return False


def _decode_ifd(buf: bytes, en: str, ifd: dict) -> np.ndarray:
    w = ifd.get(_T_WIDTH, [0])[0]
    h = ifd.get(_T_HEIGHT, [0])[0]
    if not (0 < w <= 1 << 20 and 0 < h <= 1 << 20):
        raise ValueError(f"TIFF: bad dimensions {w}x{h}")
    spp = ifd.get(_T_SPP, [1])[0]
    bps_list = ifd.get(_T_BPS, [1])
    bps = bps_list[0]
    if any(b != bps for b in bps_list):
        raise ValueError("TIFF: heterogeneous BitsPerSample")
    if ifd.get(_T_PLANAR, [1])[0] != 1:
        raise ValueError("TIFF: planar configuration 2 not supported")
    photometric = ifd.get(_T_PHOTOMETRIC, [1])[0]
    colormap = ifd.get(_T_COLORMAP)

    tiled = _T_TILE_OFFSETS in ifd
    if tiled:
        offsets = ifd[_T_TILE_OFFSETS]
        counts = ifd.get(_T_TILE_COUNTS)
        tw = ifd.get(_T_TILE_W, [0])[0]
        th = ifd.get(_T_TILE_H, [0])[0]
        if not (tw and th) or tw % 16 or th % 16:
            raise ValueError(f"TIFF: bad tile geometry {tw}x{th}")
        across = (w + tw - 1) // tw
        down = (h + th - 1) // th
        if len(offsets) < across * down:
            raise ValueError("TIFF: tile table shorter than the grid")
    else:
        offsets = ifd.get(_T_STRIP_OFFSETS)
        counts = ifd.get(_T_STRIP_COUNTS)
        if offsets is None:
            raise ValueError("TIFF: no strip or tile offsets")
        rps = ifd.get(_T_ROWS_PER_STRIP, [h])[0]
        rps = min(max(1, rps), h)

    if counts is None:
        # permitted only for single-segment images: the segment runs to EOF
        if len(offsets) != 1:
            raise ValueError("TIFF: multi-segment image without byte counts")
        counts = [len(buf) - offsets[0]]

    def seg(i: int) -> bytes:
        off, cnt = offsets[i], counts[i]
        if off + cnt > len(buf) or off < 0 or cnt < 0:
            raise ValueError(f"TIFF: segment {i} beyond EOF")
        return buf[off : off + cnt]

    if tiled:
        out = np.zeros(
            (down * th, across * tw) if spp == 1 else (down * th, across * tw, spp),
            dtype=np.uint8,
        )
        for ty in range(down):
            for tx in range(across):
                tile = _decode_segment(
                    seg(ty * across + tx), en, ifd, tw, th, spp, bps,
                    f"tile {ty},{tx}",
                )
                out[ty * th : (ty + 1) * th, tx * tw : (tx + 1) * tw] = tile
        arr = out[:h, :w]
    else:
        parts = []
        row = 0
        for i in range(len(offsets)):
            rows_here = min(rps, h - row)
            if rows_here <= 0:
                break
            parts.append(
                _decode_segment(
                    seg(i), en, ifd, w, rows_here, spp, bps, f"strip {i}"
                )
            )
            row += rows_here
        if row < h:
            raise ValueError(f"TIFF: strips cover {row} of {h} rows")
        arr = np.concatenate(parts, axis=0) if len(parts) > 1 else parts[0]

    if bps == 1:
        # sample values → photometric mapping (0: 0=white; 1: 0=black)
        black = arr == (1 if photometric == 0 else 0)
        return np.where(black, 0, 255).astype(np.uint8)
    return _gray_from_samples(arr, photometric, colormap)


def decode_tiff(payload: bytes, page: int = 0) -> np.ndarray:
    """TIFF bytes → uint8 H×W grayscale (dark ink), page ``page``."""
    buf = bytes(payload)
    en, ifds = _read_ifds(buf)
    if not 0 <= page < len(ifds):
        raise ValueError(f"TIFF: page {page} of {len(ifds)}")
    return _decode_ifd(buf, en, ifds[page])


def iter_tiff_pages(payload: bytes) -> Iterator[tuple[int, int, np.ndarray]]:
    """→ (page_no, n_pages, gray page); one decoded page live at a time."""
    buf = bytes(payload)
    en, ifds = _read_ifds(buf)
    for i, ifd in enumerate(ifds):
        yield i, len(ifds), _decode_ifd(buf, en, ifd)


def tiff_page_count(payload: bytes) -> int:
    return len(_read_ifds(bytes(payload))[1])


_COMP_NAMES = {
    1: "none", 2: "ccitt-mh", 3: "ccitt-g3", 4: "ccitt-g4", 5: "lzw",
    6: "jpeg-old", 7: "jpeg", 8: "deflate", 32946: "deflate", 32773: "packbits",
}


def tiff_probe(payload: bytes) -> dict:
    """Header-only inventory fields (no pixel decode): dims of page 0,
    page count, compression name."""
    buf = bytes(payload)
    _en, ifds = _read_ifds(buf)
    first = ifds[0]
    return {
        "width": first.get(_T_WIDTH, [0])[0],
        "height": first.get(_T_HEIGHT, [0])[0],
        "n_frames": len(ifds),
        "codec": _COMP_NAMES.get(
            first.get(_T_COMPRESSION, [1])[0],
            str(first.get(_T_COMPRESSION, [1])[0]),
        ),
    }


# ------------------------------------------------------------ encode


def _entry(tag: int, ftype: int, values: list[int], heap: bytearray, base: int):
    ch, sz = _TYPES[ftype]
    total = sz * len(values)
    packed = struct.pack(f"<{len(values)}{ch}", *values)
    if total <= 4:
        val = packed + b"\x00" * (4 - total)
    else:
        while (base + len(heap)) % 2:
            heap.append(0)
        val = struct.pack("<I", base + len(heap))
        heap.extend(packed)
    return struct.pack("<HHI", tag, ftype, len(values)) + val


def _encode_page(img: np.ndarray, compression: str) -> tuple[bytes, int]:
    """One image → (IFD block + data heap, offset of the next-IFD pointer
    within the block).  The caller chains blocks and patches pointers."""
    if img.dtype != np.uint8 or img.ndim != 2:
        raise ValueError("encode_tiff_gray needs a uint8 H×W array")
    h, w = img.shape

    if compression in ("g4", "g3"):
        from .ccitt import encode_ccitt_g3_1d, encode_ccitt_g4

        bitmap = (img < 128).astype(np.uint8)  # ink → black bit
        if compression == "g4":
            data, comp, extra = encode_ccitt_g4(bitmap), 4, []
        else:
            data, comp, extra = (
                encode_ccitt_g3_1d(bitmap), 3, [(_T_T4_OPTIONS, 4, [0])]
            )
        bps, photometric = 1, 0
    elif compression == "jpeg":
        from .jpeg import encode_jpeg_gray

        data, comp, extra = encode_jpeg_gray(img, quality_div=8), 7, []
        bps, photometric = 8, 1
    else:
        raw = img.tobytes()
        if compression == "none":
            data, comp = raw, 1
        elif compression == "packbits":
            data, comp = _packbits_encode(raw), 32773
        elif compression == "lzw":
            data, comp = _lzw_encode(raw), 5
        elif compression == "deflate":
            data, comp = zlib.compress(raw, 6), 8
        else:
            raise ValueError(f"unknown TIFF fixture compression {compression!r}")
        extra = []
        bps, photometric = 8, 1

    # layout: [IFD][next ptr][heap: tag overflow + strip data]
    tags = [
        (_T_WIDTH, 3, [w]),
        (_T_HEIGHT, 3, [h]),
        (_T_BPS, 3, [bps]),
        (_T_COMPRESSION, 3, [comp]),
        (_T_PHOTOMETRIC, 3, [photometric]),
        (_T_STRIP_OFFSETS, 4, [0]),  # patched below
        (_T_SPP, 3, [1]),
        (_T_ROWS_PER_STRIP, 3, [min(h, 0xFFFF)]),
        (_T_STRIP_COUNTS, 4, [len(data)]),
    ] + extra
    tags.sort(key=lambda t: t[0])

    ifd_size = 2 + 12 * len(tags) + 4
    heap = bytearray()
    entries = b"".join(_entry(t, ft, v, heap, ifd_size) for t, ft, v in tags)
    data_off = ifd_size + len(heap)
    if data_off % 2:
        heap.append(0)
        data_off += 1
    block = bytearray()
    block += struct.pack("<H", len(tags)) + entries + struct.pack("<I", 0)
    block += heap + data
    # patch StripOffsets (single strip) with the real in-block offset;
    # the caller adds the block's absolute base
    strip_entry = 2 + 12 * [t for t, _f, _v in tags].index(_T_STRIP_OFFSETS)
    struct.pack_into("<I", block, strip_entry + 8, data_off)
    next_ptr_at = 2 + 12 * len(tags)
    return bytes(block), next_ptr_at


def encode_tiff_multipage(
    pages: list[np.ndarray], compression: str = "none"
) -> bytes:
    """uint8 gray pages → little-endian classic TIFF, one IFD per page.
    Fixture writer (``compression``: none | packbits | lzw | deflate |
    g4 | g3 | jpeg) — pairs with :func:`decode_tiff` exactly as
    ``encode_avi_mjpeg`` pairs with its decoder."""
    if not pages:
        raise ValueError("encode_tiff_multipage needs at least one page")
    out = bytearray(struct.pack("<2sHI", b"II", 42, 8))
    blocks = []
    for img in pages:
        blocks.append(_encode_page(img, compression))
    pos = 8
    bases = []
    for block, _ptr in blocks:
        bases.append(pos)
        pos += len(block) + (len(block) & 1)
    for i, (block, next_ptr_at) in enumerate(blocks):
        b = bytearray(block)
        # absolute-ize the strip offset
        ntags = struct.unpack_from("<H", b, 0)[0]
        for e in range(ntags):
            tag = struct.unpack_from("<H", b, 2 + 12 * e)[0]
            if tag == _T_STRIP_OFFSETS:
                at = 2 + 12 * e + 8
                (rel,) = struct.unpack_from("<I", b, at)
                struct.pack_into("<I", b, at, bases[i] + rel)
        if i + 1 < len(blocks):
            struct.pack_into("<I", b, next_ptr_at, bases[i + 1])
        out += b
        if len(b) & 1:
            out.append(0)
    return bytes(out)


def encode_tiff_gray(img: np.ndarray, compression: str = "none") -> bytes:
    return encode_tiff_multipage([img], compression)
