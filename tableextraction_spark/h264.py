"""From-scratch ITU-T H.264 / ISO-IEC 14496-10 — structure + I_PCM payload.

Same no-library standard as PNG/JPEG/MP4/MKV: the NAL layer (Annex B byte
streams and avcC length-prefixed samples), emulation prevention, Exp-Golomb
entropy coding, SPS/PPS/slice-header syntax, and the I-slice macroblock
walk are implemented to the public spec.  Pixel payloads decode for
**I_PCM macroblocks** (mb_type 25 in I slices, §7.3.5 / Table 7-11) —
spec-conformant raw-sample coding that any H.264 decoder plays — in both
4:2:0 (Baseline, profile 66) and monochrome 4:0:0 (High, profile 100,
chroma_format_idc 0) forms.

The CAVLC residual path (coeff_token / total_zeros / run_before VLC
tables, §9.2) and CABAC (§9.3) are NAMED SEAMS, not decoded: like the MP3
layer-III Huffman tables (`multimodal.decode_audio`), the spec's VLC
tables are large enough that transcribing them from memory risks
self-consistent-but-wrong output, and this environment carries no
conformance vectors to pin them against.  A CAVLC/CABAC-coded macroblock
raises a ValueError naming exactly that.  Deblocking (§8.7) is likewise
not implemented; streams that would invoke it (disable_deblocking_filter
_idc != 1 with non-PCM neighbors) refuse loudly — our I_PCM-only fixture
streams disable it in the slice header, which the spec honors exactly, so
round trips are pixel-exact.

Output contract: frames are the LUMA plane as uint8 gray (this pipeline is
grayscale end-to-end; the fixture encoder stores gray in luma and neutral
128 chroma).

Reference parity note: the reference (DikovAlexandr/TableExtraction)
handles images only; video is an engine-side corpus capability, not a
port.
"""

from __future__ import annotations

import re
import struct
from collections.abc import Iterator

import numpy as np

_U16B = struct.Struct(">H")
_U32B = struct.Struct(">I")


# ------------------------------------------------------------ bit I/O

class _BitReader:
    """MSB-first reader over an RBSP (emulation prevention already removed).
    Running past the end raises ValueError — truncated slices become named
    per-row errors upstream, never silent garbage."""

    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.nbits = 8 * len(data)

    def u(self, n: int) -> int:
        p = self.pos
        if p + n > self.nbits:
            raise ValueError("H264: bitstream truncated")
        self.pos = p + n
        v = 0
        for _ in range(n):
            v = (v << 1) | ((self.data[p >> 3] >> (7 - (p & 7))) & 1)
            p += 1
        return v

    def ue(self) -> int:
        """Exp-Golomb unsigned (§9.1): leadingZeroBits then the remainder."""
        zeros = 0
        while True:
            if self.pos >= self.nbits:
                raise ValueError("H264: bitstream truncated in Exp-Golomb")
            bit = (self.data[self.pos >> 3] >> (7 - (self.pos & 7))) & 1
            self.pos += 1
            if bit:
                break
            zeros += 1
            if zeros > 31:
                raise ValueError("H264: Exp-Golomb code too long")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        """Exp-Golomb signed (§9.1.1): k → (-1)^(k+1) · ceil(k/2)."""
        k = self.ue()
        return (k + 1) >> 1 if k & 1 else -(k >> 1)

    def byte_align_zero(self) -> None:
        """Consume pcm_alignment_zero_bit padding; must be zeros (§7.3.5)."""
        while self.pos & 7:
            if self.u(1):
                raise ValueError("H264: nonzero pcm_alignment bit")

    def bytes_exact(self, n: int) -> bytes:
        if self.pos & 7:
            raise ValueError("H264: byte read while unaligned")
        start = self.pos >> 3
        if start + n > len(self.data):
            raise ValueError("H264: PCM samples truncated")
        self.pos += 8 * n
        return self.data[start : start + n]

    def more_rbsp_data(self) -> bool:
        """True while bits besides the rbsp_stop_one_bit + padding remain."""
        if self.pos >= self.nbits:
            return False
        # find the last 1 bit in the stream; data remains iff we are before
        p = self.nbits - 1
        while p >= 0:
            if (self.data[p >> 3] >> (7 - (p & 7))) & 1:
                break
            p -= 1
        return self.pos < p


class _BitWriter:
    """MSB-first writer: a byte buffer plus a sub-byte bit accumulator —
    ``raw_bytes`` on an aligned writer is a straight buffer append, so
    megabyte PCM payloads cost memcpy, not per-bit list churn."""

    __slots__ = ("out", "acc", "nacc")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0  # pending bits, MSB-first, low nacc bits significant
        self.nacc = 0

    def u(self, v: int, n: int) -> None:
        acc = (self.acc << n) | (v & ((1 << n) - 1))
        nacc = self.nacc + n
        while nacc >= 8:
            nacc -= 8
            self.out.append((acc >> nacc) & 0xFF)
        self.acc = acc & ((1 << nacc) - 1)
        self.nacc = nacc

    def ue(self, v: int) -> None:
        k = v + 1
        n = k.bit_length()
        self.u(0, n - 1)
        self.u(k, n)

    def se(self, v: int) -> None:
        self.ue(2 * v - 1 if v > 0 else -2 * v)

    def align_zero(self) -> None:
        if self.nacc:
            self.u(0, 8 - self.nacc)

    def raw_bytes(self, b: bytes) -> None:
        assert self.nacc == 0
        self.out += b

    def rbsp_trailing(self) -> None:
        self.u(1, 1)
        self.align_zero()

    def tobytes(self) -> bytes:
        if not self.nacc:
            return bytes(self.out)
        # zero-pad a final partial byte (test surface; real RBSPs end
        # with rbsp_trailing, which aligns)
        return bytes(self.out) + bytes([(self.acc << (8 - self.nacc)) & 0xFF])


# -------------------------------------------- NAL layer (§7.3.1, §7.4.1)

_EP_STRIP = re.compile(b"\x00\x00\x03")
_EP_INSERT = re.compile(b"\x00\x00(?=[\x00-\x03])")


def strip_emulation_prevention(data: bytes) -> bytes:
    """NAL payload → RBSP: drop the 0x03 in every 0x000003 run.

    The regex's non-overlapping left-to-right scan is exactly the spec's
    zeros-counter-resets-after-removal semantics (after a strip the scan
    resumes at the byte following the 0x03, with zero pending zeros), and
    runs at C speed over megabyte PCM slices."""
    if b"\x00\x00\x03" not in data:
        return data
    return _EP_STRIP.sub(b"\x00\x00", data)


def insert_emulation_prevention(rbsp: bytes) -> bytes:
    """RBSP → NAL payload: escape 0x0000{00,01,02,03} with 0x03.

    Same reset-semantics argument as ``strip_emulation_prevention``: the
    lookahead byte is not consumed, so a run of zeros re-pairs after each
    inserted 0x03 exactly as the spec's counter does (0,0,0,0,0 →
    0,0,3,0,0,3,0)."""
    return _EP_INSERT.sub(b"\x00\x00\x03", rbsp)


def iter_annexb_nals(buf: bytes) -> Iterator[tuple[int, int, bytes]]:
    """Annex-B byte stream → (nal_ref_idc, nal_unit_type, rbsp) per NAL."""
    n = len(buf)
    pos = buf.find(b"\x00\x00\x01")
    if pos < 0:
        raise ValueError("H264: no Annex-B start code found")
    while pos >= 0 and pos < n:
        start = pos + 3
        nxt = buf.find(b"\x00\x00\x01", start)
        end = nxt if nxt >= 0 else n
        # trim the 0x00 that belongs to a 4-byte start code of the NEXT nal
        while end > start and buf[end - 1] == 0:
            end -= 1
        nal = buf[start:end]
        if nal:
            hdr = nal[0]
            if hdr & 0x80:
                raise ValueError("H264: forbidden_zero_bit set")
            yield (hdr >> 5) & 3, hdr & 0x1F, strip_emulation_prevention(
                nal[1:]
            )
        pos = nxt


def iter_length_prefixed_nals(
    sample: bytes, length_size: int = 4
) -> Iterator[tuple[int, int, bytes]]:
    """avcC-style sample → NALs (§5.3.4.2 of 14496-15)."""
    pos, n = 0, len(sample)
    while pos + length_size <= n:
        ln = int.from_bytes(sample[pos : pos + length_size], "big")
        pos += length_size
        if ln == 0 or pos + ln > n:
            raise ValueError("H264: NAL length overruns the sample")
        nal = sample[pos : pos + ln]
        pos += ln
        hdr = nal[0]
        if hdr & 0x80:
            raise ValueError("H264: forbidden_zero_bit set")
        yield (hdr >> 5) & 3, hdr & 0x1F, strip_emulation_prevention(nal[1:])
    if pos != n:
        raise ValueError("H264: trailing bytes after the last NAL")


# ------------------------------------------------------- SPS / PPS (§7.3.2)

_HIGH_PROFILES = (100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134)


def parse_sps(rbsp: bytes) -> dict:
    r = _BitReader(rbsp)
    profile = r.u(8)
    r.u(8)  # constraint flags + reserved
    level = r.u(8)
    sps_id = r.ue()
    chroma_format_idc = 1  # pre-High default: 4:2:0
    if profile in _HIGH_PROFILES:
        chroma_format_idc = r.ue()
        if chroma_format_idc == 3:
            r.u(1)  # separate_colour_plane_flag
        if r.ue() or r.ue():  # bit_depth_{luma,chroma}_minus8
            raise NotImplementedError("H264: only 8-bit depth supported")
        r.u(1)  # qpprime_y_zero_transform_bypass_flag
        if r.u(1):  # seq_scaling_matrix_present_flag
            raise NotImplementedError("H264: scaling matrices not supported")
    if chroma_format_idc not in (0, 1):
        raise NotImplementedError(
            f"H264: chroma_format_idc {chroma_format_idc} not supported "
            "(monochrome and 4:2:0 only)"
        )
    log2_max_frame_num = r.ue() + 4
    poc_type = r.ue()
    log2_max_poc_lsb = 0
    poc_delta_always_zero = 0
    if poc_type == 0:
        log2_max_poc_lsb = r.ue() + 4
    elif poc_type == 1:
        poc_delta_always_zero = r.u(1)
        r.se()
        r.se()
        for _ in range(r.ue()):
            r.se()
    r.ue()  # max_num_ref_frames
    r.u(1)  # gaps_in_frame_num_value_allowed_flag
    w_mbs = r.ue() + 1
    h_units = r.ue() + 1
    frame_mbs_only = r.u(1)
    if not frame_mbs_only:
        raise NotImplementedError("H264: interlaced (field) coding")
    r.u(1)  # direct_8x8_inference_flag
    crop = (0, 0, 0, 0)
    if r.u(1):  # frame_cropping_flag
        crop = (r.ue(), r.ue(), r.ue(), r.ue())
    # CropUnit (§7.4.2.1.1): monochrome 1×1; 4:2:0 frame 2×2
    cux, cuy = (1, 1) if chroma_format_idc == 0 else (2, 2)
    width = w_mbs * 16 - cux * (crop[0] + crop[1])
    height = h_units * 16 - cuy * (crop[2] + crop[3])
    if width <= 0 or height <= 0:
        raise ValueError("H264: cropping exceeds the coded frame")
    return {
        "profile": profile,
        "level": level,
        "sps_id": sps_id,
        "chroma_format_idc": chroma_format_idc,
        "log2_max_frame_num": log2_max_frame_num,
        "poc_type": poc_type,
        "log2_max_poc_lsb": log2_max_poc_lsb,
        "poc_delta_always_zero": poc_delta_always_zero,
        "w_mbs": w_mbs,
        "h_mbs": h_units,
        "crop": crop,
        "width": width,
        "height": height,
    }


def parse_pps(rbsp: bytes) -> dict:
    r = _BitReader(rbsp)
    pps_id = r.ue()
    sps_id = r.ue()
    entropy_cabac = r.u(1)
    if entropy_cabac:
        raise NotImplementedError(
            "H264: CABAC entropy coding (§9.3) is a deploy-time seam"
        )
    bottom_field_poc = r.u(1)  # bottom_field_pic_order_in_frame_present
    if r.ue():  # num_slice_groups_minus1
        raise NotImplementedError("H264: FMO slice groups not supported")
    r.ue()  # num_ref_idx_l0_default_active_minus1
    r.ue()  # num_ref_idx_l1_default_active_minus1
    r.u(1)  # weighted_pred_flag
    r.u(2)  # weighted_bipred_idc
    pic_init_qp = 26 + r.se()
    r.se()  # pic_init_qs_minus26
    r.se()  # chroma_qp_index_offset
    deblock_ctrl = r.u(1)
    r.u(1)  # constrained_intra_pred_flag
    redundant_present = r.u(1)  # redundant_pic_cnt_present_flag
    return {
        "pps_id": pps_id,
        "sps_id": sps_id,
        "pic_init_qp": pic_init_qp,
        "deblock_ctrl": deblock_ctrl,
        "bottom_field_poc": bottom_field_poc,
        "redundant_present": redundant_present,
    }


# ---------------------------------------------------- slice layer (§7.3.3)

_I_SLICE_TYPES = (2, 7)  # I and all-I


def _parse_slice_header(
    r: _BitReader, sps: dict, pps: dict, nal_type: int, nal_ref_idc: int
) -> dict:
    first_mb = r.ue()
    slice_type = r.ue()
    if slice_type not in _I_SLICE_TYPES:
        raise NotImplementedError(
            f"H264: slice_type {slice_type} needs inter prediction — "
            "only I slices decode natively"
        )
    _pps_id = r.ue()
    r.u(sps["log2_max_frame_num"])  # frame_num
    if nal_type == 5:
        r.ue()  # idr_pic_id
    # §7.3.3 picture-order-count fields (frame_mbs_only → field_pic_flag
    # is absent and treated as 0 throughout)
    if sps["poc_type"] == 0:
        r.u(sps["log2_max_poc_lsb"])  # pic_order_cnt_lsb
        if pps["bottom_field_poc"]:
            r.se()  # delta_pic_order_cnt_bottom
    elif sps["poc_type"] == 1 and not sps["poc_delta_always_zero"]:
        r.se()  # delta_pic_order_cnt[0]
        if pps["bottom_field_poc"]:
            r.se()  # delta_pic_order_cnt[1]
    if pps["redundant_present"]:
        if r.ue():  # redundant_pic_cnt: >0 marks a REDUNDANT copy of a
            # primary slice — decoding it as primary would double-write
            raise NotImplementedError(
                "H264: redundant coded slices not supported"
            )
    if nal_ref_idc:  # dec_ref_pic_marking (IDR form for nal_type 5)
        if nal_type == 5:
            r.u(1)  # no_output_of_prior_pics_flag
            r.u(1)  # long_term_reference_flag
        else:
            if r.u(1):  # adaptive_ref_pic_marking_mode_flag
                raise NotImplementedError(
                    "H264: adaptive ref-pic marking not supported"
                )
    r.se()  # slice_qp_delta
    disable_deblock = 0
    if pps["deblock_ctrl"]:
        disable_deblock = r.ue()
        if disable_deblock != 1:
            r.se()  # slice_alpha_c0_offset_div2
            r.se()  # slice_beta_offset_div2
    if disable_deblock != 1:
        raise NotImplementedError(
            "H264: in-loop deblocking (§8.7) not implemented — streams "
            "must disable it per slice (disable_deblocking_filter_idc=1)"
        )
    return {"first_mb": first_mb, "slice_type": slice_type}


def _decode_slice_ipcm(
    r: _BitReader, sps: dict, first_mb: int, luma: np.ndarray,
    done: np.ndarray
) -> None:
    """Fill I_PCM macroblocks from first_mb until the slice data ends."""
    w_mbs = sps["w_mbs"]
    n_mbs = w_mbs * sps["h_mbs"]
    mono = sps["chroma_format_idc"] == 0
    stride = 2 + 256 + (0 if mono else 128)
    lview = luma.reshape(sps["h_mbs"], 16, w_mbs, 16)
    mb = first_mb
    while r.more_rbsp_data():
        if mb >= n_mbs:
            raise ValueError("H264: more macroblocks than PicSizeInMbs")
        mb_type = r.ue()
        if mb_type != 25:
            raise NotImplementedError(
                f"H264: I-slice mb_type {mb_type} is CAVLC-coded (§9.2 "
                "coeff_token tables) — a deploy-time seam; only I_PCM "
                "(mb_type 25) decodes natively"
            )
        r.byte_align_zero()
        samples = np.frombuffer(r.bytes_exact(256), dtype=np.uint8)
        if not mono:
            r.bytes_exact(128)  # Cb + Cr 8×8 each: parsed, gray pipeline
        my, mx = divmod(mb, w_mbs)
        luma[my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16] = (
            samples.reshape(16, 16)
        )
        done[mb] = True
        mb += 1
        # Bulk fast path: after one I_PCM macroblock the reader is
        # byte-aligned, and every FURTHER I_PCM macroblock is the fixed
        # byte pattern 0x0D 0x00 (ue(25) = 9 bits + 7 pcm_alignment
        # zeros) followed by the raw samples — so a run of them decodes
        # as one strided view + one vectorized scatter.  Any header
        # byte-pair that differs (a different mb_type, the rbsp stop
        # bit) ends the run and falls back to the exact scalar walk.
        p = r.pos >> 3
        avail = (len(r.data) - p - 1) // stride  # ≥1 byte stays: trailing
        run = min(avail, n_mbs - mb)
        if run > 0:
            region = np.frombuffer(
                r.data, np.uint8, count=run * stride, offset=p
            ).reshape(run, stride)
            ok = (region[:, 0] == 0x0D) & (region[:, 1] == 0x00)
            if not ok.all():
                run = int(np.argmin(ok))
            if run > 0:
                idx = np.arange(mb, mb + run)
                lview[idx // w_mbs, :, idx % w_mbs, :] = (
                    region[:run, 2:258].reshape(run, 16, 16)
                )
                done[idx] = True
                mb += run
                r.pos += run * stride * 8


def _resolve_param_sets(
    rbsp: bytes, sps_by_id: dict[int, dict], pps_by_id: dict[int, dict]
) -> tuple[dict, dict]:
    """Peek a slice RBSP's pps_id (first_mb ue, slice_type ue, pps_id ue)
    and resolve the active (sps, pps) pair with named errors."""
    peek = _BitReader(rbsp)
    peek.ue()
    peek.ue()
    pps_id = peek.ue()
    pps = pps_by_id.get(pps_id)
    if pps is None:
        raise ValueError(f"H264: slice references unknown PPS {pps_id}")
    sps = sps_by_id.get(pps["sps_id"])
    if sps is None:
        raise ValueError("H264: PPS references unknown SPS")
    return sps, pps


def count_annexb_pictures(buf: bytes) -> int:
    """Number of coded pictures in an Annex-B stream, header-only: one per
    slice NAL whose first_mb_in_slice is 0 (EP-strip touches ~8 bytes per
    NAL via the peek, not the payload)."""
    n = 0
    pos = buf.find(b"\x00\x00\x01")
    while pos >= 0:
        start = pos + 3
        if start < len(buf):
            hdr = buf[start]
            if not (hdr & 0x80) and (hdr & 0x1F) in (1, 5):
                peek = _BitReader(
                    strip_emulation_prevention(buf[start + 1 : start + 9])
                )
                if peek.ue() == 0:  # first_mb_in_slice
                    n += 1
        pos = buf.find(b"\x00\x00\x01", start)
    return n


def iter_h264_annexb_frames(buf: bytes):
    """Annex-B elementary stream → uint8 (H, W) gray (luma) frames, one
    live at a time (each picture's canvas is freed as it yields — a
    10k-frame stream never materializes).

    Every access unit must be an I/IDR picture whose macroblocks are all
    I_PCM; anything else raises the named seam errors above."""
    sps_by_id: dict[int, dict] = {}
    pps_by_id: dict[int, dict] = {}
    got_any = False
    cur = None  # (sps, luma, done)
    for ref_idc, nal_type, rbsp in iter_annexb_nals(buf):
        if nal_type == 7:
            s = parse_sps(rbsp)
            sps_by_id[s["sps_id"]] = s
        elif nal_type == 8:
            p = parse_pps(rbsp)
            pps_by_id[p["pps_id"]] = p
        elif nal_type in (1, 5):
            r = _BitReader(rbsp)
            sps, pps = _resolve_param_sets(rbsp, sps_by_id, pps_by_id)
            hdr = _parse_slice_header(r, sps, pps, nal_type, ref_idc)
            if hdr["first_mb"] == 0 or cur is None or cur[0] is not sps:
                if cur is not None and not cur[2].all():
                    raise ValueError("H264: picture ended with undecoded "
                                     "macroblocks")
                if cur is not None:
                    yield _crop(cur[0], cur[1])
                    got_any = True
                luma = np.zeros((sps["h_mbs"] * 16, sps["w_mbs"] * 16),
                                dtype=np.uint8)
                done = np.zeros(sps["w_mbs"] * sps["h_mbs"], dtype=bool)
                cur = (sps, luma, done)
            _decode_slice_ipcm(r, cur[0], hdr["first_mb"], cur[1], cur[2])
        elif nal_type in (6, 9, 10, 11, 12):
            continue  # SEI / AUD / end-of-* / filler
        else:
            raise ValueError(f"H264: unsupported NAL unit type {nal_type}")
    if cur is not None:
        if not cur[2].all():
            raise ValueError("H264: picture ended with undecoded "
                             "macroblocks")
        yield _crop(cur[0], cur[1])
        got_any = True
    if not got_any:
        raise ValueError("H264: stream contains no coded pictures")


def iter_annexb_video_frames(payload):
    """Annex-B stream → (frame_no, n_frames, frame) for the video path: the
    frame count comes up front from the header-only picture scan (the MKV
    lane's pattern); decode stays one frame live at a time."""
    buf = bytes(payload)
    n_pics = count_annexb_pictures(buf)
    for i, f in enumerate(iter_h264_annexb_frames(buf)):
        yield i, n_pics, f


def decode_h264_annexb(buf: bytes) -> list[np.ndarray]:
    """Annex-B elementary stream → list of gray frames (materialized; the
    streaming video path uses ``iter_h264_annexb_frames`` directly)."""
    return list(iter_h264_annexb_frames(buf))


def _crop(sps: dict, luma: np.ndarray) -> np.ndarray:
    cux = 1 if sps["chroma_format_idc"] == 0 else 2
    l, rgt, t, b = sps["crop"]
    h, w = sps["height"], sps["width"]
    y0, x0 = t * cux, l * cux
    return luma[y0 : y0 + h, x0 : x0 + w].copy()


# ----------------------------------------------------------------- encoder

def _nal(ref_idc: int, nal_type: int, rbsp: bytes) -> bytes:
    return bytes([(ref_idc << 5) | nal_type]) + insert_emulation_prevention(
        rbsp
    )


def _build_sps(width: int, height: int, mono: bool) -> bytes:
    w = _BitWriter()
    w_mbs = -(-width // 16)
    h_mbs = -(-height // 16)
    profile = 100 if mono else 66  # monochrome needs High (chroma_format 0)
    w.u(profile, 8)
    w.u(0, 8)  # constraint flags
    w.u(30, 8)  # level 3.0
    w.ue(0)  # sps_id
    if mono:
        w.ue(0)  # chroma_format_idc = monochrome
        w.ue(0)  # bit_depth_luma_minus8
        w.ue(0)  # bit_depth_chroma_minus8
        w.u(0, 1)  # qpprime_y_zero_transform_bypass
        w.u(0, 1)  # seq_scaling_matrix_present
    w.ue(0)  # log2_max_frame_num_minus4
    w.ue(2)  # pic_order_cnt_type = 2 (no extra fields)
    w.ue(0)  # max_num_ref_frames
    w.u(0, 1)  # gaps_in_frame_num_value_allowed
    w.ue(w_mbs - 1)
    w.ue(h_mbs - 1)
    w.u(1, 1)  # frame_mbs_only
    w.u(1, 1)  # direct_8x8_inference
    crop_r = w_mbs * 16 - width
    crop_b = h_mbs * 16 - height
    cu = 1 if mono else 2
    if crop_r or crop_b:
        assert crop_r % cu == 0 and crop_b % cu == 0
        w.u(1, 1)
        w.ue(0)
        w.ue(crop_r // cu)
        w.ue(0)
        w.ue(crop_b // cu)
    else:
        w.u(0, 1)
    w.rbsp_trailing()
    return w.tobytes()


def _build_pps() -> bytes:
    w = _BitWriter()
    w.ue(0)  # pps_id
    w.ue(0)  # sps_id
    w.u(0, 1)  # entropy_coding_mode = CAVLC
    w.u(0, 1)  # bottom_field_pic_order_in_frame_present
    w.ue(0)  # num_slice_groups_minus1
    w.ue(0)  # num_ref_idx_l0_default_active_minus1
    w.ue(0)  # num_ref_idx_l1_default_active_minus1
    w.u(0, 1)  # weighted_pred
    w.u(0, 2)  # weighted_bipred_idc
    w.se(0)  # pic_init_qp_minus26
    w.se(0)  # pic_init_qs_minus26
    w.se(0)  # chroma_qp_index_offset
    w.u(1, 1)  # deblocking_filter_control_present (we disable per slice)
    w.u(0, 1)  # constrained_intra_pred
    w.u(0, 1)  # redundant_pic_cnt_present
    w.rbsp_trailing()
    return w.tobytes()


def _build_idr_slice(frame: np.ndarray, w_mbs: int, h_mbs: int,
                     mono: bool) -> bytes:
    h, wdt = frame.shape
    padded = np.full((h_mbs * 16, w_mbs * 16), 128, dtype=np.uint8)
    padded[:h, :wdt] = frame
    # pad replicates the edge so cropping is purely cosmetic
    if wdt < w_mbs * 16:
        padded[:h, wdt:] = frame[:, -1:]
    if h < h_mbs * 16:
        padded[h:, :] = padded[h - 1 : h, :]
    w = _BitWriter()
    w.ue(0)  # first_mb_in_slice
    w.ue(7)  # slice_type: I (all slices in picture are I)
    w.ue(0)  # pps_id
    w.u(0, 4)  # frame_num (log2_max_frame_num = 4)
    w.ue(0)  # idr_pic_id
    w.u(0, 1)  # no_output_of_prior_pics
    w.u(0, 1)  # long_term_reference
    w.se(0)  # slice_qp_delta
    w.ue(1)  # disable_deblocking_filter_idc = 1 (off)
    n_mbs = w_mbs * h_mbs
    blocks = (
        padded.reshape(h_mbs, 16, w_mbs, 16)
        .transpose(0, 2, 1, 3)
        .reshape(n_mbs, 256)
    )
    # first macroblock: its ue(25) starts mid-byte after the slice header,
    # so the writer codes it bit-by-bit and the alignment pad lands it on
    # a byte boundary …
    w.ue(25)  # mb_type I_PCM
    w.align_zero()  # pcm_alignment_zero_bit
    w.raw_bytes(blocks[0].tobytes())
    if not mono:
        w.raw_bytes(b"\x80" * 128)  # neutral Cb, Cr (8×8 each)
    # … after which every further I_PCM macroblock is the fixed byte
    # pattern 0x0D 0x00 + samples (the same invariant the decoder's bulk
    # path reads), built as one strided array instead of a per-MB loop
    if n_mbs > 1:
        stride = 2 + 256 + (0 if mono else 128)
        bulk = np.empty((n_mbs - 1, stride), np.uint8)
        bulk[:, 0] = 0x0D
        bulk[:, 1] = 0x00
        bulk[:, 2:258] = blocks[1:]
        if not mono:
            bulk[:, 258:] = 0x80
        w.raw_bytes(bulk.tobytes())
    w.rbsp_trailing()
    return w.tobytes()


def encode_h264_annexb(frames: list[np.ndarray]) -> bytes:
    """Gray frames → a spec-conformant Annex-B H.264 elementary stream of
    IDR pictures coded entirely as I_PCM macroblocks.  Monochrome (High
    4:0:0) when a dimension is odd — its 1×1 crop unit represents any
    size exactly; Baseline 4:2:0 with neutral chroma otherwise."""
    h, wdt, mono = validate_uniform_frames(frames)
    w_mbs = -(-wdt // 16)
    h_mbs = -(-h // 16)
    sc = b"\x00\x00\x00\x01"
    out = [sc + _nal(3, 7, _build_sps(wdt, h, mono)),
           sc + _nal(3, 8, _build_pps())]
    for f in frames:
        out.append(sc + _nal(3, 5, _build_idr_slice(f, w_mbs, h_mbs, mono)))
    return b"".join(out)


def build_avcc(sps_nal: bytes, pps_nal: bytes) -> bytes:
    """AVCDecoderConfigurationRecord (ISO 14496-15 §5.3.3.1)."""
    return (
        bytes([1, sps_nal[1], sps_nal[2], sps_nal[3], 0xFC | 3, 0xE0 | 1])
        + _U16B.pack(len(sps_nal)) + sps_nal
        + bytes([1]) + _U16B.pack(len(pps_nal)) + pps_nal
    )


def parse_avcc(body: bytes) -> tuple[list[bytes], list[bytes], int]:
    """avcC box body → (sps NALs, pps NALs, NAL length size)."""
    if len(body) < 7 or body[0] != 1:
        raise ValueError("H264: bad avcC configuration record")
    length_size = (body[4] & 3) + 1
    n_sps = body[5] & 0x1F
    pos = 6
    sps = []
    for _ in range(n_sps):
        ln = _U16B.unpack_from(body, pos)[0]
        pos += 2
        sps.append(body[pos : pos + ln])
        pos += ln
    n_pps = body[pos]
    pos += 1
    pps = []
    for _ in range(n_pps):
        ln = _U16B.unpack_from(body, pos)[0]
        pos += 2
        pps.append(body[pos : pos + ln])
        pos += ln
    # empty lists are LEGAL for avc3 (in-band parameter sets); the avc1
    # caller enforces presence — see mp4._iter_avc_frames
    return sps, pps, length_size


def decode_avcc_sample(
    sample: bytes,
    sps_by_id: dict[int, dict],
    pps_by_id: dict[int, dict],
    length_size: int,
) -> np.ndarray:
    """One length-prefixed MP4 sample (an access unit) → gray frame.

    SPS/PPS NALs inside the sample — in-band parameter sets, the defining
    shape of ``avc3`` tracks (14496-15 §5.3.4) — update the shared dicts
    in place, so later samples inherit them; ``avc1`` carries them in the
    avcC record instead and both forms resolve identically here."""
    cur = None  # (sps, luma, done)
    for ref_idc, nal_type, rbsp in iter_length_prefixed_nals(
        sample, length_size
    ):
        if nal_type == 7:
            s = parse_sps(rbsp)
            sps_by_id[s["sps_id"]] = s
            continue
        if nal_type == 8:
            p = parse_pps(rbsp)
            pps_by_id[p["pps_id"]] = p
            continue
        if nal_type in (6, 9, 12):
            continue
        if nal_type not in (1, 5):
            raise ValueError(
                f"H264: unexpected NAL type {nal_type} inside an MP4 sample"
            )
        r = _BitReader(rbsp)
        sps, pps = _resolve_param_sets(rbsp, sps_by_id, pps_by_id)
        if cur is None:
            luma = np.zeros(
                (sps["h_mbs"] * 16, sps["w_mbs"] * 16), dtype=np.uint8
            )
            done = np.zeros(sps["w_mbs"] * sps["h_mbs"], dtype=bool)
            cur = (sps, luma, done)
        elif cur[0] is not sps:
            raise ValueError(
                "H264: slices of one sample reference different SPS"
            )
        hdr = _parse_slice_header(r, sps, pps, nal_type, ref_idc)
        _decode_slice_ipcm(r, sps, hdr["first_mb"], cur[1], cur[2])
    if cur is None or not cur[2].all():
        raise ValueError("H264: sample did not decode a complete picture")
    return _crop(cur[0], cur[1])


def validate_uniform_frames(frames: list) -> tuple[int, int, bool]:
    """Shared encoder-input check: ≥1 uint8 (H, W) frame, all one shape →
    (h, w, mono) where mono means an odd dimension forces High 4:0:0."""
    if not frames:
        raise ValueError("H264 encode wants ≥1 frame")
    h, wdt = frames[0].shape
    for f in frames:
        if f.shape != (h, wdt) or f.dtype != np.uint8:
            raise ValueError("frames must share one uint8 (H, W) shape")
    return h, wdt, bool((h & 1) or (wdt & 1))
