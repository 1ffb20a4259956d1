"""The one format table (``media.FORMATS``): for every row that has a fixture
encoder in the repo, the sniff picks that row, the header probe names it,
and the row's decode handler decodes the fixture.  Near-magic payloads get
one verdict on every path, and the codecs stay lazily imported."""

import io
import subprocess
import sys
import zlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tableextraction_spark import multimodal as mm
from tableextraction_spark.avi import encode_avi_mjpeg
from tableextraction_spark.bmp import encode_bmp_gray
from tableextraction_spark.flac import encode_flac
from tableextraction_spark.gif import encode_gif_gray
from tableextraction_spark.h264 import encode_h264_annexb
from tableextraction_spark.ico import encode_ico_gray
from tableextraction_spark.jbig2 import encode_jbig2_generic
from tableextraction_spark.jp2 import encode_jp2_gray
from tableextraction_spark.jpeg import encode_jpeg_gray
from tableextraction_spark.media import (
    FORMATS,
    decode_page,
    encode_image,
    iter_pages,
    sniff,
)
from tableextraction_spark.mkv import encode_mkv_mjpeg
from tableextraction_spark.mp4 import encode_mp4_mjpeg
from tableextraction_spark.pdfx import build_scanned_page_pdf
from tableextraction_spark.png import encode_png
from tableextraction_spark.probe import probe_bytes
from tableextraction_spark.sources.avro import write_container
from tableextraction_spark.sources.warc import (
    encode_http_response,
    encode_warc,
    encode_warc_record,
)
from tableextraction_spark.tiff import encode_tiff_multipage
from tableextraction_spark.vorbis import encode_vorbis_ogg

REPO = Path(__file__).resolve().parents[1]


def _img(h=24, w=32):
    y, x = np.mgrid[0:h, 0:w]
    return ((x + y) % 256).astype(np.uint8)


def _pcm(n=4000):
    return ((np.arange(n) * 37) % 4096 - 2048).astype(np.int16)


def _jbig2_file():
    bm = np.zeros((20, 30), np.uint8)
    bm[5:10, 5:20] = 1
    # T.88 Annex D.1 file header: sequential organisation, one page
    return b"\x97JB2\r\n\x1a\n" + bytes([0]) + (1).to_bytes(4, "big") + encode_jbig2_generic(bm)


def _warc():
    rec = encode_warc_record(
        "response", encode_http_response(b"<html/>"), url="u", record_id="1"
    )
    return encode_warc([rec], per_record_gzip=False)


def _avro():
    schema = {"type": "record", "name": "r", "fields": [{"name": "x", "type": "int"}]}
    return write_container(schema, [{"x": 1}])


def _parquet():
    buf = io.BytesIO()
    pq.write_table(pa.table({"x": [1]}), buf)
    return buf.getvalue()


def _gzip():
    co = zlib.compressobj(6, zlib.DEFLATED, 31)
    return co.compress(b"plain text") + co.flush()


def _jpeg_frames():
    return [encode_jpeg_gray(_img())] * 3


def _binary_page():
    return np.where(_img() % 16 < 8, 0, 255).astype(np.uint8)


# row name → its fixture; every row but MP3 (no encoder in the repo) has one
FIXTURES = {
    "img1": lambda: encode_image(_img()),
    "png": lambda: encode_png(_img()),
    "jpeg": lambda: encode_jpeg_gray(_img()),
    "gif": lambda: encode_gif_gray(_img()),
    "bmp": lambda: encode_bmp_gray(_img()),
    "tiff": lambda: encode_tiff_multipage([_img(), _img()[::-1].copy()]),
    "pdf": lambda: build_scanned_page_pdf(_binary_page()),
    "aud1": lambda: mm.encode_audio(_pcm(), 8000),
    "wav": lambda: mm.encode_wav(_pcm(), 8000),
    "flac": lambda: encode_flac(_pcm(), 8000),
    "avi": lambda: encode_avi_mjpeg(_jpeg_frames(), 32, 24, fps=10),
    "vid1": lambda: mm.encode_video([_img(), _img()]),
    "mp4": lambda: encode_mp4_mjpeg(_jpeg_frames(), 32, 24, fps=10),
    "mkv": lambda: encode_mkv_mjpeg(_jpeg_frames(), 32, 24, fps=10),
    "ico": lambda: encode_ico_gray(_img(16, 16)),
    "h264": lambda: encode_h264_annexb([_img(32, 48)] * 2),
    "ogg": lambda: encode_vorbis_ogg(_pcm(), 8000),
    "jp2": lambda: encode_jp2_gray(_img(), levels=2),
    "jbig2": _jbig2_file,
    "warc": _warc,
    "avro": _avro,
    "parquet": _parquet,
    "gzip": _gzip,
}


def test_every_row_but_mp3_has_a_fixture():
    assert set(FIXTURES) == {f.name for f in FORMATS} - {"mp3"}
    assert len({f.name for f in FORMATS}) == len(FORMATS)


@pytest.mark.parametrize("name", sorted(FIXTURES))
def test_row_sniffs_probes_and_decodes_its_fixture(name):
    payload = FIXTURES[name]()
    fmt = sniff(payload)
    assert fmt is not None and fmt.name == name
    # the decode stage hands codecs Arrow memoryviews, not bytes
    assert sniff(memoryview(payload)) is fmt
    assert probe_bytes(payload)["format"] == name
    if fmt.page is not None:
        assert decode_page(payload).size > 0
        pages = list(iter_pages(memoryview(payload)))
        assert [(i, n) for i, n, _p in pages] == [(i, len(pages)) for i in range(len(pages))]
        assert all(p.size > 0 for _i, _n, p in pages)
    if fmt.frames is not None:
        frames = list(mm.iter_video_frames(payload))
        assert frames and all(n == len(frames) for _i, n, _f in frames)
    if fmt.audio is not None:
        pcm, rate = mm.decode_audio(payload)
        assert rate == 8000 and len(pcm) > 0
    if fmt.name == "tiff":
        assert len(pages) == 2  # multi-page rows expand through iter_pages


def test_near_magic_gets_one_verdict_on_every_path():
    gif = FIXTURES["gif"]()
    near = b"GIF90a" + gif[6:]
    assert sniff(near) is None
    assert probe_bytes(near)["format"] == "unknown"
    with pytest.raises(ValueError, match="unknown media payload magic"):
        decode_page(near)
    with pytest.raises(ValueError, match="unknown media payload magic"):
        list(iter_pages(near))
    with pytest.raises(ValueError, match="unknown media payload magic"):
        mm.decode_audio(near)
    with pytest.raises(NotImplementedError, match="unknown container"):
        list(mm.iter_video_frames(near))


def test_row_without_the_handler_names_the_row():
    wav = FIXTURES["wav"]()
    with pytest.raises(ValueError, match="wav audio is not AVI/GIF/H264/MKV/MP4/VID1"):
        list(mm.iter_video_frames(wav))
    with pytest.raises(ValueError, match="wav audio is not BMP/GIF/ICO/IMG1/JP2/JPEG/PDF/PNG/TIFF"):
        decode_page(wav)
    # a row of the path's own kind without a decoder is library-bound
    with pytest.raises(NotImplementedError, match="soundfile/librosa"):
        mm.decode_audio(b"ID3\x04" + b"\0" * 64)


def test_ico_directory_is_not_annexb():
    names = [f.name for f in FORMATS]
    assert names.index("ico") < names.index("h264")
    assert names.index("jpeg") < names.index("mp3")
    ico = FIXTURES["ico"]()
    assert ico[:3] == b"\x00\x00\x01"  # an Annex-B start code, then NAL type 0
    assert sniff(ico).name == "ico"
    assert probe_bytes(ico)["format"] == "ico"
    with pytest.raises(ValueError, match="ico image is not"):
        list(mm.iter_video_frames(ico))


def test_media_import_leaves_heavy_codecs_unimported():
    code = (
        "import sys\n"
        "from tableextraction_spark import media\n"
        "img = media.encode_image(media.np.zeros((4, 4), media.np.uint8))\n"
        "list(media.iter_pages(memoryview(img)))\n"
        "heavy = ('jp2', 'pdfx', 'vorbis', 'jbig2')\n"
        "print(sorted(m for m in heavy if 'tableextraction_spark.' + m in sys.modules))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True, cwd=REPO
    )
    assert out.stdout.strip() == "[]"
