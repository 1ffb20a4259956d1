"""Pluggable OCR seam: default template strategy, env/explicit selection,
custom registration flowing through the full page kernel, and the
import-guarded EasyOCR adapter failing loud when the library is absent."""

import numpy as np
import pytest

from tableextraction_spark import ocr
from tableextraction_spark.font import render_text

EASYOCR_PRESENT = ocr._easyocr_available()


def test_default_is_template():
    fn = ocr.resolve_ocr()
    canvas = np.full((12, 80), 255, dtype=np.uint8)
    render_text(canvas, 2, 2, "abc")
    assert fn([canvas, np.zeros((0, 0), dtype=np.uint8)]) == ["abc", ""]


def test_env_var_selects_strategy(monkeypatch):
    monkeypatch.setenv(ocr.ENV_VAR, "template")
    assert ocr.resolve_ocr() is ocr._template_batch
    monkeypatch.setenv(ocr.ENV_VAR, "nope")
    with pytest.raises(KeyError, match="nope"):
        ocr.resolve_ocr()


@pytest.mark.skipif(EASYOCR_PRESENT, reason="easyocr installed: guard inactive")
def test_easyocr_fails_loud_at_resolve_time():
    # a misconfigured cluster job must die at stage start with the package
    # named — not per-row mid-corpus
    with pytest.raises(RuntimeError, match="easyocr"):
        ocr.resolve_ocr("easyocr")


def test_custom_strategy_flows_through_page_kernel(monkeypatch):
    """register + select a fake OCR strategy; the kernel's cell texts must
    come from it — proving the seam reaches the kernel chain."""
    from tableextraction_spark.fixtures.generate import gen_doc
    from tableextraction_spark.kernel.page import extract_objects
    from tableextraction_spark.media import decode_page

    calls = []

    def shouty(crops):
        calls.append(len(crops))
        return [f"CELL{i}" for i in range(len(crops))]

    ocr.register_ocr("shouty", shouty)
    monkeypatch.setenv(ocr.ENV_VAR, "shouty")
    try:
        _, blobs, _ = gen_doc(0)
        objects = extract_objects(decode_page(blobs[0]["content"]))
        assert objects and calls
        _bbox, _cells, texts = objects[0][3]
        assert texts[0] == "CELL0"
    finally:
        del ocr._STRATEGIES["shouty"]


@pytest.mark.skipif(not EASYOCR_PRESENT, reason="easyocr not installed")
def test_easyocr_reader_is_singleton():
    fn = ocr.resolve_ocr("easyocr")
    fn([np.full((32, 32), 255, dtype=np.uint8)])
    first = ocr._easyocr_reader
    fn([np.full((32, 32), 255, dtype=np.uint8)])
    assert ocr._easyocr_reader is first  # per-executor singleton, never re-init
