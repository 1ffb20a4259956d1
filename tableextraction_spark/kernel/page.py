"""Per-page orchestration: gray page → detected tables with cells + OCR text.

This is the in-UDF composition of the kernel stages — the batched equivalent
of reference stages B–E (``table_extraction/extractor.py:31-63``):
gray/binarize → line detection → region clustering → nodes → cells → OCR.

Resolution note: the reference renders each page twice (dpi 50 detect /
dpi 500 OCR) and rescales bboxes by ``factor = high/low``
(``extractor.py:24-25``, ``detection.py:98,119,607-628``).  Our run-length
line detector is O(pixels) vectorized NumPy (no per-line Hough votes), so
detection runs directly at OCR resolution — one decode, one scale.  The
factor-rescale semantics are preserved in :func:`scale_bboxes` (unit-tested
parity with ``resize_tables_cells``) and used by the deploy-time PDF adapter
where a genuine low-dpi render is the cheaper scan.
"""

from __future__ import annotations

import numpy as np

from ..ocr import resolve_ocr
from .binarize import binarize, grayzation
from .cells import cells_from_nodes
from .lines import detect_segments
from .nodes import dedup_grid_fixpoint, intersect_lines, snap_nodes
from .tables import cluster_tables

OCR_INSET = 6  # px trimmed inside a cell bbox to exclude border-line ink


def scale_bboxes(bboxes: np.ndarray, factor: float) -> np.ndarray:
    """Low-res bboxes → high-res (``detection.py:607-628`` parity)."""
    return (np.asarray(bboxes) * factor).astype(np.int64)


def extract_objects(gray: np.ndarray, classify: bool = False):
    """uint8 page → list of (kind, n_items, payload, table) in reading order.

    The one per-page kernel chain: gray/binarize → lines → table clusters →
    nodes → cells → OCR → structure build.  ``kind='table'`` objects carry
    the assembled structure JSON (n_items = cell count) and ``table`` =
    (bbox, cells int[C,4], texts) — cells in reading order, texts raw
    (hyphenation cleanup happens at assembly, matching the reference which
    cleans after OCR — ``recognition.py:151-164``).  ``classify=True``
    drops tables the keyword classifier rejects.  On pages with line
    evidence but no table the plot digitizer runs on the same binarization
    (``kind='plot'``, n_items = point count, ``table`` None) — mirroring the
    reference's table|plot class split (``maskrcnn/class_names.py:2-12``,
    ``plot_processing/PlotProcessing.ipynb``).
    """
    from .assemble import assemble_table
    from .classify import classify_table
    from .plots import digitize_plot

    gray = grayzation(gray)
    ink = binarize(gray)
    horiz, vert = detect_segments(ink)
    ocr = resolve_ocr()  # pluggable strategy (template | easyocr | custom)
    objects = []
    for bbox, hm, vm in cluster_tables(horiz, vert):
        tw, th = bbox[2] - bbox[0], bbox[3] - bbox[1]
        eps = max(2, int(0.01 * (tw + th)))  # detection.py ε = 1%·(h+w)
        nodes = dedup_grid_fixpoint(snap_nodes(intersect_lines(vm, hm, eps), eps))
        cells = cells_from_nodes(nodes, ink)
        if len(cells) == 0:
            continue
        texts = ocr(
            [
                gray[y1 + OCR_INSET : y2 - OCR_INSET + 1, x1 + OCR_INSET : x2 - OCR_INSET + 1]
                for x1, y1, x2, y2 in cells
            ]
        )
        if classify and not classify_table(" ".join(texts)):
            continue
        objects.append(
            ("table", len(cells), assemble_table(cells, texts), (bbox, cells, texts))
        )
    if not objects:
        plot = digitize_plot(ink, horiz, vert)
        if plot is not None:
            payload, n_points = plot
            objects.append(("plot", n_points, payload, None))
    return objects
