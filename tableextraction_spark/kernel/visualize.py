"""Debug visualization: draw detected geometry back onto the page image.

Counterpart of the reference's ``visualize_*`` helpers scattered through
``table_extraction/detection.py`` / ``builder.py`` (e.g. box drawing over
the page for manual stepping, README.md's annotated examples).  The
reference uses cv2/matplotlib; this container has neither, so the overlay
is pure NumPy on the engine's grayscale pages — the output is a normal
IMG1-encodable array that can be written back as a media payload and viewed
anywhere downstream.

Not part of the extraction DAG; used from notebooks/tests when stepping
through a page, mirroring how the reference recommends its notebook for
debugging (README.md:28).
"""

from __future__ import annotations

import numpy as np

BOX_INK = 128  # mid-gray: distinguishable from binarized ink (0) and page (255)


def draw_boxes(
    gray: np.ndarray,
    bboxes,
    value: int = BOX_INK,
    thickness: int = 1,
) -> np.ndarray:
    """Return a copy of the page with (x1, y1, x2, y2) rectangle borders drawn.

    Image coordinates (y down), like every kernel bbox.  Boxes are clipped
    to the page; ``thickness`` grows inward so adjacent cells stay distinct.
    """
    out = np.asarray(gray).copy()
    h, w = out.shape
    for x1, y1, x2, y2 in np.asarray(bboxes, dtype=np.int64).reshape(-1, 4):
        x1c, x2c = max(0, int(x1)), min(w - 1, int(x2))
        y1c, y2c = max(0, int(y1)), min(h - 1, int(y2))
        if x2c < x1c or y2c < y1c:
            continue
        t = max(1, int(thickness))
        out[y1c : min(y1c + t, y2c + 1), x1c : x2c + 1] = value
        out[max(y2c - t + 1, y1c) : y2c + 1, x1c : x2c + 1] = value
        out[y1c : y2c + 1, x1c : min(x1c + t, x2c + 1)] = value
        out[y1c : y2c + 1, max(x2c - t + 1, x1c) : x2c + 1] = value
    return out


def annotate_page(gray: np.ndarray) -> np.ndarray:
    """Run the detection kernel on a page and draw what it found: table
    bounding boxes (thick) and cell grid (thin) — the one-call equivalent of
    the reference's per-stage visualize calls."""
    from .page import extract_objects

    out = np.asarray(gray).copy()
    for _kind, _n, _payload, table in extract_objects(gray):
        if table is None:
            continue  # a digitized plot, not a table
        bbox, cells, _texts = table
        out = draw_boxes(out, [bbox], thickness=3)
        out = draw_boxes(out, cells, thickness=1)
    return out
