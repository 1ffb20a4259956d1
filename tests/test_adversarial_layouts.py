"""Adversarial page layouts: nested grids, adjacent tables, margin-touching
tables — property-tested for clean separation and per-table independence.

The cautionary reference cite is ``detection.py:522``: the reference mutates
its loop variable (``tables_nodes = tables_nodes[num]``) inside ``get_cells``
so every table after the first on a page sees corrupted node input.  The
independence property here (a table's result never depends on what else is
on the page) is the regression gate against reintroducing that class of bug.
"""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tableextraction_spark.font import render_text
from tableextraction_spark.kernel.page import extract_objects

PAGE_H, PAGE_W = 700, 800
LINE_T = 2
# cluster_tables ε-expands segment boxes by 3px each side (+ line thickness);
# gaps ≥ 12 px must always separate components
SAFE_GAP = 12


def _tables(img):
    """(bbox, cells, texts) of each table the kernel chain finds."""
    return [t for _k, _n, _p, t in extract_objects(img) if t is not None]


def blank():
    return np.full((PAGE_H, PAGE_W), 255, dtype=np.uint8)


def draw_grid(canvas, x0, y0, n_cols, n_rows, col_w=50, row_h=40, label=""):
    """Uniform grid; optional label text in the top-left cell.  Returns the
    (x1, y1, x2, y2) outer bbox (inclusive of line thickness start)."""
    xs = [x0 + c * col_w for c in range(n_cols + 1)]
    ys = [y0 + r * row_h for r in range(n_rows + 1)]
    for y in ys:
        canvas[y : y + LINE_T, xs[0] : xs[-1] + LINE_T] = 0
    for x in xs:
        canvas[ys[0] : ys[-1] + LINE_T, x : x + LINE_T] = 0
    if label:
        render_text(canvas, x0 + 10, y0 + 10, label)
    return (xs[0], ys[0], xs[-1], ys[-1])


def _result_tuples(tables):
    return [
        (tuple(bbox), [tuple(c) for c in cells], list(texts))
        for bbox, cells, texts in tables
    ]


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    gap=st.integers(SAFE_GAP, 80),
    c1=st.integers(2, 4), r1=st.integers(2, 4),
    c2=st.integers(2, 4), r2=st.integers(2, 4),
)
def test_side_by_side_tables_separate(gap, c1, r1, c2, r2):
    canvas = blank()
    draw_grid(canvas, 40, 60, c1, r1)
    x2 = 40 + c1 * 50 + LINE_T + gap
    draw_grid(canvas, x2, 60, c2, r2)
    tables = _tables(canvas)
    assert len(tables) == 2
    # reading order: same y → left first
    assert len(tables[0][1]) == c1 * r1
    assert len(tables[1][1]) == c2 * r2


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    gap=st.integers(SAFE_GAP, 80),
    c1=st.integers(2, 4), r1=st.integers(2, 3),
    c2=st.integers(2, 4), r2=st.integers(2, 3),
)
def test_stacked_tables_separate(gap, c1, r1, c2, r2):
    canvas = blank()
    draw_grid(canvas, 40, 50, c1, r1)
    y2 = 50 + r1 * 40 + LINE_T + gap
    draw_grid(canvas, 60, y2, c2, r2)
    tables = _tables(canvas)
    assert len(tables) == 2
    assert len(tables[0][1]) == c1 * r1  # top table first
    assert len(tables[1][1]) == c2 * r2


def test_table_touching_page_margin():
    # grid starting at the exact (0, 0) corner — no clipping, full recovery
    canvas = blank()
    draw_grid(canvas, 0, 0, 3, 3, label="ab")
    tables = _tables(canvas)
    assert len(tables) == 1
    bbox, cells, texts = tables[0]
    assert bbox[0] == 0 and bbox[1] == 0
    assert len(cells) == 9
    assert texts[0] == "ab"


def test_table_touching_bottom_right_margin():
    canvas = blank()
    x0 = PAGE_W - 3 * 50 - LINE_T
    y0 = PAGE_H - 3 * 40 - LINE_T
    draw_grid(canvas, x0, y0, 3, 3)
    tables = _tables(canvas)
    assert len(tables) == 1
    assert len(tables[0][1]) == 9


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    margin=st.integers(20, 60),
    ic=st.integers(2, 3), ir=st.integers(2, 3),
)
def test_nested_grid_detected_separately(margin, ic, ir):
    """An inner grid strictly inside an outer cell (margin > ε) is its own
    region; the outer grid's cells are unaffected."""
    canvas = blank()
    draw_grid(canvas, 40, 50, 2, 2, col_w=300, row_h=250)
    draw_grid(canvas, 40 + margin, 50 + margin, ic, ir)
    tables = _tables(canvas)
    assert len(tables) == 2
    assert len(tables[0][1]) == 4          # outer (top-left-most bbox) first
    assert len(tables[1][1]) == ic * ir    # inner intact


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    specs=st.lists(
        st.tuples(st.integers(2, 4), st.integers(2, 3)), min_size=2, max_size=3
    ),
    gap=st.integers(SAFE_GAP, 40),
)
def test_per_table_independence(specs, gap):
    """detection.py:522 regression gate: each table's (bbox, cells, texts)
    on a multi-table page equals its result when drawn ALONE at the same
    coordinates."""
    canvas = blank()
    placements = []
    y = 50
    for i, (c, r) in enumerate(specs):
        if y + r * 40 + LINE_T >= PAGE_H:
            break
        placements.append((40 + 10 * i, y, c, r))
        y += r * 40 + LINE_T + gap
    for x0, y0, c, r in placements:
        draw_grid(canvas, x0, y0, c, r, label="ab")
    together = _result_tuples(_tables(canvas))
    assert len(together) == len(placements)
    for (x0, y0, c, r), combined in zip(placements, together):
        solo_canvas = blank()
        draw_grid(solo_canvas, x0, y0, c, r, label="ab")
        solo = _result_tuples(_tables(solo_canvas))
        assert len(solo) == 1
        assert solo[0] == combined
