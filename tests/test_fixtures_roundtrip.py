"""Golden round-trip: synthetic renderer → kernel pipeline → span equality
against the plan-derived oracle (no Spark; the Spark e2e test reuses this
invariant at the DataFrame level).  Plus hypothesis property tests over
random grids (SURVEY.md §5 'oracle cross-check')."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from tableextraction_spark.fixtures.generate import (
    _rng,
    expected_table_json,
    gen_doc,
    plan_doc,
    render_page,
)
from tableextraction_spark.kernel import assemble_table, extract_objects
from tableextraction_spark.media import decode_image


N_DOCS = 20


def _tables(img):
    """(bbox, cells, texts) of each table the kernel chain finds."""
    return [t for _k, _n, _p, t in extract_objects(img) if t is not None]


def test_every_fixture_table_recovered_exactly():
    n_tables = 0
    for doc_num in range(N_DOCS):
        plan = plan_doc(doc_num)
        rng = _rng(doc_num * 2 + 1)
        for page in plan["pages"]:
            canvas, _ = render_page(page, rng)
            got = _tables(canvas)
            exp = [expected_table_json(tp) for tp in page["tables"]]
            assert len(got) == len(exp)
            for (_, cells, texts), e in zip(got, exp):
                assert assemble_table(cells, texts) == e
                n_tables += 1
    assert n_tables > 10  # the sweep actually exercised tables


def test_gen_doc_span_invariants():
    doc, blobs, expected = gen_doc(5)  # doc 5 is a skew doc (10 pages)
    assert len(blobs) == 10
    for spans in (doc["spans"], expected["spans"]):
        assert [s["offset"] for s in spans] == list(range(len(spans)))
    kinds_in = {s["kind"] for s in doc["spans"]}
    assert kinds_in <= {"text", "media"}
    # output = input spans + table/plot spans, order preserved
    got_no_tables = [
        s for s in expected["spans"] if s["kind"] not in ("table", "plot")
    ]
    assert [(s["kind"], s["text"], s["media_ref"]) for s in got_no_tables] == [
        (s["kind"], s["text"], s["media_ref"]) for s in doc["spans"]
    ]
    # every table span points back at a real media blob
    refs = {b["media_ref"] for b in blobs}
    assert all(
        s["media_ref"] in refs for s in expected["spans"] if s["kind"] == "table"
    )


def test_gen_doc_deterministic():
    a = gen_doc(7)
    b = gen_doc(7)
    assert a[0] == b[0] and a[2] == b[2]
    assert [x["content"] for x in a[1]] == [x["content"] for x in b[1]]
    blob = decode_image(a[1][0]["content"])
    assert blob.dtype == np.uint8 and blob.ndim == 2


@settings(max_examples=20, deadline=None)
@given(
    n_rows=st.integers(2, 5),
    n_cols=st.integers(1, 5),
    x0=st.integers(30, 120),
    y0=st.integers(30, 80),
    col_w=st.integers(50, 90),
    row_h=st.integers(30, 60),
)
def test_property_full_grid_recovered(n_rows, n_cols, x0, y0, col_w, row_h):
    """Every drawn cell of an arbitrary full grid is recovered exactly."""
    w = max(400, x0 + n_cols * col_w + 40)
    h = max(300, y0 + n_rows * row_h + 40)
    img = np.full((h, w), 255, dtype=np.uint8)
    for r in range(n_rows + 1):
        img[y0 + r * row_h : y0 + r * row_h + 2, x0 : x0 + n_cols * col_w + 2] = 0
    for c in range(n_cols + 1):
        img[y0 : y0 + n_rows * row_h + 2, x0 + c * col_w : x0 + c * col_w + 2] = 0
    got = _tables(img)
    assert len(got) == 1
    _, cells, _ = got[0]
    assert len(cells) == n_rows * n_cols
    # cell sizes match the drawn grid (±2px snap jitter)
    assert np.all(np.abs((cells[:, 2] - cells[:, 0]) - col_w) <= 2)
    assert np.all(np.abs((cells[:, 3] - cells[:, 1]) - row_h) <= 2)
