"""Plot digitization kernel tests (plot_processing/PlotProcessing.ipynb port)."""

import json

import numpy as np

from tableextraction_spark.kernel import binarize, detect_segments
from tableextraction_spark.kernel.page import extract_objects
from tableextraction_spark.kernel.plots import (
    blob_centers,
    dbscan,
    digitize_plot,
    mask_lines,
)


def _plot_page(clusters, w=500, h=400):
    img = np.full((h, w), 255, dtype=np.uint8)
    img[50:352, 60:62] = 0    # y axis
    img[350:352, 60:402] = 0  # x axis
    for pts in clusters:
        for cx, cy in pts:
            img[cy - 1 : cy + 2, cx - 1 : cx + 2] = 0
    return img


def _grid_cluster(ax, ay, rows=2, cols=4, spacing=6):
    return [(ax + j * spacing, ay + i * spacing) for i in range(rows) for j in range(cols)]


def test_blob_centers_exact():
    img = np.full((40, 40), 255, dtype=np.uint8)
    for cx, cy in [(10, 10), (20, 14), (30, 30)]:
        img[cy - 1 : cy + 2, cx - 1 : cx + 2] = 0
    got = blob_centers(binarize(img))
    assert sorted(map(tuple, got.tolist())) == [(10, 10), (20, 14), (30, 30)]


def test_dbscan_two_clusters_and_noise():
    pts = np.array(
        _grid_cluster(10, 10) + _grid_cluster(100, 100) + [(200, 200)]
    )
    labels = dbscan(pts)
    assert labels[-1] == -1  # isolated point = noise
    assert len({l for l in labels if l >= 0}) == 2


def test_mask_lines_removes_axes_keeps_points():
    c1 = _grid_cluster(120, 120)
    img = _plot_page([c1])
    ink = binarize(img)
    horiz, vert = detect_segments(ink)
    assert len(horiz) >= 1 and len(vert) >= 1
    masked = mask_lines(ink, horiz, vert)
    assert not masked[350:352, :].any()  # axis gone
    assert len(blob_centers(masked)) == len(c1)


def test_digitize_plot_golden():
    c1 = _grid_cluster(120, 120, rows=2, cols=4)
    c2 = _grid_cluster(280, 200, rows=3, cols=3)
    payload, n = digitize_plot(
        binarize(_plot_page([c1, c2])),
        *detect_segments(binarize(_plot_page([c1, c2]))),
    )
    obj = json.loads(payload)
    assert n == 17
    assert [c["n"] for c in obj["clusters"]] == [8, 9]  # sorted by (y, x)
    assert obj["clusters"][0]["x"] == round(float(np.mean([p[0] for p in c1])))


def test_no_axes_no_plot():
    img = np.full((300, 300), 255, dtype=np.uint8)
    for cx, cy in _grid_cluster(100, 100):
        img[cy - 1 : cy + 2, cx - 1 : cx + 2] = 0
    ink = binarize(img)
    assert digitize_plot(ink, *detect_segments(ink)) is None


def test_extract_objects_table_beats_plot():
    # a page with a real table grid must yield table objects, never a plot
    from tableextraction_spark.fixtures.generate import _rng, plan_doc, render_page

    for doc_num in range(6):
        plan = plan_doc(doc_num)
        rng = _rng(doc_num * 2 + 1)
        for page in plan["pages"]:
            canvas, _ = render_page(page, rng)
            kinds = {k for k, _n, _p, _t in extract_objects(canvas)}
            if page["tables"]:
                assert kinds == {"table"}
            elif page.get("plots"):
                assert kinds == {"plot"}
            else:
                assert kinds == set()


def test_blob_centers_matches_pixel_bfs():
    """Run-based union-find labeling must be bit-identical to a per-pixel
    4-adjacency BFS (the implementation it replaced) on random masks."""
    import numpy as np

    from tableextraction_spark.kernel.plots import blob_centers

    def bfs_reference(ink):
        visited = np.zeros_like(ink, dtype=bool)
        h, w = ink.shape
        centers = []
        ys, xs = np.nonzero(ink)
        for y0, x0 in zip(ys, xs):
            if visited[y0, x0]:
                continue
            stack = [(y0, x0)]
            visited[y0, x0] = True
            cy, cx = [], []
            while stack:
                y, x = stack.pop()
                cy.append(y)
                cx.append(x)
                for ny, nx in ((y - 1, x), (y + 1, x), (y, x - 1), (y, x + 1)):
                    if 0 <= ny < h and 0 <= nx < w and ink[ny, nx] and not visited[ny, nx]:
                        visited[ny, nx] = True
                        stack.append((ny, nx))
            centers.append((int(round(float(np.mean(cx)))), int(round(float(np.mean(cy))))))
        return np.array(sorted(centers), dtype=np.int32) if centers else np.empty((0, 2), dtype=np.int32)

    rng = np.random.default_rng(11)
    for trial in range(60):
        density = rng.uniform(0.02, 0.5)
        ink = rng.random((rng.integers(1, 40), rng.integers(1, 40))) < density
        got, exp = blob_centers(ink), bfs_reference(ink)
        assert np.array_equal(got, exp), f"trial {trial}: {got} != {exp}"
    # empty and full masks
    assert blob_centers(np.zeros((5, 5), dtype=bool)).shape == (0, 2)
    assert np.array_equal(blob_centers(np.ones((3, 7), dtype=bool)), [[3, 1]])
