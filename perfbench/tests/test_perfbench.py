"""Tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
from collections import namedtuple

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import corpus, ledger  # noqa: E402
from perfbench.run import PHASE  # noqa: E402

EVENT_LOG = os.path.join(HERE, "data", "eventlog.jsonl")


# ------------------------------------------------------------ corpus


@pytest.mark.parametrize("workload", ["raster", "crawl"])
def test_seed_gives_deterministic_corpus(workload):
    a, b = corpus.spec_for(workload, 7), corpus.spec_for(workload, 7)
    assert a.rows() == b.rows()
    assert corpus.golden_spans(a) == corpus.golden_spans(b)
    kind, num = a.rows()[0]
    first = corpus._gen_row(kind, num, a.codec, True)
    again = corpus._gen_row(kind, num, a.codec, True)
    assert first == again
    assert first[1] and all(isinstance(r["content"], bytes) for r in first[1])


@pytest.mark.parametrize("workload", ["raster", "crawl"])
def test_different_seeds_give_distinct_corpora(workload):
    a, b = corpus.spec_for(workload, 7), corpus.spec_for(workload, 8)
    assert a.rows() != b.rows()
    assert a.n_docs == b.n_docs
    assert set(corpus.golden_spans(a)) != set(corpus.golden_spans(b))
    # the seed is a doc-number offset: seed 8 holds one doc seed 7 does not
    moving = "media" if workload == "raster" else "html"
    assert [n for k, n in b.rows() if k == moving][-1] not in getattr(a, moving)


def test_query_tables_follow_the_seed():
    from perfbench import querydata
    from tableextraction_spark.queries.oracle_check import TABLES

    a, b, c = querydata._tables(7), querydata._tables(7), querydata._tables(8)
    assert sorted(a) == sorted(TABLES)
    assert all(a[t].equals(b[t]) for t in TABLES)
    assert not a["lineitem"].equals(c["lineitem"])


def _files(spec):
    files: dict[int, list[int]] = {}
    for n in spec.media:
        files.setdefault(spec.file_of(n), []).append(n)
    assert sorted(files) == list(range(spec.files))
    assert {len(v) for v in files.values()} == {len(spec.media) // spec.files}
    return files.values()


def test_raster_files_hold_the_same_skew_docs_for_every_seed():
    from tableextraction_spark.fixtures.generate import SKEW_EVERY

    for seed in (0, 1, 5, 1234):
        for docs in _files(corpus.spec_for("raster", seed)):
            assert sum(1 for n in docs if n % SKEW_EVERY == 5) == 3


def test_crawl_mix_is_the_same_for_every_seed():
    for seed in (0, 1, 5, 1234):
        spec = corpus.spec_for("crawl", seed)
        for docs in _files(spec):
            assert sorted(spec.media_format(n) for n in docs) == sorted(corpus.MIXED_FORMATS)
        rows = spec.rows()
        assert rows[0][0] == "media" and [k for k, _ in rows[1:11]] == ["html"] * 10
        assert spec.warm().rows() == corpus.spec_for("crawl", 0).warm().rows()


Span = namedtuple("Span", "kind text media_ref offset")
Row = namedtuple("Row", "doc_id spans")


def test_check_rows_counts_every_kind_of_mismatch():
    golden = corpus.golden_spans(corpus.spec_for("raster", 3))
    rows = [Row(d, [Span(*s) for s in spans]) for d, spans in golden.items()]
    assert corpus.check_rows(rows, golden) == 0
    bad = list(rows)
    first = bad[0]
    bad[0] = Row(first.doc_id, first.spans[:-1])  # a lost span
    assert corpus.check_rows(bad, golden) == 1
    assert corpus.check_rows(rows[1:], golden) == 1  # a missing doc
    assert corpus.check_rows(rows + rows[:1], golden) == 1  # a duplicate
    assert corpus.check_rows(rows + [Row("doc-x", [])], golden) == 1  # a stray


# ----------------------------------------------------------- event log


def _ledger():
    events = ledger.read_event_log(EVENT_LOG)
    traced = ledger.traced_events(events, PHASE, "traced")
    return ledger.stage_ledger(ledger.summarize_event_log(traced), cores=2, passes=1)


def test_event_log_parser_on_recorded_log():
    events = ledger.read_event_log(EVENT_LOG)
    traced = ledger.traced_events(events, PHASE, "traced")
    # the corpus-generation jobs in the same log are not part of the pass
    assert 0 < len(traced) < len(events)
    summary = ledger.summarize_event_log(traced)
    decode = [s for s in summary["stages"] if "MapInArrow" in s["nodes"]]
    assert len(decode) == 1
    m = _ledger()
    assert m["decode_stage.tasks"] == len(decode[0]["task_ms"]) > 0
    assert m["decode_stage.straggler_ratio"] >= 1
    assert 0 < m["decode_stage.core_busy_frac"] <= 1
    # the raster plan shuffles twice: the tables groupBy and the docs join
    assert m["assemble.exchanges"] == 2
    # per doc: one docs-side row and at most one grouped tables row
    assert 12 <= m["assemble.shuffle_records"] <= 24
    assert m["assemble.shuffle_bytes"] > 0
    assert m["stage.bytes_to_python"] > 0 and m["stage.bytes_from_python"] > 0
    assert m["stage.python_run_s"] > 0
    assert m["executor.cpu_s"] > 0


def test_event_log_parser_ignores_untraced_jobs():
    events = ledger.read_event_log(EVENT_LOG)
    assert ledger.traced_events(events, PHASE, "no-such-phase") == [
        e for e in events
        if e["Event"].endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate"))
    ]


# ------------------------------------------------ traced layer clock


BLOBS = pa.schema([("media_ref", pa.string()), ("doc_id", pa.string()),
                   ("page_no", pa.int32()), ("content", pa.binary())])


def _pages(codec: str, n_docs: int):
    from tableextraction_spark.fixtures.generate import gen_doc

    blobs = []
    for i in range(n_docs):
        blobs.extend(gen_doc(i, codec=codec)[1])
    return pa.RecordBatch.from_pylist(blobs, schema=BLOBS)


def _stage_rows(batch):
    from tableextraction_spark.operators.decode_detect import process_content_rows

    t0 = time.perf_counter()
    out = process_content_rows(batch).to_pydict()
    return out, time.perf_counter() - t0


@pytest.mark.parametrize("codec", ["jpeg", "img1"])
def test_traced_ledger_reconciles_with_page_markers(codec):
    from tableextraction_spark import media
    from tableextraction_spark.kernel import page

    batch = _pages(codec, 3)
    plain, _ = _stage_rows(batch)
    originals = (media.iter_pages, page.detect_segments, page.resolve_ocr)
    with ledger.LayerClock() as clock:
        traced, total_s = _stage_rows(batch)
    # the wrappers come off again, and they time the stage's own code
    # without changing what it returns
    assert (media.iter_pages, page.detect_segments, page.resolve_ocr) == originals
    assert {k: v for k, v in traced.items() if k != "wall_ms"} == {
        k: v for k, v in plain.items() if k != "wall_ms"
    }
    assert set(clock.seconds) == set(ledger.LAYERS)
    assert len(clock.decode_calls) == batch.num_rows
    assert sum(clock.decode_calls) == pytest.approx(clock.seconds["decode"])
    for layer in ("decode", "binarize", "lines", "cluster", "geometry", "ocr", "build"):
        assert clock.seconds[layer] > 0, layer
    markers = [ms for o, ms in zip(traced["obj_no"], traced["wall_ms"]) if o == -1]
    assert len(markers) == batch.num_rows and not any(traced["error"])
    layer_s = sum(clock.seconds.values())
    # the layers are timed inside the stage's page markers, and they cover
    # nearly all of that time (markers are whole ms, truncated: up to 1 ms a
    # page short)
    assert layer_s <= sum(markers) / 1000 + len(markers) / 1000
    assert 0.8 * total_s <= layer_s <= total_s


def test_a_corrupt_blank_page_fails_the_check():
    from tableextraction_spark.fixtures.generate import gen_doc, plan_doc

    # a one-page doc whose page is blank: no table, no plot
    num = next(
        n for n in range(200)
        if [(p["tables"], p["plots"]) for p in plan_doc(n)["pages"]] == [([], [])]
    )
    _doc, blobs, exp = gen_doc(num, codec="img1")
    corrupt = [dict(blobs[0], content=b"\x00garbage" * 8)]

    def failures(blob_rows):
        out, _ = _stage_rows(pa.RecordBatch.from_pylist(blob_rows, schema=BLOBS))
        return corpus.decode_failures(namedtuple("R", out)(*r) for r in zip(*out.values()))

    # assembly drops the error row and the golden has no table or plot span,
    # so the doc's spans still match; the stage's rows are what fail the run
    assert not [s for s in exp["spans"] if s["kind"] in ("table", "plot")]
    assert failures(corrupt) == (1, 1)
    assert failures(blobs) == (1, 0)


# ------------------------------------------------------------------ RSS


def test_tree_rss_sees_child_processes():
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import sys; b = bytearray(64 << 20); sys.stdout.write('x'); "
         "sys.stdout.flush(); sys.stdin.read()"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE,
    )
    try:
        child.stdout.read(1)
        jvm, py = ledger.tree_rss(os.getpid())
        assert jvm == 0 and py >= 64 << 20
    finally:
        child.stdin.close()
        child.wait()


def test_steal_frac_is_a_share_of_all_ticks():
    before = ledger.cpu_ticks()
    after = ledger.cpu_ticks()
    assert after[1] >= before[1] >= before[0] >= 0
    assert 0 <= ledger.steal_frac(before, after) <= 1
    assert ledger.steal_frac((5, 100), (15, 200)) == 0.1
