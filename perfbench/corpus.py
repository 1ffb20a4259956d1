"""Seeded workload corpora, their on-disk cache, and the golden check.

A corpus is a pure function of ``(workload, seed)``: the seed is a
document-number offset (seed ``s`` holds numbers ``[s, s+n)``; crawl's media
docs excepted, see ``CRAWL_MEDIA``) and the repo's fixture generators turn
each number into a document, its page blobs and its plan-derived golden
spans.  So the same seed always gives the same
bytes, different seeds give different corpora of one fixed size and format
mix, and the goldens never come from the code under test.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass, field

# Corpus sizes, chosen so that one warm pass takes a few seconds at local[4]
# and a run of ``--seconds`` holds several passes.  Blobs are written as four
# part files (at local[4], the one-file-per-core layout ``bench.py`` gets
# from ``repartition(cores)``), and each file's share of the work is the same
# for every seed: doc n goes to file (n // D) % F for F files of D docs, so
# moving the seed by one swaps a doc for the doc F·D later, in the same file.
# F·D is a multiple of 23 for raster, so the swapped-in doc is a 10-page skew
# doc exactly when the swapped-out one was: every file holds 3.  (With other
# layouts a heavy doc crossing a file boundary moves the slowest file's
# work, and so the pass time, from one seed to the next.)  Crawl's files
# hold 9 consecutive docs each: one per format of the ``mixed`` rotation.
RASTER_FILES, RASTER_DOCS_PER_FILE = 4, 3 * 23
CRAWL_FILES = 4
# crawl's media docs do not move with the seed: page costs run from 0.1 ms
# (IMG1) to ~0.5 s (JPEG 2000) and vary with content, so a window of 36 docs
# that slides with the seed gains or loses an expensive doc now and then,
# and the pass time steps (measured: ~5.5 s at seeds 1-6, ~4.2 s at seeds
# 7-10).  The window is seed 0's: four docs of every format.
CRAWL_MEDIA = range(9 * CRAWL_FILES)
CRAWL_HTML_PER_MEDIA = 10
# the warm-up corpus: the first docs of seed 0's corpus, the same for every
# seed (so it is generated once per checkout and set-up time does not depend
# on the seed).  It starts every Python worker and imports the kernel; the
# untimed decode-stage scan then touches every codec before anything is timed.
WARM_MEDIA = 4
# part of the cache key, with the spec itself: bump it when the way a spec
# becomes parquet changes, so stale corpora are not reused
CORPUS_VERSION = "5"
KEEP_CORPORA = 24  # newest corpora kept per workload; older ones are deleted

MIXED_FORMATS = (
    "img1", "png", "jpeg", "gif", "bmp", "pdf", "pdfscan", "tiff", "jp2",
)


@dataclass
class Spec:
    """Which documents a workload's corpus holds, in docs-table row order."""

    workload: str
    seed: int
    media: list[int]  # doc numbers of docs with page blobs
    files: int  # blob part files, each of consecutive media docs
    html: list[int] = field(default_factory=list)  # html-markup doc numbers
    codec: str = "img1"

    @property
    def n_docs(self) -> int:
        return len(self.media) + len(self.html)

    def file_of(self, doc_num: int) -> int:
        """The blob part file that holds ``doc_num``'s pages."""
        return (doc_num // (len(self.media) // self.files)) % self.files

    def media_format(self, doc_num: int) -> str:
        if self.codec == "mixed":
            return MIXED_FORMATS[doc_num % len(MIXED_FORMATS)]
        return self.codec

    def warm(self) -> "Spec":
        base = spec_for(self.workload, 0)
        k = WARM_MEDIA * len(base.html) // len(base.media)
        return Spec(
            self.workload + ".warm", 0, base.media[:WARM_MEDIA], WARM_MEDIA,
            base.html[:k], self.codec,
        )

    def rows(self) -> list[tuple[str, int]]:
        """Docs-table rows: media docs interleaved 1:k with html docs."""
        k = len(self.html) // len(self.media)
        out: list[tuple[str, int]] = []
        for i, m in enumerate(self.media):
            out.append(("media", m))
            out.extend(("html", h) for h in self.html[i * k : (i + 1) * k])
        out.extend(("html", h) for h in self.html[len(self.media) * k :])
        return out


def spec_for(workload: str, seed: int) -> Spec:
    if seed < 0:
        raise ValueError("seed must be >= 0")
    if workload == "raster":
        n = RASTER_FILES * RASTER_DOCS_PER_FILE
        return Spec(workload, seed, list(range(seed, seed + n)), RASTER_FILES)
    if workload == "crawl":
        # the media docs are the same for every seed (see CRAWL_MEDIA); the
        # seed offsets the markup docs
        h = len(CRAWL_MEDIA) * CRAWL_HTML_PER_MEDIA
        return Spec(
            workload, seed, list(CRAWL_MEDIA), CRAWL_FILES,
            html=list(range(seed, seed + h)), codec="mixed",
        )
    raise ValueError(f"unknown workload {workload!r}")


def _gen_row(kind: str, num: int, codec: str, with_blobs: bool):
    """One docs row (+ blob rows) from the repo's fixture generators."""
    if kind == "html":
        from tableextraction_spark.fixtures.html_gen import gen_html_doc

        return gen_html_doc(num)[0], []
    from tableextraction_spark.fixtures.generate import gen_doc

    doc, blobs, _ = gen_doc(num, with_blobs=with_blobs, codec=codec)
    return doc, blobs


def golden_spans(spec: Spec) -> dict[str, list[tuple]]:
    """doc_id → golden span tuples (kind, text, media_ref, offset)."""
    from tableextraction_spark.fixtures.generate import gen_doc
    from tableextraction_spark.fixtures.html_gen import gen_html_doc

    out = {}
    for kind, num in spec.rows():
        exp = gen_html_doc(num)[1] if kind == "html" else gen_doc(num, with_blobs=False)[2]
        out[exp["doc_id"]] = [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in exp["spans"]
        ]
    return out


def check_rows(rows, golden: dict[str, list[tuple]]) -> int:
    """Collected (doc_id, spans) rows vs the goldens → number of bad docs.

    A doc counts as bad when its spans differ, when it is missing, when it
    appears more than once, or when the corpus does not hold it."""
    seen: dict[str, list[tuple]] = {}
    dup = 0
    for r in rows:
        spans = [(s.kind, s.text, s.media_ref, s.offset) for s in (r.spans or [])]
        dup += r.doc_id in seen
        seen[r.doc_id] = spans
    bad = sum(1 for d, want in golden.items() if seen.get(d) != want)
    return bad + dup + len(set(seen) - set(golden))


def decode_failures(rows) -> tuple[int, int]:
    """Decode-stage rows (``obj_no``, ``error``) → (page rows, error rows).

    Every page the stage attempted leaves one ``obj_no == -1`` row, which
    carries the error when the page failed.

    Assembly drops error rows, so a page that fails to decode and held no
    table or plot (a blank page) leaves its doc's spans equal to the golden;
    only the stage's own rows show the failure."""
    pages = errors = 0
    for r in rows:
        pages += r.obj_no == -1
        errors += r.error is not None
    return pages, errors


def _prune(parent: str, workload: str, keep: str) -> None:
    """Keep only the KEEP_CORPORA newest entries of ``workload`` in ``parent``."""
    prefix = f"{workload}-"
    dirs = [
        os.path.join(parent, d) for d in os.listdir(parent)
        if d.startswith(prefix) and os.path.join(parent, d) != keep
    ]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_CORPORA - 1 :]:
        shutil.rmtree(d, ignore_errors=True)


def _digest(key) -> str:
    return hashlib.sha1(repr((CORPUS_VERSION, *key)).encode()).hexdigest()[:12]


def _corpus_dirs(spec: Spec, cache_root: str) -> tuple[str, str]:
    """(docs dir, blobs dir).  The blobs table is keyed by what it holds
    only, so crawl's seeds, which differ in markup docs alone, share one."""
    docs = os.path.join(
        cache_root,
        f"{spec.workload}-s{spec.seed}-{_digest((spec.media, spec.files, spec.html, spec.codec))}",
    )
    blobs = os.path.join(
        cache_root, "blobs", f"{spec.workload}-{_digest((spec.media, spec.files, spec.codec))}"
    )
    return docs, blobs


def _ready(base: str) -> bool:
    return os.path.exists(os.path.join(base, "_READY"))


def corpus_ready(spec: Spec, cache_root: str) -> bool:
    return all(_ready(d) for d in _corpus_dirs(spec, cache_root))


def blobs_ready(spec: Spec, cache_root: str) -> bool:
    return _ready(_corpus_dirs(spec, cache_root)[1])


def _claim(base: str, workload: str) -> None:
    """An empty directory for a new cache entry; prunes the older ones."""
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    _prune(os.path.dirname(base), workload, base)


def ensure_corpus(spark, spec: Spec, cache_root: str) -> tuple[str, str]:
    """Materialize the corpus as parquet once per spec →
    (docs_path, blobs_path).  Generation runs inside Spark tasks;
    blobs are written with the repo's media-table writer so the row-group
    shape is the one production media tables get."""
    import pandas as pd
    from tableextraction_spark.fixtures.spark_gen import write_blobs
    from tableextraction_spark.pipeline import BLOBS_SCHEMA, DOCS_SCHEMA

    docs_base, blobs_base = _corpus_dirs(spec, cache_root)
    docs_path = os.path.join(docs_base, "docs.parquet")
    blobs_path = os.path.join(blobs_base, "blobs.parquet")
    for base in (docs_base, blobs_base):
        if _ready(base):
            os.utime(base)

    rows = spec.rows()
    codec = spec.codec
    par = spark.sparkContext.defaultParallelism

    def indexed(idxs, parts):
        # contiguous slices of the list, no exchange: each slice becomes one
        # part file, rows in list order, and generation runs once per row
        return spark.createDataFrame(
            spark.sparkContext.parallelize([(i,) for i in idxs], parts), "id long"
        )

    def gen_docs(batches):
        for pdf in batches:
            docs = [_gen_row(*rows[int(i)], codec, False)[0] for i in pdf["id"]]
            yield pd.DataFrame({
                "doc_id": [d["doc_id"] for d in docs],
                "spans": [d["spans"] for d in docs],
            })

    def gen_blobs(batches):
        for pdf in batches:
            out = []
            for i in pdf["id"]:
                out.extend(_gen_row(*rows[int(i)], codec, True)[1])
            yield pd.DataFrame(out, columns=["media_ref", "doc_id", "page_no", "content"])

    if not _ready(docs_base):
        _claim(docs_base, spec.workload)
        indexed(range(len(rows)), par).mapInPandas(gen_docs, DOCS_SCHEMA).write.parquet(docs_path)
        open(os.path.join(docs_base, "_READY"), "w").close()
    if not _ready(blobs_base):
        _claim(blobs_base, spec.workload)
        # grouped by file: the list's slices are then exactly the files
        media_idx = sorted(
            (i for i, (k, _) in enumerate(rows) if k == "media"),
            key=lambda i: spec.file_of(rows[i][1]),
        )
        # the repo's media-table writer, so row groups get production shape
        write_blobs(
            indexed(media_idx, spec.files).mapInPandas(gen_blobs, BLOBS_SCHEMA), blobs_path
        )
        open(os.path.join(blobs_base, "_READY"), "w").close()
    return docs_path, blobs_path
