import tempfile

import pytest


@pytest.fixture(scope="session")
def spark():
    from tableextraction_spark.session import get_spark

    s = get_spark(
        app="tests",
        master="local[4]",
        shuffle_partitions=4,
        driver_memory="4g",
        # keep catalog-table tests from writing ./spark-warehouse in the repo
        warehouse_dir=tempfile.mkdtemp(prefix="tablex-warehouse-"),
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def driver_merge():
    """``merge_doc_spans`` in the driver over collected docs and decode-stage
    object rows → {doc_id: [(kind, text, media_ref, offset)]}: the reference
    the Catalyst span assembly must agree with."""
    from tableextraction_spark.operators.assemble import merge_doc_spans

    def merge(docs, objects):
        rows: dict = {}
        for o in objects:
            if o.obj_no >= 0 and o.error is None:
                rows.setdefault(o.doc_id, []).append(
                    (o.media_ref, o.obj_no, o.kind, o.payload)
                )
        return {
            d.doc_id: [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in merge_doc_spans(
                    [s.asDict() for s in d.spans], rows.get(d.doc_id, ())
                )
            ]
            for d in docs
        }

    return merge
