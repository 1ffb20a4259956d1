"""Per-document span assembly: original interleaved spans + detected table
spans, ordered, offsets renumbered.

* :func:`assemble_spans_sql` — the batch assembly.  Pure declarative
  Catalyst plan: one groupBy on the (tiny) table rows + one join +
  higher-order array functions (``transform``/``filter``/``flatten``), fully
  JVM-side whole-stage-codegen.  The document's span array is never
  exploded and the heavy media payloads are long gone — only JSON strings
  shuffle.
* :func:`merge_doc_spans` — the same merge for one document in Python, used
  by the stateful streaming assembly and as the tests' reference for the
  Catalyst plan.

Output invariant (BASELINE.json): spans ordered, ``offset`` = position,
object spans follow their source media span in ``obj_no`` order with
``media_ref`` back-pointers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SPANS_SCHEMA = (
    "doc_id string, spans array<struct<kind string, text string, "
    "media_ref string, offset int>>"
)

_EMPTY_TSPANS = "array()"
_BARE_SPAN_T = "array<struct<kind string, text string, media_ref string>>"


def _merged_spans_expr(with_html: bool = False) -> F.Column:
    """spans + tspans (+ hspans) → final renumbered span array (pure SQL).

    ``table``/``plot`` objects are appended AFTER their source ``media``
    span; extracted html spans REPLACE their source ``html`` span (main
    content stands in for the raw markup — keeping megabytes of boilerplate
    markup in the output would defeat the extraction)."""
    tables_for = lambda s: F.transform(  # noqa: E731
        F.filter(
            F.coalesce(F.col("tspans"), F.expr(_EMPTY_TSPANS).cast(
                "array<struct<media_ref string, obj_no int, okind string, payload string>>"
            )),
            lambda t: (s["kind"] == F.lit("media")) & (t["media_ref"] == s["media_ref"]),
        ),
        lambda t: F.struct(
            t["okind"].alias("kind"),
            t["payload"].alias("text"),
            t["media_ref"].alias("media_ref"),
        ),
    )
    if with_html:
        html_for = lambda s: F.transform(  # noqa: E731
            F.filter(
                F.coalesce(F.col("hspans"), F.expr(_EMPTY_TSPANS).cast(
                    "array<struct<src_offset int, obj_no int, hkind string, "
                    "htext string, hmedia string>>"
                )),
                lambda h: (s["kind"] == F.lit("html"))
                & (h["src_offset"] == s["offset"]),
            ),
            lambda h: F.struct(
                h["hkind"].alias("kind"),
                h["htext"].alias("text"),
                h["hmedia"].alias("media_ref"),
            ),
        )
    else:
        html_for = lambda s: F.expr(_EMPTY_TSPANS).cast(_BARE_SPAN_T)  # noqa: E731
    self_span = lambda s: F.when(  # noqa: E731
        s["kind"] == F.lit("html"), F.expr(_EMPTY_TSPANS).cast(_BARE_SPAN_T)
    ).otherwise(
        F.array(
            F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
            )
        )
    ) if with_html else F.array(
        F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
        )
    )
    interleaved = F.flatten(
        F.transform(
            # order by offset (struct-lexicographic default would sort by kind)
            F.array_sort(F.col("spans"), lambda a, b: a["offset"] - b["offset"]),
            lambda s: F.concat(self_span(s), tables_for(s), html_for(s)),
        )
    )
    return F.transform(
        interleaved,
        lambda x, i: F.struct(
            x["kind"].alias("kind"),
            x["text"].alias("text"),
            x["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    ).alias("spans")


def assemble_spans_sql(
    docs: DataFrame, tables: DataFrame, html: DataFrame | None = None
) -> DataFrame:
    """(docs, per-table rows[, per-html-span rows]) → (doc_id, spans) via
    Catalyst only.

    Object rows with ``obj_no < 0`` (page markers) or errors are dropped
    here; they exist for metrics.  Object ``kind`` ('table' | 'plot') flows
    through to the span kind.  When ``html`` rows (operators/html_extract.py)
    are given, each input span of kind 'html' is replaced in place by its
    extracted spans; the raster-only plan is unchanged when ``html`` is None.
    """
    tdoc = (
        tables.where((F.col("obj_no") >= 0) & F.col("error").isNull())
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "media_ref",
                        "obj_no",
                        F.col("kind").alias("okind"),
                        "payload",
                    )
                )
            ).alias("tspans")
        )
    )
    out = docs.join(tdoc, "doc_id", "left")
    if html is None:
        return out.select("doc_id", _merged_spans_expr())
    hdoc = (
        html.where((F.col("obj_no") >= 0) & F.col("error").isNull())
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "src_offset",
                        "obj_no",
                        F.col("kind").alias("hkind"),
                        F.col("text").alias("htext"),
                        F.col("media_ref").alias("hmedia"),
                    )
                )
            ).alias("hspans")
        )
    )
    return out.join(hdoc, "doc_id", "left").select(
        "doc_id", _merged_spans_expr(with_html=True)
    )


def merge_doc_spans(spans: list[dict], table_rows, html_rows=()) -> list[dict]:
    """One document's merge: original spans + (media_ref, obj_no, okind,
    payload) object rows + (src_offset, obj_no, kind, text, media_ref)
    extracted-html rows → final renumbered span list.  The python-side
    mirror of :func:`_merged_spans_expr`, used by the stateful streaming
    assembly."""
    by_ref: dict[str, list] = {}
    for media_ref, _obj_no, okind, payload in sorted(table_rows):
        by_ref.setdefault(media_ref, []).append((okind, payload))
    by_off: dict[int, list] = {}
    for src_offset, obj_no, hkind, htext, hmedia in sorted(html_rows):
        by_off.setdefault(src_offset, []).append((hkind, htext, hmedia))
    merged = []
    for s in sorted(spans, key=lambda s: s["offset"]):
        if s["kind"] == "html":
            for hkind, htext, hmedia in by_off.get(s["offset"], []):
                merged.append({"kind": hkind, "text": htext, "media_ref": hmedia})
            continue
        merged.append(
            {"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"]}
        )
        if s["kind"] == "media":
            for okind, payload in by_ref.get(s["media_ref"], []):
                merged.append(
                    {"kind": okind, "text": payload, "media_ref": s["media_ref"]}
                )
    return [{**m, "offset": i} for i, m in enumerate(merged)]
