"""Pure-NumPy geometry kernel — the reference's detection/recognition math
re-expressed as vectorized array ops (no OpenCV/scipy/torch; SURVEY.md §7.1).

All functions are per-page / per-table and stateless: they are called from
inside Arrow-batched Spark UDFs, never at the DataFrame row level.
"""

from .binarize import binarize, grayzation
from .lines import detect_segments, split_orientation
from .tables import cluster_tables
from .nodes import intersect_lines, snap_nodes, dedup_grid_fixpoint
from .cells import cells_from_nodes
from .assemble import (
    assemble_table,
    group_cells_into_rows,
    split_headers_records,
    build_header_tree,
    fill_records,
    serialize_table,
    remove_hyphenated_words,
)
from .page import extract_objects, scale_bboxes

__all__ = [
    "binarize",
    "grayzation",
    "detect_segments",
    "split_orientation",
    "cluster_tables",
    "intersect_lines",
    "snap_nodes",
    "dedup_grid_fixpoint",
    "cells_from_nodes",
    "group_cells_into_rows",
    "split_headers_records",
    "build_header_tree",
    "fill_records",
    "serialize_table",
    "remove_hyphenated_words",
    "assemble_table",
    "extract_objects",
    "scale_bboxes",
]
