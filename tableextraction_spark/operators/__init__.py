from .decode_detect import decode_detect_ocr, TABLES_SCHEMA
from .assemble import assemble_spans_sql, SPANS_SCHEMA
from .resume import filter_unprocessed
from .metrics import stage_metrics

__all__ = [
    "decode_detect_ocr",
    "TABLES_SCHEMA",
    "assemble_spans_sql",
    "SPANS_SCHEMA",
    "filter_unprocessed",
    "stage_metrics",
]
