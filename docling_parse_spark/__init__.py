"""docling_parse_spark — a from-scratch PySpark-native document-extraction engine.

Re-implements the semantics of the reference C++ parser (shaneholloman/docling-parse,
surveyed in SURVEY.md) as a Spark-first pipeline:

- per-document compute (PDF content-stream tokenization + interpretation, font/
  encoding resolution, cell assembly, word/line merging, HTML boilerplate
  stripping) runs batched in Arrow UDFs (``mapInArrow``);
- cross-document compute (ordering, reassembly, dedup, metrics, skew handling)
  is relational (DataFrame/SQL, Catalyst-optimized).

Input/output contract (north rule): tables of
``(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``.
"""

from docling_parse_spark import _zipimport_guard
from docling_parse_spark.schemas import SPAN_SCHEMA, SPANS_TABLE_SCHEMA

_zipimport_guard.install()

__all__ = ["SPAN_SCHEMA", "SPANS_TABLE_SCHEMA"]
__version__ = "0.1.0"
