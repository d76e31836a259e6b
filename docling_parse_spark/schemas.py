"""Spark schemas for the engine's tables.

The span shape is fixed by the north rule (BASELINE.json ``input_hint``):
``doc_id:string, spans:array<struct<kind:string,text:string,media_ref:string,offset:int>>``.

The internal cell schema is a subset of the reference's 25-field cell struct
(reference: src/parse/page_items/page_cell.h:43-99) — the fields that drive
text output, geometry, merging and dedup.
"""

from __future__ import annotations

from pyspark.sql import types as T

# a unit's spans before reassembly stamps their per-doc offsets
UNIT_SPAN_SCHEMA = T.StructType(
    [T.StructField(name, T.StringType(), True) for name in ("kind", "text", "media_ref")]
)
SPAN_SCHEMA = T.StructType([*UNIT_SPAN_SCHEMA, T.StructField("offset", T.IntegerType(), True)])

SPANS_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_SCHEMA), True),
    ]
)
