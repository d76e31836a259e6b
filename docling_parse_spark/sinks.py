"""Sinks: spans table -> parquet / JSON / Iceberg / textlines goldens.

Analogs of the reference's outputs (SURVEY.md §2.D): the nested JSON document
sink (parser.h:249-279), the textlines golden export
(tests/test_parse.py:504-513), and the production table sink. Iceberg is the
north-rule target catalog: ``write_table`` writes parquet unless the caller
asks for Iceberg with ``fmt="iceberg"`` (which needs an Iceberg catalog
and its runtime jars in the session).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

TEXTLINE_SEPARATOR = "\t<|span|>\n"


def write_table(
    spans_df: DataFrame, target: str, mode: str = "overwrite", fmt: str = "parquet"
) -> str:
    """Write the spans table as ``fmt``: ``"parquet"`` (a path) or
    ``"iceberg"`` (``writeTo`` a table name). Returns the format used."""
    if fmt == "iceberg":
        writer = spans_df.writeTo(target)
        (writer.createOrReplace() if mode == "overwrite" else writer.append())
        return "iceberg"
    if fmt != "parquet":
        raise ValueError(f"write_table: unknown fmt {fmt!r}")
    spans_df.write.mode(mode).parquet(target)
    return "parquet"


def write_spans_json(spans_df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Nested JSON document sink: one JSON object per doc with its span
    array — the shape of the reference's JSON output."""
    spans_df.write.mode(mode).json(path)


def export_textlines(spans_df: DataFrame, kinds: tuple = ("text",)) -> DataFrame:
    """(doc_id, textlines) — the golden-file projection: each span's text
    joined by a sentinel separator, in offset order. Mirrors the reference's
    ``export_to_textlines`` goldens."""
    texts = F.transform(
        F.filter(F.col("spans"), lambda s: s["kind"].isin(*kinds)),
        lambda s: s["text"],
    )
    return spans_df.select(
        "doc_id", F.array_join(texts, TEXTLINE_SEPARATOR).alias("textlines")
    )


def write_document_sink(docs_df: DataFrame, spans_df: DataFrame, path: str,
                        mode: str = "overwrite") -> None:
    """Full document sink: output spans joined with the doc-level metadata
    columns (title/author/..., outline TOC, AcroForm summary — reference
    document.h:140-181). One row per doc; schema =
    (doc_id, spans, title..modified, outline, n_fields, field_names)."""
    from docling_parse_spark.extract import extract_doc_meta

    meta = extract_doc_meta(docs_df)
    spans_df.join(meta, "doc_id", "left").write.mode(mode).parquet(path)


def spans_histogram(spans_df: DataFrame) -> DataFrame:
    """(kind, n_spans, n_docs) — quick corpus census used by bench/reports."""
    return (
        spans_df.select("doc_id", F.explode("spans").alias("s"))
        .groupBy(F.col("s.kind").alias("kind"))
        .agg(F.count("*").alias("n_spans"), F.count_distinct("doc_id").alias("n_docs"))
        .orderBy("kind")
    )
