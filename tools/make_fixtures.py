"""Materialize sequential-oracle fixtures to ``fixtures/*.parquet`` so the
driver's DuckDB gate can cross-check the in-flight synthetic queries
(mini-corpus cells/spans/components, training texts, media metadata).

Everything here runs WITHOUT Spark: the deterministic corpus generators plus
the sequential decode kernels (``document.decode_document`` is the designated
oracle per CLAUDE.md). The oracle SQL in ``__spark_entry__.oracle_sql`` then
re-derives the relational aggregations (counts, stats, survivors, pixel
statistics) from these tables, so a distributed-plumbing bug shows up as a
driver hash mismatch.

Usage: python tools/make_fixtures.py  (writes fixtures/ at the repository root)
"""

from __future__ import annotations

import hashlib
import os
import random
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FIXTURES_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")


def _write(df: pd.DataFrame, name: str, int32_cols: tuple[str, ...] = ()) -> None:
    for c in int32_cols:
        df[c] = df[c].astype("int32")
    path = os.path.join(FIXTURES_DIR, name)
    df.to_parquet(path, index=False)
    print(f"wrote {path}: {len(df)} rows")


def mini_cells_and_components() -> None:
    """Sequential twin of extract.extract_cells + connected components
    (operators/geometry.merge_overlapping_boxes) over the 60-doc mini corpus."""
    from docling_parse_spark.corpus import generate_corpus, generate_pdf_file_docs
    from docling_parse_spark.document import decode_unit, doc_to_units
    from docling_parse_spark.operators.geometry import merge_overlapping_boxes

    cells_rows, comp_rows = [], []
    for d in generate_corpus(60, seed=42) + generate_pdf_file_docs(encrypted=False):
        for unit in doc_to_units(d["doc_id"], d["spans"]):
            if unit["unit_kind"] != "pdf":
                continue
            cells = decode_unit("pdf", unit["payload"], unit["page"], unit["resources"]).cells
            boxes = []
            for i, c in enumerate(cells):
                cells_rows.append((d["doc_id"], unit["page"], i, c.text,
                                   c.x0, c.y0, c.x1, c.y1, c.rendering_mode))
                boxes.append((c.x0, c.y0, c.x1, c.y1))
            for ci, b in enumerate(merge_overlapping_boxes(boxes, tol=2.0)):
                comp_rows.append((d["doc_id"], unit["page"], ci, b[0], b[1], b[2], b[3]))
    _write(
        pd.DataFrame(cells_rows, columns=["doc_id", "page", "cell_idx", "text",
                                          "x0", "y0", "x1", "y1", "rendering_mode"]),
        "mini_cells.parquet", int32_cols=("page", "cell_idx", "rendering_mode"),
    )
    _write(
        pd.DataFrame(comp_rows, columns=["doc_id", "page", "comp_idx", "x0", "y0", "x1", "y1"]),
        "mini_components.parquet", int32_cols=("page", "comp_idx"),
    )


def mini_spans_xycut() -> None:
    """Sequential decode_document with XY-cut reading order -> per-doc span
    count + content hash (the distributed query must reproduce both)."""
    from docling_parse_spark.corpus import generate_corpus, generate_pdf_file_docs
    from docling_parse_spark.document import decode_document
    from docling_parse_spark.pdf.page import DecodeConfig

    rows = []
    for d in generate_corpus(60, seed=42) + generate_pdf_file_docs(encrypted=False):
        spans = decode_document(d["doc_id"], d["spans"], DecodeConfig(reading_order="xycut"))
        texts = [s["text"] for s in spans if s["text"] is not None]
        md5 = hashlib.md5("\x1f".join(texts).encode("utf-8")).hexdigest()
        rows.append((d["doc_id"], len(spans), md5))
    _write(pd.DataFrame(rows, columns=["doc_id", "n_spans", "content_md5"]),
           "mini_spans_xycut.parquet", int32_cols=("n_spans",))


def mini_spans_lines() -> None:
    """Sequential decode_document with line output units (create_line_cells)
    -> per-doc span count + content hash, for the extract_lines_md5 gate."""
    from docling_parse_spark.corpus import generate_corpus, generate_pdf_file_docs
    from docling_parse_spark.document import decode_document
    from docling_parse_spark.pdf.page import DecodeConfig

    rows = []
    for d in generate_corpus(60, seed=42) + generate_pdf_file_docs(encrypted=False):
        spans = decode_document(d["doc_id"], d["spans"], DecodeConfig(output_unit="line"))
        texts = [s["text"] for s in spans if s["text"] is not None]
        md5 = hashlib.md5("\x1f".join(texts).encode("utf-8")).hexdigest()
        rows.append((d["doc_id"], len(spans), md5))
    _write(pd.DataFrame(rows, columns=["doc_id", "n_spans", "content_md5"]),
           "mini_spans_lines.parquet", int32_cols=("n_spans",))


def mini_page0_spans() -> None:
    """Sequential twin of the page-range scan (extract_spans(page_numbers=[0])):
    decode ONLY each doc's first decodable unit."""
    from docling_parse_spark.corpus import generate_corpus, generate_pdf_file_docs
    from docling_parse_spark.document import decode_unit, doc_to_units

    rows = []
    for d in generate_corpus(60, seed=42) + generate_pdf_file_docs(encrypted=False):
        units = doc_to_units(d["doc_id"], d["spans"])
        ur = decode_unit(units[0]["unit_kind"], units[0]["payload"],
                         units[0]["page"], units[0]["resources"])
        texts = [t for _, k, t, r in ur.spans if t is not None]
        md5 = hashlib.md5("\x1f".join(texts).encode("utf-8")).hexdigest()
        rows.append((d["doc_id"], len(ur.spans), md5))
    _write(pd.DataFrame(rows, columns=["doc_id", "n_spans", "content_md5"]),
           "mini_page0_spans.parquet", int32_cols=("n_spans",))


def training_texts() -> None:
    """Sequential extraction + text assembly over the corpus-with-clones; the
    oracle SQL recomputes scoring/filter/dedup-survivors from these texts."""
    from docling_parse_spark.corpus import generate_corpus_with_dups
    from docling_parse_spark.document import decode_document

    rows = []
    for d in generate_corpus_with_dups(60, seed=42, n_dups=5):
        spans = decode_document(d["doc_id"], d["spans"])
        text = " ".join(s["text"] for s in spans if s["kind"] == "text" and s["text"] is not None)
        rows.append((d["doc_id"], text))
    _write(pd.DataFrame(rows, columns=["doc_id", "text"]), "training_texts.parquet")


def doc_meta_fixture() -> None:
    """Sequential doc-level metadata twin (document.doc_meta) for the
    doc_meta_table contract query."""
    from docling_parse_spark.corpus import generate_corpus, generate_pdf_file_docs
    from docling_parse_spark.document import doc_meta

    rows = []
    for d in generate_corpus(60, seed=42) + generate_pdf_file_docs(encrypted=False):
        m = doc_meta(d["spans"])
        rows.append((d["doc_id"], m["meta"]["title"], m["meta"]["author"],
                     len(m["outline"]), len(m["fields"])))
    _write(pd.DataFrame(rows, columns=["doc_id", "title", "author", "n_outline", "n_fields"]),
           "mini_doc_meta.parquet", int32_cols=("n_outline", "n_fields"))


def winnowing_fixture() -> None:
    """Sequential winnow() over the sf0.01 documents slice the contract
    query reads (the driver's correctness gate always runs at sf0.01)."""
    import duckdb

    from docling_parse_spark.functions.text import winnow

    rows = duckdb.sql(
        "SELECT doc_id, text FROM '/root/testdata/sf0.01/documents.parquet' "
        "WHERE doc_id < 100 ORDER BY doc_id"
    ).fetchall()
    out = [(doc_id, len(winnow(text))) for doc_id, text in rows]
    _write(pd.DataFrame(out, columns=["doc_id", "fp_size"]),
           "winnowing_sf001.parquet", int32_cols=("fp_size",))


def media_meta() -> None:
    """The metadata that operators/multimodal.synth_media_df encodes into the
    FAKE payload headers, materialized pre-encode — so the oracle re-derives
    decode output and pixel statistics from first principles (the pixel value
    is the pure function (seed + 31x + 17y + 101f) % 256)."""
    rows = []
    for i in range(200):
        rng = random.Random(f"42:media:{i}")
        mt = rng.choice(["image", "image", "image", "audio", "video"])
        w, h = rng.randint(16, 256), rng.randint(16, 256)
        frames = rng.randint(2, 24) if mt == "video" else 1
        s = rng.randrange(1 << 31)
        rows.append((f"media-{i:07d}", mt, w, h, frames, s))
    _write(pd.DataFrame(rows, columns=["media_ref", "media_type", "width", "height", "n_frames", "seed"]),
           "media_meta.parquet", int32_cols=("width", "height", "n_frames"))


if __name__ == "__main__":
    os.makedirs(FIXTURES_DIR, exist_ok=True)
    mini_cells_and_components()
    mini_spans_xycut()
    mini_spans_lines()
    mini_page0_spans()
    training_texts()
    doc_meta_fixture()
    winnowing_fixture()
    media_meta()
