"""End-to-end pipeline tests: the north-rule invariant.

Distributed result == sequential oracle, exactly, per doc_id, as ordered
``(kind, text, media_ref, offset)`` arrays — the analog of the reference's
index-aligned golden comparison (tests/test_parse.py:177-244) and its
threaded == sequential invariant (tests/test_threaded_parse.py:278).
"""

import os
import re

import pytest

from docling_parse_spark.corpus import corpus_to_spark_rows, generate_corpus
from docling_parse_spark.document import decode_document
from docling_parse_spark.extract import STAGE_KEYS, extract_cells, extract_doc_meta, extract_spans
from docling_parse_spark.schemas import SPANS_TABLE_SCHEMA

N_DOCS = 60


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(N_DOCS, seed=42)


@pytest.fixture(scope="module")
def oracle_result(corpus):
    return {
        d["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in decode_document(d["doc_id"], d["spans"])
        ]
        for d in corpus
    }


def spark_result(spark, corpus, num_partitions, **kwargs):
    docs_df = spark.createDataFrame(corpus_to_spark_rows(corpus), schema=SPANS_TABLE_SCHEMA)
    out = extract_spans(docs_df, num_partitions=num_partitions, **kwargs)
    rows = out.collect()
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in rows
    }


def test_spark_matches_oracle(spark, corpus, oracle_result):
    """Every routing split gives the oracle: threshold 0 splits every
    non-empty doc, 10**6 keeps every doc whole, 1 and 24 (the default) mix
    the two kinds of routed row."""
    for threshold in (24, 0, 1, 10**6):
        got = spark_result(spark, corpus, num_partitions=8, heavy_span_threshold=threshold)
        assert set(got) == set(oracle_result)
        for doc_id in oracle_result:
            assert got[doc_id] == oracle_result[doc_id], f"span mismatch in {doc_id} at {threshold}"


def test_partitioning_invariance(spark, corpus, oracle_result):
    """Same output at different parallelism — the reference's
    threaded==sequential test, Spark edition."""
    for n in (1, 3, 16):
        got = spark_result(spark, corpus, num_partitions=n)
        assert got == oracle_result, f"mismatch at num_partitions={n}"


def test_metrics(spark, corpus):
    docs_df = spark.createDataFrame(corpus_to_spark_rows(corpus), schema=SPANS_TABLE_SCHEMA)
    spans, metrics = extract_spans(docs_df, with_metrics=True, lineage="test-run")
    m = metrics.collect()
    total_pages = sum(r["pages_parsed"] for r in m)
    n_units = sum(
        1 for d in corpus for s in d["spans"] if s["kind"] in ("pdf_ops", "html")
    )
    assert total_pages == n_units
    assert sum(r["decode_failures"] for r in m) == 0
    assert sum(r["cells_emitted"] for r in m) > 0
    assert all(r["lineage"] == "test-run" for r in m)
    # one fixed column per stage; the old merge bucket is split in four
    assert [c for c in metrics.columns if c.endswith("_ms_total")] == (
        ["decode_ms_total"] + [f"{k}_ms_total" for k in STAGE_KEYS])
    assert "merge_ms_total" not in metrics.columns
    for k in ("dedup", "sanitize", "words", "order"):
        assert sum(r[f"{k}_ms_total"] for r in m) > 0, k


def test_page_range_scan(spark, corpus, oracle_result):
    """page_numbers subset: only the first decodable unit per doc decodes —
    the reference's page-range scheduling analog."""
    docs_df = spark.createDataFrame(corpus_to_spark_rows(corpus), schema=SPANS_TABLE_SCHEMA)
    out = extract_spans(docs_df, num_partitions=4, page_numbers=[0])
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
        for r in out.collect()
    }
    # every doc's page-0 output is a prefix of its full output
    for doc_id, full in oracle_result.items():
        sub = got[doc_id]
        assert sub == [(k, t, r) for (k, t, r, _) in full][: len(sub)]
        assert len(sub) <= len(full)
    # at least one multi-page doc was actually truncated
    assert any(len(got[d]) < len(oracle_result[d]) for d in got)
    # the metrics pass decodes the same units: same spans, one page per doc
    spans, metrics = extract_spans(docs_df, num_partitions=4, page_numbers=[0],
                                   with_metrics=True)
    assert {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
            for r in spans.collect()} == got
    assert sum(r["pages_parsed"] for r in metrics.collect()) == len(corpus)
    spans.persisted_source.unpersist()


def test_output_schema(spark, corpus):
    docs_df = spark.createDataFrame(corpus_to_spark_rows(corpus), schema=SPANS_TABLE_SCHEMA)
    out = extract_spans(docs_df)
    assert [f.name for f in out.schema.fields] == ["doc_id", "spans"]
    span_type = out.schema["spans"].dataType.elementType
    assert [f.name for f in span_type.fields] == ["kind", "text", "media_ref", "offset"]


def test_form_xobject_in_document_pipeline():
    """pdf_form spans reach the interpreter's recursive Do path end-to-end
    (reference stream.h:374-503): form text appears in the output spans."""
    import json

    from docling_parse_spark.corpus import FONT_HELV
    from docling_parse_spark.document import decode_document

    spans = [
        {"kind": "pdf_font", "text": json.dumps(FONT_HELV), "media_ref": None, "offset": 0},
        {"kind": "pdf_form",
         "text": json.dumps({"name": "Fm0",
                             "ops": "BT /F1 10 Tf 0 0 Td (inner) Tj ET",
                             "matrix": [1, 0, 0, 1, 5, 5]}),
         "media_ref": None, "offset": 1},
        {"kind": "pdf_form",
         "text": json.dumps({"name": "Fm1",
                             "ops": "q 2 0 0 2 0 0 cm /Fm0 Do Q",
                             "matrix": [1, 0, 0, 1, 0, 50]}),
         "media_ref": None, "offset": 2},
        {"kind": "pdf_ops",
         "text": "BT /F1 10 Tf 72 700 Td (outer) Tj ET "
                 "q 1 0 0 1 100 100 cm /Fm0 Do Q /Fm1 Do",
         "media_ref": None, "offset": 3},
    ]
    out = decode_document("d", spans)
    texts = [s["text"] for s in out if s["kind"] == "text"]
    assert "outer" in texts
    assert texts.count("inner") == 2  # direct Do + nested through Fm1


def test_null_spans_row_flows_as_empty_doc(spark):
    """Round-4 review: a NULL spans array (nullable in the schema) must
    surface as an empty doc, not a TypeError task kill."""
    from docling_parse_spark.extract import extract_doc_meta, extract_spans
    from docling_parse_spark.schemas import SPANS_TABLE_SCHEMA

    docs = spark.createDataFrame([("doc-null", None)], schema=SPANS_TABLE_SCHEMA)
    for kwargs in ({}, {"page_numbers": [0]}, {"heavy_span_threshold": 0}):
        out = extract_spans(docs, num_partitions=2, **kwargs).collect()
        assert len(out) == 1 and out[0]["doc_id"] == "doc-null" and out[0]["spans"] == []
    assert extract_cells(docs, num_partitions=2).collect() == []
    meta = extract_doc_meta(docs).collect()
    assert len(meta) == 1
    assert meta[0]["doc_id"] == "doc-null" and meta[0]["title"] is None
    assert meta[0]["outline"] == [] and meta[0]["n_fields"] == 0


def test_extract_cells_survives_malformed_font_blob(spark):
    """Round-4 review: a doc whose pdf_font span is invalid JSON must cost
    that page its cells, not the whole job."""
    from docling_parse_spark.extract import extract_cells
    from docling_parse_spark.schemas import SPANS_TABLE_SCHEMA

    good_font = ('{"font_key": "F0", "base_font": "Helvetica", "subtype": "Type1",'
                 ' "encoding": "WinAnsiEncoding", "first_char": 32,'
                 ' "widths": [500.0]}')
    rows = [
        ("doc-bad", [
            {"kind": "pdf_font", "text": "{not json", "media_ref": None, "offset": 0},
            {"kind": "pdf_ops", "text": "BT /F0 10 Tf (A) Tj ET", "media_ref": None, "offset": 1},
        ]),
        ("doc-good", [
            {"kind": "pdf_font", "text": good_font, "media_ref": None, "offset": 0},
            {"kind": "pdf_ops", "text": "BT /F0 10 Tf (B) Tj ET", "media_ref": None, "offset": 1},
        ]),
    ]
    docs = spark.createDataFrame(rows, schema=SPANS_TABLE_SCHEMA)
    cells = extract_cells(docs, num_partitions=2).collect()
    assert {r["doc_id"] for r in cells} == {"doc-good"}  # bad doc skipped, job alive


def test_hostile_nested_json_resource_is_per_doc_failure(spark):
    """Round-4 review: RecursionError from absurdly nested JSON in a
    resource span must not escape the routing layer."""
    from docling_parse_spark.document import decode_document

    bomb = "[" * 3000 + "]" * 3000
    spans = [
        {"kind": "pdf_form", "text": bomb, "media_ref": None, "offset": 0},
        {"kind": "pdf_outline", "text": bomb, "media_ref": None, "offset": 1},
        {"kind": "html", "text": "<p>alpha beta gamma delta epsilon zeta</p>",
         "media_ref": None, "offset": 2},
    ]
    out = decode_document("doc-bomb", spans)  # must not raise
    assert any(s["kind"] == "text" for s in out)


def test_doc_level_content_filters_reach_decode(spark):
    """Round-4 review: content_filters declared in the pdf_page descriptor
    must reach decode_unit — the doc-level path for /Filter transport."""
    import base64
    import json as _json
    import zlib

    from docling_parse_spark.document import decode_document

    font = _json.dumps({"font_key": "F0", "base_font": "Helvetica",
                        "subtype": "Type1", "encoding": "WinAnsiEncoding",
                        "first_char": 32, "widths": [500.0] * 95})
    stream = b"BT /F0 12 Tf 10 700 Td (doc level filtered) Tj ET"
    enc = (base64.a85encode(zlib.compress(stream)) + b"~>").decode("ascii")
    desc = _json.dumps({"page": 0, "media_box": [0, 0, 612, 792], "rotate": 0,
                        "content_filters": ["/ASCII85Decode", "/FlateDecode"]})
    spans = [
        {"kind": "pdf_font", "text": font, "media_ref": None, "offset": 0},
        {"kind": "pdf_page", "text": desc, "media_ref": None, "offset": 1},
        {"kind": "pdf_ops", "text": enc, "media_ref": None, "offset": 2},
    ]
    bare = [
        {"kind": "pdf_font", "text": font, "media_ref": None, "offset": 0},
        {"kind": "pdf_page", "text": _json.dumps({"page": 0, "media_box": [0, 0, 612, 792], "rotate": 0}),
         "media_ref": None, "offset": 1},
        {"kind": "pdf_ops", "text": stream.decode("ascii"), "media_ref": None, "offset": 2},
    ]
    assert decode_document("d", spans) == decode_document("d", bare)


def test_extract_cells_matches_fixture(spark):
    """extract_cells over the mini corpus equals the sequential-kernel
    fixture (tools/make_fixtures.py) row for row, values exact."""
    import pyarrow.parquet as pq

    from docling_parse_spark.corpus import generate_pdf_file_docs

    cols = ["doc_id", "page", "cell_idx", "text", "x0", "y0", "x1", "y1", "rendering_mode"]
    fixture = pq.read_table(os.path.join(os.path.dirname(os.path.dirname(__file__)),
                                         "fixtures", "mini_cells.parquet"), columns=cols)
    want = sorted(zip(*(fixture.column(c).to_pylist() for c in cols)))
    docs = generate_corpus(60, seed=42) + generate_pdf_file_docs(encrypted=False)
    docs_df = spark.createDataFrame(corpus_to_spark_rows(docs), schema=SPANS_TABLE_SCHEMA)
    got = sorted(tuple(r) for r in extract_cells(docs_df, num_partitions=4).select(*cols).collect())
    assert len(got) == len(want) > 0
    assert got == want


def test_extract_doc_meta_matches_sequential(spark):
    """extract_doc_meta gives document.doc_meta's record for every doc of
    the mini corpus, field for field."""
    from docling_parse_spark.corpus import generate_pdf_file_docs
    from docling_parse_spark.document import doc_meta

    docs = generate_corpus(60, seed=42) + generate_pdf_file_docs(encrypted=False)
    docs_df = spark.createDataFrame(corpus_to_spark_rows(docs), schema=SPANS_TABLE_SCHEMA)
    got = {r["doc_id"]: r for r in extract_doc_meta(docs_df).collect()}
    assert set(got) == {d["doc_id"] for d in docs}
    assert any(got[d]["outline"] for d in got) and any(got[d]["n_fields"] for d in got)
    for d in docs:
        exp = doc_meta(d["spans"])
        row = got[d["doc_id"]]
        assert {k: row[k] for k in exp["meta"]} == exp["meta"]
        assert [(o["level"], o["title"], o["page"]) for o in row["outline"]] == exp["outline"]
        assert row["n_fields"] == len(exp["fields"])
        assert list(row["field_names"]) == exp["fields"]


@pytest.mark.parametrize("page", ['"x"', "1e400", "[1]", "1e10",
                                  pytest.param("1" + "0" * 400, id="10**400")])
def test_doc_meta_reads_a_bad_outline_page_as_zero(spark, page):
    """An outline node whose page is not a finite number in int range reads
    as page 0, like a missing one, in doc_meta and in extract_doc_meta,
    whose task it must never kill."""
    from docling_parse_spark.document import doc_meta

    outline = '[{"title": "bad", "page": %s, "children": [{"title": "ok", "page": 2}]}]' % page
    spans = [{"kind": "pdf_outline", "text": outline, "media_ref": None, "offset": 0}]
    want = [(0, "bad", 0), (1, "ok", 2)]
    assert doc_meta(spans)["outline"] == want
    docs_df = spark.createDataFrame(corpus_to_spark_rows([{"doc_id": "d", "spans": spans}]),
                                    schema=SPANS_TABLE_SCHEMA)
    [row] = extract_doc_meta(docs_df).collect()
    assert [(o["level"], o["title"], o["page"]) for o in row["outline"]] == want


def test_spans_table_has_the_span_struct(spark, corpus):
    """The reassembled table is ``doc_id`` plus an array of the span struct
    of ``schemas.py``, every field and element nullable."""
    from pyspark.sql import types as T

    from docling_parse_spark.schemas import SPAN_SCHEMA

    docs_df = spark.createDataFrame(corpus_to_spark_rows(corpus), schema=SPANS_TABLE_SCHEMA)
    assert extract_spans(docs_df, num_partitions=2).schema == T.StructType(
        [T.StructField("doc_id", T.StringType()), T.StructField("spans", T.ArrayType(SPAN_SCHEMA))])


_EXCHANGE = re.compile(r"(?<!Reused)Exchange \w+partitioning|Exchange SinglePartition")


def _final_plan(plan: str) -> list[str]:
    """The node lines of an executed adaptive plan's final-plan sections
    (the initial plans repeat them)."""
    lines, skip_at = [], None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" "))
        if skip_at is not None and indent > skip_at:
            continue
        skip_at = None
        if "== Initial Plan ==" in line:
            skip_at = indent
        else:
            lines.append(line)
    return lines


@pytest.mark.parametrize("case,exchanges", [
    ("spans", 2), ("spans_metrics", 2), ("page_numbers", 2), ("cells", 1), ("doc_meta", 0),
])
def test_extract_plans_are_arrow_only(spark, corpus, case, exchanges):
    """Every Python step of the extract paths is a mapInArrow, and each
    path keeps its exchange count. The spans paths run two (route and
    decode), both below the reassembly exchange: reassembly runs no Python."""
    docs_df = spark.createDataFrame(corpus_to_spark_rows(corpus), schema=SPANS_TABLE_SCHEMA)
    df = {
        "spans": lambda: extract_spans(docs_df, num_partitions=4),
        "spans_metrics": lambda: extract_spans(docs_df, num_partitions=4, with_metrics=True)[0],
        "page_numbers": lambda: extract_spans(docs_df, num_partitions=4, page_numbers=[0]),
        "cells": lambda: extract_cells(docs_df, num_partitions=4),
        "doc_meta": lambda: extract_doc_meta(docs_df),
    }[case]()
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "MapInArrow" in plan
    final = _final_plan(plan)
    assert sum(bool(_EXCHANGE.search(line)) for line in final) == exchanges
    arrow = [i for i, line in enumerate(final) if "MapInArrow" in line]
    assert len(arrow) == {"spans": 2, "spans_metrics": 2, "page_numbers": 2, "cells": 2,
                          "doc_meta": 1}[case]
    if case.startswith(("spans", "page_numbers")):
        assert min(arrow) > next(i for i, line in enumerate(final) if _EXCHANGE.search(line))
