"""End-to-end single-page decode: content stream -> ordered spans."""

import json

import pytest

from docling_parse_spark.pdf.page import DecodeConfig, build_fonts, decode_page, page_geometry


FONT = json.dumps({
    "font_key": "F1", "base_font": "Helvetica", "subtype": "Type1",
    "encoding": "WinAnsiEncoding", "first_char": 32, "widths": [500.0] * 95,
})


def test_text_and_media_interleaved_in_stream_order():
    fonts = build_fonts([FONT])
    src = (b"BT /F1 12 Tf 72 720 Td (Before image) Tj ET "
           b"q 200 0 0 100 72 500 cm /Im1 Do Q "
           b"BT /F1 12 Tf 72 400 Td (After image) Tj ET")
    res = decode_page(src, fonts, images={"Im1": "img-0"})
    assert not res.failed
    assert res.spans == [
        ("text", "Before", None),
        ("text", "image", None),
        ("media", None, "img-0"),
        ("text", "After", None),
        ("text", "image", None),
    ]


def test_line_unit():
    fonts = build_fonts([FONT])
    src = b"BT /F1 12 Tf 72 720 Td (Hello world) Tj 0 -14 Td (Second line) Tj ET"
    res = decode_page(src, fonts, config=DecodeConfig(output_unit="line"))
    assert [s[1] for s in res.spans] == ["Hello world", "Second line"]


def test_rotation_page():
    fonts = build_fonts([FONT])
    desc = page_geometry(json.loads(json.dumps({"media_box": [0, 0, 612, 792], "rotate": 90})))
    res = decode_page(b"BT /F1 12 Tf 72 720 Td (Rot) Tj ET", fonts, page_desc=desc)
    assert [s[1] for s in res.spans] == ["Rot"]


def test_failure_captured():
    # tokenizer/interpreter survive garbage; force failure with a non-bytes type
    res = decode_page(12345, {})  # type: ignore[arg-type]
    assert res.failed and res.error


def test_crop_box_translation():
    import math

    fonts = build_fonts([FONT])
    desc = page_geometry(json.loads(json.dumps(
        {"media_box": [0, 0, 612, 792], "crop_box": [50, 40, 562, 752], "rotate": 0}
    )))
    res = decode_page(b"BT /F1 10 Tf 100 700 Td (C) Tj ET", fonts, page_desc=desc)
    assert [s[1] for s in res.spans] == ["C"]
    # verify via the cell table that coordinates shifted by the crop origin
    assert math.isclose(res.cells[0].x0, 100 - 50)
    assert math.isclose(res.cells[0].y0, (700 - 2.5) - 40)


def test_overprint_removed_end_to_end():
    fonts = build_fonts([FONT])
    src = (b"BT /F1 10 Tf 1 0 0 1 100 700 Tm (Bold) Tj"
           b" 1 0 0 1 100.2 700.1 Tm (Bold) Tj ET")
    res = decode_page(src, fonts)
    assert [s[1] for s in res.spans] == ["Bold"]


def test_crop_box_translates_shapes_with_cells():
    """Round-4 review: shape spans must live in the same crop-translated
    frame as cells and bitmaps."""
    import json

    from docling_parse_spark.pdf.page import DecodeConfig, decode_page

    desc = {"page": 0, "media_box": [0, 0, 700, 900],
            "crop_box": [50, 50, 662, 842], "rotate": 0}
    pr = decode_page(
        b"100 90 50 5 re f BT /F0 10 Tf 100 90 Td (A) Tj ET",
        {},
        page_desc=desc,
        config=DecodeConfig(emit_shapes=True),
    )
    shape = next(s for s in pr.spans if s[0] == "shape")
    bb = json.loads(shape[1])["bbox"]
    assert bb[:2] == [50.0, 40.0]  # (100,90) - (50,50): same frame as cells


def test_infinite_rotate_gets_the_default_page():
    """A descriptor whose rotate overflows int() (JSON 1e400 reads as inf)
    gets the default page like any other malformed field; the unit still
    decodes instead of raising OverflowError."""
    from docling_parse_spark.document import decode_document

    assert page_geometry(json.loads('{"rotate": 1e400}')) == page_geometry(None)
    spans = [
        {"kind": "pdf_font", "text": FONT, "media_ref": None, "offset": 0},
        {"kind": "pdf_page", "text": '{"page": 0, "rotate": 1e400}', "media_ref": None,
         "offset": 1},
        {"kind": "pdf_ops", "text": "BT /F1 12 Tf 72 700 Td (upright) Tj ET", "media_ref": None,
         "offset": 2},
    ]
    assert [s["text"] for s in decode_document("d", spans)] == ["upright"]


def test_unreadable_resources_string_is_a_failed_unit():
    """A shipped resources string that json cannot read back (nesting past
    the recursion limit) fails its unit instead of raising."""
    from docling_parse_spark.document import decode_unit

    deep = "[" * 100_000 + "]" * 100_000
    ur = decode_unit("pdf", "BT ET", 0, '{"colorspaces": ' + deep + "}")
    assert ur.failed and ur.spans == []
    assert ur.error.startswith("resources: RecursionError")


def _deeper(frames, fn, *args):
    """``fn(*args)`` run ``frames`` Python frames further down the stack, as
    a Spark worker runs a doc's routing and its shipped units' decode."""
    return fn(*args) if frames == 0 else _deeper(frames - 1, fn, *args)


def test_resources_nested_near_the_limit_ship_like_the_oracle():
    """A resource value nested just under json's recursion limit neither
    raises in ``doc_to_units(serialize=True)`` (the route step) nor decodes
    differently once shipped, even from a deeper stack than the oracle's:
    the reader drops a resource span nested deeper than ``_MAX_NESTING``
    whatever the stack."""
    import sys

    from docling_parse_spark.document import (
        _MAX_NESTING,
        decode_document,
        decode_unit,
        doc_to_units,
    )

    def nest(n):
        return "[" * n + "]" * n

    def loads_ok(text):
        try:
            json.loads(text)
            return True
        except RecursionError:
            return False

    top = next(n for n in range(sys.getrecursionlimit(), 0, -1) if loads_ok(nest(n)))
    ops = {"kind": "pdf_ops", "text": "BT /F1 12 Tf 72 700 Td (hi) Tj ET", "media_ref": None,
           "offset": 2}

    def doc(kind, text):
        return [{"kind": "pdf_font", "text": FONT, "media_ref": None, "offset": 0},
                {"kind": kind, "text": text, "media_ref": None, "offset": 1}, ops]

    templates = [
        ("pdf_annot", '{"page": 0, "subtype": "widget", "field": "f", "rect": %s}'),
        ("pdf_annot", '{"page": 0, "subtype": "widget", "field": "f", "ap_ops": "BT ET", '
                      '"ap_filters": ["/FlateDecode"], "ap_parms": %s}'),
        ("pdf_page", '{"page": 0, "rotate": 90, "junk": %s}'),
        ("pdf_page", '{"page": 0, "content_filters": ["/FlateDecode"], "content_parms": %s}'),
        ("pdf_form", '{"name": "Fm1", "ops": "", "matrix": %s}'),
    ]
    for kind, template in templates:
        for n in range(top - 40, top + 1):
            spans = doc(kind, template % nest(n))
            shipped = [
                (k, t, r)
                for u in _deeper(40, doc_to_units, "d", spans)
                for _, k, t, r in _deeper(40, decode_unit, u["unit_kind"], u["payload"],
                                          u["page"], u["resources"]).spans
            ]
            oracle = [(s["kind"], s["text"], s["media_ref"]) for s in decode_document("d", spans)]
            assert shipped == oracle, (kind, n)

    # the bound is exact: a descriptor nested _MAX_NESTING deep keeps its
    # geometry (and only that rides page_desc); one level more drops it
    def page_desc(n):
        spans = doc("pdf_page", '{"page": 0, "rotate": 90, "junk": %s}' % nest(n))
        return doc_to_units("d", spans, serialize=False)[0]["resources"]["page_desc"]

    assert page_desc(_MAX_NESTING - 1) == {"rotate": 90}
    assert page_desc(_MAX_NESTING) is None


def test_font_nested_past_the_bound_fails_its_unit_on_both_paths():
    """A ``pdf_font`` blob reads through the same bounded loader as the
    other resource spans: one nested past ``_MAX_NESTING`` fails its unit
    (``font: ...``) in the oracle and on the shipped path run 40 frames
    deeper alike, where a bare ``json.loads`` decoded it in the oracle and
    failed it only on the deeper stack; one at the bound decodes on both."""
    from docling_parse_spark.document import (
        _MAX_NESTING,
        decode_document,
        decode_unit,
        doc_to_units,
    )

    ops = {"kind": "pdf_ops", "text": "BT /F1 12 Tf 72 700 Td (hi) Tj ET", "media_ref": None,
           "offset": 1}
    for depth, want in ((_MAX_NESTING - 1, ["hi"]), (100, []), (960, [])):
        font = FONT[:-1] + ', "junk": ' + "[" * depth + "]" * depth + "}"
        spans = [{"kind": "pdf_font", "text": font, "media_ref": None, "offset": 0}, ops]
        results = [
            _deeper(40, decode_unit, u["unit_kind"], u["payload"], u["page"], u["resources"])
            for u in _deeper(40, doc_to_units, "d", spans)
        ]
        shipped = [t for ur in results for _, _, t, _ in ur.spans]
        assert shipped == [s["text"] for s in decode_document("d", spans)] == want, depth
        assert all(ur.error.startswith("font: ") for ur in results) == (not want), depth


def test_over_deep_font_fails_alike_on_every_stack():
    """The nesting bound is read before json runs, so a font blob nested
    960 deep fails its unit with one error at any stack depth."""
    from docling_parse_spark.document import decode_unit, doc_to_units

    font = FONT[:-1] + ', "junk": ' + "[" * 960 + "]" * 960 + "}"
    spans = [{"kind": "pdf_font", "text": font, "media_ref": None, "offset": 0},
             {"kind": "pdf_ops", "text": "BT /F1 12 Tf 72 700 Td (hi) Tj ET", "media_ref": None,
              "offset": 1}]
    [u] = doc_to_units("d", spans)
    args = (u["unit_kind"], u["payload"], u["page"], u["resources"])
    shallow, deep = decode_unit(*args), _deeper(40, decode_unit, *args)
    assert shallow.error == deep.error
    assert shallow.error.startswith("font: ValueError")


def test_loads_counts_only_brackets_outside_strings():
    """``_loads`` bounds the container nesting: brackets inside string
    literals, escapes included, do not count; a wide but shallow value and
    one nested exactly ``_MAX_NESTING`` deep decode."""
    from docling_parse_spark.pdf.fonts import _MAX_NESTING, _loads

    def nest(n):
        return "[" * n + "]" * n

    assert _loads('{"a": "%s\\"%s"}' % ("[" * 99, "{" * 99)) == {"a": "[" * 99 + '"' + "{" * 99}
    assert _loads("[" + ",".join(["[]"] * 99) + "]") == [[]] * 99
    assert _loads(nest(_MAX_NESTING)) is not None
    for bad in (nest(_MAX_NESTING + 1), '["\\\\", %s]' % nest(_MAX_NESTING), "]" + nest(99)):
        with pytest.raises(ValueError, match="nested deeper"):
            _loads(bad)


@pytest.mark.parametrize("desc", [
    {"media_box": [0, 0, 612]},
    {"media_box": ["0", "0", "612", "792"]},
    {"media_box": "abcd"},
    {"media_box": [0, 0, 612, 792], "crop_box": [1, 2]},
])
def test_malformed_page_box_gets_the_default_page(desc):
    """A descriptor whose media or crop box is not four numbers gets the
    default page, so the page decodes like the same doc with no descriptor
    instead of failing with IndexError/TypeError."""
    from docling_parse_spark.document import decode_document

    def doc(*extra):
        return [{"kind": "pdf_font", "text": FONT, "media_ref": None, "offset": 0}, *extra,
                {"kind": "pdf_ops", "text": "BT /F1 12 Tf 72 700 Td (box) Tj ET",
                 "media_ref": None, "offset": 2}]

    page = {"kind": "pdf_page", "text": json.dumps({"page": 0, "rotate": 90, **desc}),
            "media_ref": None, "offset": 1}
    assert decode_document("d", doc(page)) == decode_document("d", doc())
    assert [s["text"] for s in decode_document("d", doc())] == ["box"]
