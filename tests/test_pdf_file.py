"""Raw PDF file layer (pdf/file.py): classic xref, xref streams, object
streams, page-tree inheritance, filters, fonts — end-to-end into the
decode kernels."""

import json
import zlib

import pytest

from docling_parse_spark.document import decode_document
from docling_parse_spark.pdf.file import PdfFile, parse_pdf_spans


def build_classic_pdf(objects: dict[int, bytes], root: int,
                      trailer_extra: str = "") -> bytes:
    """Assemble a classic-xref PDF: {obj_num: body} -> bytes with correct
    offsets. Bodies exclude the 'n 0 obj'/'endobj' wrapper.
    ``trailer_extra`` splices additional trailer keys (e.g. '/Info 9 0 R')."""
    out = bytearray(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    for num in sorted(objects):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objects[num] + b"\nendobj\n"
    xref_pos = len(out)
    maxnum = max(objects)
    out += f"xref\n0 {maxnum + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for num in range(1, maxnum + 1):
        out += (f"{offsets.get(num, 0):010d} 00000 n \n").encode()
    out += (f"trailer\n<< /Size {maxnum + 1} /Root {root} 0 R {trailer_extra}>>\n"
            f"startxref\n{xref_pos}\n%%EOF\n").encode()
    return bytes(out)


FONT_OBJ = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/Encoding /WinAnsiEncoding >>")
CONTENT = b"BT /F1 12 Tf 72 700 Td (Hello from a real PDF file) Tj ET"


def minimal_objects(content: bytes, filtered: bool = False) -> dict[int, bytes]:
    if filtered:
        body = zlib.compress(content)
        stream_obj = (f"<< /Length {len(body)} /Filter /FlateDecode >>\nstream\n".encode()
                      + body + b"\nendstream")
    else:
        stream_obj = (f"<< /Length {len(content)} >>\nstream\n".encode()
                      + content + b"\nendstream")
    return {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: (b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
            b"/MediaBox [0 0 612 792] /Rotate 0 >>"),  # inherited attrs
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
           b"/Resources << /Font << /F1 5 0 R >> >> >>",
        4: stream_obj,
        5: FONT_OBJ,
    }


def spans_text(spans):
    out = decode_document("d", spans)
    return " ".join(s["text"] for s in out if s["kind"] == "text")


def test_classic_xref_end_to_end():
    pdf = build_classic_pdf(minimal_objects(CONTENT), root=1)
    spans = parse_pdf_spans(pdf)
    kinds = [s["kind"] for s in spans]
    assert kinds.count("pdf_font") == 1 and kinds.count("pdf_ops") == 1
    desc = json.loads(next(s["text"] for s in spans if s["kind"] == "pdf_page"))
    assert desc["media_box"] == [0.0, 0.0, 612.0, 792.0]  # inherited
    assert "Hello from a real PDF file" in spans_text(spans)


def test_flate_filtered_content_stream():
    pdf = build_classic_pdf(minimal_objects(CONTENT, filtered=True), root=1)
    assert "Hello from a real PDF file" in spans_text(parse_pdf_spans(pdf))


def test_xref_stream_and_object_stream():
    """Modern layout: catalog/pages/page/font live compressed inside an
    /ObjStm; the xref is a /Type /XRef stream with 3-column /W."""
    # objects 1,2,3,5 go into the object stream (object 6)
    inner = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 300 400] >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R >> >> >>"),
        5: FONT_OBJ,
    }
    hdr = bytearray()
    body = bytearray()
    for num in (1, 2, 3, 5):
        hdr += f"{num} {len(body)} ".encode()
        body += inner[num] + b" "
    objstm_payload = bytes(hdr) + bytes(body)
    first = len(hdr)

    out = bytearray(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    # object 4: the content stream (plain in the file)
    offsets[4] = len(out)
    out += (f"4 0 obj\n<< /Length {len(CONTENT)} >>\nstream\n".encode()
            + CONTENT + b"\nendstream\nendobj\n")
    # object 6: the ObjStm
    z = zlib.compress(objstm_payload)
    offsets[6] = len(out)
    out += (f"6 0 obj\n<< /Type /ObjStm /N 4 /First {first} /Length {len(z)} "
            f"/Filter /FlateDecode >>\nstream\n".encode() + z
            + b"\nendstream\nendobj\n")
    # object 7: the XRef stream. W = [1 4 2]; entries for objects 0..7
    rows = bytearray()

    def row(t, a, b):
        rows.append(t)
        rows.extend(int(a).to_bytes(4, "big") + int(b).to_bytes(2, "big"))

    xref_pos_placeholder = 0  # patched below
    row(0, 0, 65535)          # 0: free
    row(2, 6, 0)              # 1: in objstm 6, idx 0
    row(2, 6, 1)              # 2: idx 1
    row(2, 6, 2)              # 3: idx 2
    row(1, offsets[4], 0)     # 4: file offset
    row(2, 6, 3)              # 5: idx 3
    row(1, offsets[6], 0)     # 6: file offset
    row(1, xref_pos_placeholder, 0)  # 7: the XRef stream itself (patched)
    xref_pos = len(out)
    rows[-6:-2] = int(xref_pos).to_bytes(4, "big")
    zr = zlib.compress(bytes(rows))
    out += (f"7 0 obj\n<< /Type /XRef /Size 8 /W [1 4 2] /Index [0 8] "
            f"/Root 1 0 R /Length {len(zr)} /Filter /FlateDecode >>\nstream\n".encode()
            + zr + b"\nendstream\nendobj\n")
    out += f"startxref\n{xref_pos}\n%%EOF\n".encode()

    spans = parse_pdf_spans(bytes(out))
    desc = json.loads(next(s["text"] for s in spans if s["kind"] == "pdf_page"))
    assert desc["media_box"] == [0.0, 0.0, 300.0, 400.0]
    assert "Hello from a real PDF file" in spans_text(spans)


def test_widths_and_tounicode_flow_into_font():
    """/FirstChar+/Widths and a /ToUnicode CMap stream reach the font
    descriptor and drive decode."""
    cmap = (b"/CIDInit /ProcSet findresource begin\n"
            b"1 begincodespacerange <00> <FF> endcodespacerange\n"
            b"1 beginbfchar <41> <0042> endbfchar\nend")
    objs = minimal_objects(b"BT /F1 10 Tf 10 700 Td (A) Tj ET")
    objs[5] = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
               b"/Encoding /WinAnsiEncoding /FirstChar 65 "
               b"/Widths [600] /ToUnicode 6 0 R >>")
    objs[6] = (f"<< /Length {len(cmap)} >>\nstream\n".encode() + cmap
               + b"\nendstream")
    pdf = build_classic_pdf(objs, root=1)
    spans = parse_pdf_spans(pdf)
    font = json.loads(next(s["text"] for s in spans if s["kind"] == "pdf_font"))
    assert font["widths"] == [600.0] and font["first_char"] == 65
    assert "beginbfchar" in font["to_unicode"]
    assert spans_text(spans) == "B"  # 'A' remapped through ToUnicode


def test_hostile_pdfs_raise_valueerror():
    good = build_classic_pdf(minimal_objects(CONTENT), root=1)
    for bad in (b"not a pdf", good[:40], good.replace(b"startxref", b"nothing"),
                good.replace(b"/Root 1 0 R", b"/Root 9 0 R")):
        with pytest.raises(ValueError):
            parse_pdf_spans(bad)
    enc = build_classic_pdf(minimal_objects(CONTENT), root=1).replace(
        b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 5 0 R")
    with pytest.raises(ValueError, match="encrypt"):
        parse_pdf_spans(enc)


def test_incremental_update_prev_chain():
    """An appended update whose xref /Prev points at the original: the
    newest object definition wins."""
    base = build_classic_pdf(minimal_objects(CONTENT), root=1)
    orig_xref = int(base.split(b"startxref\n")[1].split(b"\n")[0])
    new_content = b"BT /F1 12 Tf 72 700 Td (updated body) Tj ET"
    upd = bytearray(base)
    new4_off = len(upd)
    upd += (f"4 0 obj\n<< /Length {len(new_content)} >>\nstream\n".encode()
            + new_content + b"\nendstream\nendobj\n")
    xref2 = len(upd)
    upd += (b"xref\n0 1\n0000000000 65535 f \n"
            + f"4 1\n{new4_off:010d} 00000 n \n".encode())
    upd += (f"trailer\n<< /Size 6 /Root 1 0 R /Prev {orig_xref} >>\n"
            f"startxref\n{xref2}\n%%EOF\n").encode()
    text = spans_text(parse_pdf_spans(bytes(upd)))
    assert "updated body" in text and "Hello" not in text


def test_ingest_pdf_files_spark(spark, tmp_path):
    """binaryFile -> docs table -> standard extraction, with per-file
    failure accounting."""
    from docling_parse_spark.extract import extract_spans
    from docling_parse_spark.pdf.file import ingest_pdf_files

    (tmp_path / "a.pdf").write_bytes(build_classic_pdf(minimal_objects(CONTENT), root=1))
    (tmp_path / "b.pdf").write_bytes(
        build_classic_pdf(minimal_objects(CONTENT, filtered=True), root=1))
    (tmp_path / "broken.pdf").write_bytes(b"%PDF-1.7 truncated garbage")

    docs = ingest_pdf_files(spark, str(tmp_path))
    rows = {r["doc_id"].rsplit("/", 1)[-1]: r for r in docs.collect()}
    assert all("/" in r["doc_id"] for r in docs.collect())  # full path ids
    assert rows["a.pdf"]["error"] is None and len(rows["a.pdf"]["spans"]) == 3
    assert rows["b.pdf"]["error"] is None
    assert rows["broken.pdf"]["spans"] == [] and rows["broken.pdf"]["error"]

    out = {r["doc_id"].rsplit("/", 1)[-1]: r["spans"] for r in
           extract_spans(docs.drop("error"), num_partitions=2).collect()}
    a_text = " ".join(s["text"] for s in out["a.pdf"] if s["kind"] == "text")
    assert "Hello from a real PDF file" in a_text
    assert out["broken.pdf"] == []


def test_hostile_pdf_bytes_raise_valueerror_only():
    """Arbitrary bytes (including %PDF-prefixed garbage and truncations of
    a valid file) either parse or raise ValueError — never another type."""
    from hypothesis import given, settings, strategies as st

    good = build_classic_pdf(minimal_objects(CONTENT), root=1)

    from docling_parse_spark.pdf.file import parse_pdf_media

    @settings(max_examples=120, deadline=None)
    @given(st.binary(max_size=200))
    def run(data):
        for payload in (data, b"%PDF-1.7\n" + data):
            for fn in (parse_pdf_spans, parse_pdf_media):
                try:
                    fn(payload)
                except ValueError:
                    pass

    run()
    for cut in range(0, len(good), 37):
        try:
            parse_pdf_spans(good[:cut])
        except ValueError:
            pass


def test_conflicting_per_page_font_keys_decode_per_page():
    """Round-4 review: two pages using the same resource key /F1 for
    DIFFERENT fonts must each decode with their own font (page-scoped
    blobs ride the pdf_page descriptor and win for that unit only)."""
    cmap = (b"1 begincodespacerange <00> <FF> endcodespacerange\n"
            b"1 beginbfchar <41> <005A> endbfchar")  # A -> Z
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: (b"<< /Type /Pages /Kids [3 0 R 6 0 R] /Count 2 "
            b"/MediaBox [0 0 612 792] >>"),
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
           b"/Resources << /Font << /F1 5 0 R >> >> >>",
        4: (f"<< /Length {len(b'BT /F1 10 Tf 10 700 Td (A) Tj ET')} >>\nstream\n".encode()
            + b"BT /F1 10 Tf 10 700 Td (A) Tj ET" + b"\nendstream"),
        5: FONT_OBJ,  # plain helvetica: A stays A
        6: b"<< /Type /Page /Parent 2 0 R /Contents 7 0 R "
           b"/Resources << /Font << /F1 8 0 R >> >> >>",
        7: (f"<< /Length {len(b'BT /F1 10 Tf 10 700 Td (A) Tj ET')} >>\nstream\n".encode()
            + b"BT /F1 10 Tf 10 700 Td (A) Tj ET" + b"\nendstream"),
        8: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
           b"/Encoding /WinAnsiEncoding /ToUnicode 9 0 R >>",  # A -> Z
        9: (f"<< /Length {len(cmap)} >>\nstream\n".encode() + cmap + b"\nendstream"),
    }
    spans = parse_pdf_spans(build_classic_pdf(objs, root=1))
    out = decode_document("d", spans)
    texts = [s["text"] for s in out if s["kind"] == "text"]
    assert texts == ["A", "Z"], texts


def test_binary_content_stream_is_arrow_safe(spark, tmp_path):
    """Round-4 review: non-UTF-8 content bytes ship as ASCII85 transport
    (declared in the descriptor), so Arrow serialization cannot hit lone
    surrogates and the text still decodes."""
    binary_tail = b"\nBI /W 2 /H 1 ID \xff\xfe\x80 EI"
    content = CONTENT + binary_tail
    pdf_bytes = build_classic_pdf(minimal_objects(content), root=1)
    spans = parse_pdf_spans(pdf_bytes)
    ops = next(s["text"] for s in spans if s["kind"] == "pdf_ops")
    ops.encode("utf-8")  # Arrow-safe: strict encode must succeed
    desc = json.loads(next(s["text"] for s in spans if s["kind"] == "pdf_page"))
    assert desc.get("content_filters") == ["ASCII85Decode"]
    assert "Hello from a real PDF file" in spans_text(spans)
    # ...and through the Spark ingest end to end
    (tmp_path / "bin.pdf").write_bytes(pdf_bytes)
    from docling_parse_spark.pdf.file import ingest_pdf_files

    rows = ingest_pdf_files(spark, str(tmp_path)).collect()
    assert rows[0]["error"] is None and len(rows[0]["spans"]) == 3


def test_differences_and_font_program_reach_descriptor():
    objs = minimal_objects(b"BT /F1 10 Tf 10 700 Td (A) Tj ET")
    objs[5] = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
               b"/Encoding << /BaseEncoding /WinAnsiEncoding "
               b"/Differences [65 /z] >> >>")
    spans = parse_pdf_spans(build_classic_pdf(objs, root=1))
    font = json.loads(next(s["text"] for s in spans if s["kind"] == "pdf_font"))
    assert font["differences"] == {"65": "z"}
    assert spans_text(spans) == "z"  # code 65 remapped via /Differences


def test_hostile_structures_bounded():
    """Round-4 review DoS vectors: reference cycles, /W [0 0 0] xref
    streams, and giant CID /W ranges must raise ValueError, not hang."""
    # reference cycle reachable from /Root
    objs = minimal_objects(CONTENT)
    objs[1] = b"<< /Type /Catalog /Pages 6 0 R >>"
    objs[6] = b"7 0 R"
    objs[7] = b"6 0 R"
    with pytest.raises(ValueError, match="cycle"):
        parse_pdf_spans(build_classic_pdf(objs, root=1))

    # giant CID /W range
    from docling_parse_spark.pdf.file import _cid_w_to_map

    with pytest.raises(ValueError, match="65536"):
        _cid_w_to_map([0, 200_000_000, 500.0], lambda v: v)

    # xref stream with /W [0 0 0]
    import zlib as _z

    out = bytearray(b"%PDF-1.7\n")
    xref_pos = len(out)
    zr = _z.compress(b"")
    out += (f"7 0 obj\n<< /Type /XRef /Size 8 /W [0 0 0] /Index [0 100000000] "
            f"/Root 1 0 R /Length {len(zr)} /Filter /FlateDecode >>\nstream\n".encode()
            + zr + b"\nendstream\nendobj\n")
    out += f"startxref\n{xref_pos}\n%%EOF\n".encode()
    with pytest.raises(ValueError):
        parse_pdf_spans(bytes(out))


# ---------------------------------------------------------------- r5 parity
def _full_featured_objects(content=None):
    """Single page with /Info, /Outlines (array + named dests), /AcroForm
    /DR, an image XObject, a form XObject with its own font, and /Link +
    /Widget annots with an /AP appearance stream."""
    form_body = b"BT /F9 9 Tf 4 5 Td (text from form) Tj ET"
    ap_body = b"BT /FA 9 Tf 2 3 Td (appearance text) Tj ET"
    content = content or (b"BT /F1 12 Tf 72 700 Td (page body text) Tj ET "
                          b"q 100 0 0 50 200 300 cm /Im1 Do Q /Fm1 Do")
    title_utf16 = b"\xfe\xff" + "Smørrebrød Report".encode("utf-16-be")
    return {
        1: (b"<< /Type /Catalog /Pages 2 0 R /Outlines 8 0 R "
            b"/Names << /Dests 14 0 R >> "
            b"/AcroForm << /DR << /Font << /FD 13 0 R >> >> >> >>"),
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Annots [10 0 R 11 0 R] "
            b"/Resources << /Font << /F1 5 0 R >> "
            b"/XObject << /Im1 6 0 R /Fm1 7 0 R >> >> >>"),
        4: (f"<< /Length {len(content)} >>\nstream\n".encode()
            + content + b"\nendstream"),
        5: FONT_OBJ,
        6: (b"<< /Type /XObject /Subtype /Image /Width 8 /Height 8 "
            b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Length 64 >>\nstream\n"
            + bytes(64) + b"\nendstream"),
        7: (f"<< /Type /XObject /Subtype /Form /Matrix [1 0 0 1 20 10] "
            f"/Resources << /Font << /F9 5 0 R >> >> "
            f"/Length {len(form_body)} >>\nstream\n".encode()
            + form_body + b"\nendstream"),
        8: b"<< /Type /Outlines /First 9 0 R /Count 1 >>",
        9: (b"<< /Title (Chapter One) /Parent 8 0 R "
            b"/Dest [3 0 R /XYZ 0 792 0] /First 15 0 R >>"),
        10: (b"<< /Type /Annot /Subtype /Link /Rect [72 60 200 75] "
             b"/A << /S /URI /URI (https://example.com/x) >> >>"),
        11: (b"<< /Type /Annot /Subtype /Widget /Rect [72 40 220 55] "
             b"/T (field_a) /Parent << /T (parent) >> /AP << /N 12 0 R >> >>"),
        12: (f"<< /Type /XObject /Subtype /Form "
             f"/Resources << /Font << /FA 5 0 R >> >> "
             f"/Length {len(ap_body)} >>\nstream\n".encode()
             + ap_body + b"\nendstream"),
        13: FONT_OBJ,
        14: b"<< /Names [(sec2) [3 0 R /Fit]] >>",
        15: (b"<< /Title <" + title_utf16.hex().encode() + b"> /Parent 9 0 R "
             b"/A << /S /GoTo /D (sec2) >> >>"),
        16: (b"<< /Title (\xfe\xffshould not be reached) >>"),
        17: (b"<< /Producer (x) /Title (Annual Report) /Author (Ada L) "
             b"/CreationDate (D:20260115093000Z) >>"),
    }


def test_full_span_parity_from_real_file():
    """Raw-file ingest emits pdf_meta/pdf_outline/pdf_acroform_dr/pdf_form/
    media/pdf_annot spans and the kernel round-trips them all (reference
    page.h:1158-1753 annots, document.h:140-181 info/outline)."""
    pdf = build_classic_pdf(_full_featured_objects(), root=1,
                            trailer_extra="/Info 17 0 R ")
    spans = parse_pdf_spans(pdf, doc_id="docX")
    kinds = [s["kind"] for s in spans]
    for k in ("pdf_meta", "pdf_outline", "pdf_acroform_dr", "pdf_form",
              "media", "pdf_annot"):
        assert k in kinds, k
    meta = json.loads(next(s["text"] for s in spans if s["kind"] == "pdf_meta"))
    assert meta["title"] == "Annual Report" and meta["author"] == "Ada L"
    assert meta["created"] == "D:20260115093000Z"
    ol = json.loads(next(s["text"] for s in spans if s["kind"] == "pdf_outline"))
    assert ol[0]["title"] == "Chapter One" and ol[0]["page"] == 0
    # nested child: UTF-16BE title + named destination through /Names tree
    assert ol[0]["children"][0]["title"] == "Smørrebrød Report"
    assert ol[0]["children"][0]["page"] == 0
    annots = [json.loads(s["text"]) for s in spans if s["kind"] == "pdf_annot"]
    link = next(a for a in annots if a["subtype"] == "link")
    assert link["uri"] == "https://example.com/x" and link["page"] == 0
    widget = next(a for a in annots if a["subtype"] == "widget")
    assert widget["field"] == "parent.field_a"  # /Parent chain joined
    assert "appearance text" in widget["ap_ops"]
    assert widget["ap_fonts"]  # AP stream's own /Resources font
    assert [s["media_ref"] for s in spans if s["kind"] == "media"] == ["docX/p0/Im1"]
    form = json.loads(next(s["text"] for s in spans if s["kind"] == "pdf_form"))
    assert form["name"] == "Fm1" and form["matrix"] == [1, 0, 0, 1, 20, 10]

    out = decode_document("docX", spans)
    text = " ".join(s["text"] for s in out if s["kind"] == "text")
    assert "page body text" in text
    assert "text from form" in text          # form XObject decoded via Do
    by_kind = {}
    for s in out:
        by_kind.setdefault(s["kind"], []).append(s)
    assert by_kind["media"][0]["media_ref"] == "docX/p0/Im1"  # Do placement
    assert by_kind["hyperlink"][0]["media_ref"] == "https://example.com/x"
    assert by_kind["widget"][0]["text"] == "parent.field_a"
    wt = " ".join(s["text"] for s in by_kind["widget_text"])
    assert "appearance text" in wt           # AP sub-decode with own font


def test_binary_form_and_ap_ride_declared_transport():
    """Form XObject and AP stream bodies that aren't valid UTF-8 ship as
    declared ASCII85 transport (Arrow-safe) and still decode."""
    objs = _full_featured_objects()
    form_body = b"\xfe\x00\xadBT /F9 9 Tf 4 5 Td (binary form) Tj ET"
    ap_body = b"\xff\x01BT /FA 9 Tf 2 3 Td (binary ap) Tj ET"
    objs[7] = (f"<< /Type /XObject /Subtype /Form "
               f"/Resources << /Font << /F9 5 0 R >> >> "
               f"/Length {len(form_body)} >>\nstream\n".encode()
               + form_body + b"\nendstream")
    objs[12] = (f"<< /Type /XObject /Subtype /Form "
                f"/Resources << /Font << /FA 5 0 R >> >> "
                f"/Length {len(ap_body)} >>\nstream\n".encode()
                + ap_body + b"\nendstream")
    spans = parse_pdf_spans(build_classic_pdf(objs, root=1), doc_id="d")
    form = json.loads(next(s["text"] for s in spans if s["kind"] == "pdf_form"))
    assert form.get("filters") == ["ASCII85Decode"]
    widget = next(json.loads(s["text"]) for s in spans
                  if s["kind"] == "pdf_annot"
                  and json.loads(s["text"])["subtype"] == "widget")
    assert widget.get("ap_filters") == ["ASCII85Decode"]
    out = decode_document("d", spans)
    text = " ".join(s["text"] or "" for s in out)
    assert "binary form" in text and "binary ap" in text


def test_conflicting_form_names_are_page_scoped():
    """Two pages reusing /Fm1 for DIFFERENT forms each decode their own
    (page-scoped descriptor forms, like conflicting font keys)."""
    fa = b"BT /F1 9 Tf 0 0 Td (alpha form) Tj ET"
    fb = b"BT /F1 9 Tf 0 0 Td (beta form) Tj ET"
    c1 = b"/Fm1 Do"
    c2 = b"/Fm1 Do"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: (b"<< /Type /Pages /Kids [3 0 R 30 0 R] /Count 2 "
            b"/MediaBox [0 0 612 792] >>"),
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources "
            b"<< /Font << /F1 5 0 R >> /XObject << /Fm1 6 0 R >> >> >>"),
        4: f"<< /Length {len(c1)} >>\nstream\n".encode() + c1 + b"\nendstream",
        5: FONT_OBJ,
        6: (f"<< /Type /XObject /Subtype /Form /Length {len(fa)} >>\nstream\n".encode()
            + fa + b"\nendstream"),
        30: (b"<< /Type /Page /Parent 2 0 R /Contents 31 0 R /Resources "
             b"<< /Font << /F1 5 0 R >> /XObject << /Fm1 32 0 R >> >> >>"),
        31: f"<< /Length {len(c2)} >>\nstream\n".encode() + c2 + b"\nendstream",
        32: (f"<< /Type /XObject /Subtype /Form /Length {len(fb)} >>\nstream\n".encode()
             + fb + b"\nendstream"),
    }
    spans = parse_pdf_spans(build_classic_pdf(objs, root=1))
    assert not any(s["kind"] == "pdf_form" for s in spans)  # all page-scoped
    descs = [json.loads(s["text"]) for s in spans if s["kind"] == "pdf_page"]
    assert all(d.get("forms") for d in descs)
    out = decode_document("d", spans)
    text = " ".join(s["text"] for s in out if s["kind"] == "text")
    assert "alpha form" in text and "beta form" in text


def test_hybrid_xrefstm_takes_precedence():
    """Hybrid-reference file (§7.5.8.4): the /XRefStm entry wins over a
    conflicting classic-table entry in the same section (ADVICE r4)."""
    good = b"BT /F1 12 Tf 72 700 Td (from xrefstm) Tj ET"
    bad = b"BT /F1 12 Tf 72 700 Td (stale classic) Tj ET"
    out = bytearray(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    bodies = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R >> >> >>"),
        5: FONT_OBJ,
    }
    for num, body in sorted(bodies.items()):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    # two versions of object 4 — classic table points at the STALE one
    stale4 = len(out)
    out += (f"4 0 obj\n<< /Length {len(bad)} >>\nstream\n".encode()
            + bad + b"\nendstream\nendobj\n")
    good4 = len(out)
    out += (f"4 0 obj\n<< /Length {len(good)} >>\nstream\n".encode()
            + good + b"\nendstream\nendobj\n")
    # XRef stream (object 6) maps 4 -> good4 (and itself)
    import zlib as _z
    xstm_pos = len(out)
    rows = bytearray()
    for t, a, b in ((1, good4, 0), (1, xstm_pos, 0)):
        rows.append(t)
        rows.extend(int(a).to_bytes(4, "big") + int(b).to_bytes(2, "big"))
    zr = _z.compress(bytes(rows))
    out += (f"6 0 obj\n<< /Type /XRef /Size 7 /W [1 4 2] /Index [4 1 6 1] "
            f"/Root 1 0 R /Length {len(zr)} /Filter /FlateDecode >>\nstream\n".encode()
            + zr + b"\nendstream\nendobj\n")
    # classic section: all objects, with 4 -> stale4, plus /XRefStm
    xref_pos = len(out)
    out += b"xref\n0 7\n0000000000 65535 f \n"
    for num in range(1, 7):
        off = {4: stale4, 6: xstm_pos}.get(num, offsets.get(num, 0))
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size 7 /Root 1 0 R /XRefStm {xstm_pos} >>\n"
            f"startxref\n{xref_pos}\n%%EOF\n").encode()
    text = spans_text(parse_pdf_spans(bytes(out)))
    assert "from xrefstm" in text and "stale classic" not in text


def test_corrupt_hex_string_raises():
    objs = minimal_objects(CONTENT)
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R /Junk <48QQ65> >>"
    with pytest.raises(ValueError):
        parse_pdf_spans(build_classic_pdf(objs, root=1))


def test_type3_fontmatrix_scales_advances():
    """Type-3 widths are in glyph space defined by /FontMatrix (§9.6.5):
    advance = w × FontMatrix[0] × font_size, NOT w/1000 (reference
    page_font.h:313-366 applies the same factor)."""
    from docling_parse_spark.pdf.page import build_fonts, decode_page

    t3 = json.dumps({
        "font_key": "T3", "base_font": "MyT3", "subtype": "Type3",
        "font_matrix": [0.01, 0, 0, 0.01, 0, 0],
        "first_char": 65, "widths": [50.0, 40.0],
        "differences": {"65": "A", "66": "B"},
        "encoding": "StandardEncoding",
    })
    fonts = build_fonts([t3])
    pr = decode_page(b"BT /T3 10 Tf 100 100 Td (AB) Tj ET", fonts)
    (cell,) = pr.cells  # adjacent glyphs merge into one snippet cell
    assert cell.text == "AB"
    # A: 50 glyph units x 0.01 x 10pt = 5.0; B: 40 x 0.01 x 10 = 4.0
    assert cell.x1 - cell.x0 == pytest.approx(9.0)

    # same font WITHOUT the matrix: standard 1/1000 em scaling unchanged
    plain = json.dumps({
        "font_key": "T3", "base_font": "MyT3", "subtype": "Type3",
        "first_char": 65, "widths": [50.0, 40.0],
        "differences": {"65": "A", "66": "B"},
        "encoding": "StandardEncoding",
    })
    pr2 = decode_page(b"BT /T3 10 Tf 100 100 Td (AB) Tj ET", build_fonts([plain]))
    assert pr2.cells[0].x1 - pr2.cells[0].x0 == pytest.approx(0.9)


def test_type3_fontmatrix_from_real_file():
    """/FontMatrix reaches the descriptor through the raw-file layer."""
    charproc = b"50 0 d0"
    objs = minimal_objects(b"BT /F1 10 Tf 0 0 Td (A) Tj ET")
    objs[5] = (b"<< /Type /Font /Subtype /Type3 "
               b"/FontMatrix [0.01 0 0 0.01 0 0] /FirstChar 65 "
               b"/Widths [50] /CharProcs << /A 6 0 R >> "
               b"/Encoding << /Differences [65 /A] >> >>")
    objs[6] = (f"<< /Length {len(charproc)} >>\nstream\n".encode()
               + charproc + b"\nendstream")
    spans = parse_pdf_spans(build_classic_pdf(objs, root=1))
    font = json.loads(next(s["text"] for s in spans if s["kind"] == "pdf_font"))
    assert font["font_matrix"] == [0.01, 0, 0, 0.01, 0, 0]
    from docling_parse_spark.pdf.page import build_fonts, decode_page
    ops = next(s["text"] for s in spans if s["kind"] == "pdf_ops")
    pr = decode_page(ops.encode(), build_fonts([json.dumps(font)]))
    assert pr.cells[0].x1 - pr.cells[0].x0 == pytest.approx(5.0)


def test_multi_generation_update_chain():
    """TWO successive incremental updates, each with its own xref section
    chaining /Prev: the NEWEST definition of each object wins, older
    sections fill in only what newer ones lack (§7.5.6)."""
    base = build_classic_pdf(minimal_objects(CONTENT), root=1)
    orig_xref = int(base.split(b"startxref\n")[1].split(b"\n")[0])

    def append_update(buf: bytes, prev_xref: int, objs: dict[int, bytes],
                      extra_trailer: str = "") -> tuple[bytes, int]:
        out = bytearray(buf)
        offs = {}
        for num, body in sorted(objs.items()):
            offs[num] = len(out)
            out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
        xref = len(out)
        out += b"xref\n0 1\n0000000000 65535 f \n"
        for num in sorted(offs):
            out += f"{num} 1\n{offs[num]:010d} 00000 n \n".encode()
        out += (f"trailer\n<< /Size 9 /Root 1 0 R /Prev {prev_xref} "
                f"{extra_trailer}>>\nstartxref\n{xref}\n%%EOF\n").encode()
        return bytes(out), xref

    # update 1: replace the content stream
    mid_content = b"BT /F1 12 Tf 72 700 Td (generation one) Tj ET"
    upd1, xref1 = append_update(
        base, orig_xref,
        {4: (f"<< /Length {len(mid_content)} >>\nstream\n".encode()
             + mid_content + b"\nendstream")})
    assert "generation one" in spans_text(parse_pdf_spans(upd1))

    # update 2: replace it again AND add an /Info object
    new_content = b"BT /F1 12 Tf 72 700 Td (generation two) Tj ET"
    upd2, _ = append_update(
        upd1, xref1,
        {4: (f"<< /Length {len(new_content)} >>\nstream\n".encode()
             + new_content + b"\nendstream"),
         8: b"<< /Title (Added In Update) >>"},
        extra_trailer="/Info 8 0 R ")
    spans = parse_pdf_spans(upd2)
    text = spans_text(spans)
    assert "generation two" in text
    assert "generation one" not in text and "Hello" not in text
    meta = json.loads(next(s["text"] for s in spans if s["kind"] == "pdf_meta"))
    assert meta["title"] == "Added In Update"


def test_xmp_metadata_packet():
    """Catalog /Metadata XMP fills pdf_meta when /Info is absent; /Info
    wins on conflicts (reference reads both, document.h:140-181)."""
    xmp = (b'<?xpacket begin="" id="W5M0MpCehiHzreSzNTczkc9d"?>\n'
           b'<x:xmpmeta xmlns:x="adobe:ns:meta/"><rdf:RDF '
           b'xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">'
           b'<rdf:Description xmlns:dc="http://purl.org/dc/elements/1.1/" '
           b'xmlns:xmp="http://ns.adobe.com/xap/1.0/">'
           b'<dc:title><rdf:Alt><rdf:li xml:lang="x-default">XMP &amp; Title'
           b'</rdf:li></rdf:Alt></dc:title>'
           b'<dc:creator><rdf:Seq><rdf:li>Xenia M. Packet</rdf:li></rdf:Seq>'
           b'</dc:creator>'
           b'<xmp:CreateDate>2026-01-15T09:30:00Z</xmp:CreateDate>'
           b'</rdf:Description></rdf:RDF></x:xmpmeta>'
           b'<?xpacket end="w"?>')
    objs = minimal_objects(CONTENT)
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R /Metadata 6 0 R >>"
    objs[6] = (f"<< /Type /Metadata /Subtype /XML /Length {len(xmp)} "
               f">>\nstream\n".encode() + xmp + b"\nendstream")
    spans = parse_pdf_spans(build_classic_pdf(objs, root=1))
    meta = json.loads(next(s["text"] for s in spans if s["kind"] == "pdf_meta"))
    assert meta["title"] == "XMP & Title"
    assert meta["author"] == "Xenia M. Packet"
    assert meta["created"] == "2026-01-15T09:30:00Z"

    # /Info beats XMP on conflicting keys, XMP still fills the rest
    objs[7] = b"<< /Title (Docinfo Wins) >>"
    spans2 = parse_pdf_spans(
        build_classic_pdf(objs, root=1, trailer_extra="/Info 7 0 R "))
    meta2 = json.loads(next(s["text"] for s in spans2 if s["kind"] == "pdf_meta"))
    assert meta2["title"] == "Docinfo Wins"
    assert meta2["author"] == "Xenia M. Packet"


def test_parse_pdf_media_payloads(spark, tmp_path):
    """Embedded image XObjects surface as a payload table joinable with the
    media placeholder spans: transport filters applied, format filters
    (DCTDecode et al) passed through with the right content_type."""
    from docling_parse_spark.pdf.file import (
        ingest_pdf_files,
        ingest_pdf_media,
        parse_pdf_media,
    )

    raw_pixels = bytes(range(64))
    zpix = zlib.compress(raw_pixels)
    fake_jpeg = b"\xff\xd8\xff\xe0FAKEJPEGBYTES\xff\xd9"
    objs = minimal_objects(b"q 8 0 0 8 10 10 cm /ImA Do Q q /ImB Do Q")
    objs[3] = (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Resources << /Font << /F1 5 0 R >> "
               b"/XObject << /ImA 6 0 R /ImB 7 0 R >> >> >>")
    objs[6] = (f"<< /Type /XObject /Subtype /Image /Width 8 /Height 8 "
               f"/ColorSpace /DeviceGray /BitsPerComponent 8 "
               f"/Filter /FlateDecode /Length {len(zpix)} >>\nstream\n".encode()
               + zpix + b"\nendstream")
    objs[7] = (f"<< /Type /XObject /Subtype /Image /Width 4 /Height 4 "
               f"/ColorSpace /DeviceRGB /BitsPerComponent 8 "
               f"/Filter /DCTDecode /Length {len(fake_jpeg)} >>\nstream\n".encode()
               + fake_jpeg + b"\nendstream")
    pdf = build_classic_pdf(objs, root=1)
    media = {m["media_ref"]: m for m in parse_pdf_media(pdf, doc_id="d")}
    assert media["d/p0/ImA"]["content_type"] == "raw"
    assert media["d/p0/ImA"]["payload"] == raw_pixels  # Flate applied
    assert media["d/p0/ImA"]["colorspace"] == "DeviceGray"
    assert media["d/p0/ImB"]["content_type"] == "jpeg"
    assert media["d/p0/ImB"]["payload"] == fake_jpeg   # passed through
    # the refs match the placeholder media spans from parse_pdf_spans
    spans = parse_pdf_spans(pdf, doc_id="d")
    span_refs = {s["media_ref"] for s in spans if s["kind"] == "media"}
    assert span_refs == set(media)

    # Spark path: payload table joins the spans table on media_ref
    (tmp_path / "m.pdf").write_bytes(pdf)
    mdf = ingest_pdf_media(spark, str(tmp_path))
    rows = {r["media_ref"].rsplit("/p0/", 1)[-1]: r for r in mdf.collect()}
    assert rows["ImA"]["width"] == 8 and bytes(rows["ImB"]["payload"]) == fake_jpeg
    docs = ingest_pdf_files(spark, str(tmp_path))
    joined = (
        docs.selectExpr("explode(spans) AS s").where("s.kind = 'media'")
        .selectExpr("s.media_ref AS media_ref")
        .join(mdf, "media_ref")
    )
    assert joined.count() == 2


def test_pdf_jpx_payload_decodes_to_pixels(spark, tmp_path):
    """End-to-end /JPXDecode: a REAL J2K codestream embedded as an image
    XObject rides ingest_pdf_media with content_type jp2 and decodes to
    the original pixels through the multimodal dispatch (r6 j2k codec)."""
    import numpy as np

    from docling_parse_spark.j2k import encode_j2k
    from docling_parse_spark.operators.multimodal import _decode_payload
    from docling_parse_spark.pdf.file import ingest_pdf_media, parse_pdf_media

    rng = np.random.default_rng(71)
    img = rng.integers(0, 256, size=(12, 16), dtype=np.uint8)
    code = encode_j2k(img, levels=2)
    objs = minimal_objects(b"q 16 0 0 12 10 10 cm /ImJ Do Q")
    objs[3] = (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Resources << /Font << /F1 5 0 R >> "
               b"/XObject << /ImJ 6 0 R >> >> >>")
    objs[6] = (f"<< /Type /XObject /Subtype /Image /Width 16 /Height 12 "
               f"/ColorSpace /DeviceGray /BitsPerComponent 8 "
               f"/Filter /JPXDecode /Length {len(code)} >>\nstream\n".encode()
               + code + b"\nendstream")
    pdf = build_classic_pdf(objs, root=1)
    media = {m["media_ref"]: m for m in parse_pdf_media(pdf, doc_id="d")}
    assert media["d/p0/ImJ"]["content_type"] == "jp2"
    m = _decode_payload(media["d/p0/ImJ"]["payload"])
    assert np.array_equal(m["pixels"], img)
    (tmp_path / "j.pdf").write_bytes(pdf)
    row = ingest_pdf_media(spark, str(tmp_path)).collect()[0]
    assert np.array_equal(_decode_payload(bytes(row["payload"]))["pixels"],
                          img)


def test_parse_pdf_media_password(tmp_path):
    """r6 review: the media lane takes the same password the span lane
    does — a password-protected file must yield its payload table (the
    media_ref join would otherwise be empty exactly when passwords are in
    use)."""
    import pytest

    from docling_parse_spark.pdf.build import encrypt_classic_rc4
    from docling_parse_spark.pdf.file import parse_pdf_media

    raw_pixels = bytes(range(32))
    objs = minimal_objects(b"q 8 0 0 8 10 10 cm /ImA Do Q")
    objs[3] = (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Resources << /Font << /F1 5 0 R >> "
               b"/XObject << /ImA 6 0 R >> >> >>")
    body = dict(objs)
    content = body.pop(4)
    # re-express content + image as encrypted stream bodies
    content_body = content.split(b"stream\n", 1)[1].rsplit(b"\nendstream", 1)[0]
    enc = encrypt_classic_rc4(
        body, root=1,
        stream_bodies={4: content_body, 6: raw_pixels},
        stream_extra={6: b"/Type /XObject /Subtype /Image /Width 8 "
                         b"/Height 4 /ColorSpace /DeviceGray "
                         b"/BitsPerComponent 8"},
        user_password=b"sekrit")
    with pytest.raises(ValueError, match="password"):
        parse_pdf_media(enc, doc_id="d")
    media = {m["media_ref"]: m
             for m in parse_pdf_media(enc, doc_id="d", password="sekrit")}
    assert media["d/p0/ImA"]["payload"] == raw_pixels


def test_widget_inherited_field_type_and_value():
    """/FT and /V are inherited up the /Parent chain (reference
    to_inherited_string, page.h:1434-1447); the filled value surfaces as
    a widget_value span."""
    objs = minimal_objects(CONTENT)
    objs[3] = (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Annots [6 0 R 8 0 R] "
               b"/Resources << /Font << /F1 5 0 R >> >> >>")
    # 6: kid widget inheriting /FT + /V from parent 7
    objs[6] = b"<< /Subtype /Widget /Rect [0 0 10 10] /T (kid) /Parent 7 0 R >>"
    objs[7] = b"<< /T (form1) /FT /Tx /V (typed answer) >>"
    # 8: checkbox with a name-valued /V
    objs[8] = (b"<< /Subtype /Widget /Rect [0 20 10 30] /T (cb) "
               b"/FT /Btn /V /On >>")
    spans = parse_pdf_spans(build_classic_pdf(objs, root=1))
    annots = [json.loads(s["text"]) for s in spans if s["kind"] == "pdf_annot"]
    byf = {a["field"]: a for a in annots}
    assert byf["form1.kid"]["field_type"] == "Tx"
    assert byf["form1.kid"]["value"] == "typed answer"
    assert byf["cb"]["field_type"] == "Btn" and byf["cb"]["value"] == "On"
    out = decode_document("d", spans)
    vals = [s["text"] for s in out if s["kind"] == "widget_value"]
    assert sorted(vals) == ["On", "typed answer"]


def test_stream_ingest_pdf_files(spark, tmp_path):
    """Streaming twin of ingest_pdf_files: a drop-directory of raw PDFs is
    ingested exactly once across two availableNow passes (file-source
    checkpoint), sharing the batch kernel."""
    from docling_parse_spark.streaming.pipeline import stream_ingest_pdf_files

    drop = tmp_path / "drop"
    drop.mkdir()
    out = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "ckpt")
    (drop / "a.pdf").write_bytes(build_classic_pdf(minimal_objects(CONTENT), root=1))
    (drop / "broken.pdf").write_bytes(b"%PDF-1.7 nope")

    q = stream_ingest_pdf_files(spark, str(drop), out, ckpt)
    q.awaitTermination(120)
    rows = {r["doc_id"].rsplit("/", 1)[-1]: r for r in spark.read.parquet(out).collect()}
    assert len(rows["a.pdf"]["spans"]) == 3 and rows["a.pdf"]["error"] is None
    assert rows["broken.pdf"]["error"] and rows["broken.pdf"]["spans"] == []

    # second pass: one NEW file; the two already-processed files are not
    # re-ingested (checkpointed file source), and each micro-batch lands
    # under idempotent deterministic file names (replay converges, no
    # dupes, no extra partition column in the read schema)
    (drop / "b.pdf").write_bytes(
        build_classic_pdf(minimal_objects(CONTENT, filtered=True), root=1))
    q2 = stream_ingest_pdf_files(spark, str(drop), out, ckpt)
    q2.awaitTermination(120)
    docs = spark.read.parquet(out).collect()
    assert len(docs) == 3  # exactly once: a, broken, b
    names = sorted(r["doc_id"].rsplit("/", 1)[-1] for r in docs)
    assert names == ["a.pdf", "b.pdf", "broken.pdf"]

    # extract=True keeps the per-file failure accounting in a sibling
    # errors table instead of silently dropping failed files (r5 review)
    out2, ckpt2 = str(tmp_path / "spans_out"), str(tmp_path / "ckpt2")
    q3 = stream_ingest_pdf_files(spark, str(drop), out2, ckpt2, extract=True)
    q3.awaitTermination(120)
    spans_docs = {r["doc_id"].rsplit("/", 1)[-1]
                  for r in spark.read.parquet(out2).collect()}
    assert "a.pdf" in spans_docs and "b.pdf" in spans_docs
    errs = spark.read.parquet(out2 + "_errors").collect()
    assert len(errs) == 1 and errs[0]["doc_id"].endswith("broken.pdf")
    assert errs[0]["error"]


def test_multiselect_choice_value_does_not_inherit_past_nearest_v():
    """r5 review: the NEAREST /V terminates the inherited-value search
    even when it is an array (multi-select /Ch) — an ancestor's default
    must not leak through; array values join."""
    objs = minimal_objects(CONTENT)
    objs[3] = (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Annots [6 0 R] "
               b"/Resources << /Font << /F1 5 0 R >> >> >>")
    objs[6] = (b"<< /Subtype /Widget /Rect [0 0 10 10] /T (multi) "
               b"/FT /Ch /V [(alpha) (beta)] /Parent 7 0 R >>")
    objs[7] = b"<< /T (grp) /V (ancestor default) >>"
    spans = parse_pdf_spans(build_classic_pdf(objs, root=1))
    a = next(json.loads(s["text"]) for s in spans if s["kind"] == "pdf_annot")
    assert a["value"] == "alpha; beta"
    assert "ancestor" not in (a.get("value") or "")


def test_oversized_file_is_error_accounted(spark, tmp_path):
    """A GB-scale outlier must not hold a whole Arrow batch hostage:
    above max_file_bytes the file is error-accounted, not parsed."""
    from docling_parse_spark.pdf.file import ingest_pdf_files, pdf_files_to_docs

    (tmp_path / "ok.pdf").write_bytes(build_classic_pdf(minimal_objects(CONTENT), root=1))
    (tmp_path / "big.pdf").write_bytes(b"%PDF-1.7\n" + b"\x00" * 4096)
    files = spark.read.format("binaryFile").load(str(tmp_path))
    rows = {r["doc_id"].rsplit("/", 1)[-1]: r
            for r in pdf_files_to_docs(files, max_file_bytes=2048).collect()}
    assert rows["ok.pdf"]["error"] is None and rows["ok.pdf"]["spans"]
    assert "FileTooLarge" in rows["big.pdf"]["error"]
    assert rows["big.pdf"]["spans"] == []


def _image_pdf(dct_width: int = 4) -> bytes:
    """One page placing a Flate image and a DCT (pass-through) image."""
    zpix = zlib.compress(bytes(range(64)))
    fake_jpeg = b"\xff\xd8\xff\xe0FAKEJPEGBYTES\xff\xd9"
    objs = minimal_objects(CONTENT + b" q 8 0 0 8 10 10 cm /ImA Do Q q /ImB Do Q")
    objs[3] = (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Resources << /Font << /F1 5 0 R >> "
               b"/XObject << /ImA 6 0 R /ImB 7 0 R >> >> >>")
    objs[6] = (f"<< /Type /XObject /Subtype /Image /Width 8 /Height 8 "
               f"/ColorSpace /DeviceGray /BitsPerComponent 8 "
               f"/Filter /FlateDecode /Length {len(zpix)} >>\nstream\n".encode()
               + zpix + b"\nendstream")
    objs[7] = (f"<< /Type /XObject /Subtype /Image /Width {dct_width} /Height 4 "
               f"/ColorSpace /DeviceRGB /BitsPerComponent 8 "
               f"/Filter /DCTDecode /Length {len(fake_jpeg)} >>\nstream\n".encode()
               + fake_jpeg + b"\nendstream")
    return build_classic_pdf(objs, root=1)


def test_media_lane_oversized_file_is_error_accounted(spark, tmp_path):
    """The media lane shares the spans lane's per-file loop, size gate
    included: a file over the limit gives one FileTooLarge error row and
    no payload rows, while a file under it still yields its images."""
    from docling_parse_spark.pdf.file import _MEDIA_LANE, _per_file

    ok = _image_pdf()
    assert len(ok) < 2048
    (tmp_path / "ok.pdf").write_bytes(ok)
    (tmp_path / "big.pdf").write_bytes(b"%PDF-1.7\n" + b"\x00" * 4096)
    files = spark.read.format("binaryFile").load(str(tmp_path))
    rows = _per_file(files, _MEDIA_LANE, max_file_bytes=2048).collect()
    big = [r for r in rows if r["doc_id"].endswith("big.pdf")]
    assert len(big) == 1
    assert big[0]["error"] == "FileTooLarge: 4105 bytes > max_file_bytes=2048"
    assert big[0]["media_ref"] is None and big[0]["payload"] is None
    ok_rows = [r for r in rows if r["doc_id"].endswith("ok.pdf")]
    assert len(ok_rows) == 2 and all(r["error"] is None for r in ok_rows)


def test_hostile_files_one_error_row_per_lane(spark, tmp_path):
    """Non-PDF bytes, a truncated PDF and an image whose /Width overflows
    the media schema's int next to a valid file: no task dies, each bad
    file gives exactly one error row in each lane it is bad for, the valid
    file's rows equal the sequential parsers', and a second run gives
    identical rows. The loop also error-accounts empty content, checked on
    an in-memory frame (a 0-byte file on disk never reaches the scan; see
    ``test_zero_byte_file_gives_one_error_row_per_lane``)."""
    from docling_parse_spark.pdf.file import (
        _MEDIA_LANE,
        _per_file,
        ingest_pdf_files,
        ingest_pdf_media,
        parse_pdf_media,
        pdf_files_to_docs,
    )

    good = _image_pdf()
    (tmp_path / "good.pdf").write_bytes(good)
    (tmp_path / "notpdf.pdf").write_bytes(b"GIF89a\x01\x00\x01\x00\x00\xff" * 9)
    (tmp_path / "truncated.pdf").write_bytes(good[: len(good) // 2])
    (tmp_path / "wide.pdf").write_bytes(_image_pdf(dct_width=1 << 32))
    bad = {"notpdf.pdf", "truncated.pdf"}

    def run():
        spans = sorted((r["doc_id"], [s.asDict() for s in r["spans"]], r["error"])
                       for r in ingest_pdf_files(spark, str(tmp_path)).collect())
        media = sorted((r.asDict() for r in ingest_pdf_media(spark, str(tmp_path)).collect()),
                       key=lambda m: (m["doc_id"], m["media_ref"] or ""))
        return spans, media

    spans, media = run()
    good_id = str(tmp_path / "good.pdf")
    name = lambda doc_id: doc_id.rsplit("/", 1)[-1]  # noqa: E731
    assert sorted(name(d) for d, _, err in spans if err) == sorted(bad)
    assert sorted(name(m["doc_id"]) for m in media if m["error"]) == sorted(bad | {"wide.pdf"})
    assert all(s == [] for _, s, err in spans if err)
    assert all(m["media_ref"] is None and m["payload"] is None for m in media if m["error"])
    assert [m["error"] for m in media if name(m["doc_id"]) == "wide.pdf"] == [
        "ArrowInvalid: Value 4294967296 too large to fit in C integer type"]
    assert [(s, err) for d, s, err in spans if d == good_id] == [
        (parse_pdf_spans(good, good_id), None)]
    assert [m for m in media if m["doc_id"] == good_id] == [
        {"doc_id": good_id, **m, "error": None}
        for m in sorted(parse_pdf_media(good, good_id), key=lambda m: m["media_ref"])]
    assert run() == (spans, media)

    empty = spark.createDataFrame([("file:/x/empty.pdf", b"")], "path string, content binary")
    for lane in (pdf_files_to_docs(empty), _per_file(empty, _MEDIA_LANE)):
        rows = lane.collect()
        assert len(rows) == 1 and rows[0]["doc_id"] == "/x/empty.pdf"
        assert rows[0]["error"] == "ValueError: not a PDF (missing %PDF- header)"


@pytest.mark.xfail(strict=True, reason="Spark's file index drops zero-length files before "
                   "any task runs, so neither lane sees them (FOUND in CHANGES.md)")
def test_zero_byte_file_gives_one_error_row_per_lane(spark, tmp_path):
    """A 0-byte .pdf should give one error row in each file lane."""
    from docling_parse_spark.pdf.file import ingest_pdf_files, ingest_pdf_media

    (tmp_path / "good.pdf").write_bytes(_image_pdf())
    (tmp_path / "empty.pdf").write_bytes(b"")
    for lane in (ingest_pdf_files, ingest_pdf_media):
        rows = [r for r in lane(spark, str(tmp_path)).collect()
                if r["doc_id"].endswith("/empty.pdf")]
        assert [r["error"] for r in rows] == ["ValueError: not a PDF (missing %PDF- header)"]


@pytest.mark.parametrize("lane", ["ingest_pdf_files", "ingest_pdf_media",
                                  "pdf_files_to_docs"])
def test_file_lane_plans_are_arrow_only(spark, tmp_path, lane):
    """Both file lanes run their per-file loop as a mapInArrow."""
    from docling_parse_spark.pdf import file

    (tmp_path / "a.pdf").write_bytes(_image_pdf())
    df = {
        "ingest_pdf_files": lambda: file.ingest_pdf_files(spark, str(tmp_path), 2),
        "ingest_pdf_media": lambda: file.ingest_pdf_media(spark, str(tmp_path), 2),
        "pdf_files_to_docs": lambda: file.pdf_files_to_docs(
            spark.read.format("binaryFile").load(str(tmp_path))),
    }[lane]()
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "MapInArrow" in plan


def test_freed_object_is_not_resurrected():
    """An incremental update that FREES an object must shadow the older
    section's 'n' entry — references read as null (§7.5.4), they do not
    resurrect the deleted object (r5 review)."""
    objs = minimal_objects(CONTENT)
    objs[8] = b"<< /Title (Doomed Title) >>"
    base = build_classic_pdf(objs, root=1, trailer_extra="/Info 8 0 R ")
    spans0 = parse_pdf_spans(base)
    assert any(s["kind"] == "pdf_meta" for s in spans0)  # alive pre-update

    orig_xref = int(base.split(b"startxref\n")[1].split(b"\n")[0])
    upd = bytearray(base)
    xref2 = len(upd)
    upd += (b"xref\n0 1\n0000000000 65535 f \n"
            b"8 1\n0000000000 00001 f \n"  # free object 8
            + f"trailer\n<< /Size 9 /Root 1 0 R /Prev {orig_xref} "
              f"/Info 8 0 R >>\nstartxref\n{xref2}\n%%EOF\n".encode())
    spans = parse_pdf_spans(bytes(upd))
    assert not any(s["kind"] == "pdf_meta" for s in spans)  # freed = null
    assert "Hello from a real PDF file" in spans_text(spans)


def test_generation_mismatch_tolerated_like_qpdf():
    """References with a non-zero generation resolve to the stored object
    when the object NUMBER matches (qpdf's tolerance for writers that get
    generations wrong); the number check still rejects wrong objects."""
    objs = minimal_objects(CONTENT)
    # point /Contents at "4 1 R" while the file stores 4 0 obj
    objs[3] = (b"<< /Type /Page /Parent 2 0 R /Contents 4 1 R "
               b"/Resources << /Font << /F1 5 0 R >> >> >>")
    spans = parse_pdf_spans(build_classic_pdf(objs, root=1))
    assert "Hello from a real PDF file" in spans_text(spans)


def test_pdfdoc_encoding_euro_and_undefined_codes():
    """PDFDocEncoding (ISO 32000-1 Annex D.2): 0xA0 is the Euro sign (NOT
    Latin-1 NBSP); 0x7F and 0x9F are undefined and must not ride through
    as control characters."""
    from docling_parse_spark.pdf.file import _PDFDOC_DELTA

    assert "\xa0".translate(_PDFDOC_DELTA) == "€"
    assert "\x7f".translate(_PDFDOC_DELTA) == "�"
    assert "\x9f".translate(_PDFDOC_DELTA) == "�"
    # typographic set + accents unchanged from the existing table
    assert "\x80".translate(_PDFDOC_DELTA) == "•"
    assert "\x18".translate(_PDFDOC_DELTA) == "˘"
    # everything else stays Latin-1
    assert "caf\xe9".translate(_PDFDOC_DELTA) == "café"


# ------------------------------------------------ writer/parser property

from hypothesis import given, settings, strategies as st


def _escape_pdf_string(s: str) -> bytes:
    return (s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
            .encode("latin-1"))


_TEXT = st.text(
    alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
    min_size=1, max_size=40,
)
_PAGE = st.lists(  # a page: 1-4 text lines (text, font size)
    st.tuples(_TEXT, st.integers(min_value=6, max_value=36)),
    min_size=1, max_size=4,
)
_DOC = st.lists(_PAGE, min_size=1, max_size=3)


def _build_random_doc(pages, layout, password):
    """pages -> (pdf bytes, expected per-page text list). Lines are laid
    out top-to-bottom so the reading order equals generation order."""
    from docling_parse_spark.pdf.build import (
        build_classic_pdf as b_classic,
        build_modern_pdf as b_modern,
        encrypt_classic_rc4,
    )

    font = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/Encoding /WinAnsiEncoding >>")
    objs = {1: b"<< /Type /Catalog /Pages 2 0 R >>", 5: font}
    kids = []
    contents = {}
    next_num = 10
    for lines in pages:
        content = bytearray(b"BT /F1 12 Tf 72 760 Td 16 TL\n")
        for text, size in lines:
            content += (f"/F1 {size} Tf T* (".encode()
                        + _escape_pdf_string(text) + b") Tj\n")
        content += b"ET"
        page_num, cont_num = next_num, next_num + 1
        next_num += 2
        kids.append(f"{page_num} 0 R")
        objs[page_num] = (
            f"<< /Type /Page /Parent 2 0 R /Contents {cont_num} 0 R "
            f"/Resources << /Font << /F1 5 0 R >> >> >>".encode())
        contents[cont_num] = bytes(content)
    objs[2] = (f"<< /Type /Pages /Kids [{' '.join(kids)}] /Count {len(kids)} "
               f"/MediaBox [0 0 612 792] >>".encode())
    if layout == "rc4":
        pdf = encrypt_classic_rc4(objs, root=1, stream_bodies=contents,
                                  user_password=password)
    else:
        for num, c in contents.items():
            objs[num] = (f"<< /Length {len(c)} >>\nstream\n".encode()
                         + c + b"\nendstream")
        if layout == "modern":
            pdf = b_modern(objs, root=1, stream_objs=set(contents))
        else:
            pdf = b_classic(objs, root=1)
    return pdf


@settings(max_examples=200, deadline=None)
@given(pages=_DOC, layout=st.sampled_from(["classic", "modern", "rc4"]),
       password=st.sampled_from([b"", b"pp"]))
def test_writer_parser_roundtrip_property(pages, layout, password):
    """Random synthetic doc -> pdf/build.py (classic / XRef-stream+ObjStm /
    RC4-encrypted, with and without a user password) -> parse_pdf_spans ->
    decoded text equals the generating intent (whitespace-insensitive:
    the merge kernel owns spacing). VERDICT r5 #6."""
    if layout != "rc4":
        password = b""
    pdf = _build_random_doc(pages, layout, password)
    if password:
        with pytest.raises(ValueError, match="password"):
            parse_pdf_spans(pdf)
    spans = parse_pdf_spans(pdf, doc_id="prop",
                            password=password.decode() or None)
    out = decode_document("prop", spans)
    got = "".join(s["text"] for s in out if s["kind"] == "text")
    want = "".join(t for page in pages for (t, _) in page)
    strip = lambda x: "".join(c for c in x if not c.isspace())  # noqa: E731
    assert strip(got) == strip(want)
    # page count survives the round trip (PDF page number = count of
    # pdf_ops spans, document.doc_to_units)
    assert sum(1 for s in spans if s["kind"] == "pdf_ops") == len(pages)


def test_resource_scope_split_and_body_transport_pinned():
    """The exact span list of a two-page file with one font key and one
    form name shared by every page (doc-level spans, first-seen order,
    deduplicated), one font key and one form name bound to different
    objects per page (page-scoped descriptor entries), and non-UTF-8 page
    content, form body and AP stream (declared ASCII85 transport)."""
    import base64

    def stream(body, extra=b""):
        return (b"<< " + extra + f" /Length {len(body)} >>\nstream\n".encode()
                + body + b"\nendstream")

    def a85(b):
        return (base64.a85encode(b) + b"~>").decode("ascii")

    def blob(**d):
        return json.dumps(d, sort_keys=True)

    form = b"/Type /XObject /Subtype /Form"
    c1 = b"BT /F1 9 Tf 10 700 Td (caf\xe9) Tj /F2 9 Tf (one) Tj ET /Fm1 Do /Fm2 Do"
    c2 = b"BT /F3 9 Tf 10 700 Td (two) Tj /F2 9 Tf (two) Tj ET /Fm1 Do /Fm2 Do"
    shared_form = b"BT /F1 9 Tf 0 0 Td (shared \xfe) Tj ET"
    fm2_a = b"BT /F1 9 Tf 0 0 Td (first fm2) Tj ET"
    fm2_b = b"BT /F1 9 Tf 0 0 Td (second fm2) Tj ET"
    ap = b"BT /F1 9 Tf 2 3 Td (ap \xff) Tj ET"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R 20 0 R] /Count 2 /MediaBox [0 0 612 792] >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Annots [14 0 R] /Resources "
            b"<< /Font << /F1 5 0 R /F2 6 0 R /F3 8 0 R >> "
            b"/XObject << /Fm1 10 0 R /Fm2 11 0 R >> >> >>"),
        4: stream(c1),
        5: FONT_OBJ,
        6: b"<< /Type /Font /Subtype /Type1 /BaseFont /Times-Roman >>",
        7: b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>",
        8: b"<< /Type /Font /Subtype /Type1 /BaseFont /Symbol >>",
        10: stream(shared_form, form),
        11: stream(fm2_a, form),
        14: (b"<< /Type /Annot /Subtype /Widget /Rect [0 0 10 10] /T (f1) "
             b"/AP << /N 15 0 R >> >>"),
        15: stream(ap, form + b" /Resources << /Font << /F1 5 0 R >> >>"),
        20: (b"<< /Type /Page /Parent 2 0 R /Contents 21 0 R /Resources "
             b"<< /Font << /F3 8 0 R /F1 5 0 R /F2 7 0 R >> "
             b"/XObject << /Fm2 22 0 R /Fm1 10 0 R >> >> >>"),
        21: stream(c2),
        22: stream(fm2_b, form),
    }
    helv = blob(base_font="Helvetica", encoding="WinAnsiEncoding", font_key="F1",
                subtype="Type1")
    box = [0.0, 0.0, 612.0, 792.0]
    want = [
        ("pdf_font", helv),
        ("pdf_font", blob(base_font="Symbol", font_key="F3", subtype="Type1")),
        ("pdf_form", blob(filters=["ASCII85Decode"], name="Fm1", ops=a85(shared_form))),
        ("pdf_page", blob(
            content_filters=["ASCII85Decode"],
            fonts=[blob(base_font="Times-Roman", font_key="F2", subtype="Type1")],
            forms=[blob(name="Fm2", ops=fm2_a.decode())],
            media_box=box, page=0, rotate=0)),
        ("pdf_page", blob(
            fonts=[blob(base_font="Courier", font_key="F2", subtype="Type1")],
            forms=[blob(name="Fm2", ops=fm2_b.decode())],
            media_box=box, page=1, rotate=0)),
        ("pdf_ops", a85(c1)),
        ("pdf_ops", c2.decode()),
        ("pdf_annot", blob(ap_filters=["ASCII85Decode"], ap_fonts=[helv], ap_ops=a85(ap),
                           field="f1", page=0, rect=[0.0, 0.0, 10.0, 10.0],
                           subtype="widget")),
    ]
    spans = parse_pdf_spans(build_classic_pdf(objs, root=1), doc_id="d")
    assert [(s["kind"], s["text"]) for s in spans] == want
    assert [s["offset"] for s in spans] == list(range(len(want)))
    assert all(s["media_ref"] is None for s in spans)
