"""Document-level decode: interleaved input spans -> ordered output spans.

One document's input spans (north-rule shape, FIXTURES.md §1) are routed by
``kind``:

* ``pdf_ops``  — one raw page content stream per span; ``offset`` = page no.
* ``pdf_font`` — JSON font descriptor (doc-level resource, like the
  reference's parent-chained resource maps, page_fonts.h:14-43).
* ``pdf_page`` — optional JSON page descriptor ``{page, media_box,
  crop_box?, rotate}`` plus the page-scoped resources and content transport
  below.
* ``pdf_form`` — JSON form XObject ``{name, ops, matrix?, filters?}``
  (doc-level, like fonts; stream.h:374-503).
* ``pdf_acroform_dr`` — JSON array of the AcroForm /DR font descriptors.
* ``media``    — image placeholder; ``media_ref`` = ``{doc_id}/p{page}/{name}``
  so the interpreter can resolve ``/Name Do`` placements without payload
  bytes (mirrors BitmapResource placeholders, pdf_parser.py:577-594).
* ``pdf_annot`` — JSON annotation descriptor ``{page, subtype: link|widget,
  rect, uri?, field?, ap_ops?}`` — the /Annots analog (reference decodes
  /Link + /A /URI hyperlinks and /Tx /Btn /Ch /Sig widgets incl. the AP
  appearance-stream sub-decode, page.h:1158-1753). Annotations are decoded
  AFTER the page's content (the reference's stage order) and emit
  ``hyperlink`` / ``widget`` spans; an AP stream is sub-decoded with the
  doc's fonts and its text appended to the widget span.
* ``html``     — raw HTML document for the boilerplate-strip branch.

Resource contract. ``pdf/file.py`` is the one writer of the resource spans
(for raw-PDF ingest) and ``build_doc_resources`` their one reader: it
JSON-decodes each ``pdf_page``, ``pdf_form``, ``pdf_annot`` and
``pdf_acroform_dr`` span once, and the units carry the decoded values (of
a descriptor, ``page_desc`` keeps only its geometry keys). It drops a span
nested deeper than ``_MAX_NESTING`` containers, so a unit's resources dump
and load back, and a shipped unit decodes like the in-process one, at any
stack depth.

* Page scope. ``pdf_font`` and ``pdf_form`` spans are doc-level and serve
  every page. A key bound to different objects on different pages ships
  instead in each page's ``pdf_page`` descriptor (``fonts``: font blobs,
  ``forms``: form blobs); there it wins over a doc-level entry of the same
  key for that page's unit only.
* Body transport. A body that is not valid UTF-8 rides the text column as
  ASCII85 with its filters declared: ``content_filters``/``content_parms``
  on the ``pdf_page`` descriptor for the page's ``pdf_ops`` payload,
  ``filters`` on a ``pdf_form`` (form ``parms`` are not read), and
  ``ap_filters``/``ap_parms`` on a ``pdf_annot`` for its ``ap_ops``.
  ``_body_bytes`` undoes it for all three.

This module is deliberately Spark-free: ``decode_unit`` processes ONE work
unit (one PDF page or one HTML payload) and is called from both the
sequential oracle (``decode_document``) and the distributed pipeline
(``extract.py`` runs it inside ``mapInArrow`` after skew routing).
Equality of the two paths is the core pytest invariant — the analog of the
reference's threaded == sequential test (tests/test_threaded_parse.py:278).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from time import perf_counter as _clock

from docling_parse_spark.web.boilerplate import extract_html_spans
from docling_parse_spark.pdf.filters import apply_filters
from docling_parse_spark.pdf.fonts import _MAX_NESTING, Font, _loads  # noqa: F401 (re-export: the bound the reader applies)
from docling_parse_spark.pdf.page import (
    DecodeConfig,
    build_fonts,
    decode_page,
    page_geometry,
)

_MEDIA_REF_RE = re.compile(r"/p(\d+)/([^/]+)$")


@dataclass
class UnitResult:
    spans: list  # [(seq, kind, text, media_ref)]
    cells_emitted: int = 0
    failed: bool = False
    error: str = ""
    # per-stage wall ms (reference pdf_timings parity: decode_resources ≙
    # fonts, decode_contents ≙ tokenize+interpret, decode_annots ≙ annots,
    # create_*_cells ≙ words); html units carry a single 'html' bucket
    timings: dict = None
    cells: list = field(default_factory=list)  # the page's output cells; [] on failure


def parse_media_ref(media_ref: str) -> tuple[int, str] | None:
    """'{doc_id}/p{page}/{name}' -> (page, name)."""
    m = _MEDIA_REF_RE.search(media_ref or "")
    if not m:
        return None
    return int(m.group(1)), m.group(2)


def build_doc_resources(spans: list[dict]) -> dict:
    """Decode a doc's resource spans, each once: doc-level fonts and form
    XObjects (the reference parent-chains resource maps across nested
    forms, page_fonts.h:14-43, stream.h:403-406), AcroForm /DR fonts, the
    per-page descriptor entries (``_page_resources``), media maps and the
    parsed annotations by page. Malformed resource spans are skipped, and so
    is one nested deeper than ``_MAX_NESTING``."""
    font_blobs = [s["text"] for s in spans if s["kind"] == "pdf_font" and s.get("text")]
    pages: dict[int, dict] = {}
    media_by_page: dict[int, dict[str, str]] = {}
    annots_by_page: dict[int, list[dict]] = {}
    forms: dict[str, dict] = {}
    acroform_fonts: list[str] = []
    for s in spans:
        kind, text = s["kind"], s.get("text")
        if kind == "media":
            parsed = parse_media_ref(s.get("media_ref"))
            if parsed:
                pg, name = parsed
                media_by_page.setdefault(pg, {})[name] = s["media_ref"]
            continue
        if not text:
            continue
        try:
            if kind == "pdf_form":
                _add_form(forms, text)
            elif kind == "pdf_acroform_dr":
                # AcroForm /DR font resources: JSON array of font descriptor blobs
                d = _loads(text)
                if isinstance(d, list):
                    acroform_fonts.extend(json.dumps(f) if isinstance(f, dict) else str(f) for f in d)
            elif kind == "pdf_page":
                d = _loads(text)
                if isinstance(d, dict):
                    pages[int(d.get("page", s.get("offset", 0)))] = _page_resources(d)
            elif kind == "pdf_annot":
                d = _loads(text)
                annots_by_page.setdefault(int(d.get("page", 0)), []).append(d)
        except Exception:  # incl. RecursionError from hostile nesting (r4 review)
            pass
    return {
        "fonts": font_blobs,
        "forms": forms,
        "acroform_fonts": acroform_fonts,
        "pages": pages,
        "media_by_page": media_by_page,
        "annots_by_page": annots_by_page,
    }


def _add_form(forms: dict, f) -> None:
    """Normalize one form entry (a decoded ``pdf_form`` span or a
    descriptor's form blob) into ``forms``: ``{name: {ops, matrix, filters}}``."""
    if isinstance(f, str):
        try:
            f = _loads(f)
        except Exception:  # incl. RecursionError from hostile nesting (r4 review)
            return
    if isinstance(f, dict) and f.get("name"):
        forms[str(f["name"])] = {
            "ops": f.get("ops") or "",
            "matrix": f.get("matrix"),
            "filters": f.get("filters"),
        }


def _page_resources(desc: dict) -> dict:
    """One decoded ``pdf_page`` descriptor -> its unit resource entries: the
    geometry keys ``page_geometry`` reads (``page_desc``), the content
    transport and ColorSpace map (name -> component count, /ICCBased /N
    pre-resolved, reference page_colorspace.h), and the page-scoped fonts
    and forms. A malformed descriptor keeps the entries read before the
    fault."""
    out = {"page_desc": {k: desc[k] for k in ("media_box", "crop_box", "rotate") if k in desc}}
    try:
        for k in ("content_filters", "content_parms", "colorspaces"):
            if desc.get(k) is not None:
                out[k] = desc[k]
        if desc.get("fonts"):
            out["fonts"] = [f if isinstance(f, str) else json.dumps(f) for f in desc["fonts"]]
        if desc.get("forms"):
            local: dict[str, dict] = {}
            for f in desc["forms"]:
                _add_form(local, f)
            out["forms"] = local
    except Exception:  # e.g. a non-iterable fonts/forms value
        pass
    return out


def _body_bytes(text: str | None, filters, parms) -> bytes:
    """Undo a body's declared transport (the writer's side is
    ``pdf/file._body_text``): text -> bytes through surrogateescape, then
    the declared filters (pdf/filters.py, the from-spec layer), if any.
    Each caller accounts a failure its own way."""
    data = (text or "").encode("utf-8", "surrogateescape")
    return apply_filters(data, filters, parms) if filters else data


def decode_unit(
    unit_kind: str,
    payload: str | None,
    page: int,
    resources_json: str | None,
    config: DecodeConfig | None = None,
    fonts_cache: dict | None = None,
) -> UnitResult:
    """Decode one work unit (a PDF page or an HTML document).

    ``resources_json`` carries the unit's resources from ``doc_to_units``
    (fonts, forms, acroform_fonts, page_desc, media, annots, and the page's
    content_filters/content_parms/colorspaces when declared) for PDF
    units — either as the serialized JSON string
    (the Arrow-shipped unit rows) or as the already-parsed dict (the fused
    in-process path from ``doc_to_units(serialize=False)``, which skips a
    dumps+loads round trip per page; both forms decode identically because
    the dict came from the same construction the JSON string serializes).
    ``fonts_cache`` memoizes parsed Font objects per resources blob within a
    batch (fonts repeat across a doc's pages — the reference loads them once
    per document too)."""
    config = config or DecodeConfig()
    if unit_kind == "empty":
        return UnitResult(spans=[])
    if unit_kind == "html":
        t0 = _clock()
        try:
            spans = extract_html_spans(payload or "")
        except Exception as e:
            return UnitResult(spans=[], failed=True, error=f"{type(e).__name__}: {e}")
        return UnitResult(
            spans=[(i, k, t, r) for i, (k, t, r) in enumerate(spans)],
            timings={"html": (_clock() - t0) * 1000.0},
        )

    timings: dict[str, float] = {}
    t0 = _clock()
    if isinstance(resources_json, dict):
        res = resources_json
    else:
        try:
            res = json.loads(resources_json) if resources_json else {}
        except Exception as e:  # RecursionError: hostile nesting in a decoded
            # descriptor or annotation value, re-read on a deeper stack
            return UnitResult(spans=[], failed=True, error=f"resources: {type(e).__name__}: {e}")
    fonts: dict[str, Font]
    fonts_key = tuple(res.get("fonts", []))
    if fonts_cache is not None and fonts_key in fonts_cache:
        fonts = fonts_cache[fonts_key]
    else:
        try:
            fonts = build_fonts(res.get("fonts", []))
        except Exception as e:
            return UnitResult(spans=[], failed=True, error=f"font: {type(e).__name__}: {e}")
        if fonts_cache is not None:
            fonts_cache[fonts_key] = fonts
    page_desc = page_geometry(res.get("page_desc"))
    forms = build_forms(res.get("forms"), fonts_cache)
    # /Filter transport on the content stream itself (real PDFs Flate
    # their streams; the reference gets this from qpdf)
    try:
        content = _body_bytes(payload, res.get("content_filters"), res.get("content_parms"))
    except Exception as e:
        # malformed transport OR a malformed descriptor (wrong-typed
        # filters/parms) = per-unit failure accounting, like any corrupt
        # stream (never a task-killing raise — same posture as the font
        # path above)
        return UnitResult(
            spans=[], failed=True, error=f"filter: {type(e).__name__}: {e}",
            timings=timings,
        )
    timings["resources"] = (_clock() - t0) * 1000.0  # json + fonts + forms (cache-hit ≈ 0)
    pr = decode_page(
        content,
        fonts,
        images=res.get("media") or {},
        forms=forms,
        # ColorSpace resources: name -> component count (/ICCBased /N
        # pre-resolved by the descriptor, reference page_colorspace.h)
        colorspaces=res.get("colorspaces") or {},
        page_desc=page_desc,
        config=config,
    )
    timings.update(pr.timings)
    if pr.failed:
        return UnitResult(spans=[], cells_emitted=0, failed=True, error=pr.error,
                          timings=timings)
    out = list(pr.spans)
    # stage 4: annotations decode AFTER content (reference: decode_page runs
    # decode_annots after decode_contents, page.h:803-909)
    t0 = _clock()
    annots = res.get("annots") or []
    dr_fonts = None
    if annots and res.get("acroform_fonts"):
        dr_key = ("__dr__", tuple(res["acroform_fonts"]))
        if fonts_cache is not None and dr_key in fonts_cache:
            dr_fonts = fonts_cache[dr_key]
        else:
            try:
                dr_fonts = build_fonts(res["acroform_fonts"])
            except Exception:
                dr_fonts = {}
            if fonts_cache is not None:
                fonts_cache[dr_key] = dr_fonts
    for a in annots:
        out.extend(decode_annotation(a, fonts, config, acroform_fonts=dr_fonts))
    if annots:
        timings["annots"] = (_clock() - t0) * 1000.0
    return UnitResult(
        spans=[(i, k, t, r) for i, (k, t, r) in enumerate(out)],
        cells_emitted=pr.cells_emitted,
        timings=timings,
        cells=pr.cells,
    )


def _outline_page(page) -> int:
    """An outline node's page: a number in the int column's range, else 0
    (like a missing page; NaN and the infinities compare out of range)."""
    return int(page) if isinstance(page, (int, float)) and -(1 << 31) <= page < 1 << 31 else 0


def doc_meta(spans: list[dict]) -> dict:
    """Document-level metadata record (reference: XMP meta + outline tree +
    AcroForm dict, document.h:140-181, docling_parse/pdf_parser.py:796-899).

    * ``pdf_meta`` span: JSON {title, author, subject, keywords, created,
      modified} (the XMP/docinfo analog).
    * ``pdf_outline`` span: JSON nested tree [{title, page, children: [...]}]
      -> flattened preorder (level, title, page) rows (Spark has no recursive
      struct type; preorder + level is lossless). A page that is not a
      finite number in int range reads as 0, like a missing one.
    * AcroForm summary derived from widget annotations (field names).
    """
    meta = {"title": None, "author": None, "subject": None,
            "keywords": None, "created": None, "modified": None}
    outline: list[tuple[int, str, int]] = []
    fields: list[str] = []
    for s in spans:
        kind, text = s["kind"], s.get("text")
        if kind not in ("pdf_meta", "pdf_outline", "pdf_annot") or not text:
            continue
        try:
            d = _loads(text)
        except ValueError:
            continue
        if kind == "pdf_meta" and isinstance(d, dict):
            for k in meta:
                if d.get(k) is not None:
                    meta[k] = str(d[k])
        elif kind == "pdf_outline":

            def walk(nodes, level):
                for n in nodes if isinstance(nodes, list) else []:
                    if not isinstance(n, dict):
                        continue
                    outline.append((level, str(n.get("title") or ""), _outline_page(n.get("page"))))
                    walk(n.get("children") or [], level + 1)

            walk(d, 0)
        elif kind == "pdf_annot" and isinstance(d, dict):
            if d.get("subtype") == "widget" and d.get("field"):
                fields.append(str(d["field"]))
    return {"meta": meta, "outline": outline, "fields": fields}


def build_forms(raw_forms: dict | None, cache: dict | None = None) -> dict | None:
    """Tokenize form XObject content streams once per resources blob
    (`{name: {ops: raw_stream, matrix}}` -> interpreter-ready instruction
    lists — the reference parses nested streams on Do, stream.h:374-503)."""
    if not raw_forms:
        return None
    key = ("__forms__", json.dumps(raw_forms, sort_keys=True))
    if cache is not None and key in cache:
        return cache[key]
    from docling_parse_spark.pdf.tokenizer import tokenize

    built = {}
    for name, f in raw_forms.items():
        try:
            ops = tokenize(_body_bytes(f.get("ops"), f.get("filters"), None))
        except Exception:
            ops = []
        built[name] = {"ops": ops, "matrix": f.get("matrix")}
    if cache is not None:
        cache[key] = built
    return built


def decode_annotation(
    a: dict, fonts: dict, config: DecodeConfig, acroform_fonts: dict | None = None
) -> list[tuple]:
    """One decoded /Annots entry (``build_doc_resources``) -> spans.
    Hyperlinks carry the URI in ``media_ref`` (an external pointer, like
    media); widgets carry the field name in ``text`` and append their AP
    appearance-stream text.

    AP font fallback chain (reference page.h:1653-1663): the AP stream's own
    resources (``ap_fonts`` on the descriptor) win, then the AcroForm /DR
    fonts (doc-level ``pdf_acroform_dr`` span), then the page's fonts."""
    subtype = a.get("subtype", "link")
    if subtype == "link":
        uri = a.get("uri") or ""
        return [("hyperlink", None, uri)] if uri else []
    field = a.get("field") or ""
    spans: list[tuple] = [("widget", field, None)]
    # filled-in field value (/V, inherited — reference page.h:1434-1447
    # carries it as the widget's text); corpus annots never set it, so
    # existing outputs are unchanged
    if a.get("value"):
        spans.append(("widget_value", str(a["value"]), None))
    ap = a.get("ap_ops")
    if ap:
        chain = dict(fonts)
        chain.update(acroform_fonts or {})
        if a.get("ap_fonts"):
            try:
                chain.update(build_fonts(a["ap_fonts"]))
            except Exception:
                pass
        try:
            ap_bytes = _body_bytes(ap, a.get("ap_filters"), a.get("ap_parms"))
        except Exception:
            return spans  # a corrupt AP stream: keep the widget, drop its text
        ap_res = decode_page(ap_bytes, chain, config=config)
        if not ap_res.failed:
            spans.extend(("widget_text", t, r) for (k, t, r) in ap_res.spans if k == "text")
    return spans


def doc_to_units(doc_id: str, spans: list[dict], serialize: bool = True) -> list[dict]:
    """Split one document into independent work units — page granularity for
    PDF (the salting unit; mirrors the reference's page-level task queue,
    docling_threaded_base.h:104-105), whole payload for HTML.

    ``page`` on the unit is the span's ordinal position within the doc
    (unique, order-preserving reassembly key). The PDF *page number* — which
    keys page descriptors and media maps — is the count of ``pdf_ops`` spans
    seen so far, in input-offset order.

    ``serialize=False`` keeps each unit's resources as the built dict instead
    of a JSON string — for in-process consumers (``decode_document``, the
    fused light-doc rows of ``extract._decode_batches``) that hand the unit
    straight to ``decode_unit``, skipping a dumps+loads round trip per page.
    Units that cross the Arrow boundary (``extract.route_units``) need the
    default string form (the routed schema declares ``resources string``)."""
    # a NULL spans array (nullable in the table schema) is an empty doc,
    # not a task-killing TypeError (round-4 review)
    spans = spans if spans is not None else []
    resources = build_doc_resources(spans)
    units = []
    pdf_page_no = 0
    ordered = sorted(spans, key=lambda x: x.get("offset") or 0)
    for idx, s in enumerate(ordered):
        if s["kind"] == "pdf_ops":
            res = {
                "fonts": resources["fonts"],
                "forms": resources["forms"],
                "acroform_fonts": resources["acroform_fonts"],
                "page_desc": None,
                "media": resources["media_by_page"].get(pdf_page_no, {}),
                "annots": resources["annots_by_page"].get(pdf_page_no, []),
            }
            # the page's descriptor entries (geometry, content transport,
            # ColorSpace resources); its page-scoped fonts go AFTER the
            # doc-level list (build_fonts keys by font_key, last blob wins)
            # and its forms over the doc-level map, so both win for this
            # unit only
            scoped = resources["pages"].get(pdf_page_no)
            if scoped:
                res.update(scoped)
                if "fonts" in scoped:
                    res["fonts"] = resources["fonts"] + scoped["fonts"]
                if "forms" in scoped:
                    res["forms"] = {**resources["forms"], **scoped["forms"]}
            # no sort_keys: nested dicts keep their key order (a widget's
            # str()'d value), so a shipped unit decodes like the in-process dict
            units.append(
                {
                    "doc_id": doc_id,
                    "page": idx,
                    "unit_kind": "pdf",
                    "payload": s.get("text") or "",
                    "resources": json.dumps(res) if serialize else res,
                }
            )
            pdf_page_no += 1
        elif s["kind"] == "html":
            units.append(
                {
                    "doc_id": doc_id,
                    "page": idx,
                    "unit_kind": "html",
                    "payload": s.get("text") or "",
                    "resources": None,
                }
            )
    if not units:
        # doc with no decodable payloads still flows through (docs in == docs
        # out; it surfaces with an empty spans array)
        units.append(
            {"doc_id": doc_id, "page": 0, "unit_kind": "empty", "payload": "", "resources": None}
        )
    return units


def decode_document(
    doc_id: str, spans: list[dict], config: DecodeConfig | None = None
) -> list[dict]:
    """Sequential oracle: decode a whole document in-process, returning the
    output span array with dense offsets — definitionally equal to the
    distributed pipeline's reassembled result."""
    out = []
    for unit in doc_to_units(doc_id, spans, serialize=False):
        ur = decode_unit(
            unit["unit_kind"], unit["payload"], unit["page"], unit["resources"], config
        )
        for seq, kind, text, ref in ur.spans:
            out.append((unit["page"], seq, kind, text, ref))
    out.sort(key=lambda x: (x[0], x[1]))
    return [
        {"kind": k, "text": t, "media_ref": r, "offset": i}
        for i, (_, _, k, t, r) in enumerate(out)
    ]
