"""Deterministic synthetic corpus generator (seed-fixed, no external data).

Emits documents in the north-rule input shape
``(doc_id, spans:array<struct<kind,text,media_ref,offset>>)`` whose
``pdf_ops`` payloads exercise the full operator matrix from FIXTURES.md §1:
Tj, TJ with kern numbers, ' and ", BT/ET, Td TD Tm T*, Tc Tw Tz TL Tf Tr Ts,
q/Q/cm, re f / m l S shapes, W n clips, Do of an image XObject, malformed
numbers (1.23-45, --12.3), duplicate overprint text, 90°-rotated pages,
RTL text, ligature glyph names, Identity-H CMap fonts, inline images.

Skew requirement (FIXTURES.md §1): ~1% of docs carry ~100× the median page
count — the heavy tail that exercises page-granularity salting.
"""

from __future__ import annotations

import json
import random

# bump when generator output changes (invalidates cached bench corpora)
CORPUS_VERSION = 4

WORDS = (
    "spark engine document extraction pipeline content stream operator "
    "matrix glyph width kerning ligature unicode span table partition "
    "shuffle broadcast skew salting checkpoint lineage metrics parquet "
    "iceberg schema vectorized arrow batch executor throughput scaling "
    "quick brown fox jumps over lazy dog alpha beta gamma delta"
).split()

HTML_NAV_LINKS = ["Home", "About", "Products", "Contact", "Blog", "Careers"]

FONT_HELV = {
    "font_key": "F1", "base_font": "Helvetica", "subtype": "Type1",
    "encoding": "WinAnsiEncoding", "first_char": 32,
    "widths": [556.0] * 95, "ascent": 718, "descent": -207, "capheight": 718,
}
FONT_TIMES = {
    "font_key": "F2", "base_font": "Times-Roman", "subtype": "Type1",
    "encoding": "StandardEncoding", "first_char": 32,
    "widths": [500.0] * 95, "ascent": 683, "descent": -217, "capheight": 662,
}
FONT_LIGA = {
    "font_key": "F3", "base_font": "Custom-Liga", "subtype": "Type1",
    "encoding": "WinAnsiEncoding", "first_char": 32, "widths": [520.0] * 224,
    "differences": {"200": "f_i", "201": "f_l", "202": "ffi", "203": "emdash"},
    "ascent": 700, "descent": -230, "capheight": 690,
}


def _cid_font(rng: random.Random) -> dict:
    # Identity-H font with a ToUnicode CMap over a contiguous range
    lo, n = 0x20, 95
    cmap = (
        "/CIDInit /ProcSet findresource begin\n"
        "begincodespacerange <0000> <FFFF> endcodespacerange\n"
        f"1 beginbfrange <{lo:04X}> <{lo + n - 1:04X}> <{lo:04X}> endbfrange\nend"
    )
    return {
        "font_key": "F4", "base_font": "CID-Sans", "subtype": "Type0",
        "encoding": "Identity-H", "to_unicode": cmap,
        "w": {str(c): 600 for c in range(lo, lo + n)}, "dw": 1000,
        "ascent": 880, "descent": -120, "capheight": 700,
    }


FONT_RTL = {
    "font_key": "F5", "base_font": "RTL-Sans", "subtype": "Type0",
    "encoding": "Identity-H",
    "to_unicode": (
        "begincodespacerange <0000> <FFFF> endcodespacerange\n"
        "1 beginbfrange <05D0> <05EA> <05D0> endbfrange"
    ),
    "w": {str(c): 500 for c in range(0x05D0, 0x05EB)}, "dw": 500,
    "ascent": 750, "descent": -250, "capheight": 700,
}

# predefined CJK CMap fonts (no embedded ToUnicode — decoding goes through
# the compiled Adobe CMap + cid2code tables, pdf/data/)
FONT_JP = {
    "font_key": "F6", "base_font": "MS-Mincho", "subtype": "Type0",
    "encoding": "90ms-RKSJ-H", "dw": 1000,
    "ascent": 880, "descent": -120, "capheight": 700,
}
FONT_ZH = {
    "font_key": "F7", "base_font": "STSong-Light", "subtype": "Type0",
    "encoding": "UniGB-UCS2-H", "dw": 1000,
    "ascent": 880, "descent": -120, "capheight": 700,
}

# JIS X 0208-safe sample characters (hiragana + common kanji)
JP_CHARS = "あいうえおかきくけこさしすせそ日本語文書解析処理高速検索変換"
ZH_CHARS = "中文分析引擎分布式处理高速检索文档抽取数据管道"


def _embedded_font() -> dict:
    """A no-/Widths TrueType font whose metrics come from an embedded sfnt
    program (built once, deterministic) — exercises the program-metrics path
    (reference base_font.h) end-to-end."""
    import base64

    from docling_parse_spark.pdf.truetype import build_minimal_ttf

    chars = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ "
    widths = {c: 400 + (ord(c) % 23) * 10 for c in chars}
    widths[" "] = 260
    return {
        "font_key": "F8", "base_font": "Embedded-Serif", "subtype": "TrueType",
        "encoding": "WinAnsiEncoding", "widths": [],
        "font_program": base64.b64encode(build_minimal_ttf(widths)).decode(),
        "ascent": 720, "descent": -220, "capheight": 690,
    }


FONT_EMB = _embedded_font()


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _hex2(s: str) -> str:
    return "".join(f"{ord(c):04X}" for c in s)


def _sjis_hex(s: str) -> str:
    return s.encode("shift_jis").hex().upper()


def _pdf_page_stream(
    rng: random.Random, doc_id: str, page: int, form_names: list[str] | None = None
) -> tuple[str, list[str]]:
    """One content stream + list of media names placed via Do."""
    parts = []
    media_names = []
    y = 740.0
    n_paras = rng.randint(2, 5)
    for p in range(n_paras):
        feature = rng.randrange(12)
        fk, fs = rng.choice([("F1", 11), ("F2", 10), ("F1", 14), ("F8", 12)])
        if feature == 0:
            # plain Tj lines with T* leading
            parts.append(f"BT /{fk} {fs} Tf {fs + 3} TL 72 {y:.1f} Td")
            for _ in range(rng.randint(1, 3)):
                parts.append(f"({_esc(_sentence(rng, rng.randint(4, 9)))}) Tj T*")
                y -= fs + 3
            parts.append("ET")
        elif feature == 1:
            # TJ with kern numbers
            w1, w2, w3 = (rng.choice(WORDS) for _ in range(3))
            parts.append(
                f"BT /{fk} {fs} Tf 72 {y:.1f} Td "
                f"[({_esc(w1)}) {-rng.randint(200, 400)} ({_esc(w2)}) "
                f"{rng.randint(20, 60)} ({_esc(w3)})] TJ ET"
            )
            y -= fs + 4
        elif feature == 2:
            # ' and " ops with leading
            parts.append(
                f"BT /{fk} {fs} Tf {fs + 2} TL 72 {y:.1f} Td "
                f"({_esc(_sentence(rng, 5))}) Tj "
                f"({_esc(_sentence(rng, 4))}) ' "
                f"{rng.randint(0, 2)} {rng.randint(0, 1)} ({_esc(_sentence(rng, 4))}) \" ET"
            )
            y -= 3 * (fs + 2)
        elif feature == 3:
            # spacing/scaling state: Tc Tw Tz Ts Tr
            parts.append(
                f"BT /{fk} {fs} Tf {rng.randint(0, 2)} Tc {rng.randint(0, 3)} Tw "
                f"{rng.choice([90, 100, 110])} Tz {rng.choice([0, 2])} Ts 0 Tr "
                f"72 {y:.1f} Td ({_esc(_sentence(rng, 6))}) Tj ET"
            )
            y -= fs + 4
        elif feature == 4:
            # q/Q + cm nesting
            s = rng.choice([0.8, 1.0, 1.25])
            parts.append(
                f"q {s} 0 0 {s} {rng.randint(0, 40)} 0 cm "
                f"BT /{fk} {fs} Tf 72 {y / s:.1f} Td ({_esc(_sentence(rng, 5))}) Tj ET Q"
            )
            y -= fs * s + 4
        elif feature == 5:
            # image placement (+ optional clip)
            name = f"Im{p}"
            media_names.append(name)
            w, h = rng.randint(80, 200), rng.randint(60, 120)
            clip = rng.random() < 0.3
            pre = f"q 60 {y - h:.1f} {w + 30} {h + 20} re W n " if clip else "q "
            parts.append(f"{pre}{w} 0 0 {h} 72 {y - h:.1f} cm /{name} Do Q")
            y -= h + 8
        elif feature == 6:
            # shapes: rect fill + polyline stroke
            parts.append(
                f"0.2 0.4 0.8 rg 72 {y - 6:.1f} 200 4 re f "
                f"0 G 1 w 72 {y - 12:.1f} m 272 {y - 12:.1f} l S"
            )
            y -= 18
        elif feature == 7:
            # overprint duplicate (fake bold), plus a malformed run-together
            # number exercising the tokenizer repair: '30.5-10' = 30.5, -10
            s = _esc(" ".join(rng.choice(WORDS) for _ in range(2)))
            parts.append(
                f"BT /{fk} {fs} Tf 1 0 0 1 72 {y:.1f} Tm ({s}) Tj "
                f"1 0 0 1 72.2 {y + 0.1:.1f} Tm ({s}) Tj "
                f"30.5-10 Td (tail) Tj ET"
            )
            y -= fs + 4
        elif feature == 8:
            # ligatures via /Differences — \310=200 f_i, \311=201 f_l, \312=202 ffi
            parts.append(
                f"BT /F3 {fs} Tf 72 {y:.1f} Td "
                f"(e\\312cient arti\\310cial con\\311ict) Tj ET"
            )
            y -= fs + 4
        elif feature == 9:
            # Identity-H CID text (F4) or RTL (F5)
            if rng.random() < 0.5:
                txt = _sentence(rng, 4)
                parts.append(f"BT /F4 {fs} Tf 72 {y:.1f} Td <{_hex2(txt)}> Tj ET")
            else:
                heb = "".join(chr(0x05D0 + rng.randrange(27)) for _ in range(4))
                parts.append(f"BT /F5 {fs} Tf 300 {y:.1f} Td <{_hex2(heb)}> Tj ET")
            y -= fs + 4
        elif feature == 10:
            # CJK via predefined CMaps: Shift-JIS (Japan1) or UCS-2 (GB1)
            if rng.random() < 0.5:
                jp = "".join(rng.choice(JP_CHARS) for _ in range(rng.randint(4, 10)))
                parts.append(f"BT /F6 {fs} Tf 72 {y:.1f} Td <{_sjis_hex(jp)}> Tj ET")
            else:
                zh = "".join(rng.choice(ZH_CHARS) for _ in range(rng.randint(4, 10)))
                parts.append(f"BT /F7 {fs} Tf 72 {y:.1f} Td <{_hex2(zh)}> Tj ET")
            y -= fs + 4
        else:
            # form XObject placement (doc-level /Fm*), when the doc has one
            if form_names:
                name = rng.choice(form_names)
                s = rng.choice([0.75, 1.0, 1.5])
                parts.append(f"q {s} 0 0 {s} 90 {y - 30:.1f} cm /{name} Do Q")
                y -= 36
            else:
                parts.append(f"BT /{fk} {fs} Tf 72 {y:.1f} Td ({_esc(_sentence(rng, 5))}) Tj ET")
                y -= fs + 4
        if y < 80:
            y = 740.0
    if rng.random() < 0.1:
        # inline image — recognized, skipped (reference stream.h:779-795)
        parts.append("BI /W 2 /H 2 /BPC 8 ID \x41\x42\x43\x44 EI")
    return " ".join(parts), media_names


def make_pdf_doc(rng: random.Random, doc_id: str, n_pages: int) -> list[dict]:
    spans: list[dict] = []
    off = 0
    fonts = [FONT_HELV, FONT_TIMES, FONT_LIGA, _cid_font(rng), FONT_RTL, FONT_JP, FONT_ZH, FONT_EMB]
    for f in fonts:
        spans.append({"kind": "pdf_font", "text": json.dumps(f), "media_ref": None, "offset": off})
        off += 1
    # ~40% of docs carry docinfo metadata + an outline (TOC) tree
    if rng.random() < 0.4:
        meta = {
            "title": _sentence(rng, 4).title(),
            "author": rng.choice(["Ada", "Grace", "Alan", "Edsger"]) + " " + rng.choice(WORDS).title(),
            "subject": _sentence(rng, 3),
            "keywords": ", ".join(rng.sample(WORDS, 3)),
            "created": "2026-01-15T09:30:00Z",
            "modified": "2026-02-01T12:00:00Z",
        }
        spans.append({"kind": "pdf_meta", "text": json.dumps(meta), "media_ref": None, "offset": off})
        off += 1
        outline = []
        for ch in range(rng.randint(1, 3)):
            node = {"title": _sentence(rng, 3).title(), "page": min(ch, n_pages - 1), "children": []}
            for sub in range(rng.randint(0, 2)):
                node["children"].append(
                    {"title": _sentence(rng, 2).title(), "page": min(ch, n_pages - 1), "children": []}
                )
            outline.append(node)
        spans.append({"kind": "pdf_outline", "text": json.dumps(outline), "media_ref": None, "offset": off})
        off += 1
    # ~25% of docs carry an AcroForm /DR font resource (the widget-AP font
    # fallback chain, reference page.h:1653-1663)
    dr_font_key = None
    if rng.random() < 0.25:
        dr = dict(FONT_TIMES)
        dr["font_key"] = "FD"
        spans.append({"kind": "pdf_acroform_dr", "text": json.dumps([dr]),
                      "media_ref": None, "offset": off})
        off += 1
        dr_font_key = "FD"
    # ~30% of docs carry form XObjects (incl. a nested one exercising the
    # recursive Do path, reference stream.h:374-503)
    form_names: list[str] = []
    if rng.random() < 0.3:
        inner = (
            f"BT /F1 9 Tf 4 5 Td ({_esc(_sentence(rng, 3))}) Tj ET "
            f"0.1 0.1 0.9 rg 0 0 50 4 re f"
        )
        spans.append({
            "kind": "pdf_form",
            "text": json.dumps({"name": "Fm0", "ops": inner, "matrix": [1, 0, 0, 1, 0, 0]}),
            "media_ref": None, "offset": off,
        })
        off += 1
        form_names.append("Fm0")
        if rng.random() < 0.5:
            outer = f"q 0.5 0 0 0.5 10 10 cm /Fm0 Do Q BT /F2 8 Tf 0 30 Td ({_esc(_sentence(rng, 2))}) Tj ET"
            spans.append({
                "kind": "pdf_form",
                "text": json.dumps({"name": "Fm1", "ops": outer, "matrix": [1, 0, 0, 1, 20, 0]}),
                "media_ref": None, "offset": off,
            })
            off += 1
            form_names.append("Fm1")
    for page in range(n_pages):
        stream, media_names = _pdf_page_stream(rng, doc_id, page, form_names)
        rotate = rng.choice([0, 0, 0, 0, 0, 0, 0, 0, 90, 270]) if page == 0 else 0
        if rotate:
            spans.append(
                {
                    "kind": "pdf_page",
                    "text": json.dumps({"page": page, "media_box": [0, 0, 612, 792], "rotate": rotate}),
                    "media_ref": None,
                    "offset": off,
                }
            )
            off += 1
        spans.append({"kind": "pdf_ops", "text": stream, "media_ref": None, "offset": off})
        off += 1
        for name in media_names:
            spans.append(
                {
                    "kind": "media",
                    "text": None,
                    "media_ref": f"{doc_id}/p{page}/{name}",
                    "offset": off,
                }
            )
            off += 1
        if rng.random() < 0.2:
            # annotations: a /Link hyperlink and sometimes a widget with an
            # AP appearance stream (decoded after page content)
            annot = {"page": page, "subtype": "link",
                     "rect": [72, 60, 200, 75],
                     "uri": f"https://example.com/{doc_id}/p{page}"}
            spans.append({"kind": "pdf_annot", "text": json.dumps(annot),
                          "media_ref": None, "offset": off})
            off += 1
            if rng.random() < 0.5:
                # AP font source: own /ap_fonts resource, AcroForm /DR, or
                # the page's fonts (the reference's fallback chain)
                ap_src = rng.randrange(3)
                widget = {
                    "page": page, "subtype": "widget",
                    "rect": [72, 40, 220, 55],
                    "field": f"field_{page}",
                }
                if ap_src == 0:
                    own = dict(FONT_HELV)
                    own["font_key"] = "FA"
                    widget["ap_fonts"] = [json.dumps(own)]
                    ap_fk = "FA"
                elif ap_src == 1 and dr_font_key:
                    ap_fk = dr_font_key
                else:
                    ap_fk = "F1"
                widget["ap_ops"] = f"BT /{ap_fk} 9 Tf 2 3 Td ({_esc(_sentence(rng, 2))}) Tj ET"
                spans.append({"kind": "pdf_annot", "text": json.dumps(widget),
                              "media_ref": None, "offset": off})
                off += 1
    return spans


def make_html_doc(rng: random.Random, doc_id: str) -> list[dict]:
    nav = " ".join(f'<a href="/{w.lower()}">{w}</a>' for w in HTML_NAV_LINKS)
    paras = []
    for i in range(rng.randint(3, 8)):
        txt = _sentence(rng, rng.randint(12, 30)).capitalize() + "."
        if rng.random() < 0.25:
            txt += f' See <a href="/ref{i}">this reference</a> for details.'
        paras.append(f"<p>{txt}</p>")
        if rng.random() < 0.2:
            paras.append(f'<img src="{doc_id}/img{i}.png" alt="">')
    sidebar = "".join(f'<li><a href="/t/{w}">{w}</a></li>' for w in rng.sample(WORDS, 6))
    html = (
        "<html><head><title>"
        + _sentence(rng, 4).title()
        + "</title><style>body{margin:0}</style></head><body>"
        + f"<nav>{nav}</nav><header><h1>{_sentence(rng, 5).title()}</h1></header>"
        + "<main><article>"
        + "".join(paras)
        + "</article></main>"
        + f"<aside><ul>{sidebar}</ul></aside>"
        + f"<footer>© 2026 {_sentence(rng, 2)} · {nav}</footer>"
        + "<script>var x=1;</script></body></html>"
    )
    return [{"kind": "html", "text": html, "media_ref": None, "offset": 0}]


def generate_doc(i: int, seed: int = 42, heavy_frac: float = 0.01, heavy_pages: int = 64) -> dict:
    """One deterministic document — keyed only by (seed, i), so generation is
    order-independent and embarrassingly parallel."""
    rng = random.Random(f"{seed}:{i}")
    doc_id = f"doc-{i:07d}"
    r = rng.random()
    if r < heavy_frac:
        spans = make_pdf_doc(rng, doc_id, heavy_pages)
    elif r < 0.70:
        spans = make_pdf_doc(rng, doc_id, rng.randint(1, 4))
    else:
        spans = make_html_doc(rng, doc_id)
    return {"doc_id": doc_id, "spans": spans}


def generate_corpus(n_docs: int, seed: int = 42, heavy_frac: float = 0.01, heavy_pages: int = 64) -> list[dict]:
    """Deterministic corpus: ~70% PDF docs (1-4 pages), ~29% HTML docs,
    ~1% heavy PDF docs with ``heavy_pages`` pages (the skew tail)."""
    return [generate_doc(i, seed, heavy_frac, heavy_pages) for i in range(n_docs)]


def generate_corpus_with_dups(
    n_docs: int, seed: int = 42, n_dups: int = 5, heavy_frac: float = 0.01, heavy_pages: int = 64
) -> list[dict]:
    """The mini corpus plus exact clones of the first ``n_dups`` docs
    (doc_id + '-dup', identical spans) — near-dup removal then has
    deterministic, SQL-derivable survivors (clone text == original text,
    min-id survivor keeps the original). Shared by the contract queries and
    tools/make_fixtures.py so both sides see the same input."""
    docs = generate_corpus(n_docs, seed, heavy_frac, heavy_pages)
    clones = [{"doc_id": d["doc_id"] + "-dup", "spans": d["spans"]} for d in docs[:n_dups]]
    return docs + clones


def corpus_df(spark, n_docs: int, seed: int = 42, heavy_frac: float = 0.01,
              heavy_pages: int = 64, num_partitions: int | None = None):
    """Distributed corpus generation: ``spark.range`` -> ``mapInPandas``.
    Each executor generates its own slice — no driver-side materialization,
    so the same code scales from 60 test docs to the 10^12-doc design point."""
    import pandas as pd

    from docling_parse_spark.schemas import SPANS_TABLE_SCHEMA

    n_parts = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                d = generate_doc(int(i), seed, heavy_frac, heavy_pages)
                rows.append((d["doc_id"], d["spans"]))
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    return (
        spark.range(n_docs)
        .repartition(n_parts)
        .mapInPandas(gen, schema=SPANS_TABLE_SCHEMA)
    )


def corpus_to_spark_rows(docs: list[dict]) -> list[tuple]:
    return [
        (
            d["doc_id"],
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]],
        )
        for d in docs
    ]


def generate_pdf_file_docs(encrypted: bool = True) -> list[dict]:
    """Real PDF FILES (byte-level, pdf/build.py) parsed through
    ``parse_pdf_spans`` — the raw-file ingestion path (lexer, xref tables
    AND XRef-stream/ObjStm layouts, filters, annots/outline/info, form +
    image XObjects, standard-security-handler decryption) running INSIDE
    the driver-recorded mini-corpus gates rather than only in pytest.

    Deterministic and seedless. With ``encrypted=False`` the encrypted
    doc is replaced by its PLAIN twin, which must yield identical spans:
    tools/make_fixtures.py pins the plain side, the contract queries
    parse the encrypted side, so a decryption regression breaks the
    ``extract_*``/``doc_meta_table`` gates."""
    from docling_parse_spark.pdf.build import (
        build_classic_pdf,
        build_modern_pdf,
        encrypt_classic_rc4,
    )
    from docling_parse_spark.pdf.file import parse_pdf_spans

    font = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/Encoding /WinAnsiEncoding >>")
    docs: list[tuple[str, bytes]] = []

    # --- file-doc-0: classic xref, full feature surface --------------
    form_body = b"BT /F9 9 Tf 4 5 Td (form xobject line) Tj ET"
    ap_body = b"BT /FA 9 Tf 2 3 Td (widget appearance) Tj ET"
    content0 = (b"BT /F1 12 Tf 72 700 Td (ingested from a real file) Tj "
                b"0 -20 Td (second line of text) Tj ET "
                b"q 100 0 0 50 200 300 cm /Im1 Do Q /Fm1 Do")
    title16 = b"\xfe\xff" + "Ingestion — Report".encode("utf-16-be")
    objs0 = {
        1: (b"<< /Type /Catalog /Pages 2 0 R /Outlines 8 0 R "
            b"/Names << /Dests 14 0 R >> "
            b"/AcroForm << /DR << /Font << /FD 5 0 R >> >> >> >>"),
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Annots [10 0 R 11 0 R] "
            b"/Resources << /Font << /F1 5 0 R >> "
            b"/XObject << /Im1 6 0 R /Fm1 7 0 R >> >> >>"),
        4: (f"<< /Length {len(content0)} >>\nstream\n".encode()
            + content0 + b"\nendstream"),
        5: font,
        6: (b"<< /Type /XObject /Subtype /Image /Width 8 /Height 8 "
            b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Length 64 "
            b">>\nstream\n" + bytes(64) + b"\nendstream"),
        7: (f"<< /Type /XObject /Subtype /Form /Matrix [1 0 0 1 20 10] "
            f"/Resources << /Font << /F9 5 0 R >> >> "
            f"/Length {len(form_body)} >>\nstream\n".encode()
            + form_body + b"\nendstream"),
        8: b"<< /Type /Outlines /First 9 0 R /Count 1 >>",
        9: (b"<< /Title (Chapter One) /Parent 8 0 R "
            b"/Dest [3 0 R /XYZ 0 792 0] /First 15 0 R >>"),
        10: (b"<< /Type /Annot /Subtype /Link /Rect [72 60 200 75] "
             b"/A << /S /URI /URI (https://example.com/ingest) >> >>"),
        11: (b"<< /Type /Annot /Subtype /Widget /Rect [72 40 220 55] "
             b"/T (sig_field) /AP << /N 12 0 R >> >>"),
        12: (f"<< /Type /XObject /Subtype /Form "
             f"/Resources << /Font << /FA 5 0 R >> >> "
             f"/Length {len(ap_body)} >>\nstream\n".encode()
             + ap_body + b"\nendstream"),
        14: b"<< /Names [(sec2) [3 0 R /Fit]] >>",
        15: (b"<< /Title <" + title16.hex().encode() + b"> /Parent 9 0 R "
             b"/A << /S /GoTo /D (sec2) >> >>"),
        17: (b"<< /Title (Ingested Corpus Doc) /Author (File Layer) "
             b"/CreationDate (D:20260115093000Z) >>"),
    }
    docs.append(("file-doc-0",
                 build_classic_pdf(objs0, root=1, trailer_extra="/Info 17 0 R ")))

    # --- file-doc-1: modern XRef-stream + ObjStm layout --------------
    cmap = (b"/CIDInit /ProcSet findresource begin\n"
            b"1 begincodespacerange <00> <FF> endcodespacerange\n"
            b"1 beginbfchar <58> <0059> endbfchar\nend")
    content1 = b"BT /F1 10 Tf 10 700 Td (modern layout X) Tj ET"
    objs1 = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 300 400] >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R >> >> >>"),
        4: (f"<< /Length {len(content1)} >>\nstream\n".encode()
            + content1 + b"\nendstream"),
        5: (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/Encoding /WinAnsiEncoding /FirstChar 88 /Widths [600 600] "
            b"/ToUnicode 6 0 R >>"),
        6: (f"<< /Length {len(cmap)} >>\nstream\n".encode()
            + cmap + b"\nendstream"),
    }
    docs.append(("file-doc-1", build_modern_pdf(objs1, root=1, stream_objs={4, 6})))

    # --- file-doc-2: Flate-compressed + binary content streams -------
    import zlib as _zlib

    content2a = b"BT /F1 11 Tf 40 650 Td (compressed stream page) Tj ET"
    z2 = _zlib.compress(content2a)
    content2b = (b"\xfe\x00BT /F1 11 Tf 40 600 Td (binary stream page) Tj ET")
    objs2 = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: (b"<< /Type /Pages /Kids [3 0 R 6 0 R] /Count 2 "
            b"/MediaBox [0 0 612 792] >>"),
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R >> >> >>"),
        4: (f"<< /Length {len(z2)} /Filter /FlateDecode >>\nstream\n".encode()
            + z2 + b"\nendstream"),
        5: font,
        6: (b"<< /Type /Page /Parent 2 0 R /Contents 7 0 R /Rotate 0 "
            b"/Resources << /Font << /F1 5 0 R >> >> >>"),
        7: (f"<< /Length {len(content2b)} >>\nstream\n".encode()
            + content2b + b"\nendstream"),
    }
    docs.append(("file-doc-2", build_classic_pdf(objs2, root=1)))

    # --- file-doc-3: RC4-encrypted (empty user password) or its twin -
    content3 = b"BT /F1 12 Tf 72 700 Td (decrypted body text) Tj ET"
    title3 = b"Confidential Title"
    objs3 = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R >> >> >>"),
        5: font,
    }
    if encrypted:
        pdf3 = encrypt_classic_rc4(
            objs3, root=1, stream_bodies={4: content3},
            string_objs={9: title3}, info=9,
        )
    else:
        objs3[4] = (f"<< /Length {len(content3)} >>\nstream\n".encode()
                    + content3 + b"\nendstream")
        objs3[9] = b"<< /Title (" + title3 + b") >>"
        pdf3 = build_classic_pdf(objs3, root=1, trailer_extra="/Info 9 0 R ")
    docs.append(("file-doc-3", pdf3))

    # --- file-doc-4: AES-256/R6-encrypted (empty user pw) or its twin
    # puts Algorithm 2.B + the AES-CBC decrypt under the
    # driver oracle the same plain-twin way as the RC4 doc (r6)
    from docling_parse_spark.pdf.build import encrypt_classic_aes256

    content4 = b"BT /F1 12 Tf 72 700 Td (aes256 decrypted body) Tj ET"
    title4 = b"AES Protected Title"
    objs4 = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R >> >> >>"),
        5: font,
    }
    if encrypted:
        pdf4 = encrypt_classic_aes256(
            objs4, root=1, stream_bodies={4: content4},
            string_objs={9: title4}, info=9,
        )
    else:
        objs4[4] = (f"<< /Length {len(content4)} >>\nstream\n".encode()
                    + content4 + b"\nendstream")
        objs4[9] = b"<< /Title (" + title4 + b") >>"
        pdf4 = build_classic_pdf(objs4, root=1, trailer_extra="/Info 9 0 R ")
    docs.append(("file-doc-4", pdf4))

    return [{"doc_id": doc_id, "spans": parse_pdf_spans(data, doc_id)}
            for doc_id, data in docs]
