"""Differential tests: the PDF page kernels equal their references.

``kernel_reference`` keeps the bucketed overprint dedup, the forward
word-merge pass and the byte-at-a-time lexer verbatim. The package's
reject-first dedup, one-loop merge and master-regex lexer must give the
same result on every input: the same surviving cells and active flags
(or the same exception), the same merged text and geometry, the same
``[(op, operands)]``. The properties run derandomized, so a failure
reproduces; the corpus test then checks whole pages end to end.
"""

from __future__ import annotations

import copy
import json
import math

import pytest
from hypothesis import given, settings, strategies as st

import kernel_reference as ref
from docling_parse_spark.pdf import page as page_mod
from docling_parse_spark.pdf import sanitize, tokenizer
from docling_parse_spark.pdf.interpreter import Cell

PROPS = settings(max_examples=2000, derandomize=True, deadline=None)

# ------------------------------------------------------------------ cells

_FIELDS = ("r_x0", "r_y0", "r_x1", "r_y1", "r_x2", "r_y2", "r_x3", "r_y3")


def make_cell(text, quad, font="F1", ltr=True, instr=0, active=True) -> Cell:
    return Cell(text, *quad, font_key=font, left_to_right=ltr, instr_count=instr, active=active)


def snapshot(cells) -> list:
    """Everything a kernel may change, as repr (keeps -0.0 and NaN apart)."""
    return [repr((c.text, *(getattr(c, f) for f in _FIELDS), c.instr_count, c.active))
            for c in cells]


def run_both(fn_new, fn_ref, cells, *args):
    """Run both kernels on separate copies: (result, snapshot) per side,
    where result is the returned value with cells replaced by their index,
    or the exception's type and message."""
    out = []
    for fn in (fn_new, fn_ref):
        work = [copy.copy(c) for c in cells]
        for w, c in zip(work, cells):
            w.active = c.active
            w.instr_count = c.instr_count
        index = {id(w): k for k, w in enumerate(work)}
        try:
            r = fn(work, *args)
            r = [index[id(c)] for c in r] if isinstance(r, list) else r
        except Exception as e:  # noqa: BLE001 — the error itself is compared
            r = (type(e).__name__, str(e))
        out.append((r, snapshot(work)))
    return out


def _digits(code: int, radices) -> list[int]:
    """Mixed-radix digits of one drawn integer: a whole cell costs one
    draw (hypothesis spends most of its time per draw), and shrinking the
    integer to 0 picks the first choice everywhere."""
    out = []
    for r in radices:
        code, k = divmod(code, r)
        out.append(k)
    return out


# Overprint pages: glyphs on a few baselines, a few repeated letters and
# two fonts, each corner offset by 0, a quarter, just under, exactly or
# just over eps from its base, so pairs land on both sides of every test;
# now and then one coordinate is non-finite, huge or a signed zero.
_JITTER = (0.0, 0.25, -0.25, 0.5, -0.5, 0.4999999, -0.5000001, 0.5000001, 1.0, -0.0)
_COPY_JITTER = (0.0, 0.0, 0.0, 0.0) + _JITTER
_SPECIAL = (math.nan, math.inf, -math.inf, -0.0, 0.0, 1e308, -1e308)
_XS = (10.0, 10.5, 11.0, 20.0, 0.0, -0.5, 30.25)
_YS = (100.0, 100.25, 100.5, 101.0, 112.0, 99.5, 100.0000001)
_NO_SPECIAL = 8 * len(_SPECIAL) * 9  # one cell in 10 gets a special coordinate
_DEDUP_RADICES = (len(_XS), 4, *[len(_JITTER)] * 8, _NO_SPECIAL + 8 * len(_SPECIAL), 5, 3, 10)


@st.composite
def overprint_cells(draw):
    ys = draw(st.lists(st.sampled_from(_YS), min_size=1, max_size=4))
    codes = draw(st.lists(st.integers(0, math.prod(_DEDUP_RADICES) - 1), max_size=20))
    cells = []
    for code in codes:
        xi, yi, *d = _digits(code, _DEDUP_RADICES)
        jit, (special, text, font, active) = d[:8], d[8:]
        x, y = _XS[xi], ys[yi % len(ys)]
        w = 5.0 if x < 20 else 6.0
        base = [x, y, x + w, y, x + w, y + 8.0, x, y + 8.0]
        quad = [v + _JITTER[k] for v, k in zip(base, jit)]
        special -= _NO_SPECIAL  # the top digits only, so 0 means none
        if special >= 0:
            quad[special % 8] = _SPECIAL[special // 8]
        cells.append(make_cell(("a", "e", "a", "ab", "")[text], quad, font=("F1", "F2", "F1")[font],
                               active=active != 1))
    if cells and draw(st.booleans()):
        # an overprint of a stretch of the page (fake bold): the stretch
        # drawn again right after itself, or each glyph twice in a row;
        # each copy's corners moved by one of the offsets above (most often
        # by none), now and then in the other font
        a = draw(st.integers(0, len(cells) - 1))
        b = draw(st.integers(a, len(cells)))
        in_place = draw(st.booleans())
        radices = [len(_COPY_JITTER)] * 8 + [4]
        for k in range(b - 1, a - 1, -1):
            c = cells[k]
            *jit, font = _digits(draw(st.integers(0, math.prod(radices) - 1)), radices)
            d = make_cell(c.text, [getattr(c, f) + _COPY_JITTER[j] for f, j in zip(_FIELDS, jit)],
                          font=c.font_key if font else ("F1" if c.font_key == "F2" else "F2"))
            cells.insert(k + 1 if in_place else b, d)
    return cells


@PROPS
@given(overprint_cells())
def test_dedup_matches_reference(cells):
    new, old = run_both(sanitize.remove_duplicate_cells, ref.remove_duplicate_cells, cells)
    assert new == old


def test_dedup_window_closed_by_line_between():
    """A glyph on another line between two overprints closes the first
    one's window; a glyph within eps of it does not."""
    q = [10.0, 100.0, 15.0, 100.0, 15.0, 108.0, 10.0, 108.0]
    other = [40.0, 130.0, 45.0, 130.0, 45.0, 138.0, 40.0, 138.0]
    near = [40.0, 100.4, 45.0, 100.4, 45.0, 108.4, 40.0, 108.4]
    for mid, kept in ((other, 3), (near, 2)):
        cells = [make_cell("a", q), make_cell("b", mid), make_cell("a", q)]
        new, old = run_both(sanitize.remove_duplicate_cells, ref.remove_duplicate_cells, cells)
        assert new == old and len(new[0]) == kept


def test_dedup_nonfinite_x_raises_like_reference():
    """A repeated key with a NaN or infinite x0 fails the page with the
    reference's error; a unique key with one is just kept."""
    q = [10.0, 100.0, 15.0, 100.0, 15.0, 108.0, 10.0, 108.0]
    for bad in (math.nan, math.inf):
        cells = [make_cell("a", q), make_cell("a", [bad] + q[1:]), make_cell("z", [bad] + q[1:])]
        new, old = run_both(sanitize.remove_duplicate_cells, ref.remove_duplicate_cells, cells)
        assert new == old and isinstance(new[0], tuple)
        cells = [make_cell("a", q), make_cell("a", q), make_cell("z", [bad] + q[1:])]
        new, old = run_both(sanitize.remove_duplicate_cells, ref.remove_duplicate_cells, cells)
        assert new == old and new[0] == [0, 2]


# Word runs: glyphs advancing left to right with gaps around the merge
# thresholds, ligature glyphs and 'f'/'i'/'l' tails, spaces, RTL runs,
# a font switch and baseline shifts.
_GLYPHS = ("f", "i", "f", "l", "a", "ﬁ", "ﬃ", " ", "", "ab")
_GAPS = (0.0, 0.1, 0.0, 0.5, 0.6, 0.9, 1.2, 2.0, 4.0, -1.0)
_DYS = (0.0, 0.3, 0.0, -0.3, 0.0, 2.0, -12.0)
_HEIGHTS = (10.0, 12.0, 10.0, 8.0)  # unequal heights part the top gap from the bottom one
_WORD_RADICES = (3, len(_DYS), len(_GLYPHS), 4, 5, 6, 13, len(_GAPS), _NO_SPECIAL + 8 * len(_SPECIAL),
                 len(_HEIGHTS))


@st.composite
def word_cells(draw):
    x, y = draw(st.sampled_from([0.0, 72.0, -3.5])), 700.0
    cells = []
    for code in draw(st.lists(st.integers(0, math.prod(_WORD_RADICES) - 1), max_size=20)):
        wi, dyi, glyph, font, ltr, instr, active, gap, special, hi = _digits(code, _WORD_RADICES)
        h = _HEIGHTS[hi]
        w, dy = (5.0, 6.0, 2.5)[wi], _DYS[dyi]
        quad = [x, y + dy, x + w, y + dy, x + w, y + dy + h, x, y + dy + h]
        special -= _NO_SPECIAL  # the top digits only, so 0 means none
        if special >= 0:
            quad[special % 8] = _SPECIAL[special // 8]
        cells.append(make_cell(_GLYPHS[glyph], quad, font=("F1", "F1", "F2", "F1")[font],
                               ltr=ltr != 1, instr=instr, active=active != 1))
        x += w + _GAPS[gap]
    return cells


@PROPS
@given(word_cells())
def test_word_merge_pass_matches_reference(cells):
    args = (sanitize.WORD_FACTOR, True, None)
    new, old = run_both(sanitize._merge_pass_forward, ref._merge_pass_forward, cells, *args)
    assert new == old


@PROPS
@given(word_cells())
def test_line_merge_pass_matches_reference(cells):
    args = (sanitize.LINE_FACTOR, False, sanitize.GAP_SPACE_FACTOR)
    new, old = run_both(sanitize._merge_pass_forward, ref._merge_pass_forward, cells, *args)
    assert new == old


# ------------------------------------------------------------------ lexer

_LEX_PIECES = (
    b"1", b"-2.5", b".5", b"+3", b"4.", b"1.23-45", b"--12.3", b"10-20-30", b"-", b"+-1",
    b"1.2.3", b"9" * 400, b"007",
    b"Tj", b"TJ", b"Tf", b"'", b'"', b"T*", b"BT", b"ET", b"cm", b"q", b"Q", b"Do", b"cm_x",
    b"true", b"false", b"null", b"truex", b"nullnull",
    b"(abc)", b"()", b"(a(b)c)", b"(a\\(b\\)c)", b"(\\101\\7\\0123\\8)", b"(\\n\\r\\t\\b\\f\\\\)",
    b"(line\\\ncont)", b"(cr\\\r\nlf)", b"(unbalanced ( open", b"(tail\\", b"(\xe9\xff)",
    b"<48656C6C6F>", b"<48 65 6C6C 6F>", b"<486>", b"<4 8>", b"<zz12>", b"<>", b"<", b"<\xe9a0>",
    b"/F1", b"/A#20B", b"/A#2", b"/#41#4", b"/#zz", b"/", b"/\xc3\xa9", b"/\xff",
    b"[", b"]", b"<<", b">>", b">", b")", b"{", b"}", b"%c\n", b"%tail",
    b"BI", b"/W 2 /H 2", b"ID", b" \x00\xffEI", b"EI", b"xEI", b"EIx",
)
_LEX_SEP = (b" ", b"", b" ", b"\n", b"\r\n", b"\t", b"\x00", b"\x0c")


@st.composite
def content_streams(draw):
    codes = draw(st.lists(st.integers(0, len(_LEX_PIECES) * len(_LEX_SEP) - 1), max_size=30))
    data = b"".join(_LEX_PIECES[k % len(_LEX_PIECES)] + _LEX_SEP[k // len(_LEX_PIECES)]
                    for k in codes)
    if draw(st.integers(0, 4)) == 0:  # raw bytes spliced in anywhere
        at = draw(st.integers(0, len(data)))
        data = data[:at] + draw(st.binary(max_size=16)) + data[at:]
    return data


@PROPS
@given(content_streams())
def test_tokenize_matches_reference(data):
    assert repr(tokenizer.tokenize(data)) == repr(ref.tokenize(data))


@PROPS
@given(st.binary(max_size=200))
def test_tokenize_matches_reference_on_raw_bytes(data):
    assert repr(tokenizer.tokenize(data)) == repr(ref.tokenize(data))


@pytest.mark.parametrize("data", [
    b"", b"   ", b"%only a comment", b"1 2 %c", b"(a) Tj %", b"BI ID", b"ID", b"ID EI",
    b"ID \x00EI\x00EI ", b"[1 [2 <</A [3] /B << /C 4 >> >> ] ] TJ", b"<< [1] 2 >> BDC",
    b"[<< /A 1 ]>> x", b"<</A 1 /B>> x", b">>> ]]] )))", b"<<<48>", b"(" * 50 + b")",
])
def test_tokenize_edge_cases_match_reference(data):
    assert repr(tokenizer.tokenize(data)) == repr(ref.tokenize(data))


# -------------------------------------------------- non-finite geometry

_FONT = json.dumps({"font_key": "F1", "base_font": "Helvetica", "subtype": "Type1",
                    "encoding": "WinAnsiEncoding", "first_char": 32, "widths": [500.0] * 95})
_BIG = "9" * 400  # float('9' * 400) == inf


@pytest.mark.parametrize("payload, failed, spans", ids=[
    "cm-inf", "Tm-inf", "Tf-inf", "Tf-inf-unique-keys", "cm-nan", "Tm-nan", "signed-zero",
], argvalues=[
    # an infinite cm/Tm/Tf operand: the repeated key's x0 is inf or NaN
    (f"1 0 0 1 {_BIG} 0 cm BT /F1 12 Tf (aa) Tj ET", True, []),
    (f"BT /F1 12 Tf 1 0 0 1 {_BIG} 700 Tm (aab) Tj ET", True, []),
    (f"BT /F1 {_BIG} Tf 72 700 Td (aa) Tj ET", True, []),
    # unique keys never reach the x0 key: the page survives
    (f"BT /F1 {_BIG} Tf 72 700 Td (ab) Tj ET", False, [(0, "text", "ab", None)]),
    # inf * 0 in the text matrix product: NaN coordinates
    (f"{_BIG} 0 0 1 0 0 cm BT /F1 12 Tf 0 0 Td (aa) Tj ET", True, []),
    (f"BT /F1 12 Tf 1 0 0 {_BIG} 72 0 Tm (aa) Tj 0 0 Td (aa) Tj ET", True, []),
    # -0.0 next to 0.0: x0 of the first glyph is -0.0, of the others 0.0
    ("q -1 0 -0 1 -0 0 cm BT /F1 12 Tf 100 Ts (a) Tj ET Q "
     "q -1 0 0 1 0 0 cm BT /F1 12 Tf 100 Ts (a) Tj ET Q BT /F1 12 Tf 100 Ts (a) Tj ET",
     False, [(0, "text", "a", None), (1, "text", "a", None)]),
])
def test_nonfinite_geometry_matches_reference(payload, failed, spans, monkeypatch):
    """Never an exception out of decode_unit; the failed flag and spans are
    the reference kernels' (pinned here as well)."""
    from docling_parse_spark.document import decode_unit

    res = json.dumps({"fonts": [_FONT]})
    ur = decode_unit("pdf", payload, 0, res, None, {})
    assert (ur.failed, ur.spans) == (failed, spans)
    _use_reference_kernels(monkeypatch)
    old = decode_unit("pdf", payload, 0, res, None, {})
    assert (old.failed, old.spans, old.error) == (ur.failed, ur.spans, ur.error)


# ----------------------------------------------------------- whole corpus


def _use_reference_kernels(monkeypatch) -> None:
    monkeypatch.setattr(page_mod, "tokenize", ref.tokenize)
    monkeypatch.setattr(tokenizer, "tokenize", ref.tokenize)  # form XObjects
    monkeypatch.setattr(page_mod, "remove_duplicate_cells", ref.remove_duplicate_cells)
    monkeypatch.setattr(sanitize, "remove_duplicate_cells", ref.remove_duplicate_cells)
    monkeypatch.setattr(sanitize, "_merge_pass_forward", ref._merge_pass_forward)


def _decode_pdf_units(docs) -> list:
    from docling_parse_spark.document import decode_unit, doc_to_units

    fonts_cache: dict = {}
    out = []
    for d in docs:
        for u in doc_to_units(d["doc_id"], d["spans"], serialize=False):
            if u["unit_kind"] != "pdf":
                continue
            r = decode_unit("pdf", u["payload"], u["page"], u["resources"], None, fonts_cache)
            out.append(repr((d["doc_id"], u["page"], r.failed, r.spans,
                             [(c.text, *(getattr(c, f) for f in _FIELDS), c.font_key, c.instr_count)
                              for c in r.cells])))
    return out


@pytest.mark.parametrize("seed", [1, 11, 42])
def test_corpus_units_match_reference_kernels(seed, monkeypatch):
    """Every PDF unit of the seeded corpus: the same failed flag, spans and
    output cells (text, quad, font_key, instr_count) as with the
    reference kernels patched in."""
    from docling_parse_spark.corpus import generate_corpus

    docs = generate_corpus(3000, seed)
    new = _decode_pdf_units(docs)
    _use_reference_kernels(monkeypatch)
    old = _decode_pdf_units(docs)
    assert len(new) == len(old) > 3000
    assert [k for k, (a, b) in enumerate(zip(new, old)) if a != b] == []
