"""Interpreter tests: cursor math, state stack, kerning, clip, images, forms."""

import json
import math

from docling_parse_spark.pdf.fonts import font_from_json
from docling_parse_spark.pdf.interpreter import PageInterpreter, mat_apply, mat_mul, translate
from docling_parse_spark.pdf.tokenizer import tokenize


def helv(widths=None, **kw):
    d = {"font_key": "F1", "base_font": "Helvetica", "subtype": "Type1",
         "encoding": "WinAnsiEncoding", "first_char": 32,
         "widths": widths or [500.0] * 95}
    d.update(kw)
    return {"F1": font_from_json(json.dumps(d))}


def run(src: bytes, fonts=None, **kw):
    it = PageInterpreter(fonts or helv(), **kw)
    it.run(tokenize(src))
    return it


def test_matrix_composition():
    m = mat_mul(translate(10, 20), (2, 0, 0, 2, 0, 0))
    assert mat_apply(m, 1, 1) == (22.0, 42.0)


def test_simple_tj_positions():
    it = run(b"BT /F1 10 Tf 100 700 Td (AB) Tj ET")
    assert [c.text for c in it.cells] == ["A", "B"]
    a, b = it.cells
    assert math.isclose(a.r_x0, 100.0)
    # width 500/1000 * 10 = 5.0 per glyph
    assert math.isclose(a.r_x1, 105.0)
    assert math.isclose(b.r_x0, 105.0)
    # ascent 750/1000*10, descent -250/1000*10
    assert math.isclose(a.r_y0, 700 - 2.5)
    assert math.isclose(a.r_y3, 700 + 7.5)


def test_tj_kerning_moves_cursor():
    it = run(b"BT /F1 10 Tf 0 0 Td [(A) -1000 (B)] TJ ET")
    a, b = it.cells
    # kern -1000/1000*10 = +10 extra
    assert math.isclose(b.r_x0 - a.r_x1, 10.0)


def test_char_and_word_spacing():
    it = run(b"BT /F1 10 Tf 2 Tc 3 Tw 0 0 Td (A B) Tj ET")
    a, sp, b = it.cells
    # A at 0..5; advance 5+2 => space at 7..12; advance 5+2+3 => B at 17
    assert math.isclose(sp.r_x0, 7.0)
    assert math.isclose(b.r_x0, 17.0)


def test_h_scaling():
    it = run(b"BT /F1 10 Tf 200 Tz 0 0 Td (AB) Tj ET")
    a, b = it.cells
    assert math.isclose(a.r_x1 - a.r_x0, 10.0)  # 5 * 200%
    assert math.isclose(b.r_x0, 10.0)


def test_leading_and_tstar():
    it = run(b"BT /F1 10 Tf 14 TL 100 700 Td (A) Tj T* (B) Tj ET")
    a, b = it.cells
    assert math.isclose(b.r_y0 - a.r_y0, -14.0)
    assert math.isclose(b.r_x0, 100.0)


def test_td_uppercase_sets_leading():
    it = run(b"BT /F1 10 Tf 100 700 Td (A) Tj 0 -12 TD (B) Tj T* (C) Tj ET")
    a, b, c = it.cells
    assert math.isclose(b.r_y0 - a.r_y0, -12.0)
    assert math.isclose(c.r_y0 - b.r_y0, -12.0)  # TL became 12


def test_quote_ops():
    it = run(b"BT /F1 10 Tf 12 TL 0 100 Td (A) Tj (B) ' 1 2 (C) \" ET")
    texts = [c.text for c in it.cells]
    assert texts == ["A", "B", "C"]
    assert math.isclose(it.cells[1].r_y0 - it.cells[0].r_y0, -12.0)
    assert it.gs.text.word_spacing == 1 and it.gs.text.char_spacing == 2


def test_q_Q_restores_state():
    it = run(b"q 2 0 0 2 0 0 cm BT /F1 10 Tf (A) Tj ET Q BT /F1 10 Tf (B) Tj ET")
    a, b = it.cells
    assert math.isclose(a.r_x1 - a.r_x0, 10.0)  # scaled 2x
    assert math.isclose(b.r_x1 - b.r_x0, 5.0)  # restored


def test_cm_premultiplies():
    it = run(b"2 0 0 2 0 0 cm 1 0 0 1 10 0 cm BT /F1 10 Tf 0 0 Td (A) Tj ET")
    # translate(10,0) then scale(2) => x0 = 20
    assert math.isclose(it.cells[0].r_x0, 20.0)


def test_rise():
    it = run(b"BT /F1 10 Tf 5 Ts 0 0 Td (A) Tj ET")
    assert math.isclose(it.cells[0].r_y0, 5 - 2.5)


def test_render_mode_recorded():
    it = run(b"BT /F1 10 Tf 3 Tr (A) Tj ET")
    assert it.cells[0].rendering_mode == 3


def test_unknown_font_key_keeps_previous():
    it = run(b"BT /F1 10 Tf (A) Tj /Missing 20 Tf (B) Tj ET")
    assert it.cells[1].font_key == "F1"
    assert math.isclose(it.cells[1].r_x1 - it.cells[1].r_x0, 10.0)  # size 20 applied


def test_image_do_bbox():
    it = run(b"q 100 0 0 50 30 40 cm /Im1 Do Q", images={"Im1": "m-ref-1"})
    b = it.bitmaps[0]
    assert (b.x0, b.y0, b.x1, b.y1) == (30.0, 40.0, 130.0, 90.0)
    assert b.media_ref == "m-ref-1" and b.visible


def test_clip_hides_image():
    it = run(
        b"q 0 0 10 10 re W n 200 0 0 50 300 40 cm /Im1 Do Q",
        images={"Im1": "m1"},
    )
    assert not it.bitmaps[0].visible


def test_form_xobject_recursion():
    form_ops = tokenize(b"BT /F1 10 Tf 0 0 Td (Z) Tj ET")
    it = PageInterpreter(
        helv(),
        forms={"Fm1": {"ops": form_ops, "matrix": (1, 0, 0, 1, 50, 60)}},
    )
    it.run(tokenize(b"q /Fm1 Do Q BT /F1 10 Tf 0 0 Td (A) Tj ET"))
    z, a = it.cells
    assert z.text == "Z" and math.isclose(z.r_x0, 50.0) and math.isclose(z.r_y0, 60 - 2.5)
    assert math.isclose(a.r_x0, 0.0)  # state restored after form


def test_shapes_re_fill():
    it = run(b"0 0 1 rg 10 10 100 20 re f")
    s = it.shapes[0]
    assert s.filled and not s.stroked
    assert s.rgb_filling == (0, 0, 255)


def test_unknown_operator_counted():
    it = run(b"(A) Tj 1 2 xyzzy")
    assert "xyzzy" in it.unknown_operators


def test_colors_cmyk():
    it = run(b"0 0 0 1 k BT /F1 10 Tf (A) Tj ET")
    assert it.cells[0].rgb_filling == (0, 0, 0)


def test_rotated_text_quad():
    # 90° CCW rotation matrix in Tm: glyph quad is oriented
    it = run(b"BT /F1 10 Tf 0 1 -1 0 100 100 Tm (A) Tj ET")
    c = it.cells[0]
    # baseline start (0, -2.5) -> (102.5, 100); advance along +y
    assert math.isclose(c.r_x0, 102.5)
    assert math.isclose(c.r_y0, 100.0)
    assert math.isclose(c.r_y1, 105.0)  # bottom-right went up


def test_icc_colorspace_resolves_like_device_twin():
    """VERDICT r03 #8: an /ICCBased space with /N in {1,3,4} behaves as its
    device twin (reference page_colorspace.h:121-145 maps N -> family).
    The ICC-declared fill must produce the same int[3] RGB as DeviceRGB/
    DeviceGray/DeviceCMYK with identical operands."""
    cs = {"ICC3": 3, "ICC1": 1, "ICC4": 4}
    for icc_name, device, ops in (
        ("ICC3", b"/DeviceRGB cs 0.2 0.4 0.8 scn", b"/ICC3 cs 0.2 0.4 0.8 scn"),
        ("ICC1", b"/DeviceGray cs 0.5 scn", b"/ICC1 cs 0.5 scn"),
        ("ICC4", b"/DeviceCMYK cs 0.1 0.2 0.3 0.4 scn", b"/ICC4 cs 0.1 0.2 0.3 0.4 scn"),
    ):
        dev = run(device + b" 10 10 5 5 re f").shapes[0].rgb_filling
        icc = run(ops + b" 10 10 5 5 re f", colorspaces=cs).shapes[0].rgb_filling
        assert icc == dev, (icc_name, icc, dev)

    # /N guides SCN arity: a trailing pattern-name operand after the ICC
    # component values must not derail the interpretation
    it = run(b"/ICC1 cs 0.5 /P0 scn 10 10 5 5 re f", colorspaces={"ICC1": 1})
    assert it.shapes[0].rgb_filling == (128, 128, 128)
    # unknown resource key: graceful arity fallback, no raise
    it = run(b"/NoSuch cs 1 0 0 scn 10 10 5 5 re f")
    assert it.shapes[0].rgb_filling == (255, 0, 0)

    # q/Q must save/restore the active colorspace (PDF spec: color space
    # is part of the graphics state) — round-4 review repro
    it = run(b"/ICC1 cs q Q 0.5 0.1 0.2 scn 10 10 5 5 re f",
             colorspaces={"ICC1": 1})
    assert it.shapes[0].rgb_filling == (128, 128, 128)


def test_form_with_unbalanced_q_does_not_corrupt_page_state():
    """Round-4 review: stray q or Q inside a form XObject must not leak
    into (or steal from) the page's own state stack."""
    import math

    form_leak = {"Fm1": {"ops": tokenize(b"q q 2 0 0 2 0 0 cm"), "matrix": None}}
    it = PageInterpreter(helv(), forms=form_leak)
    it.run(tokenize(b"q 1 0 0 1 5 5 cm /Fm1 Do Q BT /F1 10 Tf 0 0 Td (A) Tj ET"))
    c = it.cells[0]
    assert math.isclose(c.r_x0, 0.0)  # page Q restored identity, not form CTM

    form_steal = {"Fm2": {"ops": tokenize(b"Q Q Q 3 0 0 3 0 0 cm"), "matrix": None}}
    it = PageInterpreter(helv(), forms=form_steal)
    it.run(tokenize(b"q 1 0 0 1 50 0 cm /Fm2 Do BT /F1 10 Tf 0 0 Td (B) Tj ET Q"))
    c = it.cells[0]
    assert math.isclose(c.r_x0, 50.0)  # form's rogue Qs could not pop page state


# stroke-only operators: they set line width and stroking colour, which no
# output reads, so a stream decodes the same with each replaced by a no-op
_STROKE_ONLY = ("w", "G", "RG", "K", "CS", "SC", "SCN")
_CELL_FIELDS = (
    "text", "r_x0", "r_y0", "r_x1", "r_y1", "r_x2", "r_y2", "r_x3", "r_y3",
    "rendering_mode", "font_key", "font_name", "left_to_right", "rgb_filling",
    "block_count", "instr_count", "active",
)


def _stroke_mix_streams():
    """Content streams mixing fill and stroke colour ops (incl. ICC-mapped
    CS/SC/SCN), w, paths, clips, q/Q, forms and text; any operator may get
    too few, too many or wrong-typed operands."""
    from hypothesis import strategies as st

    num = st.sampled_from(["0", "0.25", "0.5", "1", "2.5", "-3", "10", "72"])
    junk = st.sampled_from(["(x)", "/N", "[1 2]", "true"])
    cs_name = st.sampled_from(["/DeviceRGB", "/DeviceGray", "/DeviceCMYK", "/ICC1",
                               "/ICC3", "/ICC4", "/Pattern", "/Nope"])
    arity = {"w": 1, "G": 1, "RG": 3, "K": 4, "g": 1, "rg": 3, "k": 4,
             "m": 2, "l": 2, "c": 6, "v": 4, "y": 4, "re": 4, "cm": 6, "Td": 2,
             "Tz": 1, "Tc": 1, "Tr": 1}
    simple = ["h", "S", "s", "f", "F", "f*", "B", "B*", "b", "b*", "n", "W", "W*",
              "q", "Q", "BT", "ET", "T*"]

    def operands(k):
        return st.one_of(st.lists(num, min_size=k, max_size=k),
                         st.lists(st.one_of(num, junk), max_size=k + 1))

    instr = st.one_of(
        st.sampled_from(list(arity)).flatmap(
            lambda op: operands(arity[op]).map(lambda a: (a, op))),
        st.sampled_from(simple).map(lambda op: ([], op)),
        st.tuples(st.sampled_from(["SC", "SCN", "sc", "scn"]),
                  st.sampled_from([1, 3, 4]), st.booleans()).flatmap(
            lambda t: operands(t[1]).map(
                lambda a: (a + (["/P0"] if t[2] else []), t[0]))),
        st.tuples(st.sampled_from(["CS", "cs"]), st.one_of(cs_name, junk)).map(
            lambda t: ([t[1]], t[0])),
        st.sampled_from([(["/F1", "10"], "Tf"), (["/F1"], "Tf"), (["(AB C)"], "Tj"),
                         (["[(A) -250 (BC)]"], "TJ"), (["(D)"], "'"),
                         (["/Fm1"], "Do"), (["/Im1"], "Do")]),
    )
    # text and path runs, so most streams emit cells and shapes
    text_run = st.tuples(st.lists(num, min_size=2, max_size=2), st.sampled_from(
        [["(AB C)"], ["(D)"]])).map(
        lambda t: [([], "BT"), (["/F1", "10"], "Tf"), (t[0], "Td"), (t[1], "Tj"), ([], "ET")])
    path_run = st.tuples(
        st.lists(num, min_size=4, max_size=4),
        st.sampled_from(["S", "s", "f", "F", "f*", "B", "B*", "b", "b*", "n"]),
    ).map(lambda t: [(t[0], "re"), (t[0][:2], "m"), (t[0][2:], "l"), ([], t[1])])
    colour = st.sampled_from(["G", "RG", "K", "g", "rg", "k"]).flatmap(
        lambda op: st.lists(num, min_size=arity[op], max_size=arity[op]).map(
            lambda a: [(a, op)]))
    chunk = st.one_of(instr.map(lambda i: [i]), text_run, path_run, colour)
    stream = st.lists(chunk, max_size=24).map(lambda cs: [i for c in cs for i in c])
    return st.tuples(stream, stream)


def _render(instrs, strip: bool) -> bytes:
    return " ".join(
        " ".join(args + ["EX" if strip and op in _STROKE_ONLY else op])
        for args, op in instrs
    ).encode()


def test_stroke_only_operators_change_no_output():
    """Replacing every stroke-only operator by the no-op ``EX`` (same
    instruction count, so ``instr_count`` lines up) leaves the spans, every
    cell field and the shapes' geometry, paint flags and fill colour of
    ``decode_page(emit_shapes=True)`` unchanged, for char and word cells."""
    from hypothesis import given, settings

    from docling_parse_spark.pdf.page import DecodeConfig, decode_page

    colorspaces = {"ICC1": 1, "ICC3": 3, "ICC4": 4}

    @settings(max_examples=400, deadline=None, derandomize=True)
    @given(_stroke_mix_streams())
    def check(streams):
        page, form = streams
        outs = []
        for strip in (False, True):
            forms = {"Fm1": {"ops": tokenize(_render(form, strip)),
                             "matrix": (1, 0, 0, 1, 5, 5)}}
            for unit in ("char", "word"):
                res = decode_page(_render(page, strip), helv(), images={"Im1": "m1"},
                                  forms=forms, colorspaces=colorspaces,
                                  config=DecodeConfig(output_unit=unit, emit_shapes=True))
                outs.append((
                    res.failed, res.spans,
                    [tuple(getattr(c, f) for f in _CELL_FIELDS) for c in res.cells],
                    [(s.points, s.stroked, s.filled, s.rgb_filling, s.instr_count)
                     for s in res.shapes],
                ))
        assert outs[:2] == outs[2:]

    check()
