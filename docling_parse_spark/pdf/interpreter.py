"""PDF content-stream interpreter: instruction list -> positioned cells/images/shapes.

Re-implements the reference's operator dispatch (reference:
src/parse/pdf_decoders/stream.h:511-1129) and text-state machine
(src/parse/pdf_states/text.h) from the published PDF 32000-1:2008 semantics.
Runs one page at a time inside a mapInArrow batch — never parallelize within a
page: cell order IS the data model's backbone (cells are appended in
content-stream execution order, text.h:308-323).

Matrices are affine 6-tuples ``(a, b, c, d, e, f)`` mapping row vectors:
``(x, y) -> (a*x + c*y + e, b*x + d*y + f)`` — the PDF convention.

Operator coverage (SURVEY.md §2.A): q Q cm / fill color ops
(g rg k cs sc scn) / BT ET / Tc Tw Tz TL Tf Tr Ts /
Td TD Tm T* / Tj TJ ' " / path m l c v y h re / paint s S f F f* B B* b b* n /
clip W W* / Do (image + recursive form) / BI ID EI (no-op, matching the
reference's skip at stream.h:779-795) / BMC BDC EMC MP DP BX EX sh d0 d1,
line state w J j M d ri i gs and stroke color G RG K CS SC SCN (no-ops:
no output reads them) / unknown-operator counting (stream.h:1116-1127).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field, replace

from docling_parse_spark.pdf.fonts import Font

IDENTITY = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
# nested form XObjects are run at most this deep (a self-referencing /Do
# chain stops here instead of recursing without bound)
MAX_FORM_DEPTH = 8


def mat_mul(m1, m2):
    """Row-vector composition: apply m1 first, then m2 (m1 · m2)."""
    a1, b1, c1, d1, e1, f1 = m1
    a2, b2, c2, d2, e2, f2 = m2
    return (
        a1 * a2 + b1 * c2,
        a1 * b2 + b1 * d2,
        c1 * a2 + d1 * c2,
        c1 * b2 + d1 * d2,
        e1 * a2 + f1 * c2 + e2,
        e1 * b2 + f1 * d2 + f2,
    )


def mat_apply(m, x, y):
    a, b, c, d, e, f = m
    return (a * x + c * y + e, b * x + d * y + f)


def translate(tx, ty):
    return (1.0, 0.0, 0.0, 1.0, tx, ty)


@dataclass(slots=True)
class Cell:
    """Positioned text fragment — subset of the reference's 25-field cell
    (src/parse/page_items/page_cell.h:43-99) that drives output semantics."""

    text: str
    # oriented quad, counter-clockwise from bottom-left (r_x0..r_y3)
    r_x0: float = 0.0
    r_y0: float = 0.0
    r_x1: float = 0.0
    r_y1: float = 0.0
    r_x2: float = 0.0
    r_y2: float = 0.0
    r_x3: float = 0.0
    r_y3: float = 0.0
    rendering_mode: int = 0
    font_key: str = ""
    font_name: str = ""
    left_to_right: bool = True
    rgb_filling: tuple = (0, 0, 0)
    block_count: int = 0
    instr_count: int = 0
    active: bool = True

    @property
    def x0(self):
        return min(self.r_x0, self.r_x1, self.r_x2, self.r_x3)

    @property
    def x1(self):
        return max(self.r_x0, self.r_x1, self.r_x2, self.r_x3)

    @property
    def y0(self):
        return min(self.r_y0, self.r_y1, self.r_y2, self.r_y3)

    @property
    def y1(self):
        return max(self.r_y0, self.r_y1, self.r_y2, self.r_y3)

    def width(self) -> float:
        dx = self.r_x1 - self.r_x0
        dy = self.r_y1 - self.r_y0
        return math.sqrt(dx * dx + dy * dy)


@dataclass
class ImageItem:
    media_ref: str
    x0: float = 0.0
    y0: float = 0.0
    x1: float = 0.0
    y1: float = 0.0
    visible: bool = True
    instr_count: int = 0


@dataclass
class ShapeItem:
    points: list = field(default_factory=list)  # [(x, y), ...]
    stroked: bool = False
    filled: bool = False
    rgb_filling: tuple = (0, 0, 0)
    instr_count: int = 0


@dataclass
class TextState:
    char_spacing: float = 0.0  # Tc
    word_spacing: float = 0.0  # Tw
    h_scaling: float = 1.0  # Tz / 100
    leading: float = 0.0  # TL
    rise: float = 0.0  # Ts
    render_mode: int = 0  # Tr
    font_size: float = 0.0
    font: Font | None = None
    tm: tuple = IDENTITY  # text matrix
    tlm: tuple = IDENTITY  # text line matrix


@dataclass
class GraphicsState:
    ctm: tuple = IDENTITY
    fill_rgb: tuple = (0, 0, 0)
    # active fill colorspace component count (None = unknown family; sc/scn
    # then falls back to interpreting by operand arity)
    fill_cs_n: int | None = None
    clip: tuple | None = None  # axis-aligned bbox or None = unclipped
    text: TextState = field(default_factory=TextState)


# device/CIE name -> component count (reference page_colorspace.h:200-215
# parse_name: Cal* and single-letter abbreviations map to device families;
# Lab is 3-component). Tokenizer strips the leading '/'.
_CS_NAME_COMPONENTS = {
    "DeviceGray": 1, "CalGray": 1, "G": 1,
    "DeviceRGB": 3, "CalRGB": 3, "RGB": 3, "Lab": 3,
    "DeviceCMYK": 4, "CMYK": 4,
}


def _cmyk_to_rgb(c, m, y, k):
    return (
        int(round(255 * (1 - min(1.0, c + k)))),
        int(round(255 * (1 - min(1.0, m + k)))),
        int(round(255 * (1 - min(1.0, y + k)))),
    )


def _gray_to_rgb(g):
    v = int(round(255 * g))
    return (v, v, v)


class PageInterpreter:
    """Interprets one page's instruction list; state mirrors the reference's
    GLOBAL state (src/parse/pdf_states/global.h:98-141): q/Q deep-copies the
    whole state, cm premultiplies the CTM."""

    def __init__(
        self,
        fonts: dict[str, Font],
        images: dict[str, str] | None = None,
        forms: dict[str, dict] | None = None,
        colorspaces: dict[str, int] | None = None,
    ):
        self.fonts = fonts
        self.images = images or {}  # xobject name -> media_ref
        self.forms = forms or {}  # xobject name -> {"ops": [...], "matrix": 6-tuple}
        # ColorSpace resource name -> component count (/ICCBased /N etc.)
        self.colorspaces = colorspaces or {}

        self.gs = GraphicsState()
        self.stack: list[GraphicsState] = []
        self.cells: list[Cell] = []
        self.shapes: list[ShapeItem] = []
        self.bitmaps: list[ImageItem] = []
        self.block_count = 0
        self.instr_count = 0
        self.unknown_operators: set[str] = set()
        self._path: list[list[tuple]] = []  # subpaths of flattened points
        self._current: list[tuple] = []
        self._pending_clip: bool = False

    # ------------------------------------------------------------------ run
    def run(self, instructions, depth: int = 0) -> None:
        for op, args in instructions:
            self.instr_count += 1
            self._dispatch(op, args, depth)

    def _dispatch(self, op, args, depth):
        g = self.gs
        t = g.text
        try:
            if op == "q":
                self.stack.append(self._copy_state())
            elif op == "Q":
                if self.stack:
                    self.gs = self.stack.pop()
            elif op == "cm":
                g.ctm = mat_mul(tuple(args[:6]), g.ctm)
            elif op in ("w", "J", "j", "M", "d", "ri", "i", "gs",
                        "G", "RG", "K", "CS", "SC", "SCN"):
                pass  # line and stroking-colour state: no output reads it
            elif op == "BT":
                t.tm = IDENTITY
                t.tlm = IDENTITY
                self.block_count += 1
            elif op == "ET":
                pass
            elif op == "Tc":
                t.char_spacing = args[0]
            elif op == "Tw":
                t.word_spacing = args[0]
            elif op == "Tz":
                t.h_scaling = args[0] / 100.0
            elif op == "TL":
                t.leading = args[0]
            elif op == "Ts":
                t.rise = args[0]
            elif op == "Tr":
                t.render_mode = int(args[0])
            elif op == "Tf":
                key = args[0]
                if key in self.fonts:
                    t.font = self.fonts[key]
                # unknown key: keep previous font (reference text.h:279-306)
                t.font_size = args[1]
            elif op == "Td":
                t.tlm = mat_mul(translate(args[0], args[1]), t.tlm)
                t.tm = t.tlm
            elif op == "TD":
                t.leading = -args[1]
                t.tlm = mat_mul(translate(args[0], args[1]), t.tlm)
                t.tm = t.tlm
            elif op == "Tm":
                t.tm = tuple(args[:6])
                t.tlm = t.tm
            elif op == "T*":
                t.tlm = mat_mul(translate(0.0, -t.leading), t.tlm)
                t.tm = t.tlm
            elif op == "Tj":
                self._show_text(args[0])
            elif op == "TJ":
                for el in args[0]:
                    if isinstance(el, bytes):
                        self._show_text(el)
                    elif isinstance(el, (int, float)):
                        # kern: cursor moves by -v/1000·fs·h_scaling (text.h:325-362)
                        tx = -el / 1000.0 * t.font_size * t.h_scaling
                        t.tm = mat_mul(translate(tx, 0.0), t.tm)
            elif op == "'":
                self._dispatch("T*", [], depth)
                self._show_text(args[0])
            elif op == '"':
                t.word_spacing = args[0]
                t.char_spacing = args[1]
                self._dispatch("T*", [], depth)
                self._show_text(args[2])
            elif op == "g":
                g.fill_rgb = _gray_to_rgb(args[0])
            elif op == "rg":
                g.fill_rgb = tuple(int(round(255 * v)) for v in args[:3])
            elif op == "k":
                g.fill_rgb = _cmyk_to_rgb(*args[:4])
            elif op == "cs":
                # colorspace family selection: device/CIE names resolve
                # directly; resource keys (ICCBased et al.) resolve through
                # the page's ColorSpace resources, where an /ICCBased /N of
                # 1/3/4 maps to the gray/RGB/CMYK device family (reference
                # page_colorspace.h:121-145). Final RGB is set by sc/scn.
                name = args[0] if args else None
                n = None
                if isinstance(name, str):
                    n = _CS_NAME_COMPONENTS.get(name)
                    if n is None:
                        n = self.colorspaces.get(name)
                g.fill_cs_n = n
            elif op in ("sc", "scn"):
                nums = [a for a in args if isinstance(a, (int, float))]
                # the ACTIVE colorspace decides the interpretation when
                # known (an ICC /N 4 space with 4 operands is CMYK even if
                # a pattern name trails); arity is the fallback
                n = g.fill_cs_n
                if n is not None and len(nums) >= n:
                    nums = nums[:n]
                if len(nums) == 1:
                    rgb = _gray_to_rgb(nums[0])
                elif len(nums) == 4:
                    rgb = _cmyk_to_rgb(*nums)
                elif len(nums) == 3:
                    rgb = tuple(int(round(255 * v)) for v in nums)
                else:
                    rgb = (0, 0, 0)
                g.fill_rgb = rgb
            elif op == "m":
                self._flush_subpath()
                self._current = [mat_apply(g.ctm, args[0], args[1])]
            elif op == "l":
                self._current.append(mat_apply(g.ctm, args[0], args[1]))
            elif op in ("c", "v", "y"):
                self._bezier(op, args)
            elif op == "h":
                if self._current:
                    self._current.append(self._current[0])
            elif op == "re":
                self._flush_subpath()
                x, y, w_, h_ = args[:4]
                pts = [(x, y), (x + w_, y), (x + w_, y + h_), (x, y + h_), (x, y)]
                self._current = [mat_apply(g.ctm, px, py) for px, py in pts]
            elif op in ("S", "s", "f", "F", "f*", "B", "B*", "b", "b*", "n"):
                self._paint(op)
            elif op in ("W", "W*"):
                self._pending_clip = True
            elif op == "Do":
                self._do_xobject(args[0], depth)
            elif op in ("BI", "ID", "EI", "BMC", "BDC", "EMC", "MP", "DP", "BX", "EX", "sh", "d0", "d1"):
                pass  # recognized no-ops, matching the reference
            else:
                self.unknown_operators.add(op)
        except (IndexError, TypeError, ValueError):
            # malformed operands: reference warns and continues
            self.unknown_operators.add(f"!{op}")

    def _copy_state(self) -> GraphicsState:
        g = self.gs
        return GraphicsState(
            ctm=g.ctm,
            fill_rgb=g.fill_rgb,
            fill_cs_n=g.fill_cs_n,
            clip=g.clip,
            text=replace(g.text),
        )

    # ------------------------------------------------------------- text core
    def _show_text(self, raw: bytes) -> None:
        """Tj core (reference: text.h:308-323 -> generate_cells text.h:370-487):
        decode byte string to char codes, emit one cell per glyph, advance the
        text matrix by glyph width + spacing.

        The per-glyph cell emission is inlined with every per-call invariant
        hoisted out of the loop (no other operator can execute mid-string, so
        text state, CTM, font metrics, colors and counters are constant): the
        tm·ctm product's a-d entries, the glyph-frame y extents
        (rise + ascent/descent·fs), and the font, fill-colour and counter
        fields every cell copies. Only the product's e/f entries and the four
        corners are recomputed per glyph — same float expressions as the old
        mat_mul-per-glyph path, so coordinates stay bit-identical."""
        g = self.gs
        t = g.text
        font = t.font
        if font is None or not isinstance(raw, bytes):
            return
        fs = t.font_size
        decode_glyph = font.decode_glyph
        # Type-3 glyph space comes from /FontMatrix (width_scale); every
        # other font type is the standard 1/1000 em (division kept for
        # bit-identity with the pinned fixtures)
        ws = font.width_scale
        h_scaling = t.h_scaling
        char_spacing = t.char_spacing
        word_spacing = t.word_spacing
        # glyph-frame rect (reference: text.h:878-954): y in
        # [rise + descent/1000·fs, rise + ascent/1000·fs], width-wide;
        # through text matrix then CTM.
        y0 = t.rise + font.descent / 1000.0 * fs
        y1 = t.rise + font.ascent / 1000.0 * fs
        ta, tb, tc, td, te, tf = t.tm
        a2, b2, c2, d2, e2, f2 = g.ctm
        # mat_mul(t.tm, g.ctm) with only te/tf varying per glyph: a-d fixed
        ma = ta * a2 + tb * c2
        mb = ta * b2 + tb * d2
        mc = tc * a2 + td * c2
        md = tc * b2 + td * d2
        mcy0x = mc * y0
        mcy0y = md * y0
        mcy1x = mc * y1
        mcy1y = md * y1
        font_key = font.font_key
        font_name = font.base_font
        render_mode = t.render_mode
        fill_rgb = g.fill_rgb
        block_count = self.block_count
        instr_count = self.instr_count
        cells_append = self.cells.append
        cell_new = Cell.__new__
        for code, nbytes in font.analyse_string(raw):
            s, w, ltr = decode_glyph(code, nbytes)
            char_width = (w / 1000.0 if ws is None else w * ws) * fs * h_scaling
            spacing = char_spacing
            # word spacing applies to single-byte code 32 only (PDF 9.3.3)
            if code == 32 and nbytes == 1:
                spacing += word_spacing
            advance = char_width + spacing * h_scaling
            if s:
                e = te * a2 + tf * c2 + e2
                f = te * b2 + tf * d2 + f2
                # four corners of [(0,y0),(cw,y0),(cw,y1),(0,y1)]
                cy0x, cy0y = mcy0x + e, mcy0y + f
                cy1x, cy1y = mcy1x + e, mcy1y + f
                wx, wy = ma * char_width, mb * char_width
                # bypass the dataclass __init__ (17-kwarg parsing measured
                # ~5x the cost of direct slot sets — once per output glyph)
                cell = cell_new(Cell)
                cell.text = s
                cell.r_x0 = cy0x; cell.r_y0 = cy0y
                cell.r_x1 = wx + cy0x; cell.r_y1 = wy + cy0y
                cell.r_x2 = wx + cy1x; cell.r_y2 = wy + cy1y
                cell.r_x3 = cy1x; cell.r_y3 = cy1y
                cell.rendering_mode = render_mode
                cell.font_key = font_key
                cell.font_name = font_name
                cell.left_to_right = ltr
                cell.rgb_filling = fill_rgb
                cell.block_count = block_count
                cell.instr_count = instr_count
                cell.active = True
                cells_append(cell)
            # translate(advance,0) premultiply, specialized: only e/f change
            te = advance * ta + te
            tf = advance * tb + tf
        t.tm = (ta, tb, tc, td, te, tf)

    # ------------------------------------------------------------ path/shape
    def _bezier(self, op, args):
        if not self._current:
            self._current = [(0.0, 0.0)]
        p0 = self._current[-1]
        ctm = self.gs.ctm
        if op == "c":
            p1 = mat_apply(ctm, args[0], args[1])
            p2 = mat_apply(ctm, args[2], args[3])
            p3 = mat_apply(ctm, args[4], args[5])
        elif op == "v":
            p1 = p0
            p2 = mat_apply(ctm, args[0], args[1])
            p3 = mat_apply(ctm, args[2], args[3])
        else:  # y
            p1 = mat_apply(ctm, args[0], args[1])
            p3 = mat_apply(ctm, args[2], args[3])
            p2 = p3
        # flatten with fixed 16-step interpolation (reference flattens too:
        # pdf_states/shape.h `interpolate`)
        for i in range(1, 17):
            u = i / 16.0
            x = (1 - u) ** 3 * p0[0] + 3 * (1 - u) ** 2 * u * p1[0] + 3 * (1 - u) * u * u * p2[0] + u ** 3 * p3[0]
            y = (1 - u) ** 3 * p0[1] + 3 * (1 - u) ** 2 * u * p1[1] + 3 * (1 - u) * u * u * p2[1] + u ** 3 * p3[1]
            self._current.append((x, y))

    def _flush_subpath(self):
        if self._current:
            self._path.append(self._current)
            self._current = []

    def _path_bbox(self):
        pts = [p for sp in self._path for p in sp] + self._current
        if not pts:
            return None
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]
        return (min(xs), min(ys), max(xs), max(ys))

    def _paint(self, op):
        """Path-painting ops (reference: stream.h:989-1057). Consumes the
        pending W/W* clip (clip = intersection with path bbox — stream.h:1063-1075,
        shape.h:84-106) then emits shape items for stroked/filled paths."""
        g = self.gs
        self._flush_subpath()
        if op in ("s", "b", "b*"):  # close-then-paint variants
            for sp in self._path:
                if sp and sp[0] != sp[-1]:
                    sp.append(sp[0])
        if self._pending_clip:
            bb = self._path_bbox()
            if bb is not None:
                g.clip = bb if g.clip is None else _bbox_intersect(g.clip, bb)
            self._pending_clip = False
        stroked = op in ("S", "s", "B", "B*", "b", "b*")
        filled = op in ("f", "F", "f*", "B", "B*", "b", "b*")
        if (stroked or filled) and self._path:
            for sp in self._path:
                if len(sp) >= 2 and self._visible_bbox(_points_bbox(sp)):
                    self.shapes.append(
                        ShapeItem(
                            points=sp,
                            stroked=stroked,
                            filled=filled,
                            rgb_filling=g.fill_rgb,
                            instr_count=self.instr_count,
                        )
                    )
        self._path = []
        self._current = []

    def _visible_bbox(self, bb) -> bool:
        clip = self.gs.clip
        if clip is None or bb is None:
            return True
        inter = _bbox_intersect(clip, bb)
        return inter[2] > inter[0] and inter[3] > inter[1]

    # -------------------------------------------------------------- XObjects
    def _do_xobject(self, name: str, depth: int):
        g = self.gs
        if name in self.images:
            # unit square through CTM -> placement bbox (reference:
            # stream.h:358-372, pdf_states/bitmap.h:150-187)
            corners = [mat_apply(g.ctm, x, y) for x, y in ((0, 0), (1, 0), (1, 1), (0, 1))]
            bb = _points_bbox(corners)
            self.bitmaps.append(
                ImageItem(
                    media_ref=self.images[name],
                    x0=bb[0], y0=bb[1], x1=bb[2], y1=bb[3],
                    visible=self._visible_bbox(bb),
                    instr_count=self.instr_count,
                )
            )
        elif name in self.forms and depth < MAX_FORM_DEPTH:
            # recursive sub-interpretation with parent-chained resources
            # (reference: stream.h:374-503): q, cm(form matrix), run, Q
            form = self.forms[name]
            # run the form against a PRIVATE state stack and restore the
            # exact pre-form state afterwards: a malformed form with
            # unbalanced q (leaks entries) or Q (would pop the page's own
            # saved states) must not corrupt any later cell's CTM/text
            # state (round-4 review; the reference restores by depth,
            # stream.h:374-503)
            saved_gs = self._copy_state()
            saved_stack = self.stack
            self.stack = []
            fm = form.get("matrix")
            if fm:
                g.ctm = mat_mul(tuple(fm), g.ctm)
            self.run(form.get("ops", []), depth=depth + 1)
            self.stack = saved_stack
            self.gs = saved_gs


def _bbox_intersect(a, b):
    return (max(a[0], b[0]), max(a[1], b[1]), min(a[2], b[2]), min(a[3], b[3]))


def _points_bbox(pts):
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    return (min(xs), min(ys), max(xs), max(ys))
