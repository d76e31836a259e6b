"""Cell sanitization: overprint dedup, text normalization, word/line merge.

Re-implements the reference's sanitizer pipeline semantics (reference:
src/parse/page_item_sanitators/cells.h, src/parse/pdf_sanitators/constants.h):

* ``remove_duplicate_cells`` (cells.h:307-347): same-line window scan —
  deactivate cell j when it has the same font+text as cell i and all four
  quad corners are within eps=0.5 (bold-by-overprint dedup); the scan breaks
  once |r_y0_i - r_y0_j| > eps (same_line=true).
* ``sanitize_text`` (cells.h:349-382, constants.h:15-75): Unicode
  space/dash/quote normalization + ligature expansion.
* 3-pass merge kernel (cells.h:441-609): L2R forward, R2L backward,
  L2R with reverse adjacency; adjacency = right-edge-to-left-edge corner
  distances under a factor of the average char width; merging concatenates
  text (prepends for RTL), optionally inserts a space when the gap exceeds a
  threshold, and extends the quad.
* word cells (page.h:1824-1840, cells.h:136-182): merge factor 0.33 with
  space cells as hard barriers, then erase space cells, then dedup.
* line cells (page.h:1842-1858, cells.h:184-209): merge factor 1.0, spaces
  merge normally, a space char is inserted when the gap > 0.33 · avg width.
"""

from __future__ import annotations

import math
from bisect import bisect_right
from itertools import compress, count, repeat
from operator import add, and_, attrgetter, le, mul, ne, sub

from docling_parse_spark.pdf.interpreter import Cell

EPS_DEDUP = 0.5
WORD_FACTOR = 0.33
LINE_FACTOR = 1.0
GAP_SPACE_FACTOR = 0.33
SPACE_BARRIER_FACTOR = 2.0  # cells.h:155 — barrier factor 2×

# constants.h:15-75 normalization table (public Unicode classes)
_SPACE_VARIANTS = "              　"
_DASH_VARIANTS = "‐‑‒–—―−"
_SQUOTE_VARIANTS = "‘’‚‛‹›"
_DQUOTE_VARIANTS = "“”„‟«»"
_LIGATURES = {"ﬀ": "ff", "ﬁ": "fi", "ﬂ": "fl", "ﬃ": "ffi", "ﬄ": "ffl", "ﬅ": "st", "ﬆ": "st"}

_NORM = {}
for _c in _SPACE_VARIANTS:
    _NORM[_c] = " "
for _c in _DASH_VARIANTS:
    _NORM[_c] = "-"
for _c in _SQUOTE_VARIANTS:
    _NORM[_c] = "'"
for _c in _DQUOTE_VARIANTS:
    _NORM[_c] = '"'
_NORM.update(_LIGATURES)
_NORM_TABLE = str.maketrans(_NORM)

_LIGATURE_CHARS = set(_LIGATURES) | {"ffi", "ffl", "fi", "fl", "ff"}
# the last characters of a text that can pass the ligature test
_LIGATURE_TAILS = frozenset(_LIGATURES) | {"i", "l"}

_ACTIVE = attrgetter("active")
_TEXT = attrgetter("text")
_TEXT_FONT = attrgetter("text", "font_key")
_X0 = attrgetter("r_x0")
_CODE_MASK = (1 << 20) - 1  # text hash bits in the dedup sort key
_SPAN_LIMIT = 2.0 ** 40  # a page whose |r_x0| sum is larger takes the exact path


def sanitize_text(cells: list[Cell]) -> None:
    for c in cells:
        t = c.text
        if not t.isascii():  # the table maps non-ASCII characters only
            c.text = t.translate(_NORM_TABLE)


def remove_duplicate_cells(cells: list[Cell], eps: float = EPS_DEDUP) -> list[Cell]:
    """Same-line window scan (cells.h:307-347): in index order, each still
    active cell i deactivates every still active j > i with the same
    (text, font_key) whose r_x0, r_x1, r_y1, r_x2, r_y2, r_x3 and r_y3 are
    within eps of i's, provided no cell between them (inactive ones
    included) has |r_y0 - r_y0_i| > eps: the window closes at the first
    such cell.

    Reject first: only a same-key pair within eps in x can deactivate
    anything, and on most pages the repeated glyphs (every 'e' of a page
    shares one key) lie far apart. Sorting the float ``code · w + r_x0``,
    where code is a hash of the text and w exceeds twice the largest
    |r_x0|, keeps each code's cells together and in x order, so every such
    pair shows up as a small gap between neighbours; a page without one
    returns after a few C-level passes. Only the neighbours around a small
    gap get the exact tests, and only the pairs that pass them go through
    the window logic."""
    act = _active(cells)
    m = len(act)
    if m < 2:
        return act
    xs = list(map(_X0, act))
    inv = 1.0 / eps
    span = sum(map(abs, xs))
    if span * inv < _SPAN_LIMIT:  # all finite, none huge
        codes = list(map(and_, map(hash, map(_TEXT, act)), repeat(_CODE_MASK)))
        w = 2.0 ** (int(span).bit_length() + 2)
        enc = list(map(add, map(mul, codes, repeat(w)), xs))
        # rounding in ``enc`` moves a gap by a few ulps of its magnitude
        slack = ((_CODE_MASK + 1) * w + span) * 2.0 ** -48
        ends = sorted(enc)
        cand = list(compress(range(1, m), map(le, map(sub, ends[1:], ends), repeat(eps + 3 * slack))))
        if not cand:
            return act
        order = sorted(range(m), key=enc.__getitem__)
        lim = eps + slack
    else:  # a non-finite or huge r_x0: exact key ids and order, checked everywhere
        ids: dict = {}
        codes = list(map(ids.setdefault, map(_TEXT_FONT, act), count()))
        order = sorted(_finite_x_positions(codes, xs, inv), key=lambda k: (codes[k], xs[k]))
        cand = range(1, len(order))
        lim = eps
    pairs = []
    for q in cand:
        k = order[q]
        code = codes[k]
        x = xs[k]
        c = act[k]
        key = (c.text, c.font_key)
        p = q - 1
        while p >= 0:
            k2 = order[p]
            x2 = xs[k2]
            if codes[k2] != code or x - x2 > lim:
                break
            o = act[k2]
            if (
                abs(x - x2) <= eps
                and abs(c.r_x1 - o.r_x1) <= eps
                and abs(c.r_y1 - o.r_y1) <= eps
                and abs(c.r_x2 - o.r_x2) <= eps
                and abs(c.r_y2 - o.r_y2) <= eps
                and abs(c.r_x3 - o.r_x3) <= eps
                and abs(c.r_y3 - o.r_y3) <= eps
                and (o.text, o.font_key) == key
            ):
                pairs.append((k2, k) if k2 < k else (k, k2))
            p -= 1
    if not pairs:
        return act
    _deactivate_within_window(cells, act, pairs, eps)
    return [c for c in act if c.active]


def _finite_x_positions(key_ids: list[int], xs: list[float], inv: float) -> list[int]:
    """Positions whose r_x0 · (1/eps) is finite. The bucketed scan this
    kernel replaced took ``int(r_x0 / eps)`` of every cell whose key
    repeats, so such a cell with a non-finite product fails the page with
    the same error, raised here for the first one in index order; a cell
    with a unique key can never pair and is only left out."""
    seen: dict[int, int] = {}
    for t in key_ids:
        seen[t] = seen.get(t, 0) + 1
    keep = []
    for k, x in enumerate(xs):
        if math.isfinite(x * inv):
            keep.append(k)
        elif seen[key_ids[k]] > 1:
            int(x * inv)  # ValueError (NaN) / OverflowError (inf)
    return keep


def _deactivate_within_window(cells: list[Cell], act: list[Cell], pairs: list[tuple[int, int]], eps: float) -> None:
    """Apply the candidate pairs (positions in ``act``, lo < hi) in index
    order. The window of cell i ends at the first later cell of ``cells``
    whose r_y0 is more than eps from r_y0_i; cells sharing a r_y0 with
    their predecessor form one run, so the search steps run by run."""
    n = len(cells)
    if len(act) == n:
        pos = range(n)
    else:
        pos = [i for i, c in enumerate(cells) if c.active]
    ys = [c.r_y0 for c in cells]
    # run starts: index 0 and every cell whose r_y0 differs from the one
    # before it (NaN differs from everything, as in the old run split)
    starts = [0]
    starts += compress(range(1, n), map(ne, ys[1:], ys))
    ends: dict[int, int] = {}
    pairs.sort()
    for lo, hi in pairs:
        a, b = act[lo], act[hi]
        if not a.active or not b.active:
            continue
        i = pos[lo]
        end = ends.get(i)
        if end is None:
            yi = ys[i]
            end = n
            for r in range(bisect_right(starts, i), len(starts)):
                s = starts[r]
                if abs(yi - ys[s]) > eps:
                    end = s
                    break
            ends[i] = end
        if pos[hi] < end:
            b.active = False


def _pair_avg_char_width(a: Cell, b: Cell) -> float:
    total_w = a.width() + b.width()
    total_n = max(1, len(a.text) + len(b.text))
    return total_w / total_n


def _ends_with_ligature(c: Cell) -> bool:
    return bool(c.text) and (c.text[-1] in _LIGATURE_CHARS or c.text.endswith(("ffi", "ffl")))


def _adjacent(a: Cell, b: Cell, factor: float) -> bool:
    """b continues a to the right: dist(bottom-right(a), bottom-left(b)) < ε0
    and dist(top-right(a), top-left(b)) < ε1 (cells.h:441-609); ε relaxed 2×
    after a ligature. Compares squared distances (equivalent for nonnegative
    operands) to skip two sqrt calls in the hottest merge predicate; the
    pair-average-width is inlined for the same reason."""
    wx = a.r_x1 - a.r_x0
    wy = a.r_y1 - a.r_y0
    vx = b.r_x1 - b.r_x0
    vy = b.r_y1 - b.r_y0
    total_n = len(a.text) + len(b.text)
    avg = (math.sqrt(wx * wx + wy * wy) + math.sqrt(vx * vx + vy * vy)) / (
        total_n if total_n > 1 else 1
    )
    eps = avg * factor
    dx = b.r_x0 - a.r_x1
    dy = b.r_y0 - a.r_y1
    if dx * dx + dy * dy >= eps * eps:
        return False
    eps1 = eps * (2.0 if _ends_with_ligature(a) else 1.0)
    dx = b.r_x3 - a.r_x2
    dy = b.r_y3 - a.r_y2
    return dx * dx + dy * dy < eps1 * eps1


def _merge_into(a: Cell, b: Cell, gap_space_factor: float | None) -> None:
    """Merge b into a (b follows a in reading direction)."""
    sep = ""
    if gap_space_factor is not None:
        # the gap distance only feeds the space-insertion test — skip the
        # two tuple allocs + dist on the (word) pass that never inserts
        gap = math.dist((a.r_x1, a.r_y1), (b.r_x0, b.r_y0))
        if gap > gap_space_factor * _pair_avg_char_width(a, b):
            sep = " "
    if a.left_to_right or b.left_to_right:
        if sep:
            a.text = a.text + sep + b.text
        else:
            a.text = a.text + b.text
    else:
        a.text = b.text + sep + a.text  # RTL prepend (cells.h merge, string.h:316-338)
    # extend quad: keep a's left edge, adopt b's right edge; widen verticals
    a.r_x1, a.r_y1 = b.r_x1, b.r_y1
    a.r_x2, a.r_y2 = b.r_x2, b.r_y2
    a.r_y0 = min(a.r_y0, b.r_y0)
    a.r_y3 = max(a.r_y3, b.r_y3)
    a.instr_count = min(a.instr_count, b.instr_count)
    b.active = False


def _merge_pass_forward(cells: list[Cell], factor: float, block_spaces: bool, gap_space_factor: float | None) -> bool:
    """L2R forward pass: each active cell greedily absorbs its successor while
    adjacent; break on first failure (order-sensitive by design).

    One loop: the adjacency predicate (same float expressions as
    :func:`_adjacent`) and the merge (as :func:`_merge_into`) are inlined,
    and the growing cell's text and geometry live in locals that are
    written back once when its run ends. Every cell the run passed over is
    inactive afterwards, so the scan resumes at the cell that ended it.

    The word pass's space-barrier cap (``SPACE_BARRIER_FACTOR``) is not
    tested: the cap is ``avg * 2·factor``, at least eps in size, so a gap
    beyond it fails the eps test as well."""
    changed = False
    n = len(cells)
    sqrt = math.sqrt
    dist = math.dist
    ligatures = _LIGATURE_CHARS
    tails = _LIGATURE_TAILS
    i = 0
    while i < n:
        a = cells[i]
        if not a.active or (block_spaces and not a.text.strip()):
            i += 1
            continue
        a_font = a.font_key
        a_ltr = a.left_to_right
        a_text = a.text
        a_len = len(a_text)
        a_x0 = a.r_x0
        a_y0 = a.r_y0
        a_x1 = a.r_x1
        a_y1 = a.r_y1
        a_x2 = a.r_x2
        a_y2 = a.r_y2
        a_y3 = a.r_y3
        a_instr = a.instr_count
        wx = a_x1 - a_x0
        wy = a_y1 - a_y0
        wa = sqrt(wx * wx + wy * wy)
        a_lig = a_text[-1:] in tails and (a_text[-1] in ligatures or a_text.endswith(("ffi", "ffl")))
        merged = False
        j = i + 1
        while j < n:
            b = cells[j]
            if not b.active:
                j += 1
                continue
            b_text = b.text
            if block_spaces and not b_text.strip():
                break  # space is a hard barrier for word merging
            if a_font != b.font_key:
                break
            b_x0 = b.r_x0
            b_y0 = b.r_y0
            b_x1 = b.r_x1
            b_y1 = b.r_y1
            vx = b_x1 - b_x0
            vy = b_y1 - b_y0
            total_n = a_len + len(b_text)
            avg = (wa + sqrt(vx * vx + vy * vy)) / (total_n if total_n > 1 else 1)
            eps = avg * factor
            dx = b_x0 - a_x1
            dy = b_y0 - a_y1
            if dx * dx + dy * dy >= eps * eps:
                break
            eps1 = eps * 2.0 if a_lig else eps
            dx = b.r_x3 - a_x2
            dy = b.r_y3 - a_y2
            if dx * dx + dy * dy >= eps1 * eps1:
                break
            # adjacency holds: merge b into the run
            ltr = a_ltr or b.left_to_right
            if gap_space_factor is not None and dist((a_x1, a_y1), (b_x0, b_y0)) > gap_space_factor * avg:
                b_text = " " + b_text if ltr else b_text + " "
            a_text = a_text + b_text if ltr else b_text + a_text  # RTL prepends
            a_len = len(a_text)
            a_x1 = b_x1
            a_y1 = b_y1
            a_x2 = b.r_x2
            a_y2 = b.r_y2
            if b_y0 < a_y0:
                a_y0 = b_y0
            b_y3 = b.r_y3
            if b_y3 > a_y3:
                a_y3 = b_y3
            b_instr = b.instr_count
            if b_instr < a_instr:
                a_instr = b_instr
            b.active = False
            merged = True
            wx = a_x1 - a_x0
            wy = a_y1 - a_y0
            wa = sqrt(wx * wx + wy * wy)
            a_lig = a_text[-1:] in tails and (a_text[-1] in ligatures or a_text.endswith(("ffi", "ffl")))
            j += 1
        if merged:
            a.text = a_text
            a.r_x1 = a_x1
            a.r_y1 = a_y1
            a.r_x2 = a_x2
            a.r_y2 = a_y2
            a.r_y0 = a_y0
            a.r_y3 = a_y3
            a.instr_count = a_instr
            changed = True
            i = j
        else:
            i += 1
    return changed


def _merge_pass_backward_rtl(cells: list[Cell], factor: float) -> bool:
    """R2L backward pass: successive RTL cells advance leftward in content
    order — adjacency is left-edge(a) to right-edge(b)."""
    changed = False
    n = len(cells)
    for i in range(n):
        a = cells[i]
        if not a.active or a.left_to_right:
            continue
        for j in range(i + 1, n):
            b = cells[j]
            if not b.active:
                continue
            if b.left_to_right:
                break
            eps = _pair_avg_char_width(a, b) * factor
            d_bottom = math.dist((a.r_x0, a.r_y0), (b.r_x1, b.r_y1))
            d_top = math.dist((a.r_x3, a.r_y3), (b.r_x2, b.r_y2))
            if a.font_key == b.font_key and d_bottom < eps and d_top < eps:
                # b is geometrically to the left: text order b + a
                a.text = a.text + b.text  # logical order: a was emitted first
                a.r_x0, a.r_y0 = b.r_x0, b.r_y0
                a.r_x3, a.r_y3 = b.r_x3, b.r_y3
                b.active = False
                changed = True
            else:
                break
    return changed


def _merge_pass_reverse_adjacency(cells: list[Cell], factor: float, gap_space_factor: float | None) -> bool:
    """Third pass: successor j that geometrically PRECEDES i (emitted out of
    order) — merge i after j."""
    changed = False
    n = len(cells)
    for i in range(n):
        a = cells[i]
        if not a.active:
            continue
        for j in range(i + 1, n):
            b = cells[j]
            if not b.active:
                continue
            if a.font_key == b.font_key and _adjacent(b, a, factor):
                _merge_into(b, a, gap_space_factor)
                # b now holds merged text but sits later in the list; swap
                # content into a's slot to preserve emission order
                cells[i], cells[j] = cells[j], cells[i]
                changed = True
            break  # only the immediate next active cell (break-on-first)
    return changed


def merge_cells(
    cells: list[Cell],
    factor: float,
    block_spaces: bool = False,
    gap_space_factor: float | None = None,
) -> list[Cell]:
    """The 3-pass contraction (cells.h:441-609). Mutates and compacts."""
    work = _active(cells)
    _merge_pass_forward(work, factor, block_spaces, gap_space_factor)
    work = _active(work)
    _merge_pass_backward_rtl(work, factor)
    work = _active(work)
    _merge_pass_reverse_adjacency(work, factor, gap_space_factor)
    return _active(work)


def _active(cells: list[Cell]) -> list[Cell]:
    return list(compress(cells, map(_ACTIVE, cells)))


def create_word_cells(char_cells: list[Cell], copy: bool = True) -> list[Cell]:
    """page.h:1824-1840: merge with factor 0.33, spaces as hard barriers,
    erase space cells, dedup. ``copy=False`` lets a caller that owns the char
    cells (and never reads them again — decode_page) skip the defensive
    clone of every glyph cell."""
    work = [c.clone() for c in char_cells if c.active] if copy else char_cells
    merged = merge_cells(work, WORD_FACTOR, block_spaces=True, gap_space_factor=None)
    return remove_duplicate_cells([c for c in merged if c.text.strip()])


def create_line_cells(char_cells: list[Cell], copy: bool = True) -> list[Cell]:
    """page.h:1842-1858: merge factor 1.0, inject ' ' when gap > 0.33·avg."""
    work = [c.clone() for c in char_cells if c.active] if copy else char_cells
    merged = merge_cells(work, LINE_FACTOR, block_spaces=False, gap_space_factor=GAP_SPACE_FACTOR)
    return [c for c in merged if c.text.strip()]


# ---------------------------------------------------------------- rotation


def rotate_cells(cells: list[Cell], rotate: int, width: float, height: float) -> None:
    """Map items into upright coordinates when /Rotate != 0 (multiples of 90;
    reference: page.h:1755-1781, page_cell.h:160-180)."""
    rotate = rotate % 360
    if rotate == 0:
        return

    def rot(x, y):
        if rotate == 90:
            return (y, width - x)
        if rotate == 180:
            return (width - x, height - y)
        return (height - y, x)  # 270

    for c in cells:
        pts = [rot(c.r_x0, c.r_y0), rot(c.r_x1, c.r_y1), rot(c.r_x2, c.r_y2), rot(c.r_x3, c.r_y3)]
        (c.r_x0, c.r_y0), (c.r_x1, c.r_y1), (c.r_x2, c.r_y2), (c.r_x3, c.r_y3) = pts


def rotate_bbox(x0, y0, x1, y1, rotate: int, width: float, height: float):
    rotate = rotate % 360
    if rotate == 0:
        return (x0, y0, x1, y1)
    if rotate == 90:
        pts = [(y0, width - x0), (y1, width - x1)]
    elif rotate == 180:
        pts = [(width - x0, height - y0), (width - x1, height - y1)]
    else:
        pts = [(height - y0, x0), (height - y1, x1)]
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    return (min(xs), min(ys), max(xs), max(ys))
