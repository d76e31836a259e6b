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


def sanitize_text(cells: list[Cell]) -> None:
    for c in cells:
        c.text = c.text.translate(_NORM_TABLE)


def remove_duplicate_cells(cells: list[Cell], eps: float = EPS_DEDUP) -> list[Cell]:
    """Semantics identical to the naive same-line window scan (deactivate j>i
    when text+font equal and all quad corners within eps, scanning until the
    first j with |y0_i - y0_j| > eps), but organized as consecutive
    exactly-equal-y runs with per-run x-buckets: a line of k glyphs costs
    ~O(k) bucket probes instead of O(k²) pair checks — this was the hottest
    page-finish kernel (the ``dedup`` stage key). Deactivations are
    independent and idempotent, so probing candidates bucket-first instead of
    index-order yields the same final active set."""
    n = len(cells)
    if n < 2:
        return [c for c in cells if c.active]
    # intern (text, font_key) to small ints: deactivation requires text+font
    # equality, so cells whose key is unique can neither deactivate nor be
    # deactivated — the common duplicate-free page returns after one dict
    # pass, and the bucket key below carries the id so probes only ever see
    # true same-text candidates (no string compares in the inner loop)
    key_ids: dict = {}
    tids = [-1] * n
    counts: list[int] = []
    any_dup = False
    for i, c in enumerate(cells):
        if not c.active:
            continue
        k = (c.text, c.font_key)
        t = key_ids.get(k)
        if t is None:
            key_ids[k] = len(counts)
            tids[i] = len(counts)
            counts.append(1)
        else:
            counts[t] += 1
            tids[i] = t
            any_dup = True
    if not any_dup:
        return [c for c in cells if c.active]
    ys = [c.r_y0 for c in cells]
    xs = [c.r_x0 for c in cells]
    # consecutive exactly-equal-y runs (glyphs on one baseline share the
    # float bit pattern); windows are evaluated once per RUN, not per cell
    runs: list[tuple[int, int, float]] = []
    run_of = [0] * n
    s = 0
    for i in range(1, n + 1):
        if i == n or ys[i] != ys[s]:
            runs.append((s, i, ys[s]))
            r = len(runs) - 1
            for j in range(s, i):
                run_of[j] = r
            s = i
    inv = 1.0 / eps
    # flat int bucket keys (x-bucket * K + tid): neighbor buckets are then
    # just key +- K — pure int hashing, no tuple alloc per probe
    K = len(counts)
    buckets: list[dict[int, list[int]]] = []
    for a, b, _y in runs:
        d: dict[int, list[int]] = {}
        for j in range(a, b):
            t = tids[j]
            if t >= 0 and counts[t] > 1:
                d.setdefault(int(xs[j] * inv) * K + t, []).append(j)
        buckets.append(d)
    n_runs = len(runs)
    for i in range(n):
        ti_id = tids[i]
        if ti_id < 0 or counts[ti_id] < 2:
            continue
        ci = cells[i]
        if not ci.active:
            continue
        xi = xs[i]
        yi = ys[i]
        kb = int(xi * inv) * K + ti_id
        for rj in range(run_of[i], n_runs):
            if abs(yi - runs[rj][2]) > eps:
                break  # same-line window closed (run ys are exact)
            d = buckets[rj]
            for key in (kb - K, kb, kb + K):
                for j in d.get(key, ()):
                    if j <= i:
                        continue
                    cj = cells[j]
                    if not cj.active:
                        continue
                    # tid equality already implies text + font_key equality
                    if (
                        abs(xi - xs[j]) <= eps
                        and abs(ci.r_x1 - cj.r_x1) <= eps
                        and abs(ci.r_y1 - cj.r_y1) <= eps
                        and abs(ci.r_x2 - cj.r_x2) <= eps
                        and abs(ci.r_y2 - cj.r_y2) <= eps
                        and abs(ci.r_x3 - cj.r_x3) <= eps
                        and abs(ci.r_y3 - cj.r_y3) <= eps
                    ):
                        cj.active = False
    return [c for c in cells if c.active]


def _pair_avg_char_width(a: Cell, b: Cell) -> float:
    total_w = a.width() + b.width()
    total_n = max(1, len(a.text) + len(b.text))
    return total_w / total_n


def _is_space_cell(c: Cell) -> bool:
    return c.text.strip() == ""


def _ends_with_ligature(c: Cell) -> bool:
    return bool(c.text) and (c.text[-1] in _LIGATURE_CHARS or c.text.endswith(("ffi", "ffl")))


def _adjacent(a: Cell, b: Cell, factor: float, max_factor: float | None = None) -> bool:
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
    d_bottom2 = dx * dx + dy * dy
    if max_factor is not None:
        cap = avg * max_factor
        if d_bottom2 > cap * cap:
            return False
    if d_bottom2 >= eps * eps:
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

    The adjacency predicate is inlined (same float expressions as
    :func:`_adjacent`, which the other passes still use) with a's geometry
    cached in locals across the inner loop — a's right edge, diagonal
    length and text length only change when a merge succeeds, so the scan
    of a long word re-derives them once per merge instead of once per
    probe. Bit-identical decisions: the cached values are the same floats
    the per-call recomputation produced."""
    changed = False
    n = len(cells)
    max_f = SPACE_BARRIER_FACTOR * factor if block_spaces else None
    sqrt = math.sqrt
    i = 0
    while i < n:
        a = cells[i]
        if not a.active or (block_spaces and not a.text.strip()):
            i += 1
            continue
        # a-side cache (refreshed after each successful merge)
        a_font = a.font_key
        wx = a.r_x1 - a.r_x0
        wy = a.r_y1 - a.r_y0
        wa = sqrt(wx * wx + wy * wy)
        a_len = len(a.text)
        a_x1 = a.r_x1
        a_y1 = a.r_y1
        a_x2 = a.r_x2
        a_y2 = a.r_y2
        a_lig = _ends_with_ligature(a)
        j = i + 1
        while j < n:
            b = cells[j]
            if not b.active:
                j += 1
                continue
            if block_spaces and not b.text.strip():
                break  # space is a hard barrier for word merging
            if a_font != b.font_key:
                break
            # --- inlined _adjacent(a, b, factor, max_f) ---
            vx = b.r_x1 - b.r_x0
            vy = b.r_y1 - b.r_y0
            total_n = a_len + len(b.text)
            avg = (wa + sqrt(vx * vx + vy * vy)) / (
                total_n if total_n > 1 else 1
            )
            eps = avg * factor
            dx = b.r_x0 - a_x1
            dy = b.r_y0 - a_y1
            d_bottom2 = dx * dx + dy * dy
            if max_f is not None:
                cap = avg * max_f
                if d_bottom2 > cap * cap:
                    break
            if d_bottom2 >= eps * eps:
                break
            eps1 = eps * (2.0 if a_lig else 1.0)
            dx = b.r_x3 - a_x2
            dy = b.r_y3 - a_y2
            if dx * dx + dy * dy >= eps1 * eps1:
                break
            # --- adjacency holds: merge and refresh the a-cache ---
            _merge_into(a, b, gap_space_factor)
            changed = True
            wx = a.r_x1 - a.r_x0
            wy = a.r_y1 - a.r_y0
            wa = sqrt(wx * wx + wy * wy)
            a_len = len(a.text)
            a_x1 = a.r_x1
            a_y1 = a.r_y1
            a_x2 = a.r_x2
            a_y2 = a.r_y2
            a_lig = _ends_with_ligature(a)
            j += 1
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
    work = [c for c in cells if c.active]
    _merge_pass_forward(work, factor, block_spaces, gap_space_factor)
    work = [c for c in work if c.active]
    _merge_pass_backward_rtl(work, factor)
    work = [c for c in work if c.active]
    _merge_pass_reverse_adjacency(work, factor, gap_space_factor)
    return [c for c in work if c.active]


def _clone(c: Cell) -> Cell:
    return c.clone()


def create_word_cells(char_cells: list[Cell], copy: bool = True) -> list[Cell]:
    """page.h:1824-1840: merge with factor 0.33, spaces as hard barriers,
    erase space cells, dedup. ``copy=False`` lets a caller that owns the char
    cells (and never reads them again — decode_page) skip the defensive
    clone of every glyph cell."""
    work = [_clone(c) for c in char_cells if c.active] if copy else [
        c for c in char_cells if c.active
    ]
    merged = merge_cells(work, WORD_FACTOR, block_spaces=True, gap_space_factor=None)
    merged = [c for c in merged if not _is_space_cell(c)]
    return remove_duplicate_cells(merged)


def create_line_cells(char_cells: list[Cell], copy: bool = True) -> list[Cell]:
    """page.h:1842-1858: merge factor 1.0, inject ' ' when gap > 0.33·avg."""
    work = [_clone(c) for c in char_cells if c.active] if copy else [
        c for c in char_cells if c.active
    ]
    merged = merge_cells(work, LINE_FACTOR, block_spaces=False, gap_space_factor=GAP_SPACE_FACTOR)
    return [c for c in merged if c.text.strip() != ""]


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
