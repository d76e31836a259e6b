"""Reference kernels for the differential tests: the overprint dedup, the
forward word-merge pass and the content-stream lexer exactly as they were
before the reject-first dedup, the one-loop merge and the master-regex
lexer replaced them. Kept verbatim (only the imports are gathered here);
``tests/test_kernel_reference.py`` holds the package kernels equal to them.
"""

from __future__ import annotations

import math
import re

from docling_parse_spark.pdf.interpreter import Cell
from docling_parse_spark.pdf.sanitize import (
    _LIGATURE_CHARS,
    EPS_DEDUP,
    SPACE_BARRIER_FACTOR,
)


# ------------------------------------------------- dedup (bucketed scan)


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



# ------------------------------------------------- forward merge pass


def _pair_avg_char_width(a: Cell, b: Cell) -> float:
    total_w = a.width() + b.width()
    total_n = max(1, len(a.text) + len(b.text))
    return total_w / total_n


def _ends_with_ligature(c: Cell) -> bool:
    return bool(c.text) and (c.text[-1] in _LIGATURE_CHARS or c.text.endswith(("ffi", "ffl")))



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



# ------------------------------------------------- lexer + tokenize


_WHITESPACE = b"\x00\t\n\x0c\r "
_DELIMS = b"()<>[]{}/%"
# C-level scanners for the hottest per-byte loops (identical byte classes):
# whitespace runs + %-comments-to-EOL, and bare tokens (non-ws, non-delim)
_WS_RE = re.compile(rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)+")
_HEX_DIGITS = frozenset(b"0123456789abcdefABCDEF")
_BARE_RE = re.compile(rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]+")
_NUM_RE = re.compile(rb"^[+-]?(\d+\.?\d*|\.\d+)$")
# a token that is number-shaped except for embedded '-' signs
_MALFORMED_NUM_RE = re.compile(rb"^[+-]{0,2}(\d+\.?\d*|\.\d+)(-+(\d+\.?\d*|\.\d+))+$")
_LEADING_MINUS_RE = re.compile(rb"^-{2,}((\d+\.?\d*|\.\d+))$")

_ESCAPES = {
    ord("n"): b"\n",
    ord("r"): b"\r",
    ord("t"): b"\t",
    ord("b"): b"\b",
    ord("f"): b"\x0c",
    ord("("): b"(",
    ord(")"): b")",
    ord("\\"): b"\\",
}


class Lexer:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.n = len(data)

    def _skip_ws(self) -> None:
        m = _WS_RE.match(self.data, self.pos)
        if m:
            self.pos = m.end()

    def next_token(self):
        """Return (kind, value) or None at EOF.

        kinds: num (float), str (bytes), name (str), kw (bytes),
               arr_open/arr_close/dict_open/dict_close (None).
        Malformed run-together numbers are returned as kind 'nums' with a
        list of floats (the repair path). Iterative (never recursive): the
        loop re-enters after skipping noise bytes. Single-method dispatch
        (the old next_token/_next_token_once split cost one extra call +
        a skip-tuple compare per token on the hottest decode loop)."""
        d = self.data
        n = self.n
        pos = self.pos
        while True:
            m = _WS_RE.match(d, pos)
            if m:
                pos = m.end()
            if pos >= n:
                self.pos = pos
                return None
            c = d[pos]
            if c == 40:  # (
                self.pos = pos
                return ("str", self._literal_string())
            if c == 60:  # <
                if pos + 1 < n and d[pos + 1] == 60:
                    self.pos = pos + 2
                    return ("dict_open", None)
                self.pos = pos
                return ("str", self._hex_string())
            if c == 62:  # >
                if pos + 1 < n and d[pos + 1] == 62:
                    self.pos = pos + 2
                    return ("dict_close", None)
                pos += 1  # stray '>' — drop
                continue
            if c == 91:  # [
                self.pos = pos + 1
                return ("arr_open", None)
            if c == 93:  # ]
                self.pos = pos + 1
                return ("arr_close", None)
            if c == 47:  # /
                self.pos = pos
                return ("name", self._name())
            if c == 123 or c == 125 or c == 41:  # braces / stray ')' — skip
                pos += 1
                continue
            # bare token: number, keyword, or operator
            m = _BARE_RE.match(d, pos)
            if m is None:  # lone delimiter byte that no branch consumed
                pos += 1
                continue
            tok = m.group()
            self.pos = m.end()
            if _NUM_RE.match(tok):
                return ("num", float(tok))
            m = _LEADING_MINUS_RE.match(tok)
            if m:  # '--12.3' -> -12.3
                return ("num", -float(m.group(1)))
            if _MALFORMED_NUM_RE.match(tok):  # '1.23-45' -> [1.23, -45.0]
                return ("nums", _split_run_together(tok))
            return ("kw", tok)

    def _literal_string(self) -> bytes:
        # '(' already at pos; balanced parens, backslash escapes (PDF §7.3.4.2)
        d, n = self.data, self.n
        self.pos += 1
        depth = 1
        out = bytearray()
        while self.pos < n:
            c = d[self.pos]
            if c == 92:  # backslash
                self.pos += 1
                if self.pos >= n:
                    break
                e = d[self.pos]
                if e in _ESCAPES:
                    out += _ESCAPES[e]
                    self.pos += 1
                elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                    oct_digits = bytearray()
                    while self.pos < n and len(oct_digits) < 3 and 0x30 <= d[self.pos] <= 0x37:
                        oct_digits.append(d[self.pos])
                        self.pos += 1
                    out.append(int(bytes(oct_digits), 8) & 0xFF)
                elif e in (10, 13):  # line continuation
                    self.pos += 1
                    if e == 13 and self.pos < n and d[self.pos] == 10:
                        self.pos += 1
                else:  # unknown escape: keep the char
                    out.append(e)
                    self.pos += 1
            elif c == 40:  # (
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 41:  # )
                depth -= 1
                self.pos += 1
                if depth == 0:
                    break
                out.append(c)
            else:
                out.append(c)
                self.pos += 1
        return bytes(out)

    def _hex_string(self) -> bytes:
        d, n = self.data, self.n
        self.pos += 1  # '<'
        digits = bytearray()
        while self.pos < n and d[self.pos] != 62:  # >
            c = d[self.pos]
            if c in b"0123456789abcdefABCDEF":
                digits.append(c)
            # non-hex bytes inside a hex string are dropped (malformed input)
            self.pos += 1
        self.pos += 1  # '>'
        if len(digits) % 2:
            digits.append(ord("0"))  # PDF: odd count padded with 0
        return bytes.fromhex(digits.decode("ascii"))

    def _name(self) -> str:
        d = self.data
        self.pos += 1  # '/'
        m = _BARE_RE.match(d, self.pos)
        raw = m.group() if m else b""
        if m:
            self.pos = m.end()
        # #xx hex escapes in names (PDF §7.3.5)
        if b"#" in raw:
            out = bytearray()
            i = 0
            while i < len(raw):
                # PDF 7.3.5: exactly two hex digits; a truncated escape at
                # end-of-name stays literal
                if (raw[i] == ord("#") and i + 2 < len(raw)
                        and raw[i + 1] in _HEX_DIGITS and raw[i + 2] in _HEX_DIGITS):
                    # strict two-hex-digit check: int(b'+4', 16) would
                    # accept sign characters (r4 review)
                    out.append(int(raw[i + 1 : i + 3], 16))
                    i += 3
                    continue
                out.append(raw[i])
                i += 1
            raw = bytes(out)
        return raw.decode("utf-8", "replace")


def _split_run_together(tok: bytes) -> list[float]:
    """'1.23-45-6' -> [1.23, -45.0, -6.0]; leading sign kept on the first."""
    s = tok.decode("ascii")
    # collapse any leading '-' run to one
    sign = ""
    i = 0
    while i < len(s) and s[i] in "+-":
        if s[i] == "-":
            sign = "-"
        i += 1
    body = s[i:]
    parts = body.split("-")
    out = [float(sign + parts[0])]
    out.extend(-float(p) for p in parts[1:] if p)
    return out


def tokenize(data: bytes) -> list[tuple[str, list]]:
    """Tokenize a content stream into [(operator, operands), ...].

    Inline-image payloads are skipped: ``BI``/``ID``/``EI`` are emitted as
    bare operators with no operands so the interpreter can no-op them exactly
    like the reference (stream.h:779-795).
    """
    lex = Lexer(data)
    next_token = lex.next_token
    instructions: list[tuple[str, list]] = []
    operands: list = []
    stack: list[list] = []  # open arrays/dict-item lists
    # hot path first (num/str/name operands, then operators); emit_value is
    # inlined — the closure call per operand was measurable in the decode loop
    while True:
        tok = next_token()
        if tok is None:
            break
        kind, val = tok
        if kind == "num" or kind == "str" or kind == "name":
            (stack[-1] if stack else operands).append(val)
        elif kind == "kw":
            if val == b"true":
                (stack[-1] if stack else operands).append(True)
            elif val == b"false":
                (stack[-1] if stack else operands).append(False)
            elif val == b"null":
                # reference: null params -> [] (stream_decoder.h:120-124)
                (stack[-1] if stack else operands).append([])
            else:
                op = val.decode("latin-1")
                if op == "ID":
                    # skip binary inline-image payload to the EI delimiter
                    instructions.append(("ID", []))
                    _skip_inline_image(lex)
                    instructions.append(("EI", []))
                    operands = []
                    continue
                instructions.append((op, operands))
                operands = []
        elif kind == "nums":
            for v in val:
                (stack[-1] if stack else operands).append(v)
        elif kind == "arr_open" or kind == "dict_open":
            stack.append([("__dict__",)] if kind == "dict_open" else [])
        elif kind == "arr_close":
            if stack:
                v = stack.pop()
                (stack[-1] if stack else operands).append(v)
        elif kind == "dict_close":
            if stack:
                items = stack.pop()
                items = [x for x in items if x != ("__dict__",)]
                d = {}
                for k, v in zip(items[0::2], items[1::2]):
                    try:
                        d[k] = v
                    except TypeError:
                        # malformed dict with a non-name (unhashable) key:
                        # skip the pair, keep the page (r4 review — the
                        # tokenizer repairs garbage everywhere else)
                        continue
                (stack[-1] if stack else operands).append(d)
    return instructions


def _skip_inline_image(lex: Lexer) -> None:
    d, n = lex.data, lex.n
    i = lex.pos + 1  # one whitespace byte follows ID
    relaxed = None
    while i + 1 < n:
        if d[i] == ord("E") and d[i + 1] == ord("I"):
            before_ok = i == 0 or d[i - 1] in _WHITESPACE
            after_ok = i + 2 >= n or d[i + 2] in _WHITESPACE
            if before_ok and after_ok:
                lex.pos = i + 2
                return
            if after_ok and relaxed is None:
                relaxed = i + 2  # binary ran flush into EI
        i += 1
    lex.pos = relaxed if relaxed is not None else n
