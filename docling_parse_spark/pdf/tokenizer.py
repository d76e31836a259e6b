"""PDF content-stream tokenizer.

Produces the typed instruction list ``[(operator, [operands...]), ...]`` that the
interpreter consumes — the same IR as the reference's
``vector<qpdf_stream_instruction>`` (reference: src/parse/qpdf/stream_decoder.h:61-177,
src/parse/qpdf/stream_instruction.h). The reference delegates lexing to qpdf's
``parseContentStream``; we lex PDF content-stream syntax directly (PDF 32000-1:2008
§7.2/§7.8.2): numbers, literal/hex strings, names, arrays, dicts, booleans, null,
comments, and inline-image payload skipping.

Malformed-number repair (reference: stream_decoder.h:45-47,125-174):
PDF generators in the wild emit run-together numbers like ``1.23-45`` (two
numbers) or ``--12.3`` (doubled sign). Rules reproduced here:

* a numeric token with an embedded ``-`` at position > 0 is split at every
  internal ``-``; the ``-`` signs the following number: ``1.23-45`` -> 1.23, -45
* a leading run of ``-`` collapses to one sign: ``--12.3`` -> -12.3
* ``null`` operands are reinterpreted as empty arrays (stream_decoder.h:120-124)

Operand value mapping: numbers -> float, strings -> bytes, names -> str (no
leading slash), arrays -> list, dicts -> dict, booleans -> bool, null -> [].
"""

from __future__ import annotations

import re

# The stream is lexed as latin-1 text, one character per byte: operators
# come out as ``str`` with no per-token decode, and byte strings are
# encoded back with the same codec.
_BARE = r"[^\x00\t\n\x0c\r ()<>\[\]{}/%]"  # a byte of a bare token
_NUMBER = r"[+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+)"
# Skipped before each token: whitespace, %-comments to end of line, and the
# stray ')', '{', '}' and single '>' that nothing else consumes. The
# comment's lookahead stops a failed match at end of input from giving
# back the tail of a comment as a token.
_SKIP = r"(?:[\x00\t\n\x0c\r ){}]|>(?!>)|%[^\r\n]*(?![^\r\n]))*"
# One alternative per token kind, numbered by capture group (m.lastindex).
# Every byte that is not skipped starts some alternative, so a match fails
# only at end of input.
_TOKEN_RE = re.compile(
    _SKIP
    + "(?:"
    + "(" + _NUMBER + ")(?!" + _BARE + ")"  # 1 number
    + "|(true|false|null)(?!" + _BARE + ")"  # 2 constant
    + r"|([^\x00\t\n\x0c\r ()<>\[\]{}/%+\-.0-9]" + _BARE + "*)"  # 3 operator
    + "|/(" + _BARE + "*)"  # 4 name
    + r"|\(([^()\\]*)\)"  # 5 literal string without escapes or nesting
    + r"|(\[)"  # 6 array open
    + r"|(\])"  # 7 array close
    + "|(" + _BARE + "+)"  # 8 other bare token (sign, dot or digit first)
    + "|(<<)"  # 9 dict open
    + "|(>>)"  # 10 dict close
    + "|<([^>]*)>?"  # 11 hex string (to the first '>', or end of input)
    + r"|(\()"  # 12 literal string with escapes or nesting
    + ")"
)
_NON_HEX_RE = re.compile(r"[^0-9a-fA-F]+")
_LITERAL_RUN_RE = re.compile(r"[^()\\]+")
_LEADING_MINUS_RE = re.compile(r"-{2,}([0-9]+\.?[0-9]*|\.[0-9]+)")
# a token that is number-shaped except for embedded '-' signs
_MALFORMED_NUM_RE = re.compile(
    r"[+-]{0,2}([0-9]+\.?[0-9]*|\.[0-9]+)(-+([0-9]+\.?[0-9]*|\.[0-9]+))+"
)
_EI_RE = re.compile(r"(?<=[\x00\t\n\x0c\r ])EI(?=[\x00\t\n\x0c\r ]|\Z)")
_EI_FLUSH_RE = re.compile(r"EI(?=[\x00\t\n\x0c\r ]|\Z)")
_HEX_DIGITS = frozenset(b"0123456789abcdefABCDEF")
_DICT_MARK = ("__dict__",)

_ESCAPES = {
    "n": "\n",
    "r": "\r",
    "t": "\t",
    "b": "\b",
    "f": "\x0c",
    "(": "(",
    ")": ")",
    "\\": "\\",
}


def tokenize(data: bytes) -> list[tuple[str, list]]:
    """Tokenize a content stream into [(operator, operands), ...].

    One master regex matches a token and the noise before it; the capture
    group that matched names the kind. Only a literal string with escapes
    or nested parentheses and an inline image leave the regex scan: each
    is consumed by hand, then the scan restarts after it.

    Inline-image payloads are skipped: ``BI``/``ID``/``EI`` are emitted as
    bare operators with no operands so the interpreter can no-op them exactly
    like the reference (stream.h:779-795).
    """
    text = data.decode("latin-1")
    instructions: list[tuple[str, list]] = []
    operands: list = []
    stack: list[list] = []  # open arrays/dict-item lists
    top = operands  # where the next operand goes: the innermost open list
    pos = 0
    while True:
        # scanner().match: each call matches at the end of the previous
        # match, and returns None at end of input
        for m in iter(_TOKEN_RE.scanner(text, pos).match, None):
            g = m.lastindex
            if g == 1:
                top.append(float(m[1]))
            elif g == 3:
                op = m[3]
                if op == "ID":
                    # skip the binary inline-image payload to its EI
                    instructions.append(("ID", []))
                    instructions.append(("EI", []))
                    pos = _skip_inline_image(text, m.end())
                    operands = []
                    top = stack[-1] if stack else operands
                    break
                instructions.append((op, operands))
                operands = []
                if not stack:
                    top = operands
            elif g == 4:
                name = m[4]
                top.append(name if name.isascii() and "#" not in name
                           else decode_name(name.encode("latin-1")))
            elif g == 5:
                top.append(m[5].encode("latin-1"))
            elif g == 6:
                top = []
                stack.append(top)
            elif g == 7:
                if stack:
                    v = stack.pop()
                    top = stack[-1] if stack else operands
                    top.append(v)
            elif g == 2:
                # reference: null params -> [] (stream_decoder.h:120-124)
                v = m[2]
                top.append(True if v == "true" else False if v == "false" else [])
            elif g == 8:
                tok = m[8]
                mm = _LEADING_MINUS_RE.fullmatch(tok)
                if mm:  # '--12.3' -> -12.3
                    top.append(-float(mm[1]))
                elif _MALFORMED_NUM_RE.fullmatch(tok):  # '1.23-45' -> 1.23, -45.0
                    top.extend(_split_run_together(tok))
                else:
                    instructions.append((tok, operands))
                    operands = []
                    if not stack:
                        top = operands
            elif g == 9:
                top = [_DICT_MARK]
                stack.append(top)
            elif g == 10:
                if stack:
                    items = [x for x in stack.pop() if x != _DICT_MARK]
                    d = {}
                    for k, v in zip(items[0::2], items[1::2]):
                        try:
                            d[k] = v
                        except TypeError:
                            # malformed dict with a non-name (unhashable)
                            # key: skip the pair, keep the page
                            continue
                    top = stack[-1] if stack else operands
                    top.append(d)
            elif g == 11:
                top.append(_hex_string(m[11]))
            else:  # 12: literal string the regex does not take whole
                v, pos = _literal_string(text, m.end())
                top.append(v)
                break
        else:
            return instructions


def _literal_string(text: str, pos: int) -> tuple[bytes, int]:
    """The string after the '(' at ``pos - 1``: balanced parens, backslash
    escapes (PDF §7.3.4.2). Returns (bytes, end); an unterminated string
    runs to the end of input."""
    n = len(text)
    depth = 1
    out: list[str] = []
    run = _LITERAL_RUN_RE.match
    while pos < n:
        c = text[pos]
        if c == "\\":
            pos += 1
            if pos >= n:
                break
            e = text[pos]
            if e in _ESCAPES:
                out.append(_ESCAPES[e])
                pos += 1
            elif "0" <= e <= "7":  # octal, up to 3 digits
                end = pos + 1
                while end < n and end - pos < 3 and "0" <= text[end] <= "7":
                    end += 1
                out.append(chr(int(text[pos:end], 8) & 0xFF))
                pos = end
            elif e == "\n" or e == "\r":  # line continuation
                pos += 1
                if e == "\r" and pos < n and text[pos] == "\n":
                    pos += 1
            else:  # unknown escape: keep the char
                out.append(e)
                pos += 1
        elif c == "(":
            depth += 1
            out.append(c)
            pos += 1
        elif c == ")":
            depth -= 1
            pos += 1
            if depth == 0:
                break
            out.append(c)
        else:
            m = run(text, pos)
            out.append(m[0])
            pos = m.end()
    return "".join(out).encode("latin-1"), pos


def _hex_string(body: str) -> bytes:
    """Non-hex bytes inside a hex string are dropped (malformed input); an
    odd digit count is padded with 0 (PDF §7.3.4.3)."""
    try:
        # takes the well-formed body whole (it skips whitespace between
        # digit pairs only, which the filter below drops too)
        return bytes.fromhex(body)
    except ValueError:
        digits = _NON_HEX_RE.sub("", body)
        if len(digits) % 2:
            digits += "0"
        return bytes.fromhex(digits)


def decode_name(raw: bytes) -> str:
    """A name's bytes (after the slash) with #xx hex escapes decoded, as
    UTF-8 with bad bytes replaced. PDF §7.3.5: an escape is exactly two hex
    digits; a truncated one stays literal. The content-stream tokenizer and
    the file lexer both decode names here."""
    if b"#" in raw:
        out = bytearray()
        i = 0
        while i < len(raw):
            if (raw[i] == ord("#") and i + 2 < len(raw)
                    and raw[i + 1] in _HEX_DIGITS and raw[i + 2] in _HEX_DIGITS):
                # strict two-hex-digit check: int(b'+4', 16) would
                # accept sign characters
                out.append(int(raw[i + 1 : i + 3], 16))
                i += 3
                continue
            out.append(raw[i])
            i += 1
        raw = bytes(out)
    return raw.decode("utf-8", "replace")


def _split_run_together(tok: str) -> list[float]:
    """'1.23-45-6' -> [1.23, -45.0, -6.0]; leading sign kept on the first."""
    # collapse any leading '-' run to one
    sign = ""
    i = 0
    while i < len(tok) and tok[i] in "+-":
        if tok[i] == "-":
            sign = "-"
        i += 1
    parts = tok[i:].split("-")
    out = [float(sign + parts[0])]
    out.extend(-float(p) for p in parts[1:] if p)
    return out


def _skip_inline_image(text: str, pos: int) -> int:
    """End of the inline-image payload after the ``ID`` ending at ``pos``
    (one whitespace byte follows ID): the first ``EI`` with whitespace on
    both sides, else the first one with whitespace after it (binary ran
    flush into EI), else the end of input."""
    m = _EI_RE.search(text, pos + 1) or _EI_FLUSH_RE.search(text, pos + 1)
    return m.end() if m else len(text)
