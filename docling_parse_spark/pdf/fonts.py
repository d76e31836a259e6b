"""Font and encoding resolution: char codes -> Unicode text + glyph widths.

Re-implements the reference's decode chain (reference:
src/parse/pdf_resources/page_font.h:461-661) from public PDF-spec semantics:

* ``analyse_string`` — segment raw string bytes into char codes
  (reference: src/parse/pdf_states/text.h:738-866): Identity-H/V -> 2-byte
  big-endian pairs; embedded-CMap fonts -> greedy 2-byte-if-in-cmap-else-1;
  simple encodings -> 1 byte per code.
* code -> Unicode precedence (reference: page_font.h:543-618):
  /Encoding /Differences glyph name -> /ToUnicode CMap -> base encoding
  table -> Standard fallback -> ``GLYPH<c>`` notdef marker.
* the interpreter's ``decode_glyph`` squashes an unresolved ``GLYPH<...>``
  to a single space (reference: text.h:423-436, config.h:52);
  ``get_string(keep_glyphs=True)`` keeps the marker.
* width resolution (reference: page_font.h:313-366,1784-1870): /Widths +
  /FirstChar for simple fonts; /W + /DW for CID fonts; an unresolvable width
  defaults to 500/1000 em.

Font descriptors arrive as JSON blobs (one per font) on ``kind='pdf_font'``
spans, read through ``_loads`` (bounded nesting, shared with the other
resource spans' reader in ``document.py``); tables below are built once per
executor and broadcast-equivalent (module-level constants — the reference
loads its resource dir once per process, page_font.h:212-275).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from docling_parse_spark.pdf.resources_data import (
    base_encodings,
    cid_to_unicode,
    cmap_code_to_cid,
    cmap_segment,
    glyph_list,
    predefined_cmap,
)

# --- encoding tables ------------------------------------------------------
# Full PDF Annex D tables compiled from the public encoding data
# (pdf/data/encodings.json.gz: code -> glyph name; reference ships the same
# .dat files at docling_parse/pdf_resources/encodings/). Unicode char tables
# are derived through the full Adobe Glyph List.

ENCODING_NAMES: dict[str, dict[int, str]] = base_encodings()

# --- glyph list (full Adobe Glyph List + additional + ZapfDingbats names,
# pdf/data/glyphlist.json.gz) plus ligature aliases the AGL spells with
# underscores (resolved by composition in glyph_name_to_unicode).
GLYPH_LIST: dict[str, str] = dict(glyph_list())
# underscore-spelled ligature names map to the single ligature codepoint
# (the AGL spells only ff/fi/fl/ffi/ffl; the reference's sanitizer treats
# /f_i names as ligatures — cells.h:349-382)
GLYPH_LIST.update(
    {"f_i": "ﬁ", "f_l": "ﬂ", "f_f": "ﬀ", "f_f_i": "ﬃ", "f_f_l": "ﬄ"}
)

_UNI_NAME = re.compile(r"^uni([0-9A-Fa-f]{4,6})$")
_UXXXX = re.compile(r"^u([0-9A-Fa-f]{4,6})$")


def glyph_name_to_unicode(name: str) -> str | None:
    if name in GLYPH_LIST:
        return GLYPH_LIST[name]
    m = _UNI_NAME.match(name) or _UXXXX.match(name)
    if m:
        return chr(int(m.group(1), 16))
    # ligature underscore-composition /X_Y(_Z) (reference sanitizes these
    # names — cells.h:349-382): resolve each component.
    if "_" in name:
        parts = [glyph_name_to_unicode(p) for p in name.split("_")]
        if all(p is not None for p in parts):
            return "".join(parts)  # type: ignore[arg-type]
    return None


def _char_table(enc_name: str) -> dict[int, str]:
    """code -> unicode for a base encoding (names through the AGL), cached."""
    if enc_name not in _CHAR_TABLES:
        table = {}
        for code, gname in ENCODING_NAMES.get(enc_name, {}).items():
            u = glyph_name_to_unicode(gname)
            if u is not None:
                table[code] = u
        _CHAR_TABLES[enc_name] = table
    return _CHAR_TABLES[enc_name]


_CHAR_TABLES: dict[str, dict[int, str]] = {}

# kept as importable tables (tests + fallback chain)
STANDARD = _char_table("StandardEncoding")
WIN_ANSI = _char_table("WinAnsiEncoding")
MAC_ROMAN = _char_table("MacRomanEncoding")
MAC_EXPERT = _char_table("MacExpertEncoding")

BASE_ENCODINGS: dict[str, dict[int, str]] = {
    "StandardEncoding": STANDARD,
    "WinAnsiEncoding": WIN_ANSI,
    "MacRomanEncoding": MAC_ROMAN,
    "MacExpertEncoding": MAC_EXPERT,
}


# --- ToUnicode CMap parser -------------------------------------------------

_HEX_TOKEN = re.compile(rb"<([0-9A-Fa-f\s]*)>")


def parse_cmap(text: str) -> tuple[dict[int, str], set[int]]:
    """Parse a ToUnicode CMap (begincodespacerange/beginbfchar/beginbfrange,
    incl. the array-form bfrange) into {code: unicode} plus the set of code
    byte-lengths seen in the codespace (reference:
    src/parse/pdf_resources/page_font/cmap.h:135-229,605-1000).
    """
    data = text.encode("utf-8", "surrogateescape") if isinstance(text, str) else text
    mapping: dict[int, str] = {}
    code_lengths: set[int] = set()

    def from_hex(tok: bytes) -> bytes:
        s = re.sub(rb"\s", rb"", tok).decode()
        if len(s) % 2:
            s += "0"  # PDF §7.3.4.3: odd digit count padded with trailing 0
        return bytes.fromhex(s)

    def hexes(chunk: bytes) -> list[bytes]:
        return [from_hex(m) for m in _HEX_TOKEN.findall(chunk)]

    def to_uni(b: bytes) -> str:
        return b.decode("utf-16-be", "replace") if b else ""

    for m in re.finditer(rb"begincodespacerange(.*?)endcodespacerange", data, re.S):
        for h in hexes(m.group(1)):
            code_lengths.add(len(h))

    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.S):
        hs = hexes(m.group(1))
        for src, dst in zip(hs[0::2], hs[1::2]):
            mapping[int.from_bytes(src, "big")] = to_uni(dst)
            code_lengths.add(len(src))

    pair_re = re.compile(rb"<([0-9A-Fa-f\s]*)>\s*<([0-9A-Fa-f\s]*)>\s*")
    hex_re = re.compile(rb"<([0-9A-Fa-f\s]*)>")
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.S):
        body = m.group(1)
        pos = 0
        while True:
            mm = pair_re.search(body, pos)
            if not mm:
                break
            lo = int(re.sub(rb"\s", rb"", mm.group(1)), 16)
            hi = int(re.sub(rb"\s", rb"", mm.group(2)), 16)
            code_lengths.add(len(re.sub(rb"\s", rb"", mm.group(1))) // 2)
            pos = mm.end()
            if pos < len(body) and body[pos : pos + 1] == b"[":
                # array form: one dst string per code in [lo, hi]
                end = body.index(b"]", pos)
                for i, dst in enumerate(hexes(body[pos + 1 : end])):
                    if lo + i <= hi:
                        mapping[lo + i] = to_uni(dst)
                pos = end + 1
            else:
                mm2 = hex_re.match(body, pos)
                if not mm2:
                    break
                # PDF §9.10.3: the dst is a UTF-16BE string whose LAST code
                # unit increments across the range. Interpreting the whole
                # byte string as one scalar broke 4-byte (non-BMP) dsts —
                # chr(0xD835DC00) raises — and emitted lone surrogates for
                # 2-byte surrogate values (round-4 review).
                base_bytes = from_hex(mm2.group(1))
                base_str = to_uni(base_bytes)
                if base_str:
                    head, last = base_str[:-1], ord(base_str[-1])
                    for i in range(hi - lo + 1):
                        mapping[lo + i] = head + chr(min(last + i, 0x10FFFF))
                pos = mm2.end()
    return mapping, code_lengths


# deepest container nesting of a resource span the reader accepts: far under
# the recursion limit, so no read or write of it depends on the stack depth
_MAX_NESTING = 64


def _nesting_ok(v, left: int) -> bool:
    """Whether a decoded JSON value nests at most ``left`` containers deep."""
    if isinstance(v, dict):
        v = v.values()
    elif not isinstance(v, list):
        return True
    return left > 0 and all(_nesting_ok(x, left - 1) for x in v)


def _loads(text: str):
    """``json.loads`` for a resource span; ValueError past ``_MAX_NESTING``."""
    v = json.loads(text)
    if not _nesting_ok(v, _MAX_NESTING):
        raise ValueError(f"resource span nested deeper than {_MAX_NESTING}")
    return v


# --- font model ------------------------------------------------------------

NOTDEF_FMT = "GLYPH<c={}>"
_GLYPH_MARK = re.compile(r"GLYPH<[^>]*>")


def _is_rtl(s: str) -> bool:
    """RTL classifier — Hebrew/Arabic ranges (reference flags per-cell text
    direction, src/parse/utils/string.h:316-338)."""
    return any("֐" <= ch <= "ࣿ" or "יִ" <= ch <= "ﻼ" for ch in s)


@dataclass
class Font:
    """One resolved font resource, built from a JSON descriptor span."""

    font_key: str = "F0"
    base_font: str = "Helvetica"
    subtype: str = "Type1"
    encoding: str = "StandardEncoding"
    differences: dict[int, str] = field(default_factory=dict)
    first_char: int = 0
    widths: list[float] = field(default_factory=list)
    cid_widths: dict[int, float] = field(default_factory=dict)
    default_width: float = 1000.0
    to_unicode: dict[int, str] = field(default_factory=dict)
    cmap_code_lengths: set[int] = field(default_factory=set)
    ascent: float = 750.0
    descent: float = -250.0
    capheight: float = 700.0
    # glyph-space -> text-space width scale. None = the standard 1/1000 em
    # (all font types except Type 3). Type-3 glyph space is defined by
    # /FontMatrix (§9.6.5), so width_scale = FontMatrix[0] — dropping the
    # matrix mis-advances every Type-3 glyph (reference page_font.h:313-366
    # applies the same factor). Kept None by default so the common path's
    # arithmetic (w / 1000.0) stays bit-identical to the pinned fixtures.
    width_scale: float | None = None
    # predefined CJK CMap (Adobe-Japan1/GB1/CNS1/KR/Korea1 — reference loads
    # these at page_font.h:507-529,2056+): the merged code->CID structure
    # from resources_data.predefined_cmap, or None
    predefined: dict | None = None
    # embedded TrueType program metrics (parsed sfnt tables — reference
    # extracts widths from embedded programs, base_font.h, when /Widths is
    # absent; tests/test_embedded_fonts.py:63-247)
    tt_metrics: dict | None = None
    # name-keyed widths from an embedded CFF (pdf/cff.py) or bare Type1
    # (pdf/type1.py) program
    cff_widths: dict | None = None
    # (code, nbytes) -> (string, width, ltr) memo: the resolve chain
    # walks several dict fallbacks per glyph and Tj streams repeat codes
    # heavily; fonts are cached per resources blob across a partition's
    # pages, so the memo amortizes across the whole batch
    _memo: dict = field(default_factory=dict, repr=False, compare=False)

    def decode_glyph(self, code: int, nbytes: int) -> tuple[str, float, bool]:
        """Memoized (get_string, get_width, is_ltr) with the production
        squash — the per-glyph hot path (string resolve walks several dict
        fallbacks, the RTL classifier scans unicode ranges; Tj streams
        repeat codes heavily)."""
        key = (code, nbytes)
        hit = self._memo.get(key)
        if hit is None:
            s = self.get_string(code, False, nbytes)
            hit = (s, self.get_width(code, nbytes), not _is_rtl(s))
            self._memo[key] = hit
        return hit

    # -- segmentation (reference: text.h:738-866) --
    # returns (code, nbytes) pairs: the byte length disambiguates code 0x41
    # read as 1 byte from <0041> read as 2 (needed for word-spacing and CID
    # range lookup)
    def analyse_string(self, raw: bytes) -> list[tuple[int, int]]:
        if self.encoding in ("Identity-H", "Identity-V"):
            if len(raw) % 2:
                raw = raw + b"\x00"
            return [
                (int.from_bytes(raw[i : i + 2], "big"), 2) for i in range(0, len(raw), 2)
            ]
        if self.predefined is not None:
            return cmap_segment(raw, self.predefined["codespaces"])
        if self.cmap_code_lengths and 2 in self.cmap_code_lengths and self.subtype == "Type0":
            # greedy: 2-byte code if present in cmap else 1 byte
            codes, i = [], 0
            while i < len(raw):
                if i + 1 < len(raw):
                    two = int.from_bytes(raw[i : i + 2], "big")
                    if two in self.to_unicode:
                        codes.append((two, 2))
                        i += 2
                        continue
                codes.append((raw[i], 1))
                i += 1
            return codes
        return [(b, 1) for b in raw]

    # -- code -> unicode (reference: page_font.h:461-618) --
    def get_string(self, code: int, keep_glyphs: bool = False, nbytes: int = 1) -> str:
        s = self._resolve(code, nbytes)
        if not keep_glyphs and _GLYPH_MARK.search(s):
            return " "  # production squash (text.h:423-436)
        return s

    def _resolve(self, code: int, nbytes: int = 1) -> str:
        if self.encoding in ("Identity-H", "Identity-V"):
            if code in self.to_unicode:
                return self.to_unicode[code]
            if code >= 32 and code < 0xD800:
                return chr(code)  # utf8::append fallback (page_font.h:482-488)
            return NOTDEF_FMT.format(code)
        if self.predefined is not None:
            # predefined CMap path (page_font.h:507-529): embedded ToUnicode
            # wins, else code -> CID -> collection's CID->Unicode table
            if code in self.to_unicode:
                return self.to_unicode[code]
            cid = cmap_code_to_cid(code, nbytes, self.predefined)
            if cid is not None:
                u = cid_to_unicode(self.predefined["collection"] or "").get(cid)
                if u is not None:
                    return u
            return NOTDEF_FMT.format(code)
        if code in self.differences:
            u = glyph_name_to_unicode(self.differences[code])
            if u is not None:
                return u
            # a Differences name we can't resolve is a notdef, not a fallthrough
            return NOTDEF_FMT.format(code)
        if code in self.to_unicode:
            return self.to_unicode[code]
        base = BASE_ENCODINGS.get(self.encoding)
        if base and code in base:
            return base[code]
        if code in STANDARD:
            return STANDARD[code]
        return NOTDEF_FMT.format(code)

    # -- widths (reference: page_font.h:313-366) --
    def get_width(self, code: int, nbytes: int = 1) -> float:
        if self.predefined is not None:
            cid = cmap_code_to_cid(code, nbytes, self.predefined)
            if cid is not None:
                return self.cid_widths.get(cid, self.default_width)
            return self.default_width
        if self.subtype in ("Type0", "CIDFontType0", "CIDFontType2") or self.cid_widths:
            return self.cid_widths.get(code, self.default_width)
        idx = code - self.first_char
        if 0 <= idx < len(self.widths):
            return self.widths[idx]
        # embedded font-program metrics: the program IS this font's metric
        # source when /Widths is absent (reference base_font.h) — resolve the
        # code to its Unicode, then through the program's cmap+hmtx
        if self.tt_metrics is not None:
            from docling_parse_spark.pdf.truetype import truetype_width

            s = self._resolve(code)
            if len(s) == 1:
                w = truetype_width(self.tt_metrics, ord(s))
                if w is not None:
                    return w
        if self.cff_widths is not None:
            gname = self.differences.get(code) or ENCODING_NAMES.get(self.encoding, {}).get(code)
            if gname is not None:
                w = self.cff_widths.get(gname)
                if w is not None:
                    return float(w)
        # base-14 AFM metrics fallback (page_font.h:313-366; full AFM data in
        # pdf/data/afm.json.gz): resolve the glyph NAME first (Differences,
        # then the font's simple-encoding table) so non-Standard encodings
        # get the right width, else fall back to the AFM's built-in code
        from docling_parse_spark.pdf.base14 import base14_width

        gname = self.differences.get(code) or ENCODING_NAMES.get(self.encoding, {}).get(code)
        w = base14_width(self.base_font, code, gname)
        if w is not None:
            return w
        return 500.0  # space/unknown default (page_font.h:313-381)


def font_from_json(blob: str) -> Font:
    """Build a Font from the corpus's ``pdf_font`` JSON descriptor
    (schema documented in FIXTURES.md §1); ValueError for one nested
    deeper than ``_MAX_NESTING``."""
    d = _loads(blob)
    to_uni: dict[int, str] = {}
    lengths: set[int] = set()
    if d.get("to_unicode"):
        try:
            to_uni, lengths = parse_cmap(d["to_unicode"])
        except Exception:
            # hostile/malformed CMap degrades to no ToUnicode mapping
            # (fallback chain still applies), matching the module's
            # load-failure posture — a raise here used to fail the whole
            # unit and drop every span of the doc (round-4 review)
            to_uni, lengths = {}, set()
    cid_widths: dict[int, float] = {}
    if d.get("w"):
        # CID /W compact form: {"cid": width} JSON map (keys are strings)
        cid_widths = {int(k): float(v) for k, v in d["w"].items()}
    enc = d.get("encoding", "StandardEncoding")
    pre = None
    if enc not in ("Identity-H", "Identity-V", None) and enc not in ENCODING_NAMES:
        pre = predefined_cmap(enc)  # None for unknown names (falls through)
    tt = cff = None
    if d.get("font_program"):
        import base64

        from docling_parse_spark.pdf.cff import parse_cff_widths
        from docling_parse_spark.pdf.truetype import parse_truetype_metrics

        try:
            prog = base64.b64decode(d["font_program"])
            tt = parse_truetype_metrics(prog)
            if tt is None:
                cff = parse_cff_widths(prog)
            if tt is None and cff is None:
                from docling_parse_spark.pdf.type1 import parse_type1_widths

                cff = parse_type1_widths(prog)
        except Exception:
            # load-failure posture (reference tests/test_load_failure.py): a
            # hostile program degrades to fallback widths, never an exception
            tt = cff = None
    return Font(
        predefined=pre,
        tt_metrics=tt,
        cff_widths=cff,
        font_key=d.get("font_key", "F0"),
        base_font=d.get("base_font", "Helvetica"),
        subtype=d.get("subtype", "Type1"),
        encoding=d.get("encoding", "StandardEncoding"),
        differences={int(k): v for k, v in (d.get("differences") or {}).items()},
        first_char=int(d.get("first_char", 0)),
        widths=[float(w) for w in (d.get("widths") or [])],
        cid_widths=cid_widths,
        default_width=float(d.get("dw", 1000.0)),
        to_unicode=to_uni,
        cmap_code_lengths=lengths,
        ascent=float(d.get("ascent", 750.0)),
        descent=float(d.get("descent", -250.0)),
        capheight=float(d.get("capheight", 700.0)),
        width_scale=(
            float(d["font_matrix"][0])
            if d.get("subtype") == "Type3"
            and isinstance(d.get("font_matrix"), list)
            and len(d["font_matrix"]) == 6
            and d["font_matrix"][0]
            else None
        ),
    )
