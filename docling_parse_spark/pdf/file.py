"""Raw PDF FILE ingestion — from-spec (ISO 32000-1), stdlib only.

The reference loads real PDF files through qpdf (reference
src/parse/pdf_decoders/document.h:183-279 buffers the file and hands it
to QPDF; the object/xref machinery is qpdf's). This container has no
qpdf, so this module implements the file layer from the spec and emits
the north-rule span rows the rest of the engine consumes:

* object syntax: names/numbers/strings/arrays/dicts/streams/refs (§7.3)
* classic xref tables with /Prev chains (§7.5.4) and incremental updates
* cross-reference STREAMS (/Type /XRef, /W, /Index — §7.5.8), decoded
  through :mod:`docling_parse_spark.pdf.filters` (Flate + PNG predictors)
* object streams (/Type /ObjStm — §7.5.7): compressed objects
* page-tree traversal with attribute inheritance (MediaBox/Rotate/
  Resources — §7.7.3.4), /Contents concatenation (§7.8.2)
* font dictionaries -> this engine's ``pdf_font`` JSON descriptors
  (BaseFont/Subtype/Encoding//FirstChar//Widths//ToUnicode; CID /W)

``parse_pdf_spans(data)`` returns the ``(kind, text, media_ref,
offset)`` span list for one document — feed it to ``decode_document`` or
the distributed pipeline. ``ingest_pdf_files`` and ``ingest_pdf_media``
run it and ``parse_pdf_media`` in one per-file ``mapInArrow`` loop.

Encrypted files (standard security handler) decrypt via
:mod:`docling_parse_spark.pdf.crypt` (RC4 / AES-128 / AES-256 from spec).
The default EMPTY password covers the common web-PDF case; a supplied
``password`` is tried as user then owner (R2-6). Wrong passwords and
non-/Standard handlers raise ValueError into the per-file failure
accounting. Linearization hints are ignored (harmless).
"""

from __future__ import annotations

import base64
import json
import re
import zlib
from dataclasses import dataclass

from docling_parse_spark.pdf.filters import apply_filters
from docling_parse_spark.pdf.tokenizer import decode_name

_WS = b"\x00\t\n\x0c\r "
_HEX_BODY_RE = re.compile(rb"[0-9A-Fa-f\x00\t\n\x0c\r ]*")  # a hex string's digits and whitespace
_DELIM = b"()<>[]{}/%"

# PDFDocEncoding (ISO 32000-1 Annex D.2) deltas vs Latin-1: 0x18-0x1F are
# accent chars, 0x80-0x9E the typographic set (Latin-1 has C1 controls
# there), and 0xA0 the Euro sign (Latin-1: NBSP); 0x7F and 0x9F are
# undefined in PDFDocEncoding so they decode to U+FFFD rather than riding
# through as control chars; all other code points agree with Latin-1
_PDFDOC_DELTA = str.maketrans({
    0x7F: "�", 0x9F: "�", 0xA0: "€",
    0x18: "˘", 0x19: "ˇ", 0x1A: "ˆ", 0x1B: "˙",
    0x1C: "˝", 0x1D: "˛", 0x1E: "˚", 0x1F: "˜",
    0x80: "•", 0x81: "†", 0x82: "‡", 0x83: "…",
    0x84: "—", 0x85: "–", 0x86: "ƒ", 0x87: "⁄",
    0x88: "‹", 0x89: "›", 0x8A: "−", 0x8B: "‰",
    0x8C: "„", 0x8D: "“", 0x8E: "”", 0x8F: "‘",
    0x90: "’", 0x91: "‚", 0x92: "™", 0x93: "ﬁ",
    0x94: "ﬂ", 0x95: "Ł", 0x96: "Œ", 0x97: "Š",
    0x98: "Ÿ", 0x99: "Ž", 0x9A: "ı", 0x9B: "ł",
    0x9C: "œ", 0x9D: "š", 0x9E: "ž",
})


@dataclass(frozen=True)
class Ref:
    num: int
    gen: int


def _xml_unescape(s: str) -> str:
    # html.unescape covers named AND numeric character references —
    # word-processor XMP routinely writes &#8212; / &#x2019; (r5 review)
    import html

    return html.unescape(s)


class _Lexer:
    """Object-syntax scanner (§7.3) over the whole file buffer."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def _skip_ws(self):
        d = self.data
        n = len(d)
        while self.pos < n:
            c = d[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # % comment to EOL
                while self.pos < n and d[self.pos] not in b"\r\n":
                    self.pos += 1
            else:
                return

    def parse_object(self):
        """One object at the cursor -> python value (Ref for 'n g R')."""
        self._skip_ws()
        d = self.data
        if self.pos >= len(d):
            raise ValueError("unexpected end of PDF data")
        c = d[self.pos]
        if c == 0x2F:  # /Name
            return self._name()
        if c == 0x28:  # (string)
            return self._literal_string()
        if c == 0x3C:
            if d[self.pos : self.pos + 2] == b"<<":
                return self._dict()
            return self._hex_string()
        if c == 0x5B:  # [
            self.pos += 1
            out = []
            while True:
                self._skip_ws()
                if self.pos < len(d) and d[self.pos] == 0x5D:
                    self.pos += 1
                    return out
                out.append(self.parse_object())
        if c in b"+-.0123456789":
            return self._number_or_ref()
        kw = self._keyword()
        if kw == b"true":
            return True
        if kw == b"false":
            return False
        if kw == b"null":
            return None
        raise ValueError(f"unexpected token {kw!r} at {self.pos}")

    def _keyword(self) -> bytes:
        d = self.data
        start = self.pos
        while self.pos < len(d) and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
            self.pos += 1
        if self.pos == start:
            self.pos += 1  # lone delimiter: consume to make progress
        return d[start : self.pos]

    def _name(self) -> str:
        d = self.data
        self.pos += 1
        start = self.pos
        while self.pos < len(d) and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
            self.pos += 1
        return decode_name(d[start : self.pos])

    def _literal_string(self) -> bytes:
        d = self.data
        self.pos += 1
        out = bytearray()
        depth = 1
        esc = {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}
        while self.pos < len(d):
            c = d[self.pos]
            if c == 0x5C:  # backslash
                self.pos += 1
                if self.pos >= len(d):
                    break
                e = d[self.pos]
                if e in esc:
                    out.append(esc[e])
                    self.pos += 1
                elif 0x30 <= e <= 0x37:  # up to 3 octal digits
                    val = 0
                    k = 0
                    while k < 3 and self.pos < len(d) and 0x30 <= d[self.pos] <= 0x37:
                        val = val * 8 + (d[self.pos] - 0x30)
                        self.pos += 1
                        k += 1
                    out.append(val & 0xFF)
                elif e in b"\r\n":  # line continuation
                    self.pos += 1
                    if e == 0x0D and self.pos < len(d) and d[self.pos] == 0x0A:
                        self.pos += 1
                else:
                    out.append(e)
                    self.pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 0x29:
                depth -= 1
                self.pos += 1
                if depth == 0:
                    return bytes(out)
                out.append(c)
            else:
                out.append(c)
                self.pos += 1
        raise ValueError("unterminated literal string")

    def _hex_string(self) -> bytes:
        d = self.data
        body = _HEX_BODY_RE.match(d, self.pos + 1)
        end = body.end()
        if end < len(d) and d[end] != 0x3E:
            # strict posture (ADVICE r4): silently skipping a corrupt
            # byte decodes to SHIFTED bytes; surface as a per-file
            # failure like every other malformed construct here
            raise ValueError(f"invalid byte 0x{d[end]:02x} in hex string at {end}")
        self.pos = end + 1  # '>'
        digits = body.group().translate(None, _WS)
        if len(digits) % 2:
            digits += b"0"
        return bytes.fromhex(digits.decode())

    def _dict(self):
        d = self.data
        self.pos += 2
        out = {}
        while True:
            self._skip_ws()
            if d[self.pos : self.pos + 2] == b">>":
                self.pos += 2
                return out
            if self.pos >= len(d):
                raise ValueError("unterminated dictionary")
            key = self.parse_object()
            val = self.parse_object()
            if isinstance(key, str):
                out[key] = val

    def _number_or_ref(self):
        d = self.data
        start = self.pos
        while self.pos < len(d) and d[self.pos] in b"+-.0123456789":
            self.pos += 1
        tok = d[start : self.pos]
        try:
            num = float(tok) if b"." in tok else int(tok)
        except ValueError as e:
            raise ValueError(f"bad number {tok!r}") from e
        # lookahead for 'gen R' (indirect reference, §7.3.10)
        if isinstance(num, int) and num >= 0:
            save = self.pos
            self._skip_ws()
            start2 = self.pos
            while self.pos < len(d) and d[self.pos] in b"0123456789":
                self.pos += 1
            gen_tok = d[start2 : self.pos]
            if gen_tok:
                self._skip_ws()
                if d[self.pos : self.pos + 1] == b"R" and (
                    self.pos + 1 >= len(d)
                    or d[self.pos + 1] in _WS
                    or d[self.pos + 1] in _DELIM
                ):
                    self.pos += 1
                    return Ref(num, int(gen_tok))
            self.pos = save
        return num


class PdfFile:
    """Parsed PDF file: xref-resolved object access + page tree."""

    def __init__(self, data: bytes, password=None):
        if not data.startswith(b"%PDF-"):
            raise ValueError("not a PDF (missing %PDF- header)")
        self.data = data
        self.offsets: dict[int, tuple] = {}  # num -> ('file', off) | ('objstm', n, idx)
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, list] = {}
        self._crypt = None
        self._encrypt_num = None
        self._load_xref()
        if "Encrypt" in self.trailer:
            # standard security handler; the default EMPTY password is
            # the common web-PDF case, a supplied password is tried as
            # user then owner (reference parity: qpdf accepts either,
            # document.h:39-43 / docling_parse/pdf_parser.py:988)
            from docling_parse_spark.pdf.crypt import StandardSecurityHandler

            enc_ref = self.trailer["Encrypt"]
            if isinstance(enc_ref, Ref):
                self._encrypt_num = enc_ref.num  # its strings stay raw
            enc = self._resolve(enc_ref)
            if not isinstance(enc, dict):
                raise ValueError("/Encrypt is not a dictionary")
            # entries may legally be indirect (/Length 7 0 R, nested /CF
            # dicts with refs) — deep-resolve before the handler reads
            # them (r5 review: a Ref reached int()/bytes() as-is)
            enc = self._resolve_tree(enc)
            ids = self._resolve(self.trailer.get("ID"))
            id0 = ids[0] if isinstance(ids, list) and ids else b""
            if isinstance(id0, str):
                id0 = id0.encode("latin-1", "replace")
            try:
                self._crypt = StandardSecurityHandler(enc, id0, password or b"")
            except ValueError as e:
                raise ValueError(f"encrypted PDF: {e}") from e

    # ------------------------------------------------------------- xref
    def _load_xref(self):
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", self.data):
            pass  # last startxref wins (incremental updates)
        if m is None:
            raise ValueError("missing startxref")
        seen = set()
        pos = int(m.group(1))
        while pos not in seen:
            seen.add(pos)
            lx = _Lexer(self.data, pos)
            lx._skip_ws()
            if self.data[lx.pos : lx.pos + 4] == b"xref":
                trailer, entries = self._load_xref_table(lx)
                # hybrid files: /XRefStm points at an xref stream that takes
                # PRECEDENCE over this section's classic table (§7.5.8.4) —
                # load it first so setdefault resolves conflicts its way
                # (ADVICE r4: classic-first left stale offsets winning)
                if "XRefStm" in trailer:
                    try:
                        self._load_xref_stream(int(trailer["XRefStm"]))
                    except (ValueError, TypeError):
                        # broken/hostile /XRefStm (non-integer, bad
                        # stream): degrade to the classic table, which is
                        # right here and usable (r5 review: TypeError
                        # escaped and killed the file)
                        pass
                for objnum, loc in entries:
                    self.offsets.setdefault(objnum, loc)
            else:
                trailer = self._load_xref_stream(pos)
            for k, v in trailer.items():
                self.trailer.setdefault(k, v)
            nxt = trailer.get("Prev")
            if nxt is None:
                break
            pos = int(nxt)

    def _load_xref_table(self, lx: _Lexer):
        """Returns (trailer, entries) WITHOUT applying the entries — the
        caller loads a hybrid file's /XRefStm first (§7.5.8.4 precedence)."""
        lx.pos += 4
        entries: list[tuple[int, tuple]] = []
        while True:
            lx._skip_ws()
            if self.data[lx.pos : lx.pos + 7] == b"trailer":
                lx.pos += 7
                t = lx.parse_object()
                if not isinstance(t, dict):
                    raise ValueError("trailer is not a dictionary")
                return t, entries
            start = lx.parse_object()
            count = lx.parse_object()
            if not isinstance(start, int) or not isinstance(count, int):
                raise ValueError("malformed xref subsection header")
            lx._skip_ws()
            for i in range(count):
                entry = self.data[lx.pos : lx.pos + 20]
                if len(entry) < 18:
                    raise ValueError("truncated xref entry")
                off, _gen, kind = entry[:10], entry[11:16], entry[17:18]
                if kind == b"n":
                    entries.append((start + i, ("file", int(off))))
                elif kind == b"f":
                    # free entries are TOMBSTONES: an object freed by an
                    # incremental update must shadow the older section's
                    # 'n' entry and read as null (§7.5.4), not resurrect
                    # the deleted object (r5 review)
                    entries.append((start + i, ("free",)))
                lx.pos += 20 if entry[18:20] in (b"\r\n", b" \r", b" \n") else 18
                lx._skip_ws()

    def _load_xref_stream(self, pos: int):
        num, sdict, raw = self._parse_indirect_at(pos)
        if sdict.get("Type") != "XRef":
            raise ValueError("expected /Type /XRef stream")
        data = self._decode_stream(sdict, raw)
        w = [int(x) for x in sdict.get("W", [])]
        if len(w) != 3 or any(x < 0 for x in w) or sum(w) == 0:
            # /W [0 0 0] with a huge /Index count would loop unboundedly
            # consuming no data (verified DoS — r4 review)
            raise ValueError("XRef stream /W invalid")
        size = int(self._resolve(sdict.get("Size", 0)))
        index = [int(x) for x in sdict.get("Index", [0, size])]
        if sum(index[1::2]) > 10_000_000:
            raise ValueError("XRef stream /Index entry count exceeds sanity cap")
        rowlen = sum(w)
        pos2 = 0
        for s in range(0, len(index), 2):
            start, count = index[s], index[s + 1]
            for i in range(count):
                row = data[pos2 : pos2 + rowlen]
                pos2 += rowlen
                if len(row) < rowlen:
                    raise ValueError("truncated XRef stream")
                f = []
                o = 0
                for width in w:
                    f.append(int.from_bytes(row[o : o + width], "big") if width else 1)
                    o += width
                objnum = start + i
                if f[0] == 1:
                    self.offsets.setdefault(objnum, ("file", f[1]))
                elif f[0] == 2:
                    self.offsets.setdefault(objnum, ("objstm", f[1], f[2]))
                elif f[0] == 0:
                    # type-0 rows tombstone freed objects (see the
                    # classic-table 'f' handling)
                    self.offsets.setdefault(objnum, ("free",))
        return sdict

    # ---------------------------------------------------------- objects
    def _parse_indirect_at(self, pos: int):
        lx = _Lexer(self.data, pos)
        num = lx.parse_object()
        gen = lx.parse_object()
        lx._skip_ws()
        if not isinstance(num, int) or not isinstance(gen, int):
            raise ValueError(f"expected 'n g obj' at {pos}")
        if self.data[lx.pos : lx.pos + 3] != b"obj":
            raise ValueError(f"expected 'obj' keyword at {lx.pos}")
        lx.pos += 3
        val = lx.parse_object()
        raw = None
        lx._skip_ws()
        if self.data[lx.pos : lx.pos + 6] == b"stream":
            lx.pos += 6
            if self.data[lx.pos : lx.pos + 2] == b"\r\n":
                lx.pos += 2
            elif self.data[lx.pos : lx.pos + 1] in (b"\n", b"\r"):
                lx.pos += 1
            if not isinstance(val, dict):
                raise ValueError("stream without a dictionary")
            length = self._resolve(val.get("Length"))
            if isinstance(length, (int, float)) and length >= 0:
                raw = self.data[lx.pos : lx.pos + int(length)]
            else:  # /Length broken: scan (repair posture)
                end = self.data.find(b"endstream", lx.pos)
                if end < 0:
                    raise ValueError("unterminated stream")
                raw = self.data[lx.pos : end].rstrip(b"\r\n")
        return num, val, raw

    def get_object(self, ref):
        if not isinstance(ref, Ref):
            return ref
        if ref.num in self._cache:
            return self._cache[ref.num]
        loc = self.offsets.get(ref.num)
        if loc is None or loc[0] == "free":
            return None  # dangling or freed ref -> null (§7.5.4)
        if loc[0] == "file":
            num, val, raw = self._parse_indirect_at(loc[1])
            if num != ref.num:
                # corrupt xref offset pointing at a different object:
                # treat as missing, never silently substitute (qpdf
                # validates the number the same way — r4 review)
                self._cache[ref.num] = None
                return None
            if self._crypt is not None and ref.num != self._encrypt_num:
                # decrypt at load time, once, with this object's key: the
                # stream body (except XRef streams, never encrypted per
                # §7.5.8.2, and /Metadata streams when /EncryptMetadata
                # is false — they are PLAINTEXT then, r5 review) and
                # every string inside the value
                skip_stream = isinstance(val, dict) and (
                    val.get("Type") == "XRef"
                    or (val.get("Type") == "Metadata"
                        and not self._crypt.encrypt_metadata)
                )
                if raw is not None and not skip_stream:
                    raw = self._crypt.decrypt(raw, ref.num, ref.gen)
                val = self._decrypt_strings(val, ref.num, ref.gen)
            obj = (val, raw) if raw is not None else val
        else:
            # objects inside an object stream are NOT individually
            # encrypted (§7.5.7 — the containing stream already was)
            obj = self._objstm_object(loc[1], loc[2])
        self._cache[ref.num] = obj
        return obj

    def _resolve_tree(self, v, depth: int = 0):
        """Deep-resolve refs inside a small dict/array tree (bounded)."""
        if depth > 16:
            return v
        v = self._resolve(v)
        if isinstance(v, dict):
            return {k: self._resolve_tree(x, depth + 1) for k, x in v.items()}
        if isinstance(v, list):
            return [self._resolve_tree(x, depth + 1) for x in v]
        return v

    def _decrypt_strings(self, v, num: int, gen: int):
        if isinstance(v, bytes):
            return self._crypt.decrypt_string(v, num, gen)
        if isinstance(v, list):
            return [self._decrypt_strings(x, num, gen) for x in v]
        if isinstance(v, dict):
            return {k: self._decrypt_strings(x, num, gen) for k, x in v.items()}
        return v

    def _objstm_object(self, stm_num: int, idx: int):
        if stm_num not in self._objstm_cache:
            loc = self.offsets.get(stm_num)
            if loc is None or loc[0] != "file":
                raise ValueError(f"object stream {stm_num} unresolvable")
            _num, sdict, raw = self._parse_indirect_at(loc[1])
            if raw is None:
                raise ValueError(f"object stream {stm_num} has no stream body")
            if self._crypt is not None:
                # the ObjStm container is an ordinary encrypted stream
                raw = self._crypt.decrypt(raw, stm_num, 0)
            data = self._decode_stream(sdict, raw)
            n = int(self._resolve(sdict.get("N", 0)))
            first = int(self._resolve(sdict.get("First", 0)))
            hdr = _Lexer(data, 0)
            pairs = []
            for _ in range(n):
                onum = hdr.parse_object()
                ooff = hdr.parse_object()
                pairs.append((int(onum), int(ooff)))
            objs = []
            for onum, ooff in pairs:
                objs.append(_Lexer(data, first + ooff).parse_object())
            self._objstm_cache[stm_num] = objs
        objs = self._objstm_cache[stm_num]
        if idx >= len(objs):
            raise ValueError("object-stream index out of range")
        return objs[idx]

    def _resolve(self, v):
        seen: set[int] = set()
        while isinstance(v, Ref):
            if v.num in seen:
                # reference cycle (6 0 R -> 7 0 R -> 6 0 R): hostile or
                # corrupt files used to hang here forever (r4 review)
                raise ValueError(f"indirect-reference cycle at object {v.num}")
            seen.add(v.num)
            v = self.get_object(v)
            if isinstance(v, tuple):
                v = v[0]
        return v

    def _decode_stream(self, sdict: dict, raw: bytes) -> bytes:
        # only Ref resolution happens here; apply_filters owns all the
        # name/parms normalization and validation (r4 review: the two
        # normalization paths were drifting)
        filters = self._resolve(sdict.get("Filter"))
        if filters is None:
            return raw
        if isinstance(filters, str):
            filters = [filters]
        filters = [str(self._resolve(f)) for f in filters]
        parms = self._resolve(sdict.get("DecodeParms"))
        if isinstance(parms, list):
            parms = [
                ({k: self._resolve(v) for k, v in self._resolve(p).items()}
                 if isinstance(self._resolve(p), dict) else None)
                for p in parms
            ]
        elif isinstance(parms, dict):
            parms = {k: self._resolve(v) for k, v in parms.items()}
        return apply_filters(raw, filters, parms)

    # ------------------------------------------------------------ pages
    def pages(self) -> list[dict]:
        """Flattened page list with inherited attributes (§7.7.3.4).

        Each page dict carries ``__objnum__`` (the page object's number, or
        None for direct page dicts) — outline destinations point at page
        objects by reference (§12.3.2.2), so the number keys the
        page-ref -> page-index map."""
        root = self._resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            raise ValueError("missing /Root catalog")
        tree_ref = root.get("Pages")
        tree = self._resolve(tree_ref)
        out: list[dict] = []
        seen: set[int] = set()

        def walk(node, inherited, depth=0, objnum=None):
            if not isinstance(node, dict) or depth > 64:
                return
            inh = dict(inherited)
            for k in ("MediaBox", "CropBox", "Rotate", "Resources"):
                if k in node:
                    inh[k] = node[k]
            if node.get("Type") == "Page" or ("Kids" not in node and "Contents" in node):
                out.append({**inh, **node, "__objnum__": objnum})
                return
            for kid in self._resolve(node.get("Kids")) or []:
                knum = None
                if isinstance(kid, Ref):
                    if kid.num in seen:
                        continue
                    seen.add(kid.num)
                    knum = kid.num
                walk(self._resolve(kid), inh, depth + 1, knum)

        walk(tree, {}, objnum=tree_ref.num if isinstance(tree_ref, Ref) else None)
        return out

    def page_index_by_objnum(self, pages: list[dict]) -> dict[int, int]:
        return {p["__objnum__"]: i for i, p in enumerate(pages)
                if p.get("__objnum__") is not None}

    # --------------------------------------------------------- doc level
    def _text_string(self, v):
        """PDF text string (§7.9.2.2) -> str: UTF-16BE with BOM, UTF-8 with
        BOM (PDF 2.0), else PDFDocEncoding."""
        v = self._resolve(v)
        if isinstance(v, str):
            return v
        if not isinstance(v, bytes):
            return None
        if v.startswith(b"\xfe\xff"):
            return v[2:].decode("utf-16-be", "replace")
        if v.startswith(b"\xef\xbb\xbf"):
            return v[3:].decode("utf-8", "replace")
        return v.decode("latin-1").translate(_PDFDOC_DELTA)

    def doc_info(self) -> dict | None:
        """Trailer /Info docinfo + catalog /Metadata XMP packet -> this
        engine's pdf_meta dict (reference reads both, document.h:140-181).
        Docinfo wins on conflicts (it is the more commonly maintained of
        the two in web PDFs); XMP fills the gaps."""
        out: dict = {}
        xmp = self._xmp_metadata()
        if xmp:
            out.update(xmp)
        info = self._resolve(self.trailer.get("Info"))
        if isinstance(info, dict):
            for src, dst in (("Title", "title"), ("Author", "author"),
                             ("Subject", "subject"), ("Keywords", "keywords"),
                             ("CreationDate", "created"), ("ModDate", "modified")):
                s = self._text_string(info.get(src))
                if s:
                    out[dst] = s
        return out or None

    def _xmp_metadata(self) -> dict:
        """Catalog /Metadata XMP packet (§14.3.2): extract the Dublin-Core
        title/creator/description + xmp:CreateDate/ModifyDate fields with a
        tolerant scan (full RDF/XML parsing is out of scope — these five
        properties are what the engine's pdf_meta schema carries)."""
        root = self._resolve(self.trailer.get("Root")) or {}
        md = root.get("Metadata") if isinstance(root, dict) else None
        md_obj = self.get_object(md) if isinstance(md, Ref) else None
        if not isinstance(md_obj, tuple):
            return {}
        try:
            xml = self._decode_stream(*md_obj).decode("utf-8", "replace")
        except ValueError:
            return {}
        out: dict = {}

        def li(prop):
            # <dc:title><rdf:Alt><rdf:li ...>VALUE</rdf:li> — first item
            m = re.search(
                rf"<{prop}[^>]*>(?:\s*<rdf:(?:Alt|Seq|Bag)[^>]*>)?"
                rf"\s*<rdf:li[^>]*>([^<]*)</rdf:li>",
                xml,
            ) or re.search(rf"<{prop}[^>]*>([^<]+)</{prop}>", xml)
            return _xml_unescape(m.group(1).strip()) if m else None

        for prop, dst in (("dc:title", "title"), ("dc:creator", "author"),
                          ("dc:description", "subject"),
                          ("xmp:CreateDate", "created"),
                          ("xmp:ModifyDate", "modified")):
            v = li(prop)
            if v:
                out[dst] = v
        return out

    def _named_dest(self, name):
        """Resolve a named destination via the catalog /Dests dict (PDF 1.1)
        or the /Names /Dests name tree (§7.7.4, §12.3.2.3)."""
        if isinstance(name, bytes):
            name = name.decode("latin-1")
        root = self._resolve(self.trailer.get("Root")) or {}
        dests = self._resolve(root.get("Dests"))
        if isinstance(dests, dict) and name in dests:
            return self._resolve(dests[name])
        names = self._resolve(root.get("Names"))
        tree = self._resolve(names.get("Dests")) if isinstance(names, dict) else None

        def walk(node, depth=0):
            if not isinstance(node, dict) or depth > 32:
                return None
            kv = self._resolve(node.get("Names"))
            if isinstance(kv, list):
                for i in range(0, len(kv) - 1, 2):
                    k = self._resolve(kv[i])
                    if isinstance(k, bytes):
                        k = k.decode("latin-1")
                    if k == name:
                        return self._resolve(kv[i + 1])
            for kid in self._resolve(node.get("Kids")) or []:
                r = walk(self._resolve(kid), depth + 1)
                if r is not None:
                    return r
            return None

        return walk(tree)

    def _dest_page(self, dest, page_index: dict[int, int]):
        """Destination (array / name / /A GoTo action / /D dict) -> page
        index, or None."""
        dest = self._resolve(dest)
        if isinstance(dest, (bytes, str)):
            dest = self._named_dest(dest)
        if isinstance(dest, dict):  # action dict or /D wrapper
            d = self._resolve(dest.get("D") or dest.get("Dest"))
            if isinstance(d, (bytes, str)):
                d = self._named_dest(d)
            dest = d
        if isinstance(dest, list) and dest:
            tgt = dest[0]
            if isinstance(tgt, Ref):
                return page_index.get(tgt.num)
            if isinstance(tgt, (int, float)):  # remote-dest page number
                return int(tgt)
        return None

    def outline_tree(self, page_index: dict[int, int]) -> list[dict]:
        """Catalog /Outlines -> nested [{title, page, children}] (§12.3.3) —
        the engine's pdf_outline span shape (reference walks the same
        /First //Next sibling chain, document.h:140-181)."""
        root = self._resolve(self.trailer.get("Root")) or {}
        ol = self._resolve(root.get("Outlines"))
        if not isinstance(ol, dict):
            return []
        seen: set[int] = set()

        def walk(node_ref, depth):
            out = []
            cur = node_ref
            hops = 0
            while cur is not None and hops < 4096:
                hops += 1
                if isinstance(cur, Ref):
                    if cur.num in seen:
                        break
                    seen.add(cur.num)
                node = self._resolve(cur)
                if not isinstance(node, dict):
                    break
                title = self._text_string(node.get("Title"))
                pg = self._dest_page(node.get("Dest") or node.get("A"), page_index)
                children = []
                if depth < 32 and node.get("First") is not None:
                    children = walk(node.get("First"), depth + 1)
                if title is not None:
                    out.append({"title": title, "page": int(pg or 0),
                                "children": children})
                cur = node.get("Next")
            return out

        return walk(ol.get("First"), 0) if ol.get("First") is not None else []

    def acroform_dr_fonts(self) -> list[str]:
        """Catalog /AcroForm /DR /Font -> font descriptor blobs (the widget
        AP fallback chain's doc-level link, reference page.h:1653-1663)."""
        root = self._resolve(self.trailer.get("Root")) or {}
        af = self._resolve(root.get("AcroForm"))
        dr = self._resolve(af.get("DR")) if isinstance(af, dict) else None
        fonts = self._resolve(dr.get("Font")) if isinstance(dr, dict) else None
        out = []
        if isinstance(fonts, dict):
            for key, fref in fonts.items():
                fd = self._resolve(fref)
                if isinstance(fd, dict):
                    out.append(self.font_descriptor(key, fd))
        return out

    # -------------------------------------------------------- per page
    def page_xobjects(self, page: dict):
        """Page /Resources /XObject -> ({image_name: (stream_dict, raw)},
        {form_name: (stream_dict, raw)}). Nested form resources are walked
        one level per hop with a depth cap — a form's own /XObject images
        and sub-forms land in the same flat namespace the interpreter's
        ``Do`` uses (reference parent-chains, stream.h:403-406)."""
        images: dict[str, tuple] = {}
        forms: dict[str, tuple] = {}

        def collect(res, depth=0):
            if not isinstance(res, dict) or depth > 8:
                return
            xo = self._resolve(res.get("XObject"))
            if not isinstance(xo, dict):
                return
            for name, ref in xo.items():
                obj = self.get_object(ref) if isinstance(ref, Ref) else ref
                if not isinstance(obj, tuple):
                    continue
                sdict, raw = obj
                sub = str(self._resolve(sdict.get("Subtype")) or "")
                if sub == "Image" and name not in images:
                    images[name] = (sdict, raw)
                elif sub == "Form" and name not in forms:
                    forms[name] = (sdict, raw)
                    collect(self._resolve(sdict.get("Resources")), depth + 1)

        collect(self._resolve(page.get("Resources")))
        return images, forms

    def form_blob(self, name: str, sdict: dict, raw: bytes):
        """Form XObject -> (pdf_form JSON blob, [(font_key, blob)]) — the
        engine's doc-level form shape (document.py build_doc_resources).
        Binary bodies ride as declared ASCII85 transport (``_body_text``)."""
        d: dict = {"name": name}
        mtx = self._resolve(sdict.get("Matrix"))
        if isinstance(mtx, list) and len(mtx) == 6:
            d["matrix"] = [float(self._resolve(x)) for x in mtx]
        d["ops"], filters = _body_text(self._decode_stream(sdict, raw))
        if filters:
            d["filters"] = filters
        fonts: list[tuple[str, str]] = []
        fres = self._resolve(sdict.get("Resources"))
        ffonts = self._resolve(fres.get("Font")) if isinstance(fres, dict) else None
        if isinstance(ffonts, dict):
            for k, v in ffonts.items():
                fd = self._resolve(v)
                if isinstance(fd, dict):
                    fonts.append((k, self.font_descriptor(k, fd)))
        return json.dumps(d, sort_keys=True), fonts

    def page_annots(self, page: dict, pno: int) -> list[dict]:
        """Page /Annots -> pdf_annot span dicts: /Link + /A /URI hyperlinks
        and /Widget form fields with their /AP /N appearance stream + its
        /Resources fonts (reference page.h:1158-1753 decodes the same set,
        including the AP sub-decode)."""
        out: list[dict] = []
        for aref in self._resolve(page.get("Annots")) or []:
            a = self._resolve(aref)
            if not isinstance(a, dict):
                continue
            sub = str(self._resolve(a.get("Subtype")) or "")
            rect_raw = self._resolve(a.get("Rect"))
            rect = [float(self._resolve(x)) for x in rect_raw] \
                if isinstance(rect_raw, list) and len(rect_raw) == 4 else [0.0, 0.0, 0.0, 0.0]
            if sub == "Link":
                act = self._resolve(a.get("A"))
                uri = None
                if isinstance(act, dict) and str(self._resolve(act.get("S")) or "") == "URI":
                    uri = self._text_string(act.get("URI"))
                if uri:
                    out.append({"page": pno, "subtype": "link", "rect": rect,
                                "uri": uri})
            elif sub == "Widget":
                # fully-qualified field name: /T joined up the /Parent
                # chain; /FT and /V are INHERITED — first hit up the chain
                # wins (reference to_inherited_string, page.h:1434-1447)
                parts: list[str] = []
                ftype = value = None
                value_found = False
                node, depth = a, 0
                while isinstance(node, dict) and depth < 32:
                    t = self._text_string(node.get("T"))
                    if t:
                        parts.append(t)
                    if ftype is None and node.get("FT") is not None:
                        ftype = str(self._resolve(node["FT"])).lstrip("/")
                    if not value_found and node.get("V") is not None:
                        # the NEAREST /V terminates the search even when
                        # unrepresentable (r5 review: a multi-select /Ch
                        # array must not fall through to an ancestor's
                        # default). Strings decode; names strip; arrays
                        # of strings (multi-select) join; streams (/Sig)
                        # stay None.
                        value_found = True
                        # _text_string covers text strings AND /Name
                        # states (the lexer yields names as plain str)
                        value = self._text_string(node.get("V"))
                        if value is None:
                            v = self._resolve(node.get("V"))
                            if isinstance(v, list):  # multi-select /Ch
                                items = [self._text_string(x) for x in v]
                                items = [x for x in items if x]
                                value = "; ".join(items) if items else None
                    node = self._resolve(node.get("Parent"))
                    depth += 1
                w: dict = {"page": pno, "subtype": "widget", "rect": rect,
                           "field": ".".join(reversed(parts))}
                if ftype:
                    w["field_type"] = ftype
                if value:
                    w["value"] = value
                ap = self._resolve(a.get("AP"))
                n = ap.get("N") if isinstance(ap, dict) else None
                n_obj = self.get_object(n) if isinstance(n, Ref) else n
                if isinstance(n_obj, dict):
                    # appearance-state subdictionary: pick /AS, else first
                    as_name = self._resolve(a.get("AS"))
                    cand = n_obj.get(str(as_name)) if as_name else None
                    if cand is None and n_obj:
                        cand = next(iter(n_obj.values()))
                    n_obj = self.get_object(cand) if isinstance(cand, Ref) else cand
                if isinstance(n_obj, tuple):
                    sdict, raw = n_obj
                    try:
                        w["ap_ops"], filters = _body_text(self._decode_stream(sdict, raw))
                        if filters:
                            w["ap_filters"] = filters
                        apres = self._resolve(sdict.get("Resources"))
                        apfonts = self._resolve(apres.get("Font")) \
                            if isinstance(apres, dict) else None
                        if isinstance(apfonts, dict):
                            blobs = [self.font_descriptor(k, self._resolve(v))
                                     for k, v in apfonts.items()
                                     if isinstance(self._resolve(v), dict)]
                            if blobs:
                                w["ap_fonts"] = blobs
                    except ValueError:
                        pass  # corrupt AP stream: keep the widget, drop AP
                out.append(w)
        return out

    def page_content(self, page: dict) -> bytes:
        # fetch via get_object, NOT _resolve: _resolve strips a stream
        # object down to its dictionary, losing the body
        contents = page.get("Contents")
        if isinstance(contents, Ref):
            contents = self.get_object(contents)
        items = contents if isinstance(contents, list) else [contents]
        parts = []
        for item in items:
            obj = self.get_object(item) if isinstance(item, Ref) else item
            if isinstance(obj, tuple):
                sdict, raw = obj
                parts.append(self._decode_stream(sdict, raw))
        # §7.8.2: multiple streams are concatenated with whitespace between
        return b"\n".join(parts)

    # ------------------------------------------------------------- fonts
    def font_descriptor(self, key: str, fdict: dict) -> str:
        """PDF font dictionary -> this engine's pdf_font JSON blob."""
        f = {k: self._resolve(v) for k, v in fdict.items()}
        d: dict = {"font_key": key}
        d["base_font"] = str(f.get("BaseFont", "")).lstrip("/")
        d["subtype"] = str(f.get("Subtype", "Type1")).lstrip("/")
        enc = f.get("Encoding")
        if isinstance(enc, dict):
            # /Differences (§9.6.6.1): [code name name ... code name ...] —
            # fonts.py fully supports the 'differences' map; dropping it
            # produced wrong text for remapped simple fonts (r4 review)
            diffs = self._resolve(enc.get("Differences"))
            if isinstance(diffs, list):
                dmap: dict[str, str] = {}
                code = 0
                for item in diffs:
                    item = self._resolve(item)
                    if isinstance(item, (int, float)):
                        code = int(item)
                    elif isinstance(item, str):
                        dmap[str(code)] = item.lstrip("/")
                        code += 1
                if dmap:
                    d["differences"] = dmap
            enc = str(self._resolve(enc.get("BaseEncoding", "")) or "")
        if enc:
            d["encoding"] = str(enc).lstrip("/")
        if d["subtype"] == "Type3":
            # Type-3 glyph space is /FontMatrix (§9.6.5) — widths scale by
            # FontMatrix[0], not the standard 1/1000 (page_font.h:313-366)
            fm = self._resolve(f.get("FontMatrix"))
            if isinstance(fm, list) and len(fm) == 6:
                d["font_matrix"] = [float(self._resolve(x)) for x in fm]
        if "FirstChar" in f:
            d["first_char"] = int(f["FirstChar"])
        widths = self._resolve(f.get("Widths"))
        if isinstance(widths, list):
            d["widths"] = [float(self._resolve(w) or 0.0) for w in widths]
        # embedded font program (/FontDescriptor /FontFile{,2,3}): the
        # descriptor format's base64 'font_program' key drives width
        # extraction when /Widths is absent (r4 review)
        fdesc = f.get("FontDescriptor")
        # a Type0 font's descendant CIDFont lends its /FontDescriptor when
        # the Type0 dict has none, and carries the CID widths (/DW, /W)
        df = None
        if d["subtype"] == "Type0":
            desc = f.get("DescendantFonts")
            if isinstance(desc, list) and desc:
                df = self._resolve(desc[0])
        if isinstance(df, dict):
            fdesc = fdesc or df.get("FontDescriptor")
        fdesc_dict = self._resolve(fdesc)
        if isinstance(fdesc_dict, dict):
            for kk in ("FontFile2", "FontFile3", "FontFile"):
                ff = fdesc_dict.get(kk)
                ff_obj = self.get_object(ff) if isinstance(ff, Ref) else None
                if isinstance(ff_obj, tuple):
                    d["font_program"] = base64.b64encode(
                        self._decode_stream(*ff_obj)
                    ).decode("ascii")
                    break
            for src_k, dst_k in (("Ascent", "ascent"), ("Descent", "descent"),
                                 ("CapHeight", "capheight")):
                v = self._resolve(fdesc_dict.get(src_k))
                if isinstance(v, (int, float)) and v:
                    d[dst_k] = float(v)
        # from the UNRESOLVED dict: _resolve strips stream objects to
        # their dictionaries, which would lose the CMap body
        tu = fdict.get("ToUnicode")
        tu_obj = self.get_object(tu) if isinstance(tu, Ref) else None
        if isinstance(tu_obj, tuple):
            d["to_unicode"] = self._decode_stream(*tu_obj).decode("latin-1", "replace")
        if isinstance(df, dict):
            if "DW" in df:
                d["dw"] = float(self._resolve(df["DW"]))
            w = self._resolve(df.get("W"))
            if isinstance(w, list):
                d["w"] = _cid_w_to_map([self._resolve(x) for x in w], self._resolve)
        return json.dumps(d, sort_keys=True)


def _body_text(data: bytes) -> tuple[str, list[str] | None]:
    """A decoded stream body -> (text, declared filters): plain UTF-8 with
    no filters, else ASCII85 declared as ``["ASCII85Decode"]``. Binary
    bodies (inline images, binary string operands) must not ride as
    surrogateescape strings, which break Arrow serialization (r4 review:
    one such file killed the whole ingest task); the reader undoes the
    declared transport (document.py)."""
    try:
        return data.decode("utf-8"), None
    except UnicodeDecodeError:
        return (base64.a85encode(data) + b"~>").decode("ascii"), ["ASCII85Decode"]


def _split_scope(per_page: list[dict[str, str]]) -> tuple[list[str], list[list[str]]]:
    """Per-page ``{key: blob}`` resource maps -> (doc-level blobs, per-page
    page-scoped blobs). A key bound to one blob on every page that names
    it is doc-level (blobs in first-seen order, deduplicated). A key
    reused for DIFFERENT blobs would silently decode every page with
    whichever blob came last (r4 review), so it ships page-scoped inside
    each page's descriptor, where the reader lets it win for that unit."""
    blobs_of: dict[str, set[str]] = {}
    for blobs in per_page:
        for key, blob in blobs.items():
            blobs_of.setdefault(key, set()).add(blob)
    doc = {k for k, bs in blobs_of.items() if len(bs) == 1}
    doc_blobs = list(dict.fromkeys(b for blobs in per_page for k, b in blobs.items() if k in doc))
    return doc_blobs, [[b for k, b in blobs.items() if k not in doc] for blobs in per_page]


def _cid_w_to_map(w: list, resolve) -> dict[str, float]:
    """CID /W array (§9.7.4.3) -> {cid: width} compact map."""
    out: dict[str, float] = {}
    i = 0
    while i < len(w):
        c = w[i]
        if i + 1 < len(w) and isinstance(resolve(w[i + 1]), list):
            for j, width in enumerate(resolve(w[i + 1])):
                out[str(int(c) + j)] = float(resolve(width))
            i += 2
        elif i + 2 < len(w):
            c2, width = int(resolve(w[i + 1])), float(resolve(w[i + 2]))
            if not (0 <= int(c) <= c2) or c2 - int(c) >= 65536:
                # CIDs are 16-bit; a hostile range like [0 2e8 500] used to
                # materialize gigabytes of keys (verified DoS — r4 review)
                raise ValueError("CID /W range invalid or exceeds 65536 CIDs")
            for cid in range(int(c), c2 + 1):
                out[str(cid)] = width
            i += 3
        else:
            break
    return out


def parse_pdf_spans(data: bytes, doc_id: str = "", password=None) -> list[dict]:
    """One PDF file -> north-rule span rows (kind, text, media_ref, offset).

    Emits the full span set the engine's kernel consumes (document.py
    build_doc_resources / doc_meta): doc-level pdf_font spans (deduped
    across pages), pdf_meta (/Info docinfo), pdf_outline (/Outlines tree),
    pdf_acroform_dr (/AcroForm /DR fonts), pdf_form (form XObjects), then
    per page a pdf_page descriptor + the pdf_ops content stream, media
    placeholder spans for image XObjects (media_ref =
    "{doc_id}/p{page}/{name}"), and pdf_annot spans (/Link URIs + /Widget
    fields with their /AP /N sub-streams). Reference parity:
    page.h:1158-1753 (annots incl. AP sub-decode), document.h:140-181
    (info/outline/acroform), page_xobject_image.h + stream.h:374-503
    (image/form XObjects). Content bytes ride the text column as plain
    UTF-8 or declared ASCII85 transport (Arrow-safe). ValueError-only
    contract, like every codec in this repo."""
    try:
        return _parse_pdf_spans(data, doc_id, password)
    except ValueError:
        raise
    except Exception as e:  # RecursionError, IndexError, struct.error, ...
        raise ValueError(f"malformed PDF: {type(e).__name__}: {e}") from e


def _parse_pdf_spans(data: bytes, doc_id: str = "", password=None) -> list[dict]:
    pdf = PdfFile(data, password=password)
    spans: list[dict] = []
    off = 0

    def emit(kind, text, media_ref=None):
        nonlocal off
        spans.append({"kind": kind, "text": text, "media_ref": media_ref, "offset": off})
        off += 1

    pages = pdf.pages()
    if not pages:
        raise ValueError("PDF has no pages")
    # collect per-page font/xobject blobs FIRST, then split each kind
    # into doc-level spans and page-scoped descriptor entries (_split_scope)
    page_fonts: list[dict[str, str]] = []
    page_forms: list[dict[str, str]] = []
    page_images: list[dict[str, dict]] = []
    for page in pages:
        res = pdf._resolve(page.get("Resources")) or {}
        fonts = pdf._resolve(res.get("Font")) if isinstance(res, dict) else None
        blobs: dict[str, str] = {}
        if isinstance(fonts, dict):
            for key, fref in fonts.items():
                fd = pdf._resolve(fref)
                if isinstance(fd, dict):
                    blobs[key] = pdf.font_descriptor(key, fd)
        images, forms = pdf.page_xobjects(page)
        fblobs: dict[str, str] = {}
        for name, (sdict, raw) in forms.items():
            try:
                blob, ffonts = pdf.form_blob(name, sdict, raw)
            except ValueError:
                continue  # corrupt form stream: skip the form, keep the page
            fblobs[name] = blob
            # the form's own /Resources fonts join the page's font map for
            # keys the page doesn't define (the interpreter runs forms
            # against the page's font namespace)
            for k, b in ffonts:
                blobs.setdefault(k, b)
        page_fonts.append(blobs)
        page_forms.append(fblobs)
        page_images.append(images)
    doc_fonts, local_fonts = _split_scope(page_fonts)
    doc_forms, local_forms = _split_scope(page_forms)
    for blob in doc_fonts:
        emit("pdf_font", blob)

    info = pdf.doc_info()
    if info:
        emit("pdf_meta", json.dumps(info, sort_keys=True))
    outline = pdf.outline_tree(pdf.page_index_by_objnum(pages))
    if outline:
        emit("pdf_outline", json.dumps(outline, sort_keys=True))
    dr_fonts = pdf.acroform_dr_fonts()
    if dr_fonts:
        emit("pdf_acroform_dr", json.dumps(dr_fonts))

    for blob in doc_forms:
        emit("pdf_form", blob)

    page_payloads = []
    annots_all: list[dict] = []
    for pno, page in enumerate(pages):
        media_box = [float(pdf._resolve(v)) for v in (pdf._resolve(page.get("MediaBox")) or [0, 0, 612, 792])]
        desc: dict = {"page": pno, "media_box": media_box,
                      "rotate": int(pdf._resolve(page.get("Rotate")) or 0)}
        crop = pdf._resolve(page.get("CropBox"))
        if crop:
            desc["crop_box"] = [float(pdf._resolve(v)) for v in crop]
        if local_fonts[pno]:
            desc["fonts"] = local_fonts[pno]
        if local_forms[pno]:
            desc["forms"] = local_forms[pno]
        payload, filters = _body_text(pdf.page_content(page))
        if filters:
            desc["content_filters"] = filters
        page_payloads.append((json.dumps(desc, sort_keys=True), payload))
        annots_all.extend(pdf.page_annots(page, pno))
    for desc_json, _payload in page_payloads:
        emit("pdf_page", desc_json)
    for _desc_json, payload in page_payloads:
        emit("pdf_ops", payload)
    for pno, images in enumerate(page_images):
        for name in images:
            emit("media", None, media_ref=f"{doc_id}/p{pno}/{name}")
    for a in annots_all:
        emit("pdf_annot", json.dumps(a, sort_keys=True))
    return spans


_IMAGE_FORMATS = {
    "DCTDecode": "jpeg", "DCT": "jpeg",
    "JPXDecode": "jp2",
    "CCITTFaxDecode": "ccitt", "CCF": "ccitt",
    "JBIG2Decode": "jbig2",
}


def parse_pdf_media(data: bytes, doc_id: str = "", password=None) -> list[dict]:
    """Image XObject PAYLOADS from one PDF file: one row per placed image
    resource — the byte-level twin of the placeholder ``media`` spans that
    :func:`parse_pdf_spans` emits (same ``media_ref`` keys, so the two
    tables join). Reference analog: page_xobject_image.h decodes these via
    the image libs; here the payload is handed to the multimodal operators
    (operators/multimodal.decode_media reads JPEG/JP2 magics for real).

    ``content_type``: 'jpeg'/'jp2'/'ccitt'/'jbig2' when the filter chain
    terminates in that format (transport filters before it are applied, the
    format bytes pass through untouched), else 'raw' = fully decoded
    samples. Width/height/bits/colorspace ride along for raw consumers.
    ValueError-only per-file contract, like parse_pdf_spans. ``password``
    mirrors parse_pdf_spans so the media lane can open the same encrypted
    files the span lane decrypts (r6 review: the media_ref join must not
    go empty on password-protected corpora)."""
    try:
        return _parse_pdf_media(data, doc_id, password=password)
    except ValueError:
        raise
    except Exception as e:
        raise ValueError(f"malformed PDF: {type(e).__name__}: {e}") from e


def _parse_pdf_media(data: bytes, doc_id: str = "", password=None) -> list[dict]:
    pdf = PdfFile(data, password=password)
    pages = pdf.pages()
    if not pages:
        raise ValueError("PDF has no pages")
    rows: list[dict] = []
    for pno, page in enumerate(pages):
        images, _forms = pdf.page_xobjects(page)
        for name, (sdict, raw) in images.items():
            filters = pdf._resolve(sdict.get("Filter"))
            if isinstance(filters, str):
                filters = [filters]
            filters = [str(pdf._resolve(f)).lstrip("/") for f in (filters or [])]
            content_type = "raw"
            for f in filters:
                if f in _IMAGE_FORMATS:
                    content_type = _IMAGE_FORMATS[f]
                    break
            try:
                payload = pdf._decode_stream(sdict, raw)
            except ValueError:
                continue  # corrupt image stream: skip the image, keep the doc
            if content_type == "jbig2":
                # /JBIG2Globals (PDF §7.4.7) is a shared segment stream that
                # is LOGICALLY PREPENDED to each image's data; folding it in
                # here makes every payload row self-contained for
                # jbig2.decode_jbig2 (no side table to join)
                parms = pdf._resolve(sdict.get("DecodeParms"))
                for pd_ in (parms if isinstance(parms, list) else [parms]):
                    pd_ = pdf._resolve(pd_)
                    if isinstance(pd_, dict) and pd_.get("JBIG2Globals") is not None:
                        try:
                            gobj = pdf.get_object(pd_["JBIG2Globals"])
                            if isinstance(gobj, tuple) and len(gobj) == 2:
                                payload = pdf._decode_stream(*gobj) + payload
                        except ValueError:
                            pass  # unreadable globals: ship the bare stream
                        break
            cs = pdf._resolve(sdict.get("ColorSpace"))
            if isinstance(cs, list) and cs:
                cs = pdf._resolve(cs[0])
            rows.append({
                "media_ref": f"{doc_id}/p{pno}/{name}",
                "content_type": content_type,
                "width": int(pdf._resolve(sdict.get("Width")) or 0),
                "height": int(pdf._resolve(sdict.get("Height")) or 0),
                "bits": int(pdf._resolve(sdict.get("BitsPerComponent")) or 8),
                "colorspace": str(cs) if cs is not None else None,
                "payload": payload,
            })
    return rows


PDF_DOCS_DDL = ("doc_id string, spans array<struct<kind:string,text:string,"
                "media_ref:string,offset:int>>, error string")
MEDIA_FILE_DDL = ("doc_id string, media_ref string, content_type string, "
                  "width int, height int, bits int, colorspace string, "
                  "payload binary, error string")
_MAX_FILE_BYTES = 512 << 20

# A file lane: output DDL, the rows of one parsed file (columns a row leaves
# out are null), and a failed file's error row besides doc_id and error.
_SPANS_LANE = (PDF_DOCS_DDL, lambda doc_id, data, pw: [
    {"doc_id": doc_id, "spans": parse_pdf_spans(data, doc_id, password=pw)}], {"spans": []})
_MEDIA_LANE = (MEDIA_FILE_DDL, lambda doc_id, data, pw: [
    {"doc_id": doc_id, **m} for m in parse_pdf_media(data, doc_id, password=pw)], {})


class FileTooLarge(Exception):
    """A file over the lanes' ``max_file_bytes``; it is never parsed."""


def _read_pdf_files(spark, path: str, num_partitions: int | None,
                    glob: str | None, recursive: bool):
    """The (path, content) binaryFile scan both file lanes read."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    files = reader.load(path).select("path", "content")
    return files.repartition(num_partitions) if num_partitions else files


def _per_file(files_df, lane, password=None, max_file_bytes: int = _MAX_FILE_BYTES):
    """Both file lanes' per-file ``mapInArrow`` loop over a (path, content)
    frame. A file over ``max_file_bytes`` gives one FileTooLarge error row
    without leaving Arrow; any other file gives the lane's rows, or one
    error row if its parse raises or its rows do not fit the lane's schema
    (say an image /Width beyond int32)."""
    from docling_parse_spark.extract import _arrow_schema

    ddl, rows_of, blank = lane
    schema = _arrow_schema(ddl)

    def run(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            contents = batch.column("content")
            sizes = pc.binary_length(contents).to_pylist()
            parts = []
            for i, p in enumerate(batch.column("path").to_pylist()):
                doc_id = p.split("://", 1)[-1].removeprefix("file:")
                try:
                    if max_file_bytes and (sizes[i] or 0) > max_file_bytes:
                        raise FileTooLarge(f"{sizes[i]} bytes > max_file_bytes={max_file_bytes}")
                    rows = rows_of(doc_id, contents[i].as_py(), password)
                    parts.append(pa.RecordBatch.from_pylist(rows, schema=schema))
                except Exception as e:
                    parts.append(pa.RecordBatch.from_pylist([
                        {"doc_id": doc_id, **blank, "error": f"{type(e).__name__}: {e}"}],
                        schema=schema))
            yield from pa.Table.from_batches(parts, schema=schema).combine_chunks().to_batches()

    return files_df.select("path", "content").mapInArrow(run, schema=ddl)


def pdf_files_to_docs(files_df, max_file_bytes: int = _MAX_FILE_BYTES,
                      password=None):
    """(path, content) binaryFile frame -> north-rule docs rows with
    per-file failure accounting. Shared by batch ``ingest_pdf_files`` and
    ``streaming.stream_ingest_pdf_files`` so the two stay semantically
    identical by construction.

    ``max_file_bytes`` (default 512 MiB) error-accounts oversized files
    instead of parsing them: one outlier GB-scale file in a web corpus
    would otherwise hold a whole Arrow batch + parse working set in one
    task's memory. The check uses the already-read payload length, so it
    works for both the batch scan and the streaming source."""
    return _per_file(files_df, _SPANS_LANE, password, max_file_bytes)


def ingest_pdf_files(spark, path: str, num_partitions: int | None = None,
                     glob: str | None = None, recursive: bool = False,
                     password=None):
    """Directory/glob of .pdf files -> north-rule docs table with per-file
    failure accounting (failed files surface with an empty spans array +
    error column). ``doc_id`` is the scheme-stripped file path — the bare
    basename collided for same-named files in different directories
    (r4 review). ``glob`` maps to binaryFile's pathGlobFilter (e.g.
    '*.pdf'), ``recursive`` to recursiveFileLookup.

    Output order is whatever the scan produced: no global sort here — a
    corpus-wide ``orderBy(doc_id)`` would range-shuffle every span payload
    in the default ingest path for nothing (r4 verdict; downstream
    ``extract_spans`` hash-repartitions immediately, and deterministic
    ordering belongs at the sink — sort there if you need it)."""
    return pdf_files_to_docs(
        _read_pdf_files(spark, path, num_partitions, glob, recursive),
        password=password)


def ingest_pdf_media(spark, path: str, num_partitions: int | None = None,
                     glob: str | None = None, recursive: bool = False,
                     password: str | bytes | None = None):
    """Directory/glob of .pdf files -> embedded-image payload table
    (one row per image XObject, joinable with ingest_pdf_files' media
    spans on media_ref). Per-file failure accounting and the size gate
    are ingest_pdf_files' own; files without images simply contribute no
    rows. ``glob``/``recursive``/``password`` mirror ingest_pdf_files so
    the two scans select — and can open — the same file set."""
    return _per_file(_read_pdf_files(spark, path, num_partitions, glob, recursive),
                     _MEDIA_LANE, password)
