"""JBIG2 generic-region codec (ITU-T T.88) — from-spec, stdlib + numpy.

The reference vendors pdfium's full JBIG2 codec
(``/root/reference/src/third_party/pdfium_jbig2/core/fxcodec/jbig2/`` —
JBig2_GrdProc / JBig2_ArithDecoder etc.); this container has none of it,
so this module implements the subset that covers scanned bilevel pages in
web PDFs from the public spec:

* embedded-stream segment parsing (§7.2: headers, page info §7.4.8,
  region info §7.4.1) — the PDF ``/JBIG2Decode`` profile (no file
  header), with ``/JBIG2Globals`` prepended when present
* GENERIC REGION decoding (§6.2): MQ arithmetic coder (Annex E),
  templates GB0-GB3 with adaptive (AT) pixels, typical-prediction
  (TPGDON), and the MMR=1 path via this repo's T.6 reader
  (:mod:`docling_parse_spark.ccitt`)
* SYMBOL DICTIONARY (§6.5) + TEXT REGION (§6.4) decoding in the
  arithmetic profile (SDHUFF=0, REFAGG=0, no refinement) — what jbig2enc
  emits when scan pipelines (OCRmyPDF et al.) re-encode pages as shared
  glyphs + placements: Annex A integer coders (IADH/IADW/IAEX/IADT/IAFS/
  IADS/IAIT + IAID), height-class symbol decode over a shared MQ stream,
  chained dictionary imports, strip/S/T placement with all four
  REFCORNERs, transposition, SBDSOFFSET, and multi-strips
* region-to-page composition with the five external combination
  operators (OR/AND/XOR/XNOR/REPLACE)

Later rounds extended the list above to the full T.88 feature set:
refinement regions and refined/aggregate symbols (§6.3, §6.5.8.2),
pattern dictionaries + halftone regions incl. HMMR grayscale planes
(§6.6, §6.7, Annex C.5), the complete Annex B Huffman profile
(SDHUFF/SBHUFF, custom code tables, SDHUFF+SDREFAGG dictionaries), and
§7.2.7 unknown-length segments (terminator + row-count scan). No typed
refusals remain: every T.88 coding profile decodes, and malformed or
hostile streams raise ``ValueError`` into per-file accounting.

``encode_jbig2_generic`` / ``encode_jbig2_symbol_text`` are test
infrastructure like ``ccitt.encode_g4``: deterministic embedded-stream
writers used by the round-trip tests and fixtures. The MQ encoder follows
the spec's E.3 flow; the decoder is additionally anchored externally
through the MMR path (T.6 tables pinned by tests/test_ccitt.py against
spec vectors) plus a frozen known-answer stream in tests/test_jbig2.py
that guards both sides against silent drift.

Performance posture: the arithmetic path is a per-pixel Python loop —
correctness-grade, like the scalar AES fallback. At Spark level JBIG2
payloads decode in ``operators.multimodal.decode_media``'s Arrow-batched
stage over the media table, so throughput scales with executors; a
vectorized row-kernel is possible (contexts slide left-to-right) but not
worth the complexity until scan corpora dominate.
"""

from __future__ import annotations

import struct

import numpy as np

# MQ-coder probability state table (T.88 Table E.1): Qe, NMPS, NLPS, SWITCH
_QE = (
    (0x5601, 1, 1, 1), (0x3401, 2, 6, 0), (0x1801, 3, 9, 0),
    (0x0AC1, 4, 12, 0), (0x0521, 5, 29, 0), (0x0221, 38, 33, 0),
    (0x5601, 7, 6, 1), (0x5401, 8, 14, 0), (0x4801, 9, 14, 0),
    (0x3801, 10, 14, 0), (0x3001, 11, 17, 0), (0x2401, 12, 18, 0),
    (0x1C01, 13, 20, 0), (0x1601, 29, 21, 0), (0x5601, 15, 14, 1),
    (0x5401, 16, 14, 0), (0x5101, 17, 15, 0), (0x4801, 18, 16, 0),
    (0x3801, 19, 17, 0), (0x3401, 20, 18, 0), (0x3001, 21, 19, 0),
    (0x2801, 22, 19, 0), (0x2401, 23, 20, 0), (0x2201, 24, 21, 0),
    (0x1C01, 25, 22, 0), (0x1801, 26, 23, 0), (0x1601, 27, 24, 0),
    (0x1401, 28, 25, 0), (0x1201, 29, 26, 0), (0x1101, 30, 27, 0),
    (0x0AC1, 31, 28, 0), (0x09C1, 32, 29, 0), (0x08A1, 33, 30, 0),
    (0x0521, 34, 31, 0), (0x0441, 35, 32, 0), (0x02A1, 36, 33, 0),
    (0x0221, 37, 34, 0), (0x0141, 38, 35, 0), (0x0111, 39, 36, 0),
    (0x0085, 40, 37, 0), (0x0049, 41, 38, 0), (0x0025, 42, 39, 0),
    (0x0015, 43, 40, 0), (0x0009, 44, 41, 0), (0x0005, 45, 42, 0),
    (0x0001, 45, 43, 0), (0x5601, 46, 46, 0),
)


class _MQDecoder:
    """Annex E arithmetic decoder (software conventions, E.3.2-E.3.5).
    Past end-of-data, 1-bits are fed (marker-terminated streams)."""

    __slots__ = ("d", "n", "bp", "ct", "c", "a")

    def __init__(self, data: bytes):
        self.d = data
        self.n = len(data)
        self.bp = 0
        self.ct = 0
        self.c = self._byte(0) << 16
        self._bytein()
        self.c = (self.c << 7) & 0xFFFFFFFF
        self.ct -= 7
        self.a = 0x8000

    def _byte(self, i: int) -> int:
        return self.d[i] if i < self.n else 0xFF

    def _bytein(self):
        if self._byte(self.bp) == 0xFF:
            if self._byte(self.bp + 1) > 0x8F:
                self.c += 0xFF00
                self.ct = 8
            else:
                self.bp += 1
                self.c += self._byte(self.bp) << 9
                self.ct = 7
        else:
            self.bp += 1
            self.c += self._byte(self.bp) << 8
            self.ct = 8

    def decode(self, ci: bytearray, cm: bytearray, cx: int) -> int:
        """One bit in context ``cx`` (state index array ci, MPS array cm)."""
        icx = ci[cx]
        mps = cm[cx]
        qe, nmps, nlps, sw = _QE[icx]
        self.a -= qe
        if ((self.c >> 16) & 0xFFFF) < qe:
            # LPS subinterval (or conditional exchange)
            if self.a < qe:
                d = mps
                ci[cx] = nmps
            else:
                d = 1 - mps
                if sw:
                    cm[cx] = 1 - mps
                ci[cx] = nlps
            self.a = qe
        else:
            self.c -= qe << 16
            if self.a & 0x8000:
                return mps
            if self.a < qe:
                d = 1 - mps
                if sw:
                    cm[cx] = 1 - mps
                ci[cx] = nlps
            else:
                d = mps
                ci[cx] = nmps
        while True:  # RENORMD
            if self.ct == 0:
                self._bytein()
            self.a = (self.a << 1) & 0xFFFF
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
            if self.a & 0x8000:
                break
        return d


class _MQEncoder:
    """Annex E arithmetic encoder (E.3.6-E.3.9) — test/fixture side."""

    __slots__ = ("a", "c", "ct", "out")

    def __init__(self):
        self.a = 0x8000
        self.c = 0
        self.ct = 12
        self.out = bytearray([0])  # sentinel byte, stripped by finish()

    def encode(self, ci: bytearray, cm: bytearray, cx: int, d: int):
        icx = ci[cx]
        mps = cm[cx]
        qe, nmps, nlps, sw = _QE[icx]
        self.a -= qe
        if d == mps:  # CODEMPS
            if self.a & 0x8000:
                self.c += qe
                return
            if self.a < qe:
                self.a = qe
            else:
                self.c += qe
            ci[cx] = nmps
        else:  # CODELPS (conditional exchange when A < Qe)
            if self.a < qe:
                self.c += qe
            else:
                self.a = qe
            if sw:
                cm[cx] = 1 - mps
            ci[cx] = nlps
        while True:  # RENORME
            self.a = (self.a << 1) & 0xFFFF
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
            if self.ct == 0:
                self._byteout()
            if self.a & 0x8000:
                break

    def _byteout(self):
        o = self.out
        if o[-1] == 0xFF:
            o.append((self.c >> 20) & 0xFF)
            self.c &= 0xFFFFF
            self.ct = 7
        elif self.c < 0x8000000:
            o.append((self.c >> 19) & 0xFF)
            self.c &= 0x7FFFF
            self.ct = 8
        else:
            o[-1] += 1  # carry into the previous byte
            if o[-1] == 0xFF:
                self.c &= 0x7FFFFFF
                o.append((self.c >> 20) & 0xFF)
                self.c &= 0xFFFFF
                self.ct = 7
            else:
                o.append((self.c >> 19) & 0xFF)
                self.c &= 0x7FFFF
                self.ct = 8

    def finish(self) -> bytes:
        # FLUSH (E.3.8): SETBITS then push the remaining C out
        tempc = self.c + self.a
        self.c |= 0xFFFF
        if self.c >= tempc:
            self.c -= 0x8000
        self.c = (self.c << self.ct) & 0xFFFFFFFF
        self._byteout()
        self.c = (self.c << self.ct) & 0xFFFFFFFF
        self._byteout()
        return bytes(self.out[1:])


# generic-region templates (§6.2.5.3): the CONTEXT bit layout is FIXED by
# the spec — each slot below is one context bit, listed MSB->LSB; an int k
# marks the slot of adaptive pixel A(k+1) (substituted from the segment's
# AT bytes), a tuple is a fixed causal pixel. AT pixels keep their spec
# slot even when moved off their nominal position (r6 review: sorting the
# pixel list by (y, x) silently misdecoded conforming streams with
# non-nominal AT — the layout here is pinned against pdfium
# JBig2_GrdProc.cpp DecodeArithTemplate{0123}Unopt, which the reference
# vendors, and the TPGDON pseudo-context constants below check out
# against it). _NOMINAL_AT gives the default A positions.
_TEMPLATES = (
    (3, (-1, -2), (0, -2), (1, -2), 2, 1, (-2, -1), (-1, -1), (0, -1),
     (1, -1), (2, -1), 0, (-4, 0), (-3, 0), (-2, 0), (-1, 0)),
    ((-1, -2), (0, -2), (1, -2), (2, -2), (-2, -1), (-1, -1), (0, -1),
     (1, -1), (2, -1), 0, (-3, 0), (-2, 0), (-1, 0)),
    ((-1, -2), (0, -2), (1, -2), (-2, -1), (-1, -1), (0, -1), (1, -1),
     0, (-2, 0), (-1, 0)),
    ((-3, -1), (-2, -1), (-1, -1), (0, -1), (1, -1), 0, (-4, 0), (-3, 0),
     (-2, 0), (-1, 0)),
)
_NOMINAL_AT = (
    ((3, -1), (-3, -1), (2, -2), (-2, -2)),
    ((3, -1),),
    ((2, -1),),
    ((2, -1),),
)
_TPGDON_CTX = (0x9B25, 0x0795, 0x00E5, 0x0195)


def _template_pixels(template: int, at) -> list[tuple[int, int]]:
    """Concrete (dx, dy) per context bit, MSB first: the spec layout with
    the segment's AT coordinates substituted into their fixed slots."""
    if not 0 <= template <= 3:
        raise ValueError(f"generic template {template} out of range")
    nominal = _NOMINAL_AT[template]
    at = [tuple(p) for p in (at if at is not None else nominal)]
    if len(at) != len(nominal):
        raise ValueError(f"template {template} needs {len(nominal)} AT pixels")
    for dx, dy in at:
        if dy > 0 or (dy == 0 and dx >= 0):
            raise ValueError(f"non-causal AT pixel ({dx},{dy})")
    return [at[s] if isinstance(s, int) else s for s in _TEMPLATES[template]]


def _fresh_contexts(template: int) -> tuple[bytearray, bytearray]:
    nbits = len(_TEMPLATES[template])
    return bytearray(1 << nbits), bytearray(1 << nbits)


def _decode_generic_arith(data: bytes, w: int, h: int, template: int,
                          at, tpgdon: bool) -> np.ndarray:
    ci, cm = _fresh_contexts(template)
    return _decode_generic_shared(_MQDecoder(data), ci, cm, w, h,
                                  template, at, tpgdon)


def _decode_generic_shared(dec, ci, cm, w: int, h: int, template: int,
                           at, tpgdon: bool, skip=None) -> np.ndarray:
    """Generic-region core over a CALLER-OWNED MQ decoder + context pair:
    symbol dictionaries decode every symbol bitmap mid-stream through one
    shared decoder/context set (§6.5.8.2.1). ``skip``: optional (h, w)
    mask — pixels under a set bit are 0 and code no decision (§6.2.5.7
    USESKIP, the halftone out-of-region guard)."""
    if (template == 0 and skip is None
            and [tuple(p) for p in (at or _NOMINAL_AT[0])]
            == list(_NOMINAL_AT[0])):
        return _decode_generic_t0_fast(dec, ci, cm, w, h, tpgdon)
    pix = _template_pixels(template, at)
    rows = [bytearray(w) for _ in range(h)]
    ltp = 0
    for y in range(h):
        if tpgdon:
            if dec.decode(ci, cm, _TPGDON_CTX[template]):
                ltp ^= 1
            if ltp:  # typical row: copy the one above (zeros for row 0)
                if y:
                    rows[y][:] = rows[y - 1]
                continue
        row = rows[y]
        srow = skip[y] if skip is not None else None
        for x in range(w):
            if srow is not None and srow[x]:
                continue  # skipped pixel stays 0, nothing decoded
            cx = 0
            for dx, dy in pix:
                xx = x + dx
                cx = (cx << 1) | (
                    rows[y + dy][xx] if y + dy >= 0 and 0 <= xx < w else 0
                )
            row[x] = dec.decode(ci, cm, cx)
    return np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(h, w)


def _decode_generic_t0_fast(dec, ci, cm, w: int, h: int,
                            tpgdon: bool) -> np.ndarray:
    """Template-0 nominal-AT fast path: the 16 context pixels form three
    contiguous row windows (y-2: x-2..x+2 at bits 15..11, y-1: x-3..x+3
    at bits 10..4, y: x-4..x-1 at bits 3..0), so the context slides —
    shift left, mask the bits that crossed a window boundary (0xF7EE),
    OR in the three entering pixels — instead of being rebuilt from 16
    lookups per pixel. Bit-identical to the generic path (the round-trip
    and frozen-KAT tests cover both)."""
    rows = [bytearray(w) for _ in range(h)]
    pad = b"\x00" * 5
    zero = bytes(w + 5)
    decode = dec.decode
    ltp = 0
    for y in range(h):
        if tpgdon:
            if decode(ci, cm, 0x9B25):
                ltp ^= 1
            if ltp:  # typical row: copy the one above (zeros for row 0)
                if y:
                    rows[y][:] = rows[y - 1]
                continue
        row = rows[y]
        r1 = bytes(rows[y - 1]) + pad if y >= 1 else zero
        r2 = bytes(rows[y - 2]) + pad if y >= 2 else zero
        cx = 0
        for xx in range(-2, 3):  # seed at x=0: y-2 window
            cx = (cx << 1) | (r2[xx] if xx >= 0 else 0)
        for xx in range(-3, 4):  # y-1 window
            cx = (cx << 1) | (r1[xx] if xx >= 0 else 0)
        cx <<= 4  # current-row window: all off-edge zeros
        for x in range(w):
            bit = decode(ci, cm, cx)
            row[x] = bit
            cx = (((cx << 1) & 0xF7EE) | (r2[x + 3] << 11)
                  | (r1[x + 4] << 4) | bit)
    return np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(h, w)


def _encode_generic_arith(img: np.ndarray, template: int, at,
                          tpgdon: bool) -> bytes:
    ci, cm = _fresh_contexts(template)
    enc = _MQEncoder()
    _encode_generic_shared(enc, ci, cm, img, template, at, tpgdon)
    return enc.finish()


def _encode_generic_shared(enc, ci, cm, img: np.ndarray, template: int,
                           at, tpgdon: bool, skip=None) -> None:
    pix = _template_pixels(template, at)
    h, w = img.shape
    rows = [bytearray(bytes(img[y])) for y in range(h)]
    if skip is not None:  # skipped pixels are 0 by definition on both sides
        for y in range(h):
            for x in range(w):
                if skip[y][x]:
                    rows[y][x] = 0
    ltp = 0
    for y in range(h):
        if tpgdon:
            prev = rows[y - 1] if y else bytearray(w)
            typical = rows[y] == prev
            enc.encode(ci, cm, _TPGDON_CTX[template], 1 if typical != (ltp == 1) else 0)
            ltp = 1 if typical else 0
            if typical:
                continue
        row = rows[y]
        srow = skip[y] if skip is not None else None
        for x in range(w):
            if srow is not None and srow[x]:
                continue
            cx = 0
            for dx, dy in pix:
                xx = x + dx
                cx = (cx << 1) | (
                    rows[y + dy][xx] if y + dy >= 0 and 0 <= xx < w else 0
                )
            enc.encode(ci, cm, cx, row[x])


# ------------------------------------ §6.3 refinement region core
#
# Context layouts follow T.88 figures 12/14 with the bit assignment used
# by every deployed decoder (reference: pdfium JBig2_GrrdProc.cpp —
# DecodeTemplate0UnoptCalculateContext / DecodeTemplate1Unopt, read for
# the WHAT: which pixel rides in which context bit).  (rx, ry) is the
# reference-bitmap coordinate x-GRREFERENCEDX, y-GRREFERENCEDY.

_REF_LTP_CTX = (0x0010, 0x0008)  # per GRTEMPLATE
_NOMINAL_RAT = ((-1, -1), (-1, -1))


def _fresh_ref_contexts(template: int) -> tuple[bytearray, bytearray]:
    n = 13 if template == 0 else 10
    return bytearray(1 << n), bytearray(1 << n)


def _ref_context(cur, ref, x: int, y: int, rx: int, ry: int,
                 template: int, at) -> int:
    """13-bit (GRTEMPLATE=0) / 10-bit (=1) refinement context."""
    if template == 0:
        (a1x, a1y), (a2x, a2y) = at
        return (ref(rx + 1, ry + 1)
                | ref(rx, ry + 1) << 1
                | ref(rx - 1, ry + 1) << 2
                | ref(rx + 1, ry) << 3
                | ref(rx, ry) << 4
                | ref(rx - 1, ry) << 5
                | ref(rx + 1, ry - 1) << 6
                | ref(rx, ry - 1) << 7
                | ref(rx + a2x, ry + a2y) << 8
                | cur(x - 1, y) << 9
                | cur(x + 1, y - 1) << 10
                | cur(x, y - 1) << 11
                | cur(x + a1x, y + a1y) << 12)
    return (ref(rx + 1, ry + 1)
            | ref(rx, ry + 1) << 1
            | ref(rx + 1, ry) << 2
            | ref(rx, ry) << 3
            | ref(rx - 1, ry) << 4
            | ref(rx, ry - 1) << 5
            | cur(x - 1, y) << 6
            | cur(x + 1, y - 1) << 7
            | cur(x, y - 1) << 8
            | cur(x - 1, y - 1) << 9)


def _check_rat(template: int, at):
    at = [tuple(p) for p in (at if at is not None else _NOMINAL_RAT)]
    if template != 0:
        return _NOMINAL_RAT  # template 1 carries no AT pixels
    if len(at) != 2:
        raise ValueError("refinement template 0 needs 2 AT pixels")
    a1x, a1y = at[0]
    if a1y > 0 or (a1y == 0 and a1x >= 0):
        raise ValueError(f"non-causal refinement A1 pixel ({a1x},{a1y})")
    return at


def _ref_typical(ref, rx: int, ry: int) -> tuple[bool, int]:
    """TPGRON per-pixel test (§6.3.5.6): is the 3x3 reference
    neighbourhood uniform, and at what value."""
    v = ref(rx, ry)
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            if ref(rx + dx, ry + dy) != v:
                return False, v
    return True, v


def _decode_refinement_shared(dec, ci, cm, w: int, h: int, template: int,
                              at, ref_bm: np.ndarray, dx: int, dy: int,
                              tpgron: bool) -> np.ndarray:
    """Refinement-region core over a caller-owned MQ decoder + context
    pair (shared across a symbol dictionary / text region, §6.5.8.2)."""
    at = _check_rat(template, at)
    rh, rw = ref_bm.shape
    rrows = [bytes(ref_bm[yy]) for yy in range(rh)]

    def ref(xx, yy):
        return rrows[yy][xx] if 0 <= yy < rh and 0 <= xx < rw else 0

    rows = [bytearray(w) for _ in range(h)]

    def cur(xx, yy):
        return rows[yy][xx] if 0 <= yy < h and 0 <= xx < w else 0

    ltp = 0
    ltp_ctx = _REF_LTP_CTX[template]
    for y in range(h):
        if tpgron:
            ltp ^= dec.decode(ci, cm, ltp_ctx)
        row = rows[y]
        ry = y - dy
        for x in range(w):
            rx = x - dx
            if ltp:
                uniform, v = _ref_typical(ref, rx, ry)
                if uniform:
                    row[x] = v
                    continue
            cx = _ref_context(cur, ref, x, y, rx, ry, template, at)
            row[x] = dec.decode(ci, cm, cx)
    return np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(h, w)


def _encode_refinement_shared(enc, ci, cm, img: np.ndarray, template: int,
                              at, ref_bm: np.ndarray, dx: int, dy: int,
                              tpgron: bool) -> None:
    at = _check_rat(template, at)
    rh, rw = ref_bm.shape
    rrows = [bytes(ref_bm[yy]) for yy in range(rh)]

    def ref(xx, yy):
        return rrows[yy][xx] if 0 <= yy < rh and 0 <= xx < rw else 0

    h, w = img.shape
    rows = [bytearray(bytes(img[y])) for y in range(h)]

    def cur(xx, yy):
        return rows[yy][xx] if 0 <= yy < h and 0 <= xx < w else 0

    ltp = 0
    ltp_ctx = _REF_LTP_CTX[template]
    for y in range(h):
        row = rows[y]
        ry = y - dy
        if tpgron:
            # LTP=1 is usable iff every pixel with a uniform reference
            # neighbourhood already equals that uniform value
            usable = True
            for x in range(w):
                uniform, v = _ref_typical(ref, x - dx, ry)
                if uniform and row[x] != v:
                    usable = False
                    break
            enc.encode(ci, cm, ltp_ctx, 1 if usable != (ltp == 1) else 0)
            ltp = 1 if usable else 0
        for x in range(w):
            rx = x - dx
            if ltp:
                uniform, _v = _ref_typical(ref, rx, ry)
                if uniform:
                    continue
            cx = _ref_context(cur, ref, x, y, rx, ry, template, at)
            enc.encode(ci, cm, cx, row[x])


# ------------------------------------- Annex A arithmetic integer coder

# (needed bits, offset) per prefix bucket — T.88 Table A.1
_INT_RANGES = ((2, 0), (4, 4), (6, 20), (8, 84), (12, 340), (32, 4436))
_OOB = object()  # out-of-band marker (ends IADW runs / IAEX classes)


class _ArithInt:
    """One IAx decoding context (A.2): 512-state tree keyed by PREV."""

    __slots__ = ("ci", "cm")

    def __init__(self):
        self.ci = bytearray(512)
        self.cm = bytearray(512)

    def decode(self, dec: "_MQDecoder"):
        prev = 1
        s = dec.decode(self.ci, self.cm, prev)
        prev = (prev << 1) | s
        depth = 0
        while depth < len(_INT_RANGES) - 1:
            d = dec.decode(self.ci, self.cm, prev)
            prev = (prev << 1) | d
            if not d:
                break
            depth += 1
        nbits, value = _INT_RANGES[depth]
        v = 0
        for _ in range(nbits):
            d = dec.decode(self.ci, self.cm, prev)
            prev = (prev << 1) | d
            if prev >= 256:
                prev = (prev & 511) | 256
            v = (v << 1) | d
        v += value
        if s and v == 0:
            return _OOB
        return -v if s else v

    def encode(self, enc: "_MQEncoder", value) -> None:
        if value is _OOB:
            s, v = 1, 0
        else:
            s = 1 if value < 0 else 0
            v = -value if value < 0 else value
            if s and v == 0:
                raise ValueError("-0 is the OOB code; encode _OOB explicitly")
        prev = 1
        enc.encode(self.ci, self.cm, prev, s)
        prev = (prev << 1) | s
        depth = 0
        while depth < len(_INT_RANGES) - 1 and v >= _INT_RANGES[depth + 1][1]:
            depth += 1
        for i in range(depth):
            enc.encode(self.ci, self.cm, prev, 1)
            prev = (prev << 1) | 1
        if depth < len(_INT_RANGES) - 1:
            enc.encode(self.ci, self.cm, prev, 0)
            prev = prev << 1
        nbits, offset = _INT_RANGES[depth]
        rem = v - offset
        for i in range(nbits - 1, -1, -1):
            d = (rem >> i) & 1
            enc.encode(self.ci, self.cm, prev, d)
            prev = (prev << 1) | d
            if prev >= 256:
                prev = (prev & 511) | 256


class _ArithIaid:
    """IAID symbol-ID coder (A.3): SBSYMCODELEN-bit binary tree."""

    __slots__ = ("ci", "cm", "n")

    def __init__(self, symcodelen: int):
        self.n = symcodelen
        self.ci = bytearray(1 << max(symcodelen, 1))
        self.cm = bytearray(1 << max(symcodelen, 1))

    def decode(self, dec: "_MQDecoder") -> int:
        prev = 1
        for _ in range(self.n):
            prev = (prev << 1) | dec.decode(self.ci, self.cm, prev)
        return prev - (1 << self.n)

    def encode(self, enc: "_MQEncoder", value: int) -> None:
        prev = 1
        for i in range(self.n - 1, -1, -1):
            d = (value >> i) & 1
            enc.encode(self.ci, self.cm, prev, d)
            prev = (prev << 1) | d


def _symcodelen(n_syms: int) -> int:
    n = 0
    while (1 << n) < n_syms:
        n += 1
    return n


# ------------------------------------------------------------ segments

_GENERIC_REGION_TYPES = (36, 38, 39)  # intermediate / immediate / lossless
_TEXT_REGION_TYPES = (4, 6, 7)  # intermediate / immediate / lossless
_REFINEMENT_REGION_TYPES = (40, 42, 43)  # intermediate / immediate / lossless
_HALFTONE_REGION_TYPES = (20, 22, 23)  # intermediate / immediate / lossless


def _u32(d: bytes, p: int) -> int:
    if p + 4 > len(d):
        raise ValueError("truncated JBIG2 segment data")
    return struct.unpack_from(">I", d, p)[0]


def _parse_segment_header(d: bytes, pos: int) -> tuple[dict, int]:
    """§7.2.2-7.2.7 -> (header dict, position after the header)."""
    num = _u32(d, pos)
    pos += 4
    if pos >= len(d):
        raise ValueError("truncated JBIG2 segment header")
    flags = d[pos]
    pos += 1
    stype = flags & 0x3F
    count = d[pos] >> 5 if pos < len(d) else 0
    if count == 7:  # long form: 29-bit count + retain bits
        count = _u32(d, pos) & 0x1FFFFFFF
        pos += 4 + (count + 8) // 8
    else:
        pos += 1
    ref_sz = 1 if num <= 256 else 2 if num <= 65536 else 4
    refs = []
    for _ in range(count):
        if pos + ref_sz > len(d):
            raise ValueError("truncated JBIG2 referred-segment list")
        refs.append(int.from_bytes(d[pos:pos + ref_sz], "big"))
        pos += ref_sz
    if flags & 0x40:
        page = _u32(d, pos)
        pos += 4
    else:
        if pos >= len(d):
            raise ValueError("truncated JBIG2 segment header")
        page = d[pos]
        pos += 1
    length = _u32(d, pos)
    pos += 4
    return ({"number": num, "type": stype, "refs": refs, "page": page,
             "length": length}, pos)


def _region_info(d: bytes) -> dict:
    """§7.4.1: 17-byte region segment information field."""
    if len(d) < 17:
        raise ValueError("truncated region segment info")
    w, h, x, y = struct.unpack_from(">IIII", d, 0)
    return {"w": w, "h": h, "x": x, "y": y, "op": d[16] & 0x07}


_MAX_REGION_PIXELS = 1 << 28  # 268 Mpx — bounds hostile width*height


def _unknown_length_body(stream: bytes, pos: int,
                         seg_type: int) -> tuple[bytes, int]:
    """§7.2.7 unknown segment data length (0xFFFFFFFF): permitted only
    for immediate generic region segments. The region data is followed
    by a 2-byte terminator — 0x00 0x00 when MMR, else 0xFF 0xAC (which
    MQ byte stuffing keeps out of the interior of arithmetic data) —
    and a 4-byte row count; a region-info height of 0xFFFFFFFF is
    backfilled from that count. When the height IS known, the scan
    anchors on terminator+height together (the pdf.js/jbig2dec
    convention), which rules out false positives inside MMR data.
    Returns (segment body with the real height patched in, next pos)."""
    if seg_type not in (38, 39):
        raise ValueError(
            "unknown-length segment must be an immediate generic region")
    if pos + 18 > len(stream):
        raise ValueError("truncated unknown-length segment")
    h = struct.unpack_from(">I", stream, pos + 4)[0]
    flags = stream[pos + 17]
    mmr = flags & 1
    n_at = 0 if mmr else (4 if ((flags >> 1) & 3) == 0 else 1)
    data_start = pos + 18 + 2 * n_at
    term = b"\x00\x00" if mmr else b"\xff\xac"
    i = stream.find(term, data_start)
    while i != -1:
        if i + 6 <= len(stream):
            rows = struct.unpack_from(">I", stream, i + 2)[0]
            if h == 0xFFFFFFFF or rows == h:
                body = bytearray(stream[pos:i + 6])
                struct.pack_into(">I", body, 4, rows)
                return bytes(body), i + 6
        i = stream.find(term, i + 1)
    raise ValueError("unterminated unknown-length generic region")


def _decode_generic_segment(body: bytes) -> tuple[dict, np.ndarray]:
    """§7.4.6 generic region segment data -> (region info, bitmap)."""
    info = _region_info(body)
    if info["w"] == 0 or info["h"] == 0:
        raise ValueError("degenerate generic region dimensions")
    if info["w"] * info["h"] > _MAX_REGION_PIXELS:
        raise ValueError("generic region too large")
    pos = 17
    if pos >= len(body):
        raise ValueError("truncated generic region segment")
    flags = body[pos]
    pos += 1
    mmr = flags & 1
    template = (flags >> 1) & 3
    tpgdon = bool(flags & 8)
    if mmr:
        from docling_parse_spark.ccitt import decode_g4

        bitmap = decode_g4(body[pos:], info["w"], info["h"]).astype(np.uint8)
        return info, bitmap
    n_at = 4 if template == 0 else 1
    at = []
    for _ in range(n_at):
        if pos + 2 > len(body):
            raise ValueError("truncated AT pixel list")
        at.append(struct.unpack_from("bb", body, pos))  # signed int8 pair
        pos += 2
    bitmap = _decode_generic_arith(body[pos:], info["w"], info["h"],
                                   template, at, tpgdon)
    return info, bitmap


def _decode_refinement_segment(body: bytes, ref_bm: np.ndarray,
                               info: dict | None = None) -> tuple[dict, np.ndarray]:
    """§7.4.7 generic refinement region segment -> (region info, bitmap).
    ``ref_bm``: the reference — an intermediate region's bitmap when the
    segment refers to one, else the page slice under the region box.
    ``info``: the 17-byte region info when the caller already parsed it."""
    if info is None:
        info = _region_info(body)
    if info["w"] == 0 or info["h"] == 0:
        raise ValueError("degenerate refinement region dimensions")
    if info["w"] * info["h"] > _MAX_REGION_PIXELS:
        raise ValueError("refinement region too large")
    pos = 17
    if pos >= len(body):
        raise ValueError("truncated refinement region segment")
    flags = body[pos]
    pos += 1
    template = flags & 1
    tpgron = bool(flags & 2)
    at = None
    if template == 0:
        if pos + 4 > len(body):
            raise ValueError("truncated refinement AT pixel list")
        at = [struct.unpack_from("bb", body, pos),
              struct.unpack_from("bb", body, pos + 2)]
        pos += 4
    dec = _MQDecoder(body[pos:])
    ci, cm = _fresh_ref_contexts(template)
    bitmap = _decode_refinement_shared(dec, ci, cm, info["w"], info["h"],
                                       template, at, ref_bm, 0, 0, tpgron)
    return info, bitmap


# --------------------------------------- Annex B Huffman table machinery
#
# The standard tables B.1-B.15 are the published ITU-T T.88 constants
# (line layout [value lines..., lower-range, upper-range, (OOB)]; a
# prefix length of 0 marks an absent line). Reference for the WHAT:
# pdfium JBig2_HuffmanTable.cpp carries the same spec data.

class _BitReader:
    """MSB-first bit reader over a bytes buffer (§B framing)."""

    __slots__ = ("data", "pos", "bit_pos")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bit_pos = 0

    def bit(self) -> int:
        if self.pos >= len(self.data):
            raise ValueError("truncated JBIG2 Huffman bit stream")
        b = (self.data[self.pos] >> (7 - self.bit_pos)) & 1
        self.bit_pos += 1
        if self.bit_pos == 8:
            self.bit_pos = 0
            self.pos += 1
        return b

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align(self) -> None:
        if self.bit_pos:
            self.bit_pos = 0
            self.pos += 1

    def read_bytes(self, n: int) -> bytes:
        self.align()
        if self.pos + n > len(self.data):
            raise ValueError("truncated JBIG2 Huffman byte payload")
        out = self.data[self.pos:self.pos + n]
        self.pos += n
        return out


class _BitWriter:
    """MSB-first bit writer (encoder twin of :class:`_BitReader`)."""

    __slots__ = ("out", "cur", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.cur = 0
        self.nbits = 0

    def bit(self, b: int) -> None:
        self.cur = (self.cur << 1) | (b & 1)
        self.nbits += 1
        if self.nbits == 8:
            self.out.append(self.cur)
            self.cur = 0
            self.nbits = 0

    def bits(self, v: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bit((v >> i) & 1)

    def align(self) -> None:
        while self.nbits:
            self.bit(0)

    def write_bytes(self, b: bytes) -> None:
        self.align()
        self.out += b

    def getvalue(self) -> bytes:
        self.align()
        return bytes(self.out)


def _assign_codes(lens: list[int]) -> list[int]:
    """§B.3 canonical code assignment: codes per length in list order;
    length 0 = no code."""
    if not lens:
        return []
    lenmax = max(lens)
    counts = [0] * (lenmax + 1)
    for n in lens:
        counts[n] += 1
    counts[0] = 0
    codes = [0] * len(lens)
    first = 0
    for ln in range(1, lenmax + 1):
        first = (first + counts[ln - 1]) << 1
        cur = first
        for i, n in enumerate(lens):
            if n == ln:
                codes[i] = cur
                cur += 1
    return codes


class _HuffTable:
    """One Annex B table: value lines + lower/upper 32-bit range lines
    (+ optional OOB line, always last)."""

    __slots__ = ("lines", "oob", "codes", "lut")

    def __init__(self, lines, oob: bool):
        self.lines = [tuple(l) for l in lines]
        self.oob = oob
        self.codes = _assign_codes([l[0] for l in self.lines])
        self.lut = _code_lut([l[0] for l in self.lines], self.codes)

    def _line_of(self, br: _BitReader) -> int:
        return _walk_prefix(br, self.lut)

    def decode(self, br: _BitReader):
        """-> int value, or _OOB."""
        i = self._line_of(br)
        n = len(self.lines)
        if self.oob and i == n - 1:
            return _OOB
        plen, rlen, rlow = self.lines[i]
        t = br.bits(rlen)
        lower = n - 3 if self.oob else n - 2
        return rlow - t if i == lower else rlow + t

    def encode(self, bw: _BitWriter, v) -> None:
        n = len(self.lines)
        oob_i = n - 1 if self.oob else None
        lower = n - 3 if self.oob else n - 2
        upper = n - 2 if self.oob else n - 1
        if v is _OOB:
            if oob_i is None:
                raise ValueError("table has no OOB line")
            plen = self.lines[oob_i][0]
            bw.bits(self.codes[oob_i], plen)
            return
        for i, (plen, rlen, rlow) in enumerate(self.lines):
            if i in (lower, upper) or i == oob_i or plen == 0:
                continue
            if rlow <= v < rlow + (1 << rlen):
                bw.bits(self.codes[i], plen)
                bw.bits(v - rlow, rlen)
                return
        plen, _rl, rlow = self.lines[lower]
        if plen and v <= rlow:
            bw.bits(self.codes[lower], plen)
            bw.bits(rlow - v, 32)
            return
        plen, _rl, rlow = self.lines[upper]
        if plen and v >= rlow:
            bw.bits(self.codes[upper], plen)
            bw.bits(v - rlow, 32)
            return
        raise ValueError(f"value {v} not representable in Huffman table")


_STD_TABLE_DATA = {
    1: (False, [(1, 4, 0), (2, 8, 16), (3, 16, 272), (0, 32, -1),
                (3, 32, 65808)]),
    2: (True, [(1, 0, 0), (2, 0, 1), (3, 0, 2), (4, 3, 3), (5, 6, 11),
               (0, 32, -1), (6, 32, 75), (6, 0, 0)]),
    3: (True, [(8, 8, -256), (1, 0, 0), (2, 0, 1), (3, 0, 2), (4, 3, 3),
               (5, 6, 11), (8, 32, -257), (7, 32, 75), (6, 0, 0)]),
    4: (False, [(1, 0, 1), (2, 0, 2), (3, 0, 3), (4, 3, 4), (5, 6, 12),
                (0, 32, -1), (5, 32, 76)]),
    5: (False, [(7, 8, -255), (1, 0, 1), (2, 0, 2), (3, 0, 3), (4, 3, 4),
                (5, 6, 12), (7, 32, -256), (6, 32, 76)]),
    6: (False, [(5, 10, -2048), (4, 9, -1024), (4, 8, -512), (4, 7, -256),
                (5, 6, -128), (5, 5, -64), (4, 5, -32), (2, 7, 0),
                (3, 7, 128), (3, 8, 256), (4, 9, 512), (4, 10, 1024),
                (6, 32, -2049), (6, 32, 2048)]),
    7: (False, [(4, 9, -1024), (3, 8, -512), (4, 7, -256), (5, 6, -128),
                (5, 5, -64), (4, 5, -32), (4, 5, 0), (5, 5, 32),
                (5, 6, 64), (4, 7, 128), (3, 8, 256), (3, 9, 512),
                (3, 10, 1024), (5, 32, -1025), (5, 32, 2048)]),
    8: (True, [(8, 3, -15), (9, 1, -7), (8, 1, -5), (9, 0, -3), (7, 0, -2),
               (4, 0, -1), (2, 1, 0), (5, 0, 2), (6, 0, 3), (3, 4, 4),
               (6, 1, 20), (4, 4, 22), (4, 5, 38), (5, 6, 70), (5, 7, 134),
               (6, 7, 262), (7, 8, 390), (6, 10, 646), (9, 32, -16),
               (9, 32, 1670), (2, 0, 0)]),
    9: (True, [(8, 4, -31), (9, 2, -15), (8, 2, -11), (9, 1, -7),
               (7, 1, -5), (4, 1, -3), (3, 1, -1), (3, 1, 1), (5, 1, 3),
               (6, 1, 5), (3, 5, 7), (6, 2, 39), (4, 5, 43), (4, 6, 75),
               (5, 7, 139), (5, 8, 267), (6, 8, 523), (7, 9, 779),
               (6, 11, 1291), (9, 32, -32), (9, 32, 3339), (2, 0, 0)]),
    10: (True, [(7, 4, -21), (8, 0, -5), (7, 0, -4), (5, 0, -3),
                (2, 2, -2), (5, 0, 2), (6, 0, 3), (7, 0, 4), (8, 0, 5),
                (2, 6, 6), (5, 5, 70), (6, 5, 102), (6, 6, 134),
                (6, 7, 198), (6, 8, 326), (6, 9, 582), (6, 10, 1094),
                (7, 11, 2118), (8, 32, -22), (8, 32, 4166), (2, 0, 0)]),
    11: (False, [(1, 0, 1), (2, 1, 2), (4, 0, 4), (4, 1, 5), (5, 1, 7),
                 (5, 2, 9), (6, 2, 13), (7, 2, 17), (7, 3, 21), (7, 4, 29),
                 (7, 5, 45), (7, 6, 77), (0, 32, 0), (7, 32, 141)]),
    12: (False, [(1, 0, 1), (2, 0, 2), (3, 1, 3), (5, 0, 5), (5, 1, 6),
                 (6, 1, 8), (7, 0, 10), (7, 1, 11), (7, 2, 13), (7, 3, 17),
                 (7, 4, 25), (8, 5, 41), (0, 32, 0), (8, 32, 73)]),
    13: (False, [(1, 0, 1), (3, 0, 2), (4, 0, 3), (5, 0, 4), (4, 1, 5),
                 (3, 3, 7), (6, 1, 15), (6, 2, 17), (6, 3, 21), (6, 4, 29),
                 (6, 5, 45), (7, 6, 77), (0, 32, 0), (7, 32, 141)]),
    14: (False, [(3, 0, -2), (3, 0, -1), (1, 0, 0), (3, 0, 1), (3, 0, 2),
                 (0, 32, -3), (0, 32, 3)]),
    15: (False, [(7, 4, -24), (6, 2, -8), (5, 1, -4), (4, 0, -2),
                 (3, 0, -1), (1, 0, 0), (3, 0, 1), (4, 0, 2), (5, 1, 3),
                 (6, 2, 5), (7, 4, 9), (7, 32, -25), (7, 32, 25)]),
}
_STD_TABLES: dict[int, _HuffTable] = {}


def _std_table(n: int) -> _HuffTable:
    if n not in _STD_TABLES:
        oob, lines = _STD_TABLE_DATA[n]
        _STD_TABLES[n] = _HuffTable(lines, oob)
    return _STD_TABLES[n]


def _decode_table_segment(body: bytes) -> _HuffTable:
    """§7.4.13/§B.2 custom code table segment -> table (lines generated
    from HTLOW..HTHIGH with stream-supplied prefix/range lengths)."""
    if len(body) < 9:
        raise ValueError("truncated JBIG2 code table segment")
    flags = body[0]
    oob = bool(flags & 1)
    htps = ((flags >> 1) & 7) + 1
    htrs = ((flags >> 4) & 7) + 1
    htlow = struct.unpack_from(">i", body, 1)[0]
    hthigh = struct.unpack_from(">i", body, 5)[0]
    if htlow > hthigh:
        raise ValueError("JBIG2 code table range inverted")
    br = _BitReader(body[9:])
    lines = []
    cur = htlow
    while cur < hthigh:
        plen = br.bits(htps)
        rlen = br.bits(htrs)
        if rlen >= 32:
            raise ValueError("JBIG2 code table range length out of bounds")
        lines.append((plen, rlen, cur))
        cur += 1 << rlen
        if len(lines) > 4096:
            raise ValueError("JBIG2 code table implausibly long")
    lines.append((br.bits(htps), 32, htlow - 1))   # lower range
    lines.append((br.bits(htps), 32, hthigh))      # upper range
    if oob:
        lines.append((br.bits(htps), 0, 0))
    return _HuffTable(lines, oob)


def _encode_table_segment(table_lines, htlow: int, hthigh: int,
                          oob: bool = False, htps: int = 4,
                          htrs: int = 4) -> tuple[bytes, _HuffTable]:
    """Writer twin of :func:`_decode_table_segment`: ``table_lines`` =
    [(preflen, rangelen), ...] for the value lines walking HTLOW up,
    then (lower_preflen, upper_preflen[, oob_preflen])."""
    bw = _BitWriter()
    lines = []
    cur = htlow
    it = iter(table_lines)
    while cur < hthigh:
        plen, rlen = next(it)
        bw.bits(plen, htps)
        bw.bits(rlen, htrs)
        lines.append((plen, rlen, cur))
        cur += 1 << rlen
    tail = list(it)
    lower_p, upper_p = tail[0], tail[1]
    bw.bits(lower_p, htps)
    bw.bits(upper_p, htps)
    lines.append((lower_p, 32, htlow - 1))
    lines.append((upper_p, 32, hthigh))
    if oob:
        bw.bits(tail[2], htps)
        lines.append((tail[2], 0, 0))
    flags = (1 if oob else 0) | ((htps - 1) << 1) | ((htrs - 1) << 4)
    body = (bytes([flags]) + struct.pack(">ii", htlow, hthigh)
            + bw.getvalue())
    return body, _HuffTable(lines, oob)


def _decode_symbol_id_codes(br: _BitReader, n_syms: int) -> tuple[list[int], list[int]]:
    """§7.4.3.1.7 runcode-coded symbol ID code lengths -> (lens, codes)."""
    run_lens = [br.bits(4) for _ in range(35)]
    run_lut = _code_lut(run_lens, _assign_codes(run_lens))

    def next_runcode():
        return _walk_prefix(br, run_lut)

    lens = [0] * n_syms
    i = 0
    while i < n_syms:
        rc = next_runcode()
        if rc < 32:
            lens[i] = rc
            i += 1
            continue
        if rc == 32:
            run = br.bits(2) + 3
            fill = lens[i - 1] if i > 0 else 0
        elif rc == 33:
            run = br.bits(3) + 3
            fill = 0
        else:  # 34
            run = br.bits(7) + 11
            fill = 0
        if i + run > n_syms:
            raise ValueError("JBIG2 symbol ID runcode overruns the alphabet")
        for k in range(run):
            lens[i + k] = fill
        i += run
    return lens, _assign_codes(lens)


def _walk_prefix(br: _BitReader, lut: dict) -> int:
    """Read one canonical prefix code bit by bit against a
    (length, code) -> index LUT — shared by table lines, runcodes, and
    symbol ID codes."""
    v, nbits = 0, 0
    while True:
        v = (v << 1) | br.bit()
        nbits += 1
        if nbits > 32:
            raise ValueError("JBIG2 Huffman prefix overruns 32 bits")
        i = lut.get((nbits, v))
        if i is not None:
            return i


def _code_lut(lens: list[int], codes: list[int]) -> dict:
    return {(ln, codes[i]): i for i, ln in enumerate(lens) if ln > 0}


# ------------------------------ §6.6/§6.7 halftone profile (dithered scans)
#
# Grayscale-plane AT pixels per Annex C.5; pattern-dictionary AT pixels
# per §6.7.5 (A1 = (-HDPW, 0) ties each pattern's left column to its
# neighbour in the collective bitmap).

def _gray_at(template: int) -> list[tuple[int, int]]:
    a1 = (3, -1) if template <= 1 else (2, -1)
    return ([a1, (-3, -1), (2, -2), (-2, -2)] if template == 0 else [a1])


def _decode_pattern_dict(body: bytes) -> list[np.ndarray]:
    """§7.4.4 pattern dictionary segment -> list of HDPH x HDPW pattern
    bitmaps (pattern m = columns [m*HDPW, (m+1)*HDPW) of one collective
    bitmap coded as a single generic region)."""
    if len(body) < 7:
        raise ValueError("truncated pattern dictionary segment")
    flags = body[0]
    mmr = flags & 1
    template = (flags >> 1) & 3
    hdpw, hdph = body[1], body[2]
    graymax = _u32(body, 3)
    if hdpw == 0 or hdph == 0:
        raise ValueError("degenerate pattern dimensions")
    n_pats = graymax + 1
    cw = n_pats * hdpw
    if cw * hdph > _MAX_REGION_PIXELS:
        raise ValueError("pattern dictionary collective bitmap too large")
    if mmr:
        from docling_parse_spark.ccitt import decode_g4

        collective = decode_g4(body[7:], cw, hdph).astype(np.uint8)
    else:
        at = [(-hdpw, 0), (-3, -1), (2, -2), (-2, -2)]
        collective = _decode_generic_arith(body[7:], cw, hdph, template,
                                           at[:4 if template == 0 else 1],
                                           tpgdon=False)
    return [collective[:, m * hdpw:(m + 1) * hdpw].copy()
            for m in range(n_pats)]


def _halftone_skip(hgw: int, hgh: int, hgx: int, hgy: int, hrx: int,
                   hry: int, hpw: int, hph: int, hbw: int, hbh: int):
    """§6.6.5.1 HSKIP: grid cells whose pattern lands entirely outside
    the region box code no data."""
    skip = [bytearray(hgw) for _ in range(hgh)]
    for m in range(hgh):
        for n in range(hgw):
            x = (hgx + m * hry + n * hrx) >> 8
            y = (hgy + m * hrx - n * hry) >> 8
            if x + hpw <= 0 or x >= hbw or y + hph <= 0 or y >= hbh:
                skip[m][n] = 1
    return skip


def _decode_halftone_region(body: bytes, pats: list[np.ndarray]) -> tuple[dict, np.ndarray]:
    """§7.4.5/§6.6 halftone region segment -> (region info, bitmap).
    ``pats``: patterns from the referred pattern dictionaries."""
    info = _region_info(body)
    if info["w"] == 0 or info["h"] == 0:
        raise ValueError("degenerate halftone region dimensions")
    if info["w"] * info["h"] > _MAX_REGION_PIXELS:
        raise ValueError("halftone region too large")
    if not pats:
        raise ValueError("halftone region needs a referred pattern dictionary")
    pos = 17
    if pos + 21 > len(body):
        raise ValueError("truncated halftone region segment")
    flags = body[pos]
    pos += 1
    hmmr = flags & 1
    template = (flags >> 1) & 3
    enable_skip = bool(flags & 8)
    combop = (flags >> 4) & 7
    defpixel = (flags >> 7) & 1
    hgw, hgh = struct.unpack_from(">II", body, pos)
    hgx, hgy = struct.unpack_from(">ii", body, pos + 8)
    hrx, hry = struct.unpack_from(">HH", body, pos + 16)
    pos += 20
    if hgw == 0 or hgh == 0:
        raise ValueError("degenerate halftone grid dimensions")
    if hgw * hgh > _MAX_REGION_PIXELS:
        raise ValueError("halftone grid too large")
    if hmmr and enable_skip:
        # §6.6.5.1: HSKIP exists only in the arithmetic profile
        raise ValueError("HENABLESKIP with HMMR is malformed")
    n_pats = len(pats)
    hph, hpw = pats[0].shape
    bpp = max(1, (n_pats - 1).bit_length())
    skip = (_halftone_skip(hgw, hgh, hgx, hgy, hrx, hry, hpw, hph,
                           info["w"], info["h"])
            if enable_skip else None)
    # Annex C.5: bitplanes MSB->LSB through ONE decoder (+ one context
    # set when arithmetic; one continuous per-plane-EOFB T.6 stream when
    # HMMR), each lower plane gray-decoded by XOR with the plane above
    if hmmr:
        from docling_parse_spark.ccitt import MMRPlaneDecoder

        mdec = MMRPlaneDecoder(body[pos:])

        def next_plane() -> np.ndarray:
            return mdec.decode_plane(hgw, hgh).astype(np.uint8)
    else:
        dec = _MQDecoder(body[pos:])
        ci, cm = _fresh_contexts(template)
        at = _gray_at(template)

        def next_plane() -> np.ndarray:
            return _decode_generic_shared(dec, ci, cm, hgw, hgh, template,
                                          at, tpgdon=False, skip=skip)

    gi = np.zeros((hgh, hgw), dtype=np.int64)
    prev = None
    for j in range(bpp - 1, -1, -1):
        plane = next_plane()
        if prev is not None:
            plane = plane ^ prev  # frombuffer views are read-only
        gi |= plane.astype(np.int64) << j
        prev = plane
    np.minimum(gi, n_pats - 1, out=gi)  # §6.6.5: clamp out-of-range values
    region = np.full((info["h"], info["w"]), defpixel, dtype=np.uint8)
    for m in range(hgh):
        for n in range(hgw):
            x = (hgx + m * hry + n * hrx) >> 8
            y = (hgy + m * hrx - n * hry) >> 8
            _composite(region, pats[gi[m, n]], x, y, combop)
    return info, region


_MAX_SYMBOLS = 1 << 16  # bounds hostile SDNUMNEWSYMS / SDNUMEXSYMS


def _decode_symbol_dict(body: bytes, in_syms: list[np.ndarray],
                        tables=()) -> list[np.ndarray]:
    """§6.5/§7.4.3 symbol dictionary segment (arithmetic — REFAGG=0, the
    jbig2enc scan-reencode profile, or REFAGG=1 with single-instance
    refinement coding — or SDHUFF=1 height-class collective bitmaps) ->
    EXPORTED symbol bitmaps. ``in_syms``: input symbols accumulated from
    referred dictionaries; ``tables``: custom Huffman tables from
    referred type-53 segments, consumed in selector order."""
    if len(body) < 2:
        raise ValueError("truncated symbol dictionary segment")
    flags = struct.unpack_from(">H", body, 0)[0]
    pos = 2
    sdhuff = flags & 1
    refagg = (flags >> 1) & 1
    template = (flags >> 10) & 3
    rtemplate = (flags >> 12) & 1
    if sdhuff:
        return _decode_symbol_dict_huffman(body, pos, flags, in_syms, tables)
    n_at = 4 if template == 0 else 1
    at = []
    for _ in range(n_at):
        if pos + 2 > len(body):
            raise ValueError("truncated symbol dictionary AT pixels")
        at.append(struct.unpack_from("bb", body, pos))
        pos += 2
    rat = None
    if refagg and rtemplate == 0:
        if pos + 4 > len(body):
            raise ValueError("truncated symbol dictionary refinement AT")
        rat = [struct.unpack_from("bb", body, pos),
               struct.unpack_from("bb", body, pos + 2)]
        pos += 4
    n_ex = _u32(body, pos)
    n_new = _u32(body, pos + 4)
    pos += 8
    if n_new > _MAX_SYMBOLS or n_ex > _MAX_SYMBOLS:
        raise ValueError("JBIG2 symbol dictionary too large")

    dec = _MQDecoder(body[pos:])
    iadh, iadw, iaex = _ArithInt(), _ArithInt(), _ArithInt()
    avail = None
    if refagg:
        # ONE shared integer-decoder set + refinement context pair serves
        # both the single-instance shortcut and embedded text regions
        # across every aggregate symbol (§6.5.8.2); the generic contexts
        # are never touched on this path
        iaai = _ArithInt()
        st = _fresh_text_state(_symcodelen(len(in_syms) + n_new))
        gr = _fresh_ref_contexts(rtemplate)
        avail = list(in_syms)  # grown alongside new_syms: O(n), not O(n^2)
    else:
        gb_ci, gb_cm = _fresh_contexts(template)
    new_syms: list[np.ndarray] = []

    def add_sym(bm):
        new_syms.append(bm)
        if avail is not None:
            avail.append(bm)

    hc_height = 0
    while len(new_syms) < n_new:
        dh = iadh.decode(dec)
        if dh is _OOB:
            raise ValueError("OOB height-class delta in symbol dictionary")
        hc_height += dh
        if hc_height < 0 or hc_height > (1 << 14):
            raise ValueError("JBIG2 symbol height out of range")
        sym_width = 0
        while True:
            dw = iadw.decode(dec)
            if dw is _OOB:
                break  # end of this height class
            if len(new_syms) >= n_new:
                raise ValueError("symbol dictionary declares too few symbols")
            sym_width += dw
            if sym_width < 0 or sym_width > (1 << 14):
                raise ValueError("JBIG2 symbol width out of range")
            if hc_height == 0 or sym_width == 0:
                add_sym(np.zeros((hc_height, sym_width), dtype=np.uint8))
                continue
            if hc_height * sym_width > _MAX_REGION_PIXELS:
                raise ValueError("JBIG2 symbol too large")
            if refagg:
                # §6.5.8.2: refinement/aggregate coding of the new symbol
                n_inst = iaai.decode(dec)
                if n_inst is _OOB or n_inst <= 0:
                    raise ValueError("bad aggregate instance count")
                if n_inst != 1:
                    # §6.5.8.2.1: the symbol decodes as an embedded text
                    # region over the symbols available so far —
                    # SBREFINE=1, 1 strip, TL corner, OR composition —
                    # through the dictionary's shared decoder state
                    if n_inst > _MAX_SYMBOLS:
                        raise ValueError("aggregate instance count too large")
                    add_sym(_decode_text_instances(
                        dec, st, gr, avail, sym_width, hc_height, n_inst,
                        1, 1, 0, 0, 0, 0, True, rtemplate, rat))
                    continue
                idi = st["iaid"].decode(dec)
                if idi >= len(avail):
                    raise ValueError("refagg symbol id out of range")
                rdx = st["iardx"].decode(dec)
                rdy = st["iardy"].decode(dec)
                if rdx is _OOB or rdy is _OOB:
                    raise ValueError("OOB refinement offset in dictionary")
                add_sym(_decode_refinement_shared(
                    dec, gr[0], gr[1], sym_width, hc_height, rtemplate,
                    rat, avail[idi], rdx, rdy, tpgron=False))
                continue
            add_sym(_decode_generic_shared(
                dec, gb_ci, gb_cm, sym_width, hc_height, template, at,
                tpgdon=False))

    return _decode_export_runs(lambda: iaex.decode(dec),
                               list(in_syms) + new_syms, n_ex)


def _pick_table(sel: int, defaults: dict[int, int], table_iter,
                what: str) -> _HuffTable:
    """Resolve a Huffman table selector: standard table or the next
    referred custom table (§7.4.3.1.6 order)."""
    if sel in defaults:
        return _std_table(defaults[sel])
    if sel == 2 and 2 not in defaults:
        raise ValueError(f"reserved Huffman table selector for {what}")
    try:
        return next(table_iter)
    except StopIteration:
        raise ValueError(f"custom Huffman table for {what} not referred")


def _decode_symbol_dict_huffman(body: bytes, pos: int, flags: int,
                                in_syms, tables) -> list[np.ndarray]:
    """§6.5.9 SDHUFF=1: heights/widths via Huffman tables; REFAGG=0
    decodes each height class's symbols as one collective bitmap
    (uncompressed or MMR), REFAGG=1 codes each symbol as a BMSIZE-framed
    refinement of an earlier one (raw-bit symbol ID) or an embedded
    Huffman text region (§6.5.8.2)."""
    refagg = (flags >> 1) & 1
    rtemplate = (flags >> 12) & 1
    ti = iter(tables)
    t_dh = _pick_table((flags >> 2) & 3, {0: 4, 1: 5}, ti, "SDHUFFDH")
    t_dw = _pick_table((flags >> 4) & 3, {0: 2, 1: 3}, ti, "SDHUFFDW")
    t_bm = _pick_table((flags >> 6) & 1, {0: 1}, ti, "SDHUFFBMSIZE")
    t_ag = _pick_table((flags >> 7) & 1, {0: 1}, ti, "SDHUFFAGGINST")
    rat = None
    if refagg and rtemplate == 0:
        if pos + 4 > len(body):
            raise ValueError("truncated symbol dictionary refinement AT")
        rat = [struct.unpack_from("bb", body, pos),
               struct.unpack_from("bb", body, pos + 2)]
        pos += 4
    n_ex = _u32(body, pos)
    n_new = _u32(body, pos + 4)
    pos += 8
    if n_new > _MAX_SYMBOLS or n_ex > _MAX_SYMBOLS:
        raise ValueError("JBIG2 symbol dictionary too large")
    br = _BitReader(body[pos:])
    n_in = len(in_syms)
    if refagg:
        gr = _fresh_ref_contexts(rtemplate)
        agg_tabs = {k: _std_table(v) for k, v in _AGG_HUFF_TABLES.items()}
        id_bits = max(1, _symcodelen(n_in + n_new))
        avail = list(in_syms)
    new_syms: list[np.ndarray] = []
    hc_height = 0
    while len(new_syms) < n_new:
        dh = t_dh.decode(br)
        if dh is _OOB:
            raise ValueError("OOB height-class delta in symbol dictionary")
        hc_height += dh
        if hc_height < 0 or hc_height > (1 << 14):
            raise ValueError("JBIG2 symbol height out of range")
        sym_width = 0
        tot_width = 0
        widths: list[int] = []
        while True:
            dw = t_dw.decode(br)
            if dw is _OOB:
                break  # end of this height class
            if len(new_syms) + len(widths) >= n_new:
                raise ValueError("symbol dictionary declares too few symbols")
            sym_width += dw
            if sym_width < 0 or sym_width > (1 << 14):
                raise ValueError("JBIG2 symbol width out of range")
            if not refagg:
                widths.append(sym_width)
                tot_width += sym_width
                continue
            # ---- REFAGG=1: decode this symbol immediately
            if hc_height == 0 or sym_width == 0:
                bm = np.zeros((hc_height, sym_width), dtype=np.uint8)
            elif hc_height * sym_width > _MAX_REGION_PIXELS:
                raise ValueError("JBIG2 symbol too large")
            else:
                n_inst = t_ag.decode(br)
                if n_inst is _OOB or n_inst <= 0 or n_inst > _MAX_SYMBOLS:
                    raise ValueError("bad aggregate instance count")
                if n_inst > 1:
                    # embedded Huffman text region over symbols so far,
                    # uniform raw-bit ID codes, fixed standard tables
                    lut = {(max(1, _symcodelen(len(avail))), i): i
                           for i in range(len(avail))}
                    bm = _huffman_text_instances(
                        br, agg_tabs, lut, gr, avail, sym_width, hc_height,
                        n_inst, 1, 1, 0, 0, 0, 0, True, rtemplate, rat)
                else:
                    idi = br.bits(id_bits)
                    if idi >= len(avail):
                        raise ValueError("refagg symbol id out of range")
                    rdx = agg_tabs["rdx"].decode(br)
                    rdy = agg_tabs["rdy"].decode(br)
                    bmsize = agg_tabs["rsize"].decode(br)
                    if (_OOB in (rdx, rdy, bmsize)) or bmsize < 0:
                        raise ValueError("bad refinement fields in dictionary")
                    payload = br.read_bytes(bmsize)
                    bm = _decode_refinement_shared(
                        _MQDecoder(payload), gr[0], gr[1], sym_width,
                        hc_height, rtemplate, rat, avail[idi], rdx, rdy,
                        tpgron=False)
            new_syms.append(bm)
            avail.append(bm)
        if refagg:
            continue  # no collective bitmap with refinement coding
        bmsize = t_bm.decode(br)
        if bmsize is _OOB or bmsize < 0:
            raise ValueError("bad collective bitmap size")
        br.align()
        if tot_width and hc_height:
            if tot_width * hc_height > _MAX_REGION_PIXELS:
                raise ValueError("JBIG2 collective bitmap too large")
            if bmsize == 0:  # uncompressed, rows padded to byte boundary
                stride = (tot_width + 7) // 8
                raw = np.frombuffer(
                    br.read_bytes(stride * hc_height), dtype=np.uint8)
                coll = np.unpackbits(
                    raw.reshape(hc_height, stride), axis=1)[:, :tot_width]
            else:  # MMR-coded, exactly bmsize bytes
                from docling_parse_spark.ccitt import decode_g4

                coll = decode_g4(br.read_bytes(bmsize), tot_width,
                                 hc_height).astype(np.uint8)
            x0 = 0
            for w_ in widths:
                new_syms.append(coll[:, x0:x0 + w_].copy())
                x0 += w_
        else:
            for w_ in widths:
                new_syms.append(np.zeros((hc_height, w_), dtype=np.uint8))

    # §6.5.10 export runs decode through standard Table B.1
    t_ex = _std_table(1)
    return _decode_export_runs(lambda: t_ex.decode(br),
                               list(in_syms) + new_syms, n_ex)


def _decode_export_runs(next_run, all_syms, n_ex: int) -> list[np.ndarray]:
    """§6.5.10 export flags: alternating not-exported/exported run
    lengths over in+new symbols; ``next_run`` decodes one run length
    (arithmetic IAEX or Huffman Table B.1 depending on the profile)."""
    exported: list[np.ndarray] = []
    cur_flag = False
    idx = 0
    while idx < len(all_syms):
        run = next_run()
        if run is _OOB or run < 0 or idx + run > len(all_syms):
            raise ValueError("bad export run in symbol dictionary")
        if cur_flag:
            exported.extend(all_syms[idx:idx + run])
        idx += run
        cur_flag = not cur_flag
    if len(exported) != n_ex:
        raise ValueError(
            f"symbol dictionary exported {len(exported)} != declared {n_ex}")
    return exported


def _stamp_instance(region, bm, curs: int, ti: int, refcorner: int,
                    transposed: int, comb_op: int) -> int:
    """§6.4.5 steps 3(c)(vi-x): advance CURS for right-anchored corners,
    composite the instance, advance again — shared by the arithmetic and
    Huffman instance loops."""
    hi, wi = bm.shape
    if not transposed and refcorner in (2, 3):  # BR / TR
        curs += wi - 1
    elif transposed and refcorner in (0, 2):  # BL / BR
        curs += hi - 1
    si = curs
    if not transposed:
        x = si if refcorner in (0, 1) else si - wi + 1
        y = ti if refcorner in (1, 3) else ti - hi + 1
    else:
        x = ti if refcorner in (0, 1) else ti - wi + 1
        y = si if refcorner in (1, 3) else si - hi + 1
    _composite(region, bm, x, y, comb_op)
    if not transposed and refcorner in (0, 1):
        curs += wi - 1
    elif transposed and refcorner in (1, 3):
        curs += hi - 1
    return curs


def _decode_text_region(body: bytes, syms: list[np.ndarray],
                        tables=()) -> tuple[dict, np.ndarray]:
    """§6.4/§7.4.4 text region segment (arithmetic or SBHUFF=1) ->
    (region info, bitmap): place symbol instances by strip/S/T/ID.
    ``tables``: custom Huffman tables from referred type-53 segments."""
    info = _region_info(body)
    if info["w"] == 0 or info["h"] == 0:
        raise ValueError("degenerate text region dimensions")
    if info["w"] * info["h"] > _MAX_REGION_PIXELS:
        raise ValueError("text region too large")
    if len(body) < 17 + 2:
        raise ValueError("truncated text region segment")
    flags = struct.unpack_from(">H", body, 17)[0]
    pos = 19
    sbhuff = flags & 1
    refine = (flags >> 1) & 1
    sbstrips = 1 << ((flags >> 2) & 3)
    refcorner = (flags >> 4) & 3  # 0=BL 1=TL 2=BR 3=TR
    transposed = (flags >> 6) & 1
    comb_op = (flags >> 7) & 3
    def_pixel = (flags >> 9) & 1
    dsoffset = (flags >> 10) & 0x1F
    if dsoffset >= 0x10:
        dsoffset -= 0x20
    rtemplate = (flags >> 15) & 1
    hflags = 0
    if sbhuff:  # §7.4.4.1.2: Huffman flags precede the SBRAT pixels
        if pos + 2 > len(body):
            raise ValueError("truncated text region Huffman flags")
        hflags = struct.unpack_from(">H", body, pos)[0]
        pos += 2
    sbrat = None
    if refine and not rtemplate:
        # SBRAT rides in the header even if no instance refines
        if pos + 4 > len(body):
            raise ValueError("truncated text region SBRAT")
        sbrat = [struct.unpack_from("bb", body, pos),
                 struct.unpack_from("bb", body, pos + 2)]
        pos += 4
    n_instances = _u32(body, pos)
    pos += 4
    if n_instances > _MAX_SYMBOLS * 32:
        raise ValueError("JBIG2 text region instance count implausible")
    n_syms = len(syms)
    if n_syms == 0:
        raise ValueError("text region refers to no symbol dictionary")
    if sbhuff:
        return info, _decode_text_region_huffman(
            body[pos:], info, syms, tables, hflags, n_instances, sbstrips,
            refcorner, transposed, comb_op, def_pixel, dsoffset, refine,
            rtemplate, sbrat)
    dec = _MQDecoder(body[pos:])
    st = _fresh_text_state(_symcodelen(n_syms))
    gr = _fresh_ref_contexts(rtemplate) if refine else (None, None)
    region = _decode_text_instances(
        dec, st, gr, syms, info["w"], info["h"], n_instances, sbstrips,
        refcorner, transposed, comb_op, def_pixel, dsoffset, refine,
        rtemplate, sbrat)
    return info, region


def _fresh_text_state(symcodelen: int) -> dict:
    """The §6.4.5 arithmetic integer decoders a text-region decode uses —
    owned by the caller so a symbol dictionary can share ONE set across
    its aggregate symbols (§6.5.8.2)."""
    st = {k: _ArithInt() for k in ("iadt", "iafs", "iads", "iait", "iari",
                                   "iardw", "iardh", "iardx", "iardy")}
    st["iaid"] = _ArithIaid(symcodelen)
    return st


def _decode_text_instances(dec, st, gr, syms, w, h, n_instances, sbstrips,
                           refcorner, transposed, comb_op, def_pixel,
                           dsoffset, refine, rtemplate, sbrat) -> np.ndarray:
    """§6.4.5 arithmetic strip/instance loop over caller-owned decoders
    (``st`` from :func:`_fresh_text_state`, ``gr`` refinement contexts)."""
    n_syms = len(syms)
    gr_ci, gr_cm = gr
    region = np.full((h, w), def_pixel, dtype=np.uint8)
    first = st["iadt"].decode(dec)
    if first is _OOB:
        raise ValueError("OOB initial STRIPT")
    stript = -first * sbstrips
    firsts = 0
    placed = 0
    while placed < n_instances:
        dt = st["iadt"].decode(dec)
        if dt is _OOB:
            raise ValueError("OOB strip delta")
        stript += dt * sbstrips
        is_first = True
        while True:
            if is_first:
                dfs = st["iafs"].decode(dec)
                if dfs is _OOB:
                    raise ValueError("OOB first-S delta")
                firsts += dfs
                curs = firsts
                is_first = False
            else:
                ids = st["iads"].decode(dec)
                if ids is _OOB:
                    break  # end of strip
                curs += ids + dsoffset
            if placed >= n_instances:
                break
            curt = st["iait"].decode(dec) if sbstrips != 1 else 0
            if curt is _OOB:
                raise ValueError("OOB CURT")
            ti = stript + curt
            idi = st["iaid"].decode(dec)
            if idi >= n_syms:
                raise ValueError("symbol id out of range in text region")
            bm = syms[idi]
            if refine and st["iari"].decode(dec):
                # §6.4.11: the instance bitmap is a refinement of the
                # dictionary symbol with decoded size/offset deltas
                rdw = st["iardw"].decode(dec)
                rdh = st["iardh"].decode(dec)
                rdx = st["iardx"].decode(dec)
                rdy = st["iardy"].decode(dec)
                if _OOB in (rdw, rdh, rdx, rdy):
                    raise ValueError("OOB refinement delta in text region")
                wo = bm.shape[1] + rdw
                ho = bm.shape[0] + rdh
                if wo <= 0 or ho <= 0 or wo * ho > _MAX_REGION_PIXELS:
                    raise ValueError("refined instance dimensions out of range")
                bm = _decode_refinement_shared(
                    dec, gr_ci, gr_cm, wo, ho, rtemplate, sbrat, bm,
                    (rdw >> 1) + rdx, (rdh >> 1) + rdy, tpgron=False)
            curs = _stamp_instance(region, bm, curs, ti, refcorner,
                                   transposed, comb_op)
            placed += 1
    return region


def _decode_text_region_huffman(data: bytes, info, syms, tables, hflags,
                                n_instances, sbstrips, refcorner, transposed,
                                comb_op, def_pixel, dsoffset,
                                refine, rtemplate, sbrat) -> np.ndarray:
    """§6.4 SBHUFF=1 instance loop: runcode-assigned symbol ID codes,
    table-coded strip/S deltas, raw CURT bits; refined instances carry
    table-coded size/offset deltas plus a BMSIZE-framed arithmetic
    refinement bitstream (§6.4.11 with SBHUFF=1)."""
    ti_iter = iter(tables)
    t_fs = _pick_table(hflags & 3, {0: 6, 1: 7}, ti_iter, "SBHUFFFS")
    t_ds = _pick_table((hflags >> 2) & 3, {0: 8, 1: 9, 2: 10}, ti_iter,
                       "SBHUFFDS")
    t_dt = _pick_table((hflags >> 4) & 3, {0: 11, 1: 12, 2: 13}, ti_iter,
                       "SBHUFFDT")
    t_rdw = _pick_table((hflags >> 6) & 3, {0: 14, 1: 15}, ti_iter,
                        "SBHUFFRDW")
    t_rdh = _pick_table((hflags >> 8) & 3, {0: 14, 1: 15}, ti_iter,
                        "SBHUFFRDH")
    t_rdx = _pick_table((hflags >> 10) & 3, {0: 14, 1: 15}, ti_iter,
                        "SBHUFFRDX")
    t_rdy = _pick_table((hflags >> 12) & 3, {0: 14, 1: 15}, ti_iter,
                        "SBHUFFRDY")
    t_rsize = _pick_table((hflags >> 14) & 1, {0: 1}, ti_iter, "SBHUFFRSIZE")
    tabs = {"fs": t_fs, "ds": t_ds, "dt": t_dt, "rdw": t_rdw, "rdh": t_rdh,
            "rdx": t_rdx, "rdy": t_rdy, "rsize": t_rsize}
    gr = _fresh_ref_contexts(rtemplate) if refine else (None, None)
    n_syms = len(syms)
    br = _BitReader(data)
    lens, codes = _decode_symbol_id_codes(br, n_syms)
    id_lut = _code_lut(lens, codes)
    br.align()
    return _huffman_text_instances(
        br, tabs, id_lut, gr, syms, info["w"], info["h"], n_instances,
        sbstrips, refcorner, transposed, comb_op, def_pixel, dsoffset,
        refine, rtemplate, sbrat)


_AGG_HUFF_TABLES = {  # §6.5.8.2.1 fixed tables for embedded text regions
    "fs": 6, "ds": 8, "dt": 11, "rdw": 15, "rdh": 15, "rdx": 15, "rdy": 15,
    "rsize": 1,
}


def _huffman_text_instances(br, tabs, id_lut, gr, syms, w, h, n_instances,
                            sbstrips, refcorner, transposed, comb_op,
                            def_pixel, dsoffset, refine, rtemplate,
                            sbrat) -> np.ndarray:
    """§6.4.5 Huffman strip/instance loop over a caller-owned bit reader
    (standalone SBHUFF segments, and §6.5.8.2.1 embedded text regions
    inside SDHUFF+SDREFAGG dictionaries)."""
    t_fs, t_ds, t_dt = tabs["fs"], tabs["ds"], tabs["dt"]
    n_syms = len(syms)
    tbits = (sbstrips - 1).bit_length()
    region = np.full((h, w), def_pixel, dtype=np.uint8)
    first = t_dt.decode(br)
    if first is _OOB:
        raise ValueError("OOB initial STRIPT")
    stript = -first * sbstrips
    firsts = 0
    placed = 0
    while placed < n_instances:
        dt = t_dt.decode(br)
        if dt is _OOB:
            raise ValueError("OOB strip delta")
        stript += dt * sbstrips
        is_first = True
        while True:
            if is_first:
                dfs = t_fs.decode(br)
                if dfs is _OOB:
                    raise ValueError("OOB first-S delta")
                firsts += dfs
                curs = firsts
                is_first = False
            else:
                ids = t_ds.decode(br)
                if ids is _OOB:
                    break  # end of strip
                curs += ids + dsoffset
            if placed >= n_instances:
                break
            curt = br.bits(tbits) if sbstrips != 1 else 0
            ti = stript + curt
            idi = _walk_prefix(br, id_lut)
            if idi >= n_syms:
                raise ValueError("symbol id out of range in text region")
            bm = syms[idi]
            if refine and br.bit():
                rdw = tabs["rdw"].decode(br)
                rdh = tabs["rdh"].decode(br)
                rdx = tabs["rdx"].decode(br)
                rdy = tabs["rdy"].decode(br)
                bmsize = tabs["rsize"].decode(br)
                if _OOB in (rdw, rdh, rdx, rdy, bmsize) or bmsize < 0:
                    raise ValueError("bad refinement fields in text region")
                wo = bm.shape[1] + rdw
                ho = bm.shape[0] + rdh
                if wo <= 0 or ho <= 0 or wo * ho > _MAX_REGION_PIXELS:
                    raise ValueError("refined instance dimensions out of range")
                # the refinement rides byte-aligned as BMSIZE bytes of MQ
                # data; the refinement contexts persist across instances
                payload = br.read_bytes(bmsize)
                bm = _decode_refinement_shared(
                    _MQDecoder(payload), gr[0], gr[1], wo, ho, rtemplate,
                    sbrat, bm, (rdw >> 1) + rdx, (rdh >> 1) + rdy,
                    tpgron=False)
            curs = _stamp_instance(region, bm, curs, ti, refcorner,
                                   transposed, comb_op)
            placed += 1
    return region


def _composite(page: np.ndarray, bm: np.ndarray, x: int, y: int, op: int):
    ph, pw = page.shape
    h, w = bm.shape
    sx = -x if x < 0 else 0  # clip on all four edges (text-region symbol
    sy = -y if y < 0 else 0  # instances may hang off the region)
    x, y = max(x, 0), max(y, 0)
    if x >= pw or y >= ph or sx >= w or sy >= h:
        return
    h = min(h - sy, ph - y)
    w = min(w - sx, pw - x)
    dst = page[y:y + h, x:x + w]
    src = bm[sy:sy + h, sx:sx + w]
    if op == 0:
        dst |= src
    elif op == 1:
        dst &= src
    elif op == 2:
        dst ^= src
    elif op == 3:
        dst[:] = 1 - (dst ^ src)
    else:  # 4 = REPLACE (and the spec reserves 5-7)
        dst[:] = src


def decode_jbig2(data: bytes, globals_data: bytes | None = None) -> tuple[np.ndarray, dict]:
    """Embedded JBIG2 stream (PDF /JBIG2Decode profile) -> (page bitmap
    uint8 0/1 of shape (H, W), meta dict). ``globals_data`` is the
    /JBIG2Globals stream, logically prepended (§ Annex G / PDF 7.4.7)."""
    stream = (bytes(globals_data) if globals_data else b"") + bytes(data)
    pos = 0
    page_w = page_h = None
    striped = False
    default_pixel = 0
    page: np.ndarray | None = None
    pending: list[tuple[dict, np.ndarray]] = []  # regions before page info
    sym_dicts: dict[int, list[np.ndarray]] = {}  # segment number -> exports
    pat_dicts: dict[int, list[np.ndarray]] = {}  # segment number -> patterns
    tab_segs: dict[int, _HuffTable] = {}  # type-53 custom code tables
    inter: dict[int, np.ndarray] = {}  # intermediate regions, by seg number
    n_segments = 0
    n_regions = 0

    def compose(info, bm):
        """Composite an immediate region — incrementally onto the page
        when page info has been seen, else collect for the extent-sized
        fallback page."""
        nonlocal page, n_regions
        n_regions += 1
        if page is None:
            pending.append((info, bm))
            return
        need_h = info["y"] + bm.shape[0]
        if striped and need_h > page.shape[0]:
            if page_w * need_h > _MAX_REGION_PIXELS:
                raise ValueError("JBIG2 striped page too large")
            page = np.concatenate([
                page,
                np.full((need_h - page.shape[0], page.shape[1]),
                        default_pixel, dtype=np.uint8),
            ])
        _composite(page, bm, info["x"], info["y"], info["op"])

    def page_reference(info) -> np.ndarray:
        """Reference bitmap for a refinement segment with no intermediate
        referents: the page content under the region box (§7.4.7.2)."""
        if page is None:
            raise ValueError(
                "refinement region needs page info (or an intermediate "
                "region referent) before it")
        ref = np.zeros((info["h"], info["w"]), dtype=np.uint8)
        y0, x0 = info["y"], info["x"]
        h = min(info["h"], page.shape[0] - y0)
        w = min(info["w"], page.shape[1] - x0)
        if h > 0 and w > 0:
            ref[:h, :w] = page[y0:y0 + h, x0:x0 + w]
        return ref

    while pos < len(stream):
        hdr, pos = _parse_segment_header(stream, pos)
        n_segments += 1
        if hdr["length"] == 0xFFFFFFFF:
            body, pos = _unknown_length_body(stream, pos, hdr["type"])
        else:
            body = stream[pos:pos + hdr["length"]]
            if len(body) != hdr["length"]:
                raise ValueError("truncated JBIG2 segment body")
            pos += hdr["length"]
        t = hdr["type"]
        if t == 48:  # page info (§7.4.8)
            if len(body) < 19:
                raise ValueError("truncated page info segment")
            page_w, page_h = struct.unpack_from(">II", body, 0)
            default_pixel = (body[16] >> 2) & 1
            if page_h == 0xFFFFFFFF:
                page_h = None  # striped: height comes from the regions
                striped = True
            if page_w * (page_h or 0) > _MAX_REGION_PIXELS:
                raise ValueError("JBIG2 page too large")
            page = np.full((page_h or 0, page_w), default_pixel,
                           dtype=np.uint8)
            for info, bm in pending:
                compose(info, bm)
                n_regions -= 1  # compose() recounts the replayed region
            pending.clear()
        elif t in _GENERIC_REGION_TYPES:
            info, bm = _decode_generic_segment(body)
            if t == 36:  # intermediate: stored for later refinement only
                inter[hdr["number"]] = bm
            else:
                compose(info, bm)
        elif t == 0:  # symbol dictionary: inputs = referred dicts' exports
            in_syms = [s for r in hdr["refs"] for s in sym_dicts.get(r, [])]
            tabs = [tab_segs[r] for r in hdr["refs"] if r in tab_segs]
            sym_dicts[hdr["number"]] = _decode_symbol_dict(body, in_syms,
                                                           tabs)
        elif t == 53:  # custom Huffman code table
            tab_segs[hdr["number"]] = _decode_table_segment(body)
        elif t in _TEXT_REGION_TYPES:
            syms = [s for r in hdr["refs"] for s in sym_dicts.get(r, [])]
            tabs = [tab_segs[r] for r in hdr["refs"] if r in tab_segs]
            info, bm = _decode_text_region(body, syms, tabs)
            if t == 4:  # intermediate text region
                inter[hdr["number"]] = bm
            else:
                compose(info, bm)
        elif t in _REFINEMENT_REGION_TYPES:
            info = _region_info(body)
            ref_bm = next((inter[r] for r in hdr["refs"] if r in inter),
                          None)
            if ref_bm is None:
                ref_bm = page_reference(info)
            info, bm = _decode_refinement_segment(body, ref_bm, info)
            if t == 40:  # intermediate refinement region
                inter[hdr["number"]] = bm
            else:
                compose(info, bm)
        elif t == 16:  # pattern dictionary
            pat_dicts[hdr["number"]] = _decode_pattern_dict(body)
        elif t in _HALFTONE_REGION_TYPES:
            pats = [p for r in hdr["refs"] for p in pat_dicts.get(r, [])]
            info, bm = _decode_halftone_region(body, pats)
            if t == 20:  # intermediate halftone region
                inter[hdr["number"]] = bm
            else:
                compose(info, bm)
        # 49 end-of-page / 50 end-of-stripe / 51 end-of-file / 52
        # profiles / 62 extension: no bitmap content
    if n_regions == 0:
        raise ValueError("JBIG2 stream contains no decodable region")
    if page is None:  # no page info segment: size the page to the extents
        page_w = max(r["x"] + bm.shape[1] for r, bm in pending)
        page_h = max(r["y"] + bm.shape[0] for r, bm in pending)
        if page_w * page_h > _MAX_REGION_PIXELS:
            raise ValueError("JBIG2 page too large")
        page = np.full((page_h, page_w), default_pixel, dtype=np.uint8)
        for info, bm in pending:
            _composite(page, bm, info["x"], info["y"], info["op"])
    return page, {"width": page.shape[1], "height": page.shape[0],
                  "n_segments": n_segments, "n_regions": n_regions}


# ----------------------------------------------------- embedded writer

def _seg_header(num: int, stype: int, page: int, length: int,
                refs: tuple[int, ...] = ()) -> bytes:
    if len(refs) > 4:
        raise ValueError("writer supports <= 4 referred segments")
    flags = stype | (0x40 if page > 255 else 0)
    out = struct.pack(">IB", num, flags) + bytes([len(refs) << 5])
    ref_sz = 1 if num <= 256 else 2 if num <= 65536 else 4
    for r in refs:
        out += r.to_bytes(ref_sz, "big")
    out += struct.pack(">I", page) if page > 255 else bytes([page])
    return out + struct.pack(">I", length)


def encode_jbig2_generic(img: np.ndarray, template: int = 0,
                         tpgdon: bool = False, at=None,
                         mmr: bool = False, unknown_length: bool = False,
                         unknown_height: bool = False) -> bytes:
    """Bilevel (H, W) array (nonzero = black) -> embedded JBIG2 stream:
    page info + one immediate generic region (+ end-of-page). Decodes
    back with :func:`decode_jbig2` — and with any conforming reader.

    ``unknown_length`` emits the §7.2.7 layout: segment data length
    0xFFFFFFFF, data followed by the profile terminator and a 4-byte
    row count; ``unknown_height`` additionally writes the region-info
    height as 0xFFFFFFFF so the decoder must backfill it."""
    img = (np.asarray(img) != 0).astype(np.uint8)
    if img.ndim != 2 or img.size == 0:
        raise ValueError("need a non-empty 2-D bilevel array")
    h, w = img.shape
    if mmr:
        from docling_parse_spark.ccitt import encode_g4

        coded = encode_g4(img.astype(bool))
        region_flags = bytes([1])
        at_bytes = b""
    else:
        at = [tuple(p) for p in (at if at is not None
                                 else _NOMINAL_AT[template])]
        coded = _encode_generic_arith(img, template, at, tpgdon)
        region_flags = bytes([(template << 1) | (8 if tpgdon else 0)])
        at_bytes = b"".join(
            struct.pack("bb", dx, dy) for dx, dy in at
        )
    page_body = struct.pack(">IIIIBH", w, h, 0, 0, 0, 0)
    if unknown_length:
        if mmr:
            term = b"\x00\x00"
        elif coded.endswith(b"\xff\xac"):
            term = b""  # the MQ flush already ends with the terminator
        else:
            term = b"\xff\xac"
        info_h = 0xFFFFFFFF if unknown_height else h
        region_body = (struct.pack(">IIIIB", w, info_h, 0, 0, 0)
                       + region_flags + at_bytes + coded + term
                       + struct.pack(">I", h))
        seg_len = 0xFFFFFFFF
    else:
        region_body = (struct.pack(">IIIIB", w, h, 0, 0, 0)
                       + region_flags + at_bytes + coded)
        seg_len = len(region_body)
    return (_seg_header(0, 48, 1, len(page_body)) + page_body
            + _seg_header(1, 38, 1, seg_len) + region_body
            + _seg_header(2, 49, 1, 0))


def encode_jbig2_refinement(base: np.ndarray, target: np.ndarray,
                            template: int = 0, tpgron: bool = False,
                            at=None, via_intermediate: bool = False) -> bytes:
    """Embedded JBIG2 stream exercising the refinement profile: page info
    + the ``base`` bitmap + an immediate refinement region (type 42) that
    turns it into ``target``. Test infrastructure like
    :func:`encode_jbig2_generic`.

    With ``via_intermediate`` the base rides as an INTERMEDIATE generic
    region (type 36, stored-not-composed) that the refinement segment
    refers to — so the decoded page is exactly ``target``; otherwise the
    base is composed onto the page first and the refinement (REPLACE op)
    refines the page content under its region box."""
    base = (np.asarray(base) != 0).astype(np.uint8)
    target = (np.asarray(target) != 0).astype(np.uint8)
    if base.shape != target.shape or base.ndim != 2 or base.size == 0:
        raise ValueError("base/target must be equal-shape 2-D bilevel arrays")
    h, w = target.shape
    at = _check_rat(template, at)

    enc = _MQEncoder()
    ci, cm = _fresh_ref_contexts(template)
    _encode_refinement_shared(enc, ci, cm, target, template, at, base,
                              0, 0, tpgron)
    coded = enc.finish()
    ref_flags = bytes([template | (2 if tpgron else 0)])
    at_bytes = (b"".join(struct.pack("bb", dx, dy) for dx, dy in at)
                if template == 0 else b"")
    # REPLACE composition: the refinement output supersedes the base
    ref_body = (struct.pack(">IIIIB", w, h, 0, 0, 4)
                + ref_flags + at_bytes + coded)

    base_coded = _encode_generic_arith(base, 0, _NOMINAL_AT[0], False)
    base_type = 36 if via_intermediate else 38
    base_body = (struct.pack(">IIIIB", w, h, 0, 0, 0)
                 + bytes([0]) + b"".join(
                     struct.pack("bb", dx, dy) for dx, dy in _NOMINAL_AT[0])
                 + base_coded)
    page_body = struct.pack(">IIIIBH", w, h, 0, 0, 0, 0)
    refs = (1,) if via_intermediate else ()
    return (_seg_header(0, 48, 1, len(page_body)) + page_body
            + _seg_header(1, base_type, 1, len(base_body)) + base_body
            + _seg_header(2, 42, 1, len(ref_body), refs=refs) + ref_body
            + _seg_header(3, 49, 1, 0))


def encode_jbig2_halftone(patterns, gray, width: int | None = None,
                          height: int | None = None, template: int = 0,
                          hd_template: int = 0, combop: int = 0,
                          defpixel: int = 0, enable_skip: bool = False,
                          hgx: int = 0, hgy: int = 0, hrx: int | None = None,
                          hry: int = 0, mmr_patterns: bool = False,
                          mmr_gray: bool = False) -> bytes:
    """Embedded JBIG2 stream in the halftone profile: page info + one
    PATTERN DICTIONARY (type 16) + one immediate HALFTONE REGION
    (type 22) stamping ``patterns[gray[m, n]]`` on the §6.6.5 grid
    (+ end-of-page). Test infrastructure like
    :func:`encode_jbig2_generic`.

    ``patterns``: equal-shape 2-D bilevel arrays (HNUMPATS of them).
    ``gray``: (HGH, HGW) integer index image. ``hgx``/``hgy``/``hrx``/
    ``hry`` are the grid fields in 1/256 units; ``hrx`` defaults to the
    pattern width (axis-aligned tiling). With ``enable_skip``, grid
    cells falling entirely outside the region box code no data — their
    gray value is forced to 0 on both sides."""
    patterns = [(np.asarray(p) != 0).astype(np.uint8) for p in patterns]
    if not patterns or any(p.ndim != 2 or p.size == 0 for p in patterns):
        raise ValueError("need non-empty 2-D bilevel pattern arrays")
    if len({p.shape for p in patterns}) != 1:
        raise ValueError("patterns must share one shape")
    hph, hpw = patterns[0].shape
    if not 1 <= hpw <= 255 or not 1 <= hph <= 255:
        raise ValueError("pattern dimensions must fit one byte")
    gray = np.asarray(gray, dtype=np.int64)
    if gray.ndim != 2 or gray.size == 0:
        raise ValueError("gray index image must be non-empty 2-D")
    n_pats = len(patterns)
    if gray.min() < 0 or gray.max() >= n_pats:
        raise ValueError("gray indices out of pattern range")
    hgh, hgw = gray.shape
    if hrx is None:
        hrx = hpw << 8
    if not 0 <= hrx <= 0xFFFF or not 0 <= hry <= 0xFFFF:
        raise ValueError("grid vector out of 16-bit range")
    if width is None or height is None:
        xs = [(hgx + m * hry + n * hrx) >> 8
              for m in (0, hgh - 1) for n in (0, hgw - 1)]
        ys = [(hgy + m * hrx - n * hry) >> 8
              for m in (0, hgh - 1) for n in (0, hgw - 1)]
        width = width if width is not None else max(xs) + hpw
        height = height if height is not None else max(ys) + hph
    if width <= 0 or height <= 0:
        raise ValueError("region box must be positive")

    # ---- pattern dictionary: one collective bitmap, patterns side by side
    collective = np.concatenate(patterns, axis=1)
    if mmr_patterns:
        from docling_parse_spark.ccitt import encode_g4

        pd_coded = encode_g4(collective.astype(bool))
        pd_flags = 1
    else:
        at = [(-hpw, 0), (-3, -1), (2, -2), (-2, -2)]
        pd_coded = _encode_generic_arith(
            collective, hd_template, at[:4 if hd_template == 0 else 1],
            tpgdon=False)
        pd_flags = hd_template << 1
    pd_body = (bytes([pd_flags, hpw, hph]) + struct.pack(">I", n_pats - 1)
               + pd_coded)

    # ---- halftone region: gray-coded bitplanes through shared contexts
    skip = (_halftone_skip(hgw, hgh, hgx, hgy, hrx, hry, hpw, hph,
                           width, height)
            if enable_skip else None)
    if skip is not None:
        gray = gray.copy()
        for m in range(hgh):
            for n in range(hgw):
                if skip[m][n]:
                    gray[m, n] = 0
    bpp = max(1, (n_pats - 1).bit_length())
    planes = [((gray >> j) & 1).astype(np.uint8) for j in range(bpp)]
    emitted = [planes[j] if j == bpp - 1 else planes[j] ^ planes[j + 1]
               for j in range(bpp - 1, -1, -1)]
    if mmr_gray:
        if enable_skip:
            raise ValueError("HENABLESKIP is arithmetic-profile only")
        from docling_parse_spark.ccitt import encode_g4_planes

        gs_coded = encode_g4_planes([p.astype(bool) for p in emitted])
    else:
        enc = _MQEncoder()
        ci, cm = _fresh_contexts(template)
        gat = _gray_at(template)
        for p in emitted:
            _encode_generic_shared(enc, ci, cm, p, template, gat,
                                   tpgdon=False, skip=skip)
        gs_coded = enc.finish()
    ht_flags = ((1 if mmr_gray else 0) | (template << 1)
                | (8 if enable_skip else 0)
                | ((combop & 7) << 4) | ((defpixel & 1) << 7))
    ht_body = (struct.pack(">IIIIB", width, height, 0, 0, 0)
               + bytes([ht_flags])
               + struct.pack(">IIii", hgw, hgh, hgx, hgy)
               + struct.pack(">HH", hrx, hry)
               + gs_coded)
    page_body = struct.pack(">IIIIBH", width, height, 0, 0, 0, 0)
    return (_seg_header(0, 48, 1, len(page_body)) + page_body
            + _seg_header(1, 16, 1, len(pd_body)) + pd_body
            + _seg_header(2, 22, 1, len(ht_body), refs=(1,)) + ht_body
            + _seg_header(3, 49, 1, 0))


def encode_jbig2_symbol_text(symbols, placements, width: int, height: int,
                             template: int = 0, refcorner: int = 1,
                             transposed: bool = False, sbstrips: int = 1,
                             dsoffset: int = 0, refined=None,
                             refagg_symbols=None) -> bytes:
    """Embedded JBIG2 stream in the jbig2enc profile: page info + one
    arithmetic SYMBOL DICTIONARY (REFAGG=0) + one immediate lossless TEXT
    REGION placing instances of those symbols (+ end-of-page). Test
    infrastructure like :func:`encode_jbig2_generic` — decodes back with
    :func:`decode_jbig2` and any conforming reader.

    ``symbols``: list of 2-D bilevel arrays. ``placements``: (sym_index,
    x, y) triples, x/y = the instance's top-left on the page.
    ``refcorner``: 0=BL 1=TL 2=BR 3=TR (spec numbering).

    ``refined``: optional {placement-list index -> target bitmap} — those
    instances ride as REFINEMENTS of their dictionary symbol (§6.4.11,
    SBREFINE=1). ``refagg_symbols``: optional list — emitted as a SECOND
    dictionary with SDREFAGG=1 that imports the first; each entry is
    either (base_sym_index, target_bitmap), coded as a single-instance
    refinement of an imported symbol (§6.5.8.2.2), or
    ("agg", [(sym_index, x, y), ...], (h, w)), coded as a MULTI-INSTANCE
    aggregate: an embedded text region compositing >= 2 imported
    instances through the dictionary's shared decoders (§6.5.8.2.1).
    Placements address the new symbols as indices
    len(symbols)..len(symbols)+len(refagg_symbols)-1."""
    symbols = [(np.asarray(s) != 0).astype(np.uint8) for s in symbols]
    if not symbols or any(s.ndim != 2 or s.size == 0 for s in symbols):
        raise ValueError("need non-empty 2-D bilevel symbol arrays")
    if sbstrips not in (1, 2, 4, 8):
        raise ValueError("sbstrips must be a power of two <= 8")
    if not -16 <= dsoffset <= 15:
        raise ValueError("dsoffset out of 5-bit signed range")
    at = [tuple(p) for p in _NOMINAL_AT[template]]
    rat = list(_NOMINAL_RAT)
    refined = {int(k): (np.asarray(v) != 0).astype(np.uint8)
               for k, v in (refined or {}).items()}
    refagg_symbols = [
        e if (e and e[0] == "agg")
        else (int(e[0]), (np.asarray(e[1]) != 0).astype(np.uint8))
        for e in (refagg_symbols or [])]
    if any(e[0] < 0 or e[0] >= len(symbols)
           for e in refagg_symbols if e[0] != "agg"):
        raise ValueError("refagg base index out of range")
    if any(t.ndim != 2 or t.size == 0
           for t in list(refined.values())
           + [e[1] for e in refagg_symbols if e[0] != "agg"]):
        raise ValueError("refined/refagg targets must be non-empty 2-D")
    n1 = len(symbols)

    # ---- dictionary 1 (generic): decode order = sorted by (height, width)
    order = sorted(range(n1),
                   key=lambda i: (symbols[i].shape[0], symbols[i].shape[1], i))
    id_of = {orig: new for new, orig in enumerate(order)}
    enc = _MQEncoder()
    iadh, iadw, iaex = _ArithInt(), _ArithInt(), _ArithInt()
    gb_ci, gb_cm = _fresh_contexts(template)
    hc_height = 0
    i = 0
    while i < len(order):
        h = symbols[order[i]].shape[0]
        iadh.encode(enc, h - hc_height)
        hc_height = h
        sym_width = 0
        while i < len(order) and symbols[order[i]].shape[0] == h:
            w = symbols[order[i]].shape[1]
            iadw.encode(enc, w - sym_width)
            sym_width = w
            _encode_generic_shared(enc, gb_ci, gb_cm, symbols[order[i]],
                                   template, at, tpgdon=False)
            i += 1
        iadw.encode(enc, _OOB)
    iaex.encode(enc, 0)               # first run: not exported, length 0
    iaex.encode(enc, n1)              # second run: export everything
    sd_coded = enc.finish()
    sd_flags = template << 10  # SDHUFF=0, SDREFAGG=0
    sd_body = (struct.pack(">H", sd_flags)
               + b"".join(struct.pack("bb", dx, dy) for dx, dy in at)
               + struct.pack(">II", n1, n1)
               + sd_coded)
    segments = [(1, 0, sd_body, ())]

    # ---- dictionary 2 (SDREFAGG=1): new symbols refine imported ones,
    # or aggregate several imported instances via an embedded text region
    norm2 = []
    for entry in refagg_symbols:
        if entry and entry[0] == "agg":
            _tag, pl, (h2, w2) = entry
            pl = [(int(si), int(x), int(y)) for si, x, y in pl]
            if len(pl) < 2:
                raise ValueError("aggregate entries need >= 2 instances")
            if any(si < 0 or si >= n1 for si, _x, _y in pl):
                raise ValueError("aggregate instance index out of range")
            tgt = np.zeros((int(h2), int(w2)), dtype=np.uint8)
            for si, x, y in pl:
                _composite(tgt, symbols[si], x, y, 0)
            norm2.append(("agg", pl, tgt))
        else:
            b, t = entry
            norm2.append(("ref", int(b), (np.asarray(t) != 0).astype(np.uint8)))
    n2 = len(norm2)
    all_syms = [s for s in symbols] + [e[2] for e in norm2]
    if n2:
        order2 = sorted(
            range(n2), key=lambda k: (norm2[k][2].shape[0],
                                      norm2[k][2].shape[1], k))
        # user index n1+k -> text-region id n1 + position in decode order
        for new, k in enumerate(order2):
            id_of[n1 + k] = n1 + new
        enc = _MQEncoder()
        iadh, iadw, iaex = _ArithInt(), _ArithInt(), _ArithInt()
        iaai = _ArithInt()
        st2 = _fresh_text_state(_symcodelen(n1 + n2))
        gr_ci, gr_cm = _fresh_ref_contexts(0)
        hc_height = 0
        i = 0
        while i < n2:
            h = norm2[order2[i]][2].shape[0]
            iadh.encode(enc, h - hc_height)
            hc_height = h
            sym_width = 0
            while i < n2 and norm2[order2[i]][2].shape[0] == h:
                kind, ref, tgt = norm2[order2[i]]
                w = tgt.shape[1]
                iadw.encode(enc, w - sym_width)
                sym_width = w
                if kind == "agg":
                    # embedded text region: 1 strip/row, TL corner, OR
                    iaai.encode(enc, len(ref))
                    inst2 = sorted((y, x, si) for si, x, y in ref)
                    st2["iadt"].encode(enc, 0)  # initial STRIPT
                    stript = 0
                    firsts = 0
                    j2 = 0
                    while j2 < len(inst2):
                        strip = inst2[j2][0]
                        st2["iadt"].encode(enc, strip - stript)
                        stript = strip
                        first2 = True
                        curs_end = 0
                        while j2 < len(inst2) and inst2[j2][0] == strip:
                            t_, s_, si = inst2[j2]
                            did = id_of[si]
                            wi = symbols[si].shape[1]
                            if first2:
                                st2["iafs"].encode(enc, s_ - firsts)
                                firsts = s_
                                first2 = False
                            else:
                                st2["iads"].encode(enc, s_ - curs_end)
                            curs_end = s_ + wi - 1
                            st2["iaid"].encode(enc, did)
                            st2["iari"].encode(enc, 0)  # plain instance
                            j2 += 1
                        st2["iads"].encode(enc, _OOB)
                else:
                    iaai.encode(enc, 1)
                    # imported symbols arrive in dict-1 decode order
                    st2["iaid"].encode(enc, id_of[ref])
                    st2["iardx"].encode(enc, 0)
                    st2["iardy"].encode(enc, 0)
                    _encode_refinement_shared(
                        enc, gr_ci, gr_cm, tgt, 0, rat,
                        symbols[ref], 0, 0, tpgron=False)
                i += 1
            iadw.encode(enc, _OOB)
        iaex.encode(enc, n1)          # imported symbols: not re-exported
        iaex.encode(enc, n2)          # new refined symbols: exported
        sd2_coded = enc.finish()
        sd2_flags = 2 | (template << 10)  # SDREFAGG=1, SDRTEMPLATE=0
        sd2_body = (struct.pack(">H", sd2_flags)
                    + b"".join(struct.pack("bb", dx, dy) for dx, dy in at)
                    + b"".join(struct.pack("bb", dx, dy) for dx, dy in rat)
                    + struct.pack(">II", n2, n2)
                    + sd2_coded)
        segments.append((2, 0, sd2_body, (1,)))

    # ---- text region: strip/S/T/ID instance stream
    def s_t_of(sym, x, y):
        hi, wi = sym.shape
        if not transposed:
            s = x
            t = y if refcorner in (1, 3) else y + hi - 1
        else:
            s = y
            t = x if refcorner in (0, 1) else x + wi - 1
        return s, t

    # decode-order symbol list as the text region sees it (dict1 + dict2)
    text_syms = [None] * (n1 + n2)
    for user_idx, tid in id_of.items():
        text_syms[tid] = all_syms[user_idx]

    inst = []
    for pidx, (user_idx, x, y) in enumerate(placements):
        target = refined.get(pidx)
        inst_bm = target if target is not None else all_syms[user_idx]
        s, t = s_t_of(inst_bm, int(x), int(y))
        inst.append((t // sbstrips, s, t, id_of[user_idx], inst_bm, target))
    inst.sort(key=lambda e: (e[0], e[1]))

    refine_mode = bool(refined)
    enc = _MQEncoder()
    iadt, iafs, iads, iait = (_ArithInt() for _ in range(4))
    iari = _ArithInt()
    iardw, iardh, iardx, iardy = (_ArithInt() for _ in range(4))
    iaid = _ArithIaid(_symcodelen(n1 + n2))
    gr_ci, gr_cm = _fresh_ref_contexts(0)
    iadt.encode(enc, 0)  # initial STRIPT value: start at 0
    stript_units = 0
    firsts = 0
    j = 0
    while j < len(inst):
        strip = inst[j][0]
        iadt.encode(enc, strip - stript_units)
        stript_units = strip
        first = True
        curs_end = 0
        while j < len(inst) and inst[j][0] == strip:
            _, s, t, sid, inst_bm, target = inst[j]
            hi, wi = inst_bm.shape
            if first:
                iafs.encode(enc, s - firsts)
                firsts = s
                first = False
            else:
                iads.encode(enc, s - curs_end - dsoffset)
            curs_end = s + (hi - 1 if transposed else wi - 1)
            if sbstrips != 1:
                iait.encode(enc, t - strip * sbstrips)
            iaid.encode(enc, sid)
            if refine_mode:
                if target is None:
                    iari.encode(enc, 0)
                else:
                    iari.encode(enc, 1)
                    base = text_syms[sid]
                    rdw = target.shape[1] - base.shape[1]
                    rdh = target.shape[0] - base.shape[0]
                    iardw.encode(enc, rdw)
                    iardh.encode(enc, rdh)
                    iardx.encode(enc, 0)
                    iardy.encode(enc, 0)
                    _encode_refinement_shared(
                        enc, gr_ci, gr_cm, target, 0, rat, base,
                        rdw >> 1, rdh >> 1, tpgron=False)
            j += 1
        iads.encode(enc, _OOB)
    tr_coded = enc.finish()
    tr_flags = ((1 if refine_mode else 0) << 1) \
        | ((sbstrips.bit_length() - 1) << 2) | (refcorner << 4) \
        | ((1 if transposed else 0) << 6) | ((dsoffset & 0x1F) << 10)
    rat_bytes = (b"".join(struct.pack("bb", dx, dy) for dx, dy in rat)
                 if refine_mode else b"")
    tr_body = (struct.pack(">IIIIB", width, height, 0, 0, 0)
               + struct.pack(">H", tr_flags)
               + rat_bytes
               + struct.pack(">I", len(placements))
               + tr_coded)
    tr_num = 3 if n2 else 2
    tr_refs = (1, 2) if n2 else (1,)
    segments.append((tr_num, 6, tr_body, tr_refs))

    page_body = struct.pack(">IIIIBH", width, height, 0, 0, 0, 0)
    out = _seg_header(0, 48, 1, len(page_body)) + page_body
    for num, stype, seg_body, refs in segments:
        out += _seg_header(num, stype, 1, len(seg_body), refs=refs) + seg_body
    return out + _seg_header(tr_num + 1, 49, 1, 0)

def encode_jbig2_symbol_text_huffman(symbols, placements, width: int,
                                     height: int, refcorner: int = 1,
                                     transposed: bool = False,
                                     sbstrips: int = 1, dsoffset: int = 0,
                                     mmr_collective: bool = False,
                                     custom_dt: bool = False,
                                     refined=None,
                                     refagg_symbols=None) -> bytes:
    """Embedded JBIG2 stream in the HUFFMAN profile (the hardware-scanner
    encoding): page info + one SDHUFF=1 SYMBOL DICTIONARY (height-class
    collective bitmaps, standard tables B.4/B.2/B.1) + one SBHUFF=1
    immediate TEXT REGION (runcode-assigned uniform-length symbol ID
    codes, standard tables B.6/B.8/B.11) + end-of-page. Test
    infrastructure like :func:`encode_jbig2_symbol_text`.

    ``mmr_collective``: MMR-code each height class's collective bitmap
    instead of storing it uncompressed. ``custom_dt``: carry the DT table
    as a type-53 custom code table segment (selector 3) instead of B.11,
    exercising the §B.2 table parser. ``refined``: optional
    {placement-list index -> target bitmap} — those instances ride as
    BMSIZE-framed arithmetic refinements of their dictionary symbol
    (§6.4.11 with SBHUFF=1; size deltas via table B.15).
    ``refagg_symbols``: like :func:`encode_jbig2_symbol_text` — a SECOND
    dictionary with SDHUFF=1|SDREFAGG=1 whose entries are either
    (base_index, target) single-instance refinements (raw-bit symbol ID
    + BMSIZE-framed MQ payload) or ("agg", placements, (h, w))
    multi-instance embedded Huffman text regions (§6.5.8.2)."""
    symbols = [(np.asarray(s) != 0).astype(np.uint8) for s in symbols]
    if not symbols or any(s.ndim != 2 or s.size == 0 for s in symbols):
        raise ValueError("need non-empty 2-D bilevel symbol arrays")
    refined = {int(k): (np.asarray(v) != 0).astype(np.uint8)
               for k, v in (refined or {}).items()}
    if any(t.ndim != 2 or t.size == 0 for t in refined.values()):
        raise ValueError("refined targets must be non-empty 2-D")
    if sbstrips not in (1, 2, 4, 8):
        raise ValueError("SBSTRIPS must be 1/2/4/8")
    if not -16 <= dsoffset <= 15:
        raise ValueError("dsoffset out of 5-bit signed range")
    n = len(symbols)

    # ---- SDHUFF=1 dictionary: decode order = sorted by (height, width)
    order = sorted(range(n),
                   key=lambda i: (symbols[i].shape[0], symbols[i].shape[1], i))
    id_of = {orig: new for new, orig in enumerate(order)}
    t_dh, t_dw, t_bm = _std_table(4), _std_table(2), _std_table(1)
    bw = _BitWriter()
    hc_height = 0
    i = 0
    while i < n:
        h = symbols[order[i]].shape[0]
        t_dh.encode(bw, h - hc_height)
        hc_height = h
        sym_width = 0
        class_syms = []
        while i < n and symbols[order[i]].shape[0] == h:
            w_ = symbols[order[i]].shape[1]
            t_dw.encode(bw, w_ - sym_width)
            sym_width = w_
            class_syms.append(symbols[order[i]])
            i += 1
        t_dw.encode(bw, _OOB)
        coll = np.concatenate(class_syms, axis=1)
        if mmr_collective:
            from docling_parse_spark.ccitt import encode_g4

            coded = encode_g4(coll.astype(bool))
            t_bm.encode(bw, len(coded))
            bw.write_bytes(coded)
        else:
            t_bm.encode(bw, 0)  # uncompressed, rows byte-padded
            bw.write_bytes(np.packbits(coll, axis=1).tobytes())
    t_ex = _std_table(1)
    t_ex.encode(bw, 0)  # first run: not exported, length 0
    t_ex.encode(bw, n)  # second run: export everything
    sd_body = (struct.pack(">H", 1)  # SDHUFF=1, all selectors standard
               + struct.pack(">II", n, n) + bw.getvalue())
    segments = [(1, 0, sd_body, ())]
    next_num = 2

    # ---- dictionary 2 (SDHUFF=1 | SDREFAGG=1): refined/aggregate symbols
    norm2 = []
    for entry in (refagg_symbols or []):
        if entry and entry[0] == "agg":
            _tag, pl, (h2, w2) = entry
            pl = [(int(si), int(x), int(y)) for si, x, y in pl]
            if len(pl) < 2 or any(si < 0 or si >= n for si, _x, _y in pl):
                raise ValueError("bad aggregate entry")
            tgt = np.zeros((int(h2), int(w2)), dtype=np.uint8)
            for si, x, y in pl:
                _composite(tgt, symbols[si], x, y, 0)
            norm2.append(("agg", pl, tgt))
        else:
            b, t = entry
            norm2.append(("ref", int(b),
                          (np.asarray(t) != 0).astype(np.uint8)))
    n2 = len(norm2)
    all_syms = list(symbols) + [e[2] for e in norm2]
    sd2_num = None
    if n2:
        order2 = sorted(range(n2), key=lambda k: (norm2[k][2].shape[0],
                                                  norm2[k][2].shape[1], k))
        for new_i, k in enumerate(order2):
            id_of[n + k] = n + new_i
        t_ag = _std_table(1)
        t_rd15 = _std_table(15)
        gr_ci, gr_cm = _fresh_ref_contexts(0)
        rat = list(_NOMINAL_RAT)
        id_bits = max(1, _symcodelen(n + n2))
        bw2 = _BitWriter()
        hc_height = 0
        i = 0
        n_decoded = 0
        while i < n2:
            h2 = norm2[order2[i]][2].shape[0]
            t_dh.encode(bw2, h2 - hc_height)
            hc_height = h2
            sym_width = 0
            while i < n2 and norm2[order2[i]][2].shape[0] == h2:
                kind, ref, tgt = norm2[order2[i]]
                t_dw.encode(bw2, tgt.shape[1] - sym_width)
                sym_width = tgt.shape[1]
                if kind == "agg":
                    t_ag.encode(bw2, len(ref))
                    # embedded text region: 1-row strips, TL corner, OR;
                    # ID codelen grows with the symbols decoded so far
                    el = max(1, _symcodelen(n + n_decoded))
                    inst2 = sorted((y, x, si) for si, x, y in ref)
                    t_dt2, t_fs2, t_ds2 = (_std_table(11), _std_table(6),
                                           _std_table(8))
                    t_dt2.encode(bw2, 1)  # initial STRIPT (B.11 min is 1)
                    stript = -1
                    firsts = 0
                    j2 = 0
                    while j2 < len(inst2):
                        strip = inst2[j2][0]
                        t_dt2.encode(bw2, strip - stript)
                        stript = strip
                        first2 = True
                        curs_end = 0
                        while j2 < len(inst2) and inst2[j2][0] == strip:
                            _t, s_, si = inst2[j2]
                            if first2:
                                t_fs2.encode(bw2, s_ - firsts)
                                firsts = s_
                                first2 = False
                            else:
                                t_ds2.encode(bw2, s_ - curs_end)
                            curs_end = s_ + symbols[si].shape[1] - 1
                            bw2.bits(id_of[si], el)
                            bw2.bit(0)  # RI: plain instance
                            j2 += 1
                        t_ds2.encode(bw2, _OOB)
                else:
                    t_ag.encode(bw2, 1)
                    bw2.bits(id_of[ref], id_bits)
                    t_rd15.encode(bw2, 0)  # RDX
                    t_rd15.encode(bw2, 0)  # RDY
                    enc = _MQEncoder()
                    _encode_refinement_shared(
                        enc, gr_ci, gr_cm, tgt, 0, rat, symbols[ref],
                        0, 0, tpgron=False)
                    payload = enc.finish()
                    t_ag.encode(bw2, len(payload))  # BMSIZE via B.1
                    bw2.write_bytes(payload)
                n_decoded += 1
                i += 1
            t_dw.encode(bw2, _OOB)
        t_ex.encode(bw2, n)   # imported symbols: not re-exported
        t_ex.encode(bw2, n2)  # new refined symbols: exported
        sd2_body = (struct.pack(">H", 3)  # SDHUFF | SDREFAGG, std tables
                    + b"".join(struct.pack("bb", dx, dy) for dx, dy in rat)
                    + struct.pack(">II", n2, n2) + bw2.getvalue())
        sd2_num = next_num
        segments.append((sd2_num, 0, sd2_body, (1,)))
        next_num += 1

    # ---- SBHUFF=1 text region
    n_text = n + n2
    symlen = max(1, _symcodelen(n_text))
    tw = _BitWriter()
    for rc in range(35):  # runcode table: only code length `symlen` occurs
        tw.bits(1 if rc == symlen else 0, 4)
    for _ in range(n_text):  # that runcode's 1-bit canonical code is 0
        tw.bit(0)
    tw.align()

    tab_num = None
    if custom_dt:
        tab_body, t_dt = _encode_table_segment([(1, 4), 2, 2], 0, 16)
        tab_num = next_num
        segments.append((tab_num, 53, tab_body, ()))
        next_num += 1
        init_dt = 0
    else:
        t_dt = _std_table(11)  # encodes values >= 1 only
        init_dt = 1
    t_fs, t_ds = _std_table(6), _std_table(8)

    def s_t_of(sym, x, y):
        hi, wi = sym.shape
        if not transposed:
            s = x
            t = y if refcorner in (1, 3) else y + hi - 1
        else:
            s = y
            t = x if refcorner in (0, 1) else x + wi - 1
        return s, t

    refine_mode = bool(refined)
    if refine_mode:
        # deltas via B.15 (covers +-24), sizes via B.1, nominal SBRAT
        t_rd = _std_table(15)
        t_rsize = _std_table(1)
        gr_ci, gr_cm = _fresh_ref_contexts(0)
        rat = list(_NOMINAL_RAT)
    inst = []
    for pidx, (user_idx, x, y) in enumerate(placements):
        target = refined.get(pidx)
        bm = target if target is not None else all_syms[user_idx]
        s, t = s_t_of(bm, int(x), int(y))
        inst.append((t // sbstrips, s, t, id_of[user_idx], bm, target,
                     user_idx))
    inst.sort(key=lambda e: (e[0], e[1]))

    tbits = (sbstrips - 1).bit_length()
    t_dt.encode(tw, init_dt)
    stript_units = -init_dt
    firsts = 0
    j = 0
    while j < len(inst):
        strip = inst[j][0]
        t_dt.encode(tw, strip - stript_units)
        stript_units = strip
        first = True
        curs_end = 0
        while j < len(inst) and inst[j][0] == strip:
            _, s, t, sid, bm, target, user_idx = inst[j]
            hi, wi = bm.shape
            if first:
                t_fs.encode(tw, s - firsts)
                firsts = s
                first = False
            else:
                t_ds.encode(tw, s - curs_end - dsoffset)
            curs_end = s + (hi if transposed else wi) - 1
            if sbstrips != 1:
                tw.bits(t - strip * sbstrips, tbits)
            tw.bits(sid, symlen)  # uniform-length canonical code == id
            if refine_mode:
                if target is None:
                    tw.bit(0)
                else:
                    tw.bit(1)
                    base = all_syms[user_idx]
                    rdw = target.shape[1] - base.shape[1]
                    rdh = target.shape[0] - base.shape[0]
                    t_rd.encode(tw, rdw)
                    t_rd.encode(tw, rdh)
                    t_rd.encode(tw, 0)
                    t_rd.encode(tw, 0)
                    enc = _MQEncoder()
                    _encode_refinement_shared(
                        enc, gr_ci, gr_cm, target, 0, rat, base,
                        rdw >> 1, rdh >> 1, tpgron=False)
                    payload = enc.finish()
                    t_rsize.encode(tw, len(payload))
                    tw.write_bytes(payload)
            j += 1
        t_ds.encode(tw, _OOB)

    hflags = (3 << 4) if custom_dt else 0  # DT selector; rest standard
    if refine_mode:  # RDW/RDH/RDX/RDY via B.15 (selector 1)
        hflags |= (1 << 6) | (1 << 8) | (1 << 10) | (1 << 12)
    tr_flags = (1  # SBHUFF
                | ((1 if refine_mode else 0) << 1)
                | ((sbstrips.bit_length() - 1) << 2) | (refcorner << 4)
                | ((1 if transposed else 0) << 6) | ((dsoffset & 0x1F) << 10))
    rat_bytes = (b"".join(struct.pack("bb", dx, dy)
                          for dx, dy in _NOMINAL_RAT)
                 if refine_mode else b"")
    tr_body = (struct.pack(">IIIIB", width, height, 0, 0, 0)
               + struct.pack(">HH", tr_flags, hflags)
               + rat_bytes
               + struct.pack(">I", len(placements))
               + tw.getvalue())
    tr_num = next_num
    tr_refs = ((1,) + ((sd2_num,) if sd2_num else ())
               + ((tab_num,) if tab_num else ()))
    segments.append((tr_num, 6, tr_body, tr_refs))

    page_body = struct.pack(">IIIIBH", width, height, 0, 0, 0, 0)
    out = _seg_header(0, 48, 1, len(page_body)) + page_body
    for num, stype, seg_body, refs in segments:
        out += _seg_header(num, stype, 1, len(seg_body), refs=refs) + seg_body
    return out + _seg_header(tr_num + 1, 49, 1, 0)
