"""Font/encoding resolution tests — the precedence chain of
reference page_font.h:461-661 and the ToUnicode CMap parser."""

import json

from docling_parse_spark.pdf.fonts import (
    Font,
    font_from_json,
    glyph_name_to_unicode,
    parse_cmap,
)


def mk(**kw):
    base = {"font_key": "F1", "base_font": "Helvetica", "subtype": "Type1",
            "encoding": "WinAnsiEncoding", "first_char": 32,
            "widths": [500.0] * 95}
    base.update(kw)
    return font_from_json(json.dumps(base))


def test_winansi_basic():
    f = mk()
    assert f.get_string(ord("A")) == "A"
    assert f.get_string(0x93) == "“"  # cp1252 left double quote


def test_standard_quoteright():
    f = mk(encoding="StandardEncoding")
    assert f.get_string(0x27) == "’"


def test_differences_override():
    f = mk(differences={"65": "alpha"})
    assert f.get_string(65) == "α"
    assert f.get_string(66) == "B"  # untouched codes fall through


def test_differences_ligature_names():
    f = mk(differences={"100": "f_i", "101": "ffi"})
    assert f.get_string(100) == "ﬁ"
    assert f.get_string(101) == "ﬃ"


def test_unknown_glyph_squashed_to_space():
    f = mk(differences={"200": "nonexistentglyphname"})
    assert f.get_string(200) == " "  # keep_glyphs=False production squash
    assert f.get_string(200, keep_glyphs=True) == "GLYPH<c=200>"


def test_uni_names():
    assert glyph_name_to_unicode("uni0041") == "A"
    assert glyph_name_to_unicode("u1F600") == "\U0001f600"


def test_identity_h_with_tounicode():
    cmap = """
    /CIDInit /ProcSet findresource begin
    begincodespacerange <0000> <FFFF> endcodespacerange
    2 beginbfchar
    <0003> <0041>
    <0004> <00480069>
    endbfchar
    1 beginbfrange
    <0010> <0012> <0061>
    endbfrange
    end
    """
    f = mk(encoding="Identity-H", subtype="Type0", to_unicode=cmap,
           w={"3": 722, "4": 600}, dw=1000)
    codes = f.analyse_string(b"\x00\x03\x00\x04\x00\x10\x00\x12")
    assert codes == [(3, 2), (4, 2), (16, 2), (18, 2)]
    assert f.get_string(3) == "A"
    assert f.get_string(4) == "Hi"
    assert f.get_string(16) == "a"
    assert f.get_string(18) == "c"
    assert f.get_width(3) == 722
    assert f.get_width(99) == 1000  # DW default


def test_bfrange_array_form():
    cmap = "1 beginbfrange <0001> <0003> [<0058> <0059> <005A>] endbfrange"
    mapping, _ = parse_cmap(cmap)
    assert mapping == {1: "X", 2: "Y", 3: "Z"}


def test_simple_width_lookup():
    f = mk(first_char=32, widths=[250.0, 333.0])
    assert f.get_width(32) == 250.0
    assert f.get_width(33) == 333.0
    # outside /Widths: AFM name-aware fallback (WinAnsi 200 = Egrave in
    # Helvetica = 667); a non-base-14 font falls to the 500 default
    assert f.get_width(200) == 667.0
    assert mk(base_font="NotARealFont").get_width(200) == 500.0


def test_space_width():
    f = mk(first_char=32, widths=[278.0])
    assert f.get_width(32) == 278.0


def test_word_spacing_only_simple_encodings():
    f = Font(encoding="Identity-H", subtype="Type0")
    assert f.analyse_string(b"\x00A") == [(0x41, 2)]


def test_base14_width_fallback():
    # font with no /Widths: falls back to the embedded AFM metrics
    f = mk(base_font="Helvetica", widths=[], first_char=0)
    assert f.get_width(ord("i")) == 222.0
    assert f.get_width(ord("W")) == 944.0
    assert f.get_width(32) == 278.0
    f2 = mk(base_font="Courier", widths=[], first_char=0)
    assert f2.get_width(ord("i")) == 600.0
    f3 = mk(base_font="ABCDEF+Times-Roman", widths=[], first_char=0)
    assert f3.get_width(ord("m")) == 778.0
    f4 = mk(base_font="NoSuchFont", widths=[], first_char=0)
    assert f4.get_width(ord("x")) == 500.0


def test_predefined_cjk_cmaps():
    """Predefined CJK CMap chain: code -> CID (CMap ranges) -> Unicode
    (collection cid2code) — reference page_font.h:507-529,2056+."""
    # Japan1 Shift-JIS: 2-byte kana + 1-byte Roman + halfwidth katakana
    f = mk(base_font="MS-Mincho", subtype="Type0", encoding="90ms-RKSJ-H",
           widths=[], dw=1000)
    codes = f.analyse_string(bytes([0x82, 0xA0, 0x41, 0xB1]))
    assert codes == [(0x82A0, 2), (0x41, 1), (0xB1, 1)]
    assert [f.get_string(c, nbytes=nb) for c, nb in codes] == ["あ", "A", "ｱ"]
    # GB1 UCS2: code is the Unicode scalar; unified CIDs must not decode to
    # Kangxi radicals
    g = mk(base_font="STSong-Light", subtype="Type0", encoding="UniGB-UCS2-H",
           widths=[], dw=1000)
    raw = (0x4E2D).to_bytes(2, "big") + (0x6587).to_bytes(2, "big")
    assert "".join(g.get_string(c, nbytes=nb) for c, nb in g.analyse_string(raw)) == "中文"
    # Korea1 hangul
    k = mk(base_font="HYSMyeongJo-Medium", subtype="Type0",
           encoding="UniKS-UCS2-H", widths=[], dw=1000)
    raw = (0xD55C).to_bytes(2, "big")
    assert k.get_string(0xD55C, nbytes=2) == "한"
    # CNS1 Big5
    c = mk(base_font="MingLiU", subtype="Type0", encoding="B5pc-H",
           widths=[], dw=1000)
    assert c.get_string(0xA4A4, nbytes=2) == "中"


def test_predefined_cmap_widths():
    """/W widths are keyed by CID, reached through the CMap (page_font.h:313-366)."""
    f = mk(base_font="MS-Mincho", subtype="Type0", encoding="90ms-RKSJ-H",
           widths=[], w={"843": 1000, "264": 500}, dw=777)
    assert f.get_width(0x82A0, nbytes=2) == 1000.0  # あ -> CID 843
    assert f.get_width(0x41, nbytes=1) == 500.0     # A -> CID 264
    assert f.get_width(0x8340, nbytes=2) == 777.0   # unlisted CID -> /DW


def test_macexpert_full_table():
    f = mk(encoding="MacExpertEncoding", widths=[])
    # 0x30 = zerooldstyle (U+F730 in the AGL's corporate-use area)
    assert f.get_string(0x30) == ""


def test_embedded_truetype_widths():
    """No-/Widths TrueType font: widths come from the embedded program's
    cmap+hmtx (reference base_font.h; tests/test_embedded_fonts.py)."""
    import base64

    from docling_parse_spark.pdf.truetype import build_minimal_ttf

    ttf = base64.b64encode(
        build_minimal_ttf({"a": 610, "b": 620, " ": 240, "W": 990}, units_per_em=1000)
    ).decode()
    f = mk(base_font="Embedded-Sans", subtype="TrueType", widths=[],
           font_program=ttf)
    assert f.get_width(ord("a")) == 610.0
    assert f.get_width(ord("W")) == 990.0
    assert f.get_width(32) == 240.0
    assert f.get_width(ord("!")) == 500.0  # not in program -> default


def test_embedded_truetype_word_split():
    """Word merge uses program-derived widths: adjacency epsilon follows the
    real advances, so two Tj'd words separated by a space stay two words."""
    import base64
    import json

    from docling_parse_spark.pdf.page import build_fonts, decode_page
    from docling_parse_spark.pdf.truetype import build_minimal_ttf

    widths = {c: 600 for c in "abcd"}
    widths[" "] = 300
    blob = json.dumps({
        "font_key": "F1", "base_font": "Embedded-Mono", "subtype": "TrueType",
        "encoding": "WinAnsiEncoding", "widths": [],
        "font_program": base64.b64encode(build_minimal_ttf(widths)).decode(),
    })
    pr = decode_page(b"BT /F1 10 Tf 72 700 Td (ab cd) Tj ET", build_fonts([blob]))
    words = [c.text for c in pr.cells]
    assert words == ["ab", "cd"]


def test_embedded_cff_widths():
    """No-/Widths Type1C font: widths from the embedded CFF program's
    charstrings (leading width operand; reference base_font.h)."""
    import base64

    from docling_parse_spark.pdf.cff import build_minimal_cff

    cff = base64.b64encode(
        build_minimal_cff({"A": 722, "space": 250, "eacute": 444},
                          default_w=500, nominal_w=107)
    ).decode()
    f = mk(base_font="Embedded-CFF", subtype="Type1", widths=[],
           font_program=cff)
    assert f.get_width(ord("A")) == 722.0
    assert f.get_width(32) == 250.0
    assert f.get_width(0xE9) == 444.0  # WinAnsi 0xE9 -> eacute
    # name not in program: falls through to the 500 default (non-base-14)
    assert f.get_width(ord("z")) == 500.0


def test_embedded_type1_widths():
    """Bare Type1 (PFB) program: widths via eexec + charstring hsbw decode
    (Adobe Type1 spec; reference base_font.h handles Type1 programs too)."""
    import base64

    from docling_parse_spark.pdf.type1 import build_minimal_type1

    pfb = base64.b64encode(
        build_minimal_type1({"A": 722, "space": 250, "eacute": 444})
    ).decode()
    f = mk(base_font="Embedded-T1", subtype="Type1", widths=[], font_program=pfb)
    assert f.get_width(ord("A")) == 722.0
    assert f.get_width(32) == 250.0
    assert f.get_width(0xE9) == 444.0
    assert f.get_width(ord("z")) == 500.0  # absent glyph -> default


def test_cmap_mixed_width_chars_no_shadowing():
    """A 1-byte cidchar and a 2-byte cidchar with the same integer code must
    resolve independently (chars keyed by (code, nbytes) — ADVICE r02)."""
    from docling_parse_spark.pdf.resources_data import cmap_code_to_cid

    cmap = {"chars": {(0x41, 1): 7, (0x41, 2): 99}, "rindex": {}}
    assert cmap_code_to_cid(0x41, 1, cmap) == 7
    assert cmap_code_to_cid(0x41, 2, cmap) == 99
    assert cmap_code_to_cid(0x42, 1, cmap) is None


def test_cff_cidfont_ros_returns_none():
    """A CIDFont CFF (Top DICT carries ROS 12 30) maps GIDs to CIDs, not
    SIDs — parse_cff_widths must refuse rather than fabricate glyph names
    (ADVICE r02)."""
    from docling_parse_spark.pdf.cff import build_minimal_cff, parse_cff_widths

    plain = build_minimal_cff({"A": 600})
    assert parse_cff_widths(plain)["A"] == 600.0
    assert parse_cff_widths(build_minimal_cff({"A": 600}, cid_ros=True)) is None


def test_bfrange_utf16_dst_and_odd_hex_padding():
    """Round-4 review: non-array bfrange dsts are UTF-16BE strings whose
    LAST code unit increments — 4-byte (non-BMP) dsts used to raise and
    2-byte surrogate dsts leaked lone surrogates; odd-digit hex tokens
    pad with a trailing zero per PDF §7.3.4.3."""
    from docling_parse_spark.pdf.fonts import parse_cmap

    m, _ = parse_cmap("beginbfrange <0000> <0002> <D835DC00> endbfrange")
    assert m[0] == "\U0001D400" and m[1] == "\U0001D401" and m[2] == "\U0001D402"

    m2, _ = parse_cmap("beginbfrange <0000> <0001> <D800> endbfrange")
    for v in m2.values():  # no lone surrogates may survive (Arrow-safe)
        v.encode("utf-8")

    m3, _ = parse_cmap("beginbfchar <041> <0041> endbfchar")
    assert m3  # odd src digits padded, not a raise

    # malformed CMap text degrades to an empty mapping through
    # font_from_json, never a unit-failing raise
    import json

    from docling_parse_spark.pdf.fonts import font_from_json

    f = font_from_json(json.dumps({
        "font_key": "F9", "base_font": "X", "subtype": "Type0",
        "encoding": "Identity-H", "to_unicode": "beginbfchar <zz",
    }))
    assert f is not None


def test_ttc_table_offsets_are_file_absolute():
    """Round-4 review: TTC table-record offsets are measured from the
    start of the whole file; slicing at the font offset misread tables."""
    import struct

    from docling_parse_spark.pdf.truetype import parse_truetype_metrics

    # build a minimal sfnt whose directory sits after a TTC header
    def u16(v):
        return struct.pack(">H", v)

    def u32(v):
        return struct.pack(">I", v)

    ttc_header = b"ttcf" + u16(1) + u16(0) + u32(1) + u32(12 + 4)
    # one spacer byte would misalign; place the offset table at 16
    ttc_header += b"\x00" * (16 - len(ttc_header))
    sfnt_off = len(ttc_header)
    n_tables = 3
    dir_len = 12 + 16 * n_tables
    head_off = sfnt_off + dir_len
    hhea_off = head_off + 54
    hmtx_off = hhea_off + 36
    offtab = b"\x00\x01\x00\x00" + u16(n_tables) + u16(0) + u16(0) + u16(0)
    recs = b""
    for tag, off, ln in ((b"head", head_off, 54), (b"hhea", hhea_off, 36),
                         (b"hmtx", hmtx_off, 8)):
        recs += tag + u32(0) + u32(off) + u32(ln)
    head = b"\x00" * 18 + u16(2048) + b"\x00" * 34
    hhea = b"\x00" * 34 + u16(2)
    hmtx = u16(600) + u16(0) + u16(450) + u16(0)
    data = ttc_header + offtab + recs + head + hhea + hmtx
    # patch the TTC offset to point at the offset table
    data = data[:12] + u32(sfnt_off) + data[16:]
    m = parse_truetype_metrics(data)
    assert m is not None
    assert m["units_per_em"] == 2048 and m["advances"] == [600, 450]
