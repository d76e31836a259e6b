"""Standard-security-handler decryption (pdf/crypt.py): empty-user-password
RC4 / AES-128 / AES-256 files yield spans identical to their unencrypted
twins; password-protected files raise. Reference posture: passwords go
through qpdf (document.h:39-43); the empty-user-password case is the
common web-PDF one and is implemented from ISO 32000 §7.6."""

import hashlib
import random
import json
import struct

import pytest

from docling_parse_spark.document import decode_document
from docling_parse_spark.pdf.crypt import (
    _PAD,
    _expand_key,
    _encrypt_block,
    _decrypt_block,
    _hash_2b,
    aes_cbc_encrypt,
    rc4,
)
from docling_parse_spark.pdf.file import parse_pdf_spans

from test_pdf_file import CONTENT, build_classic_pdf, minimal_objects

ID0 = b"\x01\x02" * 8
O_ENTRY = bytes(range(32))
P_ENTRY = -3904
TITLE = b"Secret Title"


def test_aes_fips197_vectors():
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    for key, ct in ((bytes(range(16)), "69c4e0d86a7b0430d8cdb78070b4c55a"),
                    (bytes(range(24)), "dda97ca4864cdfe06eaf70a0ec0d7191"),
                    (bytes(range(32)), "8ea2b7ca516745bfeafc49904b496089")):
        rk = _expand_key(key)
        assert _encrypt_block(rk, pt).hex() == ct
        assert _decrypt_block(rk, bytes.fromhex(ct)) == pt


def test_rc4_vector():
    assert rc4(b"Key", b"Plaintext").hex() == "bbf316e8d940af0ad3"


def _hexs(b: bytes) -> bytes:
    return b"<" + b.hex().encode() + b">"


def _derive_key_r34(r: int, nbytes: int) -> bytes:
    key = hashlib.md5(_PAD + O_ENTRY + struct.pack("<i", P_ENTRY) + ID0).digest()
    for _ in range(50):
        key = hashlib.md5(key[:nbytes]).digest()
    return key[:nbytes]


def _u_entry(key: bytes) -> bytes:
    x = rc4(key, hashlib.md5(_PAD + ID0).digest())
    for i in range(1, 20):
        x = rc4(bytes(b ^ i for b in key), x)
    return x + b"\x00" * 16


def _objkey(key: bytes, num: int, gen: int, aes: bool) -> bytes:
    md = hashlib.md5(key + struct.pack("<I", num)[:3]
                     + struct.pack("<I", gen)[:2] + (b"sAlT" if aes else b""))
    return md.digest()[: min(len(key) + 5, 16)]


def _aes_env(key: bytes, data: bytes) -> bytes:
    iv = bytes(range(16))
    pad = 16 - len(data) % 16
    return iv + aes_cbc_encrypt(key, iv, data + bytes([pad]) * pad)


def build_encrypted(mode: str) -> bytes:
    """Encrypted twin of minimal_objects(CONTENT) + an /Info title string."""
    objs = minimal_objects(b"")
    if mode == "rc4":
        key = _derive_key_r34(3, 16)
        enc_content = rc4(_objkey(key, 4, 0, False), CONTENT)
        enc_title = rc4(_objkey(key, 9, 0, False), TITLE)
        encdict = (b"<< /Filter /Standard /V 2 /R 3 /Length 128 /P "
                   + str(P_ENTRY).encode() + b" /O " + _hexs(O_ENTRY)
                   + b" /U " + _hexs(_u_entry(key)) + b" >>")
    elif mode == "aes128":
        key = _derive_key_r34(4, 16)
        enc_content = _aes_env(_objkey(key, 4, 0, True), CONTENT)
        enc_title = _aes_env(_objkey(key, 9, 0, True), TITLE)
        encdict = (b"<< /Filter /Standard /V 4 /R 4 /Length 128 /P "
                   + str(P_ENTRY).encode() + b" /O " + _hexs(O_ENTRY)
                   + b" /U " + _hexs(_u_entry(key))
                   + b" /CF << /StdCF << /CFM /AESV2 /Length 16 >> >> "
                   + b"/StmF /StdCF /StrF /StdCF >>")
    else:  # aes256, /R 6 (ISO 32000-2)
        filekey = bytes(range(100, 132))
        vsalt, ksalt = b"VSALTvsa", b"KSALTksa"
        u = _hash_2b(b"", vsalt, b"") + vsalt + ksalt
        ue = aes_cbc_encrypt(_hash_2b(b"", ksalt, b""), bytes(16), filekey)
        enc_content = _aes_env(filekey, CONTENT)
        enc_title = _aes_env(filekey, TITLE)
        encdict = (b"<< /Filter /Standard /V 5 /R 6 /Length 256 /P "
                   + str(P_ENTRY).encode() + b" /O " + _hexs(bytes(48))
                   + b" /OE " + _hexs(bytes(32)) + b" /U " + _hexs(u)
                   + b" /UE " + _hexs(ue)
                   + b" /CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
                   + b"/StmF /StdCF /StrF /StdCF >>")
    objs[4] = (f"<< /Length {len(enc_content)} >>\nstream\n".encode()
               + enc_content + b"\nendstream")
    objs[8] = encdict
    objs[9] = b"<< /Title " + _hexs(enc_title) + b" >>"
    idh = _hexs(ID0).decode()
    return build_classic_pdf(
        objs, root=1,
        trailer_extra=f"/Encrypt 8 0 R /Info 9 0 R /ID [{idh} {idh}] ")


@pytest.mark.parametrize("mode", ["rc4", "aes128", "aes256"])
def test_encrypted_twin_matches_plain(mode):
    plain = build_classic_pdf(minimal_objects(CONTENT), root=1)
    enc_spans = parse_pdf_spans(build_encrypted(mode), doc_id="e")
    meta = json.loads(next(s["text"] for s in enc_spans if s["kind"] == "pdf_meta"))
    assert meta["title"] == "Secret Title"  # string decryption
    plain_out = decode_document("e", parse_pdf_spans(plain, doc_id="e"))
    enc_out = decode_document("e", enc_spans)
    text = lambda out: [(s["kind"], s["text"]) for s in out if s["kind"] == "text"]  # noqa: E731
    assert text(enc_out) == text(plain_out)  # span equality with the twin


def test_wrong_password_raises():
    bad = build_encrypted("rc4").replace(O_ENTRY.hex().encode(), b"ff" * 32)
    with pytest.raises(ValueError, match="password"):
        parse_pdf_spans(bad)


def test_unsupported_handler_raises():
    objs = minimal_objects(CONTENT)
    objs[8] = b"<< /Filter /FancyDRM /V 9 >>"
    pdf = build_classic_pdf(objs, root=1, trailer_extra="/Encrypt 8 0 R ")
    with pytest.raises(ValueError, match="encrypted PDF"):
        parse_pdf_spans(pdf)


def test_aes128_encrypted_modern_layout():
    """AES-128 (/V 4 /AESV2) file in the MODERN layout: the ObjStm
    container is an ordinary encrypted stream, the XRef stream is NOT
    encrypted (§7.5.8.2), and objects INSIDE the ObjStm are not
    individually encrypted (§7.5.7)."""
    import zlib

    key = _derive_key_r34(4, 16)
    # packed objects (plaintext inside the encrypted container)
    inner = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R >> >> >>"),
        5: (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/Encoding /WinAnsiEncoding >>"),
    }
    hdr = bytearray()
    body = bytearray()
    for num in (1, 2, 3, 5):
        hdr += f"{num} {len(body)} ".encode()
        body += inner[num] + b" "
    objstm_plain = zlib.compress(bytes(hdr) + bytes(body))
    objstm_enc = _aes_env(_objkey(key, 6, 0, True), objstm_plain)  # obj 6

    content_enc = _aes_env(_objkey(key, 4, 0, True), CONTENT)      # obj 4

    out = bytearray(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n")
    offs = {}
    offs[4] = len(out)
    out += (f"4 0 obj\n<< /Length {len(content_enc)} >>\nstream\n".encode()
            + content_enc + b"\nendstream\nendobj\n")
    offs[6] = len(out)
    out += (f"6 0 obj\n<< /Type /ObjStm /N 4 /First {len(hdr)} "
            f"/Length {len(objstm_enc)} /Filter /FlateDecode >>\nstream\n".encode()
            + objstm_enc + b"\nendstream\nendobj\n")
    # NOTE /Filter listed BEFORE decryption applies: spec order is
    # decrypt-then-filter, which is exactly what the loader does
    offs[8] = len(out)
    out += (b"8 0 obj\n<< /Filter /Standard /V 4 /R 4 /Length 128 /P "
            + str(P_ENTRY).encode() + b" /O <" + O_ENTRY.hex().encode()
            + b"> /U <" + _u_entry(key).hex().encode()
            + b"> /CF << /StdCF << /CFM /AESV2 /Length 16 >> >> "
            + b"/StmF /StdCF /StrF /StdCF >>\nendobj\n")
    rows = bytearray()

    def row(t, a, b):
        rows.append(t)
        rows.extend(int(a).to_bytes(4, "big") + int(b).to_bytes(2, "big"))

    row(0, 0, 65535)
    row(2, 6, 0)   # 1
    row(2, 6, 1)   # 2
    row(2, 6, 2)   # 3
    row(1, offs[4], 0)
    row(2, 6, 3)   # 5
    row(1, offs[6], 0)
    xref_pos_placeholder = len(rows)
    row(1, 0, 0)   # 7: xref stream itself (patched)
    row(1, offs[8], 0)
    xref_pos = len(out)
    rows[xref_pos_placeholder + 1 : xref_pos_placeholder + 5] = \
        int(xref_pos).to_bytes(4, "big")
    zr = zlib.compress(bytes(rows))  # XRef stream: Flate but NOT encrypted
    idh = "<" + ID0.hex() + ">"
    out += (f"7 0 obj\n<< /Type /XRef /Size 9 /W [1 4 2] /Index [0 9] "
            f"/Root 1 0 R /Encrypt 8 0 R /ID [{idh} {idh}] "
            f"/Length {len(zr)} /Filter /FlateDecode >>\nstream\n".encode()
            + zr + b"\nendstream\nendobj\n")
    out += f"startxref\n{xref_pos}\n%%EOF\n".encode()

    spans = parse_pdf_spans(bytes(out), doc_id="m")
    out_spans = decode_document("m", spans)
    text = " ".join(s["text"] for s in out_spans if s["kind"] == "text")
    assert "Hello from a real PDF file" in text


def test_encrypt_metadata_false_keeps_plaintext_xmp():
    """/EncryptMetadata false: the /Metadata stream is PLAINTEXT (7.6.3.2)
    and must not be 'decrypted' — doing so rejected the whole file with
    'AES-encrypted data malformed' (r5 review repro)."""
    xmp = (b'<x:xmpmeta xmlns:x="adobe:ns:meta/"><rdf:RDF>'
           b'<rdf:Description xmlns:dc="http://purl.org/dc/elements/1.1/">'
           b'<dc:title><rdf:Alt><rdf:li>Plain XMP Em&#8212;dash</rdf:li>'
           b'</rdf:Alt></dc:title></rdf:Description></rdf:RDF></x:xmpmeta>')
    key_nometa = hashlib.md5(
        _PAD + O_ENTRY + struct.pack("<i", P_ENTRY) + ID0 + b"\xff\xff\xff\xff"
    ).digest()
    for _ in range(50):
        key_nometa = hashlib.md5(key_nometa[:16]).digest()
    key = key_nometa[:16]
    enc_content = _aes_env(_objkey(key, 4, 0, True), CONTENT)
    objs = minimal_objects(b"")
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R /Metadata 9 0 R >>"
    objs[4] = (f"<< /Length {len(enc_content)} >>\nstream\n".encode()
               + enc_content + b"\nendstream")
    objs[8] = (b"<< /Filter /Standard /V 4 /R 4 /Length 128 /P "
               + str(P_ENTRY).encode() + b" /O " + _hexs(O_ENTRY)
               + b" /U " + _hexs(_u_entry(key))
               + b" /EncryptMetadata false"
               + b" /CF << /StdCF << /CFM /AESV2 /Length 16 >> >> "
               + b"/StmF /StdCF /StrF /StdCF >>")
    objs[9] = (f"<< /Type /Metadata /Subtype /XML /Length {len(xmp)} "
               f">>\nstream\n".encode() + xmp + b"\nendstream")
    idh = _hexs(ID0).decode()
    pdf = build_classic_pdf(objs, root=1,
                            trailer_extra=f"/Encrypt 8 0 R /ID [{idh} {idh}] ")
    spans = parse_pdf_spans(pdf, doc_id="nm")
    text = " ".join(s["text"] for s in decode_document("nm", spans)
                    if s["kind"] == "text")
    assert "Hello from a real PDF file" in text
    meta = json.loads(next(s["text"] for s in spans if s["kind"] == "pdf_meta"))
    # plaintext XMP read through; numeric char reference unescaped
    assert meta["title"] == "Plain XMP Em—dash"


def test_indirect_encrypt_dict_entries():
    """Legal indirect entries inside /Encrypt (/Length 10 0 R) resolve
    before the handler reads them (r5 review: TypeError rejected the
    file)."""
    key = _derive_key_r34(3, 16)
    enc_content = rc4(_objkey(key, 4, 0, False), CONTENT)
    objs = minimal_objects(b"")
    objs[4] = (f"<< /Length {len(enc_content)} >>\nstream\n".encode()
               + enc_content + b"\nendstream")
    objs[8] = (b"<< /Filter /Standard /V 2 /R 3 /Length 10 0 R /P "
               + str(P_ENTRY).encode() + b" /O " + _hexs(O_ENTRY)
               + b" /U " + _hexs(_u_entry(key)) + b" >>")
    objs[10] = b"128"
    idh = _hexs(ID0).decode()
    pdf = build_classic_pdf(objs, root=1,
                            trailer_extra=f"/Encrypt 8 0 R /ID [{idh} {idh}] ")
    text = " ".join(s["text"] for s in
                    decode_document("i", parse_pdf_spans(pdf, doc_id="i"))
                    if s["kind"] == "text")
    assert "Hello from a real PDF file" in text


def test_bad_xrefstm_degrades_to_classic_table():
    """A hostile non-integer /XRefStm must degrade to the classic table,
    not kill the file (r5 review: TypeError escaped the catch)."""
    pdf = build_classic_pdf(minimal_objects(CONTENT), root=1,
                            trailer_extra="/XRefStm /NotANumber ")
    text = " ".join(s["text"] for s in
                    decode_document("x", parse_pdf_spans(pdf))
                    if s["kind"] == "text")
    assert "Hello from a real PDF file" in text


def test_vectorized_cbc_equals_scalar():
    """``aes_cbc_decrypt`` (EVP where libcrypto loads, else ``_pure_cbc``)
    is bit-identical to a CBC loop over the FIPS-197 inverse cipher for
    every AES key size, on inputs from 1008 bytes to 8 KiB."""
    import random

    random.seed(9)
    iv = bytes(range(16, 32))
    for keylen in (16, 24, 32):
        key = bytes(range(keylen))
        from docling_parse_spark.pdf.crypt import aes_cbc_decrypt

        for n in (1008, 1024, 1040, 8192):
            data = bytes(random.randrange(256) for _ in range(n))
            ct = aes_cbc_encrypt(key, iv, data)
            rk = _expand_key(key)
            ref = bytearray()
            prev = iv
            for i in range(0, len(ct), 16):
                blk = ct[i : i + 16]
                ref += bytes(a ^ b for a, b in
                             zip(_decrypt_block(rk, blk), prev))
                prev = blk
            assert aes_cbc_decrypt(key, iv, ct, unpad=False) == bytes(ref) == data


def test_evp_cbc_matches_pure_paths():
    """The platform-OpenSSL EVP fast path is bit-identical to the
    from-spec pure-Python reference for every AES key size, both
    directions. Skips cleanly when libcrypto isn't loadable (the
    public API then runs the pure path, covered by the other tests)."""
    import random

    from docling_parse_spark.pdf.crypt import (
        _EvpCbc,
        _decrypt_block,
        _encrypt_block,
        _expand_key,
        _load_evp,
    )

    if _load_evp() is None:
        import pytest

        pytest.skip("system libcrypto not loadable; pure path in use")

    random.seed(11)
    for keylen in (16, 24, 32):
        key = bytes(random.randrange(256) for _ in range(keylen))
        iv = bytes(random.randrange(256) for _ in range(16))
        rk = _expand_key(key)
        for n in (16, 64, 1024):
            data = bytes(random.randrange(256) for _ in range(n))
            # scalar CBC references, independent of the wired API
            ref_ct = bytearray()
            prev = iv
            for i in range(0, n, 16):
                blk = bytes(a ^ b for a, b in zip(data[i : i + 16], prev))
                prev = _encrypt_block(rk, blk)
                ref_ct += prev
            with _EvpCbc(keylen, True, n) as cbc:
                assert cbc(key, iv, data) == bytes(ref_ct)
            ref_pt = bytearray()
            prev = iv
            for i in range(0, n, 16):
                blk = bytes(ref_ct[i : i + 16])
                ref_pt += bytes(
                    a ^ b for a, b in zip(_decrypt_block(rk, blk), prev))
                prev = blk
            with _EvpCbc(keylen, False, n) as cbc:
                assert cbc(key, iv, bytes(ref_ct)) == data == bytes(ref_pt)


def test_pure_aes_env_forces_fallback(monkeypatch):
    """With libcrypto unloaded (``_EVP`` False) every AES call runs the
    byte-wise blocks and gives what EVP gives: a 4 KiB decrypt, an
    Algorithm 2.B hash, and an AES-256 /R 6 file that opens to the spans of
    its plain twin."""
    import docling_parse_spark.pdf.crypt as crypt

    rng = random.Random(12)
    key = bytes(rng.randrange(256) for _ in range(32))
    iv = bytes(rng.randrange(256) for _ in range(16))
    ct = bytes(rng.randrange(256) for _ in range(4096))
    want_pt = crypt.aes_cbc_decrypt(key, iv, ct, unpad=False)
    want_hash = _hash_2b(b"pw", b"saltsalt", b"U" * 48)
    enc = build_encrypted("aes256")
    plain = build_classic_pdf(minimal_objects(CONTENT), root=1)

    monkeypatch.setattr(crypt, "_EVP", False)
    assert crypt._load_evp() is None
    assert crypt.aes_cbc_decrypt(key, iv, ct, unpad=False) == want_pt
    assert crypt.aes_cbc_encrypt(key, iv, want_pt) == ct
    assert _hash_2b(b"pw", b"saltsalt", b"U" * 48) == want_hash
    assert (_text_spans(parse_pdf_spans(enc, doc_id="t"))
            == _text_spans(parse_pdf_spans(plain, doc_id="t")))


def _bytewise_cbc(key: bytes, iv: bytes, data: bytes, encrypt: bool) -> bytes:
    rk = _expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = data[i : i + 16]
        if encrypt:
            prev = _encrypt_block(rk, bytes(a ^ b for a, b in zip(blk, prev)))
            out += prev
        else:
            out += bytes(a ^ b for a, b in zip(_decrypt_block(rk, blk), prev))
            prev = blk
    return bytes(out)


def test_evp_context_rekeys_and_falls_back(monkeypatch):
    """One EVP context re-keyed call after call, as Algorithm 2.B uses it:
    keys and IVs of its key length with data up to its buffer length run
    on EVP; data over the buffer and a key of another length fall back to
    the byte-wise path. Every result equals the byte-wise reference."""
    import docling_parse_spark.pdf.crypt as crypt

    if crypt._load_evp() is None:
        pytest.skip("system libcrypto not loadable; pure path in use")
    fallbacks = []

    def pure_cbc(key, iv, data, encrypt):
        fallbacks.append(len(data))
        return _bytewise_cbc(key, iv, data, encrypt)

    monkeypatch.setattr(crypt, "_pure_cbc", pure_cbc)
    rng = random.Random(13)

    def rand(n):
        return bytes(rng.randrange(256) for _ in range(n))

    # (key length, data length, falls back): the first call is over-length,
    # so the cipher is bound by a later call
    calls = [(16, 80, True), (16, 16, False), (16, 64, False), (32, 32, True),
             (16, 48, False), (16, 96, True), (16, 64, False)]
    for encrypt in (True, False):
        fallbacks.clear()
        with crypt._EvpCbc(16, encrypt, 64) as cbc:
            for key_len, n, _ in calls:
                key, iv, data = rand(key_len), rand(16), rand(n)
                assert cbc(key, iv, data) == _bytewise_cbc(key, iv, data, encrypt)
        assert fallbacks == [n for _, n, falls_back in calls if falls_back]


def test_aes128_without_toplevel_length():
    """/V 4 key length comes from the crypt filter's /Length, not the
    top-level /Length (which applies only to V 2/3) — r5 review: a valid
    AES file without top-level /Length derived a 5-byte key and was
    rejected as password-protected."""
    key = _derive_key_r34(4, 16)
    enc_content = _aes_env(_objkey(key, 4, 0, True), CONTENT)
    objs = minimal_objects(b"")
    objs[4] = (f"<< /Length {len(enc_content)} >>\nstream\n".encode()
               + enc_content + b"\nendstream")
    objs[8] = (b"<< /Filter /Standard /V 4 /R 4 /P "  # no top-level /Length
               + str(P_ENTRY).encode() + b" /O " + _hexs(O_ENTRY)
               + b" /U " + _hexs(_u_entry(key))
               + b" /CF << /StdCF << /CFM /AESV2 /Length 16 >> >> "
               + b"/StmF /StdCF /StrF /StdCF >>")
    idh = _hexs(ID0).decode()
    pdf = build_classic_pdf(objs, root=1,
                            trailer_extra=f"/Encrypt 8 0 R /ID [{idh} {idh}] ")
    spans = parse_pdf_spans(pdf, doc_id="e")
    text = " ".join(s["text"] for s in decode_document("e", spans)
                    if s["kind"] == "text")
    assert "Hello from a real PDF file" in text


def test_aes256_r5_revision():
    """The pre-ISO Adobe /R 5 revision (single SHA-256, no 2.B loop)
    also authenticates the empty user password and unwraps the key."""
    filekey = bytes(range(50, 82))
    vsalt, ksalt = b"vsalt5xx", b"ksalt5xx"
    u = hashlib.sha256(b"" + vsalt).digest() + vsalt + ksalt
    ue = aes_cbc_encrypt(hashlib.sha256(b"" + ksalt).digest(), bytes(16), filekey)
    enc_content = _aes_env(filekey, CONTENT)
    objs = minimal_objects(b"")
    objs[4] = (f"<< /Length {len(enc_content)} >>\nstream\n".encode()
               + enc_content + b"\nendstream")
    objs[8] = (b"<< /Filter /Standard /V 5 /R 5 /Length 256 /P "
               + str(P_ENTRY).encode() + b" /O " + _hexs(bytes(48))
               + b" /OE " + _hexs(bytes(32)) + b" /U " + _hexs(u)
               + b" /UE " + _hexs(ue)
               + b" /CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
               + b"/StmF /StdCF /StrF /StdCF >>")
    idh = _hexs(ID0).decode()
    pdf = build_classic_pdf(objs, root=1,
                            trailer_extra=f"/Encrypt 8 0 R /ID [{idh} {idh}] ")
    text = " ".join(s["text"] for s in
                    decode_document("r5", parse_pdf_spans(pdf, doc_id="r5"))
                    if s["kind"] == "text")
    assert "Hello from a real PDF file" in text


# ---------------------------------------------------------------- 2.B pin
# ADVICE r5: the R6 twin test builds /U and /UE with the same _hash_2b under
# test, so a shared misreading of Algorithm 2.B would pass. This section pins
# the iterated hash against an INDEPENDENT in-test implementation:
#   * AES derived from first principles (S-box computed from GF(2^8)
#     inversion + affine transform — no shared tables with pdf/crypt.py),
#   * the round-termination condition written in the structurally different
#     `for i: i < 64 or E[-1] > i - 32` form other public readers use,
# then cross-checked over randomized (password, salt, udata) triples whose
# E[-1] values scatter across the >=64-round stop boundary.


def _gmul(a, b):
    r = 0
    while b:
        if b & 1:
            r ^= a
        a <<= 1
        if a & 0x100:
            a ^= 0x11B
        b >>= 1
    return r


def _build_sbox():
    sbox = []
    for x in range(256):
        inv = 0
        if x:
            inv = 1
            for _ in range(254):  # x^254 == x^-1 in GF(2^8)
                inv = _gmul(inv, x)
        y = inv
        for sh in (1, 2, 3, 4):
            y ^= ((inv << sh) | (inv >> (8 - sh))) & 0xFF
        y ^= 0x63
        sbox.append(y)
    return sbox


_NAIVE_TABLES = None


def _naive_tables():
    # computed once from _gmul (not hard-coded): speed, not provenance
    global _NAIVE_TABLES
    if _NAIVE_TABLES is None:
        sbox = _build_sbox()
        g2 = [_gmul(x, 2) for x in range(256)]
        g3 = [_gmul(x, 3) for x in range(256)]
        _NAIVE_TABLES = (sbox, g2, g3)
    return _NAIVE_TABLES


def _naive_aes128_cbc_encrypt(key, iv, data):
    sbox, g2, g3 = _naive_tables()
    # key expansion (FIPS-197 §5.2)
    w = [list(key[4 * i:4 * i + 4]) for i in range(4)]
    rcon = 1
    for i in range(4, 44):
        t = list(w[i - 1])
        if i % 4 == 0:
            t = t[1:] + t[:1]
            t = [sbox[b] for b in t]
            t[0] ^= rcon
            rcon = _gmul(rcon, 2)
        w.append([a ^ b for a, b in zip(w[i - 4], t)])
    rks = [sum(w[4 * r:4 * r + 4], []) for r in range(11)]

    def encrypt_block(block):
        # state as 16 bytes, column-major per FIPS-197: s[r][c] = b[4c+r]
        s = [block[i] ^ rks[0][i] for i in range(16)]
        for rnd in range(1, 11):
            s = [sbox[b] for b in s]
            # ShiftRows on column-major flat layout
            s = [s[(i + 4 * (i % 4)) % 16] for i in range(16)]
            if rnd < 10:
                m = []
                for c in range(4):
                    col = s[4 * c:4 * c + 4]
                    m += [
                        g2[col[0]] ^ g3[col[1]] ^ col[2] ^ col[3],
                        col[0] ^ g2[col[1]] ^ g3[col[2]] ^ col[3],
                        col[0] ^ col[1] ^ g2[col[2]] ^ g3[col[3]],
                        g3[col[0]] ^ col[1] ^ col[2] ^ g2[col[3]],
                    ]
                s = m
            s = [b ^ rks[rnd][i] for i, b in enumerate(s)]
        return bytes(s)

    out = bytearray()
    prev = iv
    for off in range(0, len(data), 16):
        blk = bytes(x ^ y for x, y in zip(data[off:off + 16], prev))
        prev = encrypt_block(blk)
        out += prev
    return bytes(out)


def _naive_hash_2b(password, salt, udata):
    import hashlib

    k = hashlib.sha256(password + salt + udata).digest()
    e = b"\xff"
    i = 0
    while i < 64 or e[-1] > i - 32:
        k1 = (password + k + udata) * 64
        e = _naive_aes128_cbc_encrypt(k[:16], k[16:32], k1)
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[sum(e[:16]) % 3](e).digest()
        i += 1
    return k[:32]


def test_naive_aes_matches_fips_kat():
    """Anchor the in-test AES itself to the FIPS-197 Appendix B vector."""
    key = bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c")
    pt = bytes.fromhex("3243f6a8885a308d313198a2e0370734")
    ct = _naive_aes128_cbc_encrypt(key, bytes(16), pt)
    assert ct.hex() == "3925841d02dc09fbdc118597196a0b32"


def test_hash_2b_matches_independent_implementation():
    from docling_parse_spark.pdf.crypt import _hash_2b

    rng = random.Random(0x2B)
    cases = [(b"", b"\x00" * 8, b""), (b"user", b"\x01" * 8, b"U" * 48)]
    for _ in range(6):
        cases.append((
            bytes(rng.randrange(256) for _ in range(rng.randrange(0, 9))),
            bytes(rng.randrange(256) for _ in range(8)),
            bytes(rng.randrange(256) for _ in range(rng.choice((0, 48)))),
        ))
    for pw, salt, u in cases:
        assert _hash_2b(pw, salt, u) == _naive_hash_2b(pw, salt, u), (pw, salt, u)


# -------------------------------------------------- supplied-password tests

def _rc4_pw_twins(user_pw=b"", owner_pw=None):
    """(plain twin bytes, encrypted bytes) for a password-protected file
    built through pdf/build.py's Algorithm 3-capable writer."""
    from docling_parse_spark.pdf.build import (
        build_classic_pdf as b_classic,
        encrypt_classic_rc4,
    )

    font = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/Encoding /WinAnsiEncoding >>")
    content = b"BT /F1 12 Tf 72 700 Td (password protected body) Tj ET"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R >> >> >>"),
        5: font,
    }
    enc = encrypt_classic_rc4(
        dict(objs), root=1, stream_bodies={4: content},
        user_password=user_pw, owner_password=owner_pw,
    )
    objs[4] = (f"<< /Length {len(content)} >>\nstream\n".encode()
               + content + b"\nendstream")
    plain = b_classic(objs, root=1)
    return plain, enc


def _text_spans(spans):
    doc = decode_document("t", spans)
    return [(s["kind"], s["text"]) for s in doc if s["kind"] == "text"]


def test_rc4_user_password_supplied():
    plain, enc = _rc4_pw_twins(user_pw=b"hunter2")
    with pytest.raises(ValueError, match="password"):
        parse_pdf_spans(enc)  # empty password must NOT open it
    with pytest.raises(ValueError, match="password"):
        parse_pdf_spans(enc, password="wrong")
    got = _text_spans(parse_pdf_spans(enc, doc_id="t", password="hunter2"))
    want = _text_spans(parse_pdf_spans(plain, doc_id="t"))
    assert got == want and got  # decrypts to the plain twin's text

def test_rc4_legacy_password_encodings():
    """r6 review: R2-4 key derivation uses the byte string legacy writers
    encoded as Latin-1/cp1252, not UTF-8 — a str password with non-ASCII
    chars must still open such files (qpdf tries the same encodings). A
    file keyed with the UTF-8 bytes keeps working too."""
    for stored in ("café".encode("latin-1"), "café".encode("utf-8")):
        plain, enc = _rc4_pw_twins(user_pw=stored)
        got = _text_spans(parse_pdf_spans(enc, doc_id="t", password="café"))
        want = _text_spans(parse_pdf_spans(plain, doc_id="t"))
        assert got == want and got
    with pytest.raises(ValueError, match="password"):
        parse_pdf_spans(enc, password="cafe")


def test_rc4_owner_password_recovers_user_key():
    """Algorithm 7: the OWNER password alone opens the file by decrypting
    /O back into the padded user password."""
    plain, enc = _rc4_pw_twins(user_pw=b"usersecret", owner_pw=b"ownersecret")
    with pytest.raises(ValueError, match="password"):
        parse_pdf_spans(enc)
    for pw in ("usersecret", "ownersecret"):
        got = _text_spans(parse_pdf_spans(enc, doc_id="t", password=pw))
        assert got == _text_spans(parse_pdf_spans(plain, doc_id="t")) and got


def test_rc4_empty_user_with_real_owner_opens_both_ways():
    """user pw empty + real owner pw: opens with no password AND with the
    owner password (the most common 'protected' web PDF shape)."""
    plain, enc = _rc4_pw_twins(user_pw=b"", owner_pw=b"adminpw")
    want = _text_spans(parse_pdf_spans(plain, doc_id="t"))
    assert _text_spans(parse_pdf_spans(enc, doc_id="t")) == want
    assert _text_spans(parse_pdf_spans(enc, doc_id="t", password="adminpw")) == want


def _build_aes256_pw(user_pw: bytes, owner_pw: bytes) -> bytes:
    """R6 file whose /U //UE authenticate user_pw and /O //OE owner_pw
    (ISO 32000-2 §7.6.4.4.7: the owner hashes fold in U[0:48])."""
    filekey = bytes(range(100, 132))
    vsalt, ksalt = b"VSALTvsa", b"KSALTksa"
    u = _hash_2b(user_pw, vsalt, b"") + vsalt + ksalt
    ue = aes_cbc_encrypt(_hash_2b(user_pw, ksalt, b""), bytes(16), filekey)
    ovsalt, oksalt = b"OVSALTov", b"OKSALTok"
    o = _hash_2b(owner_pw, ovsalt, u) + ovsalt + oksalt
    oe = aes_cbc_encrypt(_hash_2b(owner_pw, oksalt, u), bytes(16), filekey)
    objs = minimal_objects(b"")
    enc_content = _aes_env(filekey, CONTENT)
    enc_title = _aes_env(filekey, TITLE)
    encdict = (b"<< /Filter /Standard /V 5 /R 6 /Length 256 /P "
               + str(P_ENTRY).encode() + b" /O " + _hexs(o)
               + b" /OE " + _hexs(oe) + b" /U " + _hexs(u)
               + b" /UE " + _hexs(ue)
               + b" /CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
               + b"/StmF /StdCF /StrF /StdCF >>")
    objs[4] = (f"<< /Length {len(enc_content)} >>\nstream\n".encode()
               + enc_content + b"\nendstream")
    objs[8] = encdict
    objs[9] = b"<< /Title " + _hexs(enc_title) + b" >>"
    idh = _hexs(ID0).decode()
    return build_classic_pdf(
        objs, root=1,
        trailer_extra=f"/Encrypt 8 0 R /Info 9 0 R /ID [{idh} {idh}] ")


def test_aes256_user_and_owner_passwords():
    pdf = _build_aes256_pw(b"aliceuser", b"bobowner")
    with pytest.raises(ValueError, match="password"):
        parse_pdf_spans(pdf)
    with pytest.raises(ValueError, match="password"):
        parse_pdf_spans(pdf, password="nope")
    for pw in ("aliceuser", "bobowner"):
        spans = parse_pdf_spans(pdf, doc_id="t", password=pw)
        text = " ".join(s["text"] for s in decode_document("t", spans)
                        if s["kind"] == "text")
        assert "Hello from a real PDF file" in text
        meta = json.loads(next(s["text"] for s in spans if s["kind"] == "pdf_meta"))
        assert meta["title"] == "Secret Title"


def test_password_unicode_prep():
    """str passwords ride UTF-8 (ISO 32000-2 §7.6.4.3.3 simple profile)."""
    pdf = _build_aes256_pw("motdepasseé".encode("utf-8"), b"o")
    spans = parse_pdf_spans(pdf, doc_id="t", password="motdepasseé")
    assert any(s["kind"] == "pdf_ops" for s in spans)


def test_aes_cbc_accepts_any_bytes_like(monkeypatch):
    """bytearray and memoryview inputs give the bytes result on the EVP
    path and on the FIPS-197 fallback (ctypes binds only bytes to EVP)."""
    from docling_parse_spark.pdf import crypt

    key, iv = bytes(range(32)), bytes(range(16, 32))
    data = bytes(range(40)) + bytes([8] * 8)  # padded plaintext
    ct = crypt.aes_cbc_encrypt(key, iv, data)
    for evp in (True, False):
        if not evp:
            monkeypatch.setattr(crypt, "_EVP", False)
        for wrap in (bytearray, memoryview):
            assert crypt.aes_cbc_encrypt(wrap(key), wrap(iv), wrap(data)) == ct
            assert crypt.aes_cbc_decrypt(wrap(key), wrap(iv), wrap(ct)) == data[:40]
            assert crypt.aes_cbc_decrypt(wrap(key), wrap(iv), wrap(ct), unpad=False) == data
