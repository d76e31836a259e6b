"""Deterministic PDF FILE writer — the corpus/fixture twin of pdf/file.py.

Builds real byte-level PDFs (classic xref tables, XRef-stream + ObjStm
modern layouts, and standard-security-handler encryption with an empty
user password) so the raw-file ingestion path — lexer, xref, object
streams, filters, decryption, annots/outline/info extraction — runs
INSIDE driver-recorded correctness gates, not just pytest. The builders
are seedless and fully deterministic: the same call always yields the
same bytes.

This is a writer for synthetic corpora, not a general PDF producer: it
supports exactly the constructs the file layer reads (reference parity
targets in pdf/file.py docstrings).
"""

from __future__ import annotations

import hashlib
import struct
import zlib

_PDF_HEADER = b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n"


def build_classic_pdf(objects: dict[int, bytes], root: int,
                      trailer_extra: str = "") -> bytes:
    """{obj_num: body} -> classic-xref PDF bytes with correct offsets.
    Bodies exclude the 'n 0 obj'/'endobj' wrapper."""
    out = bytearray(_PDF_HEADER)
    offsets = {}
    for num in sorted(objects):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objects[num] + b"\nendobj\n"
    xref_pos = len(out)
    maxnum = max(objects)
    out += f"xref\n0 {maxnum + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for num in range(1, maxnum + 1):
        if num in offsets:
            out += (f"{offsets[num]:010d} 00000 n \n").encode()
        else:
            # gap numbers are FREE entries — an 'n' at offset 0 is a
            # spec-invalid table claiming a live object at the file
            # header (r5 review)
            out += b"0000000000 65535 f \n"
    out += (f"trailer\n<< /Size {maxnum + 1} /Root {root} 0 R {trailer_extra}>>\n"
            f"startxref\n{xref_pos}\n%%EOF\n").encode()
    return bytes(out)


def build_modern_pdf(objects: dict[int, bytes], root: int,
                     stream_objs: set[int]) -> bytes:
    """Modern layout: every object NOT in ``stream_objs`` is packed into a
    single compressed /ObjStm; the cross-reference is a /Type /XRef stream
    (W [1 4 2]). ``stream_objs`` (objects whose body contains a stream)
    stay at file level, as §7.5.7 requires."""
    packed = sorted(n for n in objects if n not in stream_objs)
    direct = sorted(n for n in objects if n in stream_objs)
    maxnum = max(objects)
    objstm_num, xref_num = maxnum + 1, maxnum + 2

    hdr = bytearray()
    body = bytearray()
    for num in packed:
        hdr += f"{num} {len(body)} ".encode()
        body += objects[num] + b" "
    payload = bytes(hdr) + bytes(body)
    z = zlib.compress(payload)

    out = bytearray(_PDF_HEADER)
    offsets = {}
    for num in direct:
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objects[num] + b"\nendobj\n"
    offsets[objstm_num] = len(out)
    out += (f"{objstm_num} 0 obj\n<< /Type /ObjStm /N {len(packed)} "
            f"/First {len(hdr)} /Length {len(z)} /Filter /FlateDecode "
            f">>\nstream\n".encode() + z + b"\nendstream\nendobj\n")
    xref_pos = len(out)

    rows = bytearray()

    def row(t, a, b):
        rows.append(t)
        rows.extend(int(a).to_bytes(4, "big") + int(b).to_bytes(2, "big"))

    row(0, 0, 65535)
    for num in range(1, xref_num + 1):
        if num in packed:
            row(2, objstm_num, packed.index(num))
        elif num in offsets:
            row(1, offsets[num], 0)
        elif num == xref_num:
            row(1, xref_pos, 0)
        else:
            row(0, 0, 0)
    zr = zlib.compress(bytes(rows))
    out += (f"{xref_num} 0 obj\n<< /Type /XRef /Size {xref_num + 1} "
            f"/W [1 4 2] /Index [0 {xref_num + 1}] /Root {root} 0 R "
            f"/Length {len(zr)} /Filter /FlateDecode >>\nstream\n".encode()
            + zr + b"\nendstream\nendobj\n")
    out += f"startxref\n{xref_pos}\n%%EOF\n".encode()
    return bytes(out)


# ----------------------------------------------------------- encryption

_ENC_ID0 = bytes.fromhex("537061726b47726166744964303031aa")  # fixed /ID
_ENC_O = hashlib.sha256(b"docling-parse-spark-owner").digest()  # 32 bytes
_ENC_P = -3904


def _pad32(pw: bytes) -> bytes:
    from docling_parse_spark.pdf.crypt import _PAD

    return (pw + _PAD)[:32]


def _rc4_key(nbytes: int = 16, user_password: bytes = b"",
             o_entry: bytes = _ENC_O) -> bytes:
    key = hashlib.md5(
        _pad32(user_password) + o_entry + struct.pack("<i", _ENC_P) + _ENC_ID0
    ).digest()
    for _ in range(50):
        key = hashlib.md5(key[:nbytes]).digest()
    return key[:nbytes]


def _rc4_u_entry(key: bytes) -> bytes:
    from docling_parse_spark.pdf.crypt import _PAD, rc4

    x = rc4(key, hashlib.md5(_PAD + _ENC_ID0).digest())
    for i in range(1, 20):
        x = rc4(bytes(b ^ i for b in key), x)
    return x + b"\x00" * 16


def _rc4_o_entry(owner_password: bytes, user_password: bytes,
                 nbytes: int = 16) -> bytes:
    """Algorithm 3 (§7.6.3.4): a REAL /O — the padded user password RC4-
    encrypted under the owner-password hash chain, so Algorithm 7
    recovery with the owner password works against this file."""
    from docling_parse_spark.pdf.crypt import rc4

    h = hashlib.md5(_pad32(owner_password)).digest()
    for _ in range(50):
        h = hashlib.md5(h[:nbytes]).digest()
    okey = h[:nbytes]
    x = _pad32(user_password)
    for i in range(20):
        x = rc4(bytes(b ^ i for b in okey), x)
    return x


def _rc4_objkey(key: bytes, num: int) -> bytes:
    md = hashlib.md5(key + struct.pack("<I", num)[:3] + b"\x00\x00")
    return md.digest()[: min(len(key) + 5, 16)]


def encrypt_classic_rc4(objects: dict[int, bytes], root: int,
                        stream_bodies: dict[int, bytes],
                        string_objs: dict[int, bytes] | None = None,
                        info: int | None = None,
                        user_password: bytes = b"",
                        owner_password: bytes | None = None,
                        stream_extra: dict[int, bytes] | None = None) -> bytes:
    """Classic-xref file encrypted with the /R 3 RC4-128 standard handler.
    Default: EMPTY user password and the fixed dummy /O (byte-identical to
    the pre-password-support output — the mini-corpus fixtures pin it).
    With ``user_password`` the /U entry authenticates only that password;
    with ``owner_password`` the /O entry is a REAL Algorithm 3 value so
    owner-password recovery (Algorithm 7) works. ``stream_bodies`` maps
    obj num -> the PLAIN stream body (the object's dict is rebuilt with
    the encrypted length); ``string_objs`` maps obj num -> a plain text
    string to embed as ``<< /Title (...) >>`` (encrypted as a hex
    string); ``stream_extra`` maps obj num -> extra dict entries (e.g.
    ``b"/Subtype /Image /Width 8"``) spliced into that stream's rebuilt
    dict before /Length."""
    from docling_parse_spark.pdf.crypt import rc4

    o_entry = (_rc4_o_entry(owner_password, user_password)
               if owner_password is not None else _ENC_O)
    key = _rc4_key(user_password=user_password, o_entry=o_entry)
    # the /Encrypt dict must not collide with stream/string object numbers
    # that are only introduced below (r6 property test caught max(objects))
    enc_num = max(
        max(objects),
        max(stream_bodies, default=0),
        max(string_objs or {0: None}),
    ) + 1
    objs = dict(objects)
    for num, body in stream_bodies.items():
        enc = rc4(_rc4_objkey(key, num), body)
        extra_d = (stream_extra or {}).get(num, b"")
        objs[num] = (b"<< " + (extra_d + b" " if extra_d else b"")
                     + f"/Length {len(enc)} >>\nstream\n".encode()
                     + enc + b"\nendstream")
    for num, s in (string_objs or {}).items():
        enc = rc4(_rc4_objkey(key, num), s)
        objs[num] = b"<< /Title <" + enc.hex().encode() + b"> >>"
    objs[enc_num] = (b"<< /Filter /Standard /V 2 /R 3 /Length 128 /P "
                     + str(_ENC_P).encode() + b" /O <"
                     + o_entry.hex().encode() + b"> /U <"
                     + _rc4_u_entry(key).hex().encode() + b"> >>")
    idh = "<" + _ENC_ID0.hex() + ">"
    extra = f"/Encrypt {enc_num} 0 R /ID [{idh} {idh}] "
    if info is not None:
        extra += f"/Info {info} 0 R "
    return build_classic_pdf(objs, root=root, trailer_extra=extra)


# AES-256 R6 writer constants: the /U //UE //O //OE entries depend only on
# the password pair, and Algorithm 2.B costs ~64 AES-CBC rounds — cache
# them so corpus-scale file generation pays the hash once, not per file
_AES256_CACHE: dict = {}


def _aes256_auth(user_password: bytes, owner_password: bytes):
    key = (user_password, owner_password)
    if key not in _AES256_CACHE:
        from docling_parse_spark.pdf.crypt import _hash_2b, aes_cbc_encrypt

        filekey = hashlib.sha256(b"docling-parse-spark-filekey").digest()
        vsalt, ksalt = b"VSaltEnc", b"KSaltEnc"
        u = _hash_2b(user_password, vsalt, b"") + vsalt + ksalt
        ue = aes_cbc_encrypt(_hash_2b(user_password, ksalt, b""), bytes(16), filekey)
        ovs, oks = b"OVSaltEn", b"OKSaltEn"
        o = _hash_2b(owner_password, ovs, u) + ovs + oks
        oe = aes_cbc_encrypt(_hash_2b(owner_password, oks, u), bytes(16), filekey)
        _AES256_CACHE[key] = (filekey, u, ue, o, oe)
    return _AES256_CACHE[key]


def encrypt_classic_aes256(objects: dict[int, bytes], root: int,
                           stream_bodies: dict[int, bytes],
                           string_objs: dict[int, bytes] | None = None,
                           info: int | None = None,
                           user_password: bytes = b"",
                           owner_password: bytes = b"owner") -> bytes:
    """Classic-xref file encrypted with the /R 6 AES-256 standard handler
    (ISO 32000-2): /AESV3 crypt filter, Algorithm 2.B password hashes,
    per-stream 16-byte IV + CBC + RFC 2898 padding. Same calling contract
    as :func:`encrypt_classic_rc4`. Used by the ingest throughput bench to
    exercise AES-256 decryption at corpus scale."""
    from docling_parse_spark.pdf.crypt import aes_cbc_encrypt

    filekey, u, ue, o, oe = _aes256_auth(user_password, owner_password)

    def env(num: int, data: bytes) -> bytes:
        iv = hashlib.md5(b"iv%d" % num).digest()  # deterministic output
        pad = 16 - len(data) % 16
        return iv + aes_cbc_encrypt(filekey, iv, data + bytes([pad]) * pad)

    objs = dict(objects)
    for num, body in stream_bodies.items():
        enc = env(num, body)
        objs[num] = (f"<< /Length {len(enc)} >>\nstream\n".encode()
                     + enc + b"\nendstream")
    for num, sv in (string_objs or {}).items():
        objs[num] = b"<< /Title <" + env(num, sv).hex().encode() + b"> >>"
    # objs has absorbed every stream/string key above, so its max alone
    # covers them (unlike encrypt_classic_rc4, which computes this from
    # the pre-merge dict and needs the explicit maxes — r6 review)
    enc_num = max(objs) + 1
    objs[enc_num] = (b"<< /Filter /Standard /V 5 /R 6 /Length 256 /P "
                     + str(_ENC_P).encode()
                     + b" /O <" + o.hex().encode()
                     + b"> /OE <" + oe.hex().encode()
                     + b"> /U <" + u.hex().encode()
                     + b"> /UE <" + ue.hex().encode()
                     + b"> /CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
                     + b"/StmF /StdCF /StrF /StdCF >>")
    idh = "<" + _ENC_ID0.hex() + ">"
    extra = f"/Encrypt {enc_num} 0 R /ID [{idh} {idh}] "
    if info is not None:
        extra += f"/Info {info} 0 R "
    return build_classic_pdf(objs, root=root, trailer_extra=extra)
