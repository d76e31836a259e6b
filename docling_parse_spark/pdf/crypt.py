"""Standard security handler (ISO 32000-1/-2 §7.6) — empty-user-password
decryption, from spec, stdlib only.

The reference accepts passwords through qpdf (reference
src/parse/pdf_decoders/document.h:39-43,82 passes them to
QPDF::processMemoryFile); this container has no qpdf, so the common
real-world case — /Encrypt'd web PDFs whose USER password is empty — is
implemented here from the spec:

* RC4 (40-128 bit, /V 1/2, /R 2/3) and crypt filters /V2 + /AESV2
  (/V 4, /R 4) with the Algorithm-2 MD5 key derivation and the
  Algorithm-1 per-object key (num/gen salt, +sAlT for AES).
* AES-256 (/V 5, /R 5 revision and the ISO 32000-2 /R 6 revision with
  the Algorithm-2.B iterated SHA-256/384/512 hash), file key unwrapped
  from /UE via AES-CBC.
* AES-CBC has one path per host: the system libcrypto's EVP cipher
  (loaded through ctypes) where it loads, otherwise the from-spec FIPS-197
  byte-wise blocks in a plain CBC loop. The byte-wise blocks are also the
  reference the tests hold EVP to. Encrypt is needed too, because
  Algorithm 2.B's hash loop runs AES-128-CBC in the forward direction.

Files that need a NON-empty password, use a non-/Standard handler, or an
unsupported /V raise ValueError with a clear message and surface through
the ingest path's per-file failure accounting.
"""

from __future__ import annotations

import hashlib
import struct

# --------------------------------------------------------------------- RC4


def rc4(key: bytes, data: bytes) -> bytes:
    """RC4 stream cipher (symmetric: encrypt == decrypt)."""
    S = list(range(256))
    j = 0
    for i in range(256):
        j = (j + S[i] + key[i % len(key)]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for n, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[n] = c ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


# --------------------------------------------------------------- AES (FIPS-197)

_SBOX = bytes.fromhex(
    "637c777bf26b6fc53001672bfed7ab76ca82c97dfa5947f0add4a2af9ca472c0"
    "b7fd9326363ff7cc34a5e5f171d8311504c723c31896059a071280e2eb27b275"
    "09832c1a1b6e5aa0523bd6b329e32f8453d100ed20fcb15b6acbbe394a4c58cf"
    "d0efaafb434d338545f9027f503c9fa851a3408f929d38f5bcb6da2110fff3d2"
    "cd0c13ec5f974417c4a77e3d645d197360814fdc222a908846eeb814de5e0bdb"
    "e0323a0a4906245cc2d3ac629195e479e7c8376d8dd54ea96c56f4ea657aae08"
    "ba78252e1ca6b4c6e8dd741f4bbd8b8a703eb5664803f60e613557b986c11d9e"
    "e1f8981169d98e949b1e87e9ce5528df8ca1890dbfe6426841992d0fb054bb16"
)
_INV_SBOX = bytes(256)
_inv = bytearray(256)
for _i, _v in enumerate(_SBOX):
    _inv[_v] = _i
_INV_SBOX = bytes(_inv)
del _inv, _i, _v

_RCON = [0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36,
         0x6C, 0xD8, 0xAB, 0x4D]


def _xtime(a: int) -> int:
    a <<= 1
    return (a ^ 0x1B) & 0xFF if a & 0x100 else a


_MUL = [[0] * 256 for _ in range(16)]
for _c in range(256):
    x1 = _c
    x2 = _xtime(x1)
    x4 = _xtime(x2)
    x8 = _xtime(x4)
    _MUL[1][_c] = x1
    _MUL[2][_c] = x2
    _MUL[3][_c] = x2 ^ x1
    _MUL[9][_c] = x8 ^ x1
    _MUL[11][_c] = x8 ^ x2 ^ x1
    _MUL[13][_c] = x8 ^ x4 ^ x1
    _MUL[14][_c] = x8 ^ x4 ^ x2
del _c, x1, x2, x4, x8


def _expand_key(key: bytes) -> list[list[int]]:
    nk = len(key) // 4
    if nk not in (4, 6, 8):
        raise ValueError(f"AES key must be 16/24/32 bytes, got {len(key)}")
    nr = nk + 6
    w = [list(key[4 * i : 4 * i + 4]) for i in range(nk)]
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [_SBOX[b] for b in t]
            t[0] ^= _RCON[i // nk - 1]
        elif nk > 6 and i % nk == 4:
            t = [_SBOX[b] for b in t]
        w.append([a ^ b for a, b in zip(w[i - nk], t)])
    # group into round keys of 16 bytes
    return [sum(w[4 * r : 4 * r + 4], []) for r in range(nr + 1)]


_SHIFT = [0, 5, 10, 15, 4, 9, 14, 3, 8, 13, 2, 7, 12, 1, 6, 11]
_INV_SHIFT = [0, 13, 10, 7, 4, 1, 14, 11, 8, 5, 2, 15, 12, 9, 6, 3]


def _encrypt_block(rk: list[list[int]], block: bytes) -> bytes:
    s = [b ^ k for b, k in zip(block, rk[0])]
    m2, m3 = _MUL[2], _MUL[3]
    for rnd in range(1, len(rk) - 1):
        # SubBytes + ShiftRows
        t = [_SBOX[s[_SHIFT[i]]] for i in range(16)]
        # MixColumns + AddRoundKey
        k = rk[rnd]
        s = [0] * 16
        for c in range(0, 16, 4):
            a0, a1, a2, a3 = t[c], t[c + 1], t[c + 2], t[c + 3]
            s[c] = m2[a0] ^ m3[a1] ^ a2 ^ a3 ^ k[c]
            s[c + 1] = a0 ^ m2[a1] ^ m3[a2] ^ a3 ^ k[c + 1]
            s[c + 2] = a0 ^ a1 ^ m2[a2] ^ m3[a3] ^ k[c + 2]
            s[c + 3] = m3[a0] ^ a1 ^ a2 ^ m2[a3] ^ k[c + 3]
    k = rk[-1]
    return bytes(_SBOX[s[_SHIFT[i]]] ^ k[i] for i in range(16))


def _decrypt_block(rk: list[list[int]], block: bytes) -> bytes:
    s = [b ^ k for b, k in zip(block, rk[-1])]
    m9, m11, m13, m14 = _MUL[9], _MUL[11], _MUL[13], _MUL[14]
    for rnd in range(len(rk) - 2, 0, -1):
        # InvShiftRows + InvSubBytes
        t = [_INV_SBOX[s[_INV_SHIFT[i]]] for i in range(16)]
        # AddRoundKey + InvMixColumns
        k = rk[rnd]
        t = [a ^ b for a, b in zip(t, k)]
        s = [0] * 16
        for c in range(0, 16, 4):
            a0, a1, a2, a3 = t[c], t[c + 1], t[c + 2], t[c + 3]
            s[c] = m14[a0] ^ m11[a1] ^ m13[a2] ^ m9[a3]
            s[c + 1] = m9[a0] ^ m14[a1] ^ m11[a2] ^ m13[a3]
            s[c + 2] = m13[a0] ^ m9[a1] ^ m14[a2] ^ m11[a3]
            s[c + 3] = m11[a0] ^ m13[a1] ^ m9[a2] ^ m14[a3]
    return bytes(_INV_SBOX[s[_INV_SHIFT[i]]] ^ k for i, k in zip(range(16), rk[0]))


def _pure_cbc(key: bytes, iv: bytes, data: bytes, encrypt: bool) -> bytes:
    """AES-CBC over the byte-wise blocks above, no padding: the path where
    libcrypto does not load, and the reference the EVP path is tested
    against."""
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


# ----------------------------------------------------- libcrypto AES (EVP)
# CPython's ssl module links the system libcrypto, so its EVP AES-CBC is on
# every host that has ssl. Where it loads, every AES call goes through it;
# where it does not, ``_pure_cbc`` runs instead. On one Xeon core with
# OpenSSL 3.0, EVP takes about 1.6 µs a block and the byte-wise blocks
# about 56 µs: a faster pure path would still be far behind EVP, so the
# fallback only has to be correct.

_EVP = None  # (ctypes, lib, cipher by key length) once loaded, False once loading failed


def _load_evp():
    global _EVP
    if _EVP is not None:
        return _EVP or None
    try:
        import ctypes
        import ctypes.util

        names = [ctypes.util.find_library("crypto"),
                 "libcrypto.so.3", "libcrypto.so.1.1", "libcrypto.so"]
        lib = None
        for name in names:
            if not name:
                continue
            try:
                cand = ctypes.CDLL(name)
                cand.EVP_CIPHER_CTX_new  # symbol probe
                cand.EVP_aes_128_cbc
                cand.EVP_Cipher
                lib = cand
                break
            except (OSError, AttributeError):
                continue
        if lib is None:
            _EVP = False
            return None
        c_void_p, c_int, c_char_p = ctypes.c_void_p, ctypes.c_int, ctypes.c_char_p
        lib.EVP_CIPHER_CTX_new.argtypes = []
        lib.EVP_CIPHER_CTX_new.restype = c_void_p
        lib.EVP_CIPHER_CTX_free.argtypes = [c_void_p]
        lib.EVP_CIPHER_CTX_free.restype = None
        ciphers = {}
        for n in (16, 24, 32):
            f = getattr(lib, f"EVP_aes_{8 * n}_cbc")
            f.argtypes = []
            f.restype = c_void_p
            ciphers[n] = f()
        lib.EVP_CipherInit_ex.restype = c_int
        lib.EVP_CipherInit_ex.argtypes = [c_void_p, c_void_p, c_void_p,
                                          c_char_p, c_char_p, c_int]
        lib.EVP_Cipher.restype = c_int
        lib.EVP_Cipher.argtypes = [c_void_p, c_char_p, c_char_p, ctypes.c_uint]
        _EVP = (ctypes, lib, ciphers)
    except Exception:
        _EVP = False
        return None
    return _EVP


class _EvpCbc:
    """AES-CBC without padding over one EVP context, for ``key_len``-byte
    keys and block-aligned data up to ``max_len`` bytes:
    ``with _EvpCbc(16, True, n) as cbc: cbc(key, iv, data)``. The first call
    sets the cipher and the key together and later calls only re-key, so a
    one-shot call costs one init and Algorithm 2.B keeps one context over
    its ~70 encryptions, where a fresh context per call cost more than the
    encryption itself. Calls of another key length, longer data, or every
    call when libcrypto does not load run ``_pure_cbc``."""

    __slots__ = ("key_len", "encrypt", "max_len", "lib", "ctx")

    def __init__(self, key_len: int, encrypt: bool, max_len: int):
        self.key_len, self.encrypt, self.max_len = key_len, encrypt, max_len
        self.ctx = None

    def __enter__(self):
        key_len, encrypt, max_len = self.key_len, self.encrypt, self.max_len
        evp = _load_evp()
        if evp is None or key_len not in evp[2]:
            return lambda key, iv, data: _pure_cbc(key, iv, data, encrypt)
        ctypes, lib, ciphers = evp
        cipher = ciphers[key_len]
        out = (ctypes.c_char * (max_len + 16))()
        init, run = lib.EVP_CipherInit_ex, lib.EVP_Cipher
        self.lib = lib
        ctx = self.ctx = lib.EVP_CIPHER_CTX_new()

        def cbc(key, iv, data):
            nonlocal cipher
            n = len(data)
            if ctx and n <= max_len and len(key) == key_len and len(iv) == 16:
                ok = init(ctx, cipher, None, key, iv, encrypt) == 1
                cipher = None
                # EVP_Cipher is the raw block-aligned cipher: no padding and
                # no held-back block. It returns the byte count on OpenSSL 3
                # and 1 on 1.1, so > 0 is success on both.
                if ok and run(ctx, out, data, n) > 0:
                    return out[:n]
            return _pure_cbc(key, iv, data, encrypt)

        return cbc

    def __exit__(self, *exc):
        if self.ctx:
            self.lib.EVP_CIPHER_CTX_free(self.ctx)
            self.ctx = None


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """AES-CBC encrypt, NO padding (caller aligns). Any bytes-like input;
    ctypes binds only ``bytes`` to the EVP arguments."""
    key, iv, data = bytes(key), bytes(iv), bytes(data)
    if len(data) % 16:
        raise ValueError("aes_cbc_encrypt: data not block-aligned")
    with _EvpCbc(len(key), True, len(data)) as cbc:
        return cbc(key, iv, data)


def aes_cbc_decrypt(key: bytes, iv: bytes, data: bytes, unpad: bool = True) -> bytes:
    """AES-CBC decrypt; strips the RFC 2898 padding PDF uses unless the
    caller (the /UE /OE key unwrap) asks for raw blocks. Any bytes-like
    input, as for ``aes_cbc_encrypt``."""
    key, iv, data = bytes(key), bytes(iv), bytes(data)
    if len(data) % 16 or not data:
        raise ValueError("aes_cbc_decrypt: ciphertext not block-aligned")
    with _EvpCbc(len(key), False, len(data)) as cbc:
        out = cbc(key, iv, data)
    if unpad:
        n = out[-1]
        if not 1 <= n <= 16:
            raise ValueError("aes_cbc_decrypt: invalid padding")
        out = out[:-n]
    return out


# ------------------------------------------------- standard security handler

_PAD = bytes.fromhex(
    "28bf4e5e4e758a4164004e56fffa01082e2e00b6d0683e802f0ca9fe6453697a"
)


def _as_bytes(v) -> bytes:
    if isinstance(v, bytes):
        return v
    if isinstance(v, str):
        return v.encode("latin-1", "replace")
    raise ValueError("expected a string value in /Encrypt")


def _hash_2b(password: bytes, salt: bytes, udata: bytes) -> bytes:
    """Algorithm 2.B (ISO 32000-2 §7.6.4.3.4): iterated SHA-256/384/512
    with an AES-128-CBC feedback — used by the /R 6 revision."""
    k = hashlib.sha256(password + salt + udata).digest()
    # k is 32, 48 or 64 bytes, so the longest block is 64·(|pw| + 64 + |u|)
    with _EvpCbc(16, True, 64 * (len(password) + 64 + len(udata))) as encrypt:
        i = 0
        while True:
            k1 = (password + k + udata) * 64
            e = encrypt(k[:16], k[16:32], k1)
            mod = sum(e[:16]) % 3
            k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[mod](e).digest()
            i += 1
            if i >= 64 and e[-1] <= i - 32:
                return k[:32]


def _prep_password(password) -> bytes:
    """Password argument -> bytes. ISO 32000-2 §7.6.4.3.3 prescribes
    SASLprep + UTF-8 truncated to 127 bytes for R6; the common cases
    (ASCII, already-normalized Unicode) need only the encode + truncate.
    Callers with exotic legacy encodings can pass bytes directly."""
    if password is None:
        return b""
    if isinstance(password, str):
        return password.encode("utf-8")[:127]
    return bytes(password)[:127]


def _password_candidates(password, legacy: bool) -> list[bytes]:
    """Byte encodings to try for a supplied password. R2-4 key derivation
    uses raw byte strings that pre-Unicode writers encoded as
    PDFDocEncoding/cp1252/Latin-1, so for those revisions a ``str``
    password is tried in each byte encoding as well as UTF-8 (qpdf, the
    reference's delegate, does the same dance; r6 review — a correct
    non-ASCII legacy password was otherwise rejected). R5/6 prescribe
    UTF-8, so only that encoding is tried. ``bytes`` pass through
    untouched for callers who know their exact legacy encoding."""
    if password is None:
        return [b""]
    if not isinstance(password, str):
        return [bytes(password)[:127]]
    out = [password.encode("utf-8")[:127]]
    if legacy:
        for enc in ("cp1252", "latin-1"):
            try:
                b = password.encode(enc)[:127]
            except UnicodeEncodeError:
                continue
            if b not in out:
                out.append(b)
    return out


class StandardSecurityHandler:
    """Decryptor for one file, authenticated with the supplied password
    (default: the EMPTY user password, the common web-PDF case). The
    password is tried as the USER password first, then as the OWNER
    password (Algorithm 7 recovery for R2-4, the /O validation salts for
    R5/6) — same acceptance order as qpdf, which the reference delegates
    to (document.h:39-43, docling_parse/pdf_parser.py:988,1042-1050).

    ``decrypt(data, num, gen)`` handles streams, ``decrypt_string`` strings;
    both are identity when the relevant crypt filter is /Identity."""

    def __init__(self, enc: dict, id0: bytes, password=b""):
        if str(enc.get("Filter") or "") not in ("Standard",):
            raise ValueError(
                f"unsupported security handler {enc.get('Filter')!r} "
                "(only /Standard)"
            )
        v = int(enc.get("V") or 0)
        r = int(enc.get("R") or 0)
        self.v, self.r = v, r
        # /EncryptMetadata false => the /Metadata stream is PLAINTEXT and
        # the loader must not decrypt it (§7.6.3.2; also feeds the R4 key
        # derivation below)
        self.encrypt_metadata = enc.get("EncryptMetadata") is not False
        o = _as_bytes(enc.get("O"))
        u = _as_bytes(enc.get("U"))
        p = int(enc.get("P", -1)) & 0xFFFFFFFF
        length = int(enc.get("Length") or 40)
        self.stm_cfm = self.str_cfm = {1: "V2", 2: "V2"}.get(v)
        if v in (4, 5):
            cf = enc.get("CF") if isinstance(enc.get("CF"), dict) else {}

            def cf_entry(name):
                name = str(name or "Identity")
                if name == "Identity":
                    return "Identity", None
                f = cf.get(name)
                if not isinstance(f, dict):
                    return "None", None
                return str(f.get("CFM") or "None"), f.get("Length")

            self.stm_cfm, cf_len = cf_entry(enc.get("StmF"))
            self.str_cfm, _ = cf_entry(enc.get("StrF"))
            # /V 4: the key length comes from the CRYPT FILTER's /Length
            # (ISO 32000-1 Table 25 — bytes; some writers put bits), not
            # the top-level /Length, which only applies to V 2/3 (r5
            # review: a valid AES file without top-level /Length derived
            # a 5-byte key and was rejected as password-protected).
            # AESV2 keys are 16 bytes by definition.
            if self.stm_cfm == "AESV2":
                length = 128
            elif isinstance(cf_len, (int, float)) and cf_len:
                length = int(cf_len) * 8 if cf_len <= 40 else int(cf_len)
        elif v not in (1, 2):
            raise ValueError(f"unsupported /Encrypt /V {v}")
        for cfm in (self.stm_cfm, self.str_cfm):
            if cfm not in ("V2", "AESV2", "AESV3", "Identity"):
                raise ValueError(f"unsupported crypt filter method {cfm!r}")

        pw = _prep_password(password)
        if r in (2, 3, 4):
            n = 5 if r == 2 else max(5, min(16, length // 8))

            def derive_key(padded_user_pw: bytes) -> bytes:
                # Algorithm 2 (§7.6.3.3): file key from the PADDED user pw
                md = hashlib.md5(padded_user_pw + o + struct.pack("<I", p) + id0)
                if r == 4 and not self.encrypt_metadata:
                    md.update(b"\xff\xff\xff\xff")
                key = md.digest()
                if r >= 3:
                    for _ in range(50):
                        key = hashlib.md5(key[:n]).digest()
                return key[:n]

            def user_ok(key: bytes) -> bool:
                # Algorithms 4 (R2) / 5 (R3+): recompute /U and compare
                if r == 2:
                    return rc4(key, _PAD) == u[:32]
                h = hashlib.md5(_PAD + id0).digest()
                x = rc4(key, h)
                for i in range(1, 20):
                    x = rc4(bytes(b ^ i for b in key), x)
                return x == u[:16]

            def pad32(s: bytes) -> bytes:
                return (s + _PAD)[:32]

            # Algorithm 7: the OWNER password's RC4 key decrypts /O back
            # into the padded user password, from which the file key
            # follows as usual
            def recover_user_from_owner(owner_pw: bytes) -> bytes:
                h = hashlib.md5(pad32(owner_pw)).digest()
                if r >= 3:
                    for _ in range(50):
                        h = hashlib.md5(h[:n]).digest()
                okey = h[:n]
                if r == 2:
                    return rc4(okey, o[:32])
                x = o[:32]
                for i in range(19, -1, -1):
                    x = rc4(bytes(b ^ i for b in okey), x)
                return x

            self.key = None
            for cand in _password_candidates(password, legacy=True):
                for padded in (pad32(cand), recover_user_from_owner(cand)):
                    key = derive_key(padded)
                    if user_ok(key):
                        self.key = key
                        break
                if self.key is not None:
                    break
            if self.key is None:
                raise ValueError(
                    "password-protected PDF (supplied password rejected)"
                    if pw else
                    "password-protected PDF (empty user password rejected)"
                )
        elif r in (5, 6):
            vsalt, ksalt = u[32:40], u[40:48]
            o_vsalt, o_ksalt = o[32:40], o[40:48]
            if r == 5:  # the pre-ISO Adobe revision: single SHA-256
                hash_fn = lambda p_, salt, ud: hashlib.sha256(p_ + salt + ud).digest()  # noqa: E731
            else:
                hash_fn = _hash_2b
            ikey = ek = None
            if hash_fn(pw, vsalt, b"") == u[:32]:  # user (Algorithm 2.A)
                ikey = hash_fn(pw, ksalt, b"")
                ek = _as_bytes(enc.get("UE"))
            elif hash_fn(pw, o_vsalt, u[:48]) == o[:32]:  # owner
                ikey = hash_fn(pw, o_ksalt, u[:48])
                ek = _as_bytes(enc.get("OE"))
            if ikey is None:
                raise ValueError(
                    "password-protected PDF (supplied password rejected)"
                    if pw else
                    "password-protected PDF (empty user password rejected)"
                )
            self.key = aes_cbc_decrypt(ikey, bytes(16), ek[:32], unpad=False)
        else:
            raise ValueError(f"unsupported /Encrypt /R {r}")

    def _object_key(self, num: int, gen: int, aes: bool) -> bytes:
        if self.v == 5:
            return self.key  # AES-256: the file key is used directly
        md = hashlib.md5(
            self.key
            + struct.pack("<I", num)[:3]
            + struct.pack("<I", gen)[:2]
            + (b"sAlT" if aes else b"")
        )
        return md.digest()[: min(len(self.key) + 5, 16)]

    def _apply(self, cfm: str, data: bytes, num: int, gen: int) -> bytes:
        if cfm == "Identity" or not data:
            return data
        if cfm == "V2":
            return rc4(self._object_key(num, gen, aes=False), data)
        # AESV2/AESV3: 16-byte IV prefix + CBC + RFC 2898 padding
        if len(data) < 32 or len(data) % 16:
            raise ValueError("AES-encrypted data malformed (IV + blocks)")
        key = self._object_key(num, gen, aes=True)
        return aes_cbc_decrypt(key, data[:16], data[16:])

    def decrypt(self, data: bytes, num: int, gen: int) -> bytes:
        """Decrypt a stream body (NOT XRef/ObjStm-contained — callers skip
        those per §7.5.8.2 / §7.5.7)."""
        return self._apply(self.stm_cfm, data, num, gen)

    def decrypt_string(self, data: bytes, num: int, gen: int) -> bytes:
        return self._apply(self.str_cfm, data, num, gen)
