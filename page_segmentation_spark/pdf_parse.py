"""Deterministic PDF -> text-block parser (shared core, stdlib-only).

The north-star input is "HTML (and PDF byte streams)": this module is the
PDF twin of :mod:`page_segmentation_spark.html_parse` — the second decode
front-end feeding the same node contract (the reference analogously
decodes multiple image formats through one loader,
``DatasetLoader.load_images``, reference lib/dataset.py:160-191).  The
SAME function is called by the single-node oracle and the Spark parse
stage (via :mod:`page_segmentation_spark.page_parse`), so extracted text
is byte-identical by construction.

Scope (documented, honest): minimal text extraction for text-op PDFs —

  * object streams: raw and ``/FlateDecode`` (zlib, stdlib); compressed
    object streams (``/Type /ObjStm``) are unpacked so dictionaries
    stored inside them (fonts, resources) stay resolvable;
  * ``/Length``: direct, or indirect (``6 0 R``) resolved through the
    object map, else the endstream scan;
  * text blocks: every ``BT .. ET`` segment becomes one node, in byte
    order of the content streams (the 1-D reading order of this engine);
  * show ops: literal ``( .. )`` strings (with escape + octal handling)
    and hex ``< .. >`` strings, concatenated per segment (covers
    Tj / ' / " / TJ arrays);
  * CID fonts: fonts carrying a ``/ToUnicode`` CMap (bfchar + bfrange,
    itself raw or Flate) have their show-op bytes decoded as 2-byte CIDs
    through the CMap — the common shape of real-crawl PDFs;
  * font state: ``Tf`` PERSISTS across text objects and content streams
    (PDF graphics state), so a document that sets the font once does not
    tag later blocks as size 0.0;
  * tag: from the font size active at the segment's first show op:
    >= 18 -> h1, >= 13.5 -> h2, else p — the structural analog of DOM
    block tags;
  * link chars: PDFs have no inline anchors (hyperlinks live in /Annots
    geometry, which a 1-D node model cannot represent) — link density
    comes from URL-shaped tokens in the visible text, a deterministic,
    content-based heuristic.

Object resolution is XREF-DRIVEN with a regex fallback: the trailer's
``startxref`` is followed to a classic xref table or an xref stream
(``/Type /XRef`` — /W field widths, /Index subsections, FlateDecode,
PNG Up/Sub/None row predictors, /Prev incremental-update chains), and
xref-resolved bodies OVERLAY the ``N 0 obj .. endobj`` regex scan — so a
binary stream payload containing the byte string ``endobj`` no longer
corrupts the object map when the file carries a valid xref (the regex
scan remains the fallback for xref-less or damaged files, and content
extraction itself never depends on the object map).  Content inside
``/Subtype /Form`` XObjects is walked INLINE at each ``/Name Do``
invocation site (recursion bounded, cycles guarded), with the carried
font state flowing in and out — the standard real-crawl shape where
letterhead/body live in form XObjects.  ENCRYPTED files with the
standard security handler in its RC4 forms (/V 1-2, /R 2-3), its
AES-128-CBC form (/V 4 /CFM /AESV2, R 4), AND its AES-256-CBC form
(/V 5 /CFM /AESV3, R 5-6 — ISO 32000-2 Algorithms 2.A/2.B) with an
empty user password — the ubiquitous "owner-locked" crawl PDF — are
decrypted per object (RC4/AESV2 file key from /O,/P,/ID per ISO
32000-1; AESV3 file key by validating /U's salts and decrypting /UE;
see the crypt section below).  /EncryptMetadata false (R>=4) feeds the
Algorithm-2 FF FF FF FF suffix; a non-/StdCF /StmF degrades to
no-decryption rather than emitting wrongly-keyed text.  CID fonts
WITHOUT /ToUnicode decode under /Identity-H by reversing the embedded
FontFile2 TrueType ``cmap`` table (formats 4 and 12; /CIDToGIDMap as
/Identity or a u16 stream) — see :func:`parse_ttf_cmap` — and under
NON-Identity encodings when the /Encoding is an EMBEDDED CMap stream
(code -> CID via cidrange/cidchar, 2-byte code spaces; see
:func:`parse_cid_cmap`), composed with the same CID -> unicode chain.
SIMPLE fonts with a CFF program (/FontFile3 /Subtype /Type1C) decode
their 1-byte codes through the CFF naming tables (charset + built-in
or custom Encoding + standard strings / String INDEX -> AGL-style
glyph-name-to-unicode; see :func:`parse_cff_charmap`), with the font
dict's /Encoding /Differences array overlaid.  Anything outside this
scope (PREDEFINED named CMaps like /GBK-EUC-H, CID-keyed CFF, Type1
/FontFile eexec program internals — though their /Differences arrays
DO decode over the ASCII base) parses to
whatever text ops are visible — never an error (malformed inputs must
not fail a batch, same contract as parse_html).
"""

from __future__ import annotations

import bisect
import re
import zlib
from typing import Any, Dict, List, Optional, Tuple

from page_segmentation_spark.html_parse import text_stats

_STREAM_RE = re.compile(rb"<<(.*?)>>\s*stream\r?\n", re.S)


_DICT_TOK_RE = re.compile(rb"<<|>>")


def _own_dict(d: bytes) -> bytes:
    """The stream's OWN dictionary content from a _STREAM_RE capture.

    The non-greedy ``<<(.*?)>>\\s*stream`` match opens at the FIRST
    ``<<`` before the stream keyword, which may belong to an EARLIER
    object (e.g. a page dictionary whose /Resources mention /XObject) —
    interpreting that junk prefix as the stream's dict mis-classifies
    the stream.  A balanced ``<< >>`` scan finds the last opening that
    never re-closes inside the capture: everything after it is the
    stream's own dict (the whole capture when it is already clean)."""
    depth = 0
    start = -1
    for m in _DICT_TOK_RE.finditer(d):
        if m.group() == b"<<":
            if depth == 0:
                start = m.start()
            depth += 1
        else:
            depth = max(0, depth - 1)
    if depth == 0 or start < 0:
        return d
    return d[start + 2:]
_BT_OPEN_RE = re.compile(rb"\bBT\b")
# hop targets while scanning for a segment's closing ET: the operator
# itself, a literal-string open, or a hex-string/dict open
_ET_HOP_RE = re.compile(rb"\bET\b|[(<]")


def _bt_segments(stream: bytes) -> List[Tuple[int, int, bytes]]:
    """(start, end, body) for every ``BT .. ET`` text object, where the
    closing ET is the first one OUTSIDE string arguments — a show
    string containing the bare word ET (``(ET) Tj``) no longer
    terminates the segment the way a non-greedy ``BT(.*?)ET`` regex
    did.  The scan hops C-level between string opens (skipped with the
    literal decoder / a hex find) and ET tokens, so cost stays one
    search per show string.  An unterminated BT drops, as before."""
    out: List[Tuple[int, int, bytes]] = []
    pos = 0
    n = len(stream)
    while True:
        mb = _BT_OPEN_RE.search(stream, pos)
        if mb is None:
            return out
        i = mb.end()
        et = -1
        while i < n:
            mh = _ET_HOP_RE.search(stream, i)
            if mh is None:
                break
            c = stream[mh.start()]
            if c == 0x28:  # ( literal string: skip via the decoder
                _raw, i = _decode_literal(stream, mh.start())
            elif c == 0x3C:  # <hex string> or << dict >>
                if stream[mh.start() + 1: mh.start() + 2] == b"<":
                    i = mh.start() + 2
                else:
                    j = stream.find(b">", mh.start() + 1)
                    i = n if j < 0 else j + 1
            else:
                et = mh.start()
                break
        if et < 0:
            return out  # unterminated BT: dropped, matching the old re
        out.append((mb.start(), et + 2, stream[mb.end(): et]))
        pos = et + 2
_TF_RE = re.compile(rb"/([A-Za-z0-9]+)\s+([0-9]+(?:\.[0-9]+)?)\s+Tf")
_OBJ_RE = re.compile(rb"(\d+)\s+0\s+obj\b(.*?)\bendobj", re.S)
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?!\s+\d+\s+R)")
_LENGTH_REF_RE = re.compile(rb"/Length\s+(\d+)\s+0\s+R")
_INT_RE = re.compile(rb"^\s*(\d+)\s*$")

_ESCAPES = {
    b"n"[0]: b"\n",
    b"r"[0]: b"\r",
    b"t"[0]: b"\t",
    b"b"[0]: b"\b",
    b"f"[0]: b"\f",
    b"("[0]: b"(",
    b")"[0]: b")",
    b"\\"[0]: b"\\",
}


# -- encryption: standard security handler ------------------------------
#    RC4 (V 1/2, R 2/3) and AES-128-CBC (V 4 /CFM /AESV2, R 4)
#
# The common crawl shape is the "owner-locked" PDF: encrypted with an
# EMPTY user password (opens for everyone; the password only gates
# editing).  Algorithms 2 and 7.6.2 of the public PDF 1.7 spec (ISO
# 32000-1): file key = md5(pad || /O || /P || /ID[0]) (R >= 3: 50 md5
# folds), per-object key = md5(file key || objnum_le3 || gen_le2),
# with the AESV2 salt b"sAlT" appended for AES objects.  AESV2
# payloads are IV(16) || AES-128-CBC ciphertext with PKCS#7 padding;
# the inverse cipher below is numpy-VECTORIZED ACROSS BLOCKS (CBC
# decryption is embarrassingly parallel: every block decrypts
# independently, then XORs with the previous ciphertext block), so
# cost per byte is a handful of table lookups, not a Python loop.
# AES-256 (/V 5 /CFM /AESV3, R 5-6) follows ISO 32000-2: the empty
# user password is validated against /U's hash+salts (Algorithm 2.B's
# iterated SHA-256/384/512 for R 6, single SHA-256 for the draft R 5)
# and the 32-byte file key comes from AES-256-CBC-decrypting /UE under
# the intermediate key — objects then decrypt with the FILE key
# directly (no per-object md5).  Non-empty USER passwords are
# supported end-to-end (build_decryptor(password=...), threaded from
# ExtractSettings.pdf_password); every candidate key validates against
# /U before use, so unopenable files degrade to the
# whatever-is-visible contract instead of emitting wrongly-keyed text.

_CRYPT_PAD = bytes((
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E,
    0x56, 0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68,
    0x3E, 0x80, 0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
))
_ENCRYPT_REF_RE = re.compile(rb"/Encrypt\s+(\d+)\s+0\s+R")
_ID_FIRST_HEX_RE = re.compile(rb"/ID\s*\[\s*<([0-9A-Fa-f]*)>")


def _rc4(key: bytes, data: bytes) -> bytes:
    """RC4 stream cipher (symmetric: encrypt == decrypt)."""
    S = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + S[i] + key[i % klen]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for n, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[n] = c ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


def _aes_tables():
    """AES S-box + inverse, built per FIPS-197 §5.1.1 from GF(2^8)
    exp/log tables (generator 0x03) — constructed, not transcribed, so
    the FIPS-197 known-answer test in tests/test_pdf_crypt.py pins the
    whole derivation, not just 256 copied literals."""
    exp = [0] * 255
    log = [0] * 256
    x = 1
    for i in range(255):
        exp[i] = x
        log[x] = i
        x ^= ((x << 1) ^ (0x1B if x & 0x80 else 0)) & 0xFF  # x *= 0x03
    sbox = bytearray(256)
    for v in range(256):
        s = exp[(255 - log[v]) % 255] if v else 0  # mult. inverse
        r = s
        for _ in range(4):  # affine transform: b ^ rot1..rot4 ^ 0x63
            s = ((s << 1) | (s >> 7)) & 0xFF
            r ^= s
        sbox[v] = r ^ 0x63
    inv = bytearray(256)
    for i, s in enumerate(sbox):
        inv[s] = i
    return bytes(sbox), bytes(inv)


_AES_SBOX, _AES_INV_SBOX = _aes_tables()


def _gf_mul(a: int, b: int) -> int:
    """GF(2^8) multiply, AES polynomial 0x11B (peasant algorithm)."""
    p = 0
    while b:
        if b & 1:
            p ^= a
        a = ((a << 1) ^ (0x1B if a & 0x80 else 0)) & 0xFF
        b >>= 1
    return p


def _aes_round_keys(key: bytes) -> List[bytes]:
    """AES key expansion (FIPS-197 §5.2) for Nk=4 (AES-128, 11 round
    keys) or Nk=8 (AES-256, 15 round keys): words laid out in column
    order (flat index = 4*col + row — the same layout the block
    functions use for the state).  AES-256 adds the schedule's extra
    SubWord at ``i % Nk == 4`` (no RotWord, no rcon)."""
    nk = len(key) // 4
    nr = nk + 6
    words = [key[i: i + 4] for i in range(0, len(key), 4)]
    rcon = 1
    for i in range(nk, 4 * (nr + 1)):
        t = words[i - 1]
        if i % nk == 0:
            t = bytes(
                (
                    _AES_SBOX[t[1]] ^ rcon,
                    _AES_SBOX[t[2]],
                    _AES_SBOX[t[3]],
                    _AES_SBOX[t[0]],
                )
            )
            rcon = ((rcon << 1) ^ (0x1B if rcon & 0x80 else 0)) & 0xFF
        elif nk > 6 and i % nk == 4:
            t = bytes(_AES_SBOX[x] for x in t)
        words.append(bytes(a ^ b for a, b in zip(words[i - nk], t)))
    return [b"".join(words[4 * r: 4 * r + 4]) for r in range(nr + 1)]


# InvShiftRows on the flat column-major state (index 4*col + row):
# row r rotates RIGHT by r, so new[4c+r] = old[4*((c-r) % 4) + r].
_AES_INV_SHIFT = tuple(
    4 * ((c - r) % 4) + r for c in range(4) for r in range(4)
)


def _aes_cbc_core(key: bytes, iv: bytes, ct: bytes) -> bytes:
    """AES-CBC decrypt of whole blocks (128- or 256-bit key by key
    length), NO padding strip.  Vectorized across blocks with numpy:
    the state is an (n_blocks, 16) uint8 matrix; SubBytes is one
    fancy-index lookup, ShiftRows a column permutation, AddRoundKey a
    broadcast XOR, and InvMixColumns twelve 256-entry table lookups —
    every round touches ALL blocks at once, so per-byte cost is table
    lookups, not Python bytecode."""
    import numpy as np

    rks = [
        np.frombuffer(rk, dtype=np.uint8) for rk in _aes_round_keys(key)
    ]
    n_r = len(rks) - 1
    inv_sbox = np.frombuffer(_AES_INV_SBOX, dtype=np.uint8)
    mul = {
        m: np.array([_gf_mul(v, m) for v in range(256)], dtype=np.uint8)
        for m in (9, 11, 13, 14)
    }
    state = (
        np.frombuffer(ct, dtype=np.uint8).reshape(-1, 16).copy()
    )
    state ^= rks[n_r]
    perm = np.array(_AES_INV_SHIFT)
    for rnd in range(n_r - 1, 0, -1):
        state = state[:, perm]          # InvShiftRows
        state = inv_sbox[state]         # InvSubBytes
        state ^= rks[rnd]               # AddRoundKey
        cols = state.reshape(-1, 4, 4)  # [block, col, row]
        a0, a1, a2, a3 = (cols[:, :, r].copy() for r in range(4))
        cols[:, :, 0] = mul[14][a0] ^ mul[11][a1] ^ mul[13][a2] ^ mul[9][a3]
        cols[:, :, 1] = mul[9][a0] ^ mul[14][a1] ^ mul[11][a2] ^ mul[13][a3]
        cols[:, :, 2] = mul[13][a0] ^ mul[9][a1] ^ mul[14][a2] ^ mul[11][a3]
        cols[:, :, 3] = mul[11][a0] ^ mul[13][a1] ^ mul[9][a2] ^ mul[14][a3]
    state = inv_sbox[state[:, perm]] ^ rks[0]
    # CBC chaining: plaintext[i] = D(ct[i]) ^ ct[i-1], ct[-1] = IV —
    # one vectorized XOR against the shifted ciphertext matrix
    prev = np.vstack(
        (
            np.frombuffer(iv, dtype=np.uint8)[None, :],
            np.frombuffer(ct, dtype=np.uint8).reshape(-1, 16)[:-1],
        )
    )
    return (state ^ prev).tobytes()


def _aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """AES-CBC decrypt of an AESV2/AESV3 payload (IV = data[:16]),
    PKCS#7 padding stripped.  Malformed payloads (short, ragged, bad
    padding) return unchanged/unpadded bytes: parse degrades, never
    raises."""
    if len(data) < 32 or (len(data) - 16) % 16:
        return data  # not an AESV2/V3 shape — degrade, don't raise
    plain = _aes_cbc_core(key, data[:16], data[16:])
    pad = plain[-1]
    if 1 <= pad <= 16:
        return plain[:-pad]
    return plain  # bad padding: degrade


# forward cipher — needed ONLY by the /R 6 password hash (Algorithm
# 2.B's inner AES-128-CBC encryption); per-object decryption stays on
# the vectorized inverse above.  CBC ENcryption is inherently
# sequential across blocks, and 2.B runs it over ~64 repetitions of a
# <=96-byte unit for >=64 iterations — a bounded ONE-TIME per-file
# cost, so a scalar Python block here is fine.

#: GF(2^8) x2 / x3 tables for the forward MixColumns — the 2.B hash
#: encrypts ~10^4 blocks per file, so the peasant-loop _gf_mul must not
#: sit in that hot path (the inverse cipher already tables its mults).
_AES_MUL2 = bytes(_gf_mul(x, 2) for x in range(256))
_AES_MUL3 = bytes(_gf_mul(x, 3) for x in range(256))
#: SubBytes+ShiftRows fused index: after SubBytes the flat state index
#: 4*col+row moves to 4*((col+row)%4)+row.
_AES_FWD_SHIFT = tuple(
    4 * ((c + r) % 4) + r for c in range(4) for r in range(4)
)


def _aes_encrypt_block(rks: List[bytes], block: bytes) -> bytes:
    """Forward cipher, one block.  Hot path of the 2.B password hash
    (~10^4 sequential blocks per file): SubBytes is a C-speed
    bytes.translate, AddRoundKey a 128-bit int XOR, MixColumns two
    whole-state GF translates + 16 byte combines.  ``rks`` are the
    round keys as 128-bit ints (hoisted by the CBC loop)."""
    rkis = rks
    s = (int.from_bytes(block, "big") ^ rkis[0]).to_bytes(16, "big")
    n_r = len(rkis) - 1
    m2t, m3t, shift = _AES_MUL2, _AES_MUL3, _AES_FWD_SHIFT
    for rnd in range(1, n_r + 1):
        sub = s.translate(_AES_SBOX)
        s = bytes(map(sub.__getitem__, shift))  # ShiftRows
        if rnd < n_r:  # MixColumns
            t2 = s.translate(m2t)
            t3 = s.translate(m3t)
            s = bytes(
                (
                    t2[0] ^ t3[1] ^ s[2] ^ s[3],
                    s[0] ^ t2[1] ^ t3[2] ^ s[3],
                    s[0] ^ s[1] ^ t2[2] ^ t3[3],
                    t3[0] ^ s[1] ^ s[2] ^ t2[3],
                    t2[4] ^ t3[5] ^ s[6] ^ s[7],
                    s[4] ^ t2[5] ^ t3[6] ^ s[7],
                    s[4] ^ s[5] ^ t2[6] ^ t3[7],
                    t3[4] ^ s[5] ^ s[6] ^ t2[7],
                    t2[8] ^ t3[9] ^ s[10] ^ s[11],
                    s[8] ^ t2[9] ^ t3[10] ^ s[11],
                    s[8] ^ s[9] ^ t2[10] ^ t3[11],
                    t3[8] ^ s[9] ^ s[10] ^ t2[11],
                    t2[12] ^ t3[13] ^ s[14] ^ s[15],
                    s[12] ^ t2[13] ^ t3[14] ^ s[15],
                    s[12] ^ s[13] ^ t2[14] ^ t3[15],
                    t3[12] ^ s[13] ^ s[14] ^ t2[15],
                )
            )
        s = (int.from_bytes(s, "big") ^ rkis[rnd]).to_bytes(16, "big")
    return s


def _aes_cbc_encrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    """AES-CBC encrypt of whole blocks (no padding) — the 2.B hash's
    inner step; ``data`` length must be a block multiple (2.B's 64x
    repetition guarantees it)."""
    rkis = [int.from_bytes(rk, "big") for rk in _aes_round_keys(key)]
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        x = int.from_bytes(data[i: i + 16], "big") ^ int.from_bytes(
            prev, "big"
        )
        prev = _aes_encrypt_block(rkis, x.to_bytes(16, "big"))
        out += prev
    return bytes(out)


def _hash_2b(pwd: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B (the /R 6 password hash): an iterated
    SHA-256/384/512 loop whose round digest is selected by the first 16
    bytes of an AES-128-CBC encryption of 64 repetitions of
    (password || K || udata), terminating once >= 64 rounds have run
    AND the encryption's last byte <= round - 32."""
    import hashlib

    k = hashlib.sha256(pwd + salt + udata).digest()
    i = 0
    while True:
        k1 = (pwd + k + udata) * 64
        e = _aes_cbc_encrypt_nopad(k[:16], k[16:32], k1)
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[
            sum(e[:16]) % 3
        ](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


class _Decryptor:
    """Per-object decryption around a computed file key: RC4 keystream
    for /V 1-2 handlers, AES-128-CBC for /V 4 /CFM /AESV2 (the per-
    object key gains the spec's b"sAlT" suffix and payloads carry a
    16-byte IV prefix + PKCS#7 padding), AES-256-CBC for /V 5 /CFM
    /AESV3 — where the 32-byte FILE key is used directly (ISO 32000-2
    dropped the per-object md5 derivation)."""

    __slots__ = ("key", "aes", "v5")

    def __init__(self, key: bytes, aes: bool = False, v5: bool = False) -> None:
        self.key = key
        self.aes = aes
        self.v5 = v5

    def decrypt(self, onum: int, payload: bytes) -> bytes:
        import hashlib

        if self.v5:
            return _aes_cbc_decrypt(self.key, payload)
        salt = b"sAlT" if self.aes else b""
        h = hashlib.md5(
            self.key + onum.to_bytes(3, "little") + b"\x00\x00" + salt
        ).digest()
        okey = h[: min(len(self.key) + 5, 16)]
        if self.aes:
            return _aes_cbc_decrypt(okey, payload)
        return _rc4(okey, payload)


def _dict_string(body: bytes, name: bytes) -> Optional[bytes]:
    """Value of a string entry (``/O (...)`` literal or ``/O <hex>``)."""
    k = body.find(name)
    if k < 0:
        return None
    i = k + len(name)
    n = len(body)
    while i < n and body[i] in b" \r\n\t":
        i += 1
    if i >= n:
        return None
    if body[i] == 0x28:  # (
        raw, _end = _decode_literal(body, i)
        return raw
    if body[i] == 0x3C:  # <
        j = body.find(b">", i)
        if j < 0:
            return None
        try:
            return bytes.fromhex(body[i + 1: j].decode("ascii"))
        except ValueError:
            return None
    return None


def _dict_int(body: bytes, name: bytes) -> Optional[int]:
    m = re.search(re.escape(name) + rb"\s+(-?\d+)", body)
    return int(m.group(1)) if m else None


def _check_user_key(key: bytes, r: int, id0: bytes, u: bytes) -> bool:
    """ISO 32000-1 Algorithm 6: validate a candidate file key against
    /U.  R 2 compares the full RC4(pad); R >= 3 compares the first 16
    bytes of the iterated-RC4 chain over md5(pad || /ID[0])."""
    import hashlib

    if r == 2:
        return _rc4(key, _CRYPT_PAD) == u[:32]
    enc = _rc4(key, hashlib.md5(_CRYPT_PAD + id0).digest())
    for i in range(1, 20):
        enc = _rc4(bytes(b ^ i for b in key), enc)
    return enc == u[:16]


def build_decryptor(
    data: bytes, password: bytes = b""
) -> Optional[_Decryptor]:
    """File decryptor from the trailer's /Encrypt dict, or None when the
    file is unencrypted or uses an unsupported handler.  Uses its own
    raw object scan: the spec forbids storing the encrypt dict inside an
    object stream, and its own strings are never encrypted.

    ``password`` is the USER password; the empty password (the
    "owner-locked" crawl shape) is always tried as a fallback, so a
    wrong supplied password still opens empty-password files.  When /U
    is present, every candidate key is VALIDATED against it (Algorithm
    6 for RC4/AES-128, the salt hashes for AES-256) and a file no
    candidate validates degrades to None — visible ops only, never
    silently garbled text from a wrong key."""
    enc_ref = None
    for m in _ENCRYPT_REF_RE.finditer(data):
        enc_ref = m  # last wins (incremental updates append trailers)
    if enc_ref is None:
        return None
    onum = int(enc_ref.group(1))
    body = None
    for m in _OBJ_RE.finditer(data):
        if int(m.group(1)) == onum:
            body = m.group(2)
    if body is None or b"/Standard" not in body:
        return None
    import hashlib

    v = _dict_int(body, b"/V") or 0
    r = _dict_int(body, b"/R") or 0
    # /StmF selects the stream crypt filter: absent defaults to the
    # standard one; /Identity means streams are NOT encrypted (return
    # None = parse without decryption, which is exactly right); any
    # other named filter is a custom handler we cannot honor — degrade
    # rather than decrypt with a wrong key and emit silently garbled
    # text.
    m_stmf = re.search(rb"/StmF\s*/([A-Za-z0-9.]+)", body)
    if m_stmf is not None and m_stmf.group(1) != b"StdCF":
        return None
    if v == 5 and r in (5, 6):
        # AES-256 (ISO 32000-2 /CFM /AESV3), empty user password:
        # /U = hash(32) || validation salt(8) || key salt(8); the file
        # key decrypts /UE under the intermediate key (Algorithm 2.A).
        if b"/AESV3" not in body:
            return None
        u = _dict_string(body, b"/U")
        ue = _dict_string(body, b"/UE")
        if u is None or len(u) < 48 or ue is None or len(ue) < 32:
            return None
        vsalt, ksalt = u[32:40], u[40:48]
        candidates = [password[:127]]
        if password:
            candidates.append(b"")
        for pwd in candidates:
            if r == 6:
                if _hash_2b(pwd, vsalt) != u[:32]:
                    continue
                ikey = _hash_2b(pwd, ksalt)
            else:  # R 5 (the pre-ISO AESV3 draft): single SHA-256
                if hashlib.sha256(pwd + vsalt).digest() != u[:32]:
                    continue
                ikey = hashlib.sha256(pwd + ksalt).digest()
            file_key = _aes_cbc_core(ikey, bytes(16), ue[:32])
            return _Decryptor(file_key, aes=True, v5=True)
        return None  # no candidate password validates: degrade
    aes = v == 4 and b"/AESV2" in body
    if not aes and (v not in (1, 2) or r not in (2, 3)):
        return None  # newer/unknown handlers: out of scope
    o = _dict_string(body, b"/O")
    p = _dict_int(body, b"/P")
    if o is None or len(o) < 32 or p is None:
        return None
    nbits = 128 if aes else (_dict_int(body, b"/Length") or 40)
    id0 = _first_file_id(data)
    u = _dict_string(body, b"/U")
    meta_suffix = bool(
        r >= 4 and re.search(rb"/EncryptMetadata\s+false", body)
    )
    n = nbits // 8 if r >= 3 else 5
    n = max(5, min(n, 16))
    candidates = [password]
    if password:
        candidates.append(b"")
    fallback = None
    for pwd in candidates:
        h = hashlib.md5()
        h.update((pwd + _CRYPT_PAD)[:32])  # Algorithm 2 padded password
        h.update(o[:32])
        h.update((p & 0xFFFFFFFF).to_bytes(4, "little"))
        h.update(id0)
        if meta_suffix:
            # Algorithm 2 step f: unencrypted metadata appends FFFFFFFF
            h.update(b"\xff\xff\xff\xff")
        key = h.digest()
        if r >= 3:
            for _ in range(50):
                key = hashlib.md5(key[:n]).digest()
        if u is not None and len(u) >= (32 if r == 2 else 16):
            if _check_user_key(key[:n], r, id0, u):
                return _Decryptor(key[:n], aes=aes)
        elif fallback is None:
            # no checkable /U: trust the first candidate (legacy files)
            fallback = _Decryptor(key[:n], aes=aes)
    return fallback  # validation failed on every candidate: degrade


def _first_file_id(data: bytes) -> bytes:
    """First element of the trailer /ID array — hex (``<...>``) OR
    literal-string (``(...)``) form; a literal /ID was previously
    dropped to b'', deriving a wrong file key (silently garbled
    output)."""
    m = re.search(rb"/ID\s*\[\s*", data)
    if m is None:
        return b""
    i = m.end()
    if i < len(data) and data[i] == 0x28:  # (
        raw, _end = _decode_literal(data, i)
        return raw
    m_hex = _ID_FIRST_HEX_RE.search(data)
    if m_hex:
        try:
            return bytes.fromhex(m_hex.group(1).decode("ascii"))
        except ValueError:
            return b""
    return b""


_LITERAL_SPECIAL_RE = re.compile(rb"[\\()]")


def _decode_literal(data: bytes, i: int) -> Tuple[bytes, int]:
    """Decode a PDF literal string starting at data[i] == '('; returns
    (raw bytes, index just past the closing paren).  Handles escapes,
    octal codes, and balanced nested parens.

    Fast path: a string with no backslash and no nested paren before its
    closing paren IS its byte slice (the overwhelmingly common show-op
    shape) — one find + one slice instead of a per-byte loop.  The slow
    path copies plain runs between special bytes in slices, so cost
    scales with the number of escapes, not string length."""
    n = len(data)
    j = data.find(b")", i + 1)
    seg = data[i + 1: j] if j >= 0 else data[i + 1:]
    if b"\\" not in seg and b"(" not in seg:
        return seg, (j + 1) if j >= 0 else n
    out: List[bytes] = []
    depth = 1
    i += 1
    while i < n and depth > 0:
        m = _LITERAL_SPECIAL_RE.search(data, i)
        if m is None:
            out.append(data[i:])
            i = n
            break
        if m.start() > i:
            out.append(data[i: m.start()])
            i = m.start()
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = data[i]
            if 0x30 <= e <= 0x37:  # octal \d{1,3}
                oct_digits = [e]
                for _ in range(2):
                    if i + 1 < n and 0x30 <= data[i + 1] <= 0x37:
                        i += 1
                        oct_digits.append(data[i])
                out.append(bytes([int(bytes(oct_digits), 8) & 0xFF]))
            elif e in (0x0A, 0x0D):  # line continuation
                if e == 0x0D and i + 1 < n and data[i + 1] == 0x0A:
                    i += 1
            else:
                out.append(_ESCAPES.get(e, bytes([e])))
            i += 1
        elif c == 0x28:  # (
            depth += 1
            out.append(b"(")
            i += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth > 0:
                out.append(b")")
            i += 1
        else:
            out.append(bytes([c]))
            i += 1
    return b"".join(out), i


def _decode_hex(data: bytes, i: int) -> Tuple[bytes, int]:
    """Decode a hex string starting at data[i] == '<' to raw bytes."""
    j = data.find(b">", i)
    if j < 0:
        return b"", len(data)
    hexdigits = bytes(
        ch for ch in data[i + 1: j] if ch not in b" \t\r\n"
    )
    if len(hexdigits) % 2:
        hexdigits += b"0"
    try:
        return bytes.fromhex(hexdigits.decode("ascii")), j + 1
    except ValueError:
        return b"", j + 1


def _slice_payload(
    data: bytes, start: int, dict_bytes: bytes,
    objects: Optional[Dict[int, bytes]] = None,
) -> Optional[bytes]:
    """Slice a stream payload starting at ``start`` (just past the
    ``stream`` keyword + EOL).  A direct or object-resolved ``/Length``
    slices exactly — trimming trailing newlines heuristically corrupts
    compressed payloads whose last bytes happen to be 0x0a/0x0d.
    Fallback: endstream scan."""
    ln = None
    mlen = _LENGTH_RE.search(dict_bytes)
    if mlen:
        ln = int(mlen.group(1))
    elif objects is not None:
        mref = _LENGTH_REF_RE.search(dict_bytes)
        if mref:
            body = objects.get(int(mref.group(1)))
            if body is not None:
                mint = _INT_RE.match(body)
                if mint:
                    ln = int(mint.group(1))
    if ln is not None:
        if data[start + ln: start + ln + 16].lstrip(b"\r\n ").startswith(
            b"endstream"
        ):
            return data[start: start + ln]
    end = data.find(b"endstream", start)
    if end < 0:
        return None
    return data[start:end].rstrip(b"\r\n")


def _maybe_inflate(payload: bytes, dict_bytes: bytes) -> Optional[bytes]:
    if b"/FlateDecode" in dict_bytes:
        try:
            return zlib.decompress(payload)
        except zlib.error:
            return None
    return payload


def _object_stream_payload(
    body: bytes,
    objects: Optional[Dict[int, bytes]] = None,
    dec: Optional["_Decryptor"] = None,
    onum: Optional[int] = None,
) -> Optional[bytes]:
    """Decoded stream payload of one object body, or None.  Decryption
    (when the file carries a supported /Encrypt handler) happens between
    slicing and inflation — RC4 wraps the compressed bytes."""
    m = _STREAM_RE.search(body)
    if not m:
        return None
    d = _own_dict(m.group(1))
    payload = _slice_payload(body, m.end(), d, objects)
    if payload is None:
        return None
    if dec is not None and onum is not None:
        payload = dec.decrypt(onum, payload)
    return _maybe_inflate(payload, d)


def _unpack_objstm(
    objs: Dict[int, bytes],
    overwrite: bool = False,
    dec: Optional["_Decryptor"] = None,
) -> None:
    """Unpack ``/Type /ObjStm`` compressed object streams found in
    ``objs`` into individual entries (header of N (objnum, offset)
    integer pairs, then the serialized objects at /First + offset)."""
    for src_onum, body in list(objs.items()):
        if b"/ObjStm" not in body:
            continue
        m_n = re.search(rb"/N\s+(\d+)", body)
        m_first = re.search(rb"/First\s+(\d+)", body)
        payload = _object_stream_payload(body, objs, dec, src_onum)
        if not (m_n and m_first and payload):
            continue
        n, first = int(m_n.group(1)), int(m_first.group(1))
        header = payload[:first].split()
        if len(header) < 2 * n:
            continue
        pairs = [
            (int(header[2 * i]), int(header[2 * i + 1])) for i in range(n)
        ]
        for i, (onum, off) in enumerate(pairs):
            end = pairs[i + 1][1] if i + 1 < n else len(payload) - first
            piece = payload[first + off: first + end]
            if overwrite:
                objs[onum] = piece
            else:
                objs.setdefault(onum, piece)


_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")
_XREF_ENTRY_RE = re.compile(rb"(\d{10})\s(\d{5})\s([nf])")
_OBJ_HEADER_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b")
_PREV_RE = re.compile(rb"/Prev\s+(\d+)")


def _png_unpredict(raw: bytes, row_w: int, predictor: int) -> Optional[bytes]:
    """Undo PNG row predictors on xref-stream data (/Predictor >= 10:
    each row is filter-byte + row_w data bytes; xref writers use
    None/Sub/Up in practice — Average/Paeth included for completeness)."""
    if predictor < 10:
        return raw
    stride = row_w + 1
    if stride <= 1 or len(raw) % stride:
        return None
    out = bytearray()
    prev = bytearray(row_w)
    for base in range(0, len(raw), stride):
        ftype = raw[base]
        line = bytearray(raw[base + 1: base + stride])
        if ftype == 1:  # Sub (bpp = 1 for xref columns)
            for i in range(1, row_w):
                line[i] = (line[i] + line[i - 1]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(row_w):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(row_w):
                a = line[i - 1] if i else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(row_w):
                a = line[i - 1] if i else 0
                c = prev[i - 1] if i else 0
                b = prev[i]
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            return None
        out += line
        prev = line
    return bytes(out)


def parse_xref(
    data: bytes,
) -> Tuple[Dict[int, int], Dict[int, Tuple[int, int]]]:
    """Follow ``startxref`` to the xref (classic table or xref stream,
    with /Prev incremental-update chains) and return

        (offsets, in_stream): {objnum: byte offset},
                              {objnum: (objstm objnum, index)}

    Empty dicts when the file has no parseable xref — callers fall back
    to the regex object scan.  Newer xrefs in a /Prev chain win (the
    chain is walked newest-first and entries are set-if-absent)."""
    offsets: Dict[int, int] = {}
    in_stream: Dict[int, Tuple[int, int]] = {}
    m = None
    for m in _STARTXREF_RE.finditer(data[-2048:] if len(data) > 2048 else data):
        pass  # last startxref wins (incremental updates append)
    if m is None:
        return offsets, in_stream
    seen: set = set()
    off = int(m.group(1))
    while off not in seen and 0 <= off < len(data):
        seen.add(off)
        chunk = data[off:]
        if chunk.lstrip()[:4] == b"xref":
            nxt = _parse_xref_table(chunk, offsets, in_stream)
        else:
            nxt = _parse_xref_stream(data, off, offsets, in_stream)
        if nxt is None:
            break
        off = nxt
    return offsets, in_stream


def _parse_xref_table(chunk: bytes, offsets, in_stream) -> Optional[int]:
    """Classic xref table at ``chunk`` start; fills entry dicts
    (set-if-absent) and returns the trailer's /Prev offset or None."""
    pos = chunk.find(b"xref") + 4
    trailer_at = chunk.find(b"trailer", pos)
    section = chunk[pos: trailer_at if trailer_at >= 0 else pos + 65536]
    lines_pos = 0
    body = section
    while True:
        m_sec = re.match(rb"\s*(\d+)\s+(\d+)\s*[\r\n]+", body[lines_pos:])
        if not m_sec:
            break
        start, count = int(m_sec.group(1)), int(m_sec.group(2))
        lines_pos += m_sec.end()
        for k in range(count):
            m_e = _XREF_ENTRY_RE.match(body, lines_pos)
            if not m_e:
                return None
            if m_e.group(3) == b"n":
                offsets.setdefault(start + k, int(m_e.group(1)))
            lines_pos = m_e.end()
            # entries are 20 bytes; tolerate \r\n vs \n via regex match
            while lines_pos < len(body) and body[lines_pos] in b"\r\n ":
                lines_pos += 1
    if trailer_at < 0:
        return None
    m_prev = _PREV_RE.search(chunk[trailer_at: trailer_at + 2048])
    return int(m_prev.group(1)) if m_prev else None


def _parse_xref_stream(data, off, offsets, in_stream) -> Optional[int]:
    """Xref STREAM at byte ``off`` (/Type /XRef): /W field widths,
    /Index subsections, FlateDecode + PNG predictors.  Fills entry dicts
    (set-if-absent); returns /Prev or None."""
    m_h = _OBJ_HEADER_RE.match(data, off) or _OBJ_HEADER_RE.search(
        data, off, off + 64
    )
    if not m_h:
        return None
    m_s = _STREAM_RE.search(data, m_h.end())
    if not m_s:
        return None
    d = _own_dict(m_s.group(1))
    if b"/XRef" not in d:
        return None
    payload = _slice_payload(data, m_s.end(), d)
    if payload is None:
        return None
    payload = _maybe_inflate(payload, d)
    if payload is None:
        return None
    m_w = re.search(rb"/W\s*\[\s*(\d+)\s+(\d+)\s+(\d+)\s*\]", d)
    if not m_w:
        return None
    w1, w2, w3 = (int(m_w.group(i)) for i in (1, 2, 3))
    m_pred = re.search(rb"/Predictor\s+(\d+)", d)
    if m_pred:
        payload = _png_unpredict(payload, w1 + w2 + w3, int(m_pred.group(1)))
        if payload is None:
            return None
    m_size = re.search(rb"/Size\s+(\d+)", d)
    m_idx = re.search(rb"/Index\s*\[((?:\s*\d+)+)\s*\]", d)
    if m_idx:
        nums = [int(x) for x in m_idx.group(1).split()]
        sections = list(zip(nums[0::2], nums[1::2]))
    elif m_size:
        sections = [(0, int(m_size.group(1)))]
    else:
        return None
    row_w = w1 + w2 + w3
    pos = 0
    for start, count in sections:
        for k in range(count):
            if pos + row_w > len(payload):
                return None
            row = payload[pos: pos + row_w]
            pos += row_w
            f1 = int.from_bytes(row[:w1], "big") if w1 else 1
            f2 = int.from_bytes(row[w1: w1 + w2], "big")
            f3 = int.from_bytes(row[w1 + w2:], "big")
            onum = start + k
            if f1 == 1:
                offsets.setdefault(onum, f2)
            elif f1 == 2:
                in_stream.setdefault(onum, (f2, f3))
    m_prev = _PREV_RE.search(d)
    return int(m_prev.group(1)) if m_prev else None


def _xref_object_bodies(
    data: bytes, dec: Optional["_Decryptor"] = None
) -> Dict[int, bytes]:
    """Object bodies resolved through the xref: each type-1 entry's body
    spans from its ``N g obj`` header to the LAST ``endobj`` before the
    next known object offset — immune to payloads containing the byte
    string ``endobj`` (the regex scan's one failure mode).  Type-2
    entries are unpacked from their object streams afterwards."""
    offsets, in_stream = parse_xref(data)
    if not offsets and not in_stream:
        return {}
    objs: Dict[int, bytes] = {}
    bounds = sorted(offsets.values()) + [len(data)]
    for onum, off in offsets.items():
        m_h = _OBJ_HEADER_RE.match(data, off) or _OBJ_HEADER_RE.search(
            data, off, off + 32
        )
        if not m_h or int(m_h.group(1)) != onum:
            continue
        nxt = bounds[bisect.bisect_right(bounds, off)]
        end = data.rfind(b"endobj", m_h.end(), nxt)
        if end < 0:
            end = data.find(b"endobj", m_h.end())
            if end < 0:
                continue
        objs[onum] = data[m_h.end(): end].strip(b"\r\n ")
    _unpack_objstm(objs, overwrite=False, dec=dec)
    # type-2 entries the header walk may have missed resolve via the
    # generic unpack; nothing more to do — setdefault keeps xref wins
    return objs


def parse_objects(
    data: bytes, dec: Optional["_Decryptor"] = None
) -> Dict[int, bytes]:
    """Object number -> body bytes: regex scan (``N 0 obj .. endobj``)
    OVERLAID by xref-resolved bodies (authoritative where present — a
    binary payload containing ``endobj`` corrupts only the regex scan),
    including objects unpacked from compressed object streams."""
    objs: Dict[int, bytes] = {
        int(m.group(1)): m.group(2) for m in _OBJ_RE.finditer(data)
    }
    _unpack_objstm(objs, overwrite=False, dec=dec)
    try:
        xref_objs = _xref_object_bodies(data, dec)
    except Exception:
        xref_objs = {}
    objs.update(xref_objs)
    return objs


def _utf16be_str(hexdigits: bytes) -> str:
    try:
        b = bytes.fromhex(hexdigits.decode("ascii"))
    except ValueError:
        return ""
    if len(b) % 2:
        b += b"\x00"
    return b.decode("utf-16-be", errors="replace")


_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_BFPAIR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_BFRANGE_ENTRY_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(\[[^\]]*\]|<[0-9A-Fa-f]+>)"
)


def parse_cmap(payload: bytes) -> Dict[int, str]:
    """CID -> unicode map from a /ToUnicode CMap stream: bfchar pairs,
    bfrange with a base destination (incrementing) or an explicit
    destination array.  Destinations are UTF-16BE per the spec."""
    out: Dict[int, str] = {}
    for m in _BFCHAR_RE.finditer(payload):
        for pm in _BFPAIR_RE.finditer(m.group(1)):
            out[int(pm.group(1), 16)] = _utf16be_str(pm.group(2))
    for m in _BFRANGE_RE.finditer(payload):
        for rm in _BFRANGE_ENTRY_RE.finditer(m.group(1)):
            lo, hi = int(rm.group(1), 16), int(rm.group(2), 16)
            dst = rm.group(3)
            if hi - lo > 0xFFFF:  # malformed range guard
                continue
            if dst.startswith(b"["):
                items = re.findall(rb"<([0-9A-Fa-f]+)>", dst)
                for k, it in enumerate(items):
                    if lo + k <= hi:
                        out[lo + k] = _utf16be_str(it)
            else:
                base_hex = dst[1:-1]
                width = len(base_hex)
                try:
                    base = int(base_hex, 16)
                except ValueError:
                    continue
                for c in range(lo, hi + 1):
                    out[c] = _utf16be_str(
                        (b"%0*x" % (width, base + (c - lo)))
                    )
    return out


_FONT_RES_RE = re.compile(rb"/Font\s*<<(.*?)>>", re.S)
_FONT_REF_RE = re.compile(rb"/([A-Za-z0-9]+)\s+(\d+)\s+0\s+R")
_TOUNICODE_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+0\s+R")
_DESCENDANT_RE = re.compile(rb"/DescendantFonts\s*\[?\s*(\d+)\s+0\s+R")
_DESCRIPTOR_RE = re.compile(rb"/FontDescriptor\s+(\d+)\s+0\s+R")
_FONTFILE2_RE = re.compile(rb"/FontFile2\s+(\d+)\s+0\s+R")
_CIDTOGID_RE = re.compile(rb"/CIDToGIDMap\s+(\d+)\s+0\s+R")


def parse_ttf_cmap(ttf: bytes) -> Dict[int, int]:
    """Glyph id -> unicode code point from an embedded TrueType font's
    ``cmap`` table (public TrueType/OpenType spec): table directory walk
    to ``cmap``, best unicode subtable (format 12 preferred over 4),
    then the segment arrays inverted glyph-first (first unicode wins per
    glyph; glyph 0 = .notdef is never mapped).  This is the key that
    unlocks CID fonts WITHOUT /ToUnicode: under /Identity-H the CIDs in
    show strings ARE glyph ids, so the reversed font cmap recovers text
    the PDF itself never spells out."""
    if len(ttf) < 12:
        raise ValueError("truncated font")
    num_tables = int.from_bytes(ttf[4:6], "big")
    cmap_off = None
    for i in range(num_tables):
        rec = 12 + 16 * i
        if ttf[rec: rec + 4] == b"cmap":
            cmap_off = int.from_bytes(ttf[rec + 8: rec + 12], "big")
            break
    if cmap_off is None or cmap_off + 4 > len(ttf):
        raise ValueError("no cmap table")
    n_sub = int.from_bytes(ttf[cmap_off + 2: cmap_off + 4], "big")
    best = None  # (rank, absolute offset)
    for i in range(n_sub):
        rec = cmap_off + 4 + 8 * i
        pid = int.from_bytes(ttf[rec: rec + 2], "big")
        eid = int.from_bytes(ttf[rec + 2: rec + 4], "big")
        off = int.from_bytes(ttf[rec + 4: rec + 8], "big")
        rank = {(3, 10): 3, (3, 1): 2, (0, 3): 2, (0, 4): 3}.get(
            (pid, eid), 1 if pid == 0 else 0
        )
        if rank and (best is None or rank > best[0]):
            best = (rank, cmap_off + off)
    if best is None:
        raise ValueError("no unicode cmap subtable")
    sub = best[1]
    fmt = int.from_bytes(ttf[sub: sub + 2], "big")
    uni2gid: Dict[int, int] = {}
    if fmt == 4:
        seg_x2 = int.from_bytes(ttf[sub + 6: sub + 8], "big")
        n_seg = seg_x2 // 2
        ends = sub + 14
        starts = ends + seg_x2 + 2  # +2: reservedPad
        deltas = starts + seg_x2
        range_offs = deltas + seg_x2
        for s in range(n_seg):
            end = int.from_bytes(ttf[ends + 2 * s: ends + 2 * s + 2], "big")
            start = int.from_bytes(
                ttf[starts + 2 * s: starts + 2 * s + 2], "big"
            )
            delta = int.from_bytes(
                ttf[deltas + 2 * s: deltas + 2 * s + 2], "big"
            )
            roff = int.from_bytes(
                ttf[range_offs + 2 * s: range_offs + 2 * s + 2], "big"
            )
            if start == 0xFFFF:
                continue  # the mandatory terminator segment
            for code in range(start, min(end, 0xFFFE) + 1):
                if roff == 0:
                    gid = (code + delta) & 0xFFFF
                else:
                    # spec pointer arithmetic: offset is relative to the
                    # idRangeOffset slot itself
                    addr = range_offs + 2 * s + roff + 2 * (code - start)
                    if addr + 2 > len(ttf):
                        continue
                    gid = int.from_bytes(ttf[addr: addr + 2], "big")
                    if gid:
                        gid = (gid + delta) & 0xFFFF
                if gid:
                    uni2gid.setdefault(code, gid)
    elif fmt == 12:
        n_groups = int.from_bytes(ttf[sub + 12: sub + 16], "big")
        for g in range(n_groups):
            rec = sub + 16 + 12 * g
            start = int.from_bytes(ttf[rec: rec + 4], "big")
            end = int.from_bytes(ttf[rec + 4: rec + 8], "big")
            gid0 = int.from_bytes(ttf[rec + 8: rec + 12], "big")
            for code in range(start, min(end, start + 0x10FFFF) + 1):
                gid = gid0 + (code - start)
                if gid:
                    uni2gid.setdefault(code, gid)
    else:
        raise ValueError(f"unsupported cmap format {fmt}")
    gid2uni: Dict[int, int] = {}
    for code in sorted(uni2gid):  # deterministic first-wins inversion
        gid2uni.setdefault(uni2gid[code], code)
    return gid2uni


#: Adobe standard strings 1..95 (CFF spec appendix A) — exactly the
#: StandardEncoding glyph order for codes 32..126, which is why
#: StandardEncoding below is ``code -> SID = code - 31``.
_STD_GLYPH_NAMES = (
    "space exclam quotedbl numbersign dollar percent ampersand "
    "quoteright parenleft parenright asterisk plus comma hyphen period "
    "slash zero one two three four five six seven eight nine colon "
    "semicolon less equal greater question at A B C D E F G H I J K L "
    "M N O P Q R S T U V W X Y Z bracketleft backslash bracketright "
    "asciicircum underscore quoteleft a b c d e f g h i j k l m n o p "
    "q r s t u v w x y z braceleft bar braceright asciitilde"
).split()
#: glyph name -> unicode char: the 95 standard names map to ASCII
#: 32..126 POSITIONALLY — including quoteright/quoteleft at the
#: apostrophe/grave positions (AGL would assign U+2019/U+2018, but
#: StandardEncoding fonts near-universally use quoteright AS the
#: apostrophe, and the positional choice keeps decode(encode(ascii))
#: an identity for the datagen round-trip twins).
_STD_NAME2CHAR = {
    n: chr(32 + i) for i, n in enumerate(_STD_GLYPH_NAMES)
}


def _glyph_name_to_char(name: str) -> Optional[str]:
    """AGL-style glyph name -> unicode char: the standard-strings table
    plus the algorithmic ``uniXXXX`` / ``uXXXX[XX]`` families; unknown
    names return None (the glyph has no text meaning we can recover)."""
    hit = _STD_NAME2CHAR.get(name)
    if hit is not None:
        return hit
    try:
        if name.startswith("uni") and len(name) == 7:
            return chr(int(name[3:], 16))
        if name.startswith("u") and 5 <= len(name) <= 7:
            return chr(int(name[1:], 16))
    except ValueError:
        return None
    return None


def _cff_read_index(cff: bytes, pos: int) -> Tuple[List[bytes], int]:
    """One CFF INDEX structure -> (items, next_pos).  Public CFF spec
    (Adobe TN 5176 §5): count u16, offSize u8, count+1 offsets
    (1-based), packed data."""
    count = int.from_bytes(cff[pos: pos + 2], "big")
    if count == 0:
        return [], pos + 2
    off_size = cff[pos + 2]
    if not 1 <= off_size <= 4:
        raise ValueError("bad INDEX offSize")
    offs = []
    p = pos + 3
    for _ in range(count + 1):
        offs.append(int.from_bytes(cff[p: p + off_size], "big"))
        p += off_size
    base = p - 1  # offsets are 1-based from the byte before the data
    items = [cff[base + offs[i]: base + offs[i + 1]] for i in range(count)]
    end = base + offs[count]
    if end > len(cff):
        raise ValueError("INDEX overruns file")
    return items, end


def _cff_parse_dict(data: bytes) -> Dict[int, int]:
    """CFF DICT -> {op: last integer operand} for the offset-valued ops
    this reader needs (charset 15, Encoding 16, CharStrings 17); real
    operands (0x1e) are skipped, escaped ops keyed as 1200+x."""
    out: Dict[int, int] = {}
    operands: List[int] = []
    i, n = 0, len(data)
    while i < n:
        b0 = data[i]
        if 32 <= b0 <= 246:
            operands.append(b0 - 139)
            i += 1
        elif 247 <= b0 <= 250:
            operands.append((b0 - 247) * 256 + data[i + 1] + 108)
            i += 2
        elif 251 <= b0 <= 254:
            operands.append(-(b0 - 251) * 256 - data[i + 1] - 108)
            i += 2
        elif b0 == 28:
            operands.append(
                int.from_bytes(data[i + 1: i + 3], "big", signed=True)
            )
            i += 3
        elif b0 == 29:
            operands.append(
                int.from_bytes(data[i + 1: i + 5], "big", signed=True)
            )
            i += 5
        elif b0 == 30:  # real: nibbles until 0xf terminator
            i += 1
            while i < n:
                lo = data[i] & 0x0F
                i += 1
                if lo == 0x0F or (data[i - 1] >> 4) == 0x0F:
                    break
            operands.append(0)
        elif b0 == 12:
            if operands:
                out[1200 + data[i + 1]] = operands[-1]
            operands = []
            i += 2
        elif b0 <= 21:
            if operands:
                out[b0] = operands[-1]
            operands = []
            i += 1
        else:
            raise ValueError(f"bad DICT byte {b0}")
    return out


def parse_cff_charmap(cff: bytes) -> Dict[int, str]:
    """Byte code -> unicode char from a bare CFF (/FontFile3 /Subtype
    /Type1C) font program — the text-recovery subset of the public CFF
    spec: Name/TopDICT/String INDEX walk, charset (GID -> SID, formats
    0/1/2 or the ISOAdobe identity), Encoding (code -> GID, Standard or
    custom formats 0/1 + supplements), glyph names via the standard
    strings or the String INDEX, names to unicode via
    :func:`_glyph_name_to_char`.  Charstring OUTLINES are never
    touched — text extraction needs the naming tables only.  Raises
    ValueError outside this subset (caller degrades)."""
    if len(cff) < 4:
        raise ValueError("short CFF")
    hdr_size = cff[2]
    _names, pos = _cff_read_index(cff, hdr_size)
    top_dicts, pos = _cff_read_index(cff, pos)
    strings, pos = _cff_read_index(cff, pos)
    if not top_dicts:
        raise ValueError("no TopDICT")
    td = _cff_parse_dict(top_dicts[0])
    if 1230 in td:  # ROS: CIDFont-keyed CFF — charset maps to CIDs,
        raise ValueError("CID-keyed CFF out of scope")  # not names
    cs_off = td.get(17)
    if cs_off is None or cs_off >= len(cff):
        raise ValueError("no CharStrings")
    n_glyphs = int.from_bytes(cff[cs_off: cs_off + 2], "big")
    if n_glyphs < 1:
        raise ValueError("empty CharStrings")

    def sid_name(sid: int) -> Optional[str]:
        if sid == 0:
            return None  # .notdef
        if sid <= 95:
            return _STD_GLYPH_NAMES[sid - 1]
        if sid >= 391 and sid - 391 < len(strings):
            return strings[sid - 391].decode("latin-1", "replace")
        return None  # standard strings 96..390: outside the repertoire

    # charset: GID -> SID (GID 0 is .notdef, never listed)
    charset_off = td.get(15, 0)
    gid2sid: Dict[int, int] = {}
    if charset_off == 0:  # ISOAdobe: identity
        for g in range(1, n_glyphs):
            gid2sid[g] = g
    elif charset_off in (1, 2):
        raise ValueError("Expert charsets out of scope")
    else:
        fmt = cff[charset_off]
        p = charset_off + 1
        if fmt == 0:
            for g in range(1, n_glyphs):
                gid2sid[g] = int.from_bytes(cff[p: p + 2], "big")
                p += 2
        elif fmt in (1, 2):
            n_left_w = 1 if fmt == 1 else 2
            g = 1
            while g < n_glyphs:
                first = int.from_bytes(cff[p: p + 2], "big")
                n_left = int.from_bytes(
                    cff[p + 2: p + 2 + n_left_w], "big"
                )
                p += 2 + n_left_w
                for k in range(n_left + 1):
                    if g >= n_glyphs:
                        break
                    gid2sid[g] = first + k
                    g += 1
        else:
            raise ValueError(f"charset format {fmt}")

    out: Dict[int, str] = {}

    def put(code: int, sid: int) -> None:
        name = sid_name(sid)
        ch = _glyph_name_to_char(name) if name else None
        if ch is not None:
            out.setdefault(code, ch)

    enc_off = td.get(16, 0)
    if enc_off == 0:  # Standard encoding: code -> SID = code - 31
        sid2gid = {s: g for g, s in gid2sid.items()}
        for code in range(32, 127):
            if code - 31 in sid2gid:  # glyph present in the font
                put(code, code - 31)
    elif enc_off == 1:
        raise ValueError("Expert encoding out of scope")
    else:
        fmt = cff[enc_off]
        p = enc_off + 1
        if fmt & 0x7F == 0:
            n_codes = cff[p]
            p += 1
            for g in range(1, n_codes + 1):
                sid = gid2sid.get(g)
                if sid is not None:
                    put(cff[p], sid)
                p += 1
        elif fmt & 0x7F == 1:
            n_ranges = cff[p]
            p += 1
            g = 1
            for _ in range(n_ranges):
                first, n_left = cff[p], cff[p + 1]
                p += 2
                for k in range(n_left + 1):
                    sid = gid2sid.get(g)
                    if sid is not None:
                        put(first + k, sid)
                    g += 1
        else:
            raise ValueError(f"encoding format {fmt}")
        if fmt & 0x80:  # supplements: (code u8, SID u16) pairs
            n_sups = cff[p]
            p += 1
            for _ in range(n_sups):
                put(cff[p], int.from_bytes(cff[p + 1: p + 3], "big"))
                p += 3
    if not out:
        raise ValueError("no text-meaningful glyphs")
    return out


_CODESPACE_RE = re.compile(
    rb"begincodespacerange(.*?)endcodespacerange", re.S
)
_CIDRANGE_RE = re.compile(rb"begincidrange(.*?)endcidrange", re.S)
_CIDCHAR_RE = re.compile(rb"begincidchar(.*?)endcidchar", re.S)
_CID_PAIR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(\d+)")
_CIDCHAR_ENTRY_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*(\d+)")


def parse_cid_cmap(payload: bytes) -> Optional[Dict[int, int]]:
    """code -> CID from an EMBEDDED CMap stream (a Type0 font's
    /Encoding that is a stream object, not /Identity-H) — cidrange and
    cidchar sections of the public CMap format.  Only 2-byte code
    spaces are in scope (the dominant CJK shape, and the width the
    show-string decoder speaks); any other declared codespace width
    returns None and the caller degrades."""
    for m in _CODESPACE_RE.finditer(payload):
        for lo_hex in re.findall(rb"<([0-9A-Fa-f]+)>", m.group(1)):
            if len(lo_hex) != 4:
                return None
    out: Dict[int, int] = {}
    for m in _CIDRANGE_RE.finditer(payload):
        for rm in _CID_PAIR_RE.finditer(m.group(1)):
            lo, hi = int(rm.group(1), 16), int(rm.group(2), 16)
            cid = int(rm.group(3))
            if hi - lo > 0xFFFF:
                continue
            for c in range(lo, hi + 1):
                out[c] = cid + (c - lo)
    for m in _CIDCHAR_RE.finditer(payload):
        for cm in _CIDCHAR_ENTRY_RE.finditer(m.group(1)):
            out[int(cm.group(1), 16)] = int(cm.group(2))
    return out or None


_ENCODING_REF_RE = re.compile(rb"/Encoding\s+(\d+)\s+0\s+R")
_FONTFILE3_RE = re.compile(rb"/FontFile3\s+(\d+)\s+0\s+R")
_DIFF_RE = re.compile(rb"/Differences\s*\[(.*?)\]", re.S)
_DIFF_TOKEN_RE = re.compile(rb"(\d+)|/([A-Za-z0-9.]+)")


def _differences_overlay(
    scope: bytes, base: Dict[int, str]
) -> Dict[int, str]:
    """Apply a PDF /Encoding /Differences array over a base code map:
    integers set the next code, names assign sequential codes (public
    simple-font encoding semantics)."""
    md = _DIFF_RE.search(scope)
    if not md:
        return base
    out = dict(base)
    code = 0
    for tm in _DIFF_TOKEN_RE.finditer(md.group(1)):
        if tm.group(1) is not None:
            code = int(tm.group(1))
        else:
            ch = _glyph_name_to_char(tm.group(2).decode("latin-1"))
            if ch is not None:
                out[code] = ch
            else:
                out.pop(code, None)  # renamed to something unknowable
            code += 1
    return out


def _simple_font_cff_cmap(
    body: bytes,
    objects: Dict[int, bytes],
    dec: Optional["_Decryptor"] = None,
) -> Optional[Dict[int, str]]:
    """1-byte code map for a simple font.  Base map: the CFF naming
    tables when the descriptor carries a /FontFile3 program
    (:func:`parse_cff_charmap`); otherwise — the base-14 /
    program-less shape — ASCII identity (codes 32..126, the
    Standard/WinAnsi common core), used ONLY when a /Differences array
    is present (a bare base font stays on the latin-1 fast path).
    The font dict's /Encoding /Differences overlay (inline dict or
    indirect object) applies on top in both cases.  None when nothing
    recovers a map (caller keeps latin-1)."""
    scope = body
    menc = _ENCODING_REF_RE.search(body)
    if menc is not None:
        enc_body = objects.get(int(menc.group(1)))
        if enc_body is not None:
            scope = body + enc_body

    base: Optional[Dict[int, str]] = None
    mfd = _DESCRIPTOR_RE.search(body)
    fd = objects.get(int(mfd.group(1))) if mfd else None
    if fd is not None:
        mff = _FONTFILE3_RE.search(fd)
        if mff:
            ff_onum = int(mff.group(1))
            ff_body = objects.get(ff_onum)
            if ff_body is not None:
                cff = _object_stream_payload(
                    ff_body, objects, dec, ff_onum
                )
                if cff is not None:
                    try:
                        base = parse_cff_charmap(cff)
                    except (ValueError, IndexError):
                        return None  # broken program: degrade
    if base is None:
        if _DIFF_RE.search(scope) is None:
            return None  # no program, no Differences: latin-1 path
        base = {c: chr(c) for c in range(32, 127)}
    return _differences_overlay(scope, base) or None


def _identity_cid_cmap(
    body: bytes,
    objects: Dict[int, bytes],
    dec: Optional["_Decryptor"] = None,
) -> Optional[Dict[int, str]]:
    """CID map for a Type0 font WITHOUT /ToUnicode: /Identity-H (CID =
    code) or an EMBEDDED /Encoding CMap stream (code -> CID via
    :func:`parse_cid_cmap`), then CID -> GID (identity, or a
    /CIDToGIDMap stream of big-endian u16s) -> unicode via the embedded
    FontFile2's reversed cmap.  Returns None when any link is outside
    scope (the caller degrades to whatever is visible, never errors)."""
    code2cid: Optional[Dict[int, int]] = None
    if b"/Identity-H" not in body:
        menc = _ENCODING_REF_RE.search(body)
        if menc is None:
            return None
        enc_body = objects.get(int(menc.group(1)))
        if enc_body is None:
            return None
        enc_onum = int(menc.group(1))
        payload = _object_stream_payload(enc_body, objects, dec, enc_onum)
        if payload is None:
            return None
        code2cid = parse_cid_cmap(payload)
        if code2cid is None:
            return None
    md = _DESCENDANT_RE.search(body)
    if not md:
        return None
    desc = objects.get(int(md.group(1)))
    if desc is None:
        # the array may be an indirect object holding the ref
        return None
    mfd = _DESCRIPTOR_RE.search(desc)
    fd = objects.get(int(mfd.group(1))) if mfd else None
    if fd is None:
        return None
    mff = _FONTFILE2_RE.search(fd)
    if not mff:
        return None
    ff_onum = int(mff.group(1))
    ff_body = objects.get(ff_onum)
    if ff_body is None:
        return None
    ttf = _object_stream_payload(ff_body, objects, dec, ff_onum)
    if ttf is None:
        return None
    try:
        gid2uni = parse_ttf_cmap(ttf)
    except (ValueError, IndexError):
        return None
    cid2gid = None  # None = identity
    mc = _CIDTOGID_RE.search(desc)
    if mc:
        cg_onum = int(mc.group(1))
        cg_body = objects.get(cg_onum)
        if cg_body is not None:
            payload = _object_stream_payload(cg_body, objects, dec, cg_onum)
            if payload is not None:
                cid2gid = payload
    cid2uni: Dict[int, str] = {}
    if cid2gid is None:
        for gid, uni in gid2uni.items():
            cid2uni[gid] = chr(uni)
    else:
        for cid in range(len(cid2gid) // 2):
            gid = int.from_bytes(cid2gid[2 * cid: 2 * cid + 2], "big")
            uni = gid2uni.get(gid)
            if uni is not None:
                cid2uni[cid] = chr(uni)
    if code2cid is not None:  # embedded-CMap encoding: compose
        out = {
            code: cid2uni[cid]
            for code, cid in code2cid.items()
            if cid in cid2uni
        }
    else:  # /Identity-H: CID = code
        out = cid2uni
    return out or None


def font_cmaps(
    data: bytes,
    objects: Dict[int, bytes],
    dec: Optional["_Decryptor"] = None,
) -> Dict[str, Tuple[int, Dict[int, str]]]:
    """Resource font name -> (code width, code map).  Width 2 for CID
    (Type0) fonts — /ToUnicode CMaps, /Identity-H TrueType reversal, or
    embedded-/Encoding-CMap composition; width 1 for simple fonts whose
    /FontFile3 CFF naming tables recover a byte encoding.  Resources
    are scanned in the raw bytes AND in ObjStm-unpacked object bodies
    (page dictionaries commonly live in object streams)."""
    scopes = [data] + [
        b for b in objects.values() if b"/Font" in b
    ]
    name2obj: Dict[str, int] = {}
    for scope in scopes:
        for m in _FONT_RES_RE.finditer(scope):
            for fm in _FONT_REF_RE.finditer(m.group(1)):
                name2obj.setdefault(
                    fm.group(1).decode("latin-1"), int(fm.group(2))
                )
    out: Dict[str, Tuple[int, Dict[int, str]]] = {}
    for name, onum in name2obj.items():
        body = objects.get(onum)
        if body is None:
            continue
        mtu = _TOUNICODE_RE.search(body)
        if not mtu:
            if b"/Type0" in body or b"/Identity-H" in body:
                # CID font without /ToUnicode: reverse the embedded
                # TrueType cmap under /Identity-H or an embedded
                # /Encoding CMap (the real-crawl CJK shapes)
                cmap = _identity_cid_cmap(body, objects, dec)
                if cmap:
                    out[name] = (2, cmap)
            else:
                # simple font: a /FontFile3 CFF's naming tables give
                # the byte encoding (plus /Differences overlay)
                cmap = _simple_font_cff_cmap(body, objects, dec)
                if cmap:
                    out[name] = (1, cmap)
            continue
        tu_onum = int(mtu.group(1))
        tu_body = objects.get(tu_onum)
        if tu_body is None:
            continue
        payload = _object_stream_payload(tu_body, objects, dec, tu_onum)
        if payload is None:
            continue
        cmap = parse_cmap(payload)
        if cmap:
            width = 1 if not (
                b"/Type0" in body or b"/Identity-H" in body
            ) else 2
            out[name] = (width, cmap)
    return out


def content_streams(
    data: bytes,
    objects: Optional[Dict[int, bytes]] = None,
    dec: Optional["_Decryptor"] = None,
) -> List[bytes]:
    """All decoded content-stream payloads in byte order; FlateDecode
    streams are zlib-inflated, undecodable streams are skipped.  Streams
    that are machinery rather than page content (/ObjStm packing,
    /ToUnicode CMaps, xref streams) — or that render only when INVOKED
    (/Subtype /Form XObjects, expanded inline at their Do sites; /Image
    XObjects, binary) — are excluded.  Encrypted files decrypt each
    payload with the key of its OWNING object (the nearest preceding
    ``N g obj`` header in the byte stream)."""
    owner_offs: List[int] = []
    owner_nums: List[int] = []
    if dec is not None:
        for hm in _OBJ_HEADER_RE.finditer(data):
            owner_offs.append(hm.start())
            owner_nums.append(int(hm.group(1)))
    out: List[bytes] = []
    for m in _STREAM_RE.finditer(data):
        d = _own_dict(m.group(1))
        if (
            b"/ObjStm" in d
            or b"/ToUnicode" in d
            or b"/XRef" in d
            or b"/XObject" in d
            or b"/CMap" in d
            or b"/Type1C" in d
        ):
            continue
        payload = _slice_payload(data, m.end(), d, objects)
        if payload is None:
            continue
        if dec is not None:
            # key on m.end(): the match's non-greedy << can open inside
            # an EARLIER object (the _own_dict trap), but the owning
            # header is always the last one before the stream keyword
            k = bisect.bisect_right(owner_offs, m.end()) - 1
            if k >= 0:
                payload = dec.decrypt(owner_nums[k], payload)
        payload = _maybe_inflate(payload, d)
        if payload is None:
            continue
        out.append(payload)
    return out


_XOBJ_RES_RE = re.compile(rb"/XObject\s*<<(.*?)>>", re.S)
_DO_RE = re.compile(rb"/([A-Za-z0-9]+)\s+Do\b")


def xobject_forms(
    data: bytes, objects: Dict[int, bytes]
) -> Dict[str, int]:
    """Resource XObject name -> object number, for /Subtype /Form
    XObjects only (images are binary, never walked).  Resources are
    scanned in the raw bytes AND in ObjStm-unpacked bodies, mirroring
    :func:`font_cmaps`'s name scoping (first binding wins — the 1-D
    model's documented simplification for per-page resource shadowing)."""
    scopes = [data] + [b for b in objects.values() if b"/XObject" in b]
    out: Dict[str, int] = {}
    for scope in scopes:
        for m in _XOBJ_RES_RE.finditer(scope):
            for fm in _FONT_REF_RE.finditer(m.group(1)):
                onum = int(fm.group(2))
                body = objects.get(onum)
                if body is not None and b"/Form" in body:
                    out.setdefault(fm.group(1).decode("latin-1"), onum)
    return out


#: carried graphics state: (font resource name, font size)
FontState = Tuple[str, float]


def _apply_tf(chunk: bytes, state: FontState) -> FontState:
    """Fold any Tf ops in a non-text chunk into the carried state."""
    for m in _TF_RE.finditer(chunk):
        state = (m.group(1).decode("latin-1"), float(m.group(2)))
    return state


def _bytes_to_text(
    raw: bytes, font: str, cmaps: Dict[str, Tuple[int, Dict[int, str]]]
) -> str:
    """Show-op bytes -> text through the font's (width, code map):
    width 2 = CID fonts (/ToUnicode, reversed TrueType cmap, or
    embedded-CMap composition), width 1 = simple fonts with a decoded
    CFF/Differences encoding.  Unmapped codes drop — they have no
    unicode meaning (.notdef renders nothing).  Fonts with no map at
    all decode latin-1 per byte (the unadorned simple-font shape)."""
    ent = cmaps.get(font)
    if ent is None:
        return raw.decode("latin-1")
    width, cmap = ent
    parts: List[str] = []
    if width == 1:
        for b in raw:
            mapped = cmap.get(b)
            if mapped is not None:
                parts.append(mapped)
        return "".join(parts)
    for k in range(0, len(raw) - 1, 2):
        cid = (raw[k] << 8) | raw[k + 1]
        mapped = cmap.get(cid)
        if mapped is not None:
            parts.append(mapped)
    return "".join(parts)


def _segment_text(
    seg: bytes, state: FontState, cmaps: Dict[str, Tuple[int, Dict[int, str]]]
) -> Tuple[str, float, FontState]:
    """One BT..ET segment -> (text, size at first show op, new state).
    Walks the segment sequentially so Tf ops update the carried state in
    byte order (PDF graphics state persists across text objects)."""
    parts: List[str] = []
    size_at_show: Optional[float] = None
    tf_matches = list(_TF_RE.finditer(seg))
    n_tf = len(tf_matches)
    ti = 0
    i, n = 0, len(seg)
    # jump between show-op openers instead of walking every byte: Tf
    # state only needs catching up AT a show op (and after the loop),
    # so skipping the bytes in between is behavior-identical
    while i < n:
        mo = _SHOW_OPEN_RE.search(seg, i)
        if mo is None:
            break
        i = mo.start()
        while ti < n_tf and tf_matches[ti].end() <= i:
            m = tf_matches[ti]
            state = (m.group(1).decode("latin-1"), float(m.group(2)))
            ti += 1
        c = seg[i]
        if c == 0x28:  # (
            if size_at_show is None:
                size_at_show = state[1]
            raw, i = _decode_literal(seg, i)
            parts.append(_bytes_to_text(raw, state[0], cmaps))
        elif not (i + 1 < n and seg[i + 1] == 0x3C):  # < not <<
            if size_at_show is None:
                size_at_show = state[1]
            raw, i = _decode_hex(seg, i)
            parts.append(_bytes_to_text(raw, state[0], cmaps))
        else:
            i += 1
    while ti < len(tf_matches):  # Tf after the last show op still persists
        m = tf_matches[ti]
        state = (m.group(1).decode("latin-1"), float(m.group(2)))
        ti += 1
    return (
        "".join(parts),
        state[1] if size_at_show is None else size_at_show,
        state,
    )


_SHOW_OPEN_RE = re.compile(rb"[(<]")


def _tag_for_size(size: float) -> str:
    if size >= 18.0:
        return "h1"
    if size >= 13.5:
        return "h2"
    return "p"


def _url_link_chars(text: str) -> int:
    """Deterministic link-char heuristic: total length of URL-shaped
    tokens (http/https scheme or www. prefix)."""
    return sum(
        len(tok)
        for tok in text.split()
        if tok.startswith(("http://", "https://", "www."))
    )


#: recursion bound for nested Form XObjects (the spec allows nesting;
#: real documents rarely exceed 2-3 levels — the bound plus the ancestor
#: cycle guard makes the walk total on any input).
MAX_FORM_DEPTH = 8


def _walk_stream(
    stream: bytes,
    state: FontState,
    blocks: List[tuple],
    cmaps: Dict[str, Tuple[int, Dict[int, str]]],
    forms: Dict[str, int],
    objects: Dict[int, bytes],
    depth: int = 0,
    active: frozenset = frozenset(),
    dec: Optional["_Decryptor"] = None,
) -> FontState:
    """Walk one content stream in byte order: BT..ET segments become
    blocks; ``/Name Do`` sites expand /Form XObject streams INLINE
    (recursively, ancestors cycle-guarded), with the carried font state
    flowing in and out exactly as the PDF graphics state does."""
    events: List[tuple] = [
        (s, e, "bt", body) for s, e, body in _bt_segments(stream)
    ]
    spans = [(s, e) for s, e, _k, _m in events]
    for m in _DO_RE.finditer(stream):
        # Do inside a text object is not a form invocation site
        if any(s <= m.start() < e for s, e in spans):
            continue
        events.append((m.start(), m.end(), "do", m))
    events.sort(key=lambda t: t[0])
    pos = 0
    for start, end, kind, m in events:
        state = _apply_tf(stream[pos:start], state)
        pos = end
        if kind == "bt":
            raw, size, state = _segment_text(m, state, cmaps)
            text = " ".join(raw.split())
            if text:
                blocks.append((size, text))
        else:
            onum = forms.get(m.group(1).decode("latin-1"))
            if onum is None or onum in active or depth >= MAX_FORM_DEPTH:
                continue
            body = objects.get(onum)
            if body is None:
                continue
            payload = _object_stream_payload(body, objects, dec, onum)
            if payload is None:
                continue
            state = _walk_stream(
                payload, state, blocks, cmaps, forms, objects,
                depth + 1, active | {onum}, dec,
            )
    return _apply_tf(stream[pos:], state)


#: furniture threshold: a block whose font is below this fraction of the
#: body size is layout furniture (footnote / running footer — footnotes
#: are conventionally ~0.8x body).
FURNITURE_RATIO = 0.85


def _body_size(blocks: List[tuple]) -> float:
    """Char-weighted median font size — the dominant body size.  Robust
    to a long footer or a big title (mode-by-chars is not)."""
    total = sum(len(t) for _s, t in blocks)
    if total == 0:
        return 0.0
    cum = 0
    for s, t in sorted(blocks, key=lambda b: b[0]):
        cum += len(t)
        if cum * 2 >= total:
            return s
    return blocks[-1][0]


def parse_pdf(
    data: bytes | bytearray,
    max_nodes: int = 50_000,
    password: bytes = b"",
) -> List[Dict[str, Any]]:
    """Parse one PDF byte stream into ordered node records with the SAME
    fields as :func:`page_segmentation_spark.html_parse.parse_html`
    (NODE_FIELDS contract).

    PDFs have no DOM sectioning, so the ``container`` field carries the
    layout-derived furniture signal instead: blocks rendered far below
    the document's body font size (char-weighted median) are footnote /
    running-footer furniture and get container='footer' — the same
    boilerplate prior a <footer> ancestor gives an HTML node."""
    nodes: List[Dict[str, Any]] = []
    try:
        data = bytes(data)
        # the object map is only needed for CID fonts / ObjStm / indirect
        # /Length — all cheap regex passes; content scan never fails if
        # the map is incomplete
        dec = build_decryptor(data, password)
        objects = parse_objects(data, dec)
        cmaps = font_cmaps(data, objects, dec)
        forms = xobject_forms(data, objects)
        blocks: List[tuple] = []
        state: FontState = ("", 0.0)
        for stream in content_streams(data, objects, dec):
            state = _walk_stream(
                stream, state, blocks, cmaps, forms, objects, dec=dec
            )
        body = _body_size(blocks)
        for size, text in blocks:
            if len(nodes) >= max_nodes:
                return nodes
            furniture = body > 0.0 and size < FURNITURE_RATIO * body
            rec: Dict[str, Any] = {
                "node_idx": len(nodes),
                "tag": _tag_for_size(size),
                "container": "footer" if furniture else "",
                "depth": 1,
                "text": text,
                "is_fg": True,
            }
            rec.update(text_stats(text, _url_link_chars(text)))
            nodes.append(rec)
    except Exception:
        # malformed PDF: keep whatever was parsed (never fail a batch)
        pass
    return nodes
