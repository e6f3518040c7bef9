"""Minimal from-spec PDF text extractor (S3 fallback codec).

The reference decodes fund-announcement PDFs with pdfplumber
(dividend_extractor.py:1292-1298). This container ships neither
pdfplumber nor pypdf, so — the operators/xls_writer.py precedent: build
the adapter from the PUBLIC spec instead of stubbing — this module
implements the subset of ISO 32000-1 needed to pull text out of
ordinary generated announcement PDFs:

- object scan: every ``N G obj … endobj`` body located by a byte scan
  (robust to linearized files and broken/absent xref tables, which a
  quarantine-grade codec must tolerate; the xref is an OPTIMIZATION for
  random access, not the object store itself — §7.5.4);
- streams: ``stream``/``endstream`` payloads; filters ``/FlateDecode``
  (stdlib zlib), ``/LZWDecode`` (``unpack_lzw``: §7.4.4.2 with the
  default EarlyChange = 1), ``/ASCIIHexDecode`` and
  ``/ASCII85Decode``, applied first-to-last when /Filter names a chain
  (§7.4.1); unsupported filters raise a NAMED error so the file
  quarantines informatively (S7), never silently;
- object streams: ``/Type /ObjStm`` payloads (§7.5.7, the PDF 1.5+
  compressed-object convention) are decoded and their bare-dict
  objects merged into the object map, so modern writers' page/font
  dicts are visible to the page walk;
- page tree: ``/Type /Page`` objects, their ``/Contents`` (single ref or
  array) and ``/Resources /Font`` dicts (§7.7.3);
- content streams: a tokenizer for literal ``(…)`` strings with escapes
  and octal (§7.3.4.2), hex ``<…>`` strings, names, numbers and arrays;
  text shown by ``Tj``, ``'``, ``"`` and ``TJ`` is collected per
  ``BT…ET`` block (§9.4.3);
- encodings: the active font (tracked via ``Tf``) selects a
  ``/ToUnicode`` CMap when the font carries one — ``bfchar``/``bfrange``
  parsed per Adobe CMap conventions (§9.10.3), which is what makes
  CID-keyed Chinese announcement text come out as real Unicode; fonts
  without a CMap decode bytes as Latin-1 (the WinAnsi/Standard ASCII
  overlap, right for the numeric/Latin runs the extractors parse).

Encryption: the standard security handler's ubiquitous
empty-user-password case ("encrypted but freely viewable") decrypts
for real across every deployed revision — RC4 rev 2/3, rev-4 crypt
filters /V2 (RC4-128) and /AESV2 (AES-128-CBC), and rev-6 /AESV3
(AES-256: the Algorithm 2.B hardened hash validates /U and unwraps the
file key from /UE) — all via the from-spec FIPS-197 cipher in
sources/aes.py. Custom handlers, the withdrawn R5 draft and real user
passwords quarantine with named errors.

Predictor DecodeParms (§7.4.4.4) are undone — 2 (TIFF horizontal
differencing) and 10-15 (the PNG row filters) at 8 bits/component.

Embedded images: ``extract_pdf_images`` (end of module) walks the page
tree's /XObject resources and returns each /Subtype /Image — /DCTDecode
payloads verbatim (a complete JFIF blob for operators/jpeg_codec.py),
/CCITTFaxDecode payloads decoded to packed 1-bit samples via the T.4/
T.6 fax decoder (operators/ccitt_codec.py — the dominant encoding of
real black-and-white scans), and everything this module's own filters
cover as decoded sample buffers. That is the from-spec front half of
the reference's scanned-PDF OCR path
(manual_purchase_apply_extractor.py:75-181); only the neural
glyph-recognition step remains import-gated (sources/corpus.py S4).

Deliberately out of scope (documented, quarantine-with-named-error, not
silently wrong): DCT as a TEXT-stream filter, JBIG2/JPX image codecs,
and glyph metrics/positioning (runs are
concatenated per text block; the downstream regex extractors are
whitespace-tolerant by design — functions/extract.py P5
letter-spacing).
"""

from __future__ import annotations

import re
import zlib

_OBJ_HDR_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_STREAM_KW_RE = re.compile(rb"stream\r?\n")
_INT_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\s*(\d+)\s*endobj")
_LEN_IND_RE = re.compile(rb"/Length\s+(\d+)\s+\d+\s+R")
_LEN_DIR_RE = re.compile(rb"/Length\s+(\d+)(?!\s+\d+\s+R)")
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_NAME_RE = re.compile(rb"/([A-Za-z0-9.#+-]+)")
# Tokenizer patterns are matched AT a position (``pattern.match(data, i)``),
# never on a slice ``data[i:]``: a slice copies the rest of the buffer, so
# a per-byte loop over a large content stream would take quadratic time.
_HEX_STRING_RE = re.compile(rb"<([0-9A-Fa-f\s]*)>")
_OCTAL_RE = re.compile(rb"[0-7]{1,3}")
# an ``n g R`` reference first, so it stays one item
_ARRAY_ITEM_RE = re.compile(rb"\d+\s+\d+\s+R\b|/[A-Za-z0-9.#+-]+|[^\s\[\]<>/]+")
_OPERATOR_RE = re.compile(rb"[A-Za-z'\"*]+")
# content-stream bytes that start no token _page_text reads (whitespace,
# numbers, array brackets): skipped as one run
_FILLER_RE = re.compile(rb"[^(</A-Za-z'\"*]*")
_TF_RE = re.compile(rb"\s+[\d.+-]+\s+Tf\b")


def _declared_length(head: bytes, int_objs: dict[int, int]) -> int | None:
    """The stream dict's /Length in bytes, following a single indirect
    integer-object reference (§7.3.8.2), or None when unresolvable."""
    m = _LEN_IND_RE.search(head)
    if m:
        return int_objs.get(int(m.group(1)))
    m = _LEN_DIR_RE.search(head)
    return int(m.group(1)) if m else None


def _scan_objects(
    data: bytes, gens: dict[int, int] | None = None
) -> dict[int, bytes]:
    """num -> object body (dict/stream bytes), last definition wins
    (incremental updates append redefinitions — §7.5.6). ``gens``
    (optional out-param) records each object's generation number — the
    per-object decryption key input for encrypted files.

    Sequential walk, not one big regex: FlateDecode payloads are
    arbitrary binary and can contain ``endobj`` / ``N G obj`` by chance,
    so each stream payload is SKIPPED using the dict's /Length (indirect
    integer refs resolved via a pre-pass) before looking for the object
    terminator; only when /Length is missing or inconsistent does the
    scan fall back to the first ``endstream`` marker."""
    # pre-pass: bare integer objects (the usual indirect /Length targets)
    # are tiny and stream-free, so a regex scan is safe for them
    int_objs = {
        int(m.group(1)): int(m.group(2))
        for m in _INT_OBJ_RE.finditer(data)
    }
    objs: dict[int, bytes] = {}
    pos = 0
    while True:
        m = _OBJ_HDR_RE.search(data, pos)
        if not m:
            break
        num = int(m.group(1))
        start = m.end()
        end = data.find(b"endobj", start)
        sm = _STREAM_KW_RE.search(data, start, end if end >= 0 else len(data))
        if sm is not None:
            # stream object: jump over the payload before trusting any
            # terminator keyword
            length = _declared_length(data[start : sm.start()], int_objs)
            pstart = sm.end()
            if length is not None and data[
                pstart + length : pstart + length + 11
            ].lstrip(b"\r\n").startswith(b"endstream"):
                es = data.find(b"endstream", pstart + length)
            else:
                es = data.find(b"endstream", pstart)
            if es < 0:
                break  # truncated file: nothing trustworthy past here
            end = data.find(b"endobj", es)
        if end < 0:
            break
        objs[num] = data[start:end]
        if gens is not None:
            gens[num] = int(m.group(2))
        pos = end + len(b"endobj")
    return objs


def _dict_of(body: bytes) -> bytes:
    """The top-level << … >> dictionary slice of an object body."""
    start = body.find(b"<<")
    if start < 0:
        return b""
    depth = 0
    i = start
    while i < len(body) - 1:
        pair = body[i : i + 2]
        if pair == b"<<":
            depth += 1
            i += 2
        elif pair == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return body[start:i]
        else:
            i += 1
    return body[start:]


def _value_after(d: bytes, key: bytes) -> bytes:
    """The raw token(s) following /key in a dict slice: a reference,
    number, name, or a balanced [...] array."""
    m = re.search(rb"/" + key + rb"\b", d)
    if not m:
        return b""
    rest = d[m.end() :].lstrip()
    if rest.startswith(b"["):
        depth = 0
        for i, ch in enumerate(rest):
            if ch == 0x5B:
                depth += 1
            elif ch == 0x5D:
                depth -= 1
                if depth == 0:
                    return rest[: i + 1]
        return rest
    if rest.startswith(b"<<"):
        return _dict_of(rest)
    if rest.startswith(b"/"):  # name value, e.g. /Filter /FlateDecode
        m2 = re.match(rb"/[A-Za-z0-9.#+-]+", rest)
        return m2.group(0) if m2 else b""
    m2 = re.match(rb"[^/\]>\r\n]*", rest)
    return m2.group(0).strip() if m2 else b""


def _raw_stream(body: bytes, objs: dict[int, bytes]) -> tuple[int, bytes]:
    """(payload_start, raw payload bytes) of an object body's stream.

    The payload slice honors the dict's /Length when it is consistent;
    otherwise it brackets on the LAST ``endstream`` in the body — correct
    because _scan_objects guarantees the body ends right after this
    object's own endstream/endobj, so binary payload bytes that happen to
    spell ``endstream`` can no longer truncate the slice."""
    sm = _STREAM_KW_RE.search(body)
    if not sm:
        return -1, b""
    pstart = sm.end()
    head = body[: sm.start()]
    ind = _LEN_IND_RE.search(head)
    if ind:
        num_m = re.search(rb"\d+", objs.get(int(ind.group(1)), b""))
        length = int(num_m.group(0)) if num_m else None
    else:
        length = _declared_length(head, {})
    if length is not None and body[
        pstart + length : pstart + length + 11
    ].lstrip(b"\r\n").startswith(b"endstream"):
        raw = body[pstart : pstart + length]
    else:
        es = body.rfind(b"endstream")
        raw = body[pstart : es if es > pstart else len(body)]
        # strip the single EOL the writer places before endstream
        # (§7.3.8.1) — it is not part of the stream data
        if raw.endswith(b"\r\n"):
            raw = raw[:-2]
        elif raw.endswith(b"\n") or raw.endswith(b"\r"):
            raw = raw[:-1]
    return pstart, raw


def _stream_data(body: bytes, objs: dict[int, bytes]) -> bytes:
    """Decoded (filter-applied) stream payload of an object body."""
    pstart, raw = _raw_stream(body, objs)
    if pstart < 0:
        return b""
    d = _dict_of(body)
    filt = _value_after(d, b"Filter")
    if not filt:
        return raw
    parms = _value_after(d, b"DecodeParms") or _value_after(d, b"DP")
    if parms:
        em = re.search(rb"/EarlyChange\s+(\d+)", parms)
        if em and int(em.group(1)) == 0:
            raise ValueError("PDF LZWDecode with EarlyChange 0 not "
                             "supported (EarlyChange 1 only)")
    # /Filter may be a single name or an array naming a CHAIN (§7.4.1,
    # applied first-to-last), e.g. [/ASCII85Decode /FlateDecode]
    out = raw
    for name in _NAME_RE.findall(filt):
        out = _apply_filter(name, out)
    if parms:
        out = _apply_predictor(out, parms)
    return out


def _apply_predictor(data: bytes, parms: bytes) -> bytes:
    """Undo a /Predictor DecodeParm (§7.4.4.4): 2 = TIFF horizontal
    differencing, 10-15 = the PNG row filters (each row prefixed by its
    filter-type byte, exactly the PNG §6 algorithms)."""
    pm = re.search(rb"/Predictor\s+(\d+)", parms)
    pred = int(pm.group(1)) if pm else 1
    if pred <= 1:
        return data

    def _i(key: bytes, default: int) -> int:
        m = re.search(rb"/" + key + rb"\s+(\d+)", parms)
        return int(m.group(1)) if m else default

    colors = _i(b"Colors", 1)
    bpc = _i(b"BitsPerComponent", 8)
    columns = _i(b"Columns", 1)
    if bpc != 8:
        raise ValueError(
            f"PDF predictor with BitsPerComponent {bpc} not supported"
        )
    bpp = colors
    rowlen = columns * colors
    if pred == 2:  # TIFF horizontal differencing
        out = bytearray(data)
        for r0 in range(0, len(out) - rowlen + 1, rowlen):
            for i in range(bpp, rowlen):
                out[r0 + i] = (out[r0 + i] + out[r0 + i - bpp]) & 0xFF
        return bytes(out)
    if not 10 <= pred <= 15:
        raise ValueError(f"PDF predictor {pred} not supported")
    out = bytearray()
    prev = bytearray(rowlen)
    pos = 0
    while pos < len(data):
        ft = data[pos]
        row = bytearray(data[pos + 1 : pos + 1 + rowlen])
        pos += 1 + rowlen
        for x in range(len(row)):
            a = row[x - bpp] if x >= bpp else 0
            b = prev[x]
            if ft == 0:
                break
            if ft == 1:
                row[x] = (row[x] + a) & 0xFF
            elif ft == 2:
                row[x] = (row[x] + b) & 0xFF
            elif ft == 3:
                row[x] = (row[x] + ((a + b) >> 1)) & 0xFF
            elif ft == 4:
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                prd = a if (pa <= pb and pa <= pc) else (
                    b if pb <= pc else c
                )
                row[x] = (row[x] + prd) & 0xFF
            else:
                raise ValueError(f"PDF PNG-predictor row type {ft} "
                                 "invalid")
        out += row
        prev = row
    return bytes(out)


def unpack_lzw(data: bytes) -> bytes:
    """PDF LZWDecode (§7.4.4.2) with the default EarlyChange = 1:
    byte-rooted table, codes 256 = Clear and 257 = EOD, codes packed
    MSB-first, 9-bit initial width that bumps when the table reaches
    2^width - 1 entries (one code earlier than GIF's LZW), capped at 12
    bits. Decodes until EOD or the end of the stream. TIFF's Section 13
    LZW is the same variant; operators/tiff_codec.py decodes its strips
    with this."""
    clear, eod = 256, 257
    out = bytearray()
    acc = nbits = pos = 0

    def read(width: int) -> int:
        nonlocal acc, nbits, pos
        while nbits < width:
            if pos >= len(data):
                return eod
            acc = (acc << 8) | data[pos]
            nbits += 8
            pos += 1
        nbits -= width
        code = (acc >> nbits) & ((1 << width) - 1)
        acc &= (1 << nbits) - 1
        return code

    def fresh() -> list[bytes]:
        return [bytes([i]) for i in range(256)] + [b"", b""]

    table = fresh()
    width = 9
    prev: bytes | None = None
    while True:
        code = read(width)
        if code == clear:
            table = fresh()
            width = 9
            prev = None
            continue
        if code == eod:
            break
        if code < len(table) and (code < 256 or table[code]):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError("PDF LZW code out of range (corrupt)")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
        prev = entry
        if len(table) >= (1 << width) - 1 and width < 12:
            width += 1
    return bytes(out)


def _apply_filter(name: bytes, raw: bytes) -> bytes:
    if name == b"Crypt":
        # §7.4.10: the Crypt step is decryption, which _decrypt_streams
        # already applied (or skipped for /Identity) before filters run —
        # at this stage it is a pass-through, not a decode error.
        return raw
    if name == b"FlateDecode":
        try:
            return zlib.decompress(raw)
        except zlib.error:
            # some writers pad Length; try raw deflate
            try:
                return zlib.decompressobj().decompress(raw)
            except zlib.error as exc:
                raise ValueError(f"PDF FlateDecode corrupt: {exc}")
    if name == b"LZWDecode":
        return unpack_lzw(raw)
    if name == b"ASCIIHexDecode":
        body = raw.split(b">")[0]
        hexs = re.sub(rb"\s+", b"", body)
        if len(hexs) & 1:
            hexs += b"0"  # §7.4.2: odd count implies a trailing 0
        try:
            return bytes.fromhex(hexs.decode("ascii"))
        except (UnicodeDecodeError, ValueError) as exc:
            raise ValueError(f"PDF ASCIIHexDecode corrupt: {exc}")
    if name == b"ASCII85Decode":
        import base64

        body = raw.split(b"~>")[0]
        cleaned = re.sub(rb"\s+", b"", body)
        try:
            return base64.a85decode(b"<~" + cleaned + b"~>", adobe=True)
        except ValueError as exc:
            raise ValueError(f"PDF ASCII85Decode corrupt: {exc}")
    if name == b"RunLengthDecode":
        # §7.4.5: length byte 0-127 = copy n+1 literals; 129-255 = the
        # next byte repeated 257-n times; 128 = EOD
        out_rl = bytearray()
        i = 0
        while i < len(raw):
            n = raw[i]
            if n == 128:
                return bytes(out_rl)
            if n < 128:
                chunk = raw[i + 1 : i + 2 + n]
                if len(chunk) != n + 1:
                    raise ValueError("PDF RunLengthDecode truncated")
                out_rl += chunk
                i += 2 + n
            else:
                if i + 1 >= len(raw):
                    raise ValueError("PDF RunLengthDecode truncated")
                out_rl += raw[i + 1 : i + 2] * (257 - n)
                i += 2
        raise ValueError("PDF RunLengthDecode missing EOD marker")
    raise ValueError(
        f"unsupported PDF stream filter {name.decode('latin-1')}"
    )


# §7.6.3.3 Algorithm 2's 32-byte password padding constant
_PW_PAD = bytes(
    (
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E,
        0x56, 0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68,
        0x3E, 0x80, 0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    )
)


def _rc4(key: bytes, data: bytes) -> bytes:
    """RC4 stream cipher (the public algorithm §7.6.2 names)."""
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray()
    i = j = 0
    for c in data:
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out.append(c ^ s[(s[i] + s[j]) & 0xFF])
    return bytes(out)


def _string_value_after(d: bytes, key: bytes) -> bytes | None:
    """A PDF string value (literal or hex) following ``/key`` in dict
    bytes — _value_after's grammar doesn't cover parenthesized strings
    with arbitrary escapes, which /O and /U require."""
    m = re.search(rb"/" + key + rb"\s*", d)
    if not m:
        return None
    i = m.end()
    if d[i : i + 1] == b"(":
        s, _ = _literal_string(d, i)
        return s
    if d[i : i + 1] == b"<":
        hm = _HEX_STRING_RE.match(d, i)
        if hm:
            hexs = re.sub(rb"\s+", b"", hm.group(1))
            if len(hexs) & 1:
                hexs += b"0"
            return bytes.fromhex(hexs.decode("ascii"))
    return None


def _hash_2b(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """The R6 hardened password hash (ISO 32000-2 §7.6.4.3.4,
    Algorithm 2.B): SHA-256 seeded, then rounds of x64-replicated
    AES-128-CBC encryption whose output picks SHA-256/384/512 for the
    next key — at least 64 rounds, continuing while the last byte of
    the encrypted block exceeds (round - 32). The loop formulation
    matches the widely-deployed readers' semantics."""
    import hashlib

    from .aes import aes_cbc_encrypt_raw

    k = hashlib.sha256(password + salt + udata).digest()
    i = 0
    e = b"\xff"
    while i < 64 or e[-1] > i - 32:
        k1 = (password + k + udata) * 64
        e = aes_cbc_encrypt_raw(k[:16], k[16:32], k1)
        k = (
            hashlib.sha256,
            hashlib.sha384,
            hashlib.sha512,
        )[sum(e[:16]) % 3](e).digest()
        i += 1
    return k[:32]


def _file_decryption_key(
    content: bytes, objs: dict[int, bytes]
) -> tuple[bytes, str]:
    """(file encryption key, cipher "rc4" | "aes") for a
    standard-security-handler PDF with an EMPTY user password — the
    ubiquitous "encrypted but freely viewable" case (§7.6.3.3
    Algorithm 2, validated via Algorithm 6's /U check). Supported:
    /V 1/2 RC4 (rev 2/3) and /V 4 crypt filters /AESV2 (AES-128-CBC)
    or /V2 (RC4-128), rev 4. AES-256 (/V 5), custom handlers and real
    user passwords raise the named quarantine error."""
    em = re.search(rb"/Encrypt\s+(\d+)\s+\d+\s+R", content)
    if not em:
        raise ValueError("encrypted PDF with non-indirect /Encrypt "
                         "dictionary not supported")
    ed = _dict_of(objs.get(int(em.group(1)), b""))
    filt = _value_after(ed, b"Filter")
    vm = re.search(rb"/V\s+(\d+)", ed)
    rm = re.search(rb"/R\s+(\d+)", ed)
    v = int(vm.group(1)) if vm else 0
    r = int(rm.group(1)) if rm else 0
    cipher = "rc4"
    supported = filt == b"/Standard" and (
        (v in (1, 2) and r in (2, 3))
        or (v == 4 and r == 4)
        or (v == 5 and r == 6)
    )
    if v in (4, 5):
        # crypt-filter form (§7.6.5): the default stream filter names
        # the actual cipher
        cfm = re.search(rb"/CFM\s*/(\w+)", ed)
        if cfm and cfm.group(1) == b"AESV3" and v == 5:
            cipher = "aes256"
        elif cfm and cfm.group(1) == b"AESV2" and v == 4:
            cipher = "aes"
        elif cfm and cfm.group(1) == b"V2" and v == 4:
            cipher = "rc4"
        else:
            supported = False
    if not supported:
        raise ValueError(
            "encrypted PDF uses an unsupported security handler "
            f"(/Filter {filt.decode('latin-1') if filt else '?'} /V {v} "
            f"/R {r}) — builtin supports Standard RC4 rev 2-4, AESV2 "
            "and AESV3/R6; custom handlers quarantine"
        )
    if cipher == "aes256":
        # R6 (§7.6.4.4.10): /U = hash(32) + validation salt(8) +
        # key salt(8); /UE = file key wrapped with the key-salt hash
        u = _string_value_after(ed, b"U")
        ue = _string_value_after(ed, b"UE")
        if u is None or len(u) < 48 or ue is None or len(ue) < 32:
            raise ValueError("encrypted PDF /Encrypt dict missing "
                             "R6 /U//UE entries")
        if _hash_2b(b"", u[32:40]) != u[:32]:
            raise ValueError(
                "password-protected PDF (non-empty user password) — "
                "builtin extractor only opens empty-user-password files"
            )
        ikey = _hash_2b(b"", u[40:48])
        from .aes import decrypt_block as _aes_dec

        # unwrap /UE with AES-256-CBC, zero IV, no padding
        prev = b"\x00" * 16
        key = b""
        for off in range(0, 32, 16):
            block = ue[off : off + 16]
            key += bytes(
                a ^ b for a, b in zip(_aes_dec(ikey, block), prev)
            )
            prev = block
        return key, cipher
    lm = re.search(rb"/Length\s+(\d+)", ed)
    n = (int(lm.group(1)) if lm else 40) // 8
    o = _string_value_after(ed, b"O")
    u = _string_value_after(ed, b"U")
    pm = re.search(rb"/P\s+(-?\d+)", ed)
    if o is None or u is None or pm is None:
        raise ValueError("encrypted PDF /Encrypt dict missing O/U/P")
    # first element of the trailer /ID array (hex string)
    idm = re.search(rb"/ID\s*\[\s*<([0-9A-Fa-f]*)>", content)
    id0 = bytes.fromhex(idm.group(1).decode("ascii")) if idm else b""
    import hashlib
    import struct as _struct

    seed = _PW_PAD + o[:32] + _struct.pack("<i", int(pm.group(1))) + id0
    # Algorithm 2 step f: /EncryptMetadata false appends 0xFFFFFFFF
    if re.search(rb"/EncryptMetadata\s+false", ed):
        seed += b"\xff\xff\xff\xff"
    h = hashlib.md5(seed).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:n]).digest()
    key = h[:n]
    # validate the EMPTY user password against /U (Algorithms 4/5 + 6)
    if r == 2:
        u_calc = _rc4(key, _PW_PAD)
        ok = u_calc == u[:32]
    else:
        x = hashlib.md5(_PW_PAD + id0).digest()
        x = _rc4(key, x)
        for i in range(1, 20):
            x = _rc4(bytes(b ^ i for b in key), x)
        ok = x == u[:16]
    if not ok:
        raise ValueError(
            "password-protected PDF (non-empty user password) — "
            "builtin extractor only opens empty-user-password files"
        )
    return key, cipher


def _array_items(val: bytes) -> list[bytes]:
    """Top-level items of a [ … ] array slice: names, numbers, nulls,
    balanced << >> dicts, and ``n g R`` references (kept as one item)."""
    inner = val.strip()
    if inner.startswith(b"["):
        inner = inner[1:-1] if inner.endswith(b"]") else inner[1:]
    items: list[bytes] = []
    i, n = 0, len(inner)
    while i < n:
        c = inner[i : i + 1]
        if c in b" \t\r\n":
            i += 1
            continue
        if inner[i : i + 2] == b"<<":
            depth, j = 0, i
            while j < n - 1:
                if inner[j : j + 2] == b"<<":
                    depth += 1
                    j += 2
                elif inner[j : j + 2] == b">>":
                    depth -= 1
                    j += 2
                    if depth == 0:
                        break
                else:
                    j += 1
            items.append(inner[i:j])
            i = j
            continue
        m = _ARRAY_ITEM_RE.match(inner, i)
        if m:
            items.append(m.group(0))
            i = m.end()
        else:
            i += 1
    return items


def _crypt_filter_is_identity(head: bytes, objs: dict[int, bytes]) -> bool | None:
    """Whether this stream's /Crypt decode filter (§7.4.10) names the
    Identity crypt filter: True → payload is plaintext (skip the
    standard stream decryption), False → a real named crypt filter,
    None → the stream has no /Crypt filter at all.

    The decision reads ONLY the /DecodeParms (or /DP) entry at the
    /Crypt position in the filter chain — a legacy ``/Name /Im1`` key
    in the stream dict (older image XObjects) or an ``/Identity-H``
    encoding elsewhere in the header must not sway it. Per §7.4.10 a
    missing DecodeParms /Name defaults to Identity."""
    d = _dict_of(head) or head
    filt = _value_after(d, b"Filter")
    names = _NAME_RE.findall(filt) if filt else []
    if b"Crypt" not in names:
        return None
    parms_val = _value_after(d, b"DecodeParms") or _value_after(d, b"DP")
    if not parms_val:
        return True  # no parms → default /Name /Identity
    if parms_val.strip().startswith(b"["):
        items = _array_items(parms_val)
        idx = names.index(b"Crypt")
        sub = items[idx] if idx < len(items) else b""
    else:
        sub = parms_val
    ref = re.match(rb"(\d+)\s+\d+\s+R\b", sub.strip())
    if ref:
        num = int(ref.group(1))
        if num not in objs:
            # Unresolvable indirect DecodeParms: we cannot see the
            # /Name, so defaulting to Identity would skip decryption on
            # a genuinely crypt-filtered stream and emit ciphertext as
            # text. Treat it as a real crypt filter (decrypt) — the
            # conservative reading; a truly-Identity stream then fails
            # the decrypt and lands in the named quarantine instead of
            # silently producing garbage.
            return False
        sub = _dict_of(objs[num])
    nm = re.search(rb"/Name\s*/([A-Za-z0-9.#+-]+)", sub)
    return nm is None or nm.group(1) == b"Identity"


def _decrypt_streams(
    objs: dict[int, bytes],
    gens: dict[int, int],
    key: bytes,
    cipher: str = "rc4",
) -> None:
    """Replace every stream object's payload with its plaintext in
    place (per-object key = MD5(file_key + objnum[3 LE] + gen[2 LE]
    [+ "sAlT" for AES]), §7.6.2 Algorithm 1), so the rest of the
    module — filters, ObjStm expansion, ToUnicode, page walk — runs
    exactly as on a plain file. AES plaintext is shorter than the
    IV-and-padding-carrying ciphertext, so the dict's direct /Length is
    rewritten to match (an indirect /Length goes stale, which is fine:
    _raw_stream's consistency check then falls back to the endstream
    bracket)."""
    import hashlib

    for num, body in list(objs.items()):
        pstart, raw = _raw_stream(body, objs)
        if pstart < 0:
            continue
        head0 = body[:pstart]
        # ISO 32000 §7.5.8.2: cross-reference streams are NEVER
        # encrypted (they must parse before /Encrypt is resolved) —
        # real AESV2/AESV3 files are PDF 1.6+ and nearly always carry
        # one, and running AES over its plaintext would raise a padding
        # ValueError and quarantine a supported file. §7.4.10: a /Crypt
        # filter naming /Identity likewise marks the payload plaintext.
        if re.search(rb"/Type\s*/XRef\b", head0):
            continue
        if _crypt_filter_is_identity(head0, objs):
            continue
        gen = gens.get(num, 0)
        if cipher == "aes256":
            # V5 uses the file key directly for every object (§7.6.2)
            from .aes import aes_cbc_decrypt

            plain = aes_cbc_decrypt(key, raw)
        else:
            seed = (
                key
                + num.to_bytes(3, "little")
                + gen.to_bytes(2, "little")
            )
            if cipher == "aes":
                seed += b"sAlT"
            k = hashlib.md5(seed).digest()[: min(len(key) + 5, 16)]
            if cipher == "aes":
                from .aes import aes_cbc_decrypt

                plain = aes_cbc_decrypt(k, raw)
            else:
                plain = _rc4(k, raw)
        head = body[:pstart]
        if len(plain) != len(raw):
            head = re.sub(
                rb"/Length\s+\d+(?=[\s/>])",
                b"/Length %d" % len(plain),
                head,
                count=1,
            )
        objs[num] = head + plain + body[pstart + len(raw) :]


def _expand_object_streams(objs: dict[int, bytes]) -> None:
    """Merge objects stored inside /Type /ObjStm streams (§7.5.7, the
    PDF 1.5+ compressed-object convention most modern writers use for
    page and font DICTIONARIES) into ``objs`` in place.

    An object stream's decoded payload opens with /N integer pairs
    "objnum offset" occupying the first /First bytes; each stored
    object is the slice between consecutive offsets. Stored objects are
    bare dicts (§7.5.7 forbids streams inside ObjStm), which the rest
    of this module already handles — _dict_of finds the << >> and page
    /Contents keep referencing ordinary stream objects. Top-level
    definitions win on number collision (setdefault), matching readers
    that prefer the plainly-visible object."""
    for body in list(objs.values()):
        d = _dict_of(body)
        if not re.search(rb"/Type\s*/ObjStm\b", d):
            continue
        data = _stream_data(body, objs)
        nm = re.search(rb"\d+", _resolve(_value_after(d, b"N"), objs))
        fm = re.search(rb"\d+", _resolve(_value_after(d, b"First"), objs))
        if not nm or not fm:
            raise ValueError("PDF object stream missing /N or /First")
        n, first = int(nm.group(0)), int(fm.group(0))
        header = data[:first].split()
        if len(header) < 2 * n:
            raise ValueError("PDF object stream header shorter than /N "
                             "pairs (truncated)")
        pairs = [
            (int(header[2 * i]), int(header[2 * i + 1])) for i in range(n)
        ]
        for i, (onum, off) in enumerate(pairs):
            end = (
                first + pairs[i + 1][1] if i + 1 < n else len(data)
            )
            objs.setdefault(onum, data[first + off : end])


def _resolve(ref_or_body: bytes, objs: dict[int, bytes]) -> bytes:
    """Follow a single ``N 0 R`` reference, else return the bytes."""
    m = re.fullmatch(rb"\s*(\d+)\s+\d+\s+R\s*", ref_or_body or b"")
    if m:
        return objs.get(int(m.group(1)), b"")
    return ref_or_body


# -- ToUnicode CMap (§9.10.3) ------------------------------------------------

_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_HEX_RE = re.compile(rb"<([0-9A-Fa-f]+)>")


def _utf16be(hexs: bytes) -> str:
    return bytes.fromhex(hexs.decode("ascii")).decode("utf-16-be", "replace")


def parse_tounicode(cmap: bytes) -> dict[int, str]:
    """code -> unicode string, from bfchar pairs and bfrange triples
    (the array-destination bfrange form is also handled)."""
    out: dict[int, str] = {}
    for m in _BFCHAR_RE.finditer(cmap):
        toks = _HEX_RE.findall(m.group(1))
        for src, dst in zip(toks[0::2], toks[1::2]):
            out[int(src, 16)] = _utf16be(dst)
    for m in _BFRANGE_RE.finditer(cmap):
        body = m.group(1)
        # form A: <lo> <hi> <dst>      form B: <lo> <hi> [<d0> <d1> …]
        for rm in re.finditer(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(\[[^\]]*\]|<[0-9A-Fa-f]+>)",
            body,
        ):
            lo, hi = int(rm.group(1), 16), int(rm.group(2), 16)
            dst = rm.group(3)
            if dst.startswith(b"["):
                dsts = _HEX_RE.findall(dst)
                for i, d in enumerate(dsts):
                    if lo + i <= hi:
                        out[lo + i] = _utf16be(d)
            else:
                base = int(dst[1:-1], 16)
                for c in range(lo, hi + 1):
                    out[c] = chr(base + (c - lo))
    return out


def _font_cmaps(
    page_dict: bytes, objs: dict[int, bytes]
) -> dict[bytes, dict[int, str] | None]:
    """font resource name -> ToUnicode map (None = no CMap, byte font)."""
    res = _resolve(_value_after(page_dict, b"Resources"), objs)
    if res and not res.lstrip().startswith(b"<<"):
        res = _dict_of(res)
    fonts_val = _value_after(res, b"Font")
    fonts_dict = _resolve(fonts_val, objs)
    if fonts_dict and not fonts_dict.lstrip().startswith(b"<<"):
        fonts_dict = _dict_of(fonts_dict)
    cmaps: dict[bytes, dict[int, str] | None] = {}
    for fm in re.finditer(rb"/([A-Za-z0-9.#+-]+)\s+(\d+)\s+\d+\s+R", fonts_dict or b""):
        name, ref = fm.group(1), int(fm.group(2))
        fbody = objs.get(ref, b"")
        tu = _value_after(_dict_of(fbody), b"ToUnicode")
        tub = _resolve(tu, objs)
        cmaps[name] = parse_tounicode(_stream_data(tub, objs)) if tub else None
    return cmaps


# -- content-stream text (§9.4.3) -------------------------------------------

_ESCAPES = {
    b"n": "\n", b"r": "\r", b"t": "\t", b"b": "\b", b"f": "\f",
    b"(": "(", b")": ")", b"\\": "\\",
}


def _literal_string(data: bytes, i: int) -> tuple[bytes, int]:
    """Raw bytes of the ``(…)`` literal starting at data[i] == '(' and
    the index just past its closing paren; escapes resolved."""
    out = bytearray()
    depth = 1
    i += 1
    while i < len(data) and depth:
        ch = data[i : i + 1]
        if ch == b"\\":
            nxt = data[i + 1 : i + 2]
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt].encode("latin-1")
                i += 2
            elif oct_m := _OCTAL_RE.match(data, i + 1):
                out.append(int(oct_m.group(0), 8) & 0xFF)
                i = oct_m.end()
            elif nxt in (b"\n", b"\r"):
                # line continuation: \<EOL> elides the whole EOL, and
                # §7.3.4.2 treats \<CRLF> as ONE end-of-line — consume
                # the LF after a CR too, else continued literals gain a
                # spurious newline
                i += 3 if nxt == b"\r" and data[i + 2 : i + 3] == b"\n" else 2
            else:
                # \8, \9 or any other unknown escape: §7.3.4.2 ignores
                # the backslash and keeps the character after it
                i += 1
        elif ch == b"(":
            depth += 1
            out += ch
            i += 1
        elif ch == b")":
            depth -= 1
            if depth:
                out += ch
            i += 1
        else:
            out += ch
            i += 1
    return bytes(out), i


def _decode_bytes(raw: bytes, cmap: dict[int, str] | None) -> str:
    if cmap is None:
        return raw.decode("latin-1", "replace")
    # CID fonts address glyphs with 2-byte codes (the common Identity-H
    # layout); odd trailing byte falls back to 1-byte lookup
    out = []
    i = 0
    while i + 1 < len(raw):
        code = (raw[i] << 8) | raw[i + 1]
        if code in cmap:
            out.append(cmap[code])
            i += 2
        elif raw[i] in cmap:
            out.append(cmap[raw[i]])
            i += 1
        else:
            i += 2  # unmapped glyph
    if i < len(raw) and raw[i] in cmap:
        out.append(cmap[raw[i]])
    return "".join(out)


def _page_text(
    content: bytes, cmaps: dict[bytes, dict[int, str] | None]
) -> str:
    """Concatenate shown strings; newline per BT…ET block and per
    ``'``/``"``/``T*``/``TD``/``Td`` line move."""
    blocks: list[str] = []
    cur: list[str] = []
    cmap: dict[int, str] | None = None
    pending: list[bytes] = []  # raw strings since last operator
    i = 0
    n = len(content)

    def flush_shown() -> None:
        for raw in pending:
            cur.append(_decode_bytes(raw, cmap))
        pending.clear()

    while i < n:
        ch = content[i : i + 1]
        if ch == b"(":
            raw, i = _literal_string(content, i)
            pending.append(raw)
            continue
        if ch == b"<" and content[i : i + 2] != b"<<":
            m = _HEX_STRING_RE.match(content, i)
            if m:
                hx = re.sub(rb"\s", b"", m.group(1))
                if len(hx) % 2:
                    hx += b"0"
                pending.append(bytes.fromhex(hx.decode("ascii")))
                i = m.end()
                continue
        if ch == b"/":
            m = _NAME_RE.match(content, i)
            if m:
                name = m.group(1)
                i = m.end()
                # lookahead for Tf: "/F1 12 Tf"
                if _TF_RE.match(content, i, i + 32):
                    cmap = cmaps.get(name)
                continue
        m = _OPERATOR_RE.match(content, i)
        if m:
            op = m.group(0)
            if op in (b"'", b"\"", b"T*", b"TD", b"Td") and cur:
                cur.append("\n")  # ' and " imply T* BEFORE showing (§9.4.3)
            if op in (b"Tj", b"TJ", b"'", b"\""):
                flush_shown()
            elif op == b"BT":
                cur = []
            elif op == b"ET":
                blocks.append("".join(cur))
                cur = []
            else:
                pending.clear()  # strings were operands of a non-text op
            i = m.end()
            continue
        i = _FILLER_RE.match(content, i + 1).end()
    if cur:  # unterminated BT block: keep what was shown
        blocks.append("".join(cur))
    return "\n".join(b for b in blocks if b)


def _page_order(objs: dict[int, bytes]) -> list[int]:
    """Page object numbers in PAGE-TREE order (§7.7.3: the document's
    page sequence is the depth-first order of the catalog's /Pages
    /Kids arrays, NOT object-number order — incremental updates and
    reordered writers routinely number pages out of sequence). Page
    objects the tree walk cannot reach (broken /Root, missing Kids)
    are appended in object-number order so no page is silently
    dropped."""
    order: list[int] = []
    visited: set[int] = set()

    def walk(num: int, depth: int) -> None:
        if num in visited or depth > 64:  # cycle / hostile-depth guard
            return
        visited.add(num)
        d = _dict_of(objs.get(num, b""))
        if re.search(rb"/Type\s*/Page\b(?!s)", d):
            order.append(num)
            return
        for m in _REF_RE.finditer(_value_after(d, b"Kids")):
            walk(int(m.group(1)), depth + 1)

    for num in sorted(objs):
        root = _dict_of(objs[num])
        if re.search(rb"/Type\s*/Catalog\b", root):
            m = re.match(
                rb"(\d+)", _value_after(root, b"Pages").strip() or b"-"
            )
            if m:
                walk(int(m.group(1)), 0)
            break
    reached = set(order)
    for num in sorted(objs):
        if num not in reached and re.search(
            rb"/Type\s*/Page\b(?!s)", _dict_of(objs[num])
        ):
            order.append(num)
    return order


def extract_pdf_text(content: bytes) -> str:
    """Text of every page, pages joined by newline — the same contract
    as the pdfplumber branch in sources/corpus.decode_document."""
    if not content.startswith(b"%PDF"):
        raise ValueError("not a PDF (missing %PDF header)")
    # Whole-buffer scan: linearized / incrementally-updated files place
    # the trailer's /Encrypt after the FIRST %%EOF, so a prefix scan
    # misses it. Round 6: the ubiquitous empty-user-password RC4
    # standard-handler case now DECRYPTS (key from Algorithm 2,
    # validated against /U, every stream payload replaced with its
    # plaintext up front); anything else still quarantines with a named
    # error from _file_decryption_key. A false positive (the 8-byte
    # ASCII sequence inside a compressed payload) merely attempts a key
    # derivation that fails to a named quarantine — the safe direction.
    gens: dict[int, int] = {}
    objs = _scan_objects(content, gens)
    if b"/Encrypt" in content:
        key, cipher = _file_decryption_key(content, objs)
        _decrypt_streams(objs, gens, key, cipher)
    _expand_object_streams(objs)
    pages: list[str] = []
    for num in _page_order(objs):
        body = objs[num]
        d = _dict_of(body)
        cmaps = _font_cmaps(d, objs)
        contents = _value_after(d, b"Contents")
        refs = [int(r) for r in _REF_RE.findall(contents)]
        stream = b"".join(_stream_data(objs.get(r, b""), objs) for r in refs)
        pages.append(_page_text(stream, cmaps))
    if not pages:
        # empty text is a silent lie for a truncated/unsupported file —
        # quarantine with a named reason instead (S7). /ObjStm payloads
        # ARE expanded above, so reaching here with one present means
        # the stream didn't yield page dicts (cross-reference-stream-
        # only layout or corruption).
        raise ValueError(
            "no page objects found (truncated or unsupported PDF)"
        )
    return "\n".join(pages)


# --- embedded image XObjects (the scanned-PDF OCR front-end, S4) -----

_IMG_UNSUPPORTED = {
    b"JBIG2Decode": "JBIG2",
    b"JPXDecode": "JPEG 2000",
}


def _decode_ccitt_image(
    num: int, d: bytes, raw: bytes, rec: dict
) -> dict:
    """/CCITTFaxDecode image payload -> packed 1-bit sample rows (§7.4.6
    + the T.4/T.6 decoder in operators/ccitt_codec.py). Black-and-white
    scans — the dominant encoding of real scanned announcement pages —
    thereby decode with zero third-party libraries. The packed bits
    follow the filter's declared sense (/BlackIs1; default false means
    0 bits are black, i.e. 1 = white, which is exactly the DeviceGray
    sample sense the pixel reshaper expects). /Decode arrays are not
    applied (out of scope, as for every other image here)."""
    import numpy as np

    from ..operators.ccitt_codec import decode_ccitt

    parms = _value_after(d, b"DecodeParms") or _value_after(d, b"DP")

    def _pi(key: bytes, default: int) -> int:
        m = re.search(rb"/" + key + rb"\s+(-?\d+)", parms)
        return int(m.group(1)) if m else default

    columns = _pi(b"Columns", 1728)
    rows = _pi(b"Rows", 0) or rec["height"]
    px = decode_ccitt(
        raw,
        columns,
        rows=rows,
        k=_pi(b"K", 0),
        byte_align=bool(re.search(rb"/EncodedByteAlign\s+true", parms)),
    )
    ones_are_black = bool(re.search(rb"/BlackIs1\s+true", parms))
    bits = (px == 0) if ones_are_black else (px > 0)
    packed = np.packbits(bits.astype(np.uint8), axis=1)
    rec["bits_per_component"] = 1
    rec["color_space"] = rec["color_space"] or "DeviceGray"
    rec["width"] = rec["width"] or columns
    rec["height"] = rec["height"] or px.shape[0]
    rec.update(format="raw", data=packed.tobytes())
    return rec


def _int_value(d: bytes, key: bytes, objs: dict[int, bytes]) -> int | None:
    """Integer value of /key, resolving one level of indirection."""
    v = _value_after(d, key).strip()
    if not v:
        return None
    rm = re.fullmatch(rb"(\d+)\s+\d+\s+R", v)
    if rm:
        v = objs.get(int(rm.group(1)), b"")
    m = re.search(rb"\d+", v)
    return int(m.group(0)) if m else None


def _colorspace_name(d: bytes, objs: dict[int, bytes]) -> str:
    """Best-effort /ColorSpace name: direct name, first name of an
    array form ([/Indexed base …], [/ICCBased N 0 R]), or the same
    after resolving an indirect reference."""
    v = _value_after(d, b"ColorSpace").strip()
    rm = re.fullmatch(rb"(\d+)\s+\d+\s+R", v)
    if rm:
        body = objs.get(int(rm.group(1)), b"")
        v = _dict_of(body) or body
    m = _NAME_RE.search(v)
    return m.group(1).decode("latin-1") if m else ""


def _image_record(
    num: int, page: int, body: bytes, objs: dict[int, bytes]
) -> dict:
    """One decoded image XObject. ``format`` is ``"jpeg"`` when the
    terminal filter is /DCTDecode (the payload IS a complete JFIF blob,
    §7.4.8 — decodable by operators.jpeg_codec.decode_jpeg with zero
    third-party libraries) and ``"raw"`` when every filter in the chain
    is one this module decodes itself (data = the row-major sample
    buffer). CCITT/JBIG2/JPX raise NAMED errors (S7 quarantine)."""
    d = _dict_of(body)
    _, raw = _raw_stream(body, objs)
    filt_names = _NAME_RE.findall(_value_after(d, b"Filter"))
    rec = {
        "obj": num,
        "page": page,
        "width": _int_value(d, b"Width", objs),
        "height": _int_value(d, b"Height", objs),
        "bits_per_component": _int_value(d, b"BitsPerComponent", objs) or 8,
        "color_space": _colorspace_name(d, objs),
    }
    out = raw
    for i, name in enumerate(filt_names):
        if name in _IMG_UNSUPPORTED:
            raise ValueError(
                f"PDF image object {num} uses {_IMG_UNSUPPORTED[name]} "
                f"({name.decode('latin-1')}) — not supported"
            )
        if name in (b"DCTDecode", b"CCITTFaxDecode"):
            if i != len(filt_names) - 1:
                raise ValueError(
                    f"PDF image object {num}: /{name.decode('latin-1')} "
                    "is not the terminal filter"
                )
            if name == b"CCITTFaxDecode":
                return _decode_ccitt_image(num, d, bytes(out), rec)
            rec.update(format="jpeg", data=bytes(out))
            return rec
        out = _apply_filter(name, out)
    parms = _value_after(d, b"DecodeParms") or _value_after(d, b"DP")
    if parms:
        out = _apply_predictor(out, parms)
    rec.update(format="raw", data=bytes(out))
    return rec


def extract_pdf_images(content: bytes) -> list[dict]:
    """Embedded image XObjects in page order — the from-spec front half
    of the reference's scanned-document OCR path
    (manual_purchase_apply_extractor.py:75-181: PyMuPDF page render →
    EasyOCR). A scanned announcement PDF is a page tree whose content
    streams paint one full-page /Subtype /Image XObject each (§8.9.5);
    extracting THOSE yields exactly the pixels the reference renders,
    without a rasterizer. Shares the whole S3 machinery: object scan,
    standard-handler decryption, /ObjStm expansion, filter chains,
    predictors.

    Each dict: obj, page (0-based; -1 for images reachable only outside
    the page tree), width, height, bits_per_component, color_space,
    format ("jpeg" = undecoded JFIF payload | "raw" = decoded sample
    buffer), data.
    """
    if not content.startswith(b"%PDF"):
        raise ValueError("not a PDF (missing %PDF header)")
    gens: dict[int, int] = {}
    objs = _scan_objects(content, gens)
    if b"/Encrypt" in content:
        key, cipher = _file_decryption_key(content, objs)
        _decrypt_streams(objs, gens, key, cipher)
    _expand_object_streams(objs)

    def is_image(body: bytes) -> bool:
        return bool(re.search(rb"/Subtype\s*/Image\b", _dict_of(body)))

    images: list[dict] = []
    seen: set[int] = set()
    page = 0
    for num in _page_order(objs):
        d = _dict_of(objs[num])
        res = _value_after(d, b"Resources").strip()
        rm = re.fullmatch(rb"(\d+)\s+\d+\s+R", res)
        if rm:
            res = _dict_of(objs.get(int(rm.group(1)), b""))
        xobj = _value_after(res, b"XObject").strip()
        rm = re.fullmatch(rb"(\d+)\s+\d+\s+R", xobj)
        if rm:
            xobj = _dict_of(objs.get(int(rm.group(1)), b""))
        for m in _REF_RE.finditer(xobj):
            ref = int(m.group(1))
            body = objs.get(ref, b"")
            if body and is_image(body):
                images.append(_image_record(ref, page, body, objs))
                seen.add(ref)
        # inline BI…ID…EI images live in the page's CONTENT streams
        contents = _value_after(d, b"Contents")
        refs = [int(r) for r in _REF_RE.findall(contents)]
        stream = b"".join(
            _stream_data(objs.get(r, b""), objs) for r in refs
        )
        images.extend(_inline_images(stream, page))
        page += 1
    # orphans: image objects not reachable through any page's resources
    # (broken writers, or a page tree this subset didn't walk) — still
    # worth surfacing for OCR rather than silently dropping
    for num in sorted(objs):
        if num not in seen and is_image(objs[num]):
            images.append(_image_record(num, -1, objs[num], objs))
    return images


# --- inline images (BI … ID … EI, §8.9.7) ----------------------------

_ABBREV_CS = {
    b"G": "DeviceGray", b"RGB": "DeviceRGB", b"CMYK": "DeviceCMYK",
    b"I": "Indexed",
}
_ABBREV_F = {
    b"AHx": b"ASCIIHexDecode", b"A85": b"ASCII85Decode",
    b"LZW": b"LZWDecode", b"Fl": b"FlateDecode", b"RL": b"RunLengthDecode",
    b"CCF": b"CCITTFaxDecode", b"DCT": b"DCTDecode",
}
_BI_RE = re.compile(rb"(?:^|[\s>\]])BI[\s/]")
_ID_RE = re.compile(rb"\bID[ \r\n\t]")
_EI_RE = re.compile(rb"[\s]EI(?=[\s/\[(<]|$)")


def _int_key(seg: bytes, *keys: bytes) -> int | None:
    for k in keys:
        m = re.search(rb"/" + k + rb"\s+(\d+)", seg)
        if m:
            return int(m.group(1))
    return None


def _inline_images(stream: bytes, page: int) -> list[dict]:
    """Inline images of one decoded content stream (§8.9.7: the BI/ID/EI
    operators with abbreviated dict keys — the form scanners use for
    small stamps and masks). The payload end is found by trying each
    whitespace-EI candidate until the declared filters decode cleanly,
    because compressed payloads may contain the letters 'EI' by chance;
    an unfiltered payload's size is exact (§8.9.5.2 row alignment), so
    no search is needed there."""
    out: list[dict] = []
    pos = 0
    while True:
        bm = _BI_RE.search(stream, pos)
        if not bm:
            return out
        im = _ID_RE.search(stream, bm.end() - 1)
        if not im:
            return out
        seg = stream[bm.end() - 1 : im.start()]
        body_at = im.end()
        width = _int_key(seg, b"Width", b"W")
        height = _int_key(seg, b"Height", b"H")
        bpc = _int_key(seg, b"BitsPerComponent", b"BPC") or 8
        csm = _NAME_RE.search(
            _value_after(seg, b"ColorSpace") or _value_after(seg, b"CS")
        or b"")
        cs = csm.group(1) if csm else b""
        cs_name = _ABBREV_CS.get(cs, cs.decode("latin-1"))
        fval = _value_after(seg, b"Filter") or _value_after(seg, b"F")
        filters = [
            _ABBREV_F.get(n, n) for n in _NAME_RE.findall(fval)
        ]
        if width is None or height is None:
            # the letters 'BI' inside a text operand, not an image —
            # resume the scan after the false match
            pos = bm.end()
            continue
        rec = {
            "obj": -1, "page": page, "width": width, "height": height,
            "bits_per_component": bpc, "color_space": cs_name,
        }
        channels = {"DeviceRGB": 3, "DeviceCMYK": 4}.get(cs_name, 1)
        if not filters:
            rowlen = (width * channels * bpc + 7) // 8
            end = body_at + rowlen * height
            if end > len(stream):
                raise ValueError("PDF inline image payload truncated")
            rec.update(format="raw", data=stream[body_at:end])
            out.append(rec)
            pos = end
            continue
        # filtered: try successive EI candidates until the chain decodes
        cand = body_at
        done = False
        while not done:
            em = _EI_RE.search(stream, cand)
            if not em:
                raise ValueError(
                    "PDF inline image has no EI terminator"
                )
            raw = stream[body_at : em.start()]
            try:
                if filters[-1] == b"DCTDecode":
                    data = raw
                    for f in filters[:-1]:
                        data = _apply_filter(f, data)
                    if not (
                        data[:2] == b"\xff\xd8"
                        and data.rstrip(b"\r\n\t ")[-2:] == b"\xff\xd9"
                    ):
                        raise ValueError("not a complete JFIF payload")
                    rec.update(format="jpeg", data=bytes(data))
                elif filters[-1] == b"CCITTFaxDecode":
                    data = raw
                    for f in filters[:-1]:
                        data = _apply_filter(f, data)
                    # shares the XObject path: the abbreviated dict's
                    # /DP value uses the FULL parameter names (§8.9.7)
                    rec = _decode_ccitt_image(-1, seg, bytes(data), rec)
                else:
                    data = raw
                    for f in filters:
                        data = _apply_filter(f, data)
                    rec.update(format="raw", data=bytes(data))
                done = True
            except ValueError:
                cand = em.end()  # 'EI' inside the payload: keep looking
        out.append(rec)
        pos = em.end()
