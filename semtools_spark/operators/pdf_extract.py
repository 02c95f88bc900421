"""Pure-Python PDF text extractor for the pluggable parse slot.

The reference's flagship ``parse`` use-case is PDF documents sent to the
remote LlamaParse API (semtools src/parse/client.rs:290-433; the README's
first example is a directory of PDFs). This sandbox has no network and no
parsing model, but PDF is a public spec (ISO 32000-1:2008) and the
overwhelmingly common case — classic object layout, Flate-compressed
content streams, text shown with ``Tj``/``TJ`` — is extractable with
stdlib ``zlib`` alone. This module is that extractor: a DETERMINISTIC
pure function ``bytes -> str`` (no state, no network), so it satisfies
the fingerprint/resume contract of the parse cache exactly like the
pinned default and the real-HTML extractor.

Scope (documented, not silent):

* **handled** — objects as ``N G obj … endobj`` (recovered by scanning,
  so broken/absent xref tables still parse); objects packed into
  ``/Type /ObjStm`` object streams (the PDF 1.5+ compact layout most
  modern writers emit — containers are found by the same scan, so xref
  STREAMS need no decoding either); page tree walk through
  ``/Root → /Pages → /Kids`` with file-order fallback; ``/Contents`` as
  a single stream or an array; filter chains of ``FlateDecode``,
  ``LZWDecode`` (both with PNG/TIFF ``/DecodeParms`` predictors),
  ``ASCIIHexDecode``, ``ASCII85Decode``, ``RunLengthDecode``, or
  unfiltered streams; **empty-user-password encryption** via the
  Standard security handler — R2/R3 RC4, R4 ``/V2``/``/AESV2``, R6
  ``/AESV3`` AES-256 (:mod:`pdf_crypt`, stdlib-only, FIPS-197-vector
  pinned), the permission-only "protection" most encrypted crawl PDFs
  carry; string literals with all
  escape forms, hex strings; text operators ``Tj``, ``'``, ``"``,
  ``TJ`` (with kerning-gap word splits), line breaks from ``Td``,
  ``TD``, ``T*``, ``Tm``; **CID/Type0 fonts via their ``/ToUnicode``
  CMap** (``bfchar``/``bfrange`` incl. array destinations, codespace
  ranges with mixed code widths, UTF-16BE destinations incl. surrogate
  pairs — the layout every modern typesetter (LaTeX/Word) emits, where
  show-strings are glyph ids, not latin-1), with fonts tracked through
  ``Tf`` and page ``/Resources`` (inherited down the page tree); simple
  fonts with a ``/ToUnicode`` use it too; fonts without one fall back to
  PDFDocEncoding ≈ latin-1 — except Type0, whose raw CIDs are
  meaningless as bytes and are DROPPED rather than emitted as mojibake
  (a corpus-quality choice: absent text is recoverable garbage, wrong
  text poisons dedup/embedding downstream).
* **not handled** (best-effort partial or empty result, never a raise) —
  documents requiring a REAL password, public-key (PKCS#7) encryption,
  DCT/JBIG2/JPX image codecs (no text inside them), glyph mapping
  through the font program itself (a Type0 font with NO /ToUnicode). A
  production
  deployment swaps in a real parser behind the same slot; the
  Spark-side contract is identical.

Pages join with "\\n\\n" — the reference's page-concat separator
(src/parse/client.rs:87-88,104-105), same as every other extractor here.
"""

from __future__ import annotations

import re
import zlib

__all__ = ["extract_pdf_text", "extract_any", "is_pdf"]

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num


def _skip_ws(data: bytes, i: int) -> int:
    n = len(data)
    while i < n:
        c = data[i : i + 1]
        if c in (b"%",):  # comment to EOL
            while i < n and data[i : i + 1] not in (b"\r", b"\n"):
                i += 1
        elif c in _WS:
            i += 1
        else:
            break
    return i


_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_REF_RE = re.compile(rb"(\d+)\s+(\d+)\s+R\b")


def _parse_value(data: bytes, i: int):
    """Parse one PDF object value at ``i`` → (value, next_index). Raises
    ValueError on malformed input (callers catch and degrade)."""
    i = _skip_ws(data, i)
    if i >= len(data):
        raise ValueError("eof")
    c = data[i : i + 1]
    if data[i : i + 2] == b"<<":
        d = {}
        i += 2
        while True:
            i = _skip_ws(data, i)
            if data[i : i + 2] == b">>":
                return d, i + 2
            if data[i : i + 1] != b"/":
                raise ValueError(f"dict key at {i}")
            key, i = _parse_name(data, i)
            val, i = _parse_value(data, i)
            d[key] = val
    if c == b"<":  # hex string
        j = data.index(b">", i)
        hexs = re.sub(rb"\s", b"", data[i + 1 : j])
        if len(hexs) % 2:
            hexs += b"0"
        return bytes.fromhex(hexs.decode("ascii")), j + 1
    if c == b"(":
        return _parse_literal_string(data, i)
    if c == b"[":
        arr = []
        i += 1
        while True:
            i = _skip_ws(data, i)
            if data[i : i + 1] == b"]":
                return arr, i + 1
            v, i = _parse_value(data, i)
            arr.append(v)
    if c == b"/":
        return _parse_name(data, i)
    if data[i : i + 4] == b"true":
        return True, i + 4
    if data[i : i + 5] == b"false":
        return False, i + 5
    if data[i : i + 4] == b"null":
        return None, i + 4
    m = _REF_RE.match(data, i)
    if m:
        return _Ref(int(m.group(1))), m.end()
    m = _NUM_RE.match(data, i)
    if m:
        s = m.group(0)
        return (float(s) if b"." in s else int(s)), m.end()
    raise ValueError(f"value at {i}: {data[i:i+16]!r}")


def _parse_name(data: bytes, i: int):
    assert data[i : i + 1] == b"/"
    i += 1
    out = bytearray()
    while i < len(data):
        c = data[i : i + 1]
        if c in _WS or c in _DELIM:
            break
        if c == b"#" and i + 2 < len(data):
            out += bytes.fromhex(data[i + 1 : i + 3].decode("ascii", "replace"))
            i += 3
        else:
            out += c
            i += 1
    return out.decode("latin-1"), i


def _parse_literal_string(data: bytes, i: int):
    assert data[i : i + 1] == b"("
    i += 1
    out = bytearray()
    depth = 1
    n = len(data)
    while i < n:
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = data[i]
            if e in b"nrtbf":
                out += {0x6E: b"\n", 0x72: b"\r", 0x74: b"\t",
                        0x62: b"\b", 0x66: b"\x0c"}[e]
                i += 1
            elif e in b"()\\":
                out.append(e)
                i += 1
            elif 0x30 <= e <= 0x37:  # up to 3 octal digits
                oct_digits = bytearray()
                while i < n and 0x30 <= data[i] <= 0x37 and len(oct_digits) < 3:
                    oct_digits.append(data[i])
                    i += 1
                out.append(int(oct_digits.decode(), 8) & 0xFF)
            elif e in b"\r\n":  # line continuation
                i += 1
                if e == 0x0D and i < n and data[i] == 0x0A:
                    i += 1
            else:
                out.append(e)
                i += 1
        elif c == 0x28:  # (
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
            out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return bytes(out), i


_OBJ_HEAD_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_STREAM_HEAD_RE = re.compile(rb"stream(\r\n|\n|\r)")


def _strip_one_eol(b: bytes) -> bytes:
    """Strip at most ONE end-of-line sequence (the spec's pre-endstream
    EOL, §7.3.8.1) — never rstrip all CR/LF: trailing 0x0d/0x0a can be
    live cipher/flate bytes, and eating them breaks AES's %16 check."""
    if b.endswith(b"\r\n"):
        return b[:-2]
    if b.endswith((b"\r", b"\n")):
        return b[:-1]
    return b


def _scan_objects(data: bytes) -> dict[int, tuple[object, bytes | None]]:
    """All ``N G obj`` bodies by scanning (xref-independent — also how
    viewers repair PDFs with broken tables): {num: (value, stream|None)}.
    Stream extent comes from /Length — direct integer, or an indirect
    reference resolved after the scan (all object values are in hand by
    then) — validated against the ``endstream`` marker; when neither
    resolves, the next ``endstream`` marker with at most one EOL stripped
    (a forward reference to a length object that never parses).
    Encrypted documents (empty user password, Standard handler — see
    :mod:`pdf_crypt`) have their stream bytes decrypted in place before
    object streams are expanded."""
    objects: dict[int, tuple[object, bytes | None]] = {}
    gens: dict[int, int] = {}
    positions: dict[int, int] = {}
    pending: list[tuple[int, object, int]] = []  # (num, val, stream_start)
    for m in _OBJ_HEAD_RE.finditer(data):
        num = int(m.group(1))
        i = m.end()
        try:
            val, i = _parse_value(data, i)
        except (ValueError, IndexError, AssertionError, OverflowError):
            continue
        i = _skip_ws(data, i)
        sm = _STREAM_HEAD_RE.match(data, i)
        if sm is not None:
            pending.append((num, val, sm.end()))
        objects[num] = (val, None)
        gens[num] = int(m.group(2))
        positions[num] = m.start()
    # second pass: slice stream extents now that indirect /Length targets
    # are all parsed
    for num, val, start in pending:
        if objects.get(num, (None, None))[0] is not val:
            # a later revision of this object number won the first pass
            # (incremental update); slicing a stream for the superseded
            # body would resurrect stale content
            continue
        length = _resolve(
            val.get("Length") if isinstance(val, dict) else None, objects
        )
        stream = None
        if isinstance(length, int) and 0 <= length <= len(data) - start and (
            data[start + length : start + length + 11].lstrip(b"\r\n")[:9]
            == b"endstream"
        ):
            # exact /Length extent: keep every byte
            stream = data[start : start + length]
        else:
            end = data.find(b"endstream", start)
            if end < 0:
                continue  # truncated: keep the dict, no stream
            stream = _strip_one_eol(data[start:end])
        objects[num] = (val, stream)
    _maybe_decrypt(data, objects, gens, positions)
    _expand_object_streams(objects)
    return objects


_TRAILER_RE = re.compile(rb"trailer\b")


def _maybe_decrypt(data: bytes, objects, gens, positions=None) -> None:
    """If the document carries a Standard-handler /Encrypt dictionary
    (found in a ``trailer`` dict or an xref-stream dict), decrypt every
    top-level stream in place with the empty-user-password key. In an
    incrementally-updated PDF the LAST trailer/xref dict in file order is
    the authoritative revision (§7.5.6), so candidates are scanned newest
    first and /Encrypt and /ID are taken TOGETHER from the same dict —
    an update that changed the encryption parameters wins over the
    original's. Anything unsupported (real password required, public-key
    handler) leaves the document untouched — downstream decode then
    skips those streams, the same degrade path as an unsupported
    filter."""
    enc_ref = id0 = None
    candidates: list[tuple[int, dict]] = []  # (file_pos, dict)
    for m in _TRAILER_RE.finditer(data):
        try:
            val, _ = _parse_value(data, _skip_ws(data, m.end()))
        except (ValueError, IndexError, AssertionError, OverflowError):
            continue
        if isinstance(val, dict):
            candidates.append((m.start(), val))
    positions = positions or {}
    candidates.extend(
        (positions.get(num, -1), val)
        for num, (val, _s) in objects.items()
        if isinstance(val, dict) and val.get("Type") == "XRef"
    )
    candidates.sort(key=lambda c: c[0], reverse=True)
    for _pos, t in candidates:
        if "Encrypt" in t:
            enc_ref = t["Encrypt"]
            ids = t.get("ID")
            if isinstance(ids, list) and ids and isinstance(ids[0], bytes):
                id0 = ids[0]
            break
    if enc_ref is None:
        return
    enc = _resolve(enc_ref, objects)
    if not isinstance(enc, dict):
        return
    from semtools_spark.operators.pdf_crypt import StandardDecryptor

    try:
        dec = StandardDecryptor.from_encrypt(enc, id0 or b"")
    except Exception:
        dec = None
    if dec is None:
        return
    enc_num = enc_ref.num if isinstance(enc_ref, _Ref) else None
    for num, (val, raw) in list(objects.items()):
        if raw is None or num == enc_num:
            continue
        if isinstance(val, dict) and val.get("Type") == "XRef":
            continue  # xref streams are never encrypted (spec §7.5.8.2)
        objects[num] = (val, dec.decrypt(num, gens.get(num, 0), raw))


def _expand_object_streams(objects) -> None:
    """Unpack ``/Type /ObjStm`` containers (PDF 1.5+ compact layout): the
    decoded stream holds N "objnum offset" header pairs, then the object
    bodies starting at /First. Embedded objects carry no streams (spec
    §7.5.7). Top-level objects win number collisions — an updated PDF's
    appended objects supersede packed ones."""
    packed: dict[int, object] = {}
    for _num, (val, raw) in sorted(objects.items()):
        if not (isinstance(val, dict) and val.get("Type") == "ObjStm" and raw):
            continue
        dec = _decode_stream(val, raw, objects)
        n, first = val.get("N"), val.get("First")
        if dec is None or not isinstance(n, int) or not isinstance(first, int):
            continue
        try:
            header = dec[:first].split()
            for k in range(n):
                onum = int(header[2 * k])
                off = int(header[2 * k + 1])
                oval, _ = _parse_value(dec, first + off)
                packed.setdefault(onum, oval)
        except (ValueError, IndexError, AssertionError, OverflowError):
            continue
    for onum, oval in packed.items():
        if onum not in objects:
            objects[onum] = (oval, None)


def _resolve(val, objects, depth: int = 0):
    while isinstance(val, _Ref) and depth < 32:
        entry = objects.get(val.num)
        if entry is None:
            return None
        val = entry[0]
        depth += 1
    return val


def _lzw_decode(data: bytes, early_change: int = 1) -> bytes | None:
    """LZWDecode (ISO 32000-1 §7.4.4 = TIFF LZW): variable 9..12-bit
    codes MSB-first, 256 = clear table, 257 = EOD. ``EarlyChange`` (the
    default 1) widens the code size one code early."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    acc = nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                table = table[:258]
                width, prev = 9, None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    return None
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:  # 12-bit cap: writers clear or stop
                    table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                return None
            out += entry
            prev = entry
            # widen when the table reaches 2^width - EarlyChange — the
            # reader-side rule qpdf and pdf.js both apply (the writer,
            # one table entry ahead, widens at 2^width - EarlyChange + 1)
            if len(table) + early_change >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _ascii85_decode(data: bytes) -> bytes | None:
    data = data.split(b"~>")[0].replace(b"<~", b"")
    data = bytes(c for c in data if c not in _WS)
    out = bytearray()
    group: list[int] = []
    for c in data:
        if c == 0x7A and not group:  # 'z' = four zero bytes
            out += b"\x00\x00\x00\x00"
            continue
        if not 0x21 <= c <= 0x75:
            return None
        group.append(c - 0x21)
        if len(group) == 5:
            n = 0
            for g in group:
                n = n * 85 + g
            if n >= 1 << 32:  # e.g. b"uuuuu": malformed, not 4 bytes
                return None
            out += n.to_bytes(4, "big")
            group = []
    if group:  # 2..4 trailing chars encode 1..3 bytes
        if len(group) == 1:
            return None
        k = len(group)
        group += [84] * (5 - k)
        n = 0
        for g in group:
            n = n * 85 + g
        if n >= 1 << 32:
            return None
        out += n.to_bytes(4, "big")[: k - 1]
    return bytes(out)


def _runlength_decode(data: bytes) -> bytes | None:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        l = data[i]
        if l == 128:
            break
        if l < 128:
            out += data[i + 1 : i + 2 + l]
            i += 2 + l
        else:
            if i + 1 >= n:
                return None
            out += data[i + 1 : i + 2] * (257 - l)
            i += 2
    return bytes(out)


def _unpredict(data: bytes, parms: dict) -> bytes | None:
    """Undo the optional PNG/TIFF predictor some writers put in front of
    Flate/LZW (ISO 32000-1 §7.4.4.4)."""
    pred = parms.get("Predictor", 1)
    if not isinstance(pred, int) or pred <= 1:
        return data
    colors = parms.get("Colors", 1)
    bpc = parms.get("BitsPerComponent", 8)
    columns = parms.get("Columns", 1)
    if not all(isinstance(v, int) for v in (colors, bpc, columns)):
        return None
    bpp = max(1, (colors * bpc + 7) // 8)
    rowlen = (colors * bpc * columns + 7) // 8
    if pred == 2:  # TIFF horizontal differencing (8-bit components only)
        if bpc != 8:
            return None
        row = bytearray(data)
        for r in range(0, len(row), rowlen):
            for i in range(r + bpp, min(r + rowlen, len(row))):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        return bytes(row)
    # PNG predictors: each row prefixed with a filter-type byte
    out = bytearray()
    prev = bytearray(rowlen)
    i, n = 0, len(data)
    while i + 1 <= n:
        ft = data[i]
        row = bytearray(data[i + 1 : i + 1 + rowlen])
        i += 1 + rowlen
        if ft == 1:  # Sub
            for j in range(bpp, len(row)):
                row[j] = (row[j] + row[j - bpp]) & 0xFF
        elif ft == 2:  # Up
            for j in range(len(row)):
                row[j] = (row[j] + prev[j]) & 0xFF
        elif ft == 3:  # Average
            for j in range(len(row)):
                left = row[j - bpp] if j >= bpp else 0
                row[j] = (row[j] + ((left + prev[j]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for j in range(len(row)):
                a = row[j - bpp] if j >= bpp else 0
                b = prev[j]
                c = prev[j - bpp] if j >= bpp else 0
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[j] = (row[j] + pr) & 0xFF
        elif ft != 0:
            return None
        out += row
        prev = row
    return bytes(out)


def _decode_stream(sdict, raw: bytes, objects=None) -> bytes | None:
    """Run the stream's /Filter chain: Flate, LZW (both honoring a PNG/
    TIFF /DecodeParms predictor), ASCIIHex, ASCII85, RunLength. Anything
    else (DCT/JBIG2/JPX — image codecs with no text inside, and /Crypt)
    skips the stream. ``objects`` resolves indirect Filter/DecodeParms."""
    res = (lambda v: _resolve(v, objects) if objects is not None else v)
    filt = res(sdict.get("Filter")) if isinstance(sdict, dict) else None
    if filt is None:
        return raw
    filters = filt if isinstance(filt, list) else [filt]
    parms = res(sdict.get("DecodeParms", sdict.get("DP")))
    parms_list = parms if isinstance(parms, list) else [parms]
    out = raw
    for k, f in enumerate(filters):
        f = res(f)
        p = res(parms_list[k]) if k < len(parms_list) else None
        p = p if isinstance(p, dict) else {}
        if f == "FlateDecode" or f == "Fl":
            try:
                out = zlib.decompress(out)
            except zlib.error:
                return None
        elif f == "LZWDecode" or f == "LZW":
            ec = res(p.get("EarlyChange", 1))
            dec = _lzw_decode(out, ec if isinstance(ec, int) else 1)
            if dec is None:
                return None
            out = dec
        elif f == "ASCIIHexDecode" or f == "AHx":
            hx = out.split(b">")[0]
            hx = bytes(c for c in hx if c not in _WS)
            if len(hx) % 2:
                hx += b"0"
            try:
                out = bytes.fromhex(hx.decode("ascii"))
            except (ValueError, UnicodeDecodeError):
                return None
            continue  # predictors never apply to ASCII filters
        elif f == "ASCII85Decode" or f == "A85":
            dec = _ascii85_decode(out)
            if dec is None:
                return None
            out = dec
            continue
        elif f == "RunLengthDecode" or f == "RL":
            dec = _runlength_decode(out)
            if dec is None:
                return None
            out = dec
            continue
        else:
            return None  # DCT/JBIG2/JPX/Crypt: out of scope, skip
        if p:
            dec = _unpredict(out, p)
            if dec is None:
                return None
            out = dec
    return out


class _Font:
    """Decoding state for one page font: how to turn a show-string's
    bytes into text. ``to_unicode`` maps integer character codes to
    strings (built from the /ToUnicode CMap); ``codespace`` is a list of
    ``(byte_len, lo, hi)`` ranges driving variable-width code stepping
    (Identity-H is the uniform 2-byte case)."""

    __slots__ = ("type0", "to_unicode", "codespace", "widths", "default_w")

    def __init__(self, type0: bool, to_unicode, codespace):
        self.type0 = type0
        self.to_unicode = to_unicode
        self.codespace = codespace or ([(2, 0x0000, 0xFFFF)] if type0 else [(1, 0x00, 0xFF)])
        # precomputed: decode() runs once per show operand — thousands of
        # times per page — over immutable codespace state
        self.widths = sorted({w for w, _lo, _hi in self.codespace})
        self.default_w = self.widths[0] if self.widths else (2 if type0 else 1)

    def decode(self, b: bytes) -> str:
        if self.to_unicode is None:
            # no CMap: simple fonts read as PDFDocEncoding ≈ latin-1;
            # Type0 CIDs are glyph ids — emitting them as bytes is
            # mojibake, so they are dropped (see module docstring)
            return "" if self.type0 else b.decode("latin-1")
        out: list[str] = []
        i, n = 0, len(b)
        widths = self.widths
        default_w = self.default_w
        while i < n:
            step = None
            for w in widths:
                if i + w > n:
                    continue
                code = int.from_bytes(b[i : i + w], "big")
                if any(
                    w == cw and lo <= code <= hi for cw, lo, hi in self.codespace
                ):
                    step = w
                    break
            if step is None:
                step = min(default_w, n - i)
                code = int.from_bytes(b[i : i + step], "big")
            mapped = self.to_unicode.get((step, code))
            if mapped is not None:
                out.append(mapped)
            elif not self.type0:
                out.append(bytes([code]).decode("latin-1") if step == 1 else "")
            i += step
        return "".join(out)


_LATIN1_FONT = _Font(False, None, None)


def _utf16be(b: bytes) -> str:
    try:
        return b.decode("utf-16-be")
    except UnicodeDecodeError:
        return b.decode("utf-16-be", "ignore")


def _parse_tounicode_cmap(dec: bytes):
    """Parse a /ToUnicode CMap stream → (``{(code_width, code): str}``,
    ``[(byte_len, lo, hi)]`` codespace ranges). The CMap language is
    PostScript-shaped, but the three sections that matter —
    ``codespacerange``, ``bfchar``, ``bfrange`` — are just runs of hex
    strings/arrays between begin/end keywords, so the object tokenizer
    above parses every operand (ISO 32000-1 §9.10.3)."""
    to_uni: dict[tuple[int, int], str] = {}
    codespace: list[tuple[int, int, int]] = []
    i, n = 0, len(dec)
    operands: list = []
    mode = None
    while i < n:
        i = _skip_ws(dec, i)
        if i >= n:
            break
        c = dec[i : i + 1]
        if c in b"(<[/" or c in b"+-." or c.isdigit():
            try:
                v, j = _parse_value(dec, i)
            except (ValueError, IndexError, AssertionError, OverflowError):
                i += 1
                continue
            # remember the hex width: <00> and <0000> parse to the same
            # bytes value, but the CODE they denote differs
            operands.append(v)
            i = j
            continue
        j = i
        while j < n and dec[j : j + 1] not in _WS and dec[j : j + 1] not in _DELIM:
            j += 1
        op = dec[i:j]
        i = j if j > i else i + 1
        if op in (b"begincodespacerange", b"beginbfchar", b"beginbfrange"):
            mode = op[5:]
            operands.clear()
        elif op == b"endcodespacerange" and mode == b"codespacerange":
            for k in range(0, len(operands) - 1, 2):
                lo, hi = operands[k], operands[k + 1]
                if isinstance(lo, bytes) and isinstance(hi, bytes) and lo:
                    codespace.append(
                        (
                            len(lo),
                            int.from_bytes(lo, "big"),
                            int.from_bytes(hi, "big"),
                        )
                    )
            mode = None
            operands.clear()
        elif op == b"endbfchar" and mode == b"bfchar":
            for k in range(0, len(operands) - 1, 2):
                src, dst = operands[k], operands[k + 1]
                if isinstance(src, bytes) and isinstance(dst, bytes) and src:
                    to_uni[(len(src), int.from_bytes(src, "big"))] = _utf16be(dst)
            mode = None
            operands.clear()
        elif op == b"endbfrange" and mode == b"bfrange":
            for k in range(0, len(operands) - 2, 3):
                lo, hi, dst = operands[k], operands[k + 1], operands[k + 2]
                if not (isinstance(lo, bytes) and isinstance(hi, bytes) and lo):
                    continue
                w = len(lo)
                lo_i, hi_i = int.from_bytes(lo, "big"), int.from_bytes(hi, "big")
                if hi_i - lo_i > 0x10000:  # malformed: cap the expansion
                    hi_i = lo_i + 0x10000
                if isinstance(dst, list):
                    for off, d in enumerate(dst):
                        if isinstance(d, bytes) and lo_i + off <= hi_i:
                            to_uni[(w, lo_i + off)] = _utf16be(d)
                elif isinstance(dst, bytes) and dst:
                    # spec: increment the LAST code unit of the base;
                    # an increment past the destination width is
                    # malformed — stop the range there instead of
                    # overflowing (one bad range must not lose the font)
                    base = int.from_bytes(dst, "big")
                    cap = (1 << (8 * len(dst))) - base
                    for off in range(min(hi_i - lo_i + 1, cap)):
                        to_uni[(w, lo_i + off)] = _utf16be(
                            (base + off).to_bytes(len(dst), "big")
                        )
            mode = None
            operands.clear()
        elif op == b"endcmap":
            break
        else:
            if mode is None:
                operands.clear()
    return to_uni, codespace


def _fonts_of(resources, objects) -> dict[str, _Font]:
    """Resolve a page's /Resources → /Font dict into decoding state, one
    _Font per resource name (the name ``Tf`` selects)."""
    fonts: dict[str, _Font] = {}
    res = _resolve(resources, objects)
    if not isinstance(res, dict):
        return fonts
    fdict = _resolve(res.get("Font"), objects)
    if not isinstance(fdict, dict):
        return fonts
    for name, fref in fdict.items():
        fval = _resolve(fref, objects)
        if not isinstance(fval, dict):
            continue
        type0 = fval.get("Subtype") == "Type0"
        to_uni = codespace = None
        tu = fval.get("ToUnicode")
        num = tu.num if isinstance(tu, _Ref) else None
        if num is not None and num in objects:
            sdict, raw = objects[num]
            if raw is not None:
                dec = _decode_stream(sdict, raw, objects)
                if dec is not None:
                    try:
                        to_uni, codespace = _parse_tounicode_cmap(dec)
                    except (ValueError, IndexError, AssertionError, OverflowError):
                        to_uni = codespace = None
        fonts[name] = _Font(type0, to_uni, codespace)
    return fonts


def _page_streams(objects) -> "list[tuple[bytes, dict[str, _Font]]]":
    """``(decoded content, fonts)`` per page in page order
    (catalog-tree walk; file order as the repair fallback).
    ``/Resources`` is an inheritable page attribute (ISO 32000-1
    §7.7.3.4), so the walk threads the nearest ancestor's down to leaves
    that lack their own."""

    def content_of(page_dict) -> list[bytes]:
        out = []
        contents = _resolve(page_dict.get("Contents"), objects)
        refs = contents if isinstance(contents, list) else [page_dict.get("Contents")]
        for ref in refs:
            num = ref.num if isinstance(ref, _Ref) else None
            if num is None or num not in objects:
                continue
            sdict, raw = objects[num]
            if raw is None:
                continue
            dec = _decode_stream(sdict, raw, objects)
            if dec is not None:
                out.append(dec)
        return out

    pages: list[tuple[dict, object]] = []

    def walk(node_ref, inherited_res, depth: int = 0):
        node = _resolve(node_ref, objects)
        if not isinstance(node, dict) or depth > 64:
            return
        res = node.get("Resources", inherited_res)
        t = node.get("Type")
        if t == "Page":
            pages.append((node, res))
        elif t == "Pages" or "Kids" in node:
            for kid in _resolve(node.get("Kids"), objects) or []:
                walk(kid, res, depth + 1)

    root = None
    for _num, (val, _s) in sorted(objects.items()):
        if isinstance(val, dict) and val.get("Type") == "Catalog":
            root = val
            break
    if root is not None:
        walk(root.get("Pages"), None)
    if not pages:  # repair fallback: every /Type /Page in file order
        pages = [
            (val, val.get("Resources"))
            for _num, (val, _s) in sorted(objects.items())
            if isinstance(val, dict) and val.get("Type") == "Page"
        ]
    return [(b"\n".join(content_of(p)), _fonts_of(res, objects)) for p, res in pages]


#: a TJ kerning adjustment more negative than this (thousandths of an em)
#: is an inter-word gap — the common convention real extractors use
TJ_WORD_GAP = -180


def _content_ops(stream: bytes):
    """The content stream's operator/operand tokenizer behind text
    assembly (:func:`_text_from_content`). Yields ``(op, operands)``; the
    operands list is reused across yields — consume it before
    advancing."""
    operands: list = []
    i = 0
    n = len(stream)
    while i < n:
        i = _skip_ws(stream, i)
        if i >= n:
            break
        c = stream[i : i + 1]
        if c in b"(<[/" or c in b"+-." or c.isdigit():
            try:
                v, i = _parse_value(stream, i)
            except (ValueError, IndexError, AssertionError, OverflowError):
                i += 1
                continue
            operands.append(v)
            continue
        # operator token
        j = i
        while j < n and stream[j : j + 1] not in _WS and stream[j : j + 1] not in _DELIM:
            j += 1
        op = stream[i:j]
        i = j if j > i else i + 1
        yield op, operands
        operands.clear()


def _text_from_content(stream: bytes, fonts: "dict[str, _Font] | None" = None) -> str:
    """Walk the content stream's operand/operator tokens and assemble the
    shown text: ``Tj``/``'``/``"`` append their string, ``TJ`` appends
    its strings with kerning-gap word splits, ``Td``/``TD``/``T*``/
    ``Tm``/``'``/``"`` start a new line, and ``Tf`` switches the active
    font (whose /ToUnicode CMap decodes subsequent show-strings)."""
    fonts = fonts or {}
    font = [_LATIN1_FONT]  # list-of-one: writable from the closures
    lines: list[str] = []
    cur: list[str] = []

    def newline():
        if cur:
            lines.append("".join(cur))
            cur.clear()

    def show(b: bytes):
        t = font[0].decode(b)
        if t:  # a Type0 show with no /ToUnicode decodes to nothing —
            cur.append(t)  # don't let it fabricate blank lines

    for op, operands in _content_ops(stream):
        if op == b"Tj" and operands and isinstance(operands[-1], bytes):
            show(operands[-1])
        elif op == b"TJ" and operands and isinstance(operands[-1], list):
            for el in operands[-1]:
                if isinstance(el, bytes):
                    show(el)
                elif isinstance(el, (int, float)) and el < TJ_WORD_GAP and cur:
                    cur.append(" ")  # a word gap only splits shown text
        elif op in (b"'", b'"'):
            newline()
            if operands and isinstance(operands[-1], bytes):
                show(operands[-1])
        elif op in (b"Td", b"TD", b"T*", b"Tm", b"ET"):
            newline()
        elif op == b"Tf" and len(operands) >= 2 and isinstance(operands[-2], str):
            font[0] = fonts.get(operands[-2], _LATIN1_FONT)
    newline()
    return "\n".join(lines)


def is_pdf(data: bytes) -> bool:
    """The spec allows junk before the header within the first 1 KiB."""
    return bool(data) and b"%PDF-" in data[:1024]


def extract_pdf_text(data: bytes) -> str:
    """PDF bytes → extracted text, pages joined with "\\n\\n". Pure and
    deterministic; malformed input degrades to partial/empty text, never
    an exception (the parse stage must not fail a 10^12-page job on one
    corrupt document)."""
    if not is_pdf(data):
        return ""
    try:
        objects = _scan_objects(data)
        page_texts = [
            _text_from_content(s, fonts) for s, fonts in _page_streams(objects)
        ]
    except Exception:
        return ""
    return "\n\n".join(t for t in page_texts if t)


def extract_any(data: bytes) -> str:
    """Format-dispatching extractor for mixed crawl corpora: PDF magic →
    :func:`extract_pdf_text`; ZIP containing WordprocessingML /
    PresentationML / SpreadsheetML / EPUB / OpenDocument → the matching
    extractor (:mod:`docx_extract`, :mod:`office_extract`,
    :mod:`odf_extract`); ``{\\rtf`` → :mod:`rtf_extract`; OLE2 magic →
    the one-CFB-parse router over the binary Word/Excel/PowerPoint
    extractors (:mod:`doc_extract`, :mod:`ole_extract`); anything else →
    the real-HTML main-content extractor. Still one deterministic
    ``bytes -> str`` function, so it drops into
    ``parse_pages(extractor=...)`` unchanged."""
    from semtools_spark.operators.doc_extract import is_ole2
    from semtools_spark.operators.docx_extract import extract_docx_text, is_docx
    from semtools_spark.operators.html_extract import extract_main_text
    from semtools_spark.operators.odf_extract import (
        extract_odp_text,
        extract_ods_text,
        extract_odt_text,
        odf_kind,
    )
    from semtools_spark.operators.office_extract import (
        _zip_names,
        extract_epub_text,
        extract_pptx_text,
        extract_xlsx_text,
        is_epub,
        is_pptx,
        is_xlsx,
    )
    from semtools_spark.operators.rtf_extract import extract_rtf_text, is_rtf

    if is_pdf(data):
        return extract_pdf_text(data)
    if is_rtf(data):
        return extract_rtf_text(data)
    if is_ole2(data):
        # one CFB parse routes .doc / .xls / .ppt by named stream
        from semtools_spark.operators.ole_extract import extract_ole2_text

        return extract_ole2_text(data)
    if data[:4] == b"PK\x03\x04":
        # one central-directory read classifies every zip format (the
        # is_* probes each re-reading it would cost extra opens per
        # document on the parse hot path)
        names = _zip_names(data)
        if names is not None:
            kind = odf_kind(data, names)
            if kind == "odt":
                return extract_odt_text(data)
            if kind == "odp":
                return extract_odp_text(data)
            if kind == "ods":
                return extract_ods_text(data)
            if is_epub(data, names):
                return extract_epub_text(data)
            if is_docx(data, names):
                return extract_docx_text(data)
            if is_pptx(data, names):
                return extract_pptx_text(data)
            if is_xlsx(data, names):
                return extract_xlsx_text(data)
    return extract_main_text(data)


#: behavior version for the parse-cache fingerprint (pipeline.py):
#: bumped whenever these functions' OUTPUT changes for some input so
#: cached parses from older code re-run instead of resuming stale.
#: v2 = round 7: Type0/ToUnicode fonts, empty-password decryption,
#: LZW/ASCII/RunLength/predictor filters, DOCX/PPTX/XLSX/EPUB dispatch.
#: v3 = round 8: ODT/ODP/ODS, RTF, binary .doc dispatch; newest-trailer
#: /Encrypt selection; indirect /Length + single-EOL stream extents;
#: decrypt budget (over-budget encrypted docs extract partially).
extract_pdf_text.__extractor_version__ = 3
# v4: OLE2 dispatch grew .xls/.ppt extraction (previously .doc only) —
# cached parses of spreadsheets/decks under v3 must invalidate
extract_any.__extractor_version__ = 4
