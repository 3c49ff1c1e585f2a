"""Stdlib-only PDF text extraction + closed-form PDF synthesis.

The fourth non-HTML branch of the crawl chain (round 12, VERDICT item
2): ``audit_http_extractions`` routes ``application/pdf`` bodies here
instead of quarantining them as ``non_text``, so a crawl's PDF pages
join the clean text feed.  Everything is from-scratch against the
PUBLIC spec — ISO 32000-1:2008 (PDF 1.7): §7.2 lexical conventions,
§7.3 objects, §7.4 stream filters (Flate/LZW/ASCIIHex/ASCII85/
RunLength + PNG/TIFF predictors), §7.5 file structure (classic xref
tables, §7.5.7 object streams, §7.5.8 cross-reference streams),
§7.7.3 page tree, §9.4 text-showing operators, §9.10 ToUnicode CMaps,
Annex D encodings — plus the Adobe Glyph List convention for
``/Differences`` names.  No third-party PDF library exists in this
container, so correctness is pinned the JPEG/PNG way (sources/
multimodal.py discipline): ``synthesize_pdf`` emits documents whose
extracted text is a closed form of the input, exercised end-to-end by
the ``warc_pdf`` branch of ``q_source_roundtrips`` and hand-built
per-feature streams in tests/test_pdf.py.

Reference parity: the reference engine (5 Java files + Thrift IDL,
see SURVEY.md §2) has no document-format surface at all; this module
belongs to the LLM-pipeline extension the brief demands.

Honest seams (all loud, routed to the ``corrupt`` quarantine class by
the audit operator, never silent): encrypted PDFs, DCT/JBIG2/JPX
image filters on *content* streams (never legitimate there),
predictors with BitsPerComponent != 8, and glyph names outside the
shipped AGL subset (those decode to '' rather than mojibake).

Scale posture: extraction is a pure per-record function invoked from
the existing Arrow ``mapInPandas`` audit kernel — map-only, no
shuffle, no driver bytes; 100 TB of crawl shards parallelize by WARC
file exactly as the HTML path does.
"""

from __future__ import annotations

import re
import struct
import zlib

__all__ = [
    "extract_pdf_text",
    "synthesize_pdf",
    "build_pdf",
    "lzw_decode",
    "lzw_encode",
]


# ---------------------------------------------------------------------------
# object model
# ---------------------------------------------------------------------------


class Name(str):
    """A PDF name object (``/Foo``) — distinguished from string objects
    (which this module keeps as ``bytes``) by type."""

    __slots__ = ()


class Ref:
    """An indirect reference ``N G R``."""

    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int) -> None:
        self.num = num
        self.gen = gen

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"Ref({self.num},{self.gen})"

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, Ref)
            and other.num == self.num
            and other.gen == self.gen
        )

    def __hash__(self) -> int:
        return hash((self.num, self.gen))


class Stream:
    """A stream object: its dict plus the RAW (still-encoded) bytes."""

    __slots__ = ("dict", "raw")

    def __init__(self, d: dict, raw: bytes) -> None:
        self.dict = d
        self.raw = raw


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")


class _Lexer:
    """Tokenizer over the PDF byte syntax (ISO 32000-1 §7.2/§7.3).
    Used for both the file body and content/CMap streams."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos
        self.depth = 0  # container nesting, bounded to keep a hostile
        # '[[[[…' body a ValueError instead of a C-stack blowout

    def skip_ws(self) -> None:
        d, n = self.data, len(self.data)
        while self.pos < n:
            c = d[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # % comment runs to EOL
                while self.pos < n and d[self.pos] not in b"\r\n":
                    self.pos += 1
            else:
                return

    def _keyword(self) -> str:
        d, n = self.data, len(self.data)
        start = self.pos
        while self.pos < n and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
            self.pos += 1
        return d[start : self.pos].decode("latin-1")

    def parse_name(self) -> Name:
        d, n = self.data, len(self.data)
        self.pos += 1  # '/'
        out = bytearray()
        while self.pos < n and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
            c = d[self.pos]
            if c == 0x23 and self.pos + 2 < n:  # #xx hex escape
                try:
                    out.append(int(d[self.pos + 1 : self.pos + 3], 16))
                    self.pos += 3
                    continue
                except ValueError:
                    pass
            out.append(c)
            self.pos += 1
        return Name(out.decode("latin-1"))

    def parse_literal_string(self) -> bytes:
        d, n = self.data, len(self.data)
        self.pos += 1  # '('
        out = bytearray()
        depth = 1
        while self.pos < n:
            c = d[self.pos]
            if c == 0x5C:  # backslash
                self.pos += 1
                if self.pos >= n:
                    break
                e = d[self.pos]
                if e in b"nrtbf":
                    out.append(b"\n\r\t\b\f"[b"nrtbf".index(e)])
                    self.pos += 1
                elif e in b"()\\":
                    out.append(e)
                    self.pos += 1
                elif 0x30 <= e <= 0x37:  # 1-3 octal digits
                    oct_ = 0
                    for _ in range(3):
                        if self.pos < n and 0x30 <= d[self.pos] <= 0x37:
                            oct_ = oct_ * 8 + (d[self.pos] - 0x30)
                            self.pos += 1
                        else:
                            break
                    out.append(oct_ & 0xFF)
                elif e in b"\r\n":  # line continuation
                    self.pos += 1
                    if e == 0x0D and self.pos < n and d[self.pos] == 0x0A:
                        self.pos += 1
                else:  # lone backslash: drop it (spec §7.3.4.2)
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
            elif c == 0x0D:  # raw EOL normalizes to \n (§7.3.4.2)
                out.append(0x0A)
                self.pos += 1
                if self.pos < n and d[self.pos] == 0x0A:
                    self.pos += 1
            else:
                out.append(c)
                self.pos += 1
        raise ValueError("unterminated PDF literal string")

    def parse_hex_string(self) -> bytes:
        d, n = self.data, len(self.data)
        self.pos += 1  # '<'
        digits = bytearray()
        while self.pos < n:
            c = d[self.pos]
            self.pos += 1
            if c == 0x3E:  # '>'
                if len(digits) % 2:
                    digits.append(0x30)
                return bytes.fromhex(digits.decode("latin-1"))
            if c in _WS:
                continue
            digits.append(c)
        raise ValueError("unterminated PDF hex string")

    def parse_object(self):
        """Next object (NOT resolving references; streams handled by the
        document layer which knows object boundaries)."""
        self.skip_ws()
        d, n = self.data, len(self.data)
        if self.pos >= n:
            raise ValueError("EOF in PDF object")
        c = d[self.pos]
        if c == 0x2F:
            return self.parse_name()
        if c == 0x28:
            return self.parse_literal_string()
        if c == 0x3C:
            if self.pos + 1 < n and d[self.pos + 1] == 0x3C:
                if self.depth > 128:
                    raise ValueError("PDF container nesting too deep")
                self.pos += 2
                self.depth += 1
                out: dict = {}
                try:
                    while True:
                        self.skip_ws()
                        if self.pos + 1 < n and d[self.pos : self.pos + 2] == b">>":
                            self.pos += 2
                            return out
                        if self.pos >= n:
                            raise ValueError("unterminated PDF dict")
                        if d[self.pos] != 0x2F:
                            raise ValueError("PDF dict key is not a name")
                        key = self.parse_name()
                        out[str(key)] = self.parse_object()
                finally:
                    self.depth -= 1
            return self.parse_hex_string()
        if c == 0x5B:
            if self.depth > 128:
                raise ValueError("PDF container nesting too deep")
            self.pos += 1
            self.depth += 1
            arr = []
            try:
                while True:
                    self.skip_ws()
                    if self.pos < n and d[self.pos] == 0x5D:
                        self.pos += 1
                        return arr
                    if self.pos >= n:
                        raise ValueError("unterminated PDF array")
                    arr.append(self.parse_object())
            finally:
                self.depth -= 1
        m = _NUM_RE.match(d, self.pos)
        if m and m.start() == self.pos:
            text = m.group().decode("latin-1")
            self.pos = m.end()
            if "." in text:
                return float(text)
            num = int(text)
            # lookahead for "G R" making this an indirect reference
            save = self.pos
            self.skip_ws()
            m2 = _NUM_RE.match(d, self.pos)
            if m2 and m2.start() == self.pos and b"." not in m2.group():
                p2 = m2.end()
                q = p2
                while q < n and d[q] in _WS:
                    q += 1
                if q < n and d[q : q + 1] == b"R" and (
                    q + 1 >= n or d[q + 1] in _WS or d[q + 1] in _DELIM
                ):
                    self.pos = q + 1
                    return Ref(num, int(m2.group()))
            self.pos = save
            return num
        kw = self._keyword()
        if kw == "true":
            return True
        if kw == "false":
            return False
        if kw == "null":
            return None
        if not kw:
            raise ValueError(
                f"unparseable PDF byte 0x{c:02x} at offset {self.pos}"
            )
        return ("kw", kw)  # operator keyword (content streams)


# ---------------------------------------------------------------------------
# stream filters (§7.4)
# ---------------------------------------------------------------------------


def lzw_decode(data: bytes, early: int = 1) -> bytes:
    """PDF ``LZWDecode``: MSB-first variable-width (9→12 bit) LZW with
    Clear=256 / EOD=257 and the EarlyChange width rule (§7.4.4).
    Distinct from the LSB-packed compress(1) coding in
    ``sources/encodings.py`` — same dictionary-growth algorithm, four
    incompatible framing choices (bit order, reserved codes, width
    schedule, no magic header)."""
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width, prev = 9, None
    out = bytearray()
    bitbuf = nbits = 0
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        nbits += 8
        while nbits >= width:
            nbits -= width
            code = (bitbuf >> nbits) & ((1 << width) - 1)
            if code == 256:
                table = table[:258]
                width, prev = 9, None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                if code >= 256:
                    raise ValueError("LZW stream starts with a phrase code")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("LZW code beyond table")
            out += entry
            prev = entry
            if len(table) + early >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def lzw_encode(data: bytes) -> bytes:
    """Encoder dual of :func:`lzw_decode` (EarlyChange=1), for fixture
    synthesis; round-trip-pinned in tests including across a table
    reset."""
    out = bytearray()
    bitbuf = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf = (bitbuf << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((bitbuf >> nbits) & 0xFF)

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    emit(256, width)
    w = b""
    for i in range(len(data)):
        k = w + data[i : i + 1]
        if k in table:
            w = k
            continue
        emit(table[w], width)
        table[k] = next_code
        next_code += 1
        if next_code + 1 > (1 << width) and width < 12:
            width += 1
        if next_code == 4095:  # reset before the 12-bit table fills
            emit(256, width)
            table = {bytes([i]): i for i in range(256)}
            next_code, width = 258, 9
        w = data[i : i + 1]
    if w:
        emit(table[w], width)
        if next_code + 1 > (1 << width) and width < 12:
            width += 1
    emit(257, width)
    if nbits:
        out.append((bitbuf << (8 - nbits)) & 0xFF)
    return bytes(out)


def _ascii_hex_decode(data: bytes) -> bytes:
    end = data.find(b">")
    if end >= 0:
        data = data[:end]
    digits = bytes(c for c in data if c not in _WS)
    if len(digits) % 2:
        digits += b"0"
    try:
        return bytes.fromhex(digits.decode("latin-1"))
    except ValueError as ex:
        raise ValueError(f"bad ASCIIHexDecode stream: {ex}") from None


def _ascii85_decode(data: bytes) -> bytes:
    s = bytes(c for c in data if c not in _WS)
    if s.startswith(b"<~"):
        s = s[2:]
    if s.endswith(b"~>"):
        s = s[:-2]
    out = bytearray()
    group: list[int] = []
    for c in s:
        if c == 0x7A:  # 'z' = four zero bytes (only between groups)
            if group:
                raise ValueError("ASCII85 'z' inside a group")
            out += b"\x00\x00\x00\x00"
            continue
        if not 0x21 <= c <= 0x75:
            raise ValueError(f"ASCII85 byte 0x{c:02x} out of range")
        group.append(c - 0x21)
        if len(group) == 5:
            v = 0
            for g in group:
                v = v * 85 + g
            if v > 0xFFFFFFFF:
                raise ValueError("ASCII85 group overflow")
            out += struct.pack(">I", v)
            group = []
    if group:
        if len(group) == 1:
            raise ValueError("ASCII85 truncated final group")
        k = len(group)
        v = 0
        for g in group + [84] * (5 - k):
            v = v * 85 + g
        if v > 0xFFFFFFFF:
            raise ValueError("ASCII85 group overflow")
        out += struct.pack(">I", v)[: k - 1]
    return bytes(out)


def _runlength_decode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        length = data[i]
        i += 1
        if length == 128:
            return bytes(out)
        if length < 128:
            if i + length + 1 > n:
                raise ValueError("RunLength literal run truncated")
            out += data[i : i + length + 1]
            i += length + 1
        else:
            if i >= n:
                raise ValueError("RunLength repeat run truncated")
            out += data[i : i + 1] * (257 - length)
            i += 1
    return bytes(out)


def _runlength_encode(data: bytes) -> bytes:
    """Minimal valid RLE dual: repeat runs ≥3, literal runs otherwise."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        j = i
        while j < n and j - i < 128 and data[j] == data[i]:
            j += 1
        if j - i >= 3:
            out.append(257 - (j - i))
            out.append(data[i])
            i = j
            continue
        j = i
        while j < n and j - i < 128:
            if j + 2 < n and data[j] == data[j + 1] == data[j + 2]:
                break
            j += 1
        out.append(j - i - 1)
        out += data[i:j]
        i = j
    out.append(128)
    return bytes(out)


def _unpredict(data: bytes, parms: dict) -> bytes:
    """Undo the §7.4.4.4 predictor functions: 1 (none), 2 (TIFF
    horizontal, 8-bit), 10-15 (PNG per-row filters)."""
    pred = parms.get("Predictor", 1)
    if pred in (None, 1):
        return data
    colors = int(parms.get("Colors", 1))
    bpc = int(parms.get("BitsPerComponent", 8))
    columns = int(parms.get("Columns", 1))
    if bpc != 8:
        raise ValueError(f"predictor with BitsPerComponent={bpc} unsupported")
    bpp = colors  # bytes per pixel at 8 bpc
    rowlen = colors * columns
    if pred == 2:
        out = bytearray(data)
        for r in range(0, len(out) - rowlen + 1, rowlen):
            for i in range(r + bpp, r + rowlen):
                out[i] = (out[i] + out[i - bpp]) & 0xFF
        return bytes(out)
    if pred < 10:
        raise ValueError(f"unknown predictor {pred}")
    out = bytearray()
    prior = bytearray(rowlen)
    stride = rowlen + 1
    if len(data) % stride:
        raise ValueError("PNG-predicted data is not a whole number of rows")
    for r in range(0, len(data), stride):
        ft = data[r]
        row = bytearray(data[r + 1 : r + stride])
        if ft == 1:  # Sub
            for i in range(bpp, rowlen):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(rowlen):
                row[i] = (row[i] + prior[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(rowlen):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prior[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(rowlen):
                a = row[i - bpp] if i >= bpp else 0
                b = prior[i]
                c = prior[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pr = a
                elif pb <= pc:
                    pr = b
                else:
                    pr = c
                row[i] = (row[i] + pr) & 0xFF
        elif ft != 0:
            raise ValueError(f"unknown PNG row filter {ft}")
        out += row
        prior = row
    return bytes(out)


def _flate_decode(data: bytes) -> bytes:
    try:
        return zlib.decompress(data)
    except zlib.error:
        try:  # some writers emit raw deflate or trailing garbage
            return zlib.decompressobj().decompress(data)
        except zlib.error:
            try:
                return zlib.decompressobj(-15).decompress(data)
            except zlib.error as ex:
                raise ValueError(f"bad FlateDecode stream: {ex}") from None


def _apply_filters(data: bytes, filt, parms) -> bytes:
    filters = filt if isinstance(filt, list) else [filt] if filt else []
    plist = (
        parms
        if isinstance(parms, list)
        else [parms] * len(filters)
    )
    for i, f in enumerate(filters):
        p = plist[i] if i < len(plist) and isinstance(plist[i], dict) else {}
        name = str(f)
        if name in ("FlateDecode", "Fl"):
            data = _unpredict(_flate_decode(data), p)
        elif name in ("LZWDecode", "LZW"):
            data = _unpredict(
                lzw_decode(data, early=int(p.get("EarlyChange", 1))), p
            )
        elif name in ("ASCIIHexDecode", "AHx"):
            data = _ascii_hex_decode(data)
        elif name in ("ASCII85Decode", "A85"):
            data = _ascii85_decode(data)
        elif name in ("RunLengthDecode", "RL"):
            data = _runlength_decode(data)
        elif name == "Crypt":
            raise ValueError("encrypted PDF streams unsupported")
        else:
            # DCT/CCITT/JBIG2/JPX are image codings; on a content
            # stream they mean a damaged file, not a missing feature
            raise ValueError(f"unsupported PDF stream filter /{name}")
    return data


# ---------------------------------------------------------------------------
# encodings (Annex D) + AGL subset for /Differences
# ---------------------------------------------------------------------------


def _decode_cp1252(b: int) -> str:
    try:
        return bytes([b]).decode("cp1252")
    except UnicodeDecodeError:
        return ""


_WIN_ANSI = {b: _decode_cp1252(b) for b in range(256)}
_MAC_ROMAN = {b: bytes([b]).decode("mac_roman") for b in range(256)}
#: StandardEncoding: ASCII range matches latin-1 except the typographic
#: quotes; the defined upper range (Annex D.2, abridged to the codes a
#: text extractor meets) — undefined codes decode to ''.
_STANDARD = {b: (chr(b) if 0x20 <= b <= 0x7E else "") for b in range(256)}
_STANDARD.update(
    {
        0x27: "’", 0x60: "‘",
        0xA1: "¡", 0xA2: "¢", 0xA3: "£", 0xA4: "⁄",
        0xA5: "¥", 0xA6: "ƒ", 0xA7: "§", 0xA8: "¤",
        0xA9: "'", 0xAA: "“", 0xAB: "«", 0xAC: "‹",
        0xAD: "›", 0xAE: "ﬁ", 0xAF: "ﬂ", 0xB1: "–",
        0xB2: "†", 0xB3: "‡", 0xB4: "·", 0xB6: "¶",
        0xB7: "•", 0xB8: "‚", 0xB9: "„", 0xBA: "”",
        0xBB: "»", 0xBC: "…", 0xBD: "‰", 0xBF: "¿",
        0xC1: "`", 0xC2: "´", 0xC3: "ˆ", 0xC4: "˜",
        0xC5: "¯", 0xC6: "˘", 0xC7: "˙", 0xC8: "¨",
        0xCA: "˚", 0xCB: "¸", 0xCD: "˝", 0xCE: "˛",
        0xCF: "ˇ", 0xD0: "—", 0xE1: "Æ", 0xE3: "ª",
        0xE8: "Ł", 0xE9: "Ø", 0xEA: "Œ", 0xEB: "º",
        0xF1: "æ", 0xF5: "ı", 0xF8: "ł", 0xF9: "ø",
        0xFA: "œ", 0xFB: "ß",
    }
)
_BASE_ENCODINGS = {
    "WinAnsiEncoding": _WIN_ANSI,
    "MacRomanEncoding": _MAC_ROMAN,
    "StandardEncoding": _STANDARD,
}

#: Adobe Glyph List subset: the ASCII + Latin-1 names /Differences
#: arrays actually use; ``uniXXXX``/``uXXXXXX`` names are handled
#: programmatically; anything else decodes to '' (loud in diffs, never
#: mojibake).
_AGL = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~", "quoteleft": "‘",
    "quoteright": "’", "quotedblleft": "“",
    "quotedblright": "”", "endash": "–", "emdash": "—",
    "bullet": "•", "ellipsis": "…", "plusminus": "±",
    "degree": "°", "copyright": "©", "registered": "®",
    "trademark": "™", "section": "§", "paragraph": "¶",
    "eacute": "é", "egrave": "è", "agrave": "à",
    "ccedilla": "ç", "adieresis": "ä", "odieresis": "ö",
    "udieresis": "ü", "ntilde": "ñ", "Euro": "€",
    "sterling": "£", "yen": "¥", "cent": "¢",
    "fi": "ﬁ", "fl": "ﬂ",
}
for _c in range(ord("A"), ord("Z") + 1):
    _AGL[chr(_c)] = chr(_c)
    _AGL[chr(_c + 32)] = chr(_c + 32)
_UNI_NAME_RE = re.compile(r"^uni([0-9A-Fa-f]{4})$|^u([0-9A-Fa-f]{4,6})$")


def _glyph_to_unicode(name: str) -> str:
    m = _UNI_NAME_RE.match(name)
    if m:
        cp = int(m.group(1) or m.group(2), 16)
        # a uniD800-class name would put a LONE surrogate in the
        # output str, which cannot be UTF-8 encoded and would kill the
        # Arrow conversion downstream (round-12 review pass 2)
        if 0xD800 <= cp <= 0xDFFF or cp > 0x10FFFF:
            return ""
        return chr(cp)
    return _AGL.get(name, "")


# ---------------------------------------------------------------------------
# ToUnicode CMaps (§9.10.3)
# ---------------------------------------------------------------------------


def _utf16be_str(b: bytes) -> str:
    try:
        return b.decode("utf-16-be", errors="surrogatepass")
    except UnicodeDecodeError:
        return ""


def _join_surrogates(s: str) -> str:
    """Re-join UTF-16 surrogate pairs that per-code-unit decoding left
    apart, and DROP lone surrogates — a str carrying one cannot be
    UTF-8 encoded, which would kill the Arrow conversion of the audit
    kernel's output while the row sits tagged ``ok``."""
    if not any(0xD800 <= ord(c) <= 0xDFFF for c in s):
        return s
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        c = ord(s[i])
        if (
            0xD800 <= c <= 0xDBFF
            and i + 1 < n
            and 0xDC00 <= ord(s[i + 1]) <= 0xDFFF
        ):
            out.append(
                chr(0x10000 + ((c - 0xD800) << 10) + (ord(s[i + 1]) - 0xDC00))
            )
            i += 2
        elif 0xD800 <= c <= 0xDFFF:
            i += 1  # lone surrogate: loud by omission
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


class _IncRange:
    """bfrange destination of the 'base hex string, incremented' form:
    src maps to base + (src - lo), re-encoded as UTF-16BE."""

    __slots__ = ("base", "nbytes")

    def __init__(self, base: int, nbytes: int) -> None:
        self.base = base
        self.nbytes = max(2, nbytes)


class _CMap:
    """Parsed ToUnicode CMap: codespace byte-lengths, bfchar entries,
    bfrange runs (kept as runs — an identity <0000><FFFF> range must
    not expand to 65536 dict entries per font per Arrow batch)."""

    def __init__(self) -> None:
        self.code_lens: set[int] = set()
        self.chars: dict[tuple[int, int], str] = {}  # (len, code) -> str
        #: (lo, hi, src_len, list[str] | _IncRange)
        self.ranges: list[tuple[int, int, int, object]] = []

    def lookup(self, length: int, code: int) -> str | None:
        hit = self.chars.get((length, code))
        if hit is not None:
            return hit
        for lo, hi, rlen, dst in self.ranges:
            if rlen == length and lo <= code <= hi:
                if isinstance(dst, list):
                    # a malformed CMap may ship an array shorter than
                    # the range; out-of-range decodes to '' (loud by
                    # omission), never an IndexError
                    return dst[code - lo] if code - lo < len(dst) else ""
                assert isinstance(dst, _IncRange)
                v = dst.base + (code - lo)
                try:
                    return v.to_bytes(dst.nbytes, "big").decode(
                        "utf-16-be", errors="surrogatepass"
                    )
                except (OverflowError, UnicodeDecodeError):
                    return ""
        return None


def parse_tounicode_cmap(data: bytes) -> _CMap:
    """Parse the bfchar/bfrange/codespacerange sections of a ToUnicode
    CMap stream; everything else (PostScript framing) is skipped."""
    lex = _Lexer(data)
    cmap = _CMap()
    n = len(data)
    while lex.pos < n:
        try:
            tok = lex.parse_object()
        except ValueError:
            break
        if not (isinstance(tok, tuple) and tok[0] == "kw"):
            continue
        kw = tok[1]
        if kw == "begincodespacerange":
            while True:
                a = lex.parse_object()
                if isinstance(a, tuple):  # endcodespacerange
                    break
                b = lex.parse_object()
                if isinstance(a, bytes):
                    cmap.code_lens.add(len(a))
                if isinstance(b, bytes):
                    cmap.code_lens.add(len(b))
        elif kw == "beginbfchar":
            while True:
                src = lex.parse_object()
                if isinstance(src, tuple):  # endbfchar
                    break
                dst = lex.parse_object()
                if isinstance(src, bytes) and isinstance(dst, bytes):
                    cmap.chars[
                        (len(src), int.from_bytes(src, "big"))
                    ] = _utf16be_str(dst)
        elif kw == "beginbfrange":
            while True:
                lo = lex.parse_object()
                if isinstance(lo, tuple):  # endbfrange
                    break
                hi = lex.parse_object()
                dst = lex.parse_object()
                if not (isinstance(lo, bytes) and isinstance(hi, bytes)):
                    continue
                lo_i = int.from_bytes(lo, "big")
                hi_i = int.from_bytes(hi, "big")
                if isinstance(dst, list):
                    cmap.ranges.append(
                        (
                            lo_i,
                            hi_i,
                            len(lo),
                            [
                                _utf16be_str(d) if isinstance(d, bytes) else ""
                                for d in dst
                            ],
                        )
                    )
                elif isinstance(dst, bytes):
                    base = int.from_bytes(dst, "big") if dst else 0
                    # store as chr-incremented base over the integer
                    # value of the dst string
                    cmap.ranges.append(
                        (lo_i, hi_i, len(lo), _IncRange(base, len(dst)))
                    )
    if not cmap.code_lens:
        cmap.code_lens = {2} if (cmap.ranges or cmap.chars) else {1}
    return cmap


class _FontDecoder:
    """String-bytes → text for one /Font resource entry."""

    def __init__(self, cmap: _CMap | None, simple_map: dict[int, str] | None, nbytes: int) -> None:
        self.cmap = cmap
        self.simple = simple_map
        self.nbytes = nbytes

    def decode(self, raw: bytes) -> str:
        out: list[str] = []
        if self.cmap is not None:
            lens = sorted(self.cmap.code_lens, reverse=True) or [self.nbytes]
            i, n = 0, len(raw)
            while i < n:
                got = None
                for ln in lens:
                    if i + ln <= n:
                        code = int.from_bytes(raw[i : i + ln], "big")
                        got = self.cmap.lookup(ln, code)
                        if got is not None:
                            out.append(got)
                            i += ln
                            break
                if got is None:
                    ln = min(lens[-1], n - i) or 1
                    code = int.from_bytes(raw[i : i + ln], "big")
                    # unmapped code: fall back per byte-length
                    out.append(
                        chr(code) if ln == 1 else _utf16be_str(raw[i : i + ln])
                    )
                    i += ln
            return _join_surrogates("".join(out))
        if self.nbytes == 2:
            return _join_surrogates(_utf16be_str(raw))
        table = self.simple if self.simple is not None else _WIN_ANSI
        # _join_surrogates also guards the simple path (its any() scan
        # is a no-op on clean text): a hostile /Differences table is
        # the only way surrogates reach here, but the invariant "no
        # decode path emits a lone surrogate" is worth one cheap pass
        return _join_surrogates("".join(table.get(b, "") for b in raw))


# ---------------------------------------------------------------------------
# document layer: xref chains, object streams, page tree
# ---------------------------------------------------------------------------


_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")


class PdfDocument:
    """Random-access view over one PDF file's object graph."""

    def __init__(self, data: bytes) -> None:
        if not data.startswith(b"%PDF-"):
            raise ValueError("missing %PDF header")
        self.data = data
        #: objnum -> byte offset (int) | ('objstm', stream_objnum, idx)
        self.xref: dict[int, object] = {}
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        try:
            self._load_xref_chain()
        except ValueError:
            self.xref = {}
        if not self.xref or "Root" not in self.trailer:
            self._rebuild_by_scan()
        if "Root" not in self.trailer:
            raise ValueError("PDF has no document catalog (/Root)")

    # -- xref ---------------------------------------------------------------

    def _load_xref_chain(self) -> None:
        tail = self.data[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            raise ValueError("no startxref")
        offset = int(m.group(1))
        seen: set[int] = set()
        while offset and offset not in seen and 0 <= offset < len(self.data):
            seen.add(offset)
            lex = _Lexer(self.data, offset)
            lex.skip_ws()
            if self.data.startswith(b"xref", lex.pos):
                trailer = self._read_xref_table(lex.pos + 4)
            else:
                trailer = self._read_xref_stream(lex)
            for k, v in trailer.items():
                self.trailer.setdefault(k, v)
            nxt = trailer.get("XRefStm")
            if isinstance(nxt, int) and nxt not in seen:
                try:
                    st = _Lexer(self.data, nxt)
                    st.skip_ws()
                    self._read_xref_stream(st)
                except ValueError:
                    pass
            offset = trailer.get("Prev") if isinstance(trailer.get("Prev"), int) else 0

    def _read_xref_table(self, pos: int) -> dict:
        lex = _Lexer(self.data, pos)
        while True:
            lex.skip_ws()
            if self.data.startswith(b"trailer", lex.pos):
                lex.pos += 7
                trailer = lex.parse_object()
                if not isinstance(trailer, dict):
                    raise ValueError("xref trailer is not a dict")
                return trailer
            start = lex.parse_object()
            count = lex.parse_object()
            if not isinstance(start, int) or not isinstance(count, int):
                raise ValueError("bad xref subsection header")
            lex.skip_ws()
            for i in range(count):
                entry = self.data[lex.pos : lex.pos + 20]
                if len(entry) < 18:
                    raise ValueError("truncated xref entry")
                off = int(entry[0:10])
                kind = entry[17:18]
                objnum = start + i
                if kind == b"n" and objnum not in self.xref:
                    self.xref[objnum] = off
                # free entries: leave absent; entries are exactly 20
                # bytes (§7.5.4)
                lex.pos += 20

    def _read_xref_stream(self, lex: _Lexer) -> dict:
        obj = self._parse_indirect_at(lex.pos)
        if not isinstance(obj, Stream):
            raise ValueError("startxref does not point at an xref stream")
        d = obj.dict
        data = _apply_filters(obj.raw, d.get("Filter"), d.get("DecodeParms"))
        w = [int(x) for x in d.get("W", [])]
        if len(w) != 3:
            raise ValueError("xref stream /W must have 3 entries")
        size = int(d.get("Size", 0))
        index = d.get("Index", [0, size])
        rowlen = sum(w)
        pos = 0
        for s in range(0, len(index) - 1, 2):
            start, count = int(index[s]), int(index[s + 1])
            for i in range(count):
                row = data[pos : pos + rowlen]
                pos += rowlen
                if len(row) < rowlen:
                    raise ValueError("truncated xref stream")
                fields = []
                o = 0
                for width in w:
                    fields.append(
                        int.from_bytes(row[o : o + width], "big") if width else None
                    )
                    o += width
                typ = fields[0] if w[0] else 1
                objnum = start + i
                if objnum in self.xref:
                    continue
                if typ == 1:
                    self.xref[objnum] = fields[1]
                elif typ == 2:
                    self.xref[objnum] = ("objstm", fields[1], fields[2])
        return d

    def _rebuild_by_scan(self) -> None:
        """Broken/absent xref: index every ``N G obj`` marker (last
        occurrence wins, matching incremental-update semantics) and find
        a catalog for /Root."""
        for m in _OBJ_RE.finditer(self.data):
            self.xref[int(m.group(1))] = m.start()
        self._cache.clear()
        if "Root" not in self.trailer:
            tm = re.search(rb"trailer\s*<<", self.data)
            if tm:
                try:
                    t = _Lexer(self.data, tm.end() - 2).parse_object()
                    if isinstance(t, dict) and "Root" in t:
                        self.trailer.update(t)
                except ValueError:
                    pass
        if "Root" not in self.trailer:
            for num in sorted(self.xref):
                try:
                    obj = self.get(num)
                except ValueError:
                    continue
                if isinstance(obj, dict) and str(obj.get("Type", "")) == "Catalog":
                    self.trailer["Root"] = Ref(num, 0)
                    break

    # -- objects ------------------------------------------------------------

    def _parse_indirect_at(self, pos: int):
        lex = _Lexer(self.data, pos)
        lex.skip_ws()
        m = _OBJ_RE.match(self.data, lex.pos)
        if not m:
            raise ValueError(f"no 'N G obj' at offset {pos}")
        lex.pos = m.end()
        obj = lex.parse_object()
        if isinstance(obj, dict):
            lex.skip_ws()
            if self.data.startswith(b"stream", lex.pos):
                p = lex.pos + 6
                if self.data.startswith(b"\r\n", p):
                    p += 2
                elif self.data.startswith(b"\n", p) or self.data.startswith(b"\r", p):
                    p += 1
                length = self.resolve(obj.get("Length"))
                raw = None
                if isinstance(length, int) and 0 <= length <= len(self.data) - p:
                    cand = self.data[p : p + length]
                    after = self.data[p + length : p + length + 20]
                    if b"endstream" in after or not after.strip():
                        raw = cand
                if raw is None:  # lying /Length: trust the delimiter
                    end = self.data.find(b"endstream", p)
                    if end < 0:
                        raise ValueError("stream without endstream")
                    raw = self.data[p:end].rstrip(b"\r\n")
                return Stream(obj, raw)
        return obj

    def get(self, num: int):
        if num in self._cache:
            return self._cache[num]
        loc = self.xref.get(num)
        if loc is None:
            return None
        if isinstance(loc, tuple):
            obj = self._get_from_objstm(loc[1], loc[2], num)
        else:
            obj = self._parse_indirect_at(loc)
        self._cache[num] = obj
        return obj

    def _get_from_objstm(self, stm_num: int, idx: int, want: int):
        stm = self.get(stm_num)
        if not isinstance(stm, Stream):
            raise ValueError(f"object stream {stm_num} is not a stream")
        data = _apply_filters(
            stm.raw, stm.dict.get("Filter"), stm.dict.get("DecodeParms")
        )
        n = int(self.resolve(stm.dict.get("N", 0)))
        first = int(self.resolve(stm.dict.get("First", 0)))
        lex = _Lexer(data)
        pairs = []
        for _ in range(n):
            a = lex.parse_object()
            b = lex.parse_object()
            if not isinstance(a, int) or not isinstance(b, int):
                raise ValueError("malformed object-stream header")
            pairs.append((a, b))
        for objnum, off in pairs:
            if objnum == want:
                return _Lexer(data, first + off).parse_object()
        # header objnums disagree with the xref's type-2 entry: one of
        # the two sides is damaged, and substituting the index-matched
        # object would ship WRONG content tagged ok (review pass 2) —
        # raise, so the record routes to `corrupt`
        raise ValueError(f"object {want} not found in object stream {stm_num}")

    def resolve(self, obj):
        depth = 0
        while isinstance(obj, Ref):
            if depth > 32:
                raise ValueError("reference cycle")
            obj = self.get(obj.num)
            depth += 1
        return obj

    def stream_bytes(self, obj) -> bytes:
        obj = self.resolve(obj)
        if not isinstance(obj, Stream):
            raise ValueError("expected a stream object")
        return _apply_filters(
            obj.raw,
            self.resolve(obj.dict.get("Filter")),
            self.resolve(obj.dict.get("DecodeParms")),
        )

    # -- page tree ----------------------------------------------------------

    def pages(self) -> list[dict]:
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            raise ValueError("catalog is not a dict")
        if "Encrypt" in self.trailer:
            raise ValueError("encrypted PDF unsupported")
        top = self.resolve(root.get("Pages"))
        out: list[dict] = []
        seen: set[int] = set()

        def walk(node, inherited: dict, depth: int) -> None:
            if depth > 64 or not isinstance(node, dict):
                return
            nid = id(node)
            if nid in seen:
                return
            seen.add(nid)
            inh = dict(inherited)
            if "Resources" in node:
                inh["Resources"] = node["Resources"]
            kids = self.resolve(node.get("Kids"))
            if isinstance(kids, list) and str(node.get("Type", "Pages")) != "Page":
                for kid in kids:
                    walk(self.resolve(kid), inh, depth + 1)
                return
            page = dict(node)
            page.setdefault("Resources", inh.get("Resources", {}))
            out.append(page)

        walk(top, {}, 0)
        if not out:
            raise ValueError("PDF page tree has no pages")
        return out


# ---------------------------------------------------------------------------
# content-stream text interpreter (§9.4)
# ---------------------------------------------------------------------------


def _build_font_decoder(doc: PdfDocument, font: dict) -> _FontDecoder:
    font = doc.resolve(font) or {}
    tou = doc.resolve(font.get("ToUnicode"))
    subtype = str(font.get("Subtype", ""))
    if isinstance(tou, Stream):
        cmap = parse_tounicode_cmap(doc.stream_bytes(tou))
        nbytes = max(cmap.code_lens) if cmap.code_lens else (2 if subtype == "Type0" else 1)
        return _FontDecoder(cmap, None, nbytes)
    if subtype == "Type0":
        # Identity-H without ToUnicode: codes are glyph ids, not text;
        # UTF-16BE is the honest best-effort (right for fonts whose
        # GIDs mirror Unicode, garbage flagged by '' drops otherwise)
        return _FontDecoder(None, None, 2)
    enc = doc.resolve(font.get("Encoding"))
    table: dict[int, str] | None = None
    if isinstance(enc, Name):
        table = _BASE_ENCODINGS.get(str(enc))
    elif isinstance(enc, dict):
        base = doc.resolve(enc.get("BaseEncoding"))
        table = dict(
            _BASE_ENCODINGS.get(str(base), _STANDARD)
            if base is not None
            else _STANDARD
        )
        diffs = doc.resolve(enc.get("Differences"))
        if isinstance(diffs, list):
            code = 0
            for item in diffs:
                if isinstance(item, (int, float)):
                    code = int(item)
                elif isinstance(item, Name):
                    table[code] = _glyph_to_unicode(str(item))
                    code += 1
    return _FontDecoder(None, table, 1)


_LINE_BREAK_OPS = frozenset(["Td", "TD", "T*", "Tm"])
_FALLBACK_FONT = _FontDecoder(None, None, 1)


def _page_text(doc: PdfDocument, page: dict) -> list[str]:
    contents = doc.resolve(page.get("Contents"))
    if contents is None:
        return []
    parts = contents if isinstance(contents, list) else [contents]
    data = b"\n".join(doc.stream_bytes(p) for p in parts)
    res = doc.resolve(page.get("Resources")) or {}
    fonts_dict = doc.resolve(res.get("Font")) if isinstance(res, dict) else {}
    decoders: dict[str, _FontDecoder] = {}

    def font_for(name: str) -> _FontDecoder:
        if name not in decoders:
            entry = (fonts_dict or {}).get(name)
            decoders[name] = (
                _build_font_decoder(doc, entry) if entry is not None else _FALLBACK_FONT
            )
        return decoders[name]

    lines: list[str] = []
    cur: list[str] = []
    cur_font = _FALLBACK_FONT
    font_stack: list[_FontDecoder] = []
    operands: list = []
    lex = _Lexer(data)
    n = len(data)

    def flush() -> None:
        if cur:
            lines.append("".join(cur))
            cur.clear()

    while True:
        lex.skip_ws()
        if lex.pos >= n:
            break
        # a lex error here (cut mid-string, hostile nesting) is real
        # damage — propagate so the record routes to `corrupt` rather
        # than shipping silently truncated text tagged ok
        tok = lex.parse_object()
        if not (isinstance(tok, tuple) and tok[0] == "kw"):
            operands.append(tok)
            if len(operands) > 128:
                operands = operands[-16:]
            continue
        op = tok[1]
        if op == "Tj" or op == "'":
            if op == "'":
                flush()
            if operands and isinstance(operands[-1], bytes):
                cur.append(cur_font.decode(operands[-1]))
        elif op == '"':
            flush()
            if operands and isinstance(operands[-1], bytes):
                cur.append(cur_font.decode(operands[-1]))
        elif op == "TJ":
            if operands and isinstance(operands[-1], list):
                for el in operands[-1]:
                    if isinstance(el, bytes):
                        cur.append(cur_font.decode(el))
        elif op in _LINE_BREAK_OPS:
            flush()
        elif op == "Tf":
            if len(operands) >= 2 and isinstance(operands[-2], Name):
                cur_font = font_for(str(operands[-2]))
        elif op == "ET":
            flush()
        elif op == "q":
            font_stack.append(cur_font)
        elif op == "Q":
            if font_stack:
                cur_font = font_stack.pop()
        elif op == "BI":
            # inline image: skip to EI at a token boundary (§8.9.7)
            m = re.compile(rb"\bEI\b").search(data, lex.pos)
            lex.pos = m.end() if m else n
        operands = []
    flush()
    return lines


def extract_pdf_text(data: bytes) -> str:
    """Extract the visible text of a PDF: one output line per text
    line (line-advance operators Td/TD/T*/Tm/'/" break lines), pages
    concatenated, joined with ``\\n``.  Raises ``ValueError`` on
    structural damage — ``audit_http_extractions`` routes that to the
    ``corrupt`` quarantine class, the same contract as every codec in
    ``sources/encodings.py``.  ValueError is the ONLY failure type:
    hostile bytes can reach int()/struct/recursion paths whose native
    exceptions would otherwise escape the audit kernel's catch and
    kill the whole Arrow task over one bad crawl record (round-12
    review finding, reproduced with a 50k-deep '[' nest)."""
    try:
        doc = PdfDocument(data)
        lines: list[str] = []
        for page in doc.pages():
            lines.extend(_page_text(doc, page))
        return "\n".join(lines)
    except (ValueError, MemoryError):
        raise
    except Exception as ex:  # noqa: BLE001 — the containment boundary
        raise ValueError(
            f"damaged PDF ({type(ex).__name__}: {str(ex)[:120]})"
        ) from ex


# ---------------------------------------------------------------------------
# closed-form synthesis (the fixture writer)
# ---------------------------------------------------------------------------


def _ser(obj) -> bytes:
    if isinstance(obj, Name):
        return b"/" + str(obj).encode("latin-1")
    if isinstance(obj, bool):
        return b"true" if obj else b"false"
    if obj is None:
        return b"null"
    if isinstance(obj, int):
        return str(obj).encode()
    if isinstance(obj, float):
        return (f"{obj:.4f}").rstrip("0").rstrip(".").encode()
    if isinstance(obj, Ref):
        return f"{obj.num} {obj.gen} R".encode()
    if isinstance(obj, bytes):
        out = bytearray(b"(")
        for b in obj:
            if b in b"()\\":
                out += b"\\" + bytes([b])
            elif b < 32 or b == 127:
                out += f"\\{b:03o}".encode()
            else:
                out.append(b)
        out += b")"
        return bytes(out)
    if isinstance(obj, list):
        return b"[" + b" ".join(_ser(x) for x in obj) + b"]"
    if isinstance(obj, dict):
        return (
            b"<<"
            + b" ".join(
                b"/" + k.encode("latin-1") + b" " + _ser(v)
                for k, v in obj.items()
            )
            + b">>"
        )
    raise TypeError(f"cannot serialize {type(obj)}")


def _hexstr(b: bytes) -> bytes:
    return b"<" + b.hex().encode() + b">"


_CONTENT_FILTERS = {
    # name -> (/Filter value, encoder)
    "none": (None, lambda d: d),
    "flate": (Name("FlateDecode"), lambda d: zlib.compress(d, 6)),
    "lzw": (Name("LZWDecode"), lzw_encode),
    "ahx_flate": (
        [Name("ASCIIHexDecode"), Name("FlateDecode")],
        lambda d: zlib.compress(d, 6).hex().encode() + b">",
    ),
    "a85": (
        Name("ASCII85Decode"),
        lambda d: __import__("base64").a85encode(d) + b"~>",
    ),
    "rl": (Name("RunLengthDecode"), _runlength_encode),
}


def _escape_literal(line: str) -> bytes:
    return _ser(line.encode("cp1252"))


def _content_stream(
    lines: list[str], *, hex_strings: bool, tj_array: bool, type0: bool
) -> bytes:
    ops = [b"BT /F1 12 Tf 72 720 Td"]
    for i, line in enumerate(lines):
        if i:
            ops.append(b"0 -14 Td")
        if type0:
            ops.append(_hexstr(line.encode("utf-16-be")) + b" Tj")
        elif tj_array and len(line) > 1:
            mid = len(line) // 2
            ops.append(
                b"["
                + _escape_literal(line[:mid])
                + b" -250 "
                + _escape_literal(line[mid:])
                + b"] TJ"
            )
        elif hex_strings:
            ops.append(_hexstr(line.encode("cp1252")) + b" Tj")
        else:
            ops.append(_escape_literal(line) + b" Tj")
    ops.append(b"ET")
    return b" ".join(ops)


_IDENTITY_TOUNICODE = (
    b"/CIDInit /ProcSet findresource begin\n"
    b"12 dict begin\nbegincmap\n"
    b"/CMapName /House-Identity-UCS def\n/CMapType 2 def\n"
    b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
    b"1 beginbfrange\n<0000> <FFFF> <0000>\nendbfrange\n"
    b"endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend"
)


def build_pdf(
    lines: list[str],
    *,
    content_filter: str = "flate",
    hex_strings: bool = False,
    tj_array: bool = False,
    xref_variant: int = 0,
    force_type0: bool = False,
    two_pages: bool = False,
) -> bytes:
    """PDF whose :func:`extract_pdf_text` result is exactly
    ``"\\n".join(lines)`` — the closed form the ``warc_pdf`` oracle
    branch recomputes.  ``xref_variant``: 0 = classic xref table, 1 =
    cross-reference stream (PNG Up predictor), 2 = xref stream +
    object stream holding the non-stream objects (type-2 entries).
    ``two_pages`` splits the lines across two /Kids of the page tree
    (Resources inherited from the /Pages node) — extraction joins
    pages with ``\\n``, so the closed form is UNCHANGED, which is what
    lets the fixture exercise the multi-page walk in-key."""
    type0 = force_type0 or any(
        not _cp1252_able(line) for line in lines
    )
    fname, encoder = _CONTENT_FILTERS[content_filter]

    def content_obj(page_lines: list[str]) -> tuple[dict, bytes]:
        content = _content_stream(
            page_lines, hex_strings=hex_strings, tj_array=tj_array,
            type0=type0,
        )
        enc = encoder(content)
        d: dict = {"Length": len(enc)}
        if fname is not None:
            d["Filter"] = fname
        return (d, enc)

    if two_pages and len(lines) >= 2:
        split = (len(lines) + 1) // 2
        objs: dict[int, object] = {
            1: {"Type": Name("Catalog"), "Pages": Ref(2, 0)},
            2: {
                "Type": Name("Pages"),
                "Kids": [Ref(3, 0), Ref(8, 0)],
                "Count": 2,
                # inherited by both pages (§7.7.3.4)
                "Resources": {"Font": {"F1": Ref(5, 0)}},
            },
            3: {
                "Type": Name("Page"),
                "Parent": Ref(2, 0),
                "MediaBox": [0, 0, 612, 792],
                "Contents": Ref(4, 0),
            },
            4: content_obj(lines[:split]),
            8: {
                "Type": Name("Page"),
                "Parent": Ref(2, 0),
                "Contents": Ref(9, 0),
            },
            9: content_obj(lines[split:]),
        }
    else:
        objs = {
            1: {"Type": Name("Catalog"), "Pages": Ref(2, 0)},
            2: {"Type": Name("Pages"), "Kids": [Ref(3, 0)], "Count": 1},
            3: {
                "Type": Name("Page"),
                "Parent": Ref(2, 0),
                "MediaBox": [0, 0, 612, 792],
                "Resources": {"Font": {"F1": Ref(5, 0)}},
                "Contents": Ref(4, 0),
            },
            4: content_obj(lines),
        }
    if type0:
        objs[5] = {
            "Type": Name("Font"),
            "Subtype": Name("Type0"),
            "BaseFont": Name("House"),
            "Encoding": Name("Identity-H"),
            "DescendantFonts": [Ref(6, 0)],
            "ToUnicode": Ref(7, 0),
        }
        objs[6] = {
            "Type": Name("Font"),
            "Subtype": Name("CIDFontType2"),
            "BaseFont": Name("House"),
            "CIDSystemInfo": {
                "Registry": b"Adobe",
                "Ordering": b"Identity",
                "Supplement": 0,
            },
        }
        tou = zlib.compress(_IDENTITY_TOUNICODE, 6)
        objs[7] = (
            {"Length": len(tou), "Filter": Name("FlateDecode")},
            tou,
        )
    else:
        objs[5] = {
            "Type": Name("Font"),
            "Subtype": Name("Type1"),
            "BaseFont": Name("Helvetica"),
            "Encoding": Name("WinAnsiEncoding"),
        }

    if xref_variant == 0:
        return _assemble_classic(objs)
    return _assemble_xref_stream(objs, use_objstm=(xref_variant == 2))


def _cp1252_able(s: str) -> bool:
    try:
        s.encode("cp1252")
        return True
    except UnicodeEncodeError:
        return False


def _obj_bytes(num: int, obj) -> bytes:
    if isinstance(obj, tuple):  # (dict, raw stream bytes)
        return (
            f"{num} 0 obj\n".encode()
            + _ser(obj[0])
            + b"\nstream\n"
            + obj[1]
            + b"\nendstream\nendobj\n"
        )
    return f"{num} 0 obj\n".encode() + _ser(obj) + b"\nendobj\n"


def _assemble_classic(objs: dict[int, object]) -> bytes:
    out = bytearray(b"%PDF-1.6\n%\xb5\xb1\n")
    offsets: dict[int, int] = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += _obj_bytes(num, objs[num])
    xref_off = len(out)
    size = max(objs) + 1
    out += f"xref\n0 {size}\n".encode()
    out += b"0000000000 65535 f \n"
    for num in range(1, size):
        if num in offsets:
            out += f"{offsets[num]:010d} 00000 n \n".encode()
        else:  # gap in the object numbering: a free entry
            out += b"0000000000 00000 f \n"
    trailer = {"Size": size, "Root": Ref(1, 0)}
    out += b"trailer\n" + _ser(trailer)
    out += f"\nstartxref\n{xref_off}\n%%EOF\n".encode()
    return bytes(out)


def _png_up_predict(rows: list[bytes]) -> bytes:
    """Apply the PNG Up filter to fixed-width rows (what real writers
    emit for xref streams) — exercises ``_unpredict`` end-to-end."""
    out = bytearray()
    prior = bytes(len(rows[0])) if rows else b""
    for row in rows:
        out.append(2)
        out += bytes((a - b) & 0xFF for a, b in zip(row, prior))
        prior = row
    return bytes(out)


def _assemble_xref_stream(
    objs: dict[int, object], *, use_objstm: bool
) -> bytes:
    out = bytearray(b"%PDF-1.6\n%\xb5\xb1\n")
    offsets: dict[int, int] = {}
    compressed: dict[int, int] = {}  # objnum -> index inside the ObjStm
    top: dict[int, object] = dict(objs)
    objstm_num = max(objs) + 1
    xref_num = objstm_num + (1 if use_objstm else 0)

    if use_objstm:
        packed = [
            (num, obj)
            for num, obj in sorted(objs.items())
            if not isinstance(obj, tuple)
        ]
        for idx, (num, _) in enumerate(packed):
            compressed[num] = idx
            del top[num]
        header = bytearray()
        body = bytearray()
        for num, obj in packed:
            header += f"{num} {len(body)} ".encode()
            body += _ser(obj) + b"\n"
        payload = bytes(header) + body
        enc = zlib.compress(payload, 6)
        top[objstm_num] = (
            {
                "Type": Name("ObjStm"),
                "N": len(packed),
                "First": len(header),
                "Length": len(enc),
                "Filter": Name("FlateDecode"),
            },
            enc,
        )

    for num in sorted(top):
        offsets[num] = len(out)
        out += _obj_bytes(num, top[num])

    xref_off = len(out)
    size = xref_num + 1
    w = (1, 4, 2)
    rows = []
    for num in range(size):
        if num == 0:
            rows.append(struct.pack(">B I H", 0, 0, 0xFFFF))
        elif num in compressed:
            rows.append(struct.pack(">B I H", 2, objstm_num, compressed[num]))
        elif num == xref_num:
            rows.append(struct.pack(">B I H", 1, xref_off, 0))
        elif num in offsets:
            rows.append(struct.pack(">B I H", 1, offsets[num], 0))
        else:  # gap in the object numbering: a free entry
            rows.append(struct.pack(">B I H", 0, 0, 0))
    enc_rows = zlib.compress(_png_up_predict(rows), 6)
    xdict = {
        "Type": Name("XRef"),
        "Size": size,
        "W": list(w),
        "Root": Ref(1, 0),
        "Filter": Name("FlateDecode"),
        "DecodeParms": {"Predictor": 12, "Columns": sum(w)},
        "Length": len(enc_rows),
    }
    out += _obj_bytes(xref_num, (xdict, enc_rows))
    out += f"startxref\n{xref_off}\n%%EOF\n".encode()
    return bytes(out)


# ---------------------------------------------------------------------------
# the fixture entry point (doc_id-keyed variants, html.py discipline)
# ---------------------------------------------------------------------------

#: content-stream filter by doc_id % 7 — every §7.4 text filter appears
_FILTER_VARIANTS = ["flate", "lzw", "none", "ahx_flate", "a85", "rl", "flate"]


def synthesize_pdf(doc_id: int, text: str) -> bytes:
    """Deterministic PDF whose extracted text is exactly
    ``expected_extracted_text(doc_id, text)`` (sources/html.py) — the
    SAME closed form the HTML pages encode, so the ``warc_http`` /
    ``warc_pdf`` oracle needs no per-format expectation.  Variant
    layout by doc_id arithmetic (independent moduli, so every
    combination appears at any corpus size ≥ a few hundred): filter
    %7, literal-vs-hex strings %2, Tj-vs-TJ %13, xref layout %3
    (classic / xref-stream / xref-stream+ObjStm), and %11 forces the
    Type0+ToUnicode path even for cp1252-able text."""
    from .html import expected_extracted_text

    lines = expected_extracted_text(doc_id, text).split("\n")
    return build_pdf(
        lines,
        content_filter=_FILTER_VARIANTS[doc_id % 7],
        hex_strings=(doc_id % 2 == 1),
        tj_array=(doc_id % 13 == 0),
        xref_variant=doc_id % 3,
        force_type0=(doc_id % 11 == 0),
        # %17: the multi-page walk in-key — pages join with '\n', so
        # the closed form is unchanged
        two_pages=(doc_id % 17 == 0),
    )
