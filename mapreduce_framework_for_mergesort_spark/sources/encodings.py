"""HTTP content-coding decoders (RFC 9110 §8.4): one entry point,
``decode_content_coding``, for one coding token; the WARC layer walks
a header's chain right to left.

* ``br`` / ``zstd`` — Arrow's C codecs, read as a stream
  (``_arrow_stream_decompress``): HTTP bodies carry no decompressed
  size, and a stream read needs none.
* ``gzip`` / ``deflate`` — stdlib ``zlib``.  gzip walks every member
  (``split_gzip_members``): servers that flush mid-response emit one
  member per flush.
* ``compress`` — the Unix ``compress(1)`` LZW ``.Z`` format
  (``decode_lzw``/``encode_lzw``).

Every decoder stops at ``max_output`` bytes (default ``MAX_OUTPUT``,
1 GiB) and raises ``ValueError("decompressed output exceeds cap")``;
damaged input raises ``ValueError`` or ``zlib.error``.  An unknown
coding raises ``NotImplementedError``.
"""

from __future__ import annotations

import zlib

import pyarrow as pa

#: Decompressed-size cap for one HTTP body.
MAX_OUTPUT = 1 << 30

_CAP_MSG = "decompressed output exceeds cap"

#: Read size of one Arrow stream read (br / zstd).
_READ_PIECE = 1 << 20


# ---------------------------------------------------------------------------
# br / zstd — Arrow codecs
# ---------------------------------------------------------------------------


def _arrow_stream_decompress(
    data: bytes, codec: str, max_output: int
) -> bytes:
    """Decode a sizeless ``codec`` stream in reads of at most
    ``_READ_PIECE`` bytes until EOF or one byte past ``max_output``, so
    an over-cap body stops one byte past the cap and no read reserves
    the cap's size up front."""
    pieces: list[bytes] = []
    total = 0
    try:
        stream = pa.CompressedInputStream(pa.BufferReader(data), codec)
        while total <= max_output:
            piece = stream.read(min(_READ_PIECE, max_output + 1 - total))
            if not piece:
                break
            pieces.append(piece)
            total += len(piece)
    except OSError as ex:
        raise ValueError(f"corrupt {codec} data: {ex}") from None
    if total > max_output:
        raise ValueError(_CAP_MSG)
    return b"".join(pieces)


def brotli_decompress(data: bytes, max_output: int = MAX_OUTPUT) -> bytes:
    return _arrow_stream_decompress(data, "brotli", max_output)


def zstd_decompress(data: bytes, max_output: int = MAX_OUTPUT) -> bytes:
    """zstd decode; concatenated and skippable frames decode too."""
    return _arrow_stream_decompress(data, "zstd", max_output)


# ---------------------------------------------------------------------------
# gzip / deflate — stdlib zlib
# ---------------------------------------------------------------------------


def _inflate(data: bytes, wbits: int, max_output: int | None):
    """Inflate the zlib-family stream at the head of ``data`` →
    ``(output, decompressobj)``; the object's ``eof`` and
    ``unused_data`` say whether the stream ended and what follows it.
    ``max_output=None`` is uncapped."""
    d = zlib.decompressobj(wbits)
    out = d.decompress(data, 0 if max_output is None else max_output + 1)
    if max_output is not None and len(out) > max_output:
        raise ValueError(_CAP_MSG)
    return out, d


def split_gzip_members(
    data: bytes, max_output: int | None = None
) -> list[bytes]:
    """Inflate a multi-member gzip stream member by member; the members'
    total output is capped at ``max_output`` (``None``: uncapped, for
    whole ``.warc.gz`` files).  A truncated or corrupt member — trailing
    junk included — raises ValueError naming the member index."""
    members: list[bytes] = []
    left = max_output
    while data:
        i = len(members)
        try:
            blob, d = _inflate(data, 31, left)
        except zlib.error as ex:
            raise ValueError(f"corrupt gzip member {i}: {ex}") from None
        if not d.eof:
            raise ValueError(f"truncated gzip member {i}")
        members.append(blob)
        data = d.unused_data
        if left is not None:
            left -= len(blob)
    return members


# ---------------------------------------------------------------------------
# LZW — the `compress` content-coding (round 12)
# ---------------------------------------------------------------------------

#: compress(1) container magic (the .Z format)
LZW_MAGIC = b"\x1f\x9d"


def decode_lzw(data: bytes, max_output: int = MAX_OUTPUT) -> bytes:
    """Decode a Unix ``compress(1)`` ``.Z`` stream — the HTTP
    ``compress`` content-coding (round 12; until now the planted
    permanent-unsupported-coding demo, but LZW is a ~50-line public
    algorithm from the RFC 1951-era specs, so the
    ``unsupported_encoding`` class now holds only genuinely exotic
    codings).

    Format (public knowledge — the compress/ncompress sources and the
    GIF-era LZW spec): magic ``1f 9d``; a flags byte (bits 0–4 = max
    code width 9–16, bit 7 = block mode, i.e. code 256 is CLEAR);
    then LSB-first variable-width codes starting at 9 bits, widening
    when the next table index no longer fits.  The historical quirk a
    correct decoder MUST mirror: the compressor flushes its output in
    units of 8 codes (= ``width`` bytes), so on every width change and
    after every CLEAR the bitstream is zero-padded to the next
    ``width``-byte unit boundary of the current segment — pinned here
    against the system ``uncompress`` (gzip's unlzw), which rejects
    any other convention."""
    if len(data) < 3 or data[:2] != LZW_MAGIC:
        raise ValueError("not a compress(1) LZW stream (bad magic)")
    flags = data[2]
    maxbits = flags & 0x1F
    block_mode = bool(flags & 0x80)
    if flags & 0x60:
        raise ValueError("reserved LZW flag bits set")
    if not 9 <= maxbits <= 16:
        raise ValueError(f"invalid LZW max code width {maxbits}")
    body = data[3:]
    total_bits = len(body) * 8
    CLEAR = 256
    first = 257 if block_mode else 256
    cap = 1 << maxbits
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b""] * (
        cap - 256
    )
    free = first
    nbits = 9
    # Historical bug-compat (pinned against the system uncompress):
    # the width trigger is `free > maxcode`, and maxcode only becomes
    # the never-fires sentinel (1<<maxbits) when a width CHANGE lands
    # on maxbits.  With maxbits == 9 == INIT_BITS no change ever
    # happens, maxcode stays 511, and the one fire at table-full
    # bumps the stream to TEN-bit codes — wider than the declared
    # maxbits.  compress(1) shipped this in the 80s; every decoder
    # (gzip's unlzw included) mirrors it, so we must too.
    maxcode = (1 << nbits) - 1
    pos = 0  # bit offset into the code area
    seg_start = 0  # bit offset where the current constant-width segment began
    prev = -1  # previous code, -1 after (re)start
    out = bytearray()

    def skip_pad(w: int) -> None:
        nonlocal pos, seg_start
        rem = (pos - seg_start) % (w * 8)
        if rem:
            pos += w * 8 - rem
        seg_start = pos

    while True:
        if free > maxcode:
            skip_pad(nbits)
            nbits += 1
            maxcode = (
                (1 << maxbits) if nbits == maxbits else (1 << nbits) - 1
            )
        if pos + nbits > total_bits:
            break
        byte0 = pos >> 3
        chunk = int.from_bytes(body[byte0 : byte0 + 3], "little")
        code = (chunk >> (pos & 7)) & ((1 << nbits) - 1)
        pos += nbits
        if block_mode and code == CLEAR:
            skip_pad(nbits)
            nbits = 9
            maxcode = (1 << nbits) - 1
            free = first
            prev = -1
            continue
        if prev < 0:
            if code > 255:
                raise ValueError(
                    "first LZW code after reset must be a literal"
                )
            entry = table[code]
        elif code < free:
            entry = table[code]
        elif code == free and free < cap:
            # KwKwK: the code being defined by this very step
            entry = table[prev] + table[prev][:1]
        else:
            raise ValueError(f"LZW code {code} out of range (free={free})")
        out += entry
        if len(out) > max_output:
            raise ValueError(_CAP_MSG)
        if prev >= 0 and free < cap:
            table[free] = table[prev] + entry[:1]
            free += 1
        prev = code
    return bytes(out)


def encode_lzw(data: bytes) -> bytes:
    """Produce a ``compress(1)``-compatible ``.Z`` stream (block mode)
    — the fixture/test encoder for ``decode_lzw`` and the WET-chain
    transport variant.  Emits CLEAR when the code table fills so the
    reset path is exercised; cross-pinned against the system
    ``uncompress`` in tests, which is what validates the 8-code
    unit-padding convention both directions.  Codes grow to 16 bits,
    ``compress(1)``'s default."""
    maxbits = 16
    CLEAR = 256
    first = 257
    cap = 1 << maxbits
    head = bytes((LZW_MAGIC[0], LZW_MAGIC[1], 0x80 | maxbits))
    if not data:
        return head
    body = bytearray()
    nbits = 9
    bitbuf = 0
    bitcnt = 0
    seg_bits = 0

    def emit(code: int) -> None:
        nonlocal bitbuf, bitcnt, seg_bits
        bitbuf |= code << bitcnt
        bitcnt += nbits
        seg_bits += nbits
        while bitcnt >= 8:
            body.append(bitbuf & 0xFF)
            bitbuf >>= 8
            bitcnt -= 8

    def pad_unit() -> None:
        nonlocal bitcnt, seg_bits
        rem = seg_bits % (nbits * 8)
        if rem:
            bitcnt += nbits * 8 - rem  # zero bits
            while bitcnt >= 8:
                body.append(bitbuf & 0xFF)  # low byte is already 0-padded
                _drop()
        seg_bits = 0

    def _drop() -> None:
        nonlocal bitbuf, bitcnt
        bitbuf >>= 8
        bitcnt -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    free = first
    # same maxcode state machine as the decoder, including the
    # maxbits==9 bug-compat fire past maxbits (see decode_lzw)
    maxcode = (1 << nbits) - 1
    w = b""
    for byte in data:
        c = bytes([byte])
        wc = w + c
        if wc in table:
            w = wc
            continue
        emit(table[w])
        # width check AFTER the write, with free still excluding this
        # step's new entry — compress(1)'s output() order; the decoder
        # checks before its NEXT read with the same free value, so
        # both switch between the same two codes
        if free > maxcode:
            pad_unit()
            nbits += 1
            maxcode = (
                (1 << maxbits) if nbits == maxbits else (1 << nbits) - 1
            )
        if free < cap:
            table[wc] = free
            free += 1
        else:
            # table full: CLEAR and start over (real compress gates
            # this on the ratio; any policy decodes identically)
            emit(CLEAR)
            pad_unit()
            nbits = 9
            maxcode = (1 << nbits) - 1
            table = {bytes([i]): i for i in range(256)}
            free = first
        w = c
    emit(table[w])
    if bitcnt:
        body.append(bitbuf & 0xFF)
    return head + bytes(body)


def decode_content_coding(coding: str, body: bytes) -> bytes:
    """Decode ONE content-coding token under the ``MAX_OUTPUT`` cap."""
    c = coding.strip().lower()
    if c in ("", "identity"):
        return body
    if c in ("gzip", "x-gzip"):
        return b"".join(split_gzip_members(body, MAX_OUTPUT))
    if c == "deflate":
        # RFC 9110 says zlib-wrapped; servers also send raw deflate
        try:
            out, d = _inflate(body, zlib.MAX_WBITS, MAX_OUTPUT)
        except zlib.error:
            out, d = _inflate(body, -zlib.MAX_WBITS, MAX_OUTPUT)
        if not d.eof:
            raise ValueError("truncated deflate stream")
        return out
    if c == "br":
        return brotli_decompress(body, MAX_OUTPUT)
    if c == "zstd":
        return zstd_decompress(body, MAX_OUTPUT)
    if c in ("compress", "x-compress"):
        return decode_lzw(body, MAX_OUTPUT)
    raise NotImplementedError(
        f"content-encoding {c!r} requires libraries not present"
    )
