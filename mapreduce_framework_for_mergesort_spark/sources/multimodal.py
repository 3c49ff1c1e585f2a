"""Multimodal columns: opaque ``binary`` payloads + typed metadata.

Design (per the task brief): image/audio/video payloads travel as binary
columns with a ``modality`` tag and a metadata struct; decode/feature
steps run as Arrow-batched ``mapInPandas`` over partition-sized batches.
The Spark-side plumbing — schema, batch shape, UDF signature,
partitioning — is real and tested.  Text rides the JVM-side
``binarize_documents``; every other modality comes from one
``binarize(documents, branch)`` over the ``BRANCHES`` table: ten
branches, nine modality tags.  Six of them are REAL stdlib container
parses in this module (WAV/PCM audio, 24-bit BMP images, 8-bit
greyscale PNG — the first COMPRESSED container, built on stdlib zlib
with CRC-validated chunks and all five scanline filters —
baseline AND progressive (SOF2) JFIF greyscale AND YCbCr color JPEG —
the entropy-coded containers: one general Huffman+IDCT decoder
covering 1/3-component frames, sampling factors up to 2x2 (4:4:4 and
4:2:0), restart intervals, and multi-scan progressive coefficient
accumulation (spectral selection + successive approximation, round 9),
plus closed-form flat-block encoders, see the JPEG section comments —
and YUV4MPEG2 grayscale video) across synthesize/decode/frame
verbs.  MP4 (plain and fragmented) and MP3 are parsed at the
CONTAINER layer for real (round 9, ``sources/containers.py``: ISO-BMFF
box walk + sample-table span resolution; MPEG frame-sync walk + ID3
handling) — decode is real for uncompressed-PCM mp4 tracks and for the
Layer III profile of ``sources/layer3.py`` (the second ``mp3``
branch), and the remaining CODEC-layer seams (h264/aac/general
Layer-III entropy decode) stay an explicit ``NotImplementedError``,
never a silent fake.

Scale notes: payloads dominate row width, so (a) never shuffle decoded
features together with raw bytes — project bytes away first; (b) decode
is CPU-bound Python → size partitions by payload bytes
(``spark.sql.files.maxPartitionBytes``), not row count; (c) feature
extraction emits fixed-width arrays — keep them as ``array<float>`` and
hand off to the similarity operators.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from functools import lru_cache

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark.functions.hashing import Memo
from mapreduce_framework_for_mergesort_spark.sources import containers as CT
from mapreduce_framework_for_mergesort_spark.sources import layer3 as L3

MODALITY_SCHEMA = (
    "doc_id bigint, modality string, payload binary, "
    "meta_mime string, meta_n_bytes bigint"
)

FEATURE_SCHEMA = "doc_id bigint, modality string, n_bytes bigint, feature array<float>"

FEATURE_DIM = 8


def binarize_documents(documents: DataFrame) -> DataFrame:
    """Manufacture a multimodal-shaped table from the documents fixture:
    utf-8 payload bytes + metadata struct columns.  Stands in for real
    image/audio ingestion, which would arrive as parquet binary columns
    of identical shape."""
    payload = F.encode(F.col("text"), "UTF-8")
    return documents.select(
        "doc_id",
        F.lit("text").alias("modality"),
        payload.alias("payload"),
        F.lit("text/plain; charset=utf-8").alias("meta_mime"),
        F.octet_length(payload).cast("bigint").alias("meta_n_bytes"),
    )


def fake_decode(payload: bytes) -> list[float]:
    """Deterministic stand-in for a codec: FEATURE_DIM floats derived from
    the payload bytes.  Stable across runs/machines; no external libs.

    Every feature is closed-form over the bytes so a SQL oracle can
    recompute it exactly (see ``q_multimodal_features``): byte length,
    first/last byte, counts of three ASCII bytes, and two modular mixes.
    (Char-count SQL equals byte-count here because the fixture text is
    ASCII; multibyte payloads would only affect the three count features.)
    """
    if not payload:
        return [0.0] * FEATURE_DIM
    n = len(payload)
    first, last = payload[0], payload[-1]
    return [
        float(n),
        float(first),
        float(last),
        float(payload.count(b" ")),
        float(payload.count(b"a")),
        float(payload.count(b"e")),
        float(n % 251),
        float((first * 31 + last) % 997),
    ]


AUDIO_RATE = 8000

AUDIO_SUM_MOD = 9973


def synthesize_wav(data: bytes, rate: int = AUDIO_RATE) -> bytes:
    """Deterministic PCM16 mono WAV from source bytes: sample i is
    ``(byte_i − 128) · 256``.  A REAL RIFF/WAVE container (stdlib
    ``wave`` — canonical 44-byte header + little-endian frames), so the
    decode side exercises an actual audio parse, not a fake; the sample
    mapping is closed-form so SQL oracles recompute features from the
    source text."""
    import io
    import struct
    import wave

    frames = struct.pack(f"<{len(data)}h", *(((b - 128) * 256) for b in data))
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(frames)
    return buf.getvalue()


def _wav_pcm16(payload: bytes) -> tuple[int, tuple[int, ...]]:
    """The ONE RIFF parse → (rate, PCM16 samples) path (round-9
    review: decode and a resampler each carried a copy of the
    width/channel/truncation validation; a fix to one would silently
    miss the other).  Same loud-ValueError contract as the BMP/Y4M
    parsers, so a caller routing malformed payloads to quarantine on
    ValueError catches audio too (round-4+ review)."""
    import io
    import struct
    import wave

    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            if w.getsampwidth() != 2 or w.getnchannels() != 1:
                raise ValueError(
                    f"expected PCM16 mono, got width={w.getsampwidth()} "
                    f"channels={w.getnchannels()}"
                )
            rate = w.getframerate()
            n = w.getnframes()
            raw = w.readframes(n)
    except (wave.Error, EOFError) as ex:
        raise ValueError(f"not a parseable WAV: {ex}") from None
    if len(raw) != 2 * n:
        raise ValueError(
            f"truncated WAV: header promises {n} PCM16 frames "
            f"({2 * n} bytes), payload carries {len(raw)}"
        )
    return rate, struct.unpack(f"<{n}h", raw)


def decode_wav(payload: bytes) -> list[float]:
    """Stdlib WAV/PCM decode → FEATURE_DIM floats.  Parses the RIFF
    container for real (format/channel validation included); every
    feature is integral and closed-form over the samples:
    [n_samples, rate, min, max, first, last, Σ|s| mod 9973, #positive].
    All values < 2^24, so the float32 feature column holds them
    exactly."""
    rate, samples = _wav_pcm16(payload)
    n = len(samples)
    if not samples:
        return [0.0] * FEATURE_DIM
    return [
        float(n),
        float(rate),
        float(min(samples)),
        float(max(samples)),
        float(samples[0]),
        float(samples[-1]),
        float(sum(abs(s) for s in samples) % AUDIO_SUM_MOD),
        float(sum(1 for s in samples if s > 0)),
    ]


IMG_WIDTH = 16  # 16 px × 3 bytes = 48-byte rows: already 4-aligned, no pad
IMG_HEADER = 54  # BITMAPFILEHEADER (14) + BITMAPINFOHEADER (40)


def _encode_bmp(px: list[int], width: int, h: int) -> bytes:
    """The ONE BMP encoder (synthesis and frame tiling share it, so
    header constants and row layout can never drift): logical top-down
    grayscale pixels → 'BM' + BITMAPINFOHEADER + 24-bit 4-aligned
    bottom-up rows."""
    import struct

    row_size = (3 * width + 3) // 4 * 4
    img_size = h * row_size
    header = struct.pack(
        "<2sIHHI", b"BM", IMG_HEADER + img_size, 0, 0, IMG_HEADER
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up storage
        row = bytearray()
        for x in range(width):
            v = px[y * width + x]
            row += bytes((v, v, v))
        rows.append(bytes(row).ljust(row_size, b"\x00"))
    return header + b"".join(rows)


def synthesize_bmp(data: bytes, width: int = IMG_WIDTH) -> bytes:
    """Deterministic grayscale 24-bit BMP from source bytes: pixel i
    (row-major, top-down logically) has B=G=R=``data[i]``; the last
    row zero-pads past ``len(data)``.  A REAL Windows BMP — 'BM'
    magic, BITMAPINFOHEADER, bottom-up row order as positive-height
    BMPs store — so the decode side exercises an actual image
    container parse; the pixel mapping is closed-form so SQL oracles
    recompute features from the source text."""
    h = -(-len(data) // width) if data else 0
    px = [data[i] if i < len(data) else 0 for i in range(width * h)]
    return _encode_bmp(px, width, h)


def decode_bmp(payload: bytes) -> list[float]:
    """Stdlib BMP decode → FEATURE_DIM floats.  Parses the container
    for real (magic/offset/bpp/compression validation, bottom-up row
    unflip, per-pixel grayscale check); features are integral and
    closed-form over the logical pixel sequence:
    [width, height, n_pixels, first, last, max, Σ mod 9973, #space
    (value 32) pixels] — all < 2^24, exact in float32."""
    width, h, px = _bmp_pixels(payload)
    if not px:
        return [0.0] * FEATURE_DIM
    return [
        float(width),
        float(h),
        float(len(px)),
        float(px[0]),
        float(px[-1]),
        float(max(px)),
        float(sum(px) % AUDIO_SUM_MOD),
        float(sum(1 for v in px if v == 32)),
    ]


def _bmp_pixels(payload: bytes) -> tuple[int, int, list[int]]:
    """Shared BMP parse → (width, height, logical top-down grayscale
    pixels); validation identical to ``decode_bmp``."""
    import struct

    if len(payload) < IMG_HEADER:
        # a short-read here would be struct.error, escaping the
        # package-wide loud-ValueError quarantine contract the parse
        # audit routes on (round-9 review)
        raise ValueError(
            f"truncated BMP: {len(payload)} bytes is shorter than the "
            f"{IMG_HEADER}-byte header"
        )
    magic, _size, _r1, _r2, off = struct.unpack_from("<2sIHHI", payload, 0)
    if magic != b"BM":
        raise ValueError(f"not a BMP: magic {magic!r}")
    hsz, width, h, _planes, bpp, comp = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if hsz != 40 or bpp != 24 or comp != 0:
        raise ValueError(
            f"expected uncompressed 24-bit BITMAPINFOHEADER, got "
            f"header={hsz} bpp={bpp} compression={comp}"
        )
    if width <= 0 or h < 0:
        # negative height = top-down variant (unsupported here), and a
        # non-positive width is degenerate — both must fail LOUDLY, not
        # decode to an empty pixel list that features as all-zeros
        raise ValueError(f"unsupported BMP dimensions {width}x{h}")
    row_size = (3 * width + 3) // 4 * 4
    if len(payload) < off + h * row_size:
        # checked up front so a truncated payload reports TRUNCATION —
        # the stride comparison below would otherwise either silently
        # accept equal-length short slices (all-zero features from a
        # header-only payload) or blame "non-grayscale pixels" for
        # missing bytes (round-4+ review)
        raise ValueError(
            f"truncated BMP: need {off + h * row_size} bytes for"
            f" {width}x{h}, got {len(payload)}"
        )
    px: list[int] = []
    for y in range(h):
        # stride views instead of a per-pixel slice loop: one row is
        # three interleaved byte planes, equal iff grayscale
        base = off + (h - 1 - y) * row_size
        row = payload[base : base + 3 * width]
        if not (row[0::3] == row[1::3] == row[2::3]):
            raise ValueError(f"non-grayscale pixel in row {y}")
        px.extend(row[0::3])
    return width, h, px


# --- PNG: the first COMPRESSED image container (round 6) --------------
# Real spec-level PNG within the stdlib-only discipline: zlib gives the
# DEFLATE inflate, CRC-32, and Adler-32 the format needs; the chunk
# grammar, scanline filters, and stored-block framing are implemented
# here.  Decode is codec-complete for this profile — any zlib
# compression level, all five scanline filter types, CRC-validated
# chunks.  SYNTHESIS deliberately emits STORED (uncompressed) deflate
# blocks: a fully valid PNG any reader inflates, whose byte size is a
# CLOSED FORM of the pixel count — which is what lets the DuckDB oracle
# pin n_bytes exactly (a level-9 stream's size is not SQL-expressible).
# The level-9 + non-zero-filter encode path exists for tests, proving
# the decoder handles really-compressed, really-filtered streams.

PNG_SIG = b"\x89PNG\r\n\x1a\n"
_ZBLOCK = 65535  # max stored-deflate block payload


def _stored_zlib(data: bytes) -> bytes:
    """A zlib stream of STORED deflate blocks: 2-byte header +
    5 bytes per block + payload + 4-byte Adler-32.  Deterministic and
    size-predictable (a closed form of the payload length); inflates
    with any zlib."""
    import zlib

    out = bytearray(b"\x78\x01")
    if not data:
        out += b"\x01\x00\x00\xff\xff"  # one final empty block
    else:
        for i in range(0, len(data), _ZBLOCK):
            c = data[i : i + _ZBLOCK]
            fin = 1 if i + _ZBLOCK >= len(data) else 0
            out += (
                bytes([fin])
                + len(c).to_bytes(2, "little")
                + (len(c) ^ 0xFFFF).to_bytes(2, "little")
                + c
            )
    out += zlib.adler32(data).to_bytes(4, "big")
    return bytes(out)


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import zlib

    return (
        len(data).to_bytes(4, "big")
        + typ
        + data
        + zlib.crc32(typ + data).to_bytes(4, "big")
    )


def _encode_png(px: list[int], width: int, h: int) -> bytes:
    """The ONE PNG encoder (synthesis and band tiling share it):
    logical top-down grayscale pixels → 8-bit greyscale (color type 0)
    PNG, every scanline unfiltered (type 0), stored deflate blocks —
    size closed-form, oracle-pinnable."""
    ihdr = (
        width.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([8, 0, 0, 0, 0])  # depth 8, grey, deflate, adaptive, no interlace
    )
    raw = b"".join(
        b"\x00" + bytes(px[y * width : (y + 1) * width]) for y in range(h)
    )
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _stored_zlib(raw))
        + _png_chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def synthesize_png(data: bytes, width: int = IMG_WIDTH) -> bytes:
    """Deterministic grayscale PNG from source bytes — the same pixel
    mapping as ``synthesize_bmp`` (pixel i = data[i], last row
    zero-padded), so the decoded features are identical across the two
    image containers and the oracle recomputes both from source text.
    An empty document encodes as a height-0 PNG (empty IDAT raw
    stream) mirroring the height-0 BMP convention."""
    h = -(-len(data) // width) if data else 0
    px = [data[i] if i < len(data) else 0 for i in range(width * h)]
    return _encode_png(px, width, h)


def _png_pixels(payload: bytes) -> tuple[int, int, list[int]]:
    """Full PNG parse → (width, height, logical top-down grayscale
    pixels): signature check, chunk walk with CRC-32 validation, IHDR
    profile validation (8-bit greyscale, deflate, non-interlaced),
    IDAT concatenation + zlib inflate (ANY compression level), and
    per-scanline UN-filtering of all five filter types.  Every failure
    is a loud ValueError — truncation, bad CRC, wrong profile, raw
    size mismatch — never an empty decode."""
    import struct
    import zlib

    if payload[:8] != PNG_SIG:
        raise ValueError(f"not a PNG: signature {payload[:8]!r}")
    pos = 8
    ihdr = None
    idat = bytearray()
    ended = False
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise ValueError("truncated PNG chunk header")
        (ln,) = struct.unpack_from(">I", payload, pos)
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        if len(data) < ln or pos + 12 + ln > len(payload):
            raise ValueError(f"truncated PNG chunk {typ!r}")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + ln)
        if zlib.crc32(typ + data) != crc:
            raise ValueError(f"PNG chunk {typ!r} CRC mismatch")
        if typ == b"IHDR":
            ihdr = data
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            ended = True
            break
        pos += 12 + ln
    if ihdr is None or not ended:
        raise ValueError("PNG missing IHDR or IEND")
    w, h = struct.unpack_from(">II", ihdr, 0)
    depth, color, comp, filt, interlace = ihdr[8:13]
    if (depth, color, comp, filt, interlace) != (8, 0, 0, 0, 0):
        raise ValueError(
            "expected 8-bit non-interlaced greyscale PNG, got "
            f"depth={depth} color={color} compression={comp} "
            f"filter={filt} interlace={interlace}"
        )
    raw = zlib.decompress(bytes(idat))
    if len(raw) != h * (1 + w):
        raise ValueError(
            f"PNG raw stream is {len(raw)} bytes, expected {h * (1 + w)}"
            f" for {w}x{h}"
        )
    px: list[int] = []
    prev = bytes(w)
    for y in range(h):
        base = y * (1 + w)
        ft = raw[base]
        line = raw[base + 1 : base + 1 + w]
        if ft == 0:
            rec = bytearray(line)
        elif ft == 1:  # Sub
            rec = bytearray(w)
            for x in range(w):
                rec[x] = (line[x] + (rec[x - 1] if x else 0)) & 0xFF
        elif ft == 2:  # Up
            rec = bytearray((line[x] + prev[x]) & 0xFF for x in range(w))
        elif ft == 3:  # Average
            rec = bytearray(w)
            for x in range(w):
                rec[x] = (
                    line[x] + ((rec[x - 1] if x else 0) + prev[x]) // 2
                ) & 0xFF
        elif ft == 4:  # Paeth
            rec = bytearray(w)
            for x in range(w):
                rec[x] = (
                    line[x]
                    + _paeth(
                        rec[x - 1] if x else 0,
                        prev[x],
                        prev[x - 1] if x else 0,
                    )
                ) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ft} in row {y}")
        px.extend(rec)
        prev = bytes(rec)
    return w, h, px


def decode_png(payload: bytes) -> list[float]:
    """PNG decode → the SAME FEATURE_DIM features as ``decode_bmp``
    (identical pixel semantics, different container): [width, height,
    n_pixels, first, last, max, Σ mod 9973, #value-32 pixels]."""
    width, h, px = _png_pixels(payload)
    if not px:
        return [0.0] * FEATURE_DIM
    return [
        float(width),
        float(h),
        float(len(px)),
        float(px[0]),
        float(px[-1]),
        float(max(px)),
        float(sum(px) % AUDIO_SUM_MOD),
        float(sum(1 for v in px if v == 32)),
    ]


# --- baseline JPEG (JFIF), greyscale ---------------------------------
#
# The sixth modality and the second COMPRESSED container (round 7,
# round-6 verdict item 6): a real stdlib-only baseline-JFIF pair —
# a general baseline greyscale DECODER (marker walk, arbitrary DQT,
# canonical DHT build, DC/AC Huffman entropy decode with byte-stuffing
# removal, dezigzag, dequantize, float64 IDCT) and a closed-form
# flat-block ENCODER for synthesis.
#
# Why the synthesized files are exactly oracle-able despite JPEG being
# lossy: synthesis maps text byte i to one CONSTANT 8x8 block (width
# fixed at one block = 8 px, height = 8*n).  A flat block of value v
# has FDCT energy in the DC coefficient alone (DC = 8*(v-128), every
# AC = 0); with the quantizer fixed at 8, the stored coefficient is
# exactly v-128, the decoder's IDCT reproduces the flat block exactly
# (integer in float64), and the level shift returns v.  So
# decode(synthesize(bytes)) == the 64x block expansion of bytes,
# bit-for-bit, and every feature is closed-form over the source text.
#
# Why the file SIZE is closed-form: the DC Huffman table assigns
# category c the canonical code of length 15-c (Kraft sum < 1, valid),
# and the AC table is the 1-bit EOB, so EVERY block emits exactly
# (15-c) + c + 1 = 16 bits — two bytes, byte-aligned.  No 0xFF can
# appear in the entropy stream (every code starts '000', so byte 1 has
# three leading zeros; the EOB bit is 0, so byte 2 has a trailing
# zero), hence no byte stuffing, no marker ambiguity, and
# n_bytes = JPEG_HEADER + 2*len(text) exactly — pinned in the oracle
# the same way the PNG branch pins its stored-deflate size.

JPEG_WIDTH = 8  # one 8x8 block per row: byte i -> block i, no padding
JPEG_Q = 8  # flat-block DC quantizer: stored DC == v-128 exactly
# frame-tiling granularity: blocks per band (bands then carry ~the
# same source bytes as the text/BMP/PNG branches' 64-byte windows)
JPEG_BAND_BLOCKS = 8
# Canonical DC code lengths: category c -> length 15-c (c = 0..11).
_JPEG_DC_MAXCAT = 11
_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _jpeg_dc_codes() -> dict[int, tuple[int, int]]:
    """category -> (canonical code value, code length).  One code per
    length 4..15, symbol order [cat 11 .. cat 0] (shortest code to the
    largest category), exactly as the DHT segment declares them."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    for length in range(4, 16):
        codes[15 - length] = (code, length)
        code = (code + 1) << 1
    return codes


# 16,384 entries hold every valid SOF height (8*n, n <= 8191) of both layouts
@lru_cache(maxsize=16384)
def _jfif_header(height: int, components: int) -> bytes:
    """Every segment before the entropy-coded data (SOI..SOS), fixed
    except the SOF height field.  ``components`` is 1 (greyscale) or 3
    (YCbCr 4:4:4: a second DQT for chroma — the same flat quantizer,
    so the DC algebra stays closed-form — and a 3-component SOF0 and
    interleaved SOS).  Every scan selector references the canonical
    DC table and the 1-bit EOB AC table.  Memoized — band tiling
    re-encodes one short header per band and decode re-derives the
    expected header per payload."""
    import struct

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    ids = range(1, components + 1)
    app0 = seg(0xFFE0, b"JFIF\x00" + bytes([1, 1, 0, 0, 1, 0, 1, 0, 0]))
    dqt = b"".join(
        seg(0xFFDB, bytes([t]) + bytes([JPEG_Q] * 64))
        for t in range(min(components, 2))
    )
    # component c: id c, 1x1 sampling, quant table 0 (luma) / 1 (chroma)
    sof0 = seg(
        0xFFC0,
        struct.pack(">BHHB", 8, height, JPEG_WIDTH, components)
        + bytes(v for c in ids for v in (c, 0x11, min(c - 1, 1))),
    )
    bits_dc = [0] * 16
    for length in range(4, 16):
        bits_dc[length - 1] = 1
    symbols_dc = [15 - length for length in range(4, 16)]
    dht_dc = seg(0xFFC4, bytes([0x00] + bits_dc + symbols_dc))
    bits_ac = [1] + [0] * 15
    dht_ac = seg(0xFFC4, bytes([0x10] + bits_ac + [0x00]))
    sos = seg(
        0xFFDA,
        bytes([components, *(v for c in ids for v in (c, 0x00)), 0, 63, 0]),
    )
    return b"\xff\xd8" + app0 + dqt + sof0 + dht_dc + dht_ac + sos


# total non-entropy bytes (header + EOI) for the closed-form size oracle
JPEG_HEADER = len(_jfif_header(0, 1)) + 2


def _jpeg_unit16(d):
    """Elementwise 16-bit entropy unit for a DC *difference* array (DC
    code + value bits + 0-valued EOB) — the exact arithmetic of the
    scalar encoder (pinned in tests), vectorized."""
    import numpy as np

    d = np.asarray(d, dtype=np.int64)
    # bit_length via frexp: exact for |d| <= 255 (integers are exact
    # float64, frexp exponent IS the bit length; d == 0 -> 0)
    cat = np.frexp(np.abs(d).astype(np.float64))[1].astype(np.int64)
    value = np.where(d >= 0, d, d + (1 << cat) - 1)
    codes = _jpeg_dc_codes()
    code_by_cat = np.array(
        [codes[c][0] for c in range(_JPEG_DC_MAXCAT + 1)], dtype=np.int64
    )
    return (code_by_cat[cat] << (cat + 1)) | (value << 1)  # | 0 = EOB


def _jpeg_dc_units(dcs) -> bytes:
    """Vectorized entropy segment for one DC chain: quantized DC values
    → the per-block 16-bit units, big-endian bytes."""
    import numpy as np

    dc = np.asarray(dcs, dtype=np.int64)
    return _jpeg_unit16(np.diff(dc, prepend=0)).astype(">u2").tobytes()


def synthesize_jpeg(data: bytes) -> bytes:
    """Deterministic baseline-JFIF greyscale JPEG from source bytes:
    byte i becomes one constant 8x8 block (see the section comment for
    why the round trip and the file size are exact).  Empty input
    encodes as a height-0 image with an empty entropy segment,
    mirroring the height-0 BMP/PNG convention."""
    import numpy as np

    n = len(data)
    if n > 8191:
        raise ValueError(
            f"synthesize_jpeg supports at most 8191 blocks (SOF height "
            f"is 16-bit, height = 8*n), got {n} bytes"
        )
    # quantized DC with q=8 (FDCT DC of a flat block) = v - 128
    dcs = np.frombuffer(data, dtype=np.uint8).astype(np.int64) - 128
    return _jfif_header(8 * n, 1) + _jpeg_dc_units(dcs) + b"\xff\xd9"


class _BitReader:
    """MSB-first bit reader over JPEG entropy data with 0xFF00
    byte-stuffing removal; raises on marker bytes or exhaustion."""

    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos
        self.cur = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.buf):
                raise ValueError("JPEG entropy data exhausted")
            b = self.buf[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.buf):
                    raise ValueError("JPEG entropy data ends in 0xFF")
                marker = self.buf[self.pos]
                if marker == 0x00:
                    self.pos += 1  # stuffed 0xFF data byte
                else:
                    raise ValueError(
                        f"unexpected marker 0xFF{marker:02X} inside "
                        "entropy data"
                    )
            self.cur = b
            self.nbits = 8
        self.nbits -= 1
        return (self.cur >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def consume_rst(self, n: int) -> None:
        """Restart-interval boundary (round-7 verdict item 2): discard
        the current byte's remaining bits (the encoder 1-padded to a
        byte boundary before the marker) and consume the expected
        ``RSTn`` marker.  A wrong or missing restart marker is
        corruption, reported loudly like every other profile
        violation."""
        self.nbits = 0
        if (
            self.pos + 1 >= len(self.buf)
            or self.buf[self.pos] != 0xFF
            or self.buf[self.pos + 1] != 0xD0 + n
        ):
            got = self.buf[self.pos : self.pos + 2].hex() or "EOF"
            raise ValueError(
                f"expected RST{n} at restart boundary, got 0x{got}"
            )
        self.pos += 2


def _huff_decode(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    """Decode one Huffman symbol: extend (length, code) until it hits
    the canonical table; JPEG codes are at most 16 bits."""
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code (no match within 16 bits)")


def _jpeg_parse_dqt(body: bytes, qtables: dict) -> None:
    """One DQT segment (possibly several tables) into ``qtables`` —
    shared by the baseline and progressive walks (round-9 review: the
    two copies could drift)."""
    off = 0
    while off < len(body):
        pq, tq = body[off] >> 4, body[off] & 0x0F
        if pq != 0:
            raise ValueError("16-bit DQT precision unsupported")
        qtables[tq] = list(body[off + 1 : off + 65])
        off += 65


def _jpeg_parse_dht(body: bytes, huff: dict) -> None:
    """One DHT segment (possibly several canonical tables) into
    ``huff`` keyed ``(class, id)`` — shared by both walks."""
    off = 0
    while off < len(body):
        tc, th = body[off] >> 4, body[off] & 0x0F
        counts = list(body[off + 1 : off + 17])
        syms = body[off + 17 : off + 17 + sum(counts)]
        table: dict[tuple[int, int], int] = {}
        code, k = 0, 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                table[(length, code)] = syms[k]
                code += 1
                k += 1
            code <<= 1
        huff[(tc, th)] = table
        off += 17 + sum(counts)


def _jpeg_parse_sof(body: bytes, kind: str):
    """One SOF segment body → ``(w, h, comps)`` with the shared
    profile validation (8-bit, 1/3 components, sampling 1..2,
    no greyscale subsampling)."""
    import struct

    prec, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
    if prec != 8 or ncomp not in (1, 3):
        raise ValueError(
            f"only 8-bit 1- or 3-component {kind} supported, "
            f"got precision={prec} components={ncomp}"
        )
    comps = []
    for i in range(ncomp):
        cid, sampling, tq = body[6 + 3 * i : 9 + 3 * i]
        hi, vi = sampling >> 4, sampling & 0x0F
        if not (1 <= hi <= 2 and 1 <= vi <= 2):
            raise ValueError(
                f"sampling factors {hi}x{vi} outside the supported "
                "1..2 range"
            )
        comps.append((cid, hi, vi, tq))
    if ncomp == 1 and comps[0][1:3] != (1, 1):
        raise ValueError("subsampling unsupported for greyscale")
    return w, h, comps


def _jpeg_decode_planes(payload: bytes):
    """General baseline-JFIF parse → ``(w, h, comps)`` where ``comps``
    is the SOF-ordered list of ``(comp_id, Hi, Vi, plane)`` and
    ``plane`` is that component's OWN-resolution int array (already
    level-shifted and clamped), padded to the MCU grid.

    GENERAL within the baseline profile: 1- or 3-component frames,
    sampling factors up to 2×2 (so 4:4:4 and the real-corpora-default
    4:2:0 both decode), arbitrary quantization tables, arbitrary
    canonical Huffman tables with per-component DC/AC selectors and
    per-component DC predictors, real DC+AC entropy decoding (run/size
    symbols, ZRL, EOB), byte-stuffing removal, restart intervals
    (DRI/RSTn: byte-align, consume the cycling marker, reset every DC
    predictor — camera-output baseline JPEGs routinely carry them),
    dezigzag, dequantization, and an exact float64 IDCT.  Progressive
    frames (SOF2) delegate to ``_jpeg_decode_planes_progressive``
    (round 9).  Loud ValueError on anything outside the profile:
    16-bit DQT, sampling factors above 2, truncation.  mp3/mp4
    LIBRARY decode stays out of scope — this is the stdlib discipline
    the PNG modality established, one codec deeper."""
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError(f"not a JPEG: leading bytes {payload[:2]!r}")
    pos = 2
    qtables: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    sof = None
    scan: list[tuple[int, int]] | None = None
    restart_interval = 0  # MCUs between RSTn markers; 0 = none (DRI)
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            raise ValueError("JPEG reached EOI before any scan data")
        if marker in (0xC2,):
            # progressive frame: hand the whole stream to the
            # multi-scan coefficient-accumulating decoder (round 9 —
            # previously the honest NotImplemented seam; real web
            # corpora are a double-digit fraction progressive)
            return _jpeg_decode_planes_progressive(payload)
        (ln,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4 : pos + 2 + ln]
        if len(body) != ln - 2:
            raise ValueError(f"truncated JPEG segment 0xFF{marker:02X}")
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            _jpeg_parse_dqt(body, qtables)
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 (baseline)
            sof = _jpeg_parse_sof(body, "baseline")
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            _jpeg_parse_dht(body, huff)
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scan = [
                (body[1 + 2 * i], body[2 + 2 * i]) for i in range(ns)
            ]  # (component id, Td<<4|Ta) per scan component
            pos = pos + 2 + ln
            break
        pos += 2 + ln
    if sof is None or scan is None:
        raise ValueError("JPEG missing SOF or SOS")
    w, h, comps = sof
    if [c[0] for c in scan] != [c[0] for c in comps]:
        raise ValueError(
            "scan components do not match SOF components (a single "
            "interleaved scan over all frame components is required)"
        )
    sel = {cid: (tt >> 4, tt & 0x0F) for cid, tt in scan}
    for cid, _hi, _vi, tq in comps:
        if tq not in qtables:
            raise ValueError(f"missing quantization table {tq}")
        td, ta = sel[cid]
        if (0, td) not in huff or (1, ta) not in huff:
            raise ValueError("missing Huffman table(s) referenced by scan")

    # float64 IDCT basis: C[u, x] = c(u)/2 * cos((2x+1) u pi / 16)
    xs = np.arange(8)
    C = np.cos((2 * xs[None, :] + 1) * xs[:, None] * np.pi / 16) / 2
    C[0] *= 1 / np.sqrt(2)

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = {
        cid: np.zeros((mcuy * vi * 8, mcux * hi * 8), dtype=np.float64)
        for cid, hi, vi, _tq in comps
    }
    prev_dc = {cid: 0 for cid, *_ in comps}
    reader = _BitReader(payload, pos)
    mcu_count = 0
    rst_n = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if (
                restart_interval
                and mcu_count
                and mcu_count % restart_interval == 0
            ):
                # restart boundary: byte-align, consume the cycling
                # RSTn marker, reset every component's DC predictor
                reader.consume_rst(rst_n)
                rst_n = (rst_n + 1) & 7
                for cid in prev_dc:
                    prev_dc[cid] = 0
            mcu_count += 1
            for cid, hi, vi, tq in comps:
                td, ta = sel[cid]
                dc_table, ac_table = huff[(0, td)], huff[(1, ta)]
                q = np.array(qtables[tq], dtype=np.float64)
                for by in range(vi):
                    for bx in range(hi):
                        zz = np.zeros(64, dtype=np.float64)
                        cat = _huff_decode(reader, dc_table)
                        if cat > 15:
                            raise ValueError(f"invalid DC category {cat}")
                        if cat:
                            prev_dc[cid] += _jpeg_receive_extend(
                                reader, cat
                            )
                        zz[0] = prev_dc[cid]
                        k = 1
                        while k < 64:
                            sym = _huff_decode(reader, ac_table)
                            if sym == 0x00:  # EOB
                                break
                            run, size = sym >> 4, sym & 0x0F
                            if size == 0:
                                if run != 15:
                                    raise ValueError(
                                        f"invalid AC symbol 0x{sym:02X}"
                                    )
                                k += 16  # ZRL: sixteen zeros
                                continue
                            k += run
                            if k > 63:
                                raise ValueError("AC run past end of block")
                            zz[k] = _jpeg_receive_extend(reader, size)
                            k += 1
                        coef = np.zeros(64, dtype=np.float64)
                        coef[_ZIGZAG] = zz * q
                        block = C.T @ coef.reshape(8, 8) @ C
                        ry, rx = (my * vi + by) * 8, (mx * hi + bx) * 8
                        planes[cid][ry : ry + 8, rx : rx + 8] = block
    out = []
    for cid, hi, vi, _tq in comps:
        px = np.clip(np.rint(planes[cid] + 128), 0, 255).astype(np.int64)
        out.append((cid, hi, vi, px))
    return w, h, out


def _jpeg_receive_extend(reader: _BitReader, size: int) -> int:
    """T.81 RECEIVE+EXTEND: ``size`` magnitude bits → signed value."""
    v = reader.read_bits(size)
    if v < (1 << (size - 1)):
        v -= (1 << size) - 1
    return v


def _jpeg_next_marker(payload: bytes, pos: int) -> int:
    """First offset ``>= pos`` holding a real marker (0xFF followed by
    neither a stuffed 0x00 nor a fill 0xFF) — how the walk re-syncs
    after a scan's entropy data, whose exact byte length only the
    decode itself knows."""
    while pos < len(payload) - 1:
        if payload[pos] == 0xFF and payload[pos + 1] not in (0x00, 0xFF):
            return pos
        pos += 1
    raise ValueError("JPEG ended without EOI after a scan")


def _jpeg_decode_planes_progressive(payload: bytes):
    """Progressive-JFIF (SOF2) parse → the same ``(w, h, comps)``
    contract as ``_jpeg_decode_planes`` (round 9 — the largest
    remaining modality seam; real web corpora carry progressive JPEGs
    at double-digit percentages).

    A progressive frame spreads each block's 64 coefficients over
    MULTIPLE scans: spectral selection (each scan carries one
    coefficient band ``Ss..Se``) × successive approximation (a first
    pass delivers each coefficient's high bits at point transform
    ``Al``, later passes refine one bit at a time, ``Ah = Al+1``).
    So the decoder accumulates COEFFICIENTS across scans — per
    component, per block, in zigzag order — and only dequantizes +
    IDCTs once, after the last scan:

    * DC scans (``Ss=0``): interleaved over the MCU grid when the scan
      carries several components, non-interleaved over the component's
      own block grid when it carries one; first pass = Huffman diff
      coding shifted left by ``Al``, refinement = one raw bit per
      block ORed into bit ``Al``;
    * AC scans (``Ss>=1``): always single-component (T.81), over the
      component's own block grid — NOT the MCU-padded grid, the
      classic progressive trap; first pass = run/size symbols with
      EOBn runs (``(run<15, size=0)`` → ``2^run + bits(run)`` blocks
      whose band is all-zero from here) and ZRL; refinement = the
      correction-bit walk (newly-nonzero coefficients arrive as ±2^Al,
      every already-nonzero coefficient consumes one bit that may add
      2^Al toward its sign), with EOB runs carrying correction bits
      for the blocks they cover;
    * DHT may redefine tables between scans; DRI/RSTn apply inside a
      scan (byte-align, cycling marker, reset DC predictors AND the
      EOB run).

    Same loudness discipline as the baseline path: unexpected symbols,
    out-of-band runs, wrong restart markers, and truncation all raise
    ValueError.  Performance note: this is the test/long-tail path —
    the bench-hot synthesized fixtures are baseline and keep the LUT
    fast path."""
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError(f"not a JPEG: leading bytes {payload[:2]!r}")
    pos = 2
    qtables: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    sof = None
    restart_interval = 0
    coefs: dict[int, "np.ndarray"] = {}  # cid -> (bh, bw, 64) zigzag
    comp_blocks: dict[int, tuple[int, int]] = {}  # cid -> (bw, bh) own grid
    saw_scan = False
    while pos < len(payload) - 1:
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2  # standalone markers carry no length
            continue
        (ln,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4 : pos + 2 + ln]
        if len(body) != ln - 2:
            raise ValueError(f"truncated JPEG segment 0xFF{marker:02X}")
        if marker == 0xDB:  # DQT
            _jpeg_parse_dqt(body, qtables)
        elif marker == 0xC2:  # SOF2 (progressive)
            w, h, comps = _jpeg_parse_sof(body, "progressive")
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            for cid, hi, vi, _tq in comps:
                # the FULL (MCU-padded) grid backs storage; the own
                # grid bounds non-interleaved traversal
                coefs[cid] = np.zeros(
                    (mcuy * vi, mcux * hi, 64), dtype=np.int32
                )
                # ceil(ceil(w·hi/hmax)/8) == ceil(w·hi/(hmax·8)) for
                # positive divisors (nested-ceiling identity)
                comp_blocks[cid] = (
                    -(-(w * hi) // (hmax * 8)),
                    -(-(h * vi) // (vmax * 8)),
                )
            sof = (w, h, comps, hmax, vmax, mcux, mcuy)
        elif marker in (0xC0, 0xC1):
            raise ValueError(
                "baseline SOF inside the progressive decoder (mixed "
                "frame types)"
            )
        elif marker == 0xC4:  # DHT — may redefine tables between scans
            _jpeg_parse_dht(body, huff)
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS — one of several scans
            if sof is None:
                raise ValueError("progressive scan before SOF2")
            end = _jpeg_decode_progressive_scan(
                payload, pos + 2 + ln, body, sof, coefs, comp_blocks,
                huff, restart_interval,
            )
            saw_scan = True
            pos = _jpeg_next_marker(payload, end)
            continue
        pos += 2 + ln
    if sof is None or not saw_scan:
        raise ValueError("JPEG missing SOF or SOS")

    w, h, comps, _hmax, _vmax, _mcux, _mcuy = sof
    xs = np.arange(8)
    C = np.cos((2 * xs[None, :] + 1) * xs[:, None] * np.pi / 16) / 2
    C[0] *= 1 / np.sqrt(2)
    out = []
    for cid, hi, vi, tq in comps:
        if tq not in qtables:
            raise ValueError(f"missing quantization table {tq}")
        zz = coefs[cid].astype(np.float64) * np.array(
            qtables[tq], dtype=np.float64
        )
        bh, bw = zz.shape[:2]
        nat = np.zeros_like(zz)
        nat[:, :, _ZIGZAG] = zz
        blocks = nat.reshape(bh, bw, 8, 8)
        # IDCT every block at once: out = C.T @ block @ C
        px = np.einsum("ku,yxkl,lv->yxuv", C, blocks, C)
        plane = px.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        out.append((
            cid, hi, vi,
            np.clip(np.rint(plane + 128), 0, 255).astype(np.int64),
        ))
    return w, h, out


def _jpeg_decode_progressive_scan(
    payload: bytes,
    data_pos: int,
    body: bytes,
    sof,
    coefs,
    comp_blocks,
    huff,
    restart_interval: int,
) -> int:
    """Decode ONE progressive scan's entropy data into the coefficient
    accumulators; returns the offset just past the data consumed.  The
    scan header's ``Ss/Se/Ah/Al`` select the band and the successive-
    approximation stage (see ``_jpeg_decode_planes_progressive``)."""
    w, h, comps, hmax, vmax, mcux, mcuy = sof
    ns = body[0]
    scan = [(body[1 + 2 * i], body[2 + 2 * i]) for i in range(ns)]
    ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
    ah, al = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 0x0F
    if ss > se or se > 63:
        raise ValueError(f"invalid spectral band {ss}..{se}")
    if ss == 0 and se != 0:
        raise ValueError("progressive DC scan must have Se=0")
    if ss > 0 and ns != 1:
        raise ValueError("progressive AC scans carry exactly one component")
    if ah and ah != al + 1:
        raise ValueError(f"invalid successive approximation {ah}->{al}")
    by_id = {c[0]: c for c in comps}
    for cid, _tt in scan:
        if cid not in by_id:
            raise ValueError(f"scan references unknown component {cid}")

    reader = _BitReader(payload, data_pos)
    rst_n = 0
    prev_dc = {cid: 0 for cid, _tt in scan}
    eobrun = 0
    p1 = 1 << al

    def maybe_restart(unit_idx: int) -> None:
        nonlocal rst_n, eobrun
        if (
            restart_interval
            and unit_idx
            and unit_idx % restart_interval == 0
        ):
            reader.consume_rst(rst_n)
            rst_n = (rst_n + 1) & 7
            for cid in prev_dc:
                prev_dc[cid] = 0
            eobrun = 0

    def dc_first(cid: int, dc_table, bx: int, by: int) -> None:
        cat = _huff_decode(reader, dc_table)
        if cat > 15:
            raise ValueError(f"invalid DC category {cat}")
        prev_dc[cid] += _jpeg_receive_extend(reader, cat) if cat else 0
        coefs[cid][by, bx, 0] = prev_dc[cid] << al

    def dc_refine(cid: int, bx: int, by: int) -> None:
        if reader.read_bit():
            coefs[cid][by, bx, 0] |= p1

    def ac_first(cid: int, ac_table, bx: int, by: int) -> None:
        nonlocal eobrun
        if eobrun:
            eobrun -= 1
            return
        blk = coefs[cid][by, bx]
        k = ss
        while k <= se:
            sym = _huff_decode(reader, ac_table)
            run, size = sym >> 4, sym & 0x0F
            if size == 0:
                if run != 15:  # EOBn: 2^run (+ run extra bits) blocks
                    eobrun = (1 << run) - 1
                    if run:
                        eobrun += reader.read_bits(run)
                    return
                k += 16  # ZRL
                continue
            k += run
            if k > se:
                raise ValueError("AC run past end of spectral band")
            blk[k] = _jpeg_receive_extend(reader, size) << al
            k += 1

    def ac_refine(cid: int, ac_table, bx: int, by: int) -> None:
        # T.81 G.1.2.3 / G.1.2.2: every already-nonzero coefficient in
        # the band consumes one correction bit; newly-nonzero ones
        # arrive as ±2^Al after `run` ZERO-HISTORY positions
        nonlocal eobrun
        blk = coefs[cid][by, bx]
        k = ss
        if eobrun == 0:
            while k <= se:
                sym = _huff_decode(reader, ac_table)
                run, size = sym >> 4, sym & 0x0F
                newval = 0
                if size == 0:
                    if run != 15:
                        eobrun = (1 << run)
                        if run:
                            eobrun += reader.read_bits(run)
                        break
                    # ZRL: sixteen zero-history positions
                else:
                    if size != 1:
                        raise ValueError(
                            f"invalid refinement AC symbol 0x{sym:02X}"
                        )
                    newval = p1 if reader.read_bit() else -p1
                while k <= se:
                    if blk[k] != 0:
                        if reader.read_bit() and (blk[k] & p1) == 0:
                            blk[k] += p1 if blk[k] > 0 else -p1
                    else:
                        if run == 0:
                            break
                        run -= 1
                    k += 1
                if newval:
                    if k > se:
                        raise ValueError(
                            "refinement coefficient lands past the band"
                        )
                    blk[k] = newval
                k += 1
        if eobrun > 0:
            while k <= se:
                if blk[k] != 0:
                    if reader.read_bit() and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] > 0 else -p1
                k += 1
            eobrun -= 1

    if ss == 0 and ns > 1:
        # interleaved DC scan: MCU traversal over the FULL padded grid
        dc_tables = {}
        for cid, tt in scan:
            if ah == 0:  # refinement reads raw bits, no table
                dc_tables[cid] = huff.get((0, tt >> 4))
                if dc_tables[cid] is None:
                    raise ValueError("missing DC Huffman table for scan")
        unit = 0
        for my in range(mcuy):
            for mx in range(mcux):
                maybe_restart(unit)
                unit += 1
                for cid, tt in scan:
                    _c, hi, vi, _tq = by_id[cid]
                    for iy in range(vi):
                        for ix in range(hi):
                            bx, by = mx * hi + ix, my * vi + iy
                            if ah == 0:
                                dc_first(cid, dc_tables[cid], bx, by)
                            else:
                                dc_refine(cid, bx, by)
    else:
        # single-component scan: the component's OWN block grid (not
        # MCU-padded — padding blocks are never coded here)
        cid, tt = scan[0]
        bw, bh = comp_blocks[cid]
        if ss == 0:
            # DC refinement is raw bits — no table consulted
            table = huff.get((0, tt >> 4)) if ah == 0 else None
            if ah == 0 and table is None:
                raise ValueError("missing DC Huffman table for scan")
        else:
            table = huff.get((1, tt & 0x0F))
            if table is None:
                raise ValueError("missing AC Huffman table for scan")
        unit = 0
        for by in range(bh):
            for bx in range(bw):
                maybe_restart(unit)
                unit += 1
                if ss == 0:
                    if ah == 0:
                        dc_first(cid, table, bx, by)
                    else:
                        dc_refine(cid, bx, by)
                elif ah == 0:
                    ac_first(cid, table, bx, by)
                else:
                    ac_refine(cid, table, bx, by)

    # the scan's data ends at the current reader byte (pad bits belong
    # to it); trailing EOB runs carry no bytes
    return reader.pos


@lru_cache(maxsize=1)
def _jpeg_unit_lut():
    """65536-entry lookup: 16-bit entropy unit → DC diff (or the
    -32768 'not a flat-profile unit' sentinel).  The flat-block
    encoders emit every block as exactly one such unit (DC code +
    value bits + 0-valued EOB), so a whole entropy segment decodes as
    one vectorized ``np.take`` + ``cumsum`` — the fast path that keeps
    the decode seam O(bytes) instead of O(bits of Python loop)."""
    import numpy as np

    lut = np.full(65536, -32768, dtype=np.int32)
    for cat, (code, _length) in _jpeg_dc_codes().items():
        for value in range(1 << cat) if cat else (0,):
            unit = (code << (cat + 1)) | (value << 1)
            if cat and value < (1 << (cat - 1)):
                d = value - ((1 << cat) - 1)
            else:
                d = value
            lut[unit] = d
    return lut


def _jpeg_flat_units(payload: bytes, header: bytes, per_mcu: int):
    """Shared fast-path gate: if ``payload`` is byte-identical to what
    the flat-block encoder produces (exact header for its height, EOI
    trailer, and an entropy segment of valid 16-bit DC-only units),
    return the per-block values (``np.ndarray``, one row per MCU,
    ``per_mcu`` columns, already level-unshifted to 0..255); else
    ``None`` → caller falls back to the general entropy decoder.
    Sound because the general decoder provably produces exactly these
    values on such files: flat DC-only blocks IDCT back to their
    constant bit-for-bit (integer in float64)."""
    import numpy as np

    body = len(payload) - len(header) - 2
    if body < 0 or body % (2 * per_mcu):
        return None
    if payload[: len(header)] != header or payload[-2:] != b"\xff\xd9":
        return None
    units = np.frombuffer(payload, dtype=">u2", offset=len(header), count=body // 2)
    diffs = _jpeg_unit_lut()[units]
    if (diffs == -32768).any():
        return None
    vals = np.cumsum(diffs.reshape(-1, per_mcu), axis=0) + 128
    if vals.size and (vals.min() < 0 or vals.max() > 255):
        return None
    return vals


def _jpeg_pixels_array(payload: bytes):
    """Baseline-JFIF GREYSCALE parse → (width, height, flat int64
    ndarray of top-down pixels): the single-component wrapper over
    ``_jpeg_decode_planes`` (the general 1/3-component machinery —
    color goes through ``_jpeg_ycbcr``/``decode_jpeg_color``), with
    the vectorized flat-profile fast path in front."""
    import numpy as np

    n = (len(payload) - JPEG_HEADER) // 2
    if n >= 0 and len(payload) == JPEG_HEADER + 2 * n:
        vals = _jpeg_flat_units(payload, _jfif_header(8 * n, 1), 1)
        if vals is not None:
            return JPEG_WIDTH, 8 * n, np.repeat(vals.reshape(-1), 64)
    w, h, comps = _jpeg_decode_planes(payload)
    if len(comps) != 1:
        raise ValueError(
            f"greyscale decode of a {len(comps)}-component JPEG — use "
            "the jpeg_color verbs"
        )
    px = comps[0][3]
    return w, h, px[:h, :w].reshape(-1)


def decode_jpeg(payload: bytes) -> list[float]:
    """JPEG decode → the SAME FEATURE_DIM features as decode_bmp /
    decode_png (identical pixel semantics, third container): [width,
    height, n_pixels, first, last, max, Σ mod 9973, #value-32].
    Aggregates vectorized (this runs per distinct document inside the
    Arrow decode seam); the flat synthesis profile aggregates at block
    granularity — every pixel of block i has the block's value, so
    each block contributes with weight 64 and the 64x expansion never
    materializes."""
    n = (len(payload) - JPEG_HEADER) // 2
    if n >= 0 and len(payload) == JPEG_HEADER + 2 * n:
        vals = _jpeg_flat_units(payload, _jfif_header(8 * n, 1), 1)
        if vals is not None:
            if n == 0:
                return [0.0] * FEATURE_DIM
            v = vals.reshape(-1)
            return [
                float(JPEG_WIDTH),
                float(8 * n),
                float(64 * n),
                float(v[0]),
                float(v[-1]),
                float(v.max()),
                float(64 * int(v.sum()) % AUDIO_SUM_MOD),
                float(64 * int((v == 32).sum())),
            ]
    width, h, px = _jpeg_pixels_array(payload)
    if px.size == 0:
        return [0.0] * FEATURE_DIM
    return [
        float(width),
        float(h),
        float(px.size),
        float(px[0]),
        float(px[-1]),
        float(px.max()),
        float(int(px.sum()) % AUDIO_SUM_MOD),
        float(int((px == 32).sum())),
    ]


# --- baseline JPEG (JFIF), YCbCr color -------------------------------
#
# The color half of the JPEG modality (round 7): 4:4:4 baseline color
# SYNTHESIS through the same closed-form flat-block discipline, and a
# color decode built on the general `_jpeg_decode_planes` machinery
# (which also decodes 4:2:0 — sampling factors up to 2x2 — so the
# decoder covers the real-corpora-default subsampled layout; pinned in
# tests against an independent test-side 4:2:0 encoder).
#
# Why color stays exactly oracle-able: source byte v becomes one flat
# 8x8 block PER COMPONENT with Y = v, Cb = 255-v, Cr = (3v+7)%256 —
# each component's DC chain is the same 16-bit-per-block layout as the
# greyscale encoder (per-component DC predictors, same canonical DC
# table for all three scan selectors), so an MCU is exactly 3 blocks =
# 6 bytes, no byte ever 0xFF (every code starts '000', every block
# ends in the 0-valued EOB bit), and
# n_bytes = JPEGC_HEADER + 6*len(text) closed-form.  The decoder IDCTs
# each plane back to the exact flat integers, and the YCbCr->RGB
# conversion is pinned to floor(x + 0.5) with the JFIF/BT.601 literal
# constants so DuckDB replicates every channel value bit-for-bit from
# the source text.

# JFIF YCbCr->RGB constants (ITU-R BT.601 as used by JFIF).  The SQL
# oracle uses the same literals and the same floor(x+0.5) rounding.
_JPEGC_R_CR = 1.402
_JPEGC_G_CB = 0.344136
_JPEGC_G_CR = 0.714136
_JPEGC_B_CB = 1.772


# total non-entropy bytes (header + EOI) for the closed-form size oracle
JPEGC_HEADER = len(_jfif_header(0, 3)) + 2


def _encode_jpegc_blocks(blocks: list[tuple[int, int, int]]) -> bytes:
    """The ONE color flat-block encoder (synthesis and band tiling
    share it): each (y, cb, cr) triple becomes one 4:4:4 MCU of
    three DC-only blocks — 16 bits per block, 6 bytes per MCU,
    per-component DC predictors, provably stuffing-free."""
    import numpy as np

    n = len(blocks)
    if n > 8191:
        raise ValueError(
            f"color JPEG synthesis supports at most 8191 MCUs (SOF "
            f"height is 16-bit, height = 8*n), got {n}"
        )
    if n == 0:
        return _jfif_header(0, 3) + b"\xff\xd9"
    # three independent DC chains (per-component predictors) in ONE
    # unit-emitter pass: axis-0 diff runs each column as its own chain,
    # and C-order tobytes() interleaves (Y, Cb, Cr) per MCU exactly as
    # the scan requires (round 8: three per-component emitter calls
    # plus a re-interleaving stack were ~2/3 of the color synthesis)
    dc = np.asarray(blocks, dtype=np.int64) - 128
    diffs = np.diff(dc, axis=0, prepend=np.zeros((1, 3), dtype=np.int64))
    return (
        _jfif_header(8 * n, 3)
        + _jpeg_unit16(diffs).astype(">u2").tobytes()
        + b"\xff\xd9"
    )


def synthesize_jpeg_color(data: bytes) -> bytes:
    """Deterministic baseline-JFIF 4:4:4 COLOR JPEG from source bytes:
    byte i becomes one flat color MCU (Y=v, Cb=255-v, Cr=(3v+7)%256 —
    see the color section comment for why the round trip and the file
    size stay exact despite the lossy codec).  The channel maps run
    as three whole-payload numpy expressions (round 8: the per-byte
    scalar comprehension was 6.7x the greyscale synthesis and the
    color chain's dominant cost)."""
    import numpy as np

    v = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
    return _encode_jpegc_blocks(
        np.stack([v, 255 - v, (3 * v + 7) % 256], axis=1)
    )


def _jpeg_ycbcr(payload: bytes) -> tuple[int, int, list, list, list]:
    """Color JPEG → full-resolution integer (Y, Cb, Cr) planes:
    decode each component at its own resolution, then replicate-
    upsample chroma to the luma grid (the standard box upsample —
    identity for 4:4:4, 2x pixel replication for 4:2:0).  Synthesized
    flat-MCU payloads take the vectorized unit fast path."""
    import numpy as np

    n = (len(payload) - JPEGC_HEADER) // 6
    if n >= 0 and len(payload) == JPEGC_HEADER + 6 * n:
        vals = _jpeg_flat_units(payload, _jfif_header(8 * n, 3), 3)
        if vals is not None:
            planes = [
                np.repeat(vals[:, ci], 64).reshape(-1, 8) for ci in range(3)
            ]
            return JPEG_WIDTH, 8 * n, planes[0], planes[1], planes[2]
    w, h, comps = _jpeg_decode_planes(payload)
    if len(comps) != 3:
        raise ValueError(
            f"color decode of a {len(comps)}-component JPEG — use the "
            "greyscale jpeg verbs"
        )
    if [c[0] for c in comps] != [1, 2, 3]:
        raise ValueError(
            "expected JFIF component ids (1=Y, 2=Cb, 3=Cr), got "
            f"{[c[0] for c in comps]}"
        )
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    ys = np.arange(h)
    xs = np.arange(w)
    planes = []
    for _cid, hi, vi, px in comps:
        # replicate-upsample to the luma grid via integer index maps
        planes.append(px[np.ix_(ys * vi // vmax, xs * hi // hmax)])
    return w, h, planes[0], planes[1], planes[2]


def _rgb_from_ycbcr_rows(vals):
    """Vectorized JFIF conversion over an (n, 3) int array of
    (Y, Cb, Cr) rows → (n, 3) int64 (R, G, B) rows — the array twin of
    ``tests/references.ycbcr_to_rgb`` (same literals, same op order,
    same floor(x+0.5) rounding, so the float64 results are identical —
    pinned against the scalar form in tests)."""
    import numpy as np

    a = np.asarray(vals, dtype=np.float64)
    y, cb, cr = a[..., 0], a[..., 1], a[..., 2]
    # each channel's expression tree is UNCHANGED (bit-for-bit oracle
    # contract); only the shared floor(x+0.5)/clip tail runs once over
    # the stacked array instead of per channel — floor and clip are
    # elementwise, so the fold cannot change any value (round 8:
    # six small-array passes + call overhead were the decode seam's
    # second-largest cost after the unit parse)
    r = y + _JPEGC_R_CR * (cr - 128)
    g = y - _JPEGC_G_CB * (cb - 128) - _JPEGC_G_CR * (cr - 128)
    b = y + _JPEGC_B_CB * (cb - 128)
    rgb = np.stack([r, g, b], axis=-1)
    np.floor(rgb + 0.5, out=rgb)
    return np.clip(rgb, 0, 255).astype(np.int64)


def _jpeg_rgb_array(payload: bytes):
    """Color JPEG → (width, height, flat int64 ndarray of interleaved
    [R,G,B,...] channel values) via the pinned JFIF conversion."""
    import numpy as np

    w, h, yp, cbp, crp = _jpeg_ycbcr(payload)
    ycc = np.stack(
        [np.asarray(p, dtype=np.int64) for p in (yp, cbp, crp)], axis=-1
    )
    return w, h, _rgb_from_ycbcr_rows(ycc).reshape(-1)


def decode_jpeg_color(payload: bytes) -> list[float]:
    """Color JPEG decode → the SAME FEATURE_DIM layout as the other
    image branches, over the interleaved RGB channel sequence: [width,
    height, n_channel_values, first (R of px 0), last (B of last px),
    max, Σ mod 9973, #value==32].  All aggregates vectorized — this
    runs inside the Arrow decode seam for every distinct document; the
    flat synthesis profile converts and aggregates at MCU granularity
    (one RGB triple per MCU, weight 64) so the pixel expansion never
    materializes."""
    import numpy as np

    n = (len(payload) - JPEGC_HEADER) // 6
    if n >= 0 and len(payload) == JPEGC_HEADER + 6 * n:
        vals = _jpeg_flat_units(payload, _jfif_header(8 * n, 3), 3)
        if vals is not None:
            if n == 0:
                return [0.0] * FEATURE_DIM
            rgbb = _rgb_from_ycbcr_rows(vals)
            return [
                float(JPEG_WIDTH),
                float(8 * n),
                float(64 * 3 * n),
                float(rgbb[0, 0]),
                float(rgbb[-1, 2]),
                float(rgbb.max()),
                float(64 * int(rgbb.sum()) % AUDIO_SUM_MOD),
                float(64 * int((rgbb == 32).sum())),
            ]
    width, h, rgb = _jpeg_rgb_array(payload)
    if rgb.size == 0:
        return [0.0] * FEATURE_DIM
    return [
        float(width),
        float(h),
        float(rgb.size),
        float(rgb[0]),
        float(rgb[-1]),
        float(rgb.max()),
        float(int(rgb.sum()) % AUDIO_SUM_MOD),
        float(int((rgb == 32).sum())),
    ]


def _block_row_avgs(plane, h: int):
    """Exact integer 8-row band averages (floor) of a 2-D plane — the
    sum(band)//len(band) arithmetic, one vectorized pass for the
    block-multiple prefix plus a scalar tail for ragged heights."""
    import numpy as np

    full = h // 8
    out = []
    if full:
        head = np.asarray(plane[: full * 8], dtype=np.int64)
        w = head.shape[1]
        out = list(head.reshape(full, 8 * w).sum(axis=1) // (8 * w))
    if h % 8:
        tail = np.asarray(plane[full * 8 : h], dtype=np.int64)
        out.append(int(tail.sum()) // int(tail.size))
    return [int(v) for v in out]


def _band_payloads(vals2d, headers, per_block_bytes: int) -> list[bytes]:
    """Shared batched band emitter: ``vals2d`` is the (n_blocks, c)
    int array of per-block component values in MCU order; bands of
    ``JPEG_BAND_BLOCKS`` blocks each restart their DC predictors, so
    ALL bands' units compute in one elementwise pass over per-band
    diffs; ``headers(k)`` builds the k-block header."""
    import numpy as np

    vals = np.asarray(vals2d, dtype=np.int64)
    n, c = vals.shape
    if n == 0:
        return []
    b = JPEG_BAND_BLOCKS
    nb = -(-n // b)
    dc = np.zeros((nb * b, c), dtype=np.int64)
    dc[:n] = vals - 128
    dc = dc.reshape(nb, b, c)
    diffs = np.diff(dc, axis=1, prepend=0)
    by = _jpeg_unit16(diffs).astype(">u2").tobytes()
    stride = 2 * c * b
    out = []
    for i in range(nb):
        k = min(b, n - i * b)
        out.append(
            headers(k)
            + by[i * stride : i * stride + per_block_bytes * k]
            + b"\xff\xd9"
        )
    return out


def jpegc_band_encode(payload: bytes) -> list[bytes]:
    """Band tiling for color JPEG: pool each 8-row block PER COMPONENT
    (YCbCr domain, like the greyscale pooling — chroma survives the
    re-encode), group ``JPEG_BAND_BLOCKS`` blocks per band, and emit
    every band as a standalone decodable multi-MCU color JPEG.  Exact
    for flat synthesized MCUs (each band carries its MCUs' triples
    verbatim).  Pooling and unit emission are whole-payload vectorized
    passes — per-band Python work is one slice + join."""
    import numpy as np

    _w, h, yp, cbp, crp = _jpeg_ycbcr(payload)
    triples = np.stack(
        [
            np.asarray(_block_row_avgs(p, h), dtype=np.int64)
            for p in (yp, cbp, crp)
        ],
        axis=-1,
    ) if h else np.zeros((0, 3), dtype=np.int64)
    return _band_payloads(triples, lambda k: _jfif_header(8 * k, 3), 6)


VID_WIDTH = 8
VID_HEIGHT = 4
VID_FRAME_PX = VID_WIDTH * VID_HEIGHT  # 32 luma bytes per frame
VID_FRAME_HDR = 6  # len(b"FRAME\n") — per-frame marker line


def _y4m_header(w: int, h: int) -> bytes:
    """The ONE Y4M stream-header builder (shared by synthesis and
    frame tiling).  YUV4MPEG2 is a real public uncompressed video
    container (mjpegtools/ffmpeg interchange): one ASCII parameter
    line, then ``FRAME\\n`` + raw planes per frame.  ``Cmono`` (luma
    only) is the spec's grayscale colorspace — one plane per frame, so
    the pixel mapping stays closed-form for SQL oracles."""
    return f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 Cmono\n".encode("ascii")


VID_HEADER = len(_y4m_header(VID_WIDTH, VID_HEIGHT))  # 36 for W8 H4


def _encode_y4m(planes: list[bytes], w: int, h: int) -> bytes:
    """Shared Y4M encoder: luma planes → stream header + per-frame
    ``FRAME\\n`` markers.  Validates plane sizes so header/payload can
    never drift."""
    for i, p in enumerate(planes):
        if len(p) != w * h:
            raise ValueError(
                f"frame {i}: plane is {len(p)} bytes, need {w * h} for {w}x{h}"
            )
    return _y4m_header(w, h) + b"".join(b"FRAME\n" + p for p in planes)


def synthesize_y4m(
    data: bytes, width: int = VID_WIDTH, height: int = VID_HEIGHT
) -> bytes:
    """Deterministic grayscale Y4M clip from source bytes: frame f,
    pixel i (row-major) has luma ``data[f·w·h + i]``; the final frame
    zero-pads past ``len(data)``; empty input is a header-only,
    zero-frame stream (the video analog of the height-0 BMP).  A REAL
    YUV4MPEG2 stream, so the decode side exercises an actual video
    container parse; the mapping is closed-form so SQL oracles
    recompute features from the source text."""
    fp = width * height
    n = -(-len(data) // fp) if data else 0
    planes = [data[i * fp : (i + 1) * fp].ljust(fp, b"\x00") for i in range(n)]
    return _encode_y4m(planes, width, height)


def _y4m_planes(payload: bytes) -> tuple[int, int, list[bytes]]:
    """Shared Y4M parse → (width, height, luma planes); validates the
    magic, the Cmono colorspace, positive dimensions, every FRAME
    marker, and exact plane lengths — truncation and trailing garbage
    both fail LOUDLY (the BMP seam's round-4 review lesson)."""
    nl = payload.find(b"\n")
    if nl < 0:
        raise ValueError("not a Y4M stream: no header line")
    try:
        toks = payload[:nl].decode("ascii").split(" ")
    except UnicodeDecodeError as e:
        raise ValueError(f"not a Y4M stream: non-ASCII header ({e})") from None
    if toks[0] != "YUV4MPEG2":
        raise ValueError(f"not a Y4M stream: magic {toks[0]!r}")
    params = {t[0]: t[1:] for t in toks[1:] if t}
    # the Y4M spec defaults a missing C tag to 4:2:0 — chroma planes
    # this grayscale seam does not model, so demand explicit Cmono
    if params.get("C", "420") != "mono":
        raise ValueError(
            f"expected Cmono (grayscale) Y4M, got C{params.get('C', '420')}"
        )
    if "W" not in params or "H" not in params:
        # same loud ValueError contract as every other malformed shape
        # (a bare KeyError here would bypass callers' quarantine
        # routing — round-4+ review)
        raise ValueError(
            f"Y4M header missing W/H dimension tags: {toks[1:]!r}"
        )
    w, h = int(params["W"]), int(params["H"])
    if w <= 0 or h <= 0:
        raise ValueError(f"unsupported Y4M dimensions {w}x{h}")
    fp = w * h
    planes: list[bytes] = []
    pos = nl + 1
    while pos < len(payload):
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at byte {pos}")
        line_end = payload.find(b"\n", pos)
        if line_end < 0:
            raise ValueError(f"unterminated FRAME line at byte {pos}")
        pos = line_end + 1
        if pos + fp > len(payload):
            raise ValueError(
                f"truncated Y4M: frame {len(planes)} needs {fp} bytes, "
                f"got {len(payload) - pos}"
            )
        planes.append(payload[pos : pos + fp])
        pos += fp
    return w, h, planes


def decode_y4m(payload: bytes) -> list[float]:
    """Stdlib Y4M video decode → FEATURE_DIM floats.  Parses the
    container for real; features are integral and closed-form over the
    concatenated luma planes: [n_frames, width, height, first pixel,
    last pixel of the final frame, max, Σ mod 9973, #space (32)
    pixels] — all < 2^24, exact in float32."""
    w, h, planes = _y4m_planes(payload)
    if not planes:
        return [0.0] * FEATURE_DIM
    px = b"".join(planes)
    return [
        float(len(planes)),
        float(w),
        float(h),
        float(px[0]),
        float(px[-1]),
        float(max(px)),
        float(sum(px) % AUDIO_SUM_MOD),
        float(px.count(32)),
    ]


def decode_stub(payload: bytes, modality: str) -> list[float]:
    """The real decode seam.  'text' uses the closed-form byte
    featurizer; 'audio' is a REAL stdlib WAV/PCM parse (round 3);
    'image' is a REAL stdlib BMP parse (round 4+); 'video' is a REAL
    YUV4MPEG2 container parse (round 4+) — three non-text modalities
    exercisable end-to-end with no external codec.  COMPRESSED video
    (mp4/h264 and friends) still needs codec libraries absent from
    this container — that path is an explicit error, not a silent
    fake."""
    if modality == "text":
        return fake_decode(payload)
    if modality == "audio":
        return decode_wav(payload)
    if modality == "image":
        return decode_bmp(payload)
    if modality == "png":
        return decode_png(payload)
    if modality == "jpeg":
        return decode_jpeg(payload)
    if modality == "jpeg_color":
        return decode_jpeg_color(payload)
    if modality == "video":
        return decode_y4m(payload)
    if modality in ("mp4", "fmp4"):
        # REAL through the ISO-BMFF sample table for uncompressed PCM
        # codecs; compressed fourccs raise inside (the codec seam
        # moved one layer down in round 9 — the CONTAINER is parsed
        # for real either way, see sources/containers.py).  'fmp4'
        # (round 10) is the fragmented moof/trun layout; decode_mp4
        # is layout-agnostic once parse_mp4 resolves the spans.
        return CT.decode_mp4(payload)
    if modality == "mp3":
        # round 11: Layer III SPECTRAL decode over the profile
        # (count1 table B + requantize + alias + IMDCT; the polyphase
        # window / big-values tables remain the loud data seam —
        # sources/layer3.py docstring)
        return L3.decode_mp3_l3_features(payload)
    raise NotImplementedError(
        f"decoder for modality {modality!r} requires codec libraries "
        "(decord/ffmpeg) not present in this environment"
    )


# The synthesized (non-text) ingestion branches, keyed by branch name:
# (modality tag, mime, synthesize: utf-8 text bytes -> payload).  Two
# branches share the tag "mp3": the container branch feeds frame
# sampling, the Layer III profile branch feeds feature decode.
BRANCHES: dict[str, tuple[str, str, Callable[[bytes], bytes]]] = {
    "audio_wav": ("audio", "audio/wav", synthesize_wav),
    "audio_mp4": ("mp4", "audio/mp4", CT.synthesize_mp4),
    "audio_fmp4": ("fmp4", "video/mp4", CT.synthesize_fmp4),
    "audio_mp3": ("mp3", "audio/mpeg", CT.synthesize_mp3),
    "audio_mp3_l3": (
        "mp3",
        "audio/mpeg",
        lambda data: L3.synthesize_mp3_l3(data.decode("utf-8")),
    ),
    "image_bmp": ("image", "image/bmp", synthesize_bmp),
    "image_png": ("png", "image/png", synthesize_png),
    "image_jpeg": ("jpeg", "image/jpeg", synthesize_jpeg),
    "image_jpeg_color": ("jpeg_color", "image/jpeg", synthesize_jpeg_color),
    "video_y4m": ("video", "video/x-yuv4mpeg", synthesize_y4m),
}


def binarize(documents: DataFrame, branch: str) -> DataFrame:
    """Manufacture one branch's modality table: each document's text
    bytes become a real container payload via Arrow-batched
    ``mapInPandas`` — the ingestion shape a real media corpus would
    arrive in (binary column + mime + size metadata)."""
    modality, mime, synthesize = BRANCHES[branch]

    def synth_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [synthesize(t.encode("utf-8")) for t in pdf["text"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": modality,
                    "payload": payloads,
                    "meta_mime": mime,
                    "meta_n_bytes": [len(p) for p in payloads],
                }
            )

    return documents.select("doc_id", "text").mapInPandas(
        synth_batches, MODALITY_SCHEMA
    )


FRAME_BYTES = 64

FRAME_SCHEMA = (
    "doc_id bigint, modality string, frame_idx int, frame_payload binary, "
    "frame_n_bytes bigint"
)


IMG_BAND_ROWS = 4  # image "frames" = row bands of 4 (the patching op)


def frame_stub(payload: bytes, modality: str) -> list[bytes]:
    """Frame-decode seam.  For the deterministic 'text' stand-in, frames
    are fixed-width byte windows (a proxy for GOP/keyframe decode — same
    1→N shape, same batch mechanics).  For 'image' the op is REAL:
    the BMP is tiled into ``IMG_BAND_ROWS``-row bands, each re-encoded
    through the shared encoder as a standalone BMP — the vision-training
    patching operation, and every emitted frame is itself decodable.
    For 'video' the op is REAL temporal extraction over the Y4M
    container.  Compressed-codec modalities are an explicit error,
    mirroring ``decode_stub``."""
    if modality == "text":
        if not payload:
            return []
        return [
            payload[i : i + FRAME_BYTES]
            for i in range(0, len(payload), FRAME_BYTES)
        ]
    if modality == "image":
        w, h, px = _bmp_pixels(payload)
        return [
            _encode_bmp(
                px[y * w : (y + min(IMG_BAND_ROWS, h - y)) * w],
                w,
                min(IMG_BAND_ROWS, h - y),
            )
            for y in range(0, h, IMG_BAND_ROWS)
        ]
    if modality == "png":
        # same band tiling as the BMP branch, through the PNG encoder —
        # every emitted band is itself a decodable standalone PNG
        w, h, px = _png_pixels(payload)
        return [
            _encode_png(
                px[y * w : (y + min(IMG_BAND_ROWS, h - y)) * w],
                w,
                min(IMG_BAND_ROWS, h - y),
            )
            for y in range(0, h, IMG_BAND_ROWS)
        ]
    if modality == "jpeg":
        # band tiling at MULTI-BLOCK granularity: each band covers
        # JPEG_BAND_BLOCKS consecutive 8-row blocks, so a band carries
        # ~the same source bytes as the text/BMP/PNG branches (one
        # block per band would fan out 8-64x more frame rows than any
        # other modality and dominate the key at scale — measured
        # 1.1 s -> 17.8 s at sf0.1 before the grouping).  Each band
        # re-encodes through the flat-block encoder as a standalone
        # decodable JPEG; exact for synthesized payloads (the band
        # carries its blocks' values verbatim), and for general inputs
        # each block stores its 8-row-band average.  Pooling and unit
        # emission are whole-payload vectorized passes (shared with the
        # color twin).
        import numpy as np

        w, h, px = _jpeg_pixels_array(payload)
        img = px.reshape(h, w)
        vals = np.asarray(_block_row_avgs(img, h), dtype=np.int64)
        return _band_payloads(
            vals.reshape(-1, 1), lambda k: _jfif_header(8 * k, 1), 2
        )
    if modality == "jpeg_color":
        # the color twin: per-component (YCbCr) block pooling, every
        # band a standalone decodable JPEG_BAND_BLOCKS-MCU color JPEG
        return jpegc_band_encode(payload)
    if modality == "video":
        # REAL temporal frame extraction: parse the Y4M container and
        # re-encode each frame as a standalone single-frame clip
        # through the shared encoder — every emitted frame is itself a
        # valid Y4M input to decode_y4m
        w, h, planes = _y4m_planes(payload)
        return [_encode_y4m([p], w, h) for p in planes]
    if modality in ("mp4", "fmp4"):
        # REAL sample-table-driven chunk extraction (round 9); each
        # chunk re-encodes as a standalone decodable mp4 for the PCM
        # codecs — compressed fourccs raise inside.  Fragmented files
        # (round 10) take the same path: each trun run IS a chunk.
        return CT.mp4_frames(payload)
    if modality == "mp3":
        # REAL frame-sync walk; each unit is a byte-delimited MPEG
        # frame (header + data) — see the bit-reservoir caveat on
        # containers.mp3_frames
        return CT.mp3_frames(payload)
    raise NotImplementedError(
        f"frame decoder for modality {modality!r} requires codec libraries "
        "not present in this environment"
    )


def sample_frames(binarized: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame sampling: each payload row fans out to its sampled frames
    (every ``every_n``-th) via ``mapInPandas`` — the one-to-many batch
    shape a video pipeline needs (a pandas UDF can't change row count;
    ``mapInPandas`` can).  Raw payloads are dropped in the same pass, so
    the fan-out never shuffles the originals."""

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "modality": [], "frame_idx": [],
                "frame_payload": [], "frame_n_bytes": [],
            }
            for doc_id, modality, payload in zip(
                pdf["doc_id"], pdf["modality"], pdf["payload"]
            ):
                frames = frame_stub(payload, modality)[::every_n]
                for idx, fp in enumerate(frames):
                    out["doc_id"].append(doc_id)
                    out["modality"].append(modality)
                    out["frame_idx"].append(idx)
                    out["frame_payload"].append(fp)
                    out["frame_n_bytes"].append(len(fp))
            yield pd.DataFrame(out)

    return binarized.mapInPandas(frame_batches, FRAME_SCHEMA)


def extract_features(binarized: DataFrame) -> DataFrame:
    """Arrow-batched decode/feature pipeline over ``mapInPandas``.

    Batches arrive as pandas DataFrames (Arrow transfer; payload bytes
    stay off the Python heap until their batch); output is fixed-width
    float features — the raw payload column is dropped *before* any
    downstream shuffle.
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # per Arrow batch: an identical Layer III payload decodes
            # once.  The repeats come from the synthesizer, which reads
            # only a few bits of its text (164 distinct payloads over
            # 4,992 sf0.1 texts), not from the data; the other
            # branches' payloads do not repeat and skip the memo.
            mp3 = Memo(L3.decode_mp3_l3_features)
            feats = [
                mp3[p] if m == "mp3" else decode_stub(p, m)
                for p, m in zip(pdf["payload"], pdf["modality"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pdf["meta_n_bytes"],
                    "feature": feats,
                }
            )

    return binarized.mapInPandas(decode_batches, FEATURE_SCHEMA)
