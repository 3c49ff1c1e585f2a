"""MP4 (ISO-BMFF) and MP3 (MPEG audio) CONTAINER parsing — round 9.

The two modalities the multimodal seam previously rejected outright
(``sources/multimodal.py``: "mp4/h264, mp3 stay an explicit
NotImplementedError seam") actually split into two very different
layers, and a 100 TB curation pipeline needs the first one long before
the second:

* the CONTAINER layer — box/atom structure, sample tables, frame
  framing, durations, codec identity, per-sample byte spans — is
  plain deterministic byte-walking, fully implementable on the stdlib,
  and is what corpus curation actually runs at scale (validate files,
  extract metadata, count/sample frames, route by codec) — decoding
  every video to pixels at ingest would be absurd at 100 TB;
* the CODEC layer — H.264/AAC/Layer-III entropy decode — needs real
  codec libraries and STAYS the loud ``NotImplementedError`` seam.

So this module implements the container layer for real:

* ``parse_mp4`` — a general ISO-BMFF walker (64-bit ``largesize``
  boxes, unknown-box skipping, nested containers) that resolves each
  track's full sample table: ``stts`` (durations), ``stsc``
  (chunk→sample mapping), ``stsz``/``stz2``-style uniform and
  per-sample sizes, ``stco``/``co64`` (chunk offsets) → absolute
  ``(offset, size)`` byte spans per sample, bounds-checked against the
  payload.  This is the reference operation behind every "extract
  frame N from this video" pipeline stage.
* ``decode_mp4`` — REAL PCM decode for uncompressed audio codecs
  (``twos`` big-endian / ``sowt`` little-endian PCM16), producing the
  same 8-feature contract as ``multimodal.decode_wav``; compressed
  codecs raise ``NotImplementedError`` naming the fourcc.
* frame extraction — temporal units resolved from the sample table,
  each re-encodable as a standalone mp4.
* ``parse_mp3`` — MPEG audio frame-sync walk with the spec bitrate /
  samplerate tables (MPEG-1 layers I-III), padding arithmetic, ID3v2
  header skip (synchsafe sizes) and ID3v1 trailer detection.  Frame
  extraction is real (frames are byte-delimited by their headers);
  Layer-III entropy decode stays the seam.
* ``synthesize_mp4`` / ``synthesize_mp3`` — deterministic fixtures
  from source bytes (the ``synthesize_wav`` discipline): every field
  is a closed form of ``len(data)``, so SQL oracles recompute byte
  sizes, sample counts, durations, and first-sample values exactly
  (the ``mp4``/``mp3`` branches of ``q_multimodal_features`` /
  ``q_multimodal_frames`` are the registry-checked surface; the
  container-metadata columns are DuckDB-pinned in
  ``tests/test_containers.py`` — the registry holds the driver's
  50-key cap).

Reference parity note: the reference engine (``/root/reference``,
``NodeHandler.java:44-75``) only ever ingests line-delimited text; the
container verbs here are part of the LLM-pipeline surface the brief
adds on top (multimodal columns: decode / feature-extract /
frame-sample with real Spark plumbing).

Scale notes: parsers run per-payload inside Arrow batches
(``mapInPandas``), never on the driver; the
metadata they emit is fixed-width, so the payload column can be
projected away immediately after the parse — the same
"never shuffle decoded output together with raw bytes" rule as the
rest of the multimodal surface.
"""

from __future__ import annotations

import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

# ---------------------------------------------------------------------------
# MP4 / ISO-BMFF
# ---------------------------------------------------------------------------

#: mdhd/mvhd timescale of the synthesized audio track — the WAV
#: fixture's rate, so decode_mp4 features line up with decode_wav.
MP4_TIMESCALE = 8000

#: Samples per chunk in the synthesized layout: small enough that the
#: stsc/stco resolution is exercised over MANY chunks at fixture sizes,
#: large enough that chunk-level frame extraction is a real grouping.
MP4_SAMPLES_PER_CHUNK = 16

#: The container boxes the walker recurses into.  moof/mvex —
#: fragmented mp4 — are handled explicitly (round 10): mvex yields the
#: per-track trex defaults, and moof bodies are resolved in a second
#: pass once the moov tracks they reference by id exist.
_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"dinf"}

#: Uncompressed PCM16 audio fourccs the codec layer can decode for
#: real: big-endian / little-endian ("twos complement" / "sowt" is
#: 'twos' reversed — the QuickTime spelling).
_PCM16_FOURCC = {"twos": ">", "sowt": "<"}


def _box(typ: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + typ + body


def _fullbox(typ: bytes, version: int, flags: int, body: bytes) -> bytes:
    return _box(typ, struct.pack(">I", (version << 24) | flags) + body)


_UNITY_MATRIX = struct.pack(
    ">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000
)


def synthesize_mp4(data: bytes) -> bytes:
    """Deterministic ISO-BMFF audio file from source bytes: one
    ``twos`` (big-endian PCM16) sample per byte, value
    ``(byte−128)·256`` — the same sample mapping as
    ``multimodal.synthesize_wav``, so features decoded through the mp4
    sample table equal features decoded from the WAV.  Samples are
    grouped ``MP4_SAMPLES_PER_CHUNK`` per chunk so the parser's
    stsc/stco walk resolves many chunks, not a degenerate single one;
    ``mdat`` precedes ``moov`` so chunk offsets are independent of the
    moov size (the closed-form the SQL oracle needs).

    Byte size is a closed form of ``len(data)``
    (``tests/references.mp4_n_bytes``, pinned in tests)."""
    return _encode_mp4_pcm(
        [(b - 128) * 256 for b in data], MP4_TIMESCALE
    )


def _encode_mp4_pcm(pcm: list[int], rate: int) -> bytes:
    """The ONE mp4 encoder (round 9): a ``twos`` PCM16 track at
    ``rate``, in the chunked layout ``synthesize_mp4`` documents.
    PCM-level so frame re-encode and resample round-trip EXACTLY —
    mapping samples back through the byte domain would silently
    corrupt any value that is not a multiple of 256 (fine for
    synthesized fixtures, lossy for everything else)."""
    n = len(pcm)
    samples = struct.pack(f">{n}h", *pcm)
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isom" + b"iso2")
    mdat = _box(b"mdat", samples)
    data_start = len(ftyp) + 8  # mdat body offset — stco values hang off it

    n_chunks = -(-n // MP4_SAMPLES_PER_CHUNK)
    # stts: every sample lasts 1 tick
    stts = _fullbox(
        b"stts",
        0,
        0,
        struct.pack(">I", 1 if n else 0)
        + (struct.pack(">II", n, 1) if n else b""),
    )
    # stsc: runs of (first_chunk, samples_per_chunk, sample_desc_idx);
    # a short tail chunk needs its own run
    runs: list[tuple[int, int, int]] = []
    if n:
        runs.append((1, MP4_SAMPLES_PER_CHUNK if n_chunks > 1 else n, 1))
        tail = n % MP4_SAMPLES_PER_CHUNK
        if n_chunks > 1 and tail:
            runs.append((n_chunks, tail, 1))
    stsc = _fullbox(
        b"stsc",
        0,
        0,
        struct.pack(">I", len(runs))
        + b"".join(struct.pack(">III", *r) for r in runs),
    )
    stsz = _fullbox(b"stsz", 0, 0, struct.pack(">II", 2, n))
    offsets = [
        data_start + 2 * MP4_SAMPLES_PER_CHUNK * j for j in range(n_chunks)
    ]
    stco = _fullbox(
        b"stco",
        0,
        0,
        struct.pack(">I", n_chunks)
        + b"".join(struct.pack(">I", o) for o in offsets),
    )
    stbl = _box(b"stbl", _audio_stsd(rate) + stts + stsc + stsz + stco)
    return ftyp + mdat + _audio_moov(rate, n, stbl)


def _audio_stsd(rate: int) -> bytes:
    """stsd with one 'twos' AudioSampleEntry (mono, 16-bit, rate
    16.16) — shared by the progressive and fragmented writers."""
    entry = (
        struct.pack(">I", 36)
        + b"twos"
        + b"\x00" * 6
        + struct.pack(">H", 1)  # data_reference_index
        + b"\x00" * 8  # version/revision/vendor
        + struct.pack(">HHHH", 1, 16, 0, 0)  # channels, bits, predef, rsv
        + struct.pack(">I", rate << 16)
    )
    return _fullbox(b"stsd", 0, 0, struct.pack(">I", 1) + entry)


def _audio_moov(rate: int, duration: int, stbl: bytes,
                mvex: bytes = b"") -> bytes:
    """The one-audio-track moov skeleton shared by ``_encode_mp4_pcm``
    (duration = sample count, populated stbl) and ``synthesize_fmp4``
    (duration 0, empty stbl, mvex carrying the trex defaults)."""
    url = _fullbox(b"url ", 0, 1, b"")  # self-contained
    dref = _box(b"dinf", _fullbox(b"dref", 0, 0, struct.pack(">I", 1) + url))
    smhd = _fullbox(b"smhd", 0, 0, struct.pack(">HH", 0, 0))
    minf = _box(b"minf", smhd + dref + stbl)
    hdlr = _fullbox(
        b"hdlr", 0, 0,
        struct.pack(">I", 0) + b"soun" + b"\x00" * 12 + b"SoundHandler\x00",
    )
    mdhd = _fullbox(
        b"mdhd", 0, 0,
        struct.pack(">IIIIHH", 0, 0, rate, duration, 0x55C4, 0),  # und
    )
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    tkhd = _fullbox(
        b"tkhd", 0, 7,  # enabled | in movie | in preview
        struct.pack(">IIIII", 0, 0, 1, 0, duration)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0x0100, 0)  # layer/group/volume/rsv
        + _UNITY_MATRIX
        + struct.pack(">II", 0, 0),  # width/height 16.16 (audio: 0)
    )
    trak = _box(b"trak", tkhd + mdia)
    mvhd = _fullbox(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, rate, duration)
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)
        + b"\x00" * 8
        + _UNITY_MATRIX
        + b"\x00" * 24
        + struct.pack(">I", 2),  # next_track_id
    )
    return _box(b"moov", mvhd + trak + mvex)


#: Constant per-fragment overhead of ``synthesize_fmp4``:
#: moof(8) + mfhd(16) + traf(8) + tfhd(16) + tfdt(20) + trun(20)
#: + the mdat header(8).  Pinned against real lengths in tests.
FMP4_FRAGMENT_OVERHEAD = 96


def synthesize_fmp4(data: bytes) -> bytes:
    """Deterministic FRAGMENTED ISO-BMFF (DASH/CMAF-style) audio file
    from source bytes — the same one-``twos``-PCM16-sample-per-byte
    mapping as ``synthesize_mp4``, re-laid-out as moof/mdat fragments
    of ``MP4_SAMPLES_PER_CHUNK`` samples: an empty-stbl moov whose
    mvex/trex carries the sample defaults (duration 1 tick, size 2 B),
    then per fragment a moof (mfhd sequence number, tfhd anchored
    default-base-is-moof, v1 tfdt decode time, a data-offset-only trun
    inheriting both defaults from trex) and its mdat.  Decoding it
    therefore exercises the entire trex→tfhd→trun inheritance chain
    the progressive layout never touches, while producing bit-identical
    PCM to the WAV/mp4 fixtures — which is what lets the SQL oracle
    share the audio branch's feature closed form.

    Byte size is a closed form of ``len(data)``
    (``tests/references.fmp4_n_bytes``)."""
    rate = MP4_TIMESCALE
    n = len(data)
    pcm = [(bb - 128) * 256 for bb in data]
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isom"
                + b"iso2")
    stbl = _box(
        b"stbl",
        _audio_stsd(rate)
        + _fullbox(b"stts", 0, 0, struct.pack(">I", 0))
        + _fullbox(b"stsc", 0, 0, struct.pack(">I", 0))
        + _fullbox(b"stsz", 0, 0, struct.pack(">II", 0, 0))
        + _fullbox(b"stco", 0, 0, struct.pack(">I", 0)),
    )
    mehd = _fullbox(b"mehd", 0, 0, struct.pack(">I", n))
    trex = _fullbox(
        b"trex", 0, 0, struct.pack(">5I", 1, 1, 1, 2, 0)
    )  # track 1, sdi 1, default duration 1 tick, default size 2 B
    mvex = _box(b"mvex", mehd + trex)
    parts = [ftyp, _audio_moov(rate, 0, stbl, mvex)]
    seq, t0 = 0, 0
    for frag_start in range(0, n, MP4_SAMPLES_PER_CHUNK):
        chunk = pcm[frag_start : frag_start + MP4_SAMPLES_PER_CHUNK]
        seq += 1
        mfhd = _fullbox(b"mfhd", 0, 0, struct.pack(">I", seq))
        tfhd = _fullbox(
            b"tfhd", 0, _TFHD_DEFAULT_BASE_IS_MOOF, struct.pack(">I", 1)
        )
        tfdt = _fullbox(b"tfdt", 1, 0, struct.pack(">Q", t0))
        # data_offset = moof size + mdat header, moof-start-relative;
        # the moof layout is constant so the offset is a closed form
        trun = _fullbox(
            b"trun", 0, _TRUN_DATA_OFFSET,
            struct.pack(">Ii", len(chunk), FMP4_FRAGMENT_OVERHEAD),
        )
        moof = _box(b"moof", mfhd + _box(b"traf", tfhd + tfdt + trun))
        mdat = _box(b"mdat", struct.pack(f">{len(chunk)}h", *chunk))
        parts += [moof, mdat]
        t0 += len(chunk)
    return b"".join(parts)


class Mp4Track:
    """One track's resolved metadata + sample spans."""

    __slots__ = (
        "track_id", "handler", "codec", "timescale", "duration",
        "n_samples", "channels", "sample_bits", "sample_rate", "spans",
        "chunks",
    )

    def __init__(self, **kw):
        for k in self.__slots__:
            setattr(self, k, kw.get(k))


def _mp4_boxes(payload: bytes, pos: int, end: int):
    """Yield ``(fourcc, body_start, body_end, box_start)`` for the
    sibling boxes in ``payload[pos:end]``; loud ValueError on
    truncation, malformed sizes, or a box overrunning its parent.
    ``box_start`` (round 10) is the header offset — fragmented layouts
    anchor trun data offsets to the enclosing moof's first byte, so
    the walker must know where boxes BEGIN, not just their bodies."""
    while pos < end:
        if end - pos < 8:
            raise ValueError(f"truncated box header at offset {pos}")
        (size,) = struct.unpack_from(">I", payload, pos)
        typ = payload[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize
            if end - pos < 16:
                raise ValueError(f"truncated largesize box at {pos}")
            (size,) = struct.unpack_from(">Q", payload, pos + 8)
            body = pos + 16
        elif size == 0:  # to end of enclosing scope
            size = end - pos
        if size < body - pos:
            raise ValueError(f"box {typ!r} at {pos} shorter than header")
        if pos + size > end:
            raise ValueError(
                f"box {typ!r} at {pos} overruns its container "
                f"({pos + size} > {end})"
            )
        yield typ, body, pos + size, pos
        pos += size


def _fullbox_body(payload: bytes, start: int, end: int) -> tuple[int, int, int]:
    """(version, flags, body_start) of a full box."""
    if end - start < 4:
        raise ValueError("full box too small for its version/flags word")
    (vf,) = struct.unpack_from(">I", payload, start)
    return vf >> 24, vf & 0xFFFFFF, start + 4


def _need_body(b: int, e: int, n: int, typ: bytes) -> None:
    """Minimum-body check for fixed-layout boxes (round-9 review): a
    shrunk box size makes ``unpack_from`` read past the body into the
    NEXT box's bytes with no error at all — silent garbage metadata,
    strictly worse than the struct.error the bounds-checked tables
    fixed."""
    if e - b < n:
        raise ValueError(
            f"{typ.decode('latin-1')} box body too small "
            f"({e - b} < {n} bytes)"
        )


def _parse_stbl(payload: bytes, start: int, end: int) -> dict:
    out: dict = {}
    for typ, b, e, _s in _mp4_boxes(payload, start, end):
        if typ == b"stsd":
            _v, _f, p = _fullbox_body(payload, b, e)
            # round-10 review of the round-9 review: the count word and
            # the first entry's (size, fourcc) header were unpacked
            # without checking THIS box's extent, so a shrunk stsd body
            # silently read the next box's bytes as a codec entry
            _need_body(p, e, 4, typ)
            (count,) = struct.unpack_from(">I", payload, p)
            if count >= 1:
                _need_body(p, e, 12, typ)
                (esz,) = struct.unpack_from(">I", payload, p + 4)
                fourcc = payload[p + 8 : p + 12].decode("latin-1")
                out["codec"] = fourcc
                if esz >= 36 and p + 4 + esz <= e:
                    # AudioSampleEntry layout (harmless to read for
                    # video entries — consumers gate on handler)
                    ch, bits = struct.unpack_from(">HH", payload, p + 28)
                    (rate,) = struct.unpack_from(">I", payload, p + 36)
                    out["channels"], out["sample_bits"] = ch, bits
                    out["sample_rate"] = rate >> 16
        elif typ == b"stts":
            _v, _f, p = _fullbox_body(payload, b, e)
            count = _checked_count(payload, p, e, 8, b"stts")
            ent = struct.unpack_from(f">{2 * count}I", payload, p + 4)
            out["stts"] = list(zip(ent[0::2], ent[1::2]))
        elif typ == b"stsc":
            _v, _f, p = _fullbox_body(payload, b, e)
            count = _checked_count(payload, p, e, 12, b"stsc")
            ent = struct.unpack_from(f">{3 * count}I", payload, p + 4)
            out["stsc"] = list(zip(ent[0::3], ent[1::3], ent[2::3]))
        elif typ == b"stsz":
            _v, _f, p = _fullbox_body(payload, b, e)
            _need_body(p, e, 8, typ)  # uniform+count header (round 10)
            uniform, count = struct.unpack_from(">II", payload, p)
            if uniform:
                out["sizes"] = (uniform, count)
            else:
                if p + 8 + 4 * count > e:
                    raise ValueError(
                        f"stsz promises {count} per-sample entries but "
                        "its box is too small — reading on would take "
                        "the NEXT box's bytes as sizes"
                    )
                out["sizes"] = list(
                    struct.unpack_from(f">{count}I", payload, p + 8)
                )
        elif typ in (b"stco", b"co64"):
            _v, _f, p = _fullbox_body(payload, b, e)
            width = 4 if typ == b"stco" else 8
            count = _checked_count(payload, p, e, width, typ)
            fmt = ">%d%s" % (count, "I" if typ == b"stco" else "Q")
            out["chunk_offsets"] = list(struct.unpack_from(fmt, payload, p + 4))
    return out


def _checked_count(
    payload: bytes, p: int, box_end: int, entry_bytes: int, typ: bytes
) -> int:
    """Entry count of a sample-table full box, validated against the
    box's OWN extent (round-9 review): an unchecked count either blows
    up as struct.error — escaping the loud-ValueError quarantine
    contract — or, worse, stays inside the payload and silently reads
    the NEXT box's bytes as table entries."""
    (count,) = struct.unpack_from(">I", payload, p)
    if p + 4 + entry_bytes * count > box_end:
        raise ValueError(
            f"{typ.decode('latin-1')} promises {count} entries but its "
            "box is too small to hold them"
        )
    return count


def _resolve_spans(
    stbl: dict, payload_len: int
) -> tuple[list[tuple[int, int]], list[tuple[int, int]]]:
    """stsc/stco/stsz → ``(spans, chunks)``: absolute (offset, size)
    per SAMPLE in sample order, plus per-CHUNK (offset, n_bytes)
    extents — chunk boundaries come from the stsc structure, NOT byte
    adjacency (a layout whose mdat is contiguous — like the
    synthesized fixture — has every chunk byte-adjacent to the next,
    so adjacency-merging would collapse the whole track into one
    "chunk").  Bounds-checked — T.81-grade loudness: a table promising
    bytes the file doesn't have raises instead of clamping."""
    sizes = stbl.get("sizes")
    offsets = stbl.get("chunk_offsets", [])
    runs = stbl.get("stsc", [])
    if sizes is None:
        if sum(c for c, _d in stbl.get("stts", [])) > 0:
            raise ValueError(
                "stts promises samples but the stbl has no stsz — a "
                "zero-span resolve would silently report an empty track"
            )
        return [], []
    if isinstance(sizes, tuple):
        uniform, count = sizes
        size_of = lambda i: uniform  # noqa: E731
        n_samples = count
    else:
        size_of = lambda i: sizes[i]  # noqa: E731
        n_samples = len(sizes)
    if n_samples == 0:
        return [], []
    if not runs or not offsets:
        raise ValueError("sample table has samples but no stsc/stco runs")
    # expand stsc runs: run k applies from its first_chunk until the
    # next run's first_chunk (1-based), the last until the stco end
    spans: list[tuple[int, int]] = []
    chunks: list[tuple[int, int]] = []
    si = 0
    for k, (first, per_chunk, _desc) in enumerate(runs):
        last = runs[k + 1][0] - 1 if k + 1 < len(runs) else len(offsets)
        if first < 1 or first > last:
            raise ValueError(f"stsc run {k} has invalid chunk range")
        for chunk in range(first, last + 1):
            if chunk > len(offsets):
                raise ValueError(
                    f"stsc references chunk {chunk} but stco holds only "
                    f"{len(offsets)} offsets"
                )
            off = offsets[chunk - 1]
            chunk_start, chunk_bytes = off, 0
            for _ in range(per_chunk):
                if si >= n_samples:
                    break
                sz = size_of(si)
                if off + sz > payload_len:
                    raise ValueError(
                        f"sample {si} span [{off}, {off + sz}) overruns "
                        f"the {payload_len}-byte payload"
                    )
                spans.append((off, sz))
                off += sz
                chunk_bytes += sz
                si += 1
            if chunk_bytes:
                chunks.append((chunk_start, chunk_bytes))
    if si != n_samples:
        raise ValueError(
            f"sample table resolves {si} spans but stsz promises "
            f"{n_samples} samples"
        )
    return spans, chunks


#: tfhd flag bits (ISO/IEC 14496-12 §8.8.7).
_TFHD_BASE_DATA_OFFSET = 0x000001
_TFHD_SAMPLE_DESC_IDX = 0x000002
_TFHD_DEFAULT_DURATION = 0x000008
_TFHD_DEFAULT_SIZE = 0x000010
_TFHD_DEFAULT_FLAGS = 0x000020
_TFHD_DEFAULT_BASE_IS_MOOF = 0x020000

#: trun flag bits (§8.8.8).
_TRUN_DATA_OFFSET = 0x000001
_TRUN_FIRST_SAMPLE_FLAGS = 0x000004
_TRUN_SAMPLE_DURATION = 0x000100
_TRUN_SAMPLE_SIZE = 0x000200
_TRUN_SAMPLE_FLAGS = 0x000400
_TRUN_SAMPLE_CTO = 0x000800


def _parse_tfhd(payload: bytes, b: int, e: int) -> dict:
    """Track-fragment header → ``{track_id, flags, base_data_offset?,
    default_duration?, default_size?}`` with every optional field
    bounds-checked against the box's own extent (same discipline as
    the stbl tables: a shrunk tfhd must not read the trun behind it)."""
    _v, flags, p = _fullbox_body(payload, b, e)
    need = 4  # track_id
    need += 8 if flags & _TFHD_BASE_DATA_OFFSET else 0
    need += 4 if flags & _TFHD_SAMPLE_DESC_IDX else 0
    need += 4 if flags & _TFHD_DEFAULT_DURATION else 0
    need += 4 if flags & _TFHD_DEFAULT_SIZE else 0
    need += 4 if flags & _TFHD_DEFAULT_FLAGS else 0
    _need_body(p, e, need, b"tfhd")
    out: dict = {"flags": flags}
    (out["track_id"],) = struct.unpack_from(">I", payload, p)
    p += 4
    if flags & _TFHD_BASE_DATA_OFFSET:
        (out["base_data_offset"],) = struct.unpack_from(">Q", payload, p)
        p += 8
    if flags & _TFHD_SAMPLE_DESC_IDX:
        p += 4
    if flags & _TFHD_DEFAULT_DURATION:
        (out["default_duration"],) = struct.unpack_from(">I", payload, p)
        p += 4
    if flags & _TFHD_DEFAULT_SIZE:
        (out["default_size"],) = struct.unpack_from(">I", payload, p)
        p += 4
    return out


def _parse_trun(payload: bytes, b: int, e: int) -> dict:
    """Track-fragment run → ``{count, data_offset?, sizes?, durations?}``
    (per-sample lists present only when the flag says so).  The entry
    table is validated against the box extent BEFORE any unpack —
    a trun promising more samples than its box holds is the fragmented
    layout's version of the stsz next-box-bytes trap."""
    v, flags, p = _fullbox_body(payload, b, e)
    _need_body(p, e, 4, b"trun")
    (count,) = struct.unpack_from(">I", payload, p)
    p += 4
    head = 0
    head += 4 if flags & _TRUN_DATA_OFFSET else 0
    head += 4 if flags & _TRUN_FIRST_SAMPLE_FLAGS else 0
    per = 0
    per += 4 if flags & _TRUN_SAMPLE_DURATION else 0
    per += 4 if flags & _TRUN_SAMPLE_SIZE else 0
    per += 4 if flags & _TRUN_SAMPLE_FLAGS else 0
    per += 4 if flags & _TRUN_SAMPLE_CTO else 0
    if p + head + per * count > e:
        raise ValueError(
            f"trun promises {count} samples but its box is too small "
            "to hold the entry table"
        )
    out: dict = {"count": count}
    if flags & _TRUN_DATA_OFFSET:
        (out["data_offset"],) = struct.unpack_from(">i", payload, p)
        p += 4
    if flags & _TRUN_FIRST_SAMPLE_FLAGS:
        p += 4
    if per:
        durations: list[int] = []
        sizes: list[int] = []
        for _ in range(count):
            if flags & _TRUN_SAMPLE_DURATION:
                durations.append(struct.unpack_from(">I", payload, p)[0])
                p += 4
            if flags & _TRUN_SAMPLE_SIZE:
                sizes.append(struct.unpack_from(">I", payload, p)[0])
                p += 4
            if flags & _TRUN_SAMPLE_FLAGS:
                p += 4
            if flags & _TRUN_SAMPLE_CTO:
                p += 4
        if flags & _TRUN_SAMPLE_DURATION:
            out["durations"] = durations
        if flags & _TRUN_SAMPLE_SIZE:
            out["sizes"] = sizes
    return out


def _resolve_traf(
    payload: bytes,
    b: int,
    e: int,
    moof_start: int,
    prev_traf_end: int | None,
    trex_by_id: dict,
    frags_by_id: dict,
) -> int | None:
    """Resolve one track fragment's sample spans into ``frags_by_id``
    and return the end offset of its data (the §8.8.7 base for the
    next traf when neither base flag is set).  Base-offset rules:
    explicit ``base_data_offset`` wins; else ``default-base-is-moof``
    anchors to the moof's first byte; else the first traf anchors to
    the moof and later trafs to the previous traf's data end."""
    tfhd: dict | None = None
    truns: list[dict] = []
    for typ, tb, te, _ts in _mp4_boxes(payload, b, e):
        if typ == b"tfhd":
            tfhd = _parse_tfhd(payload, tb, te)
        elif typ == b"trun":
            truns.append(_parse_trun(payload, tb, te))
        # tfdt (decode-time) and sbgp/sgpd etc.: skipped by size
    if tfhd is None:
        raise ValueError("traf box has no tfhd — track unidentifiable")
    trex = trex_by_id.get(tfhd["track_id"])
    if tfhd["flags"] & _TFHD_BASE_DATA_OFFSET:
        base = tfhd["base_data_offset"]
    elif tfhd["flags"] & _TFHD_DEFAULT_BASE_IS_MOOF:
        base = moof_start
    else:
        base = moof_start if prev_traf_end is None else prev_traf_end
    frag = frags_by_id.setdefault(
        tfhd["track_id"], {"spans": [], "chunks": [], "duration": 0}
    )
    cur: int | None = None
    for run in truns:
        if "data_offset" in run:
            cur = base + run["data_offset"]
        elif cur is None:
            cur = base
        chunk_start, chunk_bytes = cur, 0
        for i in range(run["count"]):
            if "sizes" in run:
                sz = run["sizes"][i]
            elif "default_size" in tfhd:
                sz = tfhd["default_size"]
            elif trex is not None:
                sz = trex["default_size"]
            else:
                raise ValueError(
                    f"fragment of track {tfhd['track_id']} has no "
                    "sample size anywhere (trun/tfhd/trex)"
                )
            if "durations" in run:
                dur = run["durations"][i]
            elif "default_duration" in tfhd:
                dur = tfhd["default_duration"]
            elif trex is not None:
                dur = trex["default_duration"]
            else:
                # duration is metadata, not data placement — a file
                # that resolves spans but not timing still parses
                dur = 0
            if cur < 0 or cur + sz > len(payload):
                raise ValueError(
                    f"fragment sample span [{cur}, {cur + sz}) falls "
                    f"outside the {len(payload)}-byte payload"
                )
            frag["spans"].append((cur, sz))
            frag["duration"] += dur
            cur += sz
            chunk_bytes += sz
        if chunk_bytes:
            frag["chunks"].append((chunk_start, chunk_bytes))
    return cur if cur is not None else prev_traf_end


def parse_mp4(payload: bytes) -> dict:
    """General ISO-BMFF parse → ``{major_brand, timescale, duration,
    tracks: [Mp4Track]}`` with every track's sample spans resolved —
    progressive (moov-resident stsc/stco/stsz tables) AND fragmented
    (round 10: moof/traf/trun with tfhd/trex default inheritance, the
    DASH/CMAF layout).  Unknown boxes are skipped by size (the
    ISO-BMFF forward-compat contract); structural damage — truncated
    headers, overrunning boxes, sample tables pointing outside the
    file — raises ValueError (the quarantine-routable contract every
    parser in this package shares)."""
    if len(payload) < 8:
        raise ValueError("not an ISO-BMFF file: shorter than one box header")
    out: dict = {"major_brand": None, "timescale": None, "duration": None,
                 "tracks": []}
    trex_by_id: dict = {}
    mehd_duration: int | None = None
    moofs: list[tuple[int, int, int]] = []  # (moof_start, body, end)

    def walk(pos: int, end: int, track: dict | None) -> None:
        nonlocal mehd_duration
        for typ, b, e, s in _mp4_boxes(payload, pos, end):
            if typ == b"moof":
                # resolved AFTER the moov walk — fragments reference
                # tracks by id, and moof may legally precede moov
                moofs.append((s, b, e))
            elif typ == b"mvex":
                walk(b, e, track)
            elif typ == b"trex":
                _v, _f, p = _fullbox_body(payload, b, e)
                _need_body(p, e, 20, typ)
                tid, _sdi, ddur, dsz, _dfl = struct.unpack_from(
                    ">5I", payload, p
                )
                trex_by_id[tid] = {
                    "default_duration": ddur, "default_size": dsz
                }
            elif typ == b"mehd":
                v, _f, p = _fullbox_body(payload, b, e)
                _need_body(p, e, 8 if v == 1 else 4, typ)
                (mehd_duration,) = struct.unpack_from(
                    ">Q" if v == 1 else ">I", payload, p
                )
            elif typ == b"ftyp":
                out["major_brand"] = payload[b : b + 4].decode("latin-1")
            elif typ == b"mvhd":
                v, _f, p = _fullbox_body(payload, b, e)
                _need_body(p, e, 28 if v == 1 else 16, typ)
                if v == 1:
                    ts, dur = struct.unpack_from(">IQ", payload, p + 16)
                else:
                    ts, dur = struct.unpack_from(">II", payload, p + 8)
                out["timescale"], out["duration"] = ts, dur
            elif typ == b"trak":
                t: dict = {}
                walk(b, e, t)
                stbl = t.get("stbl", {})
                out["tracks"].append(
                    Mp4Track(
                        track_id=t.get("track_id"),
                        handler=t.get("handler"),
                        codec=stbl.get("codec"),
                        timescale=t.get("timescale"),
                        duration=t.get("duration"),
                        n_samples=len(t.get("spans", [])),
                        channels=stbl.get("channels"),
                        sample_bits=stbl.get("sample_bits"),
                        sample_rate=stbl.get("sample_rate"),
                        spans=t.get("spans", []),
                        chunks=t.get("chunks", []),
                    )
                )
            elif typ == b"tkhd" and track is not None:
                v, _f, p = _fullbox_body(payload, b, e)
                _need_body(p, e, 20 if v == 1 else 12, typ)
                track["track_id"] = struct.unpack_from(
                    ">I", payload, p + (16 if v == 1 else 8)
                )[0]
            elif typ == b"mdhd" and track is not None:
                v, _f, p = _fullbox_body(payload, b, e)
                _need_body(p, e, 28 if v == 1 else 16, typ)
                if v == 1:
                    ts, dur = struct.unpack_from(">IQ", payload, p + 16)
                else:
                    ts, dur = struct.unpack_from(">II", payload, p + 8)
                track["timescale"], track["duration"] = ts, dur
            elif typ == b"hdlr" and track is not None:
                _v, _f, p = _fullbox_body(payload, b, e)
                _need_body(p, e, 8, typ)
                track["handler"] = payload[p + 4 : p + 8].decode("latin-1")
            elif typ == b"stbl" and track is not None:
                stbl = _parse_stbl(payload, b, e)
                track["stbl"] = stbl
                track["spans"], track["chunks"] = _resolve_spans(
                    stbl, len(payload)
                )
            elif typ in _MP4_CONTAINERS:
                walk(b, e, track)
            # anything else: skip by size

    try:
        walk(0, len(payload), None)
        # fragment pass: every moof's trafs resolve against the moov
        # tracks (by id) and the mvex trex defaults collected above
        frags_by_id: dict = {}
        for moof_start, body, end in moofs:
            prev_traf_end: int | None = None
            for typ, b, e, _s in _mp4_boxes(payload, body, end):
                if typ == b"traf":
                    prev_traf_end = _resolve_traf(
                        payload, b, e, moof_start, prev_traf_end,
                        trex_by_id, frags_by_id,
                    )
                # mfhd (sequence number) and pssh etc.: skipped by size
    except struct.error as ex:
        # belt and braces under the per-table bounds checks: ANY fixed
        # header short-read is structural damage, and the quarantine
        # contract is ValueError (round-9 review)
        raise ValueError(f"malformed ISO-BMFF structure: {ex}") from None
    if out["major_brand"] is None:
        raise ValueError("ISO-BMFF file has no ftyp box")
    tracks_by_id = {t.track_id: t for t in out["tracks"]}
    for tid, frag in frags_by_id.items():
        t = tracks_by_id.get(tid)
        if t is None:
            raise ValueError(
                f"moof references track {tid} but no moov trak defines "
                "it (init segment missing or id mismatch)"
            )
        t.spans = list(t.spans) + frag["spans"]
        t.chunks = list(t.chunks) + frag["chunks"]
        t.n_samples = len(t.spans)
        # fragmented tracks conventionally carry mdhd duration 0; the
        # real duration is the sum of fragment sample durations
        if not t.duration and frag["duration"]:
            t.duration = frag["duration"]
    if not out["duration"] and mehd_duration:
        out["duration"] = mehd_duration
    return out


def _first_audio_track(parsed: dict) -> Mp4Track:
    for t in parsed["tracks"]:
        if t.handler == "soun":
            return t
    raise ValueError("mp4 has no audio ('soun') track")


def _pcm16_track_samples(payload: bytes) -> tuple[Mp4Track, tuple[int, ...]]:
    """The ONE span-concat → PCM16-unpack path (round-9 review: decode
    and resample each carried a copy; a validation fixed in one would
    silently miss the other).  Compressed codecs raise
    NotImplementedError naming the fourcc — the honest codec-library
    seam; the CONTAINER parse stays real for them (``parse_mp4``
    works on any codec)."""
    t = _first_audio_track(parse_mp4(payload))
    if t.codec not in _PCM16_FOURCC:
        raise NotImplementedError(
            f"mp4 codec {t.codec!r} requires codec libraries not present "
            "in this environment (container metadata and frame spans are "
            "still available via parse_mp4)"
        )
    if t.sample_bits != 16 or t.channels != 1:
        raise ValueError(
            f"expected PCM16 mono, got bits={t.sample_bits} "
            f"channels={t.channels}"
        )
    raw = b"".join(payload[o : o + s] for o, s in t.spans)
    if len(raw) % 2:
        # keep the quarantine-routable ValueError contract — a bare
        # struct.error here would bypass callers catching ValueError
        raise ValueError(
            f"PCM16 track resolves to an odd byte count ({len(raw)})"
        )
    fmt = _PCM16_FOURCC[t.codec]
    return t, struct.unpack(f"{fmt}{len(raw) // 2}h", raw)


def decode_mp4(payload: bytes) -> list[float]:
    """REAL sample decode through the mp4 sample table for
    uncompressed PCM16 codecs (``twos``/``sowt``): concatenates the
    resolved sample spans, unpacks at the fourcc's endianness, and
    emits the same 8-feature vector as ``multimodal.decode_wav`` —
    [n_samples, rate, min, max, first, last, Σ|s| mod 9973, #positive].
    """
    from mapreduce_framework_for_mergesort_spark.sources.multimodal import (
        AUDIO_SUM_MOD,
        FEATURE_DIM,
    )

    t, samples = _pcm16_track_samples(payload)
    n = len(samples)
    if not samples:
        return [0.0] * FEATURE_DIM
    rate = t.timescale or 0
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


def mp4_frames(payload: bytes) -> list[bytes]:
    """Chunk-level frame extraction, each unit RE-ENCODED as a
    standalone decodable mp4 at the SOURCE track's rate, PCM-exact
    (the invariant every modality's ``frame_stub`` branch keeps:
    emitted frames are themselves valid inputs to the decoder, and —
    round-9 review — re-encoding through ``_encode_mp4_pcm`` rather
    than the byte domain keeps samples that are not multiples of 256
    bit-exact).  Only meaningful for the PCM codecs the re-encoder
    speaks; compressed codecs raise NotImplementedError (``parse_mp4``
    still yields the raw sample spans)."""
    t = _first_audio_track(parse_mp4(payload))
    if t.codec not in _PCM16_FOURCC:
        raise NotImplementedError(
            f"standalone re-encode of mp4 codec {t.codec!r} requires "
            "codec libraries; parse_mp4 still yields raw spans"
        )
    fmt = _PCM16_FOURCC[t.codec]
    out = []
    for off, sz in t.chunks:
        if sz % 2:
            raise ValueError(
                f"PCM16 chunk at {off} has an odd byte count ({sz})"
            )
        vals = struct.unpack(f"{fmt}{sz // 2}h", payload[off : off + sz])
        out.append(_encode_mp4_pcm(list(vals), t.timescale or MP4_TIMESCALE))
    return out


# ---------------------------------------------------------------------------
# MP3 / MPEG audio framing
# ---------------------------------------------------------------------------

#: kbit/s by (layer, bitrate_index) for MPEG-1 (ISO 11172-3 table);
#: index 0 is "free format" and 15 is forbidden — both rejected loudly.
_MP3_BITRATES = {
    1: [None, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
    2: [None, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
    3: [None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
}

_MP3_SAMPLERATES = [44100, 48000, 32000]  # MPEG-1; index 3 reserved

_MP3_SAMPLES_PER_FRAME = {1: 384, 2: 1152, 3: 1152}

#: Synthesis constants: MPEG-1 Layer III, 64 kbit/s @ 32 kHz → frame
#: length 144·64000/32000 = 288 exactly, padding never needed, so the
#: SQL oracle's size formula has no per-frame conditional.
MP3_FRAME_LEN = 288
MP3_FRAME_PAYLOAD = MP3_FRAME_LEN - 4
_MP3_SYNTH_HEADER = bytes([0xFF, 0xFB, 0x58, 0xC4])

#: Fixed ID3v2.4 tag the synthesizer prepends (10-byte header + 22
#: bytes of padding body) — exists so the parser's synchsafe skip is on
#: the hot path of every fixture, not just an adversarial test.
_ID3_BODY_LEN = 22
MP3_ID3_LEN = 10 + _ID3_BODY_LEN


def _synchsafe(n: int) -> bytes:
    return bytes(
        [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
    )


def synthesize_mp3(data: bytes) -> bytes:
    """Deterministic MPEG-1 Layer III FRAMING from source bytes: a
    fixed ID3v2.4 tag, then ``ceil(len/284)`` 288-byte frames whose
    4-byte headers are spec-valid (sync/version/layer/bitrate/
    samplerate) and whose payload region carries the source bytes
    (zero-padded tail).  The payload is FRAMING-real but not
    Layer-III-entropy-real — exactly the layer this module implements
    (``sources/layer3.py`` decodes the spectral layer), and the parser
    works identically on real mp3 files."""
    n = len(data)
    n_frames = -(-n // MP3_FRAME_PAYLOAD)
    tag = b"ID3\x04\x00\x00" + _synchsafe(_ID3_BODY_LEN) + b"\x00" * _ID3_BODY_LEN
    frames = []
    for i in range(n_frames):
        chunk = data[i * MP3_FRAME_PAYLOAD : (i + 1) * MP3_FRAME_PAYLOAD]
        frames.append(
            _MP3_SYNTH_HEADER + chunk.ljust(MP3_FRAME_PAYLOAD, b"\x00")
        )
    return tag + b"".join(frames)


def _id3v2_len(payload: bytes) -> int:
    """Bytes occupied by a leading ID3v2 tag (0 when absent):
    10-byte header + synchsafe size (+10 footer when flagged)."""
    if payload[:3] != b"ID3" or len(payload) < 10:
        return 0
    if payload[3] == 0xFF or payload[4] == 0xFF:
        raise ValueError("invalid ID3v2 version bytes")
    flags = payload[5]
    if any(b & 0x80 for b in payload[6:10]):
        raise ValueError("ID3v2 size bytes must be synchsafe")
    size = (
        (payload[6] << 21) | (payload[7] << 14) | (payload[8] << 7) | payload[9]
    )
    return 10 + size + (10 if flags & 0x10 else 0)


def parse_mp3(payload: bytes) -> dict:
    """MPEG audio frame walk → ``{id3_bytes, frames: [(offset, length)],
    version, layer, bitrate, samplerate, samples_per_frame,
    duration_ms}``.  Each frame header is validated against the spec
    tables (MPEG-1 layers I–III; free-format and reserved indices are
    loud errors) and the walk advances by the COMPUTED frame length —
    the standard `144·bitrate/samplerate (+ padding)` arithmetic — so a
    byte of garbage between frames fails with its offset instead of a
    silent resync (curation wants corrupt files routed to quarantine,
    not skipped over).  A trailing 128-byte ID3v1 ``TAG`` block is
    recognized and skipped.  VBR streams are fine (bitrate may vary
    per frame; the reported ``bitrate`` is the first frame's, and
    ``duration_ms`` sums per-frame sample counts)."""
    pos = _id3v2_len(payload)
    if pos > len(payload):
        raise ValueError("ID3v2 tag promises more bytes than the file has")
    id3_bytes = pos
    frames: list[tuple[int, int]] = []
    first: dict = {}
    total_samples = 0
    samplerate = None
    while pos < len(payload):
        if payload[pos : pos + 3] == b"TAG" and len(payload) - pos == 128:
            break  # ID3v1 trailer
        if len(payload) - pos < 4:
            raise ValueError(
                f"trailing garbage at offset {pos}: too short for a frame "
                "header"
            )
        b0, b1, b2, _b3 = payload[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            raise ValueError(f"lost MPEG frame sync at offset {pos}")
        version = (b1 >> 3) & 0x03
        if version != 3:
            raise ValueError(
                f"only MPEG-1 supported, got version bits {version:02b} "
                f"at offset {pos}"
            )
        layer = 4 - ((b1 >> 1) & 0x03)
        if layer == 4:
            raise ValueError(f"reserved layer bits at offset {pos}")
        br_idx, sr_idx = b2 >> 4, (b2 >> 2) & 0x03
        if br_idx == 0:
            raise ValueError(f"free-format bitrate at offset {pos}")
        if br_idx == 15:
            raise ValueError(f"forbidden bitrate index at offset {pos}")
        if sr_idx == 3:
            raise ValueError(f"reserved samplerate index at offset {pos}")
        bitrate = _MP3_BITRATES[layer][br_idx] * 1000
        sr = _MP3_SAMPLERATES[sr_idx]
        padding = (b2 >> 1) & 1
        if layer == 1:
            flen = (12 * bitrate // sr + padding) * 4
        else:
            flen = 144 * bitrate // sr + padding
        if pos + flen > len(payload):
            raise ValueError(
                f"frame at offset {pos} promises {flen} bytes, file ends "
                f"{len(payload) - pos} bytes later"
            )
        if samplerate is not None and sr != samplerate:
            raise ValueError(
                f"samplerate changed mid-stream at offset {pos} "
                f"({samplerate} -> {sr})"
            )
        samplerate = sr
        if not frames:
            first = {"version": "MPEG1", "layer": layer, "bitrate": bitrate}
        frames.append((pos, flen))
        total_samples += _MP3_SAMPLES_PER_FRAME[layer]
        pos += flen
    return {
        "id3_bytes": id3_bytes,
        "frames": frames,
        "version": first.get("version"),
        "layer": first.get("layer"),
        "bitrate": first.get("bitrate"),
        "samplerate": samplerate,
        "samples_per_frame": (
            _MP3_SAMPLES_PER_FRAME[first["layer"]] if frames else None
        ),
        # per-frame sum, NOT n_frames x first frame's constant: the
        # layer may legally vary mid-stream (round-9 review — the
        # metadata projection must agree with this walk, not rederive)
        "total_samples": total_samples,
        "duration_ms": (
            (total_samples * 1000) // samplerate if samplerate else 0
        ),
    }


def mp3_frames(payload: bytes) -> list[bytes]:
    """Byte-delimited frame extraction (header + data per frame) —
    real container-level sampling.  Caveat documented rather than
    hidden: Layer III's bit reservoir means a frame's entropy payload
    may reference bytes from PRIOR frames, so an extracted frame is a
    valid framing unit but not always independently codec-decodable;
    sampling pipelines use these spans for byte-range reads, not
    standalone playback."""
    parsed = parse_mp3(payload)
    return [payload[o : o + ln] for o, ln in parsed["frames"]]


# ---------------------------------------------------------------------------
# Spark plumbing
# ---------------------------------------------------------------------------

PARSE_AUDIT_SCHEMA = (
    "doc_id bigint, modality string, payload binary, "
    "meta_mime string, meta_n_bytes bigint, "
    "parse_ok boolean, parse_err string"
)


def audit_payload_parses(binarized: DataFrame) -> DataFrame:
    """Corrupt-payload quarantine router (round 9): re-parse every
    payload with its modality's REAL parser inside one Arrow pass and
    tag the row ``(parse_ok, parse_err)`` instead of letting the first
    malformed byte kill the job — at 100 TB some fraction of any real
    corpus IS corrupt, and the difference between "task retries until
    the stage dies" and "137 quarantined rows with reasons in a side
    table" is this operator.  Built on the package-wide loudness
    contract: every parser raises ``ValueError`` on structural damage
    (that contract is exactly what makes try/except routing sound), and
    ``NotImplementedError`` — a codec seam, not corruption — tags rows
    ``parse_ok = true`` with the seam recorded in ``parse_err`` — but
    ONLY for modalities whose container structure really was validated
    first.  (Fragmented mp4 graduated out of this class in round 10:
    ``parse_mp4`` now walks moof/trun tables for real, so a truncated
    fragment is plain corruption, not a seam — closing the round-9
    advice that a corrupt fragmented file could pass the audit behind
    a seam tag its validation never earned.)
    A modality this engine has NO parser for is ``parse_ok = false``:
    tagging it a "seam" would claim a validation that never ran
    (round-9 review).  Callers ``filter("parse_ok")`` for the clean
    feed and write the negation to the quarantine path; no shuffle
    either way."""
    from mapreduce_framework_for_mergesort_spark.sources.multimodal import (
        decode_stub,
    )

    # modalities whose NotImplementedError means "container validated,
    # entropy decode needs a codec library"; every listed parse
    # validates the full container before any seam can fire (mp4's
    # walker no longer raises NIE at all — both layouts parse);
    # decode_stub's unknown-modality fallthrough is NOT here
    seam_ok = {"mp4", "fmp4", "mp3", "audio", "image", "png", "jpeg",
               "jpeg_color", "video", "text"}

    def audit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ok, err = [], []
            for p, m in zip(pdf["payload"], pdf["modality"]):
                try:
                    if m in ("mp4", "fmp4"):
                        parse_mp4(bytes(p))
                    elif m == "mp3":
                        parse_mp3(bytes(p))
                    else:
                        decode_stub(bytes(p), m)
                    ok.append(True)
                    err.append(None)
                except (ValueError, struct.error) as ex:
                    # struct.error: a parser edge that short-reads a
                    # fixed header before its own validation fires is
                    # still corruption — the router must not die on it
                    # (round-9 review)
                    ok.append(False)
                    err.append(str(ex)[:500])
                except NotImplementedError as ex:
                    if m in seam_ok:
                        ok.append(True)
                        err.append(f"codec seam: {str(ex)[:200]}")
                    else:
                        ok.append(False)
                        err.append(
                            f"no parser for modality {m!r}: {str(ex)[:200]}"
                        )
            out = pdf.copy()
            out["parse_ok"] = ok
            out["parse_err"] = err
            yield out

    return binarized.mapInPandas(audit, PARSE_AUDIT_SCHEMA)


#: Fixed skeleton size: every box except the per-sample tables.
MP4_EMPTY = len(synthesize_mp4(b""))
FMP4_EMPTY = len(synthesize_fmp4(b""))
