"""MP4 (ISO-BMFF) and MP3 (MPEG audio) container-layer tests — round 9.

Four layers, mirroring the JPEG test strategy:

1. synth→parse round trips with closed-form size/count/duration pins
   (incl. Hypothesis over arbitrary byte payloads);
2. INDEPENDENT fixtures the synthesizer cannot produce — a
   hand-assembled mp4 with moov-first layout, per-sample stsz table,
   co64 offsets, a 64-bit ``largesize`` box, and an unknown box to
   skip — so the parser is pinned against the spec, not against its
   own encoder;
3. adversarial corruption: every malformed input fails LOUDLY
   (ValueError, or NotImplementedError only at the codec seam);
4. Spark plumbing: the corrupt-payload audit and the
   ``decode_stub``/``frame_stub`` dispatch.
"""

from __future__ import annotations

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mapreduce_framework_for_mergesort_spark.sources import containers as C
from mapreduce_framework_for_mergesort_spark.sources import multimodal as M
from tests import references as R


def _chunk_spans(payload: bytes) -> list[tuple[int, int]]:
    """(offset, n_bytes) per chunk of the first audio track."""
    return C._first_audio_track(C.parse_mp4(payload)).chunks

# ---------------------------------------------------------------------------
# 1. synth → parse round trips
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "n", [0, 1, 2, 15, 16, 17, 31, 32, 255, 284, 285, 1000]
)
def test_mp4_round_trip_closed_forms(n):
    data = bytes((7 * i + 3) % 256 for i in range(n))
    p = C.synthesize_mp4(data)
    assert len(p) == R.mp4_n_bytes(n)
    parsed = C.parse_mp4(p)
    assert parsed["major_brand"] == "isom"
    assert parsed["timescale"] == C.MP4_TIMESCALE
    assert parsed["duration"] == n
    t = C._first_audio_track(parsed)
    assert (t.codec, t.handler) == ("twos", "soun")
    assert (t.channels, t.sample_bits, t.sample_rate) == (1, 16, 8000)
    assert t.n_samples == n and t.duration == n
    n_chunks = -(-n // C.MP4_SAMPLES_PER_CHUNK) if n else 0
    assert len(t.chunks) == n_chunks
    # every sample span points at exactly its PCM bytes
    for i, (off, sz) in enumerate(t.spans):
        assert sz == 2
        (v,) = struct.unpack(">h", p[off : off + 2])
        assert v == (data[i] - 128) * 256


def test_mp4_chunk_boundaries_from_stsc_not_adjacency():
    # the synthesized mdat is one contiguous run — if chunk extents
    # were derived by merging byte-adjacent spans, this would collapse
    # to a single chunk (the round-9 self-review bug)
    p = C.synthesize_mp4(bytes(range(40)))
    chunks = _chunk_spans(p)
    assert [sz for _o, sz in chunks] == [32, 32, 16]
    assert chunks[1][0] == chunks[0][0] + 32  # adjacent yet distinct


def test_mp4_decode_equals_wav_decode():
    for data in (b"", b"a", b"hello world", bytes(range(256)) * 2):
        assert C.decode_mp4(C.synthesize_mp4(data)) == M.decode_wav(
            M.synthesize_wav(data)
        )


def test_mp4_frames_standalone_decodable():
    data = bytes((3 * i) % 256 for i in range(37))
    frames = C.mp4_frames(C.synthesize_mp4(data))
    assert len(frames) == 3
    for i, f in enumerate(frames):
        lo = 16 * i
        hi = min(lo + 16, len(data))
        feats = C.decode_mp4(f)
        assert feats[0] == hi - lo
        assert feats[4] == (data[lo] - 128) * 256
        assert feats[5] == (data[hi - 1] - 128) * 256


@settings(max_examples=40, deadline=None)
@given(st.binary(max_size=600))
def test_mp4_property_round_trip(data):
    p = C.synthesize_mp4(data)
    assert len(p) == R.mp4_n_bytes(len(data))
    t = C._first_audio_track(C.parse_mp4(p))
    assert t.n_samples == len(data)
    assert sum(sz for _o, sz in t.chunks) == 2 * len(data)
    feats = C.decode_mp4(p)
    if data:
        assert feats[0] == len(data)
        assert feats[4] == (data[0] - 128) * 256


@pytest.mark.parametrize("n", [0, 1, 283, 284, 285, 568, 569, 2000])
def test_mp3_round_trip_closed_forms(n):
    data = bytes((11 * i + 5) % 256 for i in range(n))
    m = C.synthesize_mp3(data)
    assert len(m) == R.mp3_n_bytes(n)
    parsed = C.parse_mp3(m)
    nf = -(-n // C.MP3_FRAME_PAYLOAD) if n else 0
    assert parsed["id3_bytes"] == C.MP3_ID3_LEN
    assert len(parsed["frames"]) == nf
    if n:
        assert parsed["version"] == "MPEG1"
        assert parsed["layer"] == 3
        assert parsed["bitrate"] == 64000
        assert parsed["samplerate"] == 32000
        assert parsed["samples_per_frame"] == 1152
        assert parsed["duration_ms"] == nf * 36  # 1152/32000 s exactly
        frames = C.mp3_frames(m)
        assert all(len(f) == C.MP3_FRAME_LEN for f in frames)
        # payload bytes land where the spans say
        assert frames[0][4 : 4 + min(n, 284)] == data[: min(n, 284)]
    else:
        assert parsed["duration_ms"] == 0


@settings(max_examples=40, deadline=None)
@given(st.binary(max_size=1200))
def test_mp3_property_round_trip(data):
    m = C.synthesize_mp3(data)
    parsed = C.parse_mp3(m)
    assert len(m) == R.mp3_n_bytes(len(data))
    # frames tile the file exactly: ID3, then back-to-back frames
    pos = parsed["id3_bytes"]
    for off, ln in parsed["frames"]:
        assert off == pos
        pos += ln
    assert pos == len(m)


# ---------------------------------------------------------------------------
# 2. independent fixtures (layouts the synthesizer never emits)
# ---------------------------------------------------------------------------


def _b(typ: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + typ + body


def _fb(typ: bytes, ver: int, flags: int, body: bytes) -> bytes:
    return _b(typ, struct.pack(">I", (ver << 24) | flags) + body)


def _handmade_mp4() -> tuple[bytes, list[int]]:
    """moov-FIRST layout, per-sample stsz table with VARYING sizes,
    co64 64-bit chunk offsets, an unknown ``free`` box mid-file, and a
    ``largesize`` mdat — five things ``synthesize_mp4`` never
    produces.  Two chunks: samples [s0, s1] then [s2]; sizes 2/4/2
    bytes (PCM16 sample, then a 2-sample run, then a sample) — sowt
    (little-endian) this time."""
    samples = [100, -200, 300, 50]  # s1 carries two PCM16 values
    pcm = struct.pack("<4h", *samples)
    ftyp = _b(b"ftyp", b"iso2" + struct.pack(">I", 0) + b"iso2")
    entry = (
        struct.pack(">I", 36)
        + b"sowt"
        + b"\x00" * 6
        + struct.pack(">H", 1)
        + b"\x00" * 8
        + struct.pack(">HHHH", 1, 16, 0, 0)
        + struct.pack(">I", 22050 << 16)
    )
    stsd = _fb(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
    stts = _fb(b"stts", 0, 0, struct.pack(">III", 1, 3, 1))
    stsc = _fb(
        b"stsc", 0, 0,
        struct.pack(">I", 2)
        + struct.pack(">III", 1, 2, 1)
        + struct.pack(">III", 2, 1, 1),
    )
    stsz = _fb(
        b"stsz", 0, 0, struct.pack(">II", 0, 3) + struct.pack(">3I", 2, 4, 2)
    )
    # chunk offsets refer into the largesize mdat at the file tail;
    # computed after the fixed prefix is known (filled below)
    co64_placeholder = _fb(b"co64", 0, 0, struct.pack(">IQQ", 2, 0, 0))
    stbl = _b(b"stbl", stsd + stts + stsc + stsz + co64_placeholder)
    url = _fb(b"url ", 0, 1, b"")
    dinf = _b(b"dinf", _fb(b"dref", 0, 0, struct.pack(">I", 1) + url))
    minf = _b(b"minf", _fb(b"smhd", 0, 0, b"\x00" * 4) + dinf + stbl)
    hdlr = _fb(b"hdlr", 0, 0, b"\x00" * 4 + b"soun" + b"\x00" * 12 + b"h\x00")
    mdhd = _fb(b"mdhd", 0, 0, struct.pack(">IIIIHH", 0, 0, 22050, 4, 0, 0))
    mdia = _b(b"mdia", mdhd + hdlr + minf)
    tkhd = _fb(
        b"tkhd", 1, 7,
        struct.pack(">QQIIQ", 0, 0, 9, 0, 4)  # version-1 path: 64-bit times
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0x0100, 0)
        + b"\x00" * 36
        + struct.pack(">II", 0, 0),
    )
    trak = _b(b"trak", tkhd + mdia)
    mvhd = _fb(
        b"mvhd", 1, 0,
        struct.pack(">QQIQ", 0, 0, 22050, 4)  # version-1: 64-bit duration
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)
        + b"\x00" * 8
        + b"\x00" * 36
        + b"\x00" * 24
        + struct.pack(">I", 2),
    )
    moov = _b(b"moov", mvhd + trak)
    free = _b(b"free", b"opaque-padding")
    prefix = ftyp + moov + free
    # largesize mdat: size field 1, 64-bit size after the fourcc
    mdat = struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16 + len(pcm)) + pcm
    data_start = len(prefix) + 16
    offsets = [data_start, data_start + 6]  # chunk 2 = sample s3 (2 bytes)
    blob = prefix + mdat
    fixed = blob.replace(
        _fb(b"co64", 0, 0, struct.pack(">IQQ", 2, 0, 0)),
        _fb(b"co64", 0, 0, struct.pack(">IQQ", 2, *offsets)),
    )
    assert len(fixed) == len(blob)
    return fixed, samples


def test_handmade_mp4_parses_and_decodes():
    payload, samples = _handmade_mp4()
    parsed = C.parse_mp4(payload)
    assert parsed["major_brand"] == "iso2"
    assert parsed["timescale"] == 22050 and parsed["duration"] == 4
    t = C._first_audio_track(parsed)
    assert t.codec == "sowt" and t.track_id == 9
    assert t.sample_rate == 22050 and t.timescale == 22050
    assert t.n_samples == 3  # 3 STSZ samples (one carries 2 PCM values)
    assert [sz for _o, sz in t.spans] == [2, 4, 2]
    assert [sz for _o, sz in t.chunks] == [6, 2]
    feats = C.decode_mp4(payload)
    assert feats[0] == 4  # PCM values, not stsz rows
    assert feats[1] == 22050
    assert feats[4] == samples[0] and feats[5] == samples[-1]
    assert feats[2] == min(samples) and feats[3] == max(samples)


def test_handmade_mp4_frames_are_pcm_exact():
    # the handmade track carries PCM values that are NOT multiples of
    # 256 — a re-encode through the byte domain would corrupt them
    # (the round-9 self-review bug); frames must round-trip bit-exact
    # and carry the SOURCE rate
    payload, samples = _handmade_mp4()
    frames = C.mp4_frames(payload)
    assert len(frames) == 2  # two stsc/stco chunks
    got = []
    for f in frames:
        t = C._first_audio_track(C.parse_mp4(f))
        assert t.timescale == 22050  # source rate preserved
        raw = b"".join(f[o : o + s] for o, s in t.spans)
        got += list(struct.unpack(f">{len(raw) // 2}h", raw))
    assert got == samples


def test_handmade_mp3_vbr_and_id3v1():
    """A VBR stream (per-frame bitrate varies) with no ID3v2 tag but an
    ID3v1 trailer — neither produced by the synthesizer."""
    # MPEG1 L3 @44100: idx9=128k -> 144*128000/44100 = 417 (+pad)
    h1 = bytes([0xFF, 0xFB, 0x90 | 0x02, 0xC4])  # 128k, 44100, pad=1 -> 418
    f1 = h1 + b"\x01" * (418 - 4)
    h2 = bytes([0xFF, 0xFB, 0x50 | 0x00, 0xC4])  # idx5=64k -> 208, pad=0
    f2 = h2 + b"\x02" * (208 - 4)
    tail = b"TAG" + b"\x00" * 125
    parsed = C.parse_mp3(f1 + f2 + tail)
    assert parsed["id3_bytes"] == 0
    assert [ln for _o, ln in parsed["frames"]] == [418, 208]
    assert parsed["bitrate"] == 128000  # first frame's
    assert parsed["samplerate"] == 44100
    assert parsed["duration_ms"] == (2 * 1152 * 1000) // 44100


def test_mp3_layer2_frames_parse():
    # Layer II: same 144·br/sr arithmetic, different bitrate table
    # (idx1 = 32k @ 32000 -> 144 bytes), samples_per_frame still 1152
    h = bytes([0xFF, 0xFD, 0x10 | 0x08, 0xC4])  # L2, 32k, 32000
    frame = h + b"\x00" * (144 - 4)
    parsed = C.parse_mp3(frame * 3)
    assert parsed["layer"] == 2
    assert len(parsed["frames"]) == 3
    assert parsed["duration_ms"] == (3 * 1152 * 1000) // 32000


# ---------------------------------------------------------------------------
# 3. adversarial corruption — loud, never silent
# ---------------------------------------------------------------------------


def test_mp4_corruption_is_loud():
    p = C.synthesize_mp4(b"hello world, mp4")
    with pytest.raises(ValueError, match="overruns"):
        C.parse_mp4(p[:-3])  # truncated tail
    bad = bytearray(p)
    bad[0:4] = struct.pack(">I", len(p) + 64)  # ftyp promises too much
    with pytest.raises(ValueError, match="overruns"):
        C.parse_mp4(bytes(bad))
    with pytest.raises(ValueError, match="box header"):
        C.parse_mp4(p + b"\xff\xff\xff")  # trailing garbage header
    with pytest.raises(ValueError, match="ftyp"):
        C.parse_mp4(_b(b"free", b"no-ftyp-here"))
    with pytest.raises(ValueError, match="shorter than one box"):
        C.parse_mp4(b"\x00\x00")
    # stco pointing past EOF: patch the first chunk offset huge
    idx = p.index(b"stco")
    bad = bytearray(p)
    struct.pack_into(">I", bad, idx + 12, len(p) + 1000)
    with pytest.raises(ValueError, match="overruns the"):
        C.parse_mp4(bytes(bad))
    # stsz promising more samples than stsc/stco chunks can hold
    idx = p.index(b"stsz")
    bad = bytearray(p)
    struct.pack_into(">I", bad, idx + 12, 10_000)  # sample_count field
    with pytest.raises(ValueError, match="promises"):
        C.parse_mp4(bytes(bad))


def test_mp4_corrupt_table_counts_are_valueerror_not_struct_error():
    """Round-9 review: a corrupted entry count either blew up as
    struct.error (escaping the ValueError quarantine contract) or —
    when the over-read stayed inside the payload — silently consumed
    the NEXT box's bytes as table entries.  Every sample table's count
    is now validated against its OWN box extent."""
    p = C.synthesize_mp4(b"hello world, tables")
    for four, field_off in ((b"stts", 8), (b"stsc", 8), (b"stco", 8)):
        bad = bytearray(p)
        struct.pack_into(">I", bad, p.index(four) + field_off, 0x00FFFFFF)
        with pytest.raises(ValueError, match="promises .* entries"):
            C.parse_mp4(bytes(bad))
    # stsz per-sample form with an overrunning count: flip uniform->0
    # and claim more entries than the box holds
    bad = bytearray(p)
    i = p.index(b"stsz")
    struct.pack_into(">II", bad, i + 8, 0, 0x00FFFFFF)
    with pytest.raises(ValueError, match="stsz promises"):
        C.parse_mp4(bytes(bad))
    # stsc referencing chunks stco doesn't have is loud, not IndexError
    bad = bytearray(p)
    i = p.index(b"stsc")
    struct.pack_into(">I", bad, i + 12, 200)  # first run's first_chunk
    try:
        C.parse_mp4(bytes(bad))
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_mp4_short_fixed_header_is_valueerror():
    # a box body shorter than its fixed header (mvhd cut mid-field)
    # must be ValueError, not struct.error
    p = C.synthesize_mp4(b"xy")
    i = p.index(b"mvhd") - 4
    bad = bytearray(p)
    struct.pack_into(">I", bad, i, 10)  # mvhd claims a 2-byte body
    with pytest.raises(ValueError):
        C.parse_mp4(bytes(bad))


def test_mp4_codec_seam_is_explicit():
    p = C.synthesize_mp4(b"some text")
    q = p.replace(b"twos", b"mp4a", 1)
    t = C._first_audio_track(C.parse_mp4(q))  # container parse still real
    assert t.codec == "mp4a" and t.n_samples == 9
    with pytest.raises(NotImplementedError, match="mp4a"):
        C.decode_mp4(q)
    with pytest.raises(NotImplementedError, match="mp4a"):
        C.mp4_frames(q)
    # chunk spans stay available for any codec
    assert _chunk_spans(q) == _chunk_spans(p)


def test_mp4_no_audio_track_is_loud():
    p = C.synthesize_mp4(b"xy")
    q = p.replace(b"soun", b"vide", 1)
    with pytest.raises(ValueError, match="no audio"):
        C.decode_mp4(q)


# ---------------------------------------------------------------------------
# Fragmented mp4 (moof/trun — round 10)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "n", [0, 1, 2, 15, 16, 17, 31, 32, 255, 284, 285, 1000]
)
def test_fmp4_round_trip_closed_forms(n):
    data = bytes((11 * i + 5) % 256 for i in range(n))
    p = C.synthesize_fmp4(data)
    assert len(p) == R.fmp4_n_bytes(n)
    parsed = C.parse_mp4(p)
    assert parsed["major_brand"] == "isom"
    t = C._first_audio_track(parsed)
    assert (t.codec, t.handler) == ("twos", "soun")
    assert t.n_samples == n
    # duration resolves from trex default (1 tick/sample) and the
    # movie duration from mehd — neither lives in mdhd/mvhd, which
    # carry the fragmented convention's zeros
    assert t.duration == n and parsed["duration"] == n
    assert len(t.chunks) == (-(-n // C.MP4_SAMPLES_PER_CHUNK) if n else 0)
    for i, (off, sz) in enumerate(t.spans):
        assert sz == 2
        (v,) = struct.unpack(">h", p[off : off + 2])
        assert v == (data[i] - 128) * 256


def test_fmp4_decode_and_frames_equal_progressive():
    # the fragmented layout carries the same PCM as the progressive
    # one, resolved via a disjoint code path (trex/tfhd/trun instead
    # of stsc/stco/stsz) — decode and chunk-frame extraction must
    # agree exactly
    data = b"fragmented equals progressive, sample for sample" * 3
    f, g = C.synthesize_fmp4(data), C.synthesize_mp4(data)
    assert C.decode_mp4(f) == C.decode_mp4(g)
    assert _chunk_spans(f) != _chunk_spans(g)  # layouts differ
    assert C.mp4_frames(f) == C.mp4_frames(g)  # re-encoded units agree


def _handmade_fmp4() -> tuple[bytes, list[int]]:
    """Hand-assembled fragmented file exercising what the synthesizer
    never produces: an EXPLICIT tfhd base-data-offset, a tfhd
    default-sample-size overriding trex, per-sample trun sizes of
    varying width, a v1 trun with first-sample-flags and per-sample
    durations, TWO trafs in one moof (the second with neither base
    flag, anchoring at the previous traf's data end per §8.8.7), a
    trun with no data_offset, and the sowt (little-endian) codec."""
    samples = [10, -20, 30, 40, -50]
    entry = (
        struct.pack(">I", 36)
        + b"sowt"
        + b"\x00" * 6
        + struct.pack(">H", 1)
        + b"\x00" * 8
        + struct.pack(">HHHH", 1, 16, 0, 0)
        + struct.pack(">I", 5000 << 16)
    )
    stbl = _b(
        b"stbl",
        _fb(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
        + _fb(b"stts", 0, 0, struct.pack(">I", 0))
        + _fb(b"stsc", 0, 0, struct.pack(">I", 0))
        + _fb(b"stsz", 0, 0, struct.pack(">II", 0, 0))
        + _fb(b"stco", 0, 0, struct.pack(">I", 0)),
    )
    mdia = _b(
        b"mdia",
        _fb(b"mdhd", 0, 0, struct.pack(">IIII", 0, 0, 5000, 0))
        + _fb(b"hdlr", 0, 0, struct.pack(">I", 0) + b"soun")
        + _b(b"minf", stbl),
    )
    trak = _b(b"trak", _fb(b"tkhd", 0, 7, struct.pack(">III", 0, 0, 1))
              + mdia)
    mvex = _b(b"mvex",
              _fb(b"trex", 0, 0, struct.pack(">5I", 1, 1, 7, 2, 0)))
    moov = _b(b"moov",
              _fb(b"mvhd", 0, 0, struct.pack(">IIII", 0, 0, 1000, 0))
              + trak + mvex)
    ftyp = _b(b"ftyp", b"iso5" + struct.pack(">I", 0) + b"iso5")

    # fragment 1: explicit base_data_offset + tfhd default_size 4
    # (overriding trex's 2), trun with per-sample sizes [2, 4] and NO
    # data offset (cur = base)
    moof1_len = 8 + 16 + (8 + 28 + 24)  # moof(mfhd + traf(tfhd+trun))
    mdat1_body = len(ftyp) + len(moov) + moof1_len + 8
    tfhd1 = _fb(b"tfhd", 0, 0x000011,
                struct.pack(">IQI", 1, mdat1_body, 4))
    trun1 = _fb(b"trun", 0, 0x000200, struct.pack(">III", 2, 2, 4))
    moof1 = _b(b"moof", _fb(b"mfhd", 0, 0, struct.pack(">I", 1))
               + _b(b"traf", tfhd1 + trun1))
    assert len(moof1) == moof1_len
    mdat1 = _b(b"mdat", struct.pack("<3h", *samples[:3]))

    # fragment 2: traf A anchored default-base-is-moof with a v1 trun
    # (data_offset + first_sample_flags + per-sample durations, size
    # from trex), then traf B with NEITHER base flag — its base is
    # traf A's data end — and a sizes-only trun
    moof2_len = 8 + 16 + (8 + 16 + 28) + (8 + 16 + 20)
    tfhd2a = _fb(b"tfhd", 0, 0x020000, struct.pack(">I", 1))
    trun2a = _fb(b"trun", 1, 0x000105,
                 struct.pack(">IiII", 1, moof2_len + 8, 0xDEAD, 3))
    tfhd2b = _fb(b"tfhd", 0, 0, struct.pack(">I", 1))
    trun2b = _fb(b"trun", 0, 0x000200, struct.pack(">II", 1, 2))
    moof2 = _b(b"moof", _fb(b"mfhd", 0, 0, struct.pack(">I", 2))
               + _b(b"traf", tfhd2a + trun2a)
               + _b(b"traf", tfhd2b + trun2b))
    assert len(moof2) == moof2_len
    mdat2 = _b(b"mdat", struct.pack("<2h", *samples[3:]))
    return ftyp + moov + moof1 + mdat1 + moof2 + mdat2, samples


def test_handmade_fragmented_mp4_parses_and_decodes():
    p, samples = _handmade_fmp4()
    parsed = C.parse_mp4(p)
    t = C._first_audio_track(parsed)
    assert t.codec == "sowt" and t.n_samples == 4
    # spans: frag1 [2 B, 4 B] then frag2 [2 B, 2 B] byte-adjacent
    sizes = [sz for _o, sz in t.spans]
    assert sizes == [2, 4, 2, 2]
    assert t.spans[1][0] == t.spans[0][0] + 2  # no-offset trun run
    assert t.spans[3][0] == t.spans[2][0] + 2  # traf-B base = A's end
    # durations: tfhd has none in frag1 -> trex default 7 x2; traf A
    # per-sample [3]; traf B -> trex 7
    assert t.duration == 7 + 7 + 3 + 7
    _t, got = C._pcm16_track_samples(p)
    assert list(got) == samples
    assert len(t.chunks) == 3  # one per trun


def test_fmp4_corruption_is_loud():
    good = C.synthesize_fmp4(b"corrupt me please, twenty samples!")

    # a data-offset-only trun has no per-sample table to bounds-check;
    # an inflated count there is caught by the span check instead
    bad = bytearray(good)
    i = bad.index(b"trun") + 8  # count word (v0 trun, after verflags)
    struct.pack_into(">I", bad, i, 10_000)
    with pytest.raises(ValueError, match="outside"):
        C.parse_mp4(bytes(bad))

    # a trun WITH a per-sample table promising more entries than its
    # box holds must fail at the table, before any unpack
    handmade, _ = _handmade_fmp4()
    bad = bytearray(handmade)
    i = bad.index(b"trun") + 8  # trun1 carries per-sample sizes
    struct.pack_into(">I", bad, i, 100)
    with pytest.raises(ValueError, match="trun promises"):
        C.parse_mp4(bytes(bad))

    # trex default size inflated: resolved spans overrun the payload
    bad = bytearray(good)
    i = bad.index(b"trex") + 8 + 12  # verflags + (id, sdi, duration)
    struct.pack_into(">I", bad, i, 60_000)
    with pytest.raises(ValueError, match="outside"):
        C.parse_mp4(bytes(bad))

    # tfhd pointing at a track no moov trak defines (the handmade
    # file's trun carries explicit sizes, so span resolution succeeds
    # and the unknown-id check is what fires; on the synthesized file
    # the missing trex means sizes fail to resolve first — also loud)
    bad = bytearray(handmade)
    i = bad.index(b"tfhd") + 8
    struct.pack_into(">I", bad, i, 9)
    with pytest.raises(ValueError, match="no moov trak defines"):
        C.parse_mp4(bytes(bad))
    bad = bytearray(good)
    i = bad.index(b"tfhd") + 8
    struct.pack_into(">I", bad, i, 9)
    with pytest.raises(ValueError, match="no sample size"):
        C.parse_mp4(bytes(bad))

    # a traf with no tfhd at all
    p, _ = _handmade_fmp4()
    naked = _b(b"moof", _fb(b"mfhd", 0, 0, struct.pack(">I", 3))
               + _b(b"traf", _fb(b"trun", 0, 0, struct.pack(">I", 0))))
    with pytest.raises(ValueError, match="no tfhd"):
        C.parse_mp4(p + naked)

    # no sample size anywhere (no trex, no tfhd default, no per-sample)
    no_mvex = p.replace(b"mvex", b"skip", 1)  # walker skips unknown box
    with pytest.raises(ValueError, match="no sample size"):
        C.parse_mp4(no_mvex)


def test_fmp4_shrunk_table_headers_are_loud():
    # round-10 advice: stsd/stsz header words unpacked without
    # checking the box's own extent silently read the NEXT box's
    # bytes — both now raise before any unpack
    good = C.synthesize_mp4(b"shrink my tables")
    for four, cut in ((b"stsd", 10), (b"stsz", 6)):
        bad = bytearray(good)
        j = bad.index(four) - 4
        (sz,) = struct.unpack_from(">I", bytes(bad), j)
        struct.pack_into(">I", bad, j, 8 + 4 + cut)  # header+vf+cut bytes
        with pytest.raises(ValueError):
            C.parse_mp4(bytes(bad))


def test_fmp4_audit_routes_fragment_corruption(spark):
    # round-9 advice closed: a fragmented file is WALKED, so a
    # corrupt fragment is corruption (parse_ok=false), not a "codec
    # seam" tag its validation never earned
    f = C.synthesize_fmp4(b"audit the fragmented layout")
    rows = [
        (1, "fmp4", f, "video/mp4", len(f)),
        (2, "fmp4", f[:-6], "video/mp4", len(f) - 6),  # truncated mdat
    ]
    df = spark.createDataFrame(rows, M.MODALITY_SCHEMA)
    got = {r["doc_id"]: r for r in C.audit_payload_parses(df).collect()}
    assert got[1]["parse_ok"] and got[1]["parse_err"] is None
    assert not got[2]["parse_ok"]
    assert "outside" in got[2]["parse_err"] or "overruns" in got[2]["parse_err"]


def test_mp4_stts_without_stsz_is_loud():
    # drop the stsz box from the stbl (shrink stbl/minf/mdia/trak/moov
    # sizes accordingly): stts still promises samples, and the parse
    # must refuse to silently resolve an empty span list
    p = C.synthesize_mp4(b"ab")
    i_stsz = p.index(b"stsz") - 4
    (stsz_sz,) = struct.unpack_from(">I", p, i_stsz)
    cut = p[:i_stsz] + p[i_stsz + stsz_sz :]
    out = bytearray(cut)
    for four in (b"stbl", b"minf", b"mdia", b"trak", b"moov"):
        j = out.index(four) - 4
        (sz,) = struct.unpack_from(">I", bytes(out), j)
        struct.pack_into(">I", out, j, sz - stsz_sz)
    with pytest.raises(ValueError, match="no stsz"):
        C.parse_mp4(bytes(out))


def test_mp4_odd_pcm_span_is_valueerror_not_struct_error():
    # patch the uniform stsz sample size 2 -> 1: spans resolve (1-byte
    # samples are in-bounds) but the PCM16 decode must raise the
    # package's quarantine-routable ValueError, not struct.error
    p = C.synthesize_mp4(b"abc")
    idx = p.index(b"stsz")
    bad = bytearray(p)
    struct.pack_into(">I", bad, idx + 8, 1)
    with pytest.raises(ValueError, match="odd byte count"):
        C.decode_mp4(bytes(bad))
    with pytest.raises(ValueError, match="odd byte count"):
        C.mp4_frames(bytes(bad))


def test_mp3_corruption_is_loud():
    m = C.synthesize_mp3(b"payload bytes for one frame")
    with pytest.raises(ValueError, match="lost MPEG frame sync"):
        C.parse_mp3(b"\x00\x00" + m[C.MP3_ID3_LEN :])
    with pytest.raises(ValueError, match="promises"):
        C.parse_mp3(m[:-10])  # truncated final frame
    with pytest.raises(ValueError, match="lost MPEG frame sync"):
        C.parse_mp3(m + b"garbage-after-last-frame")
    hdr = C.MP3_ID3_LEN
    bad = bytearray(m)
    bad[hdr + 2] = (bad[hdr + 2] & 0x0F) | 0x00  # bitrate idx 0
    with pytest.raises(ValueError, match="free-format"):
        C.parse_mp3(bytes(bad))
    bad = bytearray(m)
    bad[hdr + 2] = (bad[hdr + 2] & 0x0F) | 0xF0  # bitrate idx 15
    with pytest.raises(ValueError, match="forbidden"):
        C.parse_mp3(bytes(bad))
    bad = bytearray(m)
    bad[hdr + 2] = (bad[hdr + 2] & 0xF3) | 0x0C  # samplerate idx 3
    with pytest.raises(ValueError, match="reserved samplerate"):
        C.parse_mp3(bytes(bad))
    bad = bytearray(m)
    bad[hdr + 1] = (bad[hdr + 1] & 0xE7) | 0x00  # MPEG2.5 version bits
    with pytest.raises(ValueError, match="MPEG-1"):
        C.parse_mp3(bytes(bad))
    bad = bytearray(m)
    bad[6] = 0x80  # non-synchsafe ID3 size byte
    with pytest.raises(ValueError, match="synchsafe"):
        C.parse_mp3(bytes(bad))


def test_mp3_samplerate_change_mid_stream_is_loud():
    h1 = bytes([0xFF, 0xFB, 0x58, 0xC4])  # 64k @ 32000 -> 288
    h2 = bytes([0xFF, 0xFB, 0x50, 0xC4])  # 64k @ 44100 -> 208
    f1 = h1 + b"\x00" * 284
    f2 = h2 + b"\x00" * 204
    with pytest.raises(ValueError, match="samplerate changed"):
        C.parse_mp3(f1 + f2)


# ---------------------------------------------------------------------------
# 4. Spark plumbing
# ---------------------------------------------------------------------------


def test_audit_payload_parses_routes_corruption(spark):
    """The quarantine router: corrupt payloads are tagged with their
    parser's reason instead of failing the job; intact payloads pass;
    codec seams (structurally valid container, library-only decode)
    stay parse_ok with the seam recorded."""
    mp4 = C.synthesize_mp4(b"good mp4 payload")
    mp3 = C.synthesize_mp3(b"good mp3 payload")
    wav = M.synthesize_wav(b"good wav payload")
    rows = [
        (1, "mp4", mp4, "audio/mp4", len(mp4)),
        (2, "mp4", mp4[:-5], "audio/mp4", len(mp4) - 5),       # truncated
        (3, "mp3", mp3, "audio/mpeg", len(mp3)),
        (4, "mp3", mp3[:-5], "audio/mpeg", len(mp3) - 5),      # truncated
        (5, "audio", wav, "audio/wav", len(wav)),
        (6, "audio", wav[:20], "audio/wav", 20),               # truncated
        (7, "mp4", mp4.replace(b"twos", b"mp4a", 1), "audio/mp4",
         len(mp4)),                                            # codec seam-free parse
        (8, "text", b"plain text never fails", "text/plain", 22),
        (9, "tiff", b"II*\x00unknown-format", "image/tiff", 18),  # no parser
    ]
    from mapreduce_framework_for_mergesort_spark.sources.multimodal import (
        MODALITY_SCHEMA,
    )

    df = spark.createDataFrame(rows, MODALITY_SCHEMA)
    got = {r["doc_id"]: r for r in C.audit_payload_parses(df).collect()}
    assert len(got) == 9
    assert all(got[i]["parse_ok"] for i in (1, 3, 5, 7, 8))
    assert not any(got[i]["parse_ok"] for i in (2, 4, 6, 9))
    # an unknown modality is NOT a "codec seam" — no validation ran
    assert "no parser for modality 'tiff'" in got[9]["parse_err"]
    assert "overruns" in got[2]["parse_err"]
    assert "promises" in got[4]["parse_err"]
    assert "WAV" in got[6]["parse_err"]
    assert got[7]["parse_err"] is None  # parse_mp4 validates any codec
    assert got[1]["parse_err"] is None and got[8]["parse_err"] is None
    # an mp3 routed through the decode seam would be falsely "ok":
    # the router parses containers directly, so a corrupt mp3 is
    # caught (doc 4) while the Layer-III decode stays out of scope


def test_audit_routes_truncated_bmp_not_struct_error(spark):
    """Round-9 review: decode_bmp raised struct.error on payloads
    shorter than the 54-byte header, escaping the router's ValueError
    contract and killing the task.  The parser now raises ValueError
    up front, and the router also catches struct.error as corruption
    (defense for any remaining short-read edge)."""
    from mapreduce_framework_for_mergesort_spark.sources.multimodal import (
        MODALITY_SCHEMA,
        synthesize_bmp,
    )

    bmp = synthesize_bmp(b"pixels here")
    rows = [
        (1, "image", bmp, "image/bmp", len(bmp)),
        (2, "image", bmp[:10], "image/bmp", 10),  # shorter than header
    ]
    df = spark.createDataFrame(rows, MODALITY_SCHEMA)
    got = {r["doc_id"]: r for r in C.audit_payload_parses(df).collect()}
    assert got[1]["parse_ok"] and not got[2]["parse_ok"]
    assert "truncated BMP" in got[2]["parse_err"]


def test_mp3_mixed_layer_duration_uses_per_frame_sum():
    """Round-9 review: a duration rederived as n_frames x the FIRST
    frame's samples_per_frame under-reports a mixed-layer stream
    (Layer I then Layer III — legal) ~3x; the frame walk carries the
    per-frame sum."""
    l1 = bytes([0xFF, 0xFF, 0x38, 0xC4])  # L1, 96k @ 32000 -> 144 bytes
    f1 = l1 + b"\x00" * (144 - 4)
    l3 = bytes([0xFF, 0xFB, 0x58, 0xC4])  # L3, 64k @ 32000 -> 288 bytes
    f3 = l3 + b"\x00" * (288 - 4)
    mixed = f1 + f3
    parsed = C.parse_mp3(mixed)
    assert parsed["total_samples"] == 384 + 1152
    assert len(parsed["frames"]) == 2


def test_dispatch_through_modality_stubs():
    data = b"dispatch check"
    assert M.decode_stub(C.synthesize_mp4(data), "mp4") == M.decode_wav(
        M.synthesize_wav(data)
    )
    # round 11: the mp3 dispatch decodes Layer III profile payloads
    # (sources/layer3.py); a text-stuffed container frame is neither a
    # profile frame nor silent — it raises loudly
    from mapreduce_framework_for_mergesort_spark.sources import layer3 as L3

    assert M.decode_stub(L3.synthesize_mp3_l3("dispatch check"), "mp3") == \
        L3.decode_mp3_l3_features(L3.synthesize_mp3_l3("dispatch check"))
    with pytest.raises((ValueError, NotImplementedError)):
        M.decode_stub(C.synthesize_mp3(data), "mp3")
    assert len(M.frame_stub(C.synthesize_mp4(data), "mp4")) == 1
    assert len(M.frame_stub(C.synthesize_mp3(data), "mp3")) == 1


@settings(max_examples=30, deadline=None)
@given(st.binary(max_size=600))
def test_fmp4_property_round_trip(data):
    p = C.synthesize_fmp4(data)
    assert len(p) == R.fmp4_n_bytes(len(data))
    t = C._first_audio_track(C.parse_mp4(p))
    assert t.n_samples == len(data)
    assert sum(sz for _o, sz in t.chunks) == 2 * len(data)
    # fragmented and progressive layouts carry the same PCM, so the
    # whole feature vector must agree for ANY payload
    assert C.decode_mp4(p) == C.decode_mp4(C.synthesize_mp4(data))
