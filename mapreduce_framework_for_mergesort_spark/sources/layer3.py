"""MPEG-1 Layer III SPECTRAL decode (round 11) — the mp3 codec seam,
narrowed from "everything past the frame walk" to "the data tables the
spec publishes but this offline build cannot reproduce".

Round 9/10 implemented the mp3 CONTAINER layer for real
(``sources/containers.py parse_mp3``: frame-sync walk, bitrate/
samplerate tables, ID3v2) and left PCM decode a loud
NotImplementedError.  This module implements the CODEC layers that are
ARITHMETIC in ISO/IEC 11172-3:

* side-info parse (mono MPEG-1): main_data_begin, scfsi, and per
  granule part2_3_length / big_values / global_gain /
  scalefac_compress (slen1/slen2 table) / window switching /
  table_select / region counts / preflag / scalefac_scale /
  count1table_select;
* count1-region Huffman decode with table B — the one FIXED code in
  the Layer III suite (every quadruple is 4 bits + sign bits), so it
  needs no external table data;
* requantization: ``xr = sign · |v|^(4/3) · 2^((global_gain-210)/4)``;
* alias reduction (the 8 butterfly coefficients are in §2.4.3.4.7.1
  and are reproduced here);
* the long-block IMDCT with its closed-form ``sin`` window, granule
  overlap-add, and frequency inversion — output is SUBBAND-domain
  samples (32 subbands × 18 per granule).

What stays a loud seam, and why (``Mp3DataGap``):

* the 32 big-values Huffman tables and count1 table A — hundreds of
  tabulated codewords; unlike brotli's dictionary (extracted from the
  Arrow-bundled library and SHA-pinned), no mp3 implementation exists
  in this container to extract them from;
* scalefactor APPLICATION — the per-samplerate scalefactor band
  widths are tabulated data (parsing the scalefactor BITS is
  arithmetic and implemented; any nonzero scalefactor gaps);
* the final polyphase synthesis to PCM — the 512-coefficient window D
  (Annex B Table 3-B.3) is tabulated data, so the decode chain stops
  one matrixing short of PCM.

The supported PROFILE is therefore: mono, long blocks,
``big_values = 0``, count1 table B, zero scalefactors, no bit
reservoir — which can still place ``±1`` spectral values at arbitrary
count1-region bins with ``global_gain`` amplitude control, i.e. real
tones through the real bitstream.  ``encode_tone_frame`` emits exactly
this profile, and the ``mp3`` branch of ``q_multimodal_features``
oracle-pins the decode against a closed form of the synthesis
parameters (the JPEG flat-block pattern).  HONESTY NOTE: no reference
mp3 decoder exists in this environment, so two bit-level conventions
are taken from the spec text and pinned by the encode/decode pair
rather than cross-validated: count1 table B codes a quadruple as its
four INVERTED bits (v first), and a sign bit of 1 means negative.
Both are isolated in ``_CNT1B_*`` so a future round with a reference
decoder can flip them in one place.

Reference parity note: the reference engine (``/root/reference``) has
no media layer; this is part of the multimodal curation surface the
brief layers on top.
"""

from __future__ import annotations

import math
from functools import lru_cache

# ---------------------------------------------------------------------------
# errors
# ---------------------------------------------------------------------------


class Mp3Error(ValueError):
    """Malformed Layer III bitstream."""


class Mp3DataGap(NotImplementedError):
    """The frame needs spec DATA tables this build cannot reproduce
    (big-values Huffman tables, count1 table A, scalefactor band
    widths, the polyphase window)."""


# ---------------------------------------------------------------------------
# spec tables that are arithmetic / small enough to be in the text
# ---------------------------------------------------------------------------

#: slen1/slen2 by scalefac_compress (§2.4.2.7).
_SLEN1 = (0, 0, 0, 0, 3, 1, 1, 1, 2, 2, 2, 3, 3, 3, 4, 4)
_SLEN2 = (0, 1, 2, 3, 0, 1, 2, 3, 1, 2, 3, 1, 2, 3, 2, 3)

#: Alias-reduction coefficients ci (§2.4.3.4.7.1).
_CI = (-0.6, -0.535, -0.33, -0.185, -0.095, -0.041, -0.0142, -0.0037)
_CS = tuple(1.0 / math.sqrt(1.0 + c * c) for c in _CI)
_CA = tuple(c / math.sqrt(1.0 + c * c) for c in _CI)

#: The fixed frame this module's profile uses: MPEG-1 Layer III,
#: 64 kbit/s, 32 kHz, mono, no CRC, no padding → 288-byte frames
#: (shared with ``containers.synthesize_mp3``'s header constant).
PROFILE_HEADER = bytes([0xFF, 0xFB, 0x58, 0xC4])
PROFILE_FRAME_LEN = 288
_SIDE_INFO_BYTES = 17  # mono MPEG-1

#: count1 table B conventions (see module docstring honesty note).
_CNT1B_INVERTED = True   # codeword = bitwise NOT of (v, w, x, y)
_CNT1B_NEG_SIGN = 1      # sign bit value meaning "negative"


# ---------------------------------------------------------------------------
# MSB-first bit IO (mp3 bit order, opposite of brotli's)
# ---------------------------------------------------------------------------


class _BitReader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos_bits: int = 0) -> None:
        self.data = data
        self.pos = pos_bits

    def read(self, n: int) -> int:
        v = 0
        p = self.pos
        if p + n > len(self.data) * 8:
            raise Mp3Error("truncated Layer III bitstream")
        for _ in range(n):
            v = (v << 1) | ((self.data[p >> 3] >> (7 - (p & 7))) & 1)
            p += 1
        self.pos = p
        return v


class _BitWriter:
    __slots__ = ("bits",)

    def __init__(self) -> None:
        self.bits: list[int] = []

    def write(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bits.append((value >> i) & 1)

    def to_bytes(self, pad_to: int | None = None) -> bytes:
        bits = self.bits[:]
        while len(bits) % 8:
            bits.append(0)
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for bit in bits[i:i + 8]:
                b = (b << 1) | bit
            out.append(b)
        if pad_to is not None:
            if len(out) > pad_to:
                raise Mp3Error("profile frame overflow")
            out += bytes(pad_to - len(out))
        return bytes(out)


# ---------------------------------------------------------------------------
# side info
# ---------------------------------------------------------------------------


def parse_side_info(frame: bytes) -> dict:
    """Mono MPEG-1 side info (17 bytes after the 4-byte header) →
    field dict with a 2-entry ``granules`` list.  Pure arithmetic —
    works on ANY mono MPEG-1 Layer III frame, not just the profile."""
    if len(frame) < 4 + _SIDE_INFO_BYTES:
        raise Mp3Error("frame shorter than header + mono side info")
    if frame[0] != 0xFF or (frame[1] & 0xE0) != 0xE0:
        raise Mp3Error("no frame sync")
    if (frame[1] >> 3) & 3 != 3 or (frame[1] >> 1) & 3 != 1:
        raise Mp3DataGap("only MPEG-1 Layer III is implemented")
    if (frame[3] >> 6) & 3 != 3:
        raise Mp3DataGap(
            "stereo modes need the intensity/MS tables; profile is mono"
        )
    crc_skip = 0 if (frame[1] & 1) else 2  # protection_bit 0 → CRC-16
    br = _BitReader(frame, (4 + crc_skip) * 8)
    out = {
        "main_data_begin": br.read(9),
        "private_bits": br.read(5),
        "scfsi": br.read(4),
        "granules": [],
        "main_data_offset_bits": 0,
    }
    for _g in range(2):
        g = {
            "part2_3_length": br.read(12),
            "big_values": br.read(9),
            "global_gain": br.read(8),
            "scalefac_compress": br.read(4),
            "windows_switching_flag": br.read(1),
        }
        if g["windows_switching_flag"]:
            g["block_type"] = br.read(2)
            g["mixed_block_flag"] = br.read(1)
            g["table_select"] = [br.read(5) for _ in range(2)]
            g["subblock_gain"] = [br.read(3) for _ in range(3)]
        else:
            g["table_select"] = [br.read(5) for _ in range(3)]
            g["region0_count"] = br.read(4)
            g["region1_count"] = br.read(3)
        g["preflag"] = br.read(1)
        g["scalefac_scale"] = br.read(1)
        g["count1table_select"] = br.read(1)
        out["granules"].append(g)
    out["main_data_offset_bits"] = br.pos
    return out


# ---------------------------------------------------------------------------
# profile decode: count1 huffman → requantize → alias → IMDCT
# ---------------------------------------------------------------------------


def decode_frame_spectrum(frame: bytes) -> list[list[float]]:
    """One profile frame → two granules of 576 requantized spectral
    values.  Raises ``Mp3DataGap`` (loud, countable) the moment the
    frame needs an absent data table; ``Mp3Error`` on damage."""
    si = parse_side_info(frame)
    if si["main_data_begin"] != 0:
        raise Mp3DataGap(
            "bit-reservoir frames (main_data_begin != 0) are outside "
            "the profile"
        )
    br = _BitReader(frame, si["main_data_offset_bits"])
    granules = []
    for gr, g in enumerate(si["granules"]):
        if g["windows_switching_flag"]:
            raise Mp3DataGap("short/mixed blocks are outside the profile")
        if g["big_values"] != 0:
            raise Mp3DataGap(
                "big-values region needs Huffman tables 1-31 (spec "
                "data not present in this build)"
            )
        start = br.pos
        # part2: scalefactor bits.  slen arithmetic is implemented —
        # including (round 12) the scfsi sharing rule: a set scfsi bit
        # means the second granule RESTATES granule 0's scalefactors
        # for that band group and transmits no bits for it (§2.4.2.7,
        # long blocks: groups sfb 0-5 / 6-10 at slen1, 11-15 / 16-20
        # at slen2; scfsi bit k is the k-th from the MSB).  APPLYING a
        # nonzero scalefactor needs the band-width tables — still the
        # documented data gap; shared values inherit granule 0's
        # zero-enforcement, so sharing adds no new value state.
        slen1 = _SLEN1[g["scalefac_compress"]]
        slen2 = _SLEN2[g["scalefac_compress"]]
        for k, (n_bands, slen) in enumerate(
            ((6, slen1), (5, slen1), (5, slen2), (5, slen2))
        ):
            if gr == 1 and (si["scfsi"] >> (3 - k)) & 1:
                continue  # shared: no bits in the stream
            for _ in range(n_bands):
                if br.read(slen) if slen else 0:
                    raise Mp3DataGap(
                        "nonzero scalefactors need the band-width tables"
                    )
        if g["count1table_select"] != 1:
            raise Mp3DataGap(
                "count1 table A is tabulated spec data; profile uses "
                "the fixed table B"
            )
        xr = [0.0] * 576
        amp = 2.0 ** ((g["global_gain"] - 210) / 4.0)
        pos = 0
        while br.pos - start < g["part2_3_length"] and pos <= 572:
            code = br.read(4)
            quad = (~code & 0xF) if _CNT1B_INVERTED else code
            for j in range(4):  # v, w, x, y — MSB first
                if (quad >> (3 - j)) & 1:
                    sign = br.read(1)
                    xr[pos + j] = (
                        -amp if sign == _CNT1B_NEG_SIGN else amp
                    )
            pos += 4
        if br.pos - start != g["part2_3_length"]:
            raise Mp3Error("part2_3_length does not delimit whole quads")
        granules.append(xr)
    return granules


_WIN_LONG = [math.sin(math.pi / 36 * (i + 0.5)) for i in range(36)]


@lru_cache(maxsize=1)
def _imdct_matrices():
    """(windowed 36×18 IMDCT matrix, cs, ca) as numpy arrays —
    computed once; the per-payload chain is then three matmuls, which
    is what keeps the mp3 features branch Arrow-batch-cheap (the
    pure-Python cos loop cost ~15 ms/payload and blew the multimodal
    key up 19× at sf0.1 — caught by the round-11 scale sweep)."""
    import numpy as np

    n = 36
    i = np.arange(n)[:, None]
    k = np.arange(18)[None, :]
    cosm = np.cos(np.pi / (2 * n) * (2 * i + 1 + n // 2) * (2 * k + 1))
    cosm *= np.array(_WIN_LONG)[:, None]
    return cosm, np.array(_CS), np.array(_CA)


def spectrum_to_subbands(
    granules: list[list[float]],
) -> tuple[list[list[list[float]]], list[list[float]]]:
    """Requantized spectra → subband-domain samples: alias reduction,
    windowed long-block IMDCT, overlap-add (from silence before the
    first granule), frequency inversion.  Returns
    ``(per_granule[32][18], carry_overlap[32][18])`` — the carry a
    next frame's first granule would see.  This is everything
    before the polyphase matrixing (the D-window data seam).
    Vectorized: alias butterflies and the 32 IMDCTs are numpy slice
    ops and ONE (36×18)@(18×32) matmul per granule."""
    import numpy as np

    cosm, cs, ca = _imdct_matrices()
    ov = np.zeros((18, 32))
    result = []
    for xr in granules:
        x = np.asarray(xr, dtype=float).copy()
        # alias reduction: all 31 boundaries at once per butterfly i
        for i in range(8):
            lo_idx = 18 * np.arange(1, 32) - 1 - i
            hi_idx = 18 * np.arange(1, 32) + i
            lo = x[lo_idx].copy()
            hi = x[hi_idx].copy()
            x[lo_idx] = lo * cs[i] - hi * ca[i]
            x[hi_idx] = hi * cs[i] + lo * ca[i]
        t = cosm @ x.reshape(32, 18).T  # (36, 32): windowed IMDCT
        first = t[:18] + ov  # overlap-add
        # frequency inversion applies to the FINAL subband samples
        # (post-overlap-add); the carry is stored RAW — inverting it
        # too corrupted even positions of odd subbands across granule
        # boundaries (round-11 review pass 2; parity is seamless
        # across granules because 18 is even, so per-granule
        # odd-index inversion is the continuous-time rule)
        first[1::2, 1::2] *= -1.0
        ov = t[18:]
        result.append([first[:, sb].tolist() for sb in range(32)])
    return result, [ov[:, sb].tolist() for sb in range(32)]


# ---------------------------------------------------------------------------
# profile encoder (the fixture side of the closed-form pin)
# ---------------------------------------------------------------------------


def encode_tone_frame(
    bins: list[tuple[int, int]],
    scalefac_compress: int = 0,
    scfsi: int = 0,
) -> bytes:
    """One profile frame carrying ``±1`` at the given spectral bins in
    BOTH granules: ``bins`` is [(bin_index, sign)] with sign ∈ {+1,-1},
    bin_index < 576.  Everything else zero.  The exact inverse of
    ``decode_frame_spectrum`` under the module's pinned conventions.

    Round 12: ``scalefac_compress`` (0-15) transmits that many
    all-zero scalefactor bits per band, and ``scfsi`` (4 bits) marks
    band groups whose granule-1 scalefactors are scfsi-SHARED (not
    transmitted) — the fixture side of the §2.4.2.7 sharing rule, so
    per-granule part2 lengths genuinely differ on the wire."""
    bins = sorted(bins)
    if bins and (bins[0][0] < 0 or bins[-1][0] > 575):
        raise Mp3Error("bin index out of range")
    if len({b for b, _s in bins}) != len(bins):
        raise Mp3Error("duplicate bin")
    if not 0 <= scalefac_compress <= 15 or not 0 <= scfsi <= 15:
        raise Mp3Error("scalefac_compress and scfsi are 4-bit fields")
    slen1 = _SLEN1[scalefac_compress]
    slen2 = _SLEN2[scalefac_compress]
    group_bits = (6 * slen1, 5 * slen1, 5 * slen2, 5 * slen2)
    part2 = (
        sum(group_bits),  # granule 0: scfsi never applies
        sum(
            gb
            for k, gb in enumerate(group_bits)
            if not (scfsi >> (3 - k)) & 1
        ),
    )
    # main data bits for one granule
    md = _BitWriter()
    by_quad: dict[int, list[tuple[int, int]]] = {}
    for b, s in bins:
        by_quad.setdefault(b // 4, []).append((b % 4, s))
    n_quads = (max(by_quad) + 1) if by_quad else 0
    for q in range(n_quads):
        present = dict(by_quad.get(q, []))
        quad = 0
        for j in range(4):
            quad = (quad << 1) | (1 if j in present else 0)
        md.write((~quad & 0xF) if _CNT1B_INVERTED else quad, 4)
        for j in range(4):
            if j in present:
                md.write(
                    _CNT1B_NEG_SIGN if present[j] < 0 else
                    1 - _CNT1B_NEG_SIGN,
                    1,
                )
    granule_bits = len(md.bits)

    si = _BitWriter()
    si.write(0, 9)   # main_data_begin
    si.write(0, 5)   # private_bits (mono)
    si.write(scfsi, 4)
    for gr in range(2):
        si.write(part2[gr] + granule_bits, 12)  # part2_3_length
        si.write(0, 9)   # big_values
        si.write(210, 8)  # global_gain: unit amplitude
        si.write(scalefac_compress, 4)
        si.write(0, 1)   # windows_switching_flag
        si.write(0, 15)  # table_select x3 (unused: big_values = 0)
        si.write(0, 4)   # region0_count
        si.write(0, 3)   # region1_count
        si.write(0, 1)   # preflag
        si.write(0, 1)   # scalefac_scale
        si.write(1, 1)   # count1table_select = table B
    main = _BitWriter()
    for gr in range(2):  # same spectrum in both granules
        if part2[gr]:
            main.write(0, part2[gr])  # all-zero scalefactors
        main.bits += md.bits
    frame = (
        PROFILE_HEADER
        + si.to_bytes(pad_to=_SIDE_INFO_BYTES)
        + main.to_bytes(pad_to=PROFILE_FRAME_LEN - 4 - _SIDE_INFO_BYTES)
    )
    assert len(frame) == PROFILE_FRAME_LEN
    return frame


# ---------------------------------------------------------------------------
# the feature kernel the multimodal key rides
# ---------------------------------------------------------------------------


def tone_bins_for_text(text: str) -> list[tuple[int, int]]:
    """Deterministic text → spectral placement, replicable in SQL:
    for the first ``min(4, len)`` characters, bin ``18·i + 8 +
    (ch_i % 2)`` (one bin per subband i, at in-subband offsets 8/9 —
    the two positions alias butterflies never touch, so subband
    activity stays closed-form), negative iff ``ch_i`` is odd."""
    out = []
    for i in range(1, min(4, len(text)) + 1):
        ch = ord(text[i - 1])
        out.append((18 * i + 8 + (ch % 2), -1 if ch % 2 else 1))
    return out


def synthesize_mp3_l3(text: str) -> bytes:
    """Fixture payload: ONE profile frame of the text's tone placement
    (global_gain 210 → unit amplitudes).  Round 12: scalefac_compress
    and scfsi vary by text length, so the multimodal key exercises the
    scfsi sharing rule in-fixture — the features are scalefactor-
    independent by construction, so the oracle's closed form holds for
    every variant."""
    return encode_tone_frame(
        tone_bins_for_text(text),
        scalefac_compress=len(text) % 16,
        scfsi=(len(text) * 5) % 16,
    )


def decode_mp3_l3_features(payload: bytes) -> list[float]:
    """Decode the first profile frame and featurize through the REAL
    chain — count1 Huffman, requantize, alias, IMDCT: [n_frames,
    n_nonzero, max_bin, sum_bins, n_negative, global_gain,
    energy_milli, n_active_subbands], all integral by construction."""
    if len(payload) < PROFILE_FRAME_LEN:
        raise Mp3Error("payload shorter than one profile frame")
    frame = payload[:PROFILE_FRAME_LEN]
    si = parse_side_info(frame)
    granules = decode_frame_spectrum(frame)
    xr = granules[0]
    if granules[1] != xr:
        raise Mp3Error("profile frames carry equal granules")
    nz = [i for i, v in enumerate(xr) if v != 0.0]
    subbands, _carry = spectrum_to_subbands(granules)
    active = sum(
        1
        for sb in range(32)
        if any(abs(s) > 1e-9 for s in subbands[0][sb])
    )
    energy = sum(v * v for v in xr)
    return [
        1.0,
        float(len(nz)),
        float(max(nz) if nz else 0),
        float(sum(nz)),
        float(sum(1 for i in nz if xr[i] < 0)),
        float(si["granules"][0]["global_gain"]),
        float(round(1000 * energy)),
        float(active),
    ]
