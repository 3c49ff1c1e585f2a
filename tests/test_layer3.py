"""MPEG-1 Layer III spectral decode (round 11, ``sources/layer3.py``).

No reference mp3 decoder exists in this environment, so the pins here
are: exact encode/decode inversion over randomized tone placements
(hypothesis), side-info field-level round-trips, the IMDCT/alias chain
against an independent numpy replica of the same closed-form math, the
subband-locality property the feature oracle relies on, and loud
``Mp3DataGap`` classes at every absent-data boundary.
"""

from __future__ import annotations

import math
import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mapreduce_framework_for_mergesort_spark.sources import layer3 as L
from tests import references as R


def test_profile_frame_shape_and_side_info():
    frame = L.encode_tone_frame([(26, 1), (27, -1), (100, 1)])
    assert len(frame) == L.PROFILE_FRAME_LEN
    assert frame[:4] == L.PROFILE_HEADER
    si = L.parse_side_info(frame)
    assert si["main_data_begin"] == 0 and si["scfsi"] == 0
    for g in si["granules"]:
        assert g["big_values"] == 0
        assert g["global_gain"] == 210
        assert g["count1table_select"] == 1
        assert g["windows_switching_flag"] == 0
        # 26 quads needed to reach bin 100 -> 25*4? quads = 0..25, each
        # 4 bits + sign bits (3 signs total)
        assert g["part2_3_length"] == 26 * 4 + 3


@given(
    st.lists(
        st.tuples(st.integers(0, 575), st.sampled_from([1, -1])),
        max_size=24,
        unique_by=lambda t: t[0],
    ),
    st.integers(100, 250),
)
@settings(max_examples=60, deadline=None)
def test_encode_decode_inversion(bins, gg):
    frame = R.encode_tone_frame(bins, gg)
    g0, g1 = L.decode_frame_spectrum(frame)
    assert g0 == g1
    amp = 2.0 ** ((gg - 210) / 4.0)
    expected = [0.0] * 576
    for b, s in bins:
        expected[b] = s * amp
    assert g0 == expected


def test_imdct_chain_vs_numpy_replica():
    """Alias + windowed IMDCT + overlap-add + frequency inversion ==
    an independent numpy restatement of the same spec formulas."""
    import numpy as np

    rng = random.Random(11)
    xr = [0.0] * 576
    for _ in range(40):
        xr[rng.randrange(576)] = rng.uniform(-2, 2)
    got, carry = L.spectrum_to_subbands([xr])

    x = np.array(xr)
    cs, ca = np.array(L._CS), np.array(L._CA)
    for sb in range(1, 32):
        lo = x[18 * sb - 1 - np.arange(8)].copy()
        hi = x[18 * sb + np.arange(8)].copy()
        x[18 * sb - 1 - np.arange(8)] = lo * cs - hi * ca
        x[18 * sb + np.arange(8)] = hi * cs + lo * ca
    n = 36
    k = np.arange(18)
    i = np.arange(36)
    cosm = np.cos(np.pi / (2 * n) * np.outer(2 * i + 1 + n // 2, 2 * k + 1))
    win = np.sin(np.pi / 36 * (i + 0.5))
    for sb in range(32):
        t = (cosm @ x[18 * sb:18 * (sb + 1)]) * win
        first = t[:18].copy()
        if sb % 2 == 1:
            first[1::2] *= -1
        assert np.allclose(got[0][sb], first, atol=1e-12), sb


def test_subband_locality_property():
    """A single spectral line at in-subband offset 8/9 (where alias
    butterflies never reach) lights up EXACTLY its own subband — the
    property the feature oracle's closed form rides."""
    for sb in (1, 2, 3, 4, 17, 30):
        for off in (8, 9):
            frame = L.encode_tone_frame([(18 * sb + off, 1)])
            subbands, _ = L.spectrum_to_subbands(
                L.decode_frame_spectrum(frame)
            )
            active = [
                s for s in range(32)
                if any(abs(v) > 1e-9 for v in subbands[0][s])
            ]
            assert active == [sb], (sb, off, active)
    # NON-property: an offset inside the butterfly span leaks into the
    # neighbor subband (which is why the profile avoids it)
    frame = L.encode_tone_frame([(18 * 3 + 0, 1)])
    subbands, _ = L.spectrum_to_subbands(L.decode_frame_spectrum(frame))
    active = [
        s for s in range(32)
        if any(abs(v) > 1e-9 for v in subbands[0][s])
    ]
    assert 3 in active and len(active) > 1


def test_requantize_gain_scaling():
    f_hi = R.encode_tone_frame([(27, 1)], 214)
    f_lo = L.encode_tone_frame([(27, 1)])
    hi = L.decode_frame_spectrum(f_hi)[0][27]
    lo = L.decode_frame_spectrum(f_lo)[0][27]
    assert hi == pytest.approx(2.0 * lo)  # +4 gain steps = one octave


def test_data_gaps_are_loud():
    frame = bytearray(L.encode_tone_frame([(27, 1)]))
    # stereo mode
    st_frame = bytearray(frame)
    st_frame[3] = 0x04
    with pytest.raises(L.Mp3DataGap, match="stereo"):
        L.parse_side_info(bytes(st_frame))
    # MPEG-2 / other layer
    v2 = bytearray(frame)
    v2[1] = 0xF3
    with pytest.raises(L.Mp3DataGap, match="MPEG-1 Layer III"):
        L.parse_side_info(bytes(v2))
    # big_values != 0: set the lowest bit of granule 0's big_values
    bv = bytearray(frame)
    bitpos = 4 * 8 + 18 + 12 + 8  # header + (9+5+4) + part2_3 + 9th bit
    bv[bitpos // 8] |= 1 << (7 - (bitpos % 8))
    with pytest.raises(L.Mp3DataGap, match="tables 1-31"):
        L.decode_frame_spectrum(bytes(bv))
    # damage is Mp3Error, not a gap
    with pytest.raises(L.Mp3Error):
        L.parse_side_info(b"\x00" * 30)
    with pytest.raises(L.Mp3Error):
        L.encode_tone_frame([(576, 1)])
    with pytest.raises(L.Mp3Error):
        L.encode_tone_frame([(5, 1), (5, -1)])


def test_feature_kernel_matches_closed_form():
    for text in ["", "a", "Hello", "xyzw123", "é中", "    "]:
        f = L.decode_mp3_l3_features(L.synthesize_mp3_l3(text))
        bins = L.tone_bins_for_text(text)
        n = len(bins)
        assert f == [
            1.0,
            float(n),
            float(max((b for b, _ in bins), default=0)),
            float(sum(b for b, _ in bins)),
            float(sum(1 for _, s in bins if s < 0)),
            210.0,
            1000.0 * n,
            float(n),
        ], text


def test_overlap_carries_between_granules():
    """The IMDCT overlap-add carry is threaded: decoding with a carry
    from a previous granule changes the first 18 samples only."""
    frame = L.encode_tone_frame([(27, 1)])
    granules = L.decode_frame_spectrum(frame)
    both, _ = L.spectrum_to_subbands(granules)
    alone, _ = L.spectrum_to_subbands([granules[1]])
    # same spectrum, but granule 2 sees granule 1's tail
    assert both[1][1] != alone[0][1]
    # from silence, granule 1 decodes like granule 2 alone
    assert both[0][1] == alone[0][1]


def test_math_constants_match_spec_arithmetic():
    # cs/ca derive from the 8 published ci values
    for i, c in enumerate(L._CI):
        assert L._CS[i] == pytest.approx(1 / math.sqrt(1 + c * c))
        assert L._CA[i] == pytest.approx(c / math.sqrt(1 + c * c))
    # slen tables: 16 entries each, the (0,0) origin and (4,3) max
    assert len(L._SLEN1) == len(L._SLEN2) == 16
    assert L._SLEN1[0] == L._SLEN2[0] == 0
    assert max(L._SLEN1) == 4 and max(L._SLEN2) == 3


def test_two_granule_chain_vs_numpy_replica():
    """The carry path with frequency inversion, against a replica that
    computes the CONTINUOUS time chain (overlap-add first, inversion
    on the final samples) — the convention review pass 2 pinned."""
    import numpy as np

    rng = random.Random(23)
    g0 = [0.0] * 576
    g1 = [0.0] * 576
    for _ in range(30):
        g0[rng.randrange(576)] = rng.uniform(-2, 2)
        g1[rng.randrange(576)] = rng.uniform(-2, 2)
    got, _ = L.spectrum_to_subbands([g0, g1])

    def alias(x):
        x = np.array(x, dtype=float)
        cs, ca = np.array(L._CS), np.array(L._CA)
        for sb in range(1, 32):
            lo = x[18 * sb - 1 - np.arange(8)].copy()
            hi = x[18 * sb + np.arange(8)].copy()
            x[18 * sb - 1 - np.arange(8)] = lo * cs - hi * ca
            x[18 * sb + np.arange(8)] = hi * cs + lo * ca
        return x

    n = 36
    i = np.arange(36)
    k = np.arange(18)
    cosm = np.cos(np.pi / (2 * n) * np.outer(2 * i + 1 + n // 2, 2 * k + 1))
    win = np.sin(np.pi / 36 * (i + 0.5))
    xa0, xa1 = alias(g0), alias(g1)
    for sb in range(32):
        t0 = (cosm @ xa0[18 * sb:18 * (sb + 1)]) * win
        t1 = (cosm @ xa1[18 * sb:18 * (sb + 1)]) * win
        s0 = t0[:18].copy()
        s1 = t1[:18] + t0[18:]  # overlap-add FIRST
        if sb % 2 == 1:
            s0[1::2] *= -1  # inversion on the FINAL samples
            s1[1::2] *= -1
        assert np.allclose(got[0][sb], s0, atol=1e-12), sb
        assert np.allclose(got[1][sb], s1, atol=1e-12), sb


# ---------------------------------------------------------------------------
# scfsi-shared scalefactors (round 12 widening)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("sc,scfsi", [
    (4, 0b1000), (9, 0b0101), (15, 0b1111), (7, 0b0010), (0, 0b1111),
])
def test_scfsi_shared_scalefactors_decode(sc, scfsi):
    """A frame with transmitted (all-zero) scalefactors and scfsi-
    shared granule-1 groups decodes to the same spectra as the plain
    frame, with per-granule part2_3_length accounting for exactly the
    shared groups' bits (independent restatement of §2.4.2.7)."""
    bins = [(26, 1), (45, -1), (100, 1)]
    plain = L.decode_frame_spectrum(L.encode_tone_frame(bins))
    frame = L.encode_tone_frame(bins, scalefac_compress=sc, scfsi=scfsi)
    assert L.decode_frame_spectrum(frame) == plain
    si = L.parse_side_info(frame)
    assert si["scfsi"] == scfsi
    slen1, slen2 = L._SLEN1[sc], L._SLEN2[sc]
    group_bits = [6 * slen1, 5 * slen1, 5 * slen2, 5 * slen2]
    huff = 26 * 4 + 3
    assert si["granules"][0]["part2_3_length"] == sum(group_bits) + huff
    g1_expected = huff + sum(
        gb for k, gb in enumerate(group_bits) if not (scfsi >> (3 - k)) & 1
    )
    assert si["granules"][1]["part2_3_length"] == g1_expected


def test_scfsi_nonzero_restated_scalefactor_still_gaps():
    """Sharing widens the PARSE; applying nonzero values still needs
    the band-width tables — flip one granule-1 transmitted scalefactor
    bit and the gap must fire."""
    frame = bytearray(
        L.encode_tone_frame([(26, 1)], scalefac_compress=9, scfsi=0b1000)
    )
    si = L.parse_side_info(bytes(frame))
    # granule 1's first TRANSMITTED group is group 1 (group 0 shared):
    # its first slen1 bit sits right after granule 0's part2_3 bits
    g1_start = (
        si["main_data_offset_bits"]
        + si["granules"][0]["part2_3_length"]
    )
    frame[g1_start // 8] |= 1 << (7 - (g1_start % 8))
    with pytest.raises(L.Mp3DataGap, match="band-width"):
        L.decode_frame_spectrum(bytes(frame))


def test_scfsi_fixture_variants_keep_the_closed_form():
    """synthesize_mp3_l3 now varies (scalefac_compress, scfsi) by text
    length; the feature kernel's closed form must hold across lengths
    covering every variant pair."""
    for n in range(0, 20):
        text = "x" * n
        f = L.decode_mp3_l3_features(L.synthesize_mp3_l3(text))
        bins = L.tone_bins_for_text(text)
        assert f[1] == float(len(bins)) and f[5] == 210.0, n


@given(
    st.lists(
        st.tuples(st.integers(0, 575), st.sampled_from([1, -1])),
        max_size=16,
        unique_by=lambda t: t[0],
    ),
    st.integers(0, 15),
    st.integers(0, 15),
)
@settings(max_examples=60, deadline=None)
def test_encode_decode_inversion_with_scfsi(bins, sc, scfsi):
    frame = L.encode_tone_frame(bins, scalefac_compress=sc, scfsi=scfsi)
    g0, g1 = L.decode_frame_spectrum(frame)
    assert g0 == g1
    expected = [0.0] * 576
    for b, s in bins:
        expected[b] = float(s)
    assert g0 == expected
