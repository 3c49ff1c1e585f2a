"""Content-coding decoders (``sources/encodings.py``), through the
public functions only: every body the Arrow/zlib/LZW encoders produce
decodes back byte-for-byte; a legal body over the output cap raises
"exceeds cap"; damaged input raises "corrupt"."""

from __future__ import annotations

import gzip
import random
import zlib

import pyarrow as pa
import pytest

from mapreduce_framework_for_mergesort_spark.sources import encodings as E
from tests import references as R


def _compress(data: bytes, level: int = 5, codec: str = "brotli") -> bytes:
    if codec == "gzip":
        return gzip.compress(data, compresslevel=level)
    return pa.Codec(codec, compression_level=level).compress(
        data, asbytes=True
    )


_SAMPLES = {
    "empty": b"",
    "one": b"a",
    "text": b"The quick brown fox jumps over the lazy dog. " * 80,
    "html": b"<html><body>" + b"<p>some paragraph text</p>" * 300
    + b"</body></html>",
    "runs": b"abcabcabc" * 2000,
    "random": bytes(random.Random(42).randrange(256) for _ in range(8192)),
    "utf8": ("héllo wörld — ünïcödé " * 400).encode(),
    "sawtooth": bytes((i * 7) % 256 for i in range(30000)),
}

_TOKEN = {"brotli": "br", "zstd": "zstd", "gzip": "gzip"}


@pytest.mark.parametrize("name", sorted(_SAMPLES))
@pytest.mark.parametrize(
    "codec,level",
    [("brotli", 1), ("brotli", 5), ("brotli", 11),
     ("zstd", 1), ("zstd", 3), ("zstd", 9),
     ("gzip", 1), ("gzip", 3), ("gzip", 9)],
)
def test_round_trip(codec, level, name):
    data = _SAMPLES[name]
    body = _compress(data, level, codec)
    assert E.decode_content_coding(_TOKEN[codec], body) == data


def test_over_cap_raises_and_cap_is_inclusive(monkeypatch):
    """A LEGAL body one byte over ``max_output`` raises; one at it
    decodes — for every capped coding, through the module cap."""
    data = _SAMPLES["runs"]
    n = len(data)
    bodies = {
        "br": _compress(data),
        "zstd": _compress(data, 3, "zstd"),
        "gzip": _compress(data, 6, "gzip"),
        "deflate": zlib.compress(data),
        "compress": E.encode_lzw(data),
    }
    for token, body in bodies.items():
        monkeypatch.setattr(E, "MAX_OUTPUT", n)
        assert E.decode_content_coding(token, body) == data, token
        monkeypatch.setattr(E, "MAX_OUTPUT", n - 1)
        with pytest.raises(ValueError, match="exceeds cap"):
            E.decode_content_coding(token, body)
    with pytest.raises(ValueError, match="exceeds cap"):
        E.brotli_decompress(bodies["br"], max_output=16)
    with pytest.raises(ValueError, match="exceeds cap"):
        E.zstd_decompress(bodies["zstd"], max_output=16)


@pytest.mark.parametrize("codec", ["brotli", "zstd"])
def test_damaged_input_is_corrupt(codec):
    decode = E.brotli_decompress if codec == "brotli" else E.zstd_decompress
    body = _compress(_SAMPLES["text"], 5, codec)
    for bad in (
        b"\xff\xff\xff\xffdefinitely not compressed" * 3,  # garbage
        body[: len(body) // 2],  # truncated
        body + b"trailing junk",  # trailing junk
    ):
        with pytest.raises(ValueError, match=f"corrupt {codec} data"):
            decode(bad)


def test_empty_body_decodes_to_empty():
    for token in ("br", "zstd", "identity"):
        assert E.decode_content_coding(token, b"") == b""
    assert E.brotli_decompress(_compress(b"")) == b""
    assert E.zstd_decompress(_compress(b"", 3, "zstd")) == b""


def test_zstd_multi_frame_concatenation():
    """A legal multi-frame concatenation decodes whole, and a skippable
    frame (RFC 8878 §3.1.2) between frames is skipped."""
    multi = _compress(b"first frame ", 3, "zstd") + _compress(
        b"second frame", 3, "zstd"
    )
    assert E.zstd_decompress(multi) == b"first frame second frame"
    skip = b"\x50\x2a\x4d\x18" + (5).to_bytes(4, "little") + b"skip!"
    assert (
        E.zstd_decompress(
            _compress(b"a", 3, "zstd") + skip + _compress(b"b", 3, "zstd")
        )
        == b"ab"
    )


def test_differential_fuzz_vs_arrow_multi_metablock():
    """Seeded differential fuzz: bodies long and varied enough to
    span many brotli meta-blocks and several stream-read refills decode
    to the input, byte-equal to Arrow's one-shot sized decode."""
    words = [b"the", b"data", b"pipeline", b"spark", b"row", b" ", b"\n"]
    for seed in (3, 7, 11, 19, 26):
        rng = random.Random(seed)
        parts = []
        for _ in range(rng.randrange(1, 30)):
            if rng.random() < 0.5:
                parts.append(rng.randbytes(rng.randrange(5000)))
            else:
                parts.append(rng.choice(words) * rng.randrange(1000))
        data = b"".join(parts)
        for codec, lvl in (("brotli", 1), ("brotli", 11), ("zstd", 3)):
            comp = _compress(data, lvl, codec)
            one_shot = pa.Codec(codec).decompress(
                comp, len(data), asbytes=True
            )
            decode = (
                E.brotli_decompress if codec == "brotli"
                else E.zstd_decompress
            )
            assert decode(comp) == one_shot == data, (seed, codec, lvl)


# ---------------------------------------------------------------------------
# LZW / compress(1) .Z (round 12)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("maxbits", [9, 10, 12, 14, 16])
def test_lzw_roundtrip_all_samples(maxbits):
    for name, data in _SAMPLES.items():
        z = R.encode_lzw(data, maxbits)
        assert z[:2] == E.LZW_MAGIC and z[2] == (0x80 | maxbits)
        assert E.decode_lzw(z) == data, (name, maxbits)
        if maxbits == 16:  # the package encoder's one width
            assert E.encode_lzw(data) == z, name


@pytest.mark.parametrize("maxbits", [9, 10, 12, 16])
def test_lzw_cross_pinned_against_system_uncompress(maxbits):
    """The strongest available pin: gzip's unlzw (the deployed .Z
    decoder) must read every house-encoded stream byte-for-byte —
    this is what validates the unit-padding convention AND the
    maxbits==9 ten-bit bug-compat empirically."""
    import shutil
    import subprocess
    import tempfile

    if shutil.which("gzip") is None:
        pytest.skip("no system gzip")
    for name, data in _SAMPLES.items():
        z = R.encode_lzw(data, maxbits)
        with tempfile.NamedTemporaryFile(suffix=".Z", delete=False) as f:
            f.write(z)
            p = f.name
        try:
            r = subprocess.run(["gzip", "-dc", p], capture_output=True)
        finally:
            import os as _os

            _os.unlink(p)
        assert r.returncode == 0, (name, maxbits, r.stderr[:120])
        assert r.stdout == data, (name, maxbits)


def test_lzw_hand_built_stream():
    """A stream packed by hand (no house encoder involved): 9-bit
    LSB-first literals, a CLEAR with unit padding, a post-clear
    KwKwK — decoded output is a construction."""

    def pack(codes, w=9):
        buf = cnt = 0
        out = bytearray()
        for c in codes:
            buf |= c << cnt
            cnt += w
            while cnt >= 8:
                out.append(buf & 0xFF)
                buf >>= 8
                cnt -= 8
        if cnt:
            out.append(buf & 0xFF)
        return bytes(out)

    hdr = bytes((0x1F, 0x9D, 0x89))
    # 'ab' + entry257('ab') => 'abab'
    assert E.decode_lzw(hdr + pack([97, 98, 257])) == b"abab"
    # KwKwK: 'a' + code257 (being defined) = 'aa' => 'aaa'
    assert E.decode_lzw(hdr + pack([97, 257])) == b"aaa"
    # 7 literals + CLEAR fill exactly one 9-byte unit (no pad), then
    # a fresh start: d e <257='de'>
    codes = [97] * 7 + [256, 100, 101, 257]
    assert E.decode_lzw(hdr + pack(codes)) == b"aaaaaaadede"


def test_lzw_corrupt_is_loud():
    with pytest.raises(ValueError, match="magic"):
        E.decode_lzw(b"\x1f\x8b\x08not lzw")
    with pytest.raises(ValueError, match="width"):
        E.decode_lzw(bytes((0x1F, 0x9D, 0x88)))  # maxbits=8 invalid
    # a code referencing a never-defined entry
    def pack(codes, w=9):
        buf = cnt = 0
        out = bytearray()
        for c in codes:
            buf |= c << cnt
            cnt += w
            while cnt >= 8:
                out.append(buf & 0xFF)
                buf >>= 8
                cnt -= 8
        if cnt:
            out.append(buf & 0xFF)
        return bytes(out)

    with pytest.raises(ValueError, match="out of range"):
        E.decode_lzw(bytes((0x1F, 0x9D, 0x89)) + pack([97, 400]))
    with pytest.raises(ValueError, match="literal"):
        E.decode_lzw(bytes((0x1F, 0x9D, 0x89)) + pack([300, 97]))
    # output cap honored
    big = E.encode_lzw(b"x" * 100000)
    with pytest.raises(ValueError, match="cap"):
        E.decode_lzw(big, max_output=1000)


def test_lzw_empty_and_boundary():
    assert E.decode_lzw(E.encode_lzw(b"")) == b""
    assert E.decode_lzw(E.encode_lzw(b"\x00")) == b"\x00"
    assert E.decode_lzw(E.encode_lzw(bytes(range(256)))) == bytes(
        range(256)
    )


def test_decode_content_coding_tokens():
    body = b"chained body " * 50
    for token in ("gzip", "x-gzip"):
        assert E.decode_content_coding(token, gzip.compress(body)) == body
    assert E.decode_content_coding("deflate", zlib.compress(body)) == body
    raw = zlib.compressobj(wbits=-zlib.MAX_WBITS)
    assert (
        E.decode_content_coding("deflate", raw.compress(body) + raw.flush())
        == body
    )
    assert E.decode_content_coding("br", _compress(body)) == body
    assert E.decode_content_coding("zstd", _compress(body, 3, "zstd")) == body
    assert E.decode_content_coding("identity", body) == body
    assert (
        E.decode_content_coding("compress", E.encode_lzw(body)) == body
    )
    assert (
        E.decode_content_coding("x-compress", E.encode_lzw(body)) == body
    )
    with pytest.raises(NotImplementedError):
        E.decode_content_coding("sdch", body)


def test_gzip_members_and_bomb(monkeypatch):
    """gzip decodes EVERY member (servers that flush mid-response emit
    one member per flush); the cap spans all members, so a small bomb
    — or members each under the cap but over it together — raises."""
    a, b = b"first flushed half; ", b"second half of the page"
    assert E.decode_content_coding(
        "gzip", gzip.compress(a) + gzip.compress(b)
    ) == a + b
    with pytest.raises(ValueError, match="gzip member 2"):
        E.decode_content_coding(
            "gzip", gzip.compress(a) + gzip.compress(b) + b"junk"
        )
    monkeypatch.setattr(E, "MAX_OUTPUT", 1 << 16)
    bomb = gzip.compress(bytes(1 << 20), compresslevel=9)
    assert len(bomb) < 2048
    with pytest.raises(ValueError, match="exceeds cap"):
        E.decode_content_coding("gzip", bomb)
    with pytest.raises(ValueError, match="exceeds cap"):
        E.decode_content_coding("deflate", zlib.compress(bytes(1 << 20), 9))
    half = gzip.compress(bytes(40_000))
    with pytest.raises(ValueError, match="exceeds cap"):
        E.decode_content_coding("gzip", half + half)


def test_warc_container_walk_is_uncapped(monkeypatch):
    """The HTTP cap bounds one response body, not a whole ``.warc.gz``
    file, which legitimately inflates past it."""
    from mapreduce_framework_for_mergesort_spark.sources import warc as W

    blob = W.synthesize_warc(
        [("resource", f"http://t/{i}", b"x" * 500) for i in range(8)]
    )
    monkeypatch.setattr(E, "MAX_OUTPUT", 1000)
    assert len(W.parse_warc(blob)) == 8


def test_http_chain_and_warc_integration():
    """The WARC decode half walks a multi-coding chain right-to-left."""
    from mapreduce_framework_for_mergesort_spark.sources import warc as W

    body = b"<html><body><p>page</p></body></html>"
    # gzip applied AFTER br: header lists 'br, gzip' in application
    # order; decode must invert right-to-left
    double = _compress(_compress(body), 6, "gzip")
    headers = {"content-encoding": "br, gzip"}
    assert W._decode_http_body(headers, double) == body
    # corrupt br classifies as ValueError (structural damage)
    with pytest.raises(ValueError, match="corrupt br body"):
        W._decode_http_body({"content-encoding": "br"}, b"\xff\xffjunk")
