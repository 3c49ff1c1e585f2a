"""WARC source/sink tests (round 9) — same four-layer strategy as the
mp4/mp3 container tests: synth↔parse round trips, an INDEPENDENT
hand-built fixture (literal bytes the synthesizer never emits),
adversarial corruption with loud errors, and the Spark read/sink paths.
"""

from __future__ import annotations

import gzip
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark.sources import warc as W
from tests import references as R

RECS = [
    ("warcinfo", None, b"software: msfs-engine\r\n"),
    ("response", "http://example.com/a", b"hello warc world"),
    ("resource", "http://example.com/b", b""),
    ("response", "http://example.com/c", b"\x00\xffbinary ok\r\n\r\nstill"),
]


@pytest.mark.parametrize("gz", [False, True])
def test_round_trip(gz):
    blob = R.synthesize_warc(RECS, gz)
    recs = W.parse_warc(blob)
    assert len(recs) == len(RECS)
    for (t, u, p), r in zip(RECS, recs):
        assert r["version"] == "1.1"
        assert r["headers"]["warc-type"] == t
        assert r["headers"].get("warc-target-uri") == u or u is None
        assert r["payload"] == p
        assert int(r["headers"]["content-length"]) == len(p)
        assert r["headers"]["warc-record-id"].startswith("<urn:sha256:")


def test_synthesis_is_deterministic():
    assert W.synthesize_warc(RECS) == W.synthesize_warc(RECS)


def test_gzip_members_are_individually_framed():
    """The Common Crawl layout: one record per gzip member, each
    member independently decompressible (what makes records seekable
    by byte offset at crawl scale)."""
    blob = W.synthesize_warc(RECS)
    members = W.split_gzip_members(blob)
    assert len(members) == len(RECS)
    for m in members:
        assert len(W._parse_plain_records(m)) == 1
    # each member also inflates with the plain stdlib reader
    assert gzip.decompress(blob) == b"".join(members)


def test_handmade_warc_plain_bytes():
    """Literal WARC/1.0 bytes the synthesizer never produces: version
    1.0, unusual header casing and ordering, a CRLF inside the
    payload, exact Content-Length framing."""
    payload = b"line1\r\nline2"
    raw = (
        b"WARC/1.0\r\n"
        b"content-LENGTH: " + str(len(payload)).encode() + b"\r\n"
        b"WARC-TYPE: metadata\r\n"
        b"X-Custom: anything : with colons\r\n"
        b"\r\n" + payload + b"\r\n\r\n"
    )
    (rec,) = W.parse_warc(raw)
    assert rec["version"] == "1.0"
    assert rec["headers"]["warc-type"] == "metadata"
    assert rec["headers"]["x-custom"] == "anything : with colons"
    assert rec["payload"] == payload


def test_multi_record_member_parses():
    # a single gzip member MAY carry several records — the parser
    # must not assume one-record-per-member
    plain = R.synthesize_warc(RECS, False)
    member = W._gzip_member_stored(plain)
    assert len(W.parse_warc(member)) == len(RECS)


def test_folded_header_continuation_lines():
    """WARC/1.0 inherits RFC 2822 header folding: a line starting with
    SP/HT continues the previous header's value.  Old crawls carry
    these; rejecting them quarantined whole files conformant readers
    accept (round-10 advisory)."""
    blob = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Target-URI: http://example.com/very/long\r\n"
        b"\t/folded/path\r\n"
        b"Content-Length: 2\r\n"
        b"\r\nhi\r\n\r\n"
    )
    (rec,) = W.parse_warc(blob)
    assert rec["headers"]["warc-target-uri"] == (
        "http://example.com/very/long /folded/path"
    )
    assert rec["payload"] == b"hi"
    # a continuation with no header to continue is still structural
    # damage, not silently dropped
    with pytest.raises(ValueError, match="continuation line"):
        W.parse_warc(
            b"WARC/1.0\r\n  floating\r\nContent-Length: 0\r\n\r\n\r\n\r\n"
        )


def test_corruption_is_loud():
    blob = R.synthesize_warc(RECS, False)
    with pytest.raises(ValueError, match="version line"):
        W.parse_warc(b"HTTP/1.1 200 OK\r\n\r\n\r\n\r\n")
    with pytest.raises(ValueError, match="no Content-Length"):
        W.parse_warc(b"WARC/1.1\r\nWARC-Type: x\r\n\r\n\r\n\r\n")
    with pytest.raises(ValueError, match="non-integer Content-Length"):
        W.parse_warc(b"WARC/1.1\r\nContent-Length: ten\r\n\r\n\r\n\r\n")
    with pytest.raises(ValueError, match="promises"):
        W.parse_warc(blob[:-6])  # truncated payload/terminator
    with pytest.raises(ValueError, match="terminator"):
        W.parse_warc(
            b"WARC/1.1\r\nContent-Length: 2\r\n\r\nhiXXXX"
        )
    with pytest.raises(ValueError, match="unterminated WARC header"):
        W.parse_warc(b"WARC/1.1\r\nContent-Length: 2")
    with pytest.raises(ValueError, match="malformed WARC header"):
        W.parse_warc(b"WARC/1.1\r\nNoColonHere\r\n\r\n\r\n\r\n")
    gz = W.synthesize_warc(RECS)
    with pytest.raises(ValueError, match="truncated gzip member"):
        W.parse_warc(gz[:-4])
    bad = bytearray(gz)
    bad[15] ^= 0xFF  # flip a byte inside the first member's deflate data
    with pytest.raises(ValueError, match="gzip member 0"):
        W.parse_warc(bytes(bad))


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.binary(max_size=300), min_size=1, max_size=6),
    st.booleans(),
)
def test_property_round_trip(payloads, gz):
    recs = [("resource", f"urn:p:{i}", p) for i, p in enumerate(payloads)]
    parsed = W.parse_warc(R.synthesize_warc(recs, gz))
    assert [r["payload"] for r in parsed] == payloads


def _chunked(parts: list[bytes], trailer: bytes = b"") -> bytes:
    out = b"".join(
        f"{len(p):x}".encode() + b"\r\n" + p + b"\r\n" for p in parts
    )
    return out + b"0\r\n" + trailer + b"\r\n"


def _http_extract(payload: bytes) -> tuple[int, dict, bytes]:
    """(status, headers, body) through the split/decode pair that
    ``html`` runs on every WARC response record."""
    status, headers, raw = W._http_split(payload)
    return status, headers, W._decode_http_body(headers, raw)


def test_http_response_body_plain():
    payload = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html; charset=utf-8\r\n"
        b"Content-Length: 11\r\n"
        b"\r\n"
        b"hello crawl"
    )
    status, headers, body = _http_extract(payload)
    assert status == 200
    assert headers["content-type"].startswith("text/html")
    assert body == b"hello crawl"


def test_http_response_body_chunked_and_gzip():
    raw = b"the real page text, long enough to be worth compressing" * 3
    gz = gzip.compress(raw)
    # chunked AND gzip together — de-chunk first, then decompress
    # (RFC 9112 ordering), with a chunk-extension and trailer present
    chunks = [gz[:10], gz[10:25], gz[25:]]
    body = _chunked(chunks, trailer=b"X-Trailer: ignored\r\n")
    body = body.replace(b"a\r\n" + gz[:10], b"a;ext=1\r\n" + gz[:10], 1)
    payload = (
        b"HTTP/1.1 200 OK\r\n"
        b"Transfer-Encoding: chunked\r\n"
        b"Content-Encoding: gzip\r\n"
        b"\r\n" + body
    )
    status, _h, got = _http_extract(payload)
    assert status == 200 and got == raw


def test_http_response_body_deflate_both_wrappings():
    raw = b"deflate body bytes" * 4
    for blob in (zlib.compress(raw), zlib.compress(raw)[2:-4]):  # zlib & raw
        payload = (
            b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n" + blob
        )
        assert _http_extract(payload)[2] == raw


def test_http_response_body_is_loud():
    with pytest.raises(ValueError, match="no header terminator"):
        _http_extract(b"HTTP/1.1 200 OK\r\nContent-Type: x")
    with pytest.raises(ValueError, match="status line"):
        _http_extract(b"GET / HTTP/1.1\r\n\r\n")
    with pytest.raises(ValueError, match="non-integer HTTP status"):
        _http_extract(b"HTTP/1.1 OK fine\r\n\r\n")
    # round 11: br DECODES now — garbage under a br header is data
    # damage (ValueError), and only genuinely unknown codings keep
    # the NotImplementedError seam
    with pytest.raises(ValueError, match="corrupt br body"):
        _http_extract(
            b"HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n\r\nxxx"
        )
    with pytest.raises(NotImplementedError, match="sdch"):
        _http_extract(
            b"HTTP/1.1 200 OK\r\nContent-Encoding: sdch\r\n\r\nxxx"
        )
    base = b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
    with pytest.raises(ValueError, match="bad chunk size"):
        _http_extract(base + b"zz\r\nhm\r\n0\r\n\r\n")
    with pytest.raises(ValueError, match="promises"):
        _http_extract(base + b"ff\r\nshort\r\n0\r\n\r\n")
    with pytest.raises(ValueError, match="missing its CRLF"):
        _http_extract(base + b"2\r\nhiXX0\r\n\r\n")
    with pytest.raises(ValueError, match="gzip member"):
        _http_extract(
            b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\nnot-gzip"
        )


def test_http_multi_member_gzip_body_fully_decoded():
    """Round-9 review: zlib.decompress(body, 31) silently returned
    only the FIRST gzip member — servers that flush mid-response emit
    one member per flush, and the tail of the page was lost."""
    part1, part2 = b"first flushed half; ", b"second half of the page"
    body = gzip.compress(part1) + gzip.compress(part2)
    payload = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n" + body
    )
    assert _http_extract(payload)[2] == part1 + part2
    # trailing garbage after the members is loud, not ignored
    with pytest.raises(ValueError, match="gzip member"):
        _http_extract(payload + b"trailing-junk")


def test_negative_content_length_is_loud():
    """Round-9 review: int() accepts '-4', which made body_end land
    back on the header block's own CRLFCRLF — the corrupt record was
    silently normalized to an empty one and the walk resumed inside
    its payload."""
    raw = (
        b"WARC/1.1\r\nWARC-Type: resource\r\nContent-Length: -4\r\n"
        b"\r\npayload\r\n\r\n"
    )
    with pytest.raises(ValueError, match="negative Content-Length"):
        W.parse_warc(raw)


def test_negative_or_malformed_chunk_sizes_are_loud():
    """Round-9 review: int(tok, 16) accepts '-2'/'+2'/underscores; a
    negative size mis-framed the stream (chunk end landed back on the
    size line's CRLF) and decoded corrupt input without error."""
    base = b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
    for tok in (b"-2", b"+2", b"1_0", b""):
        blob = base + tok + b"\r\n5\r\nHELLO\r\n0\r\n\r\n"
        with pytest.raises(ValueError, match="bad chunk size|no size"):
            _http_extract(blob)


def test_http_records_round_trip_through_warc():
    """The full crawl shape: WARC response records whose payloads are
    HTTP messages — parse the record, then extract the body."""
    pages = {f"http://x.test/{i}": f"page {i} body".encode() for i in range(3)}
    recs = []
    for uri, text in pages.items():
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" + text
        )
        recs.append(("response", uri, http))
    blob = W.synthesize_warc(recs)
    got = {}
    for r in W.parse_warc(blob):
        _s, _h, body = _http_extract(r["payload"])
        got[r["headers"]["warc-target-uri"]] = body
    assert got == pages


def test_read_warc_spark(spark, tmp_path):
    """The ingestion path: two .warc.gz files on disk → one records
    DataFrame, payloads byte-exact, one row per record, file
    provenance kept."""
    a = RECS[:2]
    b = RECS[2:]
    (tmp_path / "a.warc.gz").write_bytes(W.synthesize_warc(a))
    (tmp_path / "b.warc.gz").write_bytes(W.synthesize_warc(b))
    df = W.read_warc(spark, str(tmp_path / "*.warc.gz"))
    rows = sorted(
        df.collect(), key=lambda r: (r["warc_file"], r["record_idx"])
    )
    assert len(rows) == 4
    by_file: dict[str, list] = {}
    for r in rows:
        by_file.setdefault(r["warc_file"].rsplit("/", 1)[-1], []).append(r)
    for fname, recs in (("a.warc.gz", a), ("b.warc.gz", b)):
        got = by_file[fname]
        assert [bytes(r["payload"]) for r in got] == [p for _t, _u, p in recs]
        assert [r["warc_type"] for r in got] == [t for t, _u, _p in recs]
        assert all(
            r["content_length"] == len(bytes(r["payload"])) for r in got
        )


def test_warc_shard_sink_round_trip(spark, sf_smoke):
    """Sink → source round trip at corpus grain: every document comes
    back byte-exact from its shard, shard assignment is deterministic
    (doc_id % n), and shard blobs are valid multi-member gzip."""
    from mapreduce_framework_for_mergesort_spark.io import load_table

    docs = load_table(spark, sf_smoke, "documents").limit(60)
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    shards = W.warc_shard_bytes(docs, n_shards=4).collect()
    assert {r["shard_id"] for r in shards} == {
        d % 4 for d in src
    }
    got = {}
    for row in shards:
        blob = bytes(row["data"])
        assert row["n_bytes"] == len(blob)
        recs = W.parse_warc(blob)
        assert row["n_records"] == len(recs)
        prev = -1
        for r in recs:
            doc_id = int(r["headers"]["warc-target-uri"].split(":")[-1])
            assert doc_id % 4 == row["shard_id"]
            assert doc_id > prev  # ordered within shard
            prev = doc_id
            got[doc_id] = r["payload"].decode("utf-8")
    assert got == src


def test_two_phase_shard_build_is_byte_identical(spark, sf_smoke):
    """Round 12 (optimization): the shard build runs member synthesis
    at full parallelism and concatenates per shard.  Pin that each
    shard blob is BYTE-equal to a direct single-threaded
    ``synthesize_warc`` over the shard's records in doc_id order — the
    layout every existing consumer (member walk, seek contract,
    oracle) assumes."""
    from mapreduce_framework_for_mergesort_spark.io import load_table

    # deterministic subset: limit() without ordering may pick different
    # rows on each of the two evaluations below (round-13 advisory) —
    # filter by key instead so both jobs see the identical 40 docs
    all_ids = sorted(
        r["doc_id"]
        for r in load_table(spark, sf_smoke, "documents")
        .select("doc_id")
        .collect()
    )
    cutoff = all_ids[39]
    docs = load_table(spark, sf_smoke, "documents").where(
        F.col("doc_id") <= cutoff
    )
    src = sorted(
        (r["doc_id"], r["text"]) for r in docs.collect()
    )
    got = {
        r["shard_id"]: bytes(r["data"])
        for r in W.warc_shard_bytes(docs, n_shards=3).collect()
    }
    for shard in sorted(got):
        expected = W.synthesize_warc(
            [
                ("resource", f"urn:doc:{d}", (t or "").encode("utf-8"))
                for d, t in src
                if d % 3 == shard
            ],
        )
        assert got[shard] == expected


def test_republish_after_takedown_excludes_retracted(spark, tmp_path):
    """Round-9 verdict item 6: ``warc_shard_bytes`` shards whatever it
    is given, so a republished crawl is takedown-correct ONLY through
    the composition ``read_corpus`` (retraction-masked) →
    ``warc_shard_bytes`` — the same under-masking trap
    ``curate_and_shard.py`` documents for parquet.  Pin it: after
    ``retract_documents``, the republished shard bytes contain no
    retracted record (while a raw-parquet republish still would)."""
    from mapreduce_framework_for_mergesort_spark.streaming import ingest as I

    out = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(1, "keep one"), (2, "drop me please"), (3, "keep two")],
        ["doc_id", "text"],
    )
    I.accept_batch(docs, idx, out, epoch=0)
    assert I.retract_documents(spark, out, [2], "takedown-demo") is True

    def republished_ids(source) -> set:
        ids = set()
        for row in W.warc_shard_bytes(source, n_shards=2).collect():
            for rec in W.parse_warc(bytes(row["data"])):
                ids.add(int(rec["headers"]["warc-target-uri"].split(":")[-1]))
        return ids

    # the CORRECT composition: masked read -> shards exclude doc 2
    masked = I.read_corpus(spark, out).select("doc_id", "text")
    assert republished_ids(masked) == {1, 3}
    # the trap, demonstrated: a raw parquet read still carries doc 2
    raw = spark.read.parquet(out).select("doc_id", "text")
    assert republished_ids(raw) == {1, 2, 3}


def test_shard_negative_ids_and_null_text(spark):
    """Round-10 advisory pair: Spark's % is sign-preserving, so a
    negative doc_id used to produce shard_id -1 (filename
    'shard--001'); and the in-shard sort compared text on tied ids,
    raising TypeError when a text is None."""
    docs = spark.createDataFrame(
        [(-5, None), (-5, "twin"), (3, "pos"), (-1, "neg")],
        "doc_id long, text string",
    )
    shards = W.warc_shard_bytes(docs, n_shards=4).collect()
    assert all(r["shard_id"] >= 0 for r in shards)
    # pmod: -5 % 4 == 3, -1 % 4 == 3, 3 % 4 == 3 -> one shard, 4 recs
    assert [r["shard_id"] for r in shards] == [3]
    recs = W.parse_warc(bytes(shards[0]["data"]))
    assert len(recs) == 4
    # the None text republishes as an empty payload
    assert b"" in [r["payload"] for r in recs]
