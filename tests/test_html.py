"""HTML→text extraction (sources/html.py) — the WET step.  Same
strategy as the other byte-level sources: unit kernels (charset sniff,
tag strip, HTTP classify), independent hand-built fixtures, the
quarantine router over a mixed good/br/corrupt crawl, and the Spark
end-to-end chain (pages → HTTP → WARC shards → read_warc → extraction)
pinned against DuckDB-recomputable closed forms.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mapreduce_framework_for_mergesort_spark.sources import html as H
from mapreduce_framework_for_mergesort_spark.sources import warc as W
from tests import references as R

# ---------------------------------------------------------------------------
# charset detection
# ---------------------------------------------------------------------------


def test_sniff_order_bom_header_meta_default():
    body_meta = b'<html><head><meta charset="ISO-8859-2"><body>x'
    # BOM beats everything
    assert H.sniff_charset("text/html; charset=latin-1",
                           "﻿x".encode("utf-16")) == ("utf-16", "bom")
    assert H.sniff_charset(None, b"\xef\xbb\xbfhello") == ("utf-8-sig", "bom")
    assert H.sniff_charset(None, "x".encode("utf-32")) == ("utf-32", "bom")
    # header beats meta
    assert H.sniff_charset("text/html; charset=latin-1", body_meta) == (
        "latin-1", "header")
    # meta beats default
    assert H.sniff_charset("text/html", body_meta) == ("ISO-8859-2", "meta")
    assert H.sniff_charset(None, body_meta) == ("ISO-8859-2", "meta")
    # http-equiv form
    eq = (b'<meta http-equiv="Content-Type" '
          b'content="text/html; charset=windows-1252">')
    assert H.sniff_charset(None, eq) == ("windows-1252", "meta")
    # default
    assert H.sniff_charset("text/html", b"<html>plain") == (
        "utf-8", "default")


def test_junk_charset_labels_fall_through():
    # junk header label -> meta wins; junk meta -> default; crawls are
    # full of charset=yes / charset=utf8;q=0 style garbage
    body = b'<meta charset="not-a-real-codec-xx"><p>hi'
    assert H.sniff_charset("text/html; charset=b0gus::", body) == (
        "utf-8", "default")
    text, label = H.decode_html_bytes("text/html; charset=b0gus::", b"caf\xc3\xa9")
    assert (text, label) == ("café", "utf-8")


def test_decode_replaces_never_raises():
    text, label = H.decode_html_bytes("text/html", b"ok \xff\xfe\xff bad")
    assert label == "utf-8" and "�" in text and text.startswith("ok ")


# ---------------------------------------------------------------------------
# html_to_text
# ---------------------------------------------------------------------------


def test_html_to_text_strips_invisible_subtrees():
    page = (
        "<html><head><title>T</title>"
        "<style>p { color: red } /* <p>no</p> */</style>"
        '<script>var x = "<p>no</p>";</script></head>'
        "<body><p>yes</p><noscript>no</noscript>"
        "<template><p>no</p></template><div>also yes</div></body></html>"
    )
    assert H.html_to_text(page) == "T\nyes\nalso yes"


def test_html_to_text_whitespace_and_entities():
    page = "<p>  a\n\t b  &amp; c &#233; &lt;tag&gt; </p><p></p><p>d</p>"
    assert H.html_to_text(page) == "a b & c é <tag>\nd"


def test_html_to_text_blocks_vs_inline():
    page = "<div>one <b>bold</b> two</div><br>three<li>four</li>"
    assert H.html_to_text(page) == "one bold two\nthree\nfour"


def test_html_to_text_tag_soup_never_raises():
    assert H.html_to_text("</style><p>a<div <<>> b</p>") .startswith("a")
    assert H.html_to_text("") == ""
    assert H.html_to_text("<script>never closed") == ""


def test_synthesize_extract_closed_form():
    for doc_id, text in [(0, "plain words here"), (7, "x & y < z"), (4, "")]:
        for charset, with_meta in [("utf-8", True), ("latin-1", False),
                                   ("utf-16", False)]:
            page = H.synthesize_html(doc_id, text, charset, with_meta)
            ctype = ("text/html; charset=ISO-8859-1"
                     if charset == "latin-1" else "text/html")
            decoded, _ = H.decode_html_bytes(ctype, page)
            assert H.html_to_text(decoded) == H.expected_extracted_text(
                doc_id, text)


@settings(max_examples=40, deadline=None)
@given(st.text(
    alphabet=st.characters(codec="utf-8",
                           exclude_categories=("Cc", "Cs", "Zl", "Zp")),
    max_size=120,
))
def test_property_escape_extract_inverse(text):
    """escape→parse→collapse is the identity on whitespace-normal text
    (the engine's documents normal form); arbitrary text lands in the
    SAME normal form idempotently."""
    norm = " ".join(text.split())
    page = H.synthesize_html(3, norm, "utf-8", True)
    decoded, _ = H.decode_html_bytes("text/html", page)
    assert H.html_to_text(decoded) == H.expected_extracted_text(3, norm)


# ---------------------------------------------------------------------------
# HTTP classify kernel + the quarantine router
# ---------------------------------------------------------------------------


def _resp(doc_id=1, text="hello crawl", status=200, **kw):
    page = H.synthesize_html(doc_id, text, "utf-8", True)
    resp = H.synthesize_http_response(page, **kw)
    return resp.replace(b"HTTP/1.1 200", b"HTTP/1.1 %d" % status, 1)


def test_classify_ok_all_transports():
    for enc, chunked in [(None, False), ("gzip", False), (None, True),
                         ("gzip", True), ("deflate", False),
                         # round 11: the br/zstd seam is closed —
                         # these now extract, not quarantine
                         ("br", False), ("br", True), ("zstd", False),
                         ("zstd", True),
                         # round 12: LZW 'compress' decodes too
                         ("compress", False), ("compress", True)]:
        row = H._classify_and_extract(
            _resp(content_encoding=enc, chunked=chunked))
        assert row["extract_ok"] and row["extract_class"] == "ok", (enc,
                                                                    chunked)
        assert row["text"] == H.expected_extracted_text(1, "hello crawl")
        assert row["content_encoding"] == (enc or "identity")


def test_classify_unsupported_encoding_is_counted_not_raised():
    # br/zstd decode since round 11, LZW 'compress' since round 12;
    # 'sdch' (the withdrawn shared-dictionary coding real crawls still
    # contain) keeps the countable unsupported class
    row = H._classify_and_extract(_resp(content_encoding="sdch"))
    assert row["extract_class"] == "unsupported_encoding"
    assert not row["extract_ok"] and "sdch" in row["extract_err"]
    assert row["content_encoding"] == "sdch"
    assert row["http_status"] == 200


def test_classify_corrupt_br_is_corrupt_not_unsupported(monkeypatch):
    # a br header over garbage bytes is DATA damage, not a codec seam
    # (round-10 verdict: quarantine reasons unchanged for genuinely
    # corrupt rows)
    payload = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Encoding: br\r\nContent-Length: 12\r\n\r\n"
        b"\xff\xff garbage!"
    )
    row = H._classify_and_extract(payload)
    assert row["extract_class"] == "corrupt"
    assert not row["extract_ok"]
    assert row["content_encoding"] == "br"
    assert "corrupt brotli data" in row["extract_err"]
    # a LEGAL br body over the output cap is quarantined too, but its
    # reason says so instead of calling the bytes garbage
    from mapreduce_framework_for_mergesort_spark.sources import encodings as E

    big = H.synthesize_http_response(b"<p>page</p>" * 1000,
                                     content_encoding="br")
    assert H._classify_and_extract(big)["extract_ok"]
    monkeypatch.setattr(E, "MAX_OUTPUT", 1000)
    row = H._classify_and_extract(big)
    assert row["extract_class"] == "corrupt" and not row["extract_ok"]
    assert "exceeds cap" in row["extract_err"]
    assert "corrupt brotli data" not in row["extract_err"]


def test_classify_corrupt_and_non200():
    assert H._classify_and_extract(b"not http at all")[
        "extract_class"] == "corrupt"
    # truncated chunked body
    bad = _resp(chunked=True)[:-8]
    assert H._classify_and_extract(bad)["extract_class"] == "corrupt"
    row = H._classify_and_extract(_resp(status=404))
    assert row["extract_class"] == "non_200" and row["http_status"] == 404


def test_non_html_mime_skips_tag_strip():
    r = H.synthesize_http_response(b"a, b, c\n1, 2, 3",
                                   content_type="text/csv")
    row = H._classify_and_extract(r)
    assert row["extract_ok"] and row["text"] == "a, b, c\n1, 2, 3"
    assert row["mime"] == "text/csv"


def test_binary_mime_is_counted_not_mojibake():
    # round-10 review: a 200 carrying image/font bytes must not be
    # charset-decoded into a mojibake "document" tagged ok.  Round 12:
    # application/pdf left this class — damaged PDF bytes now route to
    # `corrupt` via the sources/pdf.py extractor instead
    for mime in ("image/jpeg",
                 "application/octet-stream", "font/woff2"):
        r = H.synthesize_http_response(
            b"\x89\xff\xd8\x00binary payload bytes", content_type=mime
        )
        row = H._classify_and_extract(r)
        assert not row["extract_ok"] and row["extract_class"] == "non_text"
        assert row["text"] is None and mime in row["extract_err"]
    r = H.synthesize_http_response(
        b"\x89\xff\xd8\x00binary payload bytes",
        content_type="application/pdf",
    )
    row = H._classify_and_extract(r)
    assert not row["extract_ok"] and row["extract_class"] == "corrupt"
    # structured-text application types and +xml suffixes stay text
    for mime in ("application/json", "application/xhtml+xml",
                 "image/svg+xml", "text/plain"):
        r = H.synthesize_http_response(b"payload", content_type=mime)
        assert H._classify_and_extract(r)["extract_ok"], mime


def test_audit_router_on_mixed_crawl(spark, tmp_path):
    """Round-9 verdict item 4 'done' criterion: an audit over a mixed
    fixture (ok/gzip/chunked/br/zstd/corrupt/404) quarantines exactly
    the right rows with reasons, in one pass, no job death."""
    recs = [
        ("response", "http://t/ok", _resp(10, "plain page")),
        ("response", "http://t/gz", _resp(11, "gzip page",
                                          content_encoding="gzip")),
        ("response", "http://t/br", _resp(12, "brotli page",
                                          content_encoding="br")),
        ("response", "http://t/zstd", _resp(13, "zstd page",
                                            content_encoding="zstd")),
        ("response", "http://t/lzw", _resp(14, "lzw page",
                                           content_encoding="compress")),
        ("response", "http://t/sdch", _resp(16, "sdch page",
                                            content_encoding="sdch")),
        ("response", "http://t/bad", b"HTTP/1.1 garbage"),
        ("response", "http://t/404", _resp(15, "gone", status=404)),
        ("warcinfo", None, b"software: x\r\n"),  # not a response: ignored
    ]
    (tmp_path / "mixed.warc.gz").write_bytes(W.synthesize_warc(recs))
    back = W.read_warc(spark, str(tmp_path / "*.warc.gz"))
    audit = H.audit_http_extractions(back).collect()
    by_url = {r["url"]: r for r in audit}
    assert len(audit) == 8  # warcinfo filtered out
    assert by_url["http://t/ok"]["extract_class"] == "ok"
    assert by_url["http://t/gz"]["extract_class"] == "ok"
    # round 11: br/zstd extract; round 12: LZW 'compress' extracts
    # too, and 'sdch' keeps the countable seam
    assert by_url["http://t/br"]["extract_class"] == "ok"
    assert by_url["http://t/br"]["content_encoding"] == "br"
    assert by_url["http://t/zstd"]["extract_class"] == "ok"
    assert by_url["http://t/lzw"]["extract_class"] == "ok"
    assert by_url["http://t/lzw"]["content_encoding"] == "compress"
    assert (
        by_url["http://t/sdch"]["extract_class"] == "unsupported_encoding"
    )
    assert by_url["http://t/bad"]["extract_class"] == "corrupt"
    assert "no header terminator" in by_url["http://t/bad"]["extract_err"]
    assert by_url["http://t/404"]["extract_class"] == "non_200"
    assert by_url["http://t/404"]["http_status"] == 404
    # the clean feed carries exactly the ok rows
    clean = H.warc_responses_to_documents(back).collect()
    assert sorted(r["url"] for r in clean) == [
        "http://t/br", "http://t/gz", "http://t/lzw", "http://t/ok",
        "http://t/zstd",
    ]
    assert {r["text"] for r in clean} == {
        H.expected_extracted_text(10, "plain page"),
        H.expected_extracted_text(11, "gzip page"),
        H.expected_extracted_text(12, "brotli page"),
        H.expected_extracted_text(13, "zstd page"),
        H.expected_extracted_text(14, "lzw page"),
    }


def test_crawl_shards_end_to_end_vs_duckdb(spark, sf_smoke):
    """The full WET chain at corpus grain, every (charset × transport)
    variant exercised, extracted text compared row-for-row against the
    DuckDB-computed closed form (the registry branch aggregates the
    same equality through md5 group keys)."""
    import duckdb

    from mapreduce_framework_for_mergesort_spark.io import load_table

    docs = load_table(spark, sf_smoke, "documents").limit(48)
    shards = H.html_crawl_shard_bytes(docs, n_shards=3).collect()
    blobs = {r["shard_id"]: bytes(r["data"]) for r in shards}
    # drive the extraction through the local parsers (the Spark hop is
    # test_audit_router's job); every record must extract to the form
    got = {}
    for blob in blobs.values():
        for rec in W.parse_warc(blob):
            row = H._classify_and_extract(rec["payload"])
            assert row["extract_class"] == "ok", row
            doc_id = int(rec["headers"]["warc-target-uri"].rsplit("/", 1)[1])
            got[doc_id] = row["text"]
    con = duckdb.connect()
    expected = dict(con.execute(
        "SELECT doc_id, 'doc ' || CAST(doc_id AS VARCHAR) || ' ± crawl'"
        " || chr(10) || 'heading ' || CAST(doc_id AS VARCHAR)"
        " || CASE WHEN text IS NULL OR text = '' THEN ''"
        "         ELSE chr(10) || text END"
        f" FROM read_parquet('{sf_smoke}/documents.parquet')"
        " ORDER BY doc_id LIMIT 48"
    ).fetchall())
    assert got == expected
    # all charset, transport, and format variants actually occurred
    assert {d % 3 for d in got} == {0, 1, 2}
    assert {d % 8 for d in got} == set(range(8))
    # round 12: one doc in five went through the application/pdf path
    assert {d % 5 for d in got} == set(range(5))


def test_read_warc_member_idx_is_the_seek_contract(spark, tmp_path):
    """member_idx must name the gzip member that holds each record
    (round-9 fix, now surfaced as a column): one record per member in
    the synthesized layout, so member_idx == record_idx; a
    multi-record member keeps ONE member index; plain WARC has none."""
    recs = [("resource", f"urn:r:{i}", b"x" * i) for i in range(5)]
    (tmp_path / "a.warc.gz").write_bytes(W.synthesize_warc(recs))
    rows = W.read_warc(spark, str(tmp_path / "a.warc.gz")).collect()
    assert sorted((r["record_idx"], r["member_idx"]) for r in rows) == [
        (i, i) for i in range(5)
    ]
    # one member holding all records
    one = W._gzip_member_stored(R.synthesize_warc(recs, False))
    (tmp_path / "b.warc.gz").write_bytes(one)
    rows = W.read_warc(spark, str(tmp_path / "b.warc.gz")).collect()
    assert sorted((r["record_idx"], r["member_idx"]) for r in rows) == [
        (i, 0) for i in range(5)
    ]
    # plain (non-seekable) WARC: member_idx is NULL
    (tmp_path / "c.warc").write_bytes(
        R.synthesize_warc(recs, False))
    rows = W.read_warc(spark, str(tmp_path / "c.warc")).collect()
    assert all(r["member_idx"] is None for r in rows) and len(rows) == 5


def test_crawl_feed_composes_with_continuous_ingestion(spark, tmp_path):
    """The glue contract: a crawl read through the round-10 WET chain
    feeds streaming/ingest.accept_batch, and a RECRAWL (same pages,
    second epoch) is rejected wholesale by the persisted index while
    genuinely new pages land — first-arrival-wins across crawls, the
    semantics a continuously-recrawled corpus needs."""
    import os

    from pyspark.sql import functions as F

    from mapreduce_framework_for_mergesort_spark.streaming import (
        ingest as I,
    )

    def crawl_to_batch(rows, subdir):
        d = tmp_path / subdir
        d.mkdir()
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        for r in H.html_crawl_shard_bytes(docs, n_shards=2).collect():
            with open(d / f"s-{r['shard_id']}.warc.gz", "wb") as f:
                f.write(bytes(r["data"]))
        back = W.read_warc(spark, os.path.join(str(d), "*.warc.gz"))
        ext = H.warc_responses_to_documents(back)
        return ext.select(
            F.element_at(F.split("url", "/"), -1).cast("long")
            .alias("doc_id"),
            "text",
        )

    crawl1 = [(1, "the quick brown fox jumps over a lazy dog"),
              (2, "pack my box with five dozen liquor jugs today ok"),
              (3, "sphinx of black quartz judge my vow now please")]
    out, idx = str(tmp_path / "corpus"), str(tmp_path / "index")
    I.accept_batch(crawl_to_batch(crawl1, "c1"), idx, out, epoch=1)
    assert {
        r["doc_id"] for r in I.read_corpus(spark, out).collect()
    } == {1, 2, 3}

    # recrawl: pages 1-3 again (byte-identical extractions) + two new
    crawl2 = crawl1 + [
        (4, "how vexingly quick daft zebras jump over fences"),
        (5, "the five boxing wizards jump quickly tonight again"),
    ]
    I.accept_batch(crawl_to_batch(crawl2, "c2"), idx, out, epoch=2)
    got = {r["doc_id"]: r["text"]
           for r in I.read_corpus(spark, out).collect()}
    assert set(got) == {1, 2, 3, 4, 5}  # recrawled copies rejected
    # the surviving rows carry the EXTRACTED text (charset/transport
    # round-tripped through the crawl container), not page markup
    assert got[4] == H.expected_extracted_text(
        4, "how vexingly quick daft zebras jump over fences"
    )


def test_dedup_by_url_collapses_canonical_family(spark):
    """rel=canonical is the declared-duplicate signal: pages pointing
    at one canonical collapse with it through dedup_by_url over the
    canonical column — even when the variant URLs do not normalize to
    each other."""
    from mapreduce_framework_for_mergesort_spark.operators import urls as U

    pages = [
        ("<a>", "http://ex.com/print/1", "http://ex.com/article/1",
         "<p>print view</p>"),
        ("<b>", "http://ex.com/article/1", "http://ex.com/article/1",
         "<p>the article itself</p>"),
        ("<c>", "http://ex.com/other", "http://ex.com/other",
         "<p>unrelated</p>"),
    ]
    rows = [
        ("f", i, i, "response", rid, url, W.WARC_FIXED_DATE,
         "application/http", 0,
         H.synthesize_http_response(markup.encode()))
        for i, (rid, url, _canon, markup) in enumerate(pages)
    ]
    records = spark.createDataFrame(rows, W.WARC_RECORD_SCHEMA)
    canon = spark.createDataFrame(
        [(url, canonical) for _rid, url, canonical, _m in pages],
        "url string, canonical_url string",
    )
    # the collapse: dedup over the canonical key keeps one row per
    # canonical family (record_idx order -> the print view, fetched
    # first, survives; a production pipeline orders by preference)
    docs = H.warc_responses_to_documents(records).join(canon, "url")
    survivors = sorted(
        r["url"]
        for r in U.dedup_by_url(
            docs, url_col="canonical_url", order_col="record_idx"
        ).collect()
    )
    assert survivors == ["http://ex.com/other", "http://ex.com/print/1"]
