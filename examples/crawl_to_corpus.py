"""Worked example: a web crawl in WARC form → validated, quarantined,
curated corpus — the ingestion story a Common Crawl-scale pipeline
runs, exercising the round-9/10 crawl surfaces end to end against the
bundled test data.

    python examples/crawl_to_corpus.py [sf_dir] [out_dir]

Stages (each is the 100 TB-shaped operator documented in its module):

1. CRAWL FIXTURE: the documents table is republished as a RAW crawl —
   multi-member ``.warc.gz`` shards of HTTP ``response`` records whose
   HTML pages vary charset (utf-8/latin-1/utf-16) and transport
   (identity/gzip/br/zstd/chunked/compress — round 11 decodes the
   br/zstd bodies, round 12 LZW) per document, with one document in
   five served as an ``application/pdf`` page (round 12,
   ``sources/pdf.py``) (``sources/html.py html_crawl_shard_bytes``;
   bytes built and written by executors, never gathered on the
   driver).  One shard is deliberately truncated, and two extra
   records carry an sdch-encoded body (the withdrawn coding that IS
   still unsupported — LZW 'compress' decodes since round 12) and a
   corrupt HTTP message, standing in for the dirty fraction every
   real crawl carries.
2. INGESTION: ``read_warc`` — a ``binaryFile`` scan (one file = one
   task; crawl parallelism is file-count parallelism) fanned out to
   records in one Arrow pass.
3. FILE-LEVEL QUARANTINE: the truncated shard becomes a quarantine ROW
   with its parser's reason (byte offset included), not a dead job.
4. THE WET STEP + RECORD-LEVEL QUARANTINE: ``audit_http_extractions``
   classifies every response record (ok / corrupt /
   unsupported_encoding / non_200) and extracts visible text through
   HTTP decoding, charset detection, and tag stripping — or, for
   ``application/pdf`` records, the stdlib PDF parser;
   ``warc_responses_to_documents`` is the clean feed.
4b. URL CURATION: per-domain audit (``operators/urls.py
   per_domain_stats``), canonical-URL dedup (``dedup_by_url`` — the
   cheap tier before content near-dedup), and the per-domain page cap
   (``cap_per_domain``).
4c. GOVERNANCE: RFC 9309 robots compliance audit
   (``sources/robots.py audit_robots_compliance``) — disallowed pages
   counted with their deciding rule and excluded (the set a takedown
   pass would retract).
4d. RECRAWL PLANNING (round 11): a sitemapindex fans out to its child
   sitemaps (one gzipped, lastmods with fractional seconds), and
   ``plan_recrawl`` diffs the entries against the held corpus into
   new / refresh / current / unknown actions.
5. MODALITY AUDIT: the same documents synthesized as mp4/mp3 payloads
   run through ``containers.audit_payload_parses`` — the row-level
   quarantine router over the container parsers.
6. CURATION: the extracted text feeds ``pipelines.curate_documents``
   (PII redaction → quality/language features → filters → MinHash/LSH
   near-dedup → content-hash split) — the crawl is now a training
   corpus.

Everything is deterministic (content-derived record ids, hash-keyed
decisions, no RNG state); rerunning reproduces every row and count.
"""

from __future__ import annotations

import glob
import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark import pipelines
from mapreduce_framework_for_mergesort_spark.io import load_table
from mapreduce_framework_for_mergesort_spark.session import get_spark
from mapreduce_framework_for_mergesort_spark.sources import containers as CT
from mapreduce_framework_for_mergesort_spark.sources import html as H
from mapreduce_framework_for_mergesort_spark.sources import multimodal as M
from mapreduce_framework_for_mergesort_spark.sources import warc as W


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/msfs_crawl_demo"
    spark = get_spark(app_name="example-crawl-to-corpus")
    spark.sparkContext.setLogLevel("ERROR")

    crawl_dir = os.path.join(out_dir, "crawl")
    os.makedirs(crawl_dir, exist_ok=True)
    for old in glob.glob(os.path.join(crawl_dir, "*.warc*")):
        os.remove(old)

    # 1. republish the corpus as a RAW crawl of HTTP response records:
    # executor-built .warc.gz shards (foreachPartition writes each
    # task's shards; on an object store the same bytes go through the
    # store's committer)
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()

    def write_shards(rows) -> None:
        for r in rows:
            p = os.path.join(crawl_dir, f"shard-{r['shard_id']:04d}.warc.gz")
            with open(p, "wb") as f:
                f.write(bytes(r["data"]))

    H.html_crawl_shard_bytes(docs, n_shards=8).foreachPartition(write_shards)

    # ...one truncated shard, one 'sdch' body, one corrupt HTTP
    # message — the dirty fraction every real crawl carries.
    # (Round 11 closed br/zstd; round 12 closed LZW 'compress' — the
    # % 8 transport variants of the 8 main shards exercise all of
    # them — so the planted codec seam now uses sdch, the withdrawn
    # shared-dictionary coding with no public spec'd dictionary
    # transport, which is genuinely unsupported.)
    good = W.synthesize_warc([("resource", "urn:doc:corrupt", b"oops")])
    with open(os.path.join(crawl_dir, "shard-corrupt.warc.gz"), "wb") as f:
        f.write(good[:-6])  # truncated mid-terminator
    page = H.synthesize_html(10**9, "unreachable sdch page")
    dirty = W.synthesize_warc([
        ("response", "http://crawl.test/doc/1000000000",
         H.synthesize_http_response(page, content_encoding="sdch")),
        ("response", "http://crawl.test/doc/1000000001",
         b"HTTP/1.1 not a real message"),
    ])
    with open(os.path.join(crawl_dir, "shard-dirty.warc.gz"), "wb") as f:
        f.write(dirty)

    # 2+3. ingest with file-level quarantine: parse each file in a
    # try/except Arrow pass so the truncated shard becomes a quarantine
    # ROW, not a dead job
    import pandas as pd

    files = (
        spark.read.format("binaryFile")
        .load(os.path.join(crawl_dir, "*.warc.gz"))
        .select("path", "content")
    )

    def parse_or_quarantine(batches):
        for pdf in batches:
            out = {"path": [], "ok": [], "err": [], "n_records": []}
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    n = len(W.parse_warc(bytes(content)))
                    out["ok"].append(True)
                    out["err"].append(None)
                    out["n_records"].append(n)
                except ValueError as ex:
                    out["ok"].append(False)
                    out["err"].append(str(ex)[:200])
                    out["n_records"].append(0)
                out["path"].append(path)
            yield pd.DataFrame(out)

    audit = files.mapInPandas(
        parse_or_quarantine, "path string, ok boolean, err string, n_records int"
    )
    quarantined = audit.where(~F.col("ok")).collect()
    clean_paths = sorted(r["path"] for r in audit.where("ok").collect())
    print(f"crawl files: {len(clean_paths)} clean, "
          f"{len(quarantined)} quarantined")
    for r in quarantined:
        print("  quarantined:", os.path.basename(r["path"]), "--", r["err"])
    assert len(quarantined) == 1

    records = W.read_warc(
        spark, os.path.join(crawl_dir, "shard-0*.warc.gz")
    ).unionByName(
        W.read_warc(spark, os.path.join(crawl_dir, "shard-dirty.warc.gz"))
    )

    # 4. the WET step with record-level quarantine: every response
    # record classified; unsupported-codec/corrupt are COUNTED with
    # reasons, the ok rows carry extracted visible text
    http_audit = H.audit_http_extractions(records)
    classes = {
        r["extract_class"]: r["n"]
        for r in http_audit.groupBy("extract_class")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    print("http extraction classes:", json.dumps(classes, sort_keys=True))
    assert classes.get("unsupported_encoding") == 1  # the sdch record
    assert classes.get("corrupt") == 1
    assert classes.get("ok") == n_docs

    extracted = H.warc_responses_to_documents(records)
    n_rec = extracted.count()
    print(f"documents extracted from crawl: {n_rec} (source {n_docs})")
    assert n_rec == n_docs

    # 4b. URL-level curation (round 10, operators/urls.py): site-grain
    # audit, then the cheap canonical-url dedup tier that runs BEFORE
    # content near-dedup (recrawls and tracking variants collapse for
    # the cost of one hash aggregation) and the per-domain page cap
    from mapreduce_framework_for_mergesort_spark.operators import urls as U

    dom = (
        U.per_domain_stats(extracted)
        .orderBy(F.desc("n_pages"))
        .limit(3)
        .collect()
    )
    print("top domains:",
          [(r["domain"], r["n_pages"], r["n_urls"]) for r in dom])
    url_deduped = U.cap_per_domain(
        U.dedup_by_url(extracted, order_col="record_idx"),
        k=max(16, n_docs),  # demo corpus is one domain; cap stays loose
        order_col="record_idx",
    )

    # 4c. GOVERNANCE: re-judge every crawled URL against its host's
    # robots.txt (RFC 9309) — the retro-compliance audit whose
    # disallowed set would feed retract_documents.  The demo host
    # disallows /doc/ ids ending in 7 via a wildcard rule.
    from mapreduce_framework_for_mergesort_spark.sources import (
        robots as RB,
    )

    robots_tbl = spark.createDataFrame(
        [("crawl.test",
          "User-agent: *\nDisallow: /doc/*7$\nCrawl-delay: 1\n")],
        "host string, robots_txt string",
    )
    audit7 = RB.audit_robots_compliance(
        url_deduped, robots_tbl, agent="msfs-demo-bot"
    )
    disallowed = audit7.where(~F.col("allowed"))
    n_dis = disallowed.count()
    print(f"robots compliance: {n_dis} of {n_docs} pages disallowed "
          f"for msfs-demo-bot (rule '/doc/*7$')")
    assert n_dis == docs.where(F.col("doc_id") % 10 == 7).count()
    url_deduped = url_deduped.join(
        disallowed.select("url"), "url", "anti"
    )

    # 4d. RECRAWL PLANNING (round 11): the host publishes a
    # sitemapindex whose children include a GZIPPED sitemap and
    # fractional-second lastmods — fan out the index, fan out the
    # children it names, then diff freshness against what we hold.
    import gzip as _gzip

    index_xml = (
        '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<sitemap><loc>http://crawl.test/sitemap-a.xml</loc></sitemap>"
        "<sitemap><loc>http://crawl.test/sitemap-b.xml.gz</loc></sitemap>"
        "</sitemapindex>"
    )
    child_a = (
        "<urlset>"
        "<url><loc>http://crawl.test/doc/0</loc>"
        "<lastmod>2026-01-01T00:00:00.000Z</lastmod></url>"
        "<url><loc>http://crawl.test/doc/brand-new</loc></url>"
        "</urlset>"
    )
    child_b_gz = _gzip.compress(
        b"<urlset><url><loc>http://crawl.test/doc/1</loc>"
        b"<lastmod>2020-01-01</lastmod></url></urlset>"
    )
    idx_rows = RB.sitemap_urls(
        spark.createDataFrame(
            [("crawl.test", index_xml)], "host string, sitemap_xml string"
        )
    )
    n_children = idx_rows.count()  # the index names the child maps
    children = spark.createDataFrame(
        [("crawl.test", bytearray(child_a.encode())),
         ("crawl.test", bytearray(child_b_gz))],
        "host string, sitemap_xml binary",
    )
    entries = RB.sitemap_urls(children)
    held = url_deduped.select(
        "url", F.lit("2025-06-01 00:00:00").alias("fetched_at")
    )
    plan = RB.plan_recrawl(entries, held, fetched_at_col="fetched_at")
    by_action = {
        r["action"]: r["n"]
        for r in plan.groupBy("action").agg(F.count("*").alias("n"))
        .collect()
    }
    print(f"recrawl plan (from {n_children}-child sitemapindex):",
          sorted(by_action.items()))
    # doc/0 carries a 2026 fractional lastmod -> refresh; the gzipped
    # child's doc/1 is older than our fetch -> current; the unlisted
    # page is new
    assert by_action.get("new") == 1
    assert by_action.get("refresh", 0) >= 1
    assert by_action.get("current", 0) >= 1

    recovered = url_deduped.select(
        F.element_at(F.split("url", "/"), -1).cast("long").alias("doc_id"),
        "text",
    )

    # 5. row-level modality audit over the same docs as mp4/mp3
    binarized = M.binarize(docs.limit(200), "audio_mp4").unionByName(
        M.binarize(docs.limit(200), "audio_mp3")
    )
    counts = (
        CT.audit_payload_parses(binarized)
        .groupBy("modality", "parse_ok")
        .count()
        .collect()
    )
    print("modality parse audit:",
          sorted((r["modality"], r["parse_ok"], r["count"]) for r in counts))

    # 6. curate the extracted crawl text into a training corpus
    curated = pipelines.curate_documents(recovered)
    per_split = {
        r["split"]: r["n"]
        for r in curated.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    print("curated corpus:", json.dumps(per_split, sort_keys=True),
          f"({sum(per_split.values())} docs from {n_rec} crawl records)")


if __name__ == "__main__":
    main()
