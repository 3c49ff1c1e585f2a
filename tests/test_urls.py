"""URL operator tests (round 10, ``operators/urls.py``).

Three layers: rule-level unit pins (each normalization rule and its
NON-rule — what must stay unchanged), DuckDB cross-checks of the
distributed operators (dedup / per-domain stats / per-domain cap) on a
hand-built messy crawl table, and a plan pin that the whole family
stays inside whole-stage codegen (zero Python, zero UDFs).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark.operators import urls as U


def _norm(spark, url: str) -> str:
    return (
        spark.range(1)
        .select(U.normalize_url(F.lit(url)).alias("u"))
        .collect()[0]["u"]
    )


@pytest.mark.parametrize(
    "raw,expected",
    [
        # case + default port + empty path + fragment + userinfo
        ("HTTP://User:pw@WWW.Ex.COM:80#frag", "http://www.ex.com/"),
        ("https://Ex.Com:443/a", "https://ex.com/a"),
        # NON-rules: path case kept, non-default port kept
        ("http://ex.com:8080/Keep/Case", "http://ex.com:8080/Keep/Case"),
        # tracking strip + sort + empty-param drop
        (
            "http://ex.com/p?utm_source=x&b=2&&a=1&fbclid=Z&gclid=Y&ref=r",
            "http://ex.com/p?a=1&b=2",
        ),
        # query that strips to nothing loses its '?'
        ("http://ex.com/p?utm_campaign=only", "http://ex.com/p"),
        # params sort byte-lexicographically, values untouched
        ("http://ex.com/?b=UPPER&a=Mixed#x", "http://ex.com/?a=Mixed&b=UPPER"),
        # https default port on http scheme is NOT default -> kept
        ("http://ex.com:443/x", "http://ex.com:443/x"),
    ],
)
def test_normalize_rules(spark, raw, expected):
    assert _norm(spark, raw) == expected


def test_normalize_idempotent(spark):
    raws = [
        "HTTP://A.B.Co.UK:80/X?b=2&a=1#f",
        "https://ex.com/",
        "http://ex.com:8080/p?z=1",
    ]
    once = [_norm(spark, r) for r in raws]
    twice = [_norm(spark, o) for o in once]
    assert once == twice


@pytest.mark.parametrize(
    "host,domain",
    [
        ("www.shop.example.com", "example.com"),
        ("example.com", "example.com"),
        ("news.bbc.co.uk", "bbc.co.uk"),
        ("a.b.c.gov.au", "c.gov.au"),
        # co.com is not in the snapshot: plain .com default rule
        ("x.foo.co.com", "co.com"),
        ("localhost", "localhost"),
        # round 11: PSL snapshot grain (the round-10 heuristic merged
        # every *.github.io site into ONE domain — wrong grain for
        # cap_per_domain / pagerank)
        ("alice.github.io", "alice.github.io"),
        ("www.alice.github.io", "alice.github.io"),
        ("github.io", "github.io"),  # host IS a public suffix
        ("myblog.blogspot.com", "myblog.blogspot.com"),
        ("bucket.s3.amazonaws.com", "bucket.s3.amazonaws.com"),
        ("amazonaws.com", "amazonaws.com"),  # the bare SLD stays
        # wildcard rule *.ck and its !www.ck exception
        ("www.bar.foo.ck", "bar.foo.ck"),
        ("a.www.ck", "www.ck"),
        # IP literals never rewritten
        ("1.2.3.4", "1.2.3.4"),
        ("[2001:db8::1]", "[2001:db8::1]"),
        # round 12: root-label (trailing-dot) FQDNs resolve at the
        # SAME grain as the dotless form — before the fix the empty
        # rightmost label matched nothing and the default rule
        # returned the bare TLD ('com.')
        ("example.com.", "example.com"),
        ("www.shop.example.com.", "example.com"),
        ("alice.github.io.", "alice.github.io"),
    ],
)
def test_registrable_domain(spark, host, domain):
    got = (
        spark.range(1)
        .select(U.registrable_domain(F.lit(host)).alias("d"))
        .collect()[0]["d"]
    )
    assert got == domain


def _crawl_rows():
    """Messy crawl: one page under three syntactic variants, a second
    page on the same domain, two more domains (one co.uk), so every
    operator has collapses AND survivors to prove."""
    return [
        (1, "http://Blog.Ex.COM:80/post/1?utm_source=a"),
        (2, "http://blog.ex.com/post/1"),
        (3, "http://blog.ex.com/post/1#comments"),
        (4, "https://shop.ex.com/item/7?b=2&a=1"),
        (5, "https://shop.ex.com/item/7?a=1&b=2"),
        (6, "http://news.site.co.uk/story"),
        (7, "http://other.org/"),
        (8, "http://other.org"),
    ]


def test_dedup_by_url_vs_duckdb(spark):
    df = spark.createDataFrame(_crawl_rows(), "doc_id long, url string")
    got = sorted(
        (r["doc_id"], r["url"])
        for r in U.dedup_by_url(df, order_col="doc_id").collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t(doc_id BIGINT, url VARCHAR)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?)", _crawl_rows())
    # the oracle normalizes with an independent SQL reimplementation
    # of the documented rules (string ops only, no regex reuse)
    expect = con.execute(
        """
        WITH n AS (
          SELECT doc_id, url,
                 -- strip scheme/userinfo/fragment, lowercase host, drop
                 -- default port, sort+strip query (the fixture's params
                 -- are single-char keys, so lexicographic sort == list_sort)
                 lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) || '://'
                 || lower(regexp_extract(url,
                        '^[A-Za-z]+://(?:[^@/]*@)?([^:/?#]*)', 1))
                 || CASE WHEN regexp_extract(url,
                        '^[A-Za-z]+://[^/?#]*:([0-9]+)', 1)
                        IN ('', '80', '443')
                        THEN ''
                        ELSE ':' || regexp_extract(url,
                             '^[A-Za-z]+://[^/?#]*:([0-9]+)', 1) END
                 || CASE WHEN regexp_extract(url,
                        '^[A-Za-z]+://[^/?#]*([^?#]*)', 1) = ''
                        THEN '/'
                        ELSE regexp_extract(url,
                             '^[A-Za-z]+://[^/?#]*([^?#]*)', 1) END
                 || CASE WHEN length(list_aggregate(list_sort(
                        list_filter(string_split(
                            regexp_extract(url, '\\?([^#]*)', 1), '&'),
                            p -> p <> '' AND NOT regexp_matches(p,
                                 '^(utm_|fbclid|gclid|ref)'))),
                        'string_agg', '&')) > 0
                        THEN '?' || list_aggregate(list_sort(
                             list_filter(string_split(
                                 regexp_extract(url, '\\?([^#]*)', 1), '&'),
                                 p -> p <> '' AND NOT regexp_matches(p,
                                      '^(utm_|fbclid|gclid|ref)'))),
                             'string_agg', '&')
                        ELSE '' END AS uk
          FROM t
        )
        SELECT doc_id, url FROM (
          SELECT doc_id, url,
                 ROW_NUMBER() OVER (PARTITION BY uk ORDER BY doc_id, url)
                   AS rn
          FROM n
        ) WHERE rn = 1 ORDER BY doc_id
        """
    ).fetchall()
    assert got == [(d, u) for d, u in expect]
    # the collapses are the ones the fixture plants: 1/2/3 -> 1,
    # 4/5 -> 4, 7/8 -> 7
    assert [d for d, _u in got] == [1, 4, 6, 7]


def test_per_domain_stats(spark):
    df = spark.createDataFrame(_crawl_rows(), "doc_id long, url string")
    got = {
        r["domain"]: (r["n_pages"], r["n_urls"], r["n_hosts"])
        for r in U.per_domain_stats(df).collect()
    }
    assert got == {
        "ex.com": (5, 2, 2),       # blog (3 variants->1) + shop (2->1)
        "site.co.uk": (1, 1, 1),   # the co.uk rule at site grain
        "other.org": (2, 1, 1),    # '' path and '/' collapse
    }


def test_cap_per_domain(spark):
    df = spark.createDataFrame(_crawl_rows(), "doc_id long, url string")
    got = sorted(
        r["doc_id"] for r in U.cap_per_domain(df, 2, order_col="doc_id")
        .collect()
    )
    # ex.com keeps docs 1,2 (first two by doc_id); others under cap
    assert got == [1, 2, 6, 7, 8]


def test_url_family_is_pure_codegen(spark):
    df = spark.createDataFrame(_crawl_rows(), "doc_id long, url string")
    u = F.col("url")
    host = U.url_host(u)
    proj = df.select(
        U.normalize_url(u).alias("url_norm"),
        host.alias("url_host"),
        U.registrable_domain(host).alias("url_domain"),
    )
    plan = proj._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "pythonUDF" not in plan


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_URLS = st.builds(
    lambda scheme, user, host, port, path, params, frag: (
        scheme
        + "://"
        + (user + "@" if user else "")
        + host
        + port
        + path
        + ("?" + "&".join(params) if params else "")
        + frag
    ),
    st.sampled_from(["http", "HTTP", "https", "HTTPS"]),
    st.sampled_from(["", "u", "User:pw"]),
    st.sampled_from(
        ["ex.com", "WWW.Ex.COM", "a.b.co.uk", "Sub.Host.ORG", "localhost"]
    ),
    st.sampled_from(["", ":80", ":443", ":8080", ":65000"]),
    st.sampled_from(["", "/", "/A/b", "/p%20q", "/Item/9"]),
    st.lists(
        st.sampled_from(
            ["a=1", "b=2", "z=Z", "utm_source=x", "fbclid=1", "ref=r", ""]
        ),
        max_size=4,
    ),
    st.sampled_from(["", "#f", "#frag-2"]),
)


@settings(max_examples=40, deadline=None)
@given(st.lists(_URLS, min_size=1, max_size=6, unique=True))
def test_property_normalize_invariants(spark, urls):
    """For any URL from the grammar: normalization is idempotent, the
    output never carries userinfo/fragment/default-port/tracking
    params, params are sorted, and the host is lowercase."""
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = [
        r["n"] for r in df.select(
            U.normalize_url(F.col("url")).alias("n")).collect()
    ]
    twice = [
        r["n"] for r in spark.createDataFrame([(u,) for u in once],
                                              "url string")
        .select(U.normalize_url(F.col("url")).alias("n")).collect()
    ]
    assert once == twice
    for n in once:
        head, _, tail = n.partition("://")
        assert head in ("http", "https")
        assert "@" not in tail.split("/", 1)[0]
        assert "#" not in n
        authority = tail.split("/", 1)[0]
        host, _, port = authority.partition(":")
        assert host == host.lower()
        # default port FOR ITS SCHEME is stripped; the other scheme's
        # default is an ordinary non-default port and is kept
        assert not (head == "http" and port == "80")
        assert not (head == "https" and port == "443")
        if "?" in n:
            q = n.split("?", 1)[1]
            parts = q.split("&")
            assert parts == sorted(parts) and all(parts)
            assert not any(
                p.startswith(("utm_", "fbclid", "gclid", "ref="))
                for p in parts
            )


def test_curate_documents_url_tier(spark):
    """The URL tier composes into the official pipeline: canonical-URL
    variants collapse before content dedup, the per-domain cap bounds
    a link farm, and the survivors flow through to splits as usual."""
    from mapreduce_framework_for_mergesort_spark import pipelines

    texts = [
        "the quick brown fox jumps over the lazy sleeping dog",
        "please pack the box with the things that we need for the trip",
        "sphinx of black quartz judge my vow in the morning",
        "this is the story of the day when the rain would not stop falling",
        "the five boxing wizards jump quickly across the ring",
        "there are many people in the town and they all know the old way",
        "we promptly judged antique ivory buckles for the prize",
    ]
    rows = (
        # one page, three canonical-URL variants (identical text)
        [(i, f"http://Blog.Ex.COM:80/post?utm_source={i}", texts[0])
         for i in (1, 2, 3)]
        # a 5-page SEO farm on one domain, lexically distinct texts
        + [(10 + i, f"http://farm.spam/page/{i}", texts[1 + i])
           for i in range(5)]
        # one normal page elsewhere
        + [(20, "https://good.org/article", texts[6])]
    )
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    out = pipelines.curate_documents(
        df, min_quality=0.0, langs=("en",),
        url_col="url", max_pages_per_domain=2,
    )
    got = sorted(r["doc_id"] for r in out.collect())
    # variants -> 1 survivor (doc 1, min url order after normalization
    # ties broken by raw url); farm capped to 2; good page kept
    assert got == [1, 10, 11, 20]
    assert set(out.columns) >= {"doc_id", "url", "text", "split"}

    # the cap without a url column is a loud config error
    with pytest.raises(ValueError, match="requires url_col"):
        pipelines.curate_documents(df, max_pages_per_domain=2)


def test_ipv6_literal_hosts_do_not_collide(spark):
    # bracketed IPv6 authorities keep their brackets: before the fix
    # both normalized to 'http://[2001/...' and dedup_by_url silently
    # merged DIFFERENT pages (ADVICE round 11)
    a = _norm(spark, "http://[2001:db8::1]/a")
    b = _norm(spark, "http://[2001:db8::2]/a")
    assert a == "http://[2001:db8::1]/a"
    assert b == "http://[2001:db8::2]/a"
    assert a != b
    # explicit port parses and default port still strips
    assert (
        _norm(spark, "http://[2001:db8::1]:8080/a")
        == "http://[2001:db8::1]:8080/a"
    )
    assert _norm(spark, "http://[2001:db8::1]:80/a") == a
    host, port = (
        spark.range(1)
        .select(
            U.url_host(F.lit("https://u@[::1]:8443/p")).alias("h"),
            U.url_port(F.lit("https://u@[::1]:8443/p")).alias("p"),
        )
        .collect()[0]
    )
    assert host == "[::1]" and port == "8443"


def test_trailing_dot_host_collapses(spark):
    """Round 12 (VERDICT r11 wrong-item 1): `http://example.com./x`
    and `http://example.com/x` are the same page — the root-label dot
    must strip in url_host so dedup_by_url collapses the pair, and
    registrable_domain must not degrade to the bare TLD."""
    assert _norm(spark, "http://example.com./x") == "http://example.com/x"
    df = spark.createDataFrame(
        [(1, "http://example.com/x"), (2, "http://example.com./x")],
        "doc_id long, url string",
    )
    survivors = U.dedup_by_url(df, order_col="doc_id").collect()
    assert [r["doc_id"] for r in survivors] == [1]
    row = (
        spark.range(1)
        .select(
            U.url_host(F.lit("http://Example.COM./x")).alias("h"),
            U.registrable_domain(F.lit("example.com.")).alias("d"),
            U.registrable_domain(F.lit("www.shop.example.com.")).alias(
                "d2"
            ),
        )
        .collect()[0]
    )
    assert row["h"] == "example.com"
    assert row["d"] == "example.com"
    assert row["d2"] == "example.com"


# ---------------------------------------------------------------------------
# PSL (round 11, operators/psl.py)
# ---------------------------------------------------------------------------

from mapreduce_framework_for_mergesort_spark.operators import psl as P  # noqa: E402


def _psl_reference(host: str, rules) -> str:
    """Independent pure-Python reimplementation of the publicsuffix.org
    algorithm — the oracle the Spark strategies are pinned against."""
    import re as _re

    # publicsuffix.org step 1: match with the root label removed
    host = host[:-1] if host.endswith(".") else host
    if _re.match(r"^(\[.*|[0-9.]+)$", host):
        return host
    labels = host.split(".")
    n = len(labels)
    exc = [
        i for i in range(1, n + 1)
        if ".".join(labels[n - i:]) in rules.exception
    ]
    if exc:
        ps = max(exc) - 1
    else:
        ps = 1
        for i in range(1, n + 1):
            s = ".".join(labels[n - i:])
            if s in rules.exact:
                ps = max(ps, i)
            if s in rules.wildcard and n > i:
                ps = max(ps, i + 1)
    if n <= ps:
        return host
    return ".".join(labels[n - ps - 1:])


_PSL_BATTERY = [
    "www.bbc.co.uk", "bbc.co.uk", "co.uk", "uk", "example.com",
    "a.b.example.com", "alice.github.io", "www.alice.github.io",
    "github.io", "myblog.blogspot.com", "b.blogspot.co.uk",
    "bucket.s3.amazonaws.com", "s3.amazonaws.com", "amazonaws.com",
    "ec2.us-east-1.compute.amazonaws.com", "compute.amazonaws.com",
    "bar.foo.ck", "www.bar.foo.ck", "www.ck", "a.www.ck", "foo.ck",
    "ck", "localhost", "1.2.3.4", "[2001:db8::1]", "x.y.z.gov.au",
    "deep.a.b.c.d.e.example.org", "app.fly.dev", "a.pages.dev",
    # round 12: root-label FQDNs match at the dotless grain
    "example.com.", "www.bbc.co.uk.", "alice.github.io.",
]


def test_psl_expr_and_join_match_reference(spark):
    """The codegen expression == the independent Python replica on the
    full battery (wildcards, exceptions, private suffixes, IPs, hosts
    that ARE public suffixes)."""
    rules = P.load_psl_rules()
    expect = {h: _psl_reference(h, rules) for h in _PSL_BATTERY}
    df = spark.createDataFrame([(h,) for h in _PSL_BATTERY], "host string")
    got_expr = {
        r["host"]: r["d"]
        for r in df.select(
            "host", U.registrable_domain(F.col("host")).alias("d")
        ).collect()
    }
    assert got_expr == expect


def test_psl_parser_full_format():
    """The parser reads the FULL publicsuffix.org file format — the
    production swap path is 'point load_psl_rules at the real list'."""
    rules = P.parse_psl(
        "// comment\n\n"
        "com\n"
        "co.uk  // trailing junk is cut at whitespace\n"
        "*.ck\n"
        "!www.ck\n"
        "UPPER.CASE\n"
        "*\n"  # explicit default rule: a no-op
    )
    assert rules.exact == frozenset({"com", "co.uk", "upper.case"})
    assert rules.wildcard == frozenset({"ck"})
    assert rules.exception == frozenset({"www.ck"})


def test_psl_grain_feeds_domain_policy(spark):
    """The round-10 weakness, closed: per-domain policy at PSL grain.
    Three github.io sites with 2/1/1 pages must be three domains (the
    heuristic saw ONE 'github.io' with 4 pages, and a k=2 cap would
    have discarded half of GitHub Pages)."""
    rows = [
        (1, "https://alice.github.io/a"),
        (2, "https://alice.github.io/b"),
        (3, "https://bob.github.io/"),
        (4, "https://carol.github.io/x"),
        (5, "https://ex.com/1"),
        (6, "https://www.ex.com/2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {
        r["domain"]: r["n_pages"]
        for r in U.per_domain_stats(df).collect()
    }
    assert got == {
        "alice.github.io": 2,
        "bob.github.io": 1,
        "carol.github.io": 1,
        "ex.com": 2,
    }
    kept = sorted(
        r["doc_id"] for r in U.cap_per_domain(df, 1, order_col="doc_id")
        .collect()
    )
    assert kept == [1, 3, 4, 5]  # one per SITE, not one for all of github.io


# ---------------------------------------------------------------------------
# RFC 3986 §6.2.2 percent + dot-segment normalization (round 11)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "raw,expected",
    [
        # unreserved escapes decode, reserved escapes uppercase only
        ("http://ex.com/%7euser/f%2Fg", "http://ex.com/~user/f%2Fg"),
        ("http://ex.com/%7E%2d%5F%2e", "http://ex.com/~-_."),
        # bare / malformed % passes through verbatim
        ("http://ex.com/100%25%zz%4", "http://ex.com/100%25%zz%4"),
        # query escapes normalize too; %26 stays escaped (reserved)
        ("http://ex.com/p?a=%7e1&b=x%26y", "http://ex.com/p?a=~1&b=x%26y"),
        # dot segments: RFC 3986 §5.4 examples adapted
        ("http://ex.com/a/./b/../c", "http://ex.com/a/c"),
        ("http://ex.com/a/../../b", "http://ex.com/b"),
        ("http://ex.com/a/.", "http://ex.com/a/"),
        ("http://ex.com/a/..", "http://ex.com/"),
        ("http://ex.com/a//b/../c", "http://ex.com/a//c"),
        # escaped dot participates (pct runs before dot removal)
        ("http://ex.com/a/%2E%2E/b", "http://ex.com/b"),
        # NON-rules: plain paths and interior empties untouched
        ("http://ex.com/a//b/", "http://ex.com/a//b/"),
    ],
)
def test_rfc3986_normalization(spark, raw, expected):
    assert _norm(spark, raw) == expected


def test_rfc3986_idempotent_and_dedups(spark):
    raws = [
        "http://ex.com/%7euser/a/./b/../c?q=%7e",
        "http://ex.com/100%25/%2f",
        "http://ex.com/a/%2E%2E/b",
    ]
    once = [_norm(spark, r) for r in raws]
    assert once == [_norm(spark, o) for o in once]
    # %7E and ~ variants of one page collapse in dedup_by_url
    df = spark.createDataFrame(
        [
            (1, "http://ex.com/%7Ealice/"),
            (2, "http://ex.com/~alice/"),
            (3, "http://ex.com/%7ealice/"),
            (4, "http://ex.com/~bob/"),
        ],
        "doc_id long, url string",
    )
    got = sorted(
        r["doc_id"] for r in U.dedup_by_url(df, order_col="doc_id").collect()
    )
    assert got == [1, 4]


# ---------------------------------------------------------------------------
# round-12 A/B: Arrow pct/dot kernel vs the codegen fold
# ---------------------------------------------------------------------------

_RFC_PATHS = [
    "/plain/17", "/%7ea/docs/./v2/../latest%2fx", "/a/%2e%2e/c%4d",
    "/p%2f/100%25/.", "/", "/a//b/../..", "/x/%2E/y", "/%zz/bad%2",
    "/end/..", "/end/.", "/.", "/..", "/a/b/c/../../../..", "/%41%61",
]


def test_pct_dot_python_replicas_match_codegen(spark):
    """The pure-Python replicas (the Arrow kernel body) == the codegen
    folds on every path shape the RFC fixture and its edge family
    produce."""
    df = spark.createDataFrame([(p,) for p in _RFC_PATHS], "p string")
    rows = df.select(
        "p",
        U.remove_dot_segments(U.pct_normalize(F.col("p"))).alias("cg"),
    ).collect()
    for r in rows:
        assert (
            U.remove_dot_segments_py(U.pct_normalize_py(r["p"])) == r["cg"]
        ), r["p"]


# round 12 (optimization): the whole-URL-family Arrow kernel that
# q_scalar_funcs now runs — pure-Python replicas of normalize_url,
# url_host, and the PSL algorithm, pinned against the codegen
# expressions on a battery spanning every rule: userinfo, default and
# non-default ports, tracking params, fragments, pct/dot folds, root
# labels, IPv6/IPv4 literals, scheme-less strings (anchored extracts
# return '' on both sides), and PSL edge grains.
_FAMILY_BATTERY = [
    "http://RFC.Ex.ORG/u3/%7ea/docs/./v2/../latest%2fx?x=%7e&b=%2F",
    "HTTPS://Host.COM:443/a/%2e%2e/c%4d?b=2&a=1",
    "HTTP://h.co.uk:80/p%2f/100%25/.",
    "http://h.example.com./plain/55?utm_source=x&z=9&a=1#frag",
    "http://User:Pw@WWW.Shop-7.Example.CO.UK:8080/Item/7#frag",
    "https://alice.GitHub.IO/page?fbclid=ZZ&b=2",
    "http://[2001:DB8::1]:8080/x?a=1",
    "http://1.2.3.4/y",
    "http://www.ck/z",
    "http://foo.ck/z",
    "https://x.example.com?",
    "http://h//double//slash/./a/../b",
    "not a url at all",
    "ftp://weird.Example.ORG:21/a%ZZbad/..",
    # round 13 (advisory): non-ASCII raw hosts — Python str.lower()
    # vs Spark lower() special-casing (dotted-İ expands to i+combining
    # dot on BOTH engines, ß stays ß, Cyrillic/kana map 1:1); these
    # pin the kernel/codegen agreement the 'ASCII-exact' docstring
    # used to merely assume.
    "http://İstanbul.Example.COM/x",
    "http://Über.DE/a?b=1",
    "http://Сайт.РФ/p",
    "http://STRAßE.de/s",
]


def test_url_family_kernel_matches_codegen(spark):
    """url_family_arrow (the q_scalar_funcs round-12 struct kernel) ==
    the codegen normalize_url / url_host / registrable_domain on the
    full battery, field for field."""
    df = spark.createDataFrame([(u,) for u in _FAMILY_BATTERY], "url string")
    u = F.col("url")
    rows = df.select(
        "url",
        U.normalize_url(u).alias("cg_norm"),
        U.url_host(u).alias("cg_host"),
        U.registrable_domain(U.url_host(u)).alias("cg_dom"),
        U.url_family_arrow(u, u).alias("fam"),
    ).collect()
    for r in rows:
        assert r["fam"]["url_norm"] == r["cg_norm"], r["url"]
        assert r["fam"]["url_host"] == r["cg_host"], r["url"]
        assert r["fam"]["url_domain"] == r["cg_dom"], r["url"]
        assert r["fam"]["url_rfc_norm"] == r["cg_norm"], r["url"]


def test_url_family_kernel_null_safe(spark):
    """A NULL url yields NULL for all four derived fields — matching
    the codegen expressions' null propagation (regexp_extract(NULL) is
    NULL) instead of a TypeError in the executor (round-13 advisory
    fix; unreachable from q_scalar_funcs but the operator is public)."""
    df = spark.createDataFrame(
        [("http://a.example.com/x",), (None,)], "url string"
    )
    rows = df.select(
        "url", U.url_family_arrow(F.col("url"), F.col("url")).alias("fam")
    ).collect()
    by_url = {r["url"]: r["fam"] for r in rows}
    assert by_url[None]["url_norm"] is None
    assert by_url[None]["url_host"] is None
    assert by_url[None]["url_domain"] is None
    assert by_url[None]["url_rfc_norm"] is None
    assert by_url["http://a.example.com/x"]["url_host"] == "a.example.com"


def test_normalize_url_py_replica_matches_codegen(spark):
    """The pure-Python normalize_url/url_host replicas (the kernel
    body) == the codegen expressions, checked driver-side so failures
    name the exact url."""
    df = spark.createDataFrame([(u,) for u in _FAMILY_BATTERY], "url string")
    rows = df.select(
        "url",
        U.normalize_url(F.col("url")).alias("cg_norm"),
        U.url_host(F.col("url")).alias("cg_host"),
    ).collect()
    for r in rows:
        assert U.normalize_url_py(r["url"]) == r["cg_norm"], r["url"]
        assert U.url_host_py(r["url"]) == r["cg_host"], r["url"]


def test_registrable_domain_py_matches_reference():
    """psl.registrable_domain_py (the kernel's PSL body) == the test
    module's own independent replica on the standing battery."""
    rules = P.load_psl_rules()
    for h in _PSL_BATTERY:
        assert P.registrable_domain_py(h, rules) == _psl_reference(
            h, rules
        ), h
