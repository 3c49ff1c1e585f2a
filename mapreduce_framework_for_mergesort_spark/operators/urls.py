"""URL operators — the crawl-curation step between HTML extraction and
per-domain corpus policy (round 10).

Every real crawl pipeline performs these immediately after the WET step
(``sources/html.py``): canonicalize URLs so syntactic variants of one
page collapse (``HTTP://Host:80/x?b=2&a=1#frag`` ≡
``http://host/x?a=1&b=2``), extract the registrable domain so policy —
caps, blocklists, per-site quality priors — can be applied at site
grain, then dedup by canonical URL *before* the much more expensive
content-level near-dedup tiers run.

Everything here is pure ``pyspark.sql.functions`` — regexp/array/string
expressions inside one whole-stage-codegen projection, zero Python, no
UDFs — so the normalization costs what a column projection costs at
100 TB.  Parsing is regexp-based (RFC 3986 component grammar) rather
than ``F.parse_url`` (java.net.URI) so the rules are engine-replicable:
the same component expressions can be written in any SQL dialect, which
is what lets the registry oracle construct EXPECTED canonical forms
independently and hash-compare (``q_scalar_funcs`` url columns).

Normalization rules (the conservative, semantics-preserving subset of
RFC 3986 §6 plus the crawl-standard tracking-param strip):

* scheme and host lowercase (§6.2.2.1);
* userinfo dropped from the authority (never part of page identity);
* default ports stripped (``http:80`` / ``https:443``), others kept;
* empty path → ``/`` (§6.2.3);
* percent-encoding normalized (§6.2.2.1-2, round 11): escapes of
  unreserved characters decode (``%7E`` → ``~``), all other escape hex
  uppercases (``%2f`` → ``%2F``) — applied to path and query;
* dot segments removed from the path (§6.2.2.3, round 11):
  ``/a/./b/../c`` → ``/a/c``;
* fragment dropped (never sent to the server);
* query parameters: empty params dropped, known tracking params
  (``utm_*``, ``fbclid``, ``gclid``, ``ref``) dropped, the rest sorted
  byte-lexicographically — page identity rarely depends on param order,
  and sorting is what makes ``a=1&b=2`` and ``b=2&a=1`` collapse.

``registrable_domain`` applies the publicsuffix.org algorithm against
a pinned snapshot of the Mozilla Public Suffix List shipped as package
data (round 11 — the round-10 two/three-label heuristic applied site
policy at the wrong grain for ``github.io``-class suffixes; see
``operators/psl.py`` for the algorithm and the snapshot's abridgement
note).  The
rule table rides inside the plan as literal membership strings, so the
URL family keeps its zero-Python / zero-shuffle codegen property.

Reference parity note: the reference engine (``/root/reference``,
``NodeHandler.java:44-75``) has no string operators at all; this is
part of the LLM-curation surface the brief layers on top.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# component extraction (RFC 3986 grammar as regexps)
# ---------------------------------------------------------------------------

#: Query params that identify the *referral*, not the page.  The
#: crawl-standard strip set; extend per deployment.
TRACKING_PARAMS_RE = r"^(utm_[^=]*|fbclid|gclid|ref)(=|$)"


def url_scheme(url: Column) -> Column:
    return F.lower(
        F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1)
    )


def _authority(url: Column) -> Column:
    # between '://' and the first of / ? # — userinfo still attached
    return F.regexp_extract(
        url, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1
    )


def url_host(url: Column) -> Column:
    """Lowercased host: authority minus userinfo and port.  Bracketed
    IPv6 literals (``[2001:db8::1]:8080``) keep their brackets — the
    alternation matches the bracket form BEFORE the first-colon cut,
    so distinct IPv6 hosts can never collide post-truncation.

    A single trailing dot (the DNS root label: ``example.com.``) is
    stripped (round 12): browsers and resolvers treat the fully-
    qualified form as the same origin, and keeping it let
    ``http://example.com./x`` survive ``dedup_by_url`` as a distinct
    page AND gave ``registrable_domain`` an empty rightmost label (the
    default rule then fired and returned the bare TLD).  Bracketed
    IPv6 hosts end in ``]`` — the rule can't touch them."""
    return F.regexp_replace(
        F.lower(
            F.regexp_extract(
                _authority(url), r"^(?:[^@]*@)?(\[[^\]]*\]|[^:]*)", 1
            )
        ),
        r"\.$",
        "",
    )


def url_port(url: Column) -> Column:
    """Explicit port as a string, '' when absent."""
    return F.regexp_extract(_authority(url), r":([0-9]+)$", 1)


def url_path(url: Column) -> Column:
    """Path component ('' when absent — callers normalize to '/')."""
    return F.regexp_extract(
        url, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)", 1
    )


def url_query(url: Column) -> Column:
    """Query string without the '?' ('' when absent)."""
    return F.regexp_extract(url, r"\?([^#]*)", 1)


# ---------------------------------------------------------------------------
# canonicalization
# ---------------------------------------------------------------------------


def pct_normalize(s: Column) -> Column:
    """RFC 3986 §6.2.2.1-2 percent-encoding normalization, one pass:
    escapes of UNRESERVED characters (``ALPHA / DIGIT / - . _ ~``)
    decode to the character (``%7E`` → ``~``); every other valid
    escape keeps its ``%`` but uppercases the hex (``%2f`` → ``%2F``);
    a ``%`` not followed by two hex digits passes through verbatim
    (conservative: real crawl URLs contain bare ``%``).  Splitting on
    ``%`` makes each array element after the first start with the two
    escape digits — the whole rule is one ``transform`` +
    ``array_join``, JVM-side, no Python.  Escape-free strings (the
    overwhelming majority of a real crawl) short-circuit past the
    higher-order functions on the cheap ``contains`` test."""
    # NOTE (round 11, measured): higher-order-function columns run as
    # CodegenFallback — interpreted, with NO common-subexpression
    # elimination, so every column reference re-evaluates its whole
    # subtree.  The compact two-rlike piece below beats a "clever"
    # regex-free ASCII-arithmetic variant by ~6x on escape-dense rows
    # (45 s vs 8 s on the bench fixture) because the arithmetic tree
    # referenced its shared subexpressions ~6x each.  Keep pieces
    # SMALL and reference-free before trying to out-optimize the
    # interpreter.
    hx = lambda seg: F.upper(F.substring(seg, 1, 2))  # noqa: E731
    rest = lambda seg: seg.substr(F.lit(3), F.length(seg))  # noqa: E731

    def piece(seg: Column, i: Column) -> Column:
        h = hx(seg)
        valid = h.rlike("^[0-9A-F]{2}$")
        ch = F.char(F.conv(h, 16, 10).cast("int"))
        unreserved = ch.rlike("^[A-Za-z0-9._~-]$")
        return (
            F.when(i == 0, seg)
            .when(valid & unreserved, F.concat(ch, rest(seg)))
            .when(valid, F.concat(F.lit("%"), h, rest(seg)))
            .otherwise(F.concat(F.lit("%"), seg))
        )

    return F.when(
        ~s.contains("%"), s
    ).otherwise(
        F.array_join(F.transform(F.split(s, "%", -1), piece), "")
    )


def remove_dot_segments(path: Column) -> Column:
    """RFC 3986 §6.2.2.3 for ABSOLUTE paths: ``.`` segments vanish,
    ``..`` pops (never above the root), a final ``.``/``..`` keeps the
    trailing slash, interior empty segments (``//``) are preserved —
    the RFC algorithm as one array fold (``aggregate`` with an array
    accumulator), JVM-side.  Paths with no dot segment at all — the
    overwhelming majority — short-circuit past the fold on one cheap
    regex test."""
    has_dot_seg = path.rlike(r"(^|/)\.\.?(/|$)")
    segs = F.split(path, "/")
    # segments after the leading '' of an absolute path — the root is
    # not poppable because it never enters the accumulator
    tail = F.slice(segs, 2, F.greatest(F.size(segs) - 1, F.lit(0)))
    folded = F.aggregate(
        tail,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(s == ".", acc)
        .when(
            s == "..",
            F.slice(acc, 1, F.greatest(F.size(acc) - 1, F.lit(0))),
        )
        .otherwise(F.concat(acc, F.array(s))),
    )
    joined = F.concat(F.lit("/"), F.array_join(folded, "/"))
    return F.when(~has_dot_seg, path).otherwise(
        F.when(
            path.rlike(r"/\.\.?$") & ~joined.rlike("/$"),
            F.concat(joined, F.lit("/")),
        ).otherwise(joined)
    )


_UNRESERVED = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789._~-"
)


def pct_normalize_py(s: str) -> str:
    """Pure-Python replica of :func:`pct_normalize` — the independent
    pin for the codegen fold AND part of the ``url_family_arrow``
    kernel body (via ``normalize_url_py``)."""
    if "%" not in s:
        return s
    pieces = s.split("%")
    out = [pieces[0]]
    for seg in pieces[1:]:
        h = seg[:2].upper()
        if len(h) == 2 and all(c in "0123456789ABCDEF" for c in h):
            ch = chr(int(h, 16))
            if ch in _UNRESERVED:
                out.append(ch + seg[2:])
            else:
                out.append("%" + h + seg[2:])
        else:
            out.append("%" + seg)
    return "".join(out)


def remove_dot_segments_py(path: str) -> str:
    """Pure-Python replica of :func:`remove_dot_segments` (same role
    as :func:`pct_normalize_py`)."""
    import re as _re

    if not _re.search(r"(^|/)\.\.?(/|$)", path):
        return path
    acc: list[str] = []
    for seg in path.split("/")[1:]:
        if seg == ".":
            continue
        if seg == "..":
            if acc:
                acc.pop()
            continue
        acc.append(seg)
    joined = "/" + "/".join(acc)
    if _re.search(r"/\.\.?$", path) and not joined.endswith("/"):
        joined += "/"
    return joined


# Pure-Python component extraction mirroring the codegen regexes
# EXACTLY (round 12 optimization — the whole-family Arrow kernel body).
# Same patterns as url_scheme/_authority/url_host/url_port/url_path/
# url_query above, so behavior matches the expressions on every input,
# including scheme-less strings where the anchored extracts return ''.
import re as _re

_SCHEME_RE = _re.compile(r"^([A-Za-z][A-Za-z0-9+.\-]*)://")
_AUTH_RE = _re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)")
_HOST_RE = _re.compile(r"^(?:[^@]*@)?(\[[^\]]*\]|[^:]*)")
_PORT_RE = _re.compile(r":([0-9]+)$")
_PATH_RE = _re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)")
_QUERY_RE = _re.compile(r"\?([^#]*)")
_TRACKING_RE = _re.compile(TRACKING_PARAMS_RE)


def url_host_py(url: str) -> str:
    """Pure-Python replica of :func:`url_host` (lowercase, userinfo and
    port stripped, single root-label dot stripped, bracketed IPv6 kept
    whole).  ASCII-exact vs the codegen path; pinned equal in
    tests/test_urls.py."""
    m = _AUTH_RE.match(url)
    auth = m.group(1) if m else ""
    hm = _HOST_RE.match(auth)
    host = (hm.group(1) if hm else "").lower()
    if host.endswith("."):
        host = host[:-1]
    return host


def normalize_url_py(url: str) -> str:
    """Pure-Python replica of :func:`normalize_url`:
    same component regexes, same rules — lowercase scheme/host, drop
    userinfo, strip default ports, '' path → '/', §6.2.2 pct + dot
    folds, tracking strip + byte-lexicographic param sort, drop
    fragment.  Python string comparison is codepoint order == UTF-8
    byte order, so the param sort agrees with ``array_sort``; pinned
    equal on the fixture and an adversarial battery in
    tests/test_urls.py."""
    m = _SCHEME_RE.match(url)
    scheme = m.group(1).lower() if m else ""
    am = _AUTH_RE.match(url)
    auth = am.group(1) if am else ""
    host = url_host_py(url)
    pm = _PORT_RE.search(auth)
    port = pm.group(1) if pm else ""
    if (
        port == ""
        or (scheme == "http" and port == "80")
        or (scheme == "https" and port == "443")
    ):
        port_norm = ""
    else:
        port_norm = ":" + port
    tm = _PATH_RE.match(url)
    path = tm.group(1) if tm else ""
    qm = _QUERY_RE.search(url)
    query = qm.group(1) if qm else ""
    folded = remove_dot_segments_py(pct_normalize_py(path))
    path_norm = "/" if path == "" else folded
    params = sorted(
        p
        for p in pct_normalize_py(query).split("&")
        if p != "" and not _TRACKING_RE.search(p)
    )
    qn = "?" + "&".join(params) if params else ""
    return scheme + "://" + host + port_norm + path_norm + qn


def url_family_arrow(url: Column, rfc_url: Column) -> Column:
    """Round-12 optimization: ``url_norm``/``url_host``/``url_domain``
    (of ``url``) plus ``url_rfc_norm`` (of ``rfc_url``) as ONE Arrow
    kernel returning a struct — one Python round trip computes what the
    codegen battery evaluated as four interpreted expression trees with
    the PSL literal maps riding in the plan.  Reverses the build-phase
    "url_norm stays codegen" call for THIS query only: that A/B priced
    a kernel per column; amortizing one boundary crossing over four
    columns (and removing the per-row regexp battery + PSL map lookups)
    measured 1.91 → 0.94 s over 150 K rows at sf0.1, equality
    hard-gated at 0 mismatching rows.  The codegen operators
    (``normalize_url``, ``registrable_domain``, ``dedup_by_url``) are
    untouched — their zero-Python plan pins stand."""
    from pyspark.sql.functions import pandas_udf

    from .psl import load_psl_rules, registrable_domain_py

    rules = load_psl_rules()

    @pandas_udf(
        "url_norm string, url_host string, url_domain string, "
        "url_rfc_norm string"
    )
    def kernel(u: pd.Series, r: pd.Series) -> pd.DataFrame:
        norms, hosts, doms, rfcs = [], [], [], []
        for a, b in zip(u, r):
            # NULL-safe to match the codegen expressions it replaces
            # (regexp_extract of NULL is NULL): a None input yields
            # None for its derived fields instead of a TypeError in
            # the executor (round-12 advisory).
            if a is None:
                norms.append(None)
                hosts.append(None)
                doms.append(None)
            else:
                norms.append(normalize_url_py(a))
                h = url_host_py(a)
                hosts.append(h)
                doms.append(registrable_domain_py(h, rules))
            rfcs.append(None if b is None else normalize_url_py(b))
        return pd.DataFrame(
            {
                "url_norm": norms,
                "url_host": hosts,
                "url_domain": doms,
                "url_rfc_norm": rfcs,
            }
        )

    return kernel(url, rfc_url)


def normalized_query(url: Column) -> Column:
    """Sorted, tracking-stripped query ('' when nothing survives)."""
    params = F.array_sort(
        F.filter(
            # pct-normalizing BEFORE the '&' split is safe: '&' (%26)
            # is reserved, so normalization never materializes one
            F.split(pct_normalize(url_query(url)), "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAMS_RE),
        )
    )
    return F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))


def normalize_url(url: Column) -> Column:
    """Canonical form per the module-docstring rules, as one
    zero-Python expression: the path's §6.2.2 pct/dot folds are
    HOFs whose ``contains``/regex short-circuit makes them nearly free
    on paths without escapes or dot segments.  A query that needs the
    whole URL family at once runs ``url_family_arrow`` instead (its
    pure-Python replica is pinned equal to this expression in
    tests/test_urls.py)."""
    scheme = url_scheme(url)
    host = url_host(url)
    port = url_port(url)
    port_norm = F.when(
        (port == "")
        | ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443")),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), port))
    path = url_path(url)
    # pct first (so an escaped dot segment — %2E is unreserved —
    # participates in dot removal, the RFC §6.2.2 order), then dots
    folded = remove_dot_segments(pct_normalize(path))
    path_norm = F.when(path == "", F.lit("/")).otherwise(folded)
    return F.concat(
        scheme, F.lit("://"), host, port_norm, path_norm,
        normalized_query(url),
    )


def registrable_domain(host: Column) -> Column:
    """Site-grain key: public suffix + one label under the packaged
    PSL snapshot.  Hosts that ARE a public
    suffix, single labels (``localhost``), and IP literals pass through
    unchanged.  Pure codegen; see ``operators/psl.py`` for the
    algorithm."""
    from .psl import registrable_domain_expr

    return registrable_domain_expr(host)


# ---------------------------------------------------------------------------
# distributed curation operators
# ---------------------------------------------------------------------------


def dedup_by_url(
    df: DataFrame, url_col: str = "url", order_col: str | None = None
) -> DataFrame:
    """URL-level dedup: one survivor per CANONICAL url (the cheap tier
    that runs before content-level near-dedup — recrawls and tracking
    variants collapse here for the cost of one hash aggregation).
    Survivor is deterministic: the row whose ``order_col`` (or the raw
    url string when None) is minimal; one shuffle on the canonical
    url."""
    key = normalize_url(F.col(url_col)).alias("__uk")
    order = F.col(order_col) if order_col else F.col(url_col)
    w = Window.partitionBy("__uk").orderBy(order, F.col(url_col))
    return (
        df.select("*", key)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__uk", "__rn")
    )


def per_domain_stats(df: DataFrame) -> DataFrame:
    """Site-grain audit: per registrable domain, page count, distinct
    canonical urls, host count — the table a per-domain cap or
    blocklist decision reads.  One shuffle (the groupBy); the distinct
    count is exact (crawl domain cardinality ≪ page cardinality)."""
    u = F.col("url")
    host = url_host(u)
    return (
        df.select(
            registrable_domain(host).alias("domain"),
            host.alias("__host"),
            normalize_url(u).alias("__norm"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.countDistinct("__norm").alias("n_urls"),
            F.countDistinct("__host").alias("n_hosts"),
        )
    )


def cap_per_domain(
    df: DataFrame, k: int, url_col: str = "url",
    order_col: str | None = None,
) -> DataFrame:
    """Keep at most ``k`` pages per registrable domain — the standard
    anti-boilerplate / anti-SEO-farm corpus policy.  Deterministic
    survivors (``order_col`` then url as tiebreak).  One shuffle on
    domain; at 100 TB a skewed mega-domain is bounded by the cap
    itself: rank-then-filter discards its tail in the same stage."""
    u = F.col(url_col)
    order = [F.col(order_col), u] if order_col else [u]
    w = Window.partitionBy(registrable_domain(url_host(u))).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )
