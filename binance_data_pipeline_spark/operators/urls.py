"""URL canonicalization and crawl hygiene — the front door of every
web-corpus pipeline (CCNet/C4/RefinedWeb all dedup by URL before any
content pass, because a canonical-URL match is free compared to text
shingling).

All hot-path logic is built-in `pyspark.sql.functions` (regexp extracts,
higher-order array functions) — map-side, zero Python, zero shuffle for
the column ops; `dedup_by_url` shuffles once on the canonical key.

Canonical form (RFC 3986 §6 normalizations that preserve semantics, plus
the industry-standard tracking-parameter strip):

- scheme and host lowercased; trailing host dot removed; userinfo
  dropped; default ports (http:80 / https:443) dropped;
- empty path → "/";
- fragment dropped (never sent to the server);
- query parameters: known tracking params removed (utm_*, gclid, ...),
  empty fragments of "&&" removed, remainder SORTED so permutations of
  the same parameters collapse (`?a=1&b=2` ≡ `?b=2&a=1`).

`registered_domain` is the grouping key for per-site caps/budgets
(quality gates): the real Public Suffix List
algorithm (operators/psl.py — wildcards, exceptions, longest match,
private hosting suffixes) over a packaged snapshot of the public list,
with `rules=parse_psl(...)` accepting the full official file.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "url_scheme",
    "url_host",
    "url_port",
    "url_path",
    "url_query",
    "registered_domain",
    "canonicalize_url",
    "dedup_by_url",
    "domain_stats",
    "DEFAULT_TRACKING_PARAMS",
]

#: Query parameters that identify campaigns/sessions, never content.
DEFAULT_TRACKING_PARAMS = [
    "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
    "gclid", "fbclid", "msclkid", "dclid", "igshid", "mc_cid", "mc_eid",
    "ref", "ref_src", "spm", "_ga",
]

_AUTHORITY = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)(?::([0-9]+))?"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def url_scheme(col: Column | str) -> Column:
    """Lowercased scheme, '' when the value isn't an absolute URL."""
    return F.lower(F.regexp_extract(_c(col), r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))


def url_host(col: Column | str) -> Column:
    """Lowercased host with userinfo/port stripped and the trailing
    root-dot removed ('example.com.' ≡ 'example.com')."""
    host = F.lower(F.regexp_extract(_c(col), _AUTHORITY, 1))
    return F.regexp_replace(host, r"\.$", "")


def url_port(col: Column | str) -> Column:
    """Explicit port as a string, '' when absent."""
    return F.regexp_extract(_c(col), _AUTHORITY, 2)


def url_path(col: Column | str) -> Column:
    """Path component ('' when absent — canonicalize_url maps it to /)."""
    return F.regexp_extract(_c(col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)


def url_query(col: Column | str) -> Column:
    """Raw query string without the '?', '' when absent."""
    return F.regexp_extract(_c(col), r"\?([^#]*)", 1)


def registered_domain(host: Column | str, rules=None) -> Column:
    """The registrable domain of a hostname per the Public Suffix List
    algorithm (operators/psl.py: exceptions beat all, longest rule wins,
    default ``*`` rule otherwise): public suffix + one more label. So
    ``a.github.io`` and ``b.github.io`` are DIFFERENT domains (private
    hosting suffix), ``city.kawasaki.jp`` is itself a registrable domain
    (exception rule), and ``foo.bar.ck`` groups under ``foo.bar.ck``
    (wildcard TLD). A host that IS a public suffix, and IPv4 literals,
    pass through whole — the right grouping key either way. All
    map-side literal-array checks, zero Python, zero joins; pass
    ``rules=psl.parse_psl(open("public_suffix_list.dat").read())`` to
    serve the full official list instead of the packaged snapshot."""
    from .psl import public_suffix_parts

    h = _c(host)
    labels = F.split(h, r"\.")
    n = F.size(labels)
    ps_parts = public_suffix_parts(h, rules)
    reg_parts = ps_parts + F.lit(1)
    reg = F.array_join(F.slice(labels, n - reg_parts + 1, reg_parts), ".")
    is_ip = h.rlike(r"^[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+$")
    return F.when(is_ip | (n <= ps_parts), h).otherwise(reg)


def attach_registered_domain(
    df, host: str, rules, out_col: str = "domain"):
    """``registered_domain`` at full Public Suffix List cardinality —
    the broadcast-join variant (``psl.attach_public_suffix_parts``): the
    ~9k-rule official file becomes a handful of KB-scale broadcast
    relations, the corpus takes one BroadcastHashJoin probe per rule
    depth and never shuffles, and the registrable-domain slice is the
    same expression as the column form. Use this when serving
    ``parse_psl(open('public_suffix_list.dat').read())`` whole; the
    column form (``registered_domain``) stays the right shape for
    trimmed rule sets (zero joins at all).

    Returns ``df`` plus ``out_col``; equivalence with the column form
    is pinned in tests/test_urls.py."""
    from .psl import attach_public_suffix_parts

    h = F.col(host)
    labels = F.split(h, r"\.")
    n = F.size(labels)
    with_ps = attach_public_suffix_parts(df, host, rules, out_col="__ps_parts")
    reg_parts = F.col("__ps_parts") + F.lit(1)
    reg = F.array_join(F.slice(labels, n - reg_parts + 1, reg_parts), ".")
    is_ip = h.rlike(r"^[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+$")
    return with_ps.withColumn(
        out_col, F.when(is_ip | (n <= F.col("__ps_parts")), h).otherwise(reg)
    ).drop("__ps_parts")


def canonicalize_url(
    col: Column | str, strip_params: list[str] | None = None
) -> Column:
    """Semantics-preserving canonical form (module docstring). NULL/
    non-absolute-URL inputs yield NULL so they never collide with a real
    canonical key in a dedup."""
    c = _c(col)
    scheme = url_scheme(c)
    host = url_host(c)
    port = url_port(c)
    path = url_path(c)
    tracking = F.array(
        *[F.lit(p.lower()) for p in (strip_params if strip_params is not None else DEFAULT_TRACKING_PARAMS)]
    )
    params = F.filter(
        F.split(url_query(c), "&"),
        lambda p: (p != "")
        & ~F.array_contains(tracking, F.lower(F.split(p, "=").getItem(0))),
    )
    query_c = F.array_join(F.array_sort(params), "&")
    default_port = (
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
        | (port == "")
    )
    rebuilt = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(default_port, "").otherwise(F.concat(F.lit(":"), port)),
        F.when(path == "", "/").otherwise(path),
        F.when(query_c == "", "").otherwise(F.concat(F.lit("?"), query_c)),
    )
    return F.when((scheme != "") & (host != ""), rebuilt)


def dedup_by_url(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    strip_params: list[str] | None = None,
) -> DataFrame:
    """One row per canonical URL — the keeper is the min-id row (sticky
    and deterministic under any partitioning, the dedup.py convention).
    Rows whose URL doesn't parse (NULL canonical key) are all kept: an
    unparseable URL is not evidence of duplication.

    Plan: one map pass adds the canonical key, one hash aggregate finds
    per-key keepers, one keyed join keeps keeper rows — the exact-dedup
    shape (operators/dedup.py:38), shuffling only (key, id) pairs plus
    the keeper join."""
    canon = canonicalize_url(F.col(url_col), strip_params)
    with_key = df.withColumn("__canon_url", canon)
    parseable = with_key.where(F.col("__canon_url").isNotNull())
    keepers = parseable.groupBy("__canon_url").agg(F.min(id_col).alias(id_col))
    kept = parseable.join(keepers, ["__canon_url", id_col])
    return kept.unionByName(
        with_key.where(F.col("__canon_url").isNull())
    ).drop("__canon_url")


def domain_stats(
    df: DataFrame, url_col: str = "url", strip_params: list[str] | None = None
) -> DataFrame:
    """Per-registered-domain crawl profile: total URLs, distinct
    canonical URLs (the dup mass is the gap between the two), distinct
    hosts. One hash aggregate; count_distinct expands to the standard
    two-phase plan."""
    host = url_host(F.col(url_col))
    return (
        df.select(
            registered_domain(host).alias("domain"),
            host.alias("host"),
            canonicalize_url(F.col(url_col), strip_params).alias("canon"),
        )
        .where(F.col("canon").isNotNull())
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("canon").alias("n_canonical"),
            F.countDistinct("host").alias("n_hosts"),
        )
    )
