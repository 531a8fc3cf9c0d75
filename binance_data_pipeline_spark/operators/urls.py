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
    "canonicalize_url",
    "dedup_by_url",
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
