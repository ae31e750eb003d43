"""Web-URL canonicalization for Common-Crawl-style pipelines.

A CC corpus keys documents by url (the reference's unique_key /
input_hint column); raw crawl URLs carry case noise, default ports,
tracking parameters, fragments, and unsorted query strings that break
url-level dedup and host-level aggregation.  ``canonicalize_urls``
applies the standard normalization, entirely with JVM-side built-ins
(zero Python, whole-stage codegen), so it runs ahead of exact dedup /
host statistics at any scale:

- scheme and host lowercased (RFC 3986 §6.2.2.1); path kept
  case-sensitive;
- default ports stripped (``:80`` for http, ``:443`` for https);
- fragment dropped;
- query parameters: tracking params removed (``utm_*``, ``fbclid``,
  ``gclid``, ``ref``), empties dropped, the rest SORTED for a
  canonical ordering;
- empty path → ``/``.

Non-URL strings (no ``scheme://``) pass through unchanged with a null
host, so dirty rows never fail the job (the CC dirty-data contract: a
bad row yields a defined value, never an exception).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_SCHEME_RE = "^([A-Za-z][A-Za-z0-9+.-]*)://"
_AUTH_RE = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
_PATH_RE = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)"
TRACKING_PARAM_RE = "^(utm_[^=]*|fbclid|gclid|ref)="


def canonicalize_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Add ``canon_url`` and ``host`` columns (see module docstring)."""
    base = F.regexp_replace(F.col(url_col), "#.*$", "")  # fragment off first
    scheme = F.lower(F.regexp_extract(base, _SCHEME_RE, 1))
    raw_host = F.lower(F.regexp_extract(base, _AUTH_RE, 1))
    host = F.when(scheme == "http", F.regexp_replace(raw_host, ":80$", "")).when(
        scheme == "https", F.regexp_replace(raw_host, ":443$", "")
    ).otherwise(raw_host)
    path = F.regexp_extract(base, _PATH_RE, 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(base, r"\?([^#]*)", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    qstr = F.array_join(params, "&")
    canon = F.concat(
        scheme, F.lit("://"), host, path,
        F.when(qstr == "", F.lit("")).otherwise(F.concat(F.lit("?"), qstr)),
    )
    is_url = scheme != ""
    return df.withColumn(
        "canon_url", F.when(is_url, canon).otherwise(F.col(url_col))
    ).withColumn("host", F.when(is_url, host))


def host_doc_counts(df: DataFrame, url_col: str = "url") -> DataFrame:
    """(host, n_docs, n_unique_urls) per host after canonicalization —
    the first aggregate any crawl-quality pass computes.  One shuffle."""
    return (
        canonicalize_urls(df, url_col)
        .where(F.col("host").isNotNull())
        .groupBy("host")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("canon_url").alias("n_unique_urls"),
        )
    )
