"""URL canonicalization for crawl dedup — pure Column expressions.

Web-corpus pipelines dedup by URL before they dedup by content
(CommonCrawl's index, C4's page-level dedup): the same page is crawled
as ``HTTP://Example.COM:80/a/b/?b=2&a=1&utm_source=feed#frag`` and
``http://example.com/a/b?a=1&b=2`` and naive exact matching misses it.
Canonicalization applied here (the conservative, semantics-preserving
subset every canonicalizer agrees on):

* scheme and host lowercased (RFC 3986 §6.2.2.1 case normalization);
* default ports dropped (``:80`` for http, ``:443`` for https);
* the fragment dropped (never sent to the server);
* tracking parameters dropped (``utm_*``, ``gclid``, ``fbclid``,
  ``ref``, ``mc_eid`` — client-side analytics, no content effect);
* remaining query parameters SORTED (order is almost never
  significant; this is the lossy-but-standard dedup choice);
* duplicate/trailing slashes collapsed on the path (root stays ``/``).

Everything is built from ``parse_url`` + higher-order array functions
— JVM-side, codegen-friendly, no Python in the hot path — so the
canonical key computes at full scan speed and feeds a plain
groupBy/dropDuplicates. The registry query pairs this against an
INDEPENDENT DuckDB implementation (regexp + list_filter/list_sort), so
the two engines' canonicalizers must agree byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# one alternation, shared with the oracle's regex in queries.py
TRACKING_RE = "^(utm_[^=]*|gclid|fbclid|ref|mc_eid)="


def canonical_url(url: Column | str) -> Column:
    """Canonical form of a URL column (see module docstring)."""
    u = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.parse_url(u, F.lit("PROTOCOL")))
    host = F.lower(F.parse_url(u, F.lit("HOST")))
    auth = F.parse_url(u, F.lit("AUTHORITY"))
    port = F.regexp_extract(auth, ":([0-9]+)$", 1)
    default_port = (
        (scheme == "http") & (port == "80")
    ) | ((scheme == "https") & (port == "443"))
    port_part = F.when(
        (port == "") | default_port, F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))

    raw_path = F.coalesce(F.parse_url(u, F.lit("PATH")), F.lit(""))
    squeezed = F.regexp_replace(
        F.regexp_replace(raw_path, "/{2,}", "/"), "/+$", ""
    )
    path = F.when(squeezed == "", F.lit("/")).otherwise(squeezed)

    query = F.coalesce(F.parse_url(u, F.lit("QUERY")), F.lit(""))
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_RE),
    )
    sorted_q = F.array_join(F.array_sort(kept), "&")
    q_part = F.when(
        sorted_q == "", F.lit("")
    ).otherwise(F.concat(F.lit("?"), sorted_q))

    return F.concat(scheme, F.lit("://"), host, port_part, path, q_part)
