"""URL canonicalization — the crawl-side twin of document dedup.

A web pipeline dedups *fetches* before it dedups *text*: the same page is
crawled as ``http://www.Site.com/a//b/?utm_source=feed&id=1#top`` and
``https://site.com/a/b?id=1``, and every URL-keyed stage (incremental
recrawl, exact dedup by url, host statistics, the reference's per-url
byte-identity contract — BASELINE.json input_hint) silently double-counts
until the key is canonical.  The reference has no URL handling at all
(its row keys are catalog ids — validators/ operates on product fields);
this is one of the beyond-reference training-pipeline operators
(SURVEY.md §6).

Entirely native column expressions — regexp/split/array ops, zero Python,
zero shuffle; at 100 TB this is a free map inside whole-stage codegen.

Canonical form (the common subset of Google/Moz canonicalization guides):

* scheme and host lowercased, leading ``www.`` dropped,
* default ports stripped (``:80`` for http, ``:443`` for https), other
  ports kept,
* path: repeated ``//`` collapsed, trailing ``/`` dropped (root becomes
  empty — ``https://site.com``),
* query: tracking parameters dropped (``utm_*``, ``fbclid``, ``gclid``,
  ``msclkid``, ``mc_cid``, ``mc_eid``, ``ref``), the rest sorted so
  parameter order never splits a dedup group; empty query → no ``?``,
* fragment dropped.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|msclkid|mc_cid|mc_eid|ref)(=.*)?$"


def canonicalize_url(url: Column) -> Column:
    """Canonical URL string (see module docstring for the normal form)."""
    u = F.regexp_replace(url, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    hostport = F.regexp_extract(rest, r"^([^/?]*)", 1)
    pathq = F.regexp_replace(rest, r"^[^/?]*", "")
    host = F.regexp_replace(
        F.lower(F.regexp_extract(hostport, r"^([^:]*)", 1)), r"^www\.", ""
    )
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    port_part = F.when(
        (port == "")
        | ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443")),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), port))
    path = F.regexp_extract(pathq, r"^([^?]*)", 1)
    path = F.regexp_replace(path, r"/{2,}", "/")
    path = F.regexp_replace(path, r"/$", "")
    query = F.regexp_extract(pathq, r"\?(.*)$", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != F.lit("")) & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    qs = F.array_join(params, "&")
    query_part = F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs))
    return F.concat(scheme, F.lit("://"), host, port_part, path, query_part)


def url_host(url: Column) -> Column:
    """Canonical host (lowercased, no www, no port) — the skew/salt key for
    host-level statistics and the node id for the link graph."""
    hostport = F.regexp_extract(
        F.regexp_replace(url, r"^[A-Za-z][A-Za-z0-9+.-]*://", ""), r"^([^/?#]*)", 1
    )
    return F.regexp_replace(
        F.lower(F.regexp_extract(hostport, r"^([^:]*)", 1)), r"^www\.", ""
    )


def canonical_dedup(pages):
    """Fetch-level dedup: rewrite ``url`` to its canonical form and keep ONE
    row per canonical URL — the earliest fetch by ``warc_ts`` (md5-of-original-url
    tiebreak, so reruns and resumes pick the same winner).  The crawl-side
    step that runs before any text-level dedup: the shuffle key is the
    canonical url (high-cardinality), exactly the partitioning the
    downstream per-url work wants anyway."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("_cu").orderBy(
        F.col("warc_ts").asc_nulls_last(), F.md5(F.col("url")).asc()
    )
    return (
        pages.withColumn("_cu", canonicalize_url(F.col("url")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .withColumn("url", F.col("_cu"))
        .drop("_cu", "_rn")
    )
