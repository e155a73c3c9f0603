"""Host-level quality aggregation → host blocklist (RefinedWeb/C4 tier).

Web pipelines filter at two granularities: per-document (the rule/model
verdict) and per-*host* — a host whose pages overwhelmingly fail the
document filters is treated as a spam/SEO farm and dropped wholesale,
including the few pages that individually squeaked through (RefinedWeb
§3.1 "URL filtering", C4's badword domain list; the reference repo is
purely per-row — reports/report.py aggregates per *field*, never per
origin — so this is a beyond-reference training-pipeline component,
SURVEY.md §6).

Spark-first shape, two passes over the verdicted pages:

* ``host_quality_stats``: one ``groupBy(host)`` with sum/count aggregates.
  Hosts are Zipf-skewed (a big host owns millions of pages) but every
  aggregate here is associative, so map-side partial aggregation absorbs
  the skew before the shuffle — the hot host ships ~one row per input
  partition, not one per page.  No salt needed: salting a hot key only
  pays for aggregates that cannot combine map-side, such as collect_list.
* ``apply_host_blocklist``: the stats table at 10^8 hosts is itself big,
  but the *blocked subset* (low-keep-rate hosts above the support floor)
  is orders smaller, so only that projection joins back — broadcast left
  join on host, NULL-safe flag.  The pages side never shuffles.

``min_support`` gates the verdict: a 3-page host with 2 drops is noise,
not a spam farm; below the floor ``blocked`` is always false.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def host_quality_stats(
    df: DataFrame,
    host: Column | str = "host",
    keep: Column | str = "keep",
    min_support: int = 20,
    min_keep_rate: float = 0.5,
) -> DataFrame:
    """Per-host page/keep counts, keep rate, and the blocked verdict.

    Output: (host, n_pages, n_kept, keep_rate, blocked).  ``keep_rate``
    counts a NULL keep as a drop (a page that never got a verdict is not
    evidence of quality).
    """
    host = F.col(host) if isinstance(host, str) else host
    keep = F.col(keep) if isinstance(keep, str) else keep
    kept = F.when(keep, 1).otherwise(0)
    out = df.groupBy(host.alias("host")).agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(kept).alias("n_kept"),
    )
    rate = F.col("n_kept") / F.col("n_pages")
    return out.select(
        "host",
        "n_pages",
        "n_kept",
        rate.alias("keep_rate"),
        ((F.col("n_pages") >= min_support) & (rate < min_keep_rate)).alias(
            "blocked"
        ),
    )


def apply_host_blocklist(
    pages: DataFrame,
    stats: DataFrame,
    host: Column | str = "host",
) -> DataFrame:
    """Flag pages on blocked hosts: adds ``host_blocked`` (never NULL).

    Only the blocked projection of ``stats`` is joined, broadcast — the
    pages side stays a narrow scan regardless of corpus size."""
    host = F.col(host) if isinstance(host, str) else host
    blocked = stats.filter("blocked").select(
        F.col("host").alias("__bl_host"), F.lit(True).alias("__bl")
    )
    return (
        pages.join(
            F.broadcast(blocked), host == F.col("__bl_host"), "left"
        )
        .withColumn("host_blocked", F.coalesce(F.col("__bl"), F.lit(False)))
        .drop("__bl_host", "__bl")
    )


def merge_host_stats(
    a: DataFrame,
    b: DataFrame,
    min_support: int = 20,
    min_keep_rate: float = 0.5,
) -> DataFrame:
    """Accumulate host-quality stats across dumps: counts sum, keep rate
    and the blocked verdict are recomputed over the union — so a host
    below the support floor in any single month still gets condemned
    once its cumulative evidence clears it.  Same shape as
    ``host_quality_stats`` output in and out; one map-side-combined
    groupBy, no joins."""
    cols = ["host", "n_pages", "n_kept"]
    out = (
        a.select(*cols)
        .unionByName(b.select(*cols))
        .groupBy("host")
        .agg(F.sum("n_pages").alias("n_pages"), F.sum("n_kept").alias("n_kept"))
    )
    rate = F.col("n_kept") / F.col("n_pages")
    return out.select(
        "host",
        "n_pages",
        "n_kept",
        rate.alias("keep_rate"),
        ((F.col("n_pages") >= min_support) & (rate < min_keep_rate)).alias(
            "blocked"
        ),
    )
