"""Host-level link-graph reputation (fixed-iteration PageRank).

Crawl pipelines rank hosts before they rank text: harvest priority,
crawl-budget allocation, and spam demotion all key off a link-graph
centrality score (Common Crawl publishes exactly this as its host-level
web graph ranks).  The reference has no graph operator at all; this is a
beyond-reference training-pipeline component (SURVEY.md §6) and the second
iterative-algorithm showcase next to
``operators.dedup.connected_components``.

Spark-first shape, per iteration:

* ``contribs``: edges ⋈ ranks on ``src`` (shuffle on src), ``rank/outdeg``
  summed per ``dst`` (map-side combined shuffle on dst) — both keyed on the
  high-cardinality host id, so they scale exactly like the dedup joins,
* dangling mass (nodes with no outlinks) rides the SAME aggregation as the
  contributions: dangling nodes emit a NULL-dst sentinel row, the one-row
  ``sum`` over that group cross-joins back broadcast — no per-iteration
  driver action, and the contribution shuffle is reused between the two
  branches (ReusedExchange),
* ``localCheckpoint`` truncates the iterative lineage each round, so each
  iteration is exactly one Spark job.

Fixed ``n_iter`` (default 5) keeps the operator deterministic and lets a
second engine replay it as unrolled relational algebra (the contract
oracle); a production run at 10^8 hosts would instead iterate to an L1
tolerance — the loop body is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAMPING = 0.85


def pagerank(
    edges: DataFrame,
    n_iter: int = 5,
    tol: float | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """(node, rank) after ``n_iter`` synchronous PageRank steps over the
    distinct ``(src, dst)`` edge list, with damping ``DAMPING``, uniform
    teleport and dangling-mass redistribution.  Ranks sum to 1 at every step.

    ``tol``: when set, ``n_iter`` becomes a CEILING and the loop stops as
    soon as the L1 delta ``sum(|rank_t - rank_{t-1}|)`` between consecutive
    materialized states drops to ``tol`` or below — the production form for
    a 10^8-host graph, where "run exactly 5 rounds" wastes rounds on a
    converged graph and truncates a slow one.  The loop body is IDENTICAL
    to the fixed-iteration form (same joins, same aggregation); only the
    stop rule changes, so the contract oracle's unrolled-SQL replay stays
    valid for ``tol=None``.

    Every iteration is materialized (``localCheckpoint``): each one embeds
    a broadcast subplan, so leaving rounds lazy nests every prefix inside
    the next plan and planning time dominates.

    ``stats``: optional dict, filled with ``iterations`` and ``l1_deltas``
    (one entry per iteration when ``tol`` is set) for bench/audit.
    """
    e = edges.select("src", "dst").distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    outdeg = e.groupBy("src").agg(F.count("*").cast("double").alias("od")).persist()
    dst_type = e.schema["dst"].dataType
    # dangling nodes contribute their whole rank to a NULL-dst sentinel
    # group, so one aggregation yields both the per-node contributions and
    # the dangling mass
    e_aug = (
        e.join(outdeg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("od")).alias("w"))
        .unionAll(
            nodes.join(outdeg, nodes["node"] == outdeg["src"], "left_anti").select(
                F.col("node").alias("src"),
                F.lit(None).cast(dst_type).alias("dst"),
                F.lit(1.0).alias("w"),
            )
        )
        .persist()
    )
    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).localCheckpoint(eager=True)
    base = (1.0 - DAMPING) / n
    l1_deltas: list[float] = []
    done = 0
    try:
        prev = ranks  # previous state, for the L1 check
        for it in range(n_iter):
            summed = e_aug.join(
                ranks.withColumnRenamed("node", "src"), "src"
            ).groupBy("dst").agg(F.sum(F.col("rank") * F.col("w")).alias("c"))
            dang_row = summed.agg(
                F.coalesce(
                    F.sum(F.when(F.col("dst").isNull(), F.col("c"))), F.lit(0.0)
                ).alias("dang")
            )
            ranks = (
                nodes.join(summed, nodes["node"] == summed["dst"], "left")
                .crossJoin(F.broadcast(dang_row))
                .select(
                    "node",
                    (
                        F.lit(base)
                        + F.lit(DAMPING)
                        * (
                            F.coalesce(F.col("c"), F.lit(0.0))
                            + F.col("dang") / F.lit(float(n))
                        )
                    ).alias("rank"),
                )
            ).localCheckpoint(eager=True)
            done = it + 1
            if tol is not None:
                delta = (
                    ranks.join(prev.withColumnRenamed("rank", "prev_rank"), "node")
                    .agg(F.sum(F.abs(F.col("rank") - F.col("prev_rank"))))
                    .first()[0]
                    or 0.0
                )
                l1_deltas.append(float(delta))
                if delta <= tol:
                    break
            prev = ranks
        if stats is not None:
            stats["iterations"] = done
            stats["l1_deltas"] = l1_deltas
        return ranks
    finally:
        nodes.unpersist()
        outdeg.unpersist()
        e_aug.unpersist()


def extract_link_edges(
    pages: DataFrame,
    drop_self: bool = True,
) -> DataFrame:
    """Host-level weighted edge list ``(src, dst, n_links)`` from anchor
    hrefs in the raw ``html`` of each ``url`` — the front half of the crawl link graph
    (``pagerank`` is the back half).

    Pure codegen: UTF-8 decode via ``make_valid_utf8`` (malformed bytes
    become replacement chars — ANSI ``decode`` would throw, and one bad
    page must not kill a 100-TB job; same choice as
    ``extract.html_to_text``), one ``regexp_extract_all`` for ``href`` values in
    single or double quotes (case-insensitive), explode, then the
    ``urls.url_host`` canonical-host chain on both ends.  Only absolute
    http(s) targets become edges — relative links are same-host
    navigation, mailto:/javascript:/fragment hrefs are not links to
    hosts.  ``drop_self`` removes same-host edges (intra-site nav says
    nothing about reputation).  One map-side-combined shuffle for the
    per-edge count; no Python anywhere.
    """
    from .urls import url_host

    hrefs = F.regexp_extract_all(
        F.make_valid_utf8(F.col("html").cast("string")),
        F.lit(r"""(?i)href\s*=\s*["']([^"']+)["']"""),
        1,
    )
    exploded = pages.select(
        url_host(F.col("url")).alias("src"), F.explode(hrefs).alias("href")
    )
    edges = (
        exploded.filter(F.col("href").rlike(r"(?i)^https?://"))
        .select("src", url_host(F.col("href")).alias("dst"))
        .filter((F.col("dst") != "") & (F.col("src") != ""))
    )
    if drop_self:
        edges = edges.filter(F.col("src") != F.col("dst"))
    return edges.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n_links"))


def anchor_term_stats(pages: DataFrame) -> DataFrame:
    """Anchor-text aggregation: ``(dst, term, n_srcs)`` — how many distinct
    source HOSTS link to ``dst`` using this lowercased anchor word.  The
    classic link-graph relevance/reputation signal (search engines and
    crawl-quality pipelines aggregate what the web *calls* a host; spam
    farms show up as many links but few distinct anchor vocabularies).

    Same pure-codegen shape as :func:`extract_link_edges`: decode, ONE
    ``regexp_extract_all`` for whole ``<a …href…>…</a>`` elements (lazy
    body match; an attribute value containing ``>`` truncates that one
    anchor — documented tolerance, same class as malformed-byte repair),
    per-element href/inner-text extraction, tag-strip, whitespace-split.
    Self-links and relative/mailto targets drop exactly as in the edge
    list.  Two map-side-combined shuffles: the (dst, term, src) distinct
    and the count."""
    from .urls import url_host

    els = F.regexp_extract_all(
        F.make_valid_utf8(F.col("html").cast("string")),
        F.lit(r"""(?is)<a\s[^>]*href\s*=\s*["'][^"']+["'][^>]*>.*?</a>"""),
        0,
    )
    ex = pages.select(
        url_host(F.col("url")).alias("src"), F.explode(els).alias("el")
    )
    href = F.regexp_extract(F.col("el"), r"""(?i)href\s*=\s*["']([^"']+)["']""", 1)
    inner = F.regexp_extract(F.col("el"), r"(?is)>(.*)</a>$", 1)
    text = F.trim(F.regexp_replace(F.regexp_replace(inner, r"<[^>]*>", " "), r"\s+", " "))
    terms = F.filter(F.split(F.lower(text), r"[ \t\n\r\f\x0B]+"), lambda x: x != "")
    rows = (
        ex.withColumn("href", href)
        .filter(F.col("href").rlike(r"(?i)^https?://"))
        .select(
            "src",
            url_host(F.col("href")).alias("dst"),
            F.explode(terms).alias("term"),
        )
        .filter((F.col("dst") != "") & (F.col("src") != "") & (F.col("dst") != F.col("src")))
    )
    return rows.groupBy("dst", "term").agg(
        F.count_distinct(F.col("src")).alias("n_srcs")
    )
