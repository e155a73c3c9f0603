"""PageRank at realistic scale: a 1M-host power-law (Zipf out-degree,
preferential in-degree) link graph, generated distributed and deterministic.

The sf0.1 contract fixture has 53 hosts — its 21 s wall is ~85% Spark job
scheduling (5 eager localCheckpoint rounds x a handful of ms of actual
data), which says nothing about the operator at crawl scale.  This bench
answers the real questions:

* per-iteration wall on a graph big enough that data dominates scheduling,
* convergence behavior of the ``tol`` stop (iterations x L1 delta).

Usage: python tools/pagerank_bench.py [n_hosts] [cores] → one JSON line,
plus a markdown table on stderr for BENCH.md.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from data_quality_monitoring_spark.operators.linkgraph import pagerank
from data_quality_monitoring_spark.session import get_spark


def powerlaw_edges(spark, n_hosts: int, seed: int = 7):
    """Deterministic Zipf-ish host graph, generated fully distributed.

    Out-degree ~ min(floor(1/u), 200) with u uniform from xxhash64(id):
    mostly 1-3 outlinks, a heavy tail (E[deg] ≈ 1 + ln 200 ≈ 6.3).
    Targets ~ floor(n * v^3): cubing the uniform concentrates in-links on
    low ids — host 0 collects ~n^(2/3) inlinks, the classic hub skew that
    makes naive PageRank partitionings fall over.
    """
    hosts = spark.range(n_hosts)
    u = (F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(1_000_000)) + 1) / 1_000_000.0
    deg = F.least(F.floor(1.0 / u), F.lit(200)).cast("int")
    fanout = hosts.select("id", F.explode(F.sequence(F.lit(1), deg)).alias("k"))
    v = (
        F.pmod(F.xxhash64("id", "k", F.lit(seed + 1)), F.lit(1_000_000)) + 1
    ) / 1_000_000.0
    edges = fanout.select(
        F.col("id").alias("src"),
        F.floor(F.lit(float(n_hosts)) * F.pow(v, F.lit(3.0))).cast("long").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    return edges


def timed_pagerank(edges, **kw):
    t0 = time.time()
    stats: dict = {}
    ranks = pagerank(edges, **kw, stats=stats)
    n_top = ranks.orderBy(F.desc("rank")).limit(3).collect()
    wall = time.time() - t0
    return wall, stats, [(r["node"], round(r["rank"], 8)) for r in n_top]


def main() -> None:
    n_hosts = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    spark = get_spark(
        app_name="pagerank_bench", cores=cores, shuffle_partitions=cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    edges = powerlaw_edges(spark, n_hosts).persist()
    n_edges = edges.count()

    results = {}
    # fixed 10 rounds (the contract-query shape)
    w1, _, _ = timed_pagerank(edges, n_iter=10)
    results["fixed10"] = {"wall_s": round(w1, 2), "per_iter_s": round(w1 / 10, 2)}
    # tolerance stop: iterate until L1 <= 1e-4
    w3, stats3, top3 = timed_pagerank(edges, n_iter=60, tol=1e-4)
    results["tol_1e-4"] = {
        "wall_s": round(w3, 2),
        "iterations": stats3["iterations"],
        "l1_deltas": [round(d, 6) for d in stats3["l1_deltas"]],
    }

    jvm_rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    heap_mb = (jvm_rt.totalMemory() - jvm_rt.freeMemory()) / 1e6
    out = {
        "n_hosts": n_hosts,
        "n_edges": n_edges,
        "cores": cores,
        "top_hosts": top3[:3],
        "jvm_heap_mb": round(heap_mb, 0),
        **results,
    }
    print(json.dumps(out))

    rows = [
        ("fixed 10 iter", results["fixed10"]["wall_s"],
         results["fixed10"]["per_iter_s"], "—"),
        (f"tol=1e-4 stop ({results['tol_1e-4']['iterations']} iters)",
         results["tol_1e-4"]["wall_s"],
         round(results["tol_1e-4"]["wall_s"] / results["tol_1e-4"]["iterations"], 2),
         results["tol_1e-4"]["l1_deltas"][-1]),
    ]
    print("| run | wall (s) | s/iter | final L1 |", file=sys.stderr)
    print("|---|---|---|---|", file=sys.stderr)
    for name, wall, per, l1 in rows:
        print(f"| {name} | {wall} | {per} | {l1} |", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
