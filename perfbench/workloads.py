"""The benchmark's workloads: what one timed run does, how its output is
checked, and which layer spans the traced run materializes.

Each workload exposes ``prepare`` (inputs, excluded from every timing),
``warm_up`` (the untimed warm-up run inside the set-up: for the document
workloads one run of the timed job on the same input, so every code path,
worker and cache the timed job uses is started), ``run_once`` (one timed
run), ``check`` (output problems of one run, empty when correct),
``data_path`` (where a run writes its data files) and ``trace``
(layer-by-layer spans; returns counts made along the way).
``docs`` is the input size that ``docs_per_s`` divides by.  A span is
``span(name, fn)``: it runs ``fn`` under Spark job group ``name``, records
its wall time and returns ``fn()``.
"""

from __future__ import annotations

import shutil
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import inputs

FAMILY_LADDER = [  # quality_filter families added one at a time
    ("rules", ["validation", "pattern"]),
    ("langid", ["validation", "pattern", "ml"]),
    ("perplexity", ["validation", "pattern", "ml", "llm"]),
]

Span = Callable[[str, Callable[[], object]], object]


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _fresh(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    return path


def filter_ladder(spark: SparkSession, pages: DataFrame, span: Span) -> None:
    """Materialize the filter plan at each layer boundary: scan, extraction,
    then ``quality_filter`` with detector families added one at a time (the
    finding columns only, so scrub and verdict are pruned), then the full
    output.  A layer's self time is its span's wall minus the previous one."""
    from data_quality_monitoring_spark.operators.extract import extract_pages
    from data_quality_monitoring_spark.plans.pipeline import quality_filter

    span("scan", lambda: noop(pages))
    ext = extract_pages(pages)
    span("extract", lambda: noop(ext))
    for name, methods in FAMILY_LADDER:
        res = quality_filter(spark, ext, methods=methods)
        cols = ["url"] + [c for c in res.columns if c.startswith("f_")]
        span(name, lambda res=res, cols=cols: noop(res.select(*cols)))
    span("scrub", lambda: noop(quality_filter(spark, ext)))


def dedup_ladder(spark: SparkSession, kept: DataFrame, span: Span) -> dict[str, int]:
    """``build_corpus``'s stages one after another over the kept docs
    ``kept`` (url, lang, text_scrubbed), each persisted and counted under
    its own span, so each span times its own stage only."""
    from data_quality_monitoring_spark.operators.dedup import (
        connected_components,
        exact_dedup,
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    counts: dict[str, int] = {}

    def stage(name: str, df: DataFrame) -> DataFrame:
        df = df.persist()
        counts[name] = span(name, df.count)
        return df

    kept = stage("dedup.filter", kept.filter(F.col("keep")).select("url", "lang", "text_scrubbed"))
    deduped = stage("dedup.exact", exact_dedup(kept, "url", "text_scrubbed"))
    sig = stage("dedup.minhash", minhash_signatures(deduped, "url", "text_scrubbed"))
    cand = stage("dedup.lsh", lsh_candidate_pairs(sig, "url"))
    pairs = stage("dedup.verify", jaccard_verify(deduped, cand, "url", "text_scrubbed", 0.7))
    span("dedup.components", lambda: connected_components(pairs, "a", "b").count())
    spark.catalog.clearCache()
    return {"candidate_pairs": counts["dedup.lsh"], "verified_pairs": counts["dedup.verify"]}


class CrawlFilter:
    """``plans.submit.run`` in filter mode, ``--extract-html``, over raw-crawl
    pages: the CLI's 64 buckets, committed as one chunk."""

    name = "crawl_filter"
    n_docs = 8_000
    n_buckets, chunk_buckets = 64, 64

    def __init__(self, work: Path, seed: int, plant_fault: bool):
        self.work, self.seed, self.plant_fault = work, seed, plant_fault

    def prepare(self) -> None:
        root = self.work / "inputs"
        self.input, self.truth = inputs.crawl_input(root, self.seed, self.n_docs)
        self.docs = self.truth["docs"]
        self.input_bytes = self.truth["input_bytes"]
        self._input_sums = None

    def warm_up(self, spark: SparkSession) -> None:
        self.run_once(spark, self.work / "warm-out")

    def run_once(self, spark: SparkSession, out: Path) -> dict:
        from data_quality_monitoring_spark.plans import submit

        argv = ["--input", str(self.input), "--output", str(_fresh(out)), "--extract-html",
                "--chunk-buckets", str(self.chunk_buckets)]
        return submit.run(spark, submit.build_args(argv))

    def check(self, spark: SparkSession, out: Path, summary: dict) -> list[str]:
        from data_quality_monitoring_spark.sources.manifest import PartitionedSink

        url_sums = [F.count("*"), F.expr("bit_xor(xxhash64(url))")]
        if self._input_sums is None:
            r = spark.read.parquet(str(self.input)).agg(*url_sums).first()
            self._input_sums = (int(r[0]), int(r[1]))
        problems = []
        sink = PartitionedSink(str(out), self.n_buckets, self.chunk_buckets)
        if sink.committed_buckets() != set(range(self.n_buckets)):
            problems.append("not every bucket committed")
        sample = self.truth["sample"]
        got = sink.result(spark).agg(  # one job: url sums and the oracle sample
            *url_sums,
            F.collect_list(
                F.when(F.col("url").isin(list(sample)),
                       F.struct("url", "keep", "text_scrubbed"))
            ),
        ).first()
        if (int(got[0]), int(got[1] or 0)) != self._input_sums:
            problems.append("committed urls differ from the input urls")
        lin = sink.lineage(spark).agg(
            F.sum("n_docs"), F.expr("bit_xor(checksum)")
        ).first()
        if (int(lin[0] or 0), int(lin[1] or 0)) != self._input_sums:
            problems.append("_lineage count/checksum differ from the input")
        rows = {r["url"]: [bool(r["keep"]), r["text_scrubbed"]] for r in got[2]}
        if self.plant_fault and rows:
            url = min(rows)
            rows[url][0] = not rows[url][0]
        bad = [u for u, want in sample.items() if rows.get(u) != want]
        if bad:
            problems.append(f"{len(bad)}/{len(sample)} sampled urls differ from the oracle")
        return problems

    def data_path(self, out: Path) -> str:
        return str(out / "data")

    def trace(self, spark: SparkSession, span: Span, out: Path) -> dict[str, int]:
        from data_quality_monitoring_spark.sources.manifest import PartitionedSink

        filter_ladder(spark, spark.read.parquet(str(self.input)), span)
        # the dedup stages also run downstream of this job, over its
        # committed table: a corpus without planted duplicates
        sink = PartitionedSink(str(out), self.n_buckets, self.chunk_buckets)
        return dedup_ladder(spark, sink.result(spark), span)


class CorpusDedup:
    """``plans.corpus.build_corpus`` plus the final parquet write over
    duplicate-rich text pages."""

    name = "corpus_dedup"
    n_docs = 4_000

    def __init__(self, work: Path, seed: int, plant_fault: bool):
        self.work, self.seed, self.plant_fault = work, seed, plant_fault

    def prepare(self) -> None:
        root = self.work / "inputs"
        self.input, self.truth = inputs.dedup_input(root, self.seed, self.n_docs)
        self.docs = self.truth["docs"]
        self.input_bytes = self.truth["input_bytes"]

    def warm_up(self, spark: SparkSession) -> None:
        self.run_once(spark, self.work / "warm-out")

    def run_once(self, spark: SparkSession, out: Path) -> dict:
        from data_quality_monitoring_spark.plans.corpus import build_corpus

        corpus, stats = build_corpus(spark, spark.read.parquet(str(self.input)))
        corpus.write.parquet(str(_fresh(out)))
        spark.catalog.clearCache()
        return stats

    def check(self, spark: SparkSession, out: Path, stats: dict) -> list[str]:
        stats = dict(stats)
        if self.plant_fault:
            stats["final"] += 1
        problems = [
            f"{k}: {stats.get(k)} != expected {v}"
            for k, v in self.truth["counts"].items()
            if stats.get(k) != v
        ]
        written = spark.read.parquet(str(out)).count()
        if written != self.truth["counts"]["final"]:
            problems.append(f"written rows {written} != expected final")
        return problems

    def data_path(self, out: Path) -> str:
        return str(out)

    def trace(self, spark: SparkSession, span: Span, out: Path) -> dict[str, int]:
        from data_quality_monitoring_spark.plans.pipeline import quality_filter

        pages = spark.read.parquet(str(self.input))
        filter_ladder(spark, pages, span)
        return dedup_ladder(spark, quality_filter(spark, pages), span)


class ContractBattery:
    """The 54 ``bench.HEADLINE`` contract queries, each to a noop sink, one
    pass per run; every query is checked once per invocation against its
    ``oracle_sql()`` on DuckDB, outside the timed runs."""

    name = "contract_battery"

    def __init__(self, work: Path, seed: int, plant_fault: bool, sf_dir: str):
        self.work, self.seed, self.plant_fault, self.sf_dir = work, seed, plant_fault, sf_dir

    def prepare(self) -> None:
        from bench import HEADLINE

        self.queries = list(HEADLINE)
        self.docs = 0
        self.input_bytes = sum(p.stat().st_size for p in Path(self.sf_dir).glob("*.parquet"))

    def _query(self, spark: SparkSession, name: str) -> DataFrame:
        from data_quality_monitoring_spark.entry_queries import QUERIES

        return QUERIES[name](spark, self.sf_dir)

    def warm_up(self, spark: SparkSession) -> None:
        noop(self._query(spark, "pipeline_verdict"))

    def oracle_check(self, spark: SparkSession) -> list[str]:
        """Each query vs its oracle SQL on DuckDB: row count, columns and
        the order-insensitive value hash of ``tools/check_contract``."""
        import duckdb

        from data_quality_monitoring_spark.entry_queries import ORACLES
        from tools.check_contract import TABLES, norm_hash

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        problems = []
        for name in self.queries:
            try:
                sdf = self._query(spark, name).toPandas()
                if name not in ORACLES:
                    continue  # rows-only contract entry: running it is the check
                odf = con.execute(ORACLES[name]).df()
            except Exception as e:  # noqa: BLE001 - a failing query is a result
                problems.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            digest = norm_hash(sdf)
            if self.plant_fault and name == self.queries[0]:
                digest = "planted"
            if (len(sdf), sorted(sdf.columns)) != (len(odf), sorted(odf.columns)) or (
                digest != norm_hash(odf)
            ):
                problems.append(f"{name}: result differs from oracle_sql")
        con.close()
        return problems

    def run_once(self, spark: SparkSession, out: Path, span: Span | None = None) -> dict:
        """One pass; with ``span`` each query runs as span ``battery.<q>``."""
        failed = []
        for name in self.queries:
            try:
                if span is None:
                    noop(self._query(spark, name))
                else:
                    span(f"battery.{name}", lambda name=name: noop(self._query(spark, name)))
            except Exception as e:  # noqa: BLE001 - counted in failed_frac
                failed.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
        return {"failed": failed}

    def check(self, spark: SparkSession, out: Path, summary: dict) -> list[str]:
        return list(summary["failed"])

    def trace(self, spark: SparkSession, span: Span, out: Path) -> dict[str, int]:
        return {}  # the traced pass itself carries the per-query spans


WORKLOADS = {w.name: w for w in (CrawlFilter, CorpusDedup, ContractBattery)}
