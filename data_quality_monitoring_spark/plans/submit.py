"""spark-submit entrypoint: the packaged form of the pipeline.

Ship as::

    zip -r dqm.zip data_quality_monitoring_spark
    spark-submit --py-files dqm.zip \
        --conf spark.sql.adaptive.enabled=true \
        -m data_quality_monitoring_spark.plans.submit -- \
        --input s3://bucket/pages --output s3://bucket/filtered \
        --n-buckets 4096 --chunk-buckets 256

(locally: ``python -m data_quality_monitoring_spark.plans.submit --input ...``).

Reads a pages table, runs the resumable quality filter, writes the filtered
data + lineage + filter-metrics tables (per-rule fire counts, langid
distribution, perplexity histogram).  Re-running after a crash resumes from
the last committed snapshot — that is the PartitionedSink contract.
"""

from __future__ import annotations

import argparse
import io
import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..session import local_table, read_bytes, write_bytes
from ..sources.manifest import PartitionedSink
from .pipeline import filter_metrics, filter_stage, quality_filter

_KNOWN_METHODS = ("validation", "pattern", "ml", "llm", "quality_model")

# flags a mode would silently ignore: corpus mode runs build_corpus's
# default filter, incremental mode keeps min keys and verifies every pair
_UNSUPPORTED = {
    "corpus": ("methods", "combine", "cascade", "llm_order", "c4_clean", "rep_gate", "gopher_gate"),
    "incremental": ("keep_best", "min_est_jaccard"),
}


def _parse_methods(raw: str) -> list[str] | None:
    """Strict parse: a typo must fail the job, not silently disable a
    detector family and ship an unfiltered corpus."""
    if not raw:
        return None
    methods = [m.strip() for m in raw.split(",") if m.strip()]
    unknown = [m for m in methods if m not in _KNOWN_METHODS]
    if unknown or not methods:
        raise argparse.ArgumentTypeError(
            f"unknown detector families {unknown} "
            f"(choose from {', '.join(_KNOWN_METHODS)})"
        )
    return methods


def build_args(argv: list[str] | None = None) -> argparse.Namespace:
    """CLI surface mirroring the reference's main.py dispatcher
    (``main.py:26-59``): the default command is the production filter; the
    demo/eval/curve flows are subcommand-style via ``--mode``."""
    p = argparse.ArgumentParser(description="web-page quality filter")
    p.add_argument(
        "--mode",
        choices=["filter", "corpus", "incremental", "single-demo", "multi-eval",
                 "ml-curves", "ml-train", "llm-train", "hp-search",
                 "analyze-column", "host-stats", "link-graph"],
        default="filter",
        help="filter = resumable quality filter (default); corpus = filter "
        "+ dedup battery + optional sampling → final training corpus; "
        "single-demo = inject→detect→consolidated report; multi-eval = "
        "N-sample statistical evaluation; ml-curves = threshold sweeps; "
        "ml-train / llm-train = distributed model training → artifacts "
        "(full reference main.py dispatcher parity)",
    )
    p.add_argument("--input", required=True, help="pages parquet path")
    p.add_argument(
        "--input-format",
        choices=["parquet", "warc"],
        default="parquet",
        help="filter mode: 'warc' ingests raw *.warc/*.warc.gz crawl files "
        "(sources/warc.py; response records → pages, pair with "
        "--extract-html to fill text from the html payload)",
    )
    p.add_argument("--output", required=True, help="output table root")
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--chunk-buckets", type=int, default=16)
    p.add_argument("--combine", choices=["priority", "weighted"], default="priority")
    p.add_argument(
        "--extract-html",
        action="store_true",
        help="fill missing text from the html payload before filtering "
        "(raw-WARC ingestion; operators/extract.html_to_text)",
    )
    p.add_argument(
        "--methods",
        type=_parse_methods,
        default=None,
        help="comma-separated detector families (validation,pattern,ml,llm,"
        "quality_model); default = the reference's four — quality_model is "
        "the opt-in learned tier",
    )
    p.add_argument("--n-samples", type=int, default=8, help="multi-eval replicas")
    p.add_argument("--intensity", type=float, default=0.3, help="injection intensity")
    p.add_argument("--max-issues-per-row", type=int, default=2, help="single-demo cap")
    p.add_argument(
        "--jaccard-threshold", type=float, default=0.7, help="corpus/incremental near-dup bar"
    )
    p.add_argument(
        "--sample-rates",
        default=None,
        help='corpus mode per-lang keep rates as JSON, e.g. \'{"en": 0.5}\'',
    )
    p.add_argument("--default-rate", type=float, default=1.0, help="corpus sample default")
    p.add_argument("--field", default="lang", help="analyze-column target field")
    p.add_argument(
        "--sig-store", default=None,
        help="incremental mode: parquet dir of the accepted corpus's "
        "minhash signatures (created on first batch, appended per batch)",
    )
    p.add_argument(
        "--min-est-jaccard", type=float, default=None,
        help="corpus mode: opt-in minhash-agreement prefilter between LSH "
        "banding and exact verify (operators/dedup.signature_prefilter) — "
        "bounds candidate volume on low-entropy corpora",
    )
    p.add_argument(
        "--canonicalize-urls",
        action="store_true",
        help="filter/corpus/incremental modes: canonicalize urls "
        "(operators/urls.py) and keep one fetch per canonical url (earliest "
        "warc_ts) before any text-level work",
    )
    p.add_argument(
        "--cascade",
        action="store_true",
        help="filter/incremental modes: skip the model scorers for "
        "documents the rule chain already condemns (keep/drop provably "
        "unchanged, their score columns NULL; ~15%% wall saved here, far "
        "more with expensive scorers — plans/pipeline.quality_filter)",
    )
    p.add_argument(
        "--gopher-gate",
        action="store_true",
        help="filter/incremental modes: AND the Gopher hard-rule document "
        "gate (Rae et al. 2021 Appendix A — word count, mean word length, "
        "symbol ratio, bullet/ellipsis/duplicate line fractions, alpha-word "
        "fraction, stop-word hits; operators/textstats.gopher_signals) into keep; "
        "scan-local Column expressions, zero extra shuffles",
    )
    p.add_argument(
        "--keep-best",
        action="store_true",
        help="corpus mode: retain the highest-quality-score member of each "
        "near-dup cluster instead of the min-key one (NemoCurator/FineWeb "
        "policy; operators/dedup.component_keep_best)",
    )
    p.add_argument(
        "--rep-gate",
        action="store_true",
        help="filter/incremental modes: AND the full Gopher repetition-family "
        "verdict (dup line/para fractions + char fractions, top-n-gram and "
        "dup-n-gram char fractions at the Table-A1 thresholds; "
        "operators/textstats.gopher_repetition) into keep — one Arrow "
        "pass, zero extra shuffles",
    )
    p.add_argument(
        "--c4-clean",
        action="store_true",
        help="filter/incremental modes: apply the C4 line filter (Raffel et "
        "al. 2020 §2.2 — drop short / unterminated / javascript lines, "
        "rebuild the text, condemn brace/lorem-ipsum/dirty-word pages; "
        "operators/normalize.c4_line_signals) to the shipped text and AND "
        "the verdict into keep; scan-local, zero extra shuffles",
    )
    p.add_argument(
        "--host-blocklist",
        help="filter/corpus/incremental modes: path to a host-stats output "
        "(parquet of host, n_pages, n_kept, keep_rate, blocked); pages on "
        "blocked hosts are dropped BEFORE any text-level work — the "
        "RefinedWeb-style second pass over a previously-filtered dump",
    )
    p.add_argument(
        "--host-min-keep-rate", type=float, default=0.5,
        help="host-stats mode: block hosts whose per-document keep rate "
        "is below this (default 0.5)",
    )
    p.add_argument(
        "--host-min-support", type=int, default=20,
        help="host-stats mode: never block hosts with fewer pages than "
        "this (default 20)",
    )
    p.add_argument(
        "--host-stats-merge",
        help="host-stats mode: path to a previous host-stats output; the "
        "new dump's counts are accumulated onto it before the blocked "
        "verdict is recomputed, so low-traffic hosts condemn once their "
        "cumulative evidence clears the support floor",
    )
    p.add_argument(
        "--honor-noindex", action="store_true",
        help="filter/corpus/incremental modes: drop pages carrying a "
        "<meta name=robots content=...noindex...> opt-out before any "
        "text-level work (requires an html column; no-op without one)",
    )
    p.add_argument(
        "--pack-texts", action="store_true",
        help="corpus mode, with --pack-budget: also write corpus_packs/ — "
        "one row per pack with member texts concatenated in pack order "
        "(chr(30) separator), the layout a training loader streams",
    )
    p.add_argument(
        "--anchor-terms", action="store_true",
        help="link-graph mode: also write anchors/ — per-(dst host, anchor "
        "word) distinct-source counts, the classic anchor-text "
        "relevance/reputation signal (operators/linkgraph.anchor_term_stats)",
    )
    p.add_argument(
        "--pagerank-iters", type=int, default=5,
        help="link-graph mode: synchronous PageRank iterations over the "
        "extracted host edge list (default 5)",
    )
    p.add_argument(
        "--shuffle-shards", type=int,
        help="corpus mode: also write corpus_shuffled/ — the final corpus "
        "in deterministic md5-shuffled (shard, shard_pos) order, one "
        "parquet partition per shard, so the training loader reads an "
        "i.i.d. stream with host/lang/time locality broken "
        "(operators/packing.shuffle_shards)",
    )
    p.add_argument(
        "--shuffle-seed", type=int, default=0,
        help="corpus mode: seed for --shuffle-shards; a new seed is a new "
        "epoch-level reshuffle (default 0)",
    )
    p.add_argument(
        "--ppl-tiers",
        action="store_true",
        help="filter mode: add a CCNet head/middle/tail ppl_bucket column "
        "(cuts from per-lang approx percentiles over a deterministic 10%% "
        "sample — operators/perplexity.perplexity_buckets scale path)",
    )
    p.add_argument(
        "--mixture-budget", type=float, default=None,
        help="corpus mode: total token budget for source-weighted corpus "
        "mixing over lang (operators/sampling.mixture_sample)",
    )
    p.add_argument(
        "--mixture-weights", default=None,
        help='corpus mode: per-lang mixture weights as JSON, e.g. '
        '\'{"en": 3, "nl": 1}\'; langs absent from the map get weight 1',
    )
    p.add_argument(
        "--pack-budget", type=int, default=None,
        help="corpus mode: after all dedup/mixing, assign every doc a "
        "(shard, pack_id) so packs fit this token budget "
        "(operators/packing.pack_documents) — written as "
        "<output>/corpus_packed",
    )
    p.add_argument(
        "--decontaminate", default=None,
        help="corpus/incremental modes: parquet of eval-set docs (text "
        "column); docs overlapping it are dropped after dedup (corpus) or "
        "before acceptance (incremental), ahead of any sampling/mixing "
        "(operators/dedup.decontaminate)",
    )
    p.add_argument(
        "--decontaminate-mode", choices=["exact", "fuzzy", "bloom", "audit"],
        default="exact",
        help="exact = shared distinct k-gram shingles (default); fuzzy = "
        "MinHash-LSH candidates + shingle-Jaccard verify — catches "
        "paraphrased eval leakage (operators/dedup.fuzzy_decontaminate); "
        "bloom = same k-gram test through a fixed-size Bloom filter — the "
        "scale form when the eval suite itself is too big to broadcast as "
        "strings, no false negatives (operators/dedup.decontaminate_bloom); "
        "audit = drop NOTHING, write a per-doc overlap-fraction report "
        "instead — <output>/contamination_report parquet with the "
        "PaLM-style dirty verdict (operators/dedup.contamination_stats)",
    )
    p.add_argument(
        "--decontaminate-threshold", type=float, default=0.5,
        help="fuzzy decontamination Jaccard bar; in audit mode, the "
        "overlap fraction at which a doc is reported dirty (default 0.5)",
    )
    p.add_argument(
        "--dsir-top", type=int, default=None,
        help="corpus mode: keep only the top-N docs by DSIR importance "
        "score toward --dsir-target (hashed-ngram log-ratio + seeded "
        "Gumbel, operators/sampling.dsir_sample); runs after dedup and "
        "decontamination, before mixing",
    )
    p.add_argument(
        "--dsir-target", default=None,
        help="corpus mode: parquet of target-distribution docs (text "
        "column) for --dsir-top",
    )
    p.add_argument(
        "--probe-n", type=int, default=200,
        help="ml-train / llm-train: held-out sample size for the "
        "post-training quality probe (reference "
        "model_training.py:400-563); 0 disables",
    )
    p.add_argument(
        "--probe-dirs", nargs="*", default=None,
        help="single-demo / multi-eval: model-artifact dirs whose "
        "train_probe.json (written by ml-train / llm-train) is embedded "
        "under model_probes in the consolidated report / evaluation "
        "summary, so a degraded model is visible where the report is read",
    )
    p.add_argument(
        "--hp-trials", type=int, default=15,
        help="hp-search: number of random trials (reference "
        "hyperparameter_search.py num_trials=15)",
    )
    p.add_argument(
        "--hp-seed", type=int, default=0,
        help="hp-search: RNG seed for the per-parameter random draws — "
        "(space, trials, seed) fully determines the search",
    )
    p.add_argument(
        "--hp-target", choices=["llm", "ml"], default="llm",
        help="hp-search: which detector slot to search — llm = bigram-LM "
        "(lam/k/threshold), ml = NB quality model (alpha/threshold, the "
        "reference's actual search target)",
    )
    p.add_argument(
        "--min-word-count", type=int, default=None,
        help="llm-train: floor on word counts before the per-language "
        "top-k vocab window — prunes the hapax tail off the sort task "
        "(default: auto — 1/exact up to 5M docs, 2 above; set explicitly "
        "to override)",
    )
    p.add_argument(
        "--ngram-min-count", type=int, default=None,
        help="llm-train: floor on n-gram-type counts before the model "
        "collect (KenLM-style count pruning; default: auto — 1/exact up "
        "to 5M docs, 2 above)",
    )
    p.add_argument(
        "--llm-order", type=int, choices=[2, 3], default=2,
        help="filter/incremental modes: n-gram order of the LLM-slot "
        "perplexity model — 2 = frozen bigram artifacts (the reference "
        "contract, default), 3 = frozen trigram artifacts "
        "(operators/perplexity.NgramLM); llm-train: order of the trained "
        "LMs (bigram_<lang>.npz or trigram_<lang>.npz)",
    )
    p.add_argument(
        "--chunk-words", type=int, default=None,
        help="corpus mode: also write corpus_chunks/ — every doc split "
        "into fixed word windows of this size for long-document "
        "training/indexing (operators/packing.chunk_documents)",
    )
    p.add_argument(
        "--chunk-overlap", type=int, default=32,
        help="corpus mode: overlap words between consecutive chunks "
        "(default 32)",
    )
    p.add_argument(
        "--substring-k", type=int, default=None,
        help="corpus mode: after doc-level dedup, strip every token inside "
        "a >= K-token span repeated anywhere in the corpus "
        "(operators/dedup.substring_dedup, Lee et al. 2022 ExactSubstr); "
        "incremental mode: same, keep-first across batches against the "
        "gram store at <sig-store>_grams",
    )
    args = p.parse_args(argv)
    if args.dsir_top and not args.dsir_target:
        p.error("--dsir-top requires --dsir-target (parquet of target-distribution docs)")
    for dest in _UNSUPPORTED.get(args.mode, ()):
        if getattr(args, dest) != p.get_default(dest):
            p.error(f"--{dest.replace('_', '-')} is not supported in {args.mode} mode")
    return args


def _llm_models(args):
    """--llm-order 3 swaps the frozen trigram artifacts into the LLM slot;
    None keeps the default bigram tier."""
    if args.llm_order == 3:
        from ..artifacts import get_trigram_models

        return get_trigram_models()
    return None


def _drop_pages(spark: SparkSession, pages, args):
    """Page-level drops ahead of any text-level work, in this order:
    ``--canonicalize-urls`` (one fetch per canonical url, earliest
    warc_ts), ``--honor-noindex`` (robots-noindex opt-outs, a codegen
    rlike on the raw html; no-op without an html column) and
    ``--host-blocklist`` (the small ``blocked`` projection of a host-stats
    table, broadcast, so the pages side stays a narrow scan).  None of
    them reads text, so extraction can follow them."""
    if args.canonicalize_urls:
        from ..operators.urls import canonical_dedup

        pages = canonical_dedup(pages)
    if args.honor_noindex and "html" in pages.columns:
        from ..operators.extract import robots_noindex

        pages = pages.filter(~robots_noindex(F.col("html")))
    if args.host_blocklist:
        from ..operators.hostquality import apply_host_blocklist
        from ..operators.urls import url_host

        stats = spark.read.parquet(args.host_blocklist)
        pages = (
            apply_host_blocklist(pages, stats, host=url_host(F.col("url")))
            .filter(~F.col("host_blocked"))
            .drop("host_blocked")
        )
    return pages


def _filter_stage(spark: SparkSession, pages, args):
    """``pipeline.filter_stage`` with the CLI's filter-shaping flags."""
    return filter_stage(
        spark, pages, extract_html=args.extract_html,
        c4_clean=args.c4_clean, rep_gate=args.rep_gate, gopher_gate=args.gopher_gate,
        combine=args.combine, methods=args.methods,
        cascade=args.cascade, lm_models=_llm_models(args),
    )


def run(spark: SparkSession, args: argparse.Namespace) -> dict:
    if args.input_format == "warc":
        from ..sources.warc import read_warc, warc_to_pages

        pages = warc_to_pages(read_warc(spark, args.input))
    else:
        pages = spark.read.parquet(args.input)
    pages = _drop_pages(spark, pages, args)
    sink = PartitionedSink(args.output, args.n_buckets, args.chunk_buckets)

    cuts_df = None
    if args.ppl_tiers:
        # CCNet head/middle/tail cuts, estimated ONCE from a deterministic
        # 10% md5-bucket sample (the scale path of
        # operators/perplexity.perplexity_buckets — no global sort, and the
        # cuts are a pure function of the input so resumed runs agree).
        from ..operators.sampling import sample_bucket

        sample = pages.filter(sample_bucket(F.col("url")) < 100)
        if args.extract_html:
            from ..operators.extract import extract_pages

            sample = extract_pages(sample)
        scored = quality_filter(spark, sample, methods=["llm"]).select(
            F.coalesce(F.col("lang"), F.lit("und")).alias("_bl"), "ppl_score"
        )
        tier_cuts = (
            scored.filter(F.col("ppl_score").isNotNull())
            .groupBy("_bl")
            .agg(
                F.percentile_approx("ppl_score", F.lit(1.0 / 3.0)).alias("_c1"),
                F.percentile_approx("ppl_score", F.lit(2.0 / 3.0)).alias("_c2"),
            )
            .collect()
        )
        cuts_df = local_table(
            spark,
            {c: [r[c] for r in tier_cuts] for c in ("_bl", "_c1", "_c2")},
            "_bl string, _c1 double, _c2 double",
        )

    def transform(slice_df):
        res = _filter_stage(spark, slice_df, args)
        if cuts_df is not None:
            res = (
                res.withColumn("_bl", F.coalesce(F.col("lang"), F.lit("und")))
                .join(F.broadcast(cuts_df), "_bl", "left")
                .withColumn(
                    "ppl_bucket",
                    F.when(F.col("ppl_score").isNull() | F.col("_c1").isNull(), "unscored")
                    .when(F.col("ppl_score") <= F.col("_c1"), "head")
                    .when(F.col("ppl_score") <= F.col("_c2"), "middle")
                    .otherwise("tail"),
                )
                .drop("_bl", "_c1", "_c2")
            )
        return res

    return sink.run(pages, transform, metrics_fn=filter_metrics)


def _apply_decontaminate(spark: SparkSession, docs, args, stats: dict):
    """--decontaminate: drop docs overlapping the eval-set parquet (exact
    8-gram shingles, or MinHash+Jaccard with --decontaminate-mode fuzzy).
    Shared by corpus and incremental modes; records the drop count."""
    decon = args.decontaminate
    if not decon:
        return docs
    # deterministic bench id: fuzzy decontamination evaluates this frame
    # several times (band table, signature agg, shingle join) — a
    # monotonically_increasing_id could renumber between re-scans and pair
    # candidate bands with the wrong bench doc's shingles; md5(text) is
    # stable across scans (and collapses byte-identical bench dups, which
    # are one contamination source anyway)
    bench = (
        spark.read.parquet(decon)
        .select(F.md5(F.col("text")).alias("_bid"), F.col("text"))
        .dropDuplicates(["_bid"])
    )
    mode = args.decontaminate_mode
    if mode == "audit":
        # report, don't drop: per-doc overlap fraction + dirty verdict to
        # <output>/contamination_report; the corpus ships unchanged
        from ..operators.dedup import contamination_stats

        rep = contamination_stats(
            docs, bench, "url", text_col="text_scrubbed",
            frac_threshold=args.decontaminate_threshold,
        )
        rep.write.mode("overwrite").parquet(f"{args.output}/contamination_report")
        rep = spark.read.parquet(f"{args.output}/contamination_report")
        stats["contamination_dirty_docs"] = rep.filter(F.col("dirty")).count()
        stats["decontaminated_docs_dropped"] = 0
        return docs
    if mode == "fuzzy":
        from ..operators.dedup import fuzzy_decontaminate

        flagged = fuzzy_decontaminate(
            docs, bench, "url", "_bid", text_col="text_scrubbed",
            threshold=args.decontaminate_threshold,
        ).select("url").distinct()
    elif mode == "bloom":
        from ..operators.dedup import decontaminate_bloom

        flagged = (
            decontaminate_bloom(docs, bench, "url", text_col="text_scrubbed")
            .filter(F.col("n_flagged") > 0)
            .select("url")
        )
    else:
        from ..operators.dedup import decontaminate

        flagged = (
            decontaminate(docs, bench, "url", text_col="text_scrubbed")
            .filter(F.col("n_contaminated") > 0)
            .select("url")
        )
    before = docs.count()
    out = docs.join(flagged, "url", "left_anti")
    stats["decontaminated_docs_dropped"] = before - out.count()
    return out


def run_corpus(spark: SparkSession, args: argparse.Namespace) -> dict:
    """corpus: the full training-corpus build (plans/corpus.build_corpus —
    filter → exact dedup → near-dup clusters → optional stratified sample)
    written as parquet + a stage-counts JSON."""
    from .corpus import build_corpus

    pages = _drop_pages(spark, spark.read.parquet(args.input), args)
    if args.extract_html:  # raw-WARC ingestion
        from ..operators.extract import extract_pages

        pages = extract_pages(pages)
    rates = json.loads(args.sample_rates) if args.sample_rates else None
    corpus, stats = build_corpus(
        spark, pages, jaccard_threshold=args.jaccard_threshold,
        sample_rates=rates, default_rate=args.default_rate,
        min_est_jaccard=args.min_est_jaccard,
        keep_best=args.keep_best,
    )
    k = args.substring_k
    if k:  # ExactSubstr pass over the final corpus text
        from ..operators.dedup import substring_dedup

        sd = substring_dedup(corpus, text_col="text_scrubbed", id_col="url", k=k)
        stats["substring_tokens_removed"] = int(
            sd.agg(F.sum("n_removed")).first()[0] or 0
        )
        corpus = corpus.select("url", "lang").join(
            sd.select("url", F.col("text_dedup").alias("text_scrubbed")), "url"
        )
    corpus = _apply_decontaminate(spark, corpus, args, stats)
    dsir_top = args.dsir_top
    if dsir_top:  # DSIR importance resample toward a target distribution
        from ..operators.sampling import dsir_sample

        target = spark.read.parquet(args.dsir_target).select("text")
        picked = dsir_sample(
            corpus.withColumnRenamed("text_scrubbed", "text"),
            target, "url", n=dsir_top,
        ).select("url")
        corpus = corpus.join(picked, "url", "left_semi")
        stats["dsir_docs_selected"] = corpus.count()
    budget = args.mixture_budget
    if budget:  # lang-weighted token-budget mixing over the final corpus
        from ..operators.sampling import mixture_sample
        from ..operators.textstats import token_count

        wmap = json.loads(args.mixture_weights) if args.mixture_weights else {}
        # raw-crawl batches may carry lang=NULL → mix them as the 'und'
        # stratum rather than silently dropping them
        lang_key = F.coalesce(F.col("lang"), F.lit("und"))
        langs = corpus.select(lang_key.alias("source")).distinct()
        weights = langs.withColumn(
            "weight",
            F.coalesce(
                *(
                    [F.when(F.col("source") == k, float(v)) for k, v in sorted(wmap.items())]
                    + [F.lit(1.0)]
                )
            ),
        )
        tok = corpus.withColumn(
            "n_tokens", token_count(F.col("text_scrubbed"))
        ).withColumn("source", lang_key)
        mixed = mixture_sample(
            tok, weights, token_budget=budget, id_col="url"
        ).filter("mix_keep")
        corpus = mixed.select("url", "lang", "text_scrubbed")
        stats["mixture_docs_kept"] = corpus.count()
        stats["mixture_tokens_kept"] = int(
            mixed.agg(F.sum("n_tokens")).first()[0] or 0
        )
    corpus.write.mode("overwrite").parquet(f"{args.output}/corpus")
    pack_budget = args.pack_budget
    if pack_budget:  # training-shard layout: (shard, pack_id) per doc
        from ..operators.packing import pack_documents

        packed = pack_documents(
            corpus, key="url", budget=pack_budget, text_col="text_scrubbed",
            group_cols=("lang",),
        )
        packed.write.mode("overwrite").parquet(f"{args.output}/corpus_packed")
        stats["packs"] = packed.select("lang", "shard", "pack_id").distinct().count()
        if args.pack_texts:  # loader-ready concatenation
            from ..operators.packing import materialize_packs

            materialize_packs(
                packed, "url", text_col="text_scrubbed",
                group_cols=("lang",), sep="\x1e",
            ).write.mode("overwrite").parquet(f"{args.output}/corpus_packs")
    chunk_w = args.chunk_words
    if chunk_w:  # context-window chunks for long-document training/indexing
        from ..operators.packing import chunk_documents

        chunk_documents(
            corpus, "url", chunk_words=chunk_w,
            overlap=args.chunk_overlap,
            text_col="text_scrubbed",
        ).write.mode("overwrite").parquet(f"{args.output}/corpus_chunks")
        stats["chunks"] = spark.read.parquet(f"{args.output}/corpus_chunks").count()
    n_shuf = args.shuffle_shards
    if n_shuf:  # global pseudo-random order for the training loader
        from ..operators.packing import shuffle_shards

        shuf = shuffle_shards(
            corpus, key="url", n_shards=n_shuf,
            seed=args.shuffle_seed,
        )
        (
            shuf.repartition(n_shuf, "shard")
            .sortWithinPartitions("shard", "shard_pos")
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(f"{args.output}/corpus_shuffled")
        )
        stats["shuffle_shards"] = n_shuf
    write_bytes(spark, f"{args.output}/corpus_stats.json", json.dumps(stats, indent=1).encode())
    return stats


def run_ml_train(spark: SparkSession, args: argparse.Namespace) -> dict:
    """ml-train (reference main.py → ml_based/model_training.py): train the
    langid NB model FROM the input corpus with one distributed aggregation
    and persist the artifact."""
    from ..operators.langid import train_langid_distributed

    docs = spark.read.parquet(args.input)
    model = train_langid_distributed(docs)
    out = f"{args.output}/langid_model.npz"
    buf = io.BytesIO()
    model.to_npz(buf)
    write_bytes(spark, out, buf.getvalue())
    summary = {
        "langs": model.langs, "buckets": int(model.log_probs.shape[1]), "path": out,
    }
    probe_n = args.probe_n
    if probe_n:
        # probe the artifact AS WRITTEN (npz round-trip), not the in-memory
        # weights — the reference runs its held-out test right after
        # training (model_training.py:400-563) and so do we
        from ..operators.langid import LangIdModel
        from .probe import probe_langid

        written = LangIdModel.from_npz(io.BytesIO(read_bytes(spark, out)))
        report = probe_langid(spark, written, docs, n=probe_n)
        write_bytes(spark, f"{args.output}/train_probe.json", json.dumps(report, indent=1).encode())
        summary["probe"] = report
    return summary


def run_llm_train(spark: SparkSession, args: argparse.Namespace) -> dict:
    """llm-train (reference main.py → llm_based/llm_model_training.py):
    train per-language n-gram LMs of order ``--llm-order`` distributed and
    persist one npz each."""
    from ..operators.perplexity import save_ngram_npz, train_ngram_distributed

    docs = spark.read.parquet(args.input)
    models = train_ngram_distributed(
        docs,
        order=args.llm_order,
        min_word_count=args.min_word_count,
        ngram_min_count=args.ngram_min_count,
    )
    prefix = {2: "bigram", 3: "trigram"}[args.llm_order]
    summary = {}
    for lang, lm in sorted(models.items()):
        out = f"{args.output}/{prefix}_{lang}.npz"
        buf = io.BytesIO()
        save_ngram_npz(lm, buf)
        write_bytes(spark, out, buf.getvalue())
        summary[lang] = {
            "order": lm.order, "vocab": len(lm.vocab), "n_tokens": lm.n_tokens,
            "path": out,
        }
    probe_n = args.probe_n
    if probe_n and summary:
        # probe the artifacts AS WRITTEN (reference
        # llm_model_training.py:366-429: normal slice vs obvious anomalies)
        from ..operators.perplexity import load_ngram_npz
        from .probe import probe_bigram

        reloaded = {
            lang: load_ngram_npz(io.BytesIO(read_bytes(spark, info["path"])))
            for lang, info in summary.items()
        }
        report = probe_bigram(spark, reloaded, docs, n=probe_n)
        write_bytes(spark, f"{args.output}/train_probe.json", json.dumps(report, indent=1).encode())
        summary["_probe"] = report
    return summary


def run_hp_search(spark: SparkSession, args: argparse.Namespace) -> dict:
    """hp-search (reference ml_based/hyperparameter_search.py:204-384):
    seeded random search over the LM-detector space, evaluated against
    injection labels — the reference's inject→train→score loop, except
    training happens ONCE and every sampled config is scored in one Arrow
    pass (operators/hpo.py).  Writes the reference-shaped results JSON
    (best_params / all_results / performance_analysis)."""
    from pyspark.sql import functions as F

    from ..operators.hpo import hp_search, hp_search_ml
    from ..operators.injection import inject_column

    pages = spark.read.parquet(args.input)
    inj = inject_column(
        F.col("text"), F.col("url"), _text_injection_rules(), args.intensity, "hp"
    )
    docs = (
        pages.withColumn("_inj", inj)
        .withColumn("truth_bad", F.col("_inj.rule_name").isNotNull())
        .withColumn("text", F.coalesce(F.col("_inj.corrupted"), F.col("text")))
        .drop("_inj")
    )
    if args.hp_target == "ml":
        # NB quality model trains ON the injection labels (good/bad classes)
        report = hp_search_ml(
            spark, docs, n_trials=args.hp_trials, seed=args.hp_seed
        )
    else:
        report = hp_search(
            spark,
            docs,
            n_trials=args.hp_trials,
            seed=args.hp_seed,
            # the LM must model CLEAN text; corrupted rows stay out of training
            train_filter=~F.col("truth_bad"),
        )
    write_bytes(
        spark, f"{args.output}/hp_search_results.json", json.dumps(report, indent=1).encode()
    )
    return report


def run_analyze_column(spark: SparkSession, args: argparse.Namespace) -> dict:
    """analyze-column (reference main.py → analyze_column.py:140-158):
    the profiling flow through the same dispatcher."""
    from .analyze import analyze_column

    df = spark.read.parquet(args.input)
    report = analyze_column(df, args.field)
    write_bytes(
        spark, f"{args.output}/analyze_{args.field}.json",
        json.dumps(report, indent=2, default=str).encode(),
    )
    return {"column": args.field, "n_top_values": len(report["top_values"])}


def _text_injection_rules() -> list[dict]:
    from ..resources import read_package_json

    return read_package_json("rulesets", "text_injection.json")["rules"]


def run_single_demo(spark: SparkSession, args: argparse.Namespace) -> dict:
    """single-demo (reference main.py single_sample_multi_field_demo):
    inject ≤N issues/row with the error-vs-anomaly split, detect all catalog
    fields in one projection, write the consolidated JSON report."""
    from pyspark.sql import functions as F

    from .demo import single_sample_demo

    pages = spark.read.parquet(args.input)
    if "doc_id" not in pages.columns:
        pages = pages.withColumn("doc_id", F.xxhash64("url"))
    return single_sample_demo(
        spark, pages, args.output, max_issues_per_row=args.max_issues_per_row,
        issue_probability=args.intensity,
        probe_dirs=args.probe_dirs or (),
    )


def run_multi_eval(spark: SparkSession, args: argparse.Namespace) -> dict:
    """multi-eval (reference multi_sample_evaluation): N replicas in one
    DataFrame, per-sample confusion + aggregate summary written as tables."""
    from .evaluate import evaluation_summary, multi_sample_evaluation

    pages = spark.read.parquet(args.input)
    per_sample = multi_sample_evaluation(
        spark, pages, _text_injection_rules(), n_samples=args.n_samples,
        intensity=args.intensity, combine=args.combine,
    )
    per_sample.write.mode("overwrite").parquet(f"{args.output}/per_sample_metrics")
    summary = evaluation_summary(spark.read.parquet(f"{args.output}/per_sample_metrics"))
    from .probe import load_probe_reports

    probes = load_probe_reports(args.probe_dirs or ())
    if probes:
        summary["model_probes"] = probes
    write_bytes(
        spark, f"{args.output}/evaluation_summary.json", json.dumps(summary, indent=1).encode()
    )
    return summary


def run_ml_curves(spark: SparkSession, args: argparse.Namespace) -> dict:
    """ml-curves (reference ml_curve_generator.py:234-367): single-pass
    threshold sweep persisted as a metrics table + JSON artifact."""
    from .evaluate import perplexity_threshold_curve

    pages = spark.read.parquet(args.input)
    thresholds = [round(0.5 * i, 2) for i in range(1, 25)]
    curve = perplexity_threshold_curve(
        spark, pages, _text_injection_rules(), thresholds, intensity=args.intensity
    )
    curve.write.mode("overwrite").parquet(f"{args.output}/ppl_threshold_curve")
    rows = [r.asDict() for r in spark.read.parquet(f"{args.output}/ppl_threshold_curve")
            .orderBy("threshold").collect()]
    best = max(rows, key=lambda r: r["f1"]) if rows else None
    out = {"n_thresholds": len(rows), "best": best, "curve": rows}
    write_bytes(
        spark, f"{args.output}/ppl_threshold_curve.json", json.dumps(out, indent=1).encode()
    )
    return {"n_thresholds": len(rows), "best": best}


def run_incremental(spark: SparkSession, args: argparse.Namespace) -> dict:
    """incremental: filter the new batch, then dedup it against the stored
    corpus signatures (plans/corpus.incremental_dedup) and append the
    accepted docs + signatures.  The monthly-dump workflow: each run costs
    O(batch), not O(corpus)."""
    from .corpus import incremental_dedup

    import zlib

    if not args.sig_store:
        raise SystemExit("--mode incremental requires --sig-store")
    pages = _drop_pages(spark, spark.read.parquet(args.input), args)
    filtered = _filter_stage(spark, pages, args)
    # persist: the dedup plan consumes this three times (feature pass,
    # batch count, final accepted write) — without the cache each pass
    # re-runs the full model-scoring filter
    kept = filtered.filter(F.col("keep")).select("url", "lang", "text_scrubbed").persist()

    # idempotent per-batch landing: a re-run after a crash overwrites its
    # own partition instead of double-appending
    batch_id = f"{zlib.crc32(args.input.encode()):08x}"

    def write_corpus(accepted):
        accepted.write.mode("overwrite").parquet(f"{args.output}/corpus/batch={batch_id}")

    k = args.substring_k
    if k:
        # cross-batch ExactSubstr BEFORE doc-level dedup: spans already
        # shipped in earlier batches are stripped first (keep-first), so a
        # re-crawl whose only novelty is boilerplate dedups away entirely
        from ..operators.dedup import incremental_substring_dedup

        sd = incremental_substring_dedup(
            spark, kept, f"{args.sig_store}_grams",
            text_col="text_scrubbed", id_col="url", k=k,
        )
        kept = (
            kept.select("url", "lang")
            .join(sd.select("url", F.col("text_dedup").alias("text_scrubbed")), "url")
            .persist()
        )

    pre_stats: dict = {}
    deconned = _apply_decontaminate(spark, kept, args, pre_stats)
    if pre_stats:
        deconned = deconned.persist()
        # materialize the new cache while kept's is still live — the fill
        # pass is then just the anti-join over cached kept; unpersisting
        # first would make the next action replay the whole quality_filter
        # + decontamination lineage from the parquet scan
        deconned.count()
        kept.unpersist()
        kept = deconned

    accepted, stats = incremental_dedup(
        spark, kept, args.sig_store, jaccard_threshold=args.jaccard_threshold,
        accepted_writer=write_corpus,
    )
    stats.update(pre_stats)
    kept.unpersist()
    write_bytes(spark, f"{args.output}/last_batch_stats.json", json.dumps(stats, indent=1).encode())
    return stats


def run_host_stats(spark: SparkSession, args: argparse.Namespace) -> dict:
    """host-stats: aggregate a filtered dump (filter-mode ``data/`` output,
    or anything with url + keep) into a per-host quality table → parquet
    at --output, for --host-blocklist on the NEXT dump.  One
    map-side-combined groupBy on host; Zipf host skew is absorbed by
    partial aggregation (operators/hostquality.py)."""
    from ..operators.hostquality import host_quality_stats
    from ..operators.urls import url_host

    df = spark.read.parquet(args.input).select(
        url_host(F.col("url")).alias("host"), "keep"
    )
    stats = host_quality_stats(
        df,
        min_support=args.host_min_support,
        min_keep_rate=args.host_min_keep_rate,
    )
    prev = args.host_stats_merge
    if prev:  # accumulate this dump onto the running cross-dump stats
        from ..operators.hostquality import merge_host_stats

        stats = merge_host_stats(
            spark.read.parquet(prev), stats,
            min_support=args.host_min_support,
            min_keep_rate=args.host_min_keep_rate,
        )
    stats.write.mode("overwrite").parquet(args.output)
    agg = (
        spark.read.parquet(args.output)
        .agg(
            F.count(F.lit(1)).alias("hosts"),
            F.sum(F.col("blocked").cast("long")).alias("blocked_hosts"),
            F.sum(F.when(F.col("blocked"), F.col("n_pages")).otherwise(0)).alias(
                "blocked_pages"
            ),
        )
        .collect()[0]
    )
    return {
        "hosts": agg["hosts"],
        "blocked_hosts": agg["blocked_hosts"],
        "blocked_pages": agg["blocked_pages"],
    }


def run_link_graph(spark: SparkSession, args: argparse.Namespace) -> dict:
    """link-graph: raw pages (url + html) → host-level weighted edge list
    + fixed-iteration PageRank → parquet ``edges/`` and ``ranks/`` at
    --output (the Common-Crawl-style host web-graph artifact: crawl
    prioritization, spam demotion, harvest budgeting).  Edge extraction
    is one codegen pass (operators/linkgraph.extract_link_edges); ranks
    re-read the materialized edges so the iterative job never re-parses
    HTML."""
    from ..operators.linkgraph import extract_link_edges, pagerank

    pages = spark.read.parquet(args.input)
    extract_link_edges(pages).write.mode("overwrite").parquet(
        f"{args.output}/edges"
    )
    edges = spark.read.parquet(f"{args.output}/edges")
    ranks = pagerank(edges, n_iter=args.pagerank_iters)
    ranks.write.mode("overwrite").parquet(f"{args.output}/ranks")
    ranks = spark.read.parquet(f"{args.output}/ranks")
    top = ranks.orderBy(F.desc("rank")).first()
    out = {
        "edges": edges.count(),
        "hosts": ranks.count(),
        "top_host": top["node"] if top else None,
        "top_rank": float(top["rank"]) if top else None,
    }
    if args.anchor_terms:
        from ..operators.linkgraph import anchor_term_stats

        anchor_term_stats(pages).write.mode("overwrite").parquet(
            f"{args.output}/anchors"
        )
        out["anchor_terms"] = spark.read.parquet(f"{args.output}/anchors").count()
    return out


_MODES = {
    "filter": run,
    "corpus": run_corpus,
    "incremental": run_incremental,
    "single-demo": run_single_demo,
    "multi-eval": run_multi_eval,
    "ml-curves": run_ml_curves,
    "ml-train": run_ml_train,
    "llm-train": run_llm_train,
    "hp-search": run_hp_search,
    "analyze-column": run_analyze_column,
    "host-stats": run_host_stats,
    "link-graph": run_link_graph,
}


def main(argv: list[str] | None = None) -> None:
    args = build_args(argv)
    spark = SparkSession.builder.appName("dqm_quality_filter").getOrCreate()
    print(json.dumps(_MODES[args.mode](spark, args)))


if __name__ == "__main__":
    main()
