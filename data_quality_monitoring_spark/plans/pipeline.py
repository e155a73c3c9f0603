"""End-to-end quality-filter plan: pages → findings → verdict → scrubbed text.

The reference runs four detector families per field sequentially with manual
process pools and cache-clearing (``comprehensive_detector.py:779-859``);
here the whole thing is ONE ``select`` — four finding structs, a verdict
coalesce and the scrub chain — so Catalyst fuses it into a single
whole-stage-codegen'd map stage with two pandas-UDF hops (langid,
perplexity).  No shuffle anywhere in the hot path: the plan is
embarrassingly parallel and scales linearly with executors, which is what
the N→4N ≥0.8 scaling-efficiency target needs.

Skew note: scoring is a narrow map so host skew cannot hurt it; skew only
matters for the host-level metric aggregations, which go through
``salted_group_count`` (salt = pmod(xxhash64(url), K)) before the final
combine — the classic two-phase aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import get_bigram_models, get_langid_model
from ..operators import langid as L
from ..operators import perplexity as P
from ..operators.patterns import pattern_finding
from ..operators.rules import first_hit
from ..operators.scrub import scrub_column
from ..operators.verdict import priority_verdict, weighted_verdict
from ..sources.manifest import SideTable


def default_rules() -> list[dict]:
    # zip-safe: the package may live inside a --py-files zip (resources.py)
    from ..resources import read_package_json

    return read_package_json("rulesets", "text_quality.json")["rules"]


def default_pattern_cfg() -> dict:
    from ..resources import read_package_json

    return read_package_json("rulesets", "lang_pattern.json")


def quality_filter(
    spark: SparkSession,
    pages: DataFrame,
    rules: list[dict] | None = None,
    pattern_cfg: dict | None = None,
    combine: str = "priority",
    ml_threshold: float = 0.7,
    llm_threshold: float = 6.0,
    mlq_threshold: float = 0.5,
    thresholds: dict[str, float] | None = None,
    methods: list[str] | None = None,
    langid_model=None,
    lm_models=None,
    cascade: bool = False,
    llm_tiers: dict | None = None,
) -> DataFrame:
    """Attach findings, verdict, keep flag and scrubbed text to a pages df.

    Output columns: url, warc_ts, lang, text, validation/pattern/ml/llm
    finding structs, verdict struct, keep boolean, text_scrubbed.

    ``methods`` prunes detector families before the plan is built — the
    reference's capability probing (``comprehensive_detector.py:222-260``)
    as plan pruning: a disabled model scorer never even adds its pandas-UDF
    stage.

    ``langid_model`` / ``lm_models`` override the frozen artifacts —
    used by the fully-oracled flagship contract query, which injects
    SQL-reproducible in-query-trained models through the SAME plan.

    ``cascade=True`` skips the model scorers for documents the rule chain
    already condemns: a validation finding drops the document
    deterministically under BOTH combiners (priority puts validation
    first; weighted lets validation win outright), so masking the scorer
    input to NULL for those rows cannot change any keep/drop decision —
    it only leaves their score columns NULL (tested).  The mask stays a
    Column expression inside the same narrow stage — no join, no shuffle,
    the 0-Exchange plan is preserved — but the Arrow scorers now do zero
    Python work for condemned rows.  At web scale, where 30–60% of raw
    pages die on cheap rules and real model scorers dominate cost (the
    reference's LLM family is ~100–500 ms/record vs <1 ms for rules),
    this is the difference between scoring the crawl and scoring the
    corpus.  Off by default: the reference computes every family for
    every row.

    ``llm_tiers`` turns on the reference's optional LLM-detector tiers
    (llm_anomaly_detector.py:264-266, off by default there too; see
    operators/llm_tiers.py for the exact semantics).  Keys:
    ``temporal_col`` / ``context_cols`` (dynamic encoding, score × 1.1
    when a context is present), ``prototype`` (bool, score × 1.05),
    ``fewshot_examples`` (list[str], in-context short-circuit) and
    ``icl_threshold`` (default 0.7).
    """
    rules = rules if rules is not None else default_rules()
    pattern_cfg = pattern_cfg if pattern_cfg is not None else default_pattern_cfg()
    methods = methods if methods is not None else ["validation", "pattern", "ml", "llm"]

    text, lang = F.col("text"), F.col("lang")
    cols: dict[str, Column] = {}
    model_text = text
    base = pages
    if "validation" in methods:
        if cascade:
            # stage 0: rules first, so the scorer mask can reference them
            base = pages.withColumn("f_validation", first_hit(text, rules))
            model_text = F.when(F.col("f_validation").isNull(), text)
        else:
            cols["f_validation"] = first_hit(text, rules)
    if "pattern" in methods:
        cols["f_pattern"] = pattern_finding(lang, pattern_cfg)
    if "ml" in methods:
        cols["langid"] = L.langid_struct(
            spark,
            langid_model if langid_model is not None else get_langid_model(),
            model_text,
            lang,
        )
    if "llm" in methods:
        cols["ppl_score"] = P.perplexity_column(
            spark,
            lm_models if lm_models is not None else get_bigram_models(),
            model_text,
            lang,
        )
    if "quality_model" in methods:  # opt-in learned quality tier
        from ..artifacts import get_quality_model
        from ..operators import quality_model as QM

        cols["mlq_score"] = QM.quality_prob(spark, get_quality_model(), model_text)
    df = base.withColumns(cols)
    stage2: dict[str, Column] = {}
    if "ml" in methods:
        stage2["f_ml"] = L.langid_finding(F.col("langid"), ml_threshold)
    if "llm" in methods:
        if llm_tiers:
            from ..operators import llm_tiers as LT

            dyn = None
            if llm_tiers.get("temporal_col") or llm_tiers.get("context_cols"):
                dyn = LT.dynamic_context_flag(
                    temporal=(
                        F.col(llm_tiers["temporal_col"])
                        if llm_tiers.get("temporal_col")
                        else None
                    ),
                    context_cols=[
                        F.col(c) for c in llm_tiers.get("context_cols", [])
                    ],
                )
            enh = LT.enhanced_score(
                F.col("ppl_score"),
                dynamic=dyn,
                prototype=bool(llm_tiers.get("prototype")),
            )
            sim = (
                LT.fewshot_max_cosine(
                    spark, list(llm_tiers["fewshot_examples"]), model_text
                )
                if llm_tiers.get("fewshot_examples")
                else None
            )
            stage2["f_llm"] = LT.llm_tier_finding(
                enh,
                llm_threshold,
                icl_sim=sim,
                icl_threshold=float(llm_tiers.get("icl_threshold", 0.7)),
            )
        else:
            stage2["f_llm"] = P.perplexity_finding(F.col("ppl_score"), llm_threshold)
    if "quality_model" in methods:
        from ..operators import quality_model as QM

        stage2["f_quality_model"] = QM.quality_model_finding(
            F.col("mlq_score"), mlq_threshold
        )
    if stage2:
        df = df.withColumns(stage2)
    findings: dict[str, Column] = {
        m: F.col(f"f_{m}")
        for m in ("validation", "pattern", "ml", "llm", "quality_model")
        if m in methods
    }
    verdict = (
        priority_verdict(findings, thresholds)
        if combine == "priority"
        else weighted_verdict(findings, thresholds=thresholds)
    )
    df = df.withColumns(
        {
            "verdict": verdict,
            "keep": verdict.isNull(),
            "text_scrubbed": scrub_column(text),
        }
    )
    return df


def filter_stage(
    spark: SparkSession,
    pages: DataFrame,
    extract_html: bool = False,
    c4_clean: bool = False,
    rep_gate: bool = False,
    gopher_gate: bool = False,
    **filter_kwargs,
) -> DataFrame:
    """The filter job's keep decision, shared by the CLI's filter and
    incremental modes and by the streaming filter.

    Optional HTML extraction, then ``quality_filter`` (``filter_kwargs``
    pass through), then the job's output columns (those of url, warc_ts,
    lang, keep, verdict, ppl_score, mlq_score, text_scrubbed and bucket
    that exist), then the document gates in a fixed order, each ANDed
    into ``keep`` and all reading the shipped (post-scrub) text:
    ``c4_clean`` (C4 line filter; also replaces ``text_scrubbed`` with the
    cleaned text), ``rep_gate`` (Gopher repetition family),
    ``gopher_gate`` (Gopher hard rules).  Every gate is a scan-local
    projection: no extra shuffle."""
    if extract_html:
        from ..operators.extract import extract_pages

        pages = extract_pages(pages)
    res = quality_filter(spark, pages, **filter_kwargs)
    res = res.select(*[
        c for c in ("url", "warc_ts", "lang", "keep", "verdict",
                    "ppl_score", "mlq_score", "text_scrubbed", "bucket")
        if c in res.columns
    ])
    if c4_clean:
        from ..operators.normalize import c4_clean_df

        res = (
            c4_clean_df(res, "text_scrubbed")
            .withColumn("keep", F.col("keep") & F.col("keep_c4"))
            .withColumn("text_scrubbed", F.col("text_c4"))
            .drop("keep_c4", "text_c4")
        )
    if rep_gate:
        from ..operators.textstats import gopher_repetition_col

        res = res.withColumn(
            "keep",
            F.col("keep") & gopher_repetition_col(F.col("text_scrubbed"))["rep_keep"],
        )
    if gopher_gate:
        from ..operators.textstats import gopher_gate_df

        res = (
            gopher_gate_df(res, "text_scrubbed", out_col="_gopher_ok")
            .withColumn("keep", F.col("keep") & F.col("_gopher_ok"))
            .drop("_gopher_ok")
        )
    return res


def salted_group_count(df: DataFrame, key: Column, n_salt: int = 16) -> DataFrame:
    """Two-phase (salted) count for skewed keys, e.g. pages per host.

    Phase 1 aggregates (key, salt) — splitting each hot key across n_salt
    reducers — phase 2 combines the partials.  With AQE skew handling ON this
    is a belt-and-braces guarantee rather than the only defence.
    """
    salted = df.groupBy(key.alias("k"), F.pmod(F.xxhash64(F.col("url")), F.lit(n_salt)).alias("_salt")).count()
    return salted.groupBy("k").agg(F.sum("count").alias("n")).withColumnRenamed("k", "key")


def filter_metrics(written: DataFrame) -> dict[str, SideTable]:
    """The filter job's ``_metrics`` tables, declared as grouping sets of
    the sink's chunk aggregate (``PartitionedSink.run(...,
    metrics_fn=filter_metrics)``): per-rule fire counts, the distribution
    of ``lang`` with kept counts, and a 0-15 perplexity histogram in 30
    bins over the scored docs (skipped when ``methods`` prunes the llm
    family).

    Every table is keyed by the sink's commit ``bucket``, so each chunk's
    rows commit with its snapshot and a resumed run writes exactly the
    missing buckets' rows."""
    from ..operators.metrics import histogram_bin, histogram_lo, rule_keys

    bucket = {"bucket": F.col("bucket")}
    tables = {
        "rule_fire_counts": SideTable({**bucket, **rule_keys()}),
        "lang_distribution": SideTable({**bucket, "lang": F.col("lang")}, ("n", "n_kept")),
    }
    if "ppl_score" in written.columns:
        tables["ppl_histogram"] = SideTable(
            # "bin", so it cannot shadow the commit bucket
            {**bucket, "bin": histogram_bin(F.col("ppl_score"), 0.0, 15.0, 30)},
            derived={"lo": histogram_lo(F.col("bin"), 0.0, 15.0, 30)},
            skip_null="bin",
        )
    return tables


def run_manifest(result: DataFrame) -> dict:
    """Small driver-side run summary (reference run-summary dict,
    comprehensive_detector.py:841-859)."""
    agg = result.agg(
        F.count("*").alias("docs"),
        F.sum(F.col("keep").cast("long")).alias("kept"),
    ).collect()[0]
    return {"docs": agg["docs"], "kept": agg["kept"], "dropped": agg["docs"] - agg["kept"]}
