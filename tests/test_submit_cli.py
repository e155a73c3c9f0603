"""The spark-submit entrypoint end-to-end: run, resume no-op, metrics tables."""

import shutil

import pytest

from data_quality_monitoring_spark.datagen import generate_pages
from data_quality_monitoring_spark.plans.submit import build_args, run, run_incremental


def test_submit_run_and_resume(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    generate_pages(spark, 320, partitions=4).write.parquet(in_dir)
    args = build_args(
        ["--input", in_dir, "--output", out_dir, "--n-buckets", "8", "--chunk-buckets", "4"]
    )
    summary = run(spark, args)
    assert summary["chunks_run"] == 2

    # re-run = resume no-op
    summary2 = run(spark, args)
    assert summary2["chunks_run"] == 0

    data = spark.read.parquet(f"{out_dir}/data")
    assert data.count() == 320
    assert {"url", "keep", "verdict", "ppl_score", "text_scrubbed", "bucket"} <= set(data.columns)
    for t in ("rule_fire_counts", "lang_distribution", "ppl_histogram"):
        assert spark.read.parquet(f"{out_dir}/_metrics/{t}").count() > 0
    lineage = spark.read.parquet(f"{out_dir}/_lineage")
    assert lineage.select("bucket").distinct().count() == 8


def test_single_demo_mode(spark, tmp_path):
    import json

    from data_quality_monitoring_spark.plans.submit import run_single_demo

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "demo_out")
    generate_pages(spark, 240, partitions=4).write.parquet(in_dir)
    args = build_args(
        ["--mode", "single-demo", "--input", in_dir, "--output", out_dir,
         "--intensity", "0.5"]
    )
    report = run_single_demo(spark, args)
    # consolidated report artifact exists and carries per-field blocks
    on_disk = json.loads((tmp_path / "demo_out" / "consolidated_report.json").read_text())
    assert on_disk == report
    assert len(report["per_field"]) >= 6
    for field, block in report["per_field"].items():
        assert {"validation", "pattern", "combined"} <= set(block)
        assert "assessment" in block["combined"]
    # detection actually recovers injections: combined recall is non-trivial
    # for the validator-heavy fields
    recalls = [b["combined"]["recall"] for b in report["per_field"].values()]
    assert max(recalls) > 0.5
    assert spark.read.parquet(str(tmp_path / "demo_out" / "labels.parquet")).count() > 0
    assert spark.read.parquet(str(tmp_path / "demo_out" / "cell_findings.parquet")).count() > 0


def test_demo_max_issues_per_row(spark, tmp_path):
    from pyspark.sql import functions as F

    from data_quality_monitoring_spark.catalog import build_catalog
    from data_quality_monitoring_spark.plans.demo import inject_catalog

    pages = generate_pages(spark, 200, partitions=2).withColumn(
        "doc_id", F.xxhash64("url")
    )
    catalog = build_catalog(pages)
    _, labels = inject_catalog(catalog, max_issues_per_row=2, issue_probability=0.9)
    per_row = labels.groupBy("doc_id").count().agg(F.max("count")).collect()[0][0]
    assert per_row <= 2
    # both injection types occur (the error-vs-anomaly split driver)
    kinds = {r["injection_type"] for r in labels.select("injection_type").distinct().collect()}
    assert kinds == {"error", "anomaly"}


def test_ml_curves_mode(spark, tmp_path):
    import json

    from data_quality_monitoring_spark.plans.submit import run_ml_curves

    in_dir = str(tmp_path / "in2")
    out_dir = str(tmp_path / "curves_out")
    generate_pages(spark, 200, partitions=2).write.parquet(in_dir)
    args = build_args(["--mode", "ml-curves", "--input", in_dir, "--output", out_dir])
    res = run_ml_curves(spark, args)
    assert res["n_thresholds"] == 24
    curve = json.loads((tmp_path / "curves_out" / "ppl_threshold_curve.json").read_text())
    assert len(curve["curve"]) == 24
    assert curve["best"]["f1"] >= 0
    assert spark.read.parquet(f"{out_dir}/ppl_threshold_curve").count() == 24


def test_multi_eval_mode(spark, tmp_path):
    from data_quality_monitoring_spark.plans.submit import run_multi_eval

    in_dir = str(tmp_path / "in3")
    out_dir = str(tmp_path / "eval_out")
    generate_pages(spark, 120, partitions=2).write.parquet(in_dir)
    args = build_args(
        ["--mode", "multi-eval", "--input", in_dir, "--output", out_dir,
         "--n-samples", "3"]
    )
    summary = run_multi_eval(spark, args)
    assert summary["n_samples"] == 3
    assert 0.0 <= summary["f1_mean"] <= 1.0


def test_corpus_mode(spark, tmp_path):
    import json

    from data_quality_monitoring_spark.plans.submit import run_corpus

    in_dir = str(tmp_path / "in_c")
    out_dir = str(tmp_path / "corpus_out")
    generate_pages(spark, 200, partitions=4).write.parquet(in_dir)
    args = build_args(
        ["--mode", "corpus", "--input", in_dir, "--output", out_dir,
         "--sample-rates", '{"en": 0.5}', "--default-rate", "0.6"]
    )
    stats = run_corpus(spark, args)
    assert stats["docs_in"] == 200
    assert stats["final"] <= stats["after_exact_dedup"] <= stats["kept"]
    corpus = spark.read.parquet(f"{out_dir}/corpus")
    assert corpus.count() == stats["final"]
    assert {"url", "lang", "text_scrubbed"} <= set(corpus.columns)
    on_disk = json.loads((tmp_path / "corpus_out" / "corpus_stats.json").read_text())
    assert on_disk == stats


@pytest.mark.parametrize("flag", [["--gopher-gate"], ["--methods", "validation,pattern"]])
def test_corpus_mode_filter_flags_match_filter_mode(flag, spark, tmp_path):
    """Corpus mode runs the filter job's stage: with a filter flag its
    ``kept`` count is filter mode's kept count under the same flag."""
    from data_quality_monitoring_spark.plans.submit import run_corpus

    in_dir = str(tmp_path / "in")
    generate_pages(spark, 160, partitions=4).write.parquet(in_dir)
    run(spark, build_args(["--input", in_dir, "--output", str(tmp_path / "f"), *flag,
                           "--n-buckets", "4", "--chunk-buckets", "4"]))
    stats = run_corpus(spark, build_args(
        ["--mode", "corpus", "--input", in_dir, "--output", str(tmp_path / "c"), *flag]
    ))
    kept = spark.read.parquet(str(tmp_path / "f" / "data")).filter("keep").count()
    default = run_corpus(spark, build_args(
        ["--mode", "corpus", "--input", in_dir, "--output", str(tmp_path / "d")]
    ))
    assert stats["kept"] == kept != default["kept"]


def test_analyze_column_mode(spark, tmp_path):
    import json

    from data_quality_monitoring_spark.plans.submit import run_analyze_column

    in_dir = str(tmp_path / "in_a")
    out_dir = str(tmp_path / "analyze_out")
    generate_pages(spark, 120, partitions=2).write.parquet(in_dir)
    args = build_args(
        ["--mode", "analyze-column", "--input", in_dir, "--output", out_dir,
         "--field", "lang"]
    )
    summary = run_analyze_column(spark, args)
    assert summary["column"] == "lang" and summary["n_top_values"] > 0
    on_disk = json.loads((tmp_path / "analyze_out" / "analyze_lang.json").read_text())
    assert on_disk["column"] == "lang" and on_disk["stats"]["n_rows"] == 120


def test_cli_methods_flag(spark, tmp_path):
    """--methods prunes detector families in the ship job and can enable
    the opt-in quality_model tier; pruned columns vanish from the output
    and the ppl histogram is skipped cleanly."""
    from data_quality_monitoring_spark.datagen import generate_pages
    from data_quality_monitoring_spark.plans.submit import main

    in_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    generate_pages(spark, 128, partitions=4).write.parquet(in_dir)
    main(
        [
            "--mode", "filter", "--input", in_dir, "--output", out_dir,
            "--n-buckets", "8", "--chunk-buckets", "4",
            "--methods", "validation,pattern,quality_model",
        ]
    )
    out = spark.read.parquet(f"{out_dir}/data")
    assert "mlq_score" in out.columns and "ppl_score" not in out.columns
    assert out.count() == 128
    import os
    assert not os.path.exists(f"{out_dir}/_metrics/ppl_histogram")
    assert spark.read.parquet(f"{out_dir}/_metrics/rule_fire_counts").count() > 0


def test_cli_extract_html_flag(spark, tmp_path):
    """--extract-html: a raw-payload table (text NULL, html only) filters
    to the same keep/drop verdicts the pre-extracted table gets."""
    from pyspark.sql import functions as F

    from data_quality_monitoring_spark.datagen import generate_pages
    from data_quality_monitoring_spark.plans.submit import main

    raw_dir, pre_dir = str(tmp_path / "raw"), str(tmp_path / "pre")
    out_raw, out_pre = str(tmp_path / "o1"), str(tmp_path / "o2")
    pages = generate_pages(spark, 128, partitions=4)
    pages.withColumn("text", F.lit(None).cast("string")).write.parquet(raw_dir)
    # the pre-extracted twin must be what extraction PRODUCES (the ws-padded
    # bucket normalizes), so build it through the same operator
    from data_quality_monitoring_spark.operators.extract import html_to_text

    pages.withColumn("text", html_to_text(F.col("html"))).write.parquet(pre_dir)

    common = ["--n-buckets", "8", "--chunk-buckets", "4"]
    main(["--mode", "filter", "--input", raw_dir, "--output", out_raw,
          "--extract-html", *common])
    main(["--mode", "filter", "--input", pre_dir, "--output", out_pre, *common])

    a = spark.read.parquet(f"{out_raw}/data").select("url", "keep", "text_scrubbed") \
        .toPandas().sort_values("url").reset_index(drop=True)
    b = spark.read.parquet(f"{out_pre}/data").select("url", "keep", "text_scrubbed") \
        .toPandas().sort_values("url").reset_index(drop=True)
    assert len(a) == 128 and a.equals(b)


def test_cli_incremental_mode(spark, tmp_path, monkeypatch):
    """--mode incremental: two successive batches through the ship CLI —
    the second batch's repeats of the first are dropped via the signature
    store, fresh docs append to the corpus.  The second run names its
    output as a ``file://`` URI: its report lands in that output, and
    nothing is written under the working directory."""
    from data_quality_monitoring_spark.plans.submit import main

    b1, b2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    out = str(tmp_path / "out")
    store = str(tmp_path / "sigs")
    pages = generate_pages(spark, 160, partitions=4)
    pages.write.parquet(b1)
    pages.write.parquet(b2)  # identical dump re-delivered
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)

    main(["--mode", "incremental", "--input", b1, "--output", out, "--sig-store", store])
    import json as j

    s1 = j.loads((tmp_path / "out" / "last_batch_stats.json").read_text())
    assert s1["dropped"] == 0 and s1["accepted"] > 50

    main(["--mode", "incremental", "--input", b2, "--output", f"file://{out}",
          "--sig-store", store])
    s2 = j.loads((tmp_path / "out" / "last_batch_stats.json").read_text())
    assert s2["accepted"] == 0 and s2["dropped"] == s1["accepted"]
    corpus = spark.read.parquet(f"{out}/corpus")
    assert corpus.count() == s1["accepted"]  # batch 2 added nothing
    assert list(cwd.iterdir()) == []


def test_cli_incremental_batch_id_ignores_input_spelling(spark, tmp_path):
    """A re-run after a crash between the corpus write and the signature
    append (the store removed here, as the append never happened) names the
    same dump as ``file://<dump>/``: it overwrites the first run's
    ``batch=`` partition instead of landing a second copy beside it."""
    dump, out, store = tmp_path / "dump", str(tmp_path / "out"), tmp_path / "sigs"
    generate_pages(spark, 80, partitions=2).write.parquet(str(dump))

    def once(spelling):
        return run_incremental(spark, build_args(
            ["--mode", "incremental", "--input", spelling, "--output", out,
             "--sig-store", str(store)]
        ))

    first = once(str(dump))
    shutil.rmtree(store)
    again = once(f"file://{dump}/")
    assert again == first
    parts = sorted(p.name for p in (tmp_path / "out" / "corpus").iterdir()
                   if p.name.startswith("batch="))
    assert len(parts) == 1
    urls = spark.read.parquet(f"{out}/corpus").select("url")
    assert urls.count() == urls.distinct().count() == first["accepted"]


def test_cli_incremental_jaccard_threshold(spark, tmp_path):
    """--mode incremental passes --jaccard-threshold to its near-dup
    verify: copies of four pages with the last fifth of their words cut
    (Jaccard ~0.8 to their source) lose at the default 0.7 and are all
    kept at 0.95."""
    from data_quality_monitoring_spark.datagen import generate_pages_pandas

    src = generate_pages_pandas(60)
    head = src[src.text.str.split().str.len() >= 30].head(4)

    def cut(text):
        w = text.split()
        return " ".join(w[: len(w) - (len(w) - 2) // 5])

    near = head.assign(url=head.url + "#near", text=head.text.map(cut))
    in_dir = str(tmp_path / "in")
    generate_pages(spark, 60).unionByName(
        spark.createDataFrame(near[src.columns])
    ).write.parquet(in_dir)

    def near_kept(name, *flags):
        out = str(tmp_path / name)
        run_incremental(spark, build_args(
            ["--mode", "incremental", "--input", in_dir, "--output", out,
             "--sig-store", f"{out}/sigs", *flags]
        ))
        corpus = spark.read.parquet(f"{out}/corpus").select("url").collect()
        return sorted(r.url for r in corpus if r.url.endswith("#near"))

    assert near_kept("default") == []
    assert near_kept("strict", "--jaccard-threshold", "0.95") == sorted(near.url)


def test_cli_incremental_min_est_jaccard_keeps_store_pairs(spark, tmp_path):
    """--min-est-jaccard in incremental mode prefilters over the stored
    signatures too: near copies (last word dropped) of docs the first dump
    stored, re-delivered under new urls in a second dump, are all dropped,
    as they are without the prefilter."""
    from data_quality_monitoring_spark.datagen import generate_pages_pandas

    src = generate_pages_pandas(80)
    b1, b2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    generate_pages(spark, 80).write.parquet(b1)
    first = ["--mode", "incremental", "--input", b1, "--min-est-jaccard", "0.375"]
    out, store = str(tmp_path / "out"), str(tmp_path / "sigs")
    run_incremental(spark, build_args([*first, "--output", out, "--sig-store", store]))
    stored = {r.url for r in spark.read.parquet(f"{out}/corpus").select("url").collect()}
    head = src[src.url.isin(stored) & (src.text.str.split().str.len() >= 30)].head(5)
    assert len(head) == 5
    near = head.assign(url=head.url + "#near", text=head.text.str.rsplit(" ", n=1).str[0])
    spark.createDataFrame(near[src.columns]).write.parquet(b2)
    second = ["--mode", "incremental", "--input", b2, "--output", out, "--sig-store", store]
    stats = run_incremental(spark, build_args([*second, "--min-est-jaccard", "0.375"]))
    assert stats == {"batch_in": 5, "accepted": 0, "dropped": 5}


def test_incremental_gopher_gate_matches_filter_mode(spark, tmp_path):
    """Incremental mode runs the filter job's stage: with --gopher-gate it
    accepts exactly the docs filter mode keeps with --gopher-gate."""
    in_dir = str(tmp_path / "in")
    generate_pages(spark, 160, partitions=4).write.parquet(in_dir)
    gate = ["--input", in_dir, "--gopher-gate"]
    run(spark, build_args([*gate, "--output", str(tmp_path / "f"),
                           "--n-buckets", "4", "--chunk-buckets", "4"]))
    stats = run_incremental(spark, build_args(
        ["--mode", "incremental", *gate, "--output", str(tmp_path / "i"),
         "--sig-store", str(tmp_path / "sigs")]
    ))
    kept = {r.url for r in spark.read.parquet(str(tmp_path / "f" / "data"))
            .filter("keep").select("url").collect()}
    accepted = {r.url for r in spark.read.parquet(str(tmp_path / "i" / "corpus"))
                .select("url").collect()}
    assert stats["dropped"] == 0 and accepted == kept


def test_corpus_mode_substring_and_prefilter(spark, tmp_path):
    """--substring-k strips corpus-wide repeated spans from the final text;
    --min-est-jaccard threads through to the signature prefilter."""
    from pyspark.sql import functions as F

    from data_quality_monitoring_spark.plans.submit import run_corpus

    in_dir = str(tmp_path / "in_ss")
    out_dir = str(tmp_path / "corpus_ss")
    boiler = " ".join(f"b{i}" for i in range(30))
    pages = generate_pages(spark, 200, partitions=4).withColumn(
        "text",
        F.when(
            F.pmod(F.xxhash64("url"), F.lit(3)) == 0,
            F.concat_ws(" ", F.col("text"), F.lit(boiler)),
        ).otherwise(F.col("text")),
    )
    pages.write.parquet(in_dir)
    args = build_args(
        ["--mode", "corpus", "--input", in_dir, "--output", out_dir,
         "--substring-k", "20", "--min-est-jaccard", "0.375"]
    )
    stats = run_corpus(spark, args)
    assert stats["substring_tokens_removed"] >= 30  # the planted boilerplate
    corpus = spark.read.parquet(f"{out_dir}/corpus")
    assert corpus.filter(F.col("text_scrubbed").contains("b0 b1 b2")).count() == 0
    assert corpus.count() == stats["final"]


def test_cli_incremental_substring(spark, tmp_path):
    """--substring-k in incremental mode: boilerplate repeated within the
    first batch AND re-crawled in the second is stripped everywhere —
    no accepted doc in any batch retains it."""
    from pyspark.sql import functions as F

    from data_quality_monitoring_spark.plans.submit import run_incremental

    out_dir = str(tmp_path / "inc_ss_out")
    sig = str(tmp_path / "inc_ss_sigs")
    boiler = " ".join(f"z{i}" for i in range(30))

    def batch(i, n):
        in_dir = str(tmp_path / f"in_ss{i}")
        generate_pages(spark, n, partitions=4, id_offset=i * 10_000).withColumn(
            "text", F.concat_ws(" ", F.col("text"), F.lit(boiler))
        ).write.parquet(in_dir)
        return in_dir

    for i in range(2):
        args = build_args(
            ["--mode", "incremental", "--input", batch(i, 80), "--output", out_dir,
             "--sig-store", sig, "--substring-k", "20"]
        )
        stats = run_incremental(spark, args)
        assert stats["accepted"] >= 1
    corpus = spark.read.parquet(f"{out_dir}/corpus")
    assert corpus.count() >= 2
    assert corpus.filter(F.col("text_scrubbed").contains("z0 z1 z2")).count() == 0


def _write_warc(d, pages):
    """One gzipped WARC segment under ``d`` with a response record per
    (uri, text) of ``pages``, its payload ``wrap_html(text)``."""
    import gzip

    from data_quality_monitoring_spark.operators.extract import wrap_html

    def rec(uri, body: bytes) -> bytes:
        payload = b"HTTP/1.1 200 OK\r\n\r\n" + body
        return (
            b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "
            + uri.encode()
            + b"\r\nWARC-Date: 2024-03-05T12:30:00Z\r\nContent-Length: "
            + str(len(payload)).encode()
            + b"\r\n\r\n"
            + payload
            + b"\r\n\r\n"
        )

    d.mkdir()
    blob = b"".join(
        gzip.compress(rec(uri, wrap_html(text, i))) for i, (uri, text) in enumerate(pages)
    )
    (d / "seg.warc.gz").write_bytes(blob)


def test_filter_mode_warc_ingestion(spark, tmp_path):
    """--input-format warc: raw crawl files through the full filter job."""
    d = tmp_path / "crawl"
    _write_warc(d, [(f"http://h{i}.com/p", f"some page text {i} here") for i in range(6)])

    args = build_args(
        ["--input", str(d), "--output", str(tmp_path / "out"),
         "--input-format", "warc", "--extract-html",
         "--n-buckets", "4", "--chunk-buckets", "4"]
    )
    summary = run(spark, args)
    out = spark.read.parquet(str(tmp_path / "out" / "data"))
    assert out.count() == 6
    assert out.filter("text_scrubbed IS NOT NULL").count() == 6
    assert summary["chunks_run"] >= 1


def test_corpus_mode_warc_ingestion(spark, tmp_path):
    """--input-format warc reaches corpus mode: over the same crawl files
    the corpus keeps exactly the docs filter mode keeps (the generated
    pages hold no duplicates of a kept doc)."""
    from data_quality_monitoring_spark.datagen import generate_pages_pandas
    from data_quality_monitoring_spark.plans.submit import run_corpus

    d = tmp_path / "crawl"
    pages = generate_pages_pandas(60).fillna({"text": ""})
    _write_warc(d, pages[["url", "text"]].itertuples(index=False))
    warc = ["--input", str(d), "--input-format", "warc", "--extract-html"]
    run(spark, build_args([*warc, "--output", str(tmp_path / "f"),
                           "--n-buckets", "4", "--chunk-buckets", "4"]))
    stats = run_corpus(spark, build_args(["--mode", "corpus", *warc, "--output", str(tmp_path / "c")]))
    kept = {r.url for r in spark.read.parquet(str(tmp_path / "f" / "data"))
            .filter("keep").select("url").collect()}
    corpus = {r.url for r in spark.read.parquet(str(tmp_path / "c" / "corpus"))
              .select("url").collect()}
    assert stats["docs_in"] == 60 and stats["kept"] == len(kept) > 0
    assert corpus == kept


def test_filter_mode_canonicalize_urls(spark, tmp_path):
    """--canonicalize-urls: a refetch with tracking params collapses onto
    its canonical url; the earlier fetch wins."""
    from pyspark.sql import functions as F

    in_dir = str(tmp_path / "in")
    base = generate_pages(spark, 80, partitions=4)
    refetch = base.withColumn("url", F.concat("url", F.lit("?utm_source=feed"))) \
                  .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY"))
    base.unionByName(refetch).write.parquet(in_dir)

    args = build_args(
        ["--input", in_dir, "--output", str(tmp_path / "out"),
         "--canonicalize-urls", "--n-buckets", "4", "--chunk-buckets", "4"]
    )
    run(spark, args)
    out = spark.read.parquet(str(tmp_path / "out" / "data"))
    assert out.count() == 80  # one fetch per canonical url
    assert out.filter(F.col("url").contains("utm_source")).count() == 0


def test_corpus_mode_mixture_budget(spark, tmp_path):
    """corpus --mixture-budget: per-lang token quotas bind and stats record
    the mixed totals."""
    import json as _json

    from data_quality_monitoring_spark.plans.submit import run_corpus

    in_dir = str(tmp_path / "in")
    generate_pages(spark, 400, partitions=4).write.parquet(in_dir)
    args = build_args(
        ["--input", in_dir, "--output", str(tmp_path / "out"), "--mode", "corpus",
         "--mixture-budget", "800", "--mixture-weights", '{"en": 3}']
    )
    stats = run_corpus(spark, args)
    assert stats["mixture_docs_kept"] > 0
    corpus = spark.read.parquet(str(tmp_path / "out" / "corpus"))
    assert corpus.count() == stats["mixture_docs_kept"]
    # budget binds: kept tokens stay within budget + one overshoot doc/lang
    assert stats["mixture_tokens_kept"] < 800 + 5 * 400
    recorded = _json.loads((tmp_path / "out" / "corpus_stats.json").read_text())
    assert recorded["mixture_docs_kept"] == stats["mixture_docs_kept"]


def test_corpus_mode_pack_budget(spark, tmp_path):
    """corpus --pack-budget: end-of-pipeline packing lands a corpus_packed
    table whose packs respect the token budget."""
    from pyspark.sql import functions as F

    from data_quality_monitoring_spark.plans.submit import run_corpus

    in_dir = str(tmp_path / "in")
    generate_pages(spark, 300, partitions=4).write.parquet(in_dir)
    args = build_args(
        ["--input", in_dir, "--output", str(tmp_path / "out"), "--mode", "corpus",
         "--pack-budget", "256"]
    )
    stats = run_corpus(spark, args)
    packed = spark.read.parquet(str(tmp_path / "out" / "corpus_packed"))
    assert stats["packs"] == packed.select("lang", "shard", "pack_id").distinct().count()
    # offset-packing invariant: every doc's start offset lies inside its
    # pack's [pack_id*budget, (pack_id+1)*budget) token window
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("lang", "shard").orderBy("url")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    chk = packed.withColumn("start", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    bad = chk.filter(
        (F.col("start") < F.col("pack_id") * 256)
        | (F.col("start") >= (F.col("pack_id") + 1) * 256)
    ).count()
    assert bad == 0


def test_filter_mode_ppl_tiers(spark, tmp_path):
    """--ppl-tiers: CCNet head/middle/tail column lands in the output with
    roughly balanced tiers per language, and the run stays resumable."""
    from pyspark.sql import functions as F

    in_dir = str(tmp_path / "in")
    generate_pages(spark, 320, partitions=4).write.parquet(in_dir)
    args = build_args(
        ["--input", in_dir, "--output", str(tmp_path / "out"),
         "--ppl-tiers", "--n-buckets", "4", "--chunk-buckets", "2"]
    )
    run(spark, args)
    out = spark.read.parquet(str(tmp_path / "out" / "data"))
    assert "ppl_bucket" in out.columns
    tiers = {r["ppl_bucket"] for r in out.select("ppl_bucket").distinct().collect()}
    assert {"head", "tail"} <= tiers
    # scored docs only ever get head/middle/tail
    assert out.filter(
        F.col("ppl_score").isNotNull() & (F.col("ppl_bucket") == "unscored")
    ).count() <= out.filter(F.col("ppl_score").isNotNull()).count() * 0.2
    # resume no-op still works with the tier column
    assert run(spark, args)["chunks_run"] == 0
    # scale-path plan assertion (VERDICT r3 task 5): the tier machinery the
    # CLI ships must never plan an unpartitioned or per-language window —
    # at 100 TB one language is half the corpus.  The CLI computes cuts via
    # percentile_approx on a sample (above); the operator's auto mode must
    # pick the same window-free form once past its row cutoff.
    from data_quality_monitoring_spark.operators.perplexity import perplexity_buckets

    scored = out.select(
        F.col("url").alias("doc_id"), F.lit("en").alias("lang"),
        F.col("ppl_score").alias("ppl"),
    )
    plan = (
        perplexity_buckets(scored, score_col="ppl", mode="auto", rank_cutoff=0)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "Window" not in plan


def test_corpus_mode_shuffle_shards(spark, tmp_path):
    """corpus --shuffle-shards: corpus_shuffled/ holds every corpus doc
    once, partitioned by shard with dense in-shard positions."""
    from data_quality_monitoring_spark.plans.submit import run_corpus

    in_dir = str(tmp_path / "in")
    generate_pages(spark, 300, partitions=4).write.parquet(in_dir)
    args = build_args(
        ["--input", in_dir, "--output", str(tmp_path / "out"), "--mode",
         "corpus", "--shuffle-shards", "4"]
    )
    stats = run_corpus(spark, args)
    assert stats["shuffle_shards"] == 4
    corpus = spark.read.parquet(str(tmp_path / "out" / "corpus"))
    shuf = spark.read.parquet(str(tmp_path / "out" / "corpus_shuffled"))
    assert shuf.count() == corpus.count()
    assert shuf.select("url").distinct().count() == corpus.count()
    assert shuf.select("shard").distinct().count() == 4
    # dense positions per shard
    from pyspark.sql import functions as F

    agg = shuf.groupBy("shard").agg(
        F.count("*").alias("n"), F.max("shard_pos").alias("mx"),
        F.countDistinct("shard_pos").alias("nd"),
    )
    assert agg.filter((F.col("mx") != F.col("n") - 1) | (F.col("nd") != F.col("n"))).count() == 0


def test_link_graph_mode(spark, tmp_path):
    """link-graph mode: pages with anchor HTML → edges/ + ranks/ parquet;
    the universally-linked hub tops the ranks."""
    from pyspark.sql import Row

    from data_quality_monitoring_spark.plans.submit import (
        build_args,
        run_link_graph,
    )

    in_dir = str(tmp_path / "pages")
    rows = [
        Row(
            url=f"https://h{i}.example.com/p",
            html=(
                b'<a href="https://hub.example.com/">hub</a>'
                b'<a href="https://h' + str((i + 1) % 8).encode()
                + b'.example.com/">next</a>'
            ),
        )
        for i in range(8)
    ]
    spark.createDataFrame(rows, "url string, html binary").write.parquet(in_dir)
    out = str(tmp_path / "graph")
    summary = run_link_graph(spark, build_args(
        ["--mode", "link-graph", "--input", in_dir, "--output", out,
         "--pagerank-iters", "5", "--anchor-terms"]))
    assert summary["top_host"] == "hub.example.com"
    assert summary["hosts"] == 9  # 8 sources + hub
    edges = spark.read.parquet(f"{out}/edges")
    assert edges.filter("dst = 'hub.example.com'").count() == 8
    ranks = spark.read.parquet(f"{out}/ranks")
    assert abs(sum(r["rank"] for r in ranks.collect()) - 1.0) < 1e-9
    anchors = spark.read.parquet(f"{out}/anchors")
    hub = anchors.filter("dst = 'hub.example.com' and term = 'hub'").first()
    assert hub is not None and hub["n_srcs"] == 8
    assert summary["anchor_terms"] == anchors.count()


def test_filter_mode_honor_noindex(spark, tmp_path):
    """--honor-noindex drops opted-out pages at ingest; without the flag
    they flow through."""
    from pyspark.sql import functions as F

    from data_quality_monitoring_spark.plans.submit import build_args, run

    in_dir = str(tmp_path / "in")
    pages = generate_pages(spark, 200, partitions=4).withColumn(
        "html",
        F.when(
            F.col("url").endswith("0"),
            F.lit(b'<html><head><meta name="robots" content="noindex"></head></html>'),
        ).otherwise(F.col("html")),
    )
    pages.write.parquet(in_dir)
    n_optout = pages.filter(F.col("url").endswith("0")).count()
    assert n_optout > 0

    out = str(tmp_path / "out")
    run(spark, build_args(
        ["--input", in_dir, "--output", out, "--n-buckets", "4",
         "--honor-noindex"]))
    data = spark.read.parquet(f"{out}/data")
    assert data.count() == 200 - n_optout
    assert data.filter(F.col("url").endswith("0")).count() == 0


def test_corpus_mode_pack_texts(spark, tmp_path):
    """corpus --pack-budget --pack-texts writes loader-ready concatenated
    packs consistent with corpus_packed."""
    from data_quality_monitoring_spark.plans.submit import run_corpus

    in_dir = str(tmp_path / "in")
    generate_pages(spark, 300, partitions=4).write.parquet(in_dir)
    run_corpus(spark, build_args(
        ["--input", in_dir, "--output", str(tmp_path / "out"), "--mode",
         "corpus", "--pack-budget", "256", "--pack-texts"]))
    packed = spark.read.parquet(str(tmp_path / "out" / "corpus_packed"))
    packs = spark.read.parquet(str(tmp_path / "out" / "corpus_packs"))
    assert packs.count() == packed.select("lang", "shard", "pack_id").distinct().count()
    from pyspark.sql import functions as F

    joined = packs.withColumn(
        "n_sep", F.size(F.split("pack_text", "\x1e")) 
    )
    assert joined.filter(F.col("n_sep") != F.col("n_docs")).count() == 0


def test_corpus_mode_decontaminate_and_dsir(spark, tmp_path):
    """--decontaminate (exact + fuzzy) drops eval leakage; --dsir-top keeps
    the importance-resampled subset — both through the real CLI path."""
    from pyspark.sql import functions as F

    from data_quality_monitoring_spark.plans.submit import run_corpus

    in_dir = str(tmp_path / "in_d")
    eval_dir = str(tmp_path / "evalset")
    tgt_dir = str(tmp_path / "target")
    pages = generate_pages(spark, 200, partitions=4)
    pages.write.parquet(in_dir)
    # the eval set = scrubbed text of a few pages that survive the filter →
    # guaranteed contamination hits
    from data_quality_monitoring_spark.plans.pipeline import quality_filter

    kept = quality_filter(spark, pages).filter("keep").select("url", "text_scrubbed")
    kept.limit(5).select(F.col("text_scrubbed").alias("text")).write.parquet(eval_dir)
    kept.limit(40).select(F.col("text_scrubbed").alias("text")).write.parquet(tgt_dir)

    out1 = str(tmp_path / "out_exact")
    base_stats = run_corpus(spark, build_args(
        ["--mode", "corpus", "--input", in_dir, "--output", str(tmp_path / "out_base")]
    ))
    stats1 = run_corpus(spark, build_args(
        ["--mode", "corpus", "--input", in_dir, "--output", out1,
         "--decontaminate", eval_dir]
    ))
    assert stats1["decontaminated_docs_dropped"] >= 1
    assert stats1["final"] == base_stats["final"]  # drop happens post-count
    assert spark.read.parquet(f"{out1}/corpus").count() == \
        base_stats["final"] - stats1["decontaminated_docs_dropped"]

    out2 = str(tmp_path / "out_fuzzy")
    stats2 = run_corpus(spark, build_args(
        ["--mode", "corpus", "--input", in_dir, "--output", out2,
         "--decontaminate", eval_dir, "--decontaminate-mode", "fuzzy",
         "--decontaminate-threshold", "0.5"]
    ))
    assert stats2["decontaminated_docs_dropped"] >= 1

    # bloom mode: no false negatives → drops AT LEAST the exact mode's docs
    out_b = str(tmp_path / "out_bloom")
    stats_b = run_corpus(spark, build_args(
        ["--mode", "corpus", "--input", in_dir, "--output", out_b,
         "--decontaminate", eval_dir, "--decontaminate-mode", "bloom"]
    ))
    assert stats_b["decontaminated_docs_dropped"] >= \
        stats1["decontaminated_docs_dropped"]

    out3 = str(tmp_path / "out_dsir")
    stats3 = run_corpus(spark, build_args(
        ["--mode", "corpus", "--input", in_dir, "--output", out3,
         "--dsir-top", "30", "--dsir-target", tgt_dir]
    ))
    assert stats3["dsir_docs_selected"] == 30
    assert spark.read.parquet(f"{out3}/corpus").count() == 30

    # audit mode: drops NOTHING, ships the per-doc overlap report instead;
    # the eval docs are verbatim corpus members → frac 1.0 → dirty
    out_a = str(tmp_path / "out_audit")
    stats_a = run_corpus(spark, build_args(
        ["--mode", "corpus", "--input", in_dir, "--output", out_a,
         "--decontaminate", eval_dir, "--decontaminate-mode", "audit"]
    ))
    assert stats_a["decontaminated_docs_dropped"] == 0
    assert stats_a["contamination_dirty_docs"] >= 1
    assert spark.read.parquet(f"{out_a}/corpus").count() == base_stats["final"]
    rep = spark.read.parquet(f"{out_a}/contamination_report")
    assert set(rep.columns) == {
        "url", "n_shingles", "n_contaminated", "contamination_frac", "dirty"
    }
    assert rep.filter("dirty AND contamination_frac >= 0.5").count() == \
        stats_a["contamination_dirty_docs"]


def test_corpus_mode_chunks_and_incremental_decontaminate(spark, tmp_path):
    from pyspark.sql import functions as F

    from data_quality_monitoring_spark.plans.pipeline import quality_filter
    from data_quality_monitoring_spark.plans.submit import run_corpus, run_incremental

    in_dir = str(tmp_path / "in_cc")
    pages = generate_pages(spark, 150, partitions=4)
    pages.write.parquet(in_dir)

    out1 = str(tmp_path / "out_chunks")
    stats = run_corpus(spark, build_args(
        ["--mode", "corpus", "--input", in_dir, "--output", out1,
         "--chunk-words", "64", "--chunk-overlap", "8"]
    ))
    chunks = spark.read.parquet(f"{out1}/corpus_chunks")
    assert stats["chunks"] == chunks.count() > 0
    assert {"url", "chunk_id", "start_word", "n_words", "chunk_text"} <= set(chunks.columns)
    # every corpus doc is represented and no chunk exceeds the budget
    assert chunks.select("url").distinct().count() == stats["final"]
    assert chunks.agg(F.max("n_words")).first()[0] <= 64

    # incremental mode honors --decontaminate
    eval_dir = str(tmp_path / "inc_eval")
    kept = quality_filter(spark, pages).filter("keep")
    kept.limit(3).select(F.col("text_scrubbed").alias("text")).write.parquet(eval_dir)
    out2 = str(tmp_path / "out_inc")
    stats2 = run_incremental(spark, build_args(
        ["--mode", "incremental", "--input", in_dir, "--output", out2,
         "--sig-store", str(tmp_path / "store"), "--decontaminate", eval_dir]
    ))
    assert stats2["decontaminated_docs_dropped"] >= 1


def test_filter_llm_order_3(spark, tmp_path):
    """--llm-order 3 runs the trigram tier through the real filter CLI:
    ppl scores populate, and the scores genuinely differ from bigram."""
    from pyspark.sql import functions as F

    in_dir = str(tmp_path / "in_l3")
    generate_pages(spark, 120, partitions=2).write.parquet(in_dir)
    out2 = str(tmp_path / "out_l2")
    out3 = str(tmp_path / "out_l3")
    run(spark, build_args(["--input", in_dir, "--output", out2,
                           "--n-buckets", "4", "--chunk-buckets", "4"]))
    run(spark, build_args(["--input", in_dir, "--output", out3,
                           "--n-buckets", "4", "--chunk-buckets", "4",
                           "--llm-order", "3"]))
    d2 = spark.read.parquet(f"{out2}/data").select("url", F.col("ppl_score").alias("p2"))
    d3 = spark.read.parquet(f"{out3}/data").select("url", F.col("ppl_score").alias("p3"))
    j = d2.join(d3, "url").filter(F.col("p2").isNotNull())
    assert j.count() > 0
    assert j.filter(F.col("p2") != F.col("p3")).count() > 0


def test_filter_mode_gopher_gate(spark, tmp_path):
    """--gopher-gate: keep tightens to a subset of the ungated run (the
    Gopher hard rules can only AND drops in) and the gated column agrees
    with gopher_keep(gopher_signals) recomputed on the shipped text."""
    from pyspark.sql import functions as F

    from data_quality_monitoring_spark.operators.textstats import (
        gopher_keep,
        gopher_signals,
    )

    in_dir = str(tmp_path / "in")
    generate_pages(spark, 120, partitions=4).write.parquet(in_dir)

    plain = build_args(
        ["--input", in_dir, "--output", str(tmp_path / "out_plain"),
         "--n-buckets", "4", "--chunk-buckets", "4"]
    )
    run(spark, plain)
    gated = build_args(
        ["--input", in_dir, "--output", str(tmp_path / "out_gated"),
         "--gopher-gate", "--n-buckets", "4", "--chunk-buckets", "4"]
    )
    run(spark, gated)

    p = spark.read.parquet(str(tmp_path / "out_plain" / "data")).select(
        "url", F.col("keep").alias("keep_plain")
    )
    g = spark.read.parquet(str(tmp_path / "out_gated" / "data"))
    both = g.join(p, "url")
    # gate only removes: keep_gated ⇒ keep_plain
    assert both.filter(F.col("keep") & ~F.col("keep_plain")).count() == 0
    # and equals keep_plain AND gopher_keep(text_scrubbed)
    expect = F.col("keep_plain") & gopher_keep(gopher_signals(F.col("text_scrubbed")))
    assert both.filter(F.col("keep") != expect).count() == 0


def test_filter_mode_c4_clean(spark, tmp_path):
    """--c4-clean: shipped text is rebuilt from surviving lines and keep
    tightens by the C4 verdict recomputed on the pre-clean text."""
    from pyspark.sql import functions as F

    from data_quality_monitoring_spark.operators.normalize import (
        c4_keep,
        c4_line_signals,
    )

    in_dir = str(tmp_path / "in")
    generate_pages(spark, 120, partitions=4).write.parquet(in_dir)

    plain = build_args(
        ["--input", in_dir, "--output", str(tmp_path / "out_plain"),
         "--n-buckets", "4", "--chunk-buckets", "4"]
    )
    run(spark, plain)
    gated = build_args(
        ["--input", in_dir, "--output", str(tmp_path / "out_c4"),
         "--c4-clean", "--n-buckets", "4", "--chunk-buckets", "4"]
    )
    run(spark, gated)

    p = spark.read.parquet(str(tmp_path / "out_plain" / "data")).select(
        "url",
        F.col("keep").alias("keep_plain"),
        F.col("text_scrubbed").alias("pre_clean"),
    )
    g = spark.read.parquet(str(tmp_path / "out_c4" / "data"))
    both = g.join(p, "url")
    assert both.filter(F.col("keep") & ~F.col("keep_plain")).count() == 0
    sig = c4_line_signals(F.col("pre_clean"))
    expect_keep = F.col("keep_plain") & c4_keep(sig)
    assert both.filter(F.col("keep") != expect_keep).count() == 0
    assert both.filter(F.col("text_scrubbed") != sig["text_clean"]).count() == 0


def test_filter_mode_rep_gate(spark, tmp_path):
    """--rep-gate: keep tightens to keep_plain AND the Gopher repetition
    verdict recomputed on the shipped text."""
    from pyspark.sql import functions as F

    from data_quality_monitoring_spark.operators.textstats import (
        gopher_repetition_col,
    )

    in_dir = str(tmp_path / "in")
    pages = generate_pages(spark, 100, partitions=4)
    # plant heavy repetition in some kept docs so the gate actually fires
    looped = pages.withColumn(
        "text",
        F.when(
            F.crc32("url") % 4 == 0,
            F.concat_ws(" ", F.col("text"), F.col("text"), F.col("text")),
        ).otherwise(F.col("text")),
    )
    looped.write.parquet(in_dir)

    plain = build_args(
        ["--input", in_dir, "--output", str(tmp_path / "out_plain"),
         "--n-buckets", "4", "--chunk-buckets", "4"]
    )
    run(spark, plain)
    gated = build_args(
        ["--input", in_dir, "--output", str(tmp_path / "out_rep"),
         "--rep-gate", "--n-buckets", "4", "--chunk-buckets", "4"]
    )
    run(spark, gated)

    p = spark.read.parquet(str(tmp_path / "out_plain" / "data")).select(
        "url", F.col("keep").alias("keep_plain")
    )
    g = spark.read.parquet(str(tmp_path / "out_rep" / "data"))
    both = g.join(p, "url")
    assert both.filter(F.col("keep") & ~F.col("keep_plain")).count() == 0
    expect = F.col("keep_plain") & gopher_repetition_col(
        F.col("text_scrubbed")
    )["rep_keep"]
    assert both.filter(F.col("keep") != expect).count() == 0
    # the planted self-repetition triggers real drops
    assert g.filter("keep").count() < p.filter("keep_plain").count()


def test_probe_reports_surface_in_consolidated_reports(spark, tmp_path):
    """VERDICT r4 task 7: train_probe.json artifacts (written by
    ml-train/llm-train) surface under model_probes in the single-demo
    consolidated report and the multi-eval summary — a degraded model is
    visible where the reference's users actually look."""
    import json

    import pandas as pd

    from data_quality_monitoring_spark.artifacts import training_texts
    from data_quality_monitoring_spark.plans.submit import (
        run_llm_train,
        run_multi_eval,
        run_single_demo,
    )

    rows = [(t, lang) for lang in ("en", "de") for t in training_texts(lang, 15)]
    train_in = str(tmp_path / "train_in")
    spark.createDataFrame(pd.DataFrame(rows, columns=["text", "lang"])).write.parquet(train_in)
    llm_dir = tmp_path / "llm_out"
    run_llm_train(spark, build_args(
        ["--mode", "llm-train", "--input", train_in, "--output", str(llm_dir)]
    ))
    assert (llm_dir / "train_probe.json").exists()  # healthy probe artifact

    # a deliberately-degraded artifact next to it
    bad_dir = tmp_path / "bad_model"
    bad_dir.mkdir()
    (bad_dir / "train_probe.json").write_text(json.dumps(
        {"probe": "langid", "ok": False, "recall": 0.1, "precision": 0.2}
    ))

    in_dir = str(tmp_path / "in")
    generate_pages(spark, 160, partitions=4).write.parquet(in_dir)
    report = run_single_demo(spark, build_args(
        ["--mode", "single-demo", "--input", in_dir,
         "--output", str(tmp_path / "demo_out"),
         "--probe-dirs", str(llm_dir), str(bad_dir)]
    ))
    probes = report["model_probes"]
    assert probes["bigram_lm"]["ok"] is True
    assert probes["bigram_lm"]["assessment"] == "healthy"
    assert probes["langid"]["ok"] is False
    assert "DEGRADED" in probes["langid"]["assessment"]
    assert probes["_all_ok"] is False
    on_disk = json.loads(
        (tmp_path / "demo_out" / "consolidated_report.json").read_text()
    )
    assert on_disk["model_probes"] == probes

    summary = run_multi_eval(spark, build_args(
        ["--mode", "multi-eval", "--input", in_dir,
         "--output", str(tmp_path / "eval_out"), "--n-samples", "2",
         "--probe-dirs", str(llm_dir)]
    ))
    assert summary["model_probes"]["bigram_lm"]["ok"] is True
    assert summary["model_probes"]["_all_ok"] is True
    on_disk = json.loads(
        (tmp_path / "eval_out" / "evaluation_summary.json").read_text()
    )
    assert on_disk["model_probes"]["bigram_lm"]["assessment"] == "healthy"

    # without the flag the section is omitted, not empty
    report2 = run_single_demo(spark, build_args(
        ["--mode", "single-demo", "--input", in_dir,
         "--output", str(tmp_path / "demo_out2")]
    ))
    assert "model_probes" not in report2
