"""Multi-sample evaluation, reporter, run-config and sources tests."""

import json

import pytest
from pyspark.sql import functions as F

from data_quality_monitoring_spark.config import RunConfig
from data_quality_monitoring_spark.datagen import generate_pages
from data_quality_monitoring_spark.operators.report import (
    findings_long,
    render_messages,
)
from data_quality_monitoring_spark.plans.evaluate import (
    evaluation_summary,
    multi_sample_evaluation,
    perplexity_threshold_curve,
)
from data_quality_monitoring_spark.plans.pipeline import default_rules, quality_filter
from data_quality_monitoring_spark.sources.pages import read_pages, write_pages

INJ = [
    {"name": "blank_out", "operation": "replace_with", "params": {"text": ""}},
    {"name": "truncate_hard", "operation": "truncate", "params": {"length": 20}},
]


def _clean(spark, n=320):
    pages = generate_pages(spark, n, partitions=4)
    doc_id = F.regexp_extract("url", r"/page/(\d+)$", 1).cast("long")
    return pages.filter((doc_id % 16 <= 5) & (doc_id % 97 != 13) & (doc_id % 97 != 29))


def test_multi_sample_evaluation(spark):
    clean = _clean(spark)
    per_sample = multi_sample_evaluation(spark, clean, INJ, n_samples=4, intensity=0.4)
    rows = per_sample.collect()
    assert [r["sample_id"] for r in rows] == [0, 1, 2, 3]
    assert all(r["f1"] >= 0.99 for r in rows)
    # samples draw independently: injected counts differ across samples
    injected_counts = {r["tp"] + r["fn"] for r in rows}
    assert len(injected_counts) > 1
    summary = evaluation_summary(per_sample)
    assert summary["n_samples"] == 4 and summary["f1_mean"] >= 0.99


def test_threshold_curve_monotone_recall(spark):
    clean = _clean(spark)
    gib_rule = [{"name": "gibberish", "operation": "replace_with",
                 "params": {"text": "qzxv jkwpf mnbvt yhgrd xswqa zplmk " * 10}}]
    curve = perplexity_threshold_curve(spark, clean, gib_rule, [0.0, 5.0, 20.0]).collect()
    by_t = {r["threshold"]: r for r in curve}
    assert by_t[0.0]["recall"] == 1.0  # everything above 0 → all anomalies caught
    assert by_t[5.0]["f1"] == 1.0  # clean ~4.2 NLL < 5 < gibberish ~12.8
    assert by_t[20.0]["tp"] == 0
    # recall is monotonically non-increasing in the threshold
    rs = [r["recall"] for r in sorted(curve, key=lambda r: r["threshold"])]
    assert all(rs[i] >= rs[i + 1] for i in range(len(rs) - 1))


def test_report_rendering(spark):
    rules = default_rules()
    messages = render_messages(
        rules, {"TOO_SHORT": "fewer than {min_words} words", "MISSING": "document has no extracted text"}
    )
    assert messages["TOO_SHORT"] == "fewer than 40 words"  # param substituted
    pages = generate_pages(spark, 160, partitions=2)
    result = quality_filter(spark, pages)
    findings = findings_long(result, messages)
    pdf = findings.toPandas()
    assert set(pdf.columns) == {"url", "field", "method", "rule", "code", "probability", "message"}
    short = pdf[pdf["code"] == "TOO_SHORT"]
    assert len(short) > 0 and (short["message"] == "fewer than 40 words").all()
    # unknown codes get the DEFAULT fallback
    other = pdf[~pdf["code"].isin(messages)]
    assert (other["message"] == "validation issue detected").all()


def test_run_config(spark, tmp_path):
    cfg_path = tmp_path / "brand.json"
    cfg_path.write_text(
        json.dumps(
            {
                "field_mappings": {"text": "body_text", "lang": "language_tag"},
                "enabled_fields": ["text"],
                "field_variations": {"text": "strict"},
            }
        )
    )
    cfg = RunConfig.load(cfg_path)
    assert cfg.variation("text") == "strict" and cfg.variation("lang") == "baseline"
    df = spark.createDataFrame([("hello", "en", 1)], ["body_text", "language_tag", "id"])
    mapped = cfg.apply_mapping(df)
    assert set(mapped.columns) == {"text", "lang", "id"}
    assert mapped.collect()[0]["text"] == "hello"
    # thresholds are not configurable: a brand file that sets them fails
    # loudly instead of being silently ignored
    cfg_path.write_text(json.dumps({"custom_thresholds": {"ml": 0.9}}))
    with pytest.raises(ValueError, match="custom_thresholds"):
        RunConfig.load(cfg_path)


def test_sources_roundtrip(spark, tmp_path):
    pages = generate_pages(spark, 96, partitions=2)
    for fmt in ("parquet", "csv", "json"):
        path = str(tmp_path / fmt)
        write_pages(pages, path, fmt)
        back = read_pages(spark, path, fmt)
        a = pages.select("url", "text").toPandas().sort_values("url").reset_index(drop=True)
        b = back.select("url", "text").toPandas().sort_values("url").reset_index(drop=True)
        assert a.equals(b), fmt
