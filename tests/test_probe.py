"""Post-training quality probes: a healthy artifact passes, a deliberately
broken one fails (reference ml_based/model_training.py:400-563,
llm_based/llm_model_training.py:366-429)."""

import json

import numpy as np

from data_quality_monitoring_spark.datagen import generate_pages
from data_quality_monitoring_spark.plans.probe import (
    OBVIOUS_ANOMALIES,
    probe_bigram,
    probe_langid,
)


def test_probe_langid_passes_healthy_model(spark):
    from data_quality_monitoring_spark.operators.langid import (
        train_langid_distributed,
    )

    docs = generate_pages(spark, 600, partitions=4)
    model = train_langid_distributed(docs)
    report = probe_langid(spark, model, docs, n=160)
    assert report["ok"], report
    assert report["recall"] >= 0.5
    assert report["precision"] >= 0.3
    assert report["n_corrupted"] > 0
    # deterministic: same inputs → same report
    assert probe_langid(spark, model, docs, n=160) == report


def test_probe_langid_fails_collapsed_model(spark):
    """Collapsed weights (all-equal log-probs) make every claimed-language
    posterior 1/L < threshold — the model flags EVERYTHING, and the
    reference's precision >= 0.3 constraint rejects it (precision == the
    0.25 corrupted fraction)."""
    from data_quality_monitoring_spark.operators.langid import (
        LangIdModel,
        train_langid_distributed,
    )

    docs = generate_pages(spark, 600, partitions=4)
    model = train_langid_distributed(docs)
    broken = LangIdModel(
        model.langs,
        np.zeros_like(model.log_probs),
        np.zeros_like(model.log_priors),
        model.feat,
    )
    report = probe_langid(spark, broken, docs, n=160)
    assert not report["ok"], report
    assert report["precision"] < 0.3


def test_probe_langid_fails_single_lang_model(spark):
    """A training run that lost its labels (one surviving language) can't
    be probed for mismatch detection — flagged as broken outright."""
    from data_quality_monitoring_spark.operators.langid import train_langid

    docs = generate_pages(spark, 200, partitions=2)
    model = train_langid({"en": ["the quick brown fox jumps over the dog"] * 4})
    report = probe_langid(spark, model, docs, n=50)
    assert not report["ok"]
    assert "reason" in report


def test_probe_bigram_passes_healthy_fails_backwards(spark):
    """Healthy LMs separate gibberish from clean text; an LM trained ON the
    gibberish scores it as normal — separation collapses, probe fails."""
    from data_quality_monitoring_spark.operators.perplexity import (
        train_ngram,
        train_ngram_distributed,
    )

    docs = generate_pages(spark, 600, partitions=4)
    models = train_ngram_distributed(docs, order=2)
    good = probe_bigram(spark, models, docs, n=80)
    assert good["ok"], good
    assert good["score_separation"] > 0
    assert good["detection_rate"] >= 0.8

    backwards = {"en": train_ngram(OBVIOUS_ANOMALIES * 10, 2)}
    bad = probe_bigram(spark, backwards, docs, n=80)
    assert not bad["ok"], bad


def test_probe_accepts_urlless_corpus(spark):
    """ml-train / llm-train accept bare (text, lang) corpora with no url
    column; the probe must still work with a stable text-derived stand-in
    id (deterministic holdout + corruption bucketing)."""
    from data_quality_monitoring_spark.operators.langid import (
        train_langid_distributed,
    )

    docs = generate_pages(spark, 600, partitions=4).select("text", "lang")
    model = train_langid_distributed(docs)
    report = probe_langid(spark, model, docs, n=160)
    assert report["ok"], report
    assert probe_langid(spark, model, docs, n=160) == report


def test_train_modes_emit_probe_artifact(spark, tmp_path):
    """CLI e2e: ml-train and llm-train write train_probe.json next to the
    model artifacts, and the probe passes on the healthy corpus."""
    from data_quality_monitoring_spark.plans.submit import (
        build_args,
        run_llm_train,
        run_ml_train,
    )

    in_dir = str(tmp_path / "in")
    generate_pages(spark, 600, partitions=4).write.parquet(in_dir)

    ml_out = str(tmp_path / "ml_out")
    args = build_args(
        ["--mode", "ml-train", "--input", in_dir, "--output", ml_out,
         "--probe-n", "120"]
    )
    summary = run_ml_train(spark, args)
    on_disk = json.loads((tmp_path / "ml_out" / "train_probe.json").read_text())
    assert on_disk == summary["probe"]
    assert on_disk["ok"], on_disk

    llm_out = str(tmp_path / "llm_out")
    args = build_args(
        ["--mode", "llm-train", "--input", in_dir, "--output", llm_out,
         "--probe-n", "60"]
    )
    summary = run_llm_train(spark, args)
    on_disk = json.loads((tmp_path / "llm_out" / "train_probe.json").read_text())
    assert on_disk == summary["_probe"]
    assert on_disk["ok"], on_disk
    assert on_disk["probe"] == "bigram_lm"
