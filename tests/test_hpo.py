"""Hyperparameter search (operators/hpo.py) — reference
ml_based/hyperparameter_search.py semantics: seeded random sampling,
precision-constrained best-by-recall, earliest-trial tie-break, parameter
analysis — plus the Spark-first contract: train once, one Arrow scoring
pass, counts verified against the local closed-form model."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from data_quality_monitoring_spark.operators.hpo import (
    DEFAULT_SPACE,
    evaluate_bigram_configs,
    hp_parameter_analysis,
    hp_search,
    sample_configs,
)
from data_quality_monitoring_spark.operators.perplexity import train_ngram


def test_sample_configs_deterministic_and_in_space():
    a = sample_configs(DEFAULT_SPACE, 15, seed=7)
    b = sample_configs(DEFAULT_SPACE, 15, seed=7)
    c = sample_configs(DEFAULT_SPACE, 15, seed=8)
    assert a == b  # (space, trials, seed) fully determines the draw
    assert a != c
    for t in a:
        for p, v in t.items():
            assert v in DEFAULT_SPACE[p]


def test_nll_variants_matches_single_nll():
    """K-variant broadcast arithmetic == the single-model closed form,
    bit for bit, at both orders."""
    grid = {
        2: [((0.5,), 0.1), ((0.7,), 0.5), ((0.9,), 1.0)],
        3: [((0.5, 0.3), 0.1), ((0.6, 0.2), 0.5), ((0.2, 0.7), 1.0)],
    }
    for order, variants in grid.items():
        lm = train_ngram(["aa bb cc aa bb", "aa cc bb aa"], order, max_vocab=1000)
        for lams, k in variants:
            lm.lams, lm.k = lams, k
            single = lm.nll("aa bb zz")
            multi = lm.nll_variants(
                "aa bb zz", np.array([lams]), np.array([k])
            )[0]
            assert single == multi


CLEAN = ["aa bb cc dd ee ff gg hh", "aa bb cc dd ee ff hh gg",
         "bb aa cc dd ff ee gg hh", "aa bb dd cc ee ff gg hh"] * 4  # 16 docs
BAD = ["zz yy xx ww vv uu tt ss"] * 3 + [""]  # 3 OOV docs + 1 empty


def _docs(spark):
    rows = [(f"c{i}", t, "en", False) for i, t in enumerate(CLEAN)] + [
        (f"b{i}", t, "en", True) for i, t in enumerate(BAD)
    ]
    return spark.createDataFrame(
        rows, "doc_id string, text string, lang string, truth_bad boolean"
    )


def _cluster_thresholds():
    """Thresholds straddling the clean/OOV ppl clusters, from the LOCAL
    closed-form model (distributed trainer is pinned bit-identical to it
    elsewhere)."""
    lm = train_ngram(CLEAN, 2, max_vocab=1_000_000)
    lams, ks = np.array([[0.7]]), np.array([0.5])
    all_ppl = [lm.nll_variants(t, lams, ks)[0] for t in CLEAN + [b for b in BAD if b]]
    clean_ppl = max(lm.nll_variants(t, lams, ks)[0] for t in CLEAN)
    bad_ppl = min(lm.nll_variants(t, lams, ks)[0] for t in BAD if t)
    assert clean_ppl < bad_ppl  # OOV text must score higher or the fixture is broken
    t_low = float(min(all_ppl)) - 0.5  # below every scoreable doc
    t_mid = float((clean_ppl + bad_ppl) / 2)  # separates the clusters
    return t_low, t_mid


def test_evaluate_configs_constraint_tiebreak_and_counts(spark):
    """Config 0 (threshold below everything) reaches recall 1.0 but
    precision 3/19 < 0.3 → INVALID, so best must skip it despite the
    earliest id; configs 1 and 2 are identical separators (prec 1.0,
    rec 0.75 — the empty doc can never be flagged) and the EARLIER one
    wins the tie, exactly the reference's sequential `>` update."""
    t_low, t_mid = _cluster_thresholds()
    res = {
        r["config_id"]: r.asDict()
        for r in evaluate_bigram_configs(
            spark,
            _docs(spark),
            [(0.7, 0.5, t_low), (0.7, 0.5, t_mid), (0.7, 0.5, t_mid)],
            train_filter=~F.col("truth_bad"),
        ).collect()
    }
    assert len(res) == 3
    r0, r1, r2 = res[0], res[1], res[2]
    # flag-everything: 3 scoreable bad docs + 16 clean docs flagged; the
    # empty doc is unscorable → fn, never tp/fp
    assert (r0["tp"], r0["fp"], r0["fn"]) == (3, 16, 1)
    assert r0["rec"] == 0.75 and not r0["valid"] and not r0["is_best"]
    # separator: only the 3 OOV docs cross t_mid
    assert (r1["tp"], r1["fp"], r1["fn"]) == (3, 0, 1)
    assert r1["prec"] == 1.0 and r1["valid"]
    assert (r2["tp"], r2["fp"], r2["fn"]) == (3, 0, 1)
    # identical metrics, earliest config wins
    assert r1["is_best"] and not r2["is_best"]


def test_evaluate_configs_counts_match_local_model(spark):
    """Distributed confusion counts == brute-force counts from the local
    closed-form model at several (lam, k, threshold) points."""
    lm = train_ngram(CLEAN, 2, max_vocab=1_000_000)
    configs = [(0.5, 0.1, 3.0), (0.9, 1.0, 3.5), (0.7, 0.5, 99.0)]
    res = {
        r["config_id"]: r.asDict()
        for r in evaluate_bigram_configs(
            spark, _docs(spark), configs, train_filter=~F.col("truth_bad")
        ).collect()
    }
    texts = [(t, False) for t in CLEAN] + [(t, True) for t in BAD]
    for cid, (lam, k, thr) in enumerate(configs):
        tp = fp = fn = 0
        for t, bad in texts:
            if not t.strip():
                pred = False  # unscorable → never positive
            else:
                ppl = round(
                    float(lm.nll_variants(t, np.array([[lam]]), np.array([k]))[0]), 6
                )
                pred = ppl > thr
            tp += pred and bad
            fp += pred and not bad
            fn += (not pred) and bad
        assert (res[cid]["tp"], res[cid]["fp"], res[cid]["fn"]) == (tp, fp, fn), cid


def test_evaluate_configs_plan_shape(spark):
    """One Arrow node (all variants in one pandas UDF), config join
    broadcast — K configs must not add corpus passes."""
    import io
    from contextlib import redirect_stdout

    df = evaluate_bigram_configs(
        spark,
        _docs(spark),
        [(0.5, 0.1, 3.0), (0.7, 0.5, 3.0), (0.9, 1.0, 4.0)],
        train_filter=~F.col("truth_bad"),
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    import re

    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1
    assert "BroadcastHashJoin" in plan


def test_hp_search_artifact_shape_and_determinism(spark):
    report = hp_search(
        spark, _docs(spark), n_trials=6, seed=3, train_filter=~F.col("truth_bad")
    )
    again = hp_search(
        spark, _docs(spark), n_trials=6, seed=3, train_filter=~F.col("truth_bad")
    )
    assert report == again  # fully deterministic end to end
    assert set(report) == {
        "n_trials", "seed", "best_params", "best_recall", "best_precision",
        "best_f1", "all_results", "performance_analysis",
    }
    assert len(report["all_results"]) == 6
    if report["best_params"] is not None:
        assert report["best_precision"] >= 0.3
        # best is the max-recall VALID trial
        valid = [r for r in report["all_results"] if r["valid"]]
        assert report["best_recall"] == max(r["recall"] for r in valid)
    for param in ("lam", "k", "threshold"):
        assert param in report["performance_analysis"]


def test_hp_parameter_analysis_valid_only():
    rows = [
        {"lam": 0.5, "k": 0.1, "threshold": 3.0, "rec": 1.0, "prec": 1.0,
         "f1": 1.0, "valid": True},
        {"lam": 0.5, "k": 0.5, "threshold": 3.0, "rec": 0.5, "prec": 1.0,
         "f1": 2 / 3, "valid": True},
        {"lam": 0.9, "k": 0.1, "threshold": 3.0, "rec": 1.0, "prec": 0.1,
         "f1": 0.18, "valid": False},  # must be excluded everywhere
    ]
    out = hp_parameter_analysis(rows)
    assert out["lam"]["0.5"]["n_trials"] == 2
    assert out["lam"]["0.5"]["avg_recall"] == 0.75
    assert "0.9" not in out["lam"]
    assert out["threshold"]["3.0"]["n_trials"] == 2


NB_GOOD = ["the quick brown fox jumps over the lazy dog today",
           "a quiet morning walk along the river bank is nice",
           "fresh bread and coffee make the morning feel slow"] * 5
NB_BAD = ["zzz qqq www zzz qqq www spam spam spam zzz"] * 4 + [""]


def _nb_docs(spark):
    rows = [(f"g{i}", t, False) for i, t in enumerate(NB_GOOD)] + [
        (f"b{i}", t, True) for i, t in enumerate(NB_BAD)
    ]
    return spark.createDataFrame(rows, "doc_id string, text string, truth_bad boolean")


def test_nb_quality_sweep_matches_production_scorer(spark):
    """The alpha-variant scorer at alpha=0.5 must reproduce the production
    quality_prob path (train_langid_distributed + langid_struct) to the
    rounded digit, and the confusion counts must match brute force on
    those scores."""
    from data_quality_monitoring_spark.operators.hpo import (
        evaluate_nb_quality_configs,
    )
    from data_quality_monitoring_spark.operators.langid import (
        train_langid_distributed,
    )
    from data_quality_monitoring_spark.operators.quality_model import quality_prob

    docs = _nb_docs(spark)
    labeled = docs.withColumn(
        "_cls", F.when(F.col("truth_bad"), "bad").otherwise("good")
    )
    model = train_langid_distributed(
        labeled, lang_col="_cls", feat="word_md5", dtype=np.float64
    )
    scores = {
        r["doc_id"]: r["p"]
        for r in docs.select(
            "doc_id",
            "truth_bad",
            F.round(quality_prob(spark, model, F.col("text")), 6).alias("p"),
        ).collect()
    }
    bad = {r["doc_id"]: r["truth_bad"] for r in docs.collect()}
    thr = 0.5
    tp = sum(1 for d, p in scores.items() if p is not None and p < thr and bad[d])
    fp = sum(1 for d, p in scores.items() if p is not None and p < thr and not bad[d])
    fn = sum(1 for d in bad if bad[d]) - tp
    res = evaluate_nb_quality_configs(spark, docs, [(0.5, thr)]).collect()
    r = res[0].asDict()
    assert (r["tp"], r["fp"], r["fn"]) == (tp, fp, fn)
    # the distinctive-token fixture must actually separate, or the
    # parity above proves nothing
    assert tp == 4 and fp == 0 and fn == 1  # empty bad doc is unscorable → fn


def test_nb_quality_sweep_direction_and_alpha_sharing(spark):
    """flag_when='below' direction: a threshold ABOVE every posterior
    flags every scoreable doc; one below flags none.  Distinct alphas
    share one training aggregation but produce distinct score columns."""
    from data_quality_monitoring_spark.operators.hpo import (
        evaluate_nb_quality_configs,
    )

    docs = _nb_docs(spark)
    res = {
        r["config_id"]: r.asDict()
        for r in evaluate_nb_quality_configs(
            spark, docs, [(0.5, 1.1), (0.5, -0.1), (0.01, 1.1)]
        ).collect()
    }
    n_scoreable_bad, n_good = 4, len(NB_GOOD)
    assert (res[0]["tp"], res[0]["fp"]) == (n_scoreable_bad, n_good)
    assert (res[1]["tp"], res[1]["fp"], res[1]["rec"]) == (0, 0, 0.0)
    assert (res[2]["tp"], res[2]["fp"]) == (n_scoreable_bad, n_good)


def test_hp_search_cli_mode(spark, tmp_path):
    """--mode hp-search end to end: artifact on disk, reference shape."""
    import json

    from data_quality_monitoring_spark.datagen import generate_pages
    from data_quality_monitoring_spark.plans.submit import _MODES, build_args

    in_dir = str(tmp_path / "in")
    generate_pages(spark, 200, partitions=4).write.parquet(in_dir)
    args = build_args(
        ["--input", in_dir, "--output", str(tmp_path / "out"),
         "--mode", "hp-search", "--hp-trials", "4", "--hp-seed", "1",
         "--intensity", "0.4"]
    )
    report = _MODES["hp-search"](spark, args)
    on_disk = json.loads((tmp_path / "out" / "hp_search_results.json").read_text())
    assert on_disk == report
    assert len(report["all_results"]) == 4
    assert set(report["all_results"][0]["params"]) == {"lam", "k", "threshold"}
    # the ML-slot target searches the NB (alpha, threshold) space instead
    args_ml = build_args(
        ["--input", in_dir, "--output", str(tmp_path / "out_ml"),
         "--mode", "hp-search", "--hp-trials", "4", "--hp-seed", "1",
         "--hp-target", "ml", "--intensity", "0.4"]
    )
    report_ml = _MODES["hp-search"](spark, args_ml)
    assert set(report_ml["all_results"][0]["params"]) == {"alpha", "threshold"}
    assert set(report_ml["performance_analysis"]) == {"alpha", "threshold"}
    assert len(report_ml["all_results"]) == 4
