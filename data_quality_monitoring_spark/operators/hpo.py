"""Hyperparameter search — the reference's last out-of-scope feature
(anomaly_detectors/ml_based/hyperparameter_search.py) rebuilt Spark-first.

Reference semantics preserved exactly where they are observable:

* random search: one value sampled per parameter per trial from a
  plain ``{param: [values]}`` space (hyperparameter_search.py:252-257),
  seeded so runs are reproducible;
* every trial is scored with recall / precision / F1 against labeled
  anomalies (``:200`` ``train_with_params`` returns the triple);
* a trial is *valid* only if precision ≥ 0.3 (``:265-266``);
* best = highest recall among valid trials, earliest trial winning ties
  (the sequential ``>`` update at ``:286-291``);
* per-parameter performance analysis: mean R/P/F1 grouped by each
  parameter's value over valid trials (``:304-334``);
* a results artifact carrying best_params, all_results and the
  performance_analysis (``:345-383``).

What is deliberately different — the Spark-first part: the reference
re-trains a sentence-transformer per trial, so 15 trials cost 15
trainings.  Our LLM-slot detector is a count-based n-gram LM whose
sufficient statistics are **hyperparameter-free**: ``lam``/``k`` only
reshape the closed-form arithmetic over the count tables and
``threshold`` only cuts the score.  So the sweep trains ONCE
(``train_ngram_distributed``), scores every (lam, k) variant in a single
Arrow pass (``NgramLM.nll_variants`` — a (K, T) numpy broadcast per
document), and evaluates every config with one map-side-combined
aggregation.  K configs ≈ 1× corpus passes instead of K trainings — the
difference between a feasible and an infeasible search at 100 TB.

Scale notes: the configs table is O(n_trials) rows and is broadcast; the
only wide operation is one groupBy("config_id") whose partial aggregation
collapses each task's output to n_configs rows; the final result is
n_configs rows (collect is bounded by the caller's trial count).
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .perplexity import ERROR_SCORE, train_ngram_distributed

__all__ = [
    "DEFAULT_SPACE",
    "DEFAULT_ML_SPACE",
    "hp_search_ml",
    "sample_configs",
    "bigram_variant_scores",
    "evaluate_bigram_configs",
    "evaluate_nb_quality_configs",
    "hp_parameter_analysis",
    "hp_search",
]

# the LM-detector analogue of the reference's search space JSON
# (ml_based/hyperparameter_search.json → hyperparameter_search_space.json):
# interpolation weight, add-k smoothing, verdict threshold
DEFAULT_SPACE: dict[str, list[float]] = {
    "lam": [0.5, 0.6, 0.7, 0.8, 0.9],
    "k": [0.1, 0.25, 0.5, 1.0],
    "threshold": [4.0, 4.5, 5.0, 5.5, 6.0, 6.5, 7.0],
}

MIN_PRECISION = 0.3  # the reference's validity constraint (:265)


def sample_configs(
    space: dict[str, list], n_trials: int, seed: int = 0
) -> list[dict]:
    """Seeded random search — one value per parameter per trial, exactly
    the reference's ``random.choice`` loop (hyperparameter_search.py:252-257)
    made reproducible.  Dict insertion order of ``space`` fixes the draw
    order, so (space, n_trials, seed) fully determines the trials."""
    rng = random.Random(seed)
    return [{p: rng.choice(vs) for p, vs in space.items()} for _ in range(n_trials)]


def bigram_variant_scores(
    spark: SparkSession,
    models: dict,
    text: Column,
    claimed: Column,
    variants: list[tuple[float, float]],
    default_lang: str = "en",
) -> Column:
    """Array column of per-(lam, k)-variant mean-NLL scores (rounded to 6,
    the contract grid), null for null/blank text — the K-variant
    generalization of ``perplexity.perplexity_column`` with ONE
    tokenization per document."""
    bc = spark.sparkContext.broadcast(models)
    lams = np.array([v[0] for v in variants], dtype=np.float64)[:, None]  # (K, 1)
    ks = np.array([v[1] for v in variants], dtype=np.float64)
    n_var = len(variants)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _score(texts: pd.Series, claims: pd.Series) -> pd.Series:
        lms = bc.value
        out = []
        for t, cl in zip(texts, claims):
            if t is None or not isinstance(t, str) or not t.strip():
                out.append(None)
                continue
            lm = lms.get(cl) or lms.get(default_lang)
            if lm is None:
                out.append([ERROR_SCORE] * n_var)
            else:
                # UNROUNDED: rounding happens as F.round on the exploded
                # column (ADVICE r5) — np.round is banker's/HALF_EVEN while
                # the DuckDB oracle's round() is HALF_UP, so a 6th-decimal
                # tie could flip the ppl > threshold comparison between
                # engines; evaluate_nb_quality_configs already follows the
                # F.round convention
                out.append(lm.nll_variants(t, lams, ks).tolist())
        return pd.Series(out)

    return _score(text, claimed)


def evaluate_bigram_configs(
    spark: SparkSession,
    docs: DataFrame,
    configs: list[tuple[float, float, float]],
    train_filter: Column | None = None,
) -> DataFrame:
    """Evaluate every (lam, k, threshold) config in one distributed pass.

    ``docs`` must carry ``text``, ``lang`` and a boolean ``truth_bad`` (true =
    anomalous — the injected/rule label the reference evaluates against).  The
    LM trains on ``train_filter``'s rows (all by default) with a 1M-word
    vocabulary; languages without a model score with ``en``.  Returns one row
    per config: counts, precision/recall/F1 (rounded to 6), the ``valid``
    precision-constraint bit and ``is_best`` (highest recall among valid
    configs, earliest config winning ties — the reference's sequential-update
    semantics).

    Physical shape: train once → one Arrow scoring pass emitting a
    K_variant array per doc → posexplode → broadcast-join the O(K) config
    table → one map-side-combined groupBy(config_id).  Unscored docs
    (null/blank text) can never be predicted positive, so they contribute
    to fn/tn via the n_bad/n_docs totals without a doc×config cross join.
    """
    variants: list[tuple[float, float]] = []
    var_ix: dict[tuple[float, float], int] = {}
    rows = []
    for i, (lam, k, thr) in enumerate(configs):
        key = (float(lam), float(k))
        if key not in var_ix:
            var_ix[key] = len(variants)
            variants.append(key)
        rows.append((i, var_ix[key], float(lam), float(k), float(thr)))
    cfg = spark.createDataFrame(
        rows, "config_id int, var_id int, lam double, k double, threshold double"
    )

    train_df = docs.filter(train_filter) if train_filter is not None else docs
    models = train_ngram_distributed(
        train_df, order=2, max_vocab=1_000_000
    )

    arr = bigram_variant_scores(
        spark, models, F.col("text"), F.col("lang"), variants, "en"
    )
    # posexplode_outer, not posexplode: the plain form plans a
    # size(arr) > 0 Filter UNDER the Generate, and Catalyst then evaluates
    # the scoring UDF twice (once for the filter, once for the projection).
    # The outer form needs no filter — one ArrowEvalPython node — and its
    # extra null-var_id rows (unscorable docs) drop in the inner config
    # join below, so semantics are identical.
    long = (
        docs.select(F.col("truth_bad").alias("_bad"), arr.alias("_s"))
        .select("_bad", F.posexplode_outer("_s").alias("var_id", "score"))
        .withColumn("score", F.round("score", 6))  # HALF_UP, = oracle round()
    )
    return _evaluate_long(
        docs, long, cfg, "truth_bad", ["lam", "k", "threshold"], flag_when="above"
    )


def _evaluate_long(
    docs: DataFrame,
    long: DataFrame,
    cfg: DataFrame,
    label_col: str,
    param_cols: list[str],
    flag_when: str = "above",
) -> DataFrame:
    """Shared evaluation tail: per-config confusion counts from the
    long-form (var_id, score, _bad) rows, the reference's precision ≥ 0.3
    validity constraint, and best-by-recall with earliest-config
    tie-break.  ``flag_when="above"`` predicts anomalous when
    score > threshold (perplexity); ``"below"`` when score < threshold
    (quality posterior).  Unscorable docs (null score) can never be
    predicted positive, so they reach fn/tn through the n_bad/n_docs
    totals without a doc×config cross join."""
    over = F.col("score") > F.col("threshold")
    under = F.col("score") < F.col("threshold")
    pred = F.col("score").isNotNull() & (over if flag_when == "above" else under)
    agg = (
        long.join(F.broadcast(cfg), "var_id")
        .groupBy("config_id")
        .agg(
            F.sum(F.when(pred & F.col("_bad"), 1).otherwise(0)).alias("tp"),
            F.sum(F.when(pred & ~F.col("_bad"), 1).otherwise(0)).alias("fp"),
        )
    )
    totals = docs.agg(
        F.sum(F.when(F.col(label_col), 1).otherwise(0)).alias("n_bad"),
        F.count("*").alias("n_docs"),
    )
    res = (
        cfg.join(agg, "config_id", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "config_id",
            *param_cols,
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
            F.coalesce("fp", F.lit(0)).cast("long").alias("fp"),
            "n_bad",
            "n_docs",
        )
        .withColumn("fn", (F.col("n_bad") - F.col("tp")).cast("long"))
    )
    prec = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.col("tp") / (F.col("tp") + F.col("fp")),
    ).otherwise(F.lit(0.0))
    rec = F.when(F.col("n_bad") > 0, F.col("tp") / F.col("n_bad")).otherwise(
        F.lit(0.0)
    )
    res = res.select(
        "config_id",
        *param_cols,
        "tp",
        "fp",
        "fn",
        F.round(prec, 6).alias("prec"),
        F.round(rec, 6).alias("rec"),
    ).withColumn(
        "f1",
        F.round(
            F.when(
                F.col("prec") + F.col("rec") > 0,
                2.0 * F.col("prec") * F.col("rec") / (F.col("prec") + F.col("rec")),
            ).otherwise(F.lit(0.0)),
            6,
        ),
    ).withColumn("valid", F.col("prec") >= F.lit(MIN_PRECISION))
    # single-partition window over n_configs rows only — never the corpus
    w = Window.orderBy(
        F.col("valid").desc(), F.col("rec").desc(), F.col("config_id").asc()
    )
    return res.withColumn(
        "is_best", F.col("valid") & (F.rank().over(w) == 1)
    )


def evaluate_nb_quality_configs(
    spark: SparkSession,
    docs: DataFrame,
    configs: list[tuple[float, float]],
) -> DataFrame:
    """The ML-slot analogue of :func:`evaluate_bigram_configs` — the
    reference's actual search target is its ML detector
    (hyperparameter_search.py trains sentence-transformer variants per
    trial); here the ML slot is the 2-class NB quality model
    (quality_model_scores), whose count matrix is hyperparameter-free.

    ``configs`` are (alpha, threshold) pairs: alpha is the NB smoothing
    (folded into K weight matrices from ONE distributed aggregation via
    ``train_langid_counts``), threshold cuts the posterior — a document is
    flagged when P(good|text) < threshold.  Labels: the ``truth_bad``
    boolean (true = anomalous) of each ``text``; the model trains on the same labels
    (good/bad classes), so the sweep measures distillation fidelity."""
    from .langid import N_BUCKETS, _FEATURIZERS, train_langid_counts

    variants: list[float] = []
    var_ix: dict[float, int] = {}
    rows = []
    for i, (alpha, thr) in enumerate(configs):
        a = float(alpha)
        if a not in var_ix:
            var_ix[a] = len(variants)
            variants.append(a)
        rows.append((i, var_ix[a], a, float(thr)))
    cfg = spark.createDataFrame(
        rows, "config_id int, var_id int, alpha double, threshold double"
    )

    labeled = docs.withColumn(
        "_cls", F.when(F.col("truth_bad"), F.lit("bad")).otherwise(F.lit("good"))
    )
    langs, counts, doc_counts = train_langid_counts(
        labeled, lang_col="_cls", feat="word_md5"
    )
    totals = counts.sum(axis=1, keepdims=True)
    # K (L, B) float64 weight matrices from the one shared count matrix —
    # exactly train_langid_distributed's fold, once per alpha
    weights = [
        np.log(counts + a) - np.log(totals + a * N_BUCKETS) for a in variants
    ]
    n_docs_arr = np.array(
        [max(doc_counts[lang], 1) for lang in langs], dtype=np.float64
    )
    log_priors = np.log(n_docs_arr / n_docs_arr.sum())
    good_ix = langs.index("good") if "good" in langs else None
    featurize = _FEATURIZERS["word_md5"]
    bc = spark.sparkContext.broadcast((weights, log_priors, good_ix))
    n_var = len(variants)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _p_good(texts: pd.Series) -> pd.Series:
        ws, lp0, gix = bc.value
        out = []
        for t in texts:
            if t is None or not isinstance(t, str) or t.strip() == "":
                out.append(None)
                continue
            if gix is None:
                out.append([0.0] * n_var)
                continue
            b = featurize(t)
            uniq, cnts = np.unique(b, return_counts=True)
            fc = cnts.astype(np.float64)
            row = []
            for w in ws:
                logp = lp0 + w[:, uniq] @ fc
                logp -= logp.max()
                post = np.exp(logp)
                row.append(float(post[gix] / post.sum()))
            out.append(row)
        return pd.Series(out)

    # F.round (HALF_UP, matching DuckDB round) — not Python round — so the
    # thresholded comparison agrees with the SQL oracle at the last digit
    long = (
        docs.select(
            F.col("truth_bad").alias("_bad"), _p_good(F.col("text")).alias("_s")
        )
        .select("_bad", F.posexplode_outer("_s").alias("var_id", "score"))
        .select("_bad", "var_id", F.round("score", 6).alias("score"))
    )
    return _evaluate_long(
        docs, long, cfg, "truth_bad", ["alpha", "threshold"], flag_when="below"
    )


def hp_parameter_analysis(
    rows: list[dict], params: tuple[str, ...] = ("lam", "k", "threshold")
) -> dict:
    """Mean R/P/F1 by parameter value over VALID trials — the reference's
    model/margin/distance performance tables (hyperparameter_search.py:304-334)
    generalized to whatever parameters the rows carry.  Driver-side over
    O(n_trials) rows (the reference's analysis is driver-side too).

    DELIBERATE DIVERGENCE (ADVICE r5, documented rather than changed): the
    reference's analysis additionally drops valid trials whose recall is
    exactly 0 (``s[0] > 0`` at hyperparameter_search.py:309-334), so its
    per-parameter means silently exclude zero-recall configurations.  Here
    every trial that passed the precision ≥ 0.3 validity gate contributes —
    a zero-recall valid trial is real information about that parameter
    value, and hiding it inflates the per-value averages.  Callers needing
    reference-exact tables can pre-filter ``rows`` on ``r["rec"] > 0``."""
    out: dict[str, dict[str, dict[str, float]]] = {}
    valid = [r for r in rows if r["valid"]]
    for param in params:
        by_val: dict[str, list] = {}
        for r in valid:
            by_val.setdefault(str(r[param]), []).append(r)
        out[param] = {
            val: {
                "avg_recall": round(sum(x["rec"] for x in xs) / len(xs), 6),
                "avg_precision": round(sum(x["prec"] for x in xs) / len(xs), 6),
                "avg_f1": round(sum(x["f1"] for x in xs) / len(xs), 6),
                "n_trials": len(xs),
            }
            for val, xs in sorted(by_val.items())
        }
    return out


def hp_search(
    spark: SparkSession,
    docs: DataFrame,
    n_trials: int = 15,
    seed: int = 0,
    **kw,
) -> dict:
    """Random hyperparameter search over ``DEFAULT_SPACE``, reference artifact shape
    (hyperparameter_search.py:345-383): best_params / best_recall /
    best_precision / best_f1 / all_results / performance_analysis.
    ``collect`` is bounded by n_trials."""
    trials = sample_configs(DEFAULT_SPACE, n_trials, seed)
    configs = [(t["lam"], t["k"], t["threshold"]) for t in trials]
    res = evaluate_bigram_configs(spark, docs, configs, **kw)
    return _artifact(res, ("lam", "k", "threshold"), n_trials, seed)


# the ML-slot search space: NB smoothing alpha × posterior threshold.
# Thresholds live in the 0.9–1.0 band because the 2-class word-NB
# posterior saturates toward 1.0 on long documents (see q_hp_sweep_ml).
DEFAULT_ML_SPACE: dict[str, list[float]] = {
    "alpha": [0.1, 0.25, 0.5, 1.0, 2.0],
    "threshold": [0.9, 0.99, 0.996, 0.999, 0.9995],
}


def hp_search_ml(
    spark: SparkSession,
    docs: DataFrame,
    n_trials: int = 15,
    seed: int = 0,
) -> dict:
    """Random search over the ML-slot (NB quality-model) space
    ``DEFAULT_ML_SPACE`` — the
    reference's actual search target, same artifact shape as
    :func:`hp_search`; ONE count aggregation feeds every trial."""
    trials = sample_configs(DEFAULT_ML_SPACE, n_trials, seed)
    configs = [(t["alpha"], t["threshold"]) for t in trials]
    res = evaluate_nb_quality_configs(spark, docs, configs)
    return _artifact(res, ("alpha", "threshold"), n_trials, seed)


def _artifact(res: DataFrame, params: tuple[str, ...], n_trials: int, seed: int) -> dict:
    """Reference-shaped results dict (hyperparameter_search.py:345-383);
    the collect is bounded by n_trials."""
    rows = sorted(
        (r.asDict() for r in res.collect()), key=lambda r: r["config_id"]
    )
    best = next((r for r in rows if r["is_best"]), None)
    return {
        "n_trials": n_trials,
        "seed": seed,
        "best_params": {p: best[p] for p in params} if best else None,
        "best_recall": best["rec"] if best else None,
        "best_precision": best["prec"] if best else None,
        "best_f1": best["f1"] if best else None,
        "all_results": [
            {
                "params": {p: r[p] for p in params},
                "recall": r["rec"],
                "precision": r["prec"],
                "f1": r["f1"],
                "valid": r["valid"],
            }
            for r in rows
        ],
        "performance_analysis": hp_parameter_analysis(rows, params),
    }
