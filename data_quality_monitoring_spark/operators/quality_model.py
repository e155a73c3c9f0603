"""Model-based quality scoring: a fastText-style binary classifier.

Modern web-corpus pipelines (CCNet, DCLM, FineWeb-Edu) complement
heuristic rules with a learned keep/low-quality classifier — typically a
fastText linear model over hashed n-grams.  This module supplies that tier
by reusing the langid machinery (``operators/langid.py``): a two-class
Naive Bayes over the same hashed char-n-gram features IS a linear model in
log space, trains closed-form (deterministic, no GPU), and scores through
the identical broadcast + Arrow-UDF path — so everything already proven
about the langid plan (one pandas-UDF stage, sparse-gather scoring,
weights shipped once per executor) holds verbatim at 100 TB.

Training data is seeded: positives are the clean per-language corpus the
other artifacts train on; negatives are generated junk in the corpus's
documented failure modes (gibberish tokens, digit walls, boilerplate
loops).  Scoring emits P(good | text) in [0,1]; the finding fires when the
posterior drops below the threshold.

Reference anchor: fills the same detector-slot contract as the reference's
ML detector (``anomaly_detectors/ml_based/ml_anomaly_detector.py:63-152``):
score in [0,1], anomaly iff score < threshold, probability = 1 - score.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from .langid import LangIdModel, langid_struct, train_langid

GOOD, BAD = "good", "bad"


def train_quality_classifier(good_texts: list[str], bad_texts: list[str]) -> LangIdModel:
    """Two-class NB over hashed n-grams — fastText-shaped, closed form."""
    return train_langid({GOOD: good_texts, BAD: bad_texts})


def quality_prob(spark: SparkSession, model: LangIdModel, text: Column) -> Column:
    """P(good | text) ∈ [0,1]; NULL for null/blank text.  One Arrow hop —
    the scorer UDF langid already uses, with the claimed class pinned to
    ``good`` so ``claimed_score`` is exactly the good-class posterior."""
    return langid_struct(spark, model, text, F.lit(GOOD))["claimed_score"]


def quality_model_finding(score: Column) -> Column:
    """Detector-slot contract: anomaly iff score < 0.5,
    probability = 1 - score (reference ml_anomaly_detector.py:144-152)."""
    prob = F.least(F.greatest(F.lit(1.0) - score, F.lit(0.0)), F.lit(0.99))
    return F.when(
        score.isNotNull() & (score < F.lit(0.5)),
        F.struct(
            F.lit("quality_model").alias("rule"),
            F.lit("LOW_QUALITY_MODEL").alias("code"),
            prob.alias("probability"),
        ),
    )
