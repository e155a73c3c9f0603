"""Verdict assembly: priority and weighted combination of method findings.

Re-expresses the reference's two combiners
(``single_sample_multi_field_demo/comprehensive_detector.py``):

* **priority classification** (``:503-613``): per document, first-present of
  validation(1) > pattern(2) > ML(3) > LLM(4); validation maps to status
  ``ERROR``, the rest to ``ANOMALY``.  Here that is a single ``coalesce`` —
  no shuffle, no window.
* **weighted classification** (``:615-777``): validation always wins; else
  ``weighted_score = Σ confidence × weight(method)`` and the document is
  anomalous iff the score ≥ 0.3 (reference ``:723``); the best single
  detection is kept for details.
* **threshold filter** (``:73-86``): a finding only participates if its
  probability ≥ the method threshold (defaults: validation 0.0, pattern 0.7,
  ML 0.7, LLM 0.6 — reference demo ``single_sample_multi_field_demo.py
  :160-165`` and ``brand_configs/esqualo.json:31-36``).

``keep`` is simply "no verdict fired" — the quality filter's keep/drop bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_THRESHOLDS = {
    "validation": 0.0, "pattern": 0.7, "ml": 0.7, "llm": 0.6,
    # opt-in learned quality tier (operators/quality_model); not in the
    # default pipeline methods, so reference keep/drop parity is untouched
    "quality_model": 0.5,
}
WEIGHTED_CUTOFF = 0.3  # reference comprehensive_detector.py:723

METHOD_ORDER = ["validation", "pattern", "ml", "llm", "quality_model"]

VERDICT_TYPE = T.StructType(
    [
        T.StructField("status", T.StringType()),
        T.StructField("method", T.StringType()),
        T.StructField("rule", T.StringType()),
        T.StructField("code", T.StringType()),
        T.StructField("probability", T.DoubleType()),
    ]
)


def thresholded(finding: Column, method: str) -> Column:
    t = DEFAULT_THRESHOLDS[method]
    return F.when(finding.isNotNull() & (finding["probability"] >= F.lit(t)), finding)


def _as_verdict(finding: Column, method: str) -> Column:
    status = "ERROR" if method == "validation" else "ANOMALY"
    return F.when(
        finding.isNotNull(),
        F.struct(
            F.lit(status).alias("status"),
            F.lit(method).alias("method"),
            finding["rule"].alias("rule"),
            finding["code"].alias("code"),
            finding["probability"].alias("probability"),
        ),
    )


def priority_verdict(findings: dict[str, Column]) -> Column:
    """coalesce(validation, pattern, ml, llm) after threshold filtering."""
    parts = [
        _as_verdict(thresholded(findings[m], m), m)
        for m in METHOD_ORDER
        if m in findings
    ]
    return F.coalesce(*parts).cast(VERDICT_TYPE) if parts else F.lit(None).cast(VERDICT_TYPE)


def weighted_verdict(
    findings: dict[str, Column],
    weights: dict[str, float] | None = None,
) -> Column:
    """Validation always wins; else Σ confidence×weight ≥
    ``WEIGHTED_CUTOFF`` → ANOMALY.

    ``weights`` default to an equal split over the ENABLED anomaly
    methods, matching the reference's no-performance-data fallback
    (``generate_detection_weights.py:43-93``).  Consequence: enabling an
    extra method (e.g. the opt-in ``quality_model``) re-splits the default
    weights (1/3 → 1/4) and so *raises* the bar for any single detector
    to clear the cutoff alone — pass explicit ``weights`` (e.g. from
    ``metrics.weights_from_performance``) when adding a method must not
    dilute the others.
    """
    anomaly_methods = [m for m in METHOD_ORDER if m != "validation" and m in findings]
    if weights is None:
        w = 1.0 / max(len(anomaly_methods), 1)
        weights = {m: w for m in anomaly_methods}

    val = (
        _as_verdict(thresholded(findings["validation"], "validation"), "validation")
        if "validation" in findings
        else F.lit(None).cast(VERDICT_TYPE)
    )

    gated = {m: thresholded(findings[m], m) for m in anomaly_methods}
    score = None
    for m in anomaly_methods:
        term = F.coalesce(gated[m]["probability"] * F.lit(weights.get(m, 0.0)), F.lit(0.0))
        score = term if score is None else score + term

    # best single contributing detection (highest confidence) for details
    best = None
    for m in anomaly_methods:
        cand = _as_verdict(gated[m], m)
        if best is None:
            best = cand
        else:
            best = F.when(
                cand.isNotNull()
                & (best.isNull() | (cand["probability"] > best["probability"])),
                cand,
            ).otherwise(best)

    if score is None:
        return val
    weighted = F.when(
        score >= F.lit(WEIGHTED_CUTOFF),
        F.struct(
            F.lit("ANOMALY").alias("status"),
            F.coalesce(best["method"], F.lit("weighted")).alias("method"),
            F.coalesce(best["rule"], F.lit("weighted_combination")).alias("rule"),
            F.coalesce(best["code"], F.lit("WEIGHTED_ANOMALY")).alias("code"),
            F.least(score, F.lit(1.0)).alias("probability"),
        ),
    )
    return F.coalesce(val, weighted).cast(VERDICT_TYPE)
