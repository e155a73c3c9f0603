"""Parity tests for the optional LLM-detector tiers vs the reference's
semantics table (llm_anomaly_detector.py:41-175,447-511):

| tier | trigger | effect |
|---|---|---|
| dynamic encoding | temporal value casts to float OR any context col non-null | score × 1.1 |
| prototype reprogramming | enabled | score × 1.05; embeddings blended 0.7/0.3 with nearest kmeans center |
| in-context learning | max cosine vs examples < threshold | SHORT-CIRCUIT finding, prob = 1 − max_sim |
| fallthrough | enhanced score > threshold | finding, prob = min(score/10, 1) |
"""

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_dynamic_context_flag_gates(spark):
    """Reference _extract_dynamic_context (:381-411): temporal fires iff
    float() succeeds; categorical fires iff any context col is non-null
    non-empty; no config → never fires."""
    from data_quality_monitoring_spark.operators.llm_tiers import dynamic_context_flag

    df = spark.createDataFrame(
        [("3.5", "cat"), ("x", "cat"), ("x", None), (None, None), ("7", "")],
        "t string, c string",
    )
    rows = df.select(
        dynamic_context_flag(temporal=F.col("t")).alias("temporal_only"),
        dynamic_context_flag(context_cols=[F.col("c")]).alias("cat_only"),
        dynamic_context_flag(temporal=F.col("t"), context_cols=[F.col("c")]).alias("both"),
        dynamic_context_flag().alias("none"),
    ).collect()
    assert [r["temporal_only"] for r in rows] == [True, False, False, False, True]
    assert [r["cat_only"] for r in rows] == [True, True, False, False, False]
    assert [r["both"] for r in rows] == [True, True, False, False, True]
    assert [r["none"] for r in rows] == [False] * 5


def test_enhanced_score_multipliers(spark):
    """Reference :449-470: ×1.1 when context present, then ×1.05 when the
    prototype tier is on — in that order."""
    from data_quality_monitoring_spark.operators.llm_tiers import enhanced_score

    df = spark.createDataFrame([(4.0, True), (4.0, False)], "s double, d boolean")
    got = df.select(
        enhanced_score(F.col("s")).alias("base"),
        enhanced_score(F.col("s"), dynamic=F.col("d")).alias("dyn"),
        enhanced_score(F.col("s"), prototype=True).alias("proto"),
        enhanced_score(F.col("s"), dynamic=F.col("d"), prototype=True).alias("all"),
    ).collect()
    assert [r["base"] for r in got] == [4.0, 4.0]
    assert got[0]["dyn"] == pytest.approx(4.0 * 1.1) and got[1]["dyn"] == 4.0
    assert [r["proto"] for r in got] == [pytest.approx(4.2)] * 2
    assert got[0]["all"] == pytest.approx(4.0 * 1.1 * 1.05)
    assert got[1]["all"] == pytest.approx(4.0 * 1.05)


def test_icl_short_circuit_order(spark):
    """Reference :472-511: the ICL finding wins over the LM rule; ICL
    similar-enough or unscorable falls through to score > threshold;
    probabilities are 1 − sim and min(score/10, 1) respectively."""
    from data_quality_monitoring_spark.operators.llm_tiers import llm_tier_finding

    df = spark.createDataFrame(
        # (score, sim): both fire → ICL wins; only LM; only ICL; neither;
        # sim NULL → LM decides; score NULL + low sim → ICL still fires
        [(9.0, 0.1), (9.0, 0.9), (2.0, 0.1), (2.0, 0.9), (9.0, None), (None, 0.2)],
        "s double, sim double",
    )
    out = df.select(
        llm_tier_finding(F.col("s"), 6.0, F.col("sim"), 0.7).alias("f")
    ).collect()
    codes = [r["f"]["code"] if r["f"] else None for r in out]
    probs = [r["f"]["probability"] if r["f"] else None for r in out]
    assert codes == [
        "LLM_IN_CONTEXT_ANOMALY", "HIGH_PERPLEXITY", "LLM_IN_CONTEXT_ANOMALY",
        None, "HIGH_PERPLEXITY", "LLM_IN_CONTEXT_ANOMALY",
    ]
    assert probs[0] == pytest.approx(0.9)   # 1 - 0.1
    assert probs[1] == pytest.approx(0.9)   # min(9/10, 1)
    assert probs[5] == pytest.approx(0.8)

    # without an ICL column the rule degrades to the plain threshold form
    plain = df.select(llm_tier_finding(F.col("s"), 6.0).alias("f")).collect()
    assert [r["f"]["code"] if r["f"] else None for r in plain] == [
        "HIGH_PERPLEXITY", "HIGH_PERPLEXITY", None, None, "HIGH_PERPLEXITY", None,
    ]


def test_fewshot_max_cosine(spark):
    """Identical text → sim 1.0; disjoint vocabulary → 0.0; NULL/blank →
    NULL (the reference's preprocess gate)."""
    from data_quality_monitoring_spark.operators.llm_tiers import fewshot_max_cosine

    examples = ["alpha beta gamma", "delta epsilon"]
    df = spark.createDataFrame(
        [("alpha beta gamma",), ("zeta eta theta",), (None,), ("   ",),
         ("alpha beta gamma alpha beta gamma",)],
        "text string",
    )
    sims = [
        r["s"] for r in df.select(
            fewshot_max_cosine(spark, examples, F.col("text")).alias("s")
        ).collect()
    ]
    assert sims[0] == pytest.approx(1.0)
    assert sims[1] == pytest.approx(0.0)
    assert sims[2] is None and sims[3] is None
    assert sims[4] == pytest.approx(1.0)  # scaled counts, same direction


def test_prototypes_learn_and_apply():
    """Reference PrototypeBasedReprogramming (:106-139): k shrinks to the
    sample size; apply blends 0.7·emb + 0.3·nearest-center (euclidean)."""
    from data_quality_monitoring_spark.operators.llm_tiers import (
        apply_prototypes,
        learn_prototypes,
    )

    rng = np.random.default_rng(3)
    a = rng.normal(0, 0.1, (20, 4)) + np.array([5, 0, 0, 0])
    b = rng.normal(0, 0.1, (20, 4)) + np.array([0, 5, 0, 0])
    emb = np.vstack([a, b])
    protos = learn_prototypes(emb, n_prototypes=2, seed=42)
    assert protos.shape == (2, 4)
    # the two cluster means are recovered (order-insensitive)
    got = sorted(protos.tolist(), key=lambda p: -p[0])
    assert got[0][0] == pytest.approx(5.0, abs=0.1)
    assert got[1][1] == pytest.approx(5.0, abs=0.1)

    # k shrinks when the sample is smaller than n_prototypes
    small = learn_prototypes(emb[:3], n_prototypes=10, seed=42)
    assert small.shape == (3, 4)

    x = np.array([[4.8, 0.1, 0.0, 0.0]])
    near = protos[np.linalg.norm(protos - x, axis=1).argmin()]
    expect = 0.7 * x[0] + 0.3 * near
    np.testing.assert_allclose(apply_prototypes(x, protos)[0], expect)
    # deterministic: same seed, same centers
    np.testing.assert_array_equal(protos, learn_prototypes(emb, 2, seed=42))


def test_prototype_column_matches_numpy(spark):
    """The Spark array-column form reproduces apply_prototypes exactly."""
    from data_quality_monitoring_spark.operators.llm_tiers import (
        apply_prototypes,
        prototype_column,
    )

    protos = np.array([[1.0, 0.0], [0.0, 1.0]])
    vecs = [[0.9, 0.2], [0.1, 0.8], None]
    df = spark.createDataFrame([(v,) for v in vecs], "v array<double>")
    got = [
        r["p"] for r in df.select(
            prototype_column(spark, protos, F.col("v")).alias("p")
        ).collect()
    ]
    for v, g in zip(vecs, got):
        if v is None:
            assert g is None
        else:
            np.testing.assert_allclose(g, apply_prototypes(np.array([v]), protos)[0])

