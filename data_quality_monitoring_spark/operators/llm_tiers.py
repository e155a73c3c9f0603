"""Optional LLM-detector tiers: dynamic context, prototypes, in-context.

The reference's LLM detector carries three OFF-by-default enhancement tiers
(``anomaly_detectors/llm_based/llm_anomaly_detector.py:264-266``) layered on
the base pseudo-perplexity score.  Their exact scoring semantics
(``:447-511``):

1. **Dynamic encoding** (``:451-460``): if a ``DynamicContext`` is
   extractable from the row — the temporal column casts to float, OR any
   configured context column is non-null (``_extract_dynamic_context``,
   ``:381-411``) — the score is multiplied by **1.1**.
2. **Prototype reprogramming** (``:463-470``): when enabled the score is
   multiplied by **1.05** (unconditionally — the kmeans prototype machinery,
   ``PrototypeBasedReprogramming`` ``:106-139``, transforms *embeddings*:
   learn k=10 centers, then blend each embedding 70/30 with its nearest
   center; :func:`learn_prototypes` / :func:`apply_prototypes` reproduce
   that contract for the embedding path).
3. **In-context learning** (``:472-489`` + ``InContextLearningDetector``
   ``:141-175``): max cosine similarity between the value's embedding and a
   few-shot example set; ``max_sim < threshold`` SHORT-CIRCUITS the
   perplexity check and returns ``LLM_IN_CONTEXT_ANOMALY`` with probability
   ``1 - max_sim``; otherwise detection falls through to the (enhanced)
   score-vs-threshold rule with probability ``min(score/10, 1)``.

Spark-first shape: the multipliers are pure column arithmetic (codegen); the
few-shot cosine embeds documents with the SQL-reproducible ``word_md5``
bucket-count featurizer (the same trick that oracles langid), example
vectors computed once on the driver and broadcast — ONE Arrow pass per
batch, no shuffle.  At 100 TB each tier stays scan-local.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DYNAMIC_BOOST = 1.1
PROTOTYPE_BOOST = 1.05
ICL_CODE = "LLM_IN_CONTEXT_ANOMALY"
SCORE_CODE = "HIGH_PERPLEXITY"


def dynamic_context_flag(
    temporal: Column | None = None, context_cols: list[Column] | None = None
) -> Column:
    """TRUE iff the reference would build a DynamicContext for the row:
    the temporal value casts to float (``float(context[col])`` succeeding,
    reference ``:389-394``) or any context column is non-null with a
    non-empty string form (``:396-404``)."""
    conds: list[Column] = []
    if temporal is not None:
        # try_cast, not cast: ANSI mode would throw on non-numeric strings,
        # whereas the reference's try/except float(...) just skips them
        conds.append(temporal.try_cast("double").isNotNull())
    for c in context_cols or []:
        conds.append(c.isNotNull() & (c.cast("string") != F.lit("")))
    if not conds:
        return F.lit(False)
    return reduce(lambda a, b: a | b, conds)


def enhanced_score(
    score: Column,
    dynamic: Column | None = None,
    prototype: bool = False,
) -> Column:
    """Reference enhancement order (``:449-470``): base × 1.1 when a
    dynamic context is present, then × 1.05 when the prototype tier is on.
    Pure codegen — no Python in the path."""
    s = score
    if dynamic is not None:
        s = F.when(dynamic, s * F.lit(DYNAMIC_BOOST)).otherwise(s)
    if prototype:
        s = s * F.lit(PROTOTYPE_BOOST)
    return s


def _word_md5_vec(text: str) -> np.ndarray:
    from .langid import N_BUCKETS, _word_buckets

    v = np.zeros(N_BUCKETS, dtype="float64")
    b = _word_buckets(text)
    if len(b):
        np.add.at(v, b, 1.0)
    return v


def fewshot_max_cosine(
    spark: SparkSession,
    examples: list[str],
    text: Column,
) -> Column:
    """Max cosine similarity between each document and a few-shot example
    set (reference ``InContextLearningDetector.detect_anomaly`` ``:151-165``)
    over SQL-reproducible word-md5 bucket-count vectors.

    Example vectors are computed once on the driver (the example set is a
    handful of strings) and broadcast; documents are embedded and scored in
    ONE Arrow-batched pandas UDF.  NULL/empty/whitespace documents return
    NULL (the reference's preprocess gate, ``:177-188``)."""
    ex = np.stack([_word_md5_vec(t) for t in examples])
    ex_norm = np.linalg.norm(ex, axis=1)
    keep = ex_norm > 0
    ex, ex_norm = ex[keep], ex_norm[keep]
    bc = spark.sparkContext.broadcast((ex, ex_norm))

    @F.pandas_udf(T.DoubleType())
    def _sim(texts: pd.Series) -> pd.Series:
        exv, exn = bc.value
        out = []
        for t in texts:
            if t is None or not isinstance(t, str) or not t.strip():
                out.append(None)
                continue
            v = _word_md5_vec(t)
            nv = np.linalg.norm(v)
            if nv == 0 or not len(exv):
                out.append(None)
                continue
            out.append(float(np.max(exv @ v / (exn * nv))))
        return pd.Series(out, dtype="float64")

    return _sim(text)


def llm_tier_finding(
    score: Column,
    threshold: float = 6.0,
    icl_sim: Column | None = None,
    icl_threshold: float = 0.7,
) -> Column:
    """Reference decision order (``:472-511``): the in-context tier
    short-circuits — ``max_sim < icl_threshold`` returns the ICL finding
    with probability ``1 - max_sim`` — else ``score > threshold`` returns
    the language-model finding with probability ``min(score/10, 1)``.
    ``score`` should already be :func:`enhanced_score` output."""
    lm = F.when(
        score.isNotNull() & (score > F.lit(threshold)),
        F.struct(
            F.lit("high_perplexity").alias("rule"),
            F.lit(SCORE_CODE).alias("code"),
            F.least(score / F.lit(10.0), F.lit(1.0)).alias("probability"),
        ),
    )
    if icl_sim is None:
        return lm
    icl = F.when(
        icl_sim.isNotNull() & (icl_sim < F.lit(icl_threshold)),
        F.struct(
            F.lit("in_context").alias("rule"),
            F.lit(ICL_CODE).alias("code"),
            F.greatest(F.lit(1.0) - icl_sim, F.lit(0.0)).alias("probability"),
        ),
    )
    # when the ICL tier fired, its finding wins; when it judged the doc
    # similar-enough (or unscorable), detection falls through to the LM rule
    return F.coalesce(icl, lm)


def learn_prototypes(
    embeddings: np.ndarray, n_prototypes: int = 10, seed: int = 42
) -> np.ndarray:
    """Deterministic Lloyd k-means (10 rounds) over an embedding sample — the
    ``PrototypeBasedReprogramming.learn_prototypes`` contract (reference
    ``:113-121``; sklearn ``KMeans(random_state=42)`` there): k shrinks to
    ``len(embeddings)`` when the sample is smaller, centers returned as a
    (k, dim) array.  Driver-side by design — prototypes are learned from a
    bounded sample, exactly like the IVF coarse quantizer."""
    emb = np.asarray(embeddings, dtype="float64")
    k = min(n_prototypes, len(emb))
    rng = np.random.default_rng(seed)
    centers = emb[rng.choice(len(emb), size=k, replace=False)]
    for _ in range(10):
        d = np.linalg.norm(emb[:, None, :] - centers[None, :, :], axis=2)
        assign = d.argmin(axis=1)
        for c in range(k):
            members = emb[assign == c]
            if len(members):
                centers[c] = members.mean(axis=0)
    return centers


def apply_prototypes(embeddings: np.ndarray, prototypes: np.ndarray) -> np.ndarray:
    """Blend each embedding (1−α)/α with its nearest (euclidean) prototype —
    byte-for-byte the reference's ``apply_prototypes`` (``:123-139``,
    α = 0.3)."""
    emb = np.asarray(embeddings, dtype="float64")
    if emb.ndim == 1:
        emb = emb.reshape(1, -1)
    d = np.linalg.norm(emb[:, None, :] - prototypes[None, :, :], axis=2)
    nearest = prototypes[d.argmin(axis=1)]
    return (1.0 - 0.3) * emb + 0.3 * nearest


def prototype_column(
    spark: SparkSession, prototypes: np.ndarray, vec: Column
) -> Column:
    """Array-column form of :func:`apply_prototypes`: reprogram an
    ``array<double>`` embedding column against broadcast prototypes in one
    Arrow pass (the Spark path for the embedding-based detector slot)."""
    bc = spark.sparkContext.broadcast(np.asarray(prototypes, dtype="float64"))

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _apply(vecs: pd.Series) -> pd.Series:
        protos = bc.value
        out = []
        for v in vecs:
            if v is None:
                out.append(None)
                continue
            out.append(apply_prototypes(np.asarray(v), protos)[0].tolist())
        return pd.Series(out)

    return _apply(vec)
