"""Post-training quality probes.

The reference never ships a freshly-trained artifact blind: model training
ends with an immediate held-out stress test —
``ml_based/model_training.py:400-563`` corrupts clean samples with the
field's injection rules and reports recall / precision / F1 (with an
explicit "precision >= 30%" constraint), and
``llm_based/llm_model_training.py:366-429`` scores a fixed set of obvious
anomalies next to normal samples and reports the probability separation
plus the detection rate at the production threshold.  A degenerate model
(collapsed weights, empty vocab, mislabelled training slice) fails the
probe instead of silently shipping to the filter stage.

Spark-first shape: the held-out slice is a deterministic md5-ordered
sample of the TRAINING INPUT (bounded by ``n``, so the probe costs one
small scan regardless of corpus size), and the scoring pass is the SAME
broadcast + Arrow scorer the production filter uses (``langid_struct`` /
``perplexity_column``) — so the probe also covers the npz round-trip and
the executor-side scoring path, not just the in-memory weights.  All
verdict math is one Spark aggregation; nothing unbounded reaches the
driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the LLM probe's fixed anomaly set, mirroring the reference's
# ``obvious_anomalies`` (llm_model_training.py:384-390): not language, not
# the corpus domain — any usable LM must put these far from clean text
OBVIOUS_ANOMALIES = [
    "INVALID MATERIAL TEXT",
    "Random gibberish text xqzv wkfj plmt",
    "1234567890 0987654321 1122334455",
    "!@#$%^&*() {}[]<>~`|\\",
    "zzz qqq xxx jjj vvv kkk www yyy",
]


def _holdout(docs: DataFrame, n: int) -> DataFrame:
    """Deterministic bounded held-out slice: md5-ordered by (url, "probe") so
    reruns probe the same rows and the order is partitioning-invariant.

    Train inputs may be bare ``(text, lang)`` corpora (the ml-train /
    llm-train CLI accepts them); when ``url`` is absent a stable
    text-derived id stands in so the ordering and the corruption
    bucketing stay deterministic."""
    if "url" not in docs.columns:
        # lang joins the key: duplicate texts under two langs would
        # otherwise tie on the ordering key and make the n-row cut
        # partition-traversal-dependent
        docs = docs.withColumn(
            "url",
            F.concat(F.lit("text://"), F.md5(F.concat_ws("|", "text", "lang"))),
        )
    return (
        docs.filter(F.col("text").isNotNull() & (F.trim(F.col("text")) != ""))
        .select("url", "text", "lang")
        .orderBy(F.md5(F.concat_ws("|", F.col("url"), F.lit("probe"))))
        .limit(n)
    )


def probe_langid(
    spark: SparkSession,
    model,
    docs: DataFrame,
    n: int = 200,
) -> dict:
    """Recall/precision probe for a trained langid model, reference ML
    semantics (model_training.py:400-503): corrupt half the held-out slice
    — here by claiming the WRONG language, the exact anomaly this detector
    exists to catch — re-score with the production scorer, and measure

    * recall    = corrupted rows flagged (claimed_score below the
      production ``MISMATCH_THRESHOLD``),
    * precision = flagged rows that were actually corrupted,
    * the reference's explicit constraint: precision >= 0.3.

    Corruption is deterministic (crc32 bucket of the url) and hits ONE
    QUARTER of the slice: a collapsed model that flags everything scores
    precision == the corrupted fraction (0.25), below the reference's 0.3
    bar — so the constraint rejects flag-everything degeneracy, not just
    flag-nothing.  The wrong claim rotates within the model's own language
    list so an untrained-language shortcut can't inflate recall.
    """
    from ..operators.langid import MISMATCH_THRESHOLD, langid_struct

    langs = list(model.langs)
    if len(langs) < 2:
        return {"probe": "langid", "ok": False, "reason": "fewer than 2 trained langs"}

    held = _holdout(docs, n)
    # rotate claimed lang within the trained set for the corrupted half
    nxt = F.lit(langs[0])
    for a, b in zip(langs, langs[1:] + langs[:1]):
        nxt = F.when(F.col("lang") == a, F.lit(b)).otherwise(nxt)
    corrupted = (F.crc32(F.col("url")) % 4) == 1
    probed = held.select(
        "url",
        "text",
        "lang",
        corrupted.alias("is_corrupted"),
        F.when(corrupted, nxt).otherwise(F.col("lang")).alias("claimed"),
    )
    scored = probed.select(
        "is_corrupted",
        langid_struct(spark, model, F.col("text"), F.col("claimed")).alias("r"),
    ).select(
        "is_corrupted",
        (F.col("r.claimed_score") < F.lit(MISMATCH_THRESHOLD)).alias("flagged"),
    )
    agg = scored.agg(
        F.count("*").alias("n"),
        F.sum(F.col("is_corrupted").cast("long")).alias("n_corrupted"),
        F.sum((F.col("is_corrupted") & F.col("flagged")).cast("long")).alias("tp"),
        F.sum((~F.col("is_corrupted") & F.col("flagged")).cast("long")).alias("fp"),
    ).first()
    tp, fp, n_corr = int(agg["tp"]), int(agg["fp"]), int(agg["n_corrupted"])
    recall = tp / n_corr if n_corr else 0.0
    precision = tp / (tp + fp) if (tp + fp) else 0.0
    f1 = 2 * precision * recall / (precision + recall) if (precision + recall) else 0.0
    return {
        "probe": "langid",
        "n_samples": int(agg["n"]),
        "n_corrupted": n_corr,
        "true_positives": tp,
        "false_positives": fp,
        "recall": round(recall, 4),
        "precision": round(precision, 4),
        "f1": round(f1, 4),
        "threshold": MISMATCH_THRESHOLD,
        # reference constraint (model_training.py:495-498) plus a recall
        # floor: a model that flags nothing is as broken as one that flags
        # everything
        "ok": bool(precision >= 0.3 and recall >= 0.5),
    }


def probe_bigram(
    spark: SparkSession,
    models: dict,
    docs: DataFrame,
    n: int = 100,
) -> dict:
    """Separation probe for trained per-language LMs, reference LLM
    semantics (llm_model_training.py:366-429): score a held-out normal
    slice and the fixed obvious-anomaly set with the production scorer,
    report the mean scores, their separation, and the detection rate at
    the production ``PPL_THRESHOLD``.  Scores are mean NLL (higher = worse), so
    separation = anomaly - normal must be positive for a usable model.
    """
    from ..operators.perplexity import PPL_THRESHOLD, perplexity_column

    held = _holdout(docs, n).withColumn("is_anomaly", F.lit(False))
    anomalies = spark.createDataFrame(
        [(f"probe://anomaly/{i}", t, "en", True) for i, t in enumerate(OBVIOUS_ANOMALIES)],
        "url string, text string, lang string, is_anomaly boolean",
    )
    scored = held.unionByName(anomalies).select(
        "is_anomaly",
        perplexity_column(spark, models, F.col("text"), F.col("lang")).alias("score"),
    )
    agg = scored.agg(
        F.sum((~F.col("is_anomaly")).cast("long")).alias("n_normal"),
        F.avg(F.when(~F.col("is_anomaly"), F.col("score"))).alias("avg_normal"),
        F.avg(F.when(F.col("is_anomaly"), F.col("score"))).alias("avg_anomaly"),
        F.sum(
            (F.col("is_anomaly") & (F.col("score") > F.lit(PPL_THRESHOLD))).cast("long")
        ).alias("detected"),
        F.sum(
            (~F.col("is_anomaly") & (F.col("score") > F.lit(PPL_THRESHOLD))).cast("long")
        ).alias("false_flags"),
    ).first()
    avg_normal = float(agg["avg_normal"] or 0.0)
    avg_anomaly = float(agg["avg_anomaly"] or 0.0)
    n_anom = len(OBVIOUS_ANOMALIES)
    detection_rate = int(agg["detected"]) / n_anom
    n_normal = int(agg["n_normal"])
    false_rate = int(agg["false_flags"]) / n_normal if n_normal else 0.0
    return {
        "probe": "bigram_lm",
        "n_normal": n_normal,
        "n_anomalies": n_anom,
        "avg_normal_score": round(avg_normal, 4),
        "avg_anomaly_score": round(avg_anomaly, 4),
        "score_separation": round(avg_anomaly - avg_normal, 4),
        "detection_rate": round(detection_rate, 4),
        "false_flag_rate": round(false_rate, 4),
        "threshold": PPL_THRESHOLD,
        "ok": bool(avg_anomaly > avg_normal and detection_rate >= 0.8),
    }


def load_probe_reports(probe_dirs) -> dict:
    """Collect ``train_probe.json`` artifacts from model-artifact
    directories into one consolidated-report section (VERDICT r4 task 7).

    The reference surfaces training health where its USERS look — the
    consolidated demo / multi-eval reports (consolidated_reporter.py:
    312-430) — not only next to the model files.  This helper is the
    bridge: ``run_ml_train`` / ``run_llm_train`` drop ``train_probe.json``
    beside each artifact; the demo/eval entry points pass those artifact
    dirs here and embed the result under ``model_probes`` so a degraded
    model is visible in the same JSON as the detection metrics it will
    drag down.

    Returns ``{}`` when nothing is found (the section is omitted, not
    empty).  Each probe gains a human ``assessment`` derived from its own
    ``ok`` verdict; ``_all_ok`` rolls them up for one-glance triage."""
    import json as _json
    from pathlib import Path as _Path

    probes: dict = {}
    for d in probe_dirs or ():
        p = _Path(d) / "train_probe.json"
        if not p.exists():
            continue
        try:
            rep = _json.loads(p.read_text())
        except (OSError, ValueError):
            probes[str(p)] = {"ok": False, "assessment": "UNREADABLE probe artifact"}
            continue
        name = rep.get("probe", p.parent.name)
        rep = dict(rep)
        rep["assessment"] = (
            "healthy" if rep.get("ok") else "DEGRADED — retrain before shipping"
        )
        rep["artifact_dir"] = str(p.parent)
        probes[name] = rep
    if probes:
        probes["_all_ok"] = all(
            v.get("ok", False) for k, v in probes.items() if k != "_all_ok"
        )
    return probes
