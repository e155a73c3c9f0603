"""Evaluation metrics: confusion matrices, threshold curves, filter metrics.

Re-expresses the reference's set-algebra scoring
(``single_sample_multi_field_demo/confusion_matrix_analyzer.py:79-341`` and
``multi_sample_evaluation/evaluator.py:386-461``) as joins + aggregations:

* detected ∩ injected  → TP;  detected − injected → FP;  injected −
  detected → FN (full-outer join on the (url, field) key),
* TN = rows × n_fields − (TP + FP + FN) (reference ``:105-114``),
* per-field and per-method breakdowns are the same join grouped,
* threshold sweep: score once, then an exploded thresholds literal — one
  pass over the scores, NOT one job per threshold (the reference loops,
  ``ml_curve_generator.py:234-367``),
* perplexity histogram via fixed-width bucketing (north-star filter-metrics
  table).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def confusion_matrix(
    detected: DataFrame,
    injected: DataFrame,
    n_rows: int,
    n_fields: int = 1,
    group_cols: list[str] | None = None,
    join_cols: list[str] | None = None,
) -> DataFrame:
    """Score detections against injected ground truth on ``join_cols``
    (default (url, field); multi-sample evaluation adds sample_id).

    ``detected``/``injected`` need the join columns (+ any group_cols,
    taken from either side).  Returns TP/FP/FN/TN + precision/recall/f1
    (one row, or one per group)."""
    join_cols = join_cols or ["url", "field"]
    extra = [c for c in (group_cols or []) if c not in join_cols]
    d = detected.select(*join_cols, *extra).withColumn("_d", F.lit(1))
    i = injected.select(*join_cols).withColumn("_i", F.lit(1))
    j = d.join(i, join_cols, "full_outer")
    tp = F.sum((F.col("_d").isNotNull() & F.col("_i").isNotNull()).cast("long")).alias("tp")
    fp = F.sum((F.col("_d").isNotNull() & F.col("_i").isNull()).cast("long")).alias("fp")
    fn = F.sum((F.col("_d").isNull() & F.col("_i").isNotNull()).cast("long")).alias("fn")
    agg = j.groupBy(*(group_cols or [])).agg(tp, fp, fn) if group_cols else j.agg(tp, fp, fn)
    total = F.lit(int(n_rows) * int(n_fields))
    out = agg.withColumn("tn", total - F.col("tp") - F.col("fp") - F.col("fn"))
    precision = F.when(F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp"))).otherwise(0.0)
    recall = F.when(F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn"))).otherwise(0.0)
    out = out.withColumn("precision", precision).withColumn("recall", recall)
    f1 = F.when(
        F.col("precision") + F.col("recall") > 0,
        2 * F.col("precision") * F.col("recall") / (F.col("precision") + F.col("recall")),
    ).otherwise(0.0)
    return out.withColumn("f1", f1)


def threshold_sweep(
    scores: DataFrame,
    score_col: str,
    label_col: str,
    thresholds: list[float],
    higher_is_anomalous: bool = True,
) -> DataFrame:
    """PR curve in ONE pass: explode a thresholds literal against each score
    row, then aggregate — the reference's per-threshold loop
    (``ml_curve_generator.py:234-367``) becomes a single shuffle.

    Rows with a NULL score are excluded from the curve (they are neither a
    positive nor a negative prediction at any threshold)."""
    t = F.explode(F.lit(thresholds)).alias("threshold")
    e = scores.filter(F.col(score_col).isNotNull()).select(
        F.col(score_col).alias("s"), F.col(label_col).cast("boolean").alias("y"), t
    )
    pred = (F.col("s") > F.col("threshold")) if higher_is_anomalous else (F.col("s") < F.col("threshold"))
    agg = e.groupBy("threshold").agg(
        F.sum((pred & F.col("y")).cast("long")).alias("tp"),
        F.sum((pred & ~F.col("y")).cast("long")).alias("fp"),
        F.sum((~pred & F.col("y")).cast("long")).alias("fn"),
        F.sum((~pred & ~F.col("y")).cast("long")).alias("tn"),
    )
    precision = F.when(F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp"))).otherwise(0.0)
    recall = F.when(F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn"))).otherwise(0.0)
    return (
        agg.withColumn("precision", precision)
        .withColumn("recall", recall)
        .withColumn(
            "f1",
            F.when(
                F.col("precision") + F.col("recall") > 0,
                2 * F.col("precision") * F.col("recall") / (F.col("precision") + F.col("recall")),
            ).otherwise(0.0),
        )
        .orderBy("threshold")
    )


def histogram(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_buckets: int = 20,
    group_cols: tuple[str, ...] = (),
    bucket_col: str = "bucket",
) -> DataFrame:
    """Fixed-width histogram (perplexity/score distributions for the
    filter-metrics tables).  width_bucket semantics: values < lo → bucket 0,
    ≥ hi → n_buckets+1.  ``group_cols`` prepends grouping keys (e.g. the
    sink's commit bucket) for per-partition metrics tables.  Rows come in
    no particular order."""
    width = (hi - lo) / n_buckets
    b = (
        F.when(F.col(col) < lo, 0)
        .when(F.col(col) >= hi, n_buckets + 1)
        .otherwise(F.floor((F.col(col) - lo) / width) + 1)
    )
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(*group_cols, b.cast("int").alias(bucket_col))
        .agg(F.count("*").alias("n"))
        .withColumn("lo", F.round(F.lit(lo) + (F.col(bucket_col) - 1) * width, 6))
    )


def rule_fire_counts(
    result: DataFrame,
    verdict_col: str = "verdict",
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-rule fire counts from a pipeline result (filter-metrics table).
    ``group_cols`` prepends keys (e.g. the sink's commit bucket) for
    per-partition metrics."""
    v = F.col(verdict_col)
    return (
        result.groupBy(
            *group_cols,
            F.coalesce(v["method"], F.lit("pass")).alias("method"),
            F.coalesce(v["code"], F.lit("PASS")).alias("code"),
        )
        .agg(F.count("*").alias("n"))
    )


def weights_from_performance(per_method_f1: dict[str, float], baseline: float = 0.1) -> dict[str, float]:
    """Detection weights from per-method F1 (reference
    generate_detection_weights.py:43-93): weight = max(f1, baseline),
    normalised to sum 1; equal weights when no data."""
    methods = list(per_method_f1) or ["pattern", "ml", "llm"]
    raw = {m: max(per_method_f1.get(m, 0.0), baseline) for m in methods}
    total = sum(raw.values())
    return {m: w / total for m, w in raw.items()}
