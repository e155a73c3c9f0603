"""Extension points + capability pruning + per-method confusion + analyze CLI."""

import pandas as pd
from pyspark.sql import functions as F

from data_quality_monitoring_spark.datagen import generate_pages
from data_quality_monitoring_spark.operators.metrics import confusion_matrix
from data_quality_monitoring_spark.operators.rules import first_hit, register_predicate
from data_quality_monitoring_spark.oracle import rule_first_hit
from data_quality_monitoring_spark.plans.analyze import analyze_column
from data_quality_monitoring_spark.plans.pipeline import quality_filter


@register_predicate("shouty")
def _shouty(s: pd.Series) -> pd.Series:
    return s.str.isupper().fillna(False)


def test_custom_rule_both_paths(spark):
    rules = [
        {"type": "min_length", "min_length": 2, "error_code": "SHORT"},
        {"type": "custom", "predicate": "shouty", "error_code": "SHOUTY", "probability": 0.6},
    ]
    values = ["HELLO", "hello", "H", None]
    expected = ["SHOUTY", None, "SHORT", None]
    df = spark.createDataFrame(pd.DataFrame({"v": pd.Series(values, dtype="object")}))
    got = [
        None if f is None else f["code"]
        for f in df.select(first_hit(F.col("v"), rules).alias("f")).toPandas()["f"]
    ]
    assert got == expected
    assert [
        None if (f := rule_first_hit(v, rules)) is None else f["code"] for v in values
    ] == expected


def test_method_pruning_changes_plan_and_verdicts(spark):
    pages = generate_pages(spark, 160, partitions=2)
    full = quality_filter(spark, pages)
    rules_only = quality_filter(spark, pages, methods=["validation"])
    # pruned plan carries no pandas-UDF scorer stages
    plan = rules_only._jdf.queryExecution().executedPlan().toString()
    assert "langid" not in rules_only.columns and "ppl_score" not in rules_only.columns
    # validation-only keeps MORE docs (lang mismatch / gibberish slip through)
    assert rules_only.filter("keep").count() > full.filter("keep").count()
    # but every validation drop matches the full pipeline's validation drops
    a = full.filter("verdict.method = 'validation'").select("url").toPandas()
    b = rules_only.filter("verdict.method = 'validation'").select("url").toPandas()
    assert sorted(a["url"]) == sorted(b["url"])


def test_per_method_confusion(spark):
    """Per-method breakdown (reference confusion_matrix_analyzer.py:149-341)."""
    detected = spark.createDataFrame(
        [("u1", "text", "validation"), ("u2", "text", "ml"), ("u3", "text", "ml")],
        ["url", "field", "method"],
    )
    injected = spark.createDataFrame(
        [("u1", "text"), ("u3", "text"), ("u4", "text")], ["url", "field"]
    )
    rows = {
        r["method"]: r
        for r in confusion_matrix(
            detected, injected, n_rows=10, group_cols=["method"]
        ).collect()
    }
    assert rows["validation"]["tp"] == 1 and rows["validation"]["fp"] == 0
    assert rows["ml"]["tp"] == 1 and rows["ml"]["fp"] == 1
    # the un-detected injection appears under the null-method group
    assert rows[None]["fn"] == 1


def test_analyze_column_report(spark):
    pages = generate_pages(spark, 320, partitions=4)
    report = analyze_column(pages, "lang", top=5)
    assert report["column"] == "lang"
    assert report["stats"]["n_rows"] == 320
    # claimed langs are en/de/nl only — the fr-text bucket *claims* en
    assert report["stats"]["n_distinct"] == 3
    assert len(report["top_values"]) == 3
    assert report["top_values"][0]["value"] == "en"
    assert report["n_whitespace_variants"] == 0
