"""Metrics operators: confusion matrix set algebra, threshold sweep, histogram."""

from pyspark.sql import functions as F

from data_quality_monitoring_spark.operators.metrics import (
    confusion_matrix,
    histogram,
    threshold_sweep,
    weights_from_performance,
)


def test_confusion_matrix_algebra(spark):
    detected = spark.createDataFrame(
        [("u1", "text"), ("u2", "text"), ("u3", "text")], ["url", "field"]
    )
    injected = spark.createDataFrame(
        [("u2", "text"), ("u3", "text"), ("u4", "text")], ["url", "field"]
    )
    r = confusion_matrix(detected, injected, n_rows=10).collect()[0]
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (2, 1, 1, 6)
    assert abs(r["precision"] - 2 / 3) < 1e-9
    assert abs(r["recall"] - 2 / 3) < 1e-9
    assert abs(r["f1"] - 2 / 3) < 1e-9


def test_confusion_matrix_empty_sides(spark):
    empty = spark.createDataFrame([], "url string, field string")
    injected = spark.createDataFrame([("u1", "text")], ["url", "field"])
    r = confusion_matrix(empty, injected, n_rows=5).collect()[0]
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (0, 0, 1, 4)
    assert r["f1"] == 0.0


def test_threshold_sweep_single_pass(spark):
    scores = spark.createDataFrame(
        [(1.0, False), (2.0, False), (5.0, True), (9.0, True)], ["score", "is_anom"]
    )
    sweep = threshold_sweep(scores, "score", "is_anom", [0.0, 3.0, 6.0, 10.0]).collect()
    by_t = {r["threshold"]: r for r in sweep}
    assert by_t[0.0]["recall"] == 1.0 and by_t[0.0]["precision"] == 0.5
    assert by_t[3.0]["f1"] == 1.0
    assert by_t[6.0]["recall"] == 0.5
    assert by_t[10.0]["tp"] == 0


def test_histogram_buckets(spark):
    df = spark.range(0, 100).select((F.col("id") / 10.0).alias("x"))
    h = {r["bucket"]: r["n"] for r in histogram(df, "x", 0.0, 10.0, 10).collect()}
    assert h[1] == 10 and h[10] == 10 and len(h) == 10
    # overflow buckets
    df2 = spark.createDataFrame([(-1.0,), (99.0,)], ["x"])
    h2 = {r["bucket"]: r["n"] for r in histogram(df2, "x", 0.0, 10.0, 10).collect()}
    assert h2[0] == 1 and h2[11] == 1


def test_weights_from_performance():
    w = weights_from_performance({"pattern": 0.8, "ml": 0.4, "llm": 0.05})
    assert abs(sum(w.values()) - 1.0) < 1e-9
    assert w["pattern"] > w["ml"] > w["llm"]
    assert abs(w["llm"] - 0.1 / 1.3) < 1e-9  # baseline floor applied
    eq = weights_from_performance({})
    assert all(abs(v - 1 / 3) < 1e-9 for v in eq.values())


def test_threshold_sweep_excludes_null_scores(spark):
    import pandas as pd
    from data_quality_monitoring_spark.operators.metrics import threshold_sweep

    df = spark.createDataFrame(
        pd.DataFrame({"s": [0.9, 0.1, None], "y": [True, False, True]}).astype({"s": "float64"})
    )
    out = threshold_sweep(df, "s", "y", [0.5]).collect()[0]
    # the NULL-score row is excluded entirely: counts cover exactly 2 rows
    assert out["tp"] + out["fp"] + out["fn"] + out["tn"] == 2
    assert out["tp"] == 1 and out["tn"] == 1


def test_filter_metrics_tables(spark, tmp_path):
    """The filter job's shipped ``_metrics`` tables, as the sink writes
    them: names, keys, the ``lang`` distribution with kept counts and the
    0-15 / 30-bin perplexity histogram, each equal to a pandas recount of
    the committed result."""
    import numpy as np

    from data_quality_monitoring_spark.datagen import generate_pages
    from data_quality_monitoring_spark.plans.pipeline import filter_metrics, filter_stage
    from data_quality_monitoring_spark.sources.manifest import PartitionedSink

    sink = PartitionedSink(str(tmp_path / "s"), n_buckets=4, chunk_buckets=4)
    sink.run(
        generate_pages(spark, 200, partitions=4),
        lambda slice_df: filter_stage(spark, slice_df),
        metrics_fn=filter_metrics,
    )
    res = sink.result(spark)
    assert set(filter_metrics(res)) == {"rule_fire_counts", "lang_distribution", "ppl_histogram"}
    m = {
        name: sink.metrics(spark, name).drop("snapshot")
        for name in ("rule_fire_counts", "lang_distribution", "ppl_histogram")
    }
    pdf = res.select("bucket", "lang", "keep", "ppl_score").toPandas()
    n = len(pdf)
    fires = m["rule_fire_counts"].toPandas()
    assert list(fires.columns) == ["bucket", "method", "code", "n"]
    assert fires.n.sum() == n  # every doc lands in exactly one (method, code)
    assert "pass" in set(fires.method)  # kept docs appear as the PASS row

    langs = m["lang_distribution"].toPandas()
    assert list(langs.columns) == ["bucket", "lang", "n", "n_kept"]
    want = (
        pdf.groupby(["bucket", "lang"], dropna=False)
        .agg(n=("keep", "size"), n_kept=("keep", "sum"))
        .reset_index()
    )
    got = langs.sort_values(["bucket", "lang"]).reset_index(drop=True)
    want = want.sort_values(["bucket", "lang"]).reset_index(drop=True)
    assert got[["n", "n_kept"]].astype("int64").equals(want[["n", "n_kept"]].astype("int64"))

    hist = m["ppl_histogram"].toPandas()
    assert list(hist.columns) == ["bucket", "bin", "n", "lo"]
    scored = pdf[pdf.ppl_score.notna()]
    assert len(scored) > 0 and hist.n.sum() == len(scored)
    bins = np.clip(np.floor(scored.ppl_score / 0.5).astype(int) + 1, 0, 31)
    assert (scored.ppl_score < 15.0).any()  # in-range scores exercise the bins
    want = scored.assign(bin=bins).groupby(["bucket", "bin"]).size()
    got = hist.set_index(["bucket", "bin"]).n.sort_index()
    assert got.to_dict() == want.sort_index().to_dict()
    inner = hist[hist.bin.between(1, 30)]
    assert ((inner.bin - 1) * 0.5 == inner.lo).all()  # 30 bins of width 0.5
