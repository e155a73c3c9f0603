"""The north rule, end to end in one flow.

Raw Common-Crawl-shaped pages (html payload only, text NULL) →
HTML→text extraction → the 4-family quality filter → bucket-committed
resumable sink with per-partition lineage AND filter-metrics tables →
injected crash → resume → byte-identical convergence, with the keep/drop
decision and scrubbed text matching the independent pure-Python oracle on
the extracted text.  Every clause of BASELINE.json's north_rule appears
here once, in order.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_quality_monitoring_spark.datagen import generate_pages, generate_pages_pandas
from data_quality_monitoring_spark.operators.extract import html_to_text_py
from data_quality_monitoring_spark.oracle import label_pages
from data_quality_monitoring_spark.plans.pipeline import (
    default_pattern_cfg,
    default_rules,
    filter_metrics,
    filter_stage,
)
from data_quality_monitoring_spark.sources.manifest import PartitionedSink

N_DOCS = 480


def test_north_rule_end_to_end(spark, tmp_path):
    # 1. raw input: url, warc_ts, html(binary), text=NULL, lang
    raw = generate_pages(spark, N_DOCS, partitions=8).withColumn(
        "text", F.lit(None).cast("string")
    )

    # 2-3. extract → filter inside the resumable transform: the filter
    # job's own stage and metrics tables
    def transform(slice_df):
        return filter_stage(spark, slice_df, extract_html=True)

    # 4. crash mid-run, then resume from the last committed snapshot
    sink = PartitionedSink(str(tmp_path / "out"), n_buckets=8, chunk_buckets=2)
    with pytest.raises(RuntimeError, match="injected failure"):
        sink.run(raw, transform, fail_after_chunks=2, metrics_fn=filter_metrics)
    assert len(sink.committed_buckets()) == 4
    sink.run(raw, transform, metrics_fn=filter_metrics)  # resume completes the rest

    result = sink.result(spark).toPandas().sort_values("url").reset_index(drop=True)
    assert len(result) == N_DOCS

    # 5. oracle parity: label the EXTRACTED text with the pure-Python twin
    pages_pdf = generate_pages_pandas(N_DOCS)
    pages_pdf["text"] = [html_to_text_py(h) for h in pages_pdf["html"]]
    oracle = label_pages(pages_pdf, default_rules(), default_pattern_cfg())
    m = result.merge(oracle, on="url", suffixes=("_s", "_o"))
    assert len(m) == N_DOCS
    assert (m.keep_s == m.keep_o).mean() == 1.0  # F1 >= 0.99 gate, exactly
    assert (
        m.text_scrubbed_s.fillna("#") == m.text_scrubbed_o.fillna("#")
    ).mean() == 1.0  # byte-identical scrubbed text per url

    # 6. lineage covers every bucket once; metrics tables survived the crash
    lin = sink.lineage(spark).toPandas()
    assert sorted(lin.bucket) == list(range(8)) and lin.n_docs.sum() == N_DOCS
    fires = sink.metrics(spark, "rule_fire_counts").toPandas()
    assert fires.n.sum() == N_DOCS  # exactly-once
    assert {"pass"} < set(fires.method)  # kept docs + at least one detector
    langs = sink.metrics(spark, "lang_distribution").toPandas()
    assert langs.n.sum() == N_DOCS and langs.n_kept.sum() == result.keep.sum()
    ppl = sink.metrics(spark, "ppl_histogram").toPandas()
    assert ppl.n.sum() == result.ppl_score.notna().sum()
