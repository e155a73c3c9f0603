"""Kill-and-resume: a run killed mid-way must resume from the last committed
snapshot and converge to the exact table a clean run produces, with one
lineage row per bucket and no double counting (north-rule requirement)."""

import pytest
from pyspark.sql import functions as F

from data_quality_monitoring_spark.datagen import generate_pages
from data_quality_monitoring_spark.plans.pipeline import quality_filter
from data_quality_monitoring_spark.sources.manifest import PartitionedSink

N_DOCS = 640


def _transform(spark):
    def t(slice_df):
        res = quality_filter(spark, slice_df)
        return res.select("url", "keep", "text_scrubbed", "bucket")

    return t


def _metrics_transform(spark):
    def t(slice_df):
        res = quality_filter(spark, slice_df)
        return res.select("url", "keep", "verdict", "langid", "ppl_score", "bucket")

    return t


@pytest.fixture()
def pages(spark):
    return generate_pages(spark, N_DOCS, partitions=8)


def _table(sink, spark):
    return (
        sink.result(spark)
        .select("url", "keep", "text_scrubbed", "bucket")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )


def test_kill_and_resume_identical(spark, pages, tmp_path):
    clean = PartitionedSink(str(tmp_path / "clean"), n_buckets=16, chunk_buckets=4)
    clean.run(pages, _transform(spark))

    crashy = PartitionedSink(str(tmp_path / "crashy"), n_buckets=16, chunk_buckets=4)
    with pytest.raises(RuntimeError, match="injected failure"):
        crashy.run(pages, _transform(spark), fail_after_chunks=2)
    committed_mid = crashy.committed_buckets()
    assert len(committed_mid) == 8  # 2 chunks × 4 buckets

    summary = crashy.run(pages, _transform(spark))  # resume
    assert summary["chunks_run"] == 2  # only the remaining half

    a, b = _table(clean, spark), _table(crashy, spark)
    assert a.equals(b)

    lin = crashy.lineage(spark).toPandas()
    assert len(lin) == 16 and sorted(lin["bucket"]) == list(range(16))
    assert lin["n_docs"].sum() == N_DOCS  # no double counting
    lin_clean = clean.lineage(spark).toPandas()
    m = lin.sort_values("bucket").reset_index(drop=True)
    c = lin_clean.sort_values("bucket").reset_index(drop=True)
    assert (m["checksum"].values == c["checksum"].values).all()
    assert (m["n_kept"].values == c["n_kept"].values).all()


def test_rerun_is_noop(spark, pages, tmp_path):
    sink = PartitionedSink(str(tmp_path / "t"), n_buckets=8, chunk_buckets=4)
    sink.run(pages, _transform(spark))
    before = _table(sink, spark)
    summary = sink.run(pages, _transform(spark))
    assert summary["chunks_run"] == 0
    assert _table(sink, spark).equals(before)


def test_metrics_checkpoint_and_resume(spark, pages, tmp_path):
    """Filter-metrics tables are committed per chunk alongside lineage and
    survive a crash+resume bit-identical to a clean run (north rule:
    resumable checkpoints WITH metrics tables)."""
    from data_quality_monitoring_spark.plans.pipeline import filter_metrics

    t = _metrics_transform(spark)
    mfn = lambda written: filter_metrics(written, group_cols=("bucket",))

    clean = PartitionedSink(str(tmp_path / "clean"), n_buckets=8, chunk_buckets=2)
    clean.run(pages, t, metrics_fn=mfn)

    crashy = PartitionedSink(str(tmp_path / "crashy"), n_buckets=8, chunk_buckets=2)
    with pytest.raises(RuntimeError, match="injected failure"):
        crashy.run(pages, t, fail_after_chunks=2, metrics_fn=mfn)
    crashy.run(pages, t, metrics_fn=mfn)  # resume

    for name, keys in [
        ("rule_fires", ["bucket", "method", "code"]),
        ("lang_dist", ["bucket", "lang"]),
        ("ppl_hist", ["bucket", "bin"]),
    ]:
        a = (
            clean.metrics(spark, name).toPandas()
            .sort_values(keys).reset_index(drop=True)
        )
        b = (
            crashy.metrics(spark, name).toPandas()
            .sort_values(keys).reset_index(drop=True)
        )
        assert a[keys + ["n"]].equals(b[keys + ["n"]]), name
    # run-level rollup covers every doc exactly once
    total = clean.metrics(spark, "rule_fires").groupBy().sum("n").collect()[0][0]
    assert total == N_DOCS


def test_metrics_orphans_from_precommit_crash_do_not_double_count(spark, pages, tmp_path):
    """A crash BETWEEN the metrics append and the manifest commit leaves
    orphan rows at the snapshot id the resumed chunk re-writes; metrics()
    must still be exactly-once."""
    import shutil

    from pyspark.sql import functions as F

    from data_quality_monitoring_spark.plans.pipeline import filter_metrics

    def t(slice_df):
        res = quality_filter(spark, slice_df)
        return res.select("url", "keep", "verdict", "bucket")

    mfn = lambda written: {"rule_fires": filter_metrics(written, group_cols=("bucket",))["rule_fires"]}

    sink = PartitionedSink(str(tmp_path / "s"), n_buckets=8, chunk_buckets=4)
    sink.run(pages, t, metrics_fn=mfn)
    table = sink.metrics(spark, "rule_fires").toPandas()

    # simulate the pre-commit orphan: duplicate the whole metrics dir
    # content (same snapshot ids, same rows) as a second append
    src = sink.metrics_dir / "rule_fires"
    dup = spark.read.parquet(str(src))
    dup.write.mode("append").parquet(str(src))

    again = sink.metrics(spark, "rule_fires").toPandas()
    keys = ["bucket", "method", "code"]
    assert (
        again.sort_values(keys).reset_index(drop=True)[keys + ["n"]]
        .equals(table.sort_values(keys).reset_index(drop=True)[keys + ["n"]])
    )
    assert again.n.sum() == N_DOCS


def _sorted(df, keys):
    pdf = df.toPandas()
    return pdf[sorted(pdf.columns)].sort_values(keys).reset_index(drop=True)


@pytest.fixture(scope="module")
def grouped_run(spark, tmp_path_factory):
    """One sink run with metrics under its own job group, bracketed by a
    marker job before and after, so the run's job ids are exactly the ids
    between the two markers."""
    from data_quality_monitoring_spark.plans.pipeline import filter_metrics

    sc = spark.sparkContext
    pages = generate_pages(spark, N_DOCS, partitions=8)
    sink = PartitionedSink(str(tmp_path_factory.mktemp("grouped")), n_buckets=16, chunk_buckets=4)
    groups = {}
    try:
        for group in ("before", "sink", "after"):
            sc.setJobGroup(f"test_resume.{group}", group)
            if group == "sink":
                sink.run(
                    pages, _metrics_transform(spark),
                    metrics_fn=lambda w: filter_metrics(w, group_cols=("bucket",)),
                )
            else:
                spark.range(1).count()
            groups[group] = set(sc.statusTracker().getJobIdsForGroup(f"test_resume.{group}"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return pages, sink, groups


def test_sink_writes_one_file_per_bucket(grouped_run):
    _, sink, _ = grouped_run
    for b in range(16):
        files = list((sink.data_dir / f"bucket={b}").glob("*.parquet"))
        assert len(files) == 1, (b, files)


def test_sink_side_tables_equal_direct_aggregates(spark, grouped_run):
    """``_lineage`` and every ``_metrics`` table equal the same aggregates
    computed in one pass over ``transform(pages)``."""
    from data_quality_monitoring_spark.plans.pipeline import filter_metrics

    pages, sink, _ = grouped_run
    direct = _metrics_transform(spark)(
        pages.withColumn("bucket", F.pmod(F.xxhash64("url"), F.lit(16)).cast("int"))
    ).persist()
    lineage = direct.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.expr("bit_xor(xxhash64(url))").alias("checksum"),
    )
    assert _sorted(sink.lineage(spark).drop("snapshot"), ["bucket"]).equals(
        _sorted(lineage, ["bucket"])
    )
    for name, mdf in filter_metrics(direct, group_cols=("bucket",)).items():
        keys = [c for c in mdf.columns if c != "n"]
        got = _sorted(sink.metrics(spark, name).drop("snapshot"), keys)
        assert got.equals(_sorted(mdf, keys)), name
    direct.unpersist()


def test_sink_jobs_stay_in_callers_job_group(grouped_run):
    """The concurrent lineage/metrics appends run on pool threads; every
    job of the run must still carry the caller's job group."""
    _, _, groups = grouped_run
    lo, hi = max(groups["before"]), min(groups["after"])
    assert groups["sink"] and groups["sink"] == set(range(lo + 1, hi))


def _plain_transform(slice_df):
    return slice_df.select("url", F.lit(True).alias("keep"), "bucket")


def test_lineage_ignores_orphan_rows_of_uncommitted_buckets(spark, pages, tmp_path):
    """A crash between the lineage append and the commit leaves rows for
    buckets no snapshot covers; lineage() must not return them."""
    from data_quality_monitoring_spark.sources.manifest import LINEAGE_SCHEMA

    sink = PartitionedSink(str(tmp_path / "s"), n_buckets=8, chunk_buckets=4)
    with pytest.raises(RuntimeError, match="injected failure"):
        sink.run(pages, _plain_transform, fail_after_chunks=1)
    assert sink.committed_buckets() == {0, 1, 2, 3}
    spark.createDataFrame([(5, 7, 7, 0, 1)], LINEAGE_SCHEMA).write.mode("append").parquet(
        str(sink.lineage_dir)
    )
    lin = sink.lineage(spark).toPandas()
    assert sorted(lin.bucket) == [0, 1, 2, 3]


def test_bad_metrics_table_raises_before_any_append(pages, tmp_path):
    """A metrics table without ``bucket`` fails the chunk before lineage or
    any other metrics table is appended: no orphan rows, nothing committed."""
    sink = PartitionedSink(str(tmp_path / "s"), n_buckets=8, chunk_buckets=4)
    mfn = lambda w: {  # noqa: E731
        "good": w.groupBy("bucket").count(),
        "bad": w.groupBy("keep").count(),
    }
    with pytest.raises(ValueError, match="'bad' must be keyed by 'bucket'"):
        sink.run(pages, _plain_transform, metrics_fn=mfn)
    assert sink.committed_buckets() == set()
    assert not list(sink.lineage_dir.rglob("*.parquet"))
    assert not list(sink.metrics_dir.rglob("*.parquet"))
