"""Kill-and-resume: a run killed mid-way must resume from the last committed
snapshot and converge to the exact table a clean run produces, with one
lineage row per bucket and no double counting (north-rule requirement)."""

import json

import pytest
from pyspark.sql import functions as F

from data_quality_monitoring_spark.datagen import generate_pages
from data_quality_monitoring_spark.plans.pipeline import filter_metrics, filter_stage
from data_quality_monitoring_spark.sources.manifest import PartitionedSink, SideTable

N_DOCS = 640


def _transform(spark):
    """The filter job's transform: the shipped filter stage."""
    return lambda slice_df: filter_stage(spark, slice_df)


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
    assert summary["buckets_skipped_committed"] == 8
    assert [c["buckets"] for c in summary["chunks"]] == [[8, 9, 10, 11], [12, 13, 14, 15]]
    run_file = crashy.runs_dir / f"{summary['snapshot']}.json"
    assert json.loads(run_file.read_text()) == summary

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
    resumed = m[m.bucket >= 8]
    assert summary["docs"] == resumed.n_docs.sum() and summary["kept"] == resumed.n_kept.sum()


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
    t = _transform(spark)

    clean = PartitionedSink(str(tmp_path / "clean"), n_buckets=8, chunk_buckets=2)
    clean.run(pages, t, metrics_fn=filter_metrics)

    crashy = PartitionedSink(str(tmp_path / "crashy"), n_buckets=8, chunk_buckets=2)
    with pytest.raises(RuntimeError, match="injected failure"):
        crashy.run(pages, t, fail_after_chunks=2, metrics_fn=filter_metrics)
    crashy.run(pages, t, metrics_fn=filter_metrics)  # resume

    for name, keys in [
        ("rule_fire_counts", ["bucket", "method", "code"]),
        ("lang_distribution", ["bucket", "lang"]),
        ("ppl_histogram", ["bucket", "bin"]),
    ]:
        a = _sorted(clean.metrics(spark, name).drop("snapshot"), keys)
        b = _sorted(crashy.metrics(spark, name).drop("snapshot"), keys)
        assert a.equals(b), name
    # run-level rollup covers every doc exactly once
    total = clean.metrics(spark, "rule_fire_counts").groupBy().sum("n").collect()[0][0]
    assert total == N_DOCS


def test_metrics_orphans_from_precommit_crash_do_not_double_count(spark, pages, tmp_path):
    """A crash BETWEEN the metrics append and the manifest commit leaves
    orphan rows at the snapshot id the resumed chunk re-writes; metrics()
    must still be exactly-once."""
    mfn = lambda written: {"rule_fire_counts": filter_metrics(written)["rule_fire_counts"]}

    sink = PartitionedSink(str(tmp_path / "s"), n_buckets=8, chunk_buckets=4)
    sink.run(pages, _transform(spark), metrics_fn=mfn)
    table = sink.metrics(spark, "rule_fire_counts").toPandas()

    # simulate the pre-commit orphan: duplicate the whole metrics dir
    # content (same snapshot ids, same rows) as a second append
    src = sink.metrics_dir / "rule_fire_counts"
    dup = spark.read.parquet(str(src))
    dup.write.mode("append").parquet(str(src))

    again = sink.metrics(spark, "rule_fire_counts").toPandas()
    keys = ["bucket", "method", "code"]
    assert (
        again.sort_values(keys).reset_index(drop=True)[keys + ["n"]]
        .equals(table.sort_values(keys).reset_index(drop=True)[keys + ["n"]])
    )
    assert again.n.sum() == N_DOCS


def _sorted(df, keys):
    pdf = df.toPandas()
    return pdf[sorted(pdf.columns)].sort_values(keys).reset_index(drop=True)


# each side table's schema as Spark reads it back, as written by the sink
# before it wrote the side tables from the driver
SIDE_TABLE_SCHEMAS = {
    "_lineage": "struct<bucket:int,n_docs:bigint,n_kept:bigint,checksum:bigint,snapshot:int>",
    "_metrics/lang_distribution":
        "struct<bucket:int,lang:string,n:bigint,n_kept:bigint,snapshot:int>",
    "_metrics/ppl_histogram": "struct<bucket:int,bin:int,n:bigint,lo:double,snapshot:int>",
    "_metrics/rule_fire_counts":
        "struct<bucket:int,method:string,code:string,n:bigint,snapshot:int>",
}


@pytest.fixture(scope="module")
def grouped_run(spark, tmp_path_factory):
    """One sink run with metrics under its own job group, bracketed by a
    marker job before and after, so the run's job ids are exactly the ids
    between the two markers.  The transform records the job tags set while
    each chunk runs."""
    sc = spark.sparkContext
    pages = generate_pages(spark, N_DOCS, partitions=8)
    sink = PartitionedSink(str(tmp_path_factory.mktemp("grouped")), n_buckets=16, chunk_buckets=4)
    groups, tags = {}, []

    def transform(slice_df):
        tags.append(set(sc.getJobTags()))
        return _transform(spark)(slice_df)

    try:
        for group in ("before", "sink", "after"):
            sc.setJobGroup(f"test_resume.{group}", group)
            if group == "sink":
                sink.run(pages, transform, metrics_fn=filter_metrics)
                tags.append(set(sc.getJobTags()))
            else:
                spark.range(1).count()
            groups[group] = set(sc.statusTracker().getJobIdsForGroup(f"test_resume.{group}"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return pages, sink, groups, tags


def test_sink_writes_one_file_per_bucket(grouped_run):
    _, sink, _, _ = grouped_run
    for b in range(16):
        files = list((sink.data_dir / f"bucket={b}").glob("*.parquet"))
        assert len(files) == 1, (b, files)


def test_sink_side_tables_equal_direct_aggregates(spark, grouped_run):
    """``_lineage`` and every ``_metrics`` table equal the same aggregates
    computed in one pass over ``transform(pages)`` with plain ``groupBy``s."""
    from data_quality_monitoring_spark.operators.metrics import histogram, rule_fire_counts

    pages, sink, _, _ = grouped_run
    direct = _transform(spark)(
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
    tables = {
        "rule_fire_counts": rule_fire_counts(direct, group_cols=("bucket",)),
        "lang_distribution": direct.groupBy("bucket", "lang").agg(
            F.count("*").alias("n"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
        ),
        "ppl_histogram": histogram(
            direct, "ppl_score", 0.0, 15.0, 30, group_cols=("bucket",), bucket_col="bin"
        ),
    }
    assert set(filter_metrics(direct)) == set(tables)
    for name, mdf in tables.items():
        keys = [c for c in mdf.columns if c != "n"]
        got = sink.metrics(spark, name).drop("snapshot")
        assert got.columns == mdf.columns, name
        assert _sorted(got, keys).equals(_sorted(mdf, keys)), name
    direct.unpersist()


def test_side_table_schemas_pinned(spark, grouped_run):
    """The driver-written side tables read back with the exact schema the
    Spark-written ones had."""
    _, sink, _, _ = grouped_run
    for rel, schema in SIDE_TABLE_SCHEMAS.items():
        assert spark.read.parquet(str(sink.root / rel)).schema.simpleString() == schema, rel


def test_sink_jobs_stay_in_callers_job_group(grouped_run):
    """Every job of the run carries the caller's job group."""
    _, _, groups, _ = grouped_run
    lo, hi = max(groups["before"]), min(groups["after"])
    assert groups["sink"] and groups["sink"] == set(range(lo + 1, hi))


def test_sink_jobs_per_chunk(grouped_run):
    """Write, then one aggregate for every side table: at most 8 jobs per
    chunk (a re-read plus one append job per side table took 15)."""
    _, _, groups, _ = grouped_run
    assert len(groups["sink"]) <= 8 * 4


def test_sink_tags_each_chunks_jobs(grouped_run):
    """Each chunk runs under its own job tag, removed after the chunk."""
    _, _, _, tags = grouped_run
    assert tags == [{f"dqm-sink-snap{k}-chunk{k}"} for k in range(4)] + [set()]


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
    any other metrics table is written: no orphan rows, nothing committed."""
    sink = PartitionedSink(str(tmp_path / "s"), n_buckets=8, chunk_buckets=4)
    mfn = lambda w: {  # noqa: E731
        "good": SideTable({"bucket": F.col("bucket")}),
        "bad": SideTable({"keep": F.col("keep")}),
    }
    with pytest.raises(ValueError, match="'bad' must be keyed by 'bucket'"):
        sink.run(pages, _plain_transform, metrics_fn=mfn)
    assert sink.committed_buckets() == set()
    assert not list(sink.lineage_dir.rglob("*.parquet"))
    assert not list(sink.metrics_dir.rglob("*.parquet"))


def test_resume_over_spark_written_side_tables(spark, pages, tmp_path):
    """Side-table files written by Spark appends (the sink's format before
    it wrote them from the driver) and driver-written files read back
    together: a run crashed with Spark-written rows present, both committed
    and orphaned, resumes to the side tables of a clean run."""
    t = _transform(spark)
    clean = PartitionedSink(str(tmp_path / "clean"), n_buckets=8, chunk_buckets=2)
    clean.run(pages, t, metrics_fn=filter_metrics)

    crashy = PartitionedSink(str(tmp_path / "crashy"), n_buckets=8, chunk_buckets=2)
    with pytest.raises(RuntimeError, match="injected failure"):
        crashy.run(pages, t, fail_after_chunks=2, metrics_fn=filter_metrics)
    for rel in SIDE_TABLE_SCHEMAS:
        path = crashy.root / rel
        aside = path.with_name(path.name + ".aside")
        path.rename(aside)
        spark.read.parquet(str(aside)).write.parquet(str(path))  # committed rows
        # the orphans of a crash between the third chunk's appends and its
        # commit: that chunk's rows at the snapshot id it commits as
        spark.read.parquet(str(clean.root / rel)).filter("snapshot = 2").write.mode(
            "append"
        ).parquet(str(path))
    crashy.run(pages, t, metrics_fn=filter_metrics)  # resume

    for rel in SIDE_TABLE_SCHEMAS:
        names = [f.name for f in (crashy.root / rel).glob("*.parquet")]
        assert any(".snappy." in n for n in names) and any(".snappy." not in n for n in names)
    assert _sorted(crashy.lineage(spark), ["bucket"]).equals(
        _sorted(clean.lineage(spark), ["bucket"])
    )
    for name, keys in [
        ("rule_fire_counts", ["bucket", "method", "code"]),
        ("lang_distribution", ["bucket", "lang"]),
        ("ppl_histogram", ["bucket", "bin"]),
    ]:
        assert _sorted(crashy.metrics(spark, name), keys).equals(
            _sorted(clean.metrics(spark, name), keys)
        ), name


def test_resume_with_other_n_buckets_raises_before_any_write(pages, tmp_path):
    """A table's bucketing is fixed by its first commit: resuming it with
    another ``n_buckets`` fails before writing anything.  Snapshots that do
    not record ``n_buckets`` are accepted."""
    sink = PartitionedSink(str(tmp_path / "s"), n_buckets=8, chunk_buckets=4)
    with pytest.raises(RuntimeError, match="injected failure"):
        sink.run(pages, _plain_transform, fail_after_chunks=1)

    def files():
        return sorted((p, p.stat().st_size) for p in sink.root.rglob("*") if p.is_file())

    before = files()
    other = PartitionedSink(str(sink.root), n_buckets=16, chunk_buckets=4)
    with pytest.raises(ValueError, match="n_buckets=8"):
        other.run(pages, _plain_transform)
    assert files() == before

    for snap in sink.manifest_dir.glob("snapshot-*.json"):
        manifest = json.loads(snap.read_text())
        del manifest["n_buckets"]
        snap.write_text(json.dumps(manifest))
    assert sink.run(pages, _plain_transform)["chunks_run"] == 1
    assert sink.committed_buckets() == set(range(8))


@pytest.mark.parametrize("bucketing", [{"n_buckets": 0}, {"chunk_buckets": 0}])
def test_sink_rejects_empty_bucketing(tmp_path, bucketing):
    with pytest.raises(ValueError, match="must be >= 1"):
        PartitionedSink(str(tmp_path / "s"), **bucketing)
    assert not (tmp_path / "s").exists()


def test_run_summary_counts_committed_buckets(spark, pages, tmp_path):
    """The summary counts the buckets an earlier run committed, also when
    they do not align with this run's chunking, and each run's docs come
    from its own chunks' lineage rows."""
    first = PartitionedSink(str(tmp_path / "s"), n_buckets=8, chunk_buckets=4)
    with pytest.raises(RuntimeError, match="injected failure"):
        first.run(pages, _plain_transform, fail_after_chunks=1)
    assert json.loads((first.runs_dir / "0.json").read_text())["chunks_run"] == 1

    summary = PartitionedSink(str(first.root), n_buckets=8, chunk_buckets=3).run(
        pages, _plain_transform
    )
    assert summary["buckets_skipped_committed"] == 4
    assert [c["buckets"] for c in summary["chunks"]] == [[4, 5, 6], [7]]
    lin = first.lineage(spark).toPandas()
    assert summary["docs"] == summary["kept"] == lin[lin.bucket >= 4].n_docs.sum()


def test_chunks_without_rows_commit(spark, pages, tmp_path):
    """A chunk whose buckets received no rows writes no data directory; it
    still commits, with no lineage rows."""
    sink = PartitionedSink(str(tmp_path / "s"), n_buckets=8, chunk_buckets=1)
    summary = sink.run(pages.orderBy("url").limit(2), _plain_transform)
    assert sink.committed_buckets() == set(range(8))
    assert summary["docs"] == 2 and sum(c["docs"] == 0 for c in summary["chunks"]) >= 6
    assert sink.lineage(spark).count() == len(list(sink.data_dir.glob("bucket=*")))
