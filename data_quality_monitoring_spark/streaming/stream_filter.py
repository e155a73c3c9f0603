"""Structured Streaming variant of the quality filter.

The reference is purely batch (SURVEY.md §2.9: no streaming/watermarks), and
the north-star pipeline checkpoints per partition in batch; this module adds
the Structured Streaming form for incremental ingestion: new page files
landing in a directory are filtered continuously with exactly-once sinks via
the checkpoint location.

The transformation is the *same* ``quality_filter`` expression tree — every
operator in this engine is a stateless per-row projection, so it is
streaming-safe with no watermark needed.  The rolling per-rule fire-count
metric groups by an EVENT-TIME window on ``warc_ts`` (the WARC capture
timestamp): late-captured pages land in their historical window until the
watermark closes it, which is why that aggregation needs the watermark
shown here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..datagen import PAGES_SCHEMA
from ..plans.pipeline import filter_stage, quality_filter


def read_page_stream(spark: SparkSession, input_dir: str, max_files: int = 16) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )


def filtered_stream(
    spark: SparkSession,
    pages_stream: DataFrame,
    gopher_gate: bool = False,
    c4_clean: bool = False,
) -> DataFrame:
    """The batch filter stage (``plans.pipeline.filter_stage``) over a
    stream; ``gopher_gate`` / ``c4_clean`` are the batch CLI's gates
    (stateless Column expressions, so streaming-safe by construction)."""
    return filter_stage(
        spark, pages_stream, c4_clean=c4_clean, gopher_gate=gopher_gate
    ).select("url", "warc_ts", "lang", "keep", "verdict", "text_scrubbed")


def start_filter(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """File-to-file streaming filter with exactly-once checkpointing.

    ``available_now=True`` drains everything currently in the directory and
    stops — the testable mode; ``False`` runs continuously.
    """
    out = filtered_stream(spark, read_page_stream(spark, input_dir))
    writer = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    trigger = {"availableNow": True} if available_now else {"processingTime": "10 seconds"}
    return writer.trigger(**trigger).start()


def deduped_stream(pages_stream: DataFrame) -> DataFrame:
    """Streaming url-keyed dedup — the streaming twin of
    operators/urls.canonical_dedup's keep-one-per-url step.

    ``dropDuplicatesWithinWatermark`` (not plain ``dropDuplicates``): with
    a url-only key, plain dropDuplicates never evicts state — Spark only
    ages dedup state out when the event-time column is PART of the key —
    so a continuous crawl ingest would grow one state entry per distinct
    url forever.  The WithinWatermark form is built for exactly this
    key-without-event-time case: state for a url is dropped once the
    watermark passes its arrival, bounding state to one hour of distinct
    urls while still deduplicating any duplicate that arrives within the
    watermark."""
    return pages_stream.withWatermark("warc_ts", "1 hour").dropDuplicatesWithinWatermark(
        ["url"]
    )


def stateful_host_stats(spark: SparkSession, pages_stream: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-host page/drop counts maintained across micro-batches (the
    'custom stateful operators' slot of the brief)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.urls import url_host

    res = quality_filter(spark, pages_stream).select(
        url_host(F.col("url")).alias("host"),
        F.col("keep"),
    )

    def update(key, pdfs, state: GroupState):
        total, dropped = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            total += len(pdf)
            dropped += int((~pdf["keep"]).sum())
        state.update((total, dropped))
        import pandas as pd

        yield pd.DataFrame({"host": [key[0]], "n_pages": [total], "n_dropped": [dropped]})

    return res.groupBy("host").applyInPandasWithState(
        update,
        outputStructType="host string, n_pages long, n_dropped long",
        stateStructType="total long, dropped long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_fire_counts(
    spark: SparkSession, pages_stream: DataFrame, window: str = "1 hour"
) -> DataFrame:
    """Per-event-time-window fire counts with a watermark for late pages —
    the streaming filter-metrics table.  The aggregation itself is the
    batch ``metrics.rule_fire_counts`` with the window as an extra group
    key, so the streaming and batch metrics tables cannot drift."""
    from ..operators.metrics import rule_fire_counts

    res = quality_filter(spark, pages_stream)
    return rule_fire_counts(
        res.withWatermark("warc_ts", "2 hours"),
        group_cols=(F.window("warc_ts", window).alias("w"),),
    ).select(F.col("w.start").alias("window_start"), "method", "code", "n")
