"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]`` threads; the same configs are the ones
we would set on a 1000-executor cluster (AQE, Arrow, sane shuffle
parallelism).  Nothing here is test-only: at 100 TB the important knobs are
``spark.sql.adaptive.enabled`` (runtime skew/shuffle re-planning),
``spark.sql.files.maxPartitionBytes`` (scan split sizing) and Arrow batch
size for the pandas-UDF scorers.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "dqm_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` → ``local[*]``.  On a real cluster this function is not
    used — ``spark-submit`` provides the session — so everything here is
    safe to hard-code for the sandbox.
    """
    master = f"local[{cores}]" if cores else "local[*]"
    n_shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing floor (Spark default 1m) is the post-shuffle
        # analogue of the scan fan-out: on a corpus whose whole shuffle
        # output is a few MB it coalesces every reduce stage down to a
        # handful of tasks and serializes the post-shuffle work (measured:
        # the 16M-row simhash pair expansion 5.9 s -> 3.6 s at sf1.0 with a
        # 64k floor).  At production scale post-shuffle partitions are
        # 100s of MB, so the floor is inert there — raise it via env if a
        # deployment ever carries millions of sub-64k partitions.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_table(spark: SparkSession, columns: dict, schema: str | StructType) -> DataFrame:
    """A small table built on the driver (rank offsets, tier cuts, duplicate
    clusters) as a DataFrame over an Arrow table, which Spark reads as a
    ``LocalRelation`` on the JVM side.  ``createDataFrame(list)`` would
    pickle the rows into a ``PythonRDD`` instead, and every action that
    reads the table would start Python workers to unpickle them again.
    ``columns`` maps each field of ``schema``, in order, to its values (a
    list or an Arrow array)."""
    return spark.createDataFrame(pa.table(columns), schema)
