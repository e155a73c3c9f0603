"""Page-table sources/sinks behind one interface.

The reference only ever does ``pd.read_csv`` (its ``single_sample_multi_
field_demo.py:107`` etc.); the rebuild reads Parquet first (columnar,
splittable, predicate-pushdown) with CSV and JSON for interchange — all with
the DECLARED schema (never inferred; inference is a full extra pass and a
correctness hazard at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..datagen import PAGES_SCHEMA


def read_pages(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt == "csv":
        # html:binary is not CSV-representable; reference CSVs carry text only.
        # Whitespace is significant to the whitespace rule → disable trimming;
        # nullValue sentinel keeps null text distinct from empty text.
        return (
            spark.read.schema(
                "url string, warc_ts timestamp, text string, lang string"
            )
            .option("header", "true")
            .option("multiLine", "true")
            .option("escape", '"')
            .option("ignoreLeadingWhiteSpace", "false")
            .option("ignoreTrailingWhiteSpace", "false")
            .option("nullValue", "\\N")
            .csv(path)
        )
    if fmt == "json":
        return spark.read.schema(PAGES_SCHEMA).json(path)
    raise ValueError(f"unknown format {fmt}")


def write_pages(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    writer = df.write.mode("overwrite")
    if fmt == "parquet":
        writer.parquet(path)
    elif fmt == "csv":
        (
            df.drop("html")
            .write.mode("overwrite")
            .option("header", "true")
            .option("escape", '"')
            .option("ignoreLeadingWhiteSpace", "false")
            .option("ignoreTrailingWhiteSpace", "false")
            .option("nullValue", "\\N")
            .csv(path)
        )
    elif fmt == "json":
        writer.json(path)
    else:
        raise ValueError(f"unknown format {fmt}")
