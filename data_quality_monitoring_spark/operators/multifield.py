"""Multi-field detection: the reference's per-field loop as one projection.

The reference iterates fields sequentially, clearing caches between them
(``comprehensive_detector.py:779-859``); columnar execution removes the
memory constraint, so N fields are N finding columns computed in a single
``select`` — one scan, no matter how many fields (SURVEY.md §2.6).

Output shapes:
* ``detect_fields`` — wide: one ``f_<field>`` finding struct per field,
  plus per-field verdicts,
* ``cell_findings`` — long: the reference's CellClassification list
  (``comprehensive_detector.py:30-43``) as a (key, field, status, rule,
  code, probability) table, sorted by (key, field) like the reference's
  result ordering (``:610``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .patterns import pattern_finding
from .rules import first_hit


def detect_fields(
    df: DataFrame,
    rules_by_field: dict[str, list[dict]],
    pattern_by_field: dict[str, dict] | None = None,
) -> DataFrame:
    """Attach one validation (and optional pattern) finding column per field
    — all fields in ONE pass."""
    pattern_by_field = pattern_by_field or {}
    cols = {}
    for field, rules in rules_by_field.items():
        cols[f"f_{field}"] = first_hit(F.col(field), rules)
    for field, cfg in pattern_by_field.items():
        cols[f"p_{field}"] = pattern_finding(F.col(field), cfg)
    return df.withColumns(cols)


def cell_findings(
    detected: DataFrame, key: str, fields: list[str]
) -> DataFrame:
    """Long-format per-cell findings, first-present of validation then
    pattern per field (the reference's priority upsert on (row, column),
    comprehensive_detector.py:511-585).

    Single-pass pivot: all fields' cells are packed into one array of
    structs and exploded — NOT a union of per-field branches, which would
    re-scan the input (and re-run every detector UDF) once per field.
    Plan evidence: PLANS.md multifield_cells went from 24 Arrow stages /
    12 scans (union form) to one scan."""
    entries = []
    for field in fields:
        v = F.col(f"f_{field}") if f"f_{field}" in detected.columns else F.lit(None)
        p = F.col(f"p_{field}") if f"p_{field}" in detected.columns else F.lit(None)
        finding = F.coalesce(v, p)
        entries.append(
            F.when(
                finding.isNotNull(),
                F.struct(
                    F.lit(field).alias("field"),
                    F.when(v.isNotNull(), "ERROR").otherwise("ANOMALY").alias("status"),
                    finding["rule"].alias("rule"),
                    finding["code"].alias("code"),
                    finding["probability"].alias("probability"),
                ),
            )
        )
    cells = F.filter(F.array(*entries), lambda x: x.isNotNull())
    return (
        detected.select(F.col(key), F.explode(cells).alias("_c"))
        .select(key, "_c.field", "_c.status", "_c.rule", "_c.code", "_c.probability")
        .orderBy(key, "field")
    )
