"""single-demo: the reference's single_sample_multi_field_demo as one Spark job.

Flow (reference ``single_sample_multi_field_demo.py`` + ``comprehensive_
sample_generator.py:185-219`` + ``consolidated_reporter.py:312-430``):

1. corrupt a catalog-shaped table — per row at most ``max_issues_per_row``
   fields are corrupted, and each corrupted cell independently draws
   ERROR (validator-style corruption) vs ANOMALY (semantic replacement)
   — the error-vs-anomaly split driver,
2. detect all fields in one projection (validators + pattern detectors),
3. join detections against injected labels per (row, field, method),
4. write a consolidated JSON report: per-field per-method
   precision/recall/F1 + a combined block, the reference's
   ``compute_per_field_metrics`` shape.

Everything is seeded from xxhash64(key‖field): re-running the demo is
byte-reproducible, and the choice logic is NATIVE (no Python in the pick
path) — only the corruption kernels themselves are Arrow UDFs.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import (
    CATALOG_FIELDS,
    build_catalog,
    load_field_rules,
    load_injection_rules,
    load_pattern_config,
)
from ..operators.injection import inject_column
from ..operators.multifield import detect_fields
from ..session import write_bytes


def inject_catalog(
    catalog: DataFrame,
    key: str = "doc_id",
    fields: list[str] | None = None,
    max_issues_per_row: int = 2,
    issue_probability: float = 0.4,
    anomaly_share: float = 0.5,
    salt: str = "demo",
) -> tuple[DataFrame, DataFrame]:
    """Corrupt ≤ max_issues_per_row fields per row, each cell drawing
    error-vs-anomaly (reference comprehensive_sample_generator.py:185-219).

    Field choice is native: per (row, field) a deterministic hash gates
    corruption, fields are ranked by that hash within the row and only the
    first ``max_issues_per_row`` stay — no Python in the pick path.

    Returns (corrupted_df, labels_df[key, field, injection_type])."""
    fields = fields or [f for f in CATALOG_FIELDS if f in catalog.columns]
    picks = []
    for f in fields:
        h = F.xxhash64(F.col(key).cast("string"), F.lit(f), F.lit(salt))
        gate = F.pmod(h, 1000) < int(issue_probability * 1000)
        is_anom = F.pmod(F.shiftrightunsigned(h, 17), 1000) < int(anomaly_share * 1000)
        picks.append(
            F.when(
                gate,
                F.struct(
                    h.alias("h"),
                    F.lit(f).alias("field"),
                    is_anom.alias("is_anom"),
                ),
            )
        )
    chosen = F.slice(
        F.array_sort(F.filter(F.array(*picks), lambda s: s.isNotNull())),
        1,
        max_issues_per_row,
    )
    work = catalog.withColumn("_chosen", chosen)

    out = work
    for f in fields:
        err_rules = load_injection_rules(f, "error_injection")
        try:
            anom_rules = load_injection_rules(f, "anomaly_injection")
        except FileNotFoundError:
            anom_rules = []
        hit = F.filter(F.col("_chosen"), lambda s: s["field"] == f)
        sel = F.try_element_at(hit, F.lit(1))  # ANSI: plain element_at throws on []
        ikey = F.concat(F.col(key).cast("string"), F.lit("#"), F.lit(f), F.lit(salt))
        corrupted_e = inject_column(F.col(f), ikey, err_rules, 1.0, salt="err")
        corrupted_a = (
            inject_column(F.col(f), ikey, anom_rules, 1.0, salt="anom")
            if anom_rules
            else corrupted_e
        )
        picked = F.when(
            sel.isNotNull() & sel["is_anom"], corrupted_a
        ).when(sel.isNotNull(), corrupted_e)
        out = out.withColumn(f"_inj_{f}", picked)
    # labels BEFORE overwriting the columns: a pick only counts when the
    # corruption actually changed the value (reference skips no-op rules).
    # Single-pass pivot (array → explode), not a union of per-field
    # branches — a union would re-run every injection UDF once per field
    # (see multifield.cell_findings for the measured rationale).
    label_entries = []
    for f in fields:
        inj = F.col(f"_inj_{f}")
        sel = F.try_element_at(
            F.filter(F.col("_chosen"), lambda s: s["field"] == f), F.lit(1)
        )
        changed = inj.isNotNull() & ~inj["corrupted"].eqNullSafe(F.col(f))
        label_entries.append(
            F.when(
                changed,
                F.struct(
                    F.lit(f).alias("field"),
                    F.when(sel["is_anom"], "anomaly").otherwise("error").alias("injection_type"),
                    inj["rule_name"].alias("rule_name"),
                ),
            )
        )
    packed = F.filter(F.array(*label_entries), lambda x: x.isNotNull())
    labels = out.select(F.col(key), F.explode(packed).alias("_l")).select(
        key, "_l.field", "_l.injection_type", "_l.rule_name"
    )
    for f in fields:
        inj = F.col(f"_inj_{f}")
        out = out.withColumn(
            f, F.when(inj.isNotNull(), inj["corrupted"]).otherwise(F.col(f))
        )
    out = out.drop("_chosen", *[f"_inj_{f}" for f in fields])
    return out, labels


def detect_cells_by_method(
    catalog: DataFrame, key: str = "doc_id", fields: list[str] | None = None
) -> DataFrame:
    """Long (key, field, method, rule, code, probability) findings over the
    ported validator + pattern rulesets — all fields one projection."""
    fields = fields or [f for f in CATALOG_FIELDS if f in catalog.columns]
    rules_by_field = {f: load_field_rules(f) for f in fields}
    pattern_by_field = {}
    for f in fields:
        try:
            pattern_by_field[f] = load_pattern_config(f)
        except FileNotFoundError:
            pass
    detected = detect_fields(catalog, rules_by_field, pattern_by_field)
    # single-pass pivot (array-of-structs → explode), NOT a union of
    # per-(field, method) branches — a union re-scans the input and re-runs
    # every detector UDF once per branch (see multifield.cell_findings)
    entries = []
    for f in fields:
        for method, col in (("validation", f"f_{f}"), ("pattern", f"p_{f}")):
            if col not in detected.columns:
                continue
            fd = F.col(col)
            entries.append(
                F.when(
                    fd.isNotNull(),
                    F.struct(
                        F.lit(f).alias("field"),
                        F.lit(method).alias("method"),
                        fd["rule"].alias("rule"),
                        fd["code"].alias("code"),
                        fd["probability"].alias("probability"),
                    ),
                )
            )
    packed = F.filter(F.array(*entries), lambda x: x.isNotNull())
    return (
        detected.select(F.col(key), F.explode(packed).alias("_c"))
        .select(key, "_c.field", "_c.method", "_c.rule", "_c.code", "_c.probability")
    )


_METHOD_FOR_TYPE = {"error": "validation", "anomaly": "pattern"}


def _assessment(f1: float) -> str:
    # reference consolidated_reporter.py:295-308 wording thresholds
    if f1 >= 0.9:
        return "Excellent detection performance"
    if f1 >= 0.7:
        return "Good detection performance"
    if f1 >= 0.5:
        return "Moderate detection performance"
    if f1 >= 0.3:
        return "Poor detection performance"
    return "Very poor detection performance"


def single_sample_demo(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    key: str = "doc_id",
    max_issues_per_row: int = 2,
    issue_probability: float = 0.4,
    probe_dirs=(),
) -> dict:
    """Full demo: derive catalog → inject → detect → consolidated report.

    Writes ``<out_dir>/cell_findings.parquet``, ``labels.parquet`` and
    ``consolidated_report.json``; returns the report dict.

    ``probe_dirs``: model-artifact directories whose ``train_probe.json``
    (written by ml-train / llm-train) is embedded under ``model_probes`` —
    the reference shows training health in the consolidated report its
    users actually read (consolidated_reporter.py:312-430), so a degraded
    scorer is visible next to the detection metrics it affects."""
    catalog = build_catalog(pages, key) if "material" not in pages.columns else pages
    corrupted, labels = inject_catalog(
        catalog, key, max_issues_per_row=max_issues_per_row,
        issue_probability=issue_probability,
    )
    cells = detect_cells_by_method(corrupted, key)

    cells.write.mode("overwrite").parquet(f"{out_dir}/cell_findings.parquet")
    labels.write.mode("overwrite").parquet(f"{out_dir}/labels.parquet")

    # collapse detections to per-(row, field) method flags first — a cell
    # detected by BOTH validation and pattern must count once per method
    # and once combined (reference uses per-method sets of (row, column))
    det = cells.groupBy(key, "field").agg(
        F.max((F.col("method") == "validation").cast("boolean")).alias("has_v"),
        F.max((F.col("method") == "pattern").cast("boolean")).alias("has_p"),
    )
    lab = labels.select(key, "field", "injection_type")
    n_rows = catalog.count()

    report: dict = {"sample": {"n_rows": n_rows, "fields": []}, "per_field": {}}
    # one full-outer join + ONE grouped aggregation computes every
    # per-field per-method cell — no driver-side count loop
    joined = det.alias("d").join(
        lab.alias("l"), on=[key, "field"], how="full_outer"
    ).select(
        F.coalesce(F.col("d.field"), F.col("l.field")).alias("field"),
        F.coalesce(F.col("d.has_v"), F.lit(False)).alias("has_v"),
        F.coalesce(F.col("d.has_p"), F.lit(False)).alias("has_p"),
        F.col("l.injection_type").alias("injection_type"),
    )
    it = F.col("injection_type")
    aggs = []
    for inj_type, method in _METHOD_FOR_TYPE.items():
        p = method[0]
        has = F.col(f"has_{p}")
        inj = it.eqNullSafe(inj_type)
        # fp per reference: detected by this method but not injected WITH
        # the matching type (anomaly-injected rows caught by validation
        # count as validation FPs)
        aggs += [
            F.sum((has & inj).cast("long")).alias(f"{p}_tp"),
            F.sum((has & ~inj).cast("long")).alias(f"{p}_fp"),
            F.sum((~has & inj).cast("long")).alias(f"{p}_fn"),
        ]
    detected_any = F.col("has_v") | F.col("has_p")
    aggs += [
        F.sum((detected_any & it.isNotNull()).cast("long")).alias("c_tp"),
        F.sum((detected_any & it.isNull()).cast("long")).alias("c_fp"),
        F.sum((~detected_any & it.isNotNull()).cast("long")).alias("c_fn"),
    ]
    rows = joined.groupBy("field").agg(*aggs).collect()
    report["sample"]["fields"] = sorted(r["field"] for r in rows)

    def _prf(tp: int, fp: int, fn: int) -> dict:
        prec = tp / (tp + fp) if tp + fp else 0.0
        rec = tp / (tp + fn) if tp + fn else 0.0
        f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
        return {
            "precision": round(prec, 3), "recall": round(rec, 3), "f1": round(f1, 3),
            "true_positives": tp, "false_positives": fp, "false_negatives": fn,
        }

    for r in sorted(rows, key=lambda r: r["field"]):
        block = {
            method: _prf(r[f"{method[0]}_tp"], r[f"{method[0]}_fp"], r[f"{method[0]}_fn"])
            for method in _METHOD_FOR_TYPE.values()
        }
        combined = _prf(r["c_tp"], r["c_fp"], r["c_fn"])
        combined["assessment"] = _assessment(combined["f1"])
        block["combined"] = combined
        report["per_field"][r["field"]] = block
    from .probe import load_probe_reports

    probes = load_probe_reports(probe_dirs)
    if probes:
        report["model_probes"] = probes
    write_bytes(spark, f"{out_dir}/consolidated_report.json", json.dumps(report, indent=1).encode())
    return report
