"""Report generation: human messages + JSON findings sinks.

Re-expresses the reference's reporter layer (``validators/report.py:54-99``,
``validators/json_reporter.py:61-124``): each ruleset carries per-code
message templates with ``{param}`` placeholders; the reference renders them
per row with ``str.format(**details)`` and a DEFAULT fallback.

Here the placeholders are rule *parameters*, known at compile time, so
templates render once on the driver and attach as a broadcast code→message
CASE expression — zero per-row Python.  Findings export as a long-format
JSON table (url, field, method, rule, code, probability, message).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_MESSAGE = "validation issue detected"  # reference report.py fallback


def render_messages(rules: list[dict], error_messages: dict[str, str]) -> dict[str, str]:
    """Render each code's template with its rule's params (driver-side)."""
    out: dict[str, str] = {}
    for rule in rules:
        code = rule.get("error_code", rule["type"].upper())
        template = error_messages.get(code, DEFAULT_MESSAGE)

        def sub(m: re.Match) -> str:
            return str(rule.get(m.group(1), m.group(0)))

        out[code] = re.sub(r"\{(\w+)\}", sub, template)
    return out


def message_column(code: Column, messages: dict[str, str]) -> Column:
    chain = None
    for code_value, msg in messages.items():
        clause = F.when(code == F.lit(code_value), F.lit(msg))
        chain = clause if chain is None else chain.when(code == F.lit(code_value), F.lit(msg))
    if chain is None:
        return F.lit(DEFAULT_MESSAGE)
    return chain.otherwise(F.lit(DEFAULT_MESSAGE))


def findings_long(result: DataFrame, messages: dict[str, str] | None = None) -> DataFrame:
    """Pipeline result → long-format findings table (one row per non-null
    method finding per document) — the JSON report surface."""
    parts = []
    for method in ("validation", "pattern", "ml", "llm"):
        col = F.col(f"f_{method}")
        part = result.filter(col.isNotNull()).select(
            "url",
            F.lit("text" if method != "pattern" else "lang").alias("field"),
            F.lit(method).alias("method"),
            col["rule"].alias("rule"),
            col["code"].alias("code"),
            col["probability"].alias("probability"),
        )
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    if messages:
        out = out.withColumn("message", message_column(F.col("code"), messages))
    return out
