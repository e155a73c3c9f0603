"""Deterministic error/anomaly injection — synthetic corruption for ground truth.

Re-implements the reference's 15-way corruption dispatcher
(``common/error_injection.py:151-388``) and its row-level injection driver
(``error_injection.py:71-131``, ``anomaly_injection.py:109-188``) with two
deliberate changes:

1. **Seeded everywhere.**  The reference uses module-global ``random``
   (unseeded → its own evaluation runs are not reproducible).  Here every
   random draw comes from a ``random.Random`` seeded by ``crc32(url)`` (plus
   a run salt), so corruption is a pure function of (url, rules, salt):
   identical across partitionings, retries and engines.
2. **No eval().**  The reference's ``regex_extract_validate`` evaluates a
   config string with ``eval()`` (``error_injection.py:273``) — a code-
   injection hole.  We whitelist comparison operators instead.

Rule grammar (same as the reference): ``{name, operation, params,
conditions: [{type: contains|not_contains|equals|regex_match, ...}],
probability}``.  Conditions are OR-ed; the first satisfied condition enables
the rule (reference ``:179-200``); the probability gate then draws once
(reference ``:203-205``).

Execution model: corruption is a test-data generator, not the 100-TB hot
path — a single Arrow-batched pandas UDF per corrupted column is the right
cost.  The injected labels come back as a second column, exploded into the
labels table (reference injection metadata,
``comprehensive_sample_generator.py:90-103``).
"""

from __future__ import annotations

import random
import re
import string
import zlib

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_COMPARATORS = {
    "==": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    "<": lambda a, b: float(a) < float(b),
    "<=": lambda a, b: float(a) <= float(b),
    ">": lambda a, b: float(a) > float(b),
    ">=": lambda a, b: float(a) >= float(b),
    "len<": lambda a, b: len(a) < int(b),
    "len>": lambda a, b: len(a) > int(b),
}


def _conditions_met(value: str, rule: dict) -> bool:
    conds = rule.get("conditions")
    if not conds:
        return True
    for cond in conds:
        t = cond["type"]
        if t == "contains" and str(cond["value"]) in value:
            return True
        if t == "not_contains" and str(cond["value"]) not in value:
            return True
        if t == "equals" and value == str(cond["value"]):
            return True
        if t == "regex_match" and re.search(cond["pattern"], value):
            return True
    return False


def apply_rule(value, rule: dict, rng: random.Random):
    """Apply one corruption rule (reference apply_error_rule semantics,
    seeded)."""
    if not isinstance(value, str):
        return value
    if not _conditions_met(value, rule):
        return value
    if "probability" in rule and rng.random() > rule["probability"]:
        return value

    op = rule["operation"]
    p = rule.get("params", {})
    s = value

    if op == "string_replace":
        return s.replace(str(p["find"]), str(p["replace"]))
    if op == "regex_replace":
        return re.sub(p["pattern"], p["replace"], s, count=p.get("count", 0))
    if op == "prepend":
        return p["text"] + s
    if op == "append":
        return s + p["text"]
    if op == "replace_with":
        return p["text"]
    if op == "random_noise":
        if not s:
            return s
        kind = p.get("type", "chars")
        if kind == "chars":
            chars = p.get("chars", "!@#$%^&*()[]{}|;:\",./<>?")
            noise = "".join(rng.choices(chars, k=p.get("length", 1)))
            pos = rng.randint(0, len(s))
            return s[:pos] + noise + s[pos:]
        if kind == "duplicate":
            parts = s.split()
            return s + " " + rng.choice(parts) if parts else s
        if kind == "random_chars":
            noise = "".join(
                rng.choices(string.ascii_letters + string.digits, k=p.get("length", 4))
            )
            pos = rng.randint(0, len(s))
            return s[:pos] + noise + s[pos:]
        char = rng.choice('!@#$%^&*()[]{}|;:",./<>?')
        pos = rng.randint(0, len(s))
        return s[:pos] + char + s[pos:]
    if op == "regex_extract_validate":
        m = re.search(p["extract_pattern"], s)
        if m and m.lastindex:
            extracted = m.group(1)
            comp = p.get("comparator", "==")  # whitelisted — no eval()
            try:
                if _COMPARATORS[comp](extracted, p.get("operand", "")):
                    return extracted
            except (ValueError, KeyError):
                return s
        return s
    if op == "case_change":
        kind = p.get("type", "upper")
        return {
            "upper": s.upper,
            "lower": s.lower,
            "title": s.title,
            "swap": s.swapcase,
        }.get(kind, s.upper)()
    if op == "truncate":
        return s[: p.get("length", len(s) // 2)]
    if op == "reverse":
        return s[::-1]
    if op == "digit_replacement":
        matches = list(re.finditer(p.get("digit_pattern", r"[0-9]"), s))
        if not matches:
            return s
        m = rng.choice(matches)
        digits = [d for d in p.get("replacement_digits", list("0123456789")) if d != m.group()]
        if not digits:
            return s
        return s[: m.start()] + rng.choice(digits) + s[m.end():]
    if op == "digit_removal":
        digits = [i for i, c in enumerate(s) if c.isdigit()]
        if not digits:
            return s
        pos = rng.choice(digits) if p.get("position", "random") == "random" else p["position"]
        return s[:pos] + s[pos + 1:]
    if op == "digit_duplication":
        digits = [i for i, c in enumerate(s) if c.isdigit()]
        if not digits:
            return s
        pos = rng.choice(digits) if p.get("position", "random") == "random" else p["position"]
        return s[:pos] + s[pos] + s[pos:]
    if op == "character_substitution":
        subs = p.get("substitutions", {"0": "O", "1": "l", "5": "S", "6": "G", "8": "B"})
        for orig, repl in subs.items():
            if orig in s:
                return s.replace(orig, repl, 1)
        return s
    if op == "value_replacement":
        values = p.get("replacement_values", [])
        return rng.choice(values) if values else s
    return s  # unknown operation → unchanged (reference behavior)


def corrupt_value(
    value, url: str, rules: list[dict], intensity: float, salt: str = "inject"
) -> tuple:
    """Row-level injection driver, pure function of (value, url, rules, salt).

    Returns (corrupted_value, rule_name|None).  Mirrors the reference's
    row sampling (eligible = non-null; intensity = fraction corrupted) and
    random-rule choice, with the RNG seeded from the row key.
    """
    if value is None or not isinstance(value, str) or not rules:
        return value, None
    seed = zlib.crc32(f"{salt}:{url}".encode())
    rng = random.Random(seed)
    if rng.random() >= intensity:
        return value, None
    eligible = [r for r in rules if _conditions_met(value, r)]
    if not eligible:
        return value, None
    rule = rng.choice(eligible)
    corrupted = apply_rule(value, {**rule, "probability": 1.0}, rng)
    if corrupted == value:
        return value, None
    return corrupted, rule.get("name", rule["operation"])


INJECT_RESULT = T.StructType(
    [
        T.StructField("corrupted", T.StringType()),
        T.StructField("rule_name", T.StringType()),
    ]
)


def inject_column(
    value: Column, url: Column, rules: list[dict], intensity: float, salt: str = "inject"
) -> Column:
    """Arrow-batched corruption of one column; deterministic per url."""

    @F.pandas_udf(INJECT_RESULT)
    def _inject(vals: pd.Series, urls: pd.Series) -> pd.DataFrame:
        out = [corrupt_value(v, u, rules, intensity, salt) for v, u in zip(vals, urls)]
        return pd.DataFrame(out, columns=["corrupted", "rule_name"])

    return _inject(value, url)


def inject_pages(
    pages: DataFrame,
    rules_by_field: dict[str, list[dict]],
    intensity: float,
) -> tuple[DataFrame, DataFrame]:
    """Corrupt several columns; return (corrupted_pages, labels).

    labels schema mirrors the reference injection metadata
    (``comprehensive_sample_generator.py:90-103``):
    (url, field, rule_name, original_value, corrupted_value).
    """
    df = pages
    label_parts = []
    for field, rules in rules_by_field.items():
        res = inject_column(F.col(field), F.col("url"), rules, intensity, f"inject:{field}")
        df = (
            df.withColumn("_inj", res)
            .withColumn(f"__orig_{field}", F.col(field))
            .withColumn(
                field, F.coalesce(F.col("_inj.corrupted"), F.col(field))
            )
            .withColumn(f"__rule_{field}", F.col("_inj.rule_name"))
            .drop("_inj")
        )
        label_parts.append(
            (field, f"__orig_{field}", f"__rule_{field}")
        )
    labels = None
    for field, orig_col, rule_col in label_parts:
        part = df.filter(F.col(rule_col).isNotNull()).select(
            "url",
            F.lit(field).alias("field"),
            F.col(rule_col).alias("rule_name"),
            F.col(orig_col).alias("original_value"),
            F.col(field).alias("corrupted_value"),
        )
        labels = part if labels is None else labels.unionAll(part)
    corrupted = df.drop(*[c for _, o, r in label_parts for c in (o, r)])
    if labels is None:
        labels = pages.sparkSession.createDataFrame(
            [],
            "url string, field string, rule_name string, original_value string, corrupted_value string",
        )
    return corrupted, labels
