"""Pattern-based detector: format regexes + length guards + dictionary membership.

Re-expresses the reference's ``PatternBasedDetector._detect_anomaly``
(``anomaly_detectors/pattern_based/pattern_based_detector.py:204-252``) as a
single native CASE chain.  Reference semantics preserved:

* evaluation order: format patterns → not_empty/max_length/min_length →
  known-values membership; first hit wins (reference ``:220-252``),
* nulls / blank values are skipped entirely (reference ``:215-216``),
* normalisation is ``lower().strip()`` (reference ``:129-133``),
* ``known_values`` entries starting with ``#`` are comments, filtered out
  (reference ``:82-88``),
* a membership miss with a same-3-char-prefix "close match" in the
  dictionary gets probability 0.75, otherwise 0.85 (reference ``:231-249``).

In the north star, known-values membership is the language whitelist /
domain blocklist; the dictionary is broadcast (array literal here; for a
multi-million-entry blocklist, swap to a broadcast-hash left-anti join —
same plan role, still no shuffle).
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import Column
from pyspark.sql import functions as F

from .rules import FINDING_TYPE


def load_pattern_config(path: str | Path) -> dict:
    return json.loads(Path(path).read_text())


def pattern_finding(col: Column, cfg: dict) -> Column:
    """First-hit finding struct for one column under a pattern config."""
    probs = cfg.get("probabilities", {})
    # reference :218 value_str = str(value).strip() — strip the full ASCII
    # whitespace class, not just spaces (F.trim only removes ' ').  \x0B is
    # spelled explicitly: Java's \v is the vertical-whitespace CLASS, not the
    # single char Python means (see rules._WS / oracle.pattern_detect).
    value_str = F.regexp_replace(col, r"^[ \t\n\r\f\x0B]+|[ \t\n\r\f\x0B]+$", "")
    norm = F.lower(value_str)
    skip = col.isNull() | (value_str == "")  # reference :215-216

    clauses: list[Column] = []

    def add(fires: Column, rule: str, code: str, prob_key: str, default_prob: float) -> None:
        clauses.append(
            F.when(
                fires,
                F.struct(
                    F.lit(rule).alias("rule"),
                    F.lit(code).alias("code"),
                    F.lit(float(probs.get(prob_key, default_prob))).alias("probability"),
                ),
            )
        )

    for pat in cfg.get("format_patterns", []):
        # reference uses re.match on the STRIPPED, case-preserved value (:222)
        add(~value_str.rlike("^(?:" + pat + ")"), "format_pattern", "INVALID_FORMAT", "INVALID_FORMAT", 0.8)
    if cfg.get("not_empty"):
        add(value_str == "", "not_empty", "EMPTY_VALUE", "EMPTY_VALUE", 0.9)
    if "max_length" in cfg:
        add(F.length(value_str) > int(cfg["max_length"]), "max_length", "MAX_LENGTH", "MAX_LENGTH", 0.8)
    if "min_length" in cfg:
        add(F.length(value_str) < int(cfg["min_length"]), "min_length", "MIN_LENGTH", "MIN_LENGTH", 0.8)

    known = [v.lower().strip() for v in cfg.get("known_values", []) if not v.startswith("#")]
    if known:
        known_arr = F.lit(known).cast("array<string>")
        member = F.array_contains(known_arr, norm)
        # reference :236-237: known.startswith(norm[:3]) OR norm.startswith(known[:3])
        close = F.exists(
            known_arr,
            lambda kv: kv.startswith(F.substring(norm, 1, 3))
            | norm.startswith(F.substring(kv, 1, 3)),
        )
        miss = ~member
        clauses.append(
            F.when(
                miss,
                F.struct(
                    F.lit("known_values").alias("rule"),
                    F.lit("UNKNOWN_VALUE").alias("code"),
                    F.when(close, F.lit(float(probs.get("UNKNOWN_VALUE_CLOSE", 0.75))))
                    .otherwise(F.lit(float(probs.get("UNKNOWN_VALUE", 0.85))))
                    .alias("probability"),
                ),
            )
        )

    if not clauses:
        return F.lit(None).cast(FINDING_TYPE)
    chain = clauses[0]
    for c in clauses[1:]:
        chain = F.coalesce(chain, c)
    return F.when(~skip, chain).cast(FINDING_TYPE)
