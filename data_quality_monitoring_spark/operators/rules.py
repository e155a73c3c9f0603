"""JSON-driven validation rule engine, compiled to Spark Column expressions.

Re-expresses the reference's 14-way rule dispatcher
(``validators/json_validator.py:74-284`` in the reference repo) as a
*compiler*: a JSON ruleset becomes one first-hit chain of Column
expressions.  Two semantics carried over exactly:

1. **Rule order is semantics** — rules are evaluated in JSON order and the
   first hit wins (reference ``json_validator.py:66-72``).  We preserve this
   with an ordered ``coalesce(when(p1, s1), when(p2, s2), ...)``.
2. **Null skip** — only the ``missing`` rule fires on null; every other rule
   is guarded by ``isNotNull`` (reference ``json_validator.py:89-91``).

One engine: each rule type has exactly one Spark-side form, chosen by its
type.

* Regex (``regex``, ``regex_multiple``, ``regex_negative``), word-stat,
  char-class ratio, line-layout and ``custom`` rules of a column are
  evaluated together in **one** Arrow-batched pandas UDF that returns a
  bitmask (one bit per rule); the chain then tests bits — a single Python
  hop per column.  Regexes run in Python ``re``, as the reference does
  (``json_validator.py:130``).
* Every other type (missing, type, empty-string, whitespace, length,
  keyword, percentage, parenthesis, year, temperature, contradiction) is a
  native Column expression.

Why the batched types have no native form: compiled natively (Java-regex
``rlike`` plus interpreted higher-order array functions) they are slower
on the rulesets the jobs run.  On 100k docs (local[4], rules column only,
noop sink, 5 interleaved reps) the default ``text_quality`` ruleset took
1.13–1.58 s batched vs 4.64–5.69 s native, with 0/100k verdicts
differing; only the regex-only, short-string ``url_quality`` ruleset ran
faster native (0.24–0.53 s vs 0.49–0.74 s).  Picking the form by input is
not an option: Java and Python regex semantics differ on unicode classes
and inline flags, so verdicts would depend on which form ran.

Beyond the reference's 14 types, this adds the web-text quality rules the
north star requires (length/repetition/boilerplate/character-class ratios —
Gopher/C4-style):
``min_words, max_words, max_digit_ratio, max_symbol_ratio,
min_alpha_ratio, min_distinct_word_ratio, max_word_length,
min_mean_word_length, max_mean_word_length, min_stopword_count,
keyword_blocklist, max_line_dup_ratio, max_bullet_ratio,
max_ellipsis_line_ratio, min_alpha_word_ratio``.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

FINDING_TYPE = T.StructType(
    [
        T.StructField("rule", T.StringType()),
        T.StructField("code", T.StringType()),
        T.StructField("probability", T.DoubleType()),
    ]
)

# regex-family rules: Python ``re`` in the batch UDF, as the reference
_REGEX_TYPES = {"regex", "regex_multiple", "regex_negative"}

# word-statistics and line-layout rules: Spark's higher-order array
# functions (transform/filter/aggregate) run interpreted, not codegen'd —
# measured 3.4× slower than the batch UDF evaluating all of them with one
# shared word split (4.9 s → 1.4 s for 200k docs at local[32])
_WORDSTAT_TYPES = {
    "min_words",
    "max_words",
    "min_distinct_word_ratio",
    "min_alpha_word_ratio",
    "max_word_length",
    "min_mean_word_length",
    "max_mean_word_length",
    "min_stopword_count",
    "max_line_dup_ratio",
    "max_bullet_ratio",
    "max_ellipsis_line_ratio",
}

# char-class ratio rules: native regexp_replace costs one full text pass
# per rule on the JVM side; in the batch UDF they are one vectorised C
# str.count over the already-hot string
_CHARSTAT_TYPES = {"max_digit_ratio", "max_symbol_ratio", "min_alpha_ratio"}

# every rule type the bitmask UDF evaluates; all others compile natively
_BATCHED_TYPES = _REGEX_TYPES | _WORDSTAT_TYPES | _CHARSTAT_TYPES | {"custom"}

# bullet markers for the Gopher layout heuristic (max_bullet_ratio)
BULLET_CHARS = ["•", "-", "*", "·", "●", "▪"]

_WS = r"[ \t\n\r\f\x0B]"  # NOT \v: Java \v is a CLASS (incl. \x85); \x0B is the same char in every engine

# Extension point (reference ValidatorInterface._validate_entry +
# 'module:Class' dynamic loading, SURVEY.md §2.10): custom predicates are
# REGISTERED by name instead of dynamically imported on executors — the
# closure ships with the UDF, no import machinery in the task.  A custom
# predicate is a vectorised callable pd.Series[str] -> pd.Series[bool]
# (True = rule fires); reference it from a ruleset as
# {"type": "custom", "predicate": "<registered name>", ...}.
CUSTOM_PREDICATES: dict = {}


def register_predicate(name: str):
    def deco(fn):
        import sys

        mod = sys.modules.get(fn.__module__)
        if mod is not None and not (mod.__name__ or "").startswith(
            "data_quality_monitoring_spark"
        ):
            # predicates defined outside the shipped package (notebooks,
            # tests) must pickle BY VALUE or executors can't import them
            try:
                from pyspark import cloudpickle  # the serializer Spark uses

                cloudpickle.register_pickle_by_value(mod)
            except Exception:
                pass
        CUSTOM_PREDICATES[name] = fn
        return fn

    return deco


def _count_char(col: Column, ch: str) -> Column:
    return F.length(col) - F.length(F.replace(col, F.lit(ch), F.lit("")))


def _native_predicate(col: Column, rule: dict) -> Column:
    """Compile one non-batched rule to a boolean Column (fires == True).
    Null-unsafe: callers wrap with the isNotNull guard."""
    rt = rule["type"]
    if rt == "missing":
        return col.isNull()
    if rt == "type_check":
        expected = rule.get("expected_type", "string")
        if expected in ("numeric", "float", "int"):
            return col.try_cast("double").isNull()  # ANSI-safe (Spark 4 default)
        return F.lit(False)  # string columns satisfy string type_check by schema
    if rt == "empty_string":
        return col == F.lit("")
    if rt == "whitespace":
        # python str.strip() parity: any leading/trailing whitespace
        return col.rlike(rf"^{_WS}") | col.rlike(rf"{_WS}$")
    if rt == "min_length":
        return F.length(col) < int(rule["min_length"])
    if rt == "max_length":
        return F.length(col) > int(rule["max_length"])
    if rt == "keyword_check":
        keywords = rule["required_keywords"]
        target = col if rule.get("case_sensitive") else F.lower(col)
        present = F.lit(False)
        for k in keywords:
            kk = k if rule.get("case_sensitive") else k.lower()
            present = present | target.contains(kk)
        return ~present
    if rt == "keyword_blocklist":
        target = F.lower(col)
        present = F.lit(False)
        for k in rule["blocked_keywords"]:
            present = present | target.contains(k.lower())
        return present
    if rt == "percentage_sum_check":
        tol = float(rule.get("tolerance", 0.1))
        target = float(rule.get("target", 100.0))
        pcts = F.regexp_extract_all(col, F.lit(r"(\d+(?:\.\d+)?)" + _WS + r"*%"), F.lit(1))
        total = F.aggregate(pcts, F.lit(0.0), lambda acc, x: acc + x.cast("double"))
        return (F.size(pcts) > 0) & (F.abs(total - F.lit(target)) > tol)
    if rt == "parenthesis_check":
        return _count_char(col, "(") != _count_char(col, ")")
    if rt == "year_range_check":
        lo, hi = int(rule["min_year"]), int(rule["max_year"])
        years = F.regexp_extract_all(col, F.lit(r"\b(19\d{2}|20\d{2})\b"), F.lit(1))
        return F.exists(years, lambda y: (y.cast("int") < lo) | (y.cast("int") > hi))
    if rt == "temperature_check":
        lo = float(rule["min_temp"])
        hi = float(rule["max_temp"])
        temps = F.regexp_extract_all(col, F.lit(r"(\d+)" + _WS + r"*°?" + _WS + r"*[CcFf]"), F.lit(1))
        celsius = F.transform(
            temps,
            lambda t: F.when(t.cast("double") > 100.0, (t.cast("double") - 32.0) * 5.0 / 9.0).otherwise(
                t.cast("double")
            ),
        )
        return F.exists(celsius, lambda c: (c < lo) | (c > hi))
    if rt == "contradiction_check":
        target = F.lower(col)
        fire = F.lit(False)
        for a, b in rule["contradiction_pairs"]:
            fire = fire | (target.contains(a.lower()) & target.contains(b.lower()))
        return fire
    raise ValueError(f"unknown rule type: {rt}")


def _python_regex_fire(rule: dict, series: pd.Series) -> pd.Series:
    """Python-`re` evaluation of one regex-family rule over a batch."""
    import warnings

    # corpus patterns legitimately contain groups; we only test for a match
    warnings.filterwarnings(
        "ignore", message="This pattern is interpreted as a regular expression"
    )
    rt = rule["type"]
    if rt == "regex":
        flags = re.IGNORECASE if rule.get("case_insensitive") else 0
        pat = re.compile(rule["pattern"], flags)
        fire = series.str.contains(pat, na=False)
        for ex in rule.get("exclude_patterns", []):
            fire &= ~series.str.match(re.compile(ex, flags), na=False)
        return fire
    flags = re.IGNORECASE if rule.get("case_insensitive") else 0
    if rt == "regex_multiple":
        fire = pd.Series(False, index=series.index)
        for pat in rule["patterns"]:
            fire |= series.str.contains(re.compile(pat, flags), na=False)
        return fire
    if rt == "regex_negative":
        hit = pd.Series(False, index=series.index)
        for pat in rule["patterns"]:
            hit |= series.str.match(re.compile(pat, flags), na=False)
        return ~hit & series.notna()
    raise AssertionError(rt)


def _wordstat_fire(rule: dict, words: pd.Series) -> pd.Series:
    """Evaluate one word-stat rule over pre-split word lists (one batch)."""
    rt = rule["type"]
    n = words.map(len)
    if rt == "min_words":
        return n < int(rule["min_words"])
    if rt == "max_words":
        return n > int(rule["max_words"])
    if rt == "min_distinct_word_ratio":
        r = float(rule["min_ratio"])
        return (n > 0) & words.map(
            lambda ws: bool(ws) and len({w.lower() for w in ws}) / len(ws) < r
        )
    if rt == "min_alpha_word_ratio":
        r = float(rule["min_ratio"])
        is_alpha = lambda w: any("a" <= c <= "z" or "A" <= c <= "Z" for c in w)
        return words.map(
            lambda ws: bool(ws) and sum(1 for w in ws if is_alpha(w)) / len(ws) < r
        )
    if rt == "max_word_length":
        m = int(rule["max_word_length"])
        return words.map(lambda ws: bool(ws) and max(map(len, ws)) > m)
    if rt == "min_mean_word_length":
        m = float(rule["min_mean"])
        return words.map(lambda ws: bool(ws) and sum(map(len, ws)) / len(ws) < m)
    if rt == "max_mean_word_length":
        m = float(rule["max_mean"])
        return words.map(lambda ws: bool(ws) and sum(map(len, ws)) / len(ws) > m)
    if rt == "min_stopword_count":
        stops = {s.lower() for s in rule["stopwords"]}
        k = int(rule["min_count"])
        return words.map(lambda ws: sum(1 for w in ws if w.lower() in stops) < k)
    raise AssertionError(rt)


_BITS_PER_MASK = 63  # signed long: bit 63 would overflow — shard instead


def _batch_bitmask_udf(rules: list[dict]):
    """One pandas UDF evaluating every batched rule of a column → bitmasks.

    The word split is computed ONCE per batch and shared by all word-stat
    rules; regex rules use pandas' Python-`re`-backed string methods.

    Bits are indexed by POSITION WITHIN THE BATCH (not the rule's global
    index) and sharded into an ``array<long>`` of ⌈n/63⌉ masks, so rulesets
    with 64+ rules cannot overflow a signed long.  Returns
    (udf, {global_rule_index: (shard, bit)})."""
    # resolve custom predicates NOW (driver-side): the registry is not
    # populated on executors, so the function itself must ride the closure
    batch_rules = [
        (
            j,
            {**r, "_fn": CUSTOM_PREDICATES[r["predicate"]]} if r["type"] == "custom" else r,
        )
        for j, r in enumerate(rules)
        if r["type"] in _BATCHED_TYPES
    ]
    positions = {
        j: (pos // _BITS_PER_MASK, pos % _BITS_PER_MASK)
        for pos, (j, _) in enumerate(batch_rules)
    }
    n_shards = max(s for s, _ in positions.values()) + 1 if positions else 1
    needs_words = any(r["type"] in _WORDSTAT_TYPES for _, r in batch_rules)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def bitmask(s: pd.Series) -> pd.Series:
        shards = [pd.Series(0, index=s.index, dtype="int64") for _ in range(n_shards)]
        words = s.str.split() if needs_words else None
        if words is not None:
            words = words.map(lambda w: w if isinstance(w, list) else [])
        for j, rule in batch_rules:
            rt = rule["type"]
            if rt in _REGEX_TYPES:
                fire = _python_regex_fire(rule, s)
            elif rt == "custom":
                fire = rule["_fn"](s)
            elif rt in _CHARSTAT_TYPES:
                n = s.str.len()
                if rt == "max_digit_ratio":
                    fire = (n > 0) & (s.str.count(r"[0-9]") / n > float(rule["max_ratio"]))
                elif rt == "max_symbol_ratio":
                    fire = (n > 0) & (
                        s.str.count(r"[^0-9A-Za-z \t\n\r\f\v]") / n > float(rule["max_ratio"])
                    )
                else:  # min_alpha_ratio
                    fire = (n > 0) & (
                        s.str.count(r"[A-Za-z]") / n < float(rule["min_ratio"])
                    )
            elif rt == "max_line_dup_ratio":
                r = float(rule["max_ratio"])

                def line_dup(t):
                    if not isinstance(t, str):
                        return False
                    lines = [x for l in t.split("\n") if (x := l.strip(" \t\n\r\f\x0b"))]
                    return len(lines) > 1 and (len(lines) - len(set(lines))) / len(lines) > r

                fire = s.map(line_dup)
            elif rt in ("max_bullet_ratio", "max_ellipsis_line_ratio"):
                r = float(rule["max_ratio"])
                bullet = rt == "max_bullet_ratio"

                def layout(t):
                    if not isinstance(t, str):
                        return False
                    lines = [x for l in t.split("\n") if (x := l.strip(" \t\n\r\f\x0b"))]
                    if not lines:
                        return False
                    if bullet:
                        n = sum(1 for l in lines if l[0] in BULLET_CHARS)
                    else:
                        n = sum(1 for l in lines if l.endswith(("...", "…")))
                    return n / len(lines) > r

                fire = s.map(layout)
            else:
                fire = _wordstat_fire(rule, words)
            shard, bit = positions[j]
            shards[shard] |= fire.fillna(False).astype("int64") * (1 << bit)
        return pd.Series([list(vals) for vals in zip(*shards)], index=s.index)

    return bitmask, positions


def compile_predicates(col: Column, rules: list[dict]) -> list[tuple[dict, Column]]:
    """Compile a ruleset to ordered (rule, fires?) pairs with null-skip guards.

    Batched types test their bit of the column's one bitmask UDF; every
    other type is a native Column expression."""
    bitmask_col, positions = None, {}
    if any(r["type"] in _BATCHED_TYPES for r in rules):
        udf, positions = _batch_bitmask_udf(rules)
        bitmask_col = udf(col)
    out = []
    for i, rule in enumerate(rules):
        if rule["type"] in _BATCHED_TYPES:
            shard, bit = positions[i]
            fires = (
                F.element_at(bitmask_col, shard + 1).bitwiseAND(F.lit(1 << bit))
            ) != 0
        else:
            fires = _native_predicate(col, rule)
        if rule["type"] != "missing":
            fires = col.isNotNull() & fires
        out.append((rule, fires))
    return out


def _finding(rule: dict) -> Column:
    return F.struct(
        F.lit(rule.get("name", rule["type"])).alias("rule"),
        F.lit(rule.get("error_code", rule["type"].upper())).alias("code"),
        F.lit(float(rule.get("probability", 1.0))).alias("probability"),
    )


def first_hit(col: Column, rules: list[dict]) -> Column:
    """First-failing-rule finding struct (or NULL when the value passes).

    Exact reference semantics: JSON order, first hit short-circuits
    (reference ``json_validator.py:66-72``).
    """
    # One flat Coalesce node, NOT a pairwise-nested chain: nesting N Coalesce
    # levels each duplicating the batched-UDF mask expression sends Catalyst
    # optimization time superlinear (observed: 70 rules never finished; flat
    # form optimizes in milliseconds). Same first-non-null semantics.
    clauses = [F.when(fires, _finding(rule)) for rule, fires in compile_predicates(col, rules)]
    if not clauses:
        return F.lit(None).cast(FINDING_TYPE)
    return (clauses[0] if len(clauses) == 1 else F.coalesce(*clauses)).cast(FINDING_TYPE)


def all_findings(col: Column, rules: list[dict]) -> Column:
    """Every firing rule as array<struct<rule,code,probability>> (diagnostics
    surface; the reference only ever reports the first hit)."""
    elems = [F.when(fires, _finding(rule)) for rule, fires in compile_predicates(col, rules)]
    return F.filter(F.array(*elems), lambda x: x.isNotNull()).cast(T.ArrayType(FINDING_TYPE))
