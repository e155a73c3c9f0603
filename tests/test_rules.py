"""Per-rule-type semantics: Spark compiler vs independent Python oracle.

Table-driven over all reference rule types (SURVEY.md §2.2, reference
``validators/json_validator.py:74-284``) plus the web-text extensions, on
crafted values, asserting identical first-hit codes — through the one rule
engine (batched bitmask UDF for regex/word/char/line rules, native Columns
for the rest).
"""

import pandas as pd
from pyspark.sql import functions as F

from data_quality_monitoring_spark.operators.rules import all_findings, first_hit
from data_quality_monitoring_spark.oracle import rule_first_hit

CASES: list[tuple[list[dict], list[tuple[str | None, str | None]]]] = [
    # (ruleset, [(value, expected_code)])
    (
        [{"type": "missing", "error_code": "MISSING"}],
        [(None, "MISSING"), ("x", None), ("", None)],
    ),
    (
        [{"type": "empty_string", "error_code": "EMPTY"}],
        [("", "EMPTY"), (" ", None), (None, None)],
    ),
    (
        [{"type": "whitespace", "error_code": "WS"}],
        [(" x", "WS"), ("x ", "WS"), ("x\t", "WS"), ("x\n", "WS"), ("x y", None), ("x", None)],
    ),
    (
        [{"type": "min_length", "min_length": 3, "error_code": "SHORT"}],
        [("ab", "SHORT"), ("abc", None), ("", "SHORT")],
    ),
    (
        [{"type": "max_length", "max_length": 3, "error_code": "LONG"}],
        [("abcd", "LONG"), ("abc", None)],
    ),
    (
        [{"type": "regex", "pattern": r"\d{3}", "error_code": "RX"}],
        [("ab 123 c", "RX"), ("12", None)],
    ),
    (
        [
            {
                "type": "regex",
                "pattern": "BAD",
                "case_insensitive": True,
                "exclude_patterns": ["ok.*"],
                "error_code": "RX",
            }
        ],
        [("this is bad", "RX"), ("ok but bad", None), ("fine", None)],
    ),
    (
        [{"type": "regex_multiple", "patterns": ["foo", "bar$"], "error_code": "RXM"}],
        [("xfoox", "RXM"), ("a bar", "RXM"), ("bar none", None)],
    ),
    (
        [{"type": "regex_negative", "patterns": [r"[A-Z]\w+"], "error_code": "RXN"}],
        [("lower", "RXN"), ("Upper", None), ("x Upper", "RXN")],  # re.match anchored
    ),
    (
        [{"type": "keyword_check", "required_keywords": ["wash", "dry"], "error_code": "KW"}],
        [("machine WASH cold", None), ("tumble Dry", None), ("iron only", "KW")],
    ),
    (
        [{"type": "keyword_blocklist", "blocked_keywords": ["cookie"], "error_code": "BP"}],
        [("accept Cookies now", "BP"), ("clean prose", None)],
    ),
    (
        [{"type": "percentage_sum_check", "error_code": "PCT"}],
        [
            ("95% Cotton, 5% Elastane", None),
            ("95% Cotton, 10% Elastane", "PCT"),
            ("no percentages here", None),
            ("100.05% wool", None),  # within 0.1 tolerance
        ],
    ),
    (
        [{"type": "parenthesis_check", "error_code": "PAREN"}],
        [("(a)", None), ("(a", "PAREN"), ("a)b)", "PAREN"), ("", None)],
    ),
    (
        [{"type": "year_range_check", "min_year": 2000, "max_year": 2030, "error_code": "YR"}],
        [("Fall 2022", None), ("Fall 1875", None), ("Fall 1975", "YR"), ("Year 2031", "YR")],
    ),
    (
        [{"type": "temperature_check", "min_temp": 0, "max_temp": 95, "error_code": "TMP"}],
        [("wash 30°C", None), ("wash 120F", None), ("wash 300 F", "TMP"), ("no temp", None)],
    ),
    (
        [
            {
                "type": "contradiction_check",
                "contradiction_pairs": [["machine wash", "do not wash"]],
                "error_code": "CONTRA",
            }
        ],
        [("Machine wash cold. Do Not Wash.", "CONTRA"), ("machine wash", None)],
    ),
    (
        [{"type": "type_check", "expected_type": "numeric", "error_code": "TYPE"}],
        [("12.5", None), ("abc", "TYPE")],
    ),
    # web-text extensions
    (
        [{"type": "min_words", "min_words": 3, "error_code": "NW"}],
        [("one two", "NW"), ("one two three", None), ("  ", "NW")],
    ),
    (
        [{"type": "max_digit_ratio", "max_ratio": 0.5, "error_code": "DIG"}],
        [("12345a", "DIG"), ("1a2b3c", None)],
    ),
    (
        [{"type": "max_symbol_ratio", "max_ratio": 0.3, "error_code": "SYM"}],
        [("!!!!a", "SYM"), ("ab!c", None)],
    ),
    (
        [{"type": "min_distinct_word_ratio", "min_ratio": 0.5, "error_code": "REP"}],
        [("a a a a b", "REP"), ("a b c a", None)],
    ),
    (
        [{"type": "max_word_length", "max_word_length": 5, "error_code": "WL"}],
        [("abcdef x", "WL"), ("abcde x", None)],
    ),
    (
        [{"type": "min_stopword_count", "stopwords": ["the", "of"], "min_count": 2, "error_code": "SW"}],
        [("the cat of x", None), ("the cat", "SW"), ("cat dog", "SW")],
    ),
    (
        [{"type": "max_line_dup_ratio", "max_ratio": 0.3, "error_code": "LDUP"}],
        [("a\na\na\nb", "LDUP"), ("a\nb\nc", None), ("single", None)],
    ),
    (
        [{"type": "min_mean_word_length", "min_mean": 3, "error_code": "MWL"}],
        [("a b c", "MWL"), ("abcd efgh", None)],
    ),
    (
        [{"type": "min_alpha_word_ratio", "min_ratio": 0.8, "error_code": "AWR"}],
        [
            ("123 456 789 word", "AWR"),  # 1/4 alpha words
            ("one two three 44", "AWR"),  # 3/4 = 0.75 < 0.8
            ("all alpha words here", None),
            ("a1 b2 c3", None),  # every word contains a letter
        ],
    ),
    (
        [{"type": "max_bullet_ratio", "max_ratio": 0.5, "error_code": "BULLET"}],
        [
            ("• one\n• two\nthree", "BULLET"),  # 2/3 bulleted
            ("- a\ntext line\nmore text", None),  # 1/3
            ("• only", "BULLET"),
            ("\t• one\n\t• two\nplain", "BULLET"),  # tab-padded bullets
            ("plain\n\n  \n", None),  # blank lines ignored
        ],
    ),
    (
        [{"type": "max_ellipsis_line_ratio", "max_ratio": 0.3, "error_code": "ELLIP"}],
        [
            ("read more...\nclick here…\nfull text", "ELLIP"),  # 2/3
            ("read more...\r\nnext\r\nplain\r\nlast", None),  # CRLF: 1/4
            ("more...\r\nagain...\r\nplain", "ELLIP"),  # CRLF: 2/3
            ("one...\ntwo\nthree\nfour", None),  # 1/4
            ("no ellipsis at all", None),
        ],
    ),
]


def _spark_codes(spark, values, rules):
    df = spark.createDataFrame(pd.DataFrame({"v": pd.Series(values, dtype="object")}))
    out = df.select(first_hit(F.col("v"), rules).alias("f")).toPandas()
    return [None if f is None else f["code"] for f in out["f"]]


def test_rule_types_match_oracle(spark):
    for rules, cases in CASES:
        values = [v for v, _ in cases]
        expected = [e for _, e in cases]
        oracle = [None if (f := rule_first_hit(v, rules)) is None else f["code"] for v in values]
        assert oracle == expected, f"oracle disagrees with table for {rules}"
        got = _spark_codes(spark, values, rules)
        assert got == expected, f"spark disagrees for {rules}: {got}"


def test_first_hit_order_is_semantics(spark):
    rules = [
        {"type": "min_length", "min_length": 5, "error_code": "A", "probability": 0.5},
        {"type": "regex", "pattern": "x", "error_code": "B", "probability": 0.6},
    ]
    # "x" fails both → first (A) must win, in Spark and the oracle
    assert _spark_codes(spark, ["x"], rules) == ["A"]
    assert rule_first_hit("x", rules)["code"] == "A"
    # reversed order → B wins
    rev = list(reversed(rules))
    assert _spark_codes(spark, ["x"], rev) == ["B"]
    assert rule_first_hit("x", rev)["code"] == "B"


def test_all_findings_collects_every_hit(spark):
    rules = [
        {"type": "min_length", "min_length": 5, "error_code": "A"},
        {"type": "regex", "pattern": "x", "error_code": "B"},
    ]
    df = spark.createDataFrame([("x",)], ["v"])
    out = df.select(all_findings(F.col("v"), rules).alias("fs")).collect()[0]["fs"]
    assert [f["code"] for f in out] == ["A", "B"]


def test_bitmask_shards_beyond_63_rules(spark):
    # 70 batched (regex) rules: global indices 64+ must not overflow the
    # signed-long mask — the bitmask shards into an array<long> by position
    rules = [
        {"type": "regex", "pattern": f"tok{i:02d}", "error_code": f"R{i:02d}"}
        for i in range(70)
    ]
    values = ["tok00 here", "has tok69 late", "clean text", None]
    got = _spark_codes(spark, values, rules)
    oracle = [None if (f := rule_first_hit(v, rules)) is None else f["code"] for v in values]
    assert got == oracle == ["R00", "R69", None, None]
