"""Multi-field detection over a reference-style catalog table (FIXTURES.md §4)."""

from pyspark.sql import functions as F

from data_quality_monitoring_spark.operators.multifield import cell_findings, detect_fields

CATALOG = [
    # (id, material, colour, season, care)
    (1, "95% Cotton, 5% Elastane", "off white", "Fall 2022", "Machine wash 30°C"),
    (2, "95% Cotton, 10% Elastane", "off white", "Fall 2022", "Machine wash 30°C"),  # pct sum
    # note: the reference's year regex only matches 19xx/20xx, so "1875"
    # would pass — 1975 is the out-of-range year it actually catches
    (3, "100% Wool", "engine oil black", "Fall 1975", "Machine wash 30°C"),  # year + unknown colour
    (4, "100% Silk (", "red", "Fall 2022", "Machine wash cold. Do not wash."),  # paren + contradiction
    (5, None, "blue", "Fall 2022", "Hand wash"),  # missing material
]

RULES = {
    "material": [
        {"type": "missing", "error_code": "MISSING_MATERIAL"},
        {"type": "percentage_sum_check", "error_code": "PCT_SUM"},
        {"type": "parenthesis_check", "error_code": "PAREN"},
    ],
    "season": [
        {"type": "year_range_check", "min_year": 2000, "max_year": 2030, "error_code": "YEAR"},
    ],
    "care": [
        {
            "type": "contradiction_check",
            "contradiction_pairs": [["machine wash", "do not wash"]],
            "error_code": "CONTRA",
        },
    ],
}
PATTERNS = {
    "colour": {"known_values": ["off white", "red", "blue", "black"], "probabilities": {}},
}


def test_detect_fields_one_pass(spark):
    df = spark.createDataFrame(CATALOG, ["id", "material", "colour", "season", "care"])
    detected = detect_fields(df, RULES, PATTERNS)
    cells = cell_findings(detected, "id", ["material", "colour", "season", "care"]).collect()
    got = {(r["id"], r["field"]): (r["status"], r["code"]) for r in cells}
    assert got == {
        (2, "material"): ("ERROR", "PCT_SUM"),
        (3, "colour"): ("ANOMALY", "UNKNOWN_VALUE"),
        (3, "season"): ("ERROR", "YEAR"),
        (4, "material"): ("ERROR", "PAREN"),
        (4, "care"): ("ERROR", "CONTRA"),
        (5, "material"): ("ERROR", "MISSING_MATERIAL"),
    }
    # result ordering: (key, field) like the reference sort
    keys = [(r["id"], r["field"]) for r in cells]
    assert keys == sorted(keys)


def test_catalog_full_rulesets_match_python_oracle(spark):
    """FULL ported reference rulesets (incl. the lookaround regexes the SQL
    oracle can't run) over every catalog fixture value: the Spark engine's
    first hit must equal the pure-Python oracle's."""
    import pandas as pd
    from pyspark.sql import functions as F

    from data_quality_monitoring_spark.catalog import CATALOG_FIXTURES, load_field_rules
    from data_quality_monitoring_spark.operators.rules import first_hit
    from data_quality_monitoring_spark.oracle import rule_first_hit

    for field, fixtures in CATALOG_FIXTURES.items():
        rules = load_field_rules(field)
        df = spark.createDataFrame(pd.DataFrame({"v": pd.Series(fixtures, dtype="object")}))
        got = [
            None if f is None else (f["rule"], f["code"])
            for f in df.select(first_hit(F.col("v"), rules).alias("f")).toPandas()["f"]
        ]
        want = [
            None if (f := rule_first_hit(v, rules)) is None else (f["rule"], f["code"])
            for v in fixtures
        ]
        assert got == want, f"{field}: {got} != {want}"


def test_catalog_fixtures_exercise_rules():
    """Each catalog field's fixtures must trip at least 3 distinct rules
    (the corpus port is exercised, not just loaded)."""
    from data_quality_monitoring_spark.catalog import CATALOG_FIXTURES, load_field_rules
    from data_quality_monitoring_spark.oracle import rule_first_hit

    for field, fixtures in CATALOG_FIXTURES.items():
        rules = load_field_rules(field)
        codes = {f["code"] for v in fixtures if (f := rule_first_hit(v, rules))}
        passes = sum(1 for v in fixtures if rule_first_hit(v, rules) is None)
        assert len(codes) >= 3, f"{field} fixtures only trip {codes}"
        assert passes >= 1, f"{field} has no passing fixture"


def test_ported_injection_rules_recoverable(spark):
    """Ported error-injection rules for material corrupt values that the
    ported material validator then flags (inject → detect recovery)."""
    from data_quality_monitoring_spark.catalog import load_field_rules, load_injection_rules
    from data_quality_monitoring_spark.operators.injection import apply_rule
    import random

    inj = load_injection_rules("material")
    assert len(inj) >= 5
    rng = random.Random(7)
    clean = "70% wool, 30% silk"
    corrupted = [apply_rule(clean, r, rng) for r in inj]
    # at least half the rules actually change this value
    changed = [c for c in corrupted if c != clean]
    assert len(changed) >= len(inj) // 2


def test_url_quality_ruleset(spark):
    """UT1-style URL filtering through the same engine: the shipped
    url_quality ruleset runs as a multifield field→column mapping and the
    independent oracle agrees on every crafted case."""
    import pandas as pd
    from pyspark.sql import functions as F

    from data_quality_monitoring_spark.operators.multifield import detect_fields
    from data_quality_monitoring_spark.oracle import rule_first_hit
    from data_quality_monitoring_spark.resources import read_package_json

    spec = read_package_json("rulesets", "url_quality.json")
    rules = spec["rules"]
    cases = [
        (None, "NO_URL"),
        ("ftp://files.example.com/a", "BAD_SCHEME"),
        ("https://example.com/" + "x" * 2048, "URL_TOO_LONG"),
        ("https://best-casino-wins.example/page", "BLOCKED_DOMAIN"),
        ("https://example.com/setup.exe", "BINARY_DOWNLOAD"),
        ("https://example.com/dl.ZIP?x=1", "BINARY_DOWNLOAD"),
        ("https://example.com/p?phpsessid=abc", "SESSION_URL"),
        ("https://example.com/0123456789012345678901", "DIGIT_URL"),
        ("https://example.com/article/clean-title", None),
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"url": pd.Series([c for c, _ in cases], dtype="object")})
    )
    out = detect_fields(df, {"url": rules})
    got = [None if f is None else f["code"] for f in out.select("f_url").toPandas()["f_url"]]
    assert got == [e for _, e in cases]
    oracle = [
        None if (f := rule_first_hit(u, rules)) is None else f["code"] for u, _ in cases
    ]
    assert oracle == [e for _, e in cases]
