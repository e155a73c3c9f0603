"""Catalog-shaped multi-field demo: the reference's product-catalog domain.

The reference validates product catalogs (material, care_instructions,
category, color_name, season, size — ``validators/rules/*/baseline.json``);
the driver tables are web-text shaped, so this module derives a catalog
table DETERMINISTICALLY from ``documents.doc_id`` (a CASE over doc_id mod k
per field, same expression in Spark and SQL).  Fixture values are chosen to
exercise several rules per field plus clean passes; the multi-field engine
(``operators/multifield.py``) then runs the PORTED reference rulesets over
all six fields in one projection, and the DuckDB oracle re-evaluates the
same rules through the independent SQL compiler (``oracle_sql.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .resources import read_package_json

# fixture strings per field, indexed by doc_id % len(fixtures).
# None → SQL NULL.  ASCII only: the Spark engine evaluates regexes with
# Python `re`, the oracle with RE2 — \w/\b agree on ASCII.
CATALOG_FIXTURES: dict[str, list[str | None]] = {
    # material words must be FOLLOWED by their percentage ("wool 70%"), per
    # the reference's missing_percentage lookahead
    "material": [
        "wool 70%, silk 30%",
        None,
        "",
        " cotton 80%, elastane 20%",
        "cotton 65% $, linen 35%",
        "wool 55%, nylon 46%",
        "acrylic 50% (brushed, poly 50%",
        "cotton 60.5%, silk 39.5%",
    ],
    "care_instructions": [
        "Machine wash cold, tumble dry low",
        None,
        "",
        "Dry clean only ",
        "Rinse",
        "Keep away from direct sunlight",
        "Machine wash at 500 C",
        "Machine wash warm, do not wash",
    ],
    "category": [
        "Dresses",
        None,
        "",
        "Shoes <b>new</b>",
        "Tops & Tees",
        "Pants7Shorts",
        " Knitwear",
    ],
    "color_name": [
        "Navy Blue",
        None,
        "",
        "Red ",
        "Blue XL",
        "Green @ Teal",
        "12345",
    ],
    "season": [
        "Summer 2024",
        None,
        "",
        "Summer 2024 ",
        "Mid-season sale",
        "Winter 2035",
        "summer_2024!",
    ],
    "size": [
        "XL",
        None,
        "",
        " 42",
        "M?",
        "A1B2",
        "9-5",
    ],
}

CATALOG_FIELDS = list(CATALOG_FIXTURES)


def load_field_rules(field: str) -> list[dict]:
    """Load one ported reference ruleset (rulesets/catalog/validators/<field>.json);
    zip-safe for --py-files packaging (resources.py)."""
    return read_package_json("rulesets", "catalog", "validators", f"{field}.json")["rules"]


def load_pattern_config(field: str) -> dict:
    return read_package_json("rulesets", "catalog", "patterns", f"{field}.json")


def load_injection_rules(field: str, group: str = "error_injection") -> list[dict]:
    return read_package_json("rulesets", "catalog", group, f"{field}.json")["rules"]


def build_catalog(documents: DataFrame) -> DataFrame:
    """documents → catalog-shaped table keyed by ``doc_id`` (Spark side)."""
    cols = [F.col("doc_id")]
    for field, fixtures in CATALOG_FIXTURES.items():
        m = F.pmod(F.col("doc_id"), F.lit(len(fixtures)))
        expr = F.lit(None).cast("string")
        chain = None
        for i, v in enumerate(fixtures):
            lit = F.lit(v) if v is not None else expr
            clause = F.when(m == i, lit)
            chain = clause if chain is None else chain.when(m == i, lit)
        cols.append(chain.alias(field))
    return documents.select(*cols)


def catalog_sql() -> str:
    """The identical derivation as ANSI SQL (DuckDB oracle side), keyed by
    ``doc_id`` over the ``documents`` table."""
    parts = ["doc_id"]
    for field, fixtures in CATALOG_FIXTURES.items():
        whens = []
        for i, v in enumerate(fixtures):
            lit = "NULL" if v is None else "'" + v.replace("'", "''") + "'"
            whens.append(f"WHEN {i} THEN {lit}")
        parts.append(f"CASE doc_id % {len(fixtures)} " + " ".join(whens) + f" END AS {field}")
    return f"SELECT {', '.join(parts)} FROM documents"
