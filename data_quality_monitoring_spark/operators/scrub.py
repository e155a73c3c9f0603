"""PII / toxicity regex scrubber producing ``text_scrubbed``.

The north-star invariant is **byte-identical scrubbed text per url**, so the
scrub chain is an *ordered* list of substitutions (order is semantics, like
the reference's count-limited ``regex_replace`` injection op,
``common/error_injection.py:215-219``) and every pattern is written in the
common subset of Python-``re`` / Java-regex / RE2 syntax so the three
execution paths agree byte-for-byte:

* ``scrub_columns`` — native ``regexp_replace`` chain (JVM, whole-stage
  codegen: the 100-TB path),
* ``scrub_pandas`` — the same chain via Python ``re`` (oracle / parity path),
* DuckDB ``regexp_replace(..., 'g')`` (driver correctness oracle).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# (name, pattern, replacement) — ORDER IS SEMANTICS.  Email precedes phone so
# digits inside an address are consumed as part of the email token.
DEFAULT_SCRUB_CHAIN: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone_intl", r"\+\d{1,2}[-. ]?\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}", "[PHONE]"),
    ("phone_us", r"(?:\(\d{3}\)|\b\d{3})[-. ]\d{3}[-. ]\d{4}\b", "[PHONE]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    ("card", r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b", "[CARD]"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "[IP]"),
    ("toxicity", r"(?i)\b(?:frakking|dagnabbit|blasted|gorram)\b", "[REDACTED]"),
]


def scrub_column(col: Column) -> Column:
    """Ordered native ``regexp_replace`` chain — stays inside codegen."""
    out = col
    for _, pattern, repl in DEFAULT_SCRUB_CHAIN:
        out = F.regexp_replace(out, pattern, repl)
    return out


def scrub_pandas(s: pd.Series) -> pd.Series:
    """Python-``re`` twin of :func:`scrub_column` (oracle/parity path)."""
    out = s
    for _, pattern, repl in DEFAULT_SCRUB_CHAIN:
        out = out.str.replace(pattern, repl, regex=True)
    return out


def scrub_str(text: str | None) -> str | None:
    if text is None:
        return None
    for _, pattern, repl in DEFAULT_SCRUB_CHAIN:
        text = re.sub(pattern, repl, text)
    return text


def scrub_sql(col_name: str) -> str:
    """DuckDB-flavoured SQL expression for the driver's correctness oracle."""
    expr = col_name
    for _, pattern, repl in DEFAULT_SCRUB_CHAIN:
        pat = pattern.replace("'", "''")
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    return expr
