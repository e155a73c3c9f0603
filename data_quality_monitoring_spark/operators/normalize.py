"""Unicode text normalization: NFC + control-character strip.

The ftfy-ish cleanup tier every multilingual web corpus needs before
hashing, dedup or tokenization: visually-identical strings with different
code-point sequences (decomposed accents, ligature forms) must hash the
same, and stray C0/C1 controls from broken encodings must go.

* NFC runs in an Arrow-batched pandas UDF over ``unicodedata.normalize``
  (C-implemented; there is no native Spark SQL NFC as of 4.x).  The DuckDB
  oracle uses ``nfc_normalize`` — both implement UAX #15, verified
  char-for-char in tests and the ``normalize_unicode`` contract query.
* the control strip is a native ``regexp_replace`` (whole-stage codegen);
  the class keeps ``\\t \\n \\x0B \\x0C \\r`` (whitespace handled by the
  rule engine's shared class) and removes the rest of C0 plus DEL.

Order is semantics: NFC first, strip second — identical in both engines.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

CONTROL_CLASS = r"[\x00-\x08\x0E-\x1F\x7F]"


def nfc_column(col: Column) -> Column:
    @F.pandas_udf(T.StringType())
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(lambda t: None if t is None else unicodedata.normalize("NFC", t))

    return _nfc(col)


def normalize_text(col: Column) -> Column:
    """NFC-normalize then strip control characters (C0 minus \\t\\n\\x0B\\x0C\\r, plus DEL)."""
    return F.regexp_replace(nfc_column(col), CONTROL_CLASS, "")


def normalize_sql(expr: str) -> str:
    """The identical normalization in DuckDB SQL (oracle side)."""
    return f"regexp_replace(nfc_normalize({expr}), '{CONTROL_CLASS}', '', 'g')"


# ---------------------------------------------------------------- C4 cleaner

C4_TERMINAL_PUNCT = r'[.!?"”]$'
C4_DIRTY_DEFAULT = r"(?i)\b(?:frakking|dagnabbit|blasted|gorram)\b"


def _c4_kept_lines(
    lines: Column, min_words_per_line: int, require_terminal_punct: bool
) -> Column:
    """The C4 per-line filter: ≥N words, (optional) terminal punctuation,
    no "javascript" — shared by the Column and DataFrame forms."""
    word_ok = lambda ln: (  # noqa: E731
        # explicit whitespace class (rules._WS convention): Java \s and
        # RE2 \s disagree on \x0B, so the oracle must see the same split
        F.size(F.filter(F.split(ln, r"[ \t\n\r\f\x0B]+"), lambda w: w != ""))
        >= min_words_per_line
    )
    punct_ok = (
        (lambda ln: F.trim(ln).rlike(C4_TERMINAL_PUNCT))
        if require_terminal_punct
        else (lambda ln: F.lit(True))
    )
    js_free = lambda ln: ~F.lower(ln).rlike(r"\bjavascript\b")  # noqa: E731
    return F.filter(lines, lambda ln: word_ok(ln) & punct_ok(ln) & js_free(ln))


def c4_line_signals(
    col: Column,
    *,
    min_words_per_line: int = 5,
    require_terminal_punct: bool = True,
    lines_col: Column | None = None,
    kept_col: Column | None = None,
) -> dict[str, Column]:
    """C4 line-level cleaning signals (Raffel et al. 2020 §2.2 — the
    Colossal Clean Crawled Corpus heuristics, also the backbone of
    FineWeb's "C4 filters" stage).

    Per document: split into lines, keep a line iff it has
    ``min_words_per_line``+ words, (optionally) ends in terminal
    punctuation, and does not contain the word "javascript"; rebuild
    ``text_clean`` from the kept lines.  Doc-level flags: a curly brace
    anywhere, "lorem ipsum", a dirty word (the scrub chain's fictional
    placeholder list stands in for the LDNOOBW list the paper uses).

    Pure Column expressions — scan-local, zero shuffles, no Python.
    ``lines_col`` takes a pre-materialized non-blank-lines array so the
    split runs once, not once per signal (see :func:`c4_clean_df`)."""
    text = F.coalesce(col, F.lit(""))
    lines = (
        F.filter(F.split(text, "\n"), lambda ln: F.trim(ln) != "")
        if lines_col is None
        else lines_col
    )
    kept = (
        _c4_kept_lines(lines, min_words_per_line, require_terminal_punct)
        if kept_col is None
        else kept_col
    )
    low = F.lower(text)
    return {
        "n_lines": F.size(lines),
        "n_kept_lines": F.size(kept),
        "text_clean": F.array_join(kept, "\n"),
        "has_brace": text.contains("{"),
        "has_lorem": low.contains("lorem ipsum"),
        "has_dirty": low.rlike(C4_DIRTY_DEFAULT),
    }


def c4_keep(sig: dict[str, Column], *, min_kept_lines: int = 3) -> Column:
    """C4 document verdict from :func:`c4_line_signals`: at least
    ``min_kept_lines`` surviving lines (the paper drops pages with fewer
    than 3 sentences; lines are the unit the line filter already
    established) and none of the doc-level flags."""
    keep = (
        (sig["n_kept_lines"] >= min_kept_lines)
        & ~sig["has_brace"]
        & ~sig["has_lorem"]
        & ~sig["has_dirty"]
    )
    return F.coalesce(keep, F.lit(False))


def c4_clean_df(
    df,
    text_col: str = "text",
    *,
    min_words_per_line: int = 5,
    require_terminal_punct: bool = True,
    min_kept_lines: int = 3,
    out_keep: str = "keep_c4",
    with_signals: bool = False,
):
    """Staged DataFrame form of the C4 cleaner: projection 1 materializes
    the non-blank-lines array, projection 2 the kept-lines array (the
    expensive per-line word/punct/javascript filter runs ONCE), projection
    3 the signals and verdict.  Interpreted HOF lambdas are not CSE'd
    inside one projection; CollapseProject's non-cheap-alias guard keeps
    the stages separate, so each array is computed exactly once.

    Appends ``out_keep`` (verdict) and ``text_c4`` (rebuilt text); with
    ``with_signals``, every :func:`c4_line_signals` column too."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    staged = df.withColumns({
        "_c4_t": text,
        "_c4_lines": F.filter(F.split(text, "\n"), lambda ln: F.trim(ln) != ""),
    }).withColumn(
        "_c4_kept",
        _c4_kept_lines(
            F.col("_c4_lines"), min_words_per_line, require_terminal_punct
        ),
    )
    sig = c4_line_signals(
        F.col("_c4_t"),
        min_words_per_line=min_words_per_line,
        require_terminal_punct=require_terminal_punct,
        lines_col=F.col("_c4_lines"),
        kept_col=F.col("_c4_kept"),
    )
    out = staged.withColumns(
        {out_keep: c4_keep(sig, min_kept_lines=min_kept_lines),
         "text_c4": sig["text_clean"]}
    )
    if with_signals:
        out = out.withColumns(dict(sig))
    return out.drop("_c4_t", "_c4_lines", "_c4_kept")
