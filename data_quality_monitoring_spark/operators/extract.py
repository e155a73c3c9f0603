"""HTML → text extraction, the north rule's "byte-identical extracted text
per url" invariant.

The input contract carries both ``html:binary`` (raw page payload) and
``text:string`` (the reference extractor's output).  This module is the
extractor: given the html bytes it must reproduce ``text`` **byte for
byte**, so a run that starts from raw WARC payloads lands on exactly the
corpus the reference pipeline labeled (the per-url invariant the F1 and
scrub-parity gates assume).

Execution model — NO Python in the hot path.  Extraction is a fixed chain
of ``regexp_replace`` / ``replace`` Column expressions, so at 100 TB it
runs inside whole-stage codegen on the JVM, pipelined with the scan: no
Arrow hop, no UDF, and the parquet reader prunes to the one ``html``
column.  The same chain is expressible verbatim in DuckDB (RE2) and plain
Python ``re`` — three independent engines run the identical spec, which is
what the contract query and the hypothesis fuzz test check.

Extraction spec (applied to the UTF-8-decoded payload, in order):

1. drop HTML comments ``<!-- ... -->`` (non-greedy, dot-matches-newline),
2. drop the ``<head>`` element and any ``<script>``/``<style>`` elements
   *including their content* (title/meta/js are not body text),
3. turn block-level closers/breaks (``<br>``, ``</p>``, ``</div>``,
   ``</li>``, ``</tr>``, ``</h1..6>``) into newlines,
4. strip every remaining tag ``<[^>]*>``,
5. decode the named entities ``&lt; &gt; &quot; &#39; &nbsp;`` then
   ``&amp;`` LAST (standard order — makes escape→decode a true inverse
   for arbitrary text),
6. collapse whitespace runs around newlines to one ``\n`` and trim the
   ends.

Round-trip guarantee (tested): for any text whose lines have no
leading/trailing blanks and no empty lines, ``html_to_text(wrap_html(text))
== text`` — byte-identical.  The deterministic ``wrap_html`` generator
(head/title, script, style, comment noise, entity-escaped body) is what
``datagen`` uses to build the corpus's html column.

Reference anchor: the reference pipeline assumes pre-extracted ``column``
values (its detectors read CSV columns directly, e.g.
``validators/validation/validator.py`` operating on dataframe cells); this
module supplies the missing upstream step a web-scale deployment needs.

Known, documented limitation: tags are ``<[^>]*>`` — an attribute value
containing a literal ``>`` splits the tag early.  Real-world extractors
(trafilatura, jusText) carry full parsers; the contract here is a
deterministic, three-engine-identical spec, not maximal recall.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# explicit whitespace class — NEVER \s: Java, RE2 and Python disagree on
# \s/\v membership (see rules.py; Java \v is a class, Python's is \x0B)
_WS = "[ \\t\\n\\r\\f\\x0B]"

# (pattern, replacement) chain — identical strings fed to Java regex
# (Spark), RE2 (DuckDB) and Python re.  Only shared syntax: inline (?is)
# flags, non-greedy quantifiers, explicit classes.  No backrefs, no
# lookaround (RE2 has neither).
_REGEX_STEPS: list[tuple[str, str]] = [
    (r"(?s)<!--.*?-->", ""),
    (r"(?is)<head\b[^>]*>.*?</head>", ""),  # title/meta are not body text
    (r"(?is)<script\b[^>]*>.*?</script>", ""),
    (r"(?is)<style\b[^>]*>.*?</style>", ""),
    (r"(?i)<br[^>]*>|</p>|</div>|</li>|</tr>|</h[1-6]>", "\n"),
    (r"<[^>]*>", ""),
]
# literal (non-regex) entity decodes; &amp; strictly last
_ENTITY_STEPS: list[tuple[str, str]] = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]
_CLEANUP_STEPS: list[tuple[str, str]] = [
    (r"[ \t]*\n[ \t\n]*", "\n"),  # collapse blank-ish runs to one newline
    (rf"^{_WS}+|{_WS}+$", ""),  # trim document ends
]


def html_to_text(html: Column) -> Column:
    """Extract text from an ``html:binary`` column.  Pure Column chain —
    whole-stage codegen, zero Python.

    Byte decoding: ANSI-mode ``decode(html, 'UTF-8')`` THROWS on the first
    malformed byte — one bad page would kill a 100-TB job — so the binary
    is cast through ``make_valid_utf8`` instead, which replaces invalid
    sequences with U+FFFD exactly like the Python twin's
    ``errors="replace"`` (verified on shared fixtures in
    tests/test_extract.py)."""
    s = F.make_valid_utf8(html.cast("string"))
    for pat, rep in _REGEX_STEPS:
        s = F.regexp_replace(s, pat, rep)
    for lit, rep in _ENTITY_STEPS:
        s = F.replace(s, F.lit(lit), F.lit(rep))
    for pat, rep in _CLEANUP_STEPS:
        s = F.regexp_replace(s, pat, rep)
    return s


def html_to_text_py(html: bytes | None) -> str | None:
    """Pure-Python mirror of :func:`html_to_text` (oracle + fuzz twin)."""
    if html is None:
        return None
    s = html.decode("utf-8", errors="replace")
    for pat, rep in _REGEX_STEPS:
        s = re.sub(pat, rep, s)
    for lit, rep in _ENTITY_STEPS:
        s = s.replace(lit, rep)
    for pat, rep in _CLEANUP_STEPS:
        s = re.sub(pat, rep, s)
    return s


def _escape(text: str) -> str:
    """Entity-escape body text (& first — inverse of decode order)."""
    return text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def wrap_html(text: str, doc_id: int = 0, title: str = "page") -> bytes:
    """Deterministic rich page around ``text``: comments, script, style,
    entity-escaped ``<p>`` blocks.  ``html_to_text`` round-trips it
    byte-identically (for line-trimmed, no-blank-line texts)."""
    body = "".join(f"<p class=\"c{doc_id % 7}\">{_escape(line)}</p>" for line in text.split("\n"))
    return (
        f"<!DOCTYPE html><html><head><title>{_escape(title)}</title>"
        f"<style>.c{doc_id % 7} {{color: #333}}</style>"
        f"<script type=\"text/javascript\">var page_id = {doc_id}; if (page_id > 0) {{ track(page_id); }}</script>"
        f"</head><!-- rendered page {doc_id} --><body>"
        f"<div id=\"nav\"><!-- nav --></div>{body}</body></html>"
    ).encode("utf-8")


def extract_pages(pages):
    """Fill missing ``text`` from the html payload: the upstream step for
    tables that carry raw WARC payloads only.  Column pruning still holds —
    the scan reads ``html`` only because this expression references it."""
    return pages.withColumn(
        "text", F.coalesce(F.col("text"), html_to_text(F.col("html")))
    )


def _sql_quote(s: str) -> str:
    """Single-quote a string for SQL; newlines become chr(10) concat
    terms (chr() concat is the safe way to put control chars in oracle
    SQL).  Built term-by-term — no post-hoc string surgery that could
    corrupt a literal legitimately containing quote/pipe sequences."""
    if s == "":
        return "''"
    terms: list[str] = []
    for i, chunk in enumerate(s.split("\n")):
        if i:
            terms.append("chr(10)")
        if chunk:
            terms.append("'" + chunk.replace("'", "''") + "'")
    return " || ".join(terms)


def html_to_text_sql(expr: str) -> str:
    """DuckDB (RE2) twin of :func:`html_to_text` — same pattern strings,
    same order, explicit 'g' flag (DuckDB replaces first match only by
    default)."""
    s = expr
    for pat, rep in _REGEX_STEPS:
        s = f"regexp_replace({s}, {_sql_quote(pat)}, {_sql_quote(rep)}, 'g')"
    for lit, rep in _ENTITY_STEPS:
        s = f"replace({s}, {_sql_quote(lit)}, {_sql_quote(rep)})"
    for pat, rep in _CLEANUP_STEPS:
        s = f"regexp_replace({s}, {_sql_quote(pat)}, {_sql_quote(rep)}, 'g')"
    return s


def wrap_html_sql(text_expr: str, id_expr: str) -> str:
    """The SQL twin of :func:`wrap_html` (single-block body) for engines
    building the page inline — used by the contract query so Spark and
    DuckDB construct byte-identical pages from ``documents.text``."""
    esc = (
        f"replace(replace(replace({text_expr}, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"
    )
    return (
        "'<!DOCTYPE html><html><head><title>doc ' || " + id_expr + " || '</title>"
        "<style>p {color: #333}</style>"
        "<script>var page_id = ' || " + id_expr + " || '; track(page_id);</script>"
        "</head><!-- rendered --><body><div id=\"nav\"><!-- nav --></div><p>' || "
        + esc
        + " || '</p></body></html>'"
    )


# <meta name=robots content="... noindex ..."> in either attribute order,
# any quoting/case.  RE2- and Java-regex compatible (used verbatim by the
# DuckDB oracle).
NOINDEX_PATTERN = (
    r"(?is)<meta\s[^>]*(?:"
    r"name\s*=\s*[\"']?robots\b[^>]*content\s*=\s*[\"']?[^\"'>]*\bnoindex"
    r"|content\s*=\s*[\"']?[^\"'>]*\bnoindex[^>]*name\s*=\s*[\"']?robots\b"
    r")"
)


def robots_noindex(html: Column) -> Column:
    """True when the page opts out via a robots noindex meta tag —
    responsible pipelines honor it before training on a page (C4 and
    successors drop these at ingest).  NULL html → false (no opt-out
    signal).  Pure codegen: make_valid_utf8 + one rlike; no Python."""
    flagged = F.make_valid_utf8(html.cast("string")).rlike(NOINDEX_PATTERN)
    return F.coalesce(flagged, F.lit(False))
