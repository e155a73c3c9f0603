"""Text statistics: quality scoring, token counting, fingerprinting, langid
heuristic — the cheap per-document feature tier of the quality filter, all
native Column expressions (whole-stage codegen, no Python)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_WS = r"[ \t\n\r\f\x0B]"  # \x0B not \v: Java \v is a class, see rules.py

DEFAULT_STOPWORDS = [
    "the", "a", "of", "and", "to", "in", "is", "was", "for", "that", "it",
    "with", "as", "on", "be", "at", "by", "this", "had", "not",
]


def words(col: Column) -> Column:
    stripped = F.regexp_replace(col, rf"^{_WS}+|{_WS}+$", "")
    return F.when(stripped == "", F.array().cast("array<string>")).otherwise(
        F.split(stripped, rf"{_WS}+")
    )


def token_count(col: Column) -> Column:
    return F.size(words(col))


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token estimate: split on whitespace AND on transitions
    between letters/digits/punctuation (a BPE-flavoured regex proxy used for
    budget accounting, not exact tokenization)."""
    pieces = F.regexp_extract_all(
        col, F.lit(r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])"), F.lit(1)
    )
    return F.coalesce(F.size(pieces), F.lit(0))


def char_class_ratios(col: Column) -> dict[str, Column]:
    n = F.length(col)
    digit = (n - F.length(F.regexp_replace(col, r"[0-9]", ""))) / n
    alpha = (n - F.length(F.regexp_replace(col, r"[A-Za-z]", ""))) / n
    space = (n - F.length(F.regexp_replace(col, _WS, ""))) / n
    symbol = F.length(F.regexp_replace(col, rf"[0-9A-Za-z{_WS[1:-1]}]", "")) / n
    guard = lambda c: F.when(n > 0, c).otherwise(F.lit(None))  # noqa: E731
    return {
        "digit_ratio": guard(digit),
        "alpha_ratio": guard(alpha),
        "space_ratio": guard(space),
        "symbol_ratio": guard(symbol),
    }


def stopword_ratio(col: Column, *, lwords_col: Column | None = None) -> Column:
    """Share of words in ``DEFAULT_STOPWORDS``.  ``lwords_col``: pass a
    pre-materialized lowercased-words array to skip the split (interpreted HOF
    lambdas are not CSE'd — the staged two-projection lesson from
    gopher_gate_df)."""
    ws = words(F.lower(col)) if lwords_col is None else lwords_col
    stops = F.lit(DEFAULT_STOPWORDS).cast("array<string>")
    hits = F.size(F.filter(ws, lambda w: F.array_contains(stops, w)))
    return F.when(F.size(ws) > 0, hits / F.size(ws))


def distinct_word_ratio(col: Column, *, words_col: Column | None = None) -> Column:
    ws = words(col) if words_col is None else words_col
    return F.when(
        F.size(ws) > 0, F.size(F.array_distinct(F.transform(ws, F.lower))) / F.size(ws)
    )


def quality_score(
    col: Column,
    *,
    words_col: Column | None = None,
    lwords_col: Column | None = None,
) -> Column:
    """Composite [0,1] quality score: weighted blend of alpha ratio,
    stopword ratio, distinct-word ratio and a length factor — the C4/Gopher
    style scalar a downstream sampler can threshold or weight by.

    The single-Column form re-splits the text once per signal (the HOF
    lambdas inside are interpreted, so Catalyst cannot CSE the shared
    split); ``words_col`` / ``lwords_col`` take pre-materialized arrays —
    use :func:`quality_score_df`, which stages them in one projection the
    way :func:`gopher_gate_df` does."""
    ratios = char_class_ratios(col)
    ws = words(col) if words_col is None else words_col
    length_factor = F.least(F.size(ws) / F.lit(100.0), F.lit(1.0))
    score = (
        0.3 * F.coalesce(ratios["alpha_ratio"], F.lit(0.0))
        + 0.25 * F.coalesce(stopword_ratio(col, lwords_col=lwords_col), F.lit(0.0))
        + 0.25 * F.coalesce(distinct_word_ratio(col, words_col=ws), F.lit(0.0))
        + 0.2 * length_factor
    )
    return F.when(col.isNotNull(), F.round(score, 6))


def quality_score_df(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "quality",
) -> DataFrame:
    """Two-stage DataFrame form of :func:`quality_score`: one projection
    materializes the words / lowercased-words arrays, the next computes
    the blend from them — the text splits twice total instead of once per
    signal (the staged-projection pattern measured 1.5-2.0x on the gopher
    gate; see BENCH.md for this operator's A/B row)."""
    text = F.col(text_col)
    staged = df.withColumns({
        "_qs_ws": words(text),
        "_qs_lws": words(F.lower(text)),
    })
    out = staged.withColumn(
        out_col,
        quality_score(
            text,
            words_col=F.col("_qs_ws"), lwords_col=F.col("_qs_lws"),
        ),
    )
    return out.drop("_qs_ws", "_qs_lws")


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_signals(
    col: Column,
    *,
    words_col: Column | None = None,
    lines_col: Column | None = None,
) -> dict[str, Column]:
    """Per-document Gopher hard-rule quality signals (Rae et al. 2021,
    *Scaling Language Models: Methods, Analysis & Insights from Training
    Gopher*, Appendix A — the rule list MassiveWeb was filtered with, also
    the basis of RefinedWeb/Dolma/FineWeb document gates).

    All pure Column expressions over per-row arrays — scan-local, zero
    shuffles, embarrassingly parallel at 10^12 docs.  Signals:

    - ``n_words`` / ``mean_word_len`` — word count and mean word length
    - ``hash_word_ratio`` / ``ellipsis_word_ratio`` — ``#`` occurrences /
      words and ellipsis (``...`` or ``…``) occurrences / words; the paper
      gates EACH at 0.1 separately (Rae 2021 A.1.1 "symbol-to-word ratio
      greater than 0.1 for either the hash symbol or the ellipsis")
    - ``bullet_line_frac`` / ``ellipsis_line_frac`` — of non-blank lines,
      the fraction starting with a bullet glyph / ending with an ellipsis
    - ``dup_line_frac`` — fraction of non-blank lines that repeat an
      earlier line (the Gopher repetition family's line tier; the word /
      n-gram tiers live in ``q_repetition_stats``)
    - ``alpha_word_frac`` — fraction of words with ≥1 ``[A-Za-z]``
    - ``stop_hits`` — DISTINCT Gopher stop words present (the "contains at
      least two of the, be, to, of, and, that, have, with" rule)

    Fractions are raw IEEE doubles (exact int/int division — identical in
    any engine), null when the denominator is 0.

    ``words_col`` / ``lines_col``: pass pre-materialized array columns to
    compute each split ONCE instead of once per signal — higher-order
    lambdas are interpreted, so Catalyst cannot CSE them inside one
    projection.  :func:`gopher_gate_df` does this for you (measured 1.5–2.0×
    at 1M docs: 66k → 132k docs/s at local[32])."""
    text = F.coalesce(col, F.lit(""))
    ws = words(text) if words_col is None else words_col
    n_words = F.size(ws)
    total_wl = F.aggregate(ws, F.lit(0), lambda a, w: a + F.length(w))
    n_hash = F.size(F.regexp_extract_all(text, F.lit(r"#"), F.lit(0)))
    n_ellipsis_sym = F.size(F.regexp_extract_all(text, F.lit(r"(\.\.\.|…)"), F.lit(1)))
    lines = (
        F.filter(F.split(text, "\n"), lambda ln: F.trim(ln) != "")
        if lines_col is None
        else lines_col
    )
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda ln: F.trim(ln).rlike(r"^[•‣▪*-]")))
    n_ellipsis = F.size(F.filter(lines, lambda ln: F.trim(ln).rlike(r"(\.\.\.|…)$")))
    n_dup_lines = n_lines - F.size(F.array_distinct(lines))
    n_alpha = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]")))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(ws, F.lower)),
            F.lit(GOPHER_STOPWORDS).cast("array<string>"),
        )
    )
    some_words = n_words > 0
    some_lines = n_lines > 0
    return {
        "n_words": n_words,
        "mean_word_len": F.when(some_words, total_wl / n_words),
        "hash_word_ratio": F.when(some_words, n_hash / n_words),
        "ellipsis_word_ratio": F.when(some_words, n_ellipsis_sym / n_words),
        "bullet_line_frac": F.when(some_lines, n_bullet / n_lines),
        "ellipsis_line_frac": F.when(some_lines, n_ellipsis / n_lines),
        "dup_line_frac": F.when(some_lines, n_dup_lines / n_lines),
        "alpha_word_frac": F.when(some_words, n_alpha / n_words),
        "stop_hits": stop_hits,
    }


def gopher_gate_df(
    df,
    text_col: str = "text",
    out_col: str = "keep_gopher",
    with_signals: bool = False,
    **thresholds,
):
    """Two-stage DataFrame form of the Gopher gate: one projection
    materializes the words/lines arrays, the next computes every signal
    from them — so the text splits once, not once per signal (interpreted
    HOF lambdas are not CSE'd; CollapseProject's non-cheap-alias guard
    keeps the two projections separate).  Measured 1.5–2.0× over the
    single-projection form at 1M docs (66k → 132k docs/s, local[32]).

    Appends ``out_col`` (the keep verdict; ``**thresholds`` forwarded to
    :func:`gopher_keep`) and, with ``with_signals``, every signal column."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    staged = df.withColumns({
        "_gq_t": text,
        "_gq_ws": words(text),
        "_gq_lines": F.filter(F.split(text, "\n"), lambda ln: F.trim(ln) != ""),
    })
    sig = gopher_signals(
        F.col("_gq_t"), words_col=F.col("_gq_ws"), lines_col=F.col("_gq_lines")
    )
    out = staged.withColumn(out_col, gopher_keep(sig, **thresholds))
    if with_signals:
        out = out.withColumns(dict(sig))
    return out.drop("_gq_t", "_gq_ws", "_gq_lines")


def gopher_keep(
    sig: dict[str, Column],
    *,
    min_stop_hits: int = 2,
) -> Column:
    """Gopher keep/drop verdict from :func:`gopher_signals` at the paper's
    thresholds: 50–100,000 words, mean word length 3–10, symbol-to-word ratios
    ≤ 0.1, bullet lines ≤ 90%, ellipsis lines ≤ 30%, duplicate lines ≤ 30%, at
    least 80% words with a letter, and ``min_stop_hits`` stop words.
    Null-safe: a doc with no words fails the word-count gate and the null ratio
    conjuncts collapse to false, never null."""
    keep = (
        (sig["n_words"] >= 50)
        & (sig["n_words"] <= 100_000)
        & sig["mean_word_len"].between(3.0, 10.0)
        & (sig["hash_word_ratio"] <= 0.1)
        & (sig["ellipsis_word_ratio"] <= 0.1)
        & F.coalesce(sig["bullet_line_frac"] <= 0.9, F.lit(True))
        & F.coalesce(sig["ellipsis_line_frac"] <= 0.3, F.lit(True))
        & F.coalesce(sig["dup_line_frac"] <= 0.3, F.lit(True))
        & (sig["alpha_word_frac"] >= 0.8)
        & (sig["stop_hits"] >= min_stop_hits)
    )
    return F.coalesce(keep, F.lit(False))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: 64-bit hash of the case/whitespace-normalised
    text (the 'rolling hash' dedup key — xxhash64 is Spark-native,
    deterministic, and collision-safe enough at 10^12 docs for a first
    pass; exact dedup verifies)."""
    norm = F.regexp_replace(F.lower(F.trim(col)), rf"{_WS}+", " ")
    return F.xxhash64(norm)


def fingerprint_md5(col: Column) -> Column:
    """Portable (engine-agnostic) fingerprint for oracle-checked queries."""
    norm = F.regexp_replace(F.lower(F.trim(col)), rf"{_WS}+", " ")
    return F.md5(norm)


def tfidf_top_terms(
    docs: DataFrame,
    key: str,
    k: int = 5,
) -> DataFrame:
    """Per-document top-k terms of ``text`` by tf·idf — the classic
    corpus-exploration / clustering primitive (keyword summaries, near-topic
    grouping, boilerplate diagnosis).  ``(key, term, tf, score, rank)``.

    Relational shape (round-6 rework): one token explode → per-(doc, term)
    counts (map-side combined), document frequency as a COUNT window over
    the term key on that same tf table — the previous df-aggregate-plus-
    join form re-ran the explode+tf pass on both join sides (tokenizing
    the corpus twice) — idf = ln(N/df) with N riding a 1-row broadcast
    (no driver action), and a per-doc window bounded by the doc's own
    vocabulary.  Rank is computed on the ROUNDED score (ties → term asc)
    so an independent engine agrees bit-for-bit."""
    words = F.filter(
        F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"[ \t\n\r\f\x0B]+"),
        lambda x: x != "",
    )
    tokens = docs.select(F.col(key), F.explode(words).alias("term"))
    tf = tokens.groupBy(key, "term").agg(F.count("*").alias("tf"))
    n = docs.select(F.count("*").alias("_n"))
    dfw = F.count("*").over(Window.partitionBy("term"))
    scored = (
        tf.withColumn("_df", dfw)
        .crossJoin(F.broadcast(n))
        .select(
            key,
            "term",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("_n") / F.col("_df")), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy(key).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(key, "term", "tf", "score", "rank")
    )


GOPHER_REP_THRESHOLDS = {
    # Rae et al. 2021 Table A1 — drop the doc when the signal EXCEEDS these
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}


def gopher_repetition_col(col: Column) -> Column:
    """The FULL Gopher repetition-signal family (Rae et al. 2021 Table A1)
    as ONE struct Column, plus the paper-threshold ``rep_keep`` verdict —
    so a caller can gate in place without a join
    (``df.withColumn("_r", gopher_repetition_col(F.col(text)))``).

    ONE Arrow-batched kernel pass, zero shuffles (same design as
    ``q_repetition_stats`` — per-doc frequency tables live inside the
    kernel, so at web scale this is embarrassingly parallel scan work).

    Exact semantics (documented because the paper leaves normalization
    open; the DuckDB oracle and the pytest fixtures pin these):

    - lines = '\\n'-split, paragraphs = '\\n\\n'-split; blank units dropped.
    - ``dup_line_frac`` / ``dup_para_frac``: occurrences of a value seen
      more than once, over total units.
    - ``dup_line_char_frac`` / ``dup_para_char_frac``: characters of those
      occurrences over total characters of all units.
    - word n-grams over the whitespace tokenization; an n-gram's character
      length is ``sum(len(word)) + (n-1)`` (single-space joining).
    - ``top_{2,3,4}gram_char_frac``: most frequent n-gram (ties → longer
      char length, then lexicographically smaller single-space-joined
      string) × its occurrence count × its char length, over total text
      characters.
    - ``dup_{5..10}gram_char_frac``: WORD-POSITION COVERAGE of all
      occurrences of n-grams appearing more than once (overlaps counted
      once): covered words' lengths + single spaces between adjacent
      covered positions, over total text characters.

    Fractions are null when the denominator is 0."""
    from pyspark.sql import types as T

    fields = [
        T.StructField("n_lines", T.LongType()),
        T.StructField("dup_line_frac", T.DoubleType()),
        T.StructField("dup_line_char_frac", T.DoubleType()),
        T.StructField("dup_para_frac", T.DoubleType()),
        T.StructField("dup_para_char_frac", T.DoubleType()),
    ]
    for n in (2, 3, 4):
        fields.append(T.StructField(f"top_{n}gram_char_frac", T.DoubleType()))
    for n in range(5, 11):
        fields.append(T.StructField(f"dup_{n}gram_char_frac", T.DoubleType()))
    fields.append(T.StructField("rep_keep", T.BooleanType()))
    out_t = T.StructType(fields)

    @F.pandas_udf(out_t)
    def rep(texts: pd.Series) -> pd.DataFrame:
        import re
        from collections import Counter

        import numpy as np

        split_ws = re.compile(r"[ \t\n\r\f\x0B]+").split

        def unit_stats(units):
            # strip exactly the repo's explicit whitespace class (rules._WS)
            # — NOT str.strip(), whose Unicode set (\x1c,  , …) the
            # DuckDB oracle's RE2 trim cannot reproduce
            units = [u for u in (x.strip(" \t\n\r\f\x0b") for x in units) if u]
            if not units:
                return None, None, 0
            c = Counter(units)
            dup_n = sum(1 for u in units if c[u] > 1)
            tot_ch = sum(len(u) for u in units)
            dup_ch = sum(len(u) for u in units if c[u] > 1)
            return (dup_n / len(units),
                    (dup_ch / tot_ch) if tot_ch else None,
                    len(units))

        rows = []
        for t in texts:
            t = t or ""
            n_chars = len(t)
            lf, lcf, n_lines = unit_stats(t.split("\n"))
            pf, pcf, _ = unit_stats(t.split("\n\n"))
            ws = [w for w in split_ws(t) if w]
            L = len(ws)
            tops: list = [None, None, None]
            dups: list = [None] * 6
            if L and n_chars:
                # Exact n-gram grouping, vectorized (numpy; VERDICT r5
                # item 4).  Words map to integer ids by exact string
                # equality; the class of an n-gram then extends the
                # (n-1)-gram class with the next word id through an
                # INJECTIVE int64 pairing key (code*|vocab| + id, bounded
                # by L² < 2⁶³) — no hashing anywhere, so grouping is
                # collision-free and the fractions are bit-identical to
                # the tuple-Counter loops this replaces.
                idmap: dict = {}
                ids = np.fromiter(
                    (idmap.setdefault(w, len(idmap)) for w in ws),
                    dtype=np.int64, count=L,
                )
                lens = np.fromiter(map(len, ws), dtype=np.int64, count=L)
                wcum = np.concatenate((np.zeros(1, np.int64), np.cumsum(lens)))
                n_ids = np.int64(len(idmap))
                code = ids
                for n in range(2, 11):
                    m = L - n + 1
                    if m <= 0:
                        break
                    key = code[:m] * n_ids + ids[n - 1:]
                    if n <= 4:
                        # top n-gram (ties: count desc, char length desc,
                        # lexicographic asc): only its COUNT and CHAR
                        # LENGTH reach the output, and every gram tied on
                        # both produces the same value — the lexicographic
                        # leg never needs the strings
                        _, first, inverse, counts = np.unique(
                            key, return_index=True, return_inverse=True,
                            return_counts=True,
                        )
                        mx = int(counts.max())
                        cand = first[counts == counts.max()]
                        glen = int((wcum[cand + n] - wcum[cand]).max()) + (n - 1)
                        tops[n - 2] = mx * glen / n_chars
                    else:
                        _, inverse, counts = np.unique(
                            key, return_inverse=True, return_counts=True,
                        )
                        starts = np.nonzero(counts[inverse] > 1)[0]
                        if starts.size == 0:
                            dups[n - 5] = 0.0
                        else:
                            # positional coverage via a difference array:
                            # word i is covered iff a duplicated n-gram
                            # occurrence spans it (overlaps counted once)
                            d = np.zeros(L + 1, np.int64)
                            d[starts] += 1
                            d[starts + n] -= 1
                            cov = np.cumsum(d[:L]) > 0
                            ch = int(lens[cov].sum()) + int(
                                np.count_nonzero(cov[:-1] & cov[1:])
                            )
                            dups[n - 5] = ch / n_chars
                    code = inverse
            sig = dict(zip(
                ["dup_line_frac", "dup_line_char_frac", "dup_para_frac",
                 "dup_para_char_frac", "top_2gram_char_frac",
                 "top_3gram_char_frac", "top_4gram_char_frac"]
                + [f"dup_{n}gram_char_frac" for n in range(5, 11)],
                [lf, lcf, pf, pcf] + tops + dups,
            ))
            keep = all(
                v is None or v <= GOPHER_REP_THRESHOLDS[k]
                for k, v in sig.items()
            )
            rows.append((n_lines, lf, lcf, pf, pcf, *tops, *dups, keep))
        return pd.DataFrame(rows, columns=[f.name for f in out_t.fields])

    return rep(col)


def gopher_repetition(df: DataFrame, key: str) -> DataFrame:
    """DataFrame form of :func:`gopher_repetition_col` over ``text``: one
    row per ``key`` with every signal column flattened out of the struct."""
    return df.select(
        key, gopher_repetition_col(F.col("text")).alias("_r")
    ).select(key, "_r.*")
