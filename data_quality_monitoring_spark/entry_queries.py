"""Driver-contract query catalog: Spark implementations + DuckDB oracle SQL.

Each entry exercises one operator family from SURVEY.md §2 on the
driver-provided tables (documents/embeddings/events + TPC-H-ish).  The Spark
side and the ANSI-SQL oracle must produce identical rows (column names are
aliased identically on both sides; doubles are rounded to fixed decimals so
both engines hash the same values).

Spark-first notes per query are in the docstrings; the design rule is: no
Python in the hot path unless the operator genuinely needs a model
(langid/perplexity), filters/projections stay native so Catalyst pushes them
into the parquet scan, joins on small sides are broadcast, and pair-counting
aggregations use group-size combinatorics instead of self-joins wherever the
semantics allow (that is what survives 100 TB).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators.scrub import scrub_column, scrub_sql

# ---------------------------------------------------------------- helpers

EN_STOPWORDS = ["the", "a", "of", "and", "to"]
LANG_WHITELIST = ["en", "de", "nl", "fr"]


# Contract-scale parquet for these tables arrives as ONE file with ONE row
# group, so the scan yields 1-2 splits no matter what maxPartitionBytes says
# (a row group is the atomic split unit) — and every downstream per-row pass
# (tokenizing, regex rules, Arrow-UDF scoring) serializes onto 1-2 cores of
# a 32-core session.  When the scan produces fewer splits than the session's
# parallelism, fan the rows out once right after the read: a few-MB
# round-robin exchange that buys full-width execution for everything above
# it (guide §2.2/§6 — scan parallelism bounds the map stage).  At real
# scale the scan already produces >= defaultParallelism splits and no
# exchange is inserted, so nothing here is tuned to local mode.
#
# "events" is deliberately NOT fanned out: its queries are one shuffle over
# trivial per-row expressions, and the extra exchange only added task
# overhead (A/B at sf1.0: events_hourly 1.73 s with fan-out, 0.39 s
# without).  Individual queries whose wall is iterative small-graph work
# pass fan_out=False for the same measured reason.
_FAN_OUT_TABLES = {"documents", "embeddings"}


def _read(
    spark: SparkSession, sf_dir: str, table: str, fan_out: bool = True
) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    if fan_out and table in _FAN_OUT_TABLES:
        par = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < par:
            df = df.repartition(par)
    return df


def _words(col: Column) -> Column:
    t = F.trim(col)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


_WORDS_SQL = (
    "case when trim({c}) = '' then []::VARCHAR[] "
    "else regexp_split_to_array(trim({c}), '\\s+') end"
)

_WS_SQL = "[ \\t\\n\\r\\f\\x0B]"  # backslashes literal in the SQL string → RE2 escapes

# Python str.split()-equivalent tokens: split on the ASCII-whitespace class
# and drop empties (handles leading/trailing/padded whitespace exactly).
_PYWORDS_SQL = (
    "list_filter(regexp_split_to_array(lower({c}), '" + _WS_SQL + "+'), w -> w <> '')"
)
# word → feature bucket, identical to operators/langid._word_buckets
_MD5_BUCKET_SQL = "('0x' || substr(md5({w}), 1, 8))::UBIGINT % 16384"


# ---------------------------------------------------------------- rule engine

def _firsthit_code(text: Column) -> Column:
    """The first-hit rule code expression of q_rule_firsthit (NULL = pass) —
    shared with q_quality_model_scores, which uses it as training labels."""
    words = _words(text)
    n_words = F.size(words)
    n_chars = F.length(text)
    n_digits = n_chars - F.length(F.regexp_replace(text, r"[0-9]", ""))
    distinct_ratio = F.size(F.array_distinct(F.transform(words, F.lower))) / n_words
    return (
        F.when(text.isNull(), F.lit("MISSING"))
        .when(text == "", F.lit("EMPTY"))
        .when(n_words < 20, F.lit("TOO_SHORT"))
        .when((n_chars > 0) & (n_digits / n_chars > 0.3), F.lit("DIGIT_HEAVY"))
        .when((n_words > 0) & (distinct_ratio < 0.35), F.lit("REPETITIVE"))
    )


def q_rule_firsthit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-hit CASE chain (reference json_validator.py:66-72) as a pure
    native expression — whole-stage codegen, no UDF, no shuffle."""
    d = _read(spark, sf_dir, "documents")
    code = _firsthit_code(F.col("text"))
    prob = (
        F.when(code.isin("MISSING", "EMPTY"), 1.0)
        .when(code == "TOO_SHORT", 0.9)
        .when(code == "DIGIT_HEAVY", 0.85)
        .when(code == "REPETITIVE", 0.85)
    )
    return d.select(
        "doc_id",
        F.coalesce(code, F.lit("PASS")).alias("code"),
        F.coalesce(prob, F.lit(0.0)).alias("probability"),
    )


SQL_RULE_FIRSTHIT = f"""
WITH t AS (
  SELECT doc_id, text, {_WORDS_SQL.format(c="text")} AS words,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits
  FROM documents
), s AS (
  SELECT doc_id,
    CASE WHEN text IS NULL THEN 'MISSING'
         WHEN text = '' THEN 'EMPTY'
         WHEN len(words) < 20 THEN 'TOO_SHORT'
         WHEN n_chars > 0 AND n_digits::DOUBLE / n_chars > 0.3 THEN 'DIGIT_HEAVY'
         WHEN len(words) > 0 AND
              len(list_distinct(list_transform(words, w -> lower(w))))::DOUBLE / len(words) < 0.35
           THEN 'REPETITIVE'
    END AS c
  FROM t
)
SELECT doc_id, coalesce(c, 'PASS') AS code,
       CASE WHEN c IN ('MISSING','EMPTY') THEN 1.0
            WHEN c = 'TOO_SHORT' THEN 0.9
            WHEN c = 'DIGIT_HEAVY' THEN 0.85
            WHEN c = 'REPETITIVE' THEN 0.85
            ELSE 0.0 END AS probability
FROM s
"""


def q_rule_fire_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule fire counts — the north star's filter-metrics table
    (reference analyze-column / run-summary aggregations)."""
    return (
        q_rule_firsthit(spark, sf_dir)
        .groupBy("code")
        .agg(F.count("*").alias("n"))
    )


SQL_RULE_FIRE_COUNTS = f"WITH base AS ({SQL_RULE_FIRSTHIT}) SELECT code, count(*) AS n FROM base GROUP BY code"


def q_keyword_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keyword_check rule (reference json_validator.py:184-201) aggregated
    per source: docs where none of the required keywords appears."""
    d = _read(spark, sf_dir, "documents")
    lower = F.lower("text")
    missing = ~(lower.contains("table") | lower.contains("query"))
    return d.groupBy("source").agg(
        F.sum(missing.cast("long")).alias("n_missing_keywords"),
        F.count("*").alias("n_docs"),
    )


SQL_KEYWORD_CHECK = """
SELECT source,
       sum(CASE WHEN NOT (lower(text) LIKE '%table%' OR lower(text) LIKE '%query%')
                THEN 1 ELSE 0 END)::BIGINT AS n_missing_keywords,
       count(*) AS n_docs
FROM documents GROUP BY source
"""


# ---------------------------------------------------------------- pattern detector

def q_pattern_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """known_values membership (reference pattern_based_detector.py:231-249):
    language whitelist with close-match probabilities — broadcast array, no
    shuffle."""
    d = _read(spark, sf_dir, "documents")
    known = F.lit(LANG_WHITELIST).cast("array<string>")
    norm = F.lower(F.trim("lang"))
    member = F.array_contains(known, norm)
    close = F.exists(
        known,
        lambda kv: kv.startswith(F.substring(norm, 1, 3))
        | norm.startswith(F.substring(kv, 1, 3)),
    )
    return d.select(
        "doc_id",
        F.when(member, "KNOWN").otherwise("UNKNOWN_VALUE").alias("code"),
        F.when(member, 0.0).when(close, 0.75).otherwise(0.85).alias("probability"),
    )


SQL_PATTERN_LANG = """
WITH k AS (SELECT ['en','de','nl','fr'] AS known)
SELECT doc_id,
  CASE WHEN list_contains(known, lower(trim(lang))) THEN 'KNOWN' ELSE 'UNKNOWN_VALUE' END AS code,
  CASE WHEN list_contains(known, lower(trim(lang))) THEN 0.0
       WHEN len(list_filter(known, kv ->
             starts_with(kv, lower(trim(lang))[1:3]) OR starts_with(lower(trim(lang)), kv[1:3]))) > 0
         THEN 0.75
       ELSE 0.85 END AS probability
FROM documents, k
"""


def q_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """langid-distribution metrics table (north star filter metrics)."""
    d = _read(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
    )


SQL_LANG_DISTRIBUTION = (
    "SELECT lang, count(*) AS n, round(avg(length(text)), 4) AS avg_chars "
    "FROM documents GROUP BY lang"
)


# ---------------------------------------------------------------- scrub

def q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered PII scrub chain on synthesised PII text; md5 of the scrubbed
    bytes proves byte-identity against the SQL oracle."""
    d = _read(spark, sf_dir, "documents")
    pii = F.concat(
        F.col("text"),
        F.lit(" reach "),
        F.col("source"),
        F.lit("@mail.com or call 555-123-4567 now"),
    )
    return d.select("doc_id", F.md5(scrub_column(pii)).alias("scrub_md5"))


SQL_SCRUB_PII = (
    "SELECT doc_id, md5("
    + scrub_sql("(text || ' reach ' || source || '@mail.com or call 555-123-4567 now')")
    + ") AS scrub_md5 FROM documents"
)


# ---------------------------------------------------------------- profiling

def q_profile_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """analyze_column value_counts top-20 (reference analyze_column.py:59-64)
    with a deterministic tiebreak."""
    from .operators.profile import value_counts

    d = _read(spark, sf_dir, "documents")
    return value_counts(d, "source", 20).withColumnRenamed("value", "source")


SQL_PROFILE_VALUE_COUNTS = (
    "SELECT source, count(*) AS n FROM documents GROUP BY source "
    "ORDER BY n DESC, source ASC LIMIT 20"
)


def q_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """null/distinct stats per lang (reference analyze_column.py:40-43)."""
    d = _read(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("text").isNull().cast("long")).alias("n_null_text"),
        F.countDistinct("source").alias("n_sources"),
        F.round(F.avg("n_chars"), 4).alias("avg_n_chars"),
    )


SQL_PROFILE_STATS = """
SELECT lang, count(*) AS n_docs,
       sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null_text,
       count(DISTINCT source) AS n_sources,
       round(avg(n_chars), 4) AS avg_n_chars
FROM documents GROUP BY lang
"""


def q_profile_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated length quantiles per lang (corpus profiling tier).

    Uses Spark's exact ``percentile`` (not ``percentile_approx``) so the
    value is a deterministic function of the data — the GK sketch would
    hash-mismatch any second engine.  At 100 TB you'd flip to
    percentile_approx and assert error bounds instead; the exact form is
    the oracle-able contract."""
    d = _read(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.percentile("n_chars", 0.5).alias("p50_chars"),
        F.percentile("n_chars", 0.9).alias("p90_chars"),
        F.percentile("n_chars", 0.99).alias("p99_chars"),
    )


SQL_PROFILE_QUANTILES = """
SELECT lang,
       quantile_cont(n_chars, 0.5) AS p50_chars,
       quantile_cont(n_chars, 0.9) AS p90_chars,
       quantile_cont(n_chars, 0.99) AS p99_chars
FROM documents GROUP BY lang
"""


# ---------------------------------------------------------------- dedup

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash + near-dup families by 40-char prefix.
    hash-groupBy; at 100 TB this is the standard two-phase partial agg."""
    d = _read(spark, sf_dir, "documents")
    return d.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_distinct_texts"),
        F.countDistinct(F.md5(F.substring("text", 1, 40))).alias("n_prefix_families"),
    )


SQL_DEDUP_EXACT = """
SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_distinct_texts,
       count(DISTINCT md5(substring(text, 1, 40))) AS n_prefix_families
FROM documents
"""


_SHINGLES_SQL = """
list_distinct(
  CASE WHEN len(words) >= 3
       THEN list_transform(range(1, len(words) - 1),
                           i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
       ELSE [] END)
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH candidate counting: 4 independent hash bands over 3-word
    shingles; per band, candidate pairs are counted from band-bucket sizes
    (n·(n−1)/2) — NO pairwise self-join, so the plan is groupBy-only and
    survives arbitrary scale.  md5(seed‖shingle) is the portable hash."""
    from .operators.dedup import lsh_bands, minhash_signatures

    d = _read(spark, sf_dir, "documents")
    sig = minhash_signatures(d, "doc_id", n_hashes=4, hash_fn="md5")
    # one-hash bands, unpivoted so ONE pass computes all band buckets — the
    # naive per-band loop would rescan + re-shingle the documents 4×.  A
    # bucket is xxhash64(band, h_band): the same groups as the md5 values
    # the oracle groups by, up to 2⁻⁶⁴-probability collisions
    return (
        lsh_bands(sig, "doc_id", n_hashes=4, band_size=1)
        .groupBy("band", "bucket")
        .agg(F.count("*").alias("sz"))
        .groupBy("band")
        .agg(
            F.sum(((F.col("sz") * (F.col("sz") - 1)) / 2).cast("long")).alias("n_candidate_pairs")
        )
    )


SQL_DEDUP_MINHASH = f"""
WITH t AS (
  SELECT doc_id, {_WORDS_SQL.format(c="text")} AS words FROM documents
), sh AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM t
), sig AS (
  SELECT doc_id,
         min(md5('0' || shingle)) AS h0, min(md5('1' || shingle)) AS h1,
         min(md5('2' || shingle)) AS h2, min(md5('3' || shingle)) AS h3
  FROM sh GROUP BY doc_id
)
SELECT band, sum(sz * (sz - 1) // 2)::BIGINT AS n_candidate_pairs FROM (
  SELECT 0 AS band, count(*) AS sz FROM sig GROUP BY h0
  UNION ALL SELECT 1, count(*) FROM sig GROUP BY h1
  UNION ALL SELECT 2, count(*) FROM sig GROUP BY h2
  UNION ALL SELECT 3, count(*) FROM sig GROUP BY h3
) GROUP BY band
"""


JACCARD_DF_CAP = 50  # drop shingles shared by more docs (boilerplate guard)


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup: per document, how many others share ≥ 0.5
    Jaccard over 3-word shingle sets.  Equi-join on shingle → pair intersect
    counts → set-size algebra.

    Scale guard: shingles with document frequency > JACCARD_DF_CAP are
    dropped BEFORE the self-join (and from the set sizes, so the Jaccard
    stays self-consistent) — one boilerplate shingle shared by 10⁵ docs
    would otherwise create a 10¹⁰-pair bucket.  The cap is mirrored in the
    DuckDB oracle; on the contract data max df = 7, so the capped answer
    equals the uncapped one.  Skew-bound test: tests/test_dedup.py
    test_jaccard_df_cap_bounds_skew."""
    # fan_out=False: the shingle explode below is persisted (so the fan-out
    # exchange buys one pass at most) and the wall is the pair self-join +
    # small-key aggregation, where extra input partitions only add task
    # overhead (A/B at sf1.0: 5.8 s with fan-out, 1.25 s without)
    pairs = _jaccard_pairs(_read(spark, sf_dir, "documents", fan_out=False))
    both = pairs.select(F.col("da").alias("doc_id")).unionAll(pairs.select(F.col("db").alias("doc_id")))
    return both.groupBy("doc_id").agg(F.count("*").alias("n_similar"))


def _jaccard_pairs(d: DataFrame) -> DataFrame:
    """≥0.5-Jaccard near-dup pairs (da < db) over df-capped 3-word shingles
    — the shared front half of q_dedup_jaccard and q_dedup_clusters, built
    from the near-dup operators: one ``drop_hot_keys`` cap, candidates from
    the ``bucket_pairs`` self-join on the shingle, ``verify_shingle_sets``
    over the capped sets."""
    from .operators.dedup import (
        bucket_pairs,
        drop_hot_keys,
        shingle_hashes,
        verify_shingle_sets,
    )

    # persist the exploded shingles: the cap, the self-join and the sets all
    # consume them, and recomputing the explode dominates this query's cost.
    # Shingles are their xxhash64, not the string — an 8-byte shuffle key;
    # pairs are hash-collision-identical (2⁻⁶⁴ per pair) so the DuckDB
    # oracle, which joins on the string, computes the same answer.
    raw = d.select("doc_id", F.explode(shingle_hashes(F.col("text"))).alias("shingle")).persist()
    capped = drop_hot_keys(raw, ["shingle"], JACCARD_DF_CAP)
    cand = bucket_pairs(capped, "doc_id", ["shingle"], None, None)
    sets = capped.groupBy("doc_id").agg(F.collect_list("shingle")).toDF("_k", "_s")
    return verify_shingle_sets(cand, sets, 0.5).select(
        F.col("a").alias("da"), F.col("b").alias("db")
    )


# DECOMPOSED e+U+0301 (composes to é under NFC), ﬁ ligature (NFC-invariant
# stability probe), DECOMPOSED A+U+030A, then two C0 control bytes --
# appended to every doc so NFC + control-strip are non-vacuous on the
# ASCII driver corpus.  The oracle rebuilds the suffix from chr() calls
# generated off this exact constant, so both engines see identical code points.
NORM_SUFFIX = " cafe\u0301 \ufb01le A\u030a\x01\x02"


def q_normalize_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode normalization tier (operators/normalize.py): NFC collapses
    decomposed accents/ligature-compatible sequences, control bytes are
    stripped — checked by md5 of the normalized text plus before/after
    char lengths (BMP-only suffix, so Spark's UTF-16 length == DuckDB's
    code-point length)."""
    from .operators.normalize import normalize_text

    d = _read(spark, sf_dir, "documents")
    raw = F.concat(F.col("text"), F.lit(NORM_SUFFIX))
    norm = normalize_text(raw)
    return d.select(
        "doc_id",
        F.length(raw).alias("len_raw"),
        F.length(norm).alias("len_norm"),
        F.md5(norm).alias("norm_md5"),
    )


def _normalize_unicode_sql() -> str:
    from .operators.normalize import normalize_sql

    suffix = " || ".join(f"chr({ord(c)})" for c in NORM_SUFFIX)
    raw = f"(text || {suffix})"
    return (
        f"SELECT doc_id, length({raw}) AS len_raw, "
        f"length({normalize_sql(raw)}) AS len_norm, "
        f"md5({normalize_sql(raw)}) AS norm_md5 FROM documents"
    )


SQL_NORMALIZE_UNICODE = _normalize_unicode_sql()


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (dedup.decontaminate): docs with doc_id <
    10 play the eval set; every corpus doc reports how many distinct
    5-word shingles it shares with it.  Eval shingles broadcast; corpus
    shingles never shuffle.  Benchmark docs self-match (n ≫ 0) and
    near-dup family members light up — both asserted by the oracle's
    identical relational form."""
    from .operators.dedup import decontaminate

    d = _read(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") < 10)
    return decontaminate(d, bench, "doc_id", k=5)


_SHINGLES5_SQL = """
list_distinct(
  CASE WHEN len(words) >= 5
       THEN list_transform(range(1, len(words) - 3),
                           i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                                || ' ' || words[i+3] || ' ' || words[i+4])
       ELSE [] END)
"""

SQL_DECONTAMINATION = f"""
WITH t AS (
  SELECT doc_id, {_WORDS_SQL.format(c="text")} AS words FROM documents
), sh AS (
  SELECT doc_id, unnest({_SHINGLES5_SQL}) AS s FROM t
), bench AS (
  SELECT DISTINCT s FROM sh WHERE doc_id < 10
), hits AS (
  SELECT doc_id, count(*) AS n FROM sh JOIN bench USING (s) GROUP BY doc_id
)
SELECT t.doc_id, coalesce(hits.n, 0)::BIGINT AS n_contaminated
FROM t LEFT JOIN hits ON t.doc_id = hits.doc_id
"""


def q_contamination_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination AUDIT (dedup.contamination_stats): the reporting
    complement of q_decontamination — per doc, the FRACTION of its
    distinct 5-word shingles found in the doc_id < 10 eval set, plus the
    PaLM-style ``dirty`` verdict at frac ≥ 0.2.  Eval docs self-match at
    frac 1.0; near-dup family members land in between — the threshold
    splits all three regimes on this corpus.  One corpus pass: broadcast
    eval shingles, LEFT-join marker, one map-side-combined groupBy."""
    from .operators.dedup import contamination_stats

    d = _read(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") < 10)
    return contamination_stats(d, bench, "doc_id", k=5, frac_threshold=0.2)


SQL_CONTAMINATION_STATS = f"""
WITH t AS (
  SELECT doc_id, {_WORDS_SQL.format(c="text")} AS words FROM documents
), shl AS (
  SELECT doc_id, {_SHINGLES5_SQL} AS ss FROM t
), sh AS (
  SELECT doc_id, unnest(ss) AS s FROM shl
), bench AS (
  SELECT DISTINCT s FROM sh WHERE doc_id < 10
), hits AS (
  SELECT doc_id, count(*) AS n FROM sh JOIN bench USING (s) GROUP BY doc_id
), frac AS (
  SELECT shl.doc_id,
         len(ss)::BIGINT AS n_shingles,
         coalesce(hits.n, 0)::BIGINT AS n_contaminated,
         CASE WHEN len(ss) > 0
              THEN round(coalesce(hits.n, 0) / len(ss), 6)
              ELSE 0.0 END AS contamination_frac
  FROM shl LEFT JOIN hits ON shl.doc_id = hits.doc_id
)
SELECT doc_id, n_shingles, n_contaminated, contamination_frac,
       contamination_frac >= 0.2 AS dirty
FROM frac
"""


BLOOM_N_BITS = 1 << 16
BLOOM_N_HASHES = 4


def q_decontamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (dedup.decontaminate_bloom) — the
    100-TB form of q_decontamination: the eval side ships as a FIXED-SIZE
    bit-array plan literal (n_bits/8 bytes however big the eval suite is)
    and the corpus side tests membership with pure codegen shift/AND — no
    join, no UDF beyond shingling.  Same doc_id < 10 eval set and 5-word
    shingles as the exact variant; md5-prefix positions are portable, so
    the oracle replays the filter bit-for-bit (superset-of-exact with
    FPR ≈ (1−e^(−4n/65536))⁴ — determinism, not absence of false
    positives, is the contract)."""
    from .operators.dedup import decontaminate_bloom

    d = _read(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") < 10)
    return decontaminate_bloom(
        d, bench, "doc_id", k=5, n_bits=BLOOM_N_BITS, n_hashes=BLOOM_N_HASHES
    )


_BLOOM_POS_SQL = (
    f"('0x' || substr(md5(i::VARCHAR || s), 1, 8))::UBIGINT % {BLOOM_N_BITS}"
)

SQL_DECONTAMINATION_BLOOM = f"""
WITH t AS (
  SELECT doc_id, {_WORDS_SQL.format(c="text")} AS words FROM documents
), sh AS (
  SELECT doc_id, unnest({_SHINGLES5_SQL}) AS s FROM t
), corp AS (
  SELECT doc_id, s, {_BLOOM_POS_SQL} AS p
  FROM sh, range({BLOOM_N_HASHES}) r(i)
), bpos AS (
  SELECT DISTINCT p FROM corp WHERE doc_id < 10
), m AS (
  SELECT c.doc_id, c.s, count(b.p) AS nset
  FROM corp c LEFT JOIN bpos b USING (p)
  GROUP BY c.doc_id, c.s
), flags AS (
  SELECT doc_id, count(*) AS n FROM m WHERE nset = {BLOOM_N_HASHES} GROUP BY doc_id
)
SELECT t.doc_id, coalesce(flags.n, 0)::BIGINT AS n_flagged
FROM t LEFT JOIN flags ON t.doc_id = flags.doc_id
"""


LINE_BOILER = "all rights reserved subscribe to our newsletter today"
LINE_DF_CAP = 50


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document LINE dedup (dedup.drop_duplicate_lines):
    boilerplate lines shared by > LINE_DF_CAP docs vanish from every doc,
    surviving lines keep their order.

    The driver corpus is single-line, so the query derives multi-line docs
    deterministically (8-word chunks; even doc_ids get a planted
    boilerplate first line shared by half the corpus — df ≈ 250 ≫ cap),
    then checks the rebuilt text by md5.  Both engines derive the same
    lines, so the oracle is exact."""
    from .operators.dedup import drop_duplicate_lines

    d = _read(spark, sf_dir, "documents")
    words = _words(F.col("text"))
    n = F.size(words)
    nl = ((n + F.lit(7)) / F.lit(8)).cast("int")
    chunks = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), nl - F.lit(1)),
            lambda i: F.array_join(F.slice(words, i * 8 + 1, 8), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    lines = F.when(
        F.pmod(F.col("doc_id"), F.lit(2)) == 0,
        F.concat(F.array(F.lit(LINE_BOILER)), chunks),
    ).otherwise(chunks)
    docs = d.select("doc_id", F.array_join(lines, "\n").alias("text"))
    out = drop_duplicate_lines(docs, "doc_id", max_line_df=LINE_DF_CAP)
    return out.select(
        "doc_id", "n_lines_kept", F.md5("text_deduped").alias("content_md5")
    )


SQL_LINE_DEDUP = f"""
WITH t AS (
  SELECT doc_id, {_WORDS_SQL.format(c="text")} AS words FROM documents
), lined AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0
              THEN list_prepend('{LINE_BOILER}', chunks) ELSE chunks END AS lines
  FROM (
    SELECT doc_id,
           CASE WHEN len(words) > 0 THEN
             list_transform(range(0, (len(words) + 7) // 8),
                            i -> array_to_string(words[i*8+1 : i*8+8], ' '))
           ELSE []::VARCHAR[] END AS chunks
    FROM t)
), ex AS (
  SELECT doc_id, unnest(lines) AS line, generate_subscripts(lines, 1) AS pos
  FROM lined
), hot AS (
  SELECT line FROM ex GROUP BY line HAVING count(DISTINCT doc_id) > {LINE_DF_CAP}
), kept AS (
  SELECT * FROM ex WHERE line NOT IN (SELECT line FROM hot)
), rebuilt AS (
  SELECT doc_id, count(*) AS n, string_agg(line, chr(10) ORDER BY pos) AS txt
  FROM kept GROUP BY doc_id
)
SELECT l.doc_id, coalesce(r.n, 0)::BIGINT AS n_lines_kept,
       md5(coalesce(r.txt, '')) AS content_md5
FROM lined l LEFT JOIN rebuilt r ON l.doc_id = r.doc_id
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate CLUSTERS: the keep-one-per-group step every
    dedup family needs before a corpus is scrubbed.  Connected components
    over the ≥0.5-Jaccard pair graph (operators/dedup.connected_components:
    the pair list, orders of magnitude smaller than the corpus, is
    collected once and solved on the driver by union-find; only a graph
    above the module's edge bound runs iterative min-label propagation).
    Output: one row per clustered doc with its cluster id (= min doc_id in
    the component), cluster size, and the keep/drop canonical flag."""
    from .operators.dedup import connected_components

    # fan_out=False: small self-join and pair-graph work; see q_dedup_jaccard
    # (A/B at sf1.0, iterative components: 8.5 s -> 2.6 s)
    pairs = _jaccard_pairs(_read(spark, sf_dir, "documents", fan_out=False))
    comp = connected_components(pairs, "da", "db")
    cs = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return comp.join(cs, "component").select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster"),
        "cluster_size",
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )


_JACCARD_PAIRS_CTES = f"""t AS (
  SELECT doc_id, {_WORDS_SQL.format(c="text")} AS words FROM documents
), raw AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM t
), sh AS (
  SELECT doc_id, shingle FROM raw
  WHERE shingle IN (SELECT shingle FROM raw GROUP BY shingle HAVING count(*) <= {JACCARD_DF_CAP})
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), pairs AS (
  SELECT da, db
  FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
  WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= 0.5
)"""

SQL_DEDUP_JACCARD = f"""
WITH {_JACCARD_PAIRS_CTES}
SELECT doc_id, count(*) AS n_similar FROM (
  SELECT da AS doc_id FROM pairs UNION ALL SELECT db FROM pairs
) GROUP BY doc_id
"""

# connected components as a recursive CTE: lbl enumerates every (node,
# reachable-node) pair, min() collapses to the component id — a genuinely
# different algorithm from the Spark side's min-label propagation, which is
# what makes this a real two-implementation check.
SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_JACCARD_PAIRS_CTES},
edges AS (
  SELECT da AS u, db AS v FROM pairs UNION SELECT db, da FROM pairs
), lbl(node, label) AS (
  SELECT DISTINCT u, u FROM edges
  UNION
  SELECT e.u, l.label FROM edges e JOIN lbl l ON l.node = e.v
), comp AS (
  SELECT node, min(label) AS cluster FROM lbl GROUP BY node
), cs AS (
  SELECT cluster, count(*) AS cluster_size FROM comp GROUP BY cluster
)
SELECT node AS doc_id, comp.cluster, cs.cluster_size,
       (node = comp.cluster) AS is_canonical
FROM comp JOIN cs ON comp.cluster = cs.cluster
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-priority retention per duplicate cluster (NemoCurator /
    FineWeb policy): same ≥0.5-Jaccard clusters as ``dedup_clusters``, but
    the retained member is the argmax of a quality score (here ``n_chars``
    — "keep the longest copy"; ties → min doc_id) instead of the min key.
    One node-id join + one per-cluster window, both on the pair-graph nodes
    only (operators/dedup.component_keep_best)."""
    from .operators.dedup import component_keep_best, connected_components

    # fan_out=False: same small-graph profile as q_dedup_clusters (A/B at
    # sf1.0, iterative components: 8.2 s with fan-out, 3.5 s without)
    d = _read(spark, sf_dir, "documents", fan_out=False)
    pairs = _jaccard_pairs(d)
    comp = connected_components(pairs, "da", "db")
    best = component_keep_best(comp, d, "doc_id", "n_chars")
    return best.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster"),
        F.col("score").alias("n_chars"),
        "is_retained",
    )


SQL_DEDUP_KEEP_BEST = f"""
WITH RECURSIVE {_JACCARD_PAIRS_CTES},
edges AS (
  SELECT da AS u, db AS v FROM pairs UNION SELECT db, da FROM pairs
), lbl(node, label) AS (
  SELECT DISTINCT u, u FROM edges
  UNION
  SELECT e.u, l.label FROM edges e JOIN lbl l ON l.node = e.v
), comp AS (
  SELECT node, min(label) AS cluster FROM lbl GROUP BY node
)
SELECT comp.node AS doc_id, comp.cluster, d.n_chars,
       (row_number() OVER (PARTITION BY comp.cluster
                           ORDER BY d.n_chars DESC, comp.node ASC) = 1)
         AS is_retained
FROM comp JOIN documents d ON d.doc_id = comp.node
"""


# 30-token boilerplate appended to an md5-bucket of docs so ExactSubstr has
# real repeated spans to find (the natural corpus has none at k=20)
SUBSTR_BOILERPLATE = (
    "all rights reserved this site uses cookies to improve your experience "
    "subscribe to our newsletter for updates terms of service and privacy "
    "policy apply to all visitors of this website"
)
SUBSTR_K = 20


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2022): strip every token inside a
    >= 20-token span that occurs more than once corpus-wide.  The corpus is
    documents with a deterministic 20% md5-bucket carrying an appended
    30-token boilerplate sentence (the planted-span corpus — the natural
    sf data has no 20-token repeats), so the operator demonstrably removes
    the boilerplate, plus the occasional extra token where two planted
    docs happen to share the token preceding the plant.  The oracle
    recomputes the window-coverage semantics over literal gram strings —
    a hash-free second implementation, so a Spark-side hashing bug cannot
    self-confirm."""
    from .operators.dedup import substring_dedup
    from .operators.sampling import sample_bucket

    d = _read(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.when(
            sample_bucket(F.col("doc_id")) < 200,
            F.concat_ws(" ", F.col("text"), F.lit(SUBSTR_BOILERPLATE)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return substring_dedup(planted, k=SUBSTR_K)


def _dedup_substring_sql() -> str:
    from .operators.sampling import sample_bucket_sql

    b = sample_bucket_sql("doc_id")
    k = SUBSTR_K
    return f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN {b} < 200 THEN text || ' ' || '{SUBSTR_BOILERPLATE}'
              ELSE text END AS text
  FROM documents
), tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '{_WS_SQL}+'), w -> w <> '') AS toks
  FROM base
), g AS (
  SELECT doc_id, s, array_to_string(toks[s : s + {k - 1}], ' ') AS gram
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - {k - 2})) AS s FROM tk)
), dup AS (
  SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2
), ds AS (
  SELECT doc_id, s FROM g WHERE gram IN (SELECT gram FROM dup)
), pos AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS p FROM tk
), kept AS (
  SELECT pos.doc_id, pos.p, pos.tok FROM pos
  WHERE NOT EXISTS (SELECT 1 FROM ds
                    WHERE ds.doc_id = pos.doc_id
                      AND ds.s BETWEEN pos.p - {k - 1} AND pos.p)
), agg AS (
  SELECT doc_id, count(*) AS n_kept, string_agg(tok, ' ' ORDER BY p) AS txt
  FROM kept GROUP BY doc_id
)
SELECT tk.doc_id, len(tk.toks) AS n_tokens,
       len(tk.toks) - coalesce(agg.n_kept, 0) AS n_removed,
       coalesce(agg.txt, '') AS text_dedup
FROM tk LEFT JOIN agg USING (doc_id)
"""


SQL_DEDUP_SUBSTRING = _dedup_substring_sql()


# ---------------------------------------------------------------- similarity search

def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline: 10 query vectors × corpus via a
    broadcast nested-loop join (query side is tiny and explicitly
    broadcast); exact ranking with a window."""
    from .operators.similarity import brute_force_topk

    e = _read(spark, sf_dir, "embeddings")
    top = brute_force_topk(e, e.filter(F.col("vec_id") < 10), "vec_id", "embedding", k=5)
    return top.select("qid", "neighbor", F.round("cos", 5).alias("cos_sim"), "rank")


SQL_SIMILARITY_TOPK = """
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.qid, e.vec_id AS neighbor,
         list_sum(list_transform(list_zip(q.qv, e.embedding),
                  p -> p[1]::DOUBLE * p[2]::DOUBLE))
         / (sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE)))
          * sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cos
  FROM embeddings e, q WHERE e.vec_id <> q.qid
), ranked AS (
  SELECT qid, neighbor, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor ASC) AS rank
  FROM scored
)
SELECT qid, neighbor, round(cos, 5) AS cos_sim, rank FROM ranked WHERE rank <= 5
"""


def q_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-centroid scorer (reference check_anomalies.py:98-151 rebuilt
    relationally): per-label centroid via posexplode + positional avg, then
    mean member-to-centroid cosine per label."""
    from .operators.similarity import _dot, _norm

    e = _read(spark, sf_dir, "embeddings")
    exploded = e.select("vec_id", "label", F.posexplode("embedding").alias("pos", "v"))
    cent = (
        exploded.groupBy("label", "pos")
        .agg(F.avg(F.col("v").cast("double")).alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("centroid")
        )
    )
    j = e.join(F.broadcast(cent), "label")
    ev, cv = F.col("embedding"), F.col("centroid")
    cos = _dot(ev, cv) / (_norm(ev) * _norm(cv))
    return (
        j.withColumn("cos", cos)
        .groupBy("label")
        .agg(F.count("*").alias("n"), F.round(F.avg("cos"), 4).alias("avg_centroid_sim"))
    )


SQL_CENTROID_SIMILARITY = """
WITH ex AS (
  SELECT vec_id, label, unnest(embedding)::DOUBLE AS v,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
), cent AS (
  SELECT label, list(c ORDER BY pos) AS centroid
  FROM (SELECT label, pos, avg(v) AS c FROM ex GROUP BY label, pos) GROUP BY label
), scored AS (
  SELECT e.label,
         list_sum(list_transform(list_zip(e.embedding, c.centroid),
                  p -> p[1]::DOUBLE * p[2]::DOUBLE))
         / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
          * sqrt(list_sum(list_transform(c.centroid, x -> x * x)))) AS cos
  FROM embeddings e JOIN cent c ON e.label = c.label
)
SELECT label, count(*) AS n, round(avg(cos), 4) AS avg_centroid_sim
FROM scored GROUP BY label
"""


# ---------------------------------------------------------------- text analysis

def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + mean word length per lang (quality-score features).
    Staged projection: the words array materializes once (measured 1.5x at
    1M docs vs the re-splitting single-projection form — see BENCH.md)."""
    d = _read(spark, sf_dir, "documents")
    staged = d.withColumn("_ws", _words(F.col("text")))
    n_words = F.size(F.col("_ws"))
    mean_wl = (
        F.aggregate(F.col("_ws"), F.lit(0), lambda a, w: a + F.length(w)) / n_words
    )
    return (
        staged.select("lang", n_words.alias("nw"), mean_wl.alias("mwl"))
        .groupBy("lang")
        .agg(
            F.round(F.avg("nw"), 4).alias("avg_words"),
            F.round(F.avg("mwl"), 4).alias("avg_word_len"),
        )
    )


SQL_TOKEN_STATS = f"""
WITH t AS (
  SELECT lang, {_WORDS_SQL.format(c="text")} AS words FROM documents
), s AS (
  SELECT lang, len(words) AS nw,
         list_sum(list_transform(words, w -> length(w)))::DOUBLE / len(words) AS mwl
  FROM t
)
SELECT lang, round(avg(nw), 4) AS avg_words, round(avg(mwl), 4) AS avg_word_len
FROM s GROUP BY lang
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: word count, distinct
    words, top-word fraction, top-bigram fraction (the "fraction of content
    in the most repeated n-gram" family of quality rules).

    ONE Arrow UDF pass, zero shuffles: the per-doc frequency tables live
    inside the kernel, so at 100 TB this is embarrassingly parallel scan
    work — versus the relational form (posexplode → two groupBys → window),
    which pays two full word-level shuffles.  Fractions are emitted as raw
    doubles (identical IEEE division on both engines — rounding would
    introduce half-ulp ties at e.g. 128-word docs)."""
    d = _read(spark, sf_dir, "documents")

    out_t = T.StructType([
        T.StructField("n_words", T.LongType()),
        T.StructField("n_distinct_words", T.LongType()),
        T.StructField("top_word_frac", T.DoubleType()),
        T.StructField("top_bigram_frac", T.DoubleType()),
    ])

    @F.pandas_udf(out_t)
    def rep(texts: pd.Series) -> pd.DataFrame:
        import re
        from collections import Counter

        split = re.compile(r"[ \t\n\r\f\x0B]+").split
        rows = []
        for t in texts:
            ws = [w for w in split(t)] if t else []
            ws = [w for w in ws if w]
            if not ws:
                rows.append((0, 0, None, None))
                continue
            wc = Counter(ws)
            n = len(ws)
            top_w = max(wc.values()) / n
            if n >= 2:
                bc = Counter(zip(ws, ws[1:]))
                top_b = max(bc.values()) / (n - 1)
            else:
                top_b = None
            rows.append((n, len(wc), top_w, top_b))
        return pd.DataFrame(rows, columns=[f.name for f in out_t.fields])

    return d.select("doc_id", rep(F.col("text")).alias("r")).select("doc_id", "r.*")


SQL_REPETITION_STATS = f"""
WITH t AS (
  SELECT doc_id, {_WORDS_SQL.format(c="text")} AS words FROM documents
), w AS (
  SELECT doc_id, unnest(words) AS word FROM t
), wc AS (
  SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2
), ws AS (
  SELECT doc_id, sum(c)::BIGINT AS n_words, count(*)::BIGINT AS n_distinct_words,
         max(c)::BIGINT AS mc
  FROM wc GROUP BY 1
), b AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(words)),
                               i -> words[i] || ' ' || words[i+1])) AS bigram
  FROM t
), bc AS (
  SELECT doc_id, bigram, count(*) AS c FROM b GROUP BY 1, 2
), bs AS (
  SELECT doc_id, sum(c)::BIGINT AS nb, max(c)::BIGINT AS mb FROM bc GROUP BY 1
)
SELECT t.doc_id,
       coalesce(ws.n_words, 0) AS n_words,
       coalesce(ws.n_distinct_words, 0) AS n_distinct_words,
       ws.mc / ws.n_words AS top_word_frac,
       bs.mb / bs.nb AS top_bigram_frac
FROM t LEFT JOIN ws ON t.doc_id = ws.doc_id LEFT JOIN bs ON t.doc_id = bs.doc_id
"""


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher hard-rule document gate (Rae et al. 2021 Appendix A — the
    MassiveWeb filter list behind RefinedWeb/Dolma/FineWeb): per-document
    word count, mean word length, symbol-to-word ratio, bullet/ellipsis
    line fractions, duplicate-line fraction, alpha-word fraction, stop-word
    hits, and the paper-threshold keep verdict.

    Pure Column expressions (``textstats.gopher_signals``) — scan-local,
    zero shuffles, no Python; the oracle recomputes every signal with
    DuckDB list lambdas and the identical int/int IEEE divisions.

    Contract-scale parameter: ``min_stop_hits=1`` (paper default 2) —
    the synthetic vocabulary contains exactly one Gopher stop word
    ("the"), so the paper threshold would make ``keep`` vacuously false
    here; at 1 the verdict splits the corpus and every conjunct is live."""
    from .operators.textstats import gopher_gate_df

    d = _read(spark, sf_dir, "documents")
    g = gopher_gate_df(
        d, "text", out_col="keep", with_signals=True, min_stop_hits=1
    )
    return g.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        "mean_word_len",
        "hash_word_ratio",
        "ellipsis_word_ratio",
        "bullet_line_frac",
        "ellipsis_line_frac",
        "dup_line_frac",
        "alpha_word_frac",
        F.col("stop_hits").cast("long").alias("stop_hits"),
        "keep",
    )


def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaner (Raffel et al. 2020 §2.2): per-line word-count
    / javascript filters rebuild ``text_clean``; doc flags (curly brace,
    lorem ipsum, dirty word) and the keep verdict ride along.

    Contract-scale parameters (documented, same pattern as
    ``gopher_rules``): the synthetic corpus is single-line with no
    punctuation, so ``require_terminal_punct=False``,
    ``min_words_per_line=50`` (median doc ≈56 words — splits the corpus)
    and ``min_kept_lines=1``.  The paper-faithful defaults (5+ words,
    terminal punctuation, 3+ lines) are pinned by pytest on multi-line
    fixtures."""
    from .operators.normalize import c4_clean_df

    d = _read(spark, sf_dir, "documents")
    g = c4_clean_df(
        d, "text", min_words_per_line=50, require_terminal_punct=False,
        min_kept_lines=1, out_keep="keep", with_signals=True,
    )
    return g.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_kept_lines").cast("long").alias("n_kept_lines"),
        "text_clean",
        "has_brace",
        "has_lorem",
        "has_dirty",
        "keep",
    )


SQL_C4_CLEAN = """
WITH t AS (
  SELECT doc_id, coalesce(text, '') AS text,
         list_filter(string_split(coalesce(text, ''), chr(10)),
                     l -> trim(l) <> '') AS lines
  FROM documents
), k AS (
  SELECT doc_id, text, lines,
         list_filter(lines, l ->
           len(list_filter(regexp_split_to_array(l, '[ \\t\\n\\r\\f\\x0B]+'),
                           w -> w <> '')) >= 50
           AND NOT regexp_matches(lower(l), '\\bjavascript\\b')) AS kept
  FROM t
)
SELECT doc_id,
       len(lines)::BIGINT AS n_lines,
       len(kept)::BIGINT AS n_kept_lines,
       coalesce(array_to_string(kept, chr(10)), '') AS text_clean,
       contains(text, '{') AS has_brace,
       contains(lower(text), 'lorem ipsum') AS has_lorem,
       regexp_matches(lower(text),
                      '\\b(frakking|dagnabbit|blasted|gorram)\\b') AS has_dirty,
       coalesce(
         len(kept) >= 1
         AND NOT contains(text, '{')
         AND NOT contains(lower(text), 'lorem ipsum')
         AND NOT regexp_matches(lower(text),
                                '\\b(frakking|dagnabbit|blasted|gorram)\\b'),
         false) AS keep
FROM k
"""


# the word split mirrors textstats.words exactly: strip the _WS class at the
# ends, split on runs of it, never emit empty tokens (the list_filter covers
# texts with non-space whitespace at the ends, where DuckDB's space-only
# trim() would otherwise leave an empty first/last element)
_GOPHER_WORDS_SQL = (
    f"list_filter(regexp_split_to_array(coalesce(text, ''), '{_WS_SQL}+'),"
    " w -> w <> '')"
)

SQL_GOPHER_RULES = f"""
WITH t AS (
  SELECT doc_id, coalesce(text, '') AS text,
         {_GOPHER_WORDS_SQL} AS words,
         list_filter(string_split(coalesce(text, ''), chr(10)),
                     l -> trim(l) <> '') AS lines
  FROM documents
), s AS (
  SELECT doc_id,
         len(words)::BIGINT AS n_words,
         CASE WHEN len(words) > 0
              THEN list_sum(list_transform(words, w -> length(w)))::DOUBLE
                   / len(words) END AS mean_word_len,
         CASE WHEN len(words) > 0
              THEN len(regexp_extract_all(text, '#', 0))::DOUBLE
                   / len(words) END AS hash_word_ratio,
         CASE WHEN len(words) > 0
              THEN len(regexp_extract_all(text, '(\\.\\.\\.|…)', 1))::DOUBLE
                   / len(words) END AS ellipsis_word_ratio,
         CASE WHEN len(lines) > 0
              THEN len(list_filter(lines,
                       l -> regexp_matches(trim(l), '^[•‣▪*-]')))::DOUBLE
                   / len(lines) END AS bullet_line_frac,
         CASE WHEN len(lines) > 0
              THEN len(list_filter(lines,
                       l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$')))::DOUBLE
                   / len(lines) END AS ellipsis_line_frac,
         CASE WHEN len(lines) > 0
              THEN (len(lines) - len(list_distinct(lines)))::DOUBLE
                   / len(lines) END AS dup_line_frac,
         CASE WHEN len(words) > 0
              THEN len(list_filter(words,
                       w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE
                   / len(words) END AS alpha_word_frac,
         len(list_intersect(
             list_distinct(list_transform(words, w -> lower(w))),
             ['the','be','to','of','and','that','have','with']))::BIGINT
           AS stop_hits
  FROM t
)
SELECT doc_id, n_words, mean_word_len, hash_word_ratio, ellipsis_word_ratio,
       bullet_line_frac,
       ellipsis_line_frac, dup_line_frac, alpha_word_frac, stop_hits,
       coalesce(
         n_words BETWEEN 50 AND 100000
         AND mean_word_len BETWEEN 3 AND 10
         AND hash_word_ratio <= 0.1
         AND ellipsis_word_ratio <= 0.1
         AND coalesce(bullet_line_frac <= 0.9, true)
         AND coalesce(ellipsis_line_frac <= 0.3, true)
         AND coalesce(dup_line_frac <= 0.3, true)
         AND alpha_word_frac >= 0.8
         AND stop_hits >= 1, false) AS keep
FROM s
"""


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher repetition family's SQL-expressible signals per document
    (Rae et al. 2021 Table A1): duplicate line/paragraph fractions and
    char fractions, top-{2,3,4}-gram char fractions — computed by the ONE
    Arrow-pass kernel ``textstats.gopher_repetition`` and re-derived
    relationally by the DuckDB oracle (unnest → group → window argmax with
    the identical count-desc / length-desc / string-asc tie-break).

    The positional-coverage signals (``dup_{5..10}gram_char_frac``) and the
    paper-threshold ``rep_keep`` verdict ride in the same kernel but are
    pinned by pytest fixtures instead (coverage semantics need word
    positions — not reasonably SQL-expressible)."""
    from .operators.textstats import gopher_repetition

    d = _read(spark, sf_dir, "documents")
    r = gopher_repetition(d, "doc_id")
    return r.select(
        "doc_id", "n_lines", "dup_line_frac", "dup_line_char_frac",
        "dup_para_frac", "dup_para_char_frac", "top_2gram_char_frac",
        "top_3gram_char_frac", "top_4gram_char_frac",
    )


def _gopher_rep_unit_sql(sep: str, prefix: str) -> str:
    """Dup-unit stats over text split by ``sep``: occurrences of repeated
    values / total, and their chars / total chars.  Units are stripped with
    the explicit ``_WS_SQL`` class (NOT DuckDB's space-only ``trim``) to
    match the kernel's ``str.strip(" \\t\\n\\r\\f\\x0b")`` exactly."""
    return f"""
{prefix}x AS (
  SELECT doc_id, unnest(list_filter(
    list_transform(string_split(text, {sep}),
                   x -> regexp_replace(x, '^{_WS_SQL}+|{_WS_SQL}+$', '', 'g')),
    u -> u <> '')) AS u
  FROM t
), {prefix}c AS (
  SELECT doc_id, u, count(*) AS c FROM {prefix}x GROUP BY 1, 2
), {prefix}s AS (
  SELECT doc_id,
         sum(c)::BIGINT AS n_units,
         sum(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE AS dup_units,
         sum(len(u) * c)::BIGINT AS tot_ch,
         sum(CASE WHEN c > 1 THEN len(u) * c ELSE 0 END)::DOUBLE AS dup_ch
  FROM {prefix}c GROUP BY 1
)"""


def _gopher_rep_top_sql(n: int) -> str:
    """Most-frequent word n-gram char fraction (count desc, char length
    desc, string asc tie-break) as a 1-row-per-doc CTE ``t{n}``."""
    return f"""
g{n} AS (
  SELECT doc_id, n_chars,
         array_to_string(ws[i : i + {n - 1}], ' ') AS g
  FROM w, unnest(generate_series(1, len(ws) - {n - 1})) AS _(i)
  WHERE len(ws) >= {n} AND n_chars > 0
), gc{n} AS (
  SELECT doc_id, n_chars, g, count(*) AS c FROM g{n} GROUP BY 1, 2, 3
), t{n} AS (
  SELECT doc_id, c * length(g) / n_chars AS frac
  FROM (SELECT *, row_number() OVER (
          PARTITION BY doc_id
          ORDER BY c DESC, length(g) DESC, g ASC) AS rn
        FROM gc{n})
  WHERE rn = 1
)"""


SQL_GOPHER_REPETITION = f"""
WITH t AS (
  SELECT doc_id, coalesce(text, '') AS text FROM documents
), w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '{_WS_SQL}+'),
                     x -> x <> '') AS ws,
         length(text) AS n_chars
  FROM t
), {_gopher_rep_unit_sql("chr(10)", "ln")[1:]},
{_gopher_rep_unit_sql("chr(10) || chr(10)", "pr")[1:]},
{_gopher_rep_top_sql(2)[1:]},
{_gopher_rep_top_sql(3)[1:]},
{_gopher_rep_top_sql(4)[1:]}
SELECT t.doc_id,
       coalesce(lns.n_units, 0) AS n_lines,
       lns.dup_units / lns.n_units AS dup_line_frac,
       lns.dup_ch / nullif(lns.tot_ch, 0) AS dup_line_char_frac,
       prs.dup_units / prs.n_units AS dup_para_frac,
       prs.dup_ch / nullif(prs.tot_ch, 0) AS dup_para_char_frac,
       t2.frac AS top_2gram_char_frac,
       t3.frac AS top_3gram_char_frac,
       t4.frac AS top_4gram_char_frac
FROM t
LEFT JOIN lns ON lns.doc_id = t.doc_id
LEFT JOIN prs ON prs.doc_id = t.doc_id
LEFT JOIN t2 ON t2.doc_id = t.doc_id
LEFT JOIN t3 ON t3.doc_id = t.doc_id
LEFT JOIN t4 ON t4.doc_id = t.doc_id
"""


def q_skew_salted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus stats via TWO-PHASE SALTED aggregation (the north
    rule's host/url-skew defuser, plans/pipeline.salted_group_count): phase
    1 groups by (source, salt=pmod(xxhash64(doc_id), 16)) so one hot source
    spreads over 16 reducers; phase 2 collapses the partials.  Distinct
    langs use the same trick with the natural (source, lang) key.  The
    result is salt-invariant, so the oracle is the plain GROUP BY."""
    d = _read(spark, sf_dir, "documents")
    salt = F.pmod(F.xxhash64("doc_id"), F.lit(16))
    partial = d.groupBy("source", salt.alias("_salt")).agg(
        F.count("*").alias("c"), F.sum("n_chars").alias("s")
    )
    totals = partial.groupBy("source").agg(
        F.sum("c").alias("n_docs"), F.sum("s").alias("total_chars")
    )
    langs = (
        d.groupBy("source", "lang")
        .agg(F.count("*").alias("_n"))
        .groupBy("source")
        .agg(F.count("*").alias("n_langs"))
    )
    return totals.join(langs, "source")


SQL_SKEW_SALTED_STATS = """
SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
       count(DISTINCT lang) AS n_langs
FROM documents GROUP BY source
"""


SAMPLE_RATES = {"en": 0.5, "de": 0.3, "es": 0.2}
SAMPLE_DEFAULT = 0.1


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified down-sampling (operators/sampling.py): per-
    language keep rates gated by an md5-bucket of doc_id — reproducible,
    nested, shuffle-free, and portable enough that the oracle re-runs the
    identical arithmetic.  Emits the sampled rows (the strong check: any
    bucket-formula divergence flips specific rows, not just counts)."""
    from .operators.sampling import sample_bucket, stratified_sample

    d = _read(spark, sf_dir, "documents")
    return stratified_sample(d, "doc_id", "lang", SAMPLE_RATES, SAMPLE_DEFAULT).select(
        "doc_id", "lang", sample_bucket(F.col("doc_id")).alias("bucket")
    )


def _sample_stratified_sql() -> str:
    from .operators.sampling import BUCKETS, sample_bucket_sql

    b = sample_bucket_sql("doc_id")
    whens = " ".join(
        f"WHEN '{v}' THEN {int(r * BUCKETS)}" for v, r in sorted(SAMPLE_RATES.items())
    )
    return (
        f"SELECT doc_id, lang, {b} AS bucket FROM documents "
        f"WHERE {b} < CASE lang {whens} ELSE {int(SAMPLE_DEFAULT * BUCKETS)} END"
    )


SQL_SAMPLE_STRATIFIED = _sample_stratified_sql()


def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-weighted token-budget corpus mixture — FULLY ORACLED.

    ``operators.sampling.mixture_sample`` with weights derived in-query
    from the source id (``(suffix % 3) + 1`` — deterministic in both
    engines, robust to which sources exist at a given SF) and a 30k-token
    budget, sized so weight-1 sources bind their quota at sf0.01+ while
    weight-3 sources don't — both sides of the greedy gate exercised."""
    from .operators.sampling import mixture_sample

    d = _read(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source", F.size(_words(F.col("text"))).alias("n_tokens")
    )
    weights = (
        d.select("source")
        .distinct()
        .withColumn(
            "weight",
            (F.substring("source", 4, 10).cast("int") % 3 + 1).cast("double"),
        )
    )
    out = mixture_sample(tok, weights, token_budget=30000.0)
    return out.select("doc_id", "source", "n_tokens", "cum_tokens", "mix_keep")


SQL_CORPUS_MIXTURE = f"""
WITH tok AS (
  SELECT doc_id, source, len({_WORDS_SQL.format(c="text")}) AS n_tokens
  FROM documents
), wts AS (
  SELECT source, ((substr(source, 4)::INT % 3) + 1)::DOUBLE AS weight
  FROM (SELECT DISTINCT source FROM documents)
), tw AS (SELECT sum(weight) AS tw FROM wts),
q AS (SELECT source, 30000.0 * weight / (SELECT tw FROM tw) AS quota FROM wts),
c AS (
  SELECT doc_id, source, n_tokens,
         (sum(n_tokens) OVER (PARTITION BY source ORDER BY md5(doc_id::VARCHAR)
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          )::BIGINT AS cum_tokens
  FROM tok
)
SELECT c.doc_id, c.source, c.n_tokens, c.cum_tokens,
       (c.cum_tokens - c.n_tokens) < coalesce(q.quota, 0.0) AS mix_keep
FROM c LEFT JOIN q ON q.source = c.source
"""


def q_lang_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language heuristic (cheap langid tier) vs the claimed
    tag — a confusion-style aggregate."""
    d = _read(spark, sf_dir, "documents")
    words = _words(F.lower(F.col("text")))
    stops = F.lit(EN_STOPWORDS).cast("array<string>")
    hits = F.size(F.filter(words, lambda w: F.array_contains(stops, w)))
    pred = F.when(hits >= 2, "en").otherwise("other")
    return d.groupBy(F.col("lang"), pred.alias("pred_lang")).agg(F.count("*").alias("n"))


SQL_LANG_HEURISTIC = f"""
WITH t AS (
  SELECT lang, {_WORDS_SQL.format(c="lower(text)")} AS words FROM documents
)
SELECT lang,
       CASE WHEN len(list_filter(words, w -> list_contains({EN_STOPWORDS!r}, w))) >= 2
            THEN 'en' ELSE 'other' END AS pred_lang,
       count(*) AS n
FROM t GROUP BY 1, 2
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (C4/Gopher-style scalar) per lang — native
    arithmetic only, mirrored exactly in SQL.  Uses the staged form
    (``quality_score_df``): the word arrays materialize once instead of
    once per signal (interpreted HOF lambdas are not CSE'd)."""
    from .operators.textstats import quality_score_df

    d = _read(spark, sf_dir, "documents")
    return (
        quality_score_df(d, "text", out_col="q")
        .groupBy("lang")
        .agg(F.round(F.avg("q"), 4).alias("avg_quality"), F.count("*").alias("n"))
    )


def q_score_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of the quality score — the filter-metrics
    distribution table (north star: per-rule fire counts, langid
    distribution, perplexity histograms), oracled through the same
    ``metrics.histogram`` operator the perplexity table uses."""
    from .operators.metrics import histogram
    from .operators.textstats import quality_score_df

    d = _read(spark, sf_dir, "documents")
    scored = quality_score_df(d, "text", out_col="_q0").select(
        F.round(F.col("_q0"), 6).alias("q")
    )
    return histogram(scored, "q", 0.0, 1.0, n_buckets=20)


_STOPS20 = (
    "['the','a','of','and','to','in','is','was','for','that','it',"
    "'with','as','on','be','at','by','this','had','not']"
)

_QS_CTES = f"""
WITH t AS (
  SELECT lang, text, {_WORDS_SQL.format(c="text")} AS words,
         {_WORDS_SQL.format(c="lower(text)")} AS lwords,
         length(text) AS n
  FROM documents
), s AS (
  SELECT lang,
    round(
      0.3 * (CASE WHEN n > 0 THEN (n - length(regexp_replace(text, '[A-Za-z]', '', 'g')))::DOUBLE / n ELSE 0 END)
    + 0.25 * (CASE WHEN len(lwords) > 0
              THEN len(list_filter(lwords, w -> list_contains({_STOPS20}, w)))::DOUBLE / len(lwords)
              ELSE 0 END)
    + 0.25 * (CASE WHEN len(words) > 0
              THEN len(list_distinct(list_transform(words, w -> lower(w))))::DOUBLE / len(words)
              ELSE 0 END)
    + 0.2 * least(len(words) / 100.0, 1.0), 6) AS q
  FROM t
)
"""

SQL_QUALITY_SCORE = (
    _QS_CTES
    + "SELECT lang, round(avg(q), 4) AS avg_quality, count(*) AS n FROM s GROUP BY lang"
)

# same width_bucket semantics as metrics.histogram (q<lo → 0, q>=hi → n+1,
# else floor((q-lo)/width)+1); q is rounded to 6dp in BOTH engines first so
# bucket-edge doubles are bit-identical
SQL_SCORE_HISTOGRAM = (
    _QS_CTES
    + """
, b AS (
  SELECT CASE WHEN q < 0.0 THEN 0
              WHEN q >= 1.0 THEN 21
              ELSE (floor(q / 0.05) + 1)::INT END AS bucket
  FROM s WHERE q IS NOT NULL
)
SELECT bucket, count(*) AS n, round((bucket - 1) * 0.05, 6) AS lo
FROM b GROUP BY bucket ORDER BY bucket
"""
)


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalised document fingerprint (dedup key) — portable md5 form."""
    from .operators.textstats import fingerprint_md5

    d = _read(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint_md5(F.col("text")).alias("fp"))


SQL_FINGERPRINT = (
    "SELECT doc_id, md5(regexp_replace(lower(trim(text)), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')) AS fp "
    "FROM documents"
)


def q_weighted_combine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's weighted classification (generate_detection_weights
    + comprehensive_detector.py:723 Σ confidence×weight ≥ 0.3) as an
    ORACLED row: two deterministic SQL-expressible pseudo-findings feed
    ``operators.verdict.weighted_verdict``; DuckDB recomputes the
    threshold gate, the weighted sum, and best-detection attribution."""
    from .operators.textstats import token_count
    from .operators.verdict import weighted_verdict

    d = _read(spark, sf_dir, "documents")
    n = token_count(F.col("text"))
    # pattern-slot: probability grows with length, capped at 0.9; absent
    # for long docs — exercises the >=0.7 gate on both sides
    f1 = F.when(
        n < 120,
        F.struct(
            F.lit("len_rule").alias("rule"),
            F.lit("LEN").alias("code"),
            F.round(F.least(n / F.lit(100.0), F.lit(1.0)) * 0.9, 6).alias("probability"),
        ),
    )
    # ml-slot: fires on n%7 with one above-gate and one below-gate branch
    f2 = F.when(
        n % 7 == 0,
        F.struct(F.lit("mod_rule").alias("rule"), F.lit("MOD0").alias("code"),
                 F.lit(0.95).alias("probability")),
    ).when(
        n % 7 == 1,
        F.struct(F.lit("mod_rule").alias("rule"), F.lit("MOD1").alias("code"),
                 F.lit(0.6).alias("probability")),
    )
    v = weighted_verdict({"pattern": f1, "ml": f2}, weights={"pattern": 0.6, "ml": 0.4})
    return d.select(
        "doc_id",
        F.col("text").isNotNull().alias("scored"),
        v["method"].alias("method"),
        v["code"].alias("code"),
        F.round(v["probability"], 6).alias("probability"),
        v.isNull().alias("keep"),
    )


SQL_WEIGHTED_COMBINE = f"""
WITH t AS (
  SELECT doc_id, text IS NOT NULL AS scored,
         len({_WORDS_SQL.format(c="text")}) AS n
  FROM documents
), f AS (
  SELECT doc_id, scored,
    CASE WHEN n < 120 THEN round(least(n / 100.0, 1.0) * 0.9, 6) END AS p1,
    CASE WHEN n % 7 = 0 THEN 0.95 WHEN n % 7 = 1 THEN 0.6 END AS p2
  FROM t
), g AS (
  SELECT doc_id, scored, p2,
    CASE WHEN p1 >= 0.7 THEN p1 END AS g1,  -- pattern threshold gate
    CASE WHEN p2 >= 0.7 THEN p2 END AS g2   -- ml threshold gate
  FROM f
), v AS (
  SELECT doc_id, scored, p2,
    coalesce(g1 * 0.6, 0) + coalesce(g2 * 0.4, 0) AS score,
    -- best gated detection: strictly-higher wins, first slot keeps ties
    CASE WHEN g2 IS NOT NULL AND (g1 IS NULL OR g2 > g1) THEN 'ml'
         WHEN g1 IS NOT NULL THEN 'pattern' END AS best
  FROM g
)
SELECT doc_id, scored,
  CASE WHEN score >= 0.3 THEN coalesce(best, 'weighted') END AS method,
  CASE WHEN score >= 0.3 THEN
    CASE WHEN best = 'ml' THEN (CASE WHEN p2 = 0.95 THEN 'MOD0' ELSE 'MOD1' END)
         WHEN best = 'pattern' THEN 'LEN'
         ELSE 'WEIGHTED_ANOMALY' END END AS code,
  CASE WHEN score >= 0.3 THEN round(least(score, 1.0), 6) END AS probability,
  NOT (score >= 0.3) AS keep
FROM v
"""


_SWEEP_THRESHOLDS = [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]


def q_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """metrics.threshold_sweep (the reference's PR-curve generator,
    ml_curve_generator.py:234-367, as ONE pass) — ORACLED: deterministic
    score/label pairs derived from token counts, DuckDB recomputes the
    whole curve."""
    from .operators.metrics import threshold_sweep
    from .operators.textstats import token_count

    d = _read(spark, sf_dir, "documents")
    n = token_count(F.col("text"))
    scored = d.select(
        F.round(F.least(n / F.lit(100.0), F.lit(1.0)), 6).alias("s"),
        (n % 3 == 0).alias("y"),
    )
    curve = threshold_sweep(scored, "s", "y", _SWEEP_THRESHOLDS)
    return curve.select(
        F.round("threshold", 6).alias("threshold"), "tp", "fp", "fn", "tn",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
    )


SQL_THRESHOLD_CURVE = f"""
WITH sc AS (
  SELECT round(least(len({_WORDS_SQL.format(c="text")}) / 100.0, 1.0), 6) AS s,
         (len({_WORDS_SQL.format(c="text")}) % 3 = 0) AS y
  FROM documents WHERE text IS NOT NULL
), e AS (
  SELECT s, y, t.threshold FROM sc
  CROSS JOIN (SELECT unnest({_SWEEP_THRESHOLDS}) AS threshold) t
), agg AS (
  SELECT threshold,
    sum(CASE WHEN s > threshold AND y THEN 1 ELSE 0 END)::BIGINT AS tp,
    sum(CASE WHEN s > threshold AND NOT y THEN 1 ELSE 0 END)::BIGINT AS fp,
    sum(CASE WHEN s <= threshold AND y THEN 1 ELSE 0 END)::BIGINT AS fn,
    sum(CASE WHEN s <= threshold AND NOT y THEN 1 ELSE 0 END)::BIGINT AS tn
  FROM e GROUP BY threshold
)
SELECT round(threshold, 6) AS threshold, tp, fp, fn, tn,
  round(CASE WHEN tp + fp > 0 THEN tp / (tp + fp)::DOUBLE ELSE 0.0 END, 6) AS precision,
  round(CASE WHEN tp + fn > 0 THEN tp / (tp + fn)::DOUBLE ELSE 0.0 END, 6) AS recall,
  round(CASE WHEN (CASE WHEN tp + fp > 0 THEN tp / (tp + fp)::DOUBLE ELSE 0.0 END)
           + (CASE WHEN tp + fn > 0 THEN tp / (tp + fn)::DOUBLE ELSE 0.0 END) > 0
        THEN 2 * (CASE WHEN tp + fp > 0 THEN tp / (tp + fp)::DOUBLE ELSE 0.0 END)
               * (CASE WHEN tp + fn > 0 THEN tp / (tp + fn)::DOUBLE ELSE 0.0 END)
             / ((CASE WHEN tp + fp > 0 THEN tp / (tp + fp)::DOUBLE ELSE 0.0 END)
              + (CASE WHEN tp + fn > 0 THEN tp / (tp + fn)::DOUBLE ELSE 0.0 END))
        ELSE 0.0 END, 6) AS f1
FROM agg
"""


def q_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """metrics.confusion_matrix (reference set-algebra scoring,
    confusion_matrix_analyzer.py:79-341, as a full-outer join) — ORACLED
    on deterministic detected/injected sets from doc_id residues."""
    from .operators.metrics import confusion_matrix

    d = _read(spark, sf_dir, "documents")
    n_rows = d.count()
    base = d.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("text").alias("field"),
        "doc_id",
    )
    detected = base.filter(F.col("doc_id") % 3 == 0).drop("doc_id")
    injected = base.filter(F.col("doc_id") % 4 == 0).drop("doc_id")
    cm = confusion_matrix(detected, injected, n_rows=n_rows, n_fields=1)
    return cm.select(
        "tp", "fp", "fn", "tn",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
    )


SQL_CONFUSION_MATRIX = """
WITH n AS (SELECT count(*) AS n_rows FROM documents),
agg AS (
  SELECT
    sum(CASE WHEN doc_id % 3 = 0 AND doc_id % 4 = 0 THEN 1 ELSE 0 END)::BIGINT AS tp,
    sum(CASE WHEN doc_id % 3 = 0 AND doc_id % 4 != 0 THEN 1 ELSE 0 END)::BIGINT AS fp,
    sum(CASE WHEN doc_id % 3 != 0 AND doc_id % 4 = 0 THEN 1 ELSE 0 END)::BIGINT AS fn
  FROM documents
)
SELECT tp, fp, fn, (SELECT n_rows FROM n) - tp - fp - fn AS tn,
  round(CASE WHEN tp + fp > 0 THEN tp / (tp + fp)::DOUBLE ELSE 0.0 END, 6) AS precision,
  round(CASE WHEN tp + fn > 0 THEN tp / (tp + fn)::DOUBLE ELSE 0.0 END, 6) AS recall,
  round(CASE WHEN (CASE WHEN tp + fp > 0 THEN tp / (tp + fp)::DOUBLE ELSE 0.0 END)
           + (CASE WHEN tp + fn > 0 THEN tp / (tp + fn)::DOUBLE ELSE 0.0 END) > 0
        THEN 2 * (CASE WHEN tp + fp > 0 THEN tp / (tp + fp)::DOUBLE ELSE 0.0 END)
               * (CASE WHEN tp + fn > 0 THEN tp / (tp + fn)::DOUBLE ELSE 0.0 END)
             / ((CASE WHEN tp + fp > 0 THEN tp / (tp + fp)::DOUBLE ELSE 0.0 END)
              + (CASE WHEN tp + fn > 0 THEN tp / (tp + fn)::DOUBLE ELSE 0.0 END))
        ELSE 0.0 END, 6) AS f1
FROM agg
"""


PACK_BUDGET, PACK_SHARDS = 512, 8


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset sequence packing (operators/packing.py): documents →
    token-budget packs within (lang, md5-shard) windows; per-pack rollup
    with membership boundaries.  Oracle recomputes the identical window
    arithmetic in SQL — assignment errors shift totals or boundaries."""
    from .operators.packing import pack_documents

    d = _read(spark, sf_dir, "documents")
    packed = pack_documents(
        d, "doc_id", PACK_BUDGET, group_cols=("lang",), n_shards=PACK_SHARDS
    )
    return packed.groupBy("lang", "shard", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


def _sequence_packing_sql() -> str:
    from .operators.sampling import sample_bucket_sql

    shard = f"({sample_bucket_sql('doc_id')} % {PACK_SHARDS})"
    # mirror textstats.words EXACTLY: strip the full ASCII whitespace
    # CLASS (not trim()'s spaces-only) then split on the class — trim()
    # would miscount texts with leading/trailing \t or \n
    stripped = f"regexp_replace(text, '^{_WS_SQL}+|{_WS_SQL}+$', '', 'g')"
    n_tok = (
        f"CASE WHEN {stripped} = '' THEN 0 "
        f"ELSE len(regexp_split_to_array({stripped}, '{_WS_SQL}+')) END"
    )
    return f"""
WITH t AS (
  SELECT doc_id, lang, {n_tok} AS n_tokens, {shard} AS shard
  FROM documents WHERE {n_tok} > 0
), p AS (
  SELECT lang, shard, doc_id, n_tokens,
         sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS start
  FROM t
)
SELECT lang, shard, floor(start / {PACK_BUDGET})::BIGINT AS pack_id,
       count(*) AS n_docs, sum(n_tokens)::BIGINT AS total_tokens,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM p GROUP BY lang, shard, pack_id
"""


SQL_SEQUENCE_PACKING = _sequence_packing_sql()


BPE_PACK_BUDGET = 2048


def q_sequence_packing_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing on TOKENIZER-faithful budgets — FULLY ORACLED.

    Same offset-packing window as q_sequence_packing, but the per-doc count
    comes from the frozen seeded BPE piece inventory via greedy longest-
    match (operators/bpe.py) instead of whitespace words: the counting a
    real pre-training pipeline budgets with.  The oracle replays greedy
    matching with a recursive CTE over the embedded piece table, then the
    identical window arithmetic — so a divergence in tokenization, caching
    or packing shifts totals/boundaries and fails the hash."""
    from .artifacts import get_bpe_pieces
    from .operators.bpe import bpe_token_count
    from .operators.packing import pack_documents

    d = _read(spark, sf_dir, "documents")
    with_tok = d.withColumn(
        "bpe_tokens", bpe_token_count(F.col("text"), list(get_bpe_pieces()))
    )
    packed = pack_documents(
        with_tok,
        "doc_id",
        BPE_PACK_BUDGET,
        group_cols=("lang",),
        n_shards=PACK_SHARDS,
        tokens_col="bpe_tokens",
        # bpe_tokens > 0 ⟺ a non-whitespace char exists (NULL only for
        # null text; every non-empty word greedy-matches ≥1 piece), so the
        # packing filter can be this scan-cheap predicate instead of the
        # computed count — which Catalyst would push below the fan-out
        # exchange, re-running the Arrow tokenizer on the scan side
        cheap_filter=F.col("text").rlike("[^ \t\n\r\f\x0B]"),
    )
    return packed.groupBy("lang", "shard", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


def _sequence_packing_bpe_sql() -> str:
    from .artifacts import get_bpe_pieces
    from .operators.bpe import pieces_values_sql
    from .operators.sampling import sample_bucket_sql

    shard = f"({sample_bucket_sql('doc_id')} % {PACK_SHARDS})"
    return f"""
WITH RECURSIVE pieces(p, l) AS (SELECT * FROM {pieces_values_sql(list(get_bpe_pieces()))}),
dw AS (
  SELECT doc_id, lang, w
  FROM (SELECT doc_id, lang, unnest({_PYWORDS_SQL.format(c="text")}) AS w FROM documents)
), uw AS (SELECT DISTINCT w FROM dw),
seg(w, pos, n) AS (
  SELECT w, 1, 0 FROM uw
  UNION ALL
  SELECT w,
         pos + coalesce((SELECT max(l) FROM pieces WHERE p = substr(seg.w, seg.pos, l)), 1),
         n + 1
  FROM seg WHERE pos <= length(w)
), wc AS (SELECT w, max(n) AS np FROM seg GROUP BY w),
t AS (
  SELECT doc_id, any_value(lang) AS lang, sum(np)::INT AS n_tokens, {shard} AS shard
  FROM dw JOIN wc USING (w) GROUP BY doc_id
), p AS (
  SELECT lang, shard, doc_id, n_tokens,
         sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS start
  FROM t WHERE n_tokens > 0
)
SELECT lang, shard, floor(start / {BPE_PACK_BUDGET})::BIGINT AS pack_id,
       count(*) AS n_docs, sum(n_tokens)::BIGINT AS total_tokens,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM p GROUP BY lang, shard, pack_id
"""


SQL_SEQUENCE_PACKING_BPE = _sequence_packing_bpe_sql()


def q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→text extraction, the north rule's byte-identity invariant.

    Both engines build the same rich page inline from ``documents.text``
    (entity-escape + head/script/style/comment noise via
    ``wrap_html_sql``), round it through binary, extract with their own
    engine's regex chain, and emit the extracted text plus a
    ``roundtrip_ok`` bit tying the output back to the raw source text.
    The value-hash compare therefore certifies byte-identical extraction
    across Spark (Java regex) and DuckDB (RE2).  Spark side is a pure
    Column chain — whole-stage codegen, no UDF."""
    from .operators.extract import html_to_text, wrap_html_sql

    d = _read(spark, sf_dir, "documents")
    html = F.encode(F.expr(wrap_html_sql("text", "cast(doc_id as string)")), "UTF-8")
    extracted = html_to_text(html)
    return d.select(
        "doc_id",
        extracted.alias("extracted"),
        extracted.eqNullSafe(F.col("text")).alias("roundtrip_ok"),
    )


def _extract_text_sql() -> str:
    from .operators.extract import html_to_text_sql, wrap_html_sql

    page = f"decode(encode({wrap_html_sql('text', 'doc_id::VARCHAR')}))"
    ex = html_to_text_sql(page)
    return (
        f"SELECT doc_id, {ex} AS extracted, "
        f"({ex} IS NOT DISTINCT FROM text) AS roundtrip_ok FROM documents"
    )


SQL_EXTRACT_TEXT = _extract_text_sql()


def _messy_url_expr() -> "Column":
    """Deterministic messy-URL synthesis from doc_id (testdata documents
    carry no url column; this builds one identically in Spark and DuckDB so
    the canonicalizer is oracle-checkable on every normalization branch:
    case, www, default/odd port, duplicate slashes, trailing slash,
    tracking params, param order, fragment)."""
    did = F.col("doc_id")
    s = lambda n: F.pmod(did, n).cast("string")  # noqa: E731
    return F.concat(
        F.when(F.pmod(did, 3) == 0, F.lit("http://WWW."))
        .when(F.pmod(did, 3) == 1, F.lit("HTTPS://www."))
        .otherwise(F.lit("https://")),
        F.lit("Site"), s(50), F.lit(".Example.COM"),
        F.when(F.pmod(did, 5) == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/cat//"), s(7),
        F.when(F.pmod(did, 2) == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&z=9&id="), did.cast("string"),
        F.when(F.pmod(did, 4) == 0, F.lit("&utm_medium=rss")).otherwise(F.lit("")),
        F.lit("&a=1"),
        F.when(F.pmod(did, 6) == 0, F.lit("#frag")).otherwise(F.lit("")),
    )


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (crawl-dedup pre-step) — FULLY ORACLED.

    ``operators.urls.canonicalize_url`` over deterministically-synthesized
    messy URLs; DuckDB replays the identical regexp/list chain.  Pure
    whole-stage-codegen map — no shuffle, no Python."""
    from .operators.urls import canonicalize_url, url_host

    d = _read(spark, sf_dir, "documents").select("doc_id")
    u = d.withColumn("url", _messy_url_expr())
    return u.select(
        "doc_id",
        "url",
        canonicalize_url(F.col("url")).alias("url_canonical"),
        url_host(F.col("url")).alias("host"),
    )


SQL_URL_CANONICAL = r"""
WITH raw AS (
  SELECT doc_id,
    (CASE doc_id % 3 WHEN 0 THEN 'http://WWW.' WHEN 1 THEN 'HTTPS://www.' ELSE 'https://' END
     || 'Site' || (doc_id % 50)::VARCHAR || '.Example.COM'
     || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
     || '/cat//' || (doc_id % 7)::VARCHAR
     || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
     || '?utm_source=feed&z=9&id=' || doc_id::VARCHAR
     || CASE WHEN doc_id % 4 = 0 THEN '&utm_medium=rss' ELSE '' END
     || '&a=1'
     || CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS url
  FROM documents
), p2 AS (
  SELECT doc_id, url,
    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
                         '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    regexp_replace(regexp_replace(url, '#.*$', ''),
                   '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
  FROM raw
), p3 AS (
  SELECT *, regexp_extract(rest, '^([^/?]*)', 1) AS hostport,
         regexp_replace(rest, '^[^/?]*', '') AS pathq
  FROM p2
), p4 AS (
  SELECT *,
    regexp_replace(lower(regexp_extract(hostport, '^([^:]*)', 1)), '^www\.', '') AS host,
    regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
    regexp_replace(regexp_replace(regexp_extract(pathq, '^([^?]*)', 1),
                                  '/{2,}', '/', 'g'), '/$', '') AS path,
    regexp_extract(pathq, '\?(.*)$', 1) AS query
  FROM p3
), p5 AS (
  SELECT doc_id, url, scheme, host, port, path,
    list_sort(list_filter(str_split(query, '&'),
      p -> p <> '' AND NOT regexp_matches(p,
        '^(utm_[^=]*|fbclid|gclid|msclkid|mc_cid|mc_eid|ref)(=.*)?$'))) AS params
  FROM p4
)
SELECT doc_id, url,
  scheme || '://' || host
  || CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
               OR (scheme = 'https' AND port = '443')
          THEN '' ELSE ':' || port END
  || path
  || CASE WHEN len(params) = 0 THEN '' ELSE '?' || array_to_string(params, '&') END
    AS url_canonical,
  host
FROM p5
"""


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph host reputation (5-step PageRank) — FULLY ORACLED.

    A deterministic host link graph is synthesized from doc_id arithmetic
    (53 hosts, two outlink families, hosts ≡0 mod 11 stripped of outlinks so
    the dangling-mass branch is exercised); ``operators.linkgraph.pagerank``
    runs 5 synchronous steps and DuckDB replays them as unrolled relational
    algebra.  Rank arithmetic is identical IEEE expressions in both engines;
    only group-sum order differs (~1 ulp), absorbed by round(6)."""
    from .operators.linkgraph import pagerank

    # fan_out=False: this query reads ONE column and does trivial per-row
    # arithmetic — the cost is the iterative small-graph joins, where extra
    # input partitions only add task overhead (measured 3.4 s vs 2.8 s at
    # sf1.0 with the fan-out exchange in the lineage).
    d = _read(spark, sf_dir, "documents", fan_out=False).select("doc_id")
    did = F.col("doc_id")
    e1 = d.select((did % 53).alias("src"), ((did * 2 + 1) % 53).alias("dst"))
    e2 = d.select((did % 53).alias("src"), ((did * 5 + 3) % 53).alias("dst"))
    edges = e1.unionAll(e2).distinct().filter(F.col("src") % 11 != 0)
    pr = pagerank(edges, n_iter=5)
    return pr.select(F.col("node").alias("host_id"), F.round("rank", 6).alias("rank"))


def _pagerank_sql() -> str:
    """Unrolled relational replay of q_host_pagerank (5 rounds) for DuckDB."""
    from .operators.linkgraph import DAMPING

    n_iter = 5
    edges = (
        "SELECT DISTINCT src, dst FROM ("
        "SELECT doc_id % 53 AS src, (doc_id * 2 + 1) % 53 AS dst FROM documents "
        "UNION ALL SELECT doc_id % 53, (doc_id * 5 + 3) % 53 FROM documents"
        ") WHERE src % 11 <> 0"
    )
    parts = [
        f"e AS ({edges})",
        "nodes AS (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM e UNION ALL SELECT dst FROM e))",
        "nn AS (SELECT count(*)::DOUBLE AS n FROM nodes)",
        "od AS (SELECT src, count(*)::DOUBLE AS od FROM e GROUP BY src)",
        "r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)",
    ]
    base, damp = f"{1.0 - DAMPING:.17g}", f"{DAMPING:.17g}"
    for k in range(1, n_iter + 1):
        p = k - 1
        parts.append(
            f"d{k} AS (SELECT coalesce(sum(r.rank), 0.0) AS dang FROM r{p} r "
            f"LEFT JOIN od ON od.src = r.node WHERE od.src IS NULL)"
        )
        parts.append(
            f"r{k} AS (SELECT nodes.node, {base} / (SELECT n FROM nn) + {damp} * "
            f"(coalesce(s.c, 0.0) + (SELECT dang FROM d{k}) / (SELECT n FROM nn)) AS rank "
            f"FROM nodes LEFT JOIN (SELECT e.dst AS node, sum(r.rank / od.od) AS c "
            f"FROM e JOIN r{p} r ON r.node = e.src JOIN od ON od.src = e.src "
            f"GROUP BY e.dst) s ON s.node = nodes.node)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT node AS host_id, round(rank, 6) AS rank FROM r{n_iter}"
    )


SQL_HOST_PAGERANK = _pagerank_sql()


def q_token_bpeish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish sub-word token accounting per source."""
    from .operators.textstats import bpe_ish_token_count

    d = _read(spark, sf_dir, "documents")
    return (
        d.select("source", bpe_ish_token_count(F.col("text")).alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").alias("total_tokens"), F.round(F.avg("nt"), 4).alias("avg_tokens"))
    )


SQL_TOKEN_BPEISH = """
WITH t AS (
  SELECT source,
         len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f\\x0B])', 1)) AS nt
  FROM documents
)
SELECT source, sum(nt)::BIGINT AS total_tokens, round(avg(nt), 4) AS avg_tokens
FROM t GROUP BY source
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs.

    ORACLED: the word hash is an md5 prefix, so DuckDB recomputes the exact
    64-bit simhash in SQL (per-bit sign-sums) and brute-forces all pairs —
    a genuine second implementation.  Equality holds because the Spark
    side's pigeonhole block-permutation candidate generation is EXACT for
    max_hamming < n_blocks (every qualifying pair shares a block)."""
    from .operators.dedup import simhash_near_dup_pairs

    d = _read(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(d, "doc_id", max_hamming=3)


SQL_DEDUP_SIMHASH = r"""
WITH t AS (
  SELECT doc_id,
         list_distinct(regexp_split_to_array(lower(text), '[ \t\n\r\f\x0B]+')) AS wl
  FROM documents WHERE text IS NOT NULL
), w AS (
  SELECT doc_id, unnest(wl) AS word FROM t
), h AS (
  SELECT doc_id, ('0x' || substr(md5(word), 1, 16))::UBIGINT AS h
  FROM w WHERE word <> ''
), acc AS (
  SELECT doc_id, bit, sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h CROSS JOIN (SELECT unnest(range(64)) AS bit) bits
  GROUP BY doc_id, bit
), sh AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN
               CASE WHEN bit = 63 THEN -9223372036854775808 ELSE (1::BIGINT << bit) END
             ELSE 0 END)::BIGINT AS v
  FROM acc GROUP BY doc_id
)
SELECT a.doc_id AS a, b.doc_id AS b, bit_count(xor(a.v, b.v)) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.v, b.v)) <= 3
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via multi-table hyperplane LSH.

    The driver embeddings table has no pairs above cos 0.8 (measured), so
    the query plants a deterministic near-dup family: vec_id < 40 get a
    perturbed twin ``v' = v + 0.25·rot(v)`` (rot = cyclic shift — pure
    list arithmetic both engines express identically).  Planted pairs land
    at cos ≈ 0.968–0.975 vs a max non-planted pair of 0.51, so threshold
    0.9 has wide margins on both sides.

    Oracled: the LSH AND-OR construction's recall at this margin is
    1 − (1−p¹²)³² ≈ 1 − 4·10⁻⁹ per pair (p ≈ 0.92) and verified exhaustive
    on this exact dataset at every SF, so the output equals the
    brute-force all-pairs answer the DuckDB oracle computes."""
    from .operators.dedup import embedding_near_dup_pairs

    e = _read(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    rot = F.concat(F.slice("embedding", 2, 1_000_000), F.slice("embedding", 1, 1))
    dup = base.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.zip_with("embedding", rot, lambda x, y: x + F.lit(0.25) * y).alias("embedding"),
    )
    return embedding_near_dup_pairs(
        base.unionAll(dup), "vec_id", threshold=0.9, round_to=5
    ).orderBy("a", "b")


SQL_EMBEDDING_NEAR_DUP = """
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
), dup AS (
  SELECT vec_id + 100000 AS vec_id,
         list_transform(list_zip(v, list_concat(v[2:], [v[1]])),
                        t -> t[1] + 0.25 * t[2]) AS v
  FROM base WHERE vec_id < 40
), allv AS (
  SELECT * FROM base UNION ALL SELECT * FROM dup
), pairs AS (
  SELECT a.vec_id AS a, b.vec_id AS b,
         list_sum(list_transform(list_zip(a.v, b.v), t -> t[1] * t[2]))
         / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
          * sqrt(list_sum(list_transform(b.v, x -> x * x)))) AS cos
  FROM allv a JOIN allv b ON a.vec_id < b.vec_id
)
SELECT a, b, round(cos, 5) AS cos FROM pairs WHERE cos >= 0.9 ORDER BY a, b
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k, ORACLED with deterministic centroids.

    Instead of k-means (numpy, not SQL-expressible) the coarse quantizer is
    seeded directly from corpus vectors 100..107, L2-normalized — which the
    DuckDB oracle recomputes exactly, replicating cell assignment (argmax,
    ties → lower cell), 4-cell probing, and in-cell exact ranking.  The
    k-means path keeps its own recall-pinned pytest (test_similarity)."""
    import numpy as np

    from .operators.similarity import ivf_topk

    e = _read(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    seeds = (
        e.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 108))
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    cents = np.asarray([r["embedding"] for r in seeds], dtype="float64")
    cents = cents / np.clip(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12, None)
    return ivf_topk(
        e, q, "vec_id", "embedding", k=5, n_cells=8, n_probe=4, centroids=cents, round_to=5
    )


SQL_ANN_IVF = """
WITH seeds AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings WHERE vec_id BETWEEN 100 AND 107
), norms AS (
  SELECT vec_id, v, greatest(sqrt(list_sum(list_transform(v, x -> x * x))), 1e-12) AS nrm
  FROM seeds
), cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         list_transform(v, x -> x / nrm) AS cv
  FROM norms
), corpus AS (
  SELECT vec_id AS neighbor, list_transform(embedding, x -> x::DOUBLE) AS nv FROM embeddings
), assign AS (
  SELECT neighbor, nv, cell,
         row_number() OVER (PARTITION BY neighbor ORDER BY sim DESC, cell ASC) AS rn
  FROM (
    SELECT c.neighbor, c.nv, ct.cell,
           list_sum(list_transform(list_zip(c.nv, ct.cv), p -> p[1] * p[2])) AS sim
    FROM corpus c CROSS JOIN cent ct
  )
), corpus_cell AS (
  SELECT neighbor, nv, cell FROM assign WHERE rn = 1
), qprobe AS (
  SELECT qid, qv, cell FROM (
    SELECT q.vec_id AS qid, list_transform(q.embedding, x -> x::DOUBLE) AS qv, ct.cell,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_sum(list_transform(
                        list_zip(list_transform(q.embedding, x -> x::DOUBLE), ct.cv),
                        p -> p[1] * p[2])) DESC, ct.cell ASC) AS rn
    FROM embeddings q CROSS JOIN cent ct WHERE q.vec_id < 10
  ) WHERE rn <= 4
), scored AS (
  SELECT qid, neighbor,
         list_sum(list_transform(list_zip(qv, nv), p -> p[1] * p[2]))
         / (sqrt(list_sum(list_transform(qv, x -> x * x)))
          * sqrt(list_sum(list_transform(nv, x -> x * x)))) AS cos
  FROM qprobe JOIN corpus_cell USING (cell)
  WHERE neighbor <> qid
), ranked AS (
  SELECT qid, neighbor, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor ASC) AS rank
  FROM scored
)
SELECT qid, neighbor, round(cos, 5) AS cos, rank FROM ranked WHERE rank <= 5
"""


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: documents text → bytes payload → stubbed
    deterministic decode via mapInPandas.

    Fully ORACLED: the fake decode is md5-seeded, so every derived value
    (dims, feature ints) is re-computable in ANSI SQL — the oracle is a
    genuine second implementation of the decode math.  Features are
    recovered to their integer form and JSON-serialized because the
    driver's canonicalizer cannot sort an ``array<float>`` column (the
    array form stays covered by tests/test_textstats_profile_multimodal)."""
    from .operators.multimodal import _FEATURE_MOD, extract_image_metadata

    d = _read(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
        F.lit(None).cast("string").alias("source_url"),
    )
    meta = extract_image_metadata(media, deterministic_fake=True)
    feat_ints = F.transform(
        "features",
        lambda x: F.round((x.cast("double") + 0.5) * _FEATURE_MOD).cast("long"),
    )
    return meta.select(
        "media_id",
        "n_bytes",
        "content_md5",
        "width",
        "height",
        "channels",
        F.to_json(feat_ints).alias("features_json"),
    )


SQL_MULTIMODAL_META = """
WITH t AS (
  SELECT doc_id AS media_id, text,
         md5(text) AS content_md5,
         octet_length(encode(text)) AS n_bytes,
         ('0x' || substr(md5(text), 1, 8))::UBIGINT AS seed
  FROM documents
)
SELECT media_id,
       CASE WHEN text IS NULL THEN NULL ELSE n_bytes::INT END AS n_bytes,
       CASE WHEN text IS NULL THEN NULL ELSE content_md5 END AS content_md5,
       CASE WHEN text IS NULL THEN NULL ELSE (64 + seed % 1920)::INT END AS width,
       CASE WHEN text IS NULL THEN NULL ELSE (64 + (seed >> 8) % 1080)::INT END AS height,
       CASE WHEN text IS NULL THEN NULL ELSE 3 END AS channels,
       CASE WHEN text IS NULL THEN NULL
            ELSE to_json(list_transform(range(1, 9), i -> ((seed * i) % 1009)::BIGINT)) END AS features_json
FROM t
"""


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-column plumbing: per-doc deterministic PCM16 WAV fixture →
    REAL stdlib ``wave`` decode → integer-exact features via mapInPandas
    (multimodal.extract_audio_features).

    Fully ORACLED: the fixture waveform is pure integer arithmetic
    (s_i = (a·i + b) mod 4001 − 2000 with n/a/b from doc_id), so DuckDB
    regenerates every sample with generate_series and recomputes sum_sq /
    zero_crossings / peak exactly; rms = sqrt(sum_sq/n) is a single IEEE
    op over exact integers, bit-identical both sides.  The bytes decoded
    are a real RIFF container (44-byte header + LE PCM frames), so the
    decode under test is a real decode, not the md5-fake path."""
    from .operators.multimodal import extract_audio_features, synth_wav_bytes

    @F.pandas_udf(T.BinaryType())
    def _synth(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: synth_wav_bytes(int(i)))

    d = _read(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"), _synth("doc_id").alias("payload")
    )
    return extract_audio_features(media).select(
        "media_id", "n_bytes", "sample_rate", "channels", "n_samples",
        "peak", "sum_sq", "zero_crossings", F.round("rms", 6).alias("rms"),
    )


SQL_AUDIO_FEATURES = """
WITH p AS (
  SELECT doc_id, 240 + (doc_id % 97) * 7 AS n,
         3 + doc_id % 11 AS a, doc_id % 251 AS b
  FROM documents
), s AS (
  SELECT doc_id, n, i, ((a * i + b) % 4001) - 2000 AS v,
         lag(((a * i + b) % 4001) - 2000) OVER (PARTITION BY doc_id ORDER BY i) AS pv
  FROM p, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS i) g
)
SELECT doc_id AS media_id,
       (44 + 2 * n)::INT AS n_bytes,
       8000 AS sample_rate, 1 AS channels, n::BIGINT AS n_samples,
       max(abs(v))::INT AS peak,
       sum(v * v)::BIGINT AS sum_sq,
       coalesce(sum(CASE WHEN pv * v < 0 THEN 1 END), 0)::BIGINT AS zero_crossings,
       round(sqrt(sum(v * v)::DOUBLE / n), 6) AS rms
FROM s GROUP BY doc_id, n
"""


# ---------------------------------------------------------------- multi-field catalog

def q_multifield_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-field catalog validation with the PORTED reference rulesets
    (validators/rules/*/baseline.json → rulesets/catalog/validators/): six
    fields derived deterministically from doc_id, validated in ONE
    projection (multifield.detect_fields), findings in the reference's
    CellClassification long format.

    Both engines run the identical RE2-safe rule subset (sql_safe_rules);
    the lookaround rules the subset drops are parity-tested against the
    pure-Python oracle in tests/test_multifield.py instead."""
    from .catalog import CATALOG_FIELDS, build_catalog, load_field_rules
    from .operators.multifield import cell_findings, detect_fields
    from .oracle_sql import sql_safe_rules

    d = _read(spark, sf_dir, "documents")
    cat = build_catalog(d)
    rules_by_field = {f: sql_safe_rules(load_field_rules(f)) for f in CATALOG_FIELDS}
    detected = detect_fields(cat, rules_by_field)
    return cell_findings(detected, "doc_id", CATALOG_FIELDS)


def _multifield_cells_sql() -> str:
    """Generate the DuckDB oracle from the same ruleset files via the
    independent SQL rule compiler (oracle_sql.py)."""
    from .catalog import CATALOG_FIELDS, catalog_sql, load_field_rules
    from .oracle_sql import first_hit_index_sql, rule_lookup_values_sql, sql_safe_rules

    parts = []
    for f in CATALOG_FIELDS:
        rules = sql_safe_rules(load_field_rules(f))
        idx = first_hit_index_sql(f, rules)
        vals = rule_lookup_values_sql(rules)
        parts.append(
            f"SELECT doc_id, '{f}' AS field, 'ERROR' AS status, "
            f"r.rule, r.code, r.probability\n"
            f"FROM (SELECT doc_id, {idx} AS hit FROM catalog) h\n"
            f"JOIN (VALUES {vals}) AS r(hit, rule, code, probability) ON h.hit = r.hit"
        )
    return "WITH catalog AS (" + catalog_sql() + ")\n" + "\nUNION ALL\n".join(parts)


SQL_MULTIFIELD_CELLS = _multifield_cells_sql()


# ---------------------------------------------------------------- events

def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch form of the streaming rollup)."""
    e = _read(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))


SQL_EVENTS_HOURLY = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n, round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via window lag — the
    batch equivalent of a stateful streaming session window."""
    from pyspark.sql import Window

    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet naive timestamps read as TIMESTAMP_NTZ in Spark 4: go via
    # timestamp (session tz = UTC) to epoch seconds
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    new_sess = (gap.isNull() | (gap > 1800)).cast("long")
    return (
        e.withColumn("new_sess", new_sess)
        .groupBy("user_id")
        .agg(
            F.sum("new_sess").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


SQL_EVENTS_SESSIONIZE = """
WITH g AS (
  SELECT user_id,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
)
SELECT user_id, sum(new_sess)::BIGINT AS n_sessions, count(*) AS n_events
FROM g GROUP BY user_id
"""


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (subtotals + grand total) — Catalyst expands the
    grouping sets; one shuffle."""
    e = _read(spark, sf_dir, "events")
    return (
        e.rollup("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.coalesce("event_type", F.lit("ALL")).alias("event_type"), "n", "total_value")
    )


SQL_EVENTS_ROLLUP = """
SELECT coalesce(event_type, 'ALL') AS event_type, count(*) AS n,
       round(sum(value), 2) AS total_value
FROM events GROUP BY ROLLUP (event_type)
"""


def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running total (ordered window) — partition by a key the data
    spreads well; AQE handles residual skew."""
    from pyspark.sql import Window

    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return e.select(
        "event_id", "user_id", F.round(F.sum("value").over(w), 2).alias("running_value")
    )


SQL_WINDOW_RUNNING_SUM = """
SELECT event_id, user_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING), 2) AS running_value
FROM events
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by value per type (row_number window, full tiebreak)."""
    from pyspark.sql import Window

    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        e.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("event_type", "event_id", F.round("value", 2).alias("value"), "rank")
    )


SQL_TOPK_PER_GROUP = """
WITH r AS (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rank
  FROM events
)
SELECT event_type, event_id, round(value, 2) AS value, rank FROM r WHERE rank <= 3
"""


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull a key out of the JSON props column
    (details-dict parity — the reference keeps free-form JSON details,
    anomaly_error.py:68-95) and aggregate it."""
    e = _read(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("double")
    return e.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("avg_k"),
        F.sum((k > 50).cast("long")).alias("n_k_gt_50"),
    )


SQL_EVENTS_JSON = """
SELECT event_type,
       round(avg(json_extract_string(props, '$.k')::DOUBLE), 4) AS avg_k,
       sum(CASE WHEN json_extract_string(props, '$.k')::DOUBLE > 50 THEN 1 ELSE 0 END)::BIGINT AS n_k_gt_50
FROM events GROUP BY event_type
"""


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure filter + aggregate — the pushdown showcase (all three
    predicates reach the parquet scan as PushedFilters)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01"))
            & (F.col("l_shipdate") < F.lit("1995-01-01"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


SQL_TPCH_Q6 = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= DATE '1994-01-01' AND l_shipdate < DATE '1995-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


# ---------------------------------------------------------------- relational baseline

def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary — the relational-aggregation baseline; scan
    should prune to the 7 referenced columns and push the date filter."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join rollup; nation is broadcast (tiny dim), customer→orders→
    lineitem shuffle on keys — the shape AQE optimises at scale."""
    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


SQL_REVENUE_BY_NATION = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


# ---------------------------------------------------------------- model scorers (FULLY ORACLED)
#
# Round-3 upgrade (VERDICT r2 item 1): the three scorer queries now train
# IN-QUERY on a deterministic, SQL-expressible slice of the documents table
# (n_chars >= 300 / the rule-firsthit label) through the real distributed
# trainers, score through the real broadcast + Arrow-UDF path, and use the
# SQL-reproducible featurizations (word-md5 buckets / string-keyed bigram
# counts) with float64 weights — so DuckDB recomputes the exact posteriors
# and NLLs relationally.  The char-n-gram / artifact-backed scorers remain
# the production default (pipeline_verdict) and stay golden-pinned in
# tests/test_models.py.



def _nb_score_sql(train_cte: str, claimed_expr: str) -> str:
    """Shared relational Naive-Bayes scorer: given a CTE body that yields
    ``tr(lang, toks)`` (training rows) plus the documents to score, emit the
    count tables, per-(doc, class) log-posteriors, softmax and argmax —
    the exact arithmetic of LangIdModel.score_batch with float64 weights:
    log_probs = ln(c + 0.5) - ln(T + 0.5*16384), priors = ln(n_d / N)."""
    return f"""
WITH tr AS ({train_cte}),
tw AS (
  SELECT lang, {_MD5_BUCKET_SQL.format(w="w")} AS b
  FROM (SELECT lang, unnest(toks) AS w FROM tr)
), cnt AS (SELECT lang, b, count(*)::DOUBLE AS c FROM tw GROUP BY lang, b),
tot AS (SELECT lang, count(*)::DOUBLE AS t FROM tw GROUP BY lang),
pri AS (
  SELECT lang, ln(nd / sum(nd) OVER ()) AS lp
  FROM (SELECT lang, count(*)::DOUBLE AS nd FROM tr GROUP BY lang)
), db AS (
  SELECT doc_id, {_MD5_BUCKET_SQL.format(w="w")} AS b, count(*)::DOUBLE AS n
  FROM (SELECT doc_id, unnest({_PYWORDS_SQL.format(c="text")}) AS w FROM documents)
  GROUP BY doc_id, b
), lp AS (
  SELECT db.doc_id, pri.lang,
         any_value(pri.lp)
         + sum(db.n * (ln(coalesce(cnt.c, 0) + 0.5) - ln(tot.t + 0.5 * 16384))) AS logp
  FROM db
  CROSS JOIN pri
  JOIN tot ON tot.lang = pri.lang
  LEFT JOIN cnt ON cnt.lang = pri.lang AND cnt.b = db.b
  GROUP BY db.doc_id, pri.lang
), post AS (
  SELECT doc_id, lang,
         e / sum(e) OVER (PARTITION BY doc_id) AS p
  FROM (SELECT doc_id, lang,
               exp(logp - max(logp) OVER (PARTITION BY doc_id)) AS e
        FROM lp)
), pick AS (
  SELECT doc_id, lang AS pred_lang, p AS confidence,
         row_number() OVER (PARTITION BY doc_id ORDER BY p DESC, lang ASC) AS rn
  FROM post
)
SELECT d.doc_id, pick.pred_lang,
       round(pick.confidence, 6) AS confidence,
       CASE WHEN pick.doc_id IS NULL THEN NULL
            ELSE round(coalesce(cp.p, 0.0), 6) END AS claimed_score
FROM documents d
LEFT JOIN pick ON pick.doc_id = d.doc_id AND pick.rn = 1
LEFT JOIN post cp ON cp.doc_id = d.doc_id AND cp.lang = ({claimed_expr})
"""


def q_langid_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-word-bucket Naive-Bayes langid over documents — FULLY ORACLED.

    Trains in-query on the ``n_chars >= 300`` slice via the distributed
    NB trainer (two map-side-combined count shuffles bounded by L×16384
    rows, never by corpus size), then scores every document through the
    broadcast + Arrow-UDF scorer.  The word-md5 featurizer and float64
    weights make every posterior reproducible in DuckDB SQL."""
    import numpy as np

    from .operators.langid import langid_struct, train_langid_distributed

    d = _read(spark, sf_dir, "documents")
    model = train_langid_distributed(
        d.filter(F.col("n_chars") >= 300), feat="word_md5", dtype=np.float64
    )
    res = langid_struct(spark, model, F.col("text"), F.col("lang"))
    return d.select("doc_id", res.alias("r")).select(
        "doc_id",
        F.col("r.pred_lang").alias("pred_lang"),
        F.round("r.confidence", 6).alias("confidence"),
        F.round("r.claimed_score", 6).alias("claimed_score"),
    )


SQL_LANGID_SCORES = _nb_score_sql(
    train_cte=(
        "SELECT lang, " + _PYWORDS_SQL.format(c="text") + " AS toks "
        "FROM documents WHERE n_chars >= 300 AND lang IS NOT NULL"
    ),
    claimed_expr="d.lang",
)


def q_perplexity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM pseudo-perplexity — FULLY ORACLED.

    One LM per language, trained in-query on the clean (``n_chars >= 300``)
    slice by the distributed count trainer; every document scored against
    its claimed language's LM (fallback ``en``) in one Arrow pass.  The
    string-keyed bigram/context/unigram counts and the interpolation
    ``0.7·c_bi/c_prev + (1−0.7)·(c_w+0.5)/(N+0.5·10000)`` are plain
    rational arithmetic over counts, so DuckDB recomputes the identical
    mean NLL (the vocab cap is set far above the corpus vocabulary, so the
    UNK id never aliases and string keys match the engine's int keys)."""
    from .operators.perplexity import perplexity_column, train_ngram_distributed

    d = _read(spark, sf_dir, "documents")
    models = train_ngram_distributed(
        d.filter(F.col("n_chars") >= 300), order=2, max_vocab=1_000_000
    )
    score = perplexity_column(spark, models, F.col("text"), F.col("lang"))
    return d.select("doc_id", F.round(score, 6).alias("ppl"))


# Shared relational form of the bigram-LM train+score (used by both the
# scores and the CCNet-bucketing oracles).
_SQL_PPL_CTES = f"""tr AS (
  SELECT lang, {_PYWORDS_SQL.format(c="text")} AS toks
  FROM documents WHERE n_chars >= 300 AND lang IS NOT NULL
), trb AS (
  SELECT lang, CASE WHEN pos = 1 THEN '<s>' ELSE toks[pos - 1] END AS prev, toks[pos] AS cur
  FROM (SELECT lang, toks, generate_subscripts(toks, 1) AS pos FROM tr)
), bi AS (SELECT lang, prev, cur, count(*)::DOUBLE AS c FROM trb GROUP BY lang, prev, cur),
ctx AS (SELECT lang, prev, count(*)::DOUBLE AS c FROM trb GROUP BY lang, prev),
wrd AS (SELECT lang, cur, count(*)::DOUBLE AS c FROM trb GROUP BY lang, cur),
nt AS (SELECT lang, count(*)::DOUBLE AS n FROM trb GROUP BY lang),
sc AS (
  SELECT doc_id, {_PYWORDS_SQL.format(c="text")} AS toks,
         CASE WHEN lang IN (SELECT lang FROM nt) THEN lang ELSE 'en' END AS g
  FROM documents
), scb AS (
  SELECT doc_id, g, len(toks) AS n_toks,
         CASE WHEN pos = 1 THEN '<s>' ELSE toks[pos - 1] END AS prev, toks[pos] AS cur
  FROM (SELECT doc_id, g, toks, generate_subscripts(toks, 1) AS pos FROM sc)
), tok AS (
  SELECT scb.doc_id, scb.n_toks,
         -ln(0.7 * (CASE WHEN coalesce(ctx.c, 0) > 0
                         THEN coalesce(bi.c, 0) / ctx.c ELSE 0.0 END)
             + (1.0 - 0.7) * ((coalesce(wrd.c, 0) + 0.5) / (nt.n + 0.5 * 10000))) AS nll
  FROM scb
  JOIN nt ON nt.lang = scb.g
  LEFT JOIN bi  ON bi.lang = scb.g AND bi.prev = scb.prev AND bi.cur = scb.cur
  LEFT JOIN ctx ON ctx.lang = scb.g AND ctx.prev = scb.prev
  LEFT JOIN wrd ON wrd.lang = scb.g AND wrd.cur = scb.cur
)"""

SQL_PERPLEXITY_SCORES = f"""
WITH {_SQL_PPL_CTES}
SELECT d.doc_id, round(s.ppl, 6) AS ppl
FROM documents d
LEFT JOIN (SELECT doc_id, sum(nll) / any_value(n_toks) AS ppl FROM tok GROUP BY doc_id) s
  ON s.doc_id = d.doc_id
"""

SQL_PERPLEXITY_BUCKETS = f"""
WITH {_SQL_PPL_CTES},
scored AS (
  SELECT d.doc_id, coalesce(d.lang, 'en') AS bl, round(s.ppl, 6) AS ppl
  FROM documents d
  LEFT JOIN (SELECT doc_id, sum(nll) / any_value(n_toks) AS ppl FROM tok GROUP BY doc_id) s
    ON s.doc_id = d.doc_id
), ranked AS (
  SELECT doc_id,
         percent_rank() OVER (PARTITION BY bl ORDER BY ppl ASC, doc_id ASC) AS pr
  FROM scored WHERE ppl IS NOT NULL
)
SELECT s.doc_id, s.ppl,
       coalesce(CASE WHEN r.pr < 1.0 / 3.0 THEN 'head'
                     WHEN r.pr < 2.0 / 3.0 THEN 'middle'
                     ELSE 'tail' END, 'unscored') AS ppl_bucket
FROM scored s LEFT JOIN ranked r ON r.doc_id = s.doc_id
"""


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail partitioning by per-language perplexity —
    FULLY ORACLED.

    The scores come from the same in-query-trained distributed bigram LM as
    ``perplexity_scores`` (itself hash-green), then
    ``operators.perplexity.perplexity_buckets`` assigns each document to its
    language's 1/3–2/3 percentile tier (Wenzek et al. 2020; the reference's
    single-threshold verdict, llm_anomaly_detector.py:250-284, is the
    2-tier special case).  The contract uses the exact rank form —
    percent_rank is integer arithmetic, so DuckDB reproduces it bit-for-bit
    on the rounded scores; the shuffle-free broadcast-threshold form is the
    100-TB path (see the operator docstring) and is pinned against this one
    in pytest."""
    from .operators.perplexity import (
        perplexity_buckets,
        perplexity_column,
        train_ngram_distributed,
    )

    d = _read(spark, sf_dir, "documents")
    models = train_ngram_distributed(
        d.filter(F.col("n_chars") >= 300), order=2, max_vocab=1_000_000
    )
    score = perplexity_column(spark, models, F.col("text"), F.col("lang"))
    scored = d.select("doc_id", "lang", F.round(score, 6).alias("ppl"))
    # mode pinned: the oracle replays exact integer-rank arithmetic; the
    # operator's default is "auto" (threshold form above 5M scored rows)
    return perplexity_buckets(scored, mode="rank").select("doc_id", "ppl", "ppl_bucket")


# Hyperparameter-sweep contract grid: 3 lam × 2 k × 3 threshold = 18
# configs, enumerated in product order (config_id = index, matching the
# reference's trial order for its earliest-wins tie-break).
_HP_LAMS = (0.5, 0.7, 0.9)
_HP_KS = (0.1, 0.5)
_HP_THRESHOLDS = (3.4, 3.6, 3.8)
_HP_CONFIGS = [(l, k, t) for l in _HP_LAMS for k in _HP_KS for t in _HP_THRESHOLDS]
_hp_var_ix: dict = {}
for _l, _k, _t in _HP_CONFIGS:
    _hp_var_ix.setdefault((_l, _k), len(_hp_var_ix))
_HP_VARS_SQL = ", ".join(
    f"({i}, {l}::DOUBLE, {k}::DOUBLE)" for (l, k), i in _hp_var_ix.items()
)
_HP_CFG_SQL = ", ".join(
    f"({i}, {_hp_var_ix[(l, k)]}, {l}::DOUBLE, {k}::DOUBLE, {t}::DOUBLE)"
    for i, (l, k, t) in enumerate(_HP_CONFIGS)
)


def q_hp_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed hyperparameter sweep over the bigram-LM detector —
    FULLY ORACLED (the reference's hyperparameter search,
    ml_based/hyperparameter_search.py:204-384, rebuilt Spark-first).

    Truth labels: a document is anomalous iff it lies OUTSIDE the LM's
    training domain (``n_chars < 300`` — exactly the slice excluded from
    training), i.e. the label the perplexity detector is designed to
    recover, so the sweep's precision/recall trade-off is real: thresholds
    inside the score distribution separate the domains, thresholds outside
    collapse to all-negative.  The LM trains ONCE on the clean long slice;
    all 6 (lam, k) scoring
    variants are computed in a single Arrow pass sharing one tokenization
    (NgramLM.nll_variants), crossed with 3 thresholds relationally, and
    all 18 configs are evaluated in one map-side-combined aggregation —
    precision/recall/F1 per config, the reference's precision ≥ 0.3
    validity constraint, and best-by-recall with earliest-config
    tie-break.  DuckDB recomputes the full train + 6-variant score + 18
    confusion matrices relationally."""
    from .operators.hpo import evaluate_bigram_configs

    d = _read(spark, sf_dir, "documents")
    docs = d.withColumn("truth_bad", F.col("n_chars") < 300)
    return evaluate_bigram_configs(
        spark, docs, _HP_CONFIGS, train_filter=F.col("n_chars") >= 300
    )


SQL_HP_SWEEP = f"""
WITH {_SQL_PPL_CTES},
vars AS (SELECT * FROM (VALUES {_HP_VARS_SQL}) AS v(var_id, lam, kk)),
cfg AS (SELECT * FROM (VALUES {_HP_CFG_SQL}) AS c(config_id, var_id, lam, kk, threshold)),
tokv AS (
  SELECT scb.doc_id, v.var_id, scb.n_toks,
         -ln(v.lam * (CASE WHEN coalesce(ctx.c, 0) > 0
                           THEN coalesce(bi.c, 0) / ctx.c ELSE 0.0 END)
             + (1.0 - v.lam) * ((coalesce(wrd.c, 0) + v.kk) / (nt.n + v.kk * 10000))) AS nll
  FROM scb
  CROSS JOIN vars v
  JOIN nt ON nt.lang = scb.g
  LEFT JOIN bi  ON bi.lang = scb.g AND bi.prev = scb.prev AND bi.cur = scb.cur
  LEFT JOIN ctx ON ctx.lang = scb.g AND ctx.prev = scb.prev
  LEFT JOIN wrd ON wrd.lang = scb.g AND wrd.cur = scb.cur
),
pplv AS (SELECT doc_id, var_id, round(sum(nll) / any_value(n_toks), 6) AS ppl
         FROM tokv GROUP BY doc_id, var_id),
truth AS (SELECT doc_id, n_chars < 300 AS bad FROM documents),
tot AS (SELECT count(*) FILTER (bad) AS n_bad FROM truth),
hits AS (
  SELECT c.config_id,
         count(*) FILTER (p.ppl > c.threshold AND t.bad) AS tp,
         count(*) FILTER (p.ppl > c.threshold AND NOT t.bad) AS fp
  FROM cfg c
  LEFT JOIN pplv p ON p.var_id = c.var_id
  LEFT JOIN truth t ON t.doc_id = p.doc_id
  GROUP BY c.config_id
),
m AS (
  SELECT c.config_id, c.lam, c.kk AS k, c.threshold,
         coalesce(h.tp, 0)::BIGINT AS tp, coalesce(h.fp, 0)::BIGINT AS fp,
         (tot.n_bad - coalesce(h.tp, 0))::BIGINT AS fn,
         round(CASE WHEN coalesce(h.tp, 0) + coalesce(h.fp, 0) > 0
                    THEN coalesce(h.tp, 0)::DOUBLE / (coalesce(h.tp, 0) + coalesce(h.fp, 0))
                    ELSE 0.0 END, 6) AS prec,
         round(CASE WHEN tot.n_bad > 0
                    THEN coalesce(h.tp, 0)::DOUBLE / tot.n_bad ELSE 0.0 END, 6) AS rec
  FROM cfg c LEFT JOIN hits h ON h.config_id = c.config_id CROSS JOIN tot
),
f AS (
  SELECT *,
         round(CASE WHEN prec + rec > 0 THEN 2.0 * prec * rec / (prec + rec)
                    ELSE 0.0 END, 6) AS f1,
         prec >= 0.3 AS valid
  FROM m
)
SELECT config_id, lam, k, threshold, tp, fp, fn, prec, rec, f1, valid,
       valid AND rank() OVER (ORDER BY valid DESC, rec DESC, config_id ASC) = 1 AS is_best
FROM f
"""


# ML-slot sweep grid: 3 NB smoothing alphas × 3 posterior thresholds.
# The 2-class word-NB posterior saturates toward 1.0 on long documents
# (hundreds of word-likelihood factors), so the discriminative band is
# 0.96–1.0 — thresholds live there, not at 0.5.
_HP_ALPHAS = (0.1, 0.5, 2.0)
_HP_ML_THRESHOLDS = (0.99, 0.996, 0.9995)
_HP_ML_CONFIGS = [(a, t) for a in _HP_ALPHAS for t in _HP_ML_THRESHOLDS]
_HP_ML_VARS_SQL = ", ".join(
    f"({i}, {a}::DOUBLE)" for i, a in enumerate(_HP_ALPHAS)
)
_HP_ML_CFG_SQL = ", ".join(
    f"({i}, {_HP_ALPHAS.index(a)}, {a}::DOUBLE, {t}::DOUBLE)"
    for i, (a, t) in enumerate(_HP_ML_CONFIGS)
)


def q_hp_sweep_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperparameter sweep over the ML-slot detector — FULLY ORACLED.

    The reference's search actually targets its ML detector
    (ml_based/hyperparameter_search.py trains a sentence-transformer
    variant per trial); here the ML slot is the 2-class NB quality model
    (q_quality_model_scores, itself hash-green).  Truth labels = the
    first-hit rule chain (bad iff any rule fires) — the same labels the
    model trains on, so the sweep measures distillation fidelity.  The
    count matrix is hyperparameter-free: ONE distributed aggregation
    (train_langid_counts), K = 3 alpha weight matrices folded driver-side,
    all 3 scored in one Arrow pass, 3 thresholds crossed relationally, 9
    configs evaluated in one map-side-combined aggregation.  A document is
    flagged when P(good|text) < threshold.  DuckDB recomputes training
    counts, the per-alpha posteriors and all 9 confusion matrices."""
    from .operators.hpo import evaluate_nb_quality_configs

    d = _read(spark, sf_dir, "documents")
    docs = d.withColumn("truth_bad", _firsthit_code(F.col("text")).isNotNull())
    return evaluate_nb_quality_configs(spark, docs, _HP_ML_CONFIGS)




def q_quality_model_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style learned quality posterior P(good|text) — FULLY ORACLED.

    The CCNet/DCLM distillation shape end-to-end: the heuristic rule chain
    (q_rule_firsthit, itself oracled) labels every document good/bad, the
    distributed NB trainer fits a 2-class word-md5 model on those labels,
    and the broadcast + Arrow scorer emits P(good|text).  DuckDB recomputes
    labels, counts and posterior relationally."""
    import numpy as np

    from .operators.langid import train_langid_distributed
    from .operators.quality_model import quality_prob

    d = _read(spark, sf_dir, "documents")
    labeled = d.withColumn(
        "label",
        F.when(_firsthit_code(F.col("text")).isNull(), F.lit("good")).otherwise(
            F.lit("bad")
        ),
    )
    model = train_langid_distributed(
        labeled, lang_col="label", feat="word_md5", dtype=np.float64
    )
    score = quality_prob(spark, model, F.col("text"))
    return d.select("doc_id", F.round(score, 6).alias("p_good"))


_QUALITY_TRAIN_CTE = f"""
SELECT CASE WHEN c IS NULL THEN 'good' ELSE 'bad' END AS lang,
       {_PYWORDS_SQL.format(c="text")} AS toks
FROM (
  SELECT text,
    CASE WHEN text IS NULL THEN 'MISSING'
         WHEN text = '' THEN 'EMPTY'
         WHEN len(words) < 20 THEN 'TOO_SHORT'
         WHEN n_chars > 0 AND n_digits::DOUBLE / n_chars > 0.3 THEN 'DIGIT_HEAVY'
         WHEN len(words) > 0 AND
              len(list_distinct(list_transform(words, w -> lower(w))))::DOUBLE
                / len(words) < 0.35
           THEN 'REPETITIVE'
    END AS c
  FROM (SELECT text, {_WORDS_SQL.format(c="text")} AS words, length(text) AS n_chars,
               length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits
        FROM documents)
)
"""

SQL_QUALITY_MODEL_SCORES = (
    "SELECT doc_id, claimed_score AS p_good FROM ("
    + _nb_score_sql(
        train_cte=_QUALITY_TRAIN_CTE,
        claimed_expr="'good'",
    )
    + ")"
)


SQL_HP_SWEEP_ML = f"""
WITH tr AS ({_QUALITY_TRAIN_CTE}),
tw AS (
  SELECT lang, {_MD5_BUCKET_SQL.format(w="w")} AS b
  FROM (SELECT lang, unnest(toks) AS w FROM tr)
), cnt AS (SELECT lang, b, count(*)::DOUBLE AS c FROM tw GROUP BY lang, b),
tot AS (SELECT lang, count(*)::DOUBLE AS t FROM tw GROUP BY lang),
pri AS (
  SELECT lang, ln(nd / sum(nd) OVER ()) AS lp
  FROM (SELECT lang, count(*)::DOUBLE AS nd FROM tr GROUP BY lang)
), db AS (
  SELECT doc_id, {_MD5_BUCKET_SQL.format(w="w")} AS b, count(*)::DOUBLE AS n
  FROM (SELECT doc_id, unnest({_PYWORDS_SQL.format(c="text")}) AS w FROM documents)
  GROUP BY doc_id, b
),
vars AS (SELECT * FROM (VALUES {_HP_ML_VARS_SQL}) AS v(var_id, alpha)),
cfg AS (SELECT * FROM (VALUES {_HP_ML_CFG_SQL}) AS c(config_id, var_id, alpha, threshold)),
lp AS (
  SELECT db.doc_id, v.var_id, pri.lang,
         any_value(pri.lp)
         + sum(db.n * (ln(coalesce(cnt.c, 0) + v.alpha) - ln(tot.t + v.alpha * 16384))) AS logp
  FROM db
  CROSS JOIN vars v
  CROSS JOIN pri
  JOIN tot ON tot.lang = pri.lang
  LEFT JOIN cnt ON cnt.lang = pri.lang AND cnt.b = db.b
  GROUP BY db.doc_id, v.var_id, pri.lang
), post AS (
  SELECT doc_id, var_id, lang, e / sum(e) OVER (PARTITION BY doc_id, var_id) AS p
  FROM (SELECT doc_id, var_id, lang,
               exp(logp - max(logp) OVER (PARTITION BY doc_id, var_id)) AS e
        FROM lp)
),
pg AS (SELECT doc_id, var_id, round(p, 6) AS p_good FROM post WHERE lang = 'good'),
truth AS (SELECT doc_id, code != 'PASS' AS bad FROM ({SQL_RULE_FIRSTHIT})),
tot2 AS (SELECT count(*) FILTER (bad) AS n_bad FROM truth),
hits AS (
  SELECT c.config_id,
         count(*) FILTER (p.p_good < c.threshold AND t.bad) AS tp,
         count(*) FILTER (p.p_good < c.threshold AND NOT t.bad) AS fp
  FROM cfg c
  LEFT JOIN pg p ON p.var_id = c.var_id
  LEFT JOIN truth t ON t.doc_id = p.doc_id
  GROUP BY c.config_id
),
m AS (
  SELECT c.config_id, c.alpha, c.threshold,
         coalesce(h.tp, 0)::BIGINT AS tp, coalesce(h.fp, 0)::BIGINT AS fp,
         (tot2.n_bad - coalesce(h.tp, 0))::BIGINT AS fn,
         round(CASE WHEN coalesce(h.tp, 0) + coalesce(h.fp, 0) > 0
                    THEN coalesce(h.tp, 0)::DOUBLE / (coalesce(h.tp, 0) + coalesce(h.fp, 0))
                    ELSE 0.0 END, 6) AS prec,
         round(CASE WHEN tot2.n_bad > 0
                    THEN coalesce(h.tp, 0)::DOUBLE / tot2.n_bad ELSE 0.0 END, 6) AS rec
  FROM cfg c LEFT JOIN hits h ON h.config_id = c.config_id CROSS JOIN tot2
),
f AS (
  SELECT *,
         round(CASE WHEN prec + rec > 0 THEN 2.0 * prec * rec / (prec + rec)
                    ELSE 0.0 END, 6) AS f1,
         prec >= 0.3 AS valid
  FROM m
)
SELECT config_id, alpha, threshold, tp, fp, fn, prec, rec, f1, valid,
       valid AND rank() OVER (ORDER BY valid DESC, rec DESC, config_id ASC) = 1 AS is_best
FROM f
"""


def q_pipeline_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full quality-filter pipeline over documents mapped to the pages shape
    (rows-only: verdict uses the model scorers)."""
    from .plans.pipeline import quality_filter

    d = _read(spark, sf_dir, "documents")
    pages = d.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        "lang",
    )
    res = quality_filter(spark, pages)
    return res.select(
        "url", "keep", F.col("verdict.method").alias("method"), F.col("verdict.code").alias("code")
    )


def q_pipeline_rules_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship keep/drop decision, ORACLE-ABLE slice: quality_filter
    with methods pruned to ["validation", "pattern"] (the capability-probe
    path).  Unlike `pipeline_verdict` (rows-only — its verdict needs the
    model scorers), every operator here is SQL-expressible, so the DuckDB
    oracle recomputes the full default web-text ruleset (9 rules,
    first-hit), the lang pattern detector (format/length/known-values with
    close-match), the priority combiner and the keep bit — end to end."""
    from .plans.pipeline import quality_filter

    d = _read(spark, sf_dir, "documents")
    pages = d.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        "lang",
    )
    res = quality_filter(spark, pages, methods=["validation", "pattern"])
    return res.select(
        "url",
        "keep",
        F.col("verdict.method").alias("method"),
        F.col("verdict.code").alias("code"),
        F.col("verdict.probability").alias("probability"),
    )


# (_WS_SQL is defined near the top of the module, with _WORDS_SQL)

SQL_PIPELINE_RULES_VERDICT = f"""
WITH base AS (
  SELECT 'doc://' || doc_id::VARCHAR AS url, text, lang,
         CASE WHEN regexp_replace(text, '^{_WS_SQL}+|{_WS_SQL}+$', '', 'g') = ''
              THEN []::VARCHAR[]
              ELSE regexp_split_to_array(
                     regexp_replace(text, '^{_WS_SQL}+|{_WS_SQL}+$', '', 'g'),
                     '{_WS_SQL}+') END AS words,
         length(text) AS n_chars
  FROM documents
), feats AS (
  SELECT url, text, lang, words, n_chars, len(words) AS n_words,
         n_chars - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits,
         length(regexp_replace(text, '[0-9A-Za-z {_WS_SQL[2:-1]}]', '', 'g')) AS n_sym,
         len(list_distinct(list_transform(words, w -> lower(w)))) AS n_distinct
  FROM base
), v AS (
  SELECT url, lang, CASE
    WHEN text IS NULL THEN ['MISSING', 'missing_text', '1.0']
    WHEN text = '' THEN ['EMPTY', 'empty_text', '1.0']
    WHEN regexp_matches(text, '^{_WS_SQL}|{_WS_SQL}$') THEN ['WHITESPACE_PADDING', 'whitespace_padding', '0.8']
    WHEN n_words < 40 THEN ['TOO_SHORT', 'too_short', '0.9']
    WHEN n_chars > 0 AND n_digits::DOUBLE / n_chars > 0.3 THEN ['DIGIT_HEAVY', 'digit_heavy', '0.85']
    WHEN n_chars > 0 AND n_sym::DOUBLE / n_chars > 0.1 THEN ['SYMBOL_HEAVY', 'symbol_heavy', '0.8']
    WHEN n_words > 0 AND n_distinct::DOUBLE / n_words < 0.05 THEN ['REPETITIVE', 'repetitive', '0.85']
    WHEN contains(lower(text), 'cookie') OR contains(lower(text), 'newsletter')
      OR contains(lower(text), 'privacy policy') OR contains(lower(text), 'all rights reserved')
      THEN ['BOILERPLATE', 'boilerplate', '0.8']
    WHEN n_words > 0 AND list_max(list_transform(words, w -> length(w))) > 60
      THEN ['ABSURD_WORD', 'absurd_word', '0.75']
    END AS vf
  FROM feats
), p AS (
  SELECT url, vf,
         regexp_replace(lang, '^{_WS_SQL}+|{_WS_SQL}+$', '', 'g') AS vs,
         lower(regexp_replace(lang, '^{_WS_SQL}+|{_WS_SQL}+$', '', 'g')) AS norm
  FROM v
), pf AS (
  SELECT url, vf, CASE
    WHEN lang IS NULL OR vs = '' THEN NULL
    WHEN NOT regexp_matches(vs, '^(?:[a-z]{{2}})') THEN ['INVALID_FORMAT', 'format_pattern', '0.8']
    WHEN length(vs) > 2 THEN ['MAX_LENGTH', 'max_length', '0.8']
    WHEN norm NOT IN ('en', 'de', 'nl', 'fr') THEN
      ['UNKNOWN_VALUE', 'known_values',
       CASE WHEN starts_with('en', substr(norm, 1, 3)) OR starts_with(norm, 'en')
              OR starts_with('de', substr(norm, 1, 3)) OR starts_with(norm, 'de')
              OR starts_with('nl', substr(norm, 1, 3)) OR starts_with(norm, 'nl')
              OR starts_with('fr', substr(norm, 1, 3)) OR starts_with(norm, 'fr')
            THEN '0.75' ELSE '0.85' END]
    END AS pp
  FROM p JOIN (SELECT url AS u2, lang FROM base) ON url = u2
)
SELECT url,
       (vf IS NULL AND pp IS NULL) AS keep,
       CASE WHEN vf IS NOT NULL THEN 'validation'
            WHEN pp IS NOT NULL THEN 'pattern' END AS method,
       coalesce(vf[1], pp[1]) AS code,
       coalesce(vf[3], pp[3])::DOUBLE AS probability
FROM pf
"""


def q_pipeline_verdict_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE 4-family flagship, FULLY ORACLED: rules + pattern +
    langid(ML) + perplexity(LLM) findings, per-method thresholds, the
    priority combiner and the keep bit — through the REAL quality_filter
    plan (one select, two Arrow hops, zero shuffles), with the
    SQL-reproducible in-query-trained models injected via
    quality_filter(langid_model=..., lm_models=...).  DuckDB
    recomputes everything: rule chain, pattern detector, NB posteriors,
    bigram NLLs, threshold gates and the coalesce.  (`pipeline_verdict`
    stays as the artifact-backed production form, rows-only.)  Verdict
    threshold margins on this corpus are ≥0.05 in score space, so the
    1e-13-level fp differences between engines cannot flip a gate."""
    import numpy as np

    from .operators.langid import train_langid_distributed
    from .operators.perplexity import train_ngram_distributed
    from .plans.pipeline import quality_filter

    d = _read(spark, sf_dir, "documents")
    train = d.filter(F.col("n_chars") >= 300)
    # the two in-query trainings are independent jobs — overlap them from
    # driver threads (guide §2.6) so the second's scan backfills the
    # first's stragglers: measured 3.2 s sequential → ~2.0 s overlapped at
    # sf1.0 (both are collect-bounded aggregations; results unchanged)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        lm_f = pool.submit(
            train_langid_distributed, train, feat="word_md5", dtype=np.float64
        )
        bm_f = pool.submit(train_ngram_distributed, train, order=2, max_vocab=1_000_000)
        lm, bm = lm_f.result(), bm_f.result()
    pages = d.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        "lang",
    )
    res = quality_filter(spark, pages, langid_model=lm, lm_models=bm)
    return res.select(
        "url",
        "keep",
        F.col("verdict.method").alias("method"),
        F.col("verdict.code").alias("code"),
        F.round("verdict.probability", 6).alias("probability"),
    )


def _pipeline_verdict_full_sql() -> str:
    rules_ctes = SQL_PIPELINE_RULES_VERDICT.split("\nSELECT url,")[0]
    return (
        rules_ctes
        + f""",
nbtr AS (
  SELECT lang, {_PYWORDS_SQL.format(c="text")} AS toks
  FROM documents WHERE n_chars >= 300 AND lang IS NOT NULL
), nbtw AS (
  SELECT lang, {_MD5_BUCKET_SQL.format(w="w")} AS b
  FROM (SELECT lang, unnest(toks) AS w FROM nbtr)
), nbcnt AS (SELECT lang, b, count(*)::DOUBLE AS c FROM nbtw GROUP BY lang, b),
nbtot AS (SELECT lang, count(*)::DOUBLE AS t FROM nbtw GROUP BY lang),
nbpri AS (
  SELECT lang, ln(nd / sum(nd) OVER ()) AS lp
  FROM (SELECT lang, count(*)::DOUBLE AS nd FROM nbtr GROUP BY lang)
), nbdb AS (
  SELECT doc_id, {_MD5_BUCKET_SQL.format(w="w")} AS b, count(*)::DOUBLE AS n
  FROM (SELECT doc_id, unnest({_PYWORDS_SQL.format(c="text")}) AS w FROM documents)
  GROUP BY doc_id, b
), nblp AS (
  SELECT nbdb.doc_id, nbpri.lang,
         any_value(nbpri.lp)
         + sum(nbdb.n * (ln(coalesce(nbcnt.c, 0) + 0.5) - ln(nbtot.t + 0.5 * 16384))) AS logp
  FROM nbdb
  CROSS JOIN nbpri
  JOIN nbtot ON nbtot.lang = nbpri.lang
  LEFT JOIN nbcnt ON nbcnt.lang = nbpri.lang AND nbcnt.b = nbdb.b
  GROUP BY nbdb.doc_id, nbpri.lang
), nbpost AS (
  SELECT doc_id, lang, e / sum(e) OVER (PARTITION BY doc_id) AS p
  FROM (SELECT doc_id, lang,
               exp(logp - max(logp) OVER (PARTITION BY doc_id)) AS e
        FROM nblp)
), cs AS (
  SELECT d.doc_id,
         CASE WHEN sc.doc_id IS NULL THEN NULL
              ELSE coalesce(np.p, 0.0) END AS cs
  FROM documents d
  LEFT JOIN (SELECT DISTINCT doc_id FROM nbpost) sc ON sc.doc_id = d.doc_id
  LEFT JOIN nbpost np ON np.doc_id = d.doc_id AND np.lang = d.lang
),
pltrb AS (
  SELECT lang, CASE WHEN pos = 1 THEN '<s>' ELSE toks[pos - 1] END AS prev, toks[pos] AS cur
  FROM (SELECT lang, toks, generate_subscripts(toks, 1) AS pos FROM nbtr)
), plbi AS (SELECT lang, prev, cur, count(*)::DOUBLE AS c FROM pltrb GROUP BY lang, prev, cur),
plctx AS (SELECT lang, prev, count(*)::DOUBLE AS c FROM pltrb GROUP BY lang, prev),
plwrd AS (SELECT lang, cur, count(*)::DOUBLE AS c FROM pltrb GROUP BY lang, cur),
plnt AS (SELECT lang, count(*)::DOUBLE AS n FROM pltrb GROUP BY lang),
plsc AS (
  SELECT doc_id, {_PYWORDS_SQL.format(c="text")} AS toks,
         CASE WHEN lang IN (SELECT lang FROM nbtr) THEN lang ELSE 'en' END AS g
  FROM documents
), plscb AS (
  SELECT doc_id, g, len(toks) AS n_toks,
         CASE WHEN pos = 1 THEN '<s>' ELSE toks[pos - 1] END AS prev, toks[pos] AS cur
  FROM (SELECT doc_id, g, toks, generate_subscripts(toks, 1) AS pos FROM plsc)
), pltok AS (
  SELECT plscb.doc_id, plscb.n_toks,
         -ln(0.7 * (CASE WHEN coalesce(plctx.c, 0) > 0
                         THEN coalesce(plbi.c, 0) / plctx.c ELSE 0.0 END)
             + (1.0 - 0.7) * ((coalesce(plwrd.c, 0) + 0.5) / (plnt.n + 0.5 * 10000))) AS nll
  FROM plscb
  JOIN plnt ON plnt.lang = plscb.g
  LEFT JOIN plbi  ON plbi.lang = plscb.g AND plbi.prev = plscb.prev AND plbi.cur = plscb.cur
  LEFT JOIN plctx ON plctx.lang = plscb.g AND plctx.prev = plscb.prev
  LEFT JOIN plwrd ON plwrd.lang = plscb.g AND plwrd.cur = plscb.cur
), ppl AS (
  SELECT d.doc_id, s.ppl
  FROM documents d
  LEFT JOIN (SELECT doc_id, sum(nll) / any_value(n_toks) AS ppl FROM pltok GROUP BY doc_id) s
    ON s.doc_id = d.doc_id
),
mlf AS (
  SELECT doc_id,
         CASE WHEN cs IS NOT NULL AND cs < 0.7
              THEN least(greatest(1.0 - cs, 0.0), 0.99) END AS ml_prob
  FROM cs
), llf AS (
  SELECT doc_id,
         CASE WHEN ppl IS NOT NULL AND ppl > 6.0
              THEN least(ppl / 10.0, 1.0) END AS llm_prob
  FROM ppl
), allf AS (
  SELECT pf.url, pf.vf, pf.pp,
         CASE WHEN mlf.ml_prob >= 0.7 THEN mlf.ml_prob END AS ml_prob,
         CASE WHEN llf.llm_prob >= 0.6 THEN llf.llm_prob END AS llm_prob
  FROM pf
  JOIN mlf ON pf.url = 'doc://' || mlf.doc_id::VARCHAR
  JOIN llf ON pf.url = 'doc://' || llf.doc_id::VARCHAR
)
SELECT url,
       (vf IS NULL AND pp IS NULL AND ml_prob IS NULL AND llm_prob IS NULL) AS keep,
       CASE WHEN vf IS NOT NULL THEN 'validation'
            WHEN pp IS NOT NULL THEN 'pattern'
            WHEN ml_prob IS NOT NULL THEN 'ml'
            WHEN llm_prob IS NOT NULL THEN 'llm' END AS method,
       CASE WHEN vf IS NOT NULL THEN vf[1]
            WHEN pp IS NOT NULL THEN pp[1]
            WHEN ml_prob IS NOT NULL THEN 'LANG_MISMATCH'
            WHEN llm_prob IS NOT NULL THEN 'HIGH_PERPLEXITY' END AS code,
       round(CASE WHEN vf IS NOT NULL THEN vf[3]::DOUBLE
                  WHEN pp IS NOT NULL THEN pp[3]::DOUBLE
                  WHEN ml_prob IS NOT NULL THEN ml_prob
                  WHEN llm_prob IS NOT NULL THEN llm_prob END, 6) AS probability
FROM allf
"""
    )


SQL_PIPELINE_VERDICT_FULL = _pipeline_verdict_full_sql()


def q_host_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style host blocklist — FULLY ORACLED.  Pages get the
    rules+pattern keep/drop verdict, then one map-side-combined groupBy
    per host (host_id = doc_id % 101, the deterministic host family)
    yields page/keep counts, keep rate, and the blocked verdict
    (keep_rate < 0.5 at ≥20-page support).  DuckDB replays the full rule
    chain (the `pipeline_rules_verdict` CTEs) and the aggregation."""
    from .operators.hostquality import host_quality_stats
    from .plans.pipeline import quality_filter

    d = _read(spark, sf_dir, "documents")
    pages = d.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        "lang",
        (F.col("doc_id") % 101).alias("host_id"),
    )
    res = quality_filter(spark, pages, methods=["validation", "pattern"])
    stats = host_quality_stats(
        res, host="host_id", keep="keep", min_support=20, min_keep_rate=0.5
    )
    return stats.select(
        F.col("host").alias("host_id"),
        "n_pages",
        "n_kept",
        F.round("keep_rate", 6).alias("keep_rate"),
        "blocked",
    )


SQL_HOST_QUALITY = (
    SQL_PIPELINE_RULES_VERDICT.split("\nSELECT url,")[0]
    + """
SELECT host_id,
       count(*) AS n_pages,
       (count(*) FILTER (WHERE keep))::BIGINT AS n_kept,
       round((count(*) FILTER (WHERE keep))::DOUBLE / count(*), 6) AS keep_rate,
       (count(*) >= 20 AND
        (count(*) FILTER (WHERE keep))::DOUBLE / count(*) < 0.5) AS blocked
FROM (SELECT CAST(substr(url, 7) AS BIGINT) % 101 AS host_id,
             (vf IS NULL AND pp IS NULL) AS keep
      FROM pf)
GROUP BY host_id
"""
)


def q_link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction: raw HTML → host-level weighted edge list —
    FULLY ORACLED.  HTML is synthesized deterministically from doc_id
    arithmetic (mixed-case hrefs, single/double quotes, a relative link
    and a mailto that must NOT become edges, a mod-5 duplicate link that
    must count twice); ``operators.linkgraph.extract_link_edges`` runs
    the codegen decode→regexp→explode→host chain and DuckDB replays it
    with ``regexp_extract_all``+``unnest`` and the same host-canonical
    regex chain as SQL_URL_CANONICAL."""
    from .operators.linkgraph import extract_link_edges

    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")

    def s(c):
        return c.cast("string")

    html = F.concat(
        F.lit('<html><a href="https://Site'), s(did % 53),
        F.lit('.Example.COM/a">x</a>'),
        F.lit("<A HREF='http://www.site"), s((did * 3 + 1) % 53),
        F.lit(".example.com/b'>y</A>"),
        F.lit('<a href="/rel">r</a>'),
        F.when(did % 7 == 0, F.lit('<a href="mailto:x@y.z">m</a>')).otherwise(
            F.lit("")
        ),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit('<a href="https://site'), s(did % 53),
                F.lit('.example.com/c">z</a>'),
            ),
        ).otherwise(F.lit("")),
        F.lit("</html>"),
    )
    pages = d.select(
        F.concat(
            F.lit("https://src"), s(did % 31), F.lit(".example.com/p/"), s(did)
        ).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )
    return extract_link_edges(pages).select("src", "dst", "n_links")


SQL_LINK_EDGES = r"""
WITH pages AS (
  SELECT 'src' || (doc_id % 31)::VARCHAR || '.example.com' AS src,
    '<html><a href="https://Site' || (doc_id % 53)::VARCHAR || '.Example.COM/a">x</a>'
    || '<A HREF=''http://www.site' || ((doc_id * 3 + 1) % 53)::VARCHAR || '.example.com/b''>y</A>'
    || '<a href="/rel">r</a>'
    || CASE WHEN doc_id % 7 = 0 THEN '<a href="mailto:x@y.z">m</a>' ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN '<a href="https://site' || (doc_id % 53)::VARCHAR || '.example.com/c">z</a>'
            ELSE '' END
    || '</html>' AS html
  FROM documents
), hrefs AS (
  SELECT src,
         unnest(regexp_extract_all(html,
           '(?i)href\s*=\s*["'']([^"'']+)["'']', 1)) AS href
  FROM pages
), edges AS (
  SELECT src,
    regexp_replace(lower(regexp_extract(regexp_extract(
      regexp_replace(href, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
      '^([^/?#]*)', 1), '^([^:]*)', 1)), '^www\.', '') AS dst
  FROM hrefs
  WHERE regexp_matches(href, '(?i)^https?://')
)
SELECT src, dst, count(*)::BIGINT AS n_links
FROM edges
WHERE dst <> '' AND src <> dst
GROUP BY src, dst
"""


def q_shuffled_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global training-shard shuffle — FULLY ORACLED.
    ``operators.packing.shuffle_shards`` assigns every document a
    (shard, shard_pos) such that shard-order reading visits documents in
    md5(seed:key) order — the pre-training i.i.d. shuffle.  DuckDB
    replays the md5 shard gate and the per-shard row_number."""
    from .operators.packing import shuffle_shards

    # fan_out=False: the operator's first move is its own shard shuffle of
    # one 8-byte column — a fan-out exchange in front of it is pure cost
    d = _read(spark, sf_dir, "documents", fan_out=False).select("doc_id")
    out = shuffle_shards(d, key="doc_id", n_shards=16, seed=0)
    return out.select(
        "doc_id", "shard", F.col("shard_pos").cast("long").alias("shard_pos")
    )


SQL_SHUFFLED_SHARDS = """
WITH h AS (
  SELECT doc_id, md5('0:' || doc_id::VARCHAR) AS hh FROM documents
), s AS (
  SELECT doc_id, hh,
         (('0x' || substr(hh, 1, 8))::UBIGINT % 16)::BIGINT AS shard
  FROM h
)
SELECT doc_id, shard,
       (row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id) - 1)::BIGINT
         AS shard_pos
FROM s
"""


def q_pack_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack MATERIALIZATION — FULLY ORACLED.  Downstream of offset
    packing: one row per (lang, shard, pack_id) with the member texts
    concatenated in pack order (chr(30) as the EOS stand-in).  DuckDB
    replays the packing window then ``string_agg(text ORDER BY
    doc_id)`` — any divergence in assignment, order, or text bytes
    fails the hash."""
    from .operators.packing import materialize_packs, pack_documents

    d = _read(spark, sf_dir, "documents")
    packed = pack_documents(
        d, "doc_id", PACK_BUDGET, group_cols=("lang",), n_shards=PACK_SHARDS
    )
    out = materialize_packs(
        packed, "doc_id", group_cols=("lang",), sep="\x1e"
    )
    return out.select(
        "lang", "shard", "pack_id", "pack_text",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
    )


def _pack_texts_sql() -> str:
    from .operators.sampling import sample_bucket_sql

    shard = f"({sample_bucket_sql('doc_id')} % {PACK_SHARDS})"
    stripped = f"regexp_replace(text, '^{_WS_SQL}+|{_WS_SQL}+$', '', 'g')"
    n_tok = (
        f"CASE WHEN {stripped} = '' THEN 0 "
        f"ELSE len(regexp_split_to_array({stripped}, '{_WS_SQL}+')) END"
    )
    return f"""
WITH t AS (
  SELECT doc_id, lang, text, {n_tok} AS n_tokens, {shard} AS shard
  FROM documents WHERE {n_tok} > 0
), p AS (
  SELECT lang, shard, doc_id, text, n_tokens,
         sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS start
  FROM t
)
SELECT lang, shard, floor(start / {PACK_BUDGET})::BIGINT AS pack_id,
       string_agg(text, chr(30) ORDER BY doc_id) AS pack_text,
       count(*) AS n_docs, sum(n_tokens)::BIGINT AS total_tokens
FROM p GROUP BY lang, shard, pack_id
"""


SQL_PACK_TEXTS = _pack_texts_sql()


def q_noindex_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots-meta opt-out detection — FULLY ORACLED.  Five synthesized
    HTML variants per doc_id mod class: noindex in normal and reversed
    attribute order (both must flag), index-only content, no meta at
    all, and a noindex string under a non-robots meta name (none may
    flag).  DuckDB runs the IDENTICAL regex via regexp_matches."""
    from .operators.extract import robots_noindex

    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    meta = (
        F.when(did % 5 == 0, F.lit('<meta name="robots" content="noindex, nofollow">'))
        .when(did % 5 == 1, F.lit("<meta content='NOINDEX' name=robots>"))
        .when(did % 5 == 2, F.lit('<meta name="robots" content="index, follow">'))
        .when(did % 5 == 3, F.lit(""))
        .otherwise(F.lit('<meta name="description" content="noindex in prose">'))
    )
    html = F.encode(
        F.concat(F.lit("<html><head>"), meta, F.lit("</head><body>x</body></html>")),
        "UTF-8",
    )
    return d.select("doc_id", robots_noindex(html).alias("noindex"))


def _noindex_sql() -> str:
    from .operators.extract import NOINDEX_PATTERN

    pat = NOINDEX_PATTERN.replace("'", "''")
    return f"""
WITH h AS (
  SELECT doc_id,
    '<html><head>' ||
    CASE doc_id % 5
      WHEN 0 THEN '<meta name="robots" content="noindex, nofollow">'
      WHEN 1 THEN '<meta content=''NOINDEX'' name=robots>'
      WHEN 2 THEN '<meta name="robots" content="index, follow">'
      WHEN 3 THEN ''
      ELSE '<meta name="description" content="noindex in prose">'
    END || '</head><body>x</body></html>' AS html
  FROM documents
)
SELECT doc_id, regexp_matches(html, '{pat}') AS noindex FROM h
"""


SQL_NOINDEX_PAGES = _noindex_sql()


# ------------------------------------------------- pack token ids (loader-final)

def q_pack_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loader-final token-id materialization: the BPE-budget packs of
    q_sequence_packing_bpe, each emitted as ONE concatenated token-id
    stream in (doc_id asc, word order, greedy piece order) — exactly the
    int sequence a training loader reads.  Fully ORACLED: DuckDB replays
    the greedy longest-match segmentation as a recursive CTE that builds
    the per-word id string (same embedded (piece, len, id) dictionary),
    stitches docs with ordered string_aggs, and re-runs the identical
    packing window — a one-token divergence anywhere in the stream flips
    the hash.  Groups are budget-bounded, so the per-pack collect_list is
    small by construction (same argument as pack_texts)."""
    from .artifacts import get_bpe_pieces
    from .operators.bpe import bpe_encode_ids, bpe_token_count
    from .operators.packing import pack_documents

    pieces = list(get_bpe_pieces())
    d = _read(spark, sf_dir, "documents")
    with_tok = d.withColumn("bpe_tokens", bpe_token_count(F.col("text"), pieces))
    packed = pack_documents(
        with_tok,
        "doc_id",
        BPE_PACK_BUDGET,
        group_cols=("lang",),
        n_shards=PACK_SHARDS,
        tokens_col="bpe_tokens",
        # same equivalence as q_sequence_packing_bpe: keeps the Arrow
        # count UDF off the pre-exchange scan side
        cheap_filter=F.col("text").rlike("[^ \t\n\r\f\x0B]"),
    )
    enc = packed.withColumn("ids", bpe_encode_ids(F.col("text"), pieces))
    return (
        enc.groupBy("lang", "shard", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.array_sort(F.collect_list(F.struct("doc_id", "ids"))).alias("_m"),
        )
        .select(
            "lang",
            "shard",
            "pack_id",
            "n_docs",
            "total_tokens",
            F.to_json(F.flatten(F.col("_m.ids"))).alias("token_ids_json"),
        )
    )


def _pack_token_ids_sql() -> str:
    from .artifacts import get_bpe_pieces
    from .operators.bpe import pieces_ids_values_sql
    from .operators.sampling import sample_bucket_sql

    shard = f"({sample_bucket_sql('doc_id')} % {PACK_SHARDS})"
    return f"""
WITH RECURSIVE pieces(p, l, id) AS (SELECT * FROM {pieces_ids_values_sql(list(get_bpe_pieces()))}),
dw AS (
  SELECT doc_id, lang, w, ord FROM (
    SELECT doc_id, lang, unnest(words) AS w, unnest(range(1, len(words) + 1)) AS ord
    FROM (SELECT doc_id, lang, {_PYWORDS_SQL.format(c="text")} AS words FROM documents))
), uw AS (SELECT DISTINCT w FROM dw),
seg(w, pos, n, ids) AS (
  SELECT w, 1, 0, '' FROM uw
  UNION ALL
  SELECT w,
         pos + coalesce((SELECT max(l) FROM pieces WHERE p = substr(seg.w, seg.pos, l)), 1),
         n + 1,
         (CASE WHEN ids = '' THEN '' ELSE ids || ',' END) ||
           coalesce((SELECT id FROM pieces WHERE p = substr(seg.w, seg.pos, l)
                     ORDER BY l DESC LIMIT 1), -1)::VARCHAR
  FROM seg WHERE pos <= length(w)
), wc AS (
  SELECT w, max(n) AS np, arg_max(ids, pos) AS ids FROM seg GROUP BY w
), t AS (
  SELECT doc_id, any_value(lang) AS lang, sum(np)::INT AS n_tokens,
         string_agg(wc.ids, ',' ORDER BY ord) AS idstr, {shard} AS shard
  FROM dw JOIN wc USING (w) GROUP BY doc_id
), p AS (
  SELECT lang, shard, doc_id, n_tokens, idstr,
         sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS start
  FROM t WHERE n_tokens > 0
)
SELECT lang, shard, floor(start / {BPE_PACK_BUDGET})::BIGINT AS pack_id,
       count(*) AS n_docs, sum(n_tokens)::BIGINT AS total_tokens,
       '[' || string_agg(idstr, ',' ORDER BY doc_id) || ']' AS token_ids_json
FROM p GROUP BY lang, shard, pack_id
"""


SQL_PACK_TOKEN_IDS = _pack_token_ids_sql()


# ------------------------------------------------- tf-idf top terms

def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document tf·idf keywords (textstats.tfidf_top_terms) — FULLY
    ORACLED: DuckDB recomputes term frequencies, the vocabulary-sized df
    table, idf = ln(N/df) and the rank on the rounded score with the
    identical (score desc, term asc) tiebreak."""
    from .operators.textstats import tfidf_top_terms

    d = _read(spark, sf_dir, "documents")
    return tfidf_top_terms(d, "doc_id", k=5)


SQL_TFIDF_TERMS = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')), '{_WS_SQL}+'),
                     w -> w <> '') AS words
  FROM documents
), tok AS (
  SELECT doc_id, unnest(words) AS term FROM t
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         round(tf.tf * ln(n.n::DOUBLE / df.df), 6) AS score
  FROM tf JOIN df USING (term), n
)
SELECT doc_id, term, tf::BIGINT AS tf, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


# ------------------------------------------------- anchor-text aggregation

def q_anchor_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation (linkgraph.anchor_term_stats) — FULLY
    ORACLED.  Synthetic pages exercise mixed-case tags/hrefs, a nested
    ``<b>`` tag that must strip, multi-space anchors that must collapse,
    and relative / mailto / self-link anchors that must NOT count; DuckDB
    replays element extraction, href + inner-text pulls, tag-strip,
    term-split and the per-(dst, term) distinct-source count."""
    from .operators.linkgraph import anchor_term_stats

    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")

    def s(c):
        return c.cast("string")

    html = F.concat(
        F.lit('<html><a  href="https://Dest'), s(did % 29),
        F.lit('.Example.COM/x">Visit  <b>term'), s(did % 11),
        F.lit("</b>\n now</a>"),
        F.lit('<a href="/rel">skip</a>'),
        F.when(
            did % 6 == 0,
            F.concat(
                F.lit("<A HREF='https://src"), s(did % 31),
                F.lit(".example.com/self'>self link</A>"),
            ),
        ).otherwise(F.lit("")),
        F.when(did % 4 == 0, F.lit('<a href="mailto:a@b.c">mail</a>')).otherwise(
            F.lit("")
        ),
        F.lit("</html>"),
    )
    pages = d.select(
        F.concat(
            F.lit("https://src"), s(did % 31), F.lit(".example.com/p/"), s(did)
        ).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )
    return anchor_term_stats(pages)


SQL_ANCHOR_TERMS = r"""
WITH pages AS (
  SELECT 'src' || (doc_id % 31)::VARCHAR || '.example.com' AS src,
    '<html><a  href="https://Dest' || (doc_id % 29)::VARCHAR
    || '.Example.COM/x">Visit  <b>term' || (doc_id % 11)::VARCHAR
    || '</b>' || chr(10) || ' now</a>'
    || '<a href="/rel">skip</a>'
    || CASE WHEN doc_id % 6 = 0
            THEN '<A HREF=''https://src' || (doc_id % 31)::VARCHAR || '.example.com/self''>self link</A>'
            ELSE '' END
    || CASE WHEN doc_id % 4 = 0 THEN '<a href="mailto:a@b.c">mail</a>' ELSE '' END
    || '</html>' AS html
  FROM documents
), els AS (
  SELECT src,
         unnest(regexp_extract_all(html,
           '(?is)<a\s[^>]*href\s*=\s*["''][^"'']+["''][^>]*>.*?</a>', 0)) AS el
  FROM pages
), parsed AS (
  SELECT src,
         regexp_extract(el, '(?i)href\s*=\s*["'']([^"'']+)["'']', 1) AS href,
         trim(regexp_replace(regexp_replace(
           regexp_extract(el, '(?is)>(.*)</a>$', 1),
           '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')) AS txt
  FROM els
), rows_ AS (
  SELECT src,
    regexp_replace(lower(regexp_extract(regexp_extract(
      regexp_replace(href, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
      '^([^/?#]*)', 1), '^([^:]*)', 1)), '^www\.', '') AS dst,
    unnest(list_filter(regexp_split_to_array(lower(txt), '[ \t\n\r\f\x0B]+'),
                       w -> w <> '')) AS term
  FROM parsed
  WHERE regexp_matches(href, '(?i)^https?://')
)
SELECT dst, term, count(DISTINCT src)::BIGINT AS n_srcs
FROM rows_
WHERE dst <> '' AND src <> '' AND dst <> src
GROUP BY dst, term
"""


# ------------------------------------------------- trigram perplexity tier

def q_perplexity_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order "KenLM-style" tier: interpolated TRIGRAM LM — FULLY
    ORACLED the same way as the bigram contract (q_perplexity_scores).

    One LM per language trained in-query on the clean slice by the
    single-aggregation distributed trainer (every lower-order count folds
    out of the trigram table); scoring replays
    ``0.5·c(uvw)/c(uv) + 0.3·c(vw)/c(v) + 0.2·(c(w)+0.5)/(N+0.5·10000)``
    per token — rational count arithmetic DuckDB reproduces exactly."""
    from .operators.perplexity import perplexity_column, train_ngram_distributed

    d = _read(spark, sf_dir, "documents")
    models = train_ngram_distributed(
        d.filter(F.col("n_chars") >= 300), order=3, max_vocab=1_000_000
    )
    score = perplexity_column(spark, models, F.col("text"), F.col("lang"))
    return d.select("doc_id", F.round(score, 6).alias("ppl3"))


SQL_PERPLEXITY_TRIGRAM = f"""
WITH tr AS (
  SELECT lang, {_PYWORDS_SQL.format(c="text")} AS toks
  FROM documents WHERE n_chars >= 300 AND lang IS NOT NULL
), trb AS (
  SELECT lang,
         CASE WHEN pos <= 2 THEN '<s>' ELSE toks[pos - 2] END AS u,
         CASE WHEN pos = 1 THEN '<s>' ELSE toks[pos - 1] END AS v,
         toks[pos] AS w
  FROM (SELECT lang, toks, generate_subscripts(toks, 1) AS pos FROM tr)
), tri AS (SELECT lang, u, v, w, count(*)::DOUBLE AS c FROM trb GROUP BY lang, u, v, w),
ctx2 AS (SELECT lang, u, v, count(*)::DOUBLE AS c FROM trb GROUP BY lang, u, v),
bi AS (SELECT lang, v, w, count(*)::DOUBLE AS c FROM trb GROUP BY lang, v, w),
ctx1 AS (SELECT lang, v, count(*)::DOUBLE AS c FROM trb GROUP BY lang, v),
wrd AS (SELECT lang, w, count(*)::DOUBLE AS c FROM trb GROUP BY lang, w),
nt AS (SELECT lang, count(*)::DOUBLE AS n FROM trb GROUP BY lang),
sc AS (
  SELECT doc_id, {_PYWORDS_SQL.format(c="text")} AS toks,
         CASE WHEN lang IN (SELECT lang FROM nt) THEN lang ELSE 'en' END AS g
  FROM documents
), scb AS (
  SELECT doc_id, g, len(toks) AS n_toks,
         CASE WHEN pos <= 2 THEN '<s>' ELSE toks[pos - 2] END AS u,
         CASE WHEN pos = 1 THEN '<s>' ELSE toks[pos - 1] END AS v,
         toks[pos] AS w
  FROM (SELECT doc_id, g, toks, generate_subscripts(toks, 1) AS pos FROM sc)
), tok AS (
  SELECT scb.doc_id, scb.n_toks,
         -ln(0.5 * (CASE WHEN coalesce(ctx2.c, 0) > 0
                         THEN coalesce(tri.c, 0) / ctx2.c ELSE 0.0 END)
             + 0.3 * (CASE WHEN coalesce(ctx1.c, 0) > 0
                           THEN coalesce(bi.c, 0) / ctx1.c ELSE 0.0 END)
             + 0.2 * ((coalesce(wrd.c, 0) + 0.5) / (nt.n + 0.5 * 10000))) AS nll
  FROM scb
  JOIN nt ON nt.lang = scb.g
  LEFT JOIN tri  ON tri.lang = scb.g AND tri.u = scb.u AND tri.v = scb.v AND tri.w = scb.w
  LEFT JOIN ctx2 ON ctx2.lang = scb.g AND ctx2.u = scb.u AND ctx2.v = scb.v
  LEFT JOIN bi   ON bi.lang = scb.g AND bi.v = scb.v AND bi.w = scb.w
  LEFT JOIN ctx1 ON ctx1.lang = scb.g AND ctx1.v = scb.v
  LEFT JOIN wrd  ON wrd.lang = scb.g AND wrd.w = scb.w
)
SELECT d.doc_id, round(s.ppl, 6) AS ppl3
FROM documents d
LEFT JOIN (SELECT doc_id, sum(nll) / any_value(n_toks) AS ppl FROM tok GROUP BY doc_id) s
  ON s.doc_id = d.doc_id
"""


# ------------------------------------------- optional LLM detector tiers

# few-shot example set for the in-context tier: clean-corpus-domain
# sentences (fixed literals — the reference ships examples as config)
ICL_EXAMPLES = (
    "the data table row value part hash join window filter scan",
    "spark query plan column agg order batch line customer small fast",
)
ICL_THRESHOLD = 0.30
# tuned so the sf0.01 contract corpus populates ALL THREE decision branches
# (ICL short-circuit / HIGH_PERPLEXITY / no finding)
LLM_TIER_THRESHOLD = 4.2


def q_llm_tier_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's three OPTIONAL LLM-detector tiers — FULLY ORACLED
    (the last SURVEY §2 gap, reference llm_anomaly_detector.py:41-175,
    447-511; VERDICT r3 task 6).

    Base score = the same in-query-trained bigram LM as perplexity_scores
    (hash-green).  Dynamic-encoding tier: the context column here is
    ``nullif(lang, 'en')`` — a derived stand-in for a sometimes-null
    context column (the synthetic corpus has none natively) — so non-en
    rows exercise the present-context branch (score × 1.1) and en rows the
    absent one, per the reference's non-null gate.  Prototype tier on:
    × 1.05.  In-context tier: max cosine between the doc's word-md5
    bucket-count vector and two few-shot examples; sim < 0.30
    SHORT-CIRCUITS with LLM_IN_CONTEXT_ANOMALY and probability 1 − sim,
    else score > 4.2 → HIGH_PERPLEXITY with probability
    min(score/10, 1)."""
    from .operators.llm_tiers import (
        dynamic_context_flag,
        enhanced_score,
        fewshot_max_cosine,
        llm_tier_finding,
    )
    from .operators.perplexity import perplexity_column, train_ngram_distributed

    d = _read(spark, sf_dir, "documents")
    models = train_ngram_distributed(
        d.filter(F.col("n_chars") >= 300), order=2, max_vocab=1_000_000
    )
    base = F.round(
        perplexity_column(spark, models, F.col("text"), F.col("lang")), 6
    )
    dyn = dynamic_context_flag(
        context_cols=[F.nullif(F.col("lang"), F.lit("en"))]
    )
    enh = F.round(enhanced_score(base, dynamic=dyn, prototype=True), 6)
    sim = F.round(fewshot_max_cosine(spark, list(ICL_EXAMPLES), F.col("text")), 6)
    finding = llm_tier_finding(
        enh, threshold=LLM_TIER_THRESHOLD, icl_sim=sim, icl_threshold=ICL_THRESHOLD
    )
    return d.select(
        "doc_id",
        enh.alias("score_enh"),
        sim.alias("icl_sim"),
        finding["code"].alias("code"),
        F.round(finding["probability"], 6).alias("probability"),
    )


def _icl_examples_values_sql() -> str:
    rows = ", ".join(
        f"({i + 1}, '{t}')" for i, t in enumerate(ICL_EXAMPLES)
    )
    return f"(VALUES {rows}) AS _ex(eid, etext)"


SQL_LLM_TIER_VERDICT = f"""
WITH {_SQL_PPL_CTES},
base AS (
  SELECT d.doc_id, d.text, d.lang, round(s.ppl, 6) AS ppl
  FROM documents d
  LEFT JOIN (SELECT doc_id, sum(nll) / any_value(n_toks) AS ppl
             FROM tok GROUP BY doc_id) s ON s.doc_id = d.doc_id
), enh AS (
  SELECT doc_id,
         round((CASE WHEN nullif(lang, 'en') IS NOT NULL
                     THEN ppl * 1.1 ELSE ppl END) * 1.05, 6) AS score_enh
  FROM base
), ex AS (SELECT eid, etext FROM {_icl_examples_values_sql()}),
exb AS (
  SELECT eid, {_MD5_BUCKET_SQL.format(w="w")} AS b, count(*)::DOUBLE AS c
  FROM (SELECT eid, unnest({_PYWORDS_SQL.format(c="etext")}) AS w FROM ex)
  GROUP BY eid, b
), exn AS (SELECT eid, sqrt(sum(c * c)) AS nrm FROM exb GROUP BY eid),
docb AS (
  SELECT doc_id, {_MD5_BUCKET_SQL.format(w="w")} AS b, count(*)::DOUBLE AS c
  FROM (SELECT doc_id, unnest({_PYWORDS_SQL.format(c="text")}) AS w FROM documents)
  GROUP BY doc_id, b
), docn AS (SELECT doc_id, sqrt(sum(c * c)) AS nrm FROM docb GROUP BY doc_id),
dots AS (
  SELECT docb.doc_id, exb.eid, sum(docb.c * exb.c) AS dot
  FROM docb JOIN exb USING (b) GROUP BY docb.doc_id, exb.eid
), icl AS (
  SELECT docn.doc_id, round(max(coalesce(dots.dot, 0.0) / (docn.nrm * exn.nrm)), 6) AS sim
  FROM docn CROSS JOIN exn
  LEFT JOIN dots ON dots.doc_id = docn.doc_id AND dots.eid = exn.eid
  GROUP BY docn.doc_id
)
SELECT e.doc_id, e.score_enh, icl.sim AS icl_sim,
       CASE WHEN icl.sim < {ICL_THRESHOLD} THEN 'LLM_IN_CONTEXT_ANOMALY'
            WHEN e.score_enh > {LLM_TIER_THRESHOLD} THEN 'HIGH_PERPLEXITY' END AS code,
       round(CASE WHEN icl.sim < {ICL_THRESHOLD} THEN greatest(1.0 - icl.sim, 0.0)
                  WHEN e.score_enh > {LLM_TIER_THRESHOLD}
                       THEN least(e.score_enh / 10.0, 1.0) END, 6) AS probability
FROM enh e LEFT JOIN icl ON icl.doc_id = e.doc_id
"""


# ------------------------------------------------- context-window chunking

CHUNK_WORDS, CHUNK_OVERLAP = 64, 8


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (packing.chunk_documents): 64-word windows
    with 8-word overlap — one scan-local codegen stage (split → sequence
    of starts → posexplode → slice), zero shuffles, zero Python.  The
    oracle replays the start arithmetic with DuckDB range() and 1-based
    list slicing; hashing the chunk TEXT pins the exact word boundaries
    and overlap handling, not just counts."""
    from .operators.packing import chunk_documents

    d = _read(spark, sf_dir, "documents")
    return chunk_documents(d, "doc_id", chunk_words=CHUNK_WORDS, overlap=CHUNK_OVERLAP)


_CHUNK_STEP = CHUNK_WORDS - CHUNK_OVERLAP

SQL_CHUNK_DOCUMENTS = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(coalesce(text, ''), '{_WS_SQL}+'),
                     w -> w <> '') AS w
  FROM documents
), d AS (
  SELECT doc_id, w, len(w) AS n,
         greatest(len(w) - {CHUNK_OVERLAP} - 1, 0) AS bound
  FROM t WHERE len(w) > 0
), s AS (
  SELECT doc_id, w, n,
         unnest(range(0, bound - bound % {_CHUNK_STEP} + 1, {_CHUNK_STEP})) AS start
  FROM d
)
SELECT doc_id,
       (start // {_CHUNK_STEP})::INT AS chunk_id,
       start::INT AS start_word,
       len(w[start + 1 : start + {CHUNK_WORDS}])::INT AS n_words,
       array_to_string(w[start + 1 : start + {CHUNK_WORDS}], ' ') AS chunk_text
FROM s
"""


# ------------------------------------------------- semantic dedup (SemDeDup)

def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): coarse cells from the same
    deterministic seed centroids as ann_ivf (corpus vectors 100..107,
    L2-normalized — SQL-recomputable), then within-cell cosine pruning at
    0.9 with keep-first-by-id semantics.  The planted twin family from
    embedding_near_dup (cos ≈ 0.97 vs 0.51 max background) guarantees real
    semantic dups exist; twins that land in their original's cell are
    dropped, which is exactly SemDeDup's clustering-bounded recall."""
    import numpy as np

    from .operators.similarity import semantic_dedup

    # fan_out=False: per-vector work is one 8-centroid dot product; the wall
    # is the within-cell window, and the fan-out exchange only added task
    # overhead (A/B at sf1.0: 3.9 s with fan-out, 1.65 s without)
    e = _read(spark, sf_dir, "embeddings", fan_out=False)
    base = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    rot = F.concat(F.slice("embedding", 2, 1_000_000), F.slice("embedding", 1, 1))
    dup = base.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.zip_with("embedding", rot, lambda x, y: x + F.lit(0.25) * y).alias("embedding"),
    )
    seeds = (
        e.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 108))
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    cents = np.asarray([r["embedding"] for r in seeds], dtype="float64")
    cents = cents / np.clip(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12, None)
    return semantic_dedup(
        base.unionAll(dup), "vec_id", "embedding", cents, threshold=0.9, round_to=5
    )


SQL_SEMANTIC_DEDUP = """
WITH seeds AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings WHERE vec_id BETWEEN 100 AND 107
), base AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
), twin AS (
  SELECT vec_id + 100000 AS vec_id,
         list_transform(list_zip(v, list_concat(v[2:], [v[1]])),
                        t -> t[1] + 0.25 * t[2]) AS v
  FROM base WHERE vec_id < 40
), allv AS (
  SELECT * FROM base UNION ALL SELECT * FROM twin
), cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         list_transform(v, x -> x / greatest(sqrt(list_sum(list_transform(v, x -> x * x))), 1e-12)) AS cv
  FROM seeds
), assign AS (
  SELECT vec_id, v, cell FROM (
    SELECT a.vec_id, a.v, ct.cell,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY list_sum(list_transform(list_zip(a.v, ct.cv), p -> p[1] * p[2])) DESC,
                      ct.cell ASC) AS rn
    FROM allv a CROSS JOIN cent ct
  ) WHERE rn = 1
), pairs AS (
  SELECT b.vec_id AS vid,
         list_sum(list_transform(list_zip(a.v, b.v), t -> t[1] * t[2]))
         / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
          * sqrt(list_sum(list_transform(b.v, x -> x * x)))) AS cos
  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
), dup AS (
  SELECT vid, max(cos) AS dc FROM pairs WHERE cos >= 0.9 GROUP BY vid
)
SELECT m.vec_id, m.cell, round(dup.dc, 5) AS dup_cos,
       CASE WHEN dup.dc IS NULL THEN 1 ELSE 0 END AS keep
FROM assign m LEFT JOIN dup ON m.vec_id = dup.vid
"""


# ------------------------------------------- fuzzy (minhash) decontamination

def q_fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate eval-set decontamination (dedup.fuzzy_decontaminate):
    docs with doc_id < 10 play the benchmark; MinHash-LSH (4 seeded md5
    bands over 3-word shingles) proposes candidates, exact shingle-Jaccard
    ≥ 0.5 confirms.  Benchmark docs self-match at 1.0 (recall floor) and
    their near-dup family members surface below it; Jaccard is exact
    integer arithmetic so both engines agree bit-for-bit."""
    from .operators.dedup import fuzzy_decontaminate

    d = _read(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("bid"), "text"
    )
    return fuzzy_decontaminate(d, bench, "doc_id", "bid", n_bands=4, threshold=0.5)


SQL_FUZZY_DECONTAMINATION = f"""
WITH t AS (
  SELECT doc_id, {_WORDS_SQL.format(c="text")} AS words FROM documents
), sh AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS s FROM t
), bsh AS (
  SELECT doc_id AS bid, s FROM sh WHERE doc_id < 10
), csig0 AS (
  SELECT doc_id,
         min(md5('0' || s)) AS h0, min(md5('1' || s)) AS h1,
         min(md5('2' || s)) AS h2, min(md5('3' || s)) AS h3
  FROM sh GROUP BY doc_id
), csig AS (
  SELECT doc_id, 0 AS band, h0 AS sig FROM csig0
  UNION ALL SELECT doc_id, 1, h1 FROM csig0
  UNION ALL SELECT doc_id, 2, h2 FROM csig0
  UNION ALL SELECT doc_id, 3, h3 FROM csig0
), bsig AS (
  SELECT doc_id AS bid, band, sig FROM csig WHERE doc_id < 10
), hot AS (
  SELECT band, sig FROM csig GROUP BY band, sig HAVING count(*) > 5000
), cands AS (
  SELECT DISTINCT c.doc_id, b.bid
  FROM csig c JOIN bsig b ON c.band = b.band AND c.sig = b.sig
  WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.band = c.band AND h.sig = c.sig)
), inter AS (
  SELECT sh.doc_id, bsh.bid, count(*) AS i
  FROM sh JOIN bsh USING (s) JOIN cands ON cands.doc_id = sh.doc_id AND cands.bid = bsh.bid
  GROUP BY sh.doc_id, bsh.bid
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
)
SELECT i.doc_id, i.bid AS bench_id,
       round(i.i::DOUBLE / (sc.n + sb.n - i.i), 6) AS jaccard
FROM inter i JOIN sizes sc ON sc.doc_id = i.doc_id
             JOIN sizes sb ON sb.doc_id = i.bid
WHERE i.i::DOUBLE / (sc.n + sb.n - i.i) >= 0.5
"""


# ------------------------------------------- DSIR importance resampling

def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resample (sampling.dsir_sample): hashed unigram ∪
    bigram bucket LMs (md5 % 4096, add-0.5 smoothing) fit to the lang='en'
    target slice and the raw corpus; per-doc mean log-ratio + key-seeded
    Gumbel noise; top-100 by the ROUNDED score (ties → doc_id) so the
    distributed TakeOrdered and DuckDB's ORDER BY agree exactly."""
    from .operators.sampling import dsir_sample

    d = _read(spark, sf_dir, "documents")
    target = d.filter(F.col("lang") == "en")
    # the test-SF documents table is ONE parquet split — rebalance so the
    # per-feature hashing parallelizes (no-op semantics, see dsir_scores)
    return dsir_sample(d, target, "doc_id", n=100, seed=7, repartition_to=32)


_DSIR_FEATS_SQL = f"""
list_transform(
  list_concat(words, CASE WHEN len(words) >= 2
       THEN list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i+1])
       ELSE [] END),
  f -> (('0x' || substr(md5(f), 1, 8))::UBIGINT % 4096)::BIGINT)
"""

SQL_DSIR_SAMPLE = f"""
WITH t AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')), '{_WS_SQL}+'),
                     w -> w <> '') AS words
  FROM documents
), f AS (
  SELECT doc_id, lang, unnest({_DSIR_FEATS_SQL}) AS b FROM t
), tcnt AS (
  SELECT b, count(*) AS c FROM f WHERE lang = 'en' GROUP BY b
), rcnt AS (
  SELECT b, count(*) AS c FROM f GROUP BY b
), ttot AS (SELECT count(*) AS n FROM f WHERE lang = 'en'),
rtot AS (SELECT count(*) AS n FROM f),
ratio AS (
  SELECT coalesce(tc.b, rc.b) AS b,
         ln((coalesce(tc.c, 0) + 0.5) / (ttot.n + 0.5 * 4096))
         - ln((coalesce(rc.c, 0) + 0.5) / (rtot.n + 0.5 * 4096)) AS r
  FROM tcnt tc FULL JOIN rcnt rc ON tc.b = rc.b, ttot, rtot
), per_doc AS (
  SELECT t.doc_id,
         coalesce(sum(ratio.r) / count(f.b), 0.0) AS avg_lr
  FROM t LEFT JOIN f ON t.doc_id = f.doc_id
         LEFT JOIN ratio ON f.b = ratio.b
  GROUP BY t.doc_id
), gumbel AS (
  SELECT doc_id, avg_lr,
         -ln(-ln(((('0x' || substr(md5('7:' || doc_id::VARCHAR), 1, 8))::UBIGINT)::DOUBLE + 0.5)
                 / 4294967296.0)) AS g
  FROM per_doc
), scored AS (
  SELECT doc_id, round(avg_lr + g, 6) AS score FROM gumbel
)
SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
FROM scored ORDER BY score DESC, doc_id ASC LIMIT 100
"""


# ---------------------------------------------------------------- registry

QUERIES = {
    # Order matters: the driver caps its per-round battery at 50 queries,
    # so ordering ROTATES coverage round-by-round (VERDICT r3 task 3 /
    # r4 task 3 / r5 item 1): the longest-unchecked queries go FIRST, so
    # no query's latest green driver row is ever more than two rounds old.
    #
    # Tier 1 (the 31 queries whose latest driver row is r4 — they sat in
    # positions 51-81 of the r5 registry): first in line this round.
    "semantic_dedup": q_semantic_dedup,
    "centroid_similarity": q_centroid_similarity,
    "corpus_mixture": q_corpus_mixture,
    "dedup_exact": q_dedup_exact,
    "similarity_topk": q_similarity_topk,
    "keyword_check": q_keyword_check,
    "lang_distribution": q_lang_distribution,
    "sequence_packing": q_sequence_packing,
    "sample_stratified": q_sample_stratified,
    "quality_score": q_quality_score,
    "profile_quantiles": q_profile_quantiles,
    "events_hourly": q_events_hourly,
    "events_sessionize": q_events_sessionize,
    "window_running_sum": q_window_running_sum,
    "events_rollup": q_events_rollup,
    "events_json": q_events_json,
    "topk_per_group": q_topk_per_group,
    "profile_stats": q_profile_stats,
    "token_bpeish": q_token_bpeish,
    "fingerprint": q_fingerprint,
    "lang_heuristic": q_lang_heuristic,
    "tpch_q6": q_tpch_q6,
    "tpch_q1": q_tpch_q1,
    "revenue_by_nation": q_revenue_by_nation,
    "ann_ivf": q_ann_ivf,
    "link_edges": q_link_edges,
    "anchor_terms": q_anchor_terms,
    "url_canonical": q_url_canonical,
    "noindex_pages": q_noindex_pages,
    "fuzzy_decontamination": q_fuzzy_decontamination,
    "decontamination": q_decontamination,
    # Tier 2: green in the r5 driver battery.
    "dedup_minhash": q_dedup_minhash,
    "dedup_jaccard": q_dedup_jaccard,
    "dedup_simhash": q_dedup_simhash,
    "dedup_clusters": q_dedup_clusters,
    "dedup_substring": q_dedup_substring,
    "line_dedup": q_line_dedup,
    "multifield_cells": q_multifield_cells,
    "shuffled_shards": q_shuffled_shards,
    "pack_texts": q_pack_texts,
    "pack_token_ids": q_pack_token_ids,
    "chunk_documents": q_chunk_documents,
    "sequence_packing_bpe": q_sequence_packing_bpe,
    "tfidf_terms": q_tfidf_terms,
    "rule_firsthit": q_rule_firsthit,
    "rule_fire_counts": q_rule_fire_counts,
    "pattern_lang": q_pattern_lang,
    "scrub_pii": q_scrub_pii,
    "extract_text": q_extract_text,
    "normalize_unicode": q_normalize_unicode,
    "token_stats": q_token_stats,
    "repetition_stats": q_repetition_stats,
    "multimodal_meta": q_multimodal_meta,
    "weighted_combine": q_weighted_combine,
    "threshold_curve": q_threshold_curve,
    "confusion_matrix": q_confusion_matrix,
    "score_histogram": q_score_histogram,
    "skew_salted_stats": q_skew_salted_stats,
    "profile_value_counts": q_profile_value_counts,
    "gopher_rules": q_gopher_rules,
    "c4_clean": q_c4_clean,
    "gopher_repetition": q_gopher_repetition,
    "perplexity_scores": q_perplexity_scores,
    "perplexity_trigram": q_perplexity_trigram,
    "perplexity_buckets": q_perplexity_buckets,
    "hp_sweep": q_hp_sweep,
    "hp_sweep_ml": q_hp_sweep_ml,
    "contamination_stats": q_contamination_stats,
    "llm_tier_verdict": q_llm_tier_verdict,
    "pipeline_verdict": q_pipeline_verdict,
    "pipeline_verdict_full": q_pipeline_verdict_full,
    "pipeline_rules_verdict": q_pipeline_rules_verdict,
    "langid_scores": q_langid_scores,
    "quality_model_scores": q_quality_model_scores,
    "dsir_sample": q_dsir_sample,
    "dedup_keep_best": q_dedup_keep_best,
    "decontamination_bloom": q_decontamination_bloom,
    "audio_features": q_audio_features,
    "host_pagerank": q_host_pagerank,
    "host_quality": q_host_quality,
    "embedding_near_dup": q_embedding_near_dup,
}

ORACLES = {
    "rule_firsthit": SQL_RULE_FIRSTHIT,
    "rule_fire_counts": SQL_RULE_FIRE_COUNTS,
    "keyword_check": SQL_KEYWORD_CHECK,
    "pattern_lang": SQL_PATTERN_LANG,
    "lang_distribution": SQL_LANG_DISTRIBUTION,
    "scrub_pii": SQL_SCRUB_PII,
    "profile_value_counts": SQL_PROFILE_VALUE_COUNTS,
    "profile_stats": SQL_PROFILE_STATS,
    "profile_quantiles": SQL_PROFILE_QUANTILES,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_minhash": SQL_DEDUP_MINHASH,
    "dedup_jaccard": SQL_DEDUP_JACCARD,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "dedup_substring": SQL_DEDUP_SUBSTRING,
    "line_dedup": SQL_LINE_DEDUP,
    "normalize_unicode": SQL_NORMALIZE_UNICODE,
    "decontamination": SQL_DECONTAMINATION,
    "decontamination_bloom": SQL_DECONTAMINATION_BLOOM,
    "contamination_stats": SQL_CONTAMINATION_STATS,
    "similarity_topk": SQL_SIMILARITY_TOPK,
    "centroid_similarity": SQL_CENTROID_SIMILARITY,
    "token_stats": SQL_TOKEN_STATS,
    "repetition_stats": SQL_REPETITION_STATS,
    "gopher_rules": SQL_GOPHER_RULES,
    "c4_clean": SQL_C4_CLEAN,
    "dedup_keep_best": SQL_DEDUP_KEEP_BEST,
    "gopher_repetition": SQL_GOPHER_REPETITION,
    "sample_stratified": SQL_SAMPLE_STRATIFIED,
    "sequence_packing": SQL_SEQUENCE_PACKING,
    "sequence_packing_bpe": SQL_SEQUENCE_PACKING_BPE,
    "skew_salted_stats": SQL_SKEW_SALTED_STATS,
    "weighted_combine": SQL_WEIGHTED_COMBINE,
    "threshold_curve": SQL_THRESHOLD_CURVE,
    "confusion_matrix": SQL_CONFUSION_MATRIX,
    "pipeline_rules_verdict": SQL_PIPELINE_RULES_VERDICT,
    "pipeline_verdict_full": SQL_PIPELINE_VERDICT_FULL,
    "lang_heuristic": SQL_LANG_HEURISTIC,
    "quality_score": SQL_QUALITY_SCORE,
    "score_histogram": SQL_SCORE_HISTOGRAM,
    "fingerprint": SQL_FINGERPRINT,
    "extract_text": SQL_EXTRACT_TEXT,
    "token_bpeish": SQL_TOKEN_BPEISH,
    "events_hourly": SQL_EVENTS_HOURLY,
    "events_sessionize": SQL_EVENTS_SESSIONIZE,
    "events_rollup": SQL_EVENTS_ROLLUP,
    "events_json": SQL_EVENTS_JSON,
    "window_running_sum": SQL_WINDOW_RUNNING_SUM,
    "topk_per_group": SQL_TOPK_PER_GROUP,
    "tpch_q6": SQL_TPCH_Q6,
    "tpch_q1": SQL_TPCH_Q1,
    "revenue_by_nation": SQL_REVENUE_BY_NATION,
    "langid_scores": SQL_LANGID_SCORES,
    "perplexity_scores": SQL_PERPLEXITY_SCORES,
    "perplexity_buckets": SQL_PERPLEXITY_BUCKETS,
    "hp_sweep": SQL_HP_SWEEP,
    "hp_sweep_ml": SQL_HP_SWEEP_ML,
    "url_canonical": SQL_URL_CANONICAL,
    "host_pagerank": SQL_HOST_PAGERANK,
    "host_quality": SQL_HOST_QUALITY,
    "link_edges": SQL_LINK_EDGES,
    "shuffled_shards": SQL_SHUFFLED_SHARDS,
    "pack_texts": SQL_PACK_TEXTS,
    "noindex_pages": SQL_NOINDEX_PAGES,
    "corpus_mixture": SQL_CORPUS_MIXTURE,
    "semantic_dedup": SQL_SEMANTIC_DEDUP,
    "fuzzy_decontamination": SQL_FUZZY_DECONTAMINATION,
    "dsir_sample": SQL_DSIR_SAMPLE,
    "pack_token_ids": SQL_PACK_TOKEN_IDS,
    "chunk_documents": SQL_CHUNK_DOCUMENTS,
    "perplexity_trigram": SQL_PERPLEXITY_TRIGRAM,
    "llm_tier_verdict": SQL_LLM_TIER_VERDICT,
    "anchor_terms": SQL_ANCHOR_TERMS,
    "tfidf_terms": SQL_TFIDF_TERMS,
    "quality_model_scores": SQL_QUALITY_MODEL_SCORES,
    "embedding_near_dup": SQL_EMBEDDING_NEAR_DUP,
    "multimodal_meta": SQL_MULTIMODAL_META,
    "audio_features": SQL_AUDIO_FEATURES,
    "dedup_simhash": SQL_DEDUP_SIMHASH,
    "ann_ivf": SQL_ANN_IVF,
    "multifield_cells": SQL_MULTIFIELD_CELLS,
    # pipeline_verdict: the full-model flagship composes the artifact-backed
    # char-n-gram scorers (not SQL-expressible) → rows-only check; its
    # rules-only projection (pipeline_rules_verdict) and all three scorer
    # families (langid/quality/perplexity, above) are fully oracled.
}
