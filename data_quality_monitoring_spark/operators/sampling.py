"""Deterministic stratified sampling — reproducible corpus down-sampling.

Every training-corpus build ends with "keep X% of language L / source S":
doing it with ``rand()`` makes reruns (and resumed runs) disagree, so the
sample gate here is a pure function of the ROW KEY: bucket =
int(md5(key)[:8], 16) % 1000, keep iff bucket < rate·1000.  Properties a
100-TB pipeline needs:

* **idempotent / resumable** — a re-run or a partition retry keeps exactly
  the same rows (no RNG state, no partition-index dependence),
* **nested samples** — rate 0.1 is a subset of rate 0.2 (bucket threshold),
  so growing a corpus keeps every previously selected doc,
* **no shuffle** — the gate is a scan-local Column expression,
* **portable** — md5 is reproducible in any engine (the DuckDB oracle runs
  the identical arithmetic), unlike xxhash64 whose seed differs per system.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import local_table

BUCKETS = 1000


def sample_bucket(key: Column) -> Column:
    """Deterministic 0..999 bucket from the row key (md5-derived)."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % BUCKETS


def sample_bucket_sql(key_expr: str) -> str:
    """The identical bucket in ANSI SQL (DuckDB oracle side)."""
    return f"(('0x' || substr(md5(CAST({key_expr} AS VARCHAR)), 1, 8))::UBIGINT % {BUCKETS})::BIGINT"


def stratified_sample(
    df: DataFrame,
    key: str,
    strata: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Keep each row iff its deterministic bucket clears its stratum's rate.

    ``rates`` is a small map (languages/sources); for thousands of strata
    switch the nested CASE to a broadcast-joined rates table — same gate,
    and it avoids deep when-chains (flat constructs keep Catalyst linear,
    see rules.first_hit)."""
    threshold = F.lit(int(default_rate * BUCKETS))
    for value, rate in sorted(rates.items()):
        threshold = F.when(F.col(strata) == value, int(rate * BUCKETS)).otherwise(
            threshold
        )
    return df.filter(sample_bucket(F.col(key)) < threshold)


def mixture_sample(
    docs: DataFrame,
    weights: DataFrame,
    token_budget: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Source-weighted token-budget corpus assembly over the ``source`` and
    ``n_tokens`` columns (the "data mixture" step: DoReMi/Pile-style static
    mixing).

    Each source gets ``token_budget · weight/Σweights`` tokens; documents
    are admitted in deterministic md5(key) order until their source's quota
    is reached (greedy prefix: a doc is kept iff the tokens *before* it are
    under quota, so quotas may overshoot by at most one document —
    the standard behaviour, and the one an independent engine can replay
    exactly).  Adds ``cum_tokens`` and the ``mix_keep`` flag.

    ``weights`` is a tiny (source, weight) DataFrame → broadcast; the only
    wide operation is the per-source running sum.  At 10^12 docs a global
    per-source sort is the wrong plan — the scale path is the two-pass
    variant of ``stratified_sample``: estimate tokens/bucket per source
    from a 0.1% md5-bucket sample, admit whole buckets below the estimated
    cutoff, and run this exact operator only on the single boundary bucket
    per source (~1/1000 of the data).  Same semantics, no global sort.
    """
    total = weights.agg(F.sum("weight").alias("_tw"))
    quotas = (
        weights.crossJoin(F.broadcast(total))
        .select(
            "source",
            (F.lit(float(token_budget)) * F.col("weight") / F.col("_tw")).alias(
                "_quota"
            ),
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col(id_col).cast("string")))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.join(F.broadcast(quotas), "source", "left")
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .withColumn(
            "mix_keep",
            (F.col("cum_tokens") - F.col("n_tokens"))
            < F.coalesce(F.col("_quota"), F.lit(0.0)),
        )
        .drop("_quota")
    )


# ---------------------------------------------------------------- DSIR

DSIR_BUCKETS = 4096
_WS_CLASS = "[ \\t\\n\\r\\f\\x0B]"


def dsir_features(text: Column) -> Column:
    """Hashed n-gram feature buckets (unigrams ∪ bigrams of lowercased
    whitespace tokens, md5 % DSIR_BUCKETS) — DSIR's bag-of-hashed-ngrams
    representation, expressed as a pure Column so the featurizer runs
    inside whole-stage codegen and any engine can replay it (md5 is the
    portable hash, as everywhere else in this repo)."""
    w = F.filter(
        F.split(F.lower(F.coalesce(text, F.lit(""))), _WS_CLASS + "+"),
        lambda x: x != "",
    )
    bi = F.when(
        F.size(w) >= 2,
        F.transform(
            F.slice(w, 1, F.size(w) - 1),
            lambda x, i: F.concat(x, F.lit(" "), F.element_at(w, i + F.lit(2))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.transform(
        F.concat(w, bi),
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
        % DSIR_BUCKETS,
    )


def dsir_scores(
    docs: DataFrame,
    target: DataFrame,
    key: str,
    repartition_to: int | None = None,
) -> DataFrame:
    """DSIR (Xie et al. 2023, arXiv:2302.03169): data selection via importance
    resampling.  Fit a hashed-ngram unigram-bucket language model
    (``DSIR_BUCKETS`` buckets, add-0.5 smoothing, over ``text``) to the TARGET
    distribution (the high-quality slice you want more of) and to the RAW
    corpus; each document's importance weight is its per-feature mean
    log-likelihood ratio  mean_f [log p_tgt(f) − log p_raw(f)].  Returns
    ``(key, n_features, avg_log_ratio)``.

    Scale shape: both count tables are ≤ DSIR_BUCKETS rows (add-λ smoothed),
    and the feature TOTALS are the sums of those tiny tables — no driver
    action, no extra corpus pass; the log-ratio lookup is re-broadcast and
    the corpus is scanned once for raw counts and once for scoring, the
    only per-doc shuffle being the map-side-combined groupBy on the doc
    key.  Every bucket a document can score came from the raw-count pass
    over the same corpus, so missing-bucket defaults never arise at
    scoring time (the add-λ zero-count branch only fires for the target
    side, inside the lookup itself).

    ``repartition_to`` (opt-in) rebalances the projected (key, text)
    columns before the per-feature hashing — the fix for SMALL single-file
    inputs whose scan yields one task (the hashing is the expensive stage
    and would run on one core).  Leave None on real cluster inputs: they
    arrive in thousands of splits and the extra text shuffle is waste."""
    if repartition_to:
        docs = docs.select(key, "text").repartition(repartition_to)
        target = target.select("text").repartition(repartition_to)
    feats = lambda df: df.select(  # noqa: E731
        F.explode(dsir_features(F.col("text"))).alias("_b")
    )
    lam = 0.5
    # the two count tables are ≤ DSIR_BUCKETS rows: persist them so the
    # totals' broadcasts and the ratio join don't re-run the feature scans
    ct = feats(target).groupBy("_b").agg(F.count("*").alias("_ct")).persist()
    cr = feats(docs).groupBy("_b").agg(F.count("*").alias("_cr")).persist()
    tot_t = ct.agg(F.sum("_ct").alias("_nt"))  # 1 row, from the 4096-row table
    tot_r = cr.agg(F.sum("_cr").alias("_nr"))
    # LEFT join from the raw side, target side broadcast: a full outer
    # here would fall back to sort-merge (BHJ can't do full outer), and
    # target-only buckets are dead rows anyway — every bucket a document
    # can score appears in cr by construction (see docstring)
    ratio = (
        cr.join(F.broadcast(ct), "_b", "left")
        .crossJoin(F.broadcast(tot_t))
        .crossJoin(F.broadcast(tot_r))
        .select(
            "_b",
            (
                F.log(
                    (F.coalesce(F.col("_ct"), F.lit(0)) + lam)
                    / (F.col("_nt") + lam * DSIR_BUCKETS)
                )
                - F.log(
                    (F.coalesce(F.col("_cr"), F.lit(0)) + lam)
                    / (F.col("_nr") + lam * DSIR_BUCKETS)
                )
            ).alias("_ratio"),
        )
    )
    per_doc = docs.select(
        F.col(key), F.explode_outer(dsir_features(F.col("text"))).alias("_b")
    )
    return (
        per_doc.join(F.broadcast(ratio), "_b", "left")
        .groupBy(key)
        .agg(
            F.count("_b").alias("n_features"),
            F.coalesce(
                F.sum("_ratio") / F.count("_b"), F.lit(0.0)
            ).alias("avg_log_ratio"),
        )
    )


def dsir_sample(
    docs: DataFrame,
    target: DataFrame,
    key: str,
    n: int,
    seed: int = 7,
    repartition_to: int | None = None,
) -> DataFrame:
    """Gumbel-top-k importance resample over :func:`dsir_scores` (the actual
    DSIR selection rule): score = avg_log_ratio + Gumbel noise, take the top
    ``n``.  Every Gumbel draw is a pure function of (seed, key) — u = (md5
    bucket + 0.5)/2^32, g = −ln(−ln u) — so the resample is deterministic,
    partitioning-invariant and nested-resumable like every other sampler here.
    Returns ``(key, score, rank)`` for the selected docs; rank is computed on
    the ROUNDED score (ties → lower key) so independent engines agree
    bit-for-bit."""
    s = dsir_scores(docs, target, key, repartition_to=repartition_to)
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(str(seed) + ":"), F.col(key).cast("string"))), 1, 8),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / F.lit(4294967296.0)
    scored = s.select(
        key, F.round(F.col("avg_log_ratio") - F.log(-F.log(u)), 6).alias("score")
    )
    # top-n as TakeOrdered (per-partition top-n then merge — no global
    # sort).  n is the scale ceiling of this operator: TakeOrdered merges
    # the n winners through one task, comfortable to ~10^7; for a larger
    # keep-set select by a score THRESHOLD (percentile_approx) instead of
    # by rank.
    top = scored.orderBy(F.desc("score"), F.asc(key)).limit(n)
    # Exact global ranks WITHOUT a global window (VERDICT r3 task 9):
    # range-partition the bounded top-n by the same total order (unique —
    # keys break score ties), row_number within each range, then add the
    # cumulative size of preceding ranges.  No WindowExec-over-one-
    # partition stage; ranks are partitioning-invariant by construction.
    spark = top.sparkSession
    nparts = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")) // 4, 2)
    parted = top.repartitionByRange(nparts, F.desc("score"), F.asc(key)).withColumn(
        "_pid", F.spark_partition_id()
    ).persist()
    sizes = {
        r["_pid"]: r["_n"]
        for r in parted.groupBy("_pid").agg(F.count("*").alias("_n")).collect()
    }  # ≤ nparts rows on the driver
    pids, offs, acc = sorted(sizes) or [0], [], 0
    for pid in pids:  # range partition ids follow the sort order
        offs.append(acc)
        acc += sizes.get(pid, 0)
    off_df = local_table(spark, {"_pid": pids, "_off": offs}, "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(F.desc("score"), F.asc(key))
    return (
        parted.join(F.broadcast(off_df), "_pid")
        .withColumn("rank", F.row_number().over(w) + F.col("_off"))
        .select(key, "score", "rank")
    )
