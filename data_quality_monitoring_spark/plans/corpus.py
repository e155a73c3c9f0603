"""End-to-end training-corpus build: filter → dedup → cluster → sample.

The complete path a 100-TB web-text corpus takes through this engine,
composed from the individually-tested operators:

1. ``pipeline.filter_stage`` — the filter job's keep decision and
   scrubbed text (shuffle-free scan stage),
2. exact dedup on the scrubbed bytes (one groupBy on a 128-bit hash),
3. near-dup removal: MinHash signatures → LSH band candidates → exact
   Jaccard verify → keep-one (connected components, each keeps its
   min-key doc) — `operators/dedup.py` end to end, in the one core
   ``_near_dup`` that ``incremental_dedup`` runs with a signature store;
   every join is an equi-join on a bucket or pair key, never all-pairs;
   each doc is shingled once,
4. optional deterministic stratified down-sampling per language
   (`operators/sampling.py` — idempotent md5-bucket gate).

Scale notes: stages 1–2 touch every doc; stage 3's joins run on the pair
list (orders of magnitude smaller); stage 4 is another scan-local gate.
The output co-exists with ``sources/manifest.PartitionedSink`` for
bucket-committed, resumable writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    near_dup_losers,
    signature_prefilter,
    verify_shingle_sets,
)
from ..operators.sampling import stratified_sample
from ..session import path_exists
from .pipeline import filter_stage

SIG_COLS = [f"h{i}" for i in range(8)]


def _near_dup(
    docs: DataFrame,
    store: DataFrame | None,
    jaccard_threshold: float,
    max_bucket: int,
    min_est_jaccard: float | None,
    keep_best: bool,
) -> tuple[DataFrame, int, DataFrame, DataFrame]:
    """Stages 2–3 over ``docs`` (url, text_scrubbed, …) → (deduped, its
    count, sig, losers): the cached exact keep-one, its cached signatures
    minus the docs whose ``content_hash`` is in ``store`` (the signature
    store or None; with a store ``docs`` carry that column), and the urls
    to drop (not distinct).  ``store`` is also the stored side of banding,
    the optional prefilter and the verify; without one nothing store-only
    runs.  ``keep_best`` keeps each cluster's best ``quality_score``."""
    deduped = exact_dedup(docs, "url", "text_scrubbed").persist()
    n_exact = deduped.count()

    # persisted: banding, the prefilter and the verify's shingle sets all
    # read it, so the shingle UDF runs once per doc
    sig = minhash_signatures(deduped, "url", "text_scrubbed")
    if store is None:
        known = sig = sig.persist()
    else:
        sig = sig.join(store.select("content_hash"), "content_hash", "left_anti").persist()
        cols = ["url", "shingles", *SIG_COLS]
        known = sig.select(cols).unionByName(store.select(cols))
    cand = lsh_candidate_pairs(sig, "url", max_bucket=max_bucket, store=store)
    if min_est_jaccard is not None:
        cand = signature_prefilter(known, cand, "url", min_est=min_est_jaccard)
    sets = known.select(F.col("url").alias("_k"), F.col("shingles").alias("_s"))
    pairs = verify_shingle_sets(cand, sets, jaccard_threshold)
    scores = None
    if keep_best:
        from ..operators.textstats import quality_score_df

        # staged form: splits the text 2x total, not once per signal
        scores = quality_score_df(deduped, "text_scrubbed", out_col="_q").select("url", "_q")
    return deduped, n_exact, sig, near_dup_losers(pairs, "url", scores)


def build_corpus(
    spark: SparkSession,
    pages: DataFrame,
    jaccard_threshold: float = 0.7,
    sample_rates: dict[str, float] | None = None,
    default_rate: float = 1.0,
    min_est_jaccard: float | None = None,
    keep_best: bool = False,
    **filter_kwargs,
) -> tuple[DataFrame, dict]:
    """Returns (corpus_df[url, lang, text_scrubbed], stage-counts dict).

    ``filter_kwargs`` go to ``pipeline.filter_stage``, so every filter
    flag means what it means in filter mode.

    Stage counts come from the cached intermediates the next stage consumes
    (docs_in is a parquet metadata count — no data scan).  Without
    ``sample_rates``, ``final`` is ``after_exact_dedup`` minus the count of
    near-dup losers: the url is the doc key and each loser is one
    ``deduped`` row, so this equals the corpus row count without running
    the anti-join that the caller's write runs anyway.  With
    ``sample_rates`` it is the sampled corpus's count.

    ``min_est_jaccard`` (opt-in) inserts the minhash-agreement prefilter
    between banding and exact verify — the guard for low-entropy corpora
    where banding false-positive pairs grow superlinearly (see
    operators/dedup.signature_prefilter for the recall math).

    ``keep_best`` (opt-in) switches near-dup cluster retention from
    keep-min-key to keep-highest-quality-score (NemoCurator/FineWeb
    policy; operators/dedup.component_keep_best, score =
    textstats.quality_score on the scrubbed text)."""
    kept = (
        filter_stage(spark, pages, **filter_kwargs)
        .filter(F.col("keep"))
        .select("url", "lang", "text_scrubbed")
        .persist()
    )
    n_kept = kept.count()  # materializes the cache for every later stage
    deduped, n_exact, _, losers = _near_dup(
        kept, None, jaccard_threshold, 500, min_est_jaccard, keep_best
    )
    kept.unpersist()  # deduped is materialized; nothing reads kept again
    uniq = deduped.join(losers, "url", "left_anti")

    # deduped and sig stay cached: the returned plan reads deduped, and sig
    # too when the components took the iterative path (caller unpersists
    # via corpus.sparkSession.catalog.clearCache() or after the final write)
    if sample_rates is None:  # losers ⊆ deduped, one row per node
        corpus, n_final = uniq, n_exact - losers.count()
    else:
        corpus = stratified_sample(uniq, "url", "lang", sample_rates, default_rate)
        n_final = corpus.count()
    return corpus, {
        "docs_in": pages.count(),
        "kept": n_kept,
        "after_exact_dedup": n_exact,
        "final": n_final,
    }


def incremental_dedup(
    spark: SparkSession,
    new_docs: DataFrame,
    sig_store: str,
    jaccard_threshold: float = 0.7,
    max_bucket: int = 500,
    accepted_writer=None,
    min_est_jaccard: float | None = None,
    keep_best: bool = False,
) -> tuple[DataFrame, dict]:
    """Dedup a NEW batch against an existing corpus without touching the
    old data: the production shape for incremental crawls (a new
    Common-Crawl dump lands monthly; re-running all-pairs over the whole
    history would be quadratic in dumps).  ``new_docs`` are the filter
    job's kept rows, keyed by ``url`` with their ``text_scrubbed``.

    ``sig_store`` is a parquet dir of the accepted corpus's per-doc
    features: 8 minhashes, the 128-bit content hash, and the xxhash64'd
    shingle set.  Per batch, ``build_corpus``'s near-dup core with the
    store (``_near_dup``):

    0. within-batch exact keep-one (min key per content — so the very
       FIRST batch already dedups internally),
    1. drop new docs whose exact content hash exists in the store,
    2. LSH band candidates from ``dedup.lsh_candidate_pairs`` with the
       store as its stored side: the NEW side is always on the left of
       the join, old×old pairs never enumerate, so batch cost is
       O(batch × bucket occupancy), not O(corpus); ``max_bucket`` caps
       the band buckets of store + batch together,
    3. the optional prefilter (``min_est_jaccard``), then exact Jaccard
       over the stored shingle-hash sets (8-byte hashes, never old text),
    4. ``dedup.near_dup_losers``: a new doc with ANY old verified partner
       loses; new×new pairs go through connected components and each
       component keeps its min key (best ``quality_score`` with
       ``keep_best``) — with an empty store, ``build_corpus``'s rule,
    5. ``accepted_writer(accepted_docs)`` (if given) runs BEFORE the
       signature append, so a crash between the two re-runs cleanly —
       appending signatures first would make a re-run see the batch's own
       rows as pre-existing dups and silently lose it.  The writer should
       be idempotent per batch (e.g. overwrite a batch-id partition).

    Features come from ``dedup.minhash_signatures`` (one shingle-UDF call
    per doc), cached after the store anti-join.  Docs with fewer than 3
    words have NULL hashes: they never band, but still flow through exact
    dedup, acceptance and the store.

    Size note: the store carries per-doc shingle-hash arrays (~8 B per
    distinct shingle, comparable to the text itself) because exact-Jaccard
    verification needs both sides' sets.  At extreme scale, either accept
    band-level candidates without verification (store shrinks to the 8
    minhashes + content hash per doc) or keep the old corpus readable by
    key and join text on demand — the candidate-generation shape is the
    same in all three configurations.

    Returns (accepted_new_docs, stats).
    """
    n_in = new_docs.count()
    sig_store = str(sig_store)
    old = spark.read.parquet(sig_store) if path_exists(spark, sig_store) else None
    deduped, _, sig, losers = _near_dup(
        new_docs.withColumn("content_hash", F.md5(F.col("text_scrubbed"))), old,
        jaccard_threshold, max_bucket, min_est_jaccard, keep_best,
    )

    # MATERIALIZE (lineage-truncating) before mutating the store: the plan
    # reads sig_store, and appending to it then lazily re-evaluating would
    # make the batch's own signatures look like pre-existing dups and
    # silently drop every accepted doc (a persist() is NOT enough — an
    # unpersist or executor eviction re-runs the plan against the mutated
    # input).  At cluster scale this would be a write to a staging table;
    # localCheckpoint is the single-app equivalent.
    accepted_sig = sig.join(losers, "url", "left_anti").localCheckpoint(eager=True)
    sig.unpersist()  # nothing reads the batch features after the append

    n_accepted = accepted_sig.count()
    accepted = deduped.drop("content_hash").join(accepted_sig.select("url"), "url", "left_semi")
    if accepted_writer is not None:  # corpus lands before the store moves
        accepted_writer(accepted)
    accepted_sig.select("url", *SIG_COLS, "content_hash", "shingles").write.mode(
        "append"
    ).parquet(sig_store)
    deduped.unpersist()  # a later read of accepted re-runs new_docs, never the store
    return accepted, {"batch_in": n_in, "accepted": n_accepted, "dropped": n_in - n_accepted}
