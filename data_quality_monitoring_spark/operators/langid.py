"""fastText-style language identification: hashed char-n-gram Naive Bayes.

Fills the reference's ML-detector slot (embedding-centroid cosine similarity,
``anomaly_detectors/ml_based/check_anomalies.py:98-151``) with the north
star's langid scorer.  Same contract as the reference detector:

* a per-document similarity-like score in [0,1] — here the model's posterior
  probability of the *claimed* language,
* anomaly iff ``score < threshold`` (reference default 0.6–0.7),
* score→probability mapping ``1 - score`` clamped to [0,1] (the reference's
  mapping at ``ml_anomaly_detector.py:144-152`` for the sim>=0 branch).

Execution model: the weight matrix (n_langs × n_buckets, float32) is tiny
(<1 MB), broadcast once, and scored inside one Arrow-batched pandas UDF —
the model loads zero times per task because it lives in the UDF closure via
the broadcast (mirrors the reference's class-level model cache,
``ml_anomaly_detector.py:63-108``, without the cache invalidation pain).

Everything is deterministic: training texts are seeded, feature hashing uses
crc32 (never Python's salted ``hash``), training is closed-form counting
(Naive Bayes), so retries/partitioning cannot change a verdict.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import BinaryIO

import numpy as np
import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

N_BUCKETS = 2**14
MISMATCH_THRESHOLD = 0.7  # claimed-language posterior below this is a finding
NGRAM_MIN, NGRAM_MAX = 1, 3

LANGID_RESULT = T.StructType(
    [
        T.StructField("pred_lang", T.StringType()),
        T.StructField("confidence", T.DoubleType()),  # posterior of pred_lang
        T.StructField("claimed_score", T.DoubleType()),  # posterior of claimed lang
    ]
)


_WS_RE = None  # compiled lazily so the module stays import-light on executors


def _word_buckets(text: str) -> np.ndarray:
    """SQL-reproducible word-level feature buckets: md5-prefix of each
    lowercased word, mod N_BUCKETS.

    This is the *contract* featurizer: DuckDB computes the identical bucket
    as ``('0x' || substr(md5(w), 1, 8))::UBIGINT % 16384``, which is what
    lets the langid / quality-model scorer queries be fully oracled
    (the same trick that oracle'd dedup_simhash).  The char-n-gram rolling
    hash stays the default scoring featurizer; it is pinned by goldens.
    Tokenization is the explicit ASCII-whitespace class (textstats._WS) so
    both engines split identically even on tab/CR-padded text.
    """
    import hashlib
    import re

    global _WS_RE
    if _WS_RE is None:
        _WS_RE = re.compile(r"[ \t\n\r\f\x0b]+")
    words = [w for w in _WS_RE.split(text.lower()) if w]
    return np.asarray(
        [int(hashlib.md5(w.encode("utf-8")).hexdigest()[:8], 16) % N_BUCKETS for w in words],
        dtype=np.int64,
    )


_FEATURIZERS = {"char": None, "word_md5": _word_buckets}  # char filled below


def _ngram_buckets(text: str) -> np.ndarray:
    """Stable hashed char n-gram ids for one document.

    Vectorised polynomial rolling hash over the UTF-8 bytes (numpy, no
    per-n-gram Python call): h(c1..cn) = Σ ci·31^(n−i) mod N_BUCKETS.
    Deterministic across platforms (pure integer arithmetic)."""
    s = " " + text.lower()[:2000] + " "  # cap per-doc work; plenty of signal
    b = np.frombuffer(s.encode("utf-8", "ignore"), dtype=np.uint8).astype(np.int64)
    if len(b) < 3:
        b = np.pad(b, (0, 3 - len(b)), constant_values=32)
    n1 = b
    n2 = b[:-1] * 31 + b[1:]
    n3 = b[:-2] * 961 + b[1:-1] * 31 + b[2:]
    return np.concatenate([n1, n2, n3]) % N_BUCKETS


_FEATURIZERS["char"] = _ngram_buckets


@dataclass
class LangIdModel:
    langs: list[str]
    log_probs: np.ndarray  # (L, B) — log P(bucket | lang), smoothed
    log_priors: np.ndarray  # (L,)
    feat: str = "char"  # featurizer key in _FEATURIZERS

    def score_batch(self, texts: pd.Series, claimed: pd.Series) -> pd.DataFrame:
        preds, confs, claimed_scores = [], [], []
        lang_idx = {l: i for i, l in enumerate(self.langs)}
        featurize = _FEATURIZERS[self.feat]
        for text, cl in zip(texts, claimed):
            if text is None or not isinstance(text, str) or text.strip() == "":
                preds.append(None)
                confs.append(None)
                claimed_scores.append(None)
                continue
            b = featurize(text)
            # sparse gather: a doc touches ~10³ of the 2¹⁴ buckets, so
            # lp[:, uniq] @ cnts moves ~6× less memory than a dense
            # bincount + full matvec — this is what makes the UDF scale
            # with cores instead of saturating memory bandwidth
            uniq, cnts = np.unique(b, return_counts=True)
            logp = self.log_priors + self.log_probs[:, uniq] @ cnts.astype(
                self.log_probs.dtype
            )
            logp -= logp.max()
            post = np.exp(logp)
            post /= post.sum()
            k = int(post.argmax())
            preds.append(self.langs[k])
            confs.append(float(post[k]))
            if cl is None or (isinstance(cl, float) and np.isnan(cl)):
                # raw-crawl ingestion: nothing claimed → nothing to
                # mismatch (finding skipped); pred_lang is still emitted
                # so the pipeline can adopt it
                claimed_scores.append(None)
            else:
                ci = lang_idx.get(cl)
                # a CLAIMED but untrained language scores 0.0 → flagged
                claimed_scores.append(float(post[ci]) if ci is not None else 0.0)
        return pd.DataFrame(
            {"pred_lang": preds, "confidence": confs, "claimed_score": claimed_scores}
        )

    def to_npz(self, path: str | BinaryIO) -> None:
        np.savez_compressed(
            path,
            langs=np.array(self.langs),
            log_probs=self.log_probs,
            log_priors=self.log_priors,
            feat=np.array(self.feat),
        )

    @classmethod
    def from_npz(cls, path: str | BinaryIO) -> "LangIdModel":
        z = np.load(path, allow_pickle=False)
        feat = str(z["feat"]) if "feat" in z.files else "char"
        return cls(list(z["langs"]), z["log_probs"], z["log_priors"], feat)


def train_langid(texts_by_lang: dict[str, list[str]]) -> LangIdModel:
    """Closed-form Naive Bayes over hashed char n-grams (deterministic),
    smoothing alpha 0.5, float32 weights."""
    featurize = _FEATURIZERS["char"]
    langs = sorted(texts_by_lang)
    counts = np.zeros((len(langs), N_BUCKETS), dtype=np.float64)
    n_docs = np.zeros(len(langs))
    for li, lang in enumerate(langs):
        for text in texts_by_lang[lang]:
            b = featurize(text)
            counts[li] += np.bincount(b, minlength=N_BUCKETS)
        n_docs[li] = max(len(texts_by_lang[lang]), 1)
    totals = counts.sum(axis=1, keepdims=True)
    log_probs = np.log(counts + 0.5) - np.log(totals + 0.5 * N_BUCKETS)
    log_priors = np.log(n_docs / n_docs.sum())
    return LangIdModel(
        langs, log_probs.astype(np.float32), log_priors.astype(np.float32), "char"
    )


def train_langid_distributed(
    docs,
    lang_col: str = "lang",
    feat: str = "char",
    dtype=np.float32,
) -> LangIdModel:
    """Distributed closed-form NB training — the reference's ``ml-train``
    entry point (ml_based/model_training.py:134-267) as ONE Spark
    aggregation instead of a GPU fine-tune loop.

    NB training is just counting: explode each doc's hashed n-gram buckets
    (same ``_ngram_buckets`` kernel the scorer uses, so train and serve
    can never skew) and groupBy (lang, bucket).  The shuffle carries
    (lang, bucket, count) partials — map-side combined, bounded by
    L × 16384 rows regardless of corpus size — and the driver folds them
    into the (L, B) matrix over ``docs.text`` with smoothing alpha 0.5.
    ``dtype=np.float64`` keeps the weights in doubles — required when a
    DuckDB oracle recomputes the same posteriors in SQL (float32 rounding
    is not reproducible relationally).  Bit-identical to
    :func:`train_langid` on the same corpus (asserted in
    tests/test_models.py)."""
    langs, counts, doc_counts = train_langid_counts(docs, lang_col=lang_col, feat=feat)
    totals = counts.sum(axis=1, keepdims=True)
    log_probs = np.log(counts + 0.5) - np.log(totals + 0.5 * N_BUCKETS)
    n_docs = np.array([max(doc_counts[lang], 1) for lang in langs], dtype=np.float64)
    log_priors = np.log(n_docs / n_docs.sum())
    return LangIdModel(langs, log_probs.astype(dtype), log_priors.astype(dtype), feat)


def train_langid_counts(
    docs,
    lang_col: str = "lang",
    feat: str = "char",
) -> tuple[list[str], np.ndarray, dict[str, int]]:
    """The distributed half of NB training over ``docs.text``: the
    HYPERPARAMETER-FREE sufficient statistics ``(langs, (L, B) float64 count
    matrix, per-lang doc counts)``.  ``train_langid_distributed`` folds the
    smoothing alpha in afterwards; the hyperparameter sweep (operators/hpo.py)
    folds K alphas into K models from this ONE aggregation instead of
    re-training per trial."""
    featurize = _FEATURIZERS[feat]

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def buckets(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: [] if t is None else featurize(t).astype("int32").tolist()
        )

    # rows with no language tag can't contribute to a per-lang model —
    # filter BEFORE aggregating (real web corpora always contain some)
    docs = docs.filter(F.col(lang_col).isNotNull())
    exploded = docs.select(
        F.col(lang_col).alias("lang"), F.explode(buckets(F.col("text"))).alias("bucket")
    )
    rows = exploded.groupBy("lang", "bucket").agg(F.count("*").alias("n")).collect()
    doc_counts = {
        r[lang_col]: r["n"]
        for r in docs.groupBy(lang_col).agg(F.count("*").alias("n")).collect()
    }
    langs = sorted(doc_counts)
    idx = {lang: i for i, lang in enumerate(langs)}
    counts = np.zeros((len(langs), N_BUCKETS), dtype=np.float64)
    for r in rows:
        counts[idx[r["lang"]], r["bucket"]] += r["n"]
    return langs, counts, doc_counts


def langid_struct(
    spark: SparkSession, model: LangIdModel, text: Column, claimed: Column
) -> Column:
    """Score (text, claimed_lang) → struct(pred_lang, confidence, claimed_score).

    One pandas UDF; weights travel as a Spark broadcast so a 1000-executor
    cluster ships them once per executor, not per task.
    """
    bc = spark.sparkContext.broadcast(
        (model.langs, model.log_probs, model.log_priors, model.feat)
    )

    @F.pandas_udf(LANGID_RESULT)
    def _score(texts: pd.Series, claims: pd.Series) -> pd.DataFrame:
        langs, lp, pri, feat = bc.value
        m = LangIdModel(list(langs), lp, pri, feat)
        return m.score_batch(texts, claims)

    return _score(text, claimed)


def langid_finding(result: Column) -> Column:
    """Map the scorer output to a finding struct, reference ML semantics:
    anomaly iff claimed-language posterior < ``MISMATCH_THRESHOLD``; probability =
    1 - score (clamped)."""
    score = result["claimed_score"]
    prob = F.least(F.greatest(F.lit(1.0) - score, F.lit(0.0)), F.lit(0.99))
    return F.when(
        score.isNotNull() & (score < F.lit(MISMATCH_THRESHOLD)),
        F.struct(
            F.lit("langid_mismatch").alias("rule"),
            F.lit("LANG_MISMATCH").alias("code"),
            prob.alias("probability"),
        ),
    )
