"""Deterministic model artifacts (langid weights, per-language bigram LMs).

The reference trains its ML/LLM detectors offline (sentence-transformer
triplets, ``ml_based/model_training.py:134-267``; MLM fine-tuning,
``llm_based/llm_model_training.py:163-314``) and caches loaded models at
class level.  Here training is closed-form counting over a *seeded* clean
corpus, so artifacts are reproducible byte-for-byte; they are cached
in-process and (optionally) as files.  At 100 TB scale these artifacts are
small broadcast variables (<1 MB langid matrix, ~100 kB per bigram LM) —
shipped once per executor.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from .datagen import LANGS, _clean_text
from .operators.langid import LangIdModel, train_langid
from .operators.perplexity import NgramLM, train_ngram

N_TRAIN_DOCS = 300


@lru_cache(maxsize=None)
def training_texts(lang: str, n: int = N_TRAIN_DOCS) -> tuple[str, ...]:
    """Seeded clean training corpus per language (disjoint seed space from
    datagen's per-doc_id seeds).  Cached: the langid model and the LMs train
    on the same texts, and generating them is most of their load time."""
    import zlib

    base = zlib.crc32(f"train:{lang}".encode())
    return tuple(
        _clean_text(np.random.default_rng((base * 100_003 + i) % (2**63)), lang)
        for i in range(n)
    )


@lru_cache(maxsize=1)
def get_langid_model() -> LangIdModel:
    return train_langid({lang: training_texts(lang) for lang in LANGS})


@lru_cache(maxsize=1)
def get_bigram_models() -> dict[str, NgramLM]:
    return {lang: train_ngram(training_texts(lang), 2) for lang in LANGS}


def junk_texts(n: int = N_TRAIN_DOCS) -> list[str]:
    """Seeded low-quality negatives in the corpus's documented junk modes
    (gibberish tokens, digit walls, boilerplate loops) — disjoint seed
    space from both datagen and the clean training corpus."""
    import zlib

    from .datagen import BOILERPLATE

    base = zlib.crc32(b"train:junk")
    out: list[str] = []
    alphabet = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    for i in range(n):
        rng = np.random.default_rng((base * 100_003 + i) % (2**63))
        mode = i % 3
        if mode == 0:
            toks = [
                "".join(rng.choice(alphabet, size=int(rng.integers(4, 12))))
                for _ in range(int(rng.integers(60, 120)))
            ]
            out.append(" ".join(toks))
        elif mode == 1:
            out.append(" ".join(str(int(rng.integers(0, 10**9))) for _ in range(50)))
        else:
            out.append(BOILERPLATE + " " + BOILERPLATE)
    return out


@lru_cache(maxsize=1)
def get_bpe_pieces() -> tuple[str, ...]:
    """Frozen BPE piece inventory trained on the seeded clean corpus (all
    languages) — the tokenizer-faithful counting tier for packing budgets.
    200 merges on the small seeded vocabulary leaves frequent words as
    single pieces and rare/junk words as multi-piece, which is the shape
    real subword vocabs have."""
    from .operators.bpe import train_bpe_pieces

    texts = [t for lang in LANGS for t in training_texts(lang, 50)]
    return tuple(train_bpe_pieces(texts, n_merges=200))


@lru_cache(maxsize=1)
def get_quality_model():
    """fastText-style binary quality classifier (operators/quality_model):
    positives = the clean multi-language corpus, negatives = junk_texts."""
    from .operators.quality_model import train_quality_classifier

    # balanced classes: len(LANGS) × per-lang == len(junk_texts()), so the
    # NB prior is exactly 50/50 and P(good)=0.5 means equal likelihoods
    good = [
        t for lang in LANGS for t in training_texts(lang, N_TRAIN_DOCS // len(LANGS))
    ]
    return train_quality_classifier(good, junk_texts(len(good)))


@lru_cache(maxsize=1)
def get_trigram_models() -> dict[str, NgramLM]:
    """Per-language trigram LMs from the same frozen seeded corpus — the
    opt-in higher-order LLM tier (`--llm-order 3`), passed to
    quality_filter as ``lm_models=``."""
    return {lang: train_ngram(training_texts(lang), 3) for lang in LANGS}
