"""Seeded benchmark inputs, built from cached blocks of generated pages.

``datagen.make_page`` is a pure function of the doc id.  Pages are made in
fixed blocks of consecutive ids, each written once per checkout to
``blocks/`` together with its oracle labels.  A seed picks which blocks of a
small universe make up its input (``rng(seed).choice``), so the same seed
always yields byte-identical inputs, different seeds yield different
inputs, and after the first few runs no page is generated twice: making
pages and labelling them costs more than the jobs being measured.

* ``crawl`` - raw-crawl pages for ``crawl_filter``: ``html`` set, ``text``
  NULL, one parquet file per block.  Truth: doc count, input bytes, and the
  oracle's ``keep`` and ``text_scrubbed`` for a deterministic url sample.
* ``dedup`` - text pages for ``corpus_dedup``: the originals of the chosen
  blocks plus planted exact copies and near-duplicates of them, shuffled
  into ``N_FILES`` parquet files.  Truth: the expected ``build_corpus``
  stage counts.  A near-duplicate appends one word (picked by the source's
  doc id) to its source, which adds exactly one 3-word shingle: Jaccard
  n/(n+1) >= 0.99 for the long sources chosen, far above the 0.7 verify
  bar, and all four LSH bands differ with probability below 1e-5 per pair.
  Its oracle label is made with the source's block, so building an input
  from cached blocks labels nothing.

A block or an input directory is complete only once its ``.json`` file
exists (written last, by rename).
"""

from __future__ import annotations

import json
import os
import shutil
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from data_quality_monitoring_spark.datagen import LANGS, WORDS, make_page
from data_quality_monitoring_spark.operators.extract import html_to_text_py

# make_page's one-page-a-minute timestamps overflow pandas' ns range past
# ~1.2e8 ids; every range below stays far under that
CRAWL_BASE = 1_000_000
TEXT_BASE = 2_000_000
UNIVERSE = 1.5  # a seed picks its blocks from 1.5x as many

N_FILES = 16
CRAWL_SAMPLE_MOD = 37  # oracle-checked url sample: doc_id % 37 == 0
COPY_FRAC = 0.35  # share of dedup docs that are planted copies
MIN_SOURCE_WORDS = 120  # near-dup sources: Jaccard n/(n+1) >= 0.99

_ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def _write_part(path: str, pages: pd.DataFrame | list[dict]) -> int:
    table = pa.Table.from_pandas(
        pd.DataFrame(pages, columns=_ARROW_SCHEMA.names),
        schema=_ARROW_SCHEMA,
        preserve_index=False,
    )
    pq.write_table(table, path)
    return os.path.getsize(path)


def _write_json(path: Path, obj: dict) -> dict:
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(obj, sort_keys=True))
    os.replace(tmp, path)
    return obj


def _read_json(path: Path) -> dict | None:
    try:
        return json.loads(path.read_text())
    except (OSError, ValueError):
        return None


def _oracle(pages: pd.DataFrame) -> pd.DataFrame:
    from data_quality_monitoring_spark.oracle import label_pages
    from data_quality_monitoring_spark.plans.pipeline import (
        default_pattern_cfg,
        default_rules,
    )

    return label_pages(pages, default_rules(), default_pattern_cfg())


def _pool() -> ProcessPoolExecutor:
    return ProcessPoolExecutor(max_workers=min(4, os.cpu_count() or 1),
                               mp_context=get_context("spawn"))


# ------------------------------------------------------------------- blocks

def _crawl_block(stem: str, lo: int, hi: int) -> None:
    """Raw-crawl pages ``lo..hi`` plus the oracle labels of their sample."""
    pages = [make_page(i) for i in range(lo, hi)]
    sample = pd.DataFrame([p for i, p in zip(range(lo, hi), pages)
                           if i % CRAWL_SAMPLE_MOD == 0])
    # the job labels the text it extracts from html (trimmed, unlike the
    # whitespace-padded source text of some pages)
    sample["text"] = sample["html"].map(html_to_text_py)
    labels = _oracle(sample)
    for p in pages:
        p["text"] = None  # raw crawl: extraction fills it from html
    _write_part(stem + ".parquet", pages)
    _write_json(Path(stem + ".json"), {
        "sample": {r.url: [bool(r.keep), r.text_scrubbed]
                   for r in labels.itertuples(index=False)},
    })


def _is_source(text: str | None, lang: str) -> bool:
    return bool(text) and lang in LANGS and len(text.split()) >= MIN_SOURCE_WORDS


def _near_text(doc_id: int, text: str, lang: str) -> str:
    """The near duplicate of a source: one appended word, one new shingle."""
    words = WORDS[lang]
    return f"{text} {words[doc_id * 7919 % len(words)]}"


def _text_block(stem: str, lo: int, hi: int) -> None:
    """Text pages ``lo..hi`` (html NULL) plus the oracle labels of every
    page and of every source page's near duplicate."""
    pages = pd.DataFrame([make_page(i) for i in range(lo, hi)], columns=_ARROW_SCHEMA.names)
    pages["html"] = None  # text input: the corpus build never extracts
    labels = _oracle(pages)
    src = [k for k in range(len(pages)) if _is_source(pages["text"].iat[k], pages["lang"].iat[k])]
    near = pages.iloc[src].copy()
    near["text"] = [_near_text(lo + k, pages["text"].iat[k], pages["lang"].iat[k]) for k in src]
    near_labels = _oracle(near)
    _write_part(stem + ".parquet", pages)
    _write_json(Path(stem + ".json"), {
        "keep": [bool(k) for k in labels["keep"]],
        "text_scrubbed": labels["text_scrubbed"].tolist(),
        "near": {str(k): [bool(r.keep), r.text_scrubbed]
                 for k, r in zip(src, near_labels.itertuples(index=False))},
    })


_BLOCK_MAKERS = {"crawl": (_crawl_block, CRAWL_BASE), "text": (_text_block, TEXT_BASE)}


def _blocks(root: Path, kind: str, seed: int, n_blocks: int, size: int) -> list[str]:
    """The seed's ``n_blocks`` blocks of ``size`` ids (sorted stems), each
    made now unless an earlier run already made it."""
    universe = int(n_blocks * UNIVERSE)
    chosen = sorted(np.random.default_rng(seed).choice(universe, n_blocks, replace=False))
    make, base = _BLOCK_MAKERS[kind]
    (root / "blocks").mkdir(parents=True, exist_ok=True)
    stems = [str(root / "blocks" / f"{kind}-{size}-{b:03d}") for b in chosen]
    todo = [(s, base + b * size) for s, b in zip(stems, chosen)
            if _read_json(Path(s + ".json")) is None]
    if todo:
        with _pool() as pool:
            for f in [pool.submit(make, s, lo, lo + size) for s, lo in todo]:
                f.result()
    return stems


def _fresh_input(root: Path, name: str) -> tuple[Path, dict | None]:
    out = root / name
    truth = _read_json(out / "truth.json")
    if truth is None:
        shutil.rmtree(out, ignore_errors=True)
        (out / "pages").mkdir(parents=True)
    return out, truth


# ------------------------------------------------------------------- inputs

def crawl_input(root: Path, seed: int, n_docs: int) -> tuple[Path, dict]:
    """Raw-crawl pages (text NULL) in ``N_FILES`` parquet files."""
    size = -(-n_docs // N_FILES)
    out, truth = _fresh_input(root, f"crawl-s{seed}-n{n_docs}")
    if truth is not None:
        return out / "pages", truth
    sample, n_bytes = {}, 0
    for k, stem in enumerate(_blocks(root, "crawl", seed, N_FILES, size)):
        dst = out / "pages" / f"part-{k:03d}.parquet"
        shutil.copyfile(stem + ".parquet", dst)
        n_bytes += dst.stat().st_size
        sample.update(_read_json(Path(stem + ".json"))["sample"])
    return out / "pages", _write_json(
        out / "truth.json", {"docs": size * N_FILES, "input_bytes": n_bytes, "sample": sample}
    )


def _shingles(text: str, k: int = 3) -> set[str]:
    w = text.split()
    return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}


def _expected_counts(keep: list[bool], scrubbed: list[str | None],
                     near_edges: list[tuple[int, int]], threshold: float = 0.7) -> dict:
    """``build_corpus`` stage counts implied by the oracle's verdicts and
    the planted duplicate structure: exact dedup keeps one row per distinct
    scrubbed text, and near-dup clusters (planted edges whose ends are both
    kept, verified by exact shingle Jaccard) keep one row each."""
    kept_texts = {scrubbed[i] for i in range(len(keep)) if keep[i]}
    parent = {t: t for t in kept_texts}

    def find(t: str) -> str:
        while parent[t] != t:
            parent[t] = parent[parent[t]]
            t = parent[t]
        return t

    for c, s in near_edges:
        a, b = scrubbed[c], scrubbed[s]
        if not (keep[c] and keep[s]) or a == b:
            continue
        sa, sb = _shingles(a), _shingles(b)
        if sa and sb and len(sa & sb) / len(sa | sb) >= threshold:
            parent[find(a)] = find(b)
    return {
        "docs_in": len(keep),
        "kept": int(sum(keep)),
        "after_exact_dedup": len(kept_texts),
        "final": len({find(t) for t in kept_texts}),
    }


def dedup_input(root: Path, seed: int, n_docs: int) -> tuple[Path, dict]:
    """Duplicate-rich text pages in ``N_FILES`` parquet files."""
    out, truth = _fresh_input(root, f"dedup-s{seed}-n{n_docs}")
    if truth is not None:
        return out / "pages", truth
    n_copies = int(n_docs * COPY_FRAC)
    size = -(-(n_docs - n_copies) // N_FILES)
    stems = _blocks(root, "text", seed, N_FILES, size)
    pages = pd.concat([pd.read_parquet(s + ".parquet") for s in stems], ignore_index=True)
    keep, scrubbed, near = [], [], {}
    for b, stem in enumerate(stems):
        lab = _read_json(Path(stem + ".json"))
        near.update({b * size + int(k): v for k, v in lab["near"].items()})
        keep += lab["keep"]
        scrubbed += lab["text_scrubbed"]
    n_orig = len(pages)

    # copies of source pages: an exact copy shares its source's label
    # (labels depend on text and lang only), a near duplicate's label was
    # made with its block
    rng = np.random.default_rng(seed)
    texts, langs, urls = pages["text"].tolist(), pages["lang"].tolist(), pages["url"].tolist()
    sources = sorted(near)
    copies, near_edges = [], []
    for c in range(n_docs - n_orig):
        k = sources[int(rng.integers(len(sources)))]
        text, (k_keep, k_scrubbed) = texts[k], (keep[k], scrubbed[k])
        if c % 2:
            doc_id = int(urls[k].rsplit("/", 1)[1])
            text, (k_keep, k_scrubbed) = _near_text(doc_id, text, langs[k]), near[k]
            near_edges.append((n_orig + c, k))
        keep.append(k_keep)
        scrubbed.append(k_scrubbed)
        copies.append({
            "url": f"https://{urls[k].split('/')[2]}/copy/{TEXT_BASE + n_orig + c}",
            "warc_ts": pages["warc_ts"].iat[k] + pd.Timedelta(days=30),  # a later re-crawl
            "html": None,
            "text": text,
            "lang": langs[k],
        })
    counts = _expected_counts(keep, scrubbed, near_edges)

    # shuffle rows so copies are spread over files like a real crawl merge
    allp = pd.concat([pages, pd.DataFrame(copies)], ignore_index=True)
    allp = allp.iloc[rng.permutation(len(allp))].reset_index(drop=True)
    step = -(-len(allp) // N_FILES)
    n_bytes = sum(
        _write_part(str(out / "pages" / f"part-{k:03d}.parquet"), allp.iloc[a : a + step])
        for k, a in enumerate(range(0, len(allp), step))
    )
    return out / "pages", _write_json(
        out / "truth.json", {"docs": len(allp), "input_bytes": n_bytes, "counts": counts}
    )
