"""Deduplication operators for a training-data pipeline.

Exact (hash-groupBy), MinHash+LSH (shingle→minhash→band→bucket), SimHash,
n-gram Jaccard and embedding-cosine near-dup — the dedup battery a 100-TB
web-text pipeline runs between filtering and training.  Design rules:

* candidate generation NEVER does an all-pairs join: LSH bands / simhash
  buckets / prefix families reduce to equi-joins on high-cardinality keys,
* everything is deterministic (md5 / polynomial hashes, no salted
  ``hash()``),
* verification (exact Jaccard / Hamming / cosine) runs only on candidates,
* one hot-key cap, :func:`drop_hot_keys`, bounds every capped bucket
  join (minhash-LSH bands, embedding tables, fuzzy decontamination
  bands, shingle document frequency),
* one MinHash, :func:`minhash_signatures`: per row, one shingle-UDF call,
* one near-dup pair join, :func:`bucket_pairs`: the capped bucket
  self-join of minhash-LSH bands and embedding tables, with an optional
  stored side for incremental dedup,
* one keep-one rule, :func:`near_dup_losers`, and one ExactSubstr
  dup-start rule: batch dedup is incremental dedup without a store.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_table, path_exists


def shingle_column(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles via an Arrow-batched pandas UDF.

    Measured at sf0.1 (5000 docs → 260k shingles, local[32]): native
    ``transform(sequence, i -> concat_ws(element_at...))`` takes 11.3 s (the
    higher-order-function lambda path is interpreted, not codegen'd), a
    posexplode+window-lead rewrite 3.9 s (pays a word-level shuffle), the
    pandas UDF 0.7 s.  This is the documented exception to "stay native":
    string kernels with per-row loops beat interpreted HOFs by >10×."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _sh(texts: pd.Series) -> pd.Series:
        def sh(t):
            if t is None:
                return []
            w = t.split()
            if len(w) < k:
                return []
            return list({" ".join(w[i : i + k]) for i in range(len(w) - k + 1)})

        return texts.map(sh)

    return _sh(text)


def exact_dedup(df: DataFrame, key: str, text_col: str = "text") -> DataFrame:
    """Keep the lowest-key representative of each exact-content group.

    Content hash groupBy — at scale a map-side partial agg then one shuffle
    on the 128-bit hash (never on the text bytes)."""
    h = F.md5(F.col(text_col)).alias("_h")
    winners = df.select(F.col(key), h).groupBy("_h").agg(F.min(key).alias(key))
    return df.join(winners, key, "left_semi")


def minhash_signatures(
    df: DataFrame, key: str, text_col: str = "text", n_hashes: int = 8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """``df`` with ``text_col`` replaced by (shingles, h0..h{n-1}): the doc's
    distinct 3-word shingles and their MinHash, one shingle-UDF call per row
    (no shuffle).  A doc under 3 words has NULL hashes.

    ``hash_fn="xxhash64"`` (default) signs :func:`shingle_hashes` JVM-side:
    the signature store's values, 4.3× the md5 chain's speed (33.9 s →
    7.9 s over the 550k-doc kept slice of the 1M corpus).  ``"md5"`` signs
    the shingle strings, the portable form the oracled contract query
    ``dedup_minhash`` uses (DuckDB has md5, not xxhash64); minhash quality
    is hash-agnostic, only collision structure matters."""
    if hash_fn == "xxhash64":
        shingles = shingle_hashes(F.col(text_col))
        seeded = lambda b, s: F.xxhash64(F.lit(b), s)  # noqa: E731
    elif hash_fn == "md5":
        shingles = shingle_column(F.col(text_col))
        seeded = lambda b, s: F.md5(F.concat(F.lit(str(b)), s))  # noqa: E731
    else:  # a typo must not silently pick the 4.3×-slower chain
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")

    def minhash(b: int) -> Column:
        # MUST be a one-parameter lambda: pyspark treats a two-parameter
        # transform lambda as (element, index) — a `lambda s, b=b:` default
        # captured the index column as the seed and made the minhash
        # order-dependent (0/8 shared hashes on an 0.87-Jaccard pair)
        return F.array_min(F.transform("shingles", lambda s: seeded(b, s)))

    return (
        df.withColumn("shingles", shingles)
        .withColumns({f"h{b}": minhash(b) for b in range(n_hashes)})
        .drop(text_col)
    )


def lsh_bands(
    sig: DataFrame, key: str, n_hashes: int = 8, band_size: int = 2
) -> DataFrame:
    """(key, band, bucket) rows, ``n_hashes // band_size`` per doc: band i's
    bucket is ``xxhash64(i, h{i·r}, …, h{i·r+r−1})`` over its ``band_size``
    minhashes (xxhash64 is type-agnostic: long or string signatures).  The
    band definition of ``lsh_candidate_pairs`` (batch and stored
    signatures) and ``fuzzy_decontaminate`` (one-hash bands).  A doc with
    NULL hashes gets no rows: the filter is on the stacked ``bucket``, so
    the optimizer cannot push it under an uncached signature projection
    and re-run the shingle UDF there."""
    n_bands = n_hashes // band_size
    h = [F.col(f"h{j}") for j in range(n_hashes)]
    bands = [
        F.when(h[lo].isNotNull(), F.xxhash64(F.lit(i), *h[lo : lo + band_size])).alias(f"b{i}")
        for i, lo in enumerate(range(0, n_bands * band_size, band_size))
    ]
    stack_expr = ", ".join(f"{i}, b{i}" for i in range(n_bands))
    return (
        sig.select(key, *bands)
        .select(key, F.expr(f"stack({n_bands}, {stack_expr}) as (band, bucket)"))
        .filter(F.col("bucket").isNotNull())
    )


def drop_hot_keys(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Drop every row whose ``keys`` group has more than ``cap`` rows — the
    hot-bucket guard in front of a bucket self-join.  Pairs inside one
    bucket are quadratic in its size, so one boilerplate family (thousands
    of near-identical pages sharing their minhashes, a navbar shingle in
    10⁵ docs) makes one bucket hold most of the pairs; the cap bounds every
    bucket at cap·(cap−1)/2 pairs whatever the corpus size.

    One aggregate over ``keys`` plus a left-anti join against the HOT set,
    not a semi-join against the cold set: the hot side is tiny by
    construction (at most rows/cap groups), so AQE broadcasts it and ``df``
    is shuffled once, for the count."""
    hot = (
        df.groupBy(*keys)
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > cap)
        .select(*keys)
    )
    return df.join(hot, keys, "left_anti")


def bucket_pairs(
    rows: DataFrame, key: str, bucket: list[str], max_bucket: int | None,
    store: DataFrame | None,
) -> DataFrame:
    """The near-dup family's one capped bucket self-join: distinct
    (a, b, partner_is_new) for keys sharing a ``bucket`` group, ``a`` a
    key of the batch ``rows``.  Two batch keys pair once, a < b.  With
    ``store`` (rows of the same shape), a batch key also pairs with every
    stored row of another key, on either side of it in key order; store ×
    store pairs never enumerate.  ``max_bucket`` caps store and batch
    rows together (:func:`drop_hot_keys`).  ``partner_is_new`` is a
    literal and the store is unioned only when given, so without one the
    optimizer folds every store predicate away."""
    rows = rows.withColumn("_new", F.lit(True))
    if store is not None:
        rows = rows.unionByName(store.withColumn("_new", F.lit(False)))
    if max_bucket is not None:
        rows = drop_hot_keys(rows, bucket, max_bucket)
    a, b = rows.filter("_new").alias("a"), rows.alias("b")
    ak, bk = F.col(f"a.{key}"), F.col(f"b.{key}")
    on = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in bucket]
    return (
        a.join(b, [*on, (ak < bk) | (~F.col("b._new") & (ak != bk))])
        .select(ak.alias("a"), bk.alias("b"), F.col("b._new").alias("partner_is_new"))
        .distinct()  # a pair sharing several buckets verifies once
    )


def lsh_candidate_pairs(
    sig: DataFrame, key: str, max_bucket: int | None = 500, store: DataFrame | None = None,
) -> DataFrame:
    """Distinct candidate pairs (a, b, partner_is_new) sharing at least one
    LSH band (4 bands of 2 of the 8 minhashes): :func:`lsh_bands` of the
    batch ``sig`` (and of the stored signatures ``store``, if given) through
    :func:`bucket_pairs`.  Without a store every pair is a < b with
    ``partner_is_new`` true.

    ``max_bucket`` caps the (band, bucket) groups before the self-join.
    Members of an oversized bucket still pair through their OTHER bands
    unless they are wholesale near-identical — exactly the family whose
    canonical representative survives exact dedup upstream.  Measured on
    220k docs with 10% planted dups and NO upstream quality filter: 298 s
    uncapped → bounded with the cap (see BENCH.md); same verified pairs on
    the contract corpus (max bucket there ≪ cap)."""
    # materialize the batch's (key, band, bucket) rows ONCE: the hot-bucket
    # aggregate and the self-join otherwise each re-run the full signature
    # lineage (shingle UDF + 8 array mins) of an uncached ``sig`` —
    # 2 full sig computations on a 1M-doc corpus build.  Same narrow-row
    # argument as the simhash bucket table below: 3 small columns × n_bands.
    batch = lsh_bands(sig, key).localCheckpoint(eager=True)
    stored = None if store is None else lsh_bands(store, key)
    return bucket_pairs(batch, key, ["band", "bucket"], max_bucket, stored)


def signature_prefilter(
    sig: DataFrame,
    pairs: DataFrame,
    key: str,
    min_est: float = 0.375,
) -> DataFrame:
    """Minhash-agreement prefilter between LSH banding and exact verify.

    est-J(a, b) = (# equal minhashes) / 8 is an unbiased Jaccard
    estimate already sitting in the signature table; filtering candidate
    pairs on it is a NARROW join (8 longs per side) that runs before
    the expensive shingle-array verify join.  The corpus-curve profile
    showed candidate volume is the one superlinear term on low-entropy
    corpora (tiny shared vocabularies give random doc pairs J ≈ 0.2–0.3,
    so banding false-positives grow ~quadratically); this cuts the pairs
    the verify stage must carry shingle arrays for.

    RECALL TRADEOFF — deliberately opt-in (``build_corpus`` default off):
    a true pair at exactly J = 0.7 has P(fewer than ⌈min_est·n⌉ of 8
    hashes agree) ≈ 1.1% at the default min_est = 3/8, ≈ 5.8% at 4/8.
    Verification stays exact for every surviving pair, so precision is
    unaffected.  Use where candidate volume, not the last percent of
    borderline recall, is the binding constraint."""
    arr = F.array(*[F.col(f"h{i}") for i in range(8)])
    s = sig.select(F.col(key), arr.alias("_s"))
    est = (
        F.size(
            F.filter(
                F.zip_with("_sa", "_sb", lambda x, y: x == y), lambda eq: eq
            )
        )
        / 8
    )
    return (
        pairs.join(
            s.withColumnRenamed(key, "a").withColumnRenamed("_s", "_sa"), "a"
        )
        .join(s.withColumnRenamed(key, "b").withColumnRenamed("_s", "_sb"), "b")
        .filter(est >= F.lit(min_est))
        .select(*pairs.columns)
    )


def shingle_hashes(text: Column) -> Column:
    """xxhash64 of each distinct 3-word shingle of ``text``: the set form
    :func:`minhash_signatures` signs, ``jaccard_verify`` compares and the
    incremental signature store keeps."""
    return F.transform(shingle_column(text), lambda x: F.xxhash64(x))


def jaccard_verify(
    df: DataFrame, candidates: DataFrame, key: str, text_col: str = "text", threshold: float = 0.7
) -> DataFrame:
    """Exact shingle-Jaccard on candidate pairs only: (a, b, jaccard).

    Shingles are xxhash64-hashed before the pair joins: the shuffled
    payload shrinks from ~2 kB of strings to 8 B longs per shingle and
    array_intersect compares longs — measured 21.3 s → 11.1 s over 524k
    candidate pairs on the 1M-doc corpus.  Jaccard over hashed shingle
    sets equals the string-set value up to 2⁻⁶⁴-probability collisions."""
    sets = df.select(F.col(key).alias("_k"), shingle_hashes(F.col(text_col)).alias("_s"))
    return verify_shingle_sets(candidates, sets, threshold).select(
        "a", "b", F.round("jaccard", 6).alias("jaccard")
    )


def verify_shingle_sets(candidates: DataFrame, sets: DataFrame, threshold: float) -> DataFrame:
    """The candidate rows (a, b, …) whose shingle-hash sets have Jaccard ≥
    ``threshold``, with an unrounded ``jaccard`` column.  ``sets`` is
    (_k, _s): a key and its ``shingle_hashes`` array, joined to both ends.

    The intersection size is a lambda variable of a one-element
    ``transform``: the optimizer pushes the threshold filter into the
    second join's condition, and a plain column would be re-inlined there
    once per use (two ``array_intersect`` calls per candidate pair)."""
    inter = F.array(F.size(F.array_intersect("_sa", "_sb")))
    jaccard = F.transform(inter, lambda i: i / (F.size("_sa") + F.size("_sb") - i))[0]
    j = (
        candidates.join(sets.withColumnRenamed("_k", "a").withColumnRenamed("_s", "_sa"), "a")
        .join(sets.withColumnRenamed("_k", "b").withColumnRenamed("_s", "_sb"), "b")
        .withColumn("jaccard", jaccard)
    )
    return j.filter(F.col("jaccard") >= threshold)


SIMHASH_BITS = 64


def simhash_column(text: Column) -> Column:
    """64-bit SimHash over word unigrams (Arrow UDF, numpy bit-matrix kernel).

    Word hash: first 8 bytes (big-endian) of md5 — chosen over FNV so the
    exact simhash is reproducible in ANSI SQL
    (``('0x'||substr(md5(w),1,16))::UBIGINT``), which is what lets
    ``dedup_simhash`` carry a DuckDB oracle.  Tokenization is lower +
    split on the explicit ASCII whitespace class ``[ \\t\\n\\r\\f\\x0B]`` so
    Spark/Python/SQL agree char-for-char.

    Kernel: md5 once per UNIQUE word in the batch, bits expanded with one
    numpy broadcast into a (vocab, 64) ±1 matrix, per-doc sign-sum via a
    row-gather — no per-word Python bit loop.  Measured on 20k docs × 60
    words (single core): 27.0 s (old per-word 64-iteration loop) → 3.7 s,
    7.3×.  A fully-flat reduceat/unpackbits variant measured SLOWER here
    (6.7–36 s): it materializes the (n_tokens, 64) matrix, and this box is
    memory-bandwidth-bound — the per-doc gather stays in cache."""

    @F.pandas_udf(T.LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        import hashlib
        import re

        split = re.compile(r"[ \t\n\r\f\x0B]+").split
        # a set per doc (dedupe only — the sign-sum is order-independent)
        docs = [
            None if t is None else {w for w in split(t.lower()) if w} for t in texts
        ]
        vocab: dict[str, int] = {}
        for d in docs:
            if d:
                for w in d:
                    if w not in vocab:
                        vocab[w] = len(vocab)
        if vocab:
            digests = b"".join(
                hashlib.md5(w.encode("utf-8")).digest()[:8] for w in vocab
            )
            hs = np.frombuffer(digests, dtype=">u8").astype(np.uint64)
            bit_idx = np.arange(SIMHASH_BITS, dtype=np.uint64)[None, :]
            bits = (
                ((hs[:, None] >> bit_idx) & np.uint64(1)).astype(np.int32) * 2 - 1
            )  # (vocab, 64) of ±1
        pow2 = np.uint64(1) << np.arange(SIMHASH_BITS, dtype=np.uint64)
        out = []
        for d in docs:
            if not d:
                out.append(None)
                continue
            acc = bits[[vocab[w] for w in d]].sum(axis=0)
            v = int(pow2[acc > 0].sum(dtype=np.uint64))
            if v >= 1 << 63:  # two's-complement into a signed long
                v -= 1 << 64
            out.append(v)
        return pd.Series(out, dtype="Int64")

    return _simhash(text)


def simhash_near_dup_pairs(
    df: DataFrame, key: str, max_hamming: int = 3, n_blocks: int = 4,
) -> DataFrame:
    """SimHash near-dup over ``text`` via block permutation: split the 64-bit hash into
    ``n_blocks`` 16-bit blocks; two docs within ``max_hamming`` (< n_blocks)
    must share at least one exact block (pigeonhole), so candidates come
    from equi-joins on (block_id, block_value); Hamming distance verifies.
    Pair-exact (brute-force oracle): no hot-bucket cap, since on the
    near-dup-dense contract corpus a 500-cap dropped 38% of qualifying
    pairs (they only co-bucket through hot blocks)."""
    if max_hamming >= n_blocks:
        raise ValueError(
            f"pigeonhole requires max_hamming < n_blocks "
            f"(got max_hamming={max_hamming}, n_blocks={n_blocks}): a pair "
            f"differing in every block would be missed"
        )
    sim = df.select(F.col(key).alias("k"), simhash_column(F.col("text")).alias("sh")).filter(
        F.col("sh").isNotNull()
    )
    # Collapse identical fingerprints FIRST (round-6 rework, guide §2.3/§8:
    # decide with small rows).  Near-dup-dense corpora carry identical-
    # simhash families (one sf1.0 family: 2,537 docs); the old doc-level
    # block self-join was quadratic in FAMILY size inside every shared
    # bucket and re-ran the Arrow fingerprint UDF on both join sides
    # (85 s at sf1.0).  Here the UDF runs ONCE (the family table is
    # materialized — ~16 B per distinct fingerprint), the block self-join
    # runs over DISTINCT fingerprints only, and doc pairs are expanded
    # from the family member lists at the end — output-linear work.
    fams = (
        sim.groupBy("sh")
        .agg(F.array_sort(F.collect_list("k")).alias("ks"), F.count("*").alias("n"))
        .localCheckpoint(eager=True)
    )
    bits_per = SIMHASH_BITS // n_blocks
    blocks = [
        F.shiftrightunsigned(F.col("sh"), i * bits_per)
        .bitwiseAND(F.lit((1 << bits_per) - 1))
        .alias(f"blk{i}")
        for i in range(n_blocks)
    ]
    blocked = fams.select("sh", "n", *blocks)
    stack_expr = ", ".join(f"{i}, blk{i}" for i in range(n_blocks))
    buckets = blocked.select(
        "sh", "n", F.expr(f"stack({n_blocks}, {stack_expr}) as (block, val)")
    )
    # hamming-0 pairs: all (a < b) combinations within each fingerprint
    # family — two explodes with a fan-out exchange between them so one
    # huge family cannot pin the expansion to a single task
    exp1 = (
        fams.filter(F.col("n") > 1)
        .select("ks", F.posexplode("ks").alias("_i", "a"))
        .repartition(F.col("a"))
    )
    intra = exp1.select(
        "a", F.explode(F.slice("ks", F.col("_i") + 2, F.size("ks"))).alias("b")
    ).select("a", "b", F.lit(0).alias("hamming"))
    # cross-family candidates: block equi-join over DISTINCT fingerprints.
    # A pair sharing m blocks surfaces m times; instead of a .distinct()
    # shuffle over the candidate stream, keep only the row whose matching
    # block is the pair's FIRST shared block — every earlier block's
    # (in)equality is a pure shift/mask expression on (sha, shb), so the
    # dedup is a filter, not an exchange (guide §2.4).
    a, b = buckets.alias("a"), buckets.alias("b")
    joined = a.join(
        b,
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.val") == F.col("b.val"))
        & (F.col("a.sh") < F.col("b.sh")),
    ).select(
        F.col("a.sh").alias("sha"), F.col("b.sh").alias("shb"), F.col("a.block").alias("_blk")
    )

    def _blk_eq(i: int):
        mask = F.lit((1 << bits_per) - 1)
        return (
            F.shiftrightunsigned(F.col("sha"), i * bits_per).bitwiseAND(mask)
            == F.shiftrightunsigned(F.col("shb"), i * bits_per).bitwiseAND(mask)
        )

    first_match = F.when(F.col("_blk") == 0, F.lit(True))
    acc = None
    for i in range(1, n_blocks):
        acc = _blk_eq(i - 1) if acc is None else (acc | _blk_eq(i - 1))
        first_match = first_match.when(F.col("_blk") == i, ~acc)
    hamming = F.bit_count(F.col("sha").bitwiseXOR(F.col("shb")))
    verified = (
        joined.filter(first_match.otherwise(F.lit(False)))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("sha", "shb", "hamming")
    )
    # expand verified fingerprint pairs to doc pairs (output-linear):
    # explode side A, fan out, then explode side B
    ka = fams.select(F.col("sh").alias("sha"), F.col("ks").alias("_ka"))
    kb = fams.select(F.col("sh").alias("shb"), F.col("ks").alias("_kb"))
    inter = (
        verified.join(ka, "sha")
        .join(kb, "shb")
        .select("hamming", "_kb", F.explode("_ka").alias("x"))
        .repartition(F.col("x"))
        .select("hamming", "x", F.explode("_kb").alias("y"))
        .select(
            F.least("x", "y").alias("a"),
            F.greatest("x", "y").alias("b"),
            "hamming",
        )
    )
    return intra.unionAll(inter)


def embedding_near_dup_pairs(
    df: DataFrame,
    key: str,
    threshold: float = 0.9,
    round_to: int = 6,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup over the ``embedding`` column:
    MULTI-TABLE random-hyperplane LSH (AND-OR construction) → exact cosine
    verify on candidates.

    A single sign-bucket table has recall (1−θ/π)^planes per pair — at
    cos 0.9 with 8 planes that is ~7%, useless.  The AND-OR construction
    fixes it: ``n_tables`` independent tables of ``n_planes`` hyperplanes
    each; a pair is a candidate if it collides in ANY table, so recall is
    1−(1−p^n_planes)^n_tables with p = 1−θ/π.  Here 64 tables × 20
    planes (round 6 — was 32 × 12): recall per pair at cos 0.95 is
    1−(1−p²⁰)⁶⁴ ≈ 1−2·10⁻⁶, and the candidate rate for a mildly
    correlated pair (cos ≈ 0.3, p ≈ 0.6) drops from 32·0.6¹² ≈ 0.070 to
    64·0.6²⁰ ≈ 0.0023 — measured 2.36 M → 37 k verify pairs on the
    20k-vector sf1.0 contract table (the verify join was the scale term:
    candidate volume grows quadratically with corpus size).  Tune
    n_planes up as the corpus (or its typical inter-doc cosine) grows —
    each extra plane halves the random-collision rate per table.

    All table buckets are computed in ONE vectorized Arrow UDF pass
    (batch matrix multiply), posexploded to (table, bucket) rows, and
    candidates come from :func:`bucket_pairs`, the equi-join on that pair
    that MinHash-LSH uses too — never all-pairs.

    ``max_bucket`` guards the one remaining skew hazard: a mass-duplicated
    embedding family (SEO template pages, empty-page vectors) lands every
    copy in the SAME bucket of EVERY table, turning the self-join quadratic
    in the family size × n_tables.  When set, :func:`bucket_pairs` caps
    the (table, bucket) groups before the self-join.  Identical-vector
    families should be collapsed by exact dedup upstream — the cap bounds
    the damage when they are not.  Default None keeps the contract query
    exact.
    """
    n_tables, n_planes = 64, 20
    first = df.select(F.size("embedding").alias("d")).first()
    dim = int(first["d"])
    rng = np.random.default_rng(7)
    planes = rng.standard_normal((n_tables * n_planes, dim)).astype("float64")
    w_vec = 1 << np.arange(n_planes, dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        # vstack is one page-copy over the Arrow-backed row arrays (the
        # old per-row asarray loop was the batch's Python hot spot), and
        # the bit-pack is a (rows·tables, planes) @ (planes,) matvec
        # instead of materializing a (rows, tables, planes) int64 cube
        mat = np.vstack(vecs.to_numpy())
        signs = (mat @ planes.T > 0).astype(np.int64).reshape(-1, n_planes)
        packed = (signs @ w_vec).reshape(len(mat), n_tables)
        return pd.Series(list(packed))

    with_b = df.select(F.col(key).alias("k"), F.col("embedding").alias("v")).withColumn(
        "bkts", buckets(F.col("v"))
    )
    # materialize the (key, table, bucket) rows once: the self-join below
    # consumes this subtree on BOTH sides (and the hot-bucket aggregate a
    # third time when capped), and without materialization each side
    # re-runs the Arrow bucket UDF over every vector (guide §1.2 — don't
    # compute things twice).  ~24 B per (doc, table) row.
    tabled = with_b.select("k", F.posexplode("bkts").alias("tbl", "bkt")).localCheckpoint(
        eager=True
    )
    cand = bucket_pairs(tabled, "k", ["tbl", "bkt"], max_bucket, None)
    # verify on candidates only: join the (few) candidate pairs back to the
    # vectors rather than carrying 2 vectors through the distinct.  Taken
    # from the RAW frame, not with_b — the verify sides need no buckets,
    # and deriving them from with_b would drag the Arrow UDF back into
    # both join lineages.
    from .similarity import _dot, _norm

    va = df.select(F.col(key).alias("a"), F.col("embedding").alias("va"))
    vb = df.select(F.col(key).alias("b"), F.col("embedding").alias("vb"))
    va_, vb_ = F.col("va"), F.col("vb")
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .withColumn("cos", _dot(va_, vb_) / (_norm(va_) * _norm(vb_)))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", F.round("cos", round_to).alias("cos"))
    )


def drop_duplicate_lines(
    docs: DataFrame,
    key: str,
    max_line_df: int = 10,
) -> DataFrame:
    """C4-style cross-document LINE dedup of the ``text`` column's lines: a
    line occurring in more than ``max_line_df`` documents is boilerplate
    (navbars, cookie banners, footers) and is removed from EVERY document,
    preserving the order of the surviving lines.

    Plan: posexplode lines → document frequency per line (two-phase count
    distinct) → anti-join the hot-line set (tiny by the same argument as
    :func:`drop_hot_keys`; AQE broadcasts it) → rebuild each doc with
    collect_list(struct(pos, line)) + array_sort (sorts on the leading pos
    field) + concat_ws.  One wide shuffle on the line hash, one on the doc
    key — both with map-side partial aggregation.

    Returns docs with ``text_deduped`` and ``n_lines_kept`` columns (docs
    whose every line was boilerplate keep an empty string)."""
    lines = docs.select(
        F.col(key), F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line")
    ).withColumn("_lh", F.xxhash64("line"))
    # df-count and anti-join key on the 8-byte line hash so the wide
    # shuffle never ships line strings (only the rebuild groupBy does,
    # and that one needs them); a 2⁻⁶⁴ hash collision could at worst drop
    # one extra cold line as boilerplate
    hot = (
        lines.groupBy("_lh")
        .agg(F.countDistinct(key).alias("_df"))
        .filter(F.col("_df") > max_line_df)
        .select("_lh")
    )
    kept = lines.join(hot, "_lh", "left_anti")
    rebuilt = kept.groupBy(key).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("text_deduped"),
        F.count("*").alias("n_lines_kept"),
    )
    return (
        docs.join(rebuilt, key, "left")
        .withColumn("text_deduped", F.coalesce("text_deduped", F.lit("")))
        .withColumn("n_lines_kept", F.coalesce("n_lines_kept", F.lit(0)))
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    key: str,
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Benchmark decontamination against the ``text`` of ``benchmark``: count,
    per document, how many distinct ``k``-word shingles it shares with an
    evaluation set — the standard pre-training step that keeps eval data out of
    the corpus (docs with ``n_contaminated > 0`` are dropped or audited).  Long
    shingles (k=8 words ≈ 13-gram token windows in the literature) keep false
    positives near zero.

    Returns (key, n_contaminated): the overlap count of
    :func:`contamination_stats`, one row per distinct key."""
    return contamination_stats(
        docs, benchmark, key, text_col, k=k
    ).select(key, "n_contaminated")


def contamination_stats(
    docs: DataFrame,
    benchmark: DataFrame,
    key: str,
    text_col: str = "text",
    k: int = 8,
    frac_threshold: float = 0.7,
) -> DataFrame:
    """Per-document contamination AUDIT: besides the count of distinct
    ``k``-word shingles each document shares with the eval set's ``text`` (the
    :func:`decontaminate` column), report what FRACTION of its distinct
    shingles that is, plus a ``dirty`` verdict at ``frac_threshold`` (the
    PaLM/GPT-3-style "doc is contaminated when ≥X% of its n-grams overlap"
    criterion, applied over distinct shingles).

    The benchmark side is tiny relative to the corpus (eval sets are
    thousands of docs, the corpus is billions), so its DISTINCT shingle set
    broadcasts.  One corpus pass: explode distinct shingles once, LEFT-join
    the broadcast eval shingle set with a hit marker, and fold totals and
    hits in a single map-side-combined groupBy — the corpus side never
    shuffles on shingles, only on ``key`` with one row per (task, doc)
    partial.  Shingle-less docs (< k words) report (0, 0, 0.0, false).

    Returns (key, n_shingles, n_contaminated, contamination_frac, dirty);
    the fraction is rounded to 6 (the contract grid)."""
    bench = (
        benchmark.select(
            F.explode(shingle_column(F.col("text"), k)).alias("shingle")
        )
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    d = docs.select(
        F.col(key),
        F.explode_outer(shingle_column(F.col(text_col), k)).alias("shingle"),
    )
    stats = (
        d.join(F.broadcast(bench), "shingle", "left")
        .groupBy(key)
        .agg(
            F.count("shingle").alias("n_shingles"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("n_contaminated"),
        )
    )
    frac = F.when(
        F.col("n_shingles") > 0,
        F.round(F.col("n_contaminated") / F.col("n_shingles"), 6),
    ).otherwise(F.lit(0.0))
    return stats.select(
        key,
        "n_shingles",
        "n_contaminated",
        frac.alias("contamination_frac"),
        (frac >= F.lit(frac_threshold)).alias("dirty"),
    )


def _bloom_positions(shingle: Column, n_bits: int, n_hashes: int) -> list[Column]:
    """``n_hashes`` deterministic bit positions for one shingle: the first 8
    hex chars of md5(salt‖shingle) as an integer, mod ``n_bits`` — the same
    portable md5-prefix hash the minhash/stratified-sampling oracles use
    (DuckDB: ``('0x' || substr(md5(i || s), 1, 8))::UBIGINT % n_bits``)."""
    return [
        F.conv(F.substring(F.md5(F.concat(F.lit(str(i)), shingle)), 1, 8), 16, 10)
        .cast("long") % n_bits
        for i in range(n_hashes)
    ]


def decontaminate_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    key: str,
    text_col: str = "text",
    k: int = 8,
    n_bits: int = 1 << 20,
    n_hashes: int = 4,
) -> DataFrame:
    """:func:`decontaminate` with the eval-side broadcast replaced by a
    Bloom filter — the 100-TB form when the evaluation suite itself is big.

    :func:`decontaminate` broadcasts the eval set's DISTINCT shingle
    *strings*; for a large benchmark battery (every eval suite × k-gram
    windows) that broadcast is gigabytes.  Here the eval shingles are
    hashed into an ``n_bits``-bit Bloom filter (``n_hashes`` md5-prefix
    hashes), so what ships to every task is a **fixed-size bit array —
    ``n_bits``/8 bytes (128 KiB at the default) regardless of eval-set
    size** — folded into the plan as an ``array<long>`` literal.  The
    corpus side tests membership with pure codegen shift/AND expressions:
    no join, no UDF, no corpus-side shuffle beyond the per-doc count.

    Guarantees: NO false negatives (every truly shared shingle is
    flagged); false-positive rate ≈ (1 − e^(−n_hashes·n/n_bits))^n_hashes
    for n distinct eval shingles — callers treat ``n_flagged > 0`` as
    "audit", exactly like the exact variant.  The two-pass shape
    (distributed position dedup → ≤ n_bits-row bounded driver collect →
    literal broadcast) keeps driver memory O(n_bits), independent of both
    corpus and eval-set size."""
    n_words = (n_bits + 63) // 64
    bench_pos = (
        benchmark.select(F.explode(shingle_column(F.col("text"), k)).alias("shingle"))
        .select(F.explode(F.array(*_bloom_positions(F.col("shingle"), n_bits, n_hashes))).alias("p"))
        .distinct()
    )
    words = [0] * n_words
    for row in bench_pos.collect():  # bounded: <= n_bits rows by construction
        p = int(row["p"])
        words[p >> 6] |= 1 << (p & 63)
    signed = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    bits = F.lit(signed)

    sh = docs.select(
        F.col(key), F.explode(shingle_column(F.col(text_col), k)).alias("shingle")
    ).withColumn("_bits", bits)
    flag = None
    for i, pos in enumerate(_bloom_positions(F.col("shingle"), n_bits, n_hashes)):
        sh = sh.withColumn(f"_p{i}", pos)
        # signed >> keeps bit (p & 63) intact for any two's-complement word
        t = F.expr(
            f"(shiftright(element_at(_bits, cast(_p{i} div 64 as int) + 1),"
            f" cast(_p{i} % 64 as int)) & 1) = 1"
        )
        flag = t if flag is None else (flag & t)
    hits = (
        sh.withColumn("_hit", flag.cast("int"))
        .groupBy(key)
        .agg(F.sum("_hit").alias("n_flagged"))
    )
    return (
        docs.select(key)
        .join(hits, key, "left")
        .withColumn("n_flagged", F.coalesce("n_flagged", F.lit(0)))
    )


def fuzzy_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    key: str,
    bench_key: str,
    text_col: str = "text",
    n_bands: int = 4,
    threshold: float = 0.5,
    max_band_bucket: int = 5000,
) -> DataFrame:
    """NEAR-duplicate benchmark decontamination: MinHash-LSH candidate
    pairs against the evaluation set, then exact shingle-Jaccard
    verification — catches paraphrased / lightly-edited eval leakage that
    exact k-gram overlap (:func:`decontaminate`) misses (the Llama/GPT-3
    style fuzzy decontamination pass).

    Returns ``(key, bench_id, jaccard)`` for every corpus doc whose
    3-word-shingle Jaccard with some benchmark doc clears ``threshold``
    AND that LSH surfaced as a candidate (``n_bands`` md5
    :func:`minhash_signatures` hashes, one per :func:`lsh_bands` band, band
    match ⇒ candidate; recall 1−(1−j)^bands per pair — deterministic, so
    an oracle replays it exactly).

    Scale shape: the eval set is thousands of docs vs a corpus of
    billions, so its band table and its shingle set both broadcast — the
    corpus never self-joins, each doc is signed in its own row (no
    shuffle) and only candidate docs are shingled again, for verification.

    ``max_band_bucket`` caps the corpus (band, bucket) groups with
    :func:`drop_hot_keys`: a band value shared by more corpus docs than the
    cap is boilerplate minhash, and joining it would make the candidate
    list O(corpus) (measured: an uncapped run on a 1M-doc corpus whose
    templates overlap the eval set produced a >1 GiB candidate relation
    that AQE then tried to broadcast).  Genuinely contaminated docs keep
    their other ``n_bands − 1`` chances, the same recall argument as
    ``lsh_candidate_pairs``'s max_bucket."""

    def _bands(df: DataFrame, k: str) -> DataFrame:
        sig = minhash_signatures(df, k, "_t", n_hashes=n_bands, hash_fn="md5")
        # materialized: the candidate relation below is read twice, and
        # each read would otherwise re-run the shingle UDF (the expensive
        # stage; guide §1.2)
        return lsh_bands(sig, k, n_hashes=n_bands, band_size=1).localCheckpoint(eager=True)

    def _shingled(df: DataFrame, k: str, n: str) -> DataFrame:
        # (key, set size, shingle) rows: sizes come from the same arrays
        arr = df.select(k, shingle_column(F.col("_t")).alias("_a"))
        return arr.select(k, F.size("_a").alias(n), F.explode("_a").alias("_s"))

    corpus = docs.select(F.col(key).alias("_k"), F.col(text_col).alias("_t"))
    bench = benchmark.select(F.col(bench_key).alias("_bk"), F.col("text").alias("_t"))
    cands = (
        drop_hot_keys(_bands(corpus, "_k"), ["band", "bucket"], max_band_bucket)
        .join(F.broadcast(_bands(bench, "_bk")), ["band", "bucket"])
        .select("_k", "_bk")
        .distinct()
    )
    # verification restricted to candidate docs — and the shingle explode
    # re-runs over the candidate SUBSET only (semi-join the corpus down
    # first), not the whole corpus: candidates are bounded by eval-family
    # size × bands, orders of magnitude below the corpus.  |∩| via the
    # broadcast eval shingle set keyed (bench doc, shingle).  The candidate
    # list is the one derived relation whose size the planner cannot bound
    # (boilerplate-heavy corpora inflate it) — pin its join to shuffle-hash
    # so a misestimate can never become a driver-killing broadcast
    # (observed: AQE broadcasting a multi-million-pair list on a
    # template-saturated 50k corpus)
    cand_docs = corpus.join(cands.select("_k").distinct(), "_k", "left_semi")
    cand_sh = _shingled(cand_docs, "_k", "_nc").join(cands.hint("shuffle_hash"), "_k")
    bsh = _shingled(bench, "_bk", "_nb")
    return (
        cand_sh.join(F.broadcast(bsh), ["_bk", "_s"])
        .groupBy("_k", "_bk", "_nc", "_nb")
        .agg(F.count("*").alias("_i"))
        .withColumn("jaccard", F.col("_i") / (F.col("_nc") + F.col("_nb") - F.col("_i")))
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("_k").alias(key),
            F.col("_bk").alias("bench_id"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


# Largest pair graph ``connected_components`` solves on the driver: 2^20
# edges are 2^21 keys, ~64 MB at 32 bytes a key (a url).  Larger graphs take
# the iterative Spark path.
LOCAL_MAX_EDGES = 1 << 20
# key types whose Arrow order is Spark's order (strings: UTF-8 bytes)
_LOCAL_KEY_TYPES = (T.StringType(), T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType())


def connected_components(
    pairs: DataFrame, a: str = "a", b: str = "b", max_iter: int = 25
) -> DataFrame:
    """Near-dup pairs → duplicate clusters: (node, component) with component
    = min node id in the connected component.  Pairs with a NULL endpoint
    are dropped (a NULL is not a document); a self-loop (v, v) yields the
    row (v, v).

    The missing last step of every dedup family (minhash/simhash/embedding
    pairs must become KEEP-ONE groups before scrubbing a training corpus).
    Two paths with the same output:

    * **driver** — when both key columns are strings or the same integral
      type and the graph has at most ``LOCAL_MAX_EDGES`` edges, the edges
      are collected as Arrow (one job; verified near-dup pairs are orders of
      magnitude fewer than docs), the keys are numbered in sorted order and
      union-find hooks every root onto the smallest root it touches, so a
      component's root is its min key.  The result is an Arrow-backed
      ``LocalRelation`` (``session.local_table``), which Spark reads
      without Python workers.
    * **iterative** — any other graph.  Each round does min-label
      propagation (every node takes the min of its own and its neighbours'
      labels) PLUS one pointer-jump (label(v) ← label(label(v))), which
      halves the remaining distance to the component minimum — convergence
      in **O(log diameter)** rounds, so even an adversarial million-node
      chain needs ~20 rounds, while web near-dup clusters (star-like,
      diameter ≤ ~4) finish in 1–2 plus the confirming round.  Each round
      is two small shuffle-on-node-id joins over the edge list.
      ``localCheckpoint`` truncates the iterative lineage every round —
      without it the plan doubles per iteration and Catalyst analysis
      dominates after ~10 rounds.  Raises if max_iter rounds don't converge
      (with pointer jumping that would take a graph of diameter >
      2^max_iter)."""
    e = pairs.select(F.col(a).alias("u"), F.col(b).alias("v")).filter(
        F.col("u").isNotNull() & F.col("v").isNotNull()
    )
    ut, vt = (f.dataType for f in e.schema.fields)
    if ut == vt and ut in _LOCAL_KEY_TYPES:
        edges = e.limit(LOCAL_MAX_EDGES + 1).toArrow()
        if edges.num_rows <= LOCAL_MAX_EDGES:
            return _local_components(pairs.sparkSession, edges, ut)
    return _iterative_components(e, max_iter)


def _local_components(spark, edges: pa.Table, key_type: T.DataType) -> DataFrame:
    """Union-find over a collected (u, v) Arrow edge table; see
    ``connected_components``."""
    keys = pa.chunked_array(
        edges.column(0).chunks + edges.column(1).chunks, type=edges.schema.field(0).type
    )
    nodes = pc.unique(keys)
    nodes = nodes.take(pc.sort_indices(nodes))  # id order = key order
    ids = pc.index_in(keys, value_set=nodes).to_numpy()
    u, v = ids[: edges.num_rows], ids[edges.num_rows :]
    parent = np.arange(len(nodes))  # parent[x] <= x: no cycles, roots are minima
    while True:
        while True:  # flatten every tree so each node points at its root
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand
        ru, rv = parent[u], parent[v]
        if np.array_equal(ru, rv):
            break
        # union by the smaller root: every root with a smaller neighbour
        # root is hooked each round, so the loop ends (a shuffled 10^6-node
        # chain takes 13 rounds, 0.6 s)
        np.minimum.at(parent, np.maximum(ru, rv), np.minimum(ru, rv))
    schema = T.StructType(
        [T.StructField("node", key_type), T.StructField("component", key_type)]
    )
    return local_table(spark, {"node": nodes, "component": nodes.take(parent)}, schema)


def _iterative_components(e: DataFrame, max_iter: int) -> DataFrame:
    """Min-label propagation with pointer jumping over the (u, v) edge
    frame; see ``connected_components``."""
    edges = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct().persist()
    # initialize label(v) = min(v, min neighbor) — one groupBy that already
    # finishes star-shaped clusters, saving a full propagation round
    labels = (
        edges.groupBy(F.col("u").alias("node"))
        .agg(F.min("v").alias("_mn"))
        .select("node", F.least("node", "_mn").alias("label"))
        .localCheckpoint(eager=True)
    )
    try:
        for _ in range(max_iter):
            nbr = (
                edges.join(labels.select(F.col("node").alias("v"), F.col("label").alias("vl")), "v")
                .groupBy("u")
                .agg(F.min("vl").alias("nbr_min"))
            )
            # pointer jump: my label's own label (labels is a function, so
            # this is a left join on label = node; roots map to themselves)
            jump = labels.select(
                F.col("node").alias("_jn"), F.col("label").alias("jl")
            )
            nxt = (
                labels.join(nbr, labels["node"] == nbr["u"], "left")
                .join(jump, labels["label"] == jump["_jn"], "left")
                .select(
                    "node",
                    "label",
                    F.least(
                        F.col("label"),
                        F.coalesce("nbr_min", "label"),
                        F.coalesce("jl", "label"),
                    ).alias("new_label"),
                )
                .localCheckpoint(eager=True)
            )
            changed = nxt.filter(F.col("new_label") < F.col("label")).count()
            labels = nxt.select("node", F.col("new_label").alias("label"))
            if changed == 0:
                return labels.withColumnRenamed("label", "component")
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    finally:
        edges.unpersist()


def substring_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
) -> DataFrame:
    """ExactSubstr deduplication (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): remove every token that lies inside
    a >= k-token span occurring more than once in the corpus.

    The paper builds one suffix array over the concatenated corpus — a
    global sorted structure no distributed engine wants.  The Spark-first
    equivalent keeps the exact semantics at window granularity: a token is
    removed iff SOME k-token window containing it appears >= 2 times
    corpus-wide (all copies are removed, the paper's default).  Plan:

    1. per-doc k-gram hashes, natively (``transform`` over a start-index
       sequence; ``xxhash64`` of the space-joined slice) — whole-stage
       codegen, zero Python, no shuffle,
    2. posexplode to an (id, start, hash) stream — exactly one row per
       corpus token position, 16 bytes each,
    3. count occurrences per hash (one window count; the ONE wide
       shuffle) and keep starts whose hash occurs >= 2 times — at web
       scale this "duplicated-window" set is orders of magnitude smaller
       than the stream,
    4. collect duplicated starts per doc (second, tiny shuffle),
    5. rebuild each doc scan-locally: token at position p survives iff no
       duplicated start s satisfies s <= p <= s+k-1 (a bounded
       higher-order-function filter over the doc's own arrays).

    Within-engine hash collisions (64-bit) are the only approximation:
    P(any collision) ~ n_positions^2 / 2^65 — at 10^12 positions that is
    material, so a 100-TB deployment widens to the 128-bit md5 pair or
    verifies dup groups by first/last token; at contract scale it is ~1e-9.

    Returns (id, n_tokens, n_removed, text_dedup).
    """
    return _exact_substr(docs, text_col, id_col, k, None)[0]


def _exact_substr(
    docs: DataFrame, text_col: str, id_col: str, k: int, seen: DataFrame | None
):
    """Both ExactSubstr operators: (deduped docs, the (_id, _s, _h)
    occurrence stream, one row per gram start).  One dup-start rule: a
    start is duplicated iff its gram hash occurs >= 2 times in ``docs`` or
    is in ``seen`` (an (h) frame of earlier gram hashes, or None)."""
    if k < 2:
        # k=0 would make every empty slice hash equal (total removal);
        # k=1 is plain token-frequency removal — both are caller mistakes
        raise ValueError(f"substring window k must be >= 2, got {k}")
    # ASCII-ws split + drop-empties == Python str.split() on ASCII text and
    # the oracle's list_filter(regexp_split_to_array(...)) exactly (Java \s
    # is the ASCII class [ \t\n\x0B\f\r]); null text → zero tokens (a null
    # array would make F.size return -1 downstream)
    toks = F.coalesce(
        F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != ""),
        F.array().cast("array<string>"),
    )
    base = docs.select(F.col(id_col).alias("_id"), toks.alias("_toks"))
    n = F.size("_toks")
    starts = F.when(n >= k, F.sequence(F.lit(1), n - k + 1)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        starts, lambda s: F.xxhash64(F.concat_ws(" ", F.slice("_toks", s, k)))
    )
    occ = base.select("_id", F.posexplode(grams).alias("_i", "_h")).select(
        "_id", (F.col("_i") + 1).alias("_s"), "_h"
    )
    # duplicated starts via ONE window count over the hash partition — the
    # groupBy+semi-join alternative shuffles the identical full stream by
    # _h for the join anyway AND recomputes the O(n·k) gram pass on the
    # second branch (measured 2.33 s → 1.39 s at sf0.1 for this form);
    # skew profile is the same: a mass-duplicated span lands all copies in
    # one reduce partition either way (spillable window buffer here,
    # one-reducer join key there)
    from pyspark.sql import Window

    dup = (
        occ.withColumn("_c", F.count("*").over(Window.partitionBy("_h")))
        .filter(F.col("_c") >= 2)
        .select("_id", "_s")
    )
    if seen is not None:  # a presence semi-join; a start listed twice is harmless
        dup = dup.unionByName(
            occ.join(seen, occ["_h"] == seen["h"], "left_semi").select("_id", "_s")
        )
    dup_starts = dup.groupBy("_id").agg(F.collect_list("_s").alias("_ds"))
    joined = base.join(dup_starts, "_id", "left").select(
        "_id",
        "_toks",
        F.coalesce("_ds", F.array().cast("array<int>")).alias("_ds"),
    )
    kept = F.filter(
        "_toks",
        lambda t, i: ~F.exists(
            "_ds", lambda s: (s <= i + 1) & (i + 1 <= s + k - 1)
        ),
    )
    deduped = joined.select(
        F.col("_id").alias(id_col),
        F.size("_toks").alias("n_tokens"),
        (F.size("_toks") - F.size(kept)).alias("n_removed"),
        F.concat_ws(" ", kept).alias("text_dedup"),
    )
    return deduped, occ


def incremental_substring_dedup(
    spark,
    docs: DataFrame,
    gram_store: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
) -> DataFrame:
    """ExactSubstr across crawl batches, keep-FIRST semantics: a token of
    the NEW batch is removed iff some k-window containing it was already
    seen in ANY earlier batch (gram-hash present in the store) or repeats
    within this batch.  With an empty store this is exactly
    :func:`substring_dedup`; already-shipped copies in old batches are
    never touched (they were first).

    ``gram_store`` is a parquet dir of DISTINCT gram hashes (8 bytes each)
    of every batch's ORIGINAL text — stored pre-removal, so a span that
    survived batch N still kills its re-crawl in batch N+1.  Dup starts
    come from the batch operator's rule with the store as its seen grams:
    the store-side work is one presence semi-join on the hash.  The result
    is eagerly materialized BEFORE the store append (the lazy-plan-reads-
    mutated-input hazard, see incremental_dedup).
    """
    seen = spark.read.parquet(gram_store) if path_exists(spark, gram_store) else None
    result, occ = _exact_substr(docs, text_col, id_col, k, seen)
    new_grams = occ.select(F.col("_h").alias("h")).distinct()
    if seen is not None:
        # append only genuinely-new hashes: the store stays the distinct
        # gram set ever seen instead of growing with every re-crawl
        new_grams = new_grams.join(seen, "h", "left_anti")
    # BOTH plans that read the store must materialize before the append
    # mutates it (persist is not enough — see incremental_dedup)
    result = result.localCheckpoint(eager=True)
    new_grams = new_grams.localCheckpoint(eager=True)
    new_grams.write.mode("append").parquet(gram_store)
    return result


def component_keep_best(
    comp: DataFrame,
    docs: DataFrame,
    key: str,
    score_col: str,
) -> DataFrame:
    """Quality-priority retention inside duplicate clusters: instead of the
    default keep-min-key canonical, keep the member with the HIGHEST
    ``score_col`` (ties → min key) — the NemoCurator / FineWeb retention
    policy ("when near-dups collide, keep the best/longest copy, not the
    lexicographically first url").

    ``comp`` is ``connected_components`` output (node, component); ``docs``
    carries ``key`` and ``score_col``.  Returns (node, component, score,
    is_retained).  Scale shape: one join on node id + one window
    partitioned by CLUSTER id — both operate on the pair-graph nodes only
    (orders of magnitude smaller than the corpus), and the window
    partition is a single duplicate cluster (web near-dup clusters are
    tiny; a pathological mega-cluster is already capped upstream by the
    LSH hot-bucket caps)."""
    from pyspark.sql import Window

    members = comp.join(
        docs.select(F.col(key).alias("node"), F.col(score_col).alias("score")),
        "node",
    )
    w = Window.partitionBy("component").orderBy(F.desc("score"), F.asc("node"))
    return members.withColumn("is_retained", F.row_number().over(w) == 1)


def near_dup_losers(pairs: DataFrame, key: str, scores: DataFrame | None) -> DataFrame:
    """The one keep-one rule of MinHash dedup: the ``key`` of every doc to
    drop, given verified (a, b, partner_is_new) pairs.  A batch doc with a
    stored partner loses; batch-only pairs form connected components, and
    each keeps its min key or, with ``scores`` (key, score), its best
    score (:func:`component_keep_best`).  Not distinct (a doc with several
    stored partners repeats), so callers anti-join on it; without a store
    or scores it folds to the collected components table, one row per
    loser."""
    stored = pairs.filter(~F.col("partner_is_new")).select(F.col("a").alias(key))
    comp = connected_components(pairs.filter(F.col("partner_is_new")), "a", "b")
    if scores is None:
        batch = comp.filter(F.col("node") != F.col("component"))
    else:
        batch = component_keep_best(comp, scores, key, scores.columns[1]).filter(
            ~F.col("is_retained")
        )
    return stored.unionByName(batch.select(F.col("node").alias(key)))
