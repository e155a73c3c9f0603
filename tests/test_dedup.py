"""Dedup operators: exact, minhash-LSH, simhash, jaccard verify, embedding near-dup."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_quality_monitoring_spark.operators import dedup as D

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup
    (4, "completely different text about spark query engines and parquet files here"),
    (5, "another unrelated document mentioning language models and training data sets"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


@pytest.fixture(params=["driver", "iterative"])
def cc_path(request, monkeypatch):
    """``connected_components`` on the driver path, or on the iterative Spark
    path forced by an edge bound of 0."""
    if request.param == "iterative":
        monkeypatch.setattr(D, "LOCAL_MAX_EDGES", 0)
    return request.param


def _on_path(comp, path):
    """``comp`` after asserting which path built it: the driver path returns
    an Arrow-backed local relation, the iterative one a checkpointed RDD."""
    local = comp._jdf.queryExecution().analyzed().collectLeaves().apply(0).getClass()
    assert (local.getSimpleName() == "LocalRelation") == (path == "driver")
    return comp


def _components(df, bound=D.LOCAL_MAX_EDGES):
    """Sorted (node, component) rows and the schema at an edge bound of
    ``bound``."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(D, "LOCAL_MAX_EDGES", bound)
        comp = D.connected_components(df)
        return sorted(map(tuple, comp.collect())), comp.schema


def _python_rdd_in_lineage(df) -> bool:
    """Whether any RDD the physical plan reads, broadcast sides included,
    descends from a ``PythonRDD`` (rows pickled on the driver)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.initialPlan()
    leaves = plan.collectLeaves()
    return any(
        "PythonRDD" in leaves.apply(i).execute().toDebugString() for i in range(leaves.size())
    )


def test_exact_dedup(spark, docs):
    kept = sorted(r["doc_id"] for r in D.exact_dedup(docs, "doc_id").collect())
    assert kept == [1, 3, 4, 5]  # 2 deduped into 1 (min key wins)


def test_minhash_lsh_finds_near_dups(spark, docs):
    sig = D.minhash_signatures(docs, "doc_id")
    pairs = D.lsh_candidate_pairs(sig, "doc_id")
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert (1, 2) in got  # identical docs share every band
    assert (1, 3) in got or (2, 3) in got  # near dup shares some band
    verified = D.jaccard_verify(docs, pairs, "doc_id", threshold=0.5)
    v = {(r["a"], r["b"]): r["jaccard"] for r in verified.collect()}
    assert v[(1, 2)] == 1.0
    assert any(p in v for p in [(1, 3), (2, 3)])
    assert all(0.5 <= j <= 1.0 for j in v.values())


# h0..h7 of DOCS[0]'s text as ``plans.corpus.incremental_dedup``'s signature
# store holds them: min over its 3-word shingles s of xxhash64(b, xxhash64(s))
STORE_SIGNATURE = [
    -7526567701951179316, -6306064995877671485, -8867447697322737600,
    -4402366388235785526, -8108882996475918782, -8867486211881703012,
    -9044326267789243993, -7828067673173597054,
]


def test_minhash_signature_values_pinned(spark):
    """``minhash_signatures`` is the signature store's MinHash: its xxhash64
    values are the stored ones, its md5 values a ``hashlib`` reference over
    the Python 3-word shingles, and a doc without shingles has NULL hashes
    and no band rows."""
    import hashlib

    df = spark.createDataFrame([(1, DOCS[0][1]), (2, "two words")], ["doc_id", "text"])
    sig = {r["doc_id"]: r for r in D.minhash_signatures(df, "doc_id").collect()}
    assert [sig[1][f"h{b}"] for b in range(8)] == STORE_SIGNATURE
    assert sig[2]["shingles"] == [] and [sig[2][f"h{b}"] for b in range(8)] == [None] * 8
    bands = D.lsh_bands(D.minhash_signatures(df, "doc_id"), "doc_id").collect()
    assert sorted(r["doc_id"] for r in bands) == [1] * 4

    w = DOCS[0][1].split()
    shingles = {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}
    md5 = D.minhash_signatures(df, "doc_id", n_hashes=4, hash_fn="md5").filter("doc_id = 1").first()
    assert sorted(md5["shingles"]) == sorted(shingles)
    assert [md5[f"h{b}"] for b in range(4)] == [
        min(hashlib.md5(f"{b}{s}".encode()).hexdigest() for s in shingles) for b in range(4)
    ]


def test_simhash_near_dup(spark, docs):
    # short docs: one word of 13 changed flips ~6 bits (measured) — simhash
    # near-dup is a long-document tool, so test it on long docs where a
    # 1/60-word change measures hamming 1
    long1 = " ".join(f"word{i}" for i in range(60))
    long2 = long1.replace("word59", "word99")
    other = " ".join(f"tok{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, long1), (2, long1), (3, long2), (4, other)], ["doc_id", "text"]
    )
    pairs = D.simhash_near_dup_pairs(df, "doc_id", max_hamming=3)
    got = {(r["a"], r["b"]): r["hamming"] for r in pairs.collect()}
    assert got[(1, 2)] == 0  # identical text → identical simhash
    assert got[(1, 3)] <= 3 and got[(2, 3)] <= 3  # one-word change
    assert not any(4 in p for p in got)


def test_simhash_deterministic(spark, docs):
    a = D.simhash_column(F.col("text"))
    one = docs.select(a.alias("s")).toPandas()
    two = docs.select(a.alias("s")).toPandas()
    assert one.equals(two)


def test_embedding_near_dup(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    base = rng.standard_normal(16).astype("float32")
    rows = [
        (1, [float(x) for x in base]),
        (2, [float(x) for x in base * 1.001]),  # same direction → cos ≈ 1
        (3, [float(x) for x in rng.standard_normal(16)]),
        (4, [float(x) for x in -base]),  # opposite → cos = −1
    ]
    df = spark.createDataFrame(rows, "k int, embedding array<float>")
    pairs = D.embedding_near_dup_pairs(df, "k", threshold=0.95)
    got = {(r["a"], r["b"]): r["cos"] for r in pairs.collect()}
    assert (1, 2) in got and got[(1, 2)] > 0.999
    assert all(p == (1, 2) for p in got)


def test_simhash_pigeonhole_invariant():
    import pytest as _pytest
    from data_quality_monitoring_spark.operators.dedup import simhash_near_dup_pairs

    with _pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_dup_pairs(None, "k", max_hamming=4, n_blocks=4)


def test_connected_components(spark, cc_path):
    """Chain 10-11-12-13-14 (diameter 4 → several propagation rounds),
    a separate pair, and a star; labels converge to min-id components."""
    pairs = [(11, 10), (11, 12), (12, 13), (13, 14), (20, 21), (30, 31), (30, 32), (30, 33)]
    df = spark.createDataFrame(pairs, ["a", "b"])
    comp = {
        r["node"]: r["component"]
        for r in _on_path(D.connected_components(df), cc_path).collect()
    }
    assert {n: comp[n] for n in (10, 11, 12, 13, 14)} == dict.fromkeys(range(10, 15), 10)
    assert comp[20] == comp[21] == 20
    assert {comp[n] for n in (30, 31, 32, 33)} == {30}
    assert len(comp) == 11


def test_drop_duplicate_lines(spark):
    """Boilerplate line in 30/40 docs vanishes everywhere; unique lines
    keep their order; an all-boilerplate doc rebuilds to empty."""
    boiler = "all rights reserved"
    rows = []
    for i in range(40):
        body = f"unique line {i} alpha\nsecond line {i} beta"
        rows.append((i, f"{boiler}\n{body}" if i < 30 else body))
    rows.append((99, boiler))  # nothing but boilerplate
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in D.drop_duplicate_lines(df, "doc_id", max_line_df=10).collect()}
    assert out[0]["text_deduped"] == "unique line 0 alpha\nsecond line 0 beta"
    assert out[0]["n_lines_kept"] == 2
    assert out[35]["text_deduped"] == "unique line 35 alpha\nsecond line 35 beta"
    assert out[99]["text_deduped"] == "" and out[99]["n_lines_kept"] == 0
    assert all(boiler not in r["text_deduped"] for r in out.values())


def test_decontaminate(spark):
    """A doc embedding a benchmark 8-gram is flagged; clean docs are 0."""
    bench_text = "the quick brown fox jumps over the lazy dog tonight again"
    corpus = [
        (1, "intro words then " + bench_text + " trailing words here"),  # contains it
        (2, "totally unrelated content about spark catalyst plans and arrow batches ok"),
        (3, bench_text),  # the benchmark doc itself
    ]
    docs = spark.createDataFrame(corpus, ["doc_id", "text"])
    bench = spark.createDataFrame([(99, bench_text)], ["doc_id", "text"])
    out = {r["doc_id"]: r["n_contaminated"] for r in D.decontaminate(docs, bench, "doc_id", k=8).collect()}
    assert out[1] > 0 and out[3] > 0
    assert out[2] == 0


def test_contamination_stats(spark):
    """Per-doc shingle-overlap fractions are exact, the dirty verdict cuts
    at frac_threshold, and shingle-less docs report (0, 0, 0.0, False)."""
    bench_text = "a b c d e f g h"  # 8 words → 4 distinct 5-shingles
    corpus = [
        (1, bench_text),  # all 4 shingles shared → frac 1.0
        (2, "a b c d e x y z"),  # shingles: abcde + 3 unshared → frac 0.25
        (3, "p q r s t u v w"),  # 4 shingles, none shared → frac 0.0
        (4, "too few words"),  # < 5 words → no shingles
    ]
    docs = spark.createDataFrame(corpus, ["doc_id", "text"])
    bench = spark.createDataFrame([(99, bench_text)], ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in D.contamination_stats(
            docs, bench, "doc_id", k=5, frac_threshold=0.25
        ).collect()
    }
    assert len(out) == 4
    assert (out[1]["n_shingles"], out[1]["n_contaminated"]) == (4, 4)
    assert out[1]["contamination_frac"] == 1.0 and out[1]["dirty"]
    assert (out[2]["n_shingles"], out[2]["n_contaminated"]) == (4, 1)
    assert out[2]["contamination_frac"] == 0.25 and out[2]["dirty"]  # >= cut
    assert (out[3]["n_shingles"], out[3]["n_contaminated"]) == (4, 0)
    assert out[3]["contamination_frac"] == 0.0 and not out[3]["dirty"]
    assert (out[4]["n_shingles"], out[4]["n_contaminated"]) == (0, 0)
    assert out[4]["contamination_frac"] == 0.0 and not out[4]["dirty"]


def test_decontaminate_bloom_no_false_negatives_and_bounded_fpr(spark):
    """The Bloom variant flags a SUPERSET of the exact variant's hits
    (no false negatives by construction), clean docs stay ~clean at the
    default sizing, and a tiny filter (n_bits=64) shows the documented
    false-positive mode without ever dropping a true hit."""
    bench_text = "the quick brown fox jumps over the lazy dog tonight again"
    corpus = [
        (1, "intro words then " + bench_text + " trailing words here"),
        (2, "totally unrelated content about spark catalyst plans and arrow batches ok"),
        (3, bench_text),
    ] + [(10 + i, f"clean doc {i} " + " ".join(f"tok{i}w{j}" for j in range(30)))
         for i in range(40)]
    docs = spark.createDataFrame(corpus, ["doc_id", "text"])
    bench = spark.createDataFrame([(99, bench_text)], ["doc_id", "text"])

    exact = {r["doc_id"]: r["n_contaminated"]
             for r in D.decontaminate(docs, bench, "doc_id", k=8).collect()}
    bloom = {r["doc_id"]: r["n_flagged"]
             for r in D.decontaminate_bloom(docs, bench, "doc_id", k=8).collect()}
    # superset: every exact hit is flagged at least as often
    assert all(bloom[d] >= n for d, n in exact.items())
    assert bloom[1] > 0 and bloom[3] > 0
    # 4 shingles x 4 hashes into 2^20 bits: clean docs stay at 0
    assert bloom[2] == 0 and all(bloom[10 + i] == 0 for i in range(40))

    # saturated filter: 16 positions into 64 bits -> false positives are
    # EXPECTED on clean docs, true hits still never drop
    tiny = {r["doc_id"]: r["n_flagged"]
            for r in D.decontaminate_bloom(docs, bench, "doc_id", k=8, n_bits=64).collect()}
    assert tiny[1] >= exact[1] and tiny[3] >= exact[3]
    # determinism: same inputs, same bits
    again = {r["doc_id"]: r["n_flagged"]
             for r in D.decontaminate_bloom(docs, bench, "doc_id", k=8, n_bits=64).collect()}
    assert tiny == again


def test_lsh_bucket_cap_bounds_family(spark):
    """A 600-doc identical family floods every band bucket; max_bucket
    drops those groups (the family's canonical survives exact dedup
    upstream) while an unrelated near-dup pair still co-buckets."""
    fam_text = " ".join(f"w{i}" for i in range(40))
    other = " ".join(f"tok{i}" for i in range(40))
    rows = [(i, fam_text) for i in range(600)]
    rows += [(1000, other), (1001, other + " extra")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = D.minhash_signatures(df, "doc_id")
    pairs = D.lsh_candidate_pairs(sig, "doc_id", max_bucket=100)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert (1000, 1001) in got
    assert not any(a < 600 and b < 600 for a, b in got)  # family capped out
    # uncapped: the family alone is 600*599/2 pairs
    uncapped = D.lsh_candidate_pairs(sig, "doc_id", max_bucket=None)
    assert uncapped.count() == 600 * 599 // 2 + 1
    # a stored side: a batch key pairs with a stored key on either side
    # of it in key order, never with its own stored row, and the cap
    # counts store and batch rows together (60 + 60 > 100 drops the
    # second family, which pairs in the batch alone)
    fam2 = " ".join(f"v{i}" for i in range(40))
    batch = D.minhash_signatures(spark.createDataFrame(
        rows[600:] + [(2000 + i, fam2) for i in range(60)], ["doc_id", "text"]
    ), "doc_id")
    store = D.minhash_signatures(spark.createDataFrame(
        [(999, other), (1001, other + " extra"), (1002, other)]
        + [(3000 + i, fam2) for i in range(60)], ["doc_id", "text"]
    ), "doc_id")
    with_store = D.lsh_candidate_pairs(batch, "doc_id", max_bucket=100, store=store)
    assert sorted(map(tuple, with_store.collect())) == [
        (1000, 999, False), (1000, 1001, False), (1000, 1001, True), (1000, 1002, False),
        (1001, 999, False), (1001, 1002, False),
    ]
    assert D.lsh_candidate_pairs(batch, "doc_id", max_bucket=100).count() == 60 * 59 // 2 + 1


def test_connected_components_log_convergence(spark, cc_path):
    """300-node path graph (diameter 299): pointer jumping must converge in
    O(log d) rounds — max_iter=12 >= log2(299)+slack, where plain
    propagation would need 299 rounds."""
    pairs = [(i, i + 1) for i in range(299)]
    df = spark.createDataFrame(pairs, ["a", "b"])
    comp = _on_path(D.connected_components(df, max_iter=12), cc_path)
    assert comp.filter(F.col("component") != 0).count() == 0
    assert comp.count() == 300


def test_connected_components_drops_null_endpoints(spark):
    """A pair with a NULL endpoint is dropped on both paths: NULL is not a
    node and does not bridge b to c.  Self-loops give (v, v); duplicate and
    reversed edges change nothing."""
    df = spark.createDataFrame(
        [("a", "b"), ("b", None), (None, "c"), ("c", "c"), ("b", "a"), ("a", "b"),
         ("e", "d"), ("f", "f"), (None, None)],
        "a string, b string",
    )
    want = [("a", "a"), ("b", "a"), ("c", "c"), ("d", "d"), ("e", "d"), ("f", "f")]
    assert _components(df) == _components(df, bound=0)
    assert _components(df)[0] == want


def test_connected_components_long_chain_on_driver(spark):
    """Two interleaved 50k-node chains in shuffled id order (100k nodes):
    the driver path labels every node with its chain's min id."""
    import numpy as np

    rng = np.random.default_rng(0)
    chains = [rng.permutation(np.arange(start, 100_000, 2)) for start in (0, 1)]
    edges = pd.DataFrame(
        {"a": np.concatenate([c[:-1] for c in chains]),
         "b": np.concatenate([c[1:] for c in chains])}
    )
    comp = _on_path(D.connected_components(spark.createDataFrame(edges)), "driver")
    got = comp.groupBy("component").agg(F.count("*").alias("n"), F.min("node").alias("lo"))
    assert sorted(map(tuple, got.collect())) == [(0, 50_000, 0), (1, 50_000, 1)]


def test_connected_components_non_ascii_keys(spark):
    """Component ids are min keys in Spark's string order (UTF-8 bytes) on
    both paths, with keys outside ASCII."""
    df = spark.createDataFrame(
        [("é", "z"), ("z", "Ä"), ("日本", "😀"), ("ß", "日本"), ("e\u0301", "é"), ("a", "Ω"),
         ("🙂", "ｱ")],
        "a string, b string",
    )
    driver = _components(df)
    assert driver == _components(df, bound=0)
    comp = dict(driver[0])
    # bytes: 'e' 0x65 < 'z' 0x7a < 'Ä' 0xc3 0x84 < 'é' 0xc3 0xa9; 'ß' 0xc3 0x9f < 日 0xe6
    assert {comp[k] for k in ("é", "z", "Ä", "e\u0301")} == {"e\u0301"}
    assert comp["😀"] == comp["日本"] == "ß" and comp["Ω"] == "a"
    assert comp["🙂"] == "ｱ"  # U+FF71 < U+1F642 in UTF-8 (not in UTF-16)


def test_connected_components_empty(spark, cc_path):
    """No pairs → no rows, with the key's type."""
    for ddl, key_type in (("a string, b string", "string"), ("a int, b int", "int")):
        comp = D.connected_components(spark.createDataFrame([], ddl))
        assert comp.count() == 0
        assert [f.dataType.simpleString() for f in comp.schema.fields] == [key_type] * 2


def test_jaccard_df_cap_bounds_skew(spark):
    """One boilerplate shingle planted in 50% of docs: the df-cap must
    drop it so no join bucket exceeds the cap."""
    import pandas as pd
    from pyspark.sql import functions as F
    from data_quality_monitoring_spark.operators.dedup import drop_hot_keys, shingle_column

    boiler = "all rights reserved"
    rows = []
    for i in range(200):
        body = f"unique{i}a unique{i}b unique{i}c unique{i}d"
        rows.append((i, f"{boiler} {body}" if i % 2 == 0 else body))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    sh = df.select("doc_id", F.explode(shingle_column(F.col("text"))).alias("shingle"))
    capped = drop_hot_keys(sh, ["shingle"], cap=10)
    max_df = capped.groupBy("shingle").count().agg(F.max("count")).collect()[0][0]
    assert max_df <= 10
    # the boilerplate shingle itself (df=100) is gone
    assert capped.filter(F.col("shingle") == boiler).count() == 0
    # docs keep their rare shingles
    assert capped.select("doc_id").distinct().count() == 200


def test_substring_dedup_planted_span(spark):
    from data_quality_monitoring_spark.operators.dedup import substring_dedup

    span = " ".join(f"s{i}" for i in range(25))  # 25-token repeated span
    uniq_a = " ".join(f"a{i}" for i in range(30))
    uniq_b = " ".join(f"b{i}" for i in range(30))
    uniq_c = " ".join(f"c{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, uniq_a + " " + span),
            (2, uniq_b + " " + span),
            (3, uniq_c),
            (4, "short doc"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in substring_dedup(docs, k=20).collect()
    }
    # the 25 planted tokens vanish from both carriers; unique prefixes stay
    assert out[1]["n_removed"] == 25 and out[1]["text_dedup"] == uniq_a
    assert out[2]["n_removed"] == 25 and out[2]["text_dedup"] == uniq_b
    # untouched docs: nothing removed, text round-trips
    assert out[3]["n_removed"] == 0 and out[3]["text_dedup"] == uniq_c
    # below-window docs produce no grams and are never removed
    assert out[4]["n_removed"] == 0 and out[4]["text_dedup"] == "short doc"


def test_substring_dedup_within_doc_repeat(spark):
    from data_quality_monitoring_spark.operators.dedup import substring_dedup

    loop = " ".join(f"w{i % 10}" for i in range(60))  # period-10 repetition
    docs = spark.createDataFrame([(1, loop)], "doc_id long, text string")
    row = substring_dedup(docs, k=20).collect()[0]
    # every 20-gram of a period-10 loop repeats within the doc → all removed
    assert row["n_removed"] == 60 and row["text_dedup"] == ""


def test_embedding_lsh_hot_bucket_cap(spark):
    """A mass-duplicated embedding family lands in the same bucket of every
    table; the cap anti-joins those hot groups out so the self-join never
    goes quadratic in the family size, and leaves normal corpora exact."""
    import numpy as np

    from data_quality_monitoring_spark.operators.dedup import embedding_near_dup_pairs

    rng = np.random.default_rng(3)
    fam = rng.standard_normal(16)
    rows = [(i, fam.tolist()) for i in range(1200)]
    rand_rows = [(10_000 + i, rng.standard_normal(16).tolist()) for i in range(300)]
    df = spark.createDataFrame(rows + rand_rows, "vec_id long, embedding array<double>")
    capped = embedding_near_dup_pairs(df, "vec_id", max_bucket=100)
    # without the cap the family alone yields 1200*1199/2 = 719k pairs ×32
    # tables of join rows; with it the hot groups are gone entirely
    assert capped.count() < 5000
    # a corpus with no hot buckets is untouched by the cap (exactness)
    rnd = spark.createDataFrame(rand_rows, "vec_id long, embedding array<double>")
    uncapped = sorted(map(tuple, embedding_near_dup_pairs(rnd, "vec_id").collect()))
    capped2 = sorted(
        map(tuple, embedding_near_dup_pairs(rnd, "vec_id", max_bucket=100).collect())
    )
    assert uncapped == capped2


def test_signature_prefilter(spark):
    """est-J prefilter keeps genuinely similar candidate pairs and drops
    band-collision false positives without touching shingle arrays."""
    from data_quality_monitoring_spark.operators.dedup import (
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
        signature_prefilter,
    )

    base = " ".join(f"tok{i}" for i in range(40))
    near = " ".join(f"tok{i}" for i in range(38)) + " other words"
    docs = spark.createDataFrame(
        [("a", base), ("b", near), ("c", "totally different text " * 10)],
        "url string, text string",
    )
    sig = minhash_signatures(docs, "url", "text")
    # hand-planted candidate list: the true near-dup pair + a junk pair
    pairs = spark.createDataFrame([("a", "b"), ("a", "c")], "a string, b string")
    kept = {(r["a"], r["b"]) for r in signature_prefilter(sig, pairs, "url").collect()}
    assert ("a", "b") in kept and ("a", "c") not in kept
    # surviving pairs still verify exactly
    verified = jaccard_verify(docs, lsh_candidate_pairs(sig, "url"), "url", "text", 0.7)
    assert {(r["a"], r["b"]) for r in verified.select("a", "b").collect()} == {("a", "b")}


def test_incremental_substring_dedup(spark, tmp_path):
    """Keep-first across batches: spans already seen in the store kill
    their re-crawls; batch-internal repeats still dedup; fresh text and
    the first batch itself pass through untouched."""
    from data_quality_monitoring_spark.operators.dedup import (
        incremental_substring_dedup,
        substring_dedup,
    )

    store = str(tmp_path / "grams")
    span = " ".join(f"s{i}" for i in range(25))
    fresh_a = " ".join(f"a{i}" for i in range(30))
    fresh_b = " ".join(f"b{i}" for i in range(30))

    b0 = spark.createDataFrame([(1, fresh_a + " " + span)], "doc_id long, text string")
    r0 = {r["doc_id"]: r for r in incremental_substring_dedup(spark, b0, store).collect()}
    assert r0[1]["n_removed"] == 0  # first batch: nothing seen before

    # batch 1: a re-crawl carrying the old span + genuinely new text
    b1 = spark.createDataFrame(
        [(2, fresh_b + " " + span), (3, "completely new words only")],
        "doc_id long, text string",
    )
    r1 = {r["doc_id"]: r for r in incremental_substring_dedup(spark, b1, store).collect()}
    assert r1[2]["n_removed"] == 25 and r1[2]["text_dedup"] == fresh_b
    assert r1[3]["n_removed"] == 0

    # batch 2: within-batch repeat (two fresh docs sharing a new span)
    span2 = " ".join(f"t{i}" for i in range(25))
    b2 = spark.createDataFrame(
        [(4, "c c c " + span2), (5, "d d d " + span2)], "doc_id long, text string"
    )
    r2 = {r["doc_id"]: r for r in incremental_substring_dedup(spark, b2, store, k=20).collect()}
    assert r2[4]["n_removed"] == 25 and r2[5]["n_removed"] == 25

    # empty store ≡ the batch operator (same corpus, same result)
    fresh_store = str(tmp_path / "grams2")
    batch = spark.createDataFrame(
        [(1, fresh_a + " " + span), (2, fresh_b + " " + span)],
        "doc_id long, text string",
    )
    inc = sorted(map(tuple, incremental_substring_dedup(spark, batch, fresh_store).collect()))
    bat = sorted(map(tuple, substring_dedup(batch).collect()))
    assert inc == bat


def test_pagerank_matches_numpy_power_iteration(spark):
    """5-step PageRank vs an independent dense numpy implementation, on a
    graph with a dangling node and a self-loop; ranks stay a distribution."""
    import numpy as np

    from data_quality_monitoring_spark.operators.linkgraph import pagerank

    # self-loop at 2; node 4 has inlinks but no outlinks → dangling branch
    edges = [(0, 1), (0, 2), (1, 2), (2, 2), (3, 0), (1, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, n_iter=5).collect()}

    n, d = 5, 0.85
    M = np.zeros((n, n))
    out = {}
    for s, t in edges:
        out.setdefault(s, []).append(t)
    for s, ts in out.items():
        for t in ts:
            M[t, s] = 1.0 / len(ts)
    r = np.full(n, 1.0 / n)
    for _ in range(5):
        dang = sum(r[i] for i in range(n) if i not in out)
        r = (1 - d) / n + d * (M @ r + dang / n)
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-12, (i, got[i], r[i])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_tolerance_converges_to_numpy_fixed_point(spark):
    """tol mode on a 10^4-node seeded power-law graph: the L1-stopped Spark
    ranks match an independently converged numpy power iteration, the loop
    stops before the iteration ceiling, and deltas are monotone-decreasing."""
    import random

    import numpy as np

    from data_quality_monitoring_spark.operators.linkgraph import pagerank

    rng = random.Random(7)
    n = 10_000
    edges = []
    for s in range(n):
        # Zipf-ish out-degree: most hosts link to 1-3 targets, a few to many
        deg = min(int(1.0 / max(rng.random(), 1e-4)), 50)
        for _ in range(deg):
            # preferential targets: low ids get most in-links (hub skew)
            t = int(n * rng.random() ** 3)
            if t != s:
                edges.append((s, t))
    df = spark.createDataFrame(edges, "src long, dst long").coalesce(8)

    stats: dict = {}
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, n_iter=100, tol=1e-4, stats=stats).collect()
    }
    assert stats["iterations"] < 100, "tol never triggered"
    deltas = stats["l1_deltas"]
    assert all(b < a for a, b in zip(deltas, deltas[1:])), deltas

    # independent dense fixed point (converged far past tol); at the tol
    # stop the geometric tail bounds |spark - fixed_point| by
    # tol * d/(1-d) ≈ 5.7e-4, so compare at 1e-3
    d = 0.85
    uniq = sorted(set(edges))
    nodes = sorted({x for e in uniq for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    m = len(nodes)
    s_idx = np.array([idx[s] for s, _ in uniq])
    t_idx = np.array([idx[t] for _, t in uniq])
    od = np.bincount(s_idx, minlength=m)
    w = 1.0 / od[s_idx]
    dangling = od == 0
    r = np.full(m, 1.0 / m)
    for _ in range(400):
        contrib = np.zeros(m)
        np.add.at(contrib, t_idx, r[s_idx] * w)
        r = (1 - d) / m + d * (contrib + r[dangling].sum() / m)
    l1 = sum(abs(got[v] - r[idx[v]]) for v in nodes)
    assert l1 < 1e-3, l1
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_extract_link_edges(spark):
    """href variants: double/single quotes, mixed case, relative + mailto
    ignored, self-edges dropped, duplicate links counted, malformed UTF-8
    tolerated."""
    from pyspark.sql import Row

    from data_quality_monitoring_spark.operators.linkgraph import (
        extract_link_edges,
    )

    good = (
        b'<html><a href="https://B.example.com/x">b</a>'
        b"<A HREF='http://www.c.example.com/y'>c</A>"
        b'<a href="/relative">r</a><a href="mailto:a@b.c">m</a>'
        b'<a href="https://a.example.com/self">self</a>'
        b'<a href="https://b.example.com/x2">b again</a></html>'
    )
    # invalid UTF-8 byte inside, then a valid link after it
    mangled = b'<html>\xff\xfe<a href="HTTPS://d.example.com/z">d</a></html>'
    pages = spark.createDataFrame(
        [
            Row(url="https://a.example.com/p", html=good),
            Row(url="https://a.example.com/q", html=mangled),
            Row(url="https://e.example.com/r", html=None),
        ],
        "url string, html binary",
    )
    got = {
        (r["src"], r["dst"]): r["n_links"]
        for r in extract_link_edges(pages).collect()
    }
    assert got == {
        ("a.example.com", "b.example.com"): 2,  # duplicate link counted
        ("a.example.com", "c.example.com"): 1,  # www + single quotes
        ("a.example.com", "d.example.com"): 1,  # survives malformed bytes
    }
    # keep_self keeps the intra-host edge
    with_self = {
        (r["src"], r["dst"])
        for r in extract_link_edges(pages, drop_self=False).collect()
    }
    assert ("a.example.com", "a.example.com") in with_self


def test_link_edges_feed_pagerank(spark):
    """The extracted edge list plugs straight into pagerank: a host every
    page links to outranks one nobody links to."""
    from pyspark.sql import Row

    from data_quality_monitoring_spark.operators.linkgraph import (
        extract_link_edges,
        pagerank,
    )

    pages = spark.createDataFrame(
        [
            Row(
                url=f"https://h{i}.example.com/p",
                html=b'<a href="https://hub.example.com/">hub</a>',
            )
            for i in range(6)
        ],
        "url string, html binary",
    )
    edges = extract_link_edges(pages)
    ranks = {r["node"]: r["rank"] for r in pagerank(edges, n_iter=5).collect()}
    assert ranks["hub.example.com"] == max(ranks.values())
    assert abs(sum(ranks.values()) - 1.0) < 1e-9


def test_fuzzy_decontaminate_catches_edited_eval_leak(spark):
    """An eval doc leaked into the corpus with light edits: exact k-gram
    decontamination shows weak overlap, fuzzy (minhash+jaccard) flags it."""
    from data_quality_monitoring_spark.operators.dedup import fuzzy_decontaminate

    eval_text = " ".join(f"eval question token{i} answer{i}" for i in range(30))
    words = eval_text.split()
    # edit every 7th word — exact 8-gram shingles are mostly destroyed
    edited = " ".join(w if i % 7 else w + "x" for i, w in enumerate(words))
    docs = spark.createDataFrame(
        [(0, edited), (1, "completely unrelated prose about weather patterns " * 10)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, eval_text)], "bid long, text string")
    out = fuzzy_decontaminate(docs, bench, "doc_id", "bid", threshold=0.3).toPandas()
    assert set(out["doc_id"]) == {0}
    assert out["jaccard"].iloc[0] >= 0.3
    # determinism under repartition
    out2 = fuzzy_decontaminate(
        docs.repartition(7), bench, "doc_id", "bid", threshold=0.3
    ).toPandas()
    assert out.sort_values(["doc_id", "bench_id"]).values.tolist() == \
        out2.sort_values(["doc_id", "bench_id"]).values.tolist()


def test_fuzzy_decontaminate_band_bucket_cap(spark):
    """A copied-eval family of 8 docs fills each of its 4 band buckets past
    a cap of 5, so at that cap the family is never a candidate, while a
    separately edited leak of another eval doc (one doc per bucket) is
    still flagged.  At the default cap both are flagged."""
    from data_quality_monitoring_spark.operators.dedup import fuzzy_decontaminate

    copied = " ".join(f"copied eval item{i} reply{i}" for i in range(30))
    leaked = " ".join(f"eval question token{i} answer{i}" for i in range(30))
    edited = " ".join(w if i % 7 else w + "x" for i, w in enumerate(leaked.split()))
    docs = spark.createDataFrame(
        [(i, copied) for i in range(8)]
        + [(100, edited), (101, "completely unrelated prose about weather patterns " * 10)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(1, copied), (2, leaked)], "bid long, text string")

    def flagged(**kw):
        out = fuzzy_decontaminate(docs, bench, "doc_id", "bid", threshold=0.3, **kw)
        return {(r["doc_id"], r["bench_id"]) for r in out.collect()}

    assert flagged() == {(i, 1) for i in range(8)} | {(100, 2)}
    assert flagged(max_band_bucket=5) == {(100, 2)}


def test_fuzzy_decontaminate_self_match_is_one(spark):
    from data_quality_monitoring_spark.operators.dedup import fuzzy_decontaminate

    t = "alpha beta gamma delta epsilon zeta eta theta " * 5
    docs = spark.createDataFrame([(0, t)], "doc_id long, text string")
    bench = spark.createDataFrame([(9, t)], "bid long, text string")
    out = fuzzy_decontaminate(docs, bench, "doc_id", "bid").toPandas()
    assert len(out) == 1 and out["jaccard"].iloc[0] == 1.0


def test_anchor_term_stats(spark):
    from data_quality_monitoring_spark.operators.linkgraph import anchor_term_stats

    html = (
        '<html><a href="https://A.example.com/x">Great <b>News</b> Site</a>'
        "<A HREF='http://b.example.com/'>  spam   casino </A>"
        '<a href="/rel">relative skipped</a>'
        '<a href="mailto:a@b.c">mail skipped</a>'
        '<a href="https://src1.com/self">self skipped</a></html>'
    )
    pages = spark.createDataFrame(
        [("https://src1.com/p", bytearray(html, "utf8")),
         ("https://src2.com/p", bytearray(html, "utf8"))],
        "url string, html binary",
    )
    out = anchor_term_stats(pages).toPandas()
    got = {(r["dst"], r["term"]): r["n_srcs"] for _, r in out.iterrows()}
    # tag stripped, whitespace collapsed, lowercased, both srcs counted
    assert got[("a.example.com", "great")] == 2
    assert got[("a.example.com", "news")] == 2
    assert got[("b.example.com", "casino")] == 2
    # self link counted only for the non-self source
    assert got.get(("src1.com", "self"), 1) == 1
    assert not any(d == "" for d, _ in got)


def test_driver_built_tables_start_no_python_workers(spark, tmp_path, monkeypatch):
    """The three tables built on the driver on job paths (duplicate
    clusters, ``dsir_sample``'s rank offsets, the filter CLI's
    ``--ppl-tiers`` cuts) are Arrow-backed: no ``PythonRDD`` anywhere in
    their plans' RDD lineage, broadcast sides included."""
    from data_quality_monitoring_spark.datagen import generate_pages
    from data_quality_monitoring_spark.operators.sampling import dsir_sample
    from data_quality_monitoring_spark.plans import submit

    # the check sees a pickled driver table behind a broadcast
    pickled = spark.createDataFrame([(0, 1)], "id long, x long")
    assert _python_rdd_in_lineage(spark.range(5).join(F.broadcast(pickled), "id"))

    pairs = spark.range(50).select(F.col("id").alias("a"), (F.col("id") % 7).alias("b"))
    assert not _python_rdd_in_lineage(D.connected_components(pairs))

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "science method result analysis experiment data " * 4)
        .otherwise("zzz qqq xxx buy now click here spam offer " * 4)
        .alias("text"),
    )
    top = dsir_sample(docs, docs.filter(F.col("doc_id") % 2 == 0), "doc_id", n=20)
    assert not _python_rdd_in_lineage(top)

    in_dir = str(tmp_path / "in")
    generate_pages(spark, 80, partitions=2).write.parquet(in_dir)
    chunks = []
    monkeypatch.setattr(
        submit.PartitionedSink, "run",
        lambda self, pages, transform, metrics_fn=None: chunks.append(transform(pages)) or {},
    )
    submit.run(spark, submit.build_args(
        ["--input", in_dir, "--output", str(tmp_path / "out"), "--ppl-tiers"]
    ))
    assert "ppl_bucket" in chunks[0].columns
    assert not _python_rdd_in_lineage(chunks[0])


def test_component_keep_best(spark, cc_path):
    """Quality-priority retention: the highest-score member wins its
    cluster (ties → min key), exactly one winner per cluster, and the
    default min-key canonical would have picked differently."""
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "a long, b long")
    comp = _on_path(D.connected_components(pairs, "a", "b"), cc_path)
    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.5), (7, 0.4), (8, 0.4)], "id long, q double"
    )
    out = {r["node"]: r for r in D.component_keep_best(comp, docs, "id", "q").collect()}
    assert out[2]["is_retained"] and not out[1]["is_retained"] and not out[3]["is_retained"]
    assert out[2]["component"] == 1  # min-key canonical ≠ retained member
    # tie in cluster {7,8} → min key wins
    assert out[7]["is_retained"] and not out[8]["is_retained"]
    per_cluster = {}
    for r in out.values():
        per_cluster[r["component"]] = per_cluster.get(r["component"], 0) + int(r["is_retained"])
    assert all(v == 1 for v in per_cluster.values())


def test_build_corpus_keep_best_retains_high_quality(spark, tmp_path):
    """build_corpus(keep_best=True): in a planted near-dup cluster the
    higher-quality-score member survives even when its url sorts AFTER the
    other (the default keep-min-key would drop it)."""
    from data_quality_monitoring_spark.datagen import generate_pages, generate_pages_pandas
    from data_quality_monitoring_spark.operators.textstats import quality_score
    from data_quality_monitoring_spark.plans.corpus import build_corpus
    from data_quality_monitoring_spark.plans.pipeline import quality_filter

    base_pdf = generate_pages_pandas(200)
    base = generate_pages(spark, 200)
    kept_urls = {
        r["url"]
        for r in quality_filter(spark, base).filter("keep").select("url").collect()
    }
    donor = (
        base_pdf[base_pdf.url.isin(kept_urls)]
        .assign(nw=lambda d: d.text.str.split().str.len())
        .sort_values("nw", ascending=False)
        .iloc[0]
    )
    # near-dup with MORE text (higher quality score via length factor) and a
    # url that sorts after every base url
    richer = {
        **donor.drop("nw").to_dict(),
        "url": "https://zzz.example/richer-near-dup",
        "text": donor.text + " and the story continues with more details",
    }
    pages = base.unionByName(
        spark.createDataFrame(pd.DataFrame([richer])[base.columns])
    )

    corpus, stats = build_corpus(spark, pages, jaccard_threshold=0.7, keep_best=True)
    urls = {r["url"] for r in corpus.select("url").collect()}
    corpus.write.parquet(str(tmp_path / "corpus"))
    assert stats["final"] == spark.read.parquet(str(tmp_path / "corpus")).count()
    # sanity: the planted doc really scores higher post-scrub
    both = quality_filter(spark, pages).filter(
        F.col("url").isin([donor.url, richer["url"]])
    ).select("url", quality_score(F.col("text_scrubbed")).alias("q")).collect()
    qmap = {r["url"]: r["q"] for r in both}
    assert qmap[richer["url"]] > qmap[donor.url]
    assert richer["url"] in urls and donor.url not in urls
