"""End-to-end corpus build: filter → exact dedup → near-dup clusters → sample."""

import pandas as pd
from pyspark.sql import functions as F

from data_quality_monitoring_spark.datagen import generate_pages, generate_pages_pandas
from data_quality_monitoring_spark.plans.corpus import build_corpus
from data_quality_monitoring_spark.plans.pipeline import quality_filter


def test_build_corpus_dedups_and_counts(spark, tmp_path, monkeypatch):
    base_pdf = generate_pages_pandas(300)
    base = generate_pages(spark, 300)
    kept_urls = {
        r["url"]
        for r in quality_filter(spark, base).filter("keep").select("url").collect()
    }
    # two kept source docs with long texts → plant one exact dup and one
    # near dup (last word dropped keeps Jaccard >= ~0.9 on 3-word shingles)
    donors = (
        base_pdf[base_pdf.url.isin(kept_urls)]
        .assign(nw=lambda d: d.text.str.split().str.len())
        .sort_values("nw", ascending=False)
        .head(2)
    )
    assert len(donors) == 2 and (donors.nw > 30).all()
    d1, d2 = donors.iloc[0], donors.iloc[1]
    crafted = pd.DataFrame(
        [
            {**d1.drop("nw").to_dict(), "url": "https://zzz.example/exact-dup"},
            {
                **d2.drop("nw").to_dict(),
                "url": "https://zzz.example/near-dup",
                "text": d2.text.rsplit(" ", 1)[0],
            },
        ]
    )
    pages = base.unionByName(spark.createDataFrame(crafted[base.columns]))

    import data_quality_monitoring_spark.plans.corpus as corpus_plan

    losers = []
    keep_one = corpus_plan.near_dup_losers

    def spy(*args):
        losers.append(keep_one(*args))
        return losers[-1]

    monkeypatch.setattr(corpus_plan, "near_dup_losers", spy)
    corpus, stats = build_corpus(spark, pages, jaccard_threshold=0.7)
    urls = {r["url"] for r in corpus.select("url").collect()}
    # without a store the keep-one rule folds to the collected components
    # table: no store branch, no join, no aggregate
    plan = losers[0]._jdf.queryExecution().optimizedPlan()
    assert plan.nodeName() == "LocalRelation", plan.toString()
    assert [r.url for r in losers[0].collect()] == ["https://zzz.example/near-dup"]

    assert stats["docs_in"] == 302
    # the exact dup lost to its donor (min url is canonical)
    assert "https://zzz.example/exact-dup" not in urls and d1.url in urls
    # the near dup clustered with its donor and lost
    assert "https://zzz.example/near-dup" not in urls and d2.url in urls
    assert stats["final"] <= stats["after_exact_dedup"] <= stats["kept"]
    assert stats["after_exact_dedup"] == stats["kept"] - 1  # one exact dup planted
    assert stats["final"] == stats["after_exact_dedup"] - 1  # one near dup planted
    corpus.write.parquet(str(tmp_path / "corpus"))
    assert stats["final"] == spark.read.parquet(str(tmp_path / "corpus")).count()


def test_build_corpus_sampling_gate(spark):
    pages = generate_pages(spark, 200)
    full, s_full = build_corpus(spark, pages)
    sampled, s_samp = build_corpus(
        spark, pages, sample_rates={"en": 0.4}, default_rate=0.5
    )
    assert s_samp["final"] < s_full["final"]
    # sampled corpus is a subset of the full one (nested determinism)
    full_urls = {r["url"] for r in full.select("url").collect()}
    samp_urls = {r["url"] for r in sampled.select("url").collect()}
    assert samp_urls < full_urls


def test_incremental_dedup_across_batches(spark, tmp_path):
    """New-batch dedup against a stored signature set: exact dups of batch-1
    docs are dropped in batch 2, near-dups lose to the existing corpus,
    fresh docs pass, and the store grows so batch 3 sees batch 2."""
    import pandas as pd
    from pyspark.sql import functions as F

    from data_quality_monitoring_spark.plans.corpus import incremental_dedup

    store = str(tmp_path / "sigs")

    def docs(rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["url", "text_scrubbed"])
        )

    base_text = (
        "the quick brown fox jumps over the lazy dog while seventeen other "
        "animals watch from behind a wooden fence near the river bank and "
        "every single one of them wonders how long this spectacle can last "
        "before someone finally decides to go home for dinner tonight"
    )
    b1 = docs([("b1/a", base_text), ("b1/b", "completely different first corpus text " * 6)])
    acc1, s1 = incremental_dedup(spark, b1, store)
    assert s1 == {"batch_in": 2, "accepted": 2, "dropped": 0}

    near = base_text.replace("lazy", "sleepy")  # high-Jaccard near-dup of b1/a
    b2 = docs(
        [
            ("b2/exact", base_text),            # exact dup of b1/a → dropped
            ("b2/near", near),                  # near dup of b1/a → dropped
            ("b2/fresh", "entirely novel second batch content " * 6),
        ]
    )
    acc2, s2 = incremental_dedup(spark, b2, store)
    assert s2["batch_in"] == 3 and s2["accepted"] == 1
    assert [r["url"] for r in acc2.select("url").collect()] == ["b2/fresh"]

    # batch 3 dedups against batch 2's accepted docs too
    b3 = docs([("b3/dup-of-fresh", "entirely novel second batch content " * 6)])
    acc3, s3 = incremental_dedup(spark, b3, store)
    assert s3 == {"batch_in": 1, "accepted": 0, "dropped": 1}

    # keep-one within a single new batch: min key survives
    b4 = docs([("b4/x1", "batch four only text " * 8), ("b4/x2", "batch four only text " * 8)])
    acc4, s4 = incremental_dedup(spark, b4, store)
    # exact dup inside the batch: content hashes equal → LSH path sees both
    # as new; min key wins (x1)
    urls = sorted(r["url"] for r in acc4.select("url").collect())
    assert urls == ["b4/x1"] and s4["accepted"] == 1


def test_incremental_dedup_review_regressions(spark, tmp_path, monkeypatch):
    """Pinned fixes from the round-2 self-review: short docs survive,
    the FIRST batch dedups internally, transitive new-x-new chains keep
    exactly one doc (connected components), and the accepted docs are
    handed to the writer BEFORE the signature store moves.  The shingle
    UDF runs once per doc: the plan that checkpoints the accepted
    signatures holds one ``ArrowEvalPython`` node (the cached batch
    features print it once per scan, always with the same ids)."""
    import pandas as pd

    from data_quality_monitoring_spark.plans.corpus import incremental_dedup

    store = str(tmp_path / "sigs")

    def docs(rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["url", "text_scrubbed"])
        )

    # first batch: internal exact dup + a sub-3-word doc
    b1 = docs(
        [
            ("b1/a", "first corpus text with plenty of words here " * 4),
            ("b1/a-dup", "first corpus text with plenty of words here " * 4),
            ("b1/tiny", "two words"),
        ]
    )
    writes, plans = [], []
    checkpoint = type(b1).localCheckpoint

    def spy(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return checkpoint(df, *args, **kwargs)

    with monkeypatch.context() as mp:
        mp.setattr(type(b1), "localCheckpoint", spy)
        acc1, s1 = incremental_dedup(
            spark, b1, store, accepted_writer=lambda df: writes.append(df.count())
        )
    udf_nodes = {ln[ln.index("ArrowEvalPython"):] for ln in plans[-1].split("\n")
                 if "ArrowEvalPython" in ln}
    assert len(udf_nodes) == 1
    urls1 = sorted(r["url"] for r in acc1.select("url").collect())
    assert urls1 == ["b1/a", "b1/tiny"]  # dup dropped, short doc SURVIVES
    assert s1 == {"batch_in": 3, "accepted": 2, "dropped": 1}
    assert writes == [2]  # writer ran, before the store append

    # short docs still dedup EXACTLY in later batches
    b2 = docs([("b2/tiny-again", "two words")])
    _, s2 = incremental_dedup(spark, b2, store)
    assert s2["accepted"] == 0

    # transitive chain A~B, B~C (A !~ C): one survivor, like build_corpus
    mid = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6).split()
    a_text = " ".join(mid)
    b_text = " ".join(mid[:55] + ["changed1", "changed2", "changed3", "changed4", "changed5"])
    c_text = " ".join(
        ["opener1", "opener2", "opener3", "opener4", "opener5"] + mid[5:55]
        + ["changed1", "changed2", "changed3", "changed4", "changed5"]
    )
    b3 = docs([("c3/1", a_text), ("c3/2", b_text), ("c3/3", c_text)])
    acc3, s3 = incremental_dedup(spark, b3, str(tmp_path / "sigs2"))
    urls3 = sorted(r["url"] for r in acc3.select("url").collect())
    # regardless of which edges clear the 0.7 bar, at most min-key chains
    # survive; with A~B and B~C verified the component keeps c3/1 only
    assert "c3/1" in urls3 and len(urls3) <= 2


def _sig_batch(spark, i):
    rows = []
    for j in range(40):
        rows.append(
            (f"u{i}_{j}", f"doc {i} {j} " + " ".join(f"w{(j + t) % 7}" for t in range(30)))
        )
    # identical text in every batch: exact-dup against the store
    rows.append((f"dup{i}", "same same " + " ".join(f"x{t}" for t in range(30))))
    # a family of 5 near-dups (Jaccard 0.95) per batch, also near-dups of
    # every other batch's family: the only rows a hot-bucket cap can change
    body = " ".join(f"f{t}" for t in range(40))
    for m in range(5):
        rows.append((f"fam{i}_{m}", f"{body} e{i}x{m}"))
    return spark.createDataFrame(rows, "url string, text_scrubbed string")


def test_incremental_dedup_hot_bucket_cap(spark, tmp_path):
    """At max_bucket=3 every family bucket (5+ members) is hot, so the
    near-dups never pair and each batch keeps its whole family; uncapped,
    batch 0 already keeps only one family member.  Per-batch results are
    pinned."""
    from data_quality_monitoring_spark.plans.corpus import incremental_dedup

    def batch(i, store, max_bucket):
        acc, st = incremental_dedup(spark, _sig_batch(spark, i), store, max_bucket=max_bucket)
        return st, sorted(r.url for r in acc.select("url").collect())

    def urls(i, extra):
        return sorted([f"u{i}_{j}" for j in range(40)] + extra)

    fam = [[f"fam{i}_{m}" for m in range(5)] for i in range(3)]
    store = str(tmp_path / "sig3")
    assert [batch(i, store, 3) for i in range(3)] == [
        ({"batch_in": 46, "accepted": 46, "dropped": 0}, urls(0, ["dup0", *fam[0]])),
        ({"batch_in": 46, "accepted": 45, "dropped": 1}, urls(1, fam[1])),
        ({"batch_in": 46, "accepted": 45, "dropped": 1}, urls(2, fam[2])),
    ]
    assert batch(0, str(tmp_path / "sig500"), 500) == (
        {"batch_in": 46, "accepted": 42, "dropped": 4}, urls(0, ["dup0", "fam0_0"])
    )


def test_incremental_stores_read_uri_paths(spark, tmp_path):
    """Stores named by a file:// URI are read back: the same batch fed twice
    is dropped whole the second time, and its repeated spans are stripped."""
    from data_quality_monitoring_spark.operators.dedup import incremental_substring_dedup
    from data_quality_monitoring_spark.plans.corpus import incremental_dedup

    batch = _sig_batch(spark, 0)
    sig_store = (tmp_path / "sigs").as_uri()
    _, first = incremental_dedup(spark, batch, sig_store)
    _, again = incremental_dedup(spark, batch, sig_store)
    assert first["accepted"] == 42
    assert again == {"batch_in": 46, "accepted": 0, "dropped": 46}

    gram_store = (tmp_path / "grams").as_uri()
    docs = spark.createDataFrame([(1, " ".join(f"w{i}" for i in range(30)))], "doc_id long, text string")
    first = incremental_substring_dedup(spark, docs, gram_store).first()
    again = incremental_substring_dedup(spark, docs, gram_store).first()
    assert first["n_removed"] == 0
    assert again["n_removed"] == 30 and again["text_dedup"] == ""


def test_incremental_keep_one_matches_build_corpus(spark, tmp_path):
    """One keep-one rule: incremental dedup of ``build_corpus``'s kept docs
    into an empty store accepts exactly the urls ``build_corpus`` keeps.
    The pages: 120 generated ones plus, for each of the first 12, an exact
    copy and a near copy (last word dropped) under larger urls."""
    from data_quality_monitoring_spark.plans.corpus import incremental_dedup

    src = generate_pages_pandas(120)
    head = src.head(12)
    copies = pd.concat([
        head.assign(url=head.url + "#exact"),
        head.assign(url=head.url + "#near", text=head.text.str.rsplit(" ", n=1).str[0]),
    ])
    pages = generate_pages(spark, 120).unionByName(spark.createDataFrame(copies[src.columns]))
    corpus, stats = build_corpus(spark, pages)
    urls = {r.url for r in corpus.select("url").collect()}
    spark.catalog.clearCache()
    kept = quality_filter(spark, pages).filter("keep").select("url", "lang", "text_scrubbed")
    acc, s = incremental_dedup(spark, kept.persist(), str(tmp_path / "sigs"))
    assert {r.url for r in acc.select("url").collect()} == urls
    kept.unpersist()
    assert s["accepted"] == stats["final"] == len(urls) < stats["after_exact_dedup"]
