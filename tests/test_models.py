"""Langid + perplexity model behavior and determinism."""

import pandas as pd

from data_quality_monitoring_spark.artifacts import (
    get_bigram_models,
    get_langid_model,
    get_trigram_models,
    training_texts,
)
from data_quality_monitoring_spark.datagen import LANGS


def test_langid_separates_languages():
    model = get_langid_model()
    texts, claims = [], []
    for lang in LANGS:
        for t in training_texts(lang, 10):
            texts.append(t)
            claims.append(lang)
    out = model.score_batch(pd.Series(texts), pd.Series(claims))
    assert (out["pred_lang"] == pd.Series(claims)).all()
    assert (out["claimed_score"] > 0.9).all()


def test_langid_flags_mismatch():
    model = get_langid_model()
    fr = training_texts("fr", 5)
    out = model.score_batch(pd.Series(fr), pd.Series(["en"] * 5))
    assert (out["claimed_score"] < 0.1).all()


def test_langid_null_and_empty():
    model = get_langid_model()
    out = model.score_batch(pd.Series([None, "", "   "]), pd.Series(["en"] * 3))
    assert out["pred_lang"].isna().all()


def test_perplexity_clean_vs_gibberish():
    lms = get_bigram_models()
    clean = training_texts("en", 5)
    clean_scores = [lms["en"].nll(t) for t in clean]
    gibberish = "qzxv jkwpf mnbvt yhgrd xswqa zplmk" * 10
    assert max(clean_scores) < 6.0 < lms["en"].nll(gibberish)


def test_perplexity_cross_language():
    lms = get_bigram_models()
    de = training_texts("de", 3)
    # German scored by its own LM: fine; by the English LM: anomalous
    assert all(lms["de"].nll(t) < 6.0 for t in de)
    assert all(lms["en"].nll(t) > 6.0 for t in de)


def test_models_deterministic():
    a, b = get_langid_model(), get_langid_model()
    assert a is b  # cached
    t = training_texts("en", 1)[0]
    s1 = a.score_batch(pd.Series([t]), pd.Series(["en"]))["claimed_score"][0]
    s2 = a.score_batch(pd.Series([t]), pd.Series(["en"]))["claimed_score"][0]
    assert s1 == s2
    lm = get_bigram_models()["en"]
    assert lm.nll(t) == lm.nll(t)


GOLDEN_TEXT = "the table holds a query of spark rows"
GOLDEN_GIBBERISH = "zxq qqq vvv zx"


def test_golden_scores_pinned():
    """Exact pinned outputs on fixed strings — a scoring regression cannot
    hide behind the driver's rows-only checks (VERDICT r01 item 10)."""
    langid = get_langid_model()
    s = langid.score_batch(
        pd.Series([GOLDEN_TEXT, GOLDEN_TEXT, ""]), pd.Series(["en", "de", "en"])
    )
    assert list(s["pred_lang"])[:2] == ["en", "en"]
    assert round(float(s["claimed_score"].iloc[0]), 6) == 1.0
    assert round(float(s["claimed_score"].iloc[1]), 6) == 0.0  # claimed de, is en
    assert pd.isna(s["pred_lang"].iloc[2])

    lms = get_bigram_models()
    assert round(lms["en"].nll(GOLDEN_TEXT), 6) == 10.763418
    assert round(lms["en"].nll(GOLDEN_GIBBERISH), 6) == 12.754618
    assert round(lms["de"].nll("the table holds a query"), 6) == 12.743229
    tri = get_trigram_models()["en"]
    assert round(tri.nll(GOLDEN_TEXT), 6) == 11.120626
    assert round(tri.nll(GOLDEN_GIBBERISH), 6) == 13.160083


def test_golden_scores_through_spark_udfs(spark):
    """Same pinned values through the Arrow UDF path (langid_struct /
    perplexity_column) — catches broadcast/wiring regressions too."""
    from pyspark.sql import functions as F

    from data_quality_monitoring_spark.operators.langid import langid_struct
    from data_quality_monitoring_spark.operators.perplexity import perplexity_column

    df = spark.createDataFrame(
        pd.DataFrame({"text": [GOLDEN_TEXT, GOLDEN_GIBBERISH], "lang": ["en", "en"]})
    )
    r = langid_struct(spark, get_langid_model(), F.col("text"), F.col("lang"))
    ppl = perplexity_column(spark, get_bigram_models(), F.col("text"), F.col("lang"))
    rows = df.select(r.alias("r"), F.round(ppl, 6).alias("ppl")).collect()
    assert rows[0]["r"]["pred_lang"] == "en"
    assert round(rows[0]["r"]["claimed_score"], 6) == 1.0
    assert rows[0]["ppl"] == 10.763418
    assert rows[1]["ppl"] == 12.754618


def test_distributed_training_matches_local(spark):
    """train_langid_distributed / train_ngram_distributed (both orders) are
    bit-identical to the local closed-form trainers on the same corpus —
    the property that lets ml-train/llm-train scale without train/serve
    skew."""
    import numpy as np
    import pandas as pd

    from data_quality_monitoring_spark.artifacts import training_texts
    from data_quality_monitoring_spark.operators.langid import (
        train_langid,
        train_langid_distributed,
    )
    from data_quality_monitoring_spark.operators.perplexity import (
        train_ngram,
        train_ngram_distributed,
    )

    tbl = {lang: training_texts(lang, 25) for lang in ("en", "de")}
    rows = [(t, lang) for lang, ts in tbl.items() for t in ts]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["text", "lang"]))

    local = train_langid(tbl)
    dist = train_langid_distributed(docs)
    assert dist.langs == local.langs
    assert np.array_equal(dist.log_probs, local.log_probs)
    assert np.array_equal(dist.log_priors, local.log_priors)

    for order in (2, 3):
        lms = train_ngram_distributed(docs, order)
        for lang in tbl:
            loc = train_ngram(tbl[lang], order)
            got = lms[lang]
            assert got.vocab == loc.vocab
            assert got.n_tokens == loc.n_tokens
            assert np.array_equal(got.ctx, loc.ctx)
            assert np.array_equal(got.word, loc.word)
            assert got.counts == loc.counts
            probe = tbl[lang][0] + " zzz-unseen-token"
            assert got.nll(probe) == loc.nll(probe)


def test_train_cli_modes(spark, tmp_path, monkeypatch):
    """ml-train / llm-train CLI: artifacts persist, reload, and score;
    ``--llm-order 3`` trains, names and reloads order-3 LMs that score
    exactly like the distributed trainer's own on the same input.  A
    ``file://`` output run from an empty working directory puts every
    artifact and probe report in that output, and nothing in the cwd."""
    import pandas as pd

    from data_quality_monitoring_spark.artifacts import training_texts
    from data_quality_monitoring_spark.operators.langid import LangIdModel
    from data_quality_monitoring_spark.operators.perplexity import (
        load_ngram_npz,
        train_ngram_distributed,
    )
    from data_quality_monitoring_spark.plans.submit import (
        build_args,
        run_llm_train,
        run_ml_train,
    )

    rows = [(t, lang) for lang in ("en", "de") for t in training_texts(lang, 15)]
    in_dir = str(tmp_path / "train_in")
    spark.createDataFrame(pd.DataFrame(rows, columns=["text", "lang"])).write.parquet(in_dir)

    out_ml = str(tmp_path / "ml_out")
    s1 = run_ml_train(spark, build_args(["--mode", "ml-train", "--input", in_dir, "--output", out_ml]))
    m = LangIdModel.from_npz(s1["path"])
    assert m.langs == ["de", "en"]
    scored = m.score_batch(pd.Series([rows[0][0]]), pd.Series(["en"]))
    assert scored["pred_lang"][0] in ("en", "de")

    out_llm = str(tmp_path / "llm_out")
    s2 = run_llm_train(spark, build_args(["--mode", "llm-train", "--input", in_dir, "--output", out_llm]))
    lm = load_ngram_npz(s2["en"]["path"])
    assert lm.nll(rows[0][0]) < lm.nll("zx qv jk wp zx qv jk wp")

    out_tri = tmp_path / "llm3_out"
    s3 = run_llm_train(spark, build_args(
        ["--mode", "llm-train", "--input", in_dir, "--output", str(out_tri),
         "--llm-order", "3"]
    ))
    assert sorted(p.name for p in out_tri.glob("*.npz")) == ["trigram_de.npz", "trigram_en.npz"]
    expect = train_ngram_distributed(spark.read.parquet(in_dir), order=3)
    for lang in ("en", "de"):
        assert s3[lang]["order"] == 3
        lm = load_ngram_npz(s3[lang]["path"])
        assert lm.order == 3 and lm.counts == expect[lang].counts
        for probe in (rows[0][0], rows[-1][0], "zx qv jk wp zx qv jk wp"):
            assert lm.nll(probe) == expect[lang].nll(probe)

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    uri_out = tmp_path / "uri_out"
    run_ml_train(spark, build_args(
        ["--mode", "ml-train", "--input", in_dir, "--output", uri_out.as_uri()]
    ))
    assert LangIdModel.from_npz(str(uri_out / "langid_model.npz")).langs == ["de", "en"]
    assert (uri_out / "train_probe.json").exists()
    run_llm_train(spark, build_args(
        ["--mode", "llm-train", "--input", in_dir, "--output", (uri_out / "lm").as_uri()]
    ))
    assert load_ngram_npz(str(uri_out / "lm" / "bigram_en.npz")).order == 2
    assert sorted(p.name for p in (uri_out / "lm").glob("*.json")) == ["train_probe.json"]
    assert list(cwd.iterdir()) == []


def test_quality_classifier_separates_and_pins(spark):
    """fastText-style quality model: clean text scores near 1, junk near 0
    (separation), with exact pinned posteriors through both the artifact
    object and the Arrow UDF path."""
    import pandas as pd
    from pyspark.sql import functions as F

    from data_quality_monitoring_spark.artifacts import get_quality_model
    from data_quality_monitoring_spark.operators.quality_model import (
        quality_model_finding,
        quality_prob,
    )

    # NB quality model is trained on the seeded clean corpus — its notion
    # of "good" is that domain's vocabulary (function-word English), so the
    # golden positive must be in-domain (GOLDEN_TEXT's "spark/query/table"
    # tokens are out-of-vocab and score as junk, correctly for this model)
    clean_text = "the of and to in is was for that it with as his on be"
    m = get_quality_model()
    s = m.score_batch(
        pd.Series([clean_text, GOLDEN_GIBBERISH, "437 8291 5560 731 99", None]),
        pd.Series(["good"] * 4),
    )["claimed_score"]
    assert s.iloc[0] > 0.99  # clean English
    assert s.iloc[1] < 0.01  # gibberish
    assert s.iloc[2] < 0.01  # digit wall
    assert pd.isna(s.iloc[3])
    golden = [round(float(x), 6) for x in s.iloc[:3]]

    df = spark.createDataFrame(
        pd.DataFrame({"text": [clean_text, GOLDEN_GIBBERISH, "437 8291 5560 731 99"]})
    )
    score = quality_prob(spark, m, F.col("text"))
    rows = df.select(
        F.round(score, 6).alias("p"), quality_model_finding(score).alias("f")
    ).collect()
    assert [r["p"] for r in rows] == golden
    assert rows[0]["f"] is None  # clean → no finding
    assert rows[1]["f"]["code"] == "LOW_QUALITY_MODEL"
    assert rows[1]["f"]["probability"] >= 0.99 - 1e-9


def test_quality_classifier_separation_on_corpus(spark):
    """Bucket-level AUC on the datagen corpus: every clean-bucket doc
    outranks every gibberish/digit-wall doc."""
    from pyspark.sql import functions as F

    from data_quality_monitoring_spark.artifacts import get_quality_model
    from data_quality_monitoring_spark.datagen import generate_pages
    from data_quality_monitoring_spark.operators.quality_model import quality_prob

    pages = generate_pages(spark, 320, partitions=4)
    # doc_id % 16 buckets: 0-7 clean langs, 12 digit walls, 13 gibberish
    # (10/11 — ws-padded and high-repetition — reuse the CLEAN vocab, so a
    # char-n-gram model rightly scores them good; the heuristic rules own
    # those failure modes)
    bucket = F.expr("cast(substring_index(url, '/', -1) as long) % 16")
    scored = (
        pages.filter(F.col("text").isNotNull() & (F.col("text") != ""))
        .select(bucket.alias("b"), quality_prob(spark, get_quality_model(), F.col("text")).alias("p"))
        .toPandas()
    )
    clean = scored[scored.b < 8].p
    junk = scored[scored.b.isin([12, 13])].p
    assert len(clean) > 100 and len(junk) > 20
    assert clean.min() > junk.max()


def test_perplexity_buckets_rank_and_threshold(spark):
    """CCNet head/middle/tail tiers: the exact rank form and the
    broadcast-threshold (100-TB) form agree on a corpus with well-separated
    scores; NULL scores label 'unscored' in both."""
    from data_quality_monitoring_spark.operators.perplexity import perplexity_buckets

    rows = [
        # lang 'en': 9 docs with distinct ppl 1..9 → 3 per tier
        *[(f"e{i}", "en", float(i)) for i in range(1, 10)],
        # lang 'fr': 3 docs
        ("f1", "fr", 2.0), ("f2", "fr", 5.0), ("f3", "fr", 8.0),
        # NULL lang folds into 'en'; NULL score → unscored
        ("x1", None, 4.5), ("x2", "en", None),
    ]
    scored = spark.createDataFrame(rows, "doc_id string, lang string, ppl double")

    ranked = {
        r["doc_id"]: r["ppl_bucket"]
        for r in perplexity_buckets(scored, mode="rank").collect()
    }
    assert ranked["x2"] == "unscored"
    assert ranked["f1"] == "head" and ranked["f2"] == "middle" and ranked["f3"] == "tail"
    # en partition includes x1 (null lang → 'en'): 10 docs, percent_rank
    # thirds → 1..3 + x1(4.5) head-or-middle boundary: ranks 0..9 over 10 docs,
    # pr=idx/9; head = pr < 1/3 → idx 0,1,2 → ppl 1,2,3
    assert [ranked[f"e{i}"] for i in (1, 2, 3)] == ["head"] * 3
    assert ranked["e9"] == "tail"

    thr = {
        r["doc_id"]: r["ppl_bucket"]
        for r in perplexity_buckets(scored, mode="threshold").collect()
    }
    assert thr["x2"] == "unscored"
    # away from interpolated boundaries the two forms agree tier-for-tier
    for d in ("f1", "f2", "f3", "e1", "e2", "e9"):
        assert thr[d] == ranked[d], d

    import pytest as _pytest
    with _pytest.raises(ValueError):
        perplexity_buckets(scored, mode="nope")


def test_perplexity_buckets_threshold_mode_has_no_window_sort(spark):
    """The 100-TB path must not plan a per-language window sort; the rank
    form does (that's its contract role)."""
    from data_quality_monitoring_spark.operators.perplexity import perplexity_buckets

    scored = spark.createDataFrame(
        [(f"d{i}", "en", float(i)) for i in range(10)],
        "doc_id string, lang string, ppl double",
    )
    thr_plan = perplexity_buckets(scored, mode="threshold")._jdf.queryExecution().optimizedPlan().toString()
    rank_plan = perplexity_buckets(scored, mode="rank")._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" not in thr_plan
    assert "percentile_approx" in thr_plan
    assert "Window" in rank_plan


def test_perplexity_buckets_auto_mode_row_cutoff(spark):
    """Default mode='auto' (VERDICT r3 task 5): small frames get the exact
    rank form; above rank_cutoff the plan flips to broadcast thresholds —
    a caller who never picks a mode cannot ship the per-language global
    sort to a 100-TB run."""
    from data_quality_monitoring_spark.operators.perplexity import perplexity_buckets

    scored = spark.createDataFrame(
        [(f"d{i}", "en", float(i)) for i in range(12)],
        "doc_id string, lang string, ppl double",
    )
    small = {r["doc_id"]: r["ppl_bucket"] for r in perplexity_buckets(scored).collect()}
    exact = {
        r["doc_id"]: r["ppl_bucket"]
        for r in perplexity_buckets(scored, mode="rank").collect()
    }
    assert small == exact  # 12 rows << 5M default cutoff → rank form
    big_plan = (
        perplexity_buckets(scored, mode="auto", rank_cutoff=0)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "Window" not in big_plan
    assert "percentile_approx" in big_plan


def test_langid_null_claim_skips_mismatch():
    """Raw-crawl semantics: claimed lang None → no mismatch finding (score
    None); a claimed-but-untrained lang still flags (score 0.0)."""
    import pandas as pd

    from data_quality_monitoring_spark.artifacts import get_langid_model

    m = get_langid_model()
    s = m.score_batch(
        pd.Series(["the quick brown fox jumps over the lazy dog"] * 3),
        pd.Series([None, "xx", "en"]),
    )
    assert s["claimed_score"].iloc[0] is None or pd.isna(s["claimed_score"].iloc[0])
    assert s["claimed_score"].iloc[1] == 0.0
    assert s["claimed_score"].iloc[2] > 0.5
    assert s["pred_lang"].iloc[0] == "en"  # prediction still emitted


def test_ngram_distributed_matches_local_and_separates(spark):
    """train_ngram_distributed is bit-identical to the local trainer at
    both orders; each order scores junk far above clean, and the trigram
    tier scores in-domain continuations below the bigram tier — the
    property that makes the higher-order "KenLM-style" model worth its
    extra counts."""
    import pandas as pd

    from data_quality_monitoring_spark.artifacts import training_texts
    from data_quality_monitoring_spark.operators.perplexity import (
        train_ngram,
        train_ngram_distributed,
    )

    texts = training_texts("en", 30)
    docs = spark.createDataFrame(
        pd.DataFrame([(t, "en") for t in texts], columns=["text", "lang"])
    )
    clean = texts[0]
    junk = "zq wv xx jkl pq mn vv kq " * 6
    local = {}
    for order in (2, 3):
        local[order] = train_ngram(texts, order)
        dist = train_ngram_distributed(docs, order)["en"]
        assert dist.vocab == local[order].vocab
        assert dist.counts == local[order].counts
        assert local[order].nll(junk) > local[order].nll(clean) + 2.0
    # higher order helps on in-domain text (strictly lower mean NLL)
    assert local[3].nll(clean) < local[2].nll(clean)


def test_lm_trainer_driver_collect_is_bounded(spark):
    """VERDICT r3 task 1: on a heavy-tail-vocab corpus the vocab pass cuts
    top-k per language ON the cluster — the driver collects at most
    langs × (max_vocab - 2) rows — and the n-gram-type floor prunes the
    collected count table, while floor=1 stays bit-identical to local."""
    import pandas as pd

    from data_quality_monitoring_spark.operators.perplexity import (
        _build_vocabs,
        _vocab_rows,
        train_ngram,
        train_ngram_distributed,
    )

    # heavy-tail: 2 langs × 1200 hapax words each + a few frequent ones
    rows = []
    for lang in ("en", "de"):
        for i in range(30):
            toks = [f"{lang}w{i * 40 + j}" for j in range(40)]
            rows.append((f"the of and {' '.join(toks)}", lang))
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["text", "lang"]))

    max_vocab = 50
    vrows = _vocab_rows(docs, "text", "lang", max_vocab, min_word_count=1)
    assert len(vrows) <= 2 * (max_vocab - 2)  # the bound the fix exists for
    per_lang_ranks = {}
    for r in vrows:
        per_lang_ranks.setdefault(r["lang"], []).append(r["r"])
    for lang, ranks in per_lang_ranks.items():
        assert sorted(ranks) == list(range(1, max_vocab - 1))

    # selection identical to the local trainer's (-count, word) cut
    en_texts = [t for t, lang in rows if lang == "en"]
    assert _build_vocabs(vrows)["en"] == train_ngram(en_texts, 2, max_vocab=max_vocab).vocab

    # min_word_count floors the window input: only the 3 frequent words stay
    floored = _vocab_rows(docs, "text", "lang", max_vocab, min_word_count=2)
    assert {r["w"] for r in floored} == {"the", "of", "and"}

    # ngram_min_count floors the collected n-gram types
    for order in (2, 3):
        lm = train_ngram_distributed(
            docs, order, max_vocab=max_vocab, ngram_min_count=2
        )["en"]
        assert lm.counts and all(v >= 2 for v in lm.counts.values())
        assert lm.n_tokens == sum(lm.counts.values())  # lower orders fold from kept types


def test_lm_trainer_auto_floors(spark):
    """VERDICT r4 task 1: the distributed trainers bound their pass-2
    collect BY DEFAULT — above ``auto_floor_cutoff`` docs the count floors
    auto-raise to 2 (collected types ≤ n-gram occurrences / 2, the
    documented bound), below it they stay 1 and the result is bit-identical
    to the local trainer without any flag being set."""
    import pandas as pd

    from data_quality_monitoring_spark.operators.perplexity import (
        train_ngram,
        train_ngram_distributed,
    )

    # heavy-tail: every doc contributes hapax words/bigrams plus a shared
    # frequent prefix, so floor 2 prunes a real (and countable) tail
    rows = []
    for i in range(40):
        toks = [f"w{i * 20 + j}" for j in range(20)]
        rows.append((f"the of and {' '.join(toks)}", "en"))
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["text", "lang"]))

    for order in (2, 3):
        # below the cutoff: auto == exact == local (no flags anywhere)
        auto_lm = train_ngram_distributed(docs, order, max_vocab=5000)["en"]
        local_lm = train_ngram([t for t, _ in rows], order, max_vocab=5000)
        assert auto_lm.vocab == local_lm.vocab and auto_lm.counts == local_lm.counts

        # above the cutoff (forced low): floors resolve to 2 with NO flags
        # set — the collect holds only types seen ≥2 times and is strictly
        # smaller
        exact_types = len(auto_lm.counts)
        pruned = train_ngram_distributed(
            docs, order, max_vocab=5000, auto_floor_cutoff=10
        )["en"]
        assert pruned.counts and all(v >= 2 for v in pruned.counts.values())
        assert len(pruned.counts) < exact_types
        # the documented bound
        assert len(pruned.counts) <= sum(pruned.counts.values()) / 2
        # the vocab window input was floored too: hapax words never reach it
        assert all(w in ("the", "of", "and", "<s>") for w in pruned.vocab)

        # an explicit floor always wins over auto, in both directions
        explicit = train_ngram_distributed(
            docs, order, max_vocab=5000, auto_floor_cutoff=10,
            min_word_count=1, ngram_min_count=1,
        )["en"]
        assert explicit.counts == local_lm.counts


def test_ngram_npz_roundtrip(tmp_path):
    """save_ngram_npz / load_ngram_npz: the broadcast-from-storage path
    reproduces the model and its scores exactly, at both orders."""
    from data_quality_monitoring_spark.artifacts import training_texts
    from data_quality_monitoring_spark.operators.perplexity import (
        load_ngram_npz,
        save_ngram_npz,
        train_ngram,
    )

    texts = training_texts("en", 20)
    for order in (2, 3):
        lm = train_ngram(texts, order)
        p = str(tmp_path / f"lm{order}_en.npz")
        save_ngram_npz(lm, p)
        back = load_ngram_npz(p)
        assert back.vocab == lm.vocab and back.counts == lm.counts
        assert (back.order, back.k, back.lams) == (lm.order, lm.k, lm.lams)
        for probe in (texts[0], "zq wv xx unseen " * 4):
            assert back.nll(probe) == lm.nll(probe)


def test_resolve_floors_probe_flips_at_cutoff(spark):
    """Round 6 (VERDICT r5 item 1): ``_resolve_floors`` decides via a
    bounded ``limit(cutoff+1).count()`` probe (CollectLimit — O(cutoff)
    rows on a 100-TB train frame) instead of a full corpus count; the
    decision still flips exactly at the cutoff, and explicit floors
    bypass the probe entirely."""
    import pandas as pd

    from data_quality_monitoring_spark.operators.perplexity import _resolve_floors

    docs = spark.createDataFrame(pd.DataFrame({"text": [f"d{i}" for i in range(10)]}))
    assert _resolve_floors(docs, None, None, auto_floor_cutoff=10) == (1, 1)
    assert _resolve_floors(docs, None, None, auto_floor_cutoff=9) == (2, 2)
    assert _resolve_floors(docs, 5, None, auto_floor_cutoff=9) == (5, 2)
    assert _resolve_floors(docs, 5, 7, auto_floor_cutoff=1) == (5, 7)
