"""ANN: brute-force exactness + IVF recall vs the exact baseline."""

import pytest
from pyspark.sql import functions as F

from data_quality_monitoring_spark.operators import similarity as S

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_brute_force_topk_shape(spark, emb):
    q = emb.filter(F.col("vec_id") < 5)
    out = S.brute_force_topk(emb, q, "vec_id", "embedding", k=3).toPandas()
    assert len(out) == 15
    assert set(out["qid"]) == {0, 1, 2, 3, 4}
    assert (out.groupby("qid")["rank"].max() == 3).all()
    # ranks ordered by descending cosine within each query
    for _, g in out.groupby("qid"):
        s = g.sort_values("rank")["cos"].values
        assert all(s[i] >= s[i + 1] for i in range(len(s) - 1))


def test_ivf_recall_vs_exact(spark, emb):
    q = emb.filter(F.col("vec_id") < 20)
    exact = S.brute_force_topk(emb, q, "vec_id", "embedding", k=5)
    approx = S.ivf_topk(emb, q, "vec_id", "embedding", k=5, n_cells=8, n_probe=4)
    recall = S.ann_recall(exact, approx)
    assert recall >= 0.5, recall  # random embeddings are a worst case; probing half the cells
    # full probe == exhaustive search → recall 1.0
    full = S.ivf_topk(emb, q, "vec_id", "embedding", k=5, n_cells=8, n_probe=8)
    assert S.ann_recall(exact, full) == 1.0


def test_centroids_deterministic(spark, emb):
    import numpy as np

    c1 = S.train_centroids(emb, "embedding", n_cells=4)
    c2 = S.train_centroids(emb, "embedding", n_cells=4)
    assert np.allclose(c1, c2)


def _planted(emb):
    """Embeddings plus perturbed twins of vec_id<40 (cos≈0.97 vs 0.51 max
    background) — the same planting as the embedding_near_dup query."""
    base = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    rot = F.concat(F.slice("embedding", 2, 1_000_000), F.slice("embedding", 1, 1))
    dup = base.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.zip_with("embedding", rot, lambda x, y: x + F.lit(0.25) * y).alias("embedding"),
    )
    return base.unionAll(dup)


def test_semantic_dedup_drops_cocelled_twins(spark, emb):
    import numpy as np

    allv = _planted(emb)
    cents = S.train_centroids(emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")), "embedding", n_cells=8)
    out = S.semantic_dedup(allv, "vec_id", "embedding", cents, threshold=0.9).toPandas()
    assert len(out) == allv.count()
    cell = dict(zip(out["vec_id"], out["cell"]))
    keep = dict(zip(out["vec_id"], out["keep"]))
    cocelled = [v for v in range(40) if cell[v] == cell[v + 100000]]
    assert cocelled, "at least some twins must land in their original's cell"
    # keep-first: the lower-keyed original survives, the twin is dropped
    for v in cocelled:
        assert keep[v + 100000] == 0
        assert out.set_index("vec_id").loc[v + 100000, "dup_cos"] >= 0.9
    # twins split across cells are SemDeDup's documented recall loss: kept
    for v in range(40):
        if cell[v] != cell[v + 100000]:
            assert keep[v + 100000] == 1
    # originals never condemned by their (higher-keyed) twin
    assert all(keep[v] == 1 for v in range(40))


def test_semantic_dedup_max_cell_guard(spark, emb):
    """A degenerate hot cell (everything identical → one cell) is excluded
    from pairing by max_cell, so nothing in it is dropped."""
    import numpy as np

    hot = emb.limit(60).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double") * 0 + 1.0).alias("embedding")
    )
    cents = np.eye(4, 8)[:, :]  # any fixed quantizer
    dim = len(hot.first()["embedding"])
    cents = np.eye(4, dim)
    out = S.semantic_dedup(hot, "vec_id", "embedding", cents, threshold=0.9, max_cell=10)
    assert out.filter(F.col("keep") == 0).count() == 0
    # without the cap the identical vectors all collapse to one keeper
    out2 = S.semantic_dedup(hot, "vec_id", "embedding", cents, threshold=0.9)
    assert out2.filter(F.col("keep") == 1).count() == 1
