"""The dedup and decontamination contract queries, built on the shared
pieces of ``operators/dedup.py`` (signatures, bands, the hot-key cap, the
overlap counter), agree with their DuckDB oracles on the smallest
test-data scale, checked the same way as the LM queries."""

import pytest

from test_lm_oracles import assert_matches_oracle


@pytest.mark.parametrize(
    "name",
    [
        "decontamination",
        "contamination_stats",
        "fuzzy_decontamination",
        "dedup_minhash",
        "dedup_jaccard",
        "dedup_clusters",
        "dedup_keep_best",
        "embedding_near_dup",
    ],
)
def test_dedup_query_matches_oracle(spark, name):
    assert_matches_oracle(spark, name)
