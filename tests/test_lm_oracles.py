"""The n-gram LM contract queries agree with their DuckDB oracles.

``perplexity_scores`` (order 2), ``perplexity_trigram`` (order 3) and
``hp_sweep`` (order-2 ``nll_variants``) run on Spark over the smallest
test-data scale and are compared with their ``oracle_sql()`` on DuckDB by
row count, column names and ``tools/check_contract.py``'s
order-insensitive value hash — the scorer's bit-identity gate, kept in the
suite instead of only in manual contract runs."""

import sys
from pathlib import Path

import duckdb
import pytest

from test_bucketed_join import SF  # the sf0.001 test-data dir

_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_ROOT))
sys.path.insert(0, str(_ROOT / "tools"))

import __spark_entry__ as entry  # noqa: E402
from check_contract import TABLES, norm_hash  # noqa: E402


def assert_matches_oracle(spark, name: str) -> None:
    """Contract query ``name`` on sf0.001 equals its DuckDB oracle: row
    count, column names and the order-insensitive value hash."""
    got = entry.queries()[name](spark, SF).toPandas()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    want = con.execute(entry.oracle_sql()[name]).df()
    assert len(got) == len(want)
    assert sorted(got.columns) == sorted(want.columns)
    assert norm_hash(got) == norm_hash(want)


@pytest.mark.parametrize("name", ["perplexity_scores", "perplexity_trigram", "hp_sweep"])
def test_lm_query_matches_oracle(spark, name):
    assert_matches_oracle(spark, name)
