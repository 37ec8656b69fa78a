"""The per-turn pipeline's slice of the oracle contract
(tools/check_contract.py): each query runs on Spark over sf0.01 and is
compared with its DuckDB oracle (or frozen single-node truth) by the same
order-insensitive value hash as the CLI."""

from pathlib import Path

import pytest
from test_frozen_fixture import SF_DIR

SLICE = ["keep_drop", "drop_reasons", "scrub_pii", "quality_flags",
         "toxicity", "lang_spans"]


@pytest.fixture(scope="module")
def contract(spark):
    if not Path(SF_DIR).exists():
        pytest.skip("sf0.01 testdata not present")
    import __spark_entry__ as E
    from tools.check_contract import duckdb_views

    # another test may have replaced the contract's temp views
    E._register(spark, SF_DIR, force=True)
    con = duckdb_views(SF_DIR)
    yield con, E.oracle_sql()
    con.close()


@pytest.mark.parametrize("name", SLICE)
def test_query_matches_oracle(spark, contract, name):
    from tools.check_contract import check_query

    con, oracles = contract
    assert name in oracles
    ok, msg = check_query(spark, con, name, SF_DIR, oracles)
    assert ok, f"{name}: {msg}"
