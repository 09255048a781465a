"""The registry's correctness gate: every registered query, run on
Spark at sf0.001, must equal its DuckDB oracle — same column names, same
row count, and the same multiset of rows with floats compared by strict
``repr`` (``scripts/verify_local.py compare_query``, the one comparison
the command-line check also runs). A query must also return rows, so an
oracle and an implementation that are both empty cannot pass by
accident; the one exception is listed below."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from verify_local import compare_query, oracle_connection  # noqa: E402

from __spark_entry__ import SMOKE_SF_DIR as SF_DIR  # noqa: E402
from airbnb_cdc_spark import queries  # noqa: E402

# 0 rows on both engines at sf0.001 (4 rows at sf0.01).
EMPTY_AT_SF0001 = {"bilateral_trade_volume"}


@pytest.fixture(scope="module")
def duck():
    con = oracle_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(queries.QUERIES))
def test_query_matches_oracle(spark, duck, name):
    n_rows, problems = compare_query(
        spark, duck, SF_DIR, queries.QUERIES[name], queries.ORACLE_SQL[name]
    )
    assert not problems, "\n".join(problems)
    assert n_rows > 0 or name in EMPTY_AT_SF0001, f"{name} returned no rows"
