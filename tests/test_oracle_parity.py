"""Mini correctness gate: every oracle-backed query must hash-match
DuckDB locally (same comparison the driver runs at sf0.01; tests run
at sf0.001 by default for speed — set SPARK_GRAFT_TEST_SF_DIR to
/root/testdata/sf0.01 to reproduce the driver exactly)."""

from __future__ import annotations

import pytest

import __spark_entry__ as e
from tests.oracle_harness import compare, duck_connection

_QUERIES = e.queries()
_ORACLES = e.oracle_sql()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


def test_every_oracle_has_a_query():
    missing = set(_ORACLES) - set(_QUERIES)
    assert not missing, f"oracle_sql keys without queries(): {missing}"


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_parity(name, spark, sf_dir, duck):
    ok, msg = compare(_QUERIES[name](spark, sf_dir), duck, _ORACLES[name])
    assert ok, f"{name}: {msg}"


def test_entry_smoke(spark):
    df = e.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"id", "label", "cluster", "dist"}
