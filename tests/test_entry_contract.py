"""Driver-contract sanity: entry() returns rows, the registry pairs
every query with an oracle, and every registry query matches its
DuckDB oracle at sf0.001 (scripts/check_oracles.py runs the same
comparison at other scale factors)."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry  # noqa: E402
from scripts.check_oracles import TABLES, norm_rows  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_entry_returns_rows(spark):
    df = entry.entry(spark)
    assert df.count() > 0
    assert len(df.columns) >= 3


def test_registry_shape():
    assert set(entry.oracle_sql()) == set(entry.queries())


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", sorted(entry.oracle_sql()))
def test_query_matches_oracle(spark, duck, name):
    qs, oracles = entry.queries(), entry.oracle_sql()
    sdf = qs[name](spark, SF)
    sc, sr = norm_rows(sdf.columns, sdf.collect())
    res = duck.execute(oracles[name])
    dc, dr = norm_rows([d[0] for d in res.description], res.fetchall())
    assert sc == dc
    assert sr == dr
