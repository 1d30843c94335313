"""Driver-contract sanity: entry() returns rows; every query runs at
sf0.001 and, where an oracle exists, matches DuckDB (fast subset —
the full sweep is scripts/check_oracles.py at sf0.01)."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry  # noqa: E402
from scripts.check_oracles import TABLES, norm_rows  # noqa: E402

SF = "/root/testdata/sf0.001"

# cheap-but-representative subset for pytest (one per operator family)
SUBSET = [
    "cdc_changelog_materialize",
    "cdc_resume_predicate",
    "cdc_txn_group",
    "rel_revenue_by_nation",
    "doc_minhash_signature",
    "doc_simhash",
    "emb_knn_brute_force",
    # streaming dedup-on-ingest, exact md5-band variant (round 5)
    "doc_stream_exact_dup",
]


def test_entry_returns_rows(spark):
    df = entry.entry(spark)
    assert df.count() > 0
    assert len(df.columns) >= 3


def test_registry_shape():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert len(qs) >= 25
    # every oracle key must have a query
    assert set(oracles) <= set(qs)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, duck, name):
    qs, oracles = entry.queries(), entry.oracle_sql()
    sdf = qs[name](spark, SF)
    sc, sr = norm_rows(sdf.columns, sdf.collect())
    res = duck.execute(oracles[name])
    dc, dr = norm_rows([d[0] for d in res.description], res.fetchall())
    assert sc == dc
    assert sr == dr
