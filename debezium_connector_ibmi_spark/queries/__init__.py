"""Registry of driver-contract queries: each entry pairs a PySpark
DataFrame builder ``(spark, sf_dir) -> DataFrame`` with an equivalent
DuckDB/ANSI SQL oracle over the same testdata tables (see
__spark_entry__.py). Every query realizes a SURVEY.md §2 operator (or
a training-pipeline op the 100 TB use-case needs). Entries keep module
order; ``tests/test_entry_contract.py`` checks every oracle.
"""

from __future__ import annotations

from debezium_connector_ibmi_spark.queries import (
    cdc,
    corpusops,
    discovery_ops,
    embeddingops,
    misc_ops,
    multimodalops,
    parity_ops,
    relational,
    textops,
)

_MODULES = (
    relational, embeddingops, misc_ops, cdc, discovery_ops, corpusops,
    multimodalops, textops, parity_ops,
)


def all_queries():
    out = {}
    for mod in _MODULES:
        out.update(mod.QUERIES)
    return out


def all_oracles():
    out = {}
    for mod in _MODULES:
        out.update(mod.ORACLES)
    return out
