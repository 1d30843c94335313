"""Round-6 ADVICE regression pins:

1. null doc_id / null text must not reach the stateful dedup core
   (int(NaN) would kill the query; null-text md5 would cross-flag all
   null docs as mutual exact dups).
2. verify_flags(verified_col=...) keeps candidate edges whose
   endpoint text is missing from the corpus snapshot (verified=false)
   instead of silently dropping them; confirmed non-dups stay dropped.
3. the BPE merged-token DuckDB oracle is exact against the
   independent Python reference (the recursive-CTE pass loop).
4. await_available_now raises on a query that cannot drain in time
   instead of letting the caller read a partial memory sink.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from debezium_connector_ibmi_spark.streaming.dedup_stream import (
    _flag_group,
    await_available_now,
    exact_dup_flag_stream,
    melt_bands,
    verify_flags,
)

DOC_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)

_T1 = "the quick brown fox jumps over the lazy dog again and again today"
_T2 = "completely different words about spark shuffles and merge sinks"


class _FakeState:
    def __init__(self):
        self.exists = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True


def test_flag_group_survives_null_ids():
    st = _FakeState()
    pdf = pd.DataFrame({"doc_id": [float("nan"), 5.0, 7.0]})
    out = list(_flag_group((0, "b"), [pdf], st))
    assert st.get == (5,)
    assert out and list(out[0]["doc_id"]) == [7]
    # all-null group: no crash, no state, no output
    st2 = _FakeState()
    out2 = list(
        _flag_group((0, "b"), [pd.DataFrame({"doc_id": [float("nan")]})], st2)
    )
    assert out2 == [] and not st2.exists


def test_melt_bands_drops_null_id_and_text(spark):
    df = spark.createDataFrame(
        [(1, _T1), (None, _T1), (2, None)], DOC_SCHEMA
    )
    melted = melt_bands(df)
    ids = [r["doc_id"] for r in melted.select("doc_id").distinct().collect()]
    assert ids == [1]


def test_exact_dup_stream_null_text_not_cross_flagged(spark, tmpdir_path):
    """Two docs with null text and two with identical text: only the
    real duplicate pair is flagged; nulls are dropped, and the stream
    completes (a null doc_id row present too)."""
    src = f"{tmpdir_path}/docs"
    spark.createDataFrame(
        [(1, _T1), (2, _T1), (3, None), (4, None), (None, _T2)],
        DOC_SCHEMA,
    ).coalesce(1).write.parquet(src)
    ck = f"{tmpdir_path}/ck"
    q = (
        exact_dup_flag_stream(
            spark.readStream.schema(DOC_SCHEMA).parquet(src)
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("r6_exact_null")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    await_available_now(q, timeout=300)
    flags = spark.sql(
        "SELECT doc_id, dup_of FROM r6_exact_null"
    ).collect()
    assert [(r["doc_id"], r["dup_of"]) for r in flags] == [(2, 1)]


def test_verify_flags_keeps_unverified_edges(spark):
    corpus = spark.createDataFrame([(1, _T1), (2, _T1), (3, _T2)], DOC_SCHEMA)
    flags = spark.createDataFrame(
        [(2, 1), (3, 1), (99, 1)],  # dup, non-dup, endpoint-missing
        StructType(
            [StructField("doc_id", LongType()), StructField("dup_of", LongType())]
        ),
    )
    # default: inner joins — the unverifiable edge is dropped
    strict = verify_flags(flags, corpus).select("doc_id", "dup_of").collect()
    assert {(r["doc_id"], r["dup_of"]) for r in strict} == {(2, 1)}
    kept = verify_flags(flags, corpus, verified_col="verified").collect()
    got = {(r["doc_id"], r["dup_of"]): r["verified"] for r in kept}
    # verified dup kept true; missing endpoint kept false; the
    # verified NON-dup (3,1) is dropped — it is a confirmed negative
    assert got == {(2, 1): True, (99, 1): False}


def test_bpe_merged_oracle_matches_reference():
    """The recursive-CTE oracle replays bpe_apply exactly — checked
    against the independent Python reference over sf0.001 plus
    adversarial fencepost cases (runs, boundary-sharing chains)."""
    import duckdb

    from debezium_connector_ibmi_spark.functions.bpe import (
        frozen_ranks,
        merged_token_count,
        pretokenize,
    )
    from debezium_connector_ibmi_spark.queries.textops import (
        _bpe_merged_oracle_sql,
    )

    texts = [
        "the lumber mill parsed a partial cargo manifest",
        "aaaa aaa aa a",  # L==R run fenceposts
        "s s s s s s",  # ' s' merge chain (rank-0 pair) boundaries
        "",  # empty text
        "parparparpar arar inin  inin",  # boundary-sharing chains
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, ?)" for i in range(len(texts)))
        + ") t(doc_id, text)",
        texts,
    )
    got = {
        r[0]: (r[1], r[2])
        for r in con.execute(_bpe_merged_oracle_sql()).fetchall()
    }
    ranks = frozen_ranks()
    for i, t in enumerate(texts):
        exp = (len(pretokenize(t)), merged_token_count(t, ranks))
        assert got[i] == exp, (t, got[i], exp)

    con2 = duckdb.connect()
    con2.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    res = {
        r[0]: (r[1], r[2])
        for r in con2.execute(_bpe_merged_oracle_sql()).fetchall()
    }
    import pyarrow.parquet as pq

    cache: dict[str, int] = {}
    for row in pq.read_table(
        "/root/testdata/sf0.001/documents.parquet",
        columns=["doc_id", "text"],
    ).to_pylist():
        t = row["text"] or ""
        exp = (len(pretokenize(t)), merged_token_count(t, ranks, cache))
        assert res[row["doc_id"]] == exp


def test_await_available_now_raises_on_timeout(spark, tmpdir_path):
    """A rate stream never terminates: the helper must raise (and stop
    the query) rather than return control to read a partial sink."""
    ck = f"{tmpdir_path}/ck_rate"
    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
        .writeStream.format("memory")
        .queryName("r6_rate")
        .option("checkpointLocation", ck)
        .start()
    )
    gone = f"{tmpdir_path}/cleanup_me"
    import os

    os.makedirs(gone)
    with pytest.raises(TimeoutError):
        await_available_now(q, gone, timeout=2)
    assert not q.isActive
    assert not os.path.exists(gone)
