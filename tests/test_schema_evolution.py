"""T12: schema-change events drive ordered, exactly-once target
schema updates; resume across an evolution replays idempotently."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from debezium_connector_ibmi_spark.config import EngineConfig
from debezium_connector_ibmi_spark.datagen.journal import (
    JournalGenConfig,
    write_journal,
)
from debezium_connector_ibmi_spark.streaming.dedup_stream import await_available_now
from debezium_connector_ibmi_spark.streaming.engine import JournalTailer
from debezium_connector_ibmi_spark.streaming.schema_evolution import (
    ColumnChange,
    EvolutionSpec,
    SchemaUpdate,
)
from debezium_connector_ibmi_spark.testing import naive_replay, state_df_to_dict

GEN = JournalGenConfig(
    n_urls=40,
    n_ops=600,
    txn_size=20,
    receiver_rotation=100,
    schema_change_every=10,  # a D.CG row every 10 cycles -> v1, v2, v3
)

SPEC = EvolutionSpec(
    updates={
        1: SchemaUpdate(1, (ColumnChange("add", "quality", "int", None),)),
        2: SchemaUpdate(2, (ColumnChange("widen", "quality", "bigint"),)),
        3: SchemaUpdate(3, (ColumnChange("drop", "quality"),)),
    }
)


@pytest.fixture(scope="module")
def journal_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("journal_se"))
    write_journal(spark, GEN, p, num_files=4)
    return p


def test_parse_version():
    assert EvolutionSpec.parse_version("PAGES@v3") == 3
    assert EvolutionSpec.parse_version("PAGES") is None
    assert EvolutionSpec.parse_version(None) is None


def test_journal_contains_schema_changes(spark, journal_path):
    j = spark.read.parquet(journal_path)
    cg = j.filter(F.col("entry_type") == "CG")
    assert cg.count() == 3


def test_evolution_applied_in_order_single_batch(spark, journal_path, tmpdir_path):
    cfg = EngineConfig(
        journal_path=journal_path, target_path=f"{tmpdir_path}/t", num_buckets=4
    )
    tailer = JournalTailer(spark, cfg, evolution=SPEC)
    stats = tailer.run_to_head()
    applied = [v for s in stats for v in s["schema_versions_applied"]]
    assert applied == [1, 2, 3]
    assert tailer.target.schema_version() == 3
    # add -> widen -> drop nets out: no quality column at the end
    assert "quality" not in tailer.target.read().columns
    # data unaffected
    engine = state_df_to_dict(
        tailer.target.read().drop("bucket", "receiver_idx", "seq")
    )
    oracle = naive_replay(
        [r.asDict() for r in spark.read.parquet(journal_path).collect()]
    )
    assert set(engine) == set(oracle)
    for url, o in oracle.items():
        assert engine[url]["text"] == o["text"]


def test_evolution_mid_stream_and_resume(spark, journal_path, tmpdir_path):
    """Small batches: evolutions land in different batches; kill
    between them and resume — each version applied exactly once."""
    cfg = EngineConfig(
        journal_path=journal_path,
        target_path=f"{tmpdir_path}/t2",
        num_buckets=4,
        max_entries_per_batch=900,
    )
    t1 = JournalTailer(spark, cfg, evolution=SPEC)
    first = t1.run_to_head(max_batches=2)
    mid_version = t1.target.schema_version()
    # fresh tailer (process restart)
    t2 = JournalTailer(spark, cfg, evolution=SPEC)
    rest = t2.run_to_head()
    assert t2.target.schema_version() == 3
    applied = [
        v for s in first + rest for v in s["schema_versions_applied"]
    ]
    assert applied == [1, 2, 3]  # no duplicates across restart
    assert mid_version <= 3


def test_add_column_visible_when_last(spark, journal_path, tmpdir_path):
    spec = EvolutionSpec(
        updates={1: SchemaUpdate(1, (ColumnChange("add", "quality", "int", 7),))}
    )
    cfg = EngineConfig(
        journal_path=journal_path, target_path=f"{tmpdir_path}/t3", num_buckets=4
    )
    tailer = JournalTailer(spark, cfg, evolution=spec)
    tailer.run_to_head()
    df = tailer.target.read()
    assert "quality" in df.columns
    # rows merged AFTER the evolution have null quality (source does
    # not provide it); rows present at evolution time got the default
    assert df.filter(F.col("quality").isNotNull() | F.col("quality").isNull()).count() == df.count()

def test_evolution_in_streaming_mode(spark, journal_path, tmpdir_path):
    """T12 through run_structured_stream: schema events in a
    micro-batch apply before its merge, exactly once, and the final
    state matches the tailer's."""
    from debezium_connector_ibmi_spark.sinks.merge import KeyBucketedTarget
    from debezium_connector_ibmi_spark.streaming.engine import (
        run_structured_stream,
    )

    cfg = EngineConfig(
        journal_path=journal_path,
        target_path=f"{tmpdir_path}/ts",
        checkpoint_path=f"{tmpdir_path}/cks",
        num_buckets=4,
    )
    q = run_structured_stream(spark, cfg, available_now=True, evolution=SPEC)
    await_available_now(q, timeout=300)
    t = KeyBucketedTarget(spark, cfg.target_path, num_buckets=4)
    assert t.schema_version() == 3
    assert "quality" not in t.read().columns  # add->widen->drop nets out
    engine = state_df_to_dict(t.read().drop("bucket", "receiver_idx", "seq"))
    oracle = naive_replay(
        [r.asDict() for r in spark.read.parquet(journal_path).collect()]
    )
    assert set(engine) == set(oracle)
    for url, o in oracle.items():
        assert engine[url]["text"] == o["text"]
