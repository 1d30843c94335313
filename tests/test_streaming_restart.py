"""Structured Streaming mode: stop mid-stream, restart from the
Spark checkpoint + sink fence, end state equals the fold oracle
(north rule: resumable from any checkpoint, exactly once)."""

from __future__ import annotations

import time

import pytest

from debezium_connector_ibmi_spark.config import EngineConfig
from debezium_connector_ibmi_spark.datagen.journal import (
    JournalGenConfig,
    generate_journal,
)
from debezium_connector_ibmi_spark.sinks.merge import KeyBucketedTarget
from debezium_connector_ibmi_spark.streaming.dedup_stream import await_available_now
from debezium_connector_ibmi_spark.streaming.engine import run_structured_stream
from debezium_connector_ibmi_spark.testing import naive_replay, state_df_to_dict

GEN = JournalGenConfig(n_urls=40, n_ops=600, txn_size=30, receiver_rotation=80)


def test_stream_stop_and_restart(spark, tmpdir_path):
    j = generate_journal(spark, GEN).cache()
    (
        j.repartition(1)
        .sortWithinPartitions("receiver_idx", "seq")
        .write.mode("overwrite")
        .partitionBy("receiver_idx")
        .parquet(f"{tmpdir_path}/j")
    )
    cfg = EngineConfig(
        journal_path=f"{tmpdir_path}/j",
        target_path=f"{tmpdir_path}/t",
        checkpoint_path=f"{tmpdir_path}/ck",
        num_buckets=4,
        delete_mode="rewrite",
    )

    # phase 1: continuous trigger, stop after at least one batch
    q = run_structured_stream(spark, cfg, available_now=False)
    deadline = time.time() + 120
    while time.time() < deadline:
        if any(p["numInputRows"] > 0 for p in q.recentProgress):
            break
        time.sleep(0.5)
    q.stop()
    assert q.awaitTermination(timeout=60)

    target = KeyBucketedTarget(
        spark, cfg.target_path, num_buckets=4, delete_mode="rewrite"
    )
    mid_batches = target.last_batch_id()
    assert mid_batches >= 0  # something committed before the stop

    # phase 2: restart from the same checkpoint, drain to the end
    q2 = run_structured_stream(spark, cfg, available_now=True)
    await_available_now(q2, timeout=300)

    engine = state_df_to_dict(target.read().drop("bucket", "receiver_idx", "seq"))
    oracle = naive_replay([r.asDict() for r in j.collect()], delete_mode="rewrite")
    assert set(engine) == set(oracle)
    for url, o in oracle.items():
        assert engine[url]["__deleted"] == o["__deleted"], url
        if not o["__deleted"]:
            assert engine[url]["html"] == o["html"], url
            assert engine[url]["text"] == o["text"], url
    j.unpersist()


def test_tail_then_stream_same_target(spark, tmpdir_path):
    """ADVICE round-1 scenario: run `tail` (global batch-id counter)
    then `stream` (epoch_id domain) on the SAME target. Early stream
    epochs (epoch_id <= last tailer batch_id) must still apply —
    without writer-namespaced fencing they silently skipped while the
    stream checkpoint marked the journal files consumed."""
    from debezium_connector_ibmi_spark.streaming.engine import JournalTailer

    j = generate_journal(spark, GEN).cache()
    half = f"{tmpdir_path}/j"
    rows = sorted(
        (r for r in j.collect()), key=lambda r: (r["receiver_idx"], r["seq"])
    )
    mid = len(rows) // 2
    schema = j.schema
    spark.createDataFrame(rows[:mid], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(half)
    cfg = EngineConfig(
        journal_path=half,
        target_path=f"{tmpdir_path}/t",
        checkpoint_path=f"{tmpdir_path}/ck",
        num_buckets=4,
        delete_mode="rewrite",
        max_entries_per_batch=60,  # several tailer batches => id >> 0
    )
    tailer = JournalTailer(spark, cfg)
    assert len(tailer.run_to_head()) > 2
    tail_id = tailer.target.last_batch_id()

    # second half arrives; consume it with the STREAMING mode (fresh
    # checkpoint => epoch ids restart at 0, all <= tail_id)
    spark.createDataFrame(rows[mid:], schema).coalesce(1).write.mode(
        "append"
    ).parquet(half)
    q = run_structured_stream(spark, cfg, available_now=True)
    await_available_now(q, timeout=300)

    target = KeyBucketedTarget(
        spark, cfg.target_path, num_buckets=4, delete_mode="rewrite"
    )
    assert target.last_batch_id() > tail_id  # stream epochs re-based
    engine = state_df_to_dict(
        target.read().drop("bucket", "receiver_idx", "seq")
    )
    oracle = naive_replay([r.asDict() for r in j.collect()], delete_mode="rewrite")
    assert set(engine) == set(oracle)
    for url, o in oracle.items():
        assert engine[url]["__deleted"] == o["__deleted"], url
        if not o["__deleted"]:
            assert engine[url]["html"] == o["html"], url
            assert engine[url]["text"] == o["text"], url
    j.unpersist()