"""Exactly-once under torn writes (crash between data write and
pointer flip) and correctness under extreme hot-key skew — the north
rule's two hardest operational cases."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from debezium_connector_ibmi_spark.config import EngineConfig
from debezium_connector_ibmi_spark.datagen.journal import (
    JournalGenConfig,
    generate_journal,
    write_journal,
)
from debezium_connector_ibmi_spark.pipeline import current_state
from debezium_connector_ibmi_spark.streaming.engine import JournalTailer
from debezium_connector_ibmi_spark.testing import naive_replay, state_df_to_dict


def test_crash_between_data_write_and_pointer_flip(spark, tmpdir_path):
    """Simulate the worst crash point: a new version's data files are
    fully written (and its commit json exists) but `_latest` was never
    flipped. The rerun must produce the same final state as an
    uninterrupted run — orphaned files must not be visible."""
    gen = JournalGenConfig(n_urls=40, n_ops=500, receiver_rotation=100)
    jpath = f"{tmpdir_path}/journal"
    write_journal(spark, gen, jpath, num_files=4)

    cfg = EngineConfig(
        journal_path=jpath, target_path=f"{tmpdir_path}/t", num_buckets=4,
        max_entries_per_batch=1200,
    )
    tailer = JournalTailer(spark, cfg)
    tailer.run_to_head(max_batches=1)
    target = tailer.target

    # hand-craft the torn state: data + commit json for version V+1
    # exist, pointer still points to V (crash after write, before flip)
    v = target._latest_version()
    orphan = v + 1
    os.makedirs(f"{cfg.target_path}/data/v={orphan}/bucket=0", exist_ok=True)
    with open(f"{cfg.target_path}/data/v={orphan}/bucket=0/garbage.parquet", "wb") as fh:
        fh.write(b"\x00torn")
    with open(f"{cfg.target_path}/_commits/{orphan}.json", "w") as fh:
        json.dump({"version": orphan, "batch_id": 999, "buckets": {"0": orphan}}, fh)

    # pointer untouched -> torn version invisible
    assert target._latest_version() == v
    assert target.last_batch_id() != 999

    # resume: the tailer plans from the committed watermark and its
    # next version id collides with the orphan — the rewrite must
    # supersede the garbage
    t2 = JournalTailer(spark, cfg)
    t2.run_to_head()
    engine = state_df_to_dict(t2.target.read().drop("bucket", "receiver_idx", "seq"))
    oracle = naive_replay([r.asDict() for r in spark.read.parquet(jpath).collect()])
    assert set(engine) == set(oracle)
    for url, o in oracle.items():
        assert engine[url]["text"] == o["text"], url


def test_extreme_hot_key_skew(spark):
    """90% of all events hit ONE url: the compaction must still
    produce the oracle state."""
    gen = JournalGenConfig(
        n_urls=30, n_ops=2000, skew=12.0, receiver_rotation=500, update_pct=0.9
    )
    j = generate_journal(spark, gen).cache()
    # verify the generator really skewed: top url >= 50% of data events
    top = (
        j.filter(F.col("url").isNotNull())
        .groupBy("url")
        .count()
        .orderBy(F.desc("count"))
        .first()
    )
    total = j.filter(F.col("url").isNotNull()).count()
    assert top["count"] / total > 0.5, f"skew too weak: {top['count']}/{total}"

    cfg = EngineConfig()
    engine = state_df_to_dict(current_state(j, cfg))
    oracle = naive_replay([r.asDict() for r in j.collect()])
    assert set(engine) == set(oracle)
    for url, o in oracle.items():
        assert engine[url]["html"] == o["html"], url
        assert engine[url]["text"] == o["text"], url
    j.unpersist()