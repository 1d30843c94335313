"""End-to-end tailer: micro-batched journal tail -> exactly-once
MERGE sink; checkpoint-resume replay equivalence (the reference's
JournalConcurrentUpdatesResetJournalsIT + offset-commit semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from debezium_connector_ibmi_spark.config import EngineConfig
from debezium_connector_ibmi_spark.datagen.journal import (
    JournalGenConfig,
    generate_journal,
    write_journal,
)
from debezium_connector_ibmi_spark.sinks.merge import KeyBucketedTarget
from debezium_connector_ibmi_spark.streaming.engine import JournalTailer, prepare_batch
from debezium_connector_ibmi_spark.testing import naive_replay, state_df_to_dict

GEN = JournalGenConfig(
    n_urls=60, n_ops=900, txn_size=30, receiver_rotation=80, seq_reset_per_receiver=True
)


@pytest.fixture(scope="module")
def journal_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("journal"))
    write_journal(spark, GEN, p, num_files=8)
    return p


@pytest.fixture(scope="module")
def oracle(spark, journal_path):
    rows = [r.asDict() for r in spark.read.parquet(journal_path).collect()]
    return naive_replay(rows)


def _cfg(journal_path, tmpdir, **kw):
    return EngineConfig(
        journal_path=journal_path,
        target_path=f"{tmpdir}/target",
        checkpoint_path=f"{tmpdir}/ckpt",
        num_buckets=8,
        **kw,
    )


def _final_state(spark, cfg):
    t = KeyBucketedTarget(
        spark, cfg.target_path, key="url", num_buckets=cfg.num_buckets,
        delete_mode=cfg.delete_mode,
    )
    return state_df_to_dict(t.read().drop("bucket", "receiver_idx", "seq"))


def _assert_matches_oracle(engine, oracle):
    assert set(engine) == set(oracle)
    for url, o in oracle.items():
        e = engine[url]
        assert e["html"] == o["html"], url
        assert e["text"] == o["text"], url


def test_single_batch_tail(spark, journal_path, oracle, tmpdir_path):
    cfg = _cfg(journal_path, tmpdir_path)
    stats = JournalTailer(spark, cfg).run_to_head()
    assert len(stats) == 1 and not stats[0]["skipped"]
    _assert_matches_oracle(_final_state(spark, cfg), oracle)


def test_many_small_batches_equal_one_big(spark, journal_path, oracle, tmpdir_path):
    """Tiny max_entries ≡ the reference's tiny-buffer continuation
    test (JournalBufferFullIT): no entry lost across many batches."""
    cfg = _cfg(journal_path, tmpdir_path, max_entries_per_batch=400)
    stats = JournalTailer(spark, cfg).run_to_head()
    assert len(stats) > 5
    _assert_matches_oracle(_final_state(spark, cfg), oracle)


def test_kill_and_resume_replay(spark, journal_path, oracle, tmpdir_path):
    """Stop after k batches, build a brand-new tailer (fresh process
    analogue), resume from the sink's committed watermark."""
    cfg = _cfg(journal_path, tmpdir_path, max_entries_per_batch=500)
    t1 = JournalTailer(spark, cfg)
    first = t1.run_to_head(max_batches=2)
    assert len(first) == 2
    t2 = JournalTailer(spark, cfg)  # new instance: resume path only
    rest = t2.run_to_head()
    assert len(rest) >= 1
    _assert_matches_oracle(_final_state(spark, cfg), oracle)


def test_replayed_batch_is_noop(spark, journal_path, tmpdir_path):
    """Exactly-once fence: re-merging an old batch id is skipped."""
    cfg = _cfg(journal_path, tmpdir_path)
    tailer = JournalTailer(spark, cfg)
    tailer.run_to_head()
    target = tailer.target
    last_bid = target.last_batch_id()
    journal = spark.read.parquet(journal_path)
    batch = prepare_batch(journal, cfg)
    res = target.merge(batch, batch_id=last_bid)  # stale id
    assert res["skipped"]


def test_position_aware_merge_ignores_stale_rows(spark, journal_path, tmpdir_path):
    """Even past the fence, a row with a lower (receiver_idx, seq)
    than the stored one must not overwrite it."""
    cfg = _cfg(journal_path, tmpdir_path)
    tailer = JournalTailer(spark, cfg)
    tailer.run_to_head()
    target = tailer.target
    before = state_df_to_dict(target.read().drop("bucket"))
    url = next(iter(before))
    stale = spark.createDataFrame(
        [
            (
                url,
                None,
                b"<html><body>STALE</body></html>",
                "STALE",
                "en",
                -1,
                -1,
                "u",
            )
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string,"
        " receiver_idx int, seq long, op string",
    )
    target.merge(stale, batch_id=target.last_batch_id() + 1)
    after = state_df_to_dict(target.read().drop("bucket"))
    assert after[url]["html"] == before[url]["html"]


def test_lineage_records_per_partition_watermarks(spark, journal_path, tmpdir_path):
    cfg = _cfg(journal_path, tmpdir_path, max_entries_per_batch=600)
    tailer = JournalTailer(spark, cfg)
    tailer.run_to_head()
    lin = tailer.target.lineage()
    assert len(lin) > 0
    assert all(p["events_applied"] > 0 for p in lin)
    assert all(p["processed"] for p in lin)


def test_throughput_metrics_emitted_per_batch(spark, journal_path, tmpdir_path):
    """North rule: per-partition throughput/lag metrics are emitted.
    Every batch appends a record with events, wall secs, events/sec
    and per-receiver watermark rows; the report totals match the tail
    stats."""
    cfg = _cfg(journal_path, tmpdir_path, max_entries_per_batch=400)
    tailer = JournalTailer(spark, cfg)
    stats = tailer.run_to_head()
    rep = tailer.throughput_metrics().collect()
    assert len(rep) == len(stats) > 1
    assert sum(r["events"] for r in rep) == sum(s["events"] for s in stats)
    assert all(r["events_per_sec"] > 0 for r in rep)
    ids = [r["batch_id"] for r in rep]
    assert ids == sorted(ids)


def test_rewrite_mode_keeps_tombstones(spark, journal_path, tmpdir_path):
    cfg = _cfg(journal_path, tmpdir_path, delete_mode="rewrite")
    JournalTailer(spark, cfg).run_to_head()
    t = KeyBucketedTarget(
        spark, cfg.target_path, num_buckets=cfg.num_buckets, delete_mode="rewrite"
    )
    df = t.read()
    assert "__deleted" in df.columns
    rows = [r.asDict() for r in spark.read.parquet(journal_path).collect()]
    oracle = naive_replay(rows, delete_mode="rewrite")
    got = {r["url"]: r["__deleted"] for r in df.collect()}
    want = {k: v["__deleted"] for k, v in oracle.items()}
    assert got == want


def test_failed_merge_releases_persisted_batch(spark, journal_path, tmpdir_path):
    """A merge that raises (e.g. cancelled by the watchdog, whose
    recovery is the next iteration) must not leave the batch it
    persisted for the cache fill cached for the rest of the session."""

    class FailingTarget(KeyBucketedTarget):
        def merge(self, batch, *args, **kwargs):
            raise RuntimeError("merge failed")

    cfg = _cfg(journal_path, tmpdir_path)
    target = FailingTarget(spark, cfg.target_path, key="url", num_buckets=8)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    with pytest.raises(RuntimeError, match="merge failed"):
        JournalTailer(spark, cfg, target=target).run_to_head()
    assert persistent().size() == before
