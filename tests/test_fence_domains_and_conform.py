"""Round-2 ADVICE fixes: writer-namespaced batch-id fence (tailer
counter vs streaming epoch_id are independent id domains), _conform
casting source-provided columns after a widen evolution, and the
one-target-per-table guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from debezium_connector_ibmi_spark.config import EngineConfig
from debezium_connector_ibmi_spark.sinks.merge import KeyBucketedTarget


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "url string, receiver_idx int, seq long, op string, text string"
    )


def test_stream_epochs_not_fenced_by_tailer_ids(spark, tmpdir_path):
    """Tailer commits batch ids 0..2; a stream starting at epoch 0 on
    the same target must APPLY (round-1 bug: epoch 0 <= tailer id 2
    silently skipped while the stream checkpoint marked the files
    consumed — permanent loss)."""
    t = KeyBucketedTarget(spark, f"{tmpdir_path}/t", num_buckets=4)
    for i in range(3):
        t.merge(
            _batch(spark, [(f"u{i}", 0, i, "c", f"v{i}")]),
            batch_id=i,
            watermark=(0, i),
        )
    assert t.last_batch_id() == 2

    # stream writer, epoch_id=0 — different id domain
    r = t.merge(
        _batch(spark, [("s0", 1, 0, "c", "streamed")]),
        batch_id=0,
        watermark=(1, 0),
        writer_id="stream-q1",
    )
    assert r["skipped"] is False
    assert r["batch_id"] == 3  # re-based onto the global counter
    rows = {x["url"]: x["text"] for x in t.read().collect()}
    assert rows["s0"] == "streamed"


def test_replayed_stream_epoch_is_skipped(spark, tmpdir_path):
    """Same writer replaying the same epoch (crash-recovery redelivery)
    must skip; the NEXT epoch applies."""
    t = KeyBucketedTarget(spark, f"{tmpdir_path}/t", num_buckets=4)
    t.merge(_batch(spark, [("a", 0, 0, "c", "x")]), batch_id=0,
            writer_id="stream-q1")
    r_replay = t.merge(
        _batch(spark, [("a", 0, 0, "c", "x")]), batch_id=0, writer_id="stream-q1"
    )
    assert r_replay["skipped"] is True
    r_next = t.merge(
        _batch(spark, [("b", 0, 1, "c", "y")]), batch_id=1, writer_id="stream-q1"
    )
    assert r_next["skipped"] is False
    # a tailer-domain merge interleaved after stream commits still works
    r_tail = t.merge(
        _batch(spark, [("c", 0, 2, "c", "z")]), batch_id=t.last_batch_id() + 1
    )
    assert r_tail["skipped"] is False
    # and the stream's fence survives the interleaving (walks commits)
    r_replay2 = t.merge(
        _batch(spark, [("b", 0, 1, "c", "y")]), batch_id=1, writer_id="stream-q1"
    )
    assert r_replay2["skipped"] is True


def test_new_checkpoint_writer_rebases_not_skips(spark, tmpdir_path):
    """A recreated checkpoint dir restarts epochs at 0 under a NEW
    writer id: epochs must re-base (apply) instead of being fenced by
    the previous writer's higher epoch ids."""
    t = KeyBucketedTarget(spark, f"{tmpdir_path}/t", num_buckets=4)
    for e in range(3):
        t.merge(
            _batch(spark, [(f"u{e}", 0, e, "c", f"v{e}")]),
            batch_id=e,
            writer_id="stream-old",
        )
    r = t.merge(
        _batch(spark, [("fresh", 1, 0, "c", "new-run")]),
        batch_id=0,
        writer_id="stream-new",
    )
    assert r["skipped"] is False
    assert {x["url"] for x in t.read().collect()} >= {"u0", "u1", "u2", "fresh"}


def test_writer_fences_survive_expire_versions(spark, tmpdir_path):
    """Writer fences older than the retention window must survive a
    vacuum: otherwise already-processed signals turn pending again, a
    replayed stream epoch re-applies and an incremental snapshot
    restarts from chunk 0."""
    from debezium_connector_ibmi_spark.sources.incremental import (
        INCREMENTAL_WRITER_ID,
        IncrementalSnapshotter,
    )

    cfg = EngineConfig(
        journal_path=f"{tmpdir_path}/j", target_path=f"{tmpdir_path}/t", num_buckets=4
    )
    t = KeyBucketedTarget(spark, cfg.target_path, num_buckets=4)
    snap = IncrementalSnapshotter(spark, cfg, _batch(spark, []), n_chunks=4, target=t)
    t.record_writer_progress("signals", 5)
    t.record_writer_progress(INCREMENTAL_WRITER_ID, 1)
    epoch0 = _batch(spark, [("s0", 1, 0, "c", "streamed")])
    assert t.merge(epoch0, batch_id=0, writer_id="stream-q")["skipped"] is False
    for i in range(3):
        t.merge(
            _batch(spark, [(f"u{i}", 0, i, "c", f"v{i}")]),
            batch_id=t.last_batch_id() + 1,
            watermark=(0, i),
        )
    assert snap.completed_chunks() == 2

    t.expire_versions(keep_last=2)
    assert t.last_writer_batch_id("signals") == 5
    assert t.merge(epoch0, batch_id=0, writer_id="stream-q")["skipped"] is True
    assert snap.completed_chunks() == 2


def test_conform_casts_present_columns_after_widen(spark, tmpdir_path):
    """Widen a column the SOURCE keeps providing at the old narrow
    type: later merges must write the widened type so mixed-version
    bucket reads (plain spark.read.parquet, no mergeSchema) work."""
    t = KeyBucketedTarget(spark, f"{tmpdir_path}/t", num_buckets=2)

    def b(rows):
        return spark.createDataFrame(
            rows, "url string, receiver_idx int, seq long, op string, score int"
        )

    t.merge(b([("a", 0, 0, "c", 1), ("b", 0, 1, "c", 2)]), batch_id=0)
    # widen score int -> bigint (metadata + rewrite of existing data)
    t.update_schema(
        lambda df: df.withColumn("score", F.col("score").cast("bigint")),
        version=1,
    )
    assert dict(t.declared_schema())["score"] == "bigint"
    # source still emits int; only bucket of 'c' is rewritten this time
    t.merge(b([("c", 0, 2, "c", 3)]), batch_id=1)
    got = t.read()  # must not raise on conflicting parquet types
    assert dict(got.select("url", "score").collect()) == {"a": 1, "b": 2, "c": 3}
    assert dict(got.dtypes)["score"] == "bigint"


def test_single_table_guard(spark, tmpdir_path):
    from debezium_connector_ibmi_spark.streaming.engine import JournalTailer

    cfg = EngineConfig(
        journal_path=f"{tmpdir_path}/j",
        target_path=f"{tmpdir_path}/t",
        table_include_list=("PAGES", "LINKS"),
    )
    with pytest.raises(ValueError, match="one target per table"):
        JournalTailer(spark, cfg)


def test_time_travel_read(spark, tmpdir_path):
    """VERSION AS OF analogue: every commit's bucket map is retained,
    so any historical state is readable; watermark/batch metadata
    travel with it."""
    t = KeyBucketedTarget(spark, f"{tmpdir_path}/t", num_buckets=2)
    t.merge(_batch(spark, [("a", 0, 0, "c", "a0"), ("b", 0, 1, "c", "b0")]),
            batch_id=0, watermark=(0, 1))
    t.merge(_batch(spark, [("a", 0, 2, "u", "a1")]), batch_id=1,
            watermark=(0, 2))
    t.merge(_batch(spark, [("b", 0, 3, "d", None)]), batch_id=2,
            watermark=(0, 3))

    now = {r["url"]: r["text"] for r in t.read().collect()}
    assert now == {"a": "a1"}
    v0 = {r["url"]: r["text"] for r in t.read(version=0).collect()}
    assert v0 == {"a": "a0", "b": "b0"}
    v1 = {r["url"]: r["text"] for r in t.read(version=1).collect()}
    assert v1 == {"a": "a1", "b": "b0"}
    assert t.commit_at(1)["watermark"] == [0, 2]


def test_changelog_scan_between_versions(spark, tmpdir_path):
    """Iceberg changelog-scan analogue: row-level c/u/d diff between
    any two retained snapshots."""
    t = KeyBucketedTarget(spark, f"{tmpdir_path}/t", num_buckets=2)
    t.merge(_batch(spark, [("a", 0, 0, "c", "a0"), ("b", 0, 1, "c", "b0")]),
            batch_id=0)
    t.merge(_batch(spark, [("a", 0, 2, "u", "a1"),
                           ("c", 0, 3, "c", "c0"),
                           ("b", 0, 4, "d", None)]), batch_id=1)
    diff = {
        r["url"]: (r["op"], r["text"])
        for r in t.changes_between(0, 1).collect()
    }
    assert diff == {"a": ("u", "a1"), "b": ("d", None), "c": ("c", "c0")}
    # unchanged snapshot pair: empty diff
    assert t.changes_between(1, 1).count() == 0


def test_expire_versions_gc(spark, tmpdir_path):
    """expire_snapshots analogue: unreferenced data versions and
    expired commits are deleted; current reads (and retained time
    travel) keep working; untouched buckets' old versions survive."""
    import os

    t = KeyBucketedTarget(spark, f"{tmpdir_path}/t", num_buckets=2)
    # batch 0 writes both buckets; later batches touch only 'a''s
    t.merge(_batch(spark, [("a", 0, 0, "c", "a0"), ("b", 0, 1, "c", "b0")]),
            batch_id=0)
    for i in range(1, 4):
        t.merge(_batch(spark, [("a", 0, i + 1, "u", f"a{i}")]), batch_id=i)

    stats = t.expire_versions(keep_last=2)
    assert stats["kept_commits"] == 2
    assert stats["removed_commits"] == 2
    # current state intact, incl. 'b' whose bucket still lives at v0
    now = {r["url"]: r["text"] for r in t.read().collect()}
    assert now == {"a": "a3", "b": "b0"}
    # v0 commit is gone (outside retention)...
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        t.commit_at(0)
    # ...but v0's DATA survives because retained commits reference it
    assert os.path.isdir(f"{tmpdir_path}/t/data/v=0")
    # intermediate data versions nothing references anymore are gone
    assert stats["removed_versions"] >= 1
