"""VERDICT round-2 #3/#4: cross-batch stateful transaction grouping
(an SC..CM window spanning a restart emits exactly ONE complete
transaction — stronger than the reference's in-memory txMap, which
loses open transactions on restart,
As400StreamingChangeEventSource.java:217-241), and multi-table fan-out
(one journal -> N per-table targets with isolated fences/watermarks,
the reference's table.include.list ergonomics)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from debezium_connector_ibmi_spark.config import EngineConfig
from debezium_connector_ibmi_spark.datagen.journal import (
    JournalGenConfig,
    generate_journal,
)
from debezium_connector_ibmi_spark.sources.journal_source import (
    JOURNAL_SCHEMA,
    read_journal_stream,
)
from debezium_connector_ibmi_spark.streaming.dedup_stream import await_available_now
from debezium_connector_ibmi_spark.streaming.fanout import MultiTableTailer
from debezium_connector_ibmi_spark.streaming.metrics_stream import (
    txn_group_stream_stateful,
)
from debezium_connector_ibmi_spark.testing import naive_replay, state_df_to_dict


def _ts(i):
    return datetime(2024, 1, 1, 0, 0, i)


def _row(seq, code, etype, cycle, url=None, html=None):
    return (
        "RCV000000", 0, seq, _ts(seq), code, etype, cycle,
        "PAGES" if code == "R" else None, url,
        None, html, _ts(seq) if code == "R" else None,
        "en" if code == "R" else None, None,
    )


def _drain(spark, jdir, out, ck):
    q = (
        txn_group_stream_stateful(read_journal_stream(spark, jdir))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_available_now(q, timeout=300)


def test_txn_group_spans_restart(spark, tmpdir_path):
    jdir = f"{tmpdir_path}/j"
    out = f"{tmpdir_path}/out"
    ck = f"{tmpdir_path}/ck"

    # phase 1: cycle 4 complete; cycle 5 OPEN (SC + one op, no CM)
    phase1 = [
        _row(10, "C", "SC", 4),
        _row(11, "R", "PT", 4, "u/a", b"<a>"),
        _row(12, "C", "CM", 4),
        _row(13, "C", "SC", 5),
        _row(14, "R", "PT", 5, "u/b", b"<b>"),
    ]
    spark.createDataFrame(phase1, JOURNAL_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(jdir)
    _drain(spark, jdir, out, ck)
    got = {r["commit_cycle"]: r.asDict() for r in spark.read.parquet(out).collect()}
    assert set(got) == {4}  # only the complete cycle emitted
    assert got[4]["event_count"] == 1
    assert (got[4]["saw_begin"], got[4]["saw_end"]) == (1, 1)

    # phase 2 (RESTART from checkpoint): cycle 5's remaining op + CM
    phase2 = [
        _row(15, "R", "UP", 5, "u/b", b"<b2>"),
        _row(16, "C", "CM", 5),
    ]
    spark.createDataFrame(phase2, JOURNAL_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(jdir)
    _drain(spark, jdir, out, ck)
    rows = spark.read.parquet(out).filter(F.col("commit_cycle") == 5).collect()
    assert len(rows) == 1  # exactly ONE complete transaction
    r = rows[0].asDict()
    assert r["first_seq"] == 13 and r["last_seq"] == 16
    assert r["event_count"] == 2  # PT from phase 1 + UP from phase 2
    assert (r["saw_begin"], r["saw_end"]) == (1, 1)
    assert r["begin_ts"] == _ts(13) and r["end_ts"] == _ts(16)
    # and cycle 4 was not re-emitted
    assert spark.read.parquet(out).count() == 2


def test_txn_group_ttl_drops_abandoned_cycle():
    """TTL path unit check: a timed-out (abandoned) open cycle is
    dropped from state and emits nothing."""
    from debezium_connector_ibmi_spark.streaming.metrics_stream import (
        _make_txn_group,
    )

    class FakeState:
        hasTimedOut = True
        exists = False
        removed = False

        def remove(self):
            self.removed = True

    st = FakeState()
    fn = _make_txn_group(1000)
    assert list(fn((5,), iter([]), st) or []) == []
    assert st.removed is True


def _two_table_journal(spark, gen):
    """One shared journal carrying two tables: PAGES (even seqs) and a
    derived LINKS stream (odd seqs, prefixed urls) — interleaved
    positions like a real shared journal."""
    j1 = generate_journal(spark, gen)
    j1 = j1.withColumn("seq", (F.col("seq") * 2).cast("long"))
    j2 = (
        generate_journal(spark, gen)
        .withColumn("seq", (F.col("seq") * 2 + 1).cast("long"))
        .withColumn(
            "table_name",
            F.when(F.col("table_name") == "PAGES", F.lit("LINKS")).otherwise(
                F.col("table_name")
            ),
        )
        .withColumn(
            "url",
            F.when(F.col("url").isNotNull(), F.concat(F.lit("l-"), F.col("url"))),
        )
    )
    return j1.unionByName(j2)


GEN = JournalGenConfig(n_urls=30, n_ops=300, txn_size=20, receiver_rotation=60)


def test_multi_table_fanout(spark, tmpdir_path):
    jdir = f"{tmpdir_path}/j"
    _two_table_journal(spark, GEN).write.mode("overwrite").partitionBy(
        "receiver_idx"
    ).parquet(jdir)
    cfg = EngineConfig(
        journal_path=jdir,
        target_path=f"{tmpdir_path}/root",
        table_include_list=("PAGES", "LINKS"),
        num_buckets=4,
        max_entries_per_batch=500,
    )
    mt = MultiTableTailer(spark, cfg)
    out = mt.run_to_head()
    assert len(out) > 1  # several shared planned ranges
    for it in out:
        assert set(it["tables"]) == {"PAGES", "LINKS"}

    rows = [r.asDict() for r in spark.read.parquet(jdir).collect()]
    for table, prefix in (("PAGES", ""), ("LINKS", "l-")):
        oracle = naive_replay(rows, include_tables=(table,))
        eng = state_df_to_dict(
            mt.target(table).read().drop("bucket", "receiver_idx", "seq")
        )
        assert set(eng) == set(oracle), table
        for url, o in oracle.items():
            assert eng[url]["html"] == o["html"], (table, url)
        if prefix:
            assert all(u.startswith(prefix) for u in eng)

    # isolated state: each target has its own fence + watermark
    wm = mt.watermarks()
    assert wm["PAGES"] == wm["LINKS"]  # both caught up to the head
    assert mt.target("PAGES").last_batch_id() >= 0
    assert mt.target("LINKS").last_batch_id() >= 0
    # idempotent: rerun plans nothing
    assert MultiTableTailer(spark, cfg).run_to_head() == []


def test_fanout_table_ahead_skips(spark, tmpdir_path):
    """A table already ahead (e.g. previously tailed solo) skips the
    shared ranges below its own watermark instead of re-merging."""
    from debezium_connector_ibmi_spark.streaming.engine import JournalTailer

    jdir = f"{tmpdir_path}/j"
    _two_table_journal(spark, GEN).write.mode("overwrite").partitionBy(
        "receiver_idx"
    ).parquet(jdir)
    root = f"{tmpdir_path}/root"
    # PAGES tailed solo to the head first (target path = the fan-out's
    # per-table layout, so the orchestrator adopts its state)
    solo_cfg = EngineConfig(
        journal_path=jdir,
        target_path=f"{root}/pages",
        table_include_list=("PAGES",),
        num_buckets=4,
    )
    assert JournalTailer(spark, solo_cfg).run_to_head()

    cfg = EngineConfig(
        journal_path=jdir,
        target_path=root,
        table_include_list=("PAGES", "LINKS"),
        num_buckets=4,
        max_entries_per_batch=700,
    )
    mt = MultiTableTailer(spark, cfg)
    out = mt.run_to_head()
    assert out, "LINKS still had work"
    assert all(
        it["tables"]["PAGES"].get("skipped") for it in out[:-1]
    )  # PAGES ahead: no re-merge work in the catch-up iterations
    rows = [r.asDict() for r in spark.read.parquet(jdir).collect()]
    for table in ("PAGES", "LINKS"):
        oracle = naive_replay(rows, include_tables=(table,))
        eng = state_df_to_dict(
            mt.target(table).read().drop("bucket", "receiver_idx", "seq")
        )
        assert set(eng) == set(oracle), table


def test_fanout_mor_delta_count_trigger(spark, tmpdir_path):
    """A mor fan-out configured with the delta-count trigger compacts each table whose pending per-bucket
    delta depth reaches the threshold, exactly as the single-table
    tailer does, and every table still folds to the oracle."""
    jdir = f"{tmpdir_path}/j"
    _two_table_journal(spark, GEN).write.mode("overwrite").partitionBy(
        "receiver_idx"
    ).parquet(jdir)
    cfg = EngineConfig(
        journal_path=jdir,
        target_path=f"{tmpdir_path}/root",
        table_include_list=("PAGES", "LINKS"),
        num_buckets=4,
        max_entries_per_batch=300,
        merge_write_mode="mor",
        mor_compact_max_deltas=2,
    )
    mt = MultiTableTailer(spark, cfg)
    out = mt.run_to_head()
    assert len(out) >= 3
    rows = [r.asDict() for r in spark.read.parquet(jdir).collect()]
    for table in ("PAGES", "LINKS"):
        c = mt.target(table).last_commit()
        pending = max(
            (len(v) for v in (c.get("deltas") or {}).values()), default=0
        )
        assert pending < 2, (table, pending)
        assert any(it["tables"][table].get("compacted") for it in out), table
        oracle = naive_replay(rows, include_tables=(table,))
        eng = state_df_to_dict(
            mt.target(table).read().drop("bucket", "receiver_idx", "seq")
        )
        assert set(eng) == set(oracle), table
        for url, o in oracle.items():
            assert eng[url]["html"] == o["html"], (table, url)
