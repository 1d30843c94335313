"""Round-4 ADVICE regression tests.

1. (high) incremental-snapshot anti-join must only count ROW events of
   the pipeline's own table as "applied" — in a shared multi-table
   journal, a key whose only applied-range events belong to an
   excluded table must still receive its snapshot row.
2. (medium) MultiTableTailer.run_to_head performs the T6 invalid-
   position triage (fail / reset_earliest + data-loss marker).
3. (medium) schema-change events apply only to their own table.
4. (low) IcebergTarget.merge never regresses a writer-namespaced
   watermark (monotone, matching KeyBucketedTarget).
5. (low) signal-driven incremental snapshots chunk on the sink's
   configured key column, not a hard-coded 'url'.
"""

from __future__ import annotations

from dataclasses import replace

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from debezium_connector_ibmi_spark.config import EngineConfig
from debezium_connector_ibmi_spark.datagen.journal import (
    JournalGenConfig,
    generate_journal,
    generate_pages,
    write_journal,
)
from debezium_connector_ibmi_spark.plans.range_planner import (
    InvalidPositionError,
)
from debezium_connector_ibmi_spark.sources.incremental import (
    IncrementalSnapshotter,
)
from debezium_connector_ibmi_spark.streaming.engine import JournalTailer
from debezium_connector_ibmi_spark.streaming.fanout import MultiTableTailer
from debezium_connector_ibmi_spark.testing import state_df_to_dict
from test_iceberg_binding import FakeBatch, FakeIcebergSession

GEN = JournalGenConfig(n_urls=40, n_ops=400, txn_size=20, receiver_rotation=100)


def _cfg(base, journal, **kw):
    return EngineConfig(
        journal_path=journal,
        target_path=f"{base}/target",
        num_buckets=4,
        max_entries_per_batch=500,
        **kw,
    )


# -- 1. high: multi-table journal must not starve excluded-table keys ----


def test_incsnap_keeps_keys_whose_only_events_are_other_tables(
    spark, tmpdir_path
):
    """Shared journal: keys url='…only-other/i' have journal events for
    table OTHER only. The tailer (PAGES) advances its watermark over
    them; the incremental snapshot must still deliver their PAGES
    snapshot rows (pre-fix they were anti-joined away: data loss)."""
    journal = f"{tmpdir_path}/journal"
    cfg = _cfg(tmpdir_path, journal)
    write_journal(spark, GEN, journal, num_files=4)

    # append OTHER-table row events at the head of the chain for two
    # urls that PAGES events never touch
    j = spark.read.parquet(journal)
    base = (
        j.filter(
            (F.col("journal_code") == "R")
            & (F.col("entry_type") == "PT")
            & (F.col("table_name") == "PAGES")
        )
        .orderBy("receiver_idx", "seq")
        .limit(2)
    )
    head = j.groupBy("receiver_idx").agg(F.max("seq").alias("s")).orderBy(
        F.desc("receiver_idx")
    ).first()
    max_r, max_s = int(head["receiver_idx"]), int(head["s"])
    w = Window.orderBy("seq")
    extra = (
        base.withColumn("i", F.row_number().over(w))
        .withColumn(
            "url", F.concat(F.lit("https://only-other/"), F.col("i"))
        )
        .withColumn("table_name", F.lit("OTHER"))
        .withColumn("receiver_idx", F.lit(max_r).cast("int"))
        .withColumn("seq", (F.lit(max_s) + F.col("i")).cast("long"))
        .drop("i")
    )
    extra.write.mode("append").partitionBy("receiver_idx").parquet(journal)

    tailer = JournalTailer(spark, cfg)
    tailer.run_to_head()  # watermark now covers the OTHER entries
    assert tuple(tailer.target.watermark()) >= (max_r, max_s + 2)

    pages = generate_pages(spark, GEN).drop("version")
    only_other = pages.limit(2).withColumn(
        "url",
        F.concat(
            F.lit("https://only-other/"),
            F.row_number().over(Window.orderBy("url")).cast("string"),
        ),
    )
    snap = IncrementalSnapshotter(
        spark, cfg, pages.unionByName(only_other), n_chunks=3,
        target=tailer.target,
    )
    snap.run_all()
    state = state_df_to_dict(tailer.target.read().drop("bucket"))
    assert "https://only-other/1" in state
    assert "https://only-other/2" in state
    # keys the stream DID apply keep the stream's value (anti-join
    # still drops their chunk rows — snapshot html is version 0,
    # stream html is a later version for any updated url)


# -- 2. medium: fan-out T6 triage --------------------------------------


def _truncate_journal_past(spark, journal, keep_from_receiver: int):
    """Simulate journal truncation: drop every receiver partition
    below ``keep_from_receiver``."""
    import shutil

    import os

    for d in os.listdir(journal):
        if d.startswith("receiver_idx="):
            r = int(d.split("=")[1])
            if r < keep_from_receiver:
                shutil.rmtree(f"{journal}/{d}")


def _two_table_journal(spark, gen):
    j1 = generate_journal(spark, gen).withColumn(
        "seq", (F.col("seq") * 2).cast("long")
    )
    j2 = (
        generate_journal(spark, gen)
        .withColumn("seq", (F.col("seq") * 2 + 1).cast("long"))
        .withColumn(
            "table_name",
            F.regexp_replace(F.col("table_name"), "^PAGES", "LINKS"),
        )
        .withColumn(
            "url",
            F.when(
                F.col("url").isNotNull(), F.concat(F.lit("l-"), F.col("url"))
            ),
        )
    )
    return j1.unionByName(j2)


def _fanout_truncation_fixture(spark, tmpdir_path, policy):
    jdir = f"{tmpdir_path}/j"
    gen = replace(GEN, receiver_rotation=50)  # many receivers
    _two_table_journal(spark, gen).write.mode("overwrite").partitionBy(
        "receiver_idx"
    ).parquet(jdir)
    cfg = EngineConfig(
        journal_path=jdir,
        target_path=f"{tmpdir_path}/root",
        table_include_list=("PAGES", "LINKS"),
        num_buckets=4,
        max_entries_per_batch=5000,
        invalid_position_policy=policy,
    )
    mt = MultiTableTailer(spark, cfg)
    mt.run_to_head()
    wm = mt.watermarks()["PAGES"]
    # truncate everything, then append NEW entries in receivers far
    # past both tables' watermarks (chain restarts beyond them)
    _truncate_journal_past(spark, jdir, keep_from_receiver=wm[0] + 1)
    new = _two_table_journal(spark, gen).withColumn(
        "receiver_idx", (F.col("receiver_idx") + wm[0] + 3).cast("int")
    )
    new.write.mode("append").partitionBy("receiver_idx").parquet(jdir)
    _truncate_journal_past(spark, jdir, keep_from_receiver=wm[0] + 3)
    return cfg


def test_fanout_invalid_position_fail_raises(spark, tmpdir_path):
    cfg = _fanout_truncation_fixture(spark, tmpdir_path, "fail")
    with pytest.raises(InvalidPositionError, match="journal truncated"):
        MultiTableTailer(spark, cfg).run_to_head()


def test_fanout_invalid_position_reset_emits_marker(spark, tmpdir_path):
    cfg = _fanout_truncation_fixture(spark, tmpdir_path, "reset_earliest")
    cfg = replace(cfg, invalid_position_policy="reset_earliest")
    mt = MultiTableTailer(spark, cfg)
    out = mt.run_to_head()
    markers = [o for o in out if o.get("data_loss_reset")]
    assert {m["table"] for m in markers} == {"PAGES", "LINKS"}
    # and the reset replayed the surviving chain: both tables caught up
    ranges = [o for o in out if "tables" in o]
    assert ranges, "reset must be followed by actual catch-up batches"
    wms = mt.watermarks()
    assert wms["PAGES"] == wms["LINKS"]
    assert wms["PAGES"] > markers[0]["from"]


def test_fanout_marker_records_do_not_consume_max_batches(
    spark, tmpdir_path
):
    """Round-5 (ADVICE r4): data_loss_reset marker dicts are
    diagnostics — a run with M truncated tables asked for
    max_batches=1 must still process exactly one real range (before
    the fix the markers counted toward the cap and zero ranges ran)."""
    cfg = _fanout_truncation_fixture(spark, tmpdir_path, "reset_earliest")
    mt = MultiTableTailer(spark, cfg)
    out = mt.run_to_head(max_batches=1)
    markers = [o for o in out if o.get("data_loss_reset")]
    ranges = [o for o in out if "tables" in o]
    assert len(markers) == 2, "both truncated tables emit a marker"
    assert len(ranges) == 1, (
        f"max_batches=1 must process exactly one range, got {len(ranges)}"
    )


# -- 3. medium: schema events stay per-table ---------------------------


def test_fanout_schema_events_do_not_cross_tables(spark, tmpdir_path):
    """A PAGES@v1 evolution marker in the shared slice must evolve the
    PAGES target only — LINKS keeps its schema and version."""
    from debezium_connector_ibmi_spark.streaming.schema_evolution import (
        ColumnChange,
        EvolutionSpec,
        SchemaUpdate,
    )

    jdir = f"{tmpdir_path}/j"
    gen = replace(GEN, schema_change_every=5)
    j1 = generate_journal(spark, gen).withColumn(
        "seq", (F.col("seq") * 2).cast("long")
    )
    # LINKS stream WITHOUT schema markers (only PAGES evolves)
    j2 = (
        generate_journal(spark, GEN)
        .withColumn("seq", (F.col("seq") * 2 + 1).cast("long"))
        .withColumn(
            "table_name",
            F.regexp_replace(F.col("table_name"), "^PAGES", "LINKS"),
        )
        .withColumn(
            "url",
            F.when(
                F.col("url").isNotNull(), F.concat(F.lit("l-"), F.col("url"))
            ),
        )
    )
    j1.unionByName(j2).write.mode("overwrite").partitionBy(
        "receiver_idx"
    ).parquet(jdir)

    evo = {
        "PAGES": EvolutionSpec(
            updates={
                1: SchemaUpdate(
                    1, (ColumnChange("add", "site_rank", "int", 0),)
                )
            }
        ),
        "LINKS": EvolutionSpec(
            updates={
                1: SchemaUpdate(
                    1, (ColumnChange("add", "links_score", "int", 0),)
                )
            }
        ),
    }
    cfg = EngineConfig(
        journal_path=jdir,
        target_path=f"{tmpdir_path}/root",
        table_include_list=("PAGES", "LINKS"),
        num_buckets=4,
        max_entries_per_batch=5000,
    )
    mt = MultiTableTailer(spark, cfg, evolution=evo)
    mt.run_to_head()
    pages_cols = set(mt.target("PAGES").read().columns)
    links_cols = set(mt.target("LINKS").read().columns)
    assert "site_rank" in pages_cols
    assert "links_score" not in links_cols  # no cross-contamination
    assert "site_rank" not in links_cols
    assert mt.target("PAGES").schema_version() >= 1
    assert mt.target("LINKS").schema_version() == -1


# -- 4. low: Iceberg writer watermark is monotone ----------------------


def test_iceberg_writer_watermark_monotone():
    from debezium_connector_ibmi_spark.sinks.iceberg import IcebergTarget

    t = IcebergTarget.__new__(IcebergTarget)
    t.spark = FakeIcebergSession()
    t.table = "cat.db.state"
    t.key = "url"
    t.num_buckets = 8
    t.delete_mode = "drop"

    t.merge(FakeBatch(), batch_id=0, watermark=(2, 500), writer_id="s1")
    assert t.watermark("s1") == (2, 500)
    # out-of-order epoch carries an OLDER position: must not regress
    t.merge(FakeBatch(), batch_id=1, watermark=(1, 900), writer_id="s1")
    assert t.watermark("s1") == (2, 500)
    # newer position advances
    t.merge(FakeBatch(), batch_id=2, watermark=(3, 1), writer_id="s1")
    assert t.watermark("s1") == (3, 1)
    # parity check against the parquet sink's semantics: replay of an
    # already-fenced epoch is skipped entirely (fence lookup only — no
    # MERGE, no property write)
    n_writes = sum(
        1 for s in t.spark.statements if not s.startswith("SHOW")
    )
    assert t.merge(FakeBatch(), batch_id=1, writer_id="s1")["skipped"]
    assert (
        sum(1 for s in t.spark.statements if not s.startswith("SHOW")) == n_writes
    )


# -- 5. low: signal incremental snapshot uses cfg.key_column -----------


def test_incsnap_defaults_key_col_from_cfg(spark, tmpdir_path):
    cfg = _cfg(tmpdir_path, f"{tmpdir_path}/j", key_column="url")
    cfg2 = replace(cfg, key_column="page_key")
    pages = (
        generate_pages(spark, GEN)
        .drop("version")
        .withColumnRenamed("url", "page_key")
    )
    snap = IncrementalSnapshotter(spark, cfg2, pages, n_chunks=3)
    assert snap.key_col == "page_key"
    # chunking actually runs on that column (would AnalysisException
    # on the old hard-coded 'url' default)
    sizes = [snap._chunk_df(i).count() for i in range(3)]
    assert sum(sizes) == pages.count()
