"""Event-time windowed metrics + stateful cross-batch pairing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from debezium_connector_ibmi_spark.datagen.journal import (
    JournalGenConfig,
    generate_journal,
)
from debezium_connector_ibmi_spark.sources.journal_source import (
    JOURNAL_SCHEMA,
    read_journal_stream,
)
from debezium_connector_ibmi_spark.streaming.dedup_stream import await_available_now
from debezium_connector_ibmi_spark.streaming.metrics_stream import (
    pair_stream_stateful,
    windowed_op_counts,
)

GEN = JournalGenConfig(n_urls=25, n_ops=300, txn_size=20, receiver_rotation=60)


def _await_drained(q, timeout_s=300):
    """Wait until an availableNow query has consumed all its input,
    then stop it. A ProcessingTimeTimeout stateful operator keeps
    Spark scheduling no-data batches (to fire timeouts), so such a
    query never terminates on its own; the first batch that reads zero
    rows marks the input drained, because no-data batches only run
    once the available files are exhausted."""
    import time

    deadline = time.time() + timeout_s
    try:
        while q.isActive and time.time() < deadline:
            p = q.lastProgress
            if p is not None and p["numInputRows"] == 0:
                break
            time.sleep(0.2)
        else:
            assert not q.isActive, f"input not drained in {timeout_s}s"
        assert q.exception() is None, q.exception()
    finally:
        q.stop()


def test_windowed_op_counts(spark, tmpdir_path):
    j = generate_journal(spark, GEN)
    j.write.mode("overwrite").parquet(f"{tmpdir_path}/j")
    stream = read_journal_stream(spark, f"{tmpdir_path}/j")
    agg = windowed_op_counts(stream, window="1 minute", watermark="2 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wincounts")
        .option("checkpointLocation", f"{tmpdir_path}/ck")
        .trigger(availableNow=True)
        .start()
    )
    await_available_now(q, timeout=300)
    # append mode emits only watermark-closed windows; re-derive the
    # expected counts for those windows from the batch data
    got = {
        (r["win_start"], r["op"]): r["n"]
        for r in spark.sql("SELECT * FROM wincounts").collect()
    }
    assert got, "no closed windows emitted"
    from debezium_connector_ibmi_spark.functions.optype import op_type_col

    expected = {
        (r["win_start"], r["op"]): r["n"]
        for r in j.withColumn("op", op_type_col())
        .filter(F.col("op").isin("c", "u", "d"))
        .groupBy(
            F.window("entry_ts", "1 minute")["start"].alias("win_start"), "op"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for k, v in got.items():
        assert expected[k] == v


def test_stateful_pairing_survives_restart(spark, tmpdir_path):
    """Kill/resume straddling a UB/UP pair (VERDICT round-1 item 10):
    stop the stream exactly after the UB entry (phase 1), restart from
    the checkpoint with the UP arriving later (phase 2). The reference
    loses this pair (single-slot in-memory cache, SURVEY T2 loss
    note); the checkpointed applyInPandasWithState version must
    recover the pending before-image and attach it."""
    from debezium_connector_ibmi_spark.config import EngineConfig
    from debezium_connector_ibmi_spark.operators.filters import (
        apply_standard_filters,
    )
    from debezium_connector_ibmi_spark.pipeline import decoded_events

    j = generate_journal(spark, GEN).cache()
    rows = sorted(
        (r for r in j.collect()),
        key=lambda r: (r["receiver_idx"], r["seq"]),
    )
    # split point: directly after a UB whose UP is the next entry for
    # the same url — the exact crash window the reference loses
    split = next(
        i + 1
        for i in range(len(rows) - 1)
        if rows[i]["entry_type"] == "UB"
        and rows[i + 1]["entry_type"] == "UP"
        and rows[i + 1]["url"] == rows[i]["url"]
    )
    ub_row = rows[split - 1]
    jdir, ck = f"{tmpdir_path}/j", f"{tmpdir_path}/ck"
    schema = j.schema
    spark.createDataFrame(rows[:split], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(jdir)

    def run(name):
        # memory sink cannot recover a checkpoint; foreachBatch can
        out: list = []
        stream = read_journal_stream(spark, jdir, max_files_per_trigger=1)
        paired = pair_stream_stateful(
            apply_standard_filters(stream, EngineConfig())
        )
        q = (
            paired.writeStream.outputMode("append")
            .foreachBatch(lambda df, _eid: out.extend(df.collect()))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        await_available_now(q, timeout=300)
        return out

    phase1 = run("p1")  # ends with the UB parked in checkpointed state
    spark.createDataFrame(rows[split:], schema).coalesce(1).write.mode(
        "append"
    ).parquet(jdir)
    phase2 = run("p2")  # restart: state recovered, UP pairs with UB

    key = (ub_row["url"], rows[split]["receiver_idx"], rows[split]["seq"])
    got = {
        (r["url"], r["receiver_idx"], r["seq"]): (
            r["op"],
            bytes(r["before_html"]) if r["before_html"] is not None else None,
        )
        for r in phase1 + phase2
    }
    assert got[key][0] == "u"
    assert got[key][1] == (
        bytes(ub_row["before_html"])
        if ub_row["before_html"] is not None
        else None
    ), "before-image lost across restart"
    # full equivalence vs the global batch pairing oracle
    expected = {
        (r["url"], r["receiver_idx"], r["seq"]): (
            r["op"],
            bytes(r["before_html"]) if r["before_html"] is not None else None,
        )
        for r in decoded_events(j, EngineConfig())
        .select("url", "receiver_idx", "seq", "op", "before_html")
        .collect()
    }
    assert got == expected
    j.unpersist()


def test_stateful_pairing_across_batches(spark, tmpdir_path):
    """Write the journal as per-receiver files and stream with
    maxFilesPerTrigger=1 so UB/UP pairs straddle micro-batches; the
    stateful pairer must still attach every before image."""
    j = generate_journal(spark, GEN).cache()
    # one file per receiver, ordered within: guarantees some UB at a
    # file (=batch) tail with its UP at the next file's head
    (
        j.repartition(1)
        .sortWithinPartitions("receiver_idx", "seq")
        .write.mode("overwrite")
        .partitionBy("receiver_idx")
        .parquet(f"{tmpdir_path}/j")
    )
    from debezium_connector_ibmi_spark.config import EngineConfig
    from debezium_connector_ibmi_spark.operators.filters import (
        apply_standard_filters,
    )

    stream = read_journal_stream(spark, f"{tmpdir_path}/j", max_files_per_trigger=1)
    # TTL mode exercised on the happy path: a generous horizon must
    # not change any pairing result (timeout plumbing active)
    paired = pair_stream_stateful(
        apply_standard_filters(stream, EngineConfig()), pending_ttl_ms=600_000
    )
    q = (
        paired.writeStream.outputMode("append")
        .format("memory")
        .queryName("paired")
        .option("checkpointLocation", f"{tmpdir_path}/ck2")
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q)
    got = spark.sql("SELECT * FROM paired")

    # oracle: batch pairing over the whole journal (order-global)
    from debezium_connector_ibmi_spark.pipeline import decoded_events

    expected = decoded_events(j, EngineConfig()).select(
        "url", "receiver_idx", "seq", "op", "before_html"
    )
    g = {
        (r["url"], r["receiver_idx"], r["seq"]): (
            r["op"],
            bytes(r["before_html"]) if r["before_html"] is not None else None,
        )
        for r in got.collect()
    }
    e = {
        (r["url"], r["receiver_idx"], r["seq"]): (
            r["op"],
            bytes(r["before_html"]) if r["before_html"] is not None else None,
        )
        for r in expected.collect()
    }
    assert set(g) == set(e)
    mismatches = [k for k in e if g[k] != e[k]]
    assert not mismatches, f"{len(mismatches)} pairing mismatches: {mismatches[:3]}"
    j.unpersist()

def test_dedup_stream_drops_redeliveries(spark, tmpdir_path):
    """At-least-once redelivery guard: the journal written twice (two
    files with identical positions) must come out once per position,
    with dedup state bounded by the watermark horizon."""
    from debezium_connector_ibmi_spark.streaming.metrics_stream import (
        dedup_stream,
    )

    j = generate_journal(spark, GEN).cache()
    n_unique = j.select("receiver_idx", "seq").distinct().count()
    jdir = f"{tmpdir_path}/jdup"
    j.coalesce(1).write.mode("overwrite").parquet(jdir)
    j.coalesce(1).write.mode("append").parquet(jdir)  # full redelivery
    stream = read_journal_stream(spark, jdir)
    out = []
    q = (
        dedup_stream(stream)
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _e: out.extend(
            df.select("receiver_idx", "seq").collect()))
        .option("checkpointLocation", f"{tmpdir_path}/ckdup")
        .trigger(availableNow=True)
        .start()
    )
    await_available_now(q, timeout=300)
    assert len(out) == n_unique
    assert len({(r["receiver_idx"], r["seq"]) for r in out}) == n_unique
    j.unpersist()
