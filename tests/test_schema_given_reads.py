"""The engine's reads of files it wrote itself are schema-given: the
sink's state read takes the schema its commit declares, the binary
journal read takes ``BINARY_JOURNAL_SCHEMA``, so building those
DataFrames runs no Spark job (a footer-inferred parquet read runs one
per scan). The schema-given read must return exactly what the
inferred read of the same files returns."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from debezium_connector_ibmi_spark.datagen.journal import (
    JournalGenConfig,
    generate_journal,
)
from debezium_connector_ibmi_spark.sinks.merge import KeyBucketedTarget
from debezium_connector_ibmi_spark.sources.journal_source import (
    read_binary_journal,
    write_binary_journal,
)
from debezium_connector_ibmi_spark.sources.snapshot import journal_head

DDL = "url string, v int, receiver_idx int, seq bigint, op string"
GEN = JournalGenConfig(n_urls=30, n_ops=300, txn_size=20, receiver_rotation=60)


def _batch(spark, seq0, ops):
    """One pre-compacted batch: ``ops`` maps url -> op, positions
    from ``seq0`` on."""
    return spark.createDataFrame(
        [(u, seq0 + i, 0, seq0 + i, op) for i, (u, op) in enumerate(ops.items())],
        DDL,
    )


def _jobs_to_build(spark, build):
    """(DataFrame, Spark jobs its construction ran)."""
    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        df = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status store over the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def _inferred_read(t: KeyBucketedTarget):
    """``t.read()`` with the commit's declared schema hidden, so every
    scan infers its schema from a file footer."""
    last = t.last_commit
    t.last_commit = lambda: {k: v for k, v in last().items() if k != "schema"}
    try:
        return t.read()
    finally:
        del t.last_commit


def _assert_same_as_inferred(t: KeyBucketedTarget):
    got, want = t.read(), _inferred_read(t)
    assert got.dtypes == want.dtypes
    rows = lambda df: {r["url"]: r.asDict() for r in df.collect()}  # noqa: E731
    assert got.count() == want.count()
    assert rows(got) == rows(want)


def test_engine_reads_build_without_jobs(spark, tmpdir_path):
    cow = KeyBucketedTarget(spark, f"{tmpdir_path}/cow", num_buckets=4)
    mor = KeyBucketedTarget(
        spark, f"{tmpdir_path}/mor", num_buckets=4, write_mode="mor"
    )
    keys = [f"u{i}" for i in range(12)]
    for t in (cow, mor):
        t.merge(_batch(spark, 0, {k: "c" for k in keys}), batch_id=0)
        t.merge(_batch(spark, 100, {k: "u" for k in keys[::2]}), batch_id=1)
    pending = {v for vs in mor.last_commit()["deltas"].values() for v in vs}
    assert len(pending) >= 2
    jdir = f"{tmpdir_path}/jbin"
    write_binary_journal(generate_journal(spark, GEN), jdir, num_files=2)

    for name, build in (
        ("cow read", cow.read),
        ("mor read", mor.read),
        ("binary journal", lambda: read_binary_journal(spark, jdir)),
    ):
        df, jobs = _jobs_to_build(spark, build)
        assert jobs == 0, f"{name}: {jobs} jobs to build the DataFrame"
        assert df.count() > 0
    # the counter sees inference: the same reads without a declared
    # schema run one job per scan (base, then each delta version)
    _, jobs = _jobs_to_build(spark, lambda: _inferred_read(cow))
    assert jobs == 1
    _, jobs = _jobs_to_build(spark, lambda: _inferred_read(mor))
    assert jobs == len(pending)


@pytest.mark.parametrize("delete_mode", ["drop", "rewrite"])
def test_read_equals_inferred_read(spark, tmpdir_path, delete_mode):
    """Through pending mor deltas (with tombstones), a cow merge over
    them, an added and a widened column, compaction and a bucket
    rescale."""
    path = f"{tmpdir_path}/t"

    def target(mode):
        return KeyBucketedTarget(
            spark, path, num_buckets=4, delete_mode=delete_mode, write_mode=mode
        )

    keys = [f"u{i}" for i in range(10)]
    mor = target("mor")
    mor.merge(_batch(spark, 0, {k: "c" for k in keys}), batch_id=0)
    mor.merge(_batch(spark, 100, {"u1": "u", "u2": "d", "u3": "d"}), batch_id=1)
    _assert_same_as_inferred(mor)

    target("cow").merge(_batch(spark, 200, {"u1": "u", "u3": "c"}), batch_id=2)
    mor.merge(_batch(spark, 300, {"u4": "d", "u5": "u"}), batch_id=3)
    _assert_same_as_inferred(mor)

    mor.update_schema(
        lambda df: df.withColumn("extra", F.lit(None).cast("string")), version=1
    )
    _assert_same_as_inferred(mor)
    mor.merge(_batch(spark, 400, {"u6": "u", "u7": "d"}), batch_id=4)
    _assert_same_as_inferred(mor)

    mor.update_schema(
        lambda df: df.withColumn("v", F.col("v").cast("bigint")), version=2
    )
    assert dict(mor.read().dtypes)["v"] == "bigint"
    _assert_same_as_inferred(mor)
    mor.merge(_batch(spark, 500, {"u8": "u", "u9": "d"}), batch_id=5)
    _assert_same_as_inferred(mor)

    assert not mor.compact()["skipped"]
    _assert_same_as_inferred(mor)
    assert mor.rescale_buckets(3)["rescaled"]
    _assert_same_as_inferred(mor)


def test_rewrite_mode_read_after_snapshot(spark, tmpdir_path):
    """A snapshot commit declares no schema; the first rewrite-mode
    merge declares ``__deleted``. Buckets the merge left alone still
    hold snapshot files without the marker: they read as live rows,
    and the merged buckets keep their tombstones."""
    t = KeyBucketedTarget(
        spark, f"{tmpdir_path}/t", num_buckets=4, delete_mode="rewrite"
    )
    t.init_snapshot(
        spark.createDataFrame(
            [(f"u{i}", -1, -1, -1) for i in range(40)],
            "url string, v int, receiver_idx int, seq bigint",
        ),
        (0, 0),
    )
    t.merge(_batch(spark, 1, {"u0": "d"}), batch_id=0)
    assert len(t.last_commit()["buckets"]) == 4
    got = {r["url"]: r["__deleted"] for r in t.read().collect()}
    assert len(got) == 40
    assert got.pop("u0") is True
    assert set(got.values()) == {False}


def test_journal_head_of_missing_or_empty_journal(spark, tmpdir_path):
    assert journal_head(spark, f"{tmpdir_path}/absent") == (-1, -1)
    os.makedirs(f"{tmpdir_path}/empty")
    assert journal_head(spark, f"{tmpdir_path}/empty") == (-1, -1)
