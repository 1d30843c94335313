"""Initial snapshot + snapshot->stream handover (operators S3/T10)
and new-table incremental backfill (T11).

Reference semantics reproduced exactly
(``As400SnapshotChangeEventSource.java:125-137,193-226``):
the journal head position is recorded as *processed* BEFORE the
table scan, so the streaming phase resumes after it; any change that
lands between watermark-record and table-read is replayed by the
stream and resolved by the idempotent position-aware MERGE.

Snapshot rows enter the target at position (-1, -1) so ANY journal
event for the same key wins the merge — the Spark expression of
"snapshot is older than every journal entry after the watermark".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_connector_ibmi_spark.config import EngineConfig
from debezium_connector_ibmi_spark.functions.decode import extract_text_udf
from debezium_connector_ibmi_spark.sinks.merge import KeyBucketedTarget

SNAPSHOT_POSITION = (-1, -1)


def journal_head(spark: SparkSession, journal_path: str) -> tuple[int, int]:
    """S5: current head position (max (receiver_idx, seq)) — the
    ``getCurrentPosition`` analogue; columnar scan of 2 columns, read
    with the two columns' types (both journal layouts carry them), so
    no schema-inference job. ``SNAPSHOT_POSITION`` for a missing path
    or a journal with no entries."""
    try:
        j = spark.read.schema("receiver_idx int, seq bigint").parquet(
            journal_path
        )
    except Exception:
        return SNAPSHOT_POSITION
    row = j.agg(
        F.max(F.struct(F.col("receiver_idx"), F.col("seq"))).alias("head")
    ).first()["head"]
    if row is None:
        return SNAPSHOT_POSITION
    return (row["receiver_idx"], row["seq"])


def snapshot_state(pages: DataFrame) -> DataFrame:
    """Decode a pages source table into target-state shape."""
    return pages.select(
        "url",
        "warc_ts",
        "html",
        extract_text_udf(F.col("html")).alias("text"),
        "lang",
        F.lit(SNAPSHOT_POSITION[0]).cast("int").alias("receiver_idx"),
        F.lit(SNAPSHOT_POSITION[1]).cast("long").alias("seq"),
    )


def initial_snapshot(
    spark: SparkSession, cfg: EngineConfig, pages: DataFrame
) -> tuple[int, int]:
    """T10: record head watermark FIRST, then load the snapshot.

    Returns the recorded watermark; the tailer started afterwards
    resumes from it (entries <= watermark are assumed reflected in
    the snapshot source, exactly like the reference's
    ``determineSnapshotOffset`` marking the position processed).
    """
    head = journal_head(spark, cfg.journal_path)
    target = KeyBucketedTarget.for_config(spark, cfg)
    target.init_snapshot(snapshot_state(pages), watermark=head)
    return head


def schema_only_snapshot(
    spark: SparkSession, cfg: EngineConfig, pages: DataFrame
) -> tuple[int, int]:
    """T10 ``schema_only`` mode: declare the target schema and record
    the current head watermark, but skip the data backfill entirely —
    streaming then applies only changes made after connector start.

    Reference semantics: ``As400ConnectorConfig.java:282``
    (``SCHEMA_ONLY("schema_only", false)``) with the
    ``isIncludeData()`` split at ``:304`` — the snapshot phase runs
    schema capture but emits no data events. This is the
    attach-to-a-pre-populated-target restart: the user wants the
    schema declared and the stream anchored at NOW without rewriting
    rows they already have.

    The schema is derived lazily from the decoded source shape
    (``snapshot_state``): schema analysis only, no scan or UDF
    execution. Commit order matters: the watermark-bearing snapshot
    commit first, then ``declare_schema`` (which folds the schema into
    the latest commit, preserving the watermark)."""
    head = journal_head(spark, cfg.journal_path)
    target = KeyBucketedTarget.for_config(spark, cfg)
    state = snapshot_state(pages)
    # head watermark recorded with ZERO data rows (empty bucket map)
    target.init_snapshot(state.limit(0), watermark=head)
    decl = [[f.name, f.dataType.simpleString()] for f in state.schema.fields]
    if cfg.delete_mode == "rewrite":
        # rewrite-mode merges persist tombstones; declare the marker
        # so _conform never drops it from the first merged batch
        decl.append(["__deleted", "boolean"])
    target.declare_schema(decl)
    return head


def detect_new_tables(
    previous_include: tuple[str, ...], current_include: tuple[str, ...]
) -> tuple[str, ...]:
    """T11: diff of include lists (the reference diffs
    ``table.include.list`` against the copy stored in offsets,
    As400ConnectorTask.java:109-119)."""
    return tuple(sorted(set(current_include) - set(previous_include)))


def backfill_new_tables(
    spark: SparkSession,
    cfg: EngineConfig,
    new_tables_pages: dict[str, DataFrame],
) -> dict:
    """Targeted snapshot of newly included tables merged into the
    existing target (incremental snapshot). Rows enter at snapshot
    position; the ongoing stream keeps winning on position."""
    target = KeyBucketedTarget.for_config(spark, cfg)
    merged = 0
    for _table, pages in sorted(new_tables_pages.items()):
        batch = snapshot_state(pages).withColumn("op", F.lit("c"))
        target.merge(batch, batch_id=target.last_batch_id() + 1)
        merged += 1
    return {"tables_backfilled": merged}
