"""Chunked incremental snapshot concurrent with streaming — the
DBLog / Debezium-incremental-snapshot algorithm re-expressed on the
position-aware merge sink.

Reference semantics: Debezium core's incremental snapshot (available
to the connector via the signal channel, As400ConnectorTask.java:
121-150) splits the table into PK chunks, reads one chunk at a time
while streaming continues, and resolves snapshot-vs-stream collisions
with a low/high-watermark event-buffer dance (the DBLog paper's
watermark windows). This engine gets the same correctness from two
invariants, no event buffering required:

1. Snapshot rows merge at position ``(-1, -1)`` and the sink's MERGE
   is position-aware, so any journal event — past or future — beats a
   chunk row by position (sources/snapshot.py; sinks/merge.py).
2. Chunk rows whose key has ANY journal event at a position the sink
   already applied are **discarded before the merge** (anti-join
   against the journal's key set up to the applied watermark). This
   is the DBLog window discipline with the window stretched to
   (-inf, applied-watermark]: for such keys the stream's state is
   authoritative — without this, a key hard-deleted by the stream
   (``delete_mode="drop"`` keeps no tombstone to out-position the
   chunk row) would be silently resurrected by a stale chunk. It also
   shrinks every merge: chunk rows that could only lose never reach
   the sink.

What chunking adds on top of ``backfill_new_tables``:
- **Bounded memory/time per unit of work**: each chunk is one merge
  of ~|table|/n_chunks rows — a 100 TB backfill becomes a sequence of
  fenced, restartable steps instead of one giant transaction.
- **Resumability**: chunk ``i`` commits under the
  ``incremental_snapshot`` writer fence with ``writer_batch_id = i``;
  a crash and re-run skips every completed chunk at the fence (same
  exactly-once discipline as signals).
- **Interleaving**: ``run_interleaved`` alternates chunks with tailer
  batches, so change-capture lag stays bounded while the backfill
  runs — the whole point of DBLog.

Chunking is by deterministic md5 hash of the key
(``corpus_ops.hash_bucket``), not PK ranges: partition/retry-stable,
no driver-side quantile pass, uniform chunk sizes regardless of key
skew. On a bucketed/Iceberg source the same bucket expression prunes
to one bucket's files per chunk; on plain parquet each chunk re-scans
(the scan is columnar and the filter is codegen'd — acceptable for a
backfill, and the chunk count controls the scan:merge ratio).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_connector_ibmi_spark.config import EngineConfig
from debezium_connector_ibmi_spark.operators.corpus_ops import hash_bucket
from debezium_connector_ibmi_spark.sinks.merge import KeyBucketedTarget
from debezium_connector_ibmi_spark.sources.journal_source import read_journal
from debezium_connector_ibmi_spark.sources.snapshot import (
    SNAPSHOT_POSITION,
    snapshot_state,
)

INCREMENTAL_WRITER_ID = "incremental_snapshot"


class IncrementalSnapshotter:
    """Chunked, fenced, stream-concurrent snapshot of a source table
    into the CDC target."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: EngineConfig,
        pages: DataFrame,
        n_chunks: int = 8,
        key_col: str | None = None,
        target: KeyBucketedTarget | None = None,
        writer_id: str = INCREMENTAL_WRITER_ID,
    ):
        assert n_chunks >= 1
        self.spark = spark
        self.cfg = cfg
        self.pages = pages
        self.n_chunks = n_chunks
        # default to the sink's merge key: chunking/anti-joining on any
        # other column than what the sink merges on would chunk wrong
        self.key_col = key_col or cfg.key_column
        self.writer_id = writer_id
        self.target = target or KeyBucketedTarget.for_config(spark, cfg)

    def completed_chunks(self) -> int:
        """Chunks already committed under the incremental-snapshot
        fence (resume point after a crash)."""
        return self.target.last_writer_batch_id(self.writer_id) + 1

    def pending_chunks(self) -> list[int]:
        return list(range(self.completed_chunks(), self.n_chunks))

    def materialize_chunks(self, path: str) -> None:
        """Optional one-pass pre-bucketing of the snapshot source:
        writes ``pages`` partitioned by chunk index so every
        subsequent ``_chunk_df`` is a partition-pruned read of one
        directory instead of a full-source scan with a hash filter.
        On plain parquet this turns an O(n_chunks * |table|) total
        backfill scan cost into O(|table|) — the 100 TB shape (an
        Iceberg/bucketed source gets the same pruning from the hash
        expression itself and does not need this step). Idempotent:
        re-running overwrites deterministically."""
        (
            self.pages.withColumn(
                "__chunk",
                hash_bucket(F.col(self.key_col), self.n_chunks, salt="incsnap"),
            )
            .repartition("__chunk")
            .write.mode("overwrite")
            .partitionBy("__chunk")
            .parquet(path)
        )
        self._prepared_path = path

    def _chunk_df(self, idx: int) -> DataFrame:
        prepared = getattr(self, "_prepared_path", None)
        if prepared is not None:
            # partition-pruned: reads exactly one chunk directory, with
            # the source's schema (no inference job)
            schema = T.StructType(
                [*self.pages.schema.fields, T.StructField("__chunk", T.LongType())]
            )
            return (
                self.spark.read.schema(schema)
                .parquet(prepared)
                .filter(F.col("__chunk") == idx)
                .drop("__chunk")
            )
        return self.pages.filter(
            hash_bucket(
                F.col(self.key_col), self.n_chunks, salt="incsnap"
            )
            == idx
        )

    def _applied_keys(self) -> DataFrame | None:
        """Keys with at least one journal event at a position the
        sink has applied (tailer-domain watermark). 2-column columnar
        scan; receiver_idx partition pruning keeps it to the applied
        prefix of the chain."""
        wm = self.target.watermark()
        if tuple(wm) <= SNAPSHOT_POSITION:
            return None
        try:
            j = read_journal(
                self.spark, self.cfg.journal_path, self.cfg.journal_format
            )
        except Exception:
            return None  # no journal yet: nothing to anti-join
        r, s = wm
        # Only ROW events (journal_code R) of THIS pipeline's tables
        # count as "applied": in a shared multi-table journal the
        # watermark advances over other tables' entries too, and a key
        # whose only in-range events belong to an excluded table was
        # never merged — anti-joining it away would silently drop its
        # snapshot row (same table discipline as
        # operators.filters.apply_standard_filters).
        applied = j.filter(
            (
                (F.col("receiver_idx") < r)
                | ((F.col("receiver_idx") == r) & (F.col("seq") <= s))
            )
            & (F.col("journal_code") == "R")
            & F.col("table_name").isin(*self.cfg.table_include_list)
        )
        return applied.select(
            F.col(self.cfg.key_column).alias(self.key_col)
        ).distinct()

    def run_chunk(self, idx: int) -> dict:
        """Snapshot-read one chunk and merge it at snapshot position.
        Idempotent: a replayed chunk skips at the writer fence.

        The DBLog window: chunk rows for keys the stream already
        applied are dropped pre-merge — the stream's state (including
        hard deletes, which keep no tombstone to win by position) is
        authoritative for those keys; the chunk only contributes keys
        the stream has never seen."""
        chunk = self._chunk_df(idx)
        applied = self._applied_keys()
        if applied is not None:
            chunk = chunk.join(applied, self.key_col, "left_anti")
        batch = snapshot_state(chunk).withColumn("op", F.lit("c"))
        stats = self.target.merge(
            batch, batch_id=idx, writer_id=self.writer_id
        )
        return {"chunk": idx, **stats}

    def run_all(self) -> list[dict]:
        return [self.run_chunk(i) for i in self.pending_chunks()]

    def run_interleaved(self, tailer, batches_per_chunk: int = 1) -> list[dict]:
        """DBLog interleaving: after each chunk, give the tailer a
        turn so capture lag stays bounded during the backfill. The
        tailer and the snapshotter write through different fence
        domains of the same sink, so neither can replay-skip the
        other."""
        out: list[dict] = []
        for idx in self.pending_chunks():
            out.append(self.run_chunk(idx))
            for s in tailer.run_to_head(max_batches=batches_per_chunk):
                out.append({"stream": True, **s})
        # drain any remaining journal after the last chunk
        for s in tailer.run_to_head():
            out.append({"stream": True, **s})
        return out
