"""Engine configuration.

Mirrors the *semantics* of the reference connector's config surface
(``As400ConnectorConfig.java`` — buffer size, max entries per fetch,
poll interval, include lists, snapshot modes) re-expressed as the
knobs a Spark engine actually needs: per-trigger entry budget, key
bucket count, checkpoint/target paths.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class EngineConfig:
    """Configuration for one CDC pipeline (journal -> target table).

    Reference analogues (SURVEY.md section citations):
    - ``max_entries_per_batch`` ~ ``maxServerSideEntries`` (1,000,000
      default, RetrieveConfig.java:19) — bounds each micro-batch.
    - ``table_include_list`` ~ Debezium ``table.include.list`` +
      server-side FILE filter (RetrievalCriteria.java:198-224).
    - ``delete_mode`` ~ sink consumers' ``delete.handling.mode``
      (reference README.md:188-192): "drop" removes the row,
      "rewrite" keeps it with ``__deleted=true``.
    - ``num_buckets`` — target-table key-hash bucket count; the Spark
      analogue of partitioning the journal/target for pruned merges.
    """

    journal_path: str = ""
    target_path: str = ""
    checkpoint_path: str = ""

    table_include_list: tuple[str, ...] = ("PAGES",)
    key_column: str = "url"

    # batch planning (T3 ReceiverPagination analogue)
    max_entries_per_batch: int = 1_000_000

    # journal layout: "columnar" (parquet columns) or "binary" (packed
    # 63-byte header blobs decoded in-pipeline by C1/C2 — the raw
    # RJNE0200-buffer analogue)
    journal_format: str = "columnar"

    # target layout / merge strategy
    num_buckets: int = 32
    delete_mode: str = "drop"  # or "rewrite"
    # merge write strategy (Iceberg write.merge.mode analogue):
    #  "cow" copy-on-write: each merge reads+rewrites touched buckets
    #  "mor" merge-on-read: each merge appends per-bucket delta files
    #        (one Spark job per batch, no current-state read); readers
    #        resolve by position, compact() folds deltas into a base
    merge_write_mode: str = "cow"
    # mor housekeeping: compact when any bucket's OUTSTANDING DELTA
    # COUNT reaches this threshold (0 = never). Read cost grows
    # linearly with per-bucket delta depth (see BASELINE.md
    # read-amplification table: ~+12%/delta at sf-bench shape), so
    # this caps read() wall directly regardless of batch sizing. Free
    # to evaluate: the depth rides the commit's deltas map, no extra
    # IO. Ignored in cow mode.
    mor_compact_max_deltas: int = 0

    # Debezium ``snapshot.mode`` analogue (reference config surface:
    # As400ConnectorConfig snapshot modes; semantics = Debezium core):
    #  "initial"      snapshot once on an empty target, then stream
    #  "initial_only" snapshot on an empty target, never stream
    #  "never"        stream only (target starts empty; first events
    #                 materialize rows)
    #  "when_needed"  like initial, but ALSO rebuild the snapshot when
    #                 the committed resume position is unusable
    #                 (journal truncated past it) instead of failing
    snapshot_mode: str = "initial"

    # streaming
    poll_interval_ms: int = 2000
    # T6: resume position older than the earliest available entry
    # (journal truncated past the checkpoint): "fail" raises
    # InvalidPositionError; "reset_earliest" logs data loss and
    # replays from the start of the usable chain (the reference's
    # blank-offset reset, As400StreamingChangeEventSource.java:126-128)
    invalid_position_policy: str = "fail"
    # S10: write undecodable/malformed row events to a quarantine
    # table for forensics (the reference dumps failed decodes to
    # files, RetrieveJournal.java:294-348)
    quarantine_enabled: bool = False

    extra: dict = field(default_factory=dict)

    def target_state_path(self) -> str:
        return f"{self.target_path.rstrip('/')}/state"
