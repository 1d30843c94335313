"""Snapshot-mode orchestration — the Debezium ``snapshot.mode`` knob
(reference config surface: ``As400ConnectorConfig`` inherits Debezium
core's relational snapshot modes) expressed over the engine's existing
pieces: ``initial_snapshot`` (T10 handover), ``JournalTailer`` (the
poll loop), and the planner's position validation (T6).

``run_cdc`` is the one-call entrypoint a connector ``start()`` maps
to:

- ``initial``       empty target -> snapshot at the current head,
                    then tail; non-empty target -> just tail.
- ``initial_only``  snapshot phase only; streaming is skipped
                    entirely (Debezium's dump-and-stop mode).
- ``never``         no snapshot ever; tailing starts from the
                    committed watermark (or the journal start on a
                    fresh target) and rows materialize from events.
- ``schema_only``   empty target -> declare the table schema and
                    record the head watermark WITHOUT any data
                    backfill, then tail: only changes made after
                    connector start materialize (the reference's
                    ``SCHEMA_ONLY`` mode, ``isIncludeData()`` false —
                    the attach-to-a-pre-populated-target restart).
- ``when_needed``   like ``initial``, and ALSO re-executes the
                    snapshot when the committed resume position is
                    unusable (journal truncated past it): the target
                    is rebuilt from the CURRENT source state with the
                    head watermark recorded first (``init_snapshot``
                    replaces the full bucket map, so rows deleted in
                    the source disappear), then tailing resumes after
                    the new watermark. This is Debezium's
                    offsets-invalid re-snapshot, instead of the
                    ``fail`` / ``reset_earliest`` policies the plain
                    tailer offers.

The snapshot phase needs a ``pages`` DataFrame (the current source
table). Modes that can snapshot raise if it is missing when needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from debezium_connector_ibmi_spark.config import EngineConfig
from debezium_connector_ibmi_spark.plans.range_planner import (
    Position,
    validate_position,
)
from debezium_connector_ibmi_spark.sources.journal_source import read_journal
from debezium_connector_ibmi_spark.sources.snapshot import (
    initial_snapshot,
    schema_only_snapshot,
)
from debezium_connector_ibmi_spark.streaming.engine import (
    JournalTailer,
    discover_chain,
)

SNAPSHOT_MODES = (
    "initial",
    "initial_only",
    "never",
    "when_needed",
    "schema_only",
)


def _position_usable(tailer: JournalTailer) -> bool:
    """T6 probe: is the committed watermark a valid resume point
    against the usable receiver chain?"""
    try:
        journal = read_journal(
            tailer.spark, tailer.cfg.journal_path, tailer.cfg.journal_format
        )
    except Exception:
        return True  # no journal yet: nothing to be behind of
    chain = discover_chain(tailer.cfg.journal_path, lambda: journal)
    r, s = tailer.target.watermark()
    return validate_position(chain, Position(r, s, processed=True))


def run_cdc(
    spark: SparkSession,
    cfg: EngineConfig,
    pages: DataFrame | None = None,
    evolution=None,
    max_batches: int | None = None,
) -> dict:
    """Execute one catch-up cycle under ``cfg.snapshot_mode``.

    Returns {"snapshot": bool, "resnapshot": bool, "schema_declared":
    bool, "watermark": (r, s), "batches": [tailer stats...]} — call
    repeatedly (or wrap in a poll loop) for continuous tailing; every
    phase commits through the sink fence, so a crash anywhere resumes
    correctly. ``snapshot`` means a DATA snapshot ran;
    ``schema_declared`` marks the data-less schema_only capture.
    """
    mode = cfg.snapshot_mode
    if mode not in SNAPSHOT_MODES:
        raise ValueError(
            f"unknown snapshot_mode {mode!r}; expected one of "
            f"{SNAPSHOT_MODES}"
        )
    tailer = JournalTailer(spark, cfg, evolution=evolution)
    empty = tailer.target.last_commit() is None
    did_snapshot = did_resnapshot = declared = False

    if mode == "schema_only" and empty:
        if pages is None:
            raise ValueError(
                "snapshot_mode='schema_only' needs the source table "
                "(pages) to capture the schema"
            )
        schema_only_snapshot(spark, cfg, pages)
        declared = True
    elif mode in ("initial", "initial_only", "when_needed") and empty:
        if pages is None:
            raise ValueError(
                f"snapshot_mode={mode!r} needs the source table "
                "(pages) for the initial snapshot"
            )
        initial_snapshot(spark, cfg, pages)
        did_snapshot = True
    elif mode == "when_needed" and not _position_usable(tailer):
        # offsets unusable: rebuild from current source state; the
        # head watermark is recorded BEFORE the table read (T10), so
        # overlap replays idempotently through the position guard
        if pages is None:
            raise ValueError(
                "snapshot_mode='when_needed' needs the source table "
                "(pages) to rebuild after journal truncation"
            )
        initial_snapshot(spark, cfg, pages)
        did_snapshot = did_resnapshot = True

    batches: list[dict] = []
    if mode != "initial_only":
        batches = tailer.run_to_head(max_batches=max_batches)
    return {
        "snapshot": did_snapshot,
        "resnapshot": did_resnapshot,
        "schema_declared": declared,
        "watermark": tuple(tailer.target.watermark()),
        "batches": batches,
    }
