"""Multi-table fan-out: one journal tail -> N per-table targets
(operator ergonomics of the reference's ``table.include.list`` —
``As400ConnectorConfig`` / ``As400JdbcConnection.shortIncludes``,
As400JdbcConnection.java:108-138 — where a single connector ingests
every included table from the one shared journal).

The single-table engine stays the unit of correctness: each table gets
its OWN ``JournalTailer`` + ``KeyBucketedTarget`` (isolated batch-id
fence, watermark, lineage, quarantine) under
``<target_root>/<table_lower>`` — the key-clobber hazard the
``_require_single_table`` guard exists for never arises because no two
tables share a target. What the orchestrator adds:

- ONE journal scan and ONE receiver-chain discovery per iteration,
  shared by every table (the expensive part at 100 TB — per-table
  tailers would re-scan the journal N times);
- a shared planned range sliced once and persisted, with each table
  merging only the sub-range past its own watermark — a table that was
  already ahead (e.g. resumed after others) skips cleanly instead of
  re-merging;
- per-table results keyed by table for observability.

Scale note: tables are merged sequentially within an iteration — each
merge is a full-cluster Spark job, so table-level threading would only
interleave job scheduling, not add parallelism. The shared slice is
persisted once and unpersisted at iteration end.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import SparkSession

from debezium_connector_ibmi_spark.config import EngineConfig
from debezium_connector_ibmi_spark.plans.range_planner import (
    Position,
    PositionRange,
    plan_next_range,
)
from debezium_connector_ibmi_spark.sources.journal_source import read_journal
from debezium_connector_ibmi_spark.streaming.engine import (
    JournalTailer,
    _mor_compact_due,
    discover_chain,
    resume_start,
    triage_position,
)


class MultiTableTailer:
    """Demux a shared journal into one target per included table.

    ``cfg.table_include_list`` holds N tables; ``cfg.target_path`` is
    the ROOT under which each table's target lives. ``evolution`` may
    be a single EvolutionSpec (applied to every table) or a dict
    ``{table_name: spec}``.
    """

    def __init__(self, spark: SparkSession, cfg: EngineConfig, evolution=None):
        if not cfg.table_include_list:
            raise ValueError("table_include_list must not be empty")
        self.spark = spark
        self.cfg = cfg
        self.tailers: dict[str, JournalTailer] = {}
        for table in cfg.table_include_list:
            sub = replace(
                cfg,
                table_include_list=(table,),
                target_path=f"{cfg.target_path.rstrip('/')}/{table.lower()}",
            )
            evo = evolution.get(table) if isinstance(evolution, dict) else evolution
            self.tailers[table] = JournalTailer(spark, sub, evolution=evo)

    def target(self, table: str):
        return self.tailers[table].target

    def watermarks(self) -> dict[str, tuple[int, int]]:
        return {t: tl.target.watermark() for t, tl in self.tailers.items()}

    def health(
        self, include_lag: bool = True, stall_after_s: float = 300.0
    ) -> dict:
        """Pipeline-level health bean (connector-health parity for the
        fan-out case): per-table task states plus a rolled-up
        connector state — ``healthy`` only when EVERY table is; the
        worst table state wins otherwise (severity: failed >
        invalid_position > stalled > empty > healthy)."""
        tables = {
            t: tl.health(include_lag=include_lag, stall_after_s=stall_after_s)
            for t, tl in self.tailers.items()
        }
        severity = ("failed", "invalid_position", "stalled", "empty")
        state = "healthy"
        for s in severity:
            if any(h["state"] == s for h in tables.values()):
                state = s
                break
        return {"state": state, "tables": tables}

    def run_to_head(self, max_batches: int | None = None) -> list[dict]:
        """Tail until every table is caught up. Each iteration plans
        ONE shared range from the minimum per-table watermark, slices
        and persists it once, and fans the slice out to each table's
        own fenced merge (tables already past the range skip)."""
        journal = read_journal(
            self.spark, self.cfg.journal_path, self.cfg.journal_format
        )
        chain = discover_chain(self.cfg.journal_path, lambda: journal)
        out: list[dict] = []
        # T6 triage per table (as JournalTailer.run_to_head): a table
        # whose committed watermark precedes the usable chain was
        # truncated past its checkpoint — honor the policy instead of
        # silently replaying from earliest.
        for table, tl in self.tailers.items():
            marker = triage_position(
                chain,
                tl.target.watermark(),
                self.cfg.invalid_position_policy,
                who=f"table {table}: ",
            )
            if marker:
                out.append({"table": table, **marker})
        # data_loss_reset markers above are diagnostics, not processed
        # ranges — count only range iterations against max_batches
        n_ranges = 0
        while max_batches is None or n_ranges < max_batches:
            wms = self.watermarks()
            start = min(
                (resume_start(chain, wm) for wm in wms.values()),
                key=lambda p: (p.receiver_idx, p.seq, p.processed),
            )
            rng = plan_next_range(
                chain,
                start,
                self.cfg.max_entries_per_batch,
            )
            if rng is None:
                break
            sliced = journal.filter(rng.predicate()).persist()
            results: dict[str, dict] = {}
            try:
                for table, tailer in self.tailers.items():
                    wm = wms[table]
                    end = (rng.end.receiver_idx, rng.end.seq)
                    if wm >= end:
                        results[table] = {"skipped": True, "reason": "ahead"}
                        continue
                    # this table's sub-range: only entries past ITS
                    # watermark (replaying them would be idempotent,
                    # but slicing here avoids the wasted merge work)
                    sub = PositionRange(
                        start=Position(wm[0], wm[1], processed=True),
                        end=rng.end,
                    )
                    batch_id = tailer.target.last_batch_id() + 1
                    results[table] = tailer.process_range(sliced, sub, batch_id)
            finally:
                sliced.unpersist()
            out.append(
                {
                    "range": (
                        (rng.start.receiver_idx, rng.start.seq),
                        (rng.end.receiver_idx, rng.end.seq),
                    ),
                    "tables": results,
                }
            )
            n_ranges += 1
            # mor housekeeping parity with JournalTailer.run_to_head:
            # the same delta-count trigger, per merged table
            for table, tl in self.tailers.items():
                res = results[table]
                if not res.get("skipped") and _mor_compact_due(
                    tl.cfg, tl.target, res
                ):
                    res["compacted"] = not tl.target.compact().get(
                        "skipped", False
                    )
        return out
