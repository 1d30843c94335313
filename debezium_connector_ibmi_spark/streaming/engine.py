"""The CDC engine loop: journal tail -> decode -> compact -> MERGE.

Two execution modes over the same per-batch dataflow:

1. ``JournalTailer`` — planner-driven micro-batches (the direct
   analogue of the reference's poll loop,
   ``As400StreamingChangeEventSource.execute``
   As400StreamingChangeEventSource.java:104-159 + the
   ReceiverPagination range planning): each iteration plans a
   bounded (receiver_idx, seq) range from the sink's committed
   watermark, processes it, and commits watermark + lineage + data
   in one fence. Resumable from any point because the *sink commit*
   is the only state.

2. ``run_structured_stream`` — Spark Structured Streaming file
   source + ``foreachBatch`` into the same sink; Spark's checkpoint
   tracks source progress, the sink's batch-id fence upgrades the
   sink side to exactly-once.

Per-batch throughput/lag metrics are recorded in the commit's
``partitions`` list (FIXTURES.md §3 lineage schema).
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_connector_ibmi_spark.config import EngineConfig
from debezium_connector_ibmi_spark.pipeline import (
    STATE_COLUMNS,
    compact_for_state,
    with_text,
)
from debezium_connector_ibmi_spark.plans.range_planner import (
    InvalidPositionError,
    Position,
    PositionRange,
    plan_next_range,
    receiver_lineage,
    receiver_lineage_from_footers,
    usable_chain,
    validate_position,
)
from debezium_connector_ibmi_spark.sinks.merge import KeyBucketedTarget
from debezium_connector_ibmi_spark.sources.journal_source import read_journal


# above this many receivers in one planned range, per-receiver lineage
# reverts from Observation conditional aggregates to its own job
LINEAGE_OBSERVE_MAX_RECEIVERS = 64

def _mor_compact_due(cfg, target, stats: dict) -> bool:
    """Shared mor-compaction trigger (tailer loop, structured stream,
    fan-out): fire when any bucket's outstanding delta count reached
    ``mor_compact_max_deltas`` (the quantity that actually bounds read
    amplification — rides the commit's deltas map for free)."""
    return (
        getattr(target, "write_mode", "cow") == "mor"
        and cfg.mor_compact_max_deltas > 0
        and stats.get("max_bucket_deltas", 0) >= cfg.mor_compact_max_deltas
    )


def _fill_cache_collect_touched(batch, target) -> list[int] | None:
    """Materialize a persisted cow batch (noop write) and ride the
    touched-bucket discovery on it as a map-side ``collect_set``
    Observation (one cache-fill action + one merge-from-cache action
    per batch). Driver state is bounded: the set size is <=
    target.num_buckets. Returns None (sink falls back to its own
    discovery) for custom targets or when the metrics row is
    unavailable."""
    if not (hasattr(target, "_bucket_col") and hasattr(target, "key")):
        return None  # custom target: let it do its own discovery
    from pyspark.sql import Observation

    bobs = Observation()
    batch.observe(
        bobs,
        F.collect_set(target._bucket_col(F.col(target.key))).alias(
            "touched"
        ),
    ).write.format("noop").mode("overwrite").save()
    m = _observation_metrics(bobs)
    if m is None:
        return None
    return [int(b) for b in m["touched"]]


def _observation_metrics(obs, timeout_s: float = 2.0) -> dict | None:
    """Bounded resolution of a PySpark Observation: the metrics dict
    if the observed plan's first action has completed (waiting up to
    ``timeout_s`` for the listener bus to deliver it), else None
    (caller falls back to a dedicated aggregation).

    ``Observation.get`` blocks indefinitely until the observed plan's
    first action — a sink whose commit path never executes an action
    over the batch (e.g. a custom target that short-circuits) would
    hang the provider instead of falling back (round-4 ADVICE). The
    JVM object's ``future().isCompleted()`` is the completion probe;
    ``get`` after a completed future returns immediately. Every
    caller probes AFTER its own action returned, so the metrics event
    is normally already delivered — but delivery rides the async
    listener bus, and the former zero-wait probe raced it (measured:
    the cold session's first batch intermittently resolved None and
    paid the fallback aggregation jobs for nothing). The bounded poll
    keeps the no-hang guarantee while closing that race. Any
    resolution error (including the empty-relation-collapsed
    schemaless metrics row) also returns None."""
    jo = getattr(obs, "_jo", None)
    if jo is None:
        return None  # observe() never attached
    try:
        deadline = time.time() + timeout_s
        while not jo.future().isCompleted():
            if time.time() >= deadline:
                return None
            time.sleep(0.02)
        return obs.get
    except Exception:
        return None


def _merge_columns() -> list[str]:
    return list(STATE_COLUMNS) + ["receiver_idx", "seq", "op"]


def prepare_batch(journal_slice: DataFrame, cfg: EngineConfig) -> DataFrame:
    """filter -> op-map -> compact -> decode survivors.

    Uses the state-path compaction (``pipeline.compact_for_state``:
    UB rows and before-image bytes dropped BEFORE the shuffle — final
    state never reads them; event consumers use
    ``pipeline.decoded_events`` instead).
    """
    last = compact_for_state(journal_slice, cfg)
    return with_text(last).select(*_merge_columns())


def prepare_and_merge(
    target, cfg: EngineConfig, observed: DataFrame, **merge_kwargs
) -> dict:
    """The per-batch apply sequence of the tailer and the structured
    stream: prepare -> persist -> cache fill -> merge -> unpersist.

    cow: the merge needs the touched-bucket set at PLAN time, so the
    batch is persisted and the discovery rides its cache-fill action
    (which also fires any Observation the caller attached to
    ``observed``). mor: the sink's write IS its only action (touched
    = written partition dirs), so caching would be pure overhead. The
    batch is unpersisted even when the merge raises."""
    batch = prepare_batch(observed, cfg)
    if getattr(target, "write_mode", "cow") != "cow":
        return target.merge(batch, **merge_kwargs)
    batch = batch.persist()
    try:
        touched = _fill_cache_collect_touched(batch, target)
        if touched is not None:
            merge_kwargs["touched"] = touched
        return target.merge(batch, **merge_kwargs)
    finally:
        batch.unpersist()


def apply_schema_changes_for_slice(
    target: KeyBucketedTarget, cfg: EngineConfig, evolution, sliced: DataFrame
) -> list[int]:
    """T12: D.CG/D.CT entries in a batch -> ordered, exactly-once
    schema updates on the target (the Debezium schema-history
    replay). Applied before the batch's data merge — added columns
    default to null for rows already in flight, matching the
    reference's refetch-then-continue behavior. Shared by the tailer
    and the Structured Streaming mode."""
    if evolution is None:
        return []
    from debezium_connector_ibmi_spark.streaming.schema_evolution import (
        EvolutionSpec,
        apply_schema_events,
    )

    # declare the base state schema so evolutions can apply even
    # before the first data merge (CREATE TABLE analogue)
    base = [
        ["url", "string"],
        ["warc_ts", "timestamp"],
        ["html", "binary"],
        ["text", "string"],
        ["lang", "string"],
        ["receiver_idx", "int"],
        ["seq", "bigint"],
    ]
    if cfg.delete_mode == "rewrite":
        base.append(["__deleted", "boolean"])
    target.declare_schema(base)

    # Schema events carry 'TABLE@vN' — strip the version tag and keep
    # only THIS pipeline's table(s). In a shared multi-table journal
    # (MultiTableTailer fans one slice out to every table) table A's
    # evolution event must not bump/transform table B's target.
    base_table = F.regexp_replace(F.col("table_name"), r"@v\d+$", "")
    rows = (
        sliced.filter(
            (F.col("journal_code") == "D")
            & (F.col("entry_type").isin("CG", "CT"))
            & base_table.isin(*cfg.table_include_list)
        )
        .select("receiver_idx", "seq", "table_name")
        .orderBy("receiver_idx", "seq")
        .collect()
    )
    versions = [
        v
        for v in (EvolutionSpec.parse_version(r["table_name"]) for r in rows)
        if v is not None
    ]
    return apply_schema_events(target, evolution, versions)


def discover_chain(
    journal_path: str, read_journal: Callable[[], DataFrame]
) -> list[dict]:
    """The usable receiver chain: parquet footers (metadata-only,
    Iceberg-manifest analogue) when the layout allows, else the
    2-column scan of ``read_journal()``, which is called only then —
    the fixed per-run cost the footers remove is what dilutes
    wall-clock scaling at small core counts."""
    return usable_chain(
        receiver_lineage_from_footers(journal_path)
        or receiver_lineage(read_journal())
    )


def triage_position(
    chain: list[dict], wm: tuple[int, int], policy: str, who: str = ""
) -> dict | None:
    """T6 invalid-position triage (the reference's CPF7053 handling):
    None when the committed watermark ``wm`` is a valid resume point.
    Otherwise the journal was truncated past it: raise under policy
    ``fail``, else return the logged data-loss marker
    (``reset_earliest``; ``resume_start`` then plans from the chain
    head)."""
    if validate_position(chain, Position(wm[0], wm[1], processed=True)):
        return None
    head = (chain[0]["receiver_idx"], chain[0]["min_seq"])
    if policy == "fail":
        raise InvalidPositionError(
            f"{who}resume position {wm} precedes earliest "
            f"available entry {head} — journal truncated"
        )
    return {
        "skipped": False,
        "data_loss_reset": True,
        "from": wm,
        "to_earliest": head,
    }


def resume_start(chain: list[dict], wm: tuple[int, int]) -> Position:
    """Where planning resumes: just past the committed watermark, or
    (reset_earliest) the chain head, inclusive, when the chain no
    longer reaches the watermark."""
    start = Position(wm[0], wm[1], processed=True)
    if validate_position(chain, start):
        return start
    return Position(chain[0]["receiver_idx"], chain[0]["min_seq"], processed=False)


def _require_single_table(cfg: EngineConfig) -> None:
    """The sink's state is keyed by ``cfg.key_column`` alone (the
    reference keeps one topic/table per source table); two tables
    sharing a key in one target would clobber each other's rows.
    One KeyBucketedTarget per table — fan out multiple tables to
    multiple targets."""
    if len(cfg.table_include_list) != 1:
        raise ValueError(
            "one target per table: table_include_list must contain "
            f"exactly one table, got {cfg.table_include_list!r} — "
            "run one pipeline (journal_path/target_path pair) per table"
        )


class JournalTailer:
    def __init__(
        self, spark: SparkSession, cfg: EngineConfig, evolution=None, target=None
    ):
        """``target``: any sink implementing the merge-target
        interface (merge / watermark / last_batch_id /
        last_writer_batch_id / record_writer_progress) — the parquet
        ``KeyBucketedTarget`` by default, ``IcebergTarget`` in
        production. Both fence identically (interface-parity test:
        tests/test_iceberg_binding.py)."""
        _require_single_table(cfg)
        self.spark = spark
        self.cfg = cfg
        self.evolution = evolution  # EvolutionSpec or None
        self.target = target or KeyBucketedTarget.for_config(spark, cfg)

    def _apply_schema_changes(self, sliced: DataFrame) -> list[int]:
        return apply_schema_changes_for_slice(
            self.target, self.cfg, self.evolution, sliced
        )

    def _lineage_agg(self, sliced: DataFrame) -> list[dict]:
        """Dedicated per-receiver lineage aggregation (one job)."""
        return [
            {
                "receiver_idx": int(r["receiver_idx"]),
                "seq": int(r["seq"]),
                "events_applied": int(r["n"]),
                "processed": True,
            }
            for r in sliced.groupBy("receiver_idx")
            .agg(
                F.max("seq").alias("seq"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        ]

    def _observe_lineage(self, sliced: DataFrame, rng: PositionRange):
        """Attach per-receiver lineage aggregates to the MERGE branch
        of the slice as an Observation (rides the merge's own first
        action — zero extra jobs), returning ``(observed_slice,
        provider)``. Only prepare_batch consumes the observed plan:
        side actions (schema-event collect, quarantine write) run on
        the raw slice so an optimizer-collapsed side plan (e.g. a
        statically-empty filter, where empty-relation propagation
        deletes the CollectMetrics node and completes the observation
        with a schemaless empty row) can never poison the metrics.
        The provider still guards against that failure mode — and
        against ranges spanning more than
        ``LINEAGE_OBSERVE_MAX_RECEIVERS`` receivers — by falling back
        to the dedicated aggregation job."""
        receivers = list(
            range(max(rng.start.receiver_idx, 0), rng.end.receiver_idx + 1)
        )
        cache: list[list[dict]] = []
        if not receivers or len(receivers) > LINEAGE_OBSERVE_MAX_RECEIVERS:

            def fallback():
                if not cache:
                    cache.append(self._lineage_agg(sliced))
                return cache[0]

            return sliced, fallback

        from pyspark.sql import Observation

        obs = Observation()
        aggs = []
        for r in receivers:
            is_r = F.col("receiver_idx") == r
            aggs.append(F.max(F.when(is_r, F.col("seq"))).alias(f"s{r}"))
            aggs.append(
                F.sum(F.when(is_r, F.lit(1)).otherwise(F.lit(0))).alias(
                    f"n{r}"
                )
            )

        def provider():
            if cache:
                return cache[0]
            vals = _observation_metrics(obs)
            if vals is not None:
                rows = [
                    {
                        "receiver_idx": r,
                        "seq": int(vals[f"s{r}"]),
                        "events_applied": int(vals[f"n{r}"]),
                        "processed": True,
                    }
                    for r in receivers
                    if vals.get(f"n{r}")
                ]
            else:
                # unexecuted observed plan / poisoned metrics row:
                # recompute honestly instead of blocking on obs.get
                rows = self._lineage_agg(sliced)
            cache.append(rows)
            return cache[0]

        return sliced.observe(obs, *aggs), provider

    # -- one micro-batch ------------------------------------------------

    def process_range(
        self, journal: DataFrame, rng: PositionRange, batch_id: int
    ) -> dict:
        t0 = time.time()
        sliced = journal.filter(rng.predicate())
        # per-partition lineage/metrics WITHOUT a dedicated job: the
        # range's receiver ids are known up front, so per-receiver
        # max(seq)/count become conditional global aggregates on an
        # Observation attached to the merge branch of the slice —
        # Catalyst never pushes filters through CollectMetrics, so
        # every sliced row is counted by the merge's first action.
        # Side actions (schema collect, quarantine) run on the raw
        # slice (see _observe_lineage).
        sliced_obs, lineage = self._observe_lineage(sliced, rng)
        schema_versions = self._apply_schema_changes(sliced)
        n_quarantined = 0
        if self.cfg.quarantine_enabled:
            # S10 diagnostic dump: row events whose payload cannot be
            # decoded (insert/update with no after-image bytes). The
            # count piggybacks on the write action via observe() —
            # one job, not a count() + a write
            from pyspark.sql import Observation

            from debezium_connector_ibmi_spark.functions.optype import op_type_col

            bad = sliced.filter(
                (F.col("journal_code") == "R")
                & op_type_col().isin("c", "u")
                & F.col("html").isNull()
                & F.col("table_name").isin(*self.cfg.table_include_list)
            )
            qpath = f"{self.cfg.target_path.rstrip('/')}/_quarantine/batch_id={batch_id}"
            obs = Observation(f"quarantine-{batch_id}")
            bad.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
                "overwrite"
            ).parquet(qpath)
            n_quarantined = int(obs.get["n"])
            if not n_quarantined:
                # keep the quarantine dir list = the batches that
                # actually quarantined something
                import shutil

                shutil.rmtree(qpath, ignore_errors=True)
        stats = prepare_and_merge(
            self.target,
            self.cfg,
            sliced_obs,
            batch_id=batch_id,
            watermark=(rng.end.receiver_idx, rng.end.seq),
            partitions=lineage,  # callable: resolved after the write
        )
        if stats.get("skipped"):
            # fenced replay: nothing was applied (the cache-fill action
            # may have fired the observation, but the counts describe
            # rows that were NOT merged)
            part_rows = []
        else:
            part_rows = lineage()
        n_events = sum(p["events_applied"] for p in part_rows)
        stats.update(
            {
                "events": n_events,
                "quarantined": n_quarantined,
                "schema_versions_applied": schema_versions,
                "secs": time.time() - t0,
                "range": (
                    (rng.start.receiver_idx, rng.start.seq),
                    (rng.end.receiver_idx, rng.end.seq),
                ),
            }
        )
        self._emit_metrics(stats, part_rows)
        return stats

    def _emit_metrics(self, stats: dict, part_rows: list[dict]) -> None:
        """Append one observability record per batch (events, wall
        secs, events/sec, per-receiver high-watermarks) to
        ``<target>/_metrics/batches.jsonl`` — the per-partition
        throughput/lag emission the north rule requires. Append-only
        JSONL, not part of the transactional commit (metrics loss on
        crash is acceptable; data loss is not)."""
        import json
        import os

        mdir = f"{self.cfg.target_path.rstrip('/')}/_metrics"
        os.makedirs(mdir, exist_ok=True)
        secs = max(stats.get("secs", 0.0), 1e-9)
        rec = {
            "batch_id": stats.get("batch_id"),
            "events": stats.get("events", 0),
            "secs": round(secs, 3),
            "events_per_sec": round(stats.get("events", 0) / secs, 1),
            "skipped": stats.get("skipped", False),
            "partitions": part_rows,
            "ts": time.time(),
        }
        with open(f"{mdir}/batches.jsonl", "a") as fh:
            fh.write(json.dumps(rec) + "\n")

    def throughput_metrics(self) -> DataFrame:
        """Per-batch throughput table from the metrics log (batch_id,
        events, secs, events_per_sec); empty DataFrame when no batch
        has run."""
        import json

        path = f"{self.cfg.target_path.rstrip('/')}/_metrics/batches.jsonl"
        ddl = "batch_id long, events long, secs double, events_per_sec double"
        try:
            with open(path) as fh:
                rows = [json.loads(line) for line in fh if line.strip()]
        except FileNotFoundError:
            rows = []
        return self.spark.createDataFrame(
            [
                (
                    int(r["batch_id"]) if r["batch_id"] is not None else -1,
                    int(r["events"]),
                    float(r["secs"]),
                    float(r["events_per_sec"]),
                )
                for r in rows
            ],
            ddl,
        )

    # -- the poll loop ---------------------------------------------------

    def run_to_head(self, max_batches: int | None = None) -> list[dict]:
        """Tail the journal until caught up (Trigger.AvailableNow
        analogue). Each batch is planned from the sink's committed
        watermark, so killing the process anywhere and rerunning
        resumes correctly."""
        journal = read_journal(
            self.spark, self.cfg.journal_path, self.cfg.journal_format
        )
        chain = discover_chain(self.cfg.journal_path, lambda: journal)
        marker = triage_position(
            chain, self.target.watermark(), self.cfg.invalid_position_policy
        )
        out = [marker] if marker else []
        # the data-loss marker above is a diagnostic, not a processed
        # range — count only range iterations against max_batches
        # (same fix as MultiTableTailer.run_to_head, round-5 ADVICE)
        n_ranges = 0
        while max_batches is None or n_ranges < max_batches:
            start = resume_start(chain, self.target.watermark())
            rng = plan_next_range(chain, start, self.cfg.max_entries_per_batch)
            if rng is None:
                break
            batch_id = self.target.last_batch_id() + 1
            try:
                out.append(self.process_range(journal, rng, batch_id))
            except Exception as exc:
                # connector-health parity: persist the failure so
                # health() can report state="failed" with the cause
                # (CheckHealth.java surfaces the task's last error)
                self._record_error(exc, batch_id)
                raise
            n_ranges += 1
            # mor housekeeping: bound read amplification by folding
            # deltas into a base (maintenance commit — no
            # fence/watermark movement, crash-safe)
            if _mor_compact_due(self.cfg, self.target, out[-1]):
                out[-1]["compacted"] = not self.target.compact().get(
                    "skipped", False
                )
        return out

    def _record_error(self, exc: Exception, batch_id: int) -> None:
        import json
        import os

        mdir = f"{self.cfg.target_path.rstrip('/')}/_metrics"
        os.makedirs(mdir, exist_ok=True)
        tmp = f"{mdir}/last_error.json.tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "ts": time.time(),
                    "batch_id": batch_id,
                    "error": f"{type(exc).__name__}: {exc}",
                },
                fh,
            )
        os.replace(tmp, f"{mdir}/last_error.json")

    def last_error(self) -> dict | None:
        import json

        try:
            with open(
                f"{self.cfg.target_path.rstrip('/')}/_metrics/last_error.json"
            ) as fh:
                return json.load(fh)
        except (FileNotFoundError, ValueError):
            return None

    def health(
        self, include_lag: bool = True, stall_after_s: float = 300.0
    ) -> dict:
        """Connector-health bean (reference parity:
        ``connector-health/.../CheckHealth.java`` exposes connector +
        task state for ops; this engine's analogue derives the state
        from persisted commits/metrics, since a poll-driven pipeline
        has no resident process to ask). States:

        - ``empty``            no commit yet (never started)
        - ``invalid_position`` committed watermark precedes the usable
                               receiver chain (journal truncated past
                               the checkpoint — T6 would trigger)
        - ``failed``           the last recorded batch error is newer
                               than the last successful commit
        - ``stalled``          behind the journal head AND no commit
                               within ``stall_after_s``
        - ``healthy``          caught up, or progressing

        ``include_lag=False`` skips the one Spark job the lag number
        needs; the rest is driver-local file/commit state.

        Only ``watermark``/``last_batch_id`` are required of the
        target. One without a commit log (``IcebergTarget``: its fences
        are table properties) reports ``last_commit_ts`` null, is
        never ``stalled`` (no commit age), and leaves ``failed`` when
        its batch fence reaches the failed batch; one without lineage
        reports ``lag_total`` null."""
        last_commit = getattr(self.target, "last_commit", None)
        c = None if last_commit is None else last_commit()
        commit_ts = None if c is None else c.get("ts")
        bid = self.target.last_batch_id()
        err = self.last_error()
        wm = self.target.watermark()
        out = {
            "table": (self.cfg.table_include_list or ("",))[0],
            "state": "healthy",
            "watermark": list(wm),
            "last_commit_ts": commit_ts,
            "last_batch_id": None if c is None and bid < 0 else bid,
            "last_error": None if err is None else err["error"],
            "lag_total": None,
        }
        # journal-behind total (one job); also feeds stall detection
        if include_lag:
            try:
                behind = [r["behind"] for r in self.lag_metrics().collect()]
                if None not in behind:
                    out["lag_total"] = sum(behind)
            except Exception:
                out["lag_total"] = None
        # a failure with no newer successful commit wins — including
        # the failed-before-first-commit case (which is not "empty":
        # the pipeline ran and broke)
        if err is not None and (
            err["ts"] > float(commit_ts)
            if commit_ts is not None
            else err["batch_id"] > bid
        ):
            out["state"] = "failed"
            return out
        if c is None and bid < 0 and tuple(wm) == (-1, -1):
            out["state"] = "empty"
            return out
        try:
            chain = discover_chain(
                self.cfg.journal_path,
                lambda: read_journal(
                    self.spark, self.cfg.journal_path, self.cfg.journal_format
                ),
            )
            if not validate_position(
                chain, Position(wm[0], wm[1], processed=True)
            ):
                out["state"] = "invalid_position"
                return out
        except Exception:
            pass  # no journal yet: nothing to be behind of
        behind = out["lag_total"]
        if (
            commit_ts is not None
            and behind is not None
            and behind > 0
            and time.time() - float(commit_ts) > stall_after_s
        ):
            out["state"] = "stalled"
        return out

    def lag_metrics(self) -> DataFrame:
        """A1: per-receiver JournalBehind/JournalOffset metric table —
        journal head vs the sink's applied per-partition watermarks.
        A target without applied lineage (``IcebergTarget``) reports
        ``applied_seq`` and ``behind`` null: its lag is unknown."""
        from debezium_connector_ibmi_spark.operators.transactions import journal_lag

        journal = read_journal(
            self.spark, self.cfg.journal_path, self.cfg.journal_format
        )
        lineage = getattr(self.target, "lineage", None)
        applied = self.spark.createDataFrame(
            [
                (int(p["receiver_idx"]), int(p["seq"]))
                for p in (lineage() if lineage is not None else [])
            ],
            "receiver_idx int, seq long",
        )
        lag = journal_lag(journal, applied)
        if lineage is None:
            unknown = F.lit(None).cast("long")
            lag = lag.withColumns({"applied_seq": unknown, "behind": unknown})
        return lag


def run_structured_stream(
    spark: SparkSession,
    cfg: EngineConfig,
    available_now: bool = True,
    evolution=None,
    target=None,
):
    """Structured Streaming variant: file-source micro-batches into
    the same exactly-once sink via foreachBatch.

    ``target`` may be any merge-target (KeyBucketedTarget default,
    IcebergTarget in production) — the writer-namespaced fence
    interface is identical on both.

    Note: the file source does not guarantee (receiver_idx, seq)
    order across batches; the sink's position-aware merge keeps the
    result order-correct anyway (greater position wins), and
    delete-correctness under disorder requires delete_mode="rewrite"
    (tombstones carry positions).
    """
    from debezium_connector_ibmi_spark.sources.journal_source import (
        read_journal_stream,
    )

    _require_single_table(cfg)
    target = target or KeyBucketedTarget.for_config(spark, cfg)

    def _stream_writer_id() -> str:
        """Identity of this stream's epoch-id domain: the streaming
        query id Spark persists in the checkpoint metadata — stable
        across restarts of the SAME checkpoint (replayed epochs fence
        correctly) and fresh for a recreated checkpoint dir (epochs
        restarting at 0 re-base instead of silently skipping against
        tailer batch ids or a previous stream's epochs)."""
        import json as _json

        try:
            with open(f"{cfg.checkpoint_path.rstrip('/')}/metadata") as fh:
                return "stream-" + _json.load(fh)["id"]
        except (FileNotFoundError, KeyError, ValueError):
            return "stream-" + cfg.checkpoint_path

    def apply_batch(df: DataFrame, epoch_id: int):
        # T12 in streaming mode: schema events in this micro-batch
        # apply before its data merge, exactly once (version fence)
        apply_schema_changes_for_slice(target, cfg, evolution, df)
        # the epoch's max position rides the batch's first action (the
        # cow cache fill, or the mor write) as an Observation (same
        # zero-extra-jobs trick as the tailer's _observe_lineage;
        # resolved lazily by the sink AFTER its write actions, with an
        # aggregation fallback if the metrics row is unavailable)
        from pyspark.sql import Observation

        obs = Observation()
        observed = df.observe(
            obs,
            F.max(F.struct(F.col("receiver_idx"), F.col("seq"))).alias("w"),
        )

        def wm_provider():
            # bounded probe, never a blocking obs.get: a sink commit
            # path that skipped actions over the batch falls back to
            # the aggregation instead of hanging (round-4 ADVICE)
            vals = _observation_metrics(obs)
            w = vals["w"] if vals is not None and "w" in vals else None
            if w is None:
                w = df.agg(
                    F.max(
                        F.struct(F.col("receiver_idx"), F.col("seq"))
                    ).alias("w")
                ).collect()[0]["w"]
            return (w["receiver_idx"], w["seq"]) if w else None
        # epoch_id is a DIFFERENT id domain than the tailer's
        # last_batch_id()+1 counter — namespace the fence per writer
        # so mixed tail/stream runs on one target can't silently skip.
        # The watermark is namespaced too (sink-side): file-source
        # epochs carry no cross-epoch position ordering, so this
        # writer's per-epoch max must never advance the SHARED
        # watermark a later tailer plans from — a stream killed
        # mid-run would leave it ahead of unmerged entries and the
        # tailer would skip them. Stream restarts resume from the
        # Spark checkpoint, not the sink watermark.
        mstats = prepare_and_merge(
            target,
            cfg,
            observed,
            batch_id=epoch_id,
            watermark=wm_provider,
            writer_id=_stream_writer_id(),
        )
        # mor housekeeping parity with run_to_head
        if _mor_compact_due(cfg, target, mstats):
            target.compact()

    stream = read_journal_stream(
        spark, cfg.journal_path, journal_format=cfg.journal_format
    )
    writer = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", cfg.checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{cfg.poll_interval_ms} milliseconds")
    return writer.start()
