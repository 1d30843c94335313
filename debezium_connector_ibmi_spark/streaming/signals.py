"""Signal-driven ad-hoc snapshots (the reference's SignalProcessor /
NotificationService wiring, As400ConnectorTask.java:121-150, re-
expressed Spark-first).

Debezium's signal channel is a table the operator inserts rows into;
the connector reacts to ``execute-snapshot`` rows by re-snapshotting
the named tables while streaming continues. Here the channel is a
parquet directory of signal rows::

    signal_id bigint, ts timestamp, type string, data string

and processing is EXACTLY-ONCE via the sink's writer-namespaced fence:
each signal merges with ``writer_id="signals"`` and ``batch_id =
signal_id``, so a replayed/re-polled signal is skipped at the fence and
a crash between merge and commit replays idempotently (snapshot rows
enter at position (-1,-1) and always lose to any journal event the
stream already applied — same invariant as the initial snapshot,
sources/snapshot.py).
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_connector_ibmi_spark.config import EngineConfig
from debezium_connector_ibmi_spark.sinks.merge import KeyBucketedTarget
from debezium_connector_ibmi_spark.sources.snapshot import snapshot_state

SIGNAL_SCHEMA = "signal_id bigint, ts timestamp, type string, data string"
SIGNAL_WRITER_ID = "signals"

EXECUTE_SNAPSHOT = "execute-snapshot"


def send_signal(
    spark: SparkSession,
    signal_path: str,
    signal_id: int,
    sig_type: str,
    data: dict,
) -> None:
    """Operator-side helper: append one signal row to the channel."""
    spark.createDataFrame(
        [(signal_id, None, sig_type, json.dumps(data, sort_keys=True))],
        SIGNAL_SCHEMA,
    ).withColumn("ts", F.current_timestamp()).write.mode("append").parquet(
        signal_path
    )


class SignalProcessor:
    """Polls the signal channel and executes ad-hoc snapshots.

    ``pages_provider(table_name) -> DataFrame`` supplies the current
    source-table contents (the reference re-reads the table over JDBC;
    here any DataFrame source). Only signals naming the pipeline's own
    table are executed — others are reported as ignored (one pipeline
    per table, see streaming.engine._require_single_table).
    """

    def __init__(
        self,
        spark: SparkSession,
        cfg: EngineConfig,
        pages_provider: Callable[[str], DataFrame],
    ):
        self.spark = spark
        self.cfg = cfg
        self.pages_provider = pages_provider
        self.signal_path = cfg.extra.get(
            "signal_path", f"{cfg.target_path.rstrip('/')}/_signals"
        )
        self.target = KeyBucketedTarget.for_config(spark, cfg)

    def pending(self) -> list[dict]:
        """Unprocessed signals, oldest first (fence-filtered).

        Only an ABSENT channel means 'no signals'; any other failure
        (corrupt parquet, permissions, schema mismatch) propagates —
        swallowing it would silently stop signal processing."""
        import os

        if not os.path.exists(self.signal_path):
            return []
        df = self.spark.read.schema(SIGNAL_SCHEMA).parquet(self.signal_path)
        last = self.target.last_writer_batch_id(SIGNAL_WRITER_ID)
        rows = (
            df.filter(F.col("signal_id") > last)
            .orderBy("signal_id")
            .collect()
        )
        return [r.asDict() for r in rows]

    def poll(self) -> list[dict]:
        """Process every pending signal; returns per-signal results."""
        out = []
        my_table = self.cfg.table_include_list[0]
        for sig in self.pending():
            data = json.loads(sig["data"]) if sig["data"] else {}
            if sig["type"] != EXECUTE_SNAPSHOT:
                self.target.record_writer_progress(
                    SIGNAL_WRITER_ID, int(sig["signal_id"])
                )
                out.append(
                    {"signal_id": sig["signal_id"], "ignored": sig["type"]}
                )
                continue
            tables = data.get("data-collections", [my_table])
            if my_table not in tables:
                self.target.record_writer_progress(
                    SIGNAL_WRITER_ID, int(sig["signal_id"])
                )
                out.append(
                    {"signal_id": sig["signal_id"], "ignored": "other-table"}
                )
                continue
            pages = self.pages_provider(my_table)
            if data.get("type") == "incremental":
                # Debezium's execute-snapshot defaults to an
                # incremental (chunked, stream-concurrent) snapshot:
                # run the DBLog chunk sequence under a per-signal
                # writer fence, so a crash mid-signal resumes at the
                # first incomplete chunk on re-poll (the signal stays
                # pending until all chunks committed), and a replayed
                # signal skips entirely.
                from debezium_connector_ibmi_spark.sources.incremental import (
                    IncrementalSnapshotter,
                )

                snap = IncrementalSnapshotter(
                    self.spark,
                    self.cfg,
                    pages,
                    n_chunks=int(data.get("chunks", 8)),
                    # chunk/anti-join on the SINK's merge key — a
                    # pipeline keyed on anything but 'url' must not
                    # fall back to the old 'url' default
                    key_col=self.cfg.key_column,
                    target=self.target,
                    writer_id=f"incsnap-{int(sig['signal_id'])}",
                )
                chunk_stats = snap.run_all()
                self.target.record_writer_progress(
                    SIGNAL_WRITER_ID, int(sig["signal_id"])
                )
                out.append(
                    {
                        "signal_id": sig["signal_id"],
                        "incremental": True,
                        "chunks_run": len(chunk_stats),
                    }
                )
                continue
            batch = snapshot_state(pages).withColumn("op", F.lit("c"))
            stats = self.target.merge(
                batch,
                batch_id=int(sig["signal_id"]),
                writer_id=SIGNAL_WRITER_ID,
            )
            out.append({"signal_id": sig["signal_id"], **stats})
        return out
