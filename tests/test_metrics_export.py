"""Round-4: Prometheus textfile export of the engine's metrics
(streaming/metrics_export.py) — the health/metrics serving analogue of
the reference's connector-health module + JMX streaming metrics bean
(As400StreamingChangeEventSourceMetrics.java:17-53)."""

from __future__ import annotations

import re

from debezium_connector_ibmi_spark.config import EngineConfig
from debezium_connector_ibmi_spark.datagen.journal import (
    JournalGenConfig,
    write_journal,
)
from debezium_connector_ibmi_spark.streaming.engine import JournalTailer
from debezium_connector_ibmi_spark.streaming.metrics_export import (
    prometheus_lines,
    write_textfile,
)

GEN = JournalGenConfig(n_urls=30, n_ops=300, txn_size=20, receiver_rotation=100)

# Prometheus text exposition: metric{labels} value | # HELP/TYPE lines
_LINE_RE = re.compile(
    r"^(# (HELP|TYPE) [a-z_]+ .+"
    r"|[a-z_]+(\{[a-z_]+=\"[^\"]*\"(,[a-z_]+=\"[^\"]*\")*\})? -?[0-9.e+-]+)$"
)


def test_prometheus_export(spark, tmpdir_path):
    cfg = EngineConfig(
        journal_path=f"{tmpdir_path}/j",
        target_path=f"{tmpdir_path}/t",
        num_buckets=4,
        max_entries_per_batch=600,
    )
    write_journal(spark, GEN, cfg.journal_path, num_files=2)
    tailer = JournalTailer(spark, cfg)
    stats = tailer.run_to_head()
    n_events = sum(s.get("events", 0) for s in stats)

    lines = prometheus_lines(tailer)
    for ln in lines:
        assert _LINE_RE.match(ln), ln
    metrics = {}
    for ln in lines:
        if ln.startswith("#"):
            continue
        name = ln.split("{")[0].split(" ")[0]
        metrics.setdefault(name, []).append(ln)

    def value(name):
        return float(metrics[name][0].rsplit(" ", 1)[1])

    assert value("cdc_events_seen_total") == n_events
    assert value("cdc_batches_total") == len(stats)
    wm = tailer.target.watermark()
    assert value("cdc_watermark_receiver_idx") == wm[0]
    assert value("cdc_watermark_seq") == wm[1]
    # per-receiver gauges carry labels and cover the lineage
    assert len(metrics["cdc_applied_seq"]) == len(tailer.target.lineage())
    # fully caught up: every receiver's behind gauge is 0
    behinds = [
        float(ln.rsplit(" ", 1)[1]) for ln in metrics["cdc_journal_behind"]
    ]
    assert behinds and all(b == 0 for b in behinds)

    # textfile collector pattern: atomic write, re-readable
    path = write_textfile(tailer)
    with open(path) as fh:
        assert fh.read().splitlines() == lines
    # driver-local mode skips the lag job but keeps everything else
    light = prometheus_lines(tailer, include_lag=False)
    assert not any(
        ln.startswith("cdc_journal_behind") for ln in light
    )
    assert any(ln.startswith("cdc_events_seen_total") for ln in light)


def test_prometheus_one_series_per_receiver(spark, tmpdir_path):
    """A receiver applied over several batches is still ONE series per
    metric: the textfile collector rejects duplicate label sets."""
    import json

    cfg = EngineConfig(
        journal_path=f"{tmpdir_path}/j",
        target_path=f"{tmpdir_path}/t",
        num_buckets=4,
        max_entries_per_batch=150,
    )
    write_journal(spark, GEN, cfg.journal_path, num_files=2)
    tailer = JournalTailer(spark, cfg)
    tailer.run_to_head()
    with open(f"{cfg.target_path}/_metrics/batches.jsonl") as fh:
        spans = [
            {p["receiver_idx"] for p in json.loads(line)["partitions"]}
            for line in fh
        ]
    assert any(
        len([s for s in spans if r in s]) > 1 for r in set().union(*spans)
    ), "precondition: some receiver spans more than one batch"

    series = [
        ln.rsplit(" ", 1)[0]
        for ln in prometheus_lines(tailer, include_lag=False)
        if not ln.startswith("#")
    ]
    assert len(series) == len(set(series)), series
    applied = [s for s in series if s.startswith("cdc_applied_seq")]
    assert len(applied) == len(tailer.target.lineage()) > 1


# -- round-5: structured health bean (VERDICT r4 #6) -------------------


def _mk(spark, tmpdir_path, sub="h"):
    cfg = EngineConfig(
        journal_path=f"{tmpdir_path}/{sub}/j",
        target_path=f"{tmpdir_path}/{sub}/t",
        num_buckets=4,
        max_entries_per_batch=600,
    )
    write_journal(spark, GEN, cfg.journal_path, num_files=2)
    return cfg


def test_health_empty_then_healthy(spark, tmpdir_path):
    import json

    from debezium_connector_ibmi_spark.streaming.metrics_export import (
        write_health_json,
    )

    cfg = _mk(spark, tmpdir_path)
    tailer = JournalTailer(spark, cfg)
    assert tailer.health(include_lag=False)["state"] == "empty"
    tailer.run_to_head()
    h = tailer.health()
    assert h["state"] == "healthy"
    assert h["lag_total"] == 0
    assert h["last_error"] is None
    assert h["watermark"] == list(tailer.target.watermark())
    p = write_health_json(tailer)
    bean = json.load(open(p))
    assert bean["state"] == "healthy" and "generated_ts" in bean


def test_health_stalled_when_behind_and_old(spark, tmpdir_path):
    from debezium_connector_ibmi_spark.datagen.journal import generate_journal
    from pyspark.sql import functions as F

    cfg = _mk(spark, tmpdir_path, "stall")
    tailer = JournalTailer(spark, cfg)
    tailer.run_to_head()
    # journal grows past the committed watermark -> lag > 0
    wm_r = tailer.target.watermark()[0]
    new = generate_journal(spark, GEN).withColumn(
        "receiver_idx", (F.col("receiver_idx") + wm_r + 1).cast("int")
    )
    new.write.mode("append").partitionBy("receiver_idx").parquet(
        cfg.journal_path
    )
    # any commit older than stall_after_s=0 counts as stalled
    h = tailer.health(stall_after_s=0.0)
    assert h["state"] == "stalled" and h["lag_total"] > 0
    # generous stall window: behind but still healthy (recent commit)
    assert tailer.health(stall_after_s=3600)["state"] == "healthy"
    # catch up -> healthy again
    tailer.run_to_head()
    assert tailer.health(stall_after_s=0.0)["state"] == "healthy"


def test_health_invalid_position_and_failed(spark, tmpdir_path):
    import os
    import shutil

    from pyspark.sql import functions as F

    from debezium_connector_ibmi_spark.datagen.journal import generate_journal

    cfg = _mk(spark, tmpdir_path, "inv")
    tailer = JournalTailer(spark, cfg)
    tailer.run_to_head()
    wm_r = tailer.target.watermark()[0]
    # truncate everything up to the watermark, restart chain far past
    for d in os.listdir(cfg.journal_path):
        if d.startswith("receiver_idx="):
            shutil.rmtree(f"{cfg.journal_path}/{d}")
    new = generate_journal(spark, GEN).withColumn(
        "receiver_idx", (F.col("receiver_idx") + wm_r + 3).cast("int")
    )
    new.write.mode("append").partitionBy("receiver_idx").parquet(
        cfg.journal_path
    )
    assert tailer.health()["state"] == "invalid_position"

    # failed: a batch error newer than the last commit
    cfg2 = _mk(spark, tmpdir_path, "fail")
    t2 = JournalTailer(spark, cfg2)
    orig = t2.target.merge
    t2.target.merge = lambda *a, **k: (_ for _ in ()).throw(
        RuntimeError("boom")
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="boom"):
        t2.run_to_head()
    h = t2.health(include_lag=False)
    assert h["state"] == "failed" and "boom" in h["last_error"]
    # a successful commit after the failure clears the state
    t2.target.merge = orig
    t2.run_to_head()
    assert t2.health(include_lag=False)["state"] == "healthy"


def test_health_fanout_rollup(spark, tmpdir_path):
    import json

    from debezium_connector_ibmi_spark.streaming.fanout import (
        MultiTableTailer,
    )
    from debezium_connector_ibmi_spark.streaming.metrics_export import (
        write_health_json,
    )

    cfg = _mk(spark, tmpdir_path, "fan")
    cfg = EngineConfig(
        journal_path=cfg.journal_path,
        target_path=f"{tmpdir_path}/fan/root",
        table_include_list=("PAGES", "LINKS"),
        num_buckets=4,
        max_entries_per_batch=600,
    )
    mt = MultiTableTailer(spark, cfg)
    h0 = mt.health(include_lag=False)
    assert h0["state"] == "empty"
    mt.run_to_head()
    h = mt.health()
    assert set(h["tables"]) == {"PAGES", "LINKS"}
    assert h["state"] == "healthy"
    # worst-state rollup: poison one table with a recorded error
    mt.tailers["LINKS"]._record_error(RuntimeError("x"), 99)
    assert mt.health(include_lag=False)["state"] == "failed"
    p = write_health_json(mt, path=f"{tmpdir_path}/fan/health.json")
    assert json.load(open(p))["tables"]["LINKS"]["state"] == "failed"
