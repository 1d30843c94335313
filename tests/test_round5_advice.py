"""Regression pins for the round-4 ADVICE findings fixed in round 5:
bounded Observation resolution (no indefinite block when the observed
plan never ran an action) and the import-hygiene fix in the Iceberg
binding.
"""

from __future__ import annotations

import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from debezium_connector_ibmi_spark.streaming.engine import (
    _observation_metrics,
)


def test_observation_probe_returns_none_without_action(spark):
    """Observation.get blocks until the observed plan's first action;
    the engine's providers must instead probe and fall back. An
    observation whose plan NEVER executed resolves to None within the
    BOUNDED poll window (round-7: the probe waits up to ``timeout_s``
    for listener-bus delivery — closing the cold-session race that
    made completed observations intermittently resolve None — but
    still never blocks indefinitely on obs.get)."""
    obs = Observation("r5-unexecuted")
    spark.range(100).observe(obs, F.count(F.lit(1)).alias("n"))
    t0 = time.time()
    assert _observation_metrics(obs, timeout_s=0.3) is None
    assert time.time() - t0 < 2.0, "probe must stay bounded"
    # the default window is bounded too (no indefinite obs.get block)
    t0 = time.time()
    assert _observation_metrics(obs) is None
    assert time.time() - t0 < 10.0


def test_observation_probe_returns_metrics_after_action(spark):
    obs = Observation("r5-executed")
    df = spark.range(100).observe(obs, F.count(F.lit(1)).alias("n"))
    df.write.format("noop").mode("overwrite").save()
    # the future completes asynchronously with the action's listener;
    # poll briefly rather than racing it
    deadline = time.time() + 10
    vals = None
    while vals is None and time.time() < deadline:
        vals = _observation_metrics(obs)
        if vals is None:
            time.sleep(0.05)
    assert vals is not None and int(vals["n"]) == 100


def test_observation_probe_handles_unattached_observation():
    assert _observation_metrics(Observation("never-attached")) is None


def test_iceberg_module_type_hints_resolve():
    """Round-4 ADVICE: `Callable` appeared in iceberg.py annotations
    without an import — only postponed evaluation hid the NameError.
    typing.get_type_hints must now resolve every annotation."""
    import typing

    from debezium_connector_ibmi_spark.sinks import iceberg

    hints = typing.get_type_hints(iceberg.IcebergTarget.merge)
    assert "watermark" in hints


def test_tailer_marker_does_not_consume_max_batches(spark, tmpdir_path):
    """Same class as the fan-out ADVICE fix, applied to JournalTailer:
    the data_loss_reset marker is a diagnostic — max_batches=1 after a
    truncation reset must still process one real range."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from debezium_connector_ibmi_spark.config import EngineConfig
    from debezium_connector_ibmi_spark.datagen.journal import (
        JournalGenConfig,
        generate_journal,
        write_journal,
    )
    from debezium_connector_ibmi_spark.streaming.engine import JournalTailer

    gen = JournalGenConfig(n_urls=30, n_ops=300, receiver_rotation=60)
    cfg = EngineConfig(
        journal_path=f"{tmpdir_path}/j",
        target_path=f"{tmpdir_path}/t",
        num_buckets=4,
        max_entries_per_batch=600,
        invalid_position_policy="reset_earliest",
    )
    write_journal(spark, gen, cfg.journal_path, num_files=2)
    JournalTailer(spark, cfg).run_to_head()
    wm_r = JournalTailer(spark, cfg).target.watermark()[0]
    for d in os.listdir(cfg.journal_path):
        if d.startswith("receiver_idx="):
            shutil.rmtree(f"{cfg.journal_path}/{d}")
    generate_journal(spark, gen).withColumn(
        "receiver_idx", (F.col("receiver_idx") + wm_r + 3).cast("int")
    ).write.mode("append").partitionBy("receiver_idx").parquet(
        cfg.journal_path
    )
    out = JournalTailer(spark, cfg).run_to_head(max_batches=1)
    markers = [o for o in out if o.get("data_loss_reset")]
    ranges = [o for o in out if "events" in o]
    assert len(markers) == 1
    assert len(ranges) == 1
