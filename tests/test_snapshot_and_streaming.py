"""T10/T11 snapshot + handover, and the Structured Streaming
(foreachBatch) execution mode."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from debezium_connector_ibmi_spark.config import EngineConfig
from debezium_connector_ibmi_spark.datagen.journal import (
    JournalGenConfig,
    generate_pages,
    write_journal,
)
from debezium_connector_ibmi_spark.functions.decode import extract_text_pd
from debezium_connector_ibmi_spark.sinks.merge import KeyBucketedTarget
from debezium_connector_ibmi_spark.sources.snapshot import (
    detect_new_tables,
    initial_snapshot,
    journal_head,
)
from debezium_connector_ibmi_spark.streaming.dedup_stream import await_available_now
from debezium_connector_ibmi_spark.streaming.engine import (
    JournalTailer,
    run_structured_stream,
)
from debezium_connector_ibmi_spark.testing import naive_replay, state_df_to_dict

GEN = JournalGenConfig(n_urls=50, n_ops=500, txn_size=25, receiver_rotation=120)


def _cfg(base, journal, **kw):
    return EngineConfig(
        journal_path=journal,
        target_path=f"{base}/target",
        checkpoint_path=f"{base}/ckpt",
        num_buckets=4,
        **kw,
    )


def _pages_state_dict(spark, pages_df):
    import pandas as pd

    rows = [r.asDict() for r in pages_df.collect()]
    htmls = pd.Series([r["html"] for r in rows], dtype="object")
    texts = extract_text_pd(htmls)
    return {
        r["url"]: {
            "url": r["url"],
            "warc_ts": r["warc_ts"],
            "html": bytes(r["html"]),
            "lang": r["lang"],
            "text": t,
        }
        for r, t in zip(rows, texts)
    }


def test_snapshot_then_stream_matches_fold_oracle(spark, tmpdir_path):
    """Snapshot v0 pages with empty journal, then journal arrives,
    tail to head: final state == fold(snapshot, journal)."""
    journal = f"{tmpdir_path}/journal"
    cfg = _cfg(tmpdir_path, journal)
    pages = generate_pages(spark, GEN).drop("version")
    wm = initial_snapshot(spark, cfg, pages)
    assert wm == (-1, -1)  # no journal yet

    write_journal(spark, GEN, journal, num_files=4)
    tailer = JournalTailer(spark, cfg)
    stats = tailer.run_to_head()
    assert stats

    engine = state_df_to_dict(
        tailer.target.read().drop("bucket", "receiver_idx", "seq")
    )
    oracle = naive_replay(
        [r.asDict() for r in spark.read.parquet(journal).collect()],
        initial_state=_pages_state_dict(spark, pages),
    )
    assert set(engine) == set(oracle)
    for url, o in oracle.items():
        assert engine[url]["html"] == o["html"], url
        assert engine[url]["text"] == o["text"], url


def test_snapshot_head_recorded_before_load(spark, tmpdir_path):
    """With an existing journal, the watermark is the head at
    snapshot time; the tailer starts after it (no re-apply of <= wm)."""
    journal = f"{tmpdir_path}/journal"
    write_journal(spark, GEN, journal, num_files=4)
    cfg = _cfg(tmpdir_path, journal)
    head = journal_head(spark, journal)
    assert head > (0, 0)
    pages = generate_pages(spark, GEN).drop("version")
    wm = initial_snapshot(spark, cfg, pages)
    assert wm == head
    tailer = JournalTailer(spark, cfg)
    stats = tailer.run_to_head()
    assert stats == []  # caught up: snapshot covered everything


def test_signal_driven_resnapshot(spark, tmpdir_path):
    """Reference SignalProcessor semantics
    (As400ConnectorTask.java:121-150): an execute-snapshot signal
    re-snapshots the table while streaming state wins on position;
    signal processing is exactly-once via the writer-namespaced
    fence (replayed signals skip)."""
    from pyspark.sql import functions as F

    from debezium_connector_ibmi_spark.streaming.signals import (
        EXECUTE_SNAPSHOT,
        SignalProcessor,
        send_signal,
    )

    journal = f"{tmpdir_path}/journal"
    cfg = _cfg(tmpdir_path, journal)
    pages = generate_pages(spark, GEN).drop("version")
    initial_snapshot(spark, cfg, pages)
    write_journal(spark, GEN, journal, num_files=4)
    tailer = JournalTailer(spark, cfg)
    assert tailer.run_to_head()
    before = state_df_to_dict(tailer.target.read().drop("bucket"))

    # source table now carries 3 extra rows the journal never saw
    # (e.g. restored from an out-of-band load) plus stale copies of
    # every journal-updated row — the signal snapshot must add the
    # former and lose to the latter
    extra = pages.limit(3).withColumn(
        "url", F.concat(F.col("url"), F.lit("?backfill=1"))
    )
    pages2 = pages.unionByName(extra)
    sp = SignalProcessor(spark, cfg, lambda table: pages2)
    assert sp.poll() == []  # empty channel

    send_signal(
        spark, sp.signal_path, 1, EXECUTE_SNAPSHOT,
        {"data-collections": ["PAGES"]},
    )
    res = sp.poll()
    assert len(res) == 1 and res[0]["skipped"] is False
    after = state_df_to_dict(tailer.target.read().drop("bucket"))
    assert sum(1 for u in after if u.endswith("?backfill=1")) == 3
    # every streamed row keeps its (newer-position) value
    for u, v in before.items():
        assert after[u] == v, u
    # replayed poll: nothing pending (fence remembers signal 1)
    assert sp.poll() == []
    # signals for other tables are ignored, but still fenced
    send_signal(
        spark, sp.signal_path, 2, EXECUTE_SNAPSHOT,
        {"data-collections": ["OTHERTBL"]},
    )
    assert sp.poll()[0]["ignored"] == "other-table"
    assert sp.poll() == []  # the ignored signal does not repeat


def test_detect_new_tables():
    assert detect_new_tables(("PAGES",), ("PAGES", "DOCS")) == ("DOCS",)
    assert detect_new_tables(("PAGES",), ("PAGES",)) == ()


def test_structured_streaming_mode(spark, tmpdir_path):
    """readStream + foreachBatch into the same sink; availableNow
    drains the journal; result equals the fold oracle."""
    journal = f"{tmpdir_path}/journal"
    write_journal(spark, GEN, journal, num_files=6)
    cfg = _cfg(tmpdir_path, journal, delete_mode="rewrite")
    q = run_structured_stream(spark, cfg, available_now=True)
    await_available_now(q, timeout=300)

    target = KeyBucketedTarget(
        spark, cfg.target_path, num_buckets=cfg.num_buckets, delete_mode="rewrite"
    )
    df = target.read().drop("bucket", "receiver_idx", "seq")
    engine = state_df_to_dict(df)
    oracle = naive_replay(
        [r.asDict() for r in spark.read.parquet(journal).collect()],
        delete_mode="rewrite",
    )
    assert set(engine) == set(oracle)
    for url, o in oracle.items():
        assert engine[url]["__deleted"] == o["__deleted"], url
        if not o["__deleted"]:
            assert engine[url]["text"] == o["text"], url


def test_multimodal_plumbing(spark):
    from debezium_connector_ibmi_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_features,
        image_metadata,
        sample_frames,
    )

    rows = [
        (1, "image", b"\x89PNGfakebytes" * 10, "image/png", "u1"),
        (2, "audio", b"RIFFfake" * 50, "audio/wav", "u2"),
        (3, "video", b"\x00\x00ftypfake" * 800, "video/mp4", "u3"),
        (4, "image", b"\xff\xd8jpegfake" * 5, "image/jpeg", "u4"),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)

    img = image_metadata(media).collect()
    assert {r["media_id"] for r in img} == {1, 4}
    assert all(r["width"] > 0 and r["height"] > 0 for r in img)
    # deterministic fake: same bytes -> same phash
    img2 = image_metadata(media).collect()
    assert sorted(map(tuple, img)) == sorted(map(tuple, img2))

    aud = audio_features(media).collect()
    assert len(aud) == 1 and aud[0]["sample_rate"] == 16000

    frames = sample_frames(media, every_n=2).collect()
    assert len(frames) > 1  # 1-to-N expansion works
    assert all(r["media_id"] == 3 for r in frames)

def test_multimodal_resize_invariants(spark):
    """resize_images: never upscales, bounds the long side at
    max_dim, preserves aspect within integer rounding, and is
    deterministic across runs."""
    from debezium_connector_ibmi_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        resize_images,
    )

    rows = [
        (i, "image", f"imgbytes-{i}".encode() * (i + 1), "image/png", None)
        for i in range(20)
    ] + [(99, "audio", b"notimage", "audio/wav", None)]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = resize_images(media, max_dim=256).collect()
    assert {r["media_id"] for r in out} == set(range(20))  # audio filtered
    for r in out:
        assert max(r["out_width"], r["out_height"]) <= 256
        assert r["out_width"] <= r["width"] and r["out_height"] <= r["height"]
        if max(r["width"], r["height"]) <= 256:  # small images untouched
            assert (r["out_width"], r["out_height"]) == (r["width"], r["height"])
        else:  # aspect preserved within integer floor rounding
            assert abs(
                r["out_width"] * r["height"] - r["out_height"] * r["width"]
            ) <= max(r["width"], r["height"])
        assert r["out_n_bytes"] == r["out_width"] * r["out_height"] * 3
    out2 = resize_images(media, max_dim=256).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
