"""Merge-on-read write mode (round-5, VERDICT r4 #3): a merge appends
per-bucket delta files in ONE Spark job — no current-state read and no
pre-write bucket-discovery job (the last gratuitous per-batch job of
the cow path). Readers resolve base+deltas per key by (receiver_idx,
seq, version); ``compact()`` folds deltas back into a base.

Every test here pins mor against the SAME oracle/paths the cow sink is
pinned to: equal final state, equal fencing, equal maintenance
behavior — plus the jobs-per-batch win that motivates the mode.
"""

from __future__ import annotations

from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from debezium_connector_ibmi_spark.config import EngineConfig
from debezium_connector_ibmi_spark.datagen.journal import (
    JournalGenConfig,
    write_journal,
)
from debezium_connector_ibmi_spark.sinks.merge import KeyBucketedTarget
from debezium_connector_ibmi_spark.streaming.dedup_stream import await_available_now
from debezium_connector_ibmi_spark.streaming.engine import JournalTailer
from debezium_connector_ibmi_spark.testing import naive_replay, state_df_to_dict

GEN = JournalGenConfig(
    n_urls=60, n_ops=900, txn_size=30, receiver_rotation=80,
    seq_reset_per_receiver=True,
)


@pytest.fixture(scope="module")
def journal_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("journal_mor"))
    write_journal(spark, GEN, p, num_files=8)
    return p


@pytest.fixture(scope="module")
def oracle(spark, journal_path):
    rows = [r.asDict() for r in spark.read.parquet(journal_path).collect()]
    return naive_replay(rows)


@pytest.fixture(scope="module")
def tailed_150(spark, journal_path, tmp_path_factory):
    """The same journal tailed to head in batches of 150 entries, once
    per write mode, each run under its own Spark job group. Shared by
    the tests that compare the two modes' state and their job counts,
    which need the identical pair of runs."""
    root = str(tmp_path_factory.mktemp("tailed_150"))
    sc = spark.sparkContext
    runs = {}
    for mode in ("mor", "cow"):
        cfg = replace(
            _cfg(journal_path, f"{root}/{mode}", max_entries_per_batch=150),
            merge_write_mode=mode,
        )
        group = f"g-{mode}5"
        sc.setJobGroup(group, group)
        try:
            out = JournalTailer(spark, cfg).run_to_head()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        runs[mode] = (cfg, out, len(sc.statusTracker().getJobIdsForGroup(group)))
    return runs


def _cfg(journal_path, tmpdir, **kw):
    return EngineConfig(
        journal_path=journal_path,
        target_path=f"{tmpdir}/target",
        checkpoint_path=f"{tmpdir}/ckpt",
        num_buckets=8,
        merge_write_mode="mor",
        **kw,
    )


def _target(spark, cfg):
    return KeyBucketedTarget(
        spark, cfg.target_path, key="url", num_buckets=cfg.num_buckets,
        delete_mode=cfg.delete_mode, write_mode=cfg.merge_write_mode,
    )


def _state(spark, cfg):
    return state_df_to_dict(
        _target(spark, cfg).read().drop("bucket", "receiver_idx", "seq")
    )


def _assert_matches_oracle(engine, oracle):
    assert set(engine) == set(oracle)
    for url, o in oracle.items():
        e = engine[url]
        assert e["html"] == o["html"], url
        assert e["lang"] == o["lang"], url


def test_mor_tail_matches_oracle_and_cow(spark, oracle, tailed_150):
    """Same journal, many small batches, mor vs cow: identical final
    state (the read-time resolution equals the cow write-time merge),
    identical watermark, and the oracle replay."""
    cfg_mor, out_mor, _ = tailed_150["mor"]
    cfg_cow, out_cow, _ = tailed_150["cow"]
    assert len(out_mor) == len(out_cow) >= 4
    s_mor, s_cow = _state(spark, cfg_mor), _state(spark, cfg_cow)
    _assert_matches_oracle(s_mor, oracle)
    assert s_mor == s_cow
    t_mor, t_cow = _target(spark, cfg_mor), _target(spark, cfg_cow)
    assert t_mor.watermark() == t_cow.watermark()
    # deltas accumulated (no base was ever written by the tailer)
    c = t_mor.last_commit()
    assert sum(len(v) for v in c["deltas"].values()) >= len(out_mor)


def test_mor_compact_folds_deltas_into_base(
    spark, journal_path, oracle, tmpdir_path
):
    cfg = _cfg(journal_path, tmpdir_path, max_entries_per_batch=200)
    JournalTailer(spark, cfg).run_to_head()
    t = _target(spark, cfg)
    before = _state(spark, cfg)
    out = t.compact()
    assert not out.get("skipped")
    c = t.last_commit()
    assert c["deltas"] == {} and c["buckets"]
    # state unchanged, now served by the single-scan fast path
    assert _state(spark, cfg) == before
    _assert_matches_oracle(before, oracle)
    # compacting again is a no-op (single version, no deltas)
    assert t.compact().get("skipped")


def test_mor_deletes_suppress_base_rows(spark, tmpdir_path):
    """A delta tombstone must hide the base row at read time (drop
    mode), and compaction must then physically remove it."""
    t = KeyBucketedTarget(
        spark, f"{tmpdir_path}/t", key="url", num_buckets=4,
        write_mode="mor",
    )
    ddl = "url string, v string, receiver_idx int, seq long, op string"
    b1 = spark.createDataFrame(
        [("a", "1", 0, 1, "c"), ("b", "1", 0, 2, "c")], ddl
    )
    b2 = spark.createDataFrame(
        [("a", None, 0, 3, "d"), ("c", "2", 0, 4, "c")], ddl
    )
    t.merge(b1, batch_id=0)
    t.merge(b2, batch_id=1)
    got = {r["url"]: r["v"] for r in t.read().collect()}
    assert got == {"b": "1", "c": "2"}
    t.compact()
    got2 = {r["url"]: r["v"] for r in t.read().collect()}
    assert got2 == {"b": "1", "c": "2"}
    assert "__deleted" not in t.read().columns


def test_mor_rewrite_mode_keeps_tombstones(spark, tmpdir_path):
    t = KeyBucketedTarget(
        spark, f"{tmpdir_path}/t", key="url", num_buckets=4,
        delete_mode="rewrite", write_mode="mor",
    )
    ddl = "url string, v string, receiver_idx int, seq long, op string"
    t.merge(spark.createDataFrame([("a", "1", 0, 1, "c")], ddl), batch_id=0)
    t.merge(spark.createDataFrame([("a", None, 0, 2, "d")], ddl), batch_id=1)
    rows = {r["url"]: r["__deleted"] for r in t.read().collect()}
    assert rows == {"a": True}


def test_mor_position_beats_replayed_stale_rows(spark, tmpdir_path):
    """Read-time resolution must apply the same position guard as the
    cow merge: a later-arriving row with an OLDER position loses."""
    t = KeyBucketedTarget(
        spark, f"{tmpdir_path}/t", key="url", num_buckets=4,
        write_mode="mor",
    )
    ddl = "url string, v string, receiver_idx int, seq long, op string"
    t.merge(spark.createDataFrame([("a", "new", 1, 50, "u")], ddl), batch_id=0)
    t.merge(spark.createDataFrame([("a", "old", 0, 99, "u")], ddl), batch_id=1)
    assert [r["v"] for r in t.read().collect()] == ["new"]


def test_mor_fence_and_replay(spark, journal_path, oracle, tmpdir_path):
    """Exactly-once: a replayed batch_id is skipped; kill/resume via
    a fresh tailer converges to the same state."""
    cfg = _cfg(journal_path, tmpdir_path, max_entries_per_batch=150)
    tailer = JournalTailer(spark, cfg)
    tailer.run_to_head(max_batches=2)
    t = tailer.target
    stale = t.last_batch_id()
    ddl = "url string, warc_ts long, html binary, lang string, receiver_idx int, seq long, op string"
    fake = spark.createDataFrame(
        [("u", 0, None, "xx", 99, 999999, "c")], ddl
    )
    assert t.merge(fake, batch_id=stale)["skipped"]
    # resume with a NEW tailer (crash analogue): converges to oracle
    JournalTailer(spark, cfg).run_to_head()
    _assert_matches_oracle(_state(spark, cfg), oracle)


def test_mor_time_travel_and_changelog(spark, journal_path, tmpdir_path):
    """read(version=) resolves ONLY the deltas committed up to that
    version; changes_between works across mor commits."""
    cfg = _cfg(journal_path, tmpdir_path, max_entries_per_batch=250)
    tailer = JournalTailer(spark, cfg)
    tailer.run_to_head(max_batches=1)
    t = tailer.target
    v1 = t._latest_version()
    n1 = t.read(version=v1).count()
    tailer.run_to_head()
    v2 = t._latest_version()
    assert t.read(version=v1).count() == n1, "historical read stable"
    ch = t.changes_between(v1, v2)
    assert ch.count() > 0
    assert set(ch.select("op").distinct().toPandas()["op"]) <= {"c", "u", "d"}


def test_mor_expire_keeps_live_delta_versions(
    spark, journal_path, oracle, tmpdir_path
):
    """Vacuum must treat pending delta versions as live data: after
    expiring history, the resolved state is intact."""
    cfg = _cfg(journal_path, tmpdir_path, max_entries_per_batch=120)
    JournalTailer(spark, cfg).run_to_head()
    t = _target(spark, cfg)
    before = _state(spark, cfg)
    out = t.expire_versions(keep_last=2)
    assert out["removed_commits"] > 0
    assert _state(spark, cfg) == before
    _assert_matches_oracle(before, oracle)


def test_mor_single_job_per_batch(tailed_150):
    """The motivation: a mor tailer batch runs FEWER Spark jobs than a
    cow batch. A cow batch fills the persisted batch first (the
    compaction's shuffle stage and a result stage under AQE, which
    also carry the touched-bucket Observation), then merges it with
    the current state of the touched buckets (the winner aggregation
    adds a shuffle stage); a mor batch is one delta write with no
    cache fill and no state read."""
    _, out_mor, jobs_mor = tailed_150["mor"]
    _, _, jobs_cow = tailed_150["cow"]
    n_batches = sum(1 for s in out_mor if "events" in s)
    assert n_batches >= 4
    # cow pays >= 2 extra jobs per batch (AQE shuffle + result stage
    # of the cache fill)
    assert jobs_cow - jobs_mor >= 2 * n_batches, (
        f"mor={jobs_mor} cow={jobs_cow} batches={n_batches}"
    )


def test_cow_merge_consumes_pending_deltas(spark, tmpdir_path):
    """Mode interop on one target: a cow merge over buckets with
    pending deltas folds them into its rewrite and clears them from
    the commit, so reads never double-apply."""
    path = f"{tmpdir_path}/t"
    ddl = "url string, v string, receiver_idx int, seq long, op string"
    t_mor = KeyBucketedTarget(
        spark, path, key="url", num_buckets=2, write_mode="mor"
    )
    t_mor.merge(
        spark.createDataFrame(
            [("a", "1", 0, 1, "c"), ("b", "1", 0, 2, "c")], ddl
        ),
        batch_id=0,
    )
    t_cow = KeyBucketedTarget(
        spark, path, key="url", num_buckets=2, write_mode="cow"
    )
    t_cow.merge(
        spark.createDataFrame([("a", "2", 0, 3, "u")], ddl), batch_id=1
    )
    c = t_cow.last_commit()
    # every touched bucket's deltas were consumed by the rewrite
    for b in c["deltas"]:
        assert int(b) not in [int(x) for x in c["buckets"]], (
            "rewritten bucket still lists deltas"
        )
    got = {r["url"]: r["v"] for r in t_cow.read().collect()}
    assert got == {"a": "2", "b": "1"}


def test_mor_schema_evolution_mid_deltas(spark, tmpdir_path):
    """update_schema on a target with PENDING deltas: the transform
    sees the RESOLVED state, the rewrite clears the deltas, and later
    old-shape mor merges conform to the evolved schema."""
    t = KeyBucketedTarget(
        spark, f"{tmpdir_path}/t", key="url", num_buckets=2,
        write_mode="mor",
    )
    ddl = "url string, v string, receiver_idx int, seq long, op string"
    t.merge(
        spark.createDataFrame(
            [("a", "1", 0, 1, "c"), ("b", "1", 0, 2, "c")], ddl
        ),
        batch_id=0,
    )
    t.update_schema(
        lambda df: df.withColumn("extra", F.lit(None).cast("string")),
        version=1,
    )
    c = t.last_commit()
    assert c["deltas"] == {}, "evolution rewrite must consume deltas"
    assert any(n == "extra" for n, _ in c["schema"])
    # old-shape merge after evolution: conform adds the new column
    t2 = KeyBucketedTarget(
        spark, f"{tmpdir_path}/t", key="url", num_buckets=2,
        write_mode="mor",
    )
    t2.merge(
        spark.createDataFrame([("c", "2", 0, 3, "c")], ddl), batch_id=1
    )
    rows = {r["url"]: r for r in t2.read().collect()}
    assert set(rows) == {"a", "b", "c"}
    assert all("extra" in r.asDict() for r in rows.values())
    t2.compact()
    assert {r["url"] for r in t2.read().collect()} == {"a", "b", "c"}


def test_mor_structured_stream(spark, journal_path, oracle, tmpdir_path):
    """The Structured Streaming path (foreachBatch + writer-namespaced
    fence) over a mor target: same final state as the fold oracle,
    commits are delta-appends (no base until compaction)."""
    from debezium_connector_ibmi_spark.streaming.engine import (
        run_structured_stream,
    )

    cfg = _cfg(journal_path, f"{tmpdir_path}/s", max_entries_per_batch=500)
    q = run_structured_stream(spark, cfg, available_now=True)
    await_available_now(q, timeout=300)
    t = _target(spark, cfg)
    c = t.last_commit()
    assert not c["buckets"] and c["deltas"], "stream wrote deltas only"
    _assert_matches_oracle(_state(spark, cfg), oracle)


@pytest.mark.parametrize("seed,delete_mode", [(11, "drop"), (12, "rewrite")])
def test_mor_random_batch_equivalence(spark, tmpdir_path, seed, delete_mode):
    """Property check on adversarial batch streams (seeded): random
    create/update/delete churn over a tiny key space — including
    delete/reinsert cycles and cross-batch position gaps — applied to
    a cow target and a mor target must yield identical resolved
    state at EVERY step, and identical again after compaction."""
    import random

    rng = random.Random(seed)
    ddl = "url string, v string, receiver_idx int, seq long, op string"
    keys = [f"k{i}" for i in range(7)]
    t_cow = KeyBucketedTarget(
        spark, f"{tmpdir_path}/cow_{seed}", key="url", num_buckets=3,
        delete_mode=delete_mode, write_mode="cow",
    )
    t_mor = KeyBucketedTarget(
        spark, f"{tmpdir_path}/mor_{seed}", key="url", num_buckets=3,
        delete_mode=delete_mode, write_mode="mor",
    )

    def snap(t):
        df = t.read()
        if df is None:
            return {}
        rows = {}
        for r in df.collect():
            rows[r["url"]] = (
                r["v"],
                r["receiver_idx"],
                r["seq"],
                bool(r["__deleted"]) if "__deleted" in df.columns else None,
            )
        return rows

    seq = 0
    for batch_id in range(6):
        n = rng.randint(1, 5)
        chosen = rng.sample(keys, n)
        rows = []
        for k in chosen:
            op = rng.choice(["c", "u", "u", "d"])
            seq += rng.randint(1, 3)
            rows.append(
                (k, None if op == "d" else f"v{batch_id}", 0, seq, op)
            )
        batch = spark.createDataFrame(rows, ddl)
        t_cow.merge(batch, batch_id=batch_id)
        t_mor.merge(batch, batch_id=batch_id)
        assert snap(t_cow) == snap(t_mor), f"diverged at batch {batch_id}"
    t_mor.compact()
    assert snap(t_cow) == snap(t_mor), "diverged after compaction"


def test_mor_read_resolution_plan_shape(spark, tmpdir_path):
    """Scale contract of the mor read path: base+delta resolution is a
    single partial-combining max_by aggregation — exactly ONE shuffle
    exchange over the unioned files, no join and no window. (Buckets
    with no deltas never reach this path: they keep the bare-scan fast
    path, asserted below.)"""
    import re

    t = KeyBucketedTarget(
        spark, f"{tmpdir_path}/t", key="url", num_buckets=4,
        write_mode="mor",
    )
    ddl = "url string, v string, receiver_idx int, seq long, op string"
    t.merge(
        spark.createDataFrame(
            [("a", "1", 0, 1, "c"), ("b", "1", 0, 2, "c")], ddl
        ),
        batch_id=0,
    )
    t.merge(spark.createDataFrame([("a", "2", 0, 3, "u")], ddl), batch_id=1)

    def plan(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    p = plan(t.read())
    shuffles = set(re.findall(r"(?<!Broadcast)Exchange \((\d+)\)", p))
    assert len(shuffles) == 1, f"resolution must be one exchange: {shuffles}"
    assert "partial_max_by" in p, "map-side partial combine missing"
    assert "Join" not in p and "Window" not in p
    # compacted table: resolution disappears — bare scan again
    t.compact()
    p2 = plan(t.read())
    assert "Exchange" not in p2 and "max_by" not in p2


def test_mor_delta_count_trigger(spark, journal_path, oracle, tmpdir_path):
    """Round-6 (VERDICT r5 #4): mor_compact_max_deltas triggers
    compaction on OUTSTANDING DELTAS PER BUCKET — the quantity that
    bounds read amplification. With the threshold at 2, no bucket's
    pending delta depth may ever exceed 2, and the final state still
    matches the oracle."""
    cfg = replace(
        _cfg(journal_path, tmpdir_path, max_entries_per_batch=150),
        mor_compact_max_deltas=2,
    )
    out = JournalTailer(spark, cfg).run_to_head()
    n_batches = sum(1 for s in out if "events" in s)
    assert n_batches >= 6
    assert any(s.get("compacted") for s in out), "trigger never fired"
    # every commit in the history respected the bound: the trigger
    # compacted in the same loop iteration that reached the threshold
    t = _target(spark, cfg)
    for s in out:
        if "max_bucket_deltas" in s and not s.get("compacted"):
            assert s["max_bucket_deltas"] < 2, s
    c = t.last_commit()
    pending = max(
        (len(v) for v in (c.get("deltas") or {}).values()), default=0
    )
    assert pending < 2, f"threshold not enforced: {pending}"
    _assert_matches_oracle(_state(spark, cfg), oracle)


def test_mor_stream_delta_count_trigger(spark, journal_path, oracle, tmpdir_path):
    """Streaming parity for the delta-count trigger."""
    from debezium_connector_ibmi_spark.streaming.engine import (
        run_structured_stream,
    )

    cfg = replace(
        _cfg(journal_path, f"{tmpdir_path}/sd", max_entries_per_batch=200),
        mor_compact_max_deltas=1,
    )
    q = run_structured_stream(spark, cfg, available_now=True)
    await_available_now(q, timeout=300)
    t = _target(spark, cfg)
    c = t.last_commit()
    assert c["buckets"], "compaction never produced a base"
    pending = sum(len(v) for v in (c.get("deltas") or {}).values())
    assert pending == 0, f"threshold=1 must leave no pending deltas: {pending}"
    _assert_matches_oracle(_state(spark, cfg), oracle)


def test_mor_crash_between_delta_write_and_pointer_flip(
    spark, journal_path, oracle, tmpdir_path
):
    """mor analogue of the cow torn-write soak (round-6, VERDICT r5
    #8): a delta version's files + commit json exist but `_latest` was
    never flipped. The torn version must be invisible, and the resumed
    tail must deterministically supersede the garbage and converge to
    the oracle."""
    import json
    import os

    cfg = _cfg(journal_path, tmpdir_path, max_entries_per_batch=300)
    tailer = JournalTailer(spark, cfg)
    tailer.run_to_head(max_batches=2)
    t = tailer.target

    v = t._latest_version()
    orphan = v + 1
    os.makedirs(
        f"{cfg.target_path}/data/v={orphan}/bucket=0", exist_ok=True
    )
    with open(
        f"{cfg.target_path}/data/v={orphan}/bucket=0/garbage.parquet", "wb"
    ) as fh:
        fh.write(b"\x00torn-delta")
    with open(f"{cfg.target_path}/_commits/{orphan}.json", "w") as fh:
        json.dump(
            {
                "version": orphan,
                "batch_id": 999,
                "buckets": dict(t.last_commit().get("buckets") or {}),
                "deltas": {"0": [orphan]},
            },
            fh,
        )
    # pointer untouched -> torn delta version invisible
    assert t._latest_version() == v
    assert t.last_batch_id() != 999
    assert t.read().count() >= 0  # resolution ignores the orphan

    t2 = JournalTailer(spark, cfg)
    t2.run_to_head()
    t2.target.compact()
    _assert_matches_oracle(_state(spark, cfg), oracle)
