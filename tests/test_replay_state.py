"""Full-replay correctness: engine state == naive ordered-fold oracle
(byte-identical html/text per url) — the north-rule invariant."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from debezium_connector_ibmi_spark.config import EngineConfig
from debezium_connector_ibmi_spark.datagen.journal import (
    JournalGenConfig,
    generate_journal,
)
from debezium_connector_ibmi_spark.pipeline import current_state
from debezium_connector_ibmi_spark.testing import naive_replay, state_df_to_dict

GEN = JournalGenConfig(
    n_urls=80, n_ops=1200, txn_size=25, receiver_rotation=100, seq_reset_per_receiver=True
)


@pytest.fixture(scope="module")
def journal_df(spark):
    df = generate_journal(spark, GEN).cache()
    df.count()
    yield df
    df.unpersist()


def _assert_state_equal(engine: dict, oracle: dict, check_deleted=False):
    assert set(engine.keys()) == set(oracle.keys())
    for url, o in oracle.items():
        e = engine[url]
        if check_deleted:
            assert e["__deleted"] == o["__deleted"], url
            if o["__deleted"]:
                continue
        assert e["html"] == o["html"], f"html mismatch for {url}"
        assert e["text"] == o["text"], f"text mismatch for {url}"
        assert e["lang"] == o["lang"], url
        assert e["warc_ts"] == o["warc_ts"], url


def test_full_replay_matches_oracle_drop_mode(spark, journal_df):
    cfg = EngineConfig(delete_mode="drop")
    state = current_state(journal_df, cfg)
    engine = state_df_to_dict(state)
    oracle = naive_replay([r.asDict() for r in journal_df.collect()], delete_mode="drop")
    _assert_state_equal(engine, oracle)
    assert len(engine) > 0


def test_full_replay_matches_oracle_rewrite_mode(spark, journal_df):
    cfg = EngineConfig(delete_mode="rewrite")
    state = current_state(journal_df, cfg)
    engine = state_df_to_dict(state)
    oracle = naive_replay(
        [r.asDict() for r in journal_df.collect()], delete_mode="rewrite"
    )
    _assert_state_equal(engine, oracle, check_deleted=True)


def test_replay_insensitive_to_input_order(spark, journal_df):
    cfg = EngineConfig()
    shuffled = journal_df.orderBy(F.rand(seed=7))
    a = state_df_to_dict(current_state(journal_df, cfg))
    b = state_df_to_dict(current_state(shuffled, cfg))
    assert a == b


def test_ignored_table_and_noise_filtered(spark, journal_df):
    cfg = EngineConfig()
    state = current_state(journal_df, cfg)
    # no url from the IGNORE table leaks: oracle only folds PAGES
    oracle = naive_replay([r.asDict() for r in journal_df.collect()])
    assert set(state_df_to_dict(state)) == set(oracle)


def test_seq_reset_requires_receiver_ordering(spark):
    """With seq resets, ordering by seq alone would be wrong; the
    engine must order by (receiver_idx, seq). Construct a journal
    where the two orderings disagree and check the oracle."""
    gen = JournalGenConfig(
        n_urls=10, n_ops=300, txn_size=10, receiver_rotation=20,
        seq_reset_per_receiver=True, update_pct=0.95,
    )
    j = generate_journal(spark, gen).cache()
    cfg = EngineConfig()
    engine = state_df_to_dict(current_state(j, cfg))
    oracle = naive_replay([r.asDict() for r in j.collect()])
    _assert_state_equal(engine, oracle)
    j.unpersist()


def test_pairing_attaches_before_images(spark, journal_df):
    from debezium_connector_ibmi_spark.pipeline import decoded_events

    cfg = EngineConfig()
    ev = decoded_events(journal_df, cfg)
    upd = ev.filter(F.col("op") == "u")
    n_upd = upd.count()
    n_with_before = upd.filter(F.col("before_html").isNotNull()).count()
    # non-minimized updates must carry a before image
    assert n_with_before > 0
    assert n_with_before <= n_upd
    # UB rows never reach the event stream
    assert ev.filter(F.col("op") == "b").count() == 0
