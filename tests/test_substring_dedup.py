"""Exact substring dedup (operators/substring_dedup.py): semantics
on hand-built corpora + the plan-shape scale contract (one exchange
for detection, no corpus-wide pair expansion)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from debezium_connector_ibmi_spark.operators import substring_dedup as sd


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _toks(n, tag):
    return " ".join(f"{tag}{i}" for i in range(n))


def test_window_sites_count_and_positions(spark):
    df = _docs(spark, [_toks(10, "a"), _toks(3, "b")])
    out = sd.window_sites(df, k=4).collect()
    # doc 0: 10 tokens -> 7 windows at pos 0..6; doc 1: too short
    assert sorted((r.doc_id, r.pos) for r in out) == [(0, p) for p in range(7)]
    g0 = next(r.gram for r in out if r.pos == 0)
    assert g0 == "a0 a1 a2 a3"


def test_dup_sites_and_first_site_flag(spark):
    shared = "x0 x1 x2 x3"
    df = _docs(
        spark,
        [shared + " " + _toks(4, "p"), _toks(4, "q") + " " + shared],
    )
    out = sd.dup_window_sites(df, k=4).orderBy("doc_id", "pos").collect()
    dup = [(r.doc_id, r.pos, r.is_first_site) for r in out if r.n_sites >= 2]
    # the shared 4-gram sits at (0,0) and (1,4); (0,0) is the keeper
    assert (0, 0, True) in dup and (1, 4, False) in dup


def test_spans_merge_overlapping_windows(spark):
    # one long shared run of 6 tokens -> windows at 3 consecutive pos
    # in each doc; they must merge into ONE maximal span of 6 tokens
    run = _toks(6, "s")
    df = _docs(
        spark,
        [run + " " + _toks(5, "p"), _toks(3, "q") + " " + run],
    )
    spans = {
        r.doc_id: (r.span_start, r.span_end, r.n_windows)
        for r in sd.dup_spans(df, k=4).collect()
    }
    assert spans[0] == (0, 5, 3)
    assert spans[1] == (3, 8, 3)


def test_spans_do_not_merge_across_gap(spark):
    run = _toks(4, "s")
    gap = _toks(9, "g")  # > k tokens between the two duplicated runs
    df = _docs(spark, [run + " " + gap + " " + run, run])
    # doc0 has the run at pos 0 and pos 13; doc1 at pos 0: the gram
    # occurs at 3 sites. doc0's two spans must NOT merge (13 - 0 > k).
    spans = [
        (r.span_start, r.span_end)
        for r in sd.dup_spans(df, k=4).where("doc_id = 0").collect()
    ]
    assert sorted(spans) == [(0, 3), (13, 16)]


def test_dup_token_fraction_covers_all_docs(spark):
    run = _toks(5, "s")
    df = _docs(
        spark,
        [run + " " + _toks(5, "p"), run + " " + _toks(5, "q"),
         _toks(10, "r"), _toks(3, "t")],  # unique doc + short doc
    )
    out = {r.doc_id: r for r in sd.dup_token_fraction(df, k=5).collect()}
    assert len(out) == 4
    assert out[0].dup_tokens == 5 and out[0].dup_frac == 0.5
    assert out[1].dup_tokens == 5
    assert out[2].dup_tokens == 0 and out[2].dup_frac == 0.0
    assert out[3].n_tokens == 3 and out[3].dup_tokens == 0


def test_remove_dup_spans_keeps_first_site_only(spark):
    run = _toks(4, "s")
    df = _docs(
        spark,
        [run + " " + _toks(4, "p"), _toks(4, "q") + " " + run],
    )
    out = {r.doc_id: r.dedup_text for r in sd.remove_dup_spans(df, k=4).collect()}
    # doc 0 holds the globally-first site: untouched
    assert out[0] == run + " " + _toks(4, "p")
    # doc 1 loses exactly the duplicated run
    assert out[1] == _toks(4, "q")


def test_remove_dup_spans_within_doc_repeat(spark):
    run = _toks(4, "s")
    pad = _toks(9, "g")
    df = _docs(spark, [run + " " + pad + " " + run])
    out = sd.remove_dup_spans(df, k=4).collect()[0].dedup_text
    # second occurrence excised, first kept
    assert out == run + " " + pad


def test_remove_preserves_other_columns(spark):
    df = _docs(spark, [_toks(10, "a")]).withColumn("lang", F.lit("en"))
    row = sd.remove_dup_spans(df, k=4).collect()[0]
    assert row.lang == "en" and row.dedup_text == row.text


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_detection_site_relation_never_shuffled(spark):
    """The 100 TB contract (round-7, VERDICT r6 #1): dup-site
    detection never exchanges the SITE relation and never expands
    pairs. Gram stats are a map-side-combining hash aggregation (a
    hot boilerplate gram collapses to <= 1 partial row per map task
    before its exchange — the former count-over-gram-partitions
    window shipped every site of a hot gram to one WindowExec task),
    and the dup-gram stats broadcast back onto the sites. The only
    hashpartitioning exchange in the plan is the stats agg's, keyed
    on the gram key; the probe-side site build is map-only."""
    df = _docs(spark, [_toks(12, "a"), _toks(12, "b")])
    plan = _plan(sd.dup_window_sites(df, k=4))
    import re

    exchanges = re.findall(r"hashpartitioning\(([a-z_]+)", plan)
    assert exchanges == ["gram"], exchanges  # stats agg only
    assert "BroadcastHashJoin" in plan
    # map-side partial combine ahead of the stats exchange
    assert "partial_count" in plan
    # no full-group window over gram partitions, no pair expansion
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_stats_join_shuffle_equals_broadcast(spark):
    """``stats_join="shuffle"`` (the dup-gram-stats-outgrow-memory
    regime) yields identical results to the broadcast default."""
    docs = _docs(
        spark,
        [_toks(30, "a"), _toks(30, "a"), _toks(25, "c")],
    )
    a = sorted(
        map(
            tuple,
            sd.dup_window_sites(docs, k=4, stats_join="broadcast").collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            sd.dup_window_sites(docs, k=4, stats_join="shuffle").collect(),
        )
    )
    assert a == b and len(a) > 0


def test_spans_match_bruteforce_on_generated_corpus(spark):
    """Property check vs an independent in-Python reference over the
    sf0.001 documents table."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(60)
    )
    rows = docs.collect()
    k = 5
    from collections import defaultdict

    sites = defaultdict(list)
    for r in rows:
        t = r.text.split(" ")
        for i in range(len(t) - k + 1):
            sites[" ".join(t[i : i + k])].append((r.doc_id, i))
    expect = defaultdict(set)
    for g, ss in sites.items():
        if len(ss) >= 2:
            for d, p in ss:
                expect[d].update(range(p, p + k))
    got = {
        r.doc_id: r.dup_tokens
        for r in sd.dup_token_fraction(docs, k=k).collect()
    }
    for r in rows:
        assert got[r.doc_id] == len(expect.get(r.doc_id, set())), r.doc_id


# -- incremental mode (gram index) -----------------------------------
def test_incremental_equals_batch_over_union(spark):
    """The pinned contract: incremental(B, index(C)) == batch
    operators over C UNION B restricted to B's docs."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    corpus = docs.where("doc_id % 4 != 0")
    batch = docs.where("doc_id % 4 = 0")
    k = 5
    inc = sorted(
        map(tuple, sd.dup_spans_incremental(
            batch, sd.gram_stats(corpus, k=k), k=k
        ).collect())
    )
    ref = sorted(
        map(tuple, sd.dup_spans(docs, k=k)
           .where("doc_id % 4 = 0").collect())
    )
    assert inc == ref and inc, "incremental spans diverge from batch"


def test_incremental_corpus_owns_first_site(spark):
    """A gram the corpus has EVER seen owns the first site regardless
    of doc_id ordering: a batch doc with a smaller doc_id still loses
    its copy (time order, not id order)."""
    run = " ".join(f"s{i}" for i in range(4))
    corpus = spark.createDataFrame(
        [(100, run + " c0 c1 c2 c3")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(1, "b0 b1 b2 b3 " + run)], "doc_id long, text string"
    )
    out = sd.remove_dup_spans_incremental(
        batch, sd.gram_stats(corpus, k=4), k=4
    ).collect()
    assert out[0].dedup_text == "b0 b1 b2 b3"
    sites = sd.dup_window_sites_incremental(
        batch, sd.gram_stats(corpus, k=4), k=4
    ).collect()
    assert all(not r.is_first_site for r in sites)


def test_incremental_batch_internal_dups_still_found(spark):
    """Grams unseen by the corpus but repeated inside the batch:
    first batch site keeps, second is excised."""
    run = " ".join(f"n{i}" for i in range(4))
    corpus = spark.createDataFrame(
        [(0, " ".join(f"c{i}" for i in range(10)))],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, run + " x0 x1 x2 x3"), (11, "y0 y1 y2 y3 " + run)],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.dedup_text
        for r in sd.remove_dup_spans_incremental(
            batch, sd.gram_stats(corpus, k=4), k=4
        ).collect()
    }
    assert out[10] == run + " x0 x1 x2 x3"
    assert out[11] == "y0 y1 y2 y3"


def test_merge_gram_stats_is_associative_and_matches_full(spark):
    """index(C1) ⊕ stats(C2) == stats(C1 ∪ C2) — the additive fold
    any upsert store can apply per batch."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text").limit(80)
    )
    c1, c2 = docs.where("doc_id % 2 = 0"), docs.where("doc_id % 2 = 1")
    k = 5
    merged = sorted(
        map(tuple, sd.merge_gram_stats(
            sd.gram_stats(c1, k=k), sd.gram_stats(c2, k=k)
        ).collect())
    )
    full = sorted(map(tuple, sd.gram_stats(docs, k=k).collect()))
    assert merged == full and merged


# -- randomized property check (seeded, house style: bounded Spark
# jobs per case) ------------------------------------------------------
def _py_reference(texts, k):
    """Independent reference: dup sites, keep-first removal, spans."""
    from collections import defaultdict

    sites = defaultdict(list)
    for d, t in enumerate(texts):
        toks = t.split(" ")
        for i in range(len(toks) - k + 1):
            sites[" ".join(toks[i : i + k])].append((d, i))
    covered = defaultdict(set)      # all dup-covered positions
    removed = defaultdict(set)      # non-keeper-covered positions
    for g, ss in sites.items():
        if len(ss) < 2:
            continue
        keeper = min(ss)
        for d, p in ss:
            covered[d].update(range(p, p + k))
            if (d, p) != keeper:
                removed[d].update(range(p, p + k))
    texts_out = []
    for d, t in enumerate(texts):
        toks = t.split(" ")
        texts_out.append(
            " ".join(
                w for i, w in enumerate(toks) if i not in removed[d]
            )
        )
    return covered, texts_out


@pytest.mark.parametrize("seed,n_docs,vocab", [
    (7, 25, 6),    # tiny vocab: dense collisions, heavy overlaps
    (11, 40, 12),  # medium
    (23, 30, 4),   # near-degenerate: almost everything duplicated
])
def test_random_corpora_match_python_reference(spark, seed, n_docs, vocab):
    import random

    rng = random.Random(seed)
    k = 4
    texts = [
        " ".join(
            f"w{rng.randrange(vocab)}"
            for _ in range(rng.randrange(2, 30))
        )
        for _ in range(n_docs)
    ]
    covered, texts_out = _py_reference(texts, k)
    df = _docs(spark, texts)
    got_cov = {
        r.doc_id: r.dup_tokens
        for r in sd.dup_token_fraction(df, k=k).collect()
    }
    for d in range(n_docs):
        assert got_cov[d] == len(covered[d]), f"doc {d} coverage"
    got_txt = {
        r.doc_id: r.dedup_text
        for r in sd.remove_dup_spans(df, k=k).collect()
    }
    for d in range(n_docs):
        assert got_txt[d] == texts_out[d], f"doc {d} removal"


def test_gram_index_persists_through_merge_sink(spark, tmpdir_path):
    """The composition claim, end-to-end: the additive gram index
    lives in the key-bucketed MERGE sink (keyed on gram) across crawl
    batches. Per batch: read index -> incremental dedup -> fold batch
    stats -> upsert only the touched grams. After two batches the
    persisted index equals gram_stats over everything ingested, and
    batch-2 dedup matches the batch operator over the union."""
    from debezium_connector_ibmi_spark.sinks.merge import (
        KeyBucketedTarget,
    )

    k = 5
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(120)
    )
    b1 = docs.where("doc_id % 3 != 0")
    b2 = docs.where("doc_id % 3 = 0")
    tgt = KeyBucketedTarget(
        spark, f"{tmpdir_path}/gram_index", key="gram", num_buckets=8
    )

    def upsert(stats, batch_id):
        tgt.merge(
            stats.select(
                "gram", "n_sites", "first_doc", "first_pos",
                F.lit("UP").alias("op"),
                F.lit(0).alias("receiver_idx"),
                F.lit(batch_id).alias("seq"),
            ),
            batch_id=batch_id,
            watermark=(0, batch_id),
        )

    upsert(sd.gram_stats(b1, k=k), 1)
    idx = tgt.read().select("gram", "n_sites", "first_doc", "first_pos")

    # incremental dedup of batch 2 against the PERSISTED index
    inc = sorted(
        map(tuple, sd.dup_spans_incremental(b2, idx, k=k).collect())
    )
    ref = sorted(
        map(
            tuple,
            sd.dup_spans(docs, k=k).where("doc_id % 3 = 0").collect(),
        )
    )
    assert inc == ref and inc

    # fold batch-2 stats in; upsert only grams batch 2 touched
    s2 = sd.gram_stats(b2, k=k)
    touched = sd.merge_gram_stats(
        idx.join(s2.select("gram"), "gram", "left_semi"), s2
    )
    upsert(touched, 2)

    got = sorted(
        map(
            tuple,
            tgt.read()
            .select("gram", "n_sites", "first_doc", "first_pos")
            .collect(),
        )
    )
    want = sorted(map(tuple, sd.gram_stats(docs, k=k).collect()))
    assert got == want
