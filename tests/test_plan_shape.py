"""Physical-plan shape assertions — the scale contract.

These tests pin the optimizer behaviors the 100 TB design depends on
(SURVEY.md §4): filter pushdown into the parquet scan, partition
pruning on receiver_idx, broadcast joins for dimensions, and the
decode UDF running after compaction (UDF cost ~ distinct keys, not
event count).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from debezium_connector_ibmi_spark.config import EngineConfig
from debezium_connector_ibmi_spark.datagen.journal import (
    JournalGenConfig,
    write_journal,
)
from debezium_connector_ibmi_spark.operators.filters import apply_standard_filters
from debezium_connector_ibmi_spark.pipeline import current_state
from debezium_connector_ibmi_spark.sources.journal_source import read_journal

GEN = JournalGenConfig(n_urls=30, n_ops=300, receiver_rotation=100)


@pytest.fixture(scope="module")
def journal_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("journal_plan"))
    write_journal(spark, GEN, p, num_files=2)
    return p


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filters_push_to_scan(spark, journal_path):
    j = read_journal(spark, journal_path)
    f = apply_standard_filters(j, EngineConfig())
    plan = _plan(f)
    assert "PushedFilters" in plan
    # the entry-type/journal-code IN-filters must reach the scan
    pushed = plan.split("PushedFilters:")[1].split("\n")[0]
    assert "journal_code" in pushed and "entry_type" in pushed


def test_partition_pruning_on_receiver_idx(spark, journal_path):
    j = read_journal(spark, journal_path)
    pruned = j.filter(F.col("receiver_idx") == 1)
    plan = _plan(pruned)
    # receiver_idx is the partition column: the predicate must appear
    # as a partition filter, not a data filter
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "receiver_idx" in pf


def test_decode_udf_after_compaction(spark, journal_path):
    """current_state must run the Python UDF on compacted survivors:
    in the formatted plan the ArrowEvalPython node sits above the
    compaction aggregate, not below the shuffle."""
    import re

    j = read_journal(spark, journal_path)
    plan = _plan(current_state(j, EngineConfig()))
    # exactly one Python decode node (tree + details each mention it once)
    udf_ids = {int(m) for m in re.findall(r"ArrowEvalPython \((\d+)\)", plan)}
    # compaction node: the max_by aggregate
    comp_ids = {
        int(m)
        for pat in (r"HashAggregate \((\d+)\)", r"ObjectHashAggregate \((\d+)\)",
                    r"SortAggregate \((\d+)\)", r"Window \((\d+)\)")
        for m in re.findall(pat, plan)
    }
    assert len(udf_ids) == 1, f"want exactly one decode UDF node, got {udf_ids}"
    assert comp_ids
    # formatted-plan node ids increase toward the root: the UDF must
    # sit above (run after) the compaction
    assert min(udf_ids) > max(comp_ids), (
        "decode UDF must run after (above) compaction"
    )
    # the compaction has a partial (map-side) phase
    assert "partial_max_by" in plan or "partial_max" in plan


def test_only_true_dimensions_force_broadcast(spark):
    """Scale contract for the star query: `nation` (25 rows) is the
    only broadcast HINT. With size-based auto-broadcast disabled, the
    fact-side joins (lineitem⋈orders⋈customer) must fall back to
    shuffle joins — proving no fact-sized table is pinned into a
    broadcast that would OOM at 100× (round-1 VERDICT 'What's wrong'
    #2). At real scale AQE makes the size call at runtime."""
    import re

    from debezium_connector_ibmi_spark.queries.relational import (
        rel_revenue_by_nation,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(rel_revenue_by_nation(spark, "/root/testdata/sf0.001"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    bcast = set(re.findall(r"BroadcastHashJoin[^(\n]*\((\d+)\)", plan))
    assert len(bcast) == 1, f"only the nation join may broadcast: {bcast}"
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_flagship_queries_use_max_by_agg(spark):
    """cdc_changelog_materialize / cdc_last_per_key must run the
    engine's compaction (max_by with map-side partial combine) — no
    Window over the event stream; the window variant stays pinned via
    cdc_last_per_key_salted."""
    from debezium_connector_ibmi_spark.queries.cdc import (
        cdc_changelog_materialize,
        cdc_last_per_key,
    )

    for q in (cdc_changelog_materialize, cdc_last_per_key):
        plan = _plan(q(spark, "/root/testdata/sf0.001"))
        assert "partial_max_by" in plan, f"{q.__name__}: no partial max_by"
        assert "Window" not in plan, f"{q.__name__}: window fallback used"


def test_near_dup_verified_is_banded(spark):
    """The near-dup candidate stage must join on LSH bands (melted
    (band_idx, band) equi-join), never the all-pairs shingle
    self-join — the round-1 scale-killer. Round 7: the candidate
    relation inside doc_near_dup_verified is local-checkpointed (one
    signature build for its three consumers), so the banded shape is
    pinned on the candidate builder itself, and the outer plan is
    pinned to read the checkpointed candidates (ExistingRDD scan,
    signature pass NOT re-run downstream)."""
    from debezium_connector_ibmi_spark.operators.text_analysis import (
        lsh_candidate_pairs,
    )
    from debezium_connector_ibmi_spark.queries.textops import (
        doc_near_dup_verified,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cand_plan = _plan(lsh_candidate_pairs(docs))
    assert "band_idx" in cand_plan, "banded candidate join missing"
    outer = _plan(doc_near_dup_verified(spark, "/root/testdata/sf0.001"))
    assert "ExistingRDD" in outer, "candidates not checkpointed"


def test_lsh_pairs_single_signature_pass(spark):
    """lsh_candidate_pairs must compute the md5-per-shingle signature
    ONCE and expand pairs from grouped buckets — the former
    self-join shape evaluated the signature on both join branches
    (Catalyst does not reuse differently-aliased exchanges) and
    broadcast a corpus-sized relation (round-5 fix)."""
    from debezium_connector_ibmi_spark.queries.textops import (
        doc_lsh_near_dup_pairs,
    )

    plan = _plan(doc_lsh_near_dup_pairs(spark, "/root/testdata/sf0.001"))
    assert plan.count("md5") == 1, "signature computed more than once"
    assert "Join" not in plan, "pair expansion regressed to a join"
    assert "BroadcastExchange" not in plan


def test_near_dup_verify_no_shingle_explode(spark):
    """The Jaccard verify stage must be a map-side array_intersect on
    joined per-doc shingle SETS — the former exploded-distinct
    shingle relation shuffled the whole corpus and was recomputed
    once per branch reference (round-5 fix). Round 7: the signature
    pass lives entirely inside the checkpointed candidate relation,
    so the OUTER plan must contain NO md5 at all (zero signature
    re-runs downstream) and the shingle-set build must be pruned by a
    broadcast semi-join on the candidate ids."""
    from debezium_connector_ibmi_spark.queries.textops import (
        doc_near_dup_verified,
    )

    plan = _plan(doc_near_dup_verified(spark, "/root/testdata/sf0.001"))
    assert "array_intersect" in plan, "verify regressed off the set path"
    assert plan.count("md5") == 0, "signature re-run outside checkpoint"
    assert "LeftSemi" in plan, "candidate-id prune of the set build missing"


def test_compaction_single_shuffle(spark, journal_path):
    """Plain (unsalted) compaction = exactly one exchange over the
    events; salted = two (by design, skew trade)."""
    from debezium_connector_ibmi_spark.operators.compaction import (
        last_event_per_key,
        salted_last_event_per_key,
    )

    j = read_journal(spark, journal_path).filter(F.col("url").isNotNull())
    import re

    def n_exchanges(plan):  # tree + details both print each node
        return len(set(re.findall(r"Exchange \((\d+)\)", plan)))

    plain = _plan(last_event_per_key(j))
    salted = _plan(salted_last_event_per_key(j, salt_buckets=4))
    assert n_exchanges(plain) == 1
    assert n_exchanges(salted) == 2

def test_contamination_broadcasts_benchmark(spark):
    """doc_decontaminate must broadcast the benchmark shingle set —
    the corpus side is never shuffled for the join (at 100 TB the
    benchmark is the only small side)."""
    from debezium_connector_ibmi_spark.queries.corpusops import (
        doc_decontaminate,
    )

    plan = _plan(doc_decontaminate(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan, "benchmark join not broadcast"


def test_contamination_never_shuffles_exploded_pairs(spark):
    """Round-5 (VERDICT r4 #1): within-doc shingle dedup is
    array_distinct BEFORE the explode, so the exploded (doc, shingle)
    pairs — ~5x the corpus text volume — never shuffle. Exactly two
    shuffle exchanges remain (benchmark-side distinct + post-join
    per-doc count), and every one of them is an aggregation exchange
    (HashAggregate child = map-side partial combine upstream); no
    Exchange ever sits directly over the exploded pair stream."""
    import re

    from debezium_connector_ibmi_spark.queries.corpusops import (
        doc_decontaminate,
    )

    plan = _plan(doc_decontaminate(spark, "/root/testdata/sf0.001"))
    tree = plan.split("\n\n")[0]
    shuffles = set(re.findall(r"(?<!Broadcast)Exchange \((\d+)\)", plan))
    assert len(shuffles) == 2, f"expected 2 agg exchanges, got {shuffles}"
    lines = tree.split("\n")
    for i, line in enumerate(lines):
        m = re.search(r"(?<!Broadcast)Exchange \(\d+\)", line)
        if not m:
            continue
        # the tree child of an Exchange is the next line, one level
        # deeper — it must be the partial HashAggregate, never the
        # Generate/Project of the exploded pairs
        assert "HashAggregate" in lines[i + 1], (
            f"non-aggregation shuffle in contamination plan:\n"
            f"{line}\n{lines[i + 1]}"
        )


def test_hash_sample_is_map_only(spark):
    """doc_sample_stratified is a deterministic filter projection —
    no exchange anywhere in the plan."""
    from debezium_connector_ibmi_spark.queries.corpusops import (
        doc_sample_stratified,
    )

    plan = _plan(doc_sample_stratified(spark, "/root/testdata/sf0.001"))
    assert "Exchange" not in plan
    assert "codegen id" in plan  # whole-stage codegen span
    # column pruning: only the two needed columns reach the scan
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan


def test_chunk_dedup_no_window(spark):
    """doc_chunk_dedup keeps the skew-proof agg shape: min-struct
    keeper via hash aggregation, never a Window over the chunk
    stream."""
    from debezium_connector_ibmi_spark.queries.corpusops import (
        doc_chunk_dedup,
    )

    plan = _plan(doc_chunk_dedup(spark, "/root/testdata/sf0.001"))
    assert "Window" not in plan
    assert "partial_min" in plan, "map-side partial keeper agg missing"


def test_scalar_quantize_broadcasts_stats(spark):
    """emb_scalar_quantize joins the 64-row per-dimension stats back
    onto the exploded vectors via broadcast — the corpus side is
    never shuffled for the join."""
    from debezium_connector_ibmi_spark.queries.embeddingops import (
        emb_scalar_quantize,
    )

    plan = _plan(emb_scalar_quantize(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "partial_min" in plan  # map-side partial stats agg


def test_lineage_rides_merge_jobs(spark, tmpdir_path):
    """Round-4 (VERDICT r3 #5): per-receiver lineage is collected via
    an Observation on the slice — one fewer Spark job per micro-batch
    than the dedicated-aggregation fallback, with IDENTICAL lineage
    rows (also proves Catalyst did not push the compaction filters
    below the CollectMetrics node: counts cover the whole slice)."""
    from debezium_connector_ibmi_spark import streaming
    from debezium_connector_ibmi_spark.streaming.engine import JournalTailer

    jdir = f"{tmpdir_path}/j"
    write_journal(spark, GEN, jdir, num_files=2)

    def run(target_path, group):
        cfg = EngineConfig(
            journal_path=jdir,
            target_path=target_path,
            num_buckets=4,
            max_entries_per_batch=100_000,
        )
        tailer = JournalTailer(spark, cfg)
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            out = tailer.run_to_head()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        return out, len(jobs), tailer.target.lineage()

    out_obs, jobs_obs, lin_obs = run(f"{tmpdir_path}/t_obs", "g-obs")
    orig = streaming.engine.LINEAGE_OBSERVE_MAX_RECEIVERS
    streaming.engine.LINEAGE_OBSERVE_MAX_RECEIVERS = 0  # force fallback
    try:
        out_fb, jobs_fb, lin_fb = run(f"{tmpdir_path}/t_fb", "g-fb")
    finally:
        streaming.engine.LINEAGE_OBSERVE_MAX_RECEIVERS = orig

    n_batches = sum(1 for s in out_obs if "events" in s)
    assert n_batches >= 1
    # at least one job saved per batch (under AQE the dedicated
    # aggregation costs two jobs: shuffle stage + result stage)
    assert jobs_fb - jobs_obs >= n_batches
    key = lambda rows: sorted(  # noqa: E731
        (r["receiver_idx"], r["seq"], r["events_applied"]) for r in rows
    )
    assert key(lin_obs) == key(lin_fb)
    assert sum(s.get("events", 0) for s in out_obs) == sum(
        s.get("events", 0) for s in out_fb
    )


def test_semantic_dedup_broadcasts_cell_mapping(spark):
    """emb_semantic_dedup's code->cell mapping (bounded metadata,
    <= 2^16 rows) must come back as a BROADCAST join — never a
    corpus-wide shuffle — and the pair stage must join on the
    population-bounded `cell`, not the raw 4-bit bucket (round-6
    rewrite of the r5 scale-killer)."""
    from debezium_connector_ibmi_spark.queries.embeddingops import (
        emb_semantic_dedup,
    )

    from debezium_connector_ibmi_spark.operators.embedding_dedup import (
        assign_bounded_cells,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    inner = _plan(assign_bounded_cells(emb))
    assert "BroadcastHashJoin" in inner, "cell mapping not broadcast"
    # the outer pair stage joins on the population-bounded cell of
    # the (checkpointed) assigned relation
    outer = _plan(emb_semantic_dedup(spark, "/root/testdata/sf0.001"))
    assert "cell" in outer, "pair stage not on the bounded cell"
    assert "ExistingRDD" in outer, "assigned relation not checkpointed"
