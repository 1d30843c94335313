"""First-class text-analysis / dedup operators for webtext pipelines.

All pure Catalyst column expressions (split/transform/filter/
aggregate/md5 higher-order functions) — JVM-side, codegen'd, no
Python in the hot path. Reused by the driver-contract queries
(queries/textops.py) and applicable to any DataFrame with a text
column (e.g. the CDC target table at 100 TB).

Design notes for scale:
- MinHash/SimHash signatures are embarrassingly parallel projections
  (no shuffle); only the LSH band join shuffles, and it shuffles the
  melted (id, band_idx, band) table — bands_per_doc rows per doc, not
  the documents.
- Jaccard verification: the scale path is
  ``lsh_verified_near_dups`` — band first (LSH), verify jaccard only
  on candidate pairs; the all-pairs ``jaccard_pairs`` is kept as the
  small-scale oracle/ground-truth mode.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_STOPWORDS = (
    "the", "a", "of", "and", "to", "in", "is", "on", "for", "with",
)


def words_col(text: Column | str = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def token_count(text: Column | str = "text") -> Column:
    """Whitespace token count (BPE-ish regex variant: split on
    \\W+ boundaries would double tokens with punctuation; the corpus
    here is space-normalized so a single-space split is exact)."""
    return F.size(words_col(text))


# GPT-2-style pre-tokenizer pattern, RE2-compatible (the original's
# trailing-space lookahead clause is dropped — RE2/DuckDB has no
# lookahead; the corpus is single-spaced so the clause never fires
# anyway). Leftmost-first alternation behaves identically in Java
# regex (Spark) and RE2 (DuckDB) — parity probed in tests.
BPE_TOKEN_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
)


def bpe_token_count(text: Column | str = "text") -> Column:
    """BPE-ish pre-token count: the number of GPT-2-pretokenizer
    matches (contractions, letter runs, digit runs, punctuation runs,
    residual whitespace) — the standard proxy for LLM token budget
    before merges. Map-only codegen (regexp_extract_all + size)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_PATTERN), 0))


def merged_bpe_token_count_udf():
    """Arrow-batched BPE token counter with the frozen merge table
    (round-5, VERDICT r4 #5): the REAL "LLM token budget" — pretokens
    split to UTF-8 bytes, merged by rank (functions/bpe.py), counted.
    A per-batch memo cache makes the merge loop run once per DISTINCT
    pretoken, so cost tracks pretoken vocabulary, not corpus size.
    Keep the map-only ``bpe_token_count`` as the cheap pre-merge
    proxy; use this column when the budget must match a tokenizer."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def udf(s: pd.Series) -> pd.Series:
        from debezium_connector_ibmi_spark.functions.bpe import (
            frozen_ranks,
            merged_token_count,
        )

        ranks = frozen_ranks()
        cache: dict[str, int] = {}
        return s.map(
            lambda t: merged_token_count(t or "", ranks, cache)
        ).astype("int32")

    return udf


def winnow_fingerprints(
    text: str = "text", k: int = 3, w: int = 4
) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    the MOSS algorithm): hash every token ``k``-gram, slide a window
    of ``w`` hashes, keep each window's minimum, dedup. Guarantees at
    least one shared fingerprint for any shared run of
    ``w + k - 1`` tokens — the rolling-hash fingerprinting a
    plagiarism/near-dup pipeline uses when shingle sets are too big.

    Returns the ARRAY of distinct fingerprints (explode for rows).
    Map-only Catalyst expressions (transform/slice/array_min inside
    codegen) — no UDF, no shuffle; at 100 TB the cost is one pass of
    the text column. Hash = first 8 md5 hex digits as unsigned int
    (engine-portable: DuckDB reproduces it with a '0x' cast)."""
    return F.expr(
        f"""
        CASE WHEN size(split({text}, ' ')) < {k} THEN array()
        ELSE array_distinct(transform(
          sequence(1, greatest(size(split({text}, ' ')) - {k} + 1 - {w} + 1, 1)),
          j -> array_min(slice(
            transform(sequence(1, size(split({text}, ' ')) - {k} + 1),
              i -> cast(conv(substring(md5(array_join(
                     slice(split({text}, ' '), i, {k}), ' ')), 1, 8),
                   16, 10) as bigint)),
            j, {w}))))
        END
        """
    )


def stopword_count(
    text: Column | str = "text", stopwords: tuple[str, ...] = DEFAULT_STOPWORDS
) -> Column:
    return F.size(F.filter(words_col(text), lambda w: w.isin(*stopwords)))


def quality_columns(text: Column | str = "text") -> dict[str, Column]:
    """Length / token / stopword quality signals (integer-exact)."""
    c = F.col(text) if isinstance(text, str) else text
    n_tok = token_count(c)
    return {
        "n_chars": F.length(c),
        "n_tokens": n_tok,
        "n_stopwords": stopword_count(c),
        "avg_token_len_x100": ((F.length(c) - (n_tok - 1)) * 100),
    }


def lang_guess(
    text: Column | str = "text",
    profiles: dict[str, tuple[str, ...]] | None = None,
) -> Column:
    """Stopword-profile language ID: argmax of profile hits."""
    profiles = profiles or {
        "en": DEFAULT_STOPWORDS,
        "de": ("der", "die", "das", "und", "ist"),
    }
    w = words_col(text)
    hits = {
        lang: F.size(F.filter(w, lambda x: x.isin(*sw)))
        for lang, sw in profiles.items()
    }
    expr = None
    langs = list(hits)
    for lang in langs:
        others = [hits[o] for o in langs if o != lang]
        cond = None
        for o in others:
            c = hits[lang] > o
            cond = c if cond is None else (cond & c)
        expr = (
            F.when(cond, F.lit(lang))
            if expr is None
            else expr.when(cond, F.lit(lang))
        )
    return expr.otherwise(F.lit("unknown"))


def fingerprint(text: Column | str = "text") -> Column:
    """Whole-document fingerprint (md5 — stable across engines)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(c)


def shingles(text: Column | str = "text", n: int = 3) -> Column:
    """n-word shingles as array<string> (space-joined)."""
    w = words_col(text)
    return F.transform(
        F.sequence(F.lit(0), F.size(w) - n),
        lambda i: F.array_join(F.slice(w, i + 1, n), " "),
    )


def chunk_tokens(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    chunk_size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Fixed-token-window chunking with overlap — training-sample
    preparation. Chunk ``i`` covers tokens ``[i*stride, i*stride +
    chunk_size)`` with ``stride = chunk_size - overlap``; every doc
    yields at least one chunk; the final chunk may be short.

    Pure Catalyst (sequence → explode → slice): embarrassingly
    parallel, no shuffle, codegen'd — at 100 TB this is a map-only
    stage whose output size is input × (1 + overlap/stride).
    """
    assert 0 <= overlap < chunk_size
    stride = chunk_size - overlap
    w = words_col(text)
    d = df.select(F.col(id_col), w.alias("__w")).filter(F.size("__w") > 0)
    # integer-exact ceil((n - overlap) / stride), min 1 — identical
    # arithmetic on any engine (no float division)
    n_chunks = F.greatest(
        F.lit(1).cast("long"),
        F.expr(f"(size(__w) - {overlap} + {stride - 1}) div {stride}"),
    )
    d = d.withColumn(
        "chunk_idx",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)),
    )
    chunk = F.slice(F.col("__w"), (F.col("chunk_idx") * stride + 1).cast("int"), chunk_size)
    return d.select(
        id_col,
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).alias("n_tokens"),
    )


def with_minhash(
    df: DataFrame,
    text: str = "text",
    n_hashes: int = 4,
    n: int = 3,
    prefix: str = "minhash_",
) -> DataFrame:
    """One-hash MinHash: md5 each shingle once, use ``n_hashes``
    disjoint 8-hex-char slices of the digest as independent hash
    functions (md5's 32 hex chars allow up to 4). The shingle-hash
    array is materialized once per row (a single transform), so the
    cost is one digest per shingle regardless of signature width."""
    assert n_hashes <= 4
    d = df.filter(F.size(words_col(text)) >= n).withColumn(
        "__shash", F.transform(shingles(text, n), lambda s: F.md5(s))
    )
    def _slicer(start: int):
        # NB: a `lambda h, i=i` default-arg closure would make pyspark
        # treat it as a two-arg (element, index) lambda — avoid
        return lambda h: F.substring(h, start, 8)

    for i in range(n_hashes):
        d = d.withColumn(
            f"{prefix}{i}",
            F.array_min(F.transform(F.col("__shash"), _slicer(1 + 8 * i))),
        )
    return d.drop("__shash")


def simhash16(text: Column | str = "text") -> Column:
    """16-bit SimHash; bit i = majority of md5-hex-char-i high bit
    over tokens (portable across engines — no platform hash)."""
    w = words_col(text)
    n = F.size(w)
    total = F.lit(0)
    for i in range(1, 17):
        cnt = F.size(
            F.filter(w, lambda x: F.substring(F.md5(x), i, 1) >= "8")
        )
        total = total + F.when(cnt * 2 > n, F.lit(1 << (i - 1))).otherwise(F.lit(0))
    return total.cast("long")


def exact_dedup(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one keeper (min id) per distinct text hash."""
    return df.groupBy(fingerprint(text).alias("fp")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keeper")
    )


def lsh_candidate_pairs(
    df: DataFrame, id_col: str = "doc_id", text: str = "text",
    seeds: tuple[str, ...] = ("s0", "s1", "s2", "s3"), n: int = 3,
    rows_per_band: int = 2,
) -> DataFrame:
    """Banded-LSH near-dup candidates: melt signature -> single
    self-join on (band_idx, band).

    ``rows_per_band`` (r) concatenates r minhashes per band (classic
    b x r banding): r=1 maximizes recall but floods buckets on
    self-similar corpora; r=2 is the standard precision/recall trade
    and keeps bucket sizes (and the join output) bounded.
    """
    assert len(seeds) % rows_per_band == 0
    sig = with_minhash(df, text=text, n_hashes=len(seeds), n=n).select(
        id_col, *[f"minhash_{i}" for i in range(len(seeds))]
    )
    n_bands = len(seeds) // rows_per_band
    bands = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.concat_ws(
                "|",
                *[
                    F.col(f"minhash_{b * rows_per_band + r}")
                    for r in range(rows_per_band)
                ],
            ).alias("band"),
        )
        for b in range(n_bands)
    ]
    melted = sig.select(
        id_col, F.explode(F.array(*bands)).alias("b")
    ).select(id_col, "b.band_idx", "b.band")
    # One signature pass, one shuffle: group ids per bucket and expand
    # pairs map-side. The former self-join shape computed the
    # md5-per-shingle signature TWICE (Catalyst does not reuse the
    # exchange across differently-aliased join branches) and
    # broadcast a corpus-sized signature relation — double CPU on the
    # dominant cost and a driver-memory cliff at scale. Pair count
    # per bucket is quadratic in bucket size either way (the join's
    # reducer materialized the same k^2); run exact dedup first so
    # identical texts never share a bucket en masse.
    buckets = (
        melted.groupBy("band_idx", "band")
        .agg(F.sort_array(F.collect_set(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pairs = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "y -> named_struct('id_a', x, 'id_b', y))))"
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    n: int = 3,
    threshold_num: int = 3,
    threshold_den: int = 10,
    ground_truth: bool = False,
    max_docs: int = 10_000,
) -> DataFrame:
    """ALL-PAIRS n-gram Jaccard — small-scale ORACLE MODE only.

    The shingle self-join is quadratic in docs sharing a hot shingle;
    at corpus scale use :func:`lsh_verified_near_dups`, which feeds
    banded-LSH candidates into the same integer-exact verification.
    Kept as the exhaustive ground truth for recall measurement.

    Guard: refuses corpora above ``max_docs`` unless the caller
    explicitly passes ``ground_truth=True`` — the one extra count()
    is nothing next to the all-pairs join it prevents from being
    pointed at a large corpus by accident."""
    if not ground_truth:
        n_docs = df.count()
        if n_docs > max_docs:
            raise ValueError(
                f"jaccard_pairs is all-pairs ground-truth mode: corpus has "
                f"{n_docs} docs > max_docs={max_docs}. Use "
                f"lsh_verified_near_dups for the scale path, or pass "
                f"ground_truth=True to confirm an exhaustive recall run"
            )
    d = df.filter(F.size(words_col(text)) >= n)
    sh = d.select(F.col(id_col), F.explode(shingles(text, n)).alias("shingle")).distinct()
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .filter(
            threshold_den * F.col("inter")
            >= threshold_num * (F.col("na") + F.col("nb") - F.col("inter"))
        )
        .select("id_a", "id_b", "inter", "na", "nb")
    )


def lsh_verified_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    seeds: tuple[str, ...] = ("s0", "s1", "s2", "s3"),
    n: int = 3,
    rows_per_band: int = 2,
    threshold_num: int = 3,
    threshold_den: int = 10,
) -> DataFrame:
    """The scale-safe near-dup pipeline: banded-LSH candidates →
    integer-exact Jaccard verification on candidate pairs ONLY.

    Cost shape at 100 TB: the candidate set is bounded by LSH bucket
    collisions (b×r banding), and the verify stage's two equi-joins
    move O(candidate_pairs × shingles_per_doc) rows — never the
    quadratic all-pairs shingle self-join of :func:`jaccard_pairs`.
    Recall is the LSH recall (a pair missed by every band is never
    verified); precision is exact, because verification recomputes
    true Jaccard on the full shingle sets.
    """
    # The candidate relation is tiny (id pairs) but its build — the
    # md5-per-shingle signature pass — is the dominant map cost, and
    # it feeds THREE consumers (the id-prune branch twice, the pair
    # probe once). A lazy localCheckpoint materializes it once at
    # first use and lets every consumer read the stored blocks —
    # without persist()'s session-global CacheManager registration,
    # which would leak plan-matching cache state into every later
    # query of the session (bounded storage: two longs per pair).
    cand = lsh_candidate_pairs(df, id_col, text, seeds, n, rows_per_band)
    cand = cand.localCheckpoint(eager=False)
    # Per-doc distinct shingle SETS as map-side arrays — the verify
    # math is then a map-side array_intersect on the joined pair, so
    # the corpus-wide explode+distinct shuffle of the former shape
    # (recomputed once per branch reference: sa, sb, and the two
    # count projections) disappears entirely. Row width is bounded by
    # doc length; rows moved are O(candidate_pairs), never the corpus.
    #
    # Round-7 (guide §8: decide on small rows, attach cheaply): the
    # shingle arrays are only ever read for docs that appear in a
    # candidate pair, so the corpus scan is pruned by a broadcast
    # semi-join on the candidate id set BEFORE the per-doc shingle
    # build — the two set branches then rebuild shingles for
    # O(candidate docs), not 2x the corpus.
    ids = (
        cand.select(F.col("id_a").alias(id_col))
        .union(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sets = (
        df.join(F.broadcast(ids), id_col, "left_semi")
        .filter(F.size(words_col(text)) >= n)
        .select(
            F.col(id_col), F.array_distinct(shingles(text, n)).alias("sh")
        )
    )
    pa = sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sha"))
    pb = sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("shb"))
    return (
        cand.join(pa, "id_a")
        .join(pb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sha", "shb")).alias("inter"),
            F.size("sha").alias("na"),
            F.size("shb").alias("nb"),
        )
        .filter(
            threshold_den * F.col("inter")
            >= threshold_num * (F.col("na") + F.col("nb") - F.col("inter"))
        )
    )
