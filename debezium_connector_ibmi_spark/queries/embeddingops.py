"""Similarity search over the ``embeddings`` table (vec_id,
embedding float[64], label): brute-force cosine top-k baseline and an
LSH/IVF-style bucketed variant (the scale path — candidates only from
the query's bucket).

Float caution: dot products are computed identically in Spark and the
DuckDB oracle (cast to double, sequential left-to-right fold), ranks
are decided on round(cos, 6) with vec_id tiebreak, and outputs are
integer-only (ids + rank) so the value-hash can't diverge on
float formatting.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from debezium_connector_ibmi_spark.session import spread

_N_QUERIES = 10
_TOP_K = 5


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(v):
    """sqrt(v·v) — hoist this per VECTOR (one map-side column) so the
    per-PAIR cosine is a single dot product instead of three: the
    higher-order aggregate/zip_with dot is interpreted (no codegen),
    so recomputing both self-dots per pair tripled the dominant cost
    of every pair stage. ``_cosine_n(a, b, na, nb)`` evaluates the
    bit-identical expression tree (same IEEE ops in the same order:
    dot / (sqrt(aa) * sqrt(bb))), just with the sqrt factors computed
    once per vector instead of once per pair."""
    return F.sqrt(_dot(v, v))


def _cosine_n(a, b, na, nb):
    return _dot(a, b) / (na * nb)


# --- brute-force cosine top-k (the correctness baseline) -----------------
def emb_knn_brute_force(spark, sf_dir):
    e = spread(_emb(spark, sf_dir))
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        _norm(F.col("embedding")).alias("qn"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        _norm(F.col("embedding")).alias("cn"),
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _cosine_n(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")),
                6,
            ).alias("cos_r"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_r").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "rank")
    )


# --- LSH-bucketed ANN: sign-code of leading dims = bucket ------------------
_N_SIGN_DIMS = 4


def _bucket(col):
    terms = [
        F.when(F.element_at(col, i + 1) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(_N_SIGN_DIMS)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out.cast("int")


def emb_ann_lsh_bucket(spark, sf_dir):
    e = spread(_emb(spark, sf_dir)).withColumn(
        "bucket", _bucket(F.col("embedding"))
    )
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        _norm(F.col("embedding")).alias("qn"),
        "bucket",
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        _norm(F.col("embedding")).alias("cn"),
        "bucket",
    )
    # broadcast the bounded query side (guide §3): the bucket join is
    # then map-side over the candidate corpus — no exchange/sort of c
    scored = (
        F.broadcast(q).join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _cosine_n(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")),
                6,
            ).alias("cos_r"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_r").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "rank")
    )


_DOT_SQL = (
    "list_aggregate(list_transform(list_zip(a.embedding, b.embedding),"
    " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')"
)


def _cos_sql(av="a.embedding", bv="b.embedding"):
    dot = (
        f"list_aggregate(list_transform(list_zip({av}, {bv}),"
        " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')"
    )
    na = (
        f"sqrt(list_aggregate(list_transform({av},"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
    )
    nb = (
        f"sqrt(list_aggregate(list_transform({bv},"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
    )
    return f"round({dot} / ({na} * {nb}), 6)"


_BUCKET_SQL = " + ".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
    for i in range(_N_SIGN_DIMS)
)


# --- embedding-cosine near-duplicate pairs (dedup family) -------------
_NEAR_DUP_COS = 0.35


def emb_cosine_near_dup_pairs(spark, sf_dir):
    """Near-dup detection on embeddings: candidate pairs from the
    sign-LSH bucket join, verified by cosine >= threshold. Integer
    output columns only (ids), so the oracle hash is float-safe."""
    e = spread(_emb(spark, sf_dir)).withColumn(
        "bucket", _bucket(F.col("embedding"))
    )
    a = e.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        _norm(F.col("embedding")).alias("na"),
        "bucket",
    )
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        _norm(F.col("embedding")).alias("nb"),
        "bucket",
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.round(
                _cosine_n(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")),
                6,
            )
            >= _NEAR_DUP_COS
        )
        .select("id_a", "id_b")
    )


# --- IVF-style ANN: coarse quantizer cells, search nprobe cells --------
_IVF_K = 8
_IVF_SEED_MOD = 61
_IVF_SEED_REM = 3


def _ivf_assign_cells(e, nprobe: int = 1):
    """Assign every vector to its nearest coarse-quantizer centroid.

    The quantizer is DETERMINISTIC: the first _IVF_K vectors whose
    vec_id ≡ _IVF_SEED_REM (mod _IVF_SEED_MOD), ordered by vec_id —
    i.e. a fixed sample of the data itself (IVF does not require
    k-means; any coarse quantizer defines valid cells, and a seeded
    sample keeps the whole query SQL-expressible for the oracle).

    Scale shape (round 7): for nprobe=1 the centroids collapse to a
    one-row broadcast ARRAY and the argmax is an ``array_max`` over
    per-centroid (cos, -id) structs — a fully map-side assignment
    with ZERO exchanges of the embedding table (the former
    crossJoin + rank-window shape shuffled K rows per vector, full
    embedding payload included, and sorted them). nprobe>1 keeps the
    window (it needs the top-n, not the max). Centroid norms are
    computed once per centroid, vector norms once per vector; the
    cosine expression is bit-identical to the windowed variant (see
    ``_norm``)."""
    cents = (
        e.filter(F.pmod(F.col("vec_id"), F.lit(_IVF_SEED_MOD)) == _IVF_SEED_REM)
        .orderBy("vec_id")
        .limit(_IVF_K)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("centv"),
            _norm(F.col("embedding")).alias("cn"),
        )
    )
    if nprobe == 1:
        carr = cents.agg(
            F.collect_list(
                F.struct("centroid_id", "centv", "cn")
            ).alias("_cents")
        )
        en = _norm(F.col("embedding"))
        best = F.array_max(
            F.transform(
                F.col("_cents"),
                lambda c: F.struct(
                    F.round(
                        _cosine_n(
                            F.col("embedding"), c["centv"], en, c["cn"]
                        ),
                        6,
                    ).alias("cos"),
                    (-c["centroid_id"]).alias("neg_id"),
                    c["centroid_id"].alias("cid"),
                ),
            )
        )
        return (
            e.crossJoin(F.broadcast(carr))
            .select("vec_id", "embedding", best["cid"].alias("cell"))
        )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_c").desc(), F.col("centroid_id")
    )
    return (
        e.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "embedding",
            "centroid_id",
            F.round(
                _cosine_n(
                    F.col("embedding"),
                    F.col("centv"),
                    _norm(F.col("embedding")),
                    F.col("cn"),
                ),
                6,
            ).alias("cos_c"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select("vec_id", "embedding", F.col("centroid_id").alias("cell"))
    )


def emb_ivf_topk(spark, sf_dir):
    """IVF scale path: assign vectors to coarse-quantizer cells,
    search each query only in its own cell (nprobe=1), rank by
    cosine. Deterministic quantizer (see _ivf_assign_cells) so the
    DuckDB oracle reproduces assignment + ranking exactly."""
    assigned = _ivf_assign_cells(spread(_emb(spark, sf_dir)))
    q = assigned.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        _norm(F.col("embedding")).alias("qn"),
        "cell",
    )
    c = assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        _norm(F.col("embedding")).alias("cn"),
        "cell",
    )
    # the query side is structurally bounded (_N_QUERIES rows) while
    # the candidate side is the corpus: broadcast the queries so the
    # cell join is map-side over the candidates (guide §3) — the
    # unhinted join sort-merge-joined on cell, exchanging + sorting
    # the full candidate relation for a handful of query rows
    scored = (
        F.broadcast(q).join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _cosine_n(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")),
                6,
            ).alias("cos_r"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_r").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "rank")
    )


def emb_ivf_topk_nprobe2(spark, sf_dir):
    """IVF with nprobe=2 — the recall knob: each QUERY searches its
    two nearest cells (the database side stays single-cell), trading
    2× candidate volume for recall. Same deterministic quantizer, so
    the oracle reproduces it."""
    e = spread(_emb(spark, sf_dir))
    db = _ivf_assign_cells(e)
    q = (
        _ivf_assign_cells(e, nprobe=2)
        .filter(F.col("vec_id") < _N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            "cell",
        )
    )
    c = db.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        _norm(F.col("embedding")).alias("cn"),
        "cell",
    )
    # broadcast the bounded query side — same rationale as
    # emb_ivf_topk (the nprobe=2 explode doubles q, still tiny)
    scored = (
        F.broadcast(q).join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _cosine_n(
                    F.col("qv"),
                    F.col("cv"),
                    _norm(F.col("qv")),
                    F.col("cn"),
                ),
                6,
            ).alias("cos_r"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_r").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "rank")
    )


def emb_ivf_topk_kmeans(spark, sf_dir, k=8, max_iter=5, top_k=3):
    """KMeans-trained coarse quantizer variant (the production path
    when a trained quantizer is preferred over a sampled one).
    Training is iterative / not SQL-expressible, so this is covered
    by pytest (recall-vs-brute-force invariant), not the oracle gate."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = _emb(spark, sf_dir).withColumn(
        "features", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    km = KMeans(k=k, seed=42, maxIter=max_iter, featuresCol="features")
    model = km.fit(e)
    assigned = model.transform(e).select(
        "vec_id", "embedding", F.col("prediction").alias("cell")
    )
    q = assigned.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        _norm(F.col("embedding")).alias("qn"),
        "cell",
    )
    c = assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        _norm(F.col("embedding")).alias("cn"),
        "cell",
    )
    # broadcast the bounded query side — same rationale as emb_ivf_topk
    scored = (
        F.broadcast(q).join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _cosine_n(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")),
                6,
            ).alias("cos_r"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_r").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "rank")
    )


# KMeans-IVF driver gate: the oracle cannot run KMeans, so the gate
# asserts the INVARIANT the trained quantizer must satisfy — aggregate
# integer recall@3 of the KMeans-cell search vs the brute-force top-3
# ground truth. Observed recall at sf0.001/sf0.01 is 12-16 hits of 30
# (0.40-0.53); the gate requires >= 8 (0.27), margin for partitioning-
# dependent KMeans convergence. Per-query recall can legitimately be 0
# for a query on a cell boundary (nprobe=1), hence the aggregate form.
_KM_RECALL_MIN_HITS = 8


def emb_ivf_kmeans_recall(spark, sf_dir):
    """Recall invariant of the KMeans-trained IVF (production
    quantizer) against the brute-force oracle — integer-only output
    so the gate is float-safe: (n_queries, recall_pass)."""
    bf = (
        emb_knn_brute_force(spark, sf_dir)
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id")
    )
    km = emb_ivf_topk_kmeans(spark, sf_dir, top_k=3).select(
        "query_id", "neighbor_id"
    )
    nq = bf.agg(F.countDistinct("query_id").cast("bigint").alias("n_queries"))
    hits = km.join(bf, ["query_id", "neighbor_id"]).agg(
        F.count(F.lit(1)).alias("hits")
    )
    return nq.crossJoin(hits).select(
        "n_queries",
        (F.col("hits") >= F.lit(_KM_RECALL_MIN_HITS)).alias("recall_pass"),
    )


# --- int8 scalar quantization (embedding compression) --------------------
def emb_scalar_quantize(spark, sf_dir):
    """Per-dimension affine int8 quantization — the compression step
    a 100 TB embedding store runs before ANN (4x smaller than float32,
    decoded on the fly). code = round((v - min_d) * 255 / (max_d -
    min_d)) - 128 per dimension d; constant dimensions map to -128.

    Scale shape: the per-dimension stats aggregate is 64 rows —
    broadcast back onto the (map-only) posexplode of the vectors, so
    the corpus is scanned once and never shuffled. All arithmetic is
    IEEE-double with identical operation order on both engines, and
    the output is integer codes, so the value-hash cannot drift.
    """
    e = _emb(spark, sf_dir).select(
        "vec_id", F.posexplode("embedding").alias("dim_idx0", "v")
    ).select(
        "vec_id",
        (F.col("dim_idx0") + 1).alias("dim_idx"),
        F.col("v").cast("double").alias("v"),
    )
    stats = e.groupBy("dim_idx").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    code = (
        F.when(F.col("mx") == F.col("mn"), F.lit(0.0))
        .otherwise(
            F.round((F.col("v") - F.col("mn")) * 255 / (F.col("mx") - F.col("mn")))
        )
        .cast("long")
        - 128
    )
    return e.join(F.broadcast(stats), "dim_idx").select(
        "vec_id", F.col("dim_idx").cast("int").alias("dim_idx"),
        code.alias("code"),
    )


# --- SemDeDup-style semantic dedup (embedding-cluster dedup) --------------
_SEMDEDUP_LEVELS = (4, 8, 12, 16)
_SEMDEDUP_CAP = 32


def emb_semantic_dedup(spark, sf_dir):
    """Semantic deduplication in the SemDeDup shape (Abbas et al.
    2023, public): coarse-cluster the embeddings, compute pairwise
    cosine only WITHIN a cluster, and drop every vector that has a
    lower-id neighbor in its cluster at cosine >= the dedup
    threshold (min-id representative policy, deterministic). The
    survivors are the semantically-deduplicated corpus.

    Round-6 rewrite (VERDICT r5 #1): cells are POPULATION-BOUNDED —
    hierarchical sign-LSH refinement sub-splits any cell over
    ``_SEMDEDUP_CAP`` vectors by taking more sign planes, and a guard
    refuses corpora whose finest cells still exceed the hard limit
    (operators/embedding_dedup.py). The within-cell pair stage is
    therefore <= cap²/2 rows per cell — never corpus-quadratic. At
    test scale the cap genuinely bites: sf0.01's hottest 4-bit cell
    holds 42 vectors and sf0.1's 137, so both scales exercise the
    sub-split path.
    """
    from debezium_connector_ibmi_spark.operators.embedding_dedup import (
        semantic_dedup,
    )

    out = semantic_dedup(
        spread(_emb(spark, sf_dir)),
        id_col="vec_id",
        vec_col="embedding",
        threshold=_NEAR_DUP_COS,
        levels=_SEMDEDUP_LEVELS,
        cap=_SEMDEDUP_CAP,
    )
    return out.select("vec_id", F.col("cell").alias("bucket"))


def emb_stream_semantic_flags(spark, sf_dir):
    """Streaming SemDeDup-on-ingest: embeddings arrive as a stream,
    each new vector is checked against the sticky min-id
    representative of its sign-LSH cell (ONE long of state per cell —
    the same checkpointed stateful core as the text dedup stream,
    streaming/dedup_stream.py:flag_buckets_stateful), and cell
    collisions are cosine-verified against the corpus store. On a
    single availableNow micro-batch the flags equal the per-cell
    min-id star edges, so the full pipeline has a SQL oracle; the
    cross-batch/restart semantics are the ones pinned for the shared
    core by tests/test_dedup_stream.py.

    vs the batch emb_semantic_dedup: the batch op drops a vector if
    ANY lower-id cell-mate is similar; the on-ingest op flags against
    the cell REPRESENTATIVE only (state stays one vector-id per cell
    instead of the whole cell history — the scale contract).
    """
    import os
    import tempfile

    from debezium_connector_ibmi_spark.streaming.dedup_stream import (
        await_available_now,
        flag_buckets_stateful,
    )

    e = _emb(spark, sf_dir)
    src = tempfile.mkdtemp(prefix="essf_src_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/embeddings.parquet"),
        f"{src}/embeddings.parquet",
    )
    stream = spark.readStream.schema(e.schema).parquet(src)
    melted = stream.select(
        F.col("vec_id").alias("doc_id"),
        F.lit(0).cast("int").alias("band_idx"),
        _bucket(F.col("embedding")).cast("string").alias("band"),
    )
    ck = tempfile.mkdtemp(prefix="essf_ck_")
    name = f"essf_{ck.rsplit('_', 1)[-1]}"
    q = (
        flag_buckets_stateful(melted)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    await_available_now(q, src, ck)
    flags = spark.table(name).select(
        F.col("doc_id").alias("vec_id"), "dup_of"
    )
    a = e.select(
        F.col("vec_id"),
        F.col("embedding").alias("va"),
        _norm(F.col("embedding")).alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("dup_of"),
        F.col("embedding").alias("vb"),
        _norm(F.col("embedding")).alias("nb"),
    )
    return (
        flags.join(a, "vec_id")
        .join(b, "dup_of")
        .filter(
            F.round(
                _cosine_n(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")),
                6,
            )
            >= _NEAR_DUP_COS
        )
        .select("vec_id", "dup_of")
    )


QUERIES = {
    "emb_knn_brute_force": emb_knn_brute_force,
    "emb_ann_lsh_bucket": emb_ann_lsh_bucket,
    "emb_cosine_near_dup_pairs": emb_cosine_near_dup_pairs,
    "emb_ivf_topk": emb_ivf_topk,
    "emb_ivf_topk_nprobe2": emb_ivf_topk_nprobe2,
    "emb_ivf_kmeans_recall": emb_ivf_kmeans_recall,
    "emb_scalar_quantize": emb_scalar_quantize,
    "emb_semantic_dedup": emb_semantic_dedup,
    "emb_stream_semantic_flags": emb_stream_semantic_flags,
}

ORACLES = {
    # the KMeans training itself is not SQL-expressible; the oracle
    # pins the invariant's EXPECTED outcome (all queries present,
    # aggregate recall over threshold) — a quantizer regression makes
    # the Spark side emit recall_pass=false and the gate fails
    "emb_ivf_kmeans_recall": f"""
        SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
               CAST(true AS BOOLEAN) AS recall_pass
        FROM embeddings WHERE vec_id < {_N_QUERIES}
    """,
    "emb_knn_brute_force": f"""
        SELECT query_id, neighbor_id, rank FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {_cos_sql()} DESC, b.vec_id) AS rank
            FROM embeddings a, embeddings b
            WHERE a.vec_id < {_N_QUERIES} AND a.vec_id <> b.vec_id
        ) WHERE rank <= {_TOP_K}
    """,
    "emb_ann_lsh_bucket": f"""
        WITH e AS (
            SELECT vec_id, embedding, ({_BUCKET_SQL}) AS bucket
            FROM embeddings
        )
        SELECT query_id, neighbor_id, rank FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {_cos_sql()} DESC, b.vec_id) AS rank
            FROM e a JOIN e b ON a.bucket = b.bucket
            WHERE a.vec_id < {_N_QUERIES} AND a.vec_id <> b.vec_id
        ) WHERE rank <= 3
    """,
    "emb_cosine_near_dup_pairs": f"""
        WITH e AS (
            SELECT vec_id, embedding, ({_BUCKET_SQL}) AS bucket
            FROM embeddings
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE {_cos_sql()} >= {_NEAR_DUP_COS}
    """,
    "emb_ivf_topk_nprobe2": f"""
        WITH cents AS (
            SELECT vec_id AS centroid_id, embedding AS centv
            FROM embeddings
            WHERE vec_id % {_IVF_SEED_MOD} = {_IVF_SEED_REM}
            ORDER BY vec_id LIMIT {_IVF_K}
        ),
        ranked AS (
            SELECT e.vec_id, e.embedding, c.centroid_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_cos_sql("e.embedding", "c.centv")} DESC,
                                c.centroid_id) AS rn
            FROM embeddings e CROSS JOIN cents c
        ),
        db AS (
            SELECT vec_id, embedding, centroid_id AS cell
            FROM ranked WHERE rn = 1
        ),
        q AS (
            SELECT vec_id, embedding, centroid_id AS cell
            FROM ranked WHERE rn <= 2 AND vec_id < {_N_QUERIES}
        )
        SELECT query_id, neighbor_id, rank FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {_cos_sql()} DESC, b.vec_id) AS rank
            FROM q a JOIN db b ON a.cell = b.cell
            WHERE a.vec_id <> b.vec_id
        ) WHERE rank <= 3
    """,
    "emb_ivf_topk": f"""
        WITH cents AS (
            SELECT vec_id AS centroid_id, embedding AS centv
            FROM embeddings
            WHERE vec_id % {_IVF_SEED_MOD} = {_IVF_SEED_REM}
            ORDER BY vec_id LIMIT {_IVF_K}
        ),
        assigned AS (
            SELECT vec_id, embedding, centroid_id AS cell FROM (
                SELECT e.vec_id, e.embedding, c.centroid_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_cos_sql("e.embedding", "c.centv")} DESC,
                                    c.centroid_id) AS rn
                FROM embeddings e CROSS JOIN cents c
            ) WHERE rn = 1
        )
        SELECT query_id, neighbor_id, rank FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {_cos_sql()} DESC, b.vec_id) AS rank
            FROM assigned a JOIN assigned b ON a.cell = b.cell
            WHERE a.vec_id < {_N_QUERIES} AND a.vec_id <> b.vec_id
        ) WHERE rank <= 3
    """,
}

# population-bounded hierarchical sign-LSH cells (round-6): prefix
# populations via window sums over the tiny code-count relation,
# effective cell = coarsest prefix level under the cap — the exact
# mirror of operators/embedding_dedup.assign_bounded_cells
_B16_SQL = " + ".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
    for i in range(_SEMDEDUP_LEVELS[-1])
)

ORACLES["emb_semantic_dedup"] = f"""
    WITH e AS (
        SELECT vec_id, embedding, ({_B16_SQL}) AS code
        FROM embeddings
    ),
    cc AS (SELECT code, count(*) AS n FROM e GROUP BY 1),
    cells AS (
        SELECT code,
               sum(n) OVER (PARTITION BY code & 15) AS c4,
               sum(n) OVER (PARTITION BY code & 255) AS c8,
               sum(n) OVER (PARTITION BY code & 4095) AS c12
        FROM cc
    ),
    m AS (
        SELECT code,
               CASE WHEN c4 <= {_SEMDEDUP_CAP} THEN code & 15
                    WHEN c8 <= {_SEMDEDUP_CAP} THEN code & 255
                    WHEN c12 <= {_SEMDEDUP_CAP} THEN code & 4095
                    ELSE code END AS cell
        FROM cells
    ),
    ec AS (
        SELECT e.vec_id, e.embedding, m.cell
        FROM e JOIN m USING (code)
    ),
    dups AS (
        SELECT DISTINCT b.vec_id
        FROM ec a JOIN ec b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE {_cos_sql()} >= {_NEAR_DUP_COS}
    )
    SELECT ec.vec_id, CAST(ec.cell AS BIGINT) AS bucket
    FROM ec WHERE ec.vec_id NOT IN (SELECT vec_id FROM dups)
"""

# single-batch streaming SemDeDup flags == per-sign-LSH-cell min-id
# star edges, cosine-verified (the stream's sticky representative IS
# the cell min on one batch)
ORACLES["emb_stream_semantic_flags"] = f"""
    WITH e AS (
        SELECT vec_id, embedding, ({_BUCKET_SQL}) AS bucket
        FROM embeddings
    ),
    rep AS (
        SELECT bucket, min(vec_id) AS dup_of FROM e GROUP BY 1
    ),
    flags AS (
        SELECT e.vec_id, r.dup_of
        FROM e JOIN rep r ON e.bucket = r.bucket
        WHERE e.vec_id <> r.dup_of
    )
    SELECT f.vec_id, f.dup_of
    FROM flags f
    JOIN e a ON a.vec_id = f.vec_id
    JOIN e b ON b.vec_id = f.dup_of
    WHERE round({_cos_sql()}, 6) >= {_NEAR_DUP_COS}
"""

ORACLES["emb_scalar_quantize"] = """
    WITH e AS (
        SELECT vec_id,
               CAST(generate_subscripts(embedding, 1) AS INT) AS dim_idx,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ), s AS (
        SELECT dim_idx, min(v) AS mn, max(v) AS mx FROM e GROUP BY 1
    )
    SELECT e.vec_id, e.dim_idx,
           CAST(CASE WHEN s.mx = s.mn THEN 0.0
                ELSE round((e.v - s.mn) * 255 / (s.mx - s.mn))
                END AS BIGINT) - 128 AS code
    FROM e JOIN s USING (dim_idx)
"""
