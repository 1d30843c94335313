"""Driver-contract corpus-pipeline queries over ``documents`` — thin
bindings of ``operators/corpus_ops.py`` (PII scrubbing, benchmark
decontamination, deterministic hash sampling, length histograms,
chunk-level dedup), each with an exact DuckDB oracle.

Determinism notes: all sampling/bucketing is md5-of-key (engine-
portable, partition-stable); PII scrubbing is exercised by injecting
synthetic PII derived from ``doc_id`` on BOTH sides (the corpus
itself contains none), so the regex semantics are actually compared
across engines rather than passing vacuously.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from debezium_connector_ibmi_spark.operators import corpus_ops as co


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ---------------------------------------------------------------- PII

def doc_pii_scrub(spark, sf_dir):
    """PII redaction: emails / phone numbers / IPv4 replaced with
    typed placeholders. Synthetic PII is appended deterministically
    from doc_id so the redaction path is actually exercised."""
    injected = F.concat(
        F.col("text"),
        F.lit(" u"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com on 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 call 555-123-4567"),
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        co.pii_scrub(injected).alias("scrubbed"),
        F.length(co.pii_scrub(injected)).alias("scrubbed_len"),
    )


# ------------------------------------------------------ decontaminate

_DECON_N = 5
_BENCH_MOD = 97


def doc_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag corpus docs sharing any
    5-gram shingle with the held-out benchmark slice
    (doc_id % 97 == 0)."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % _BENCH_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % _BENCH_MOD != 0)
    # the benchmark slice is 1/97th of the corpus by construction —
    # pin the broadcast instead of paying the auto-guard's count()
    # action (the guard stays the default for unknown inputs)
    return co.contamination(corpus, bench, n=_DECON_N, join_mode="broadcast")


# ----------------------------------------------------------- sampling

_SAMPLE_PCT = 20
_SAMPLE_SALT = "round3"


def doc_sample_stratified(spark, sf_dir):
    """Deterministic ~20% hash sample (md5-bucket of doc_id) —
    reproducible across engines/runs/partitionings, with the bucket
    exposed so the oracle verifies the hash itself, not just the
    rate."""
    d = co.hash_sample(
        _docs(spark, sf_dir), "doc_id", _SAMPLE_PCT, salt=_SAMPLE_SALT
    )
    return d.select(
        "doc_id",
        "lang",
        co.hash_bucket(F.col("doc_id"), 100, _SAMPLE_SALT)
        .cast("long")
        .alias("bucket"),
    )


# ---------------------------------------------------------- histogram

def doc_length_histogram(spark, sf_dir):
    """Token-length histogram per language (bucket = n_tokens div
    10): the length-distribution audit run before/after filtering."""
    from debezium_connector_ibmi_spark.operators.text_analysis import (
        token_count,
    )

    d = _docs(spark, sf_dir).select(
        "lang", token_count().alias("n_tokens")
    )
    return (
        d.groupBy(
            "lang", F.expr("n_tokens div 10").cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("n_tokens").cast("long").alias("min_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
        )
    )


# -------------------------------------------------------- chunk dedup

_CD_CHUNK = 20


def doc_chunk_dedup(spark, sf_dir):
    """Chunk-level dedup accounting (CCNet paragraph-dedup shape on
    20-token windows): per doc, how many chunks survive global
    first-occurrence dedup."""
    return co.chunk_dedup_stats(
        _docs(spark, sf_dir), chunk_size=_CD_CHUNK, overlap=0
    )


# ------------------------------------------------------ split assign

_SPLIT_SALT = "split"


def doc_split_assign(spark, sf_dir):
    """Deterministic train/val/test split assignment (80/10/10 by
    md5 bucket of doc_id) — stable across engines, runs and
    repartitioning, so the same document can never leak between
    splits on a re-run. Map-only."""
    b = co.hash_bucket(F.col("doc_id"), 100, _SPLIT_SALT)
    split = (
        F.when(b < 80, F.lit("train"))
        .when(b < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return _docs(spark, sf_dir).select(
        "doc_id", b.cast("long").alias("bucket"), split.alias("split")
    )


# ------------------------------------------------- repetition ratio

def doc_repetition_ratio(spark, sf_dir):
    """Within-document repetition (the Gopher/MassiveText duplicate
    n-gram quality rule): fraction of repeated 3-gram shingles per
    doc, reported integer-exact in permille. Docs shorter than 3
    tokens have no shingles and are excluded (same domain as the
    minhash queries). Map-only codegen: shingle array built per row,
    counts via size/array_distinct — no explode, no shuffle."""
    from debezium_connector_ibmi_spark.operators.text_analysis import (
        shingles,
        words_col,
    )

    d = _docs(spark, sf_dir).filter(F.size(words_col()) >= 3)
    sh = shingles(n=3)
    n = F.size(sh)
    nd = F.size(F.array_distinct(sh))
    return d.select(
        "doc_id",
        n.cast("long").alias("n_shingles"),
        nd.cast("long").alias("n_distinct_shingles"),
        # integer div, exactly mirroring the oracle's `//` — no float
        # ever enters the result
        ((n - nd).cast("long") * 1000)
        .alias("__num")
        .cast("long"),
    ).withColumn(
        "rep_permille", F.expr("__num div n_shingles")
    ).drop("__num")


QUERIES = {
    "doc_pii_scrub": doc_pii_scrub,
    "doc_decontaminate": doc_decontaminate,
    "doc_sample_stratified": doc_sample_stratified,
    "doc_length_histogram": doc_length_histogram,
    "doc_chunk_dedup": doc_chunk_dedup,
    "doc_split_assign": doc_split_assign,
    "doc_repetition_ratio": doc_repetition_ratio,
}


_PII_INJECT = (
    "text || ' u' || CAST(doc_id AS VARCHAR) || '@mail.example.com on 10.0.'"
    " || CAST(doc_id % 256 AS VARCHAR) || '.7 call 555-123-4567'"
)
# same RE2 patterns as operators/corpus_ops.PII_PATTERNS; DuckDB needs
# the 'g' flag (its regexp_replace is first-match-only by default,
# Spark's replaces all)
_PII_SCRUB_SQL = (
    "regexp_replace(regexp_replace(regexp_replace(" + _PII_INJECT + ", "
    r"'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
    r"'\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g'), "
    r"'\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')"
)

_STRIDE = _CD_CHUNK  # overlap=0

ORACLES = {
    "doc_pii_scrub": f"""
        SELECT doc_id,
               {_PII_SCRUB_SQL} AS scrubbed,
               CAST(len({_PII_SCRUB_SQL}) AS INT) AS scrubbed_len
        FROM documents
    """,
    "doc_decontaminate": f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS words FROM documents
            WHERE len(string_split(text, ' ')) >= {_DECON_N}
        ), pos AS (
            SELECT doc_id, unnest(words) AS word,
                   generate_subscripts(words, 1) AS p
            FROM w
        ), sh0 AS (
            SELECT doc_id,
                   word || ' ' || lead(word, 1) OVER win || ' ' ||
                   lead(word, 2) OVER win || ' ' ||
                   lead(word, 3) OVER win || ' ' ||
                   lead(word, 4) OVER win AS shingle,
                   p, count(*) OVER (PARTITION BY doc_id) AS n_words
            FROM pos
            WINDOW win AS (PARTITION BY doc_id ORDER BY p)
            QUALIFY p <= n_words - {_DECON_N - 1}
        ), sh AS (
            SELECT DISTINCT doc_id, shingle FROM sh0
        ), bsh AS (
            SELECT DISTINCT shingle FROM sh WHERE doc_id % {_BENCH_MOD} = 0
        ), hits AS (
            SELECT s.doc_id, count(*) AS n
            FROM sh s JOIN bsh USING (shingle)
            WHERE s.doc_id % {_BENCH_MOD} <> 0
            GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(coalesce(h.n, 0) AS BIGINT) AS n_overlap,
               coalesce(h.n, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h USING (doc_id)
        WHERE d.doc_id % {_BENCH_MOD} <> 0
    """,
    "doc_sample_stratified": f"""
        SELECT doc_id, lang, bucket FROM (
            SELECT doc_id, lang,
                   CAST(CAST('0x' || substring(
                       md5('{_SAMPLE_SALT}' || CAST(doc_id AS VARCHAR)),
                       1, 6) AS INT) % 100 AS BIGINT) AS bucket
            FROM documents
        ) WHERE bucket < {_SAMPLE_PCT}
    """,
    "doc_length_histogram": """
        SELECT lang,
               CAST(n_tokens // 10 AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(n_tokens) AS BIGINT) AS min_tokens,
               CAST(max(n_tokens) AS BIGINT) AS max_tokens
        FROM (
            SELECT lang, len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ) GROUP BY 1, 2
    """,
    "doc_chunk_dedup": f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS words
            FROM documents
            WHERE len(string_split(text, ' ')) > 0
        ), x AS (
            SELECT doc_id, words,
                   unnest(range(0, greatest(1,
                       (len(words) + {_STRIDE - 1}) // {_STRIDE}))) AS i
            FROM w
        ), chunks AS (
            SELECT doc_id, CAST(i AS INT) AS chunk_idx,
                   md5(array_to_string(list_slice(words,
                       i * {_STRIDE} + 1,
                       i * {_STRIDE} + {_CD_CHUNK}), ' ')) AS fp
            FROM x
        ), keeper AS (
            SELECT fp, min(struct_pack(d := doc_id, c := chunk_idx)) AS k
            FROM chunks GROUP BY fp
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(CASE WHEN k.d <> doc_id OR k.c <> chunk_idx
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
        FROM chunks JOIN keeper USING (fp)
        GROUP BY doc_id
    """,
}

ORACLES["doc_split_assign"] = f"""
    SELECT doc_id, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT doc_id,
               CAST(CAST('0x' || substring(
                   md5('{_SPLIT_SALT}' || CAST(doc_id AS VARCHAR)),
                   1, 6) AS INT) % 100 AS BIGINT) AS bucket
        FROM documents
    )
"""
ORACLES["doc_repetition_ratio"] = """
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ), pos AS (
        SELECT doc_id, unnest(words) AS word,
               generate_subscripts(words, 1) AS p
        FROM w
    ), sh0 AS (
        SELECT doc_id,
               word || ' ' || lead(word, 1) OVER win || ' ' ||
               lead(word, 2) OVER win AS shingle,
               p, count(*) OVER (PARTITION BY doc_id) AS n_words
        FROM pos
        WINDOW win AS (PARTITION BY doc_id ORDER BY p)
        QUALIFY p <= n_words - 2
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(DISTINCT shingle) AS BIGINT) AS n_distinct_shingles,
           CAST((count(*) - count(DISTINCT shingle)) * 1000
                // count(*) AS BIGINT) AS rep_permille
    FROM sh0 GROUP BY doc_id
"""


def doc_url_normalize(spark, sf_dir):
    """Canonical-URL normalization for CDC keying: deterministic messy
    URL variants (host/scheme case, default vs explicit ports,
    fragments, shuffled query params) built from doc_id, normalized by
    operators.corpus_ops.normalize_url — the oracle normalizes the
    SAME messy strings with its own SQL implementation of the spec, so
    any divergence (port handling, query sorting, fragment handling)
    hash-mismatches."""
    from debezium_connector_ibmi_spark.operators.corpus_ops import (
        normalize_url,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    messy = F.expr(
        """
        concat(
          CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END,
          '://',
          CASE WHEN doc_id % 2 = 0
               THEN concat('www.site-', doc_id % 97, '.example.com')
               ELSE concat('WWW.Site-', doc_id % 97, '.Example.COM') END,
          CASE WHEN doc_id % 3 = 0 THEN ':443'
               WHEN doc_id % 3 = 1 THEN ':8443' ELSE '' END,
          '/Page/', doc_id,
          CASE WHEN doc_id % 2 = 0
               THEN concat('?b=2&a=1&c=', doc_id % 7)
               ELSE concat('?c=', doc_id % 7, '&b=2&a=1') END,
          CASE WHEN doc_id % 5 = 0 THEN '#Sec-1' ELSE '' END)
        """
    )
    return docs.select(
        "doc_id",
        messy.alias("url_raw"),
        normalize_url(messy).alias("url_norm"),
    )


QUERIES["doc_url_normalize"] = doc_url_normalize

ORACLES["doc_url_normalize"] = r"""
    WITH m AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END)
               || '://'
               || (CASE WHEN doc_id % 2 = 0
                        THEN 'www.site-' || CAST(doc_id % 97 AS VARCHAR)
                             || '.example.com'
                        ELSE 'WWW.Site-' || CAST(doc_id % 97 AS VARCHAR)
                             || '.Example.COM' END)
               || (CASE WHEN doc_id % 3 = 0 THEN ':443'
                        WHEN doc_id % 3 = 1 THEN ':8443' ELSE '' END)
               || '/Page/' || CAST(doc_id AS VARCHAR)
               || (CASE WHEN doc_id % 2 = 0
                        THEN '?b=2&a=1&c=' || CAST(doc_id % 7 AS VARCHAR)
                        ELSE '?c=' || CAST(doc_id % 7 AS VARCHAR)
                             || '&b=2&a=1' END)
               || (CASE WHEN doc_id % 5 = 0 THEN '#Sec-1' ELSE '' END)
               AS url_raw
        FROM documents
    ), s AS (
        SELECT doc_id, url_raw,
               regexp_replace(url_raw, '#.*$', '') AS no_frag
        FROM m
    ), p AS (
        SELECT doc_id, url_raw,
               lower(regexp_extract(no_frag,
                   '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
               regexp_replace(no_frag,
                   '^[A-Za-z][A-Za-z0-9+.\-]*://', '') AS after
        FROM s
    ), q AS (
        SELECT doc_id, url_raw, scheme,
               lower(regexp_extract(after, '^([^/?]+)', 1)) AS hostport,
               regexp_replace(after, '^[^/?]+', '') AS pathq
        FROM p
    ), r AS (
        SELECT doc_id, url_raw, scheme,
               CASE WHEN scheme = 'https'
                    THEN regexp_replace(hostport, ':443$', '')
                    WHEN scheme = 'http'
                    THEN regexp_replace(hostport, ':80$', '')
                    ELSE hostport END AS host,
               CASE WHEN regexp_extract(pathq, '^([^?]*)', 1) = ''
                    THEN '/'
                    ELSE regexp_extract(pathq, '^([^?]*)', 1) END AS path,
               array_to_string(list_sort(string_split(
                   regexp_extract(pathq, '\?(.*)$', 1), '&')), '&') AS sq
        FROM q
    )
    SELECT doc_id, url_raw,
           scheme || '://' || host || path
           || (CASE WHEN sq = '' THEN '' ELSE '?' || sq END) AS url_norm
    FROM r
"""
