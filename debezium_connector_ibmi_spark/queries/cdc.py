"""CDC-dataflow operators (SURVEY.md §2.2/2.4/2.5) expressed over the
driver's ``events`` table (event_id, ts, user_id, event_type, value,
props) — the table plays the journal role: key=user_id,
position=event_id, op derived from event_type.

Op mapping (C4 analogue): signup->c, purchase/click/view->u,
error->d.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from debezium_connector_ibmi_spark.operators.compaction import (
    last_event_per_key,
    last_event_per_key_agg,
    salted_last_event_per_key,
)
from debezium_connector_ibmi_spark.operators.filters import resume_filter


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _ensure_utc(spark: SparkSession) -> None:
    """TIMESTAMP_NTZ -> instant conversions (unix_millis, epoch
    seconds) depend on the session timezone; DuckDB's epoch_ms treats
    naive timestamps as UTC. Pin the session so the comparison holds
    even when the caller's session was not built by get_spark()."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _op(col="event_type"):
    c = F.col(col)
    return (
        F.when(c == "signup", "c")
        .when(c.isin("purchase", "click", "view"), "u")
        .when(c == "error", "d")
        .otherwise("unknown")
    )


_OP_SQL = """
    CASE WHEN event_type = 'signup' THEN 'c'
         WHEN event_type IN ('purchase','click','view') THEN 'u'
         WHEN event_type = 'error' THEN 'd'
         ELSE 'unknown' END
"""


# --- F1/F2/F3: include-list + predicate filters (pushed to scan) -----
def cdc_filter_include(spark, sf_dir):
    return (
        _events(spark, sf_dir)
        .filter(F.col("event_type").isin("click", "purchase") & (F.col("value") > 50))
        .select("event_id", "user_id", "event_type", "value")
    )


# --- C4: journal-code -> op-type mapping ------------------------------
def cdc_op_type_map(spark, sf_dir):
    return _events(spark, sf_dir).select(
        "event_id", "event_type", _op().alias("op")
    )


# --- F6/T5: resume predicate over a two-component position ------------
def cdc_resume_predicate(spark, sf_dir):
    df = _events(spark, sf_dir).select(
        "event_id",
        F.floor(F.col("event_id") / 3000).cast("int").alias("receiver_idx"),
        F.pmod(F.col("event_id"), F.lit(3000)).cast("long").alias("seq"),
    )
    return df.filter(
        resume_filter(watermark_receiver_idx=1, watermark_seq=1500, processed=True)
    )


# --- last-per-key compaction (the engine's max_by plan) ---------------
def cdc_last_per_key(spark, sf_dir):
    """The engine's compaction plan (``last_event_per_key_agg``). The
    window variant is pinned separately by cdc_last_per_key_salted."""
    df = _events(spark, sf_dir)
    last = last_event_per_key_agg(
        df, keys=("user_id",), order_cols=("ts", "event_id")
    )
    return last.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


# --- same result through the skew-salted two-phase plan ----------------
def cdc_last_per_key_salted(spark, sf_dir):
    df = _events(spark, sf_dir)
    last = salted_last_event_per_key(
        df, key="user_id", salt_buckets=8, order_cols=("ts", "event_id")
    )
    return last.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


_LAST_PER_KEY_SQL = """
    SELECT user_id,
           event_id AS last_event_id,
           event_type AS last_event_type,
           value AS last_value
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
"""


# --- T1: before/after pairing via lag ---------------------------------
def cdc_pair_before_after(spark, sf_dir):
    df = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("event_id")
    return df.select(
        "event_id",
        "user_id",
        F.col("value").alias("after_value"),
        F.lag("value").over(w).alias("before_value"),
    )


# --- T2: commit-cycle transaction grouping -----------------------------
def cdc_txn_group(spark, sf_dir):
    df = _events(spark, sf_dir).withColumn(
        "commit_cycle", F.floor(F.col("event_id") / 100).cast("long")
    )
    return df.groupBy("commit_cycle").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("first_id"),
        F.max("event_id").alias("last_id"),
        # integer cents so the SUM result type hashes identically on
        # any engine (see queries/relational.py module doc)
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "total_value_c"
        ),
    )


# --- A1: journal lag / behind metric -----------------------------------
def cdc_journal_lag(spark, sf_dir):
    df = _events(spark, sf_dir)
    head = df.agg(F.max("event_id").alias("head_id"))
    per_user = df.groupBy("user_id").agg(F.max("event_id").alias("applied_id"))
    return per_user.crossJoin(F.broadcast(head)).select(
        "user_id",
        "applied_id",
        (F.col("head_id") - F.col("applied_id")).alias("behind"),
    )


# --- A3: per-op event counters ------------------------------------------
def cdc_event_counters(spark, sf_dir):
    return (
        _events(spark, sf_dir)
        .select(_op().alias("op"))
        .groupBy("op")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- F8: flattened Debezium envelope -------------------------------------
def cdc_envelope_flat(spark, sf_dir):
    _ensure_utc(spark)
    df = _events(spark, sf_dir).withColumn("op", _op())
    w = Window.partitionBy("user_id").orderBy("event_id")
    return df.select(
        "event_id",
        F.col("user_id").alias("key"),
        "op",
        F.when(F.col("op").isin("u", "d"), F.lag("value").over(w)).alias(
            "before_value"
        ),
        F.when(F.col("op").isin("c", "u"), F.col("value")).alias("after_value"),
        # ts is TIMESTAMP_NTZ in the parquet; session TZ is pinned UTC
        # so the cast is instant-preserving and matches epoch_ms()
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )


# --- set ops: state diff (validation harness) -----------------------------
def cdc_state_diff(spark, sf_dir):
    df = _events(spark, sf_dir)
    head = df.agg((F.max("event_id") / 2).cast("long").alias("mid")).first()["mid"]
    first_half = df.filter(F.col("event_id") < head).select("user_id").distinct()
    second_half = df.filter(F.col("event_id") >= head).select("user_id").distinct()
    return first_half.exceptAll(second_half)


# --- T10: snapshot -> stream handover (union + recompaction) --------------
def cdc_snapshot_handover(spark, sf_dir):
    df = _events(spark, sf_dir)
    wm = df.agg((F.max("event_id") / 10).cast("long").alias("w")).first()["w"]
    snapshot = last_event_per_key(
        df.filter(F.col("event_id") <= wm), "user_id", ("ts", "event_id")
    )
    stream = df.filter(F.col("event_id") > wm)
    merged = last_event_per_key(
        snapshot.unionByName(stream), "user_id", ("ts", "event_id")
    )
    return merged.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


# --- S10: quarantine predicate (diagnostic dump) ----------------------------
def cdc_quarantine_rows(spark, sf_dir):
    """The engine's quarantine rule (streaming/engine.py
    process_range: data events op c/u whose payload failed to decode
    are dumped for forensics, reference RetrieveJournal.java:294-348).
    The events table has no corrupt payloads, so corruption is
    injected deterministically (event_id % 97 == 13 -> payload null)
    — the same datagen-in-query pattern cdc_null_mask uses; the query
    returns exactly the rows the engine would route to quarantine."""
    df = (
        _events(spark, sf_dir)
        .withColumn(
            "payload",
            F.when(F.pmod(F.col("event_id"), F.lit(97)) != 13, F.col("props")),
        )
        .withColumn("op", _op())
    )
    return df.filter(
        F.col("op").isin("c", "u") & F.col("payload").isNull()
    ).select("event_id", "user_id", "op")


# --- flagship: changelog materialization (last-per-key, drop deletes) ------
def cdc_changelog_materialize(spark, sf_dir):
    """Flagship contract query — exercises the engine's max_by
    compaction (``last_event_per_key_agg``, as in
    pipeline.compact_for_state), not a window."""
    df = _events(spark, sf_dir).withColumn("op", _op())
    last = last_event_per_key_agg(df, keys=("user_id",), order_cols=("event_id",))
    return last.filter(F.col("op") != "d").select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        "op",
        F.col("value").alias("last_value"),
    )


def cdc_state_dedup(spark, sf_dir):
    """Composition of the engine's two halves: CDC materialization
    feeds the corpus dedup operator. Materialize last state per key
    (the changelog fold), fingerprint each live row's payload
    (``props``), and group identical states — exactly how a CDC-fed
    corpus table is deduplicated before training-sample emission.
    Plan: the same max_by compaction as the flagship, then one
    hash-shuffle on the fingerprint (map-side partial count/min)."""
    from debezium_connector_ibmi_spark.operators.text_analysis import (
        fingerprint,
    )

    df = _events(spark, sf_dir).withColumn("op", _op())
    last = last_event_per_key_agg(df, keys=("user_id",), order_cols=("event_id",))
    live = last.filter(F.col("op") != "d").select(
        "user_id", fingerprint(F.col("props")).alias("fp")
    )
    return live.groupBy("fp").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.min("user_id").alias("keeper_user_id"),
    )


# Order matters for the driver's 50-query verification cap (see
# queries/__init__.py): the two LAST entries are the ones that rotate
# out when upstream modules grow — cdc_last_per_key_salted pins the
# same result as cdc_last_per_key through a second plan (plan
# equivalence is also pytest-covered), and cdc_state_diff's oracle
# result is the empty relation; both stay registered for local runs
# but yield their driver slots to flagship queries first.
# round-5 rotation (VERDICT r4 #7): the two queries that fell outside
# the round-4 cap go FIRST this round so nothing stays verified only
# by a two-round-old CORRECTNESS file
QUERIES = {
    "cdc_last_per_key_salted": cdc_last_per_key_salted,
    "cdc_state_diff": cdc_state_diff,
    "cdc_filter_include": cdc_filter_include,
    "cdc_op_type_map": cdc_op_type_map,
    "cdc_resume_predicate": cdc_resume_predicate,
    "cdc_last_per_key": cdc_last_per_key,
    "cdc_pair_before_after": cdc_pair_before_after,
    "cdc_txn_group": cdc_txn_group,
    "cdc_journal_lag": cdc_journal_lag,
    "cdc_event_counters": cdc_event_counters,
    "cdc_envelope_flat": cdc_envelope_flat,
    "cdc_snapshot_handover": cdc_snapshot_handover,
    "cdc_quarantine_rows": cdc_quarantine_rows,
    "cdc_changelog_materialize": cdc_changelog_materialize,
    "cdc_state_dedup": cdc_state_dedup,
}

ORACLES = {
    "cdc_filter_include": """
        SELECT event_id, user_id, event_type, value FROM events
        WHERE event_type IN ('click','purchase') AND value > 50
    """,
    "cdc_op_type_map": f"""
        SELECT event_id, event_type, {_OP_SQL} AS op FROM events
    """,
    "cdc_resume_predicate": """
        SELECT event_id,
               CAST(event_id // 3000 AS INT) AS receiver_idx,
               CAST(event_id % 3000 AS BIGINT) AS seq
        FROM events
        WHERE (event_id // 3000) > 1
           OR ((event_id // 3000) = 1 AND (event_id % 3000) > 1500)
    """,
    "cdc_last_per_key": _LAST_PER_KEY_SQL,
    "cdc_last_per_key_salted": _LAST_PER_KEY_SQL,
    "cdc_pair_before_after": """
        SELECT event_id, user_id, value AS after_value,
               lag(value) OVER (PARTITION BY user_id ORDER BY event_id)
                   AS before_value
        FROM events
    """,
    "cdc_txn_group": """
        SELECT CAST(event_id // 100 AS BIGINT) AS commit_cycle,
               count(*) AS n_events,
               min(event_id) AS first_id,
               max(event_id) AS last_id,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS total_value_c
        FROM events GROUP BY 1
    """,
    "cdc_journal_lag": """
        SELECT user_id, max(event_id) AS applied_id,
               (SELECT max(event_id) FROM events) - max(event_id) AS behind
        FROM events GROUP BY user_id
    """,
    "cdc_event_counters": f"""
        SELECT {_OP_SQL} AS op, count(*) AS n FROM events GROUP BY 1
    """,
    "cdc_envelope_flat": f"""
        SELECT event_id, user_id AS key, {_OP_SQL} AS op,
               CASE WHEN {_OP_SQL} IN ('u','d')
                    THEN lag(value) OVER (PARTITION BY user_id ORDER BY event_id)
               END AS before_value,
               CASE WHEN {_OP_SQL} IN ('c','u') THEN value END AS after_value,
               epoch_ms(ts) AS ts_ms
        FROM events
    """,
    "cdc_state_diff": """
        SELECT DISTINCT user_id FROM events
        WHERE event_id < (SELECT max(event_id) // 2 FROM events)
        EXCEPT
        SELECT DISTINCT user_id FROM events
        WHERE event_id >= (SELECT max(event_id) // 2 FROM events)
    """,
    "cdc_snapshot_handover": _LAST_PER_KEY_SQL,
    "cdc_quarantine_rows": f"""
        SELECT event_id, user_id, {_OP_SQL} AS op
        FROM events
        WHERE {_OP_SQL} IN ('c','u') AND (event_id % 97) = 13
    """,
    "cdc_changelog_materialize": f"""
        SELECT user_id, event_id AS last_event_id, op, value AS last_value
        FROM (
            SELECT user_id, event_id, value, {_OP_SQL} AS op,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1 AND op <> 'd'
    """,
}

ORACLES["cdc_state_dedup"] = f"""
    WITH state AS (
        SELECT user_id, props FROM (
            SELECT user_id, props, {_OP_SQL} AS op,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1 AND op <> 'd'
    )
    SELECT md5(props) AS fp,
           CAST(count(*) AS BIGINT) AS n_keys,
           min(user_id) AS keeper_user_id
    FROM state GROUP BY 1
"""
