"""Driver-gate queries for reference-parity operators that round 1
covered only in pytest (VERDICT.md 'What's missing' #1): C11 century
date decode, C6 CCSID/EBCDIC charset decode, A2 receiver-chain
usable-suffix, T3 range planning. Each pairs the REAL engine operator
(functions/typeconv.py, plans/range_planner.py) with an exact DuckDB
oracle over the events table.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from debezium_connector_ibmi_spark.functions.typeconv import (
    bigint_from_text,
    charset_decode_udf,
    decode_cyymmddhhmmss,
    parse_default_value,
    with_default,
)
from debezium_connector_ibmi_spark.functions.header_codec import (
    HEADER_LEN,
    decode_header_cols,
)
from debezium_connector_ibmi_spark.plans.range_planner import (
    Position,
    plan_next_range,
    receiver_lineage,
)


def _events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


# --- C11: CYYMMDDHHMMSS century-coded attach-time decode -----------------
def fn_century_decode(spark, sf_dir):
    """Build deterministic 13-char CYYMMDDHHMMSS strings (century
    digit '0'->19xx, '1'->20xx — ReceiverDecoder.java:79-89), decode
    with the engine's pure-Catalyst expression, output epoch seconds
    (integer — timestamp rendering is engine-specific, epochs are
    not)."""
    from debezium_connector_ibmi_spark.queries.cdc import _ensure_utc

    _ensure_utc(spark)
    e = _events(spark, sf_dir)
    eid = F.col("event_id")
    c = F.concat(
        (eid % 2).cast("string"),
        F.lpad((eid % 100).cast("string"), 2, "0"),
        F.lpad((1 + eid % 12).cast("string"), 2, "0"),
        F.lpad((1 + eid % 28).cast("string"), 2, "0"),
        F.lpad((eid % 24).cast("string"), 2, "0"),
        F.lpad((eid % 60).cast("string"), 2, "0"),
        F.lpad((eid % 59).cast("string"), 2, "0"),
    )
    return e.select(
        "event_id",
        c.alias("cyymmddhhmmss"),
        F.unix_seconds(decode_cyymmddhhmmss(c)).cast("long").alias("epoch_s"),
    )


# --- C6: CCSID 37 (EBCDIC) decode against golden byte patterns -----------
_EVENT_TYPES = ("signup", "purchase", "click", "view", "error")
# golden cp037 encodings, computed once at import (CPython's cp037
# table mirrors the AS400Text/CcsidCache tables the reference uses)
_CP037_HEX = {v: v.encode("cp037").hex() for v in _EVENT_TYPES}


def fn_charset_decode(spark, sf_dir):
    """Map each event_type to its pinned CCSID-37 byte pattern, run
    the engine's vectorized charset decode UDF on the binary column,
    and emit both the hex golden and the decoded string. The oracle
    asserts decode(ebcdic_bytes) == original ASCII text."""
    m = F.create_map(
        *[x for v, h in _CP037_HEX.items() for x in (F.lit(v), F.lit(h))]
    )
    e = _events(spark, sf_dir).withColumn(
        "ebcdic", F.unhex(m[F.col("event_type")])
    )
    return e.select(
        "event_id",
        F.lower(F.hex("ebcdic")).alias("ebcdic_hex"),
        charset_decode_udf(37)(F.col("ebcdic")).alias("decoded"),
    )


# --- C1/C2: binary header wire-format round-trip --------------------------
def _be_bytes(col, nbytes):
    """Big-endian bytes of a non-negative int, JVM-side: hex → lpad → unhex."""
    return F.unhex(F.lpad(F.hex(col), 2 * nbytes, "0"))


_HDR_CODE_HEX = "52"  # 'R'
_HDR_TYPE_HEX = "5550"  # 'UP'
_HDR_NAME = "PAGES".ljust(10) + "WEBLIB".ljust(10) + "M0001".ljust(10)
_HDR_NAME_HEX = _HDR_NAME.encode("ascii").hex()


def fn_header_roundtrip(spark, sf_dir):
    """Build the engine's 63-byte binary header record per event
    (JVM-side: hex/lpad/unhex big-endian packing — no Python), decode
    it with the default expression codec (decode_header_cols), and
    emit every field plus the blob hex. Pins the C1 wire format
    (layout in functions/header_codec.py) at the driver gate; the
    oracle reproduces both the bytes and the decoded fields
    arithmetically."""
    eid = F.col("event_id")
    blob = F.concat(
        _be_bytes(F.lit(HEADER_LEN), 4),
        _be_bytes(eid, 8),
        _be_bytes(eid * 1000, 8),
        F.unhex(F.lit(_HDR_CODE_HEX)),
        F.unhex(F.lit(_HDR_TYPE_HEX)),
        _be_bytes(eid % 100, 8),
        F.unhex(F.lit(_HDR_NAME_HEX)),
        _be_bytes(eid % 65536, 2),
    )
    d = _events(spark, sf_dir).select(
        "event_id", blob.alias("b")
    ).withColumn("h", decode_header_cols(F.col("b")))
    return d.select(
        "event_id",
        F.lower(F.hex("b")).alias("blob_hex"),
        F.col("h.sequence").alias("seq_decoded"),
        F.col("h.entry_ts_us").alias("ts_us_decoded"),
        F.col("h.journal_code").alias("code_decoded"),
        F.col("h.entry_type").alias("type_decoded"),
        F.col("h.commit_cycle").alias("cycle_decoded"),
        F.trim(F.col("h.object_name")).alias("name_decoded"),
        F.col("h.payload_length").alias("plen_decoded"),
    )


# --- C15: 20-char padded digit text -> int64 -----------------------------
def fn_bigint_from_text(spark, sf_dir):
    """Sequence numbers arrive as space-padded 20-char digit text
    (JournalInfoRetrieval.java:419-423); trim+cast round-trip."""
    e = _events(spark, sf_dir)
    padded = F.lpad(F.col("event_id").cast("string"), 20, " ")
    return e.select(
        "event_id",
        padded.alias("seq_text"),
        bigint_from_text(padded).alias("seq_parsed"),
    )


# --- C9: DDL default literal parse + coalesce-at-merge --------------------
def fn_default_coalesce(spark, sf_dir):
    """parse_default_value is a plan-time function (DDL literal ->
    typed Python value, As400DefaultValueConverter semantics); the
    parsed default lands in the plan as coalesce(col, lit(default)).
    Nulls injected deterministically (event_id % 7)."""
    num_default = parse_default_value("DOUBLE", "'1.5'")
    str_default = parse_default_value("VARCHAR(10)", "'pending'")
    e = _events(spark, sf_dir).select(
        "event_id",
        F.when(F.pmod(F.col("event_id"), F.lit(7)) != 0, F.col("value")).alias(
            "value_masked"
        ),
        F.when(
            F.pmod(F.col("event_id"), F.lit(5)) != 0, F.col("event_type")
        ).alias("type_masked"),
    )
    return e.select(
        "event_id",
        with_default("value_masked", num_default).alias("value_d"),
        with_default("type_masked", str_default).alias("type_d"),
    )


# --- A2: receiver-chain usable suffix (lastJoined gap semantics) ---------
def cdc_usable_chain(spark, sf_dir):
    """Distributed re-expression of range_planner.usable_chain
    (DetailedJournalReceiver.java:44-76): receivers before the most
    recent gap in the chain are unreachable. The chain here is a
    lineage aggregation of events (receiver_idx = event_id // 1500)
    with receiver 2 dropped to simulate a detached/deleted receiver.
    The lineage table is tiny by construction (receiver count), so the
    unpartitioned windows are a few rows, mirroring the driver-side
    operator."""
    e = _events(spark, sf_dir).select(
        F.floor(F.col("event_id") / 1500).cast("int").alias("receiver_idx"),
        F.pmod(F.col("event_id"), F.lit(1500)).cast("long").alias("seq"),
    )
    lineage = (
        e.filter(F.col("receiver_idx") != 2)
        .groupBy("receiver_idx")
        .agg(
            F.min("seq").alias("min_seq"),
            F.max("seq").alias("max_seq"),
            F.count(F.lit(1)).alias("n_entries"),
        )
    )
    wo = Window.orderBy("receiver_idx")
    wa = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    prev = F.lag("receiver_idx").over(wo)
    gap_start = F.when(
        prev.isNotNull() & (F.col("receiver_idx") - prev > 1),
        F.col("receiver_idx"),
    )
    cutoff = F.max(gap_start).over(wa)
    return (
        lineage.withColumn("__cut", cutoff)
        .filter(F.col("__cut").isNull() | (F.col("receiver_idx") >= F.col("__cut")))
        .select("receiver_idx", "min_seq", "max_seq", "n_entries")
    )


# --- T3: planner ranges materialized as rows ------------------------------
_PLAN_RECEIVER_SIZE = 3000
_PLAN_MAX_ENTRIES = 700  # not a divisor of 3000: ranges cross receivers


def cdc_plan_ranges(spark, sf_dir):
    """Run the REAL micro-batch planner (plan_next_range — the
    ReceiverPagination.java:28-73 analogue) over a lineage chain
    aggregated from events, materializing every planned range as a
    row. The chain collect is receiver-count-sized driver metadata
    (the documented pattern); 700 per range forces ranges that span
    receiver boundaries, the planner's hardest edge."""
    e = _events(spark, sf_dir).select(
        F.floor(F.col("event_id") / _PLAN_RECEIVER_SIZE)
        .cast("int")
        .alias("receiver_idx"),
        F.pmod(F.col("event_id"), F.lit(_PLAN_RECEIVER_SIZE))
        .cast("long")
        .alias("seq"),
    )
    chain = receiver_lineage(e)
    ranges = []
    start = Position(0, -1, processed=True)
    while True:
        r = plan_next_range(chain, start, _PLAN_MAX_ENTRIES)
        if r is None:
            break
        ranges.append(
            (
                len(ranges),
                r.start.receiver_idx,
                r.start.seq,
                r.end.receiver_idx,
                r.end.seq,
            )
        )
        start = Position(r.end.receiver_idx, r.end.seq, processed=True)
    return spark.createDataFrame(
        [tuple(int(x) for x in row) for row in ranges],
        "range_idx bigint, start_receiver bigint, start_seq bigint,"
        " end_receiver bigint, end_seq bigint",
    )


QUERIES = {
    "fn_header_roundtrip": fn_header_roundtrip,
    "fn_century_decode": fn_century_decode,
    "fn_charset_decode": fn_charset_decode,
    "fn_bigint_from_text": fn_bigint_from_text,
    "fn_default_coalesce": fn_default_coalesce,
    "cdc_usable_chain": cdc_usable_chain,
    "cdc_plan_ranges": cdc_plan_ranges,
}

_CHARSET_CASE = " ".join(
    f"WHEN '{v}' THEN '{h}'" for v, h in _CP037_HEX.items()
)

ORACLES = {
    "fn_header_roundtrip": f"""
        SELECT event_id,
               lower(lpad(to_hex({HEADER_LEN}), 8, '0')
               || lpad(to_hex(event_id), 16, '0')
               || lpad(to_hex(event_id * 1000), 16, '0')
               || '{_HDR_CODE_HEX}' || '{_HDR_TYPE_HEX}'
               || lpad(to_hex(event_id % 100), 16, '0')
               || '{_HDR_NAME_HEX}'
               || lpad(to_hex(event_id % 65536), 4, '0')) AS blob_hex,
               event_id AS seq_decoded,
               event_id * 1000 AS ts_us_decoded,
               'R' AS code_decoded,
               'UP' AS type_decoded,
               event_id % 100 AS cycle_decoded,
               '{_HDR_NAME.strip()}' AS name_decoded,
               CAST(event_id % 65536 AS INT) AS plen_decoded
        FROM events
    """,
    "fn_century_decode": """
        SELECT event_id,
               CAST(event_id % 2 AS VARCHAR)
               || lpad(CAST(event_id % 100 AS VARCHAR), 2, '0')
               || lpad(CAST(1 + event_id % 12 AS VARCHAR), 2, '0')
               || lpad(CAST(1 + event_id % 28 AS VARCHAR), 2, '0')
               || lpad(CAST(event_id % 24 AS VARCHAR), 2, '0')
               || lpad(CAST(event_id % 60 AS VARCHAR), 2, '0')
               || lpad(CAST(event_id % 59 AS VARCHAR), 2, '0')
                   AS cyymmddhhmmss,
               CAST(epoch(make_timestamp(
                   CAST((event_id % 2 + 19) * 100 + event_id % 100 AS BIGINT),
                   CAST(1 + event_id % 12 AS BIGINT),
                   CAST(1 + event_id % 28 AS BIGINT),
                   CAST(event_id % 24 AS BIGINT),
                   CAST(event_id % 60 AS BIGINT),
                   CAST(event_id % 59 AS DOUBLE))) AS BIGINT) AS epoch_s
        FROM events
    """,
    "fn_charset_decode": f"""
        SELECT event_id,
               CASE event_type {_CHARSET_CASE} END AS ebcdic_hex,
               event_type AS decoded
        FROM events
    """,
    "fn_bigint_from_text": """
        SELECT event_id,
               lpad(CAST(event_id AS VARCHAR), 20, ' ') AS seq_text,
               CAST(trim(lpad(CAST(event_id AS VARCHAR), 20, ' '))
                    AS BIGINT) AS seq_parsed
        FROM events
    """,
    "fn_default_coalesce": """
        SELECT event_id,
               COALESCE(CASE WHEN event_id % 7 <> 0 THEN value END, 1.5)
                   AS value_d,
               COALESCE(CASE WHEN event_id % 5 <> 0 THEN event_type END,
                        'pending') AS type_d
        FROM events
    """,
    "cdc_usable_chain": """
        WITH lineage AS (
            SELECT CAST(event_id // 1500 AS INT) AS receiver_idx,
                   min(CAST(event_id % 1500 AS BIGINT)) AS min_seq,
                   max(CAST(event_id % 1500 AS BIGINT)) AS max_seq,
                   count(*) AS n_entries
            FROM events
            WHERE event_id // 1500 <> 2
            GROUP BY 1
        ), gaps AS (
            SELECT *,
                   CASE WHEN receiver_idx
                             - lag(receiver_idx) OVER (ORDER BY receiver_idx)
                             > 1
                        THEN receiver_idx END AS gap_start
            FROM lineage
        ), cut AS (
            SELECT *, max(gap_start) OVER () AS c FROM gaps
        )
        SELECT receiver_idx, min_seq, max_seq, n_entries
        FROM cut WHERE c IS NULL OR receiver_idx >= c
    """,
    "cdc_plan_ranges": f"""
        WITH n AS (SELECT count(*) AS n FROM events),
        idx AS (
            SELECT unnest(range(0,
                CAST((((SELECT n FROM n) + {_PLAN_MAX_ENTRIES} - 1)
                      // {_PLAN_MAX_ENTRIES}) AS BIGINT))) AS i
        )
        SELECT i AS range_idx,
               CASE WHEN i = 0 THEN 0
                    ELSE (i * {_PLAN_MAX_ENTRIES} - 1)
                         // {_PLAN_RECEIVER_SIZE} END AS start_receiver,
               CASE WHEN i = 0 THEN -1
                    ELSE (i * {_PLAN_MAX_ENTRIES} - 1)
                         % {_PLAN_RECEIVER_SIZE} END AS start_seq,
               (LEAST((i + 1) * {_PLAN_MAX_ENTRIES}, (SELECT n FROM n)) - 1)
                   // {_PLAN_RECEIVER_SIZE} AS end_receiver,
               (LEAST((i + 1) * {_PLAN_MAX_ENTRIES}, (SELECT n FROM n)) - 1)
                   % {_PLAN_RECEIVER_SIZE} AS end_seq
        FROM idx
    """,
}
