"""Driver-gate queries for the round-5 parity closers: C14 XA
transaction decode (XaTransactionDecoder.java:14-40) and S6
journal-for-table discovery via the FILD0100 offset-chained buffer
(JournalInfoRetrieval.java:118-153). Both build the binary wire
records JVM-side (hex/lpad/unhex packing — no per-row Python),
decode them with the REAL engine codecs, and pair with an exact
arithmetic DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from debezium_connector_ibmi_spark.functions.typeconv import (
    XA_SRCDTA_LEN,
    decode_xa_transaction,
)
from debezium_connector_ibmi_spark.queries.parity_ops import (
    _EVENT_TYPES,
    _be_bytes,
)
from debezium_connector_ibmi_spark.sources.discovery import (
    decode_fild0100_journal,
)


def _be_bytes_signed32(col):
    """Two's-complement big-endian int32 bytes of a signed value."""
    u = F.when(col < 0, col + F.lit(1 << 32)).otherwise(col).cast("long")
    return _be_bytes(u, 4)


# --- C14: XA transaction struct decode -----------------------------------
# golden cp037 bytes of each event_type blank-padded to Text(80),
# computed once at import (same pinned-table pattern as C6's
# fn_charset_decode golden)
_SRCDTA_HEX = {
    v: v.ljust(XA_SRCDTA_LEN).encode("cp037").hex() for v in _EVENT_TYPES
}


def fn_xa_decode(spark, sf_dir):
    """Build the 88-byte XA wire record per event (Bin4 SRCDAT |
    Bin4 SRCSEQ | Text(80) SRCDTA, XaTransactionDecoder.java:22-33),
    with SRCDAT spanning negative values to pin the two's-complement
    sign fold, and decode with the engine's C14 codec."""
    eid = F.col("event_id")
    srcdat = (eid % 100000 - F.lit(50000)).cast("long")
    srcseq = (eid % 1000000).cast("long")
    m = F.create_map(
        *[x for v, h in _SRCDTA_HEX.items() for x in (F.lit(v), F.lit(h))]
    )
    blob = F.concat(
        _be_bytes_signed32(srcdat),
        _be_bytes(srcseq, 4),
        F.unhex(m[F.col("event_type")]),
    )
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    xa = decode_xa_transaction(blob, offset=0, ccsid=37)
    return e.select(
        "event_id",
        xa["srcdat"].alias("srcdat"),
        xa["srcseq"].alias("srcseq"),
        xa["srcdta"].alias("srcdta"),
    )


# --- S6: journal-for-table via FILD0100 offset chain ---------------------
# Synthetic catalog over nation: library = first 10 chars of n_name,
# table 'T<key>'. Every third table carries a table-level journal
# override (JRN<key> in JLIB); the rest fall back to the library's
# QSQJRN default — the resolution rule of
# JournalInfoRetrieval.java:118-153 with the QSQJRN convention.
_JRN_OVERRIDE_MOD = 3


def _fild0100_blob():
    """Pack a FILD0100-shaped buffer whose journal section is reached
    via the reference's offset chain: int32BE@378 -> header offset,
    int32BE@header+378 -> relative orn offset, 20 text bytes at
    header+rel. Offsets vary per row (columns ``hdr``/``rel``) to
    exercise the chaining; gap widths (bytes):
    378 | be4(hdr) | hdr-4 | be4(rel) | rel-382 | text20."""
    hdr, rel = F.col("hdr"), F.col("rel")
    return F.concat(
        F.unhex(F.expr("repeat('00', 378)")),
        _be_bytes(hdr, 4),
        F.unhex(F.expr("repeat('00', CAST(hdr - 4 AS INT))")),
        _be_bytes(rel, 4),
        F.unhex(F.expr("repeat('00', CAST(rel - 382 AS INT))")),
        F.concat(
            F.rpad(F.col("_jn"), 10, " "), F.rpad(F.col("_jl"), 10, " ")
        ).cast("binary"),
    )


def cdc_journal_for_table(spark, sf_dir):
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    key = F.col("n_nationkey").cast("long")
    library = F.rtrim(F.rpad(F.col("n_name"), 10, " "))
    table_name = F.concat(F.lit("T"), key.cast("string"))
    is_override = (key % _JRN_OVERRIDE_MOD) == 0
    jname = F.when(
        is_override, F.concat(F.lit("JRN"), key.cast("string"))
    ).otherwise(F.lit("QSQJRN"))
    jlib = F.when(is_override, F.lit("JLIB")).otherwise(library)
    d = (
        n.select(
            key.alias("n_nationkey"),
            library.alias("library"),
            table_name.alias("table_name"),
            (F.lit(400) + (key % 7) * 16).cast("long").alias("hdr"),
            (F.lit(382) + (key % 5) * 8).cast("long").alias("rel"),
            jname.alias("_jn"),
            jlib.alias("_jl"),
        )
        .withColumn("blob", _fild0100_blob())
        # text fields are ASCII here, so CCSID 819 (latin-1) rides the
        # same codec path; the cp037 golden coverage is fn_xa_decode's
        .withColumn("jrn", decode_fild0100_journal(F.col("blob"), ccsid=819))
    )
    return d.select(
        "n_nationkey",
        "library",
        "table_name",
        F.col("jrn")["journal_name"].alias("journal_name"),
        F.col("jrn")["journal_library"].alias("journal_library"),
    )


QUERIES = {
    "fn_xa_decode": fn_xa_decode,
    "cdc_journal_for_table": cdc_journal_for_table,
}

ORACLES = {
    "fn_xa_decode": """
        SELECT event_id,
               CAST(event_id % 100000 - 50000 AS INTEGER) AS srcdat,
               CAST(event_id % 1000000 AS INTEGER) AS srcseq,
               event_type AS srcdta
        FROM events
    """,
    "cdc_journal_for_table": f"""
        SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
               rtrim(substr(rpad(n_name, 10, ' '), 1, 10)) AS library,
               'T' || CAST(n_nationkey AS VARCHAR) AS table_name,
               CASE WHEN n_nationkey % {_JRN_OVERRIDE_MOD} = 0
                    THEN 'JRN' || CAST(n_nationkey AS VARCHAR)
                    ELSE 'QSQJRN' END AS journal_name,
               CASE WHEN n_nationkey % {_JRN_OVERRIDE_MOD} = 0
                    THEN 'JLIB'
                    ELSE rtrim(substr(rpad(n_name, 10, ' '), 1, 10))
                    END AS journal_library
        FROM nation
    """,
}
