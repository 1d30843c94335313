"""Journal (changelog) sources — batch and streaming (S1/S2).

The reference fetches journal blocks over an RPC into a byte buffer
(``RetrieveJournal.java:77-138``). Here the journal is a table:
- batch: ``spark.read.parquet`` with predicate/partition pruning
  standing in for the server-side range restriction;
- streaming: ``spark.readStream`` file source (micro-batch = newly
  arrived journal files, ``maxFilesPerTrigger`` = the buffer-size
  analogue). On a cluster this is the same code over an Iceberg
  table with incremental scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

JOURNAL_SCHEMA = T.StructType(
    [
        T.StructField("receiver", T.StringType()),
        T.StructField("receiver_idx", T.IntegerType()),
        T.StructField("seq", T.LongType()),
        T.StructField("entry_ts", T.TimestampType()),
        T.StructField("journal_code", T.StringType()),
        T.StructField("entry_type", T.StringType()),
        T.StructField("commit_cycle", T.LongType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("before_html", T.BinaryType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("lang", T.StringType()),
        T.StructField("null_mask", T.ArrayType(T.BooleanType())),
    ]
)


def read_journal(
    spark: SparkSession, path: str, journal_format: str = "columnar"
) -> DataFrame:
    """Batch journal scan in either layout; ``journal_format="binary"``
    reads packed header blobs and decodes them in-pipeline (C1/C2)."""
    if journal_format == "binary":
        return read_binary_journal(spark, path)
    return spark.read.schema(JOURNAL_SCHEMA).parquet(path)


def to_binary_journal(journal: DataFrame) -> DataFrame:
    """Pack per-entry header fields into the engine's 63-byte binary
    header record (C1 wire-format analogue): what a raw RJNE0200
    buffer split into per-entry blobs would look like. Receiver
    identity stays as partition metadata (the reference also knows
    the receiver out-of-band — it asked for it)."""
    import pandas as pd
    from pyspark.sql.types import BinaryType

    from debezium_connector_ibmi_spark.functions.header_codec import (
        HEADER_LEN,
        encode_header,
    )

    # no type hints: `from __future__ import annotations` stringifies
    # them, which pyspark's hint inference rejects for multi-arg UDFs
    def _pack(seq, ts_us, code, etype, cycle, obj, plen):
        return pd.Series(
            [
                encode_header(
                    HEADER_LEN,
                    int(s),
                    int(t),
                    c,
                    e,
                    int(cy) if cy is not None and not pd.isna(cy) else 0,
                    o or "",
                    int(p),
                )
                for s, t, c, e, cy, o, p in zip(
                    seq, ts_us, code, etype, cycle, obj, plen
                )
            ],
            dtype="object",
        )

    pack = F.pandas_udf(_pack, BinaryType())

    obj_name = F.concat(
        F.rpad(F.coalesce(F.col("table_name"), F.lit("")), 10, " "),
        F.rpad(F.lit("WEBLIB"), 10, " "),
        F.rpad(F.lit("M0001"), 10, " "),
    )
    return journal.select(
        "receiver",
        "receiver_idx",
        # seq stays a top-level column ALONGSIDE the blob (which also
        # carries it): the table's sort-key metadata, like Iceberg
        # sort/partition columns next to a raw payload. Range planning
        # and (receiver_idx, seq) predicates stay scan-side (footer
        # stats + row-group pruning) instead of forcing a full header
        # decode just to navigate — the reference equivalently asks
        # the server for ranges out-of-band (RJNE0200 FROMENT/TOENT)
        # rather than scanning the buffer.
        "seq",
        pack(
            F.col("seq"),
            (F.col("entry_ts").cast("double") * 1_000_000).cast("long"),
            F.col("journal_code"),
            F.col("entry_type"),
            F.coalesce(F.col("commit_cycle"), F.lit(0)),
            obj_name,
            F.coalesce(F.length("html"), F.lit(0)).cast("int"),
        ).alias("header_blob"),
        "url",
        "before_html",
        "html",
        "warc_ts",
        "lang",
        "null_mask",
    )


def from_binary_journal(binary_journal: DataFrame) -> DataFrame:
    """Inverse of :func:`to_binary_journal`: header decode
    reconstructing the standard journal columns; the rest of the
    engine runs unchanged on the result.

    The decode is the pure-Catalyst expression path
    (``decode_header_cols``: substring/hex/conv inside whole-stage
    codegen — no Arrow transfer of the blobs)."""
    from debezium_connector_ibmi_spark.functions.decode import split_object_name
    from debezium_connector_ibmi_spark.functions.header_codec import (
        decode_header_cols,
    )

    d = binary_journal.withColumn("h", decode_header_cols(F.col("header_blob")))
    # the layout's top-level seq column keeps planner predicates
    # scan-side; the blob's sequence still decodes and is asserted
    # equal in tests (C1 round-trip)
    return d.select(
        "receiver",
        "receiver_idx",
        "seq",
        (F.col("h.entry_ts_us") / 1_000_000).cast("timestamp").alias("entry_ts"),
        F.col("h.journal_code").alias("journal_code"),
        F.col("h.entry_type").alias("entry_type"),
        F.when(
            F.col("h.journal_code") == "C", F.col("h.commit_cycle")
        ).otherwise(
            F.when(F.col("h.journal_code") == "R", F.col("h.commit_cycle"))
        ).alias("commit_cycle"),
        F.nullif(
            split_object_name(F.col("h.object_name")).getField("file"), F.lit("")
        ).alias("table_name"),
        "url",
        "before_html",
        "html",
        "warc_ts",
        "lang",
        "null_mask",
    )


def read_binary_journal(spark: SparkSession, path: str) -> DataFrame:
    """S2 binary variant: read packed 63-byte header blobs and decode
    them (C1/C2) back into the standard journal columns, in-pipeline.

    Planning/filtering run over the DECODED plan: ``receiver_idx``
    stays a real partition column (pruning still reaches the scan),
    while ``seq`` predicates apply after the vectorized header decode
    — the reference likewise decodes entry headers to navigate a raw
    RJNE0200 buffer (RetrieveJournal.java:77-138).

    The scan is schema-given (``BINARY_JOURNAL_SCHEMA``, as the
    streaming source reads it), so building the DataFrame runs no
    schema-inference job."""
    return from_binary_journal(
        spark.read.schema(BINARY_JOURNAL_SCHEMA).parquet(path)
    )


def write_binary_journal(journal: DataFrame, path: str, num_files: int = 8) -> None:
    """Materialize a journal in the packed binary-header layout
    (partitioned by receiver_idx like the columnar layout)."""
    (
        to_binary_journal(journal)
        .repartition(num_files)
        .write.mode("overwrite")
        .partitionBy("receiver_idx")
        .parquet(path)
    )


BINARY_JOURNAL_SCHEMA = T.StructType(
    [
        T.StructField("receiver", T.StringType()),
        T.StructField("receiver_idx", T.IntegerType()),
        T.StructField("seq", T.LongType()),
        T.StructField("header_blob", T.BinaryType()),
        T.StructField("url", T.StringType()),
        T.StructField("before_html", T.BinaryType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("lang", T.StringType()),
        T.StructField("null_mask", T.ArrayType(T.BooleanType())),
    ]
)


def read_journal_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
    journal_format: str = "columnar",
) -> DataFrame:
    """Streaming journal source; ``journal_format="binary"`` reads
    packed header blobs and decodes them per micro-batch (C1/C2)."""
    schema = (
        BINARY_JOURNAL_SCHEMA if journal_format == "binary" else JOURNAL_SCHEMA
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(path)
    if journal_format == "binary":
        return from_binary_journal(stream)
    return stream
