"""Changelog filters (operators F1-F6).

The reference pushes table / journal-code / entry-type filters into
the host RPC (``RetrievalCriteria.java:137-224``) and re-filters
client-side (``As400StreamingChangeEventSource.java:205-213``,
OPEN/CLOSE drop ``:323-325``). Here every filter is a Catalyst
predicate: expressed once, pushed down to the parquet/Iceberg scan by
the optimizer (verify with ``.explain`` — ``PushedFilters`` must show
the ``isin`` on table/code/type; partition pruning on receiver_idx).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from debezium_connector_ibmi_spark.config import EngineConfig

# journal codes/types accepted (F2: the reference's fixed required
# sets, RetrievalCriteria JRNCDE/ENTTYP, RetrieveJournal.java:38-42)
JOURNAL_CODES = ("R", "C", "D", "J")
ENTRY_TYPES = ("PT", "PX", "UP", "UB", "DL", "DR", "SC", "CM", "CT", "CG")

# journal codes that always pass regardless of table include list
# (reference: J and C entries bypass the table filter,
# As400StreamingChangeEventSource.java:205-213)
_ALWAYS_PASS_CODES = ("J", "C")


def apply_standard_filters(journal: DataFrame, cfg: EngineConfig) -> DataFrame:
    """F1-F5 in one pass.

    - F2: journal-code + entry-type allowlist (JRNCDE/ENTTYP keys)
    - F1/F3: table include list (server FILE key + client include);
      C/J control entries always pass
    - F4: F.OP / F.CL member ops dropped
    - F5: system-schema exclusion (QSYS*) — kept for parity even
      though the synthetic journal never emits them
    """
    code = F.col("journal_code")
    keep = (
        code.isin(*JOURNAL_CODES)
        & F.col("entry_type").isin(*ENTRY_TYPES)
        & ~(code.isin("F"))
        & (
            code.isin(*_ALWAYS_PASS_CODES)
            | F.col("table_name").isin(*cfg.table_include_list)
            # schema-change markers carry a versioned table name
            | (code == "D")
        )
        & (
            F.col("table_name").isNull()
            | ~F.col("table_name").startswith("QSYS")
        )
    )
    return journal.filter(keep)


def resume_filter(
    receiver_idx: Column | str = "receiver_idx",
    seq: Column | str = "seq",
    *,
    watermark_receiver_idx: int,
    watermark_seq: int,
    processed: bool = True,
) -> Column:
    """F6: already-processed dedup as a resume predicate.

    The reference tracks ``JournalProcessedPosition.processed``
    because re-asking for the *next* entry errors indistinguishably
    from journal loss (JournalProcessedPosition.java:15-21) and skips
    an entry equal to the checkpoint (RetrieveJournal.java:262-266).
    In Spark the same semantics: strictly-greater when the watermark
    entry was processed, greater-or-equal when it was not. Ordering
    key is (receiver_idx, seq) — seq alone can reset between
    receivers (ReceiverPagination.java:160-195).
    """
    r = F.col(receiver_idx) if isinstance(receiver_idx, str) else receiver_idx
    s = F.col(seq) if isinstance(seq, str) else seq
    if processed:
        return (r > watermark_receiver_idx) | (
            (r == watermark_receiver_idx) & (s > watermark_seq)
        )
    return (r > watermark_receiver_idx) | (
        (r == watermark_receiver_idx) & (s >= watermark_seq)
    )
