"""Micro-batch range planner (operator T3 — ReceiverPagination
analogue) and receiver-chain lineage (S4/S5/A2).

Reference behavior re-expressed:
- ``ReceiverPagination.findRange`` caps each fetch at
  ``maxServerSideEntries`` and walks the receiver chain across
  sequence resets (ReceiverPagination.java:28-73,96-108,149-229).
- ``JournalInfoRetrieval.getReceivers`` discovers the chain with
  per-receiver [start,end] ranges (JournalInfoRetrieval.java:247-343).

Here the "chain" is a tiny driver-side table aggregated from the
journal itself (one columnar scan of two columns), and a range is a
pair of (receiver_idx, seq) positions. The planner is pure logic —
unit-tested against the reference's ReceiverPaginationTest edge
cases (within-receiver pagination, spanning receivers, seq resets,
caps).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Position:
    receiver_idx: int
    seq: int
    processed: bool = True


@dataclass(frozen=True)
class PositionRange:
    """Half-open-ish range: entries e with start < e <= end in
    (receiver_idx, seq) order (start inclusive when start.processed
    is False — JournalProcessedPosition.java:15-21 semantics)."""

    start: Position
    end: Position

    def predicate(self) -> Column:
        r, s = F.col("receiver_idx"), F.col("seq")
        if self.start.processed:
            lower = (r > self.start.receiver_idx) | (
                (r == self.start.receiver_idx) & (s > self.start.seq)
            )
        else:
            lower = (r > self.start.receiver_idx) | (
                (r == self.start.receiver_idx) & (s >= self.start.seq)
            )
        upper = (r < self.end.receiver_idx) | (
            (r == self.end.receiver_idx) & (s <= self.end.seq)
        )
        # redundant pure-partition-column conjuncts: the OR-form above
        # mixes seq, which blocks partition pruning; these bounds let
        # the scan skip receiver partitions outside the range entirely
        # (the Spark analogue of the reference's server-side range
        # restriction, RetrieveJournal RJNE0200 FROMENT/TOENT keys)
        prune = (r >= self.start.receiver_idx) & (r <= self.end.receiver_idx)
        return prune & lower & upper


def receiver_lineage(journal: DataFrame) -> list[dict]:
    """Driver-side receiver chain: (receiver_idx, min_seq, max_seq,
    n_entries), ordered by chain index.

    Grouping is by the partition column only, so with
    ``spark.sql.parquet.aggregatePushDown`` the min/max/count come
    from parquet footer statistics — a metadata-only query, no data
    scan (on Iceberg: a manifest query). The receiver *name* is
    deliberately not aggregated (it is 1:1 with receiver_idx); the
    chain carries indexes, which is all ordering needs."""
    rows = (
        journal.groupBy("receiver_idx")
        .agg(
            F.min("seq").alias("min_seq"),
            F.max("seq").alias("max_seq"),
            F.count(F.lit(1)).alias("n_entries"),
        )
        .orderBy("receiver_idx")
        .collect()
    )
    return [{**r.asDict(), "receiver": None} for r in rows]


def receiver_lineage_from_footers(path: str) -> list[dict] | None:
    """Metadata-only receiver-chain discovery: min/max(seq) and row
    counts straight from the parquet FOOTER statistics of each
    ``receiver_idx=N`` partition directory — zero data scanned, the
    local-filesystem analogue of Iceberg answering this from
    manifests (which is exactly what the 100 TB deployment does; the
    reference asks the server, JournalInfoRetrieval.java:247-343).

    Rationale: Spark's parquet aggregate pushdown only applies to the
    DSv2 reader (off by default), so ``receiver_lineage`` pays a
    full 2-column scan per tailer start — measured ~5.5 s at 2 cores
    on a 16M-entry journal, pure fixed cost that dilutes wall-clock
    scaling. Footers give the same numbers in milliseconds.

    Returns None (caller falls back to the scan) when the layout is
    not receiver-partitioned parquet or any file lacks seq stats.
    """
    import glob as _glob
    import os as _os

    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover
        return None

    part_dirs = sorted(_glob.glob(_os.path.join(path, "receiver_idx=*")))
    if not part_dirs:
        return None
    out = []
    for d in part_dirs:
        try:
            ridx = int(d.rsplit("=", 1)[1])
        except ValueError:
            return None
        lo = hi = None
        n = 0
        for f in _glob.glob(_os.path.join(d, "*.parquet")):
            md = pq.read_metadata(f)
            n += md.num_rows
            try:
                ci = md.schema.names.index("seq")
            except ValueError:
                return None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    return None
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        if lo is None:
            continue  # empty partition dir
        out.append(
            {
                "receiver_idx": ridx,
                "min_seq": int(lo),
                "max_seq": int(hi),
                "n_entries": int(n),
                "receiver": None,
            }
        )
    return out or None


def usable_chain(chain: list[dict]) -> list[dict]:
    """A2 ``lastJoined`` semantics: receivers before a gap in the
    chain are unreachable (detached/deleted receiver) — keep only the
    suffix after the most recent gap
    (DetailedJournalReceiver.java:44-76)."""
    usable: list[dict] = []
    prev = None
    for rcv in sorted(chain, key=lambda r: r["receiver_idx"]):
        if prev is not None and rcv["receiver_idx"] != prev + 1:
            usable = []
        usable.append(rcv)
        prev = rcv["receiver_idx"]
    return usable


class InvalidPositionError(Exception):
    """T6: resume position is before the earliest available journal
    entry — the journal was truncated past the checkpoint (reference:
    CPF7053/9801/7054 -> InvalidPositionException,
    RetrieveJournal.java:140-183)."""


def validate_position(chain: list[dict], pos: Position) -> bool:
    """True when ``pos`` is a valid resume point against the usable
    chain; False when data before the chain start was lost."""
    if pos.receiver_idx < 0 or not chain:
        return True  # fresh start: replay from earliest available
    first = chain[0]
    if pos.receiver_idx < first["receiver_idx"]:
        return False
    if pos.receiver_idx == first["receiver_idx"] and pos.seq < first["min_seq"] - 1:
        return False
    return True


def plan_next_range(
    chain: list[dict],
    start: Position,
    max_entries: int,
) -> PositionRange | None:
    """Next bounded fetch range after ``start``, or None if caught up.

    Walks the chain like RangeFinder.next (ReceiverPagination.java:
    160-195): sequence numbers may reset between receivers, so the
    budget is consumed per-receiver using that receiver's own
    [min_seq, max_seq] bounds. The cap is on *entries remaining in
    the plan's seq span*, which upper-bounds actual entries (seq may
    have gaps), mirroring the reference's server-side cap semantics.
    """
    budget = max_entries
    end: Position | None = None
    for rcv in chain:
        ridx, lo, hi = rcv["receiver_idx"], rcv["min_seq"], rcv["max_seq"]
        if ridx < start.receiver_idx:
            continue
        if ridx == start.receiver_idx:
            # resume point inside (or at the edge of) this receiver
            from_seq = start.seq + (1 if start.processed else 0)
            if from_seq > hi:
                continue  # receiver fully consumed
            from_seq = max(from_seq, lo)
        else:
            from_seq = lo
        span = hi - from_seq + 1
        if span <= 0:
            continue
        if span >= budget:
            end = Position(ridx, from_seq + budget - 1)
            budget = 0
            break
        budget -= span
        end = Position(ridx, hi)
    if end is None:
        return None
    return PositionRange(start=start, end=end)
