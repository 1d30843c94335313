"""Last-event-per-key compaction (SURVEY.md §2.6 — the engine's
upsert-materialization core).

Downstream of the reference, consumers fold the ordered I/U/D
changelog per primary key (last-writer-wins, ``ExtractNewRecordState``
in the reference README.md:188-192). ``last_event_per_key_agg`` is the
fold the engine runs (state-path compaction, the cow merge winner and
the flagship registry queries); it makes the subsequent MERGE
order-free and idempotent (re-applying a batch is a no-op).

The ranking-window form and the salted two-phase variant (a hot key
split into ``salt_buckets`` sub-groups, compacted within each, then
the small survivors compacted per key) serve the registry queries
that call them directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ORDER_COLS = ("receiver_idx", "seq")


def last_event_per_key(
    events: DataFrame, key: str = "url", order_cols: tuple[str, ...] = ORDER_COLS
) -> DataFrame:
    """One row per key: the event with the greatest ``order_cols``."""
    w = Window.partitionBy(key).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    return (
        events.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def last_event_per_key_agg(
    events: DataFrame,
    keys: tuple[str, ...] = ("url",),
    order_cols: tuple[str, ...] = ORDER_COLS,
    payload_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """One row per ``keys`` group: ``max_by(payload, order_cols)``.

    The aggregation combines partially map-side, so each map task
    ships at most one candidate row per key and a hot key collapses
    before it can pile onto one reducer. It is NOT a hash agg: the
    value is a struct, which cannot live in a hash-agg buffer, so
    Spark 4.1.2 plans ``SortAggregate`` with a ``Sort`` on both sides
    of the exchange. Requires ``order_cols`` to be unique per key
    (positions are), otherwise max_by ties are non-deterministic.
    """
    payload_cols = tuple(
        payload_cols or [c for c in events.columns if c not in keys]
    )
    pos = F.struct(*[F.col(c) for c in order_cols])
    payload = F.struct(*[F.col(c) for c in payload_cols])
    return (
        events.groupBy(*keys)
        .agg(F.max_by(payload, pos).alias("__w"))
        .select(*keys, *[F.col(f"__w.{c}").alias(c) for c in payload_cols])
    )


def salted_last_event_per_key(
    events: DataFrame,
    key: str = "url",
    salt_buckets: int = 8,
    order_cols: tuple[str, ...] = ORDER_COLS,
) -> DataFrame:
    """Two-phase skew-safe compaction.

    Phase 1 partitions by (key, salt) — a hot key's millions of
    events spread over ``salt_buckets`` reducers, each keeping one
    survivor. Phase 2 compacts the <= salt_buckets survivors per key.
    Deterministic salt (hash of the ordering key) keeps replays
    byte-identical.
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in order_cols]), F.lit(salt_buckets))
    w1 = Window.partitionBy(F.col(key), F.lit(0) + salt).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    survivors = (
        events.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return last_event_per_key(survivors, key, order_cols)
