"""Merge-on-read READ-AMPLIFICATION curve (round-6, VERDICT r5 #4):
measure resolved ``read()`` wall time as a function of outstanding
deltas per bucket, so ``mor_compact_max_deltas`` is chosen from data
instead of guessed.

Protocol: one mor target, journal applied one batch at a time with
compaction DISABLED; after each batch (delta depth == batches since
base, every batch touches all buckets at this shape), time a full
resolved read (count() over base+deltas max_by resolution). A final
``compact()`` then re-times the depth-0 read.

Usage: python scripts/bench_mor_read_amp.py [n_ops] [markdown_out]
Appends a markdown table to ``markdown_out`` (default: print only).
"""

from __future__ import annotations

import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from debezium_connector_ibmi_spark.config import EngineConfig  # noqa: E402
from debezium_connector_ibmi_spark.datagen.journal import (  # noqa: E402
    JournalGenConfig,
    write_journal,
)
from debezium_connector_ibmi_spark.session import get_spark  # noqa: E402
from debezium_connector_ibmi_spark.streaming.engine import (  # noqa: E402
    JournalTailer,
)


def main():
    n_ops = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    md_out = sys.argv[2] if len(sys.argv) > 2 else None
    n_batches = 16
    work = tempfile.mkdtemp(prefix="mor_read_amp_")
    spark = get_spark(app_name="mor-read-amp", cores=32, shuffle_partitions=32)
    cfg = EngineConfig(
        journal_path=f"{work}/journal",
        target_path=f"{work}/target",
        max_entries_per_batch=max(1, n_ops // n_batches) + 1,
        num_buckets=32,
        merge_write_mode="mor",
    )
    write_journal(
        spark,
        JournalGenConfig(n_urls=max(1000, n_ops // 20), n_ops=n_ops),
        cfg.journal_path,
        num_files=n_batches,
    )
    tailer = JournalTailer(spark, cfg)

    def timed_read():
        t0 = time.time()
        n = tailer.target.read().count()
        return round(time.time() - t0, 3), n

    rows = []
    depth = 0
    while True:
        out = tailer.run_to_head(max_batches=1)
        applied = [s for s in out if "events" in s and not s.get("skipped")]
        if not applied:
            break
        depth = max(depth, applied[-1].get("max_bucket_deltas", 0))
        secs, n = timed_read()
        rows.append((depth, secs, n))
        print(f"# depth={depth} read={secs}s rows={n}", file=sys.stderr)
    tailer.target.compact()
    secs, n = timed_read()
    rows.append((0, secs, n))
    print(f"# post-compact depth=0 read={secs}s rows={n}", file=sys.stderr)

    base = rows[-1][1] or 1e-9
    lines = [
        "",
        f"### mor read amplification vs outstanding deltas/bucket "
        f"({n_ops} ops, 32 buckets, local[32])",
        "",
        "| deltas/bucket | read() wall (s) | vs compacted base |",
        "|---|---|---|",
    ]
    for d, s, _ in rows:
        lines.append(f"| {d} | {s} | {round(s / base, 2)}x |")
    table = "\n".join(lines)
    print(table)
    if md_out:
        with open(md_out, "a") as fh:
            fh.write(table + "\n")


if __name__ == "__main__":
    main()
