"""Two-cluster-size scaling protocol (north rule: throughput scaling
efficiency >= 0.8 from N to 4N executors).

Sandbox realization: no real cluster exists, so each "cluster size"
is an OS-pinned slice of this machine — ``taskset -c 0..N-1`` around
a fresh ``local[N]`` JVM, with driver memory scaled at 2g/core and
``spark.sql.shuffle.partitions = 4*N``. Pinning matters: without it,
Python UDF workers and JVM GC threads of a "2-core" run silently use
extra host cores (exactly what a real cluster's cgroup would forbid),
inflating the small-N baseline. Default levels are N=2 vs 4N=8 so
both slices have full CPU headroom on the 32-core host; a single
shared JVM heap at 32 threads adds memory/GC contention that separate
executors would not have (measured: task CPU time doubles at 32
threads) — that is a single-box artifact, not an engine property.

Reports BOTH run-level throughput (includes one-time receiver-chain
discovery) and steady-state apply throughput (batch seconds only),
with efficiency = (tput_4N / tput_N) / 4 for each.

Usage: python scripts/bench_scaling.py [n_ops] [out_md] [N] [fourN]
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import json, os, sys, time
sys.path.insert(0, os.environ["IBMI_REPO"])
from debezium_connector_ibmi_spark.config import EngineConfig
from debezium_connector_ibmi_spark.session import get_spark
from debezium_connector_ibmi_spark.streaming.engine import JournalTailer

cpus = int(os.environ["IBMI_CPUS"])
journal = os.environ["IBMI_JOURNAL"]
target = os.environ["IBMI_TARGET"]
journal_format = os.environ.get("IBMI_FORMAT", "columnar")
merge_mode = os.environ.get("IBMI_MERGE_MODE", "cow")
n_batches = int(os.environ.get("IBMI_BATCHES", "1"))
total_span = int(os.environ["IBMI_SPAN"])

spark = get_spark(app_name=f"scale-{cpus}", cores=cpus,
                  shuffle_partitions=cpus * 4)
cfg = EngineConfig(
    journal_path=journal, target_path=target,
    max_entries_per_batch=total_span // n_batches + 1,
    num_buckets=32,
    journal_format=journal_format,
    merge_write_mode=merge_mode,
)
tailer = JournalTailer(spark, cfg)
# JVM/codegen warmup before the measured window: a real cluster's
# executors are long-running (already warm) when a job lands on them;
# an unwarmed first action charges ~3s of one-time JIT/codegen init to
# whichever level runs it, which is pure protocol noise in a ratio.
# Same practice as bench.py's warmup before the headline queries.
spark.range(1_000_000).selectExpr("sum(id)").collect()
t0 = time.time()
stats = tailer.run_to_head()
wall = time.time() - t0
events = sum(s.get("events", 0) for s in stats)
batch_secs = sum(s.get("secs", 0) for s in stats)
print(json.dumps({"cpus": cpus, "wall_sec": wall, "batch_sec": batch_secs,
                  "events": events,
                  "events_per_sec_wall": events / wall,
                  "events_per_sec_batch": events / batch_secs,
                  "batches": len(stats)}))
"""


def run_level(
    cpus: int, journal: str, span: int, workdir: str, fmt: str = "columnar",
    merge_mode: str = "cow",
) -> dict:
    env = {
        **os.environ,
        "IBMI_FORMAT": fmt,
        "IBMI_MERGE_MODE": merge_mode,
        "IBMI_REPO": REPO,
        "IBMI_CPUS": str(cpus),
        "IBMI_JOURNAL": journal,
        "IBMI_TARGET": f"{workdir}/target_{cpus}",
        "IBMI_SPAN": str(span),
        # per-core-constant memory, like fixed-size cluster executors
        "SPARK_GRAFT_DRIVER_MEM": f"{2 * cpus}g",
        # shuffle in RAM: the single virtual disk is not the cluster
        # topology being modeled (each real executor has local SSDs)
        "SPARK_GRAFT_LOCAL_DIR": f"/dev/shm/ibmi_scaling_{os.getpid()}_{cpus}",
    }
    shutil.rmtree(env["IBMI_TARGET"], ignore_errors=True)
    cwd = f"{workdir}/cwd_{cpus}"
    os.makedirs(cwd, exist_ok=True)
    out = subprocess.run(
        ["taskset", "-c", f"0-{cpus - 1}" if cpus > 1 else "0",
         sys.executable, "-c", WORKER],
        env=env,
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=3600,
    )
    line = out.stdout.strip().splitlines()[-1]
    return json.loads(line)


def main():
    n_ops = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    out_md = sys.argv[2] if len(sys.argv) > 2 else None
    n_small = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    n_big = int(sys.argv[4]) if len(sys.argv) > 4 else 8
    fmt = sys.argv[5] if len(sys.argv) > 5 else "columnar"
    # optional 7th arg: merge write mode (cow default; "mor" measures
    # the round-5 delta-append hot path under the same protocol)
    merge_mode = sys.argv[6] if len(sys.argv) > 6 else "cow"
    assert n_big == 4 * n_small, "protocol is N vs 4N"

    work = tempfile.mkdtemp(prefix="ibmi_scaling_")
    gen_code = f"""
import sys, os
sys.path.insert(0, {REPO!r})
from debezium_connector_ibmi_spark.datagen.journal import JournalGenConfig, write_journal
from debezium_connector_ibmi_spark.session import get_spark
spark = get_spark(cores=32, shuffle_partitions=32)
gen = JournalGenConfig(n_urls={n_ops}//20, n_ops={n_ops}, txn_size=500,
                       receiver_rotation={n_ops}//8, skew=2.0,
                       html_bulk_repeat=60)  # ~2KB payloads (realistic pages)
write_journal(spark, gen, {work!r} + "/journal", num_files=32)
if {fmt!r} == "binary":
    from debezium_connector_ibmi_spark.sources.journal_source import (
        read_journal, write_binary_journal)
    write_binary_journal(read_journal(spark, {work!r} + "/journal"),
                         {work!r} + "/journal_bin", num_files=32)
"""
    gcwd = f"{work}/cwd_gen"
    os.makedirs(gcwd, exist_ok=True)
    subprocess.run(
        [sys.executable, "-c", gen_code], check=True, cwd=gcwd,
        capture_output=True, text=True, timeout=3600,
    )
    span = n_ops * 6  # seq slots per op
    journal_dir = f"{work}/journal_bin" if fmt == "binary" else f"{work}/journal"

    # two alternating trials per level (fresh pinned JVM each),
    # best-of to damp sandbox CPU noise
    trials: dict[int, list] = {n_small: [], n_big: []}
    for _trial in range(2):
        for cpus in (n_small, n_big):
            trials[cpus].append(
                run_level(cpus, journal_dir, span, work, fmt, merge_mode)
            )
    for cpus in (n_small, n_big):
        shutil.rmtree(f"/dev/shm/ibmi_scaling_{os.getpid()}_{cpus}", ignore_errors=True)
    rs = max(trials[n_small], key=lambda r: r["events_per_sec_wall"])
    rb = max(trials[n_big], key=lambda r: r["events_per_sec_wall"])
    eff_wall = (rb["events_per_sec_wall"] / rs["events_per_sec_wall"]) / 4.0
    eff_batch = (rb["events_per_sec_batch"] / rs["events_per_sec_batch"]) / 4.0
    result = {
        "n_ops": n_ops,
        "merge_mode": merge_mode,
        "levels": [n_small, n_big],
        "small": rs,
        "big": rb,
        "scaling_efficiency_wall": round(eff_wall, 3),
        "scaling_efficiency_batch": round(eff_batch, 3),
    }
    print(json.dumps(result))
    if out_md:
        with open(out_md, "a") as fh:
            fh.write(
                f"\n## Scaling run (n_ops={n_ops}, format={fmt}, "
                f"merge={merge_mode}, ~2KB payloads, "
                f"taskset-pinned local[{n_small}] vs local[{n_big}], "
                f"2g/core, shuffle=4x cores, tmpfs shuffle dirs, "
                f"warmed JVM [protocol v2])\n\n"
                f"| level | wall s | apply s | events | ev/s (wall) |"
                f" ev/s (apply) |\n|---|---|---|---|---|---|\n"
                f"| local[{n_small}] | {rs['wall_sec']:.1f} |"
                f" {rs['batch_sec']:.1f} | {rs['events']} |"
                f" {rs['events_per_sec_wall']:.0f} |"
                f" {rs['events_per_sec_batch']:.0f} |\n"
                f"| local[{n_big}] | {rb['wall_sec']:.1f} |"
                f" {rb['batch_sec']:.1f} | {rb['events']} |"
                f" {rb['events_per_sec_wall']:.0f} |"
                f" {rb['events_per_sec_batch']:.0f} |\n\n"
                f"efficiency (T_4N/T_N)/4: wall **{eff_wall:.3f}**, "
                f"steady-state apply **{eff_batch:.3f}**\n"
            )


if __name__ == "__main__":
    main()
