"""Focused optimization-bench harness (round 7).

``bench.py`` is FROZEN for measurement; this file hosts the extra
instrumentation guide §1 calls for: per-query isolation with the same
count()/noop methodology bench.py uses, repeat support, job labels,
and optional sub-blocks (10x corpora). The CDC apply path is measured
by ``perfbench/run.py``. Usage:

  python bench_extra.py q doc_dup_spans doc_substring_dedup   # sf0.1
  python bench_extra.py q10 doc_dup_spans                     # 10x docs
  python bench_extra.py emb10 emb_semantic_dedup              # 10x vecs
  REPEAT=3 python bench_extra.py q ...

Prints one line per (query, repeat): name, seconds, rows.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPEAT = int(os.environ.get("REPEAT", "1"))

if "SPARK_GRAFT_LOCAL_DIR" not in os.environ and os.path.isdir("/dev/shm"):
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = f"/dev/shm/ibmi_benchx_{os.getpid()}"

MATERIALIZE_FULL = {"doc_substring_dedup"}

# Calibration anchor (round 7, VERDICT r6 #6): a FROZEN pure-CPU
# query — 64M rows through a fixed xxhash64->md5-prefix chain and one
# global agg, no input IO, shape-independent of the engine code under
# test. Its wall time measures the host (CPU + scheduler noise), so
# BENCH-to-BENCH comparisons can be drift-normalized:
#   normalized_sec = raw_sec * (CAL_REFERENCE_SEC / calibration_sec).
# CAL_REFERENCE_SEC pins the anchor's cost on the round-7 measurement
# host at quiet load; the constant only matters for cross-round
# ratios, not within-run comparisons. bench.py is frozen for
# measurement, so the anchor lives here — run `python bench_extra.py
# cal` next to any bench.py run and record both numbers.
CAL_ROWS = 64_000_000
# round-7 quiet-host anchor (load < 2, no co-tenant): 1.647s. The
# same anchor measured 2.695s under load-8 co-tenant noise — a 1.64x
# drift on PURE CPU, which is exactly the adjudication gap VERDICT r6
# flagged between BENCH_r05 and BENCH_r06.
CAL_REFERENCE_SEC = 1.647


def calibrate(spark, repeats: int = 3) -> float:
    from pyspark.sql import functions as F

    best = float("inf")
    for _ in range(repeats):
        spark.sparkContext.setJobDescription("calibration anchor")
        t0 = time.time()
        (
            spark.range(CAL_ROWS)
            .select(
                F.conv(
                    F.substring(
                        F.md5(F.xxhash64("id").cast("string")), 1, 8
                    ),
                    16,
                    10,
                ).cast("long").alias("h")
            )
            .agg(F.sum("h"))
            .collect()
        )
        best = min(best, time.time() - t0)
    return best


def main():
    from debezium_connector_ibmi_spark.queries import all_queries
    from debezium_connector_ibmi_spark.session import get_spark

    mode = sys.argv[1]
    names = sys.argv[2:]
    spark = get_spark(
        app_name="ibmi-bench-extra", cores=CPUS, shuffle_partitions=CPUS
    )
    from pyspark.sql import functions as F

    spark.range(1000).select(F.sum("id")).collect()
    qs = all_queries()

    if mode == "cal":
        print(f"calibration_sec: {calibrate(spark):.3f}", flush=True)
        return

    sf = SF_DIR
    work = None
    try:
        if mode == "q10":
            import bench

            work = tempfile.mkdtemp(prefix="ibmi_benchx_10x_")
            bench.synth_docs_10x(spark, SF_DIR, work)
            sf = work
        elif mode == "emb10":
            import bench

            work = tempfile.mkdtemp(prefix="ibmi_benchx_emb10x_")
            bench.synth_embeddings_10x(spark, SF_DIR, work)
            sf = work
        for name in names:
            for r in range(REPEAT):
                spark.sparkContext.setJobDescription(f"{mode}/{name}#{r}")
                t0 = time.time()
                df = qs[name](spark, sf)
                if name in MATERIALIZE_FULL:
                    df.write.format("noop").mode("overwrite").save()
                    n = "all-cols"
                else:
                    n = df.count()
                print(
                    f"{mode}/{name}#{r}: {time.time() - t0:.3f}s ({n} rows)",
                    flush=True,
                )
    finally:
        if work:
            shutil.rmtree(work, ignore_errors=True)
        ld = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "")
        if ld.startswith("/dev/shm/"):
            shutil.rmtree(ld, ignore_errors=True)


if __name__ == "__main__":
    main()
