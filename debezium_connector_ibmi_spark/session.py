"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; on a real
cluster the same code runs unchanged via ``spark-submit --py-files``
(the builder only sets a master when none is configured).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "ibmi-cdc-engine",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Defaults follow scale-first practice: AQE on (runtime re-plan,
    skew-join splitting, partition coalescing), Arrow on (vectorized
    pandas UDF transfer), UTC session TZ (oracle comparability),
    shuffle partitions sized to cores in local mode instead of the
    200 default.

    DataFrame debugging is off
    (``spark.python.sql.dataFrameDebugging.enabled=false``). When on,
    PySpark wraps every Column function to record its Python call
    site: an active-session lookup, a conf read over py4j, a stack
    walk and two JVM calls per call, which more than doubled the
    py4j round trips of a catchup drain. What it drops is the Python
    file:line query context of an analysis error; the JVM error text
    is unchanged. Re-enable it for debugging with
    ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
    "true"}`` on the process's first session (PySpark reads the flag
    once per process, at the first Column call).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    # make this package importable in executor Python workers
    # regardless of the caller's cwd (driver sys.path edits do NOT
    # propagate to workers; PYTHONPATH does). On a real cluster the
    # same is achieved with spark-submit --py-files.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(":"):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}:{existing}" if existing else repo_root
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # scan-split sizing: default 128MB packs a journal scan into
        # too few tasks to feed 32 cores (13 tasks on a 1.6GB journal
        # measured); 32MB keeps scan parallelism >= cores at bench
        # scale while staying coarse enough at 100TB (where file
        # count, not split size, sets parallelism); override it via
        # ``extra_conf``
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        # receiver-chain discovery = min/max(seq) grouped by the
        # partition column: answerable from parquet footer stats
        # (Iceberg answers it from manifests)
        .config("spark.sql.parquet.aggregatePushDown", "true")
        # dynamic mode lets the MERGE sink atomically replace only the
        # key-buckets a batch touches (partition-pruned copy-on-write)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        # no per-Column-call Python stack capture (see docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # deliberately modest heap: oversized local-mode heaps (48g+)
        # measured 5-20s GC stalls with binary-heavy rows; 16g is
        # fast and stable at 32 threads (override via env if needed)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    # shuffle/spill directory: on a cluster each executor has local
    # SSDs; in this single-VM sandbox the lone virtual disk
    # (~400 MB/s) caps shuffle throughput and masks CPU scaling.
    # SPARK_GRAFT_LOCAL_DIR=/dev/shm/... puts shuffle files in RAM.
    if os.environ.get("SPARK_GRAFT_LOCAL_DIR"):
        local_dir = os.environ["SPARK_GRAFT_LOCAL_DIR"]
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    # Only force a master when the environment hasn't supplied one
    # (spark-submit on a cluster sets it; bare pytest does not).
    if "SPARK_MASTER" in os.environ:
        builder = builder.master(os.environ["SPARK_MASTER"])
    elif not os.environ.get("SPARK_SUBMIT_DEPLOY_MODE"):
        builder = builder.master(f"local[{cores}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread(df: DataFrame) -> DataFrame:
    """``df`` round-robin repartitioned across the session's default
    parallelism, for relations whose dominant cost is per-row map work
    (md5-per-shingle signatures, gram builds, BPE merges, per-vector
    norms and sign codes). The testdata tables are ONE
    single-row-group parquet file each, so their scan is ONE split
    (maxPartitionBytes cannot split inside a row group) and every map
    stage before the first exchange would run on one core.

    The spread is unconditional, and it is not free: ``repartition(n)``
    plans a RoundRobin Exchange that shuffles every row, so an input
    already split into >= cores partitions pays one extra full
    shuffle for nothing. (Asking ``df.rdd.getNumPartitions()`` first
    costs a planning pass per call.) Works on streaming DataFrames
    too."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
