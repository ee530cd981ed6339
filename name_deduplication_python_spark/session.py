"""SparkSession factory tuned for the dedup engine.

Local-mode testing uses ``local[N]`` threads; the same config block is what
we'd pass to ``spark-submit --py-files`` on a real cluster (AQE on, skew
join on, Arrow on). Replaces the reference's ``multiprocessing.Pool``
parallelism (/root/reference/analysis_engine.py:459-469) with Spark tasks.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap default: half of the host's MemTotal, capped at 24g
    (24g when MemTotal cannot be read). A heap past the host's memory
    lets the JVM grow until the kernel kills it instead of collecting."""
    try:
        with open(meminfo) as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "24g"
    return f"{min(kb // 2048, 24 * 1024)}m"


def get_spark(
    app_name: str = "name_dedup_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: local[] thread count; default $SPARK_GRAFT_CPUS or '*'.
    shuffle_partitions: default = cores (local mode: no reason for 200).
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(8, n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate synthesizes `size(e) > 0 AND
        # isnotnull(e)` below every explode(e) and pushes it toward the
        # scan; when e is a COMPUTED array (md5 gram featurization, the
        # 25-slice band-hash array) the whole construction is re-evaluated
        # up to twice more per row — measured 3x the md5 featurize cost in
        # the DSIR/LM/KL queries (plan showed md5 6x instead of 2x) and a
        # duplicate band-hash pass under the LSH explode. The filter only
        # ever drops empty-array rows that explode() drops anyway — pure
        # overhead for every generator this engine plans.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 512-row Arrow batches keep the signature kernel's working set
        # L3-resident and overlap the JVM producer with the Python
        # consumer: measured 101s -> 65s at local[2], 34.5s -> ~18s at
        # local[8] on the 680k-page corpus vs 4096-row batches
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # small-file inputs must still fan out to all cores: the default
        # 128MB maxPartitionBytes collapses a ~1GB corpus to ~8 scan
        # partitions, serializing the pandas-UDF stages (measured: extract
        # took 107s at BOTH local[8] and local[32] before this)
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(1 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
