"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]`` threads; the same configuration
carries to a real cluster (AQE, Arrow batching, UTC timezone are
cluster-size independent — shuffle partition count, derived from the
master, is the one setting that scales with executor count).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One Arrow batch ≈ this many rows flows through every pandas UDF;
# halves the Python<->JVM roundtrips vs 2048 (typical batch ≈ 8 MB).
# Batches are bounded by rows only: at the CLI's --max-payload-chars
# 1048576 one batch can carry ~4 GiB of text, past Arrow's int32 string
# offsets — ROADMAP item 8 (byte-bounded batches) adds the byte bound.
ARROW_BATCH_ROWS = 4096


def get_spark(
    app_name: str = "docling_api_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default:
    the CPUs this process may run on) so tests, bench and the CLI agree.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    # local[N] → N; "local[*]" → os cpu count
    inner = master.split("[")[-1].rstrip("]") if "[" in master else str(cpus)
    shuffle_partitions = os.cpu_count() or 8 if inner == "*" else int(inner)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow toPandas/createDataFrame(pandas): exact_cosine_pairs
        # round-trips through pandas on the dedup_embedding_cosine path
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # list partition dirs in this process, never in a Spark job:
        # outputs live on the local filesystem the manifest's flock
        # already requires, and listing the committed run dirs (or an
        # older output's bucket=B dirs, 64 per run) with one task per dir
        # costs more than listing them here (the default threshold is 32
        # dirs)
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                str(2**31 - 1))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
