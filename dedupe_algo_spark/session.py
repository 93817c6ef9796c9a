"""SparkSession factory with scale-appropriate defaults.

Local sandbox runs on local[N] (single JVM); the configs below are the
ones that transfer to a real 1000-executor cluster: AQE (runtime
re-planning + skew-join splitting), Arrow for pandas-UDF transfer,
UTC session timezone (so results compare bit-identically against the
DuckDB oracle), and shuffle partitions sized to the parallelism level
instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Columns-per-Arrow-batch bound for pandas UDFs: keeps executor-side
# pandas memory bounded regardless of row width (the reference bounds
# hashing memory with a 1MB streaming buffer, scanner.rs:56; Arrow batch
# size is our analog).
ARROW_MAX_RECORDS = 10_000

# 16g, NOT the machine's full 128g: huge heaps measurably degrade this
# workload (48g heap ran the map-side UDF stage 2-3.5x slower at
# local[32] than 16g — G1 with a ~30GB young gen thrashes page faults
# under concurrent Arrow allocation), and a real cluster gives each
# executor single-digit GB anyway.
DRIVER_MEM_CAP_MB = 16 * 1024


def driver_memory(mem_total_kb: int | None) -> str:
    """Default driver heap: ``min(16g, MemTotal/4)``, or 16g when the
    machine's MemTotal is unknown. A quarter leaves room for the Python
    workers, Arrow buffers and the OS cache on a small host, where a
    16g heap on a 16 GB box gets the JVM OOM-killed."""
    if not mem_total_kb:
        return f"{DRIVER_MEM_CAP_MB}m"
    return f"{min(DRIVER_MEM_CAP_MB, mem_total_kb // 4 // 1024)}m"


def _mem_total_kb() -> int | None:
    """MemTotal from ``/proc/meminfo`` in kB; None where unreadable."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return None


def get_spark(
    app_name: str = "dedupe_algo_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]``. On a real
    cluster you would omit it and let spark-submit provide it; every
    other config below is cluster-valid.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            n = int(master.split("[")[1].rstrip("]"))
        except (IndexError, ValueError):
            n = os.cpu_count() or 8
        shuffle_partitions = max(8, n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Always use the serialized (one-spill-file-per-task) shuffle
        # writer instead of the bypass writer. The bypass writer opens
        # one file per reduce partition per map task; below the 200-
        # partition default threshold that is tens of thousands of
        # file creates per exchange, and concurrent writers serialize
        # on the filesystem journal (measured: a 2GB exchange cost 162
        # thread-seconds of write time at 32 concurrent writers vs
        # 3.5s at 8). A real cluster runs far more than 200 reduce
        # partitions and never takes the bypass path -- this makes the
        # small-parallelism config exercise the same writer the
        # cluster would.
        .config("spark.shuffle.sort.bypassMergeThreshold", "8")
        # Prefer shuffled-hash join over sort-merge when no side
        # broadcasts: the confirm stage's pair join moves ~3.6GB of
        # token arrays per 4M pages, and SMJ sorts BOTH sides — pure
        # memory movement on rows whose payload is a 3KB array, in the
        # one phase that is bandwidth-bound. SHJ builds a per-partition
        # hash map (partitions here are ~16MB) and streams the other
        # side with zero sorts. Aggregations are unaffected (hash-agg
        # already); joins that need a sorted output still get SMJ.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # zstd shuffle/spill compression (default lz4): the post-scan
        # leg is memory-bandwidth-bound, so exchange BYTES are the
        # binding resource — zstd-1 compresses the url-heavy bucket
        # rows ~35% smaller than lz4 for a negligible CPU delta, and
        # at cluster scale smaller shuffles are strictly less network.
        .config("spark.io.compression.codec", "zstd")
        .config("spark.io.compression.zstd.level", "1")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS),
        )
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or driver_memory(_mem_total_kb()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 64m scan splits (default 128m): the scan leg carries this
        # engine's heaviest compute (hash + signature UDFs), so finer
        # splits mean more waves and tighter load balance; at cluster
        # scale the extra task count is noise next to UDF cost
        .config("spark.sql.files.maxPartitionBytes", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
