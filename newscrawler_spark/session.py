"""SparkSession factory with scale-aware defaults.

Local-mode settings chosen to mirror what a 1000-executor cluster job
would set: AQE on (runtime re-plan + skew-join splitting + partition
coalescing), shuffle partitions sized to the parallelism level rather
than the 200 default, Arrow enabled for every pandas-UDF boundary, and
UTC session time so results are comparable with the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """The driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: a
    quarter of the host's physical memory, capped at 8g and at least
    1g.  In local mode the driver JVM holds every executor thread, and
    a heap larger than the host can back gets the process killed."""
    total_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 1024**3
    return f"{max(1, min(8, total_gb // 4))}g"


def get_spark(
    app_name: str = "newscrawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``), the driver heap to ``$SPARK_GRAFT_DRIVER_MEM``
    (falling back to :func:`default_driver_memory`).
    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster you would size it to ~2-3x total executor cores; the round
    loop additionally repartitions explicitly at its two shuffle
    boundaries (salted host fetch, hash-bucketed seen join).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        # local[N] → N; local[*] / local[N,maxFailures] /
        # local-cluster[...] / non-local masters → machine cores (the
        # inner token is only a thread count for the plain local[N] form)
        import re as _re

        m = _re.fullmatch(r"local\[(\d+)\]", master)
        shuffle_partitions = int(m.group(1)) if m else os.cpu_count()

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Wide rows (html ~12 KB): 2k-row Arrow batches keep per-task live
        # memory ~25 MB instead of 120 MB (GC pressure, measured on the
        # crawl bench; the cluster harness uses the same value).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Local-mode scan parallelism: with 32 threads and mid-size files
        # the 128 MB default leaves cores idle; a cluster reading 100 TB
        # keeps the default (set via extra_conf).
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.locality.wait", "0s")  # local mode: no rack/node locality to wait for
        # collect-limit over a selective filter (e.g. the robots-dim root
        # scan) otherwise runs escalating partial scans (1, 4, 16, …
        # partitions — each round mostly serial); start wide so the scan
        # is one full-parallel stage.
        .config("spark.sql.limit.initialNumPartitions", "64")
        # Batch workload: throughput GC beats G1's latency focus — measured
        # 2.2× end-to-end on the crawl bench (G1 spent 248 task-seconds in
        # GC and stalled the driver between jobs).
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
