"""SparkSession factory with scale-oriented defaults.

Tuned for correctness-parity with the DuckDB oracle (UTC session
timezone, ANSI SQL) and for the 100 TB design point (AQE on, skew-join
splitting, Arrow batches for pandas UDFs).  On a real cluster the same
builder is used via ``spark-submit --py-files``; only ``master`` and the
shuffle-partition count change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "gfwspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master=None`` does NOT set a master at all: under spark-submit
    the launcher's --master (yarn/k8s/standalone) wins, which is the
    cluster contract — a builder .master() call would silently override
    it and run the job local on the driver node.  Standalone scripts
    and tests get local[$SPARK_GRAFT_CPUS] only when no master is
    configured anywhere.  Defaults fit the host: the process's CPU set
    and half of physical RAM for the driver ($SPARK_GRAFT_DRIVER_MEM
    overrides).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    # local mode runs every task inside the driver: half of RAM
    half_ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21

    b = SparkSession.builder.appName(app_name)
    if master is not None:
        b = b.master(master)
    else:
        # local fallback ONLY when no launcher already provided a
        # master (spark-submit --master lands in the JVM SparkConf as
        # a system property; .master() here would override it)
        try:
            from pyspark import SparkConf

            has_master = SparkConf().contains("spark.master")
        except Exception:
            has_master = False
        if not has_master:
            b = b.master(f"local[{cpus}]")
    b = (
        b
        # Oracle parity: DuckDB computes in UTC wall-clock.
        .config("spark.sql.session.timeZone", "UTC")
        # Runtime re-planning: partition coalescing + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transfer for every pandas UDF / applyInPandas kernel.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Keep scans right-sized: at 100 TB this is the knob that sets
        # task granularity; 128 MB is the classic sweet spot.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{half_ram_mb}m"),
        )
        .config("spark.ui.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    return b.getOrCreate()
