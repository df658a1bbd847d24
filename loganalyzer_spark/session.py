"""SparkSession construction with scale-appropriate defaults.

Local testing runs one JVM (local[N]); the same settings translate to a
multi-executor cluster: AQE on (runtime coalesce + skew-join splitting),
shuffle partitions sized to parallelism, Arrow enabled for every
pandas-UDF exchange, UTC session timezone so results compare exactly
against DuckDB oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def heap_mb(jvms: int = 1) -> int:
    """Heap for each of ``jvms`` JVMs sharing this host: half of physical
    RAM, capped at 16g, split evenly between them.

    The other half stays free for the Python workers and for a second
    driver on the same host (a spark-submit child, a test subprocess).
    The 16g cap comes from the retired 32-core VM, where larger heaps
    lost throughput to GC; it was not re-measured on smaller hosts."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return min(16 * 1024, phys_mb // 2) // jvms


def get_spark(
    app: str = "loganalyzer_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores=None`` -> ``local[*]``. Shuffle partitions default to the
    parallelism level: hugely oversized shuffles (the 200 default) are
    as wrong locally as undersized ones are at cluster scale.
    """
    if cores is None:
        cores_env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cores_env}]" if cores_env else "local[*]"
        n = int(cores_env) if cores_env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n = cores
    sp = shuffle_partitions if shuffle_partitions is not None else max(8, n)

    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.default.parallelism", str(max(8, n)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # heap_mb(): half of physical RAM, capped at 16g. The heap grows
        # lazily, so two drivers do not each claim theirs at launch. A
        # timed run that wants it faulted in before its first window sets
        # SPARK_DRIVER_JAVA_OPTS to "-Xms<heap> -XX:+AlwaysPreTouch", as
        # perfbench does.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", f"{heap_mb()}m"))
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", ""),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # small parquet files otherwise bin-pack into one task wave per
        # core count; multiple waves load-balance stragglers (+43% at 32
        # threads on the retired 32-core VM, not re-measured since)
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
