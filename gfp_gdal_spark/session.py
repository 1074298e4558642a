"""SparkSession factory with the engine's tuned defaults.

Local-mode defaults target the sandbox (local[N], single JVM); the
same conf block is what we'd pass to spark-submit on a real cluster —
AQE on, skew-join on, Arrow on, shuffle partitions sized to
parallelism instead of the stock 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(phys_bytes: int) -> str:
    """Driver heap default for a host with ``phys_bytes`` of physical
    memory: half of it, capped at 16g. Bigger is not better: a 48g heap
    showed multi-second GC spirals on the 1.6M-group aggregate (runs
    degraded 5s -> 47s); 16g is stable."""
    return f"{min(16 * 1024, phys_bytes // 2**21)}m"


def get_spark(
    app: str = "gfp_gdal_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # 2x cores: enough tasks for AQE coalescing headroom without
        # tiny-task overhead at sandbox scale. On a 1000-executor
        # cluster this knob scales with total cores (set via submit conf).
        shuffle_partitions = max(2 * cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 4096, not the stock 10000: multi-MB Arrow batches in many
        # concurrent Python workers trigger allocator large-extent
        # mmap/madvise churn (kernel-dominated walls measured at 32
        # workers); ~4-8MB batches sidestep it with no throughput cost.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # the heap must fit the host, and bigger is not better (see
        # default_driver_memory). On a real cluster this is executor
        # memory and the same lesson applies: size it to the working set.
        .config(
            "spark.driver.memory",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM",
                default_driver_memory(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")),
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # ANSI off: the engine relies on wrap-around 64-bit hash arithmetic
        # (splitmix64-style) staying an expression, not an error.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, str(v))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
