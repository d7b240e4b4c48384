"""SparkSession factory with the engine's standard configuration.

The reference hand-tunes Giraph knobs in ``java/giraph-site.xml`` (worker
count, thread counts, message encoding); our analog is a small set of Spark
confs chosen for the iterative gather-scatter workload:

- AQE on (runtime re-plan, skew-join splitting),
- Arrow on (``toPandas`` collects through Arrow, and the Arrow batch size
  bounds each ``mapInPandas`` batch of the multimodal operators),
- UTC session timezone (determinism + DuckDB-oracle comparability),
- shuffle partitions sized to cores (iterative jobs re-shuffle every
  superstep; 200 default partitions would dominate wall time at test scale),
- a codegen cache that holds every generated class a run uses
  (:data:`CODEGEN_CACHE_ENTRIES`). Spark keeps 100 by default, but one warm
  risk-propagation run uses about 109 distinct generated classes and one
  warm graph run (contacts, ids, PageRank, CC, LPA, triangles) about 195,
  so at the default every repeat run recompiled most of them (72 and 190
  compilations of ~8 ms each). Each retained class costs about 4 KB of
  metaspace; the working sets above add 0.3-0.8 MB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ``spark.sql.codegen.cache.maxEntries``: the engine's per-run working set
#: (~195 generated classes for a graph run) with headroom for a long session
#: that mixes pipelines and driver queries; static, so set at session start
CODEGEN_CACHE_ENTRIES = 2000


def _default_driver_memory() -> str:
    """Half of physical RAM, capped at 24g."""
    ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    return f"{max(1024, min(24 * 1024, ram_mb // 2))}m"


def get_spark(
    app_name: str = "sharetrace-giraph-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default: the
    usable CPU count). ``shuffle_partitions`` defaults to the local core
    count so each superstep's exchange matches the executor slots. Driver
    memory is ``$SPARK_GRAFT_DRIVER_MEM`` (default: half of physical RAM,
    capped at 24g).
    """
    # CPUs this process may run on: its affinity mask, not the host's cores
    usable_cpus = len(os.sched_getaffinity(0))
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", str(usable_cpus))
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; local[*] → usable cpu count
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else "*"
        shuffle_partitions = usable_cpus if inner == "*" else int(inner)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # iterative gather-scatter joins are hash-partitioned equi joins on
        # vertex ids; a sort-merge join would re-sort the (static) edge side
        # every superstep — prefer shuffled hash join, Giraph-style
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_compilations(spark: SparkSession) -> int:
    """Generated classes this JVM has compiled so far (codegen cache
    misses): Spark's ``CodegenMetrics`` compile-time histogram count."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
