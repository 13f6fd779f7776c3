"""SparkSession factory tuned for this engine.

Local test profile runs on ``local[N]`` (single JVM); the same settings
scale to a real cluster — AQE handles runtime re-planning (partition
coalescing, skew-join splitting), shuffle partitions default to core
count locally and should be raised to ~2-3x total cores on a cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def _default_driver_memory() -> str:
    """Half the box's physical memory, in whole GiB, capped at 16g: the
    heap must leave room for the JVM's off-heap memory, the Python
    workers and the calling process. A fixed 16g heap on a 15 GB box
    let one test run grow to 13.5 GB RSS and be OOM-killed."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(16, phys // 2**31))}g"


def get_spark(
    app_name: str = "blockchain_indexer_spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    UTC session timezone is pinned so timestamp semantics match the
    DuckDB oracle (naive-UTC) and stay deterministic across hosts.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Round 10: back to Spark's default 1m floor. Round 9 lowered
        # this to 64k for CPU-heavy micro-shuffles, but the driver's
        # round-9 record showed the overhead-bound iterative paths
        # regressing at local[32] (graph_supplier_pagerank 2.41 ->
        # 7.05 s), and two independent round-10 interleaved A/Bs
        # (min-of-3 and min-of-4, alternating order, one JVM;
        # OPTIMIZATION_r10.md) found NO remaining 64k winner — pagerank
        # 4.8-5.7 s @64k vs 3.1-3.5 s @1m, and the former winners
        # (doc_dedup_clusters 4.5 vs 5.2, ngram_jaccard 3.3 vs 3.5,
        # mm_cross_modal 6.2 vs 7.6, event_sessionization wash) now
        # favor the default: the round-9 union-find collapse + engine
        # overlap removed the micro-shuffle stages the 64k floor was
        # widening, leaving only its tiny-task scheduling cost.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Testdata writes TIMESTAMP(NANOS) parquet, which Spark rejects;
        # read as long ns-since-epoch, converted in sources.parquet.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # Janino compiles are cached per JVM in an LRU keyed by the
        # generated source; Spark's default holds 100 classes. One live
        # micro-batch round (promote, classify, extract, 9 appends,
        # cache refresh) generates ~270, so the default cache thrashed
        # and every steady-state round recompiled all of them (~270
        # compiles of ~11 ms, ~3 s per round, counted through
        # CodegenMetrics on 4 cores). At 4000 a warm round compiles
        # 4 classes; the kept classes cost ~10 MB of driver memory.
        # Static conf: it only takes effect in a fresh JVM.
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        # A whole-stage class is named after its codegen stage id, which
        # AQE assigns in the order it plans query stages, so the same
        # stage of the same plan can get a new id (and a cache miss)
        # when concurrent stages finish in another order. Without the
        # id in the name, three same-shape rounds of the test fixture
        # chain compiled 60 classes instead of 118-120 in the second
        # round and 4 (the ones its new literals need) instead of 4-8
        # in the third, in every run.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
