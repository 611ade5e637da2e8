"""SparkSession factory tuned for the crawl/analytics engine.

Design notes (100 TB posture):
  * AQE on — runtime coalescing of shuffle partitions + skew-join splitting
    (the reference has one mega-host dominating the frontier, SURVEY §2.10 C6).
  * Arrow on — every Python crossing is a vectorized pandas UDF batch.
  * shuffle.partitions defaults to 2×cores locally; on a real cluster this is
    overridden by AQE's coalescing from the initial 'auto' anyway.
  * No collect-driven logic anywhere in the library; the session factory is
    the only place that knows about local[] at all.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "price_crawler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` only matters in this sandbox (local mode); on a cluster the
    master URL comes from spark-submit and this argument is ignored.
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cores, 8)

    # Python workers don't inherit driver-side sys.path edits; make sure the
    # package root reaches them (the spark-submit equivalent is --py-files).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cores}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # a crawl wave generates ~100 classes; with Spark's default codegen
        # cache of 100 entries they evicted each other, and every steady
        # wave recompiled most of them (measured with `bench.py --engine`,
        # see CHANGES.md). A static conf, so it is set at session start.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # G1 (Java 17's default) — an earlier round pinned ParallelGC from a
        # small A/B, but event-log task metrics at 32 cores show ParallelGC
        # melting down under the canonicalize/shuffle allocation rate:
        # 54 s + 99 s of summed stage GC and 22.8 s job wall vs G1's ~3 s GC
        # and 11.6 s wall on the identical job (tools/profile_scaling.py).
        # GC pause wall-time is parallelism-INDEPENDENT serial time, so it
        # was also the main reason measured N->4N scaling efficiency capped
        # near 0.5. Overridable for GC experiments.
        .config("spark.driver.extraJavaOptions",
                os.environ.get("SPARK_GRAFT_JVM_OPTS", "-XX:+UseG1GC"))
        # shuffle to RAM-backed storage in this sandbox (single-disk box —
        # spinning shuffle through / makes every scaling number disk-bound;
        # a real cluster spreads shuffle over many local disks)
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Read driver parquet tables; returns a dict name -> DataFrame."""
    if not names:
        names = (
            "region",
            "nation",
            "customer",
            "supplier",
            "part",
            "orders",
            "lineitem",
            "events",
            "documents",
            "embeddings",
        )
    return {n: spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names}
