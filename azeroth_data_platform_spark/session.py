"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]``; the same config block is what we would ship
to a 1000-executor cluster (AQE on, skew-join handling on, UTC session TZ so
results are reproducible across driver timezones and match external oracles).

Generated-code cache. Spark compiles each physical plan's generated Java
with Janino and caches the classes in one JVM-wide LRU of
``spark.sql.codegen.cache.maxEntries`` entries (100 by default), keyed by
source text and class loader, so a stage run by both the driver and the
executor tasks takes two entries. A daily refresh of the medallion needs
about 180 of them, so at the default the cache evicts each class before
the next refresh asks for it again, and every refresh recompiled all of
them. On the benchmark's warehouse (perfbench, 4-vCPU VM) Spark's
``CodegenMetrics`` counted 153 compiles for the warehouse build, then
177-182 on each of four consecutive daily refreshes. At
``CODEGEN_CACHE_ENTRIES`` the first refresh compiled 91 (it shares the
rest with the build) and each later day 16, the classes whose source
inlines that day's date or id literals (``plans/pipeline.py``). A later
day's refresh fell from 8.0-8.5 s to 5.1-6.0 s of JVM work CPU, about
17 ms per class not compiled. The nine serving endpoints compile 49
classes on a first pass and a few per pass after it for their literals.
1000 entries hold the whole working set with room to spare; JVM
metaspace in use after the four refreshes was 172 MB at 100 entries and
168 MB at 1000.

The setting is a static SQL conf, so it must go in ``SparkSession.builder``:
``spark.conf.set`` raises once the session exists. Spark sizes the cache
once per JVM, when it first generates code, so a session that reuses a
JVM in which an earlier session already ran queries keeps that earlier
size.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Room for the program's generated-code working set (module docstring).
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(app_name: str = "azeroth_data_platform_spark") -> SparkSession:
    """Build (or fetch) the session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver contract);
    ``spark.sql.shuffle.partitions`` is pinned to the core count locally —
    on a real cluster this would be ~2-3x total executor cores, and AQE
    coalesces small post-shuffle partitions either way.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # spill sizing: 128 MB input splits keep per-task working sets well
        # under executor memory at any SF; explicit so cluster deploys don't
        # inherit a surprising site default
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
