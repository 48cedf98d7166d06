"""SparkSession factory with the engine's scale-oriented defaults.

Defaults chosen for the 100 TB design point, applied equally at local[32]:
AQE on (runtime re-plan + skew-join splitting), Arrow enabled for every
pandas-UDF stage (no per-row Python, per north_rule), shuffle partitions
scaled with parallelism.

The generated-class cache (``spark.sql.codegen.cache.maxEntries``, a static
conf) holds 1000 entries instead of Spark's 100.  An entry is one compiled
source text per class loader, so a whole-stage class the driver compiles
and a task compiles again takes two.  A crawl session's working set is
larger than 100 entries, so with the default the least-recently-used
entries were dropped and recompiled in every crawl: about 99 compiles per
warm ``bfs_payload`` crawl and 210 per ``polite_resume`` crawl
(``perfbench/`` workloads), and about 110 in every superstep of a 10-pop
best-first crawl.  Measured on a 4-vCPU VM:

  - working set: one session running both bench workloads (set-up,
    warm-up, 8 crawls and 3 decodes each, reference jobs) compiled
    420-433 entries (about 900 classes) with a cache too large to evict;
    one best-first crawl compiles about 235;
  - class size: 2.0 KB mean, 9.9 KB max bytecode; an entry's source text
    4.2K characters mean, 15.6K max;
  - size: at 250 entries a repeated crawl of either workload compiled 0,
    but the session compiled 449 entries, so it evicted between
    workloads; at 500, 1000, 2000, 4000 and 100000 it compiled the same
    418-433, so 500 is the smallest tested size that holds the session.
    The cache is 4 LRU segments of maxEntries/4 that fill unevenly by
    hash, so 1000 gives each segment about twice the ~110 entries it
    gets;
  - memory: entries of 42K source characters and four classes each (2.7x
    the largest crawl entry) cost 107-115 KB of heap and 26-33 KB of
    Metaspace apiece, so a full cache of 1000 holds at most about 150 MB.

Whole-stage classes are named without their codegen stage id
(``spark.sql.codegen.useIdInClassName=false``): AQE numbers the stages
differently from run to run, and a class whose source differs only in that
id would miss the cache and compile again.

``CrawlEngine`` logs the compiles of every superstep as
``codegen_compiles``; a repeated crawl reads 0.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "crawl4ai-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; local[*] → cpu count; else leave a cluster default.
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        if inner == "*":
            shuffle_partitions = os.cpu_count() or 32
        elif inner.isdigit():
            shuffle_partitions = int(inner)
        else:
            shuffle_partitions = 200
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
