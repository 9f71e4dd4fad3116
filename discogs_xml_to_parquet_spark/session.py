"""SparkSession construction with scale-oriented defaults.

These settings are chosen for the 100 TB / 1000-executor design target
and merely *also* work on local[N]:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy demotion are the main levers that keep a
  static plan healthy at 100x the data.
- Broadcast threshold raised: the dimension tables of a star schema
  (region/nation/customer-sized) must never shuffle the fact table.
- Arrow enabled: every Python-boundary crossing (pandas UDFs, toPandas)
  is Arrow-batched, never row-at-a-time pickling.
- Codegen cache sized to the engine's working set: a long-lived session
  reuses its compiled classes instead of recompiling them every pass.
  Measured distinct classes per pass: 131 (perfbench headline mix),
  483 (bench.py's 31-query headline), 2,541 (the whole registry). A
  second registry pass still compiled 44: AQE numbers whole-stage
  classes in the order its query stages finish, so a query whose
  stages can finish in another order compiles a renamed twin of a
  cached class (CHANGES.md names the queries).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(app_name: str = "discogs-xml-to-parquet-spark",
              master: str | None = None,
              shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.session.timeZone", "UTC")
        # Long-lived sessions (the bench runs ~200 queries in one JVM;
        # a notebook or job server does the same) accumulate
        # localCheckpoint RDD blocks: the ContextCleaner only frees a
        # block after a DRIVER GC collects its RDD handle, and the
        # default periodic-GC interval (30 min) is longer than an
        # entire bench run -- storage fills, later heavy queries pay
        # eviction + old-gen pressure (measured: setsim's sf1 wall
        # climbing 25 -> 40 s across repeats in one session while
        # fresh sessions held ~13 s flat). 90 s bounds the dead-block
        # window at a negligible System.gc() cost.
        .config("spark.cleaner.periodicGC.interval", "90s")
        # Cached staging frames keep their partitioning CONTRACT
        # (Spark 3.5 flipped this to true, letting AQE re-coalesce a
        # cached plan's output and erase its hash-partitioning):
        # graph_iter persists the src-partitioned edge list precisely
        # so every unrolled PageRank round's join and aggregate can
        # consume it exchange-free -- with the default, every consumer
        # sees UnknownPartitioning and re-shuffles O(edges) per round
        # (the r12 4.79x sf1 ratio). The cost is AQE not re-coalescing
        # inside cached plans, which staged frames don't want anyway.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "false")
        # Compiled whole-stage / projection classes live in an LRU keyed
        # by generated source; the default bound (100) is below one pass
        # of any real mix, so every pass evicted what it needed next and
        # recompiled all of it. Measured distinct classes per pass: the
        # perfbench headline mix (4 queries) 131, bench.py's 31-query
        # headline (sf0.01) 483, the whole registry (sf0.001) 2,541.
        # 4096 holds the registry with 1.6x headroom; full, it cost 63 MB
        # more heap after GC (219 vs 156 MB after one registry pass).
        # Static conf: it must be set before the first session starts.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    return builder.getOrCreate()
