"""SparkSession factory tuned for the crawl/search workload.

Scale stance: these configs are chosen for a 1000-executor cluster reading
~100 TB, then scaled down by env vars for local[N] testing. Every knob is
commented with the at-scale rationale, except the generated-class cache
size, which is sized from the measured working set of a crawl and its
search queries.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "my_crawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    AQE handles runtime coalescing and skew-join splitting, so
    ``shuffle_partitions`` is an upper bound, not a tuning hazard: at
    cluster scale set it to ~2-3x total cores and let AQE coalesce.
    """
    # Single-threaded BLAS in every Python process of this session's tree.
    # Spark supplies the parallelism (one worker per core); a threaded
    # OpenBLAS inside forked workers both oversubscribes the host AND is a
    # correctness hazard: workers fork from the pyspark daemon, and a
    # multi-threaded OpenBLAS GEMM in a forked child intermittently
    # computed wrong tail blocks here (observed: the same PNG's DCT phash
    # flipping 6 low bits in some worker processes — margin 0.25, far
    # beyond float noise). Env must be set before the JVM (and thus the
    # daemon) spawns; worker numpy imports read it post-fork.
    for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS",
               "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
        os.environ.setdefault(_v, "1")
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime partition coalescing + skew-join
        # splitting (hot hosts in the frontier are Zipf-skewed).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime bloom-filter pushdown helps the big url_seen anti-joins.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas UDF / mapInArrow stage (decode, phash,
        # chunker, politeness fold). Batch size bounds Python-side memory:
        # 10k rows x ~5 KiB image bytes ~= 50 MiB per batch per core.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Broadcast threshold: robots / domain_ranks / politeness_budget
        # dimension tables are small; 64 MiB keeps them broadcast even at
        # large host counts (10^7 hosts x ~60 B/row ~= 600 MB would NOT be
        # broadcast — those paths use explicit shuffle-hash joins instead).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet scans: 128 MiB splits is the sweet spot for 100 TB scans.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # Generated-class cache (static: set before the session starts). At
        # Spark's default of 100 entries the LRU evicted every class before
        # its reuse: every bulk crawl round compiled 186-193 classes, every
        # paced one 184-244, every warm search query 60-63. Measured working
        # sets on a 4-core VM: 391 classes for 3 bulk rounds plus 8 queries,
        # 558 for an 8-round paced crawl. At 1000 entries warm queries
        # compile 0-2 classes, bulk rounds 165/21/8, and metaspace does not
        # grow (177 MB after the bulk rounds and queries, 183 MB at 100).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
