"""SparkSession factory for the crawl/search workload.

``get_spark`` sets only what differs from Spark's defaults (adaptive
execution, its partition coalescing and skew-join splitting, runtime bloom
filters, 128 MiB file splits and 10k-row Arrow batches are all defaults;
``tests/test_config_surface.py`` fails on a setting that restates one).
Each setting says why it departs from the default.
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

    Spark's adaptive execution (on by default) coalesces small shuffle
    partitions at runtime, so ``shuffle_partitions`` is an upper bound:
    about 2-3x the total cores, and AQE coalesces below it.
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
        # Spark's default of 200 is far above the cores of a local[N] run
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for createDataFrame(pandas) and toPandas (off by default);
        # the pandas UDF stages use Arrow regardless
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast threshold 64 MiB instead of 10 MiB: the robots,
        # domain_ranks and politeness_budget dims stay broadcast at larger
        # host counts when AQE picks a join from measured sizes
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spark's default is the JVM's host time zone
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
