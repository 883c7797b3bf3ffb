from __future__ import annotations

import pytest

from my_crawler_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    import os

    # the suite runs hundreds of crawl rounds in ONE JVM; 8g sat at ~98%
    # heap by the time test_frontier's resume test ran (broadcast builds
    # failed with "Not enough memory to build and broadcast"), so give the
    # shared test JVM up to 16g — but at most half the host's RAM: a heap
    # near the host's size lets the JVM grow until the kernel's OOM killer
    # ends it, and every test after that fails
    ram_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{min(16, -(-ram_mib // 2048))}g")
    # the status store keeps every job, stage, task and SQL execution (with
    # its plan) of the session on the driver heap, UI or not; nothing in the
    # suite reads that history, so keep only a short tail of it
    s = get_spark(
        "my_crawler_spark-tests", master="local[4]", shuffle_partitions=4,
        extra_conf={
            "spark.sql.ui.retainedExecutions": "50",
            "spark.ui.retainedJobs": "100",
            "spark.ui.retainedStages": "100",
            "spark.ui.retainedTasks": "10000",
        },
    )
    yield s


@pytest.fixture(scope="module", autouse=True)
def _reclaim_jvm_memory():
    """Drop any caches a module leaked (iterative-query caches, runner state)
    so a long single-process suite can't accumulate JVM heap across modules
    (the round-1 resume-test flake). The System.gc() nudge matters: Spark's
    ContextCleaner frees broadcast blocks only after the JVM collects the
    dead references, and hundreds of per-round broadcasts otherwise linger
    until an allocation failure."""
    yield
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.catalog.clearCache()
        try:
            s.sparkContext._jvm.System.gc()
        except Exception:
            pass


@pytest.fixture(scope="session")
def fixtures():
    from my_crawler_spark.fixtures import make_all

    return make_all(seed=42, n_hosts=8, n_pages=200)
