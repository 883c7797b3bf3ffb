"""The library's configuration surface: the environment variables it reads
and the crawl runner's constructor options. A new default-off toggle fails
here instead of slipping in unmeasured."""

from __future__ import annotations

import inspect
import re
from pathlib import Path

import my_crawler_spark
from my_crawler_spark.plans.crawl_plan import CrawlRunner

ALLOWED_ENV = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_UI",
    "SPARK_GRAFT_MOR_COMPACT",
    "SPARK_GRAFT_PROFILE",
    "SPARK_GRAFT_OVERLAP_FRONTIER",
    "SPARK_GRAFT_ASYNC_CHUNKS",
}


def test_env_names_are_the_allowlist():
    pkg = Path(my_crawler_spark.__file__).parent
    found = {
        name
        for path in pkg.rglob("*.py")
        for name in re.findall(r"SPARK_GRAFT_[A-Z_]+", path.read_text())
    }
    assert found == ALLOWED_ENV


def test_runner_has_no_single_value_options():
    """Broadcast thresholds and extract salting are module constants or
    operator arguments, not runner options every caller leaves alone."""
    params = set(inspect.signature(CrawlRunner.__init__).parameters)
    assert not params & {
        "broadcast_round_ctl", "round_ctl_broadcast_rows",
        "robots_broadcast_threshold", "skew_salt",
    }
