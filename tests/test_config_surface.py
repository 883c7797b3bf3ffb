"""The library's configuration surface: the environment variables it reads,
the crawl runner's constructor options and its admission methods. A new
default-off toggle or a second admission path fails here instead of
slipping in unmeasured."""

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


def test_runner_has_one_admission_path_per_shape():
    """Requests enter through admit_requests (per-seed, with sitemap
    seeding) or seed_frontier_bulk_many (a fleet's prebuilt seed frontier);
    no second path writes the same tables."""
    assert not hasattr(CrawlRunner, "admit_requests_bulk")
    assert not hasattr(CrawlRunner, "seed_frontier_bulk")
    assert hasattr(CrawlRunner, "admit_requests")
    assert hasattr(CrawlRunner, "seed_frontier_bulk_many")
