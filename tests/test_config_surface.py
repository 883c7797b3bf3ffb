"""The library's configuration surface: the environment variables it reads,
the crawl runner's constructor options and its admission methods, plus the
rule that every library function is referenced somewhere. A new default-off
toggle, a second admission path or an orphan helper fails here instead of
slipping in unmeasured."""

from __future__ import annotations

import ast
import inspect
import os
import re
from collections import Counter
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


def _repo_sources(root: Path) -> dict[Path, str]:
    """Every ``.py`` file of the repository, minus run leftovers."""
    skip = {"spark-warehouse", ".perfbench_work", "__pycache__", ".git"}
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d not in skip]
        for name in filenames:
            if name.endswith(".py"):
                path = Path(dirpath) / name
                out[path] = path.read_text()
    return out


def test_no_unreferenced_library_functions():
    """Each top-level def/class under my_crawler_spark/ occurs as a whole
    word somewhere in the repository's Python outside its own definition,
    so a helper nothing calls is deleted rather than carried."""
    pkg = Path(my_crawler_spark.__file__).parent
    sources = _repo_sources(pkg.parent)
    words = Counter(w for text in sources.values() for w in re.findall(r"\w+", text))
    orphans = []
    for path, text in sorted(sources.items()):
        if pkg not in path.parents:
            continue
        lines = text.splitlines()
        for node in ast.parse(text).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            own = "\n".join(lines[node.lineno - 1 : node.end_lineno])
            if words[node.name] <= re.findall(r"\w+", own).count(node.name):
                orphans.append(f"{path.relative_to(pkg)}:{node.name}")
    assert not orphans, "unreferenced: " + ", ".join(orphans)
