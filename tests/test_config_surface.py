"""The library's configuration surface: the environment variables it reads,
the crawl runner's constructor options and its admission methods, plus the
rules that every library function and module constant is referenced
somewhere, every library import is used and every library thread pool is
scoped to a ``with``. A new default-off toggle, a second admission path, an
orphan helper, a dead constant, a dead import or a pool left running fails
here instead of slipping in unmeasured."""

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


def _assigned_names(stmts) -> list[tuple[str, ast.stmt]]:
    """(name, statement) for each plain name a module body assigns,
    looking inside top-level ``try`` blocks too."""
    out = []
    for node in stmts:
        if isinstance(node, ast.Try):
            for block in (node.body, *(h.body for h in node.handlers), node.orelse,
                          node.finalbody):
                out += _assigned_names(block)
            continue
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):
            targets = [node.target]
        else:
            continue
        for target in targets:
            names = target.elts if isinstance(target, ast.Tuple) else [target]
            out += [(n.id, node) for n in names if isinstance(n, ast.Name)]
    return out


def test_no_unreferenced_module_constants():
    """Each name a module under my_crawler_spark/ assigns at top level
    (``__all__`` aside) occurs as a whole word somewhere in the repository's
    Python outside its own assignments, so a constant or flag nothing reads
    is deleted rather than carried."""
    pkg = Path(my_crawler_spark.__file__).parent
    sources = _repo_sources(pkg.parent)
    words = Counter(w for text in sources.values() for w in re.findall(r"\w+", text))
    orphans = []
    for path, text in sorted(sources.items()):
        if pkg not in path.parents:
            continue
        lines = text.splitlines()
        own = Counter()
        for name, node in _assigned_names(ast.parse(text).body):
            stmt = "\n".join(lines[node.lineno - 1 : node.end_lineno])
            own[name] += re.findall(r"\w+", stmt).count(name)
        orphans += [
            f"{path.relative_to(pkg)}:{name}"
            for name, n in sorted(own.items())
            if name != "__all__" and words[name] <= n
        ]
    assert not orphans, "unreferenced: " + ", ".join(orphans)


def test_no_unused_library_imports():
    """Each name a module under my_crawler_spark/ imports at top level is
    read in that module or listed in its ``__all__``."""
    pkg = Path(my_crawler_spark.__file__).parent
    unused = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        imported, exported = set(), set()
        for node in tree.body:
            if isinstance(node, ast.Import):
                imported |= {a.asname or a.name.split(".")[0] for a in node.names}
            elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
                imported |= {a.asname or a.name for a in node.names}
            elif isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
            ):
                exported |= set(ast.literal_eval(node.value))
        read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        unused += [f"{path.relative_to(pkg)}:{n}" for n in sorted(imported - read - exported)]
    assert not unused, "unused imports: " + ", ".join(unused)


def test_thread_pools_are_scoped():
    """Every ``ThreadPoolExecutor(...)`` under my_crawler_spark/ is the
    context expression of a ``with`` item, so no library pool outlives the
    call that made it or needs a GC finalizer to shut it down."""
    pkg = Path(my_crawler_spark.__file__).parent
    loose = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        scoped = {
            id(item.context_expr)
            for node in ast.walk(tree)
            if isinstance(node, (ast.With, ast.AsyncWith))
            for item in node.items
        }
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            func = node.func
            name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)
            if name == "ThreadPoolExecutor" and id(node) not in scoped:
                loose.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert not loose, "thread pools outside a with: " + ", ".join(loose)


def test_session_sets_no_sql_default(spark, monkeypatch):
    """Every ``spark.sql.*`` value ``get_spark`` sets differs from the
    default of its SQLConf entry in this JVM, so no setting only restates
    Spark. A default the JVM computes from its host (the session time zone)
    is not a restatement: pinning it is the setting's point."""
    from my_crawler_spark import session

    class Builder:
        def __init__(self):
            self.conf = {}

        def __getattr__(self, name):  # appName, master
            return lambda *args: self

        def config(self, key, value):
            self.conf[key] = value
            return self

        def getOrCreate(self):
            return self

    builder = Builder()
    monkeypatch.setattr(session, "SparkSession", type("Session", (), {"builder": builder}))
    session.get_spark()
    sql = {k: v for k, v in builder.conf.items() if k.startswith("spark.sql.")}
    assert "spark.sql.shuffle.partitions" in sql

    jvm = spark._jvm
    entries = (
        jvm.java.lang.Class.forName("org.apache.spark.sql.internal.SQLConf$")
        .getField("MODULE$").get(None)
    )
    restated = []
    for key, value in sql.items():
        entry = entries.getConfigEntry(key)
        if entry.getClass().getSimpleName() == "ConfigEntryWithDefaultFunction":
            continue
        conf = jvm.org.apache.spark.sql.internal.SQLConf()
        default = conf.getConf(entry)
        conf.setConfString(key, value)
        if conf.getConf(entry) == default:
            restated.append(key)
    assert not restated, restated
