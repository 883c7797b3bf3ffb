"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload bulk_frontier --seed 1 --seconds 10 --trace 0

Workloads: bulk_frontier and search_serve (listed in BENCHMARK.json) and
paced_bfs (run by name; see README.md). Each run is its own process with its
own Spark JVM at local[nproc]; all scratch state lives under
``.perfbench_work/`` in the checkout and is removed at exit. With
``--trace 0`` the result carries the end-to-end metrics; with ``--trace 1``
the per-layer metrics of a traced run, whose spans are written to
``.perfbench_results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("bulk_frontier", "search_serve", "paced_bfs")
END_TO_END = {"op_cpu_s_p50": "s", "setup_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s",
    "crawl_plan.run_round_s": "s",
    "crawl_plan.jobs_per_round": "count",
    "crawl_plan.stages_per_round": "count",
    "crawl_plan.tasks_per_round": "count",
    "spark.codegen_fallbacks": "count",
    "politeness.admit_prefix_s": "s",
    "politeness.admitted_ratio": "ratio",
    "politeness.robots_gate_s": "s",
    "politeness.robots_allowed_ratio": "ratio",
    "fetch.fetch_join_s": "s",
    "fetch.ok_ratio": "ratio",
    "fetch.redirect_hops": "count",
    "extract.image_decode_stats_s": "s",
    "extract.extract_pages_s": "s",
    "extract.explode_chunks_s": "s",
    "extract.chunks_per_page": "ratio",
    "codecs.decode_phash_ms.png": "ms",
    "codecs.decode_phash_ms.jpeg": "ms",
    "codecs.decode_phash_ms.webp": "ms",
    "frontier.gate_fold_s": "s",
    "frontier.slow_fold_ratio": "ratio",
    "frontier.admit_links_s": "s",
    "frontier.links_in": "count",
    "frontier.link_admit_ratio": "ratio",
    "frontier.assign_seqs_s": "s",
    "url.canonicalize_s": "s",
    "bloom.build_s": "s",
    "bloom.maybe_seen_ratio": "ratio",
    "bloom.false_positive_ratio": "ratio",
    "lake.commit_s.url_seen": "s",
    "lake.commit_s.blocked_origins": "s",
    "lake.commit_s.visit_log": "s",
    "lake.commit_s.metrics": "s",
    "lake.commit_s.frontier": "s",
    "lake.commit_s.request_state": "s",
    "lake.upsert_chunks_s": "s",
    "lake.bytes_per_visit": "B",
    "lake.files_per_round": "count",
    "lake.read_chunks_s": "s",
    "search.bm25_s": "s",
    "search.dense_s": "s",
    "search.rrf_s": "s",
    "search.rerank_s": "s",
    "search.rows_scored_per_result": "ratio",
    "spark.shuffle_bytes_per_visit": "B",
    "spark.executor_busy_share": "ratio",
    "spark.gc_s": "s",
    "trace.query_overhead_s": "s",
}
TRACED_QUERIES = 1
#: served in set-up, the last of the query list: code generation and JIT
#: warm-up make the first queries two to three times slower than those after;
#: the program's CPU per query falls by a further 15% over queries 2-6, but
#: more warm-up would push a run on a loaded host past the run budget
WARMUP_QUERIES = 3
#: queries timed per run, at most: CPU per query still falls about 5% a query
#: here, so on a fast host a run that timed every query fitting in its window
#: would report a later, cheaper median than one on a slow host
TIMED_QUERIES = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ------------------------------------------------------------ environment
def heap_size() -> str:
    """Driver heap: a quarter of physical memory, at most 4 GiB."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, total // 4 // 2**30))}g"


def jvm_opts(work: Path) -> str:
    """Keep JVM scratch files in the checkout: native libraries unpack to
    java.io.tmpdir, and perf counters would go to /tmp. A fixed set of JIT
    compiler threads lets ``ProgramCpu`` leave their time out."""
    return (f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={work / 'tmp'}")


def heap_opts(heap: str) -> str:
    """Initial heap at its maximum and a fixed young generation: left to
    itself G1 grows both from the GC times it sees, and the peak RSS of runs
    of the same code spread by a fifth of its median."""
    return f"-Xms{heap} -Xmn{int(heap.rstrip('g')) * 256}m"


def isolate(work: Path) -> None:
    """Fresh scratch dirs, single-threaded BLAS, package on every path, and
    the JVM's stderr (which inherits fd 2) captured in ``driver.log``."""
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp", "warehouse"):
        (work / d).mkdir(parents=True)
    env = {
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(work / "tmp"),
        "SPARK_GRAFT_DRIVER_MEM": heap_size(),
        "SPARK_LAUNCHER_OPTS": jvm_opts(work),  # spark-submit's launcher JVM
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    }
    for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS",
              "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
        env[v] = "1"
    os.environ.update(env)
    sys.path[:0] = [str(ROOT), str(HERE)]
    log = os.open(work / "driver.log", os.O_WRONLY | os.O_CREAT | os.O_TRUNC)
    saved = os.dup(2)
    os.dup2(log, 2)
    os.close(log)
    sys.stderr = os.fdopen(saved, "w", buffering=1)


def remove_work(work: Path) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        work.parent.rmdir()  # left in place while another run uses it
    except OSError:
        pass


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]]:
    """(comm, fields after comm) of a /proc stat file."""
    with open(path) as f:
        text = f.read()
    return text[text.index("(") + 1:text.rindex(")")], text[text.rindex(")") + 2:].split()


def tree_ticks(root: int) -> dict[tuple[int, int], int]:
    """(pid, start time) -> user + system clock ticks of ``root`` and of
    its live descendants."""
    stats, kids = {}, {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                fields = _stat(f"/proc/{entry}/stat")[1]
            except (OSError, ValueError):  # the process has exited
                continue
            stats[int(entry)] = fields
            kids.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            f = stats[pid]
            out[(pid, int(f[19]))] = int(f[11]) + int(f[12])
            todo += kids.get(pid, [])
    return out


def jit_ticks(pid: int) -> int:
    """User + system clock ticks of the JVM's JIT compiler threads."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            comm, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
        except OSError:
            continue
        if comm.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            total += int(fields[11]) + int(fields[12])
    return total


class ProgramCpu:
    """A clock of the CPU seconds the program has used: the Spark driver JVM
    (which runs the executors at local[n]), the Python workers it starts
    and this driver process. JIT compilation, a cost of warming up, is left
    out. Time spent waiting for a CPU that other tenants of the host hold
    is not counted, and on a shared host that wait is most of the spread
    of a query's wall time.

    The pyspark daemon lets the kernel reap its workers (SIGCHLD ignored),
    so an exited worker's time is lost from every counter; the clock
    therefore adds each live process's increase since the last reading,
    and a process that ends between two readings loses only its last slice.
    """

    def __init__(self, jvm: int):
        self.jvm = jvm
        self.last: dict[tuple[int, int], int] = {}
        self.ticks = 0

    def __call__(self) -> float:
        now = tree_ticks(self.jvm)
        for key, t in now.items():
            if key[0] == self.jvm:
                t -= jit_ticks(self.jvm)
            self.ticks += t - self.last.get(key, 0)
            self.last[key] = t
        return self.ticks / CLK_TCK + time.process_time()


def source_id() -> str:
    """Hash of the package sources: the checkout is not a git repository."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "my_crawler_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def codegen_failures(log: Path, offset: int) -> int:
    """Janino compile failures logged to ``log`` after byte ``offset``."""
    with open(log, errors="replace") as f:
        f.seek(offset)
        return sum(line.lower().count("failed to compile") for line in f)


def timed_loop(seconds: float, op, cpu) -> tuple[list[float], list[float], list[str]]:
    """Call ``op`` until it returns True or the next call, predicted to take
    the median time of those so far, would end past ``seconds``; the first
    call always runs.

    Returns (wall durations of completed ops, their ``cpu()`` deltas,
    errors). An op that raises ends the loop: a crawl's state is unknown
    after a failed superstep."""
    durations, cpus, errors = [], [], []
    end = time.perf_counter() + seconds
    while True:
        t0, c0 = time.perf_counter(), cpu()
        try:
            done = op()
        except Exception as e:  # the run reports the failure and goes on
            errors.append(f"{type(e).__name__}: {str(e)[:300]}")
            return durations, cpus, errors
        durations.append(time.perf_counter() - t0)
        cpus.append(cpu() - c0)
        if done or time.perf_counter() + statistics.median(durations) > end:
            return durations, cpus, errors


# -------------------------------------------------------------- workloads
def run_crawl(spark, work: Path, args) -> dict:
    """Supersteps through the public driver, ``CrawlRunner.run(max_rounds=1)``
    each, so a superstep's timed work includes draining its chunk sink."""
    from crawl import (bulk_inputs, bulk_runner, check_bulk, check_paced, oracle_crawl,
                       paced_inputs, paced_runner)

    t0 = time.perf_counter()
    if args.workload == "bulk_frontier":
        inp = bulk_inputs(args.seed)
        runner = bulk_runner(spark, str(work / "crawl"), inp)
        check = lambda n: check_bulk(runner, inp, 1, n)  # noqa: E731
    else:
        fx = paced_inputs(args.seed)
        runner = paced_runner(spark, str(work / "crawl"), fx)
        check = lambda n: check_paced(runner, oracle_crawl(fx))  # noqa: E731
    setup = time.perf_counter() - t0
    visits: list[int] = []

    def op() -> bool:
        runner.run(max_rounds=1)
        visits.append(runner.t_visits.last_rows)
        return runner.t_frontier.count_rows() == 0

    ops, cpus, errors = timed_loop(args.seconds, op, ProgramCpu(jvm_pid(spark)))
    problems = errors + check(len(ops))
    runner.close()
    return {"setup": setup, "ops": ops, "cpus": cpus, "visits": visits,
            "attempted": len(ops) + len(errors), "problems": problems}


def run_search(spark, work: Path, args) -> dict:
    from search_chain import pandas_query, same_results, spark_query
    from serve import build_chunks_table, expected_chunk_rows, search_inputs

    t0 = time.perf_counter()
    inp = search_inputs(args.seed)
    table = build_chunks_table(spark, str(work / "lake"), inp)
    ranks = spark.createDataFrame(inp["ranks"])
    queries = inp["queries"][:-WARMUP_QUERIES]
    for q in inp["queries"][-WARMUP_QUERIES:]:
        spark_query(table.read(), ranks, *q).collect()
    setup = time.perf_counter() - t0
    results: list = []

    def op() -> bool:
        q = queries[len(results) % len(queries)]
        df = spark_query(table.read(), ranks, *q)
        results.append((q, df.collect() if df is not None else []))
        return len(results) == TIMED_QUERIES

    ops, cpus, errors = timed_loop(args.seconds, op, ProgramCpu(jvm_pid(spark)))
    problems = list(errors)
    if table.count_rows() != expected_chunk_rows(inp):
        problems.append(f"chunks table has {table.count_rows()} rows, "
                        f"expected {expected_chunk_rows(inp)}")
    chunks, ranks_pdf = table.read().toPandas(), inp["ranks"]
    for q, rows in results:
        if not same_results(rows, pandas_query(chunks, ranks_pdf, *q)):
            problems.append(f"query {q}: top-k differs from the pandas recomputation")
    return {"setup": setup, "ops": ops, "cpus": cpus,
            "attempted": len(ops) + len(errors), "problems": problems}


# ------------------------------------------------------------------ traced
def trace_crawl(spark, work: Path, args, tr, metrics: dict, log: Path):
    """Superstep 1 through ``CrawlRunner.run(max_rounds=1)`` with every layer
    call forced inside a span (``instrument.instrumented``), and its layer
    metrics. Engine and lake counts cover the traced superstep, forcing jobs
    included; the untraced superstep time is the untraced runs' ``round_s_p50``.
    Returns the runner's chunks table."""
    from crawl import BULK, bulk_inputs, bulk_runner, dir_stats, paced_inputs, paced_runner
    from instrument import instrumented
    from tracer import Stages

    stages = Stages(tr)
    crawl_dir = str(work / "crawl")
    with tr.span("crawl_plan.runner_setup"):
        if args.workload == "paced_bfs":
            runner = paced_runner(spark, crawl_dir, paced_inputs(args.seed), stages)
        else:
            runner = bulk_runner(spark, crawl_dir, bulk_inputs(args.seed, BULK), stages)
    files0, bytes0 = dir_stats(crawl_dir)
    offset = log.stat().st_size
    with instrumented(runner, stages) as facts:
        with tr.span("crawl_plan.run_round", round=1) as eng:
            root = tr.spans[-1]["id"]
            runner.run(max_rounds=1)
    files1, bytes1 = dir_stats(crawl_dir)
    facts["visits"] = runner.t_visits.last_rows
    wall = tr.spans[root]["end"] - tr.spans[root]["start"]
    visits = max(facts["visits"], 1)
    m = runner.t_metrics.read().agg({"slow_fold_rows": "sum", "admitted": "sum"}).collect()[0]
    runner.close()
    total = lambda name: tr.totals(name, under=root)  # noqa: E731
    ratio = lambda a, b: facts.get(a, 0) / max(facts.get(b, 0), 1)  # noqa: E731
    metrics.update({
        "crawl_plan.run_round_s": wall,
        "crawl_plan.jobs_per_round": eng["jobs"],
        "crawl_plan.stages_per_round": eng["stages"],
        "crawl_plan.tasks_per_round": eng["tasks"],
        "spark.codegen_fallbacks": codegen_failures(log, offset),
        "spark.shuffle_bytes_per_visit": eng["shuffle_write_bytes"] / visits,
        "spark.executor_busy_share": eng["executor_run_s"] / (wall * spark.sparkContext.defaultParallelism),
        "spark.gc_s": eng["gc_s"],
        "lake.bytes_per_visit": (bytes1 - bytes0) / visits,
        "lake.files_per_round": files1 - files0,
        "frontier.slow_fold_ratio": (m["sum(slow_fold_rows)"] or 0) / max(m["sum(admitted)"] or 0, 1),
        "politeness.admit_prefix_s": total("politeness.admit_prefix"),
        "politeness.admitted_ratio": ratio("admitted", "frontier_rows"),
        "politeness.robots_gate_s": total("politeness.robots_gate"),
        "politeness.robots_allowed_ratio": ratio("robots_allowed", "robots_checked"),
        "fetch.fetch_join_s": total("fetch.fetch_join"),
        "fetch.ok_ratio": ratio("fetch_ok", "fetched"),
        "fetch.redirect_hops": facts.get("redirect_hops", 0),
        "extract.image_decode_stats_s": tr.totals("extract.image_decode_stats"),
        "extract.extract_pages_s": total("extract.extract_pages"),
        "extract.explode_chunks_s": total("extract.explode_chunks"),
        "extract.chunks_per_page": ratio("chunks", "visits"),
        "frontier.gate_fold_s": total("frontier.gate_fold"),
        "frontier.admit_links_s": total("frontier.admit_links"),
        "frontier.links_in": facts.get("links_in", 0),
        "frontier.link_admit_ratio": ratio("links_admitted", "links_in"),
        "frontier.assign_seqs_s": total("frontier.assign_seqs"),
        "url.canonicalize_s": total("url.canonicalize"),
        "bloom.build_s": total("bloom.build"),
        "bloom.maybe_seen_ratio": ratio("bloom_maybe", "bloom_probed"),
        "bloom.false_positive_ratio": ratio("bloom_false_pos", "bloom_negatives"),
        "lake.upsert_chunks_s": total("lake.upsert_chunks"),
        **{f"lake.commit_s.{t}": total(f"lake.commit.{t}") for t in (
            "url_seen", "blocked_origins", "visit_log", "metrics", "frontier",
            "request_state")},
    })
    return runner.t_chunks


def trace_search(spark, work: Path, args, tr, metrics: dict, table=None) -> None:
    """Untraced then traced runs of the same queries over ``table``, by
    default the search_serve table built with traced stages."""
    from search_chain import spark_query
    from serve import build_chunks_table, search_inputs
    from tracer import Stages

    inp = search_inputs(args.seed)
    stages = Stages(tr)
    if table is None:
        with tr.span("serve.build_table"):
            table = build_chunks_table(spark, str(work / "lake"), inp, stages)
    ranks = spark.createDataFrame(inp["ranks"])
    queries = inp["queries"][: TRACED_QUERIES + 1]
    spark_query(table.read(), ranks, *queries[0]).collect()  # first-query codegen
    untraced = []
    for q in queries[1:]:
        t0 = time.perf_counter()
        spark_query(table.read(), ranks, *q).collect()
        untraced.append(time.perf_counter() - t0)
    table_rows = table.count_rows()
    roots, per_result = [], []
    for q in queries[1:]:
        with tr.span("search.query", query=q[0]):
            roots.append(tr.spans[-1]["id"])
            chunks = stages.force("lake.read_chunks", table.read())
            rows = spark_query(chunks, ranks, *q, stages=stages).collect()
        per_result.append(3 * table_rows / max(len(rows), 1))
        stages.release()
    n = len(roots)
    total = lambda name: sum(tr.totals(name, under=r) for r in roots) / n  # noqa: E731
    traced = statistics.mean(tr.spans[r]["end"] - tr.spans[r]["start"] for r in roots)
    metrics.update({
        "lake.read_chunks_s": total("lake.read_chunks"),
        "search.bm25_s": total("search.bm25"),
        "search.dense_s": total("search.dense"),
        "search.rrf_s": total("search.rrf"),
        "search.rerank_s": total("search.rerank"),
        "search.rows_scored_per_result": statistics.mean(per_result),
        "trace.query_overhead_s": traced - statistics.mean(untraced),
    })


def codec_ms(seed: int) -> dict:
    """Median ms of decode_image + phash64 per image format (driver-side)."""
    from my_crawler_spark.codecs import decode_image, phash64
    from my_crawler_spark.fixtures import make_images

    imgs = make_images(seed, 48, 16, 16)
    out = {}
    for fmt, grp in imgs.groupby("fmt"):
        times = []
        for data in grp.bytes:
            t0 = time.perf_counter()
            phash64(decode_image(bytes(data)))
            times.append((time.perf_counter() - t0) * 1000.0)
        out[f"codecs.decode_phash_ms.{fmt}"] = statistics.median(times)
    return out


def run_traced(spark, work: Path, args, session_s: float, log: Path, results: Path) -> dict:
    from tracer import Tracer

    tr = Tracer(spark)
    metrics = {"session.start_s": session_s, **codec_ms(args.seed)}
    problems = []
    try:
        if args.workload == "search_serve":
            trace_search(spark, work, args, tr, metrics)
            trace_crawl(spark, work, args, tr, metrics, log)
        else:
            table = trace_crawl(spark, work, args, tr, metrics, log)
            trace_search(spark, work, args, tr, metrics, table)
    except Exception as e:  # reported as a failed run, spans still written
        problems.append(f"{type(e).__name__}: {str(e)[:300]}")
    tr.dump(str(results / f"spans-{args.workload}-seed{args.seed}.json"),
            {"metrics": metrics})
    return {"metrics": metrics, "attempted": 2, "problems": problems}


# -------------------------------------------------------------------- main
def named_metrics(workload: str, out: dict) -> dict:
    """The workload's own metric names, printed before the result line."""
    p50 = statistics.median(out["ops"])
    if workload == "search_serve":
        return {"query_s_p50": [p50, "s"]}
    return {"round_s_p50": [p50, "s"],
            "crawl_urls_per_s": [sum(out["visits"]) / sum(out["ops"]), "1/s"]}


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_session(spark) -> None:
    """Stop Spark and wait for the Spark driver JVM, which exits on stdin EOF."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    isolate(work)
    try:
        from my_crawler_spark.session import get_spark
    except ImportError as e:
        print(f"cannot import the package under test: {e}", file=sys.stderr)
        remove_work(work)
        return 2
    import pyspark

    results = ROOT / os.environ.get("PERFBENCH_RESULTS", ".perfbench_results")
    results.mkdir(parents=True, exist_ok=True)
    cores = os.cpu_count() or 1
    try:
        t0 = time.perf_counter()
        spark = get_spark(
            f"perfbench-{args.workload}", master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf={
                "spark.sql.warehouse.dir": str(work / "warehouse"),
                "spark.driver.extraJavaOptions": f"{jvm_opts(work)} {heap_opts(heap_size())}",
            },
        )
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        java = spark.sparkContext._jvm.System.getProperty("java.version")
        try:
            if args.trace:
                out = run_traced(spark, work, args, session_s, work / "driver.log", results)
            else:
                run = run_search if args.workload == "search_serve" else run_crawl
                out = run(spark, work, args)
                out["metrics"] = {
                    "setup_s": session_s + out["setup"],
                    "peak_rss_mb": vm_hwm_mb(jvm_pid(spark))
                    + vm_hwm_mb("self"),
                }
        finally:
            stop_session(spark)
    finally:
        remove_work(work)
    env = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "source": source_id(), "nproc": cores,
        "spark": pyspark.__version__, "java": java, "python": platform.python_version(),
        "driver_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "ops": out.get("ops"), "cpus": out.get("cpus"), "problems": out["problems"],
    }
    for p in out["problems"]:
        print(f"problem: {p}")
    if not args.trace and not out["ops"]:
        print("no operation completed; no result", file=sys.stderr)
        return 1
    if not args.trace:
        out["metrics"]["op_cpu_s_p50"] = statistics.median(out["cpus"])
        env["named"] = named_metrics(args.workload, out)
    units = PER_LAYER if args.trace else END_TO_END
    attempted = out["attempted"]
    result = {
        "correct": not out["problems"],
        "attempted": attempted,
        "failed": min(len(out["problems"]), attempted),
        "metrics": {k: {"value": out["metrics"][k], "unit": u} for k, u in units.items()},
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(results / name, "w") as f:
        json.dump({**env, "result": result}, f, indent=1)
    print(json.dumps({k: v for k, v in env.items() if k not in ("ops", "cpus", "problems")}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
