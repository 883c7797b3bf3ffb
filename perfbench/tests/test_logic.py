"""The benchmark's own logic, without a Spark session:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import concurrent.futures
import json
import os
import re
import signal
import statistics
import subprocess
import sys
import time
from types import SimpleNamespace

import pandas as pd
import pytest

import run
from crawl import check_seen_subset, check_visit_prefix, expected_bulk_visits
from instrument import LAYERS, SERIAL_ENV, SerialExecutor, instrumented
from my_crawler_spark.operators import bloom as bloom_mod
from my_crawler_spark.plans import crawl_plan
from search_chain import same_results
from tracer import (Stages, Tracer, covered, quartiles, reportable_percentile, samples_beyond,
                    self_times)
from webgen import LIMITS, OFFSETS, QUERY_TERMS, search_queries


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


# ------------------------------------------------------------------ spans
def span(i, parent, start, end):
    return {"id": i, "parent": parent, "name": f"s{i}", "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [span(0, None, 0, 10), span(1, 0, 1, 3), span(2, 0, 4, 8), span(3, 2, 5, 6)]
    st = self_times(spans)
    assert st == {0: 4.0, 1: 2.0, 2: 3.0, 3: 1.0}
    # every instant is counted once across the tree
    assert sum(st.values()) == 10.0


def test_self_time_overlapping_and_escaping_children():
    # threads can overlap; a child may end after its parent's recorded end
    spans = [span(0, None, 0, 10), span(1, 0, 2, 6), span(2, 0, 4, 8), span(3, 0, 9, 12)]
    assert self_times(spans)[0] == pytest.approx(10 - (8 - 2) - (10 - 9))


def test_covered_is_union_length():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2.0
    assert covered([], 0, 1) == 0


def test_tracer_nesting_and_totals():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    with tr.span("round"):
        root = tr.spans[-1]["id"]
        clock.t = 1
        with tr.span("layer.a") as a:
            a["rows"] = 7
            clock.t = 4
        with tr.span("layer.b"):
            clock.t = 5
            with tr.span("layer.a"):
                clock.t = 7
            clock.t = 8
        clock.t = 10
    with tr.span("layer.a"):
        clock.t = 11
    assert [s["parent"] for s in tr.spans] == [None, 0, 0, 2, None]
    assert tr.spans[1]["attrs"] == {"rows": 7}
    assert tr.totals("layer.a", under=root) == 5.0
    assert tr.totals("layer.a") == 6.0
    assert tr.totals("layer.b") == 2.0
    assert tr.totals("round") == 3.0


# ------------------------------------------------------------ percentiles
def test_ten_samples_beyond_rule():
    assert samples_beyond(100, 0.9) == 10
    assert samples_beyond(99, 0.9) == 9
    assert samples_beyond(20, 0.5) == 10
    assert reportable_percentile(list(range(99)), 0.9) is None
    vals = [float(v) for v in range(1, 101)]
    p90 = reportable_percentile(vals, 0.9)
    assert p90 == 90.0 and sum(v > p90 for v in vals) == 10
    assert reportable_percentile(vals[:19], 0.5) is None
    assert reportable_percentile(vals[:20], 0.5) == 10.0


def test_quartiles_match_statistics():
    vals = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0, 3.5, 8.0, 7.0]
    q1, med, q3 = quartiles(vals)
    assert [q1, med, q3] == statistics.quantiles(vals, n=4)
    assert quartiles([2.0]) == (2.0, 2.0, 2.0)


# ------------------------------------------------------------- run loop
@pytest.mark.parametrize("op_s, ops", [(5.0, 5), (4.0, 6), (35.0, 1), (12.5, 2)])
def test_timed_loop_stops_before_the_window_ends(monkeypatch, op_s, ops):
    clock = FakeClock()
    monkeypatch.setattr(run.time, "perf_counter", clock)

    def op():
        clock.t += op_s
        return False

    durations, cpus, errors = run.timed_loop(25.0, op, time.process_time)
    assert (len(durations), len(cpus), errors) == (ops, ops, [])


def test_timed_loop_ends_on_done_and_on_error():
    calls = []

    def op():
        calls.append(1)
        if len(calls) == 2:
            raise ValueError("boom")
        return False

    ticks = iter(range(100))
    durations, cpus, errors = run.timed_loop(1e9, op, cpu=lambda: 2.0 * next(ticks))
    assert len(durations) == 1 and cpus == [2.0] and errors == ["ValueError: boom"]
    assert len(run.timed_loop(1e9, lambda: True, time.process_time)[0]) == 1


def test_program_cpu_counts_descendants_and_never_goes_back():
    """A child's busy CPU is counted, and its exit loses nothing counted."""
    busy = ("import os, time\n"
            "t = time.process_time() + 0.3\n"
            "while time.process_time() < t: pass\n"
            "os.write(1, b'x'); time.sleep(30)\n")
    parent = subprocess.Popen([sys.executable, "-c",
                               f"import subprocess, sys; subprocess.run([sys.executable, '-c', {busy!r}])"],
                              stdout=subprocess.PIPE, start_new_session=True)
    try:
        clock = run.ProgramCpu(parent.pid)
        c0 = clock()
        assert parent.stdout.read(1) == b"x"
        c1 = clock()
        assert c1 - c0 >= 0.2
    finally:
        os.killpg(parent.pid, signal.SIGKILL)
        parent.wait()
    assert clock() >= c1


def test_serial_executor_runs_on_submit():
    order = []
    with SerialExecutor(max_workers=6) as pool:
        fut = pool.submit(lambda x: order.append(x) or x * 2, 3)
        order.append("after")
        bad = pool.submit(lambda: 1 / 0)
    assert order == [3, "after"] and fut.result() == 6
    with pytest.raises(ZeroDivisionError):
        bad.result()


def test_instrumented_patches_the_round_and_restores_it():
    class Runner:
        def _commit(self, *args, **kwargs):
            pass

    runner = Runner()
    before = {n: getattr(crawl_plan, n) for n in LAYERS}
    build_bloom, pool = bloom_mod.build_bloom, concurrent.futures.ThreadPoolExecutor
    with instrumented(runner, Stages()):
        assert all(getattr(crawl_plan, n) is not f for n, f in before.items())
        assert bloom_mod.build_bloom is not build_bloom and "_commit" in vars(runner)
        assert concurrent.futures.ThreadPoolExecutor is SerialExecutor
        assert all(os.environ[k] == v for k, v in SERIAL_ENV.items())
    assert {n: getattr(crawl_plan, n) for n in LAYERS} == before
    assert bloom_mod.build_bloom is build_bloom and "_commit" not in vars(runner)
    assert concurrent.futures.ThreadPoolExecutor is pool


# ---------------------------------------------------------- search checks
def test_search_queries_are_seeded():
    captions = ["the quick brown fox", "el zorro marron", "der schnelle fuchs"]
    qs = search_queries(4, captions, 40)
    assert qs == search_queries(4, captions, 40) != search_queries(5, captions, 40)
    assert all(len(q.split()) == QUERY_TERMS and lim in LIMITS and off in OFFSETS
               for q, lim, off in qs)
    assert len({(lim, off) for _q, lim, off in qs}) > 4


def rows(*triples):
    return [SimpleNamespace(out_rank=i + 1, point_id=p, score=s)
            for i, (p, s) in enumerate(triples)]


def twin(*triples, scores=None):
    page = pd.DataFrame([(i + 1, p, "u", s) for i, (p, s) in enumerate(triples)],
                        columns=["out_rank", "point_id", "source_url", "score"])
    return page, {**dict(triples), **(scores or {})}


def test_same_results():
    want = twin(("a", 3.0), ("b", 2.0), scores={"c": 2.0 + 1e-12, "d": 1.0})
    assert same_results(rows(("a", 3.0), ("b", 2.0)), want)
    # c ties b to 1e-9: the fused sum may order them either way
    assert same_results(rows(("a", 3.0), ("c", 2.0)), want)
    assert not same_results(rows(("a", 3.0), ("d", 2.0)), want)       # not a tie
    assert not same_results(rows(("a", 3.0), ("b", 2.001)), want)     # wrong score
    assert not same_results(rows(("b", 2.0), ("a", 3.0)), want)       # wrong order
    assert not same_results(rows(("a", 3.0)), want)                   # row missing
    assert not same_results(rows(("a", 3.0), ("a", 2.0)), want)       # id twice
    assert same_results([], None) and not same_results(rows(("a", 1.0)), None)


# ---------------------------------------------------------- crawl checks
ORACLE = {
    1: [("https://a/1", 0, "crawled"), ("https://a/2", 1, "robots"),
        ("https://a/3", 1, "crawled")],
    2: [("https://b/1", 0, "failed")],
}


def test_prefix_check_accepts_prefixes():
    assert check_visit_prefix({1: ORACLE[1][:2], 2: []}, ORACLE) == []
    assert check_visit_prefix(dict(ORACLE), ORACLE) == []


@pytest.mark.parametrize("altered", [
    {1: [ORACLE[1][1], ORACLE[1][0]]},                 # reordered
    {1: [("https://a/1", 0, "failed")]},               # wrong outcome
    {1: [("https://a/1", 1, "crawled")]},              # wrong depth
    {1: ORACLE[1][:1] + ORACLE[1][2:]},                # a visit skipped
    {2: ORACLE[2] + [("https://b/2", 1, "crawled")]},  # beyond the oracle
    {3: [("https://c/1", 0, "crawled")]},              # unknown request
])
def test_prefix_check_rejects_altered_logs(altered):
    assert check_visit_prefix(altered, ORACLE)


def test_seen_subset_check():
    want = {1: {"u1", "u2"}}
    assert check_seen_subset({1: {"u1"}}, want) == []
    assert check_seen_subset({1: {"u1", "u3"}}, want)
    assert check_seen_subset({2: {"u1"}}, want)


def test_expected_bulk_visits_follows_the_prefix_rule():
    web = pd.DataFrame({
        "request_id": [1] * 6,
        "url": [f"https://h{h}/p{i}" for h, i in
                [(0, 1), (0, 2), (0, 3), (1, 1), (1, 2), (0, 4)]],
        "host": ["h0", "h0", "h0", "h1", "h1", "h0"],
    })
    inp = {"web": web, "size": {"tokens": 2},
           "seen": pd.DataFrame({"request_id": [1], "url": ["https://h0/p2"]})}
    # url order: h0/p1 h0/p2(seen) h0/p3 h0/p4 h1/p1 h1/p2
    rounds = expected_bulk_visits(inp, 3)[1]
    assert rounds == [
        ["https://h0/p1", "https://h0/p3"],   # h0/p4 would be h0's third
        ["https://h0/p4", "https://h1/p1", "https://h1/p2"],
        [],
    ]


# ------------------------------------------------------------ the contract
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_benchmark_json_matches_the_runner():
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
    assert all(len(w["why"]) <= 200 for w in spec["workloads"])
