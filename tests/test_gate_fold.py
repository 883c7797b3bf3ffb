"""Streaming gate fold: exact equivalence with a sequential twin under tiny
Arrow batches (state carried across batch boundaries), plus a 10^6-row round
that never materializes more than one batch as a pandas frame."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from my_crawler_spark.functions.url import py_origin
from my_crawler_spark.operators.frontier import FOLD_IN_COLS, gate_fold

COLS = FOLD_IN_COLS


def _row(rid, seq, url, depth=1, pre_visited=False, pre_blocked=False,
         robots=True, kind="ok", final=None, blocked_url=None, trap=False,
         chunks=True, max_pages=1000, max_depth=5, crawled_so_far=0):
    return (
        rid, seq, url, depth, py_origin(url) or "", pre_visited, pre_blocked,
        robots, kind, final if final is not None else (url if kind == "ok" else None),
        blocked_url, trap, chunks, max_pages, max_depth, crawled_so_far,
    )


def _python_twin(rows):
    """The reference gate sequence (crawl_loop.rs:143-256), driver-side."""
    out = {}
    by_req = {}
    for r in sorted(rows, key=lambda r: (r[0], r[1])):
        by_req.setdefault(r[0], []).append(dict(zip(COLS, r)))
    for rid, rs in by_req.items():
        crawled = rs[0]["crawled_so_far"]
        # per-request constants, like the requests dim the runner joins in
        max_pages, max_depth = rs[0]["max_pages"], rs[0]["max_depth"]
        visited, blocked = set(), set()
        for r in rs:
            key = (rid, r["seq"])
            if crawled >= max_pages or r["depth"] > max_depth:
                out[key] = "depth_skip" if r["depth"] > max_depth else "budget_skip"
                continue
            if (r["pre_visited"] or r["url"] in visited or r["pre_blocked"]
                    or r["origin"] in blocked):
                out[key] = "dup_skip"
                continue
            visited.add(r["url"])
            if not r["robots_allowed_flag"]:
                out[key] = "robots"
                continue
            if r["fetch_kind"] == "blocked":
                if r["blocked_url"]:
                    blocked.add(py_origin(r["blocked_url"]))
                out[key] = "blocked"
                continue
            if r["fetch_kind"] != "ok":
                out[key] = "failed"
                continue
            visited.add(r["final_url"])
            if r["final_is_trap"]:
                out[key] = "final_trap"
                continue
            crawled += 1
            out[key] = "crawled"
    return out


@pytest.fixture()
def small_batches(spark):
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    yield
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_hazards_across_batch_boundaries(spark, small_batches):
    """403 origin propagation, redirect/url collisions, budget crossing and
    dup tracking must survive Arrow batch boundaries (16-row batches force
    every hazard to straddle one)."""
    h = "https://h0.example.com"
    rows = []
    seq = 0

    def add(**kw):
        nonlocal seq
        seq += 1
        kw.setdefault("max_pages", 50)  # constant per request (requests dim)
        rows.append(_row(1, seq, **kw))

    for i in range(20):
        add(url=f"{h}/ok{i}")
    add(url=f"{h}/redir", kind="ok", final=f"{h}/target")  # visits target early
    for i in range(20, 35):
        add(url=f"{h}/ok{i}")
    add(url=f"{h}/target")  # collides with the redirect final -> dup_skip
    add(url=f"{h}/403", kind="blocked", blocked_url="https://bad.example.com/x")
    for i in range(3):  # same origin as the 403'd url -> dup_skip after block
        add(url=f"https://bad.example.com/p{i}")
    add(url=f"{h}/robots", robots=False)
    add(url=f"{h}/fail", kind="failed")
    add(url=f"{h}/trap", trap=True)
    add(url=f"{h}/deep", depth=9)  # > max_depth 5
    add(url=f"{h}/pre", pre_visited=True)
    for i in range(40):  # budget: max_pages 50 crosses inside this run
        add(url=f"{h}/tail{i}")
    # second request interleaved in the same partition-hash space
    rows += [_row(2, s + 1, f"https://h2.example.com/q{s}") for s in range(30)]

    df = spark.createDataFrame(
        [tuple(r) for r in rows],
        "request_id long, seq long, url string, depth int, origin string, "
        "pre_visited boolean, pre_blocked boolean, robots_allowed_flag boolean, "
        "fetch_kind string, final_url string, blocked_url string, "
        "final_is_trap boolean, has_chunks boolean, max_pages int, "
        "max_depth int, crawled_so_far long",
    )
    got = {(r.request_id, r.seq): r.outcome for r in gate_fold(df).collect()}
    want = _python_twin(rows)
    assert got == want
    # sanity on the interesting outcomes
    assert want[(1, 37)] == "dup_skip"  # redirect-final collision
    assert "blocked" in want.values() and "budget_skip" in want.values()


def test_dup_row_redirect_does_not_pollute_visited(spark, small_batches):
    """A row that is itself dup-skipped (its url already visited via an
    earlier redirect final) must NOT mark its own redirect target visited —
    the reference only touches the visited set for rows that reach gate 8
    (crawl_loop.rs:203). Batch boundaries between the three actors force the
    fast path to rely on carried state, where the round-2 code polluted
    st.visited with skipped rows' finals."""
    h = "https://dup.example.com"
    rows = []
    seq = 0

    def add(**kw):
        nonlocal seq
        seq += 1
        rows.append(_row(1, seq, **kw))

    add(url=f"{h}/a", kind="ok", final=f"{h}/u1")  # crawls, marks u1 visited
    for i in range(20):  # push the next actor into a later Arrow batch
        add(url=f"{h}/pad{i}")
    add(url=f"{h}/u1", kind="ok", final=f"{h}/ff")  # dup_skip; ff stays unvisited
    for i in range(20, 40):
        add(url=f"{h}/pad{i}")
    add(url=f"{h}/ff")  # reference crawls this
    # same hazard fully inside one segment (vectorized path must also mask)
    add(url=f"{h}/b", kind="ok", final=f"{h}/u2")
    add(url=f"{h}/u2", kind="ok", final=f"{h}/gg")
    add(url=f"{h}/gg")

    df = spark.createDataFrame(
        [tuple(r) for r in rows],
        "request_id long, seq long, url string, depth int, origin string, "
        "pre_visited boolean, pre_blocked boolean, robots_allowed_flag boolean, "
        "fetch_kind string, final_url string, blocked_url string, "
        "final_is_trap boolean, has_chunks boolean, max_pages int, "
        "max_depth int, crawled_so_far long",
    )
    got = {(r.request_id, r.seq): r.outcome for r in gate_fold(df).collect()}
    want = _python_twin(rows)
    assert got == want
    by_url = {r[2]: want[(r[0], r[1])] for r in rows}
    assert by_url[f"{h}/u1"] == "dup_skip"
    assert by_url[f"{h}/ff"] == "crawled"  # the round-2 bug dup_skipped this
    assert by_url[f"{h}/u2"] == "dup_skip"
    assert by_url[f"{h}/gg"] == "crawled"


def test_million_row_round_streams(spark):
    """One request, 10^6 control rows: with the default 10k-row Arrow batch
    cap the fold holds at most one batch as a frame (the round-1 residency
    hazard), while counters/sets carry the whole round. Budget crossing at
    900k must land exactly."""
    n, budget = 1_000_000, 900_000
    df = (
        spark.range(n)
        .select(
            F.lit(1).cast("long").alias("request_id"),
            (F.col("id") + 1).alias("seq"),
            F.concat(F.lit("https://big.example.com/p"), F.col("id")).alias("url"),
            F.lit(1).alias("depth"),
            F.lit("https://big.example.com").alias("origin"),
            F.lit(False).alias("pre_visited"),
            F.lit(False).alias("pre_blocked"),
            F.lit(True).alias("robots_allowed_flag"),
            F.lit("ok").alias("fetch_kind"),
            F.concat(F.lit("https://big.example.com/p"), F.col("id")).alias("final_url"),
            F.lit(None).cast("string").alias("blocked_url"),
            F.lit(False).alias("final_is_trap"),
            F.lit(True).alias("has_chunks"),
            F.lit(budget).alias("max_pages"),
            F.lit(5).alias("max_depth"),
            F.lit(0).cast("long").alias("crawled_so_far"),
        )
    )
    agg = gate_fold(df).agg(
        F.sum(F.col("crawled_flag").cast("long")).alias("crawled"),
        F.sum((F.col("outcome") == "budget_skip").cast("long")).alias("skipped"),
        F.count("*").alias("total"),
    ).collect()[0]
    assert agg.total == n
    assert agg.crawled == budget
    assert agg.skipped == n - budget


def test_million_row_worst_case_every_batch_hazard(spark):
    """Planted worst case: a 403 in EVERY 10k-row Arrow batch. The fold must
    still finish a 10^6-row single request well inside a bounded wall time
    (non-quadratic: sets + counters only)."""
    import time

    n = 1_000_000
    h = "https://big.example.com"
    df = (
        spark.range(n)
        .select(
            F.lit(1).cast("long").alias("request_id"),
            (F.col("id") + 1).alias("seq"),
            F.concat(F.lit(f"{h}/p"), F.col("id")).alias("url"),
            F.lit(1).alias("depth"),
            F.lit(h).alias("origin"),
            F.lit(False).alias("pre_visited"),
            F.lit(False).alias("pre_blocked"),
            F.lit(True).alias("robots_allowed_flag"),
            # one blocked row per 10k-row batch; the blocked origins are
            # distinct so no later row dup-skips on them
            F.when(F.col("id") % 10_000 == 5_000, F.lit("blocked"))
            .otherwise(F.lit("ok"))
            .alias("fetch_kind"),
            F.concat(F.lit(f"{h}/p"), F.col("id")).alias("final_url"),
            F.when(
                F.col("id") % 10_000 == 5_000,
                F.concat(F.lit("https://bad"), F.col("id"), F.lit(".example.com/x")),
            ).alias("blocked_url"),
            F.lit(False).alias("final_is_trap"),
            F.lit(True).alias("has_chunks"),
            F.lit(2_000_000).alias("max_pages"),
            F.lit(5).alias("max_depth"),
            F.lit(0).cast("long").alias("crawled_so_far"),
        )
    )
    t0 = time.time()
    agg = gate_fold(df).agg(
        F.sum(F.col("crawled_flag").cast("long")).alias("crawled"),
        F.sum((F.col("outcome") == "blocked").cast("long")).alias("blocked"),
        F.count("*").alias("total"),
    ).collect()[0]
    wall = time.time() - t0
    assert agg.total == n
    assert agg.blocked == 100
    assert agg.crawled == n - 100
    # generous bound: the exact loop is linear (~2 us/row single-task);
    # a quadratic regression would blow far past this
    assert wall < 180, f"worst-case fold took {wall:.1f}s"
