"""End-to-end: the distributed BSP crawl must match the sequential oracle
exactly — visit order, URL-seen set, metrics, chunks — and must resume from
snapshot checkpoints byte-identically."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from my_crawler_spark.oracle.reference_sim import SyntheticWeb, crawl_request_sim
from my_crawler_spark.plans.crawl_plan import CrawlRunner


def make_runner(spark, fixtures, workdir, **kw) -> CrawlRunner:
    rendered = fixtures.get("rendered")
    return CrawlRunner(
        spark,
        str(workdir),
        pages=spark.createDataFrame(fixtures["pages"]),
        redirects=spark.createDataFrame(fixtures["redirects"]),
        images=spark.createDataFrame(fixtures["images"]),
        robots_pdf=fixtures["robots"],
        sitemaps_pdf=fixtures["sitemaps"],
        budgets=spark.createDataFrame(fixtures["politeness_budget"]),
        rendered=(
            spark.createDataFrame(rendered)
            if rendered is not None and len(rendered)
            else None
        ),
        **kw,
    )


def oracle_results(fixtures):
    web = SyntheticWeb(fixtures)
    out = {}
    for s in fixtures["seeds"].itertuples():
        res = crawl_request_sim(
            web, s.request_id, s.url, s.max_pages, s.max_depth, s.same_domain,
            use_browser=bool(getattr(s, "use_browser", False)),
        )
        if res is not None:
            out[s.request_id] = res
    return out


@pytest.fixture(scope="module")
def crawl(spark, fixtures, tmp_path_factory):
    wd = tmp_path_factory.mktemp("crawl")
    runner = make_runner(spark, fixtures, wd)
    runner.admit_requests(fixtures["seeds"])
    final_round = runner.run(max_rounds=100)
    yield runner, final_round
    runner.close()


def test_visit_order_matches_oracle(crawl, fixtures):
    runner, _ = crawl
    oracle = oracle_results(fixtures)
    got = (
        runner.t_visits.read()
        .orderBy("request_id", "seq")
        .select("request_id", "url", "depth", "outcome")
        .collect()
    )
    by_req: dict[int, list] = {}
    for r in got:
        by_req.setdefault(r.request_id, []).append((r.url, r.depth, r.outcome))
    assert set(by_req) == set(oracle)
    for rid, res in oracle.items():
        want = [(v["url"], v["depth"], v["outcome"]) for v in res.visit_order]
        assert by_req[rid] == want, f"request {rid} visit order diverges"


def test_url_seen_matches_oracle(crawl, fixtures):
    runner, _ = crawl
    oracle = oracle_results(fixtures)
    got = runner.t_seen.read().collect()
    by_req: dict[int, set] = {}
    for r in got:
        by_req.setdefault(r.request_id, set()).add(r.url)
    for rid, res in oracle.items():
        assert by_req.get(rid, set()) == res.url_seen, f"request {rid} seen set"


def test_metrics_match_oracle(crawl, fixtures):
    runner, _ = crawl
    oracle = oracle_results(fixtures)
    m = (
        runner.t_metrics.read()
        .groupBy("request_id")
        .agg(
            *[
                F.sum(c).alias(c)
                for c in ["crawled", "indexed", "failed", "skipped_robots",
                          "skipped_depth", "blocked"]
            ]
        )
        .collect()
    )
    got = {r.request_id: r.asDict() for r in m}
    for rid, res in oracle.items():
        g = got[rid]
        for k, v in res.metrics.items():
            assert g[k] == v, f"request {rid} metric {k}: got {g[k]} want {v}"


def test_chunks_match_oracle(crawl, fixtures):
    runner, _ = crawl
    oracle = oracle_results(fixtures)
    got = runner.t_chunks.read().collect()
    got_set = {
        (r.request_id, r.source_url, r.chunk_index, r.chunk_content, r.page_version,
         r.point_id)
        for r in got
    }
    want_set = set()
    for rid, res in oracle.items():
        for c in res.chunks:
            want_set.add(
                (rid, c["source_url"], c["chunk_index"], c["chunk_content"],
                 c["page_version"], c["point_id"])
            )
    assert got_set == want_set
    # every chunk row has a unit-norm embedding of the right dimension
    emb = runner.t_chunks.read().select(F.size("embedding").alias("d")).distinct().collect()
    assert {r.d for r in emb} <= {384}


def test_politeness_budget_does_not_change_results(spark, fixtures, tmp_path):
    """Strict-prefix rounds: token budgets are pure pacing (SURVEY §7)."""
    fat = fixtures["politeness_budget"].copy()
    fat["tokens_per_round"] = 1000  # everything in one round
    fx2 = dict(fixtures, politeness_budget=fat)
    with make_runner(spark, fx2, tmp_path / "fat") as runner:
        runner.admit_requests(fixtures["seeds"])
        runner.run(max_rounds=100)
        oracle = oracle_results(fixtures)
        got = (
            runner.t_visits.read()
            .orderBy("request_id", "seq")
            .select("request_id", "url", "outcome")
            .collect()
        )
    by_req: dict[int, list] = {}
    for r in got:
        by_req.setdefault(r.request_id, []).append((r.url, r.outcome))
    for rid, res in oracle.items():
        assert by_req[rid] == [(v["url"], v["outcome"]) for v in res.visit_order]


def test_resume_mid_crawl(spark, fixtures, tmp_path):
    """Kill after round 2, build a fresh runner on the same workdir, finish:
    final state must equal an uninterrupted run."""
    wd = tmp_path / "resume"
    r1 = make_runner(spark, fixtures, wd)
    try:
        r1.admit_requests(fixtures["seeds"])
        r1.run_round(1)
        r1.run_round(2)
    finally:
        r1.close()
    del r1
    with make_runner(spark, fixtures, wd) as r2:  # fresh driver, state from snapshots
        r2.run(max_rounds=100)
        oracle = oracle_results(fixtures)
        got = (
            r2.t_visits.read()
            .orderBy("request_id", "seq")
            .select("request_id", "url", "outcome")
            .collect()
        )
    by_req: dict[int, list] = {}
    for r in got:
        by_req.setdefault(r.request_id, []).append((r.url, r.outcome))
    for rid, res in oracle.items():
        assert by_req[rid] == [(v["url"], v["outcome"]) for v in res.visit_order]


def _mini_retry_fixtures(flaky: int, retry_after: int):
    """One host, seed p0 -> links p1..p4; p1 optionally flaky with a
    Retry-After. Budget 4 tokens/round."""
    import pandas as pd

    from my_crawler_spark.fixtures import make_images

    host = "h9.example.com"
    urls = [f"https://{host}/p{i}" for i in range(5)]

    def page(u, **kv):
        base = {
            "url": u, "host": host, "status": 200, "content_type": "text/html",
            "flaky_fail_times": 0, "body_len": 10_000,
            "image_id": "img-00000000", "outlinks": [], "retry_after_s": 0,
        }
        base.update(kv)
        return base

    pages = pd.DataFrame(
        [page(urls[0], outlinks=urls[1:])]
        + [page(urls[1], status=503 if flaky else 200, flaky_fail_times=flaky,
                retry_after_s=retry_after)]
        + [page(u) for u in urls[2:]]
    )
    return {
        "pages": pages,
        "redirects": pd.DataFrame(
            [{"src_url": "https://unused.example.org/a",
              "dst_url": "https://unused.example.org/b"}]
        ),
        "images": make_images(seed=1, n=1),
        "robots": pd.DataFrame(
            [{"origin": f"https://{host}", "status": 200,
              "body": "User-agent: *\nAllow: /\n"}]
        ),
        "sitemaps": pd.DataFrame(columns=["sitemap_url", "kind", "loc", "lastmod"]),
        "seeds": pd.DataFrame(
            [{"request_id": 1, "url": urls[0], "max_pages": 30, "max_depth": 10,
              "same_domain": True}]
        ),
        "politeness_budget": pd.DataFrame(
            [{"host": host, "tokens_per_round": 4}]
        ),
    }


def test_first_round_lineage_and_pinned_caches(crawl):
    """Round 1's concurrent commit threads, the chunk upsert among them,
    each leave exactly one lineage row per table, and re-admitting swaps
    the cached requests dim instead of stacking stale handles on the
    runner's pinned list."""
    runner, _ = crawl
    names = [
        r.table for r in runner.t_lineage.read().filter(F.col("round") == 1).collect()
    ]
    assert sorted(names) == sorted([
        "url_seen", "blocked_origins", "visit_log", "metrics",
        "frontier", "request_state", "chunks",
    ])
    pinned = len(runner._pinned_caches)
    for _ in range(3):
        runner._invalidate_requests()
        runner._requests_df()
    assert len(runner._pinned_caches) == pinned


def test_retry_tokens_delay_host_pacing(spark, tmp_path):
    """S2 per-attempt politeness: a flaky page (2 retries, Retry-After 8 s)
    costs 3 attempts + 8 delay-tokens, so its host's later URLs slip to a
    later round — while visit ORDER and outcomes stay identical (pacing,
    never reordering; web_visitor.rs:144-184,255-271)."""

    def run(fx, wd):
        with make_runner(spark, fx, wd) as r:
            r.admit_requests(fx["seeds"])
            r.run(max_rounds=20)
            return (
                r.t_visits.read().orderBy("seq")
                .select("url", "outcome", "round").collect()
            )

    slow = run(_mini_retry_fixtures(flaky=2, retry_after=8), tmp_path / "slow")
    fast = run(_mini_retry_fixtures(flaky=0, retry_after=0), tmp_path / "fast")
    # identical order + outcomes (everything crawls in both variants)
    assert [(r.url, r.outcome) for r in slow] == [(r.url, r.outcome) for r in fast]
    rounds_slow = {r.url.rsplit("/", 1)[1]: r.round for r in slow}
    rounds_fast = {r.url.rsplit("/", 1)[1]: r.round for r in fast}
    # fast web: seed in round 1, all four links fit round 2's budget of 4
    assert rounds_fast == {"p0": 1, "p1": 2, "p2": 2, "p3": 2, "p4": 2}
    # slow web: p1's 11-token cost exhausts round 2; p2..p4 slip to round 3
    assert rounds_slow == {"p0": 1, "p1": 2, "p2": 3, "p3": 3, "p4": 3}


def _mini_chain_fixtures(chain_hops: int):
    """One host, seed p0 -> links [c0 (a chain_hops-long redirect chain to
    cf), p2, p3, p4]. Budget 4 tokens/round."""
    import pandas as pd

    from my_crawler_spark.fixtures import make_images

    host = "h9.example.com"

    def page(u, **kv):
        base = {
            "url": u, "host": host, "status": 200, "content_type": "text/html",
            "flaky_fail_times": 0, "body_len": 10_000,
            "image_id": "img-00000000", "outlinks": [], "retry_after_s": 0,
        }
        base.update(kv)
        return base

    links = [f"https://{host}/c0"] + [f"https://{host}/p{i}" for i in (2, 3, 4)]
    rows = [page(f"https://{host}/p0", outlinks=links)]
    redirect_rows = []
    for i in range(chain_hops):
        src = f"https://{host}/c{i}"
        dst = f"https://{host}/c{i + 1}" if i + 1 < chain_hops else f"https://{host}/cf"
        rows.append(page(src, status=301))
        redirect_rows.append({"src_url": src, "dst_url": dst})
    rows.append(page(f"https://{host}/cf"))
    rows += [page(u) for u in links[1:]]
    if not chain_hops:  # c0 is then just a plain page
        rows.append(page(f"https://{host}/c0"))
    return {
        "pages": pd.DataFrame(rows),
        "redirects": pd.DataFrame(
            redirect_rows
            or [{"src_url": "https://unused.example.org/a",
                 "dst_url": "https://unused.example.org/b"}]
        ),
        "images": make_images(seed=1, n=1),
        "robots": pd.DataFrame(
            [{"origin": f"https://{host}", "status": 200,
              "body": "User-agent: *\nAllow: /\n"}]
        ),
        "sitemaps": pd.DataFrame(columns=["sitemap_url", "kind", "loc", "lastmod"]),
        "seeds": pd.DataFrame(
            [{"request_id": 1, "url": f"https://{host}/p0", "max_pages": 30,
              "max_depth": 10, "same_domain": True}]
        ),
        "politeness_budget": pd.DataFrame(
            [{"host": host, "tokens_per_round": 4}]
        ),
    }


def test_redirect_chain_tokens_delay_host_pacing(spark, tmp_path):
    """Q7 per-hop politeness: every redirect hop acquires its origin's
    limiter (web_visitor.rs:186-217, acquire at :193), so a 3-hop chain
    costs 4 tokens (3 redirect fetches + the final page) and pushes the
    host's later URLs into the next round — while visit order and outcomes
    are identical to the chain-free web (pacing, never reordering)."""

    def run(fx, wd):
        with make_runner(spark, fx, wd) as r:
            assert r.redirect_hops == (3 if len(fx["redirects"]) == 3 else 0)
            r.admit_requests(fx["seeds"])
            r.run(max_rounds=20)
            return (
                r.t_visits.read().orderBy("seq")
                .select("url", "outcome", "round").collect()
            )

    chain = run(_mini_chain_fixtures(chain_hops=3), tmp_path / "chain")
    flat = run(_mini_chain_fixtures(chain_hops=0), tmp_path / "flat")
    assert [(r.url, r.outcome) for r in chain] == [(r.url, r.outcome) for r in flat]
    rounds_chain = {r.url.rsplit("/", 1)[1]: r.round for r in chain}
    rounds_flat = {r.url.rsplit("/", 1)[1]: r.round for r in flat}
    # flat web: all four links fit round 2's budget of 4
    assert rounds_flat == {"p0": 1, "c0": 2, "p2": 2, "p3": 2, "p4": 2}
    # chain web: c0's 4-token chain exhausts round 2; p2..p4 slip to round 3
    assert rounds_chain == {"p0": 1, "c0": 2, "p2": 3, "p3": 3, "p4": 3}


def test_browser_fetch_and_spa_fallback(crawl, fixtures):
    """S3: (a) the browser-mode request (use_browser=True) crawls via the
    rendered table; (b) a SPA page with a rendered row recovers content
    (indexed chunks exist for it); (c) a SPA page without a rendered row
    crawls but yields no chunks (failed browser fallback keeps the thin
    static shell)."""
    runner, _ = crawl
    pages = fixtures["pages"]
    spa = pages[pages.body_html.str.contains('id="app"', regex=False)]
    assert len(spa) == 2, "fixture should carry both SPA victims"
    rendered_urls = set(fixtures["rendered"].url)
    with_render = [u for u in spa.url if u in rendered_urls]
    without_render = [u for u in spa.url if u not in rendered_urls]
    assert len(with_render) == 1 and len(without_render) == 1

    visits = runner.t_visits.read().collect()
    chunks_by_url = {
        r.source_url for r in runner.t_chunks.read().select("source_url").collect()
    }
    crawled_urls = {r.url for r in visits if r.outcome == "crawled"}
    # browser-mode request 6 crawled pages on h5 via rendered
    req6 = [r for r in visits if r.request_id == 6]
    assert any(r.outcome == "crawled" for r in req6)
    # recovered SPA page indexed iff it was crawled by some request
    if with_render[0] in crawled_urls:
        assert with_render[0] in chunks_by_url
    if without_render[0] in crawled_urls:
        assert without_render[0] not in chunks_by_url


def test_seed_frontier_bulk_many_matches_per_request(spark, tmp_path):
    """Batched bulk seeding (3 commits total) writes each request's seed
    frontier with seqs 1..n in url order at depth 0, and a fresh state row
    (crawled 0, max_seq n) per request."""
    fx = _mini_retry_fixtures(flaky=0, retry_after=0)
    urls = [f"https://h9.example.com/p{i}" for i in range(5)]
    reqs = [(1, urls[0], 100, 10, False), (2, urls[0], 100, 10, False)]
    with make_runner(spark, fx, tmp_path) as r:
        r.seed_frontier_bulk_many(
            reqs,
            spark.createDataFrame(
                # reversed, so the seqs must come from url order
                [(rid, u) for rid, *_ in reqs for u in reversed(urls)],
                "request_id long, url string",
            ),
        )
        assert sorted(
            (f.request_id, f.url, f.host, f.seq, f.depth)
            for f in r.t_frontier.read().collect()
        ) == [
            (rid, u, "h9.example.com", i + 1, 0)
            for rid, *_ in reqs for i, u in enumerate(urls)
        ]
        assert sorted(
            (s.request_id, s.crawled_so_far, s.max_seq)
            for s in r.t_state.read().collect()
        ) == [(1, 0, 5), (2, 0, 5)]


def test_readmit_keeps_earlier_requests(spark, tmp_path, monkeypatch):
    """A second admit_requests call adds to the frontier and request state:
    request 1, admitted and crawled for one round before request 2 arrives,
    still finishes its own crawl. Rounds after the first run over a
    non-empty url_seen; the runner's bloom options are ignored there, so
    link admission never builds or probes the bloom filter. The second
    run() continues the round numbers the first one left."""
    from my_crawler_spark.operators import bloom

    def no_bloom(*args, **kwargs):
        raise AssertionError("the crawl round called the bloom filter")

    monkeypatch.setattr(bloom, "build_bloom", no_bloom)
    monkeypatch.setattr(bloom, "bloom_maybe_seen", no_bloom)
    fx = _mini_retry_fixtures(flaky=0, retry_after=0)
    seeds = fx["seeds"]
    with make_runner(spark, fx, tmp_path, use_bloom=True, bloom_min_rows=1) as r:
        r.admit_requests(seeds)
        r.run(max_rounds=1)
        r.admit_requests(seeds.assign(request_id=2))
        last = r.run(max_rounds=20)
        visited = {}
        for v in r.t_visits.read().orderBy("seq").collect():
            visited.setdefault(v.request_id, []).append(v.url.rsplit("/", 1)[1])
        rows = [(m.round, m.request_id) for m in r.t_metrics.read().collect()]
    assert visited == {rid: ["p0", "p1", "p2", "p3", "p4"] for rid in (1, 2)}
    # one metrics row per (round, request); rounds numbered 1..last, no reuse
    assert len(rows) == len(set(rows))
    assert sorted({k for k, _ in rows}) == list(range(1, last + 1))


def test_round_checkpoints_released_and_commits_plan_over_leaves(
    spark, tmp_path, monkeypatch
):
    """The round's intermediates are local checkpoints, released when the
    round's commits (the chunk upsert among them) are done: the session's
    persisted RDDs stay flat across rounds, and close() returns them to
    where they were before the first round. Every committed DataFrame, the
    upserted chunks included, plans over checkpoint leaves, not over the
    whole round's lineage. Warm rounds reuse the generated classes of the
    first instead of compiling them again, and a round runs no job that only
    picks a plan."""
    from my_crawler_spark.plans import crawl_plan

    jsc = spark.sparkContext._jsc
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    before = set(jsc.getPersistentRDDs().keySet())

    def pinned() -> int:
        return len(set(jsc.getPersistentRDDs().keySet()) - before)

    def plan_len(df) -> int:
        return len(df._jdf.queryExecution().optimizedPlan().toString())

    def last_job_id() -> int:
        return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)

    fx = _mini_retry_fixtures(flaky=2, retry_after=8)  # crawls in 3 rounds
    # the fixture's one image has no caption, so its pages index no chunks
    fx["images"] = fx["images"].assign(caption="A page about harbour cranes.")
    plan_chars, chunk_plan_chars, counts, compiles, jobs = [], [], [], [], []
    upsert = crawl_plan.upsert_chunks_with_stale_delete

    def sized_upsert(table, chunks):
        chunk_plan_chars.append(plan_len(chunks))
        return upsert(table, chunks)

    monkeypatch.setattr(crawl_plan, "upsert_chunks_with_stale_delete", sized_upsert)
    with make_runner(spark, fx, tmp_path) as r:
        commit = r._commit

        def sized_commit(round_no, name, table, df, mode="append"):
            plan_chars.append(plan_len(df))
            return commit(round_no, name, table, df, mode=mode)

        monkeypatch.setattr(r, "_commit", sized_commit)
        r.admit_requests(fx["seeds"])
        for _ in range(3):
            compiled = codegen.METRIC_COMPILATION_TIME().getCount()
            job = last_job_id()
            r.run(max_rounds=1)
            jobs.append(last_job_id() - job)
            compiles.append(codegen.METRIC_COMPILATION_TIME().getCount() - compiled)
            counts.append(pinned())
        chunk_rows = r.t_chunks.count_rows()
    assert counts == [counts[0]] * 3
    assert pinned() == 0
    # six table commits a round. Each plan was 2.4M-17.5M characters when
    # the round cached its intermediates, and the frontier and state
    # commits still printed 53k-106k while the new-frontier rows were a
    # cache; with every intermediate a checkpoint each plan is under 2k
    assert len(plan_chars) == 3 * 6
    assert max(plan_chars) < 10_000
    assert len(chunk_plan_chars) == 3 and chunk_rows > 0
    assert max(chunk_plan_chars) < 10_000
    # at Spark's default 100-entry class cache each round compiled about
    # 200 classes (206/203/203), every class evicted before its reuse; a
    # cold first round still compiles about 200 and the third about 10. An
    # absolute bound: after earlier tests in this JVM, round 1 compiles ~0
    assert compiles[2] < 50, compiles
    # jobs per round, from the job ids the status tracker hands out. Rounds
    # ran 71/70/67 jobs (the same in 3 runs) while each counted its fold
    # output (two jobs under AQE) only to choose between broadcast and
    # shuffle joins; with one plan per join they run 68/68/65
    assert jobs[2] <= 66, jobs


def test_round_commits_its_chunks_before_returning(spark, tmp_path, monkeypatch):
    """run_round(k) returns with round k's chunks committed: a chunk upsert
    held back until after the call returns would leave the table empty."""
    import threading

    from my_crawler_spark.plans import crawl_plan

    release = threading.Event()
    upsert = crawl_plan.upsert_chunks_with_stale_delete

    def held_upsert(table, chunks):
        release.wait(timeout=10)
        return upsert(table, chunks)

    monkeypatch.setattr(crawl_plan, "upsert_chunks_with_stale_delete", held_upsert)
    fx = _mini_retry_fixtures(flaky=0, retry_after=0)
    # the fixture's one image has no caption, so its pages index no chunks
    fx["images"] = fx["images"].assign(caption="A page about harbour cranes.")
    with make_runner(spark, fx, tmp_path) as r:
        r.admit_requests(fx["seeds"])
        try:
            r.run_round(1)
            after_round = r.t_chunks.count_rows()
        finally:
            release.set()
    assert after_round > 0
    assert after_round == r.t_chunks.count_rows()


def test_admit_all_rejected_batch_commits_empty(spark, tmp_path):
    """A batch whose every seed is rejected (here: no canonical URL) still
    commits the requests, frontier and state tables, with no rows."""
    fx = _mini_retry_fixtures(flaky=0, retry_after=0)
    with make_runner(spark, fx, tmp_path) as r:
        assert r.admit_requests(fx["seeds"].assign(url="ftp://h9.example.com/p0")) == []
        for t in (r.t_requests, r.t_frontier, r.t_state):
            assert (t.current_snapshot(), t.count_rows()) == (1, 0)
