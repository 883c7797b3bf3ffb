"""Crawl workloads: inputs from the seed, runner set-up, and output checks.

``bulk_frontier`` seeds every page of the bulk web (``webgen.bulk_web``)
as the frontier of ``n_requests`` independent requests, with per-host
budgets that admit ``tokens`` pages per request per round. An earlier
crawl's seen set (every ``seen_every``-th page) is committed to ``url_seen``
first, so the first superstep already probes a bloom filter over more than
``bloom_min_rows`` keys and leaves a deferred frontier. Robots allow all and
there are no redirects, so the robots, redirect and retry paths do no work.

``paced_bfs`` is the multi-round BFS over ``fixtures.make_all``: skewed
hosts, 5-8 tokens per host per round, robots policies, redirect chains,
flaky pages, blocked origins, traps, sitemaps and a browser-mode request.
"""

from __future__ import annotations

import os
from collections import Counter

import pandas as pd
from pyspark.sql import functions as F

from my_crawler_spark.fixtures import make_all, make_images
from my_crawler_spark.functions.text import extract_caption_page
from my_crawler_spark.oracle.reference_sim import SyntheticWeb, crawl_request_sim
from my_crawler_spark.plans.crawl_plan import URL_SEEN_SCHEMA, CrawlRunner

from tracer import Stages
from webgen import bulk_web

BULK = {
    "n_orders": 3000, "n_hosts": 16, "n_requests": 8, "n_images": 64,
    "tokens": 95, "seen_every": 5, "bloom_min_rows": 500,
}
PACED = {"n_hosts": 16, "n_pages": 400}


def chunks_per_caption(caption: str) -> int:
    return len(extract_caption_page("https://x.example.com/", caption)["chunks"])


# ------------------------------------------------------------------ bulk
def bulk_inputs(seed: int, size: dict = BULK) -> dict:
    web = bulk_web(seed, size["n_orders"], size["n_hosts"], size["n_requests"],
                   size["n_images"])
    web["request_id"] = web.grp + 1
    images = make_images(seed, size["n_images"], 16, 16)
    seen = web.iloc[:: size["seen_every"]][["request_id", "url"]]
    return {"web": web, "images": images, "seen": seen, "size": size}


def _build_caches(runner: CrawlRunner, stages: Stages) -> None:
    """Materialize the runner's per-crawl caches before any timed round."""
    for df in (runner.pages, runner.budgets, runner.robots_dim):
        df.count()
    with stages.span("extract.image_decode_stats"):
        runner.image_stats.count()


def bulk_runner(spark, workdir: str, inp: dict, stages: Stages | None = None) -> CrawlRunner:
    """A runner over the bulk web with its caches built and frontier seeded."""
    size, web = inp["size"], inp["web"]
    n_hosts = size["n_hosts"]
    pages = spark.createDataFrame(web.drop(columns=["request_id"]))
    robots = pd.DataFrame(
        [{"origin": f"https://h{k}.example.com", "status": 200,
          "body": "User-agent: *\nAllow: /\n"} for k in range(n_hosts)]
    )
    runner = CrawlRunner(
        spark, workdir, pages,
        spark.createDataFrame([], "src_url string, dst_url string"),
        spark.createDataFrame(inp["images"]),
        robots,
        pd.DataFrame(columns=["sitemap_url", "kind", "loc", "lastmod"]),
        spark.createDataFrame(
            [(f"h{k}.example.com", size["tokens"]) for k in range(n_hosts)],
            "host string, tokens_per_round long",
        ),
        use_bloom=True, bloom_min_rows=size["bloom_min_rows"],
        host_buckets=spark.sparkContext.defaultParallelism,
    )
    _build_caches(runner, stages or Stages())
    runner.t_seen.commit(spark.createDataFrame(inp["seen"], URL_SEEN_SCHEMA))
    first = web.groupby("request_id").url.min()
    runner.seed_frontier_bulk_many(
        [(int(rid), u, 10_000_000, 10, False) for rid, u in first.items()],
        pages.select((F.col("grp") + 1).cast("long").alias("request_id"), "url"),
    )
    return runner


def expected_bulk_visits(inp: dict, rounds: int) -> dict[int, list[list[str]]]:
    """request -> per-round visit lists the politeness prefix rule implies.

    Seqs follow url order; a fetchable row is admitted while its host has
    spent fewer than ``tokens`` this round, and the first row past that
    ends the request's round (strict seq prefix). Pre-seen rows are
    admitted without a visit and spend nothing."""
    tokens = inp["size"]["tokens"]
    seen = set(zip(inp["seen"].request_id, inp["seen"].url))
    out = {}
    for rid, grp in inp["web"].groupby("request_id"):
        queue = sorted(zip(grp.url, grp.host))
        per_round = []
        for _ in range(rounds):
            used: Counter = Counter()
            cut = len(queue)
            for i, (url, host) in enumerate(queue):
                if (rid, url) in seen:
                    continue
                if used[host] >= tokens:
                    cut = i
                    break
                used[host] += 1
            per_round.append([u for u, _h in queue[:cut] if (rid, u) not in seen])
            queue = queue[cut:]
        out[int(rid)] = per_round
    return out


def check_bulk(runner: CrawlRunner, inp: dict, first_round: int, rounds: int) -> list[str]:
    """Problems found in rounds [first_round, first_round + rounds); one
    entry per failed round, plus table-level count mismatches."""
    want = expected_bulk_visits(inp, first_round + rounds - 1)
    visits = runner.t_visits.read().toPandas()
    problems = []
    for k in range(first_round, first_round + rounds):
        got = visits[visits["round"] == k].sort_values(["request_id", "seq"])
        bad = [
            rid for rid, per_round in want.items()
            if got[got.request_id == rid].url.tolist() != per_round[k - 1]
        ]
        if bad or (got.outcome != "crawled").any() or (got.final_url != got.url).any():
            problems.append(f"round {k}: visit log differs for requests {bad}")
    visited = {(r, u) for r, per in want.items() for rnd in per for u in rnd}
    seen = set(zip(inp["seen"].request_id, inp["seen"].url))
    got_seen = {(int(r.request_id), r.url) for r in runner.t_seen.read().collect()}
    if got_seen != visited | seen:
        problems.append(f"url_seen has {len(got_seen)} rows, expected {len(visited | seen)}")
    n_chunks = {i: chunks_per_caption(c) for i, c in zip(inp["images"].image_id,
                                                          inp["images"].caption)}
    img = dict(zip(inp["web"].url, inp["web"].image_id))
    want_chunks = sum(n_chunks[img[u]] for _r, u in visited)
    got_chunks = runner.t_chunks.count_rows()
    if got_chunks != want_chunks:
        problems.append(f"chunks has {got_chunks} rows, expected {want_chunks}")
    return problems


# ----------------------------------------------------------------- paced
def paced_inputs(seed: int, size: dict = PACED) -> dict:
    return make_all(seed=seed, n_hosts=size["n_hosts"], n_pages=size["n_pages"])


def paced_runner(spark, workdir: str, fx: dict, stages: Stages | None = None) -> CrawlRunner:
    runner = CrawlRunner(
        spark, workdir,
        pages=spark.createDataFrame(fx["pages"]),
        redirects=spark.createDataFrame(fx["redirects"]),
        images=spark.createDataFrame(fx["images"]),
        robots_pdf=fx["robots"],
        sitemaps_pdf=fx["sitemaps"],
        budgets=spark.createDataFrame(fx["politeness_budget"]),
        rendered=spark.createDataFrame(fx["rendered"]),
        host_buckets=spark.sparkContext.defaultParallelism,
    )
    _build_caches(runner, stages or Stages())
    runner.admit_requests(fx["seeds"])
    return runner


def oracle_crawl(fx: dict) -> tuple[dict, dict]:
    """request -> oracle visit order [(url, depth, outcome)], and -> seen set."""
    web = SyntheticWeb(fx)
    order, seen = {}, {}
    for s in fx["seeds"].itertuples():
        res = crawl_request_sim(
            web, s.request_id, s.url, s.max_pages, s.max_depth, s.same_domain,
            use_browser=bool(getattr(s, "use_browser", False)),
        )
        if res is not None:
            order[int(s.request_id)] = [
                (v["url"], v["depth"], v["outcome"]) for v in res.visit_order
            ]
            seen[int(s.request_id)] = set(res.url_seen)
    return order, seen


def check_visit_prefix(got: dict, want: dict) -> list[str]:
    """Each request's visit log (in seq order) must be a prefix of the
    oracle's visit order; a request the oracle rejected must not appear."""
    problems = []
    for rid, visits in got.items():
        ref = want.get(rid)
        if ref is None:
            problems.append(f"request {rid}: not in the oracle")
        elif visits != ref[: len(visits)]:
            i = next((i for i, (a, b) in enumerate(zip(visits, ref)) if a != b), len(ref))
            problems.append(f"request {rid}: visit {i} is {visits[i]}, oracle has "
                            f"{ref[i] if i < len(ref) else 'nothing'}")
    return problems


def check_seen_subset(got: dict, want: dict) -> list[str]:
    return [
        f"request {rid}: {len(urls - want.get(rid, set()))} seen urls not in the oracle's set"
        for rid, urls in got.items()
        if not urls <= want.get(rid, set())
    ]


def check_paced(runner: CrawlRunner, oracle: tuple[dict, dict]) -> list[str]:
    got_visits: dict[int, list] = {}
    for r in runner.t_visits.read().orderBy("request_id", "seq").collect():
        got_visits.setdefault(int(r.request_id), []).append((r.url, r.depth, r.outcome))
    got_seen: dict[int, set] = {}
    for r in runner.t_seen.read().collect():
        got_seen.setdefault(int(r.request_id), set()).add(r.url)
    return check_visit_prefix(got_visits, oracle[0]) + check_seen_subset(got_seen, oracle[1])


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under path."""
    files = size = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size
