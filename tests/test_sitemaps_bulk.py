"""Bulk (distributed) sitemap BFS == the sequential per-request loop.

The graph is adversarial on purpose: nested index files to depth 4 (depth
cap must prune), a file referenced by two parents (first-BFS-occurrence
dedup), >20 reachable files on one request (file cap), a page cap that
truncates mid-file, off-origin files and pages (filtered), lastmod ties
(the (lastmod DESC, loc ASC) total order), duplicate canonical pages
(keep-first dedup), and a request with declared sitemaps in declared order.
"""

from __future__ import annotations

import pandas as pd
import pytest

from my_crawler_spark.operators.sitemaps import (
    py_discover_sitemap_pages,
    sitemap_bulk_discover,
)

T0 = pd.Timestamp("2026-01-01")


def _graph() -> pd.DataFrame:
    rows = []

    def add(sm, kind, loc, days):
        rows.append(
            {"sitemap_url": sm, "kind": kind, "loc": loc,
             "lastmod": None if days is None else T0 + pd.Timedelta(days=days)}
        )

    O = "https://a.example.com"
    root = f"{O}/sitemap.xml"
    # root: pages with a lastmod TIE (loc breaks it), a dup-canonical page,
    # an off-origin page, and three nested indexes (one off-origin)
    add(root, "url", f"{O}/p/1", 5)
    add(root, "url", f"{O}/p/2", 5)          # tie with p/1 -> loc ASC
    add(root, "url", f"{O}/p/1#frag", 4)     # canonicalizes to p/1 (dup)
    add(root, "url", "https://evil.example.com/x", 9)
    add(root, "sitemap", f"{O}/sm-b.xml", 3)
    add(root, "sitemap", f"{O}/sm-a.xml", 3)  # tie -> sm-a before sm-b? loc ASC
    add(root, "sitemap", "https://evil.example.com/sm.xml", 8)
    # sm-a: pages + a nested chain a->c->d->e (e is depth 4: pruned)
    add(f"{O}/sm-a.xml", "url", f"{O}/p/3", None)  # null lastmod sorts last
    add(f"{O}/sm-a.xml", "url", f"{O}/p/4", 7)
    add(f"{O}/sm-a.xml", "sitemap", f"{O}/sm-c.xml", 1)
    # sm-b: re-references sm-c (dup file via second parent) + own page
    add(f"{O}/sm-b.xml", "url", f"{O}/p/5", 2)
    add(f"{O}/sm-b.xml", "sitemap", f"{O}/sm-c.xml", 1)
    add(f"{O}/sm-c.xml", "url", f"{O}/p/6", 1)
    add(f"{O}/sm-c.xml", "sitemap", f"{O}/sm-d.xml", 1)
    add(f"{O}/sm-d.xml", "url", f"{O}/p/7", 1)
    add(f"{O}/sm-d.xml", "sitemap", f"{O}/sm-e.xml", 1)
    add(f"{O}/sm-e.xml", "url", f"{O}/p/depth4-pruned", 1)

    # a wide host: 25 nested files (file cap 20) x 3 pages each, and a
    # root with 30 pages (page cap with max_pages=10 -> limit 40 truncates
    # mid-file)
    W = "https://wide.example.com"
    wroot = f"{W}/sitemap.xml"
    for i in range(30):
        add(wroot, "url", f"{W}/w/{i:02d}", 30 - i)
    for i in range(25):
        add(wroot, "sitemap", f"{W}/sm-{i:02d}.xml", 25 - i)
        for j in range(3):
            add(f"{W}/sm-{i:02d}.xml", "url", f"{W}/n/{i:02d}/{j}", j)

    # declared-order host: two declared sitemaps, given "backwards"
    D = "https://decl.example.com"
    add(f"{D}/second.xml", "url", f"{D}/s/1", 1)
    add(f"{D}/first.xml", "url", f"{D}/f/1", 1)
    add(f"{D}/first.xml", "url", f"{D}/f/2", 2)
    return pd.DataFrame(rows)


REQUESTS = [
    # (request_id, seed, declared, max_pages)
    (1, "https://a.example.com/", [], 50),
    (2, "https://wide.example.com/", [], 10),
    (3, "https://decl.example.com/", ["https://decl.example.com/second.xml",
                                      "https://decl.example.com/first.xml"], 50),
    (4, "https://nosm.example.com/", [], 50),   # no sitemap at all
]


def test_bulk_matches_sequential_loop_exactly(spark):
    sm = _graph()
    want = {
        rid: py_discover_sitemap_pages(sm, seed, declared, mp)
        for rid, seed, declared, mp in REQUESTS
    }
    # sequential sanity: the adversarial cases actually bite
    assert want[1][:2] == ["https://a.example.com/p/1", "https://a.example.com/p/2"]
    assert "https://a.example.com/p/7" in want[1]          # depth 3 reached
    assert all("depth4" not in u for u in want[1])          # depth 4 pruned
    assert all("evil" not in u for u in want[1])            # off-origin gone
    assert len([u for u in want[1] if u.endswith("p/1")]) == 1  # canon dedup
    assert len(want[2]) == 40                               # page cap 10*4
    assert want[3] == ["https://decl.example.com/s/1",
                       "https://decl.example.com/f/2",
                       "https://decl.example.com/f/1"]      # declared order
    assert want[4] == []

    reqs = spark.createDataFrame(
        [(rid, seed, declared, mp) for rid, seed, declared, mp in REQUESTS],
        "request_id long, seed string, declared array<string>, max_pages int",
    )
    sm_df = spark.createDataFrame(sm)
    got_rows = sitemap_bulk_discover(reqs, sm_df).collect()
    got = {}
    for r in sorted(got_rows, key=lambda r: (r["request_id"], r["seq"])):
        got.setdefault(r["request_id"], []).append(r["page_url"])
    for rid, pages in want.items():
        assert got.get(rid, []) == pages, rid
    # seq is 1..n dense per request
    for rid, rows_ in got.items():
        assert len(rows_) == len(want[rid])


def test_file_cap_counts_distinct_files(spark):
    # 22 distinct nested files via 44 references (each referenced twice):
    # the 20-file cap must count DISTINCT files, dup refs are free
    rows = []
    O = "https://h.example.com"
    root = f"{O}/sitemap.xml"
    for i in range(22):
        for _ in range(2):
            rows.append({"sitemap_url": root, "kind": "sitemap",
                         "loc": f"{O}/sm-{i:02d}.xml",
                         "lastmod": T0 + pd.Timedelta(days=22 - i)})
    for i in range(22):
        rows.append({"sitemap_url": f"{O}/sm-{i:02d}.xml", "kind": "url",
                     "loc": f"{O}/p/{i:02d}", "lastmod": T0})
    sm = pd.DataFrame(rows)
    want = py_discover_sitemap_pages(sm, f"{O}/", [], 500)
    # root + 19 nested = 20 files -> 19 pages
    assert len(want) == 19
    reqs = spark.createDataFrame(
        [(1, f"{O}/", [], 500)],
        "request_id long, seed string, declared array<string>, max_pages int",
    )
    got = [
        r["page_url"]
        for r in sitemap_bulk_discover(reqs, spark.createDataFrame(sm))
        .orderBy("seq")
        .collect()
    ]
    assert got == want
