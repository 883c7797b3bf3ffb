"""Robots matcher + policy tests — mirrors spider/src/robots.rs:162-194."""

from __future__ import annotations

from my_crawler_spark.functions.robots import (
    policy_for_status,
    robots_allowed,
    robots_sitemaps,
)

BODY = """
User-agent: *
Disallow: /private/
Allow: /private/ok

User-agent: badbot
Disallow: /

Sitemap: https://a.com/sitemap.xml
"""


def test_basic_matching():
    assert robots_allowed(BODY, "my_crawler", "https://a.com/page")
    assert not robots_allowed(BODY, "my_crawler", "https://a.com/private/x")
    # longest match wins: Allow /private/ok beats Disallow /private/
    assert robots_allowed(BODY, "my_crawler", "https://a.com/private/ok")
    # specific agent group
    assert not robots_allowed(BODY, "badbot", "https://a.com/anything")


def test_wildcards_and_anchor():
    body = "User-agent: *\nDisallow: /*.json$\nDisallow: /tmp*\n"
    assert not robots_allowed(body, "x", "https://a.com/data.json")
    assert robots_allowed(body, "x", "https://a.com/data.json5")
    assert not robots_allowed(body, "x", "https://a.com/tmp/file")


def test_empty_and_missing():
    assert robots_allowed("", "x", "https://a.com/x")
    assert robots_allowed(None, "x", "https://a.com/x")
    assert robots_allowed("User-agent: *\nDisallow:\n", "x", "https://a.com/x")


def test_sitemap_extraction():
    assert robots_sitemaps(BODY) == ["https://a.com/sitemap.xml"]
    assert robots_sitemaps("") == []


def test_policy_table():
    # 2xx -> body, 24h (robots.rs:100-107)
    body, allow_all, ttl = policy_for_status(200, "User-agent: *\nDisallow: /x\n", None)
    assert body is not None and not allow_all and ttl == 24 * 3600
    # 4xx -> allow-all, 24h (robots.rs:108-114)
    body, allow_all, ttl = policy_for_status(404, "", None)
    assert body is None and allow_all and ttl == 24 * 3600
    # 5xx, no stale -> disallow, 5 min (robots.rs:115-123)
    body, allow_all, ttl = policy_for_status(500, "", None)
    assert body is None and not allow_all and ttl == 300
    # 5xx with stale body -> stale-if-error
    body, allow_all, ttl = policy_for_status(500, "", "User-agent: *\nAllow: /\n")
    assert body is not None and ttl == 24 * 3600


def test_query_string_matched():
    body = "User-agent: *\nDisallow: /search?q=\n"
    assert not robots_allowed(body, "x", "https://a.com/search?q=test")
    assert robots_allowed(body, "x", "https://a.com/search")


def test_vectorized_gate_equals_per_row_matcher(spark):
    """robots_gate's batch matcher (compiled rules + pandas .str) must agree
    with robots_allowed row by row on adversarial paths."""
    from my_crawler_spark.operators.politeness import PRODUCT_TOKEN, robots_gate

    body = (
        "User-agent: *\n"
        "Disallow: /private/\n"
        "Allow: /private/ok\n"
        "Disallow: /*.json$\n"
        "Disallow: /search?q=\n"
        "Allow: /search?q=safe\n"
        "Disallow: /tmp*\n"
    )
    urls = [
        "https://a.com/", "https://a.com/page", "https://a.com/private/x",
        "https://a.com/private/ok", "https://a.com/private/ok/deeper",
        "https://a.com/data.json", "https://a.com/data.json5",
        "https://a.com/search?q=test", "https://a.com/search?q=safe",
        "https://a.com/search", "https://a.com/tmp/file", "https://a.com",
        "https://a.com?q=1", "https://a.com/TMP/upper",
        # fragments: urlsplit (scalar path) drops them — vectorized must too
        "https://a.com/data.json#frag", "https://a.com/private/x#a/b",
        "https://a.com/search?q=test#x", "https://a.com/#frag",
    ]
    rows = spark.createDataFrame(
        [("https://a.com", u) for u in urls], ["origin", "url"]
    )
    dim = spark.createDataFrame(
        [("https://a.com", body, False)], ["origin", "entry_body", "allow_all"]
    )
    got = {r.url: r.robots_allowed_flag for r in robots_gate(rows, dim).collect()}
    for u in urls:
        assert got[u] == robots_allowed(body, PRODUCT_TOKEN, u), u


def test_robots_gate_broadcasts_the_dim(spark):
    """The gate broadcasts the robots dim into its join and gives every row
    its origin's verdict."""
    from my_crawler_spark.operators.politeness import robots_gate

    rows = spark.createDataFrame(
        [(f"https://h{i % 3}.com", f"https://h{i % 3}.com/p{i}") for i in range(30)]
        + [("https://h0.com", "https://h0.com/private/x")],
        ["origin", "url"],
    )
    dim = spark.createDataFrame(
        [(f"https://h{j}.com", "User-agent: *\nDisallow: /private\n", False)
         for j in range(3)],
        ["origin", "entry_body", "allow_all"],
    )
    gated = robots_gate(rows, dim)
    got = {(r.origin, r.url): r.robots_allowed_flag for r in gated.collect()}
    assert len(got) == 31
    assert not got[("https://h0.com", "https://h0.com/private/x")]
    assert sum(got.values()) == 30
    import contextlib
    from io import StringIO

    buf = StringIO()
    with contextlib.redirect_stdout(buf):
        gated.explain("formatted")
    assert "BroadcastHashJoin" in buf.getvalue()


def test_robots_ttl_expiry_flips_verdict_mid_crawl(spark, tmp_path):
    """S4 TTL dynamics (robots.rs:69-97): a robots entry fetched in round 1
    (Disallow: /b, TTL 24 h) expires mid-crawl under a large logical round
    duration; the refresh observes a permissive robots and the /b URL —
    still queued thanks to politeness pacing — crawls instead of being
    robots-skipped. The static-mode twin run keeps skipping it."""
    import pandas as pd

    from my_crawler_spark.fixtures import make_images
    from my_crawler_spark.plans.crawl_plan import CrawlRunner

    host = "h7.example.com"
    origin = f"https://{host}"
    urls = [f"{origin}/p0"] + [f"{origin}/f{i}" for i in range(4)] + [f"{origin}/b/x"]

    def page(u, links=()):
        return {
            "url": u, "host": host, "status": 200, "content_type": "text/html",
            "flaky_fail_times": 0, "body_len": 1000,
            "image_id": "img-00000000", "outlinks": list(links),
        }

    pages = pd.DataFrame([page(urls[0], urls[1:])] + [page(u) for u in urls[1:]])

    def robots_source(now):
        # 0..86400s: Disallow /b (TTL 24 h); after expiry: allow everything
        body = "User-agent: *\nDisallow: /b\n" if now < 86400 else "User-agent: *\n"
        return pd.DataFrame([{"origin": origin, "status": 200, "body": body}])

    def run(dynamic):
        wd = tmp_path / ("dyn" if dynamic else "static")
        runner = CrawlRunner(
            spark, str(wd),
            pages=spark.createDataFrame(pages),
            redirects=spark.createDataFrame(
                [], "src_url string, dst_url string"
            ),
            images=spark.createDataFrame(make_images(seed=1, n=1)),
            robots_pdf=robots_source(0),
            sitemaps_pdf=pd.DataFrame(columns=["sitemap_url", "kind", "loc", "lastmod"]),
            budgets=spark.createDataFrame(
                [(host, 2)], "host string, tokens_per_round int"
            ),
            robots_ttl_dynamic=dynamic,
            robots_source_fn=robots_source,
            round_duration_secs=50_000,  # rounds 1..3 at t=0/50k/100k; expiry at 86400
        )
        try:
            runner.admit_requests(pd.DataFrame(
                [{"request_id": 1, "url": urls[0], "max_pages": 30,
                  "max_depth": 5, "same_domain": True}]
            ))
            runner.run(max_rounds=20)
            return {
                r.url: (r.outcome, r.round)
                for r in runner.t_visits.read().collect()
            }
        finally:
            runner.close()

    dyn = run(dynamic=True)
    static = run(dynamic=False)
    # pacing: seed r1; f0,f1 r2; f2,f3 r3; /b/x r4 (t=150k, after the r4
    # refresh at now=150k > 86400 flips the verdict)
    assert static[f"{origin}/b/x"][0] == "robots"
    assert dyn[f"{origin}/b/x"][0] == "crawled"
    assert dyn[f"{origin}/b/x"][1] >= 3
    # everything else identical between modes
    for u in urls[:-1]:
        assert dyn[u] == static[u]


def _mini_runner(spark, tmp_path, robots_source_fn, robots_pdf, name,
                 round_duration_secs=50_000, robots_ttl_dynamic=True):
    import pandas as pd

    from my_crawler_spark.fixtures import make_images
    from my_crawler_spark.plans.crawl_plan import CrawlRunner

    host = "h9.example.com"
    origin = f"https://{host}"
    pages = pd.DataFrame([{
        "url": f"{origin}/p0", "host": host, "status": 200,
        "content_type": "text/html", "flaky_fail_times": 0, "body_len": 100,
        "image_id": "img-00000000", "outlinks": [],
    }])
    return CrawlRunner(
        spark, str(tmp_path / name),
        pages=spark.createDataFrame(pages),
        redirects=spark.createDataFrame([], "src_url string, dst_url string"),
        images=spark.createDataFrame(make_images(seed=1, n=1)),
        robots_pdf=robots_pdf,
        sitemaps_pdf=pd.DataFrame(columns=["sitemap_url", "kind", "loc", "lastmod"]),
        budgets=spark.createDataFrame([(host, 2)], "host string, tokens_per_round int"),
        robots_ttl_dynamic=robots_ttl_dynamic,
        robots_source_fn=robots_source_fn,
        round_duration_secs=round_duration_secs,
    ), origin


def test_stale_robots_keeps_original_fetched_at(spark, tmp_path):
    """ADVICE r3: a 5xx-with-stale refresh re-inserts the stale entry
    UNCHANGED — original (expired) fetched_at/ttl — so the origin is due
    again on its next access (robots.rs:119-123) instead of freezing the
    stale body for a fresh 24 h. Timeline (round_duration=50k, TTL=86400):
    r1 fetch disallow-/b; r3 (t=100k) expired -> 500 -> stale kept, still
    expired; r4 (t=150k) refetched -> permissive. The frozen-stale bug
    would keep the disallow until t=186.4k."""
    import pandas as pd

    from my_crawler_spark.functions.robots import origin_allowed
    from my_crawler_spark.operators.politeness import PRODUCT_TOKEN

    def source(now):
        if now < 86_400:
            body, status = "User-agent: *\nDisallow: /b\n", 200
        elif now < 120_000:
            body, status = None, 500
        else:
            body, status = "User-agent: *\n", 200
        return pd.DataFrame([{"origin": origin, "status": status, "body": body}])

    host = "h9.example.com"
    origin = f"https://{host}"
    runner, origin = _mini_runner(spark, tmp_path, source, source(0), "stale")
    try:
        to_check = spark.createDataFrame(
            [(origin, f"{origin}/b/x")], ["origin", "url"]
        )
        runner._robots_dim_for_round(1, to_check)
        cache1 = runner.t_robots.read().collect()[0]
        assert cache1.fetched_at == 0 and cache1.ttl_secs == 86_400

        runner._robots_dim_for_round(3, to_check)  # t=100k: expired -> 500
        cache3 = runner.t_robots.read().collect()[0]
        assert cache3.entry_body and "Disallow: /b" in cache3.entry_body
        assert cache3.fetched_at == 0, "stale entry must keep original fetched_at"
        assert cache3.ttl_secs == 86_400

        dim4 = runner._robots_dim_for_round(4, to_check)  # t=150k: due again
        row = dim4.collect()[0]
        assert origin_allowed(row.entry_body, row.allow_all, PRODUCT_TOKEN,
                              f"{origin}/b/x")
        cache4 = runner.t_robots.read().collect()[0]
        assert cache4.fetched_at == 150_000
    finally:
        runner.close()


def test_dynamic_robots_dataframe_source(spark, tmp_path):
    """VERDICT r3 #6: robots_source_fn may return a Spark DataFrame — the
    refresh path then has NO driver-side pandas materialization of the
    source, and a zero-row refresh round must not crash on schema
    inference (empty pandas sources get an explicit schema too)."""
    import pandas as pd

    from my_crawler_spark.functions.robots import origin_allowed
    from my_crawler_spark.operators.politeness import PRODUCT_TOKEN

    host = "h9.example.com"
    origin = f"https://{host}"

    def df_source(now):
        body = "User-agent: *\nDisallow: /b\n" if now < 86_400 else "User-agent: *\n"
        return spark.createDataFrame(
            [(origin, 200, body)], "origin string, status long, body string"
        )

    runner, origin = _mini_runner(spark, tmp_path, df_source, None, "dfsrc")
    try:
        to_check = spark.createDataFrame([(origin, f"{origin}/b/x")], ["origin", "url"])
        dim1 = runner._robots_dim_for_round(1, to_check)
        r1 = dim1.collect()[0]
        assert not origin_allowed(r1.entry_body, r1.allow_all, PRODUCT_TOKEN,
                                  f"{origin}/b/x")
        dim3 = runner._robots_dim_for_round(3, to_check)  # t=100k: refreshed
        r3 = dim3.collect()[0]
        assert origin_allowed(r3.entry_body, r3.allow_all, PRODUCT_TOKEN,
                              f"{origin}/b/x")
        # admit_requests works without a pandas policy table (seed-origin
        # bounded collect)
        accepted = runner.admit_requests(pd.DataFrame(
            [{"request_id": 1, "url": f"{origin}/p0", "max_pages": 5,
              "max_depth": 2, "same_domain": True}]
        ))
        assert accepted == [1]
    finally:
        runner.close()


def test_empty_pandas_robots_source_has_schema(spark, tmp_path):
    """A refresh round where the pandas source returns ZERO rows used to
    crash createDataFrame with 'can not infer schema from empty dataset'."""
    import pandas as pd

    def source(now):
        if now == 0:
            return pd.DataFrame(
                [{"origin": "https://h9.example.com", "status": 200,
                  "body": "User-agent: *\n"}]
            )
        return pd.DataFrame(columns=["origin", "status", "body"])

    runner, origin = _mini_runner(spark, tmp_path, source, source(0), "empty",
                                  round_duration_secs=200_000)
    try:
        to_check = spark.createDataFrame(
            [(origin, f"{origin}/p0"), ("https://new.example.com",
                                        "https://new.example.com/x")],
            ["origin", "url"],
        )
        runner._robots_dim_for_round(1, to_check)
        # round 2 (t=200k): entry expired AND a new origin appears; the
        # empty source must resolve both as 404 allow-all without crashing
        dim2 = runner._robots_dim_for_round(2, to_check)
        rows = {r.origin: r for r in dim2.collect()}
        assert rows["https://new.example.com"].allow_all
    finally:
        runner.close()


def test_robots_gate_mixed_dim_verdicts(spark):
    """One gate pass over a dim mixing NULL bodies, allow-only bodies,
    disallow bodies and a missing origin yields a verdict for every row,
    each the policy's own."""
    from my_crawler_spark.operators.politeness import robots_gate

    rows = spark.createDataFrame(
        [
            (f"https://h{i % 5}.example.com", f"https://h{i % 5}.example.com/p{i}")
            for i in range(200)
        ],
        "origin string, url string",
    )
    dim = spark.createDataFrame(
        [
            ("https://h0.example.com", "User-agent: *\nAllow: /\n", False),
            ("https://h1.example.com", None, True),
            ("https://h2.example.com", None, False),
            ("https://h3.example.com",
             "User-agent: *\nDisallow: /p1\nAllow: /p19\n", False),
            # h4 missing -> 404 allow-all
        ],
        "origin string, entry_body string, allow_all boolean",
    )
    got = {
        (r.origin, r.url): r.robots_allowed_flag
        for r in robots_gate(rows, dim).collect()
    }
    assert len(got) == 200
    # the disallow body denies something (h3's urls are p3, p8, p13, ... —
    # /p13 prefix-matches Disallow /p1), an allowed h3 url exists, h2 (null
    # body, allow_all=False) denies all, and h4 (no dim row) allows all
    assert not got[("https://h3.example.com", "https://h3.example.com/p13")]
    assert got[("https://h3.example.com", "https://h3.example.com/p3")]
    assert not got[("https://h2.example.com", "https://h2.example.com/p2")]
    assert all(v for (o, _), v in got.items() if o == "https://h4.example.com")


def test_robots_policy_column_form_equals_policy_for_status(spark, tmp_path):
    """Both source shapes, resolved at t=0 and by a dynamic refresh, give
    each origin the (entry_body, allow_all) of policy_for_status: a 2xx body
    whose 512 KiB byte cap splits a character ends in U+FFFD, a 2xx row with
    a null body is an empty body (allow all), and 4xx and 5xx rows keep
    their policies."""
    import pandas as pd

    from my_crawler_spark.functions.robots import ROBOTS_MAX_BYTES

    head = "User-agent: *\nDisallow: /b\n#"
    split = head + "x" * (ROBOTS_MAX_BYTES - 1 - len(head)) + "\u20ac tail"
    src = pd.DataFrame([
        {"origin": "https://split.example.com", "status": 200, "body": split},
        {"origin": "https://null.example.com", "status": 200, "body": None},
        {"origin": "https://gone.example.com", "status": 404, "body": "x"},
        {"origin": "https://down.example.com", "status": 503, "body": None},
    ])
    want = {
        r.origin: policy_for_status(r.status, r.body or "", None)[:2]
        for r in src.itertuples()
    }
    assert want["https://split.example.com"][0].endswith("x\ufffd")
    assert want["https://null.example.com"] == ("", False)
    to_check = spark.createDataFrame(
        [(o, f"{o}/b/x") for o in src.origin], ["origin", "url"]
    )
    as_df = spark.createDataFrame(src, "origin string, status long, body string")
    for shape, source in (("pandas", src), ("dataframe", as_df)):
        for dynamic in (False, True):
            runner, _ = _mini_runner(
                spark, tmp_path, lambda now, s=source: s, None,
                f"{shape}-{dynamic}", robots_ttl_dynamic=dynamic,
            )
            try:
                dim = runner._robots_dim_for_round(1, to_check)
                got = {r.origin: (r.entry_body, r.allow_all) for r in dim.collect()}
            finally:
                runner.close()
            assert got == want, (shape, dynamic)


def test_static_crawl_same_for_both_robots_source_shapes(spark, tmp_path):
    """A static-mode crawl gives the same visit log whether its robots
    source is a pandas frame or the same rows as a DataFrame: /b is
    disallowed, and the host whose robots answered 2xx with no body is
    crawled."""
    import pandas as pd

    from my_crawler_spark.fixtures import make_images
    from my_crawler_spark.plans.crawl_plan import CrawlRunner

    a, b = "https://h7.example.com", "https://h8.example.com"
    links = [f"{a}/f0", f"{a}/b/x", f"{b}/q0"]

    def page(u, outlinks=()):
        return {
            "url": u, "host": u.split("/")[2], "status": 200,
            "content_type": "text/html", "flaky_fail_times": 0,
            "body_len": 1000, "image_id": "img-00000000",
            "outlinks": list(outlinks),
        }

    pages = pd.DataFrame([page(f"{a}/p0", links)] + [page(u) for u in links])
    robots = pd.DataFrame([
        {"origin": a, "status": 200, "body": "User-agent: *\nDisallow: /b\n"},
        {"origin": b, "status": 200, "body": None},
    ])

    def crawl(name, robots_source):
        runner = CrawlRunner(
            spark, str(tmp_path / name),
            pages=spark.createDataFrame(pages),
            redirects=spark.createDataFrame([], "src_url string, dst_url string"),
            images=spark.createDataFrame(make_images(seed=1, n=1)),
            robots_pdf=robots_source,
            sitemaps_pdf=pd.DataFrame(columns=["sitemap_url", "kind", "loc", "lastmod"]),
            budgets=spark.createDataFrame(
                [("h7.example.com", 8), ("h8.example.com", 8)],
                "host string, tokens_per_round int",
            ),
        )
        with runner:
            runner.admit_requests(pd.DataFrame(
                [{"request_id": 1, "url": f"{a}/p0", "max_pages": 10,
                  "max_depth": 3, "same_domain": False}]
            ))
            runner.run(max_rounds=5)
            return sorted(map(tuple, runner.t_visits.read().collect()))

    from_pandas = crawl("pandas", robots)
    from_df = crawl("dataframe", spark.createDataFrame(
        robots, "origin string, status long, body string"
    ))
    assert from_pandas == from_df
    outcome = {r[2]: r[4] for r in from_pandas}
    assert outcome == {
        f"{a}/p0": "crawled", f"{a}/f0": "crawled", f"{a}/b/x": "robots",
        f"{b}/q0": "crawled",
    }
