"""Synthetic fetch as a distributed join (S1/S2/Q7, F6/F7).

The graft's "web" is the pages/redirects/images tables: fetching a URL is
an equi-join ``frontier ⋈ pages ON url`` (a real-web variant would swap
this stage for a mapInArrow batched HTTP client — same dataflow contract).

Semantics reproduced (see oracle/reference_sim.py for the sequential twin):
- retry exhaustion: flaky_fail_times >= 3 attempts -> Http error
  (web_visitor.rs:24,144-184); < 3 -> eventual success (deterministic web)
- 403 -> Blocked(url-of-hop) (web_visitor.rs:121-123,152)
- 3xx -> follow redirects table, <= 10 hops (web_visitor.rs:120,186-217);
  implemented as a *bounded iterative join*: each iteration joins only the
  still-redirecting subset against redirects then pages — subset shrinks
  monotonically, so at scale each hop is a small shuffle, not a re-scan
- non-2xx -> Http error; non-HTML content type -> UnsupportedContentType
  (web_visitor.rs:127-134); body > 5 MiB -> BodyTooLarge
  (web_visitor.rs:25,220-241)

Output per input row: fetch_kind ('ok'|'blocked'|'failed'),
final_url, image_id, outlinks, blocked_url, error.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_ATTEMPTS = 3
MAX_REDIRECTS = 10
MAX_HTML_BYTES = 5 * 1024 * 1024
ALLOWED_CTYPES = ("text/html", "application/xhtml+xml")


def retry_token_cost(flaky_col: F.Column, retry_after_col: F.Column) -> F.Column:
    """Politeness tokens one frontier row consumes (S2).

    The reference acquires the per-origin limiter once per attempt
    (web_visitor.rs:193) and sleeps ``Retry-After`` when the header is
    present, else the backoff ``1s * 2^attempt``, between attempts
    (web_visitor.rs:161 ``retry_after(...).unwrap_or_else(|| backoff)``,
    :255-271). The fixture encodes "header absent" as retry_after_s = NULL.
    With one token ~= one 2-second origin slot (web_visitor.rs:29-62), a
    row's cost is

        attempts + floor(sum_of_inter-attempt_delays / 2)

    where attempts = min(flaky_fail_times + 1, MAX_ATTEMPTS). Healthy rows
    cost exactly 1 token, so admission is unchanged for them; retried rows
    eat into their host's round budget, pushing the host's later URLs into
    later rounds — pure pacing, never a gate change (strict-prefix rounds).

    Tri-state header, matching the reference's Option<Duration>: NULL =
    header absent -> exponential backoff; any non-NULL value INCLUDING 0 =
    Some(v) -> sleep exactly v (an explicit ``Retry-After: 0`` sleeps 0 s,
    it does NOT fall back to backoff; web_visitor.rs:161,255-262).
    """
    ra = retry_after_col.cast("long")
    attempts = F.least(
        F.coalesce(flaky_col, F.lit(0)).cast("long") + 1, F.lit(MAX_ATTEMPTS).cast("long")
    )
    d0 = F.when(ra.isNotNull(), ra).otherwise(F.lit(1).cast("long"))  # after attempt 0
    d1 = F.when(ra.isNotNull(), ra).otherwise(F.lit(2).cast("long"))  # after attempt 1
    delay = (
        F.when(attempts >= 3, d0 + d1)
        .when(attempts == 2, d0)
        .otherwise(F.lit(0).cast("long"))
    )
    return attempts + F.floor(delay / 2).cast("long")


def retry_after_seconds(header_col: F.Column, now_epoch_col: F.Column) -> F.Column:
    """Parse a Retry-After header into delay seconds — BOTH forms the
    reference accepts (web_visitor.rs:255-262): delta-seconds (``"120"``)
    and HTTP-date (``"Wed, 21 Oct 2015 07:28:00 GMT"``, seconds until that
    instant). A PAST date yields NULL — the reference's
    ``date.duration_since(now).ok()`` is ``None`` there, falling back to
    exponential backoff — while an exactly-now date is ``Some(0)`` (sleep
    0 s). Unparseable values -> NULL (header treated as absent).

    Pure column expressions (rlike + to_timestamp), so a raw-header ingest
    maps header -> retry_after_s without leaving codegen. ``now_epoch_col``
    is the fetch-time clock (a literal in deterministic webs).
    """
    digits = header_col.rlike(r"^[0-9]+$")
    # Spark >= 3 cannot PARSE day-of-week ("EEE") patterns: validate the
    # RFC 1123 shape with a regex, strip the weekday, parse the rest.
    # try_to_timestamp: unparseable dates yield NULL instead of raising
    # under ANSI mode.
    rfc1123 = header_col.rlike(
        r"^[A-Za-z]{3}, [0-9]{2} [A-Za-z]{3} [0-9]{4} "
        r"[0-9]{2}:[0-9]{2}:[0-9]{2} GMT$"
    )
    http_date = F.when(
        rfc1123,
        F.try_to_timestamp(
            F.substring(header_col, 6, 64), F.lit("dd MMM yyyy HH:mm:ss 'GMT'")
        ),
    )
    return (
        F.when(header_col.isNull(), F.lit(None).cast("long"))
        .when(digits, header_col.cast("long"))
        .when(
            # gate on parse success explicitly — an unparseable date must
            # stay NULL; a PAST date also stays NULL (duration_since().ok()
            # is None -> backoff), only now-or-future dates produce Some(d)
            http_date.isNotNull()
            & (http_date.cast("long") - now_epoch_col.cast("long") >= 0),
            http_date.cast("long") - now_epoch_col.cast("long"),
        )
        .otherwise(F.lit(None).cast("long"))
    )


def _effective_redirect(status_col: F.Column, flaky_col: F.Column) -> F.Column:
    """A page actually answers 3xx only when it isn't flaky: flaky pages
    answer 5xx then 200 on retry, and retry-exhausted pages fail before the
    redirect is followed (mirrors ``_classify``'s eff_status routing)."""
    return (
        (status_col >= 300)
        & (status_col < 400)
        & (F.coalesce(flaky_col, F.lit(0)) == 0)
    )


def max_redirect_hops(pages: DataFrame, redirects: DataFrame) -> int:
    """Longest consecutive-redirect run in the web, capped at MAX_REDIRECTS.
    One bounded sequence of shrinking joins at runner init — buys fetch_join
    a probe-free hop loop for every round after (the per-hop isEmpty()
    probes were ~11 serial driver actions/round). Each step is cached so
    iteration k is one incremental join over step k-1's (small, shrinking)
    tail set, not a k-deep recompute."""
    red_pages = (
        pages.filter(_effective_redirect(F.col("status"), F.col("flaky_fail_times")))
        .select("url")
        .cache()
    )
    red = redirects.select("src_url", "dst_url")
    # cur = chain tails still sitting on a redirect page after `hops` steps
    cur = red_pages
    hops = 0
    caches = [red_pages]
    try:
        while hops < MAX_REDIRECTS and not cur.isEmpty():
            hops += 1
            cur = (
                cur.join(red, cur["url"] == red["src_url"])
                .select(F.col("dst_url").alias("url"))
                .join(
                    red_pages.select(F.col("url").alias("__r")),
                    F.col("url") == F.col("__r"),
                )
                .select("url")
                .distinct()
                .cache()
            )
            caches.append(cur)
    finally:
        for c in caches:
            c.unpersist()
    return hops


def chain_token_cost(
    pages: DataFrame, redirects: DataFrame, max_hops: int,
    has_retry_after: bool = True,
) -> DataFrame:
    """(url, token_cost, chain_hops): politeness tokens a frontier URL
    consumes across its WHOLE redirect chain — the reference acquires the
    per-origin limiter before every hop, not just the first
    (web_visitor.rs:186-217, acquire at :193), so a 5-hop chain must eat
    5+ tokens of its host's round budget — plus the chain length itself
    (``chain_hops`` = red-steps to the terminal page), which lets each
    crawl round size its fetch hop loop to the admitted rows' actual
    maximum instead of unrolling MAX_REDIRECTS joins or probing per hop.

    Per-hop cost = retry_token_cost of that hop's page (redirect hops are
    non-flaky by construction, so they cost exactly 1 each); a hop whose
    target has no pages row costs 1 (the connect attempt); a redirect page
    with no edge ends the chain with no extra fetch (fetch_join's dead-edge
    branch). Terminal-only webs (max_hops=0) reduce to the plain per-page
    retry cost with chain_hops 0.

    Scale shape: the chain iteration runs only over redirect *sources*
    (tiny vs the pages table); the big side is touched once to build the
    per-page cost and once per chain step as the probe side of an equi-join.
    """
    # webs without the column have no header anywhere: NULL = absent
    ra = F.col("retry_after_s") if has_retry_after else F.lit(None).cast("long")
    base = (
        pages.select(
            "url",
            retry_token_cost(F.col("flaky_fail_times"), ra).alias("c"),
            _effective_redirect(F.col("status"), F.col("flaky_fail_times")).alias("__is_red"),
        )
        .join(
            redirects.select(
                F.col("src_url").alias("url"), F.col("dst_url").alias("__dst")
            ),
            "url",
            "left",
        )
        .select(
            "url", "c",
            F.when(F.col("__is_red"), F.col("__dst")).alias("next_url"),
        )
    )
    zero = F.lit(0).cast("int").alias("chain_hops")
    if max_hops <= 0:
        return base.select("url", F.col("c").alias("token_cost"), zero)
    done = base.filter(F.col("next_url").isNull()).select(
        "url", F.col("c").alias("token_cost"), zero
    )
    chains = base.filter(F.col("next_url").isNotNull()).select(
        "url", F.col("c").alias("token_cost"), "next_url"
    )
    # hop targets are redirect dsts only — keep the per-step probe relation
    # small instead of re-scanning the whole pages table each iteration
    step = (
        base.join(redirects.select(F.col("dst_url").alias("url")).distinct(), "url")
        .select(
            F.col("url").alias("__u"), F.col("c").alias("__c"),
            F.col("next_url").alias("__n"),
        )
    )
    for hop in range(1, max_hops + 1):
        chains = (
            chains.join(step, chains["next_url"] == F.col("__u"), "left")
            .select(
                "url",
                # missing pages row for the hop target = one connect attempt
                (F.col("token_cost") + F.coalesce(F.col("__c"), F.lit(1))).alias(
                    "token_cost"
                ),
                F.col("__n").alias("next_url"),
            )
        )
        done = done.unionByName(
            chains.filter(F.col("next_url").isNull()).select(
                "url", "token_cost", F.lit(hop).cast("int").alias("chain_hops")
            )
        )
        chains = chains.filter(F.col("next_url").isNotNull())
    # cycles / over-long chains: cost accrued over MAX_REDIRECTS hops is the
    # exact spend before the hop budget trips (web_visitor.rs:120)
    return done.unionByName(
        chains.select(
            "url", "token_cost", F.lit(max_hops).cast("int").alias("chain_hops")
        )
    )


def _classify(hop: DataFrame) -> DataFrame:
    """Resolve one hop: rows joined with their pages row -> terminal result
    or 'redirect' continuation. Input cols: cur_url + pages cols (nullable)."""
    eff_status = (
        F.when(F.col("flaky_fail_times") >= MAX_ATTEMPTS, F.col("status"))
        .when(F.col("flaky_fail_times") > 0, F.lit(200))
        .otherwise(F.col("status"))
    )
    return (
        hop.withColumn("__status", eff_status)
        .withColumn(
            "fetch_kind",
            F.when(F.col("status").isNull(), F.lit("failed"))  # connect error
            .when(F.col("flaky_fail_times") >= MAX_ATTEMPTS, F.lit("failed"))
            .when(F.col("__status") == 403, F.lit("blocked"))
            .when(
                (F.col("__status") >= 300) & (F.col("__status") < 400), F.lit("redirect")
            )
            .when((F.col("__status") < 200) | (F.col("__status") >= 300), F.lit("failed"))
            .when(~F.col("content_type").isin(*ALLOWED_CTYPES), F.lit("failed"))
            .when(F.col("body_len") > MAX_HTML_BYTES, F.lit("failed"))
            .otherwise(F.lit("ok")),
        )
        .withColumn(
            "fetch_error",
            F.when(F.col("status").isNull(), F.lit("http:connect"))
            .when(
                F.col("flaky_fail_times") >= MAX_ATTEMPTS,
                F.concat(F.lit("http:"), F.col("status").cast("string")),
            )
            .when(
                (F.col("fetch_kind") == "failed")
                & ((F.col("__status") < 200) | (F.col("__status") >= 300)),
                F.concat(F.lit("http:"), F.col("__status").cast("string")),
            )
            .when(
                (F.col("fetch_kind") == "failed")
                & ~F.col("content_type").isin(*ALLOWED_CTYPES),
                F.lit("unsupported_content_type"),
            )
            .when(F.col("fetch_kind") == "failed", F.lit("body_too_large"))
            .otherwise(F.lit(None).cast("string")),
        )
        .drop("__status")
    )


def _rendered_cols(rendered: DataFrame):
    return rendered.select(
        F.col("url").alias("__r_url"),
        F.col("image_id").alias("__r_img"),
        F.col("outlinks").alias("__r_links"),
    )


def _browser_fetch(frontier: DataFrame, rendered: DataFrame | None) -> DataFrame:
    """S3 browser-mode fetch (web_visitor_browser.rs:77-153,
    crawl_loop.rs:167-176): every URL resolves through the rendered table —
    no redirect following, no status/content-type semantics (the headless
    browser returns whatever the page renders to); a missing rendered row
    is a browser failure. final_url is the requested url."""
    if rendered is None:
        return (
            frontier.withColumn("fetch_kind", F.lit("failed"))
            .withColumn("final_url", F.lit(None).cast("string"))
            .withColumn("image_id", F.lit(None).cast("string"))
            .withColumn("outlinks", F.lit(None).cast("array<string>"))
            .withColumn("blocked_url", F.lit(None).cast("string"))
            .withColumn("fetch_error", F.lit("browser"))
        )
    ok = F.col("__r_url").isNotNull()
    return (
        frontier.join(
            F.broadcast(_rendered_cols(rendered)),
            frontier["url"] == F.col("__r_url"),
            "left",
        )
        .withColumn("fetch_kind", F.when(ok, F.lit("ok")).otherwise(F.lit("failed")))
        .withColumn("final_url", F.when(ok, F.col("url")))
        .withColumn("image_id", F.col("__r_img"))
        .withColumn("outlinks", F.col("__r_links"))
        .withColumn("blocked_url", F.lit(None).cast("string"))
        .withColumn("fetch_error", F.when(~ok, F.lit("browser")))
        .drop("__r_url", "__r_img", "__r_links")
    )


def fetch_join(
    frontier: DataFrame, pages: DataFrame, redirects: DataFrame,
    has_redirects: bool = True,
    cache_registry: list | None = None,
    rendered: DataFrame | None = None,
    max_hops: int | None = None,
) -> DataFrame:
    """frontier(request_id, seq, url[, use_browser], ...) -> + fetch result
    columns.

    Scale notes: the first join is the big one — pages should be bucketed
    by url so it's a co-located shuffle-hash join; redirect iterations only
    carry the (tiny) still-redirecting subset. AQE handles the skewed-host
    fan-in on the pages side. The rendered dim (S3) is a small broadcast.

    Browser semantics (S3): rows with use_browser=true resolve entirely via
    ``rendered`` (_browser_fetch); plain rows whose final page trips the
    needs_browser heuristic (computed JVM-side from body_html) get their
    content overridden by their rendered row when one exists — a failed
    browser fallback keeps the static shell (crawl_loop.rs:208-221).
    """
    browser_part = None
    if "use_browser" in frontier.columns:
        # NULL use_browser = plain fetch; filter(col)/filter(~col) would
        # silently drop null rows from both branches
        ub = F.coalesce(F.col("use_browser"), F.lit(False))
        browser_rows = frontier.filter(ub).drop("use_browser")
        frontier = frontier.filter(~ub).drop("use_browser")
        browser_part = _browser_fetch(browser_rows, rendered)

    fallback = rendered is not None and "body_html" in pages.columns
    if fallback:
        from ..functions.text import needs_browser_expr

        needs = needs_browser_expr(F.col("body_html")).alias("__needs_browser")
    else:
        needs = F.lit(False).alias("__needs_browser")
    pages_cols = pages.select(
        F.col("url").alias("cur_url"),
        "status",
        "content_type",
        "flaky_fail_times",
        "body_len",
        "image_id",
        "outlinks",
        needs,
    )
    red = redirects.select(
        F.col("src_url").alias("cur_url"), F.col("dst_url").alias("__next_url")
    )

    def finish(out: DataFrame) -> DataFrame:
        """Common tail: browser fallback override for needs_browser finals,
        then splice in the browser-mode rows."""
        if fallback:
            override_src = F.broadcast(_rendered_cols(rendered))
            out = out.join(override_src, out["final_url"] == F.col("__r_url"), "left")
            hit = F.col("__needs_browser") & F.col("__r_url").isNotNull()
            out = (
                out.withColumn(
                    "image_id",
                    F.when(hit, F.col("__r_img")).otherwise(F.col("image_id")),
                )
                .withColumn(
                    "outlinks",
                    F.when(hit, F.col("__r_links")).otherwise(F.col("outlinks")),
                )
                .drop("__r_url", "__r_img", "__r_links")
            )
        out = out.drop("__needs_browser")
        if browser_part is not None:
            out = out.unionByName(browser_part, allowMissingColumns=True)
        return out

    work = frontier.withColumn("cur_url", F.col("url"))
    if not has_redirects:
        # no redirect edges at all: one classify pass, 3xx -> Redirect error
        joined = _classify(work.join(pages_cols, "cur_url", "left")).withColumn(
            "__was_redirect", F.col("fetch_kind") == "redirect"
        )
        return finish(
            joined.withColumn(
                "fetch_kind",
                F.when(F.col("__was_redirect"), F.lit("failed")).otherwise(
                    F.col("fetch_kind")
                ),
            )
            .withColumn(
                "fetch_error",
                F.when(F.col("__was_redirect"), F.lit("redirect")).otherwise(
                    F.col("fetch_error")
                ),
            )
            .drop("__was_redirect")
            .withColumn(
                "final_url",
                F.when(F.col("fetch_kind") == "ok", F.col("cur_url")),
            )
            .withColumn(
                "blocked_url",
                F.when(F.col("fetch_kind") == "blocked", F.col("cur_url")),
            )
            .drop("cur_url", "status", "content_type", "flaky_fail_times", "body_len")
        )
    resolved_parts: list[DataFrame] = []
    cached: list[DataFrame] = [] if cache_registry is None else cache_registry
    # with a known chain bound (max_redirect_hops, runner init) the hop loop
    # is probe-free: exactly bound+1 classify passes, ZERO driver actions
    # here; without one, fall back to per-hop isEmpty() early exit
    last_hop = MAX_REDIRECTS if max_hops is None else min(max_hops, MAX_REDIRECTS)
    for hop in range(last_hop + 1):
        # hop caches keep each classify join computed once even though two
        # branches (terminal, redirecting) consume it; the caller unpersists
        # them (via cache_registry) once the round materializes — otherwise
        # they leak across rounds
        joined = _classify(work.join(pages_cols, "cur_url", "left")).cache()
        cached.append(joined)
        terminal = joined.filter(F.col("fetch_kind") != "redirect")
        resolved_parts.append(
            terminal.withColumn(
                "final_url",
                F.when(F.col("fetch_kind") == "ok", F.col("cur_url")).otherwise(F.lit(None)),
            ).withColumn(
                "blocked_url",
                F.when(F.col("fetch_kind") == "blocked", F.col("cur_url")).otherwise(
                    F.lit(None)
                ),
            )
        )
        redirecting = joined.filter(F.col("fetch_kind") == "redirect")
        if hop == last_hop:
            # hop budget exhausted -> Redirect error (web_visitor.rs:120).
            # With a chain bound < MAX_REDIRECTS this branch is empty by
            # construction (no chain is that long), so it is still exact.
            resolved_parts.append(
                redirecting.withColumn("fetch_kind", F.lit("failed"))
                .withColumn("fetch_error", F.lit("redirect"))
                .withColumn("final_url", F.lit(None).cast("string"))
                .withColumn("blocked_url", F.lit(None).cast("string"))
            )
            break
        # follow the edge; a missing edge is a Redirect error too
        stepped = redirecting.drop(
            "status", "content_type", "flaky_fail_times", "body_len", "image_id",
            "outlinks", "fetch_kind", "fetch_error", "__needs_browser",
        ).join(red, "cur_url", "left")
        dead = stepped.filter(F.col("__next_url").isNull()).drop("__next_url")
        resolved_parts.append(
            dead.withColumn("fetch_kind", F.lit("failed"))
            .withColumn("fetch_error", F.lit("redirect"))
            .withColumn("final_url", F.lit(None).cast("string"))
            .withColumn("blocked_url", F.lit(None).cast("string"))
            .withColumn("status", F.lit(None).cast("int"))
            .withColumn("content_type", F.lit(None).cast("string"))
            .withColumn("flaky_fail_times", F.lit(None).cast("int"))
            .withColumn("body_len", F.lit(None).cast("long"))
            .withColumn("image_id", F.lit(None).cast("string"))
            .withColumn("outlinks", F.lit(None).cast("array<string>"))
        )
        work = (
            stepped.filter(F.col("__next_url").isNotNull())
            .withColumn("cur_url", F.col("__next_url"))
            .drop("__next_url")
        )
        # probe only when the chain bound is unknown; the cached `joined`
        # makes it a cheap incremental check on a monotonically-shrinking set
        if max_hops is None and work.isEmpty():
            break

    out = resolved_parts[0]
    for part in resolved_parts[1:]:
        out = out.unionByName(part, allowMissingColumns=True)
    return finish(
        out.drop("cur_url", "status", "content_type", "flaky_fail_times", "body_len")
    )
