"""CrawlRunner — the BSP crawl driver (SURVEY.md §3.1 rebuild lifecycle).

Each round is one Spark job over the frontier snapshot:

  frontier ──pre-gates (joins: url_seen, blocked_origins)──▶ admit_prefix
     (politeness tokens, groupBy(host).applyInPandas) ──▶ robots_gate
     (groupBy(origin).applyInPandas) ──▶ fetch_join (pages ⋈ redirects,
     bounded iterative) ──▶ extract_pages (mapInPandas decode/phash/chunk)
     ──▶ gate_fold (sequential per-request semantics over control columns)
     ──▶ commits: url_seen ∪ marks, blocked_origins, visit_log, metrics,
     chunks (upsert + stale-version delete), next frontier = deferred ∪
     admit_links(...)

All persistent state lives in SnapshotTable commits, so killing the driver
between rounds and constructing a new CrawlRunner on the same workdir
resumes exactly (tests/test_frontier.py::test_resume_mid_crawl).

Determinism contract (SURVEY §7): explicit `seq` = the reference's FIFO
enqueue counter; rounds admit strict seq-prefixes, so round boundaries
(politeness pacing) cannot change gate decisions — the final visit_log
sorted by (request_id, seq) equals the sequential oracle's visit order.
"""

from __future__ import annotations

import threading

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.robots import policy_for_status, robots_sitemaps
from ..functions.url import (
    is_crawl_trap,
    py_canonicalize_url,
    py_is_crawl_trap,
    py_origin,
    url_host,
    url_origin,
)
from ..operators.extract import explode_chunks, extract_pages
from ..operators.fetch import chain_token_cost, fetch_join, max_redirect_hops
from ..operators.frontier import FOLD_IN_COLS, admit_links, assign_seqs, gate_fold
from ..operators.politeness import admit_prefix, py_robots_policy_allowed, robots_gate
from ..sources.lake import Catalog, upsert_chunks_with_stale_delete

from ..operators.sitemaps import (  # noqa: E402 (single source for the caps)
    SITEMAP_HARD_CAP,
    SITEMAP_MAX_DEPTH,
    SITEMAP_MAX_FILES,
)

# A round whose fold output has at most this many rows broadcasts its
# control relations (crawled ids, a(t), M(t)) into the chunk and link joins,
# so the heavy cached sides (extracted pages, outlink arrays) stay in place;
# above it those joins shuffle on (request_id, seq) / (request_id, url).
ROUND_CTL_BROADCAST_ROWS = 1_000_000
# The robots dim broadcasts into the gate join up to this many rows; a
# larger dim (10^8 origins is a table) is shuffle-joined on origin.
ROBOTS_BROADCAST_ROWS = 1_000_000

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("request_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("seq", T.LongType()),
    ]
)
URL_SEEN_SCHEMA = T.StructType(
    [T.StructField("request_id", T.LongType()), T.StructField("url", T.StringType())]
)
BLOCKED_SCHEMA = T.StructType(
    [T.StructField("request_id", T.LongType()), T.StructField("origin", T.StringType())]
)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("request_id", T.LongType()),
        T.StructField("crawled_so_far", T.LongType()),
        T.StructField("max_seq", T.LongType()),
    ]
)
VISIT_LOG_SCHEMA = T.StructType(
    [
        T.StructField("request_id", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("outcome", T.StringType()),
        T.StructField("final_url", T.StringType()),
        T.StructField("round", T.IntegerType()),
    ]
)
METRICS_SCHEMA = T.StructType(
    [
        T.StructField("request_id", T.LongType()),
        T.StructField("round", T.IntegerType()),
        T.StructField("crawled", T.LongType()),
        T.StructField("indexed", T.LongType()),
        T.StructField("failed", T.LongType()),
        T.StructField("skipped_robots", T.LongType()),
        T.StructField("skipped_depth", T.LongType()),
        T.StructField("blocked", T.LongType()),
        T.StructField("admitted", T.LongType()),
        T.StructField("deferred", T.LongType()),
        # always NULL since the gate fold has one path; kept so existing
        # metrics tables resume unchanged
        T.StructField("slow_fold_rows", T.LongType()),
    ]
)
CHUNKS_SCHEMA = T.StructType(
    [
        T.StructField("request_id", T.LongType()),
        T.StructField("chunk_content", T.StringType()),
        T.StructField("chunk_heading", T.StringType()),
        T.StructField("chunk_index", T.LongType()),
        T.StructField("page_title", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("source_url", T.StringType()),
        T.StructField("page_version", T.StringType()),
        T.StructField("point_id", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("round", T.IntegerType()),
        T.StructField("table", T.StringType()),
        T.StructField("snapshot", T.IntegerType()),
        T.StructField("rows_written", T.LongType()),
        T.StructField("partitions", T.IntegerType()),
    ]
)
PAGE_COST_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("token_cost", T.LongType()),
        T.StructField("chain_hops", T.IntegerType()),
    ]
)
ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("origin", T.StringType()),
        T.StructField("entry_body", T.StringType()),
        T.StructField("allow_all", T.BooleanType()),
        T.StructField("ttl_secs", T.LongType()),
        T.StructField("fetched_at", T.LongType()),
    ]
)
REQUESTS_SCHEMA = T.StructType(
    [
        T.StructField("request_id", T.LongType()),
        T.StructField("seed_url", T.StringType()),
        T.StructField("seed_origin", T.StringType()),
        T.StructField("max_pages", T.IntegerType()),
        T.StructField("max_depth", T.IntegerType()),
        T.StructField("same_domain", T.BooleanType()),
        T.StructField("use_browser", T.BooleanType()),
    ]
)


class CrawlRunner:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        pages: DataFrame,
        redirects: DataFrame,
        images: DataFrame,
        robots_pdf: pd.DataFrame,
        sitemaps_pdf: pd.DataFrame,
        budgets: DataFrame,
        rendered: DataFrame | None = None,
        use_bloom: bool = True,
        bloom_min_rows: int = 5000,
        host_buckets: int = 32,
        robots_ttl_dynamic: bool = False,
        robots_source_fn=None,
        round_duration_secs: int = 16,
    ):
        """``use_bloom`` and ``bloom_min_rows`` are accepted and ignored:
        link admission always drops seen links with the exact ``url_seen``
        anti-join (``operators.frontier.admit_links``)."""
        self.spark = spark
        self.catalog = Catalog(spark, workdir)
        # Partition the big web tables by url so every round's fetch join is
        # co-located (the 100 TB version buckets these once at ingest) —
        # and SORT within partitions so the cached relation also satisfies
        # the sort-merge join's ordering requirement: InMemoryRelation
        # preserves outputOrdering, so every round's fetch join skips the
        # pages-side sort (bucketBy+sortBy amortized into the cache).
        self.pages = (
            pages.repartition(host_buckets, "url").sortWithinPartitions("url").cache()
        )
        self.redirects = redirects
        self.has_redirects = not redirects.isEmpty()
        # chain bound: computed once here, makes every round's redirect hop
        # loop probe-free (cuts ~11 serial driver actions/round to 0)
        self.redirect_hops = (
            max_redirect_hops(self.pages, redirects) if self.has_redirects else 0
        )
        # per-attempt politeness cost (S2) + per-hop chain cost (Q7): webs
        # that model Retry-After carry a retry_after_s column; webs with
        # redirect chains charge every hop (web_visitor.rs:193 acquires the
        # limiter per hop). Webs with neither are pre-S2 (unit cost) and
        # skip the admission-side cost join entirely. At cluster scale both
        # frontier and pages are bucketed by url, making this join co-located.
        self.page_cost = None  # set below, after the catalog exists
        self.rendered = rendered  # S3 browser-view dim; None = no browser web
        self.images = images
        self.budgets = budgets
        # robots cache dynamics (robots.rs:62-134): the robots "web" is a
        # source of (origin, status, body) observations; the CACHE is policy
        # rows with TTLs. Static mode (default) resolves the policy once at
        # t=0 — the multi-hour shape where no entry expires mid-crawl.
        # Dynamic mode (robots_ttl_dynamic) keeps the cache in a
        # SnapshotTable and re-fetches expired origins each round at the
        # logical clock now = (round-1) * round_duration_secs — the
        # multi-day 100 TB shape (TTL 24 h ok / 5 min fail).
        self.robots_ttl_dynamic = robots_ttl_dynamic
        self.robots_source_fn = robots_source_fn or (lambda now: robots_pdf)
        self.round_duration_secs = round_duration_secs
        seed_source = self.robots_source_fn(0)
        if isinstance(seed_source, DataFrame):
            # DataFrame-native source (10^8 origins is a table, not a dim):
            # the t=0 policy resolution stays relational — nothing is
            # materialized on the driver (VERDICT r3 item #6).
            self.robots_pdf = None
            self.robots_dim = self._resolve_policies(seed_source).select(
                "origin", "entry_body", "allow_all"
            )
        else:
            rows = []
            for r in seed_source.itertuples():
                body, allow_all, ttl = policy_for_status(int(r.status), r.body or "", None)
                rows.append((r.origin, body, bool(allow_all), int(ttl)))
            self.robots_pdf = pd.DataFrame(
                rows, columns=["origin", "entry_body", "allow_all", "ttl_secs"]
            )
            self.robots_dim = spark.createDataFrame(
                self.robots_pdf[["origin", "entry_body", "allow_all"]]
            )
        self.sitemaps_pdf = sitemaps_pdf
        # state tables
        self.t_frontier = self.catalog.table("frontier", FRONTIER_SCHEMA)
        self.t_seen = self.catalog.table("url_seen", URL_SEEN_SCHEMA)
        self.t_blocked = self.catalog.table("blocked_origins", BLOCKED_SCHEMA)
        self.t_state = self.catalog.table("request_state", STATE_SCHEMA)
        self.t_visits = self.catalog.table("visit_log", VISIT_LOG_SCHEMA)
        self.t_metrics = self.catalog.table("metrics", METRICS_SCHEMA)
        self.t_chunks = self.catalog.table("chunks", CHUNKS_SCHEMA)
        self.t_lineage = self.catalog.table("lineage", LINEAGE_SCHEMA)
        # lineage rows buffer here until _flush_lineage; the round's commit
        # threads and the chunk sink append concurrently
        self._lineage_lock = threading.Lock()
        self._lineage_buf: list = []
        # Async chunk sink (vector upsert): the chunks table is a pure sink —
        # nothing in the crawl loop reads it — so its upsert (the round's
        # embedding UDF plus its biggest parquet write) runs on a dedicated
        # one-thread pool and is joined at the NEXT round's commit phase.
        # That overlaps the write with the next superstep's CPU-bound fold:
        # on the single-disk sandbox the write phase has a measured ~0.25-0.33
        # parallel-scaling ceiling (BENCH/BASELINE.md), and hiding it behind
        # compute is the same async-sink-flush shape a cluster engine uses.
        # run()/close() drain, so every external reader of t_chunks sees a
        # complete table.
        self._sink_pool = None
        self._pending_chunks = None
        self._deferred_caches: list = []
        self.t_requests = self.catalog.table("requests", REQUESTS_SCHEMA)
        self.t_robots = self.catalog.table("robots", ROBOTS_SCHEMA)
        # per-attempt + per-hop politeness cost dim (S2/Q7), WRITTEN ONCE at
        # init: the chain closure is an O(hops^2) join tree; joined into the
        # control set every round it would re-embed that subtree in every
        # round's plan (and the fetch hop loop replicates lineage per hop) —
        # observed to OOM the driver just generating plan strings. Snapshot-
        # table-backing truncates the lineage to a parquet scan with no
        # persisted blocks to leak across runners — and is the 100 TB shape
        # anyway (a static dim belongs in a table written at ingest).
        has_retry = "retry_after_s" in pages.columns
        if has_retry or self.redirect_hops > 0:
            t_cost = self.catalog.table("page_cost", PAGE_COST_SCHEMA)
            t_cost.commit(
                chain_token_cost(
                    self.pages, redirects, self.redirect_hops,
                    has_retry_after=has_retry,
                ).select(*[f.name for f in PAGE_COST_SCHEMA]),
                mode="overwrite",
            )
            self.page_cost = t_cost.read()
        # the round run_round runs next; None = derive it from metrics at
        # the first run() (a fresh runner resuming a crawl)
        self._next_round: int | None = None
        # requests dim changes only at admit/seed time, but run_round
        # re-reads and RE-BROADCASTS it every round; caching the scan keeps
        # the per-round broadcast build a memory read instead of a parquet
        # read + decode (level-independent driver cost — the 4->16 scaling
        # residual). Invalidated on every t_requests commit.
        self._requests_cache: DataFrame | None = None
        # budgets / static robots are per-crawl constants: pin them too
        self.budgets = self.budgets.cache()
        self.robots_dim = self.robots_dim.cache()
        # decoded-image stats dim: the per-image decode/phash verdicts are
        # crawl-constant, so decode each distinct image ONCE and reuse the
        # joined verdicts every round (decode-per-fetch repeated identical
        # work fan-out times — ruinous with the real JPEG codec)
        from ..operators.extract import image_decode_stats

        self.image_stats = image_decode_stats(self.images).cache()
        # GC finalizer: a runner dropped WITHOUT close() (e.g. a bench or
        # notebook loop constructing one per run) must not leak its pinned
        # caches into the shared JVM — three leaked 2.4M-row pages caches
        # measurably degraded everything after them in one session. The
        # callback holds the cache LIST (never self), so refcount collection
        # fires it as soon as the runner goes out of scope.
        import weakref

        self._pinned_caches = [self.pages, self.budgets, self.robots_dim,
                               self.image_stats]
        self._finalizer_state = {"pool": None}  # run_round parks _sink_pool here
        self._cache_finalizer = weakref.finalize(
            self, _release_runner_resources, self._pinned_caches,
            self._finalizer_state,
        )

    def _drain_chunks(self) -> None:
        """Join the in-flight async chunk upsert (re-raising any failure)
        and release the round caches it pinned."""
        fut, self._pending_chunks = self._pending_chunks, None
        if fut is not None:
            fut.result()
        for df in self._deferred_caches:
            try:
                df.unpersist()
            except Exception:
                pass
        self._deferred_caches.clear()

    def close(self) -> None:
        """Release the runner's pinned caches (the bucketed pages table).

        Long pytest sessions construct many runners against one shared JVM;
        without this the per-runner ``pages.cache()`` accumulates until the
        driver heap is exhausted (the round-1 resume-test flake)."""
        try:
            # belt-and-braces for abnormal exits; the normal path drains (and
            # raises) in run(). Swallow here so a close() during exception
            # unwind can't mask the original failure.
            self._drain_chunks()
        except Exception:
            pass
        if self._sink_pool is not None:
            self._sink_pool.shutdown(wait=True)
            self._sink_pool = None
        self._flush_lineage()
        # run the GC finalizer now: it frees _pinned_caches, and a finalizer
        # runs at most once, so the GC has nothing left to do
        self._cache_finalizer()

    def _requests_df(self) -> DataFrame:
        """The requests dim, cached across rounds (constant between admits)."""
        if self._requests_cache is None:
            self._requests_cache = self.t_requests.read().cache()
            self._pinned_caches.append(self._requests_cache)
        return self._requests_cache

    def _invalidate_requests(self) -> None:
        if self._requests_cache is not None:
            self._pinned_caches.remove(self._requests_cache)
            try:
                self._requests_cache.unpersist()
            except Exception:
                pass
            self._requests_cache = None

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    # ------------------------------------------------------------------ admit
    def _discover_sitemap_pages(self, seed: str, declared: list[str], max_pages: int) -> list[str]:
        """sitemap::discover (sitemap.rs:17-75) over the sitemaps dim.

        Driver-side on purpose for the interactive admit path: the file BFS
        is capped at 20 files / depth 3 per request (sitemap.rs:13-15) — a
        dimension lookup, not dataflow. The sequential loop itself lives in
        operators/sitemaps.py next to its distributed twin
        (sitemap_bulk_discover — the fleet-sized path); tests assert the
        two produce identical pages in identical order."""
        from ..operators.sitemaps import py_discover_sitemap_pages

        return py_discover_sitemap_pages(self.sitemaps_pdf, seed, declared, max_pages)

    def admit_requests(self, seeds_pdf: pd.DataFrame) -> list[int]:
        """add_crawl_request + seed-time sitemap seeding (crawl_loop.rs:61-69,
        106-141). Returns accepted request_ids."""
        if self.robots_pdf is not None:
            robots_by_origin = {
                r.origin: (r.entry_body, r.allow_all)
                for r in self.robots_pdf.itertuples()
            }
        else:
            # DataFrame-native robots source: pull policies for the SEED
            # origins only — bounded by the request batch, not the table
            seed_origins = {
                py_origin(c)
                for c in (py_canonicalize_url(s.url) for s in seeds_pdf.itertuples())
                if c is not None
            }
            robots_by_origin = {
                r.origin: (r.entry_body, r.allow_all)
                for r in self.robots_dim.filter(
                    F.col("origin").isin(sorted(seed_origins))
                ).collect()
            }
        accepted, req_rows, frontier_rows, state_rows = [], [], [], []
        for s in seeds_pdf.itertuples():
            seed = py_canonicalize_url(s.url)
            if seed is None or py_is_crawl_trap(seed):
                continue
            accepted.append(int(s.request_id))
            origin = py_origin(seed)
            req_rows.append(
                (int(s.request_id), seed, origin, int(s.max_pages),
                 int(s.max_depth), bool(s.same_domain),
                 bool(getattr(s, "use_browser", False)))
            )
            seq = 1
            frontier_rows.append((int(s.request_id), seed, _host_of(seed), 0, seq))
            enqueued = {seed}  # per-request dup check: O(1) lookup, not a
            # scan of every frontier row appended so far (O(n^2) at the
            # 10k-sitemap-pages/request cap)
            body, allow_all = robots_by_origin.get(origin, (None, True))
            if py_robots_policy_allowed(body, allow_all, seed):
                declared = robots_sitemaps(body)
                for u in self._discover_sitemap_pages(seed, declared, int(s.max_pages)):
                    if py_is_crawl_trap(u) or u in enqueued:
                        continue
                    enqueued.add(u)
                    seq += 1
                    frontier_rows.append((int(s.request_id), u, _host_of(u), 1, seq))
            state_rows.append((int(s.request_id), 0, seq))
        self.t_requests.commit(self.spark.createDataFrame(req_rows, REQUESTS_SCHEMA))
        self._invalidate_requests()
        # append, like seed_frontier_bulk_many: requests admitted earlier
        # keep their queued frontier and their state
        self.t_frontier.commit(self.spark.createDataFrame(frontier_rows, FRONTIER_SCHEMA))
        self.t_state.commit(self.spark.createDataFrame(state_rows, STATE_SCHEMA))
        return accepted

    @staticmethod
    def _bulk_seed_rows(urls: DataFrame) -> DataFrame:
        """(request_id, url) -> frontier rows with per-request seqs in url
        order, with NO single-task stage anywhere: seqs come from
        ranking.global_rank's range-partitioned construction ordered by
        (request_id, url), rebased per request by a partial-aggregable
        groupBy(min) joined back as a broadcast dim. The previous
        row_number() over Window.partitionBy(request_id) colocated each
        request's whole frontier in one task — exactly the 10^10-single-
        frontier degenerate shape BASELINE.json warns about. The returned DataFrame carries the
        range-partition cache handle as `_graft_persisted` — callers
        unpersist after committing."""
        from ..operators.ranking import global_rank

        ranked = global_rank(
            urls.select("request_id", "url").distinct(),  # unique (rid, url)
            [F.col("request_id"), F.col("url")],
            rank_col="__g",
        )
        offsets = ranked.groupBy("request_id").agg(F.min("__g").alias("__base"))
        rows = (
            ranked.join(F.broadcast(offsets), "request_id")
            .withColumn("seq", (F.col("__g") - F.col("__base") + 1).cast("long"))
            .withColumn("host", url_host(F.col("url")))
            .withColumn("depth", F.lit(0))
            .select(*[f.name for f in FRONTIER_SCHEMA])
        )
        rows._graft_persisted = ranked._graft_persisted
        return rows

    def seed_frontier_bulk_many(
        self, requests: list[tuple[int, str, int, int, bool]], urls: DataFrame
    ) -> None:
        """Bulk-inject seed frontiers for MANY requests in one pass: three
        commits total instead of three per request (the per-request loop's
        fixed job latency dominates large-fleet setup).

        requests: [(request_id, seed_url, max_pages, max_depth, same_domain)]
        urls:     (request_id, url) covering every request's seed frontier.
        """
        rows = self._bulk_seed_rows(urls).persist()
        try:
            self.t_frontier.commit(rows, mode="append")
            state = rows.groupBy("request_id").agg(F.max("seq").alias("max_seq")).select(
                "request_id",
                F.lit(0).cast("long").alias("crawled_so_far"),
                F.col("max_seq"),
            )
            self.t_state.commit(state, mode="append")
        finally:
            rows.unpersist()
            rows._graft_persisted.unpersist()
        req_rows = [
            (int(rid), seed, py_origin(seed), int(mp), int(md), bool(sd), False)
            for rid, seed, mp, md, sd in requests
        ]
        self.t_requests.commit(self.spark.createDataFrame(req_rows, REQUESTS_SCHEMA))
        self._invalidate_requests()

    # ------------------------------------------------------------------ robots
    def _source_df(self, now: int) -> tuple[DataFrame, bool]:
        """The robots source as (DataFrame of (origin, status, body),
        is_dim_sized).

        Accepts either shape from ``robots_source_fn``: a Spark DataFrame
        (the 100 TB path — joins stay relational, nothing touches the
        driver, is_dim_sized=False) or a pandas frame (fixture webs —
        converted with an EXPLICIT schema so a zero-row refresh round
        cannot crash on schema inference; always broadcast-sized)."""
        src = self.robots_source_fn(now)
        if isinstance(src, DataFrame):
            return src.select("origin", "status", "body"), False
        return (
            self.spark.createDataFrame(
                src[["origin", "status", "body"]],
                schema="origin string, status long, body string",
            ),
            True,
        )

    @staticmethod
    def _truncated_body() -> F.Column:
        """robots body capped at ROBOTS_MAX_BYTES BYTES (robots.rs:86 caps
        the fetched byte stream, then from_utf8_lossy) — encode, slice the
        binary, decode; a rule straddling the cap decodes lossily exactly
        like the reference."""
        from ..functions.robots import ROBOTS_MAX_BYTES

        return F.decode(
            F.substring(F.encode(F.col("body"), "UTF-8"), 1, ROBOTS_MAX_BYTES),
            "UTF-8",
        )

    def _resolve_policies(self, src: DataFrame) -> DataFrame:
        """policy_for_status (robots.rs:100-134) in COLUMN form, no-stale
        case: 2xx parse 24 h / 4xx allow-all 24 h / else disallow 5 min."""
        from ..functions.robots import ROBOTS_FAIL_TTL_SECS, ROBOTS_OK_TTL_SECS

        status = F.coalesce(F.col("status"), F.lit(404))
        is_2xx = (status >= 200) & (status < 300)
        is_4xx = (status >= 400) & (status < 500)
        return src.select(
            "origin",
            F.when(is_2xx, self._truncated_body())
            .otherwise(F.lit(None).cast("string"))
            .alias("entry_body"),
            F.when(is_4xx, F.lit(True)).otherwise(F.lit(False)).alias("allow_all"),
            F.when(is_2xx | is_4xx, F.lit(ROBOTS_OK_TTL_SECS))
            .otherwise(F.lit(ROBOTS_FAIL_TTL_SECS))
            .cast("long")
            .alias("ttl_secs"),
        )

    def _robots_dim_for_round(self, round_no: int, to_check: DataFrame):
        """-> (robots_dim, broadcast_flag) for this round's gate.

        Static mode: the t=0 policy dim, always broadcast (current webs are
        dimension-sized). Dynamic mode (robots.rs:69-97): read the cache
        table, split fresh/expired at now = (round-1)*round_duration_secs,
        re-resolve (expired ∪ uncached-but-needed) origins against the
        robots source with the policy table in COLUMN form — 2xx parse
        24 h / 4xx allow-all 24 h / 5xx stale-if-available else disallow
        5 min (robots.rs:100-134) — and commit the merged cache. The dim is
        broadcast only up to ROBOTS_BROADCAST_ROWS rows; above it the
        gate join falls back to a shuffle join (10^8 origins is a table,
        not a dim).
        """
        from ..functions.robots import ROBOTS_FAIL_TTL_SECS, ROBOTS_OK_TTL_SECS

        if not self.robots_ttl_dynamic:
            return self.robots_dim, True
        now = (round_no - 1) * self.round_duration_secs
        cache = self.t_robots.read()
        fresh = cache.filter(F.col("fetched_at") + F.col("ttl_secs") > F.lit(now))
        needed = (
            to_check.select("origin").distinct()
            .join(fresh.select("origin"), "origin", "left_anti")
        )
        stale = cache.select(
            "origin",
            F.col("entry_body").alias("__stale"),
            F.col("fetched_at").alias("__stale_at"),
            F.col("ttl_secs").alias("__stale_ttl"),
        )
        src, src_is_dim = self._source_df(now)
        status = F.coalesce(F.col("status"), F.lit(404))  # no row = 404 fetch
        is_2xx = (status >= 200) & (status < 300)
        is_4xx = (status >= 400) & (status < 500)
        # 5xx with a stale body keeps the WHOLE stale entry — including its
        # original (already-expired) fetched_at/ttl, so the origin is due
        # for re-fetch on its next access instead of freezing the stale
        # body for a fresh 24 h (robots.rs:119-123 re-inserts `stale`
        # unchanged).
        stale_hit = ~is_2xx & ~is_4xx & F.col("__stale").isNotNull()
        # fixture (pandas) sources stay a broadcast dim; a DataFrame source
        # is table-sized, so the join is left to AQE (shuffle or broadcast
        # by measured size)
        src_j = F.broadcast(src) if src_is_dim else src
        resolved = (
            needed.join(src_j, "origin", "left")
            .join(stale, "origin", "left")
            .select(
                "origin",
                F.when(is_2xx, self._truncated_body())
                .when(is_4xx, F.lit(None).cast("string"))
                .otherwise(F.col("__stale"))
                .alias("entry_body"),
                F.when(is_4xx, F.lit(True)).otherwise(F.lit(False)).alias("allow_all"),
                F.when(stale_hit, F.col("__stale_ttl"))
                .when(~is_2xx & ~is_4xx, F.lit(ROBOTS_FAIL_TTL_SECS))
                .otherwise(F.lit(ROBOTS_OK_TTL_SECS))
                .cast("long")
                .alias("ttl_secs"),
                F.when(stale_hit, F.col("__stale_at"))
                .otherwise(F.lit(now))
                .cast("long")
                .alias("fetched_at"),
            )
        )
        # expired entries NOT touched this round stay cached: their body is
        # the stale-if-error fallback for a future refresh (robots.rs:119-123)
        keep_expired = cache.join(fresh.select("origin"), "origin", "left_anti").join(
            needed.select("origin"), "origin", "left_anti"
        )
        merged = (
            fresh.unionByName(resolved)
            .unionByName(keep_expired)
            .select(*[f.name for f in ROBOTS_SCHEMA])
        )
        self.t_robots.commit(merged, mode="overwrite")
        dim = self.t_robots.read().select("origin", "entry_body", "allow_all")
        return dim, self.t_robots.last_rows <= ROBOTS_BROADCAST_ROWS

    # ------------------------------------------------------------------ round
    def run_round(self, round_no: int) -> int:
        """One BSP superstep. Returns number of frontier rows remaining."""
        if self.t_frontier.count_rows() == 0:
            return 0
        frontier = self.t_frontier.read()
        spark = self.spark
        seen = self.t_seen.read()
        blocked = self.t_blocked.read()
        state = self.t_state.read()
        requests = self._requests_df()

        ctl = (
            frontier.join(
                seen.withColumn("pre_visited", F.lit(True)), ["request_id", "url"], "left"
            )
            .withColumn("pre_visited", F.coalesce("pre_visited", F.lit(False)))
            .withColumn("origin", url_origin(F.col("url")))
            .join(
                F.broadcast(blocked.withColumn("pre_blocked", F.lit(True))),
                ["request_id", "origin"],
                "left",
            )
            .withColumn("pre_blocked", F.coalesce("pre_blocked", F.lit(False)))
            .join(F.broadcast(state), "request_id", "left")
            .join(
                F.broadcast(requests.select("request_id", "max_pages", "max_depth")),
                "request_id",
                "left",
            )
            .withColumn(
                "fetchable",
                (~F.col("pre_visited"))
                & (~F.col("pre_blocked"))
                & (F.col("depth") <= F.col("max_depth"))
                & (F.col("crawled_so_far") < F.col("max_pages")),
            )
        )
        if self.page_cost is not None:
            ctl = ctl.join(self.page_cost, "url", "left").withColumn(
                "token_cost", F.coalesce("token_cost", F.lit(1).cast("long"))
            ).withColumn(
                "chain_hops", F.coalesce("chain_hops", F.lit(0).cast("int"))
            )
        round_caches: list = []
        hop_caches: list = []
        try:
            marked = admit_prefix(ctl, self.budgets).cache()
            round_caches.append(marked)
            # per-round fetch hop bound: the max chain length among this
            # round's fetchable rows (one tiny agg over the admission cache;
            # replaces both the per-hop isEmpty probes and a MAX_REDIRECTS
            # unroll — a redirect-free round plans a single classify pass)
            round_hops = 0
            if self.redirect_hops > 0 and "chain_hops" in marked.columns:
                row = (
                    marked.filter(F.col("admitted") & F.col("fetchable"))
                    .agg(F.max("chain_hops"))
                    .collect()[0]
                )
                round_hops = int(row[0] or 0)
            admitted = marked.filter("admitted").drop("admitted")
            deferred = marked.filter(~F.col("admitted")).select(
                *[f.name for f in FRONTIER_SCHEMA]
            )

            # robots gate, then fetch+extract only what passed every pre-gate
            # (narrow projection: the gate ships only control columns through
            # Arrow, not the full frontier row)
            to_check = admitted.filter("fetchable").select(
                "request_id", "seq", "url", "origin", "depth"
            )
            robots_dim, robots_bcast = self._robots_dim_for_round(round_no, to_check)
            checked = robots_gate(to_check, robots_dim, broadcast=robots_bcast)
            to_fetch = checked.filter("robots_allowed_flag").select(
                "request_id", "seq", "url", "depth"
            ).join(
                F.broadcast(requests.select("request_id", "use_browser")),
                "request_id",
                "left",
            ).withColumn("use_browser", F.coalesce("use_browser", F.lit(False)))
            # cache only the columns the round actually re-reads: the fetch
            # result keeps control cols + outlinks; the extract result keeps
            # just (ids, chunks). The decode stage itself sees only
            # (ids, final_url, image_id) — outlink arrays never ride through
            # the Arrow decode round trip.
            #
            # Both caches are partitioned AND sorted on (request_id, seq)
            # BEFORE caching: every downstream join — the fold's control
            # assembly, the chunk sink's crawled-ids join, the link job's
            # outlink join — keys on exactly (request_id, seq), and
            # InMemoryRelation preserves partitioning + ordering, so in the
            # shuffle regime the heavy rows (outlink arrays, chunk text)
            # move through ONE exchange here instead of one per consumer;
            # only the narrow control sides shuffle per join (guide §8:
            # heavy bytes move once, decisions ride lightweight proxies).
            fetched = fetch_join(
                to_fetch, self.pages, self.redirects,
                has_redirects=self.has_redirects,
                cache_registry=hop_caches, rendered=self.rendered,
                max_hops=round_hops if self.redirect_hops > 0 else 0,
            ).select(
                "request_id", "seq", "fetch_kind", "final_url",
                "blocked_url", "outlinks", "image_id",
            ).cache()
            round_caches.append(fetched)
            extracted = extract_pages(
                fetched.filter(F.col("fetch_kind") == "ok").select(
                    "request_id", "seq", "final_url", "image_id"
                ),
                self.images,
                image_stats=self.image_stats,
            ).select("request_id", "seq", "chunks").cache()
            round_caches.append(extracted)

            # assemble control rows for the fold
            fetch_ctl = fetched.select(
                "request_id", "seq", "fetch_kind", "final_url", "blocked_url", "outlinks"
            )
            ext_ctl = extracted.select(
                "request_id", "seq", (F.size("chunks") > 0).alias("has_chunks")
            )
            robots_ctl = checked.select("request_id", "seq", "robots_allowed_flag")
            control = (
                admitted.join(robots_ctl, ["request_id", "seq"], "left")
                .withColumn(
                    "robots_allowed_flag", F.coalesce("robots_allowed_flag", F.lit(True))
                )
                .join(fetch_ctl, ["request_id", "seq"], "left")
                .join(ext_ctl, ["request_id", "seq"], "left")
                .withColumn("has_chunks", F.coalesce("has_chunks", F.lit(False)))
                .withColumn(
                    "final_is_trap",
                    F.coalesce(is_crawl_trap(F.col("final_url")), F.lit(False)),
                )
            )
            fold_out = gate_fold(control.select(*FOLD_IN_COLS)).cache()
            round_caches.append(fold_out)
            fold_rows = fold_out.count()
            # Adaptive round-control strategy (AQE-style, but on the runner's
            # own superstep boundary): broadcasting the fold-derived control
            # relations (crawled ids, a(t), M(t)) keeps the heavy cached
            # sides un-shuffled — a clear win on politeness-bounded rounds —
            # but the broadcast BUILD is single-threaded driver work that
            # does not shrink with executor count. On huge seed-frontier
            # rounds (the BASELINE.json shape: one 10^10-url superstep) that
            # serial fraction caps N->4N scaling, so past the threshold the
            # links/chunks joins fall back to shuffle joins, which the
            # canonicalize-barrier partitioning on (request_id, url) mostly
            # co-locates anyway.
            round_bctl = fold_rows <= ROUND_CTL_BROADCAST_ROWS
            for hc in hop_caches:  # fetched is materialized; free the hop caches
                hc.unpersist()
            hop_caches.clear()

            # ---- commits (independent tables -> concurrent driver threads;
            # Spark schedules the jobs in parallel, overlapping their fixed
            # per-job latencies — a big serial-fraction win on small rounds).
            # Each commit is ONE action (the write); lineage row counts come
            # from the parquet footers (SnapshotTable.last_rows).
            import concurrent.futures as _fut

            marks = (
                fold_out.filter("visited_mark")
                .select("request_id", "url")
                .unionByName(
                    fold_out.filter("final_mark").select(
                        "request_id", F.col("final_url").alias("url")
                    )
                )
                .distinct()
                .join(seen, ["request_id", "url"], "left_anti")
            )
            new_blocked = (
                fold_out.filter(F.col("new_blocked_origin").isNotNull())
                .select("request_id", F.col("new_blocked_origin").alias("origin"))
                .distinct()
                .join(blocked, ["request_id", "origin"], "left_anti")
            )
            visits = fold_out.filter(
                F.col("outcome").isin(
                    "robots", "blocked", "failed", "final_trap", "crawled"
                )
            ).select(
                "request_id", "seq", "url", "depth", "outcome", "final_url",
                F.lit(round_no).alias("round"),
            )
            per_req = (
                fold_out.groupBy("request_id")
                .agg(
                    F.sum(F.col("crawled_flag").cast("long")).alias("crawled"),
                    F.sum(F.col("indexed_flag").cast("long")).alias("indexed"),
                    F.sum((F.col("outcome") == "failed").cast("long")).alias("failed"),
                    F.sum((F.col("outcome") == "robots").cast("long")).alias(
                        "skipped_robots"
                    ),
                    F.sum((F.col("outcome") == "depth_skip").cast("long")).alias(
                        "skipped_depth"
                    ),
                    F.sum((F.col("outcome") == "blocked").cast("long")).alias("blocked"),
                    F.count("*").alias("admitted"),
                )
                .withColumn("round", F.lit(round_no))
                # only perfbench's trace reads this column; drop it from
                # METRICS_SCHEMA once the benchmark stops reading it
                .withColumn("slow_fold_rows", F.lit(None).cast("long"))
            )
            deferred_counts = deferred.groupBy("request_id").agg(
                F.count("*").alias("deferred")
            )
            metrics = (
                per_req.join(deferred_counts, "request_id", "left")
                .withColumn("deferred", F.coalesce("deferred", F.lit(0)))
                .select(*[f.name for f in METRICS_SCHEMA])
            )
            crawled_rows = fold_out.filter(F.col("outcome") == "crawled")
            crawled_ids = crawled_rows.select("request_id", "seq")
            if round_bctl:
                crawled_ids = F.broadcast(crawled_ids)

            def job_chunks():
                # broadcast id-join: the heavy extracted rows (chunk text)
                # never shuffle. No persist: the merge's matched-keys branch
                # prunes down to source_url, so recomputing it skips the
                # embedding UDF entirely. The upsert itself is merge-on-read
                # (append + equality delete): O(round) disk, never a rewrite
                # of the whole chunks table.
                chunks = explode_chunks(
                    extracted.join(crawled_ids, ["request_id", "seq"])
                ).select(*[f.name for f in CHUNKS_SCHEMA])
                snap = upsert_chunks_with_stale_delete(self.t_chunks, chunks)
                self._lineage(round_no, "chunks", snap, self.t_chunks.last_rows)

            # the link/frontier pipeline needs only fold_out + round-start seen,
            # so it overlaps with the table commits in the same pool
            def job_frontier():
                # broadcast the narrow crawled ids; the outlink arrays (the
                # heavy side, from the fetched cache) stay un-shuffled
                lp = crawled_rows.select("request_id", "seq", "depth")
                if round_bctl:
                    lp = F.broadcast(lp)
                link_parents = fetch_ctl.select("request_id", "seq", "outlinks").join(
                    lp, ["request_id", "seq"]
                )
                new_links = admit_links(
                    link_parents, fold_out, deferred, seen, requests, spark,
                    broadcast_ctl=round_bctl,
                )
                seq_base = state.select("request_id", "max_seq")
                # cached: reused for the frontier write AND the max_seq update
                nfr = (
                    assign_seqs(new_links, seq_base)
                    .select(*[f.name for f in FRONTIER_SCHEMA])
                    .cache()
                )
                round_caches.append(nfr)
                self._commit(
                    round_no, "frontier", self.t_frontier,
                    deferred.unionByName(nfr), mode="overwrite",
                )
                return nfr

            with _fut.ThreadPoolExecutor(max_workers=6) as pool:
                fut_frontier = pool.submit(job_frontier)
                jobs = [
                    pool.submit(self._commit, round_no, "url_seen", self.t_seen, marks),
                    pool.submit(
                        self._commit, round_no, "blocked_origins", self.t_blocked,
                        new_blocked,
                    ),
                    pool.submit(self._commit, round_no, "visit_log", self.t_visits, visits),
                    pool.submit(self._commit, round_no, "metrics", self.t_metrics, metrics),
                ]
                # join the PREVIOUS round's chunk write (it has been
                # overlapping this round's fold), hand its pinned caches
                # back, then launch this round's write to overlap the NEXT
                # round. The one-thread pool serializes upserts on t_chunks.
                self._drain_chunks()
                for df in (extracted, fold_out):
                    round_caches.remove(df)
                    self._deferred_caches.append(df)
                if self._sink_pool is None:
                    self._sink_pool = _fut.ThreadPoolExecutor(
                        max_workers=1, thread_name_prefix="chunk-sink"
                    )
                    self._finalizer_state["pool"] = self._sink_pool
                self._pending_chunks = self._sink_pool.submit(job_chunks)
                for j in jobs:
                    j.result()
                new_frontier_rows = fut_frontier.result()

            new_state = (
                state.join(
                    per_req.select("request_id", F.col("crawled").alias("__c")),
                    "request_id", "left",
                )
                .withColumn(
                    "crawled_so_far", F.col("crawled_so_far") + F.coalesce("__c", F.lit(0))
                )
                .drop("__c")
                .join(
                    new_frontier_rows.groupBy("request_id").agg(
                        F.max("seq").alias("__ms")
                    ),
                    "request_id", "left",
                )
                .withColumn("max_seq", F.greatest("max_seq", F.coalesce("__ms", F.lit(0))))
                .drop("__ms")
            )
            self._commit(round_no, "request_state", self.t_state, new_state, mode="overwrite")

            self._flush_lineage()
            self._next_round = round_no + 1
            # remaining = the frontier overwrite's own footer count — no re-read
            return self.t_frontier.last_rows
        finally:
            for hc in hop_caches:
                hc.unpersist()
            for df in round_caches:
                df.unpersist()

    def run(self, max_rounds: int = 1000) -> int:
        if self._next_round is None:
            self._next_round = self.next_round()
        start = self._next_round
        try:
            for i in range(max_rounds):
                if self.run_round(start + i) == 0:
                    return start + i
            return start + max_rounds - 1
        finally:
            # drain the async chunk sink: the last round's upsert (and its
            # lineage row, which the in-round flush may have missed) must
            # land before any caller reads t_chunks/lineage
            self._drain_chunks()
            self._flush_lineage()

    def next_round(self) -> int:
        m = self.t_metrics.read()
        if m.isEmpty():
            return 1
        return int(m.agg(F.max("round")).collect()[0][0]) + 1

    # ------------------------------------------------------------------ misc
    def _commit(self, round_no, name, table, df, mode="append"):
        # one Spark action (the write); row count from the parquet footers
        snap = table.commit(df, mode=mode)
        self._lineage(round_no, name, snap, table.last_rows)

    def _lineage(self, round_no, name, snap, n):
        # buffered; one lineage commit per round (see _flush_lineage);
        # called from commit threads -> guard with a lock
        with self._lineage_lock:
            self._lineage_buf.append(
                (round_no, name, snap, int(n), self.spark.sparkContext.defaultParallelism)
            )

    def _flush_lineage(self):
        # the async chunk sink can append concurrently with a round's flush —
        # snapshot-and-clear under the same lock _lineage uses, then commit
        # outside it (a late row just rides the next flush)
        with self._lineage_lock:
            buf, self._lineage_buf = self._lineage_buf, []
        if buf:
            self.t_lineage.commit(self.spark.createDataFrame(buf, LINEAGE_SCHEMA))


def _host_of(url: str) -> str:
    from urllib.parse import urlsplit

    return (urlsplit(url).hostname or "").lower()


def _release_runner_resources(dfs: list, state: dict) -> None:
    """weakref.finalize callback (module-level: must not capture the
    runner), run by close() or by the GC for runners dropped without it:
    free the pinned caches AND stop the async chunk-sink pool (a non-daemon
    thread per runner otherwise outlives it)."""
    for df in dfs:
        try:
            df.unpersist()
        except Exception:
            pass
    pool = state.get("pool")
    if pool is not None:
        try:
            pool.shutdown(wait=False)
        except Exception:
            pass
