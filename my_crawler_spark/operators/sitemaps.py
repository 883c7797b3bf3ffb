"""DataFrame-native bulk sitemap discovery: the per-request file BFS of
``CrawlRunner._discover_sitemap_pages`` (sitemap.rs:17-75 semantics) as one
declarative plan over a million-request fleet.

The driver-side loop is correct and bounded (depth 3 / 20 files / page cap,
sitemap.rs:13-15) but sequential per request; this operator runs EVERY
request's BFS simultaneously as three unrolled self-joins (the depth bound
is a reference constant, so the loop is static — no iterative lineage, no
checkpoints) plus windows partitioned by ``request_id``. Per-request state
is capped by the reference's own limits, so the request partitions are
uniform — no skew key.

BFS order is made engine-reproducible with a zero-padded path-rank string
(``okey``): each file's key is its parent's key plus its 4-digit rank among
the parent's nested entries ordered (lastmod DESC, loc ASC). Lexicographic
order on (depth, okey) IS the FIFO pop order of the sequential loop. The
same (lastmod DESC, loc ASC) total order fixes the within-file page order —
the driver loop's pandas stable sort inherited frame insertion order on
lastmod ties, which no distributed engine can reproduce; both paths now
share the documented total order (tests assert bulk == driver exactly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.url import canonicalize_url, same_origin, url_origin

SITEMAP_MAX_DEPTH = 3
SITEMAP_MAX_FILES = 20
SITEMAP_HARD_CAP = 10_000


def py_discover_sitemap_pages(sm, seed: str, declared, max_pages: int) -> list[str]:
    """The sequential per-request BFS (sitemap.rs:17-75) over the pandas
    sitemaps dim — the interactive admit path's twin of
    ``sitemap_bulk_discover``; both share the (lastmod DESC, loc ASC)
    entry order and must produce identical page lists."""
    from ..functions.url import py_canonicalize_url, py_origin, py_same_origin

    initial = declared or [py_origin(seed) + "/sitemap.xml"]
    queue = [(u, 0) for u in initial if py_same_origin(seed, u)]
    files: set[str] = set()
    pages: list[str] = []
    limit = min(max_pages * 4, SITEMAP_HARD_CAP)
    while queue:
        url, depth = queue.pop(0)
        if len(files) >= SITEMAP_MAX_FILES or len(pages) >= limit or depth > SITEMAP_MAX_DEPTH:
            break
        if url in files:
            continue
        files.add(url)
        entries = sm[sm.sitemap_url == url]
        if entries.empty:
            continue
        found = entries[entries.kind == "url"]
        found = found[found["loc"].map(lambda l: py_same_origin(seed, l)).astype(bool)]
        # (lastmod DESC, loc ASC) is the engine-wide total order for sitemap
        # entries — a stable sort on lastmod alone tie-broke on frame
        # insertion order, which the distributed twin cannot see
        found = found.sort_values(["lastmod", "loc"], ascending=[False, True])
        pages.extend(found["loc"].tolist())
        del pages[limit:]
        if depth < SITEMAP_MAX_DEPTH:
            nested = entries[entries.kind == "sitemap"]
            nested = nested[nested["loc"].map(lambda l: py_same_origin(seed, l)).astype(bool)]
            nested = nested.sort_values(["lastmod", "loc"], ascending=[False, True])
            queue.extend((l, depth + 1) for l in nested["loc"])
    seen: set[str] = set()
    out = []
    for u in pages:
        c = py_canonicalize_url(u)
        if c and c not in seen:
            seen.add(c)
            out.append(c)
            if len(out) >= limit:
                break
    return out


def sitemap_bulk_discover(
    requests: DataFrame,
    sitemaps: DataFrame,
    max_depth: int = SITEMAP_MAX_DEPTH,
    max_files: int = SITEMAP_MAX_FILES,
    hard_cap: int = SITEMAP_HARD_CAP,
) -> DataFrame:
    """requests (request_id, seed, declared array<string>, max_pages) ×
    sitemaps (sitemap_url, kind, loc, lastmod) -> (request_id, seq,
    page_url): per request, the same pages in the same order as the
    sequential ``_discover_sitemap_pages`` loop.

    Per request: BFS from the declared sitemaps (or ``origin/sitemap.xml``),
    same-origin files only, first ``max_files`` distinct files in BFS order,
    pages per file ordered (lastmod DESC, loc ASC), globally truncated at
    ``limit = min(max_pages*4, hard_cap)``, then canonical-URL keep-first
    dedup."""
    sm = sitemaps.select("sitemap_url", "kind", "loc", "lastmod")

    reqs = requests.select(
        "request_id",
        "seed",
        "declared",
        F.least(F.col("max_pages") * 4, F.lit(hard_cap)).alias("limit"),
    )

    # depth-0 frontier: declared order is the queue order (posexplode index)
    init_urls = F.when(
        F.coalesce(F.size("declared"), F.lit(0)) > 0, F.col("declared")
    ).otherwise(F.array(F.concat(url_origin(F.col("seed")), F.lit("/sitemap.xml"))))
    frontier = (
        reqs.select(
            "request_id",
            "seed",
            "limit",
            F.posexplode(init_urls).alias("pos", "url"),
        )
        .filter(same_origin(F.col("seed"), F.col("url")))
        .select(
            "request_id",
            "seed",
            "limit",
            "url",
            F.lit(0).alias("depth"),
            F.format_string("%04d", F.col("pos")).alias("okey"),
        )
    )

    # static unroll: the depth bound is a reference constant, so the BFS is
    # max_depth self-joins, not an iterative loop
    levels = [frontier]
    for d in range(max_depth):
        parent = levels[-1]
        child_rank = F.row_number().over(
            Window.partitionBy("request_id", "okey").orderBy(
                F.desc_nulls_last("lastmod"), F.asc("loc")
            )
        )
        levels.append(
            parent.join(sm, parent["url"] == sm["sitemap_url"])
            .filter((F.col("kind") == "sitemap") & same_origin(F.col("seed"), F.col("loc")))
            .select(
                "request_id",
                "seed",
                "limit",
                F.col("loc").alias("__child"),
                F.lit(d + 1).alias("depth"),
                F.concat("okey", F.format_string("%04d", child_rank)).alias("okey"),
            )
            .withColumnRenamed("__child", "url")
        )
    cand = levels[0]
    for lv in levels[1:]:
        cand = cand.unionByName(lv)

    # first occurrence per (request, file) in BFS order; then the file cap
    bfs = Window.partitionBy("request_id").orderBy("depth", "okey")
    first = F.row_number().over(
        Window.partitionBy("request_id", "url").orderBy("depth", "okey")
    )
    files = (
        cand.withColumn("__first", first)
        .filter(F.col("__first") == 1)
        .withColumn("rnk", F.row_number().over(bfs))
        .filter(F.col("rnk") <= max_files)
        .select("request_id", "seed", "limit", "url", "rnk")
    )

    # pages per processed file, ordered inside the file
    pages = (
        files.join(sm, files["url"] == sm["sitemap_url"])
        .filter((F.col("kind") == "url") & same_origin(F.col("seed"), F.col("loc")))
        .select(
            "request_id",
            "limit",
            "rnk",
            "loc",
            F.row_number()
            .over(
                Window.partitionBy("request_id", "rnk").orderBy(
                    F.desc_nulls_last("lastmod"), F.asc("loc")
                )
            )
            .alias("p_rn"),
        )
    )

    # pages accumulated BEFORE each file decides whether the loop still runs
    cnts = pages.groupBy("request_id", "rnk").agg(F.count(F.lit(1)).alias("cnt"))
    file_cum = (
        files.join(cnts, ["request_id", "rnk"], "left")
        .withColumn("cnt", F.coalesce("cnt", F.lit(0)))
        .withColumn(
            "cum_before",
            F.coalesce(
                F.sum("cnt").over(
                    Window.partitionBy("request_id")
                    .orderBy("rnk")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .filter(F.col("cum_before") < F.col("limit"))
        .select("request_id", "rnk", "cum_before")
    )

    seq0 = (
        pages.join(file_cum, ["request_id", "rnk"])
        .withColumn("seq0", F.col("cum_before") + F.col("p_rn"))
        .filter(F.col("seq0") <= F.col("limit"))
        .select("request_id", "seq0", canonicalize_url(F.col("loc")).alias("page_url"))
        .filter(F.col("page_url").isNotNull())
    )

    keep_first = F.row_number().over(
        Window.partitionBy("request_id", "page_url").orderBy("seq0")
    )
    return (
        seq0.withColumn("__kf", keep_first)
        .filter(F.col("__kf") == 1)
        .withColumn(
            "seq",
            F.row_number().over(Window.partitionBy("request_id").orderBy("seq0")),
        )
        .select("request_id", "seq", "page_url")
    )
