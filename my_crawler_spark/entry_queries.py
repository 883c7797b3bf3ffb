"""Driver-contract queries: one entry per operator, each with a DuckDB
oracle twin (see __spark_entry__.py).

Every query reads only the driver-provided tables (region nation customer
supplier part orders lineitem events documents embeddings). Crawl-domain
operators that need a web shape synthesize it DETERMINISTICALLY from those
tables with expressions mirrored verbatim in the oracle SQL (no external
data, no RNG) — e.g. a link graph from lineitem's (l_orderkey, l_partkey)
edges and noisy URLs from orders keys.

Column-name discipline: every computed column is aliased identically in
the Spark plan and the SQL so the driver's order-insensitive value-hash
lines up. Float-valued results are rounded (4-6 dp) in BOTH engines to
absorb summation-order ulps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.url import (
    canonicalize_url,
    is_crawl_trap,
    looks_like_file_url,
    url_host,
)
from .operators import dedup as D
from .operators import sampling as SMP
from .operators import search as S
from .operators import simsearch as SS
from .operators import textstats as TS
from .operators.interleave import interleave_by_domain


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# URL synthesis shared spec (Spark + SQL must stay in lockstep)
# --------------------------------------------------------------------------
def _raw_urls(spark, sf_dir) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    host = F.concat(F.lit("h"), (F.col("o_custkey") % 7).cast("string"), F.lit(".example.com"))
    k = F.col("o_orderkey")
    path = (
        F.when(k % 5 == 0, F.lit("/"))
        .when(k % 5 == 1, F.concat(F.lit("/a/p"), k.cast("string")))
        .when(k % 5 == 2, F.concat(F.lit("/login/x"), k.cast("string")))
        .when(k % 5 == 3, F.concat(F.lit("/files/f"), k.cast("string"), F.lit(".pdf")))
        .otherwise(F.concat(F.lit("/blog/post"), k.cast("string")))
    )
    scheme = F.when(k % 6 == 0, F.lit("HTTPS://")).otherwise(F.lit("https://"))
    hostp = F.when(k % 7 == 0, F.concat(host, F.lit(":443"))).otherwise(host)
    suffix = (
        F.when(k % 4 == 0, F.lit("?utm=1&x=2"))
        .when(k % 4 == 1, F.lit("#frag"))
        .otherwise(F.lit(""))
    )
    return o.select(
        F.col("o_orderkey").alias("key"),
        F.concat(scheme, hostp, path, suffix).alias("raw_url"),
    )


_RAW_URLS_SQL = """
    SELECT o_orderkey AS key,
           (CASE WHEN o_orderkey % 6 = 0 THEN 'HTTPS://' ELSE 'https://' END)
           || (CASE WHEN o_orderkey % 7 = 0
                    THEN 'h' || CAST(o_custkey % 7 AS VARCHAR) || '.example.com:443'
                    ELSE 'h' || CAST(o_custkey % 7 AS VARCHAR) || '.example.com' END)
           || (CASE o_orderkey % 5
                 WHEN 0 THEN '/'
                 WHEN 1 THEN '/a/p' || CAST(o_orderkey AS VARCHAR)
                 WHEN 2 THEN '/login/x' || CAST(o_orderkey AS VARCHAR)
                 WHEN 3 THEN '/files/f' || CAST(o_orderkey AS VARCHAR) || '.pdf'
                 ELSE '/blog/post' || CAST(o_orderkey AS VARCHAR) END)
           || (CASE WHEN o_orderkey % 4 = 0 THEN '?utm=1&x=2'
                    WHEN o_orderkey % 4 = 1 THEN '#frag' ELSE '' END)
           AS raw_url
    FROM orders
"""

_CANON_SQL = """
    SELECT key, raw_url,
           CASE WHEN lower(regexp_extract(u0, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
                     IN ('http','https')
                 AND regexp_extract(auth2, '^([^:]+)', 1) <> ''
                 AND regexp_matches(auth2, '^[^:@/]+(:[0-9]+)?$')
           THEN lower(regexp_extract(u0, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) || '://'
                || auth2
                || (CASE WHEN path IS NULL OR path = '' THEN '/' ELSE path END)
           END AS canon_url
    FROM (
        SELECT key, raw_url, u0, path,
               CASE WHEN scheme = 'http'  AND auth LIKE '%:80'
                    THEN substr(auth, 1, length(auth) - 3)
                    WHEN scheme = 'https' AND auth LIKE '%:443'
                    THEN substr(auth, 1, length(auth) - 4)
                    ELSE auth END AS auth2
        FROM (
            SELECT key, raw_url, u0,
                   lower(regexp_extract(u0, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                   lower(regexp_extract(u0, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth,
                   regexp_extract(u0, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/.*)?$', 1) AS path
            FROM (SELECT key, raw_url, regexp_replace(raw_url, '[?#].*$', '') AS u0
                  FROM raw) )
    )
"""


def q_url_canonicalize(spark, sf_dir) -> DataFrame:
    return (
        _raw_urls(spark, sf_dir)
        .withColumn("canon_url", canonicalize_url(F.col("raw_url")))
        .select("key", "canon_url")
    )


SQL_URL_CANONICALIZE = f"""
    WITH raw AS ({_RAW_URLS_SQL}), canon AS ({_CANON_SQL})
    SELECT key, canon_url FROM canon
"""


def q_url_filters(spark, sf_dir) -> DataFrame:
    urls = (
        _raw_urls(spark, sf_dir)
        .withColumn("url", canonicalize_url(F.col("raw_url")))
        .filter(F.col("url").isNotNull())
    )
    return (
        urls.select(
            url_host(F.col("url")).alias("host"),
            is_crawl_trap(F.col("url")).cast("int").alias("is_trap"),
            looks_like_file_url(F.col("url")).cast("int").alias("is_file"),
        )
        .groupBy("host")
        .agg(
            F.count("*").alias("n_urls"),
            F.sum("is_trap").alias("n_traps"),
            F.sum("is_file").alias("n_files"),
        )
    )


SQL_URL_FILTERS = f"""
    WITH raw AS ({_RAW_URLS_SQL}), canon AS ({_CANON_SQL}),
    urls AS (
      SELECT canon_url AS url,
             lower(regexp_extract(canon_url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]*)', 1)) AS host,
             regexp_extract(canon_url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/.*)?$', 1) AS path
      FROM canon WHERE canon_url IS NOT NULL)
    SELECT host,
           count(*) AS n_urls,
           CAST(sum(CASE WHEN regexp_matches(lower(path),
               '(^|/)(login|logout|signin|signout|sign-in|sign-out|sign_in|sign_out|signup|sign-up|sign_up|register|search|calendar)(/|$)')
               THEN 1 ELSE 0 END) AS BIGINT) AS n_traps,
           CAST(sum(CASE WHEN regexp_extract(path, '/([^/]*)$', 1) LIKE '%.%'
                     AND lower(regexp_extract(regexp_extract(path, '/([^/]*)$', 1), '\\.([^.]*)$', 1))
                         IN ('jpg','jpeg','png','gif','webp','avif','svg','ico','pdf','zip','tar','gz','7z','mp3','wav','ogg','mp4','webm','mov','avi','doc','docx','xls','xlsx','ppt','pptx')
               THEN 1 ELSE 0 END) AS BIGINT) AS n_files
    FROM urls GROUP BY host
"""


def q_semdedup(spark, sf_dir) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) over the embeddings table: sha256-
    sampled centroids (the k-means slot), max-cosine assignment,
    within-list pairs >= 0.4 (this fixture's planted near-dup band; 500 random 384-d vectors concentrate near 0), connected components, keeper = member
    farthest from its centroid. FULL DuckDB oracle — the whole chain
    (centroid sample, assignment argmax, pair threshold, recursive-CTE
    components, keeper window) is replayed relationally; cosines rounded
    6dp (assignment/keeper order) and 4dp (pair threshold) on both sides."""
    from .operators.dedup import semdedup

    return semdedup(_t(spark, sf_dir, "embeddings"), n_lists=8, threshold=0.4)


SQL_SEMDEDUP = """
    WITH RECURSIVE cents AS (
      SELECT vec_id AS list_id, embedding AS cvec FROM embeddings
      ORDER BY substr(sha256(CAST(vec_id AS VARCHAR)), 1, 12), vec_id
      LIMIT 8),
    scored AS (
      SELECT e.vec_id, e.embedding, c.list_id,
             round(list_cosine_similarity(e.embedding, c.cvec), 6) AS ccos
      FROM embeddings e CROSS JOIN cents c),
    assigned AS (
      SELECT vec_id, embedding, list_id, ccos AS cos_centroid FROM (
        SELECT vec_id, embedding, list_id, ccos,
               row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, list_id) AS rn
        FROM scored) WHERE rn = 1),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM assigned a JOIN assigned b
        ON a.list_id = b.list_id AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.embedding, b.embedding), 4)
            >= CAST(0.4 AS DOUBLE)),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs),
    reach(id, r) AS (
      SELECT src AS id, src AS r FROM edges
      UNION
      SELECT e.dst AS id, reach.r AS r
      FROM reach JOIN edges e ON e.src = reach.id),
    lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
    sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
           FROM lab GROUP BY cluster_id),
    mem AS (
      SELECT lab.id AS vec_id, a.list_id, lab.cluster_id, sz.cluster_size,
             a.cos_centroid
      FROM lab JOIN sz USING (cluster_id) JOIN assigned a ON a.vec_id = lab.id)
    SELECT vec_id, list_id, cluster_id, cluster_size, cos_centroid,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY cos_centroid, vec_id) = 1 AS keep
    FROM mem
"""


def q_scrub_spans(spark, sf_dir) -> DataFrame:
    """The APPLY step of Lee-et-al substring dedup: keep each duplicated
    window's first corpus occurrence (by (doc_id, pos)), scrub the merged
    spans of every other occurrence, reconstruct the cleaned text. The
    DuckDB oracle replays keeper selection, island merge, position
    anti-join and ordered reassembly exactly (all integer/string ops) —
    clean_text is hash-matched byte-for-byte."""
    from .operators.dedup import scrub_duplicate_spans

    return scrub_duplicate_spans(_t(spark, sf_dir, "documents"), window=8, min_count=2)


SQL_SCRUB_SPANS = """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9\\p{L}]+'), x -> x <> '') AS toks
      FROM documents),
    g AS (
      SELECT doc_id, unnest(range(0, len(toks) - 8 + 1)) AS pos, toks
      FROM t WHERE len(toks) >= 8),
    h AS (SELECT doc_id, pos, md5(array_to_string(toks[pos + 1 : pos + 8], ' ')) AS h FROM g),
    dup AS (SELECT h FROM h GROUP BY h HAVING count(*) >= 2),
    occ AS (SELECT doc_id, pos, h FROM h JOIN dup USING (h)),
    losers AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        FROM occ)
      WHERE rn > 1),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
                  THEN 1 ELSE 0 END AS brk
      FROM losers),
    grp AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM isl),
    spans AS (
      SELECT doc_id, min(pos) AS s, max(pos) + 8 - 1 AS e
      FROM grp GROUP BY doc_id, island),
    rm AS (SELECT DISTINCT doc_id, unnest(range(s, e + 1)) AS pos FROM spans),
    tokpos AS (
      SELECT doc_id, i AS pos, toks[i + 1] AS tok
      FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS i FROM t)),
    kept AS (SELECT doc_id, pos, tok FROM tokpos ANTI JOIN rm USING (doc_id, pos)),
    clean AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(toks) - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
           coalesce(clean_text, '') AS clean_text
    FROM t LEFT JOIN clean USING (doc_id)
"""


_URL_BLOCKLIST = ["h1.example.com", "h4.example.com"]


def q_url_quality(spark, sf_dir) -> DataFrame:
    """RefinedWeb-style URL quality gate over the canonical URL corpus:
    domain-blocklist broadcast join + soft word-weight score + binary-file
    extension gate. The oracle mirrors the same canonicalization CTEs, a
    VALUES blocklist and the identical fold-order weight sum."""
    from .functions.url import canonicalize_url
    from .operators.urlquality import url_quality

    urls = (
        _raw_urls(spark, sf_dir)
        .withColumn("url", canonicalize_url(F.col("raw_url")))
        .filter(F.col("url").isNotNull())
        .select("key", "url")
    )
    bl = spark.createDataFrame([(d,) for d in _URL_BLOCKLIST], "domain string")
    return url_quality(urls, bl).select("key", "domain", "url_score", "blocked", "keep")


SQL_URL_QUALITY = f"""
    WITH raw AS ({_RAW_URLS_SQL}), canon AS ({_CANON_SQL}),
    urls AS (
      SELECT key, canon_url AS url,
             lower(regexp_extract(canon_url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]*)', 1)) AS domain
      FROM canon WHERE canon_url IS NOT NULL),
    bl(domain) AS (VALUES ('h1.example.com'), ('h4.example.com')),
    scored AS (
      SELECT key, url, urls.domain AS domain,
             bl.domain IS NOT NULL AS blocked,
             round(
               (CASE WHEN contains(lower(url), 'login') THEN CAST(0.6 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)
             + (CASE WHEN contains(lower(url), 'signup') THEN CAST(0.6 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)
             + (CASE WHEN contains(lower(url), 'files') THEN CAST(0.4 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)
             + (CASE WHEN contains(lower(url), 'utm') THEN CAST(0.2 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)
             + (CASE WHEN contains(lower(url), 'blog') THEN CAST(0.1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END),
             2) AS url_score,
             regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/.*)?$', 1) AS path
      FROM urls LEFT JOIN bl ON urls.domain = bl.domain)
    SELECT key, domain, url_score, blocked,
           (NOT blocked) AND url_score < CAST(0.5 AS DOUBLE)
           AND NOT (regexp_extract(path, '/([^/]*)$', 1) LIKE '%.%'
                AND lower(regexp_extract(regexp_extract(path, '/([^/]*)$', 1), '\\.([^.]*)$', 1))
                    IN ('jpg','jpeg','png','gif','webp','avif','svg','ico','pdf','zip','tar','gz','7z','mp3','wav','ogg','mp4','webm','mov','avi','doc','docx','xls','xlsx','ppt','pptx'))
           AS keep
    FROM scored
"""


# --------------------------------------------------------------------------
# BFS reachability over a lineitem-derived link graph (Q3's expansion)
# --------------------------------------------------------------------------
_EDGES_SQL = """
    SELECT DISTINCT 'n' || CAST(l_orderkey % 500 AS VARCHAR) AS src,
                    'n' || CAST(l_partkey % 500 AS VARCHAR) AS dst
    FROM lineitem
"""


def _edges(spark, sf_dir) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        F.concat(F.lit("n"), (F.col("l_orderkey") % 500).cast("string")).alias("src"),
        F.concat(F.lit("n"), (F.col("l_partkey") % 500).cast("string")).alias("dst"),
    ).distinct()


def q_bfs_frontier(spark, sf_dir) -> DataFrame:
    """Iterative frontier expansion with seen-set anti-join (Q3+Q4 shape):
    min-depth BFS from node n0, depth <= 6."""
    edges = _edges(spark, sf_dir).cache()
    seen = spark.createDataFrame([("n0", 0)], "node string, depth int")
    frontier = seen
    for d in range(1, 7):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(seen.select("node"), "node", "left_anti")
            .withColumn("depth", F.lit(d))
        )
        nxt = nxt.cache()
        if nxt.isEmpty():
            break
        seen = seen.unionByName(nxt)
        frontier = nxt
    edges.unpersist()
    return seen


SQL_BFS_FRONTIER = f"""
    WITH RECURSIVE edges AS ({_EDGES_SQL}),
    -- UNION (set semantics) is essential: UNION ALL enumerates *paths*,
    -- which explodes combinatorially on the dense sf0.01 graph
    bfs(node, depth) AS (
        SELECT 'n0', 0
        UNION
        SELECT e.dst, b.depth + 1
        FROM bfs b JOIN edges e ON e.src = b.node
        WHERE b.depth < 6
    )
    SELECT node, min(depth) AS depth FROM bfs GROUP BY node
"""


def q_seen_antijoin(spark, sf_dir) -> DataFrame:
    """Q4/Q10: candidate minus seen (left_anti)."""
    urls = _raw_urls(spark, sf_dir).withColumn(
        "url", canonicalize_url(F.col("raw_url"))
    ).filter(F.col("url").isNotNull())
    cand = urls.filter(F.col("key") % 3 == 0).select("url").distinct()
    seen = urls.filter(F.col("key") % 2 == 0).select("url").distinct()
    return cand.join(seen, "url", "left_anti")


SQL_SEEN_ANTIJOIN = f"""
    WITH raw AS ({_RAW_URLS_SQL}), canon AS ({_CANON_SQL}),
    urls AS (SELECT key, canon_url AS url FROM canon WHERE canon_url IS NOT NULL)
    SELECT DISTINCT url FROM urls WHERE key % 3 = 0
    AND url NOT IN (SELECT url FROM urls WHERE key % 2 = 0)
"""


# --------------------------------------------------------------------------
# Windows: interleave + per-group top-k
# --------------------------------------------------------------------------
def q_interleave(spark, sf_dir) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        F.col("event_id").alias("seq"), F.col("event_type").alias("host")
    )
    return interleave_by_domain(ev).select("seq", "host", F.col("rr_round").cast("long").alias("rr_round"), F.col("emit_order").cast("long").alias("emit_order"))


SQL_INTERLEAVE = """
    WITH ranked AS (
      SELECT event_id AS seq, event_type AS host,
             row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS rr_round
      FROM events)
    SELECT seq, host, rr_round,
           row_number() OVER (ORDER BY rr_round, host, seq) AS emit_order
    FROM ranked
"""


def q_topk_per_group(spark, sf_dir) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("ts"), F.asc("event_id"))
    return (
        ev.withColumn("k_rank", F.row_number().over(w))
        .filter(F.col("k_rank") <= 3)
        .select("event_type", "event_id", F.col("k_rank").cast("long").alias("k_rank"))
    )


SQL_TOPK_PER_GROUP = """
    SELECT event_type, event_id, k_rank FROM (
      SELECT event_type, event_id,
             row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id ASC) AS k_rank
      FROM events)
    WHERE k_rank <= 3
"""


# --------------------------------------------------------------------------
# Aggregations: page_version hash-fold, exact dedup, metrics rollup
# --------------------------------------------------------------------------
def q_page_version(spark, sf_dir) -> DataFrame:
    """E7: sha256 over ordered member texts per group (qdrant.rs:168-178)."""
    d = _t(spark, sf_dir, "documents")
    packed = (
        d.groupBy("source")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "text"))).alias("s"))
        .select(
            "source",
            F.sha2(F.concat_ws("|", F.transform("s", lambda x: x["text"])), 256).alias(
                "page_version"
            ),
            F.size("s").cast("long").alias("n_docs"),
        )
    )
    return packed


SQL_PAGE_VERSION = """
    SELECT source,
           sha256(string_agg(text, '|' ORDER BY doc_id)) AS page_version,
           count(*) AS n_docs
    FROM documents GROUP BY source
"""


def q_dedup_exact(spark, sf_dir) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return D.exact_duplicates(d).select("doc_id", "group_size", "canonical_id")


SQL_DEDUP_EXACT = """
    WITH h AS (SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS th
               FROM documents),
    g AS (SELECT doc_id, th,
                 count(*) OVER (PARTITION BY th) AS group_size,
                 min(doc_id) OVER (PARTITION BY th) AS canonical_id
          FROM h)
    SELECT doc_id, group_size, canonical_id FROM g WHERE group_size > 1
"""


def q_metrics_rollup(spark, sf_dir) -> DataFrame:
    """R11 metrics aggregation shape (also the TPC-H Q1 pricing summary)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


SQL_METRICS_ROLLUP = """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty,
           round(sum(l_extendedprice), 4) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# Streaming analogues over events
# --------------------------------------------------------------------------
def q_events_windowed(spark, sf_dir) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"), F.col("event_type")
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


SQL_EVENTS_WINDOWED = """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n, round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
"""


def q_events_sessionize(spark, sf_dir) -> DataFrame:
    """Gap-based sessionization (30 min) via lag window."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("long")  # NTZ -> UTC seconds
    new_sess = (
        epoch - F.coalesce(F.lag(epoch).over(w), F.lit(0)) > 1800
    ).cast("int")
    marked = ev.withColumn("new_sess", new_sess)
    sess = marked.withColumn(
        "session_no",
        F.sum("new_sess").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
                Window.unboundedPreceding, 0
            )
        ),
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("session_value"),
    )


SQL_EVENTS_SESSIONIZE = """
    WITH m AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch(ts) - coalesce(lag(epoch(ts)) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id), 0) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events),
    s AS (
      SELECT user_id, value,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
      FROM m)
    SELECT user_id, session_no, count(*) AS n_events,
           round(sum(value), 4) AS session_value
    FROM s GROUP BY user_id, session_no
"""


# --------------------------------------------------------------------------
# Text stats
# --------------------------------------------------------------------------
def q_token_counts(spark, sf_dir) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TS.ws_token_count(F.col("text")).cast("long").alias("ws_tokens"),
        TS.bpe_ish_token_count(F.col("text")).cast("long").alias("bpe_tokens"),
    )


SQL_TOKEN_COUNTS = """
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]+')) AS BIGINT) AS bpe_tokens
    FROM documents
"""


def q_quality_score(spark, sf_dir) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", TS.quality_score_expr(F.col("text")).alias("quality"))


# NOTE: the SQL twin mirrors quality_score_expr term by term.
SQL_QUALITY_SCORE = """
    WITH base AS (
      SELECT doc_id, text, length(text) AS n,
             (length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N}\\s]', '', 'g')))
               / greatest(length(text), 1)::DOUBLE AS p,
             len(list_filter(string_split_regex(lower(text), '[^\\p{L}0-9]+'), x -> x <> '')) AS nw,
             len(list_filter(string_split_regex(lower(text), '[^\\p{L}0-9]+'),
                 x -> list_contains(['a','and','auf','das','de','den','der','des','die','dans','el','en','es','est','et','for','für','in','is','it','la','las','le','les','los','mit','of','que','that','the','to','un','une','und','von','y','ist'], x))) AS nstop
      FROM documents)
    SELECT doc_id,
           round((
             (CASE WHEN n >= 200 THEN 1.0 ELSE n / 200.0 END)
             + (CASE WHEN p <= 0.1 THEN 1.0 ELSE greatest(0.0, 1.0 - (p - 0.1) * 5.0) END)
             + least((nstop / greatest(nw, 1)::DOUBLE) * 5.0, 1.0)
           ) / 3.0, 6) AS quality
    FROM base
"""


def q_curriculum_phases(spark, sf_dir) -> DataFrame:
    """Curriculum ordering: corpus split into 4 quality-ordered training
    phases via ntile over (quality, doc_id) — phase 1 = cleanest quartile
    first, the standard easy-to-hard curriculum schedule. Deterministic
    ties make ntile identical across engines. The ntile itself is computed
    by the SCALE path (r5's promise): range-partitioned exact global rank +
    closed-form bucket arithmetic — no single-task sort; the DuckDB oracle
    keeps the literal ntile as the test-scale twin."""
    d = _t(spark, sf_dir, "documents")
    q = d.select("doc_id", TS.quality_score_expr(F.col("text")).alias("quality"))
    # scale path (the r5 promise): exact global rank via ranking.global_rank
    # (range partition + local sort, no single-task window), then ntile's
    # bucket arithmetic in closed form from (rank, n): buckets 1..n%4 hold
    # ceil(n/4) rows, the rest floor(n/4) — bit-identical to ntile(4) OVER
    # (ORDER BY quality DESC, doc_id) for this total (tie-free) key.
    from .operators.ranking import global_rank

    ranked = global_rank(
        q, [F.col("quality").desc(), F.col("doc_id")], rank_col="__r"
    )
    n = q.agg(F.count(F.lit(1)).alias("__n"))
    out = (
        ranked.crossJoin(F.broadcast(n))
        .withColumn("__base", F.expr("__n DIV 4"))
        .withColumn("__rem", F.col("__n") % 4)
        .withColumn(
            "phase",
            F.when(
                F.col("__r") <= F.col("__rem") * (F.col("__base") + 1),
                (F.col("__r") - 1) / (F.col("__base") + 1),
            )
            .otherwise(
                F.col("__rem")
                + (F.col("__r") - F.col("__rem") * (F.col("__base") + 1) - 1)
                / F.greatest(F.col("__base"), F.lit(1)),
            )
            .cast("long")
            + 1,
        )
    )
    return out.select("doc_id", "quality", "phase")


SQL_CURRICULUM_PHASES = f"""
    WITH scored AS ({SQL_QUALITY_SCORE})
    SELECT doc_id, quality,
           ntile(4) OVER (ORDER BY quality DESC, doc_id) AS phase
    FROM scored
"""


def q_lang_id(spark, sf_dir) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", TS.lang_id_expr(F.col("text")).alias("lang_guess")
    )


_SW = {
    "en": "['the','and','of','to','a','in','is','that','it','for']",
    "de": "['der','die','das','und','ist','von','den','mit','für','auf']",
    "fr": "['le','la','les','et','de','des','un','une','est','dans']",
    "es": "['el','la','los','las','y','de','que','en','un','es']",
}
SQL_LANG_ID = f"""
    WITH w AS (
      SELECT doc_id, text,
             list_distinct(list_filter(string_split_regex(lower(text), '[^\\p{{L}}0-9]+'),
                                       x -> x <> '')) AS words,
             length(regexp_replace(text, '[一-鿿]', '', 'g')) < length(text) * 0.7 AS cjk
      FROM documents),
    h AS (
      SELECT doc_id, cjk,
             len(list_intersect(words, {_SW['en']})) AS en_h,
             len(list_intersect(words, {_SW['de']})) AS de_h,
             len(list_intersect(words, {_SW['fr']})) AS fr_h,
             len(list_intersect(words, {_SW['es']})) AS es_h
      FROM w)
    SELECT doc_id,
           CASE WHEN cjk THEN 'zh'
                WHEN greatest(en_h, de_h, fr_h, es_h) < 1 THEN 'und'
                WHEN en_h = greatest(en_h, de_h, fr_h, es_h) THEN 'en'
                WHEN de_h = greatest(en_h, de_h, fr_h, es_h) THEN 'de'
                WHEN fr_h = greatest(en_h, de_h, fr_h, es_h) THEN 'fr'
                ELSE 'es' END AS lang_guess
    FROM h
"""


def q_doc_fingerprint(spark, sf_dir) -> DataFrame:
    """Rolling-hash fingerprint, md5 variant (oracle-checkable; the xxhash64
    production variant is pytest-tested in tests/test_dedup.py)."""
    d = _t(spark, sf_dir, "documents")
    toked = d.select("doc_id", "text", D.tokens(F.col("text")).alias("_toks"))
    grammed = toked.select(
        "doc_id", "text", D.ngrams_from_tokens(F.col("_toks"), 8).alias("_grams")
    )
    fp = F.when(
        F.size("_grams") > 0,
        F.array_min(F.transform(F.col("_grams"), lambda g: F.md5(g))),
    ).otherwise(F.md5(F.lower(F.col("text"))))
    return grammed.select("doc_id", fp.alias("fingerprint"))


SQL_DOC_FINGERPRINT = """
    WITH t AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '[^a-z0-9\\p{L}]+'), x -> x <> '') AS toks
      FROM documents),
    g AS (
      SELECT doc_id, text,
             CASE WHEN len(toks) < 8 THEN []
                  ELSE [array_to_string(toks[i + 1 : i + 8], ' ')
                        FOR i IN range(0, len(toks) - 8 + 1)] END AS grams
      FROM t)
    SELECT doc_id,
           CASE WHEN len(grams) > 0 THEN list_min([md5(g) FOR g IN grams])
                ELSE md5(lower(text)) END AS fingerprint
    FROM g
"""


def q_repetition_stats(spark, sf_dir) -> DataFrame:
    """Gopher-family repetition quality signals (unique-token fraction,
    top-2-gram coverage, duplicate-8-gram fraction) per document."""
    from .operators.textstats import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


def q_events_rollup(spark, sf_dir) -> DataFrame:
    """ROLLUP aggregation (the OLAP subtotal lattice) over events:
    (event_type, day) -> counts + value sums with per-type and grand-total
    subtotal rows — Spark's rollup() vs DuckDB's GROUP BY ROLLUP, NULL
    grouping keys and all."""
    ev = _t(spark, sf_dir, "events")
    day = F.to_date(F.col("ts").cast("timestamp")).cast("string")
    return (
        ev.withColumn("day", day)
        .rollup("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


SQL_EVENTS_ROLLUP = """
    SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM events
    GROUP BY ROLLUP (event_type, CAST(CAST(ts AS DATE) AS VARCHAR))
"""


def q_events_cube(spark, sf_dir) -> DataFrame:
    """CUBE aggregation — the full 2^k subtotal lattice (ROLLUP's superset):
    all four groupings of (event_type, day) including the day-only marginal
    ROLLUP omits. Spark's cube() vs DuckDB's GROUP BY CUBE."""
    ev = _t(spark, sf_dir, "events")
    day = F.to_date(F.col("ts").cast("timestamp")).cast("string")
    return (
        ev.withColumn("day", day)
        .cube("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


SQL_EVENTS_CUBE = """
    SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM events
    GROUP BY CUBE (event_type, CAST(CAST(ts AS DATE) AS VARCHAR))
"""


def q_events_grouping_sets(spark, sf_dir) -> DataFrame:
    """Explicit GROUPING SETS — the hand-picked lattice (per-type, per-user
    marginals and the grand total, but NO (type, user) fine cells), plus
    grouping_id() to disambiguate real NULL keys from subtotal NULLs."""
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__gs_events")
    return spark.sql(
        """
        SELECT event_type, user_id,
               CAST(grouping(event_type) * 2 + grouping(user_id) AS BIGINT)
                 AS gset,
               count(*) AS n_events,
               round(sum(value), 4) AS total_value
        FROM __gs_events
        GROUP BY GROUPING SETS ((event_type), (user_id), ())
        """
    )


SQL_EVENTS_GROUPING_SETS = """
    SELECT event_type, user_id,
           CAST(grouping(event_type) * 2 + grouping(user_id) AS BIGINT)
             AS gset,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY GROUPING SETS ((event_type), (user_id), ())
"""


def q_salted_agg(spark, sf_dir) -> DataFrame:
    """Explicit skew-salted aggregation — the two-stage pattern the crawl
    plan uses for hot hosts, surfaced as its own graded entry: stage 1
    pre-aggregates on (hot_key, xxhash64(row) % 16) so a hot key's rows
    spread over 16 tasks instead of one straggler; stage 2 folds the 16
    partials. The oracle is a PLAIN single-stage GROUP BY — hash-match
    proves the salted plan is semantics-preserving."""
    ev = _t(spark, sf_dir, "events")
    partial = (
        ev.withColumn("__salt", F.pmod(F.xxhash64("event_id"), F.lit(16)))
        .groupBy("event_type", "__salt")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sv"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
    )
    return partial.groupBy("event_type").agg(
        F.sum("n").alias("n_events"),
        F.round(F.sum("sv"), 4).alias("total_value"),
        F.round(F.min("mn"), 4).alias("min_value"),
        F.round(F.max("mx"), 4).alias("max_value"),
    )


SQL_SALTED_AGG = """
    SELECT event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value,
           round(min(value), 4) AS min_value,
           round(max(value), 4) AS max_value
    FROM events
    GROUP BY event_type
"""


def q_events_pivot(spark, sf_dir) -> DataFrame:
    """PIVOT: per-day event counts fanned into one column per event type
    (Spark groupBy().pivot() with an explicit value list — never the
    values-scan variant, which is an extra job at scale) vs the oracle's
    conditional aggregation — two different mechanisms, same table."""
    ev = _t(spark, sf_dir, "events")
    day = F.to_date(F.col("ts").cast("timestamp")).cast("string")
    return (
        ev.withColumn("day", day)
        .groupBy("day")
        .pivot("event_type", ["view", "click", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
        .select(
            "day",
            *[
                F.coalesce(F.col(c), F.lit(0)).cast("long").alias(f"n_{c}")
                for c in ["view", "click", "purchase", "signup", "error"]
            ],
        )
    )


SQL_EVENTS_PIVOT = """
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           count(*) FILTER (event_type = 'view') AS n_view,
           count(*) FILTER (event_type = 'click') AS n_click,
           count(*) FILTER (event_type = 'purchase') AS n_purchase,
           count(*) FILTER (event_type = 'signup') AS n_signup,
           count(*) FILTER (event_type = 'error') AS n_error
    FROM events
    GROUP BY 1
"""


def q_winsorize(spark, sf_dir) -> DataFrame:
    """Per-group winsorization (outlier clipping to [p05, p95] — the
    standard guard before loss-weighting / reward-model training on noisy
    signals): exact per-type percentiles (6dp-rounded cross-engine, the
    proven float rule), broadcast back as a dim, clip in a projection."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.round(F.percentile(F.col("value").cast("double"), F.lit(0.05)), 6).alias("lo"),
        F.round(F.percentile(F.col("value").cast("double"), F.lit(0.95)), 6).alias("hi"),
    )
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.round(
                F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")), 4
            ).alias("value_winsorized"),
            (F.col("value") < F.col("lo")).alias("clipped_low"),
            (F.col("value") > F.col("hi")).alias("clipped_high"),
        )
    )


SQL_WINSORIZE = """
    WITH bounds AS (
      SELECT event_type,
             round(quantile_cont(value, 0.05), 6) AS lo,
             round(quantile_cont(value, 0.95), 6) AS hi
      FROM events GROUP BY event_type)
    SELECT event_id, e.event_type,
           round(value, 4) AS value,
           round(least(greatest(value, lo), hi), 4) AS value_winsorized,
           value < lo AS clipped_low,
           value > hi AS clipped_high
    FROM events e JOIN bounds b ON e.event_type = b.event_type
"""


def q_events_asof(spark, sf_dir) -> DataFrame:
    """As-of join: each purchase attached to the user's most recent prior
    (or simultaneous) view — the point-in-time lookup Spark lacks as a
    primitive, re-expressed as union + ordered-window carry-forward (one
    shuffle, no inequality join). The oracle is DuckDB's NATIVE ASOF LEFT
    JOIN — two entirely different algorithms, same rows."""
    from .operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    j = asof_join(
        purchases,
        views,
        by=["user_id"],
        ts_col="ts",
        right_cols=["event_id"],
        tiebreak_col="event_id",
        suffix="_view",
    )
    utc = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    return j.select(
        "event_id",
        "user_id",
        utc("ts").alias("ts_us"),
        F.col("event_id_view").alias("view_event_id"),
        utc("ts_view").alias("view_ts_us"),
    )


def q_events_range_join(spark, sf_dir) -> DataFrame:
    """Attribution-window range join: every click landing inside the 1-day
    window after a signup by the same user. The Spark plan is the grid-
    bucketed equi-join (no inequality-join blow-up: 6 h buckets, each pair
    emitted exactly once by construction); the oracle is DuckDB's plain
    BETWEEN inequality join — different plan family, same rows."""
    from .operators.asof import range_join

    ev = _t(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", us("ts").alias("ts")
    )
    day_us, bucket_us = 86_400_000_000, 21_600_000_000  # 1 day, 6 h
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        us("ts").alias("start"),
        (us("ts") + F.lit(day_us)).alias("end"),
    )
    out = range_join(clicks, signups, bucket_width=bucket_us, by=["user_id"])
    return out.select(
        "click_id", "user_id", "ts", "signup_id_iv", "start_iv", "end_iv"
    )


SQL_EVENTS_RANGE_JOIN = """
    WITH c AS (
      SELECT event_id AS click_id, user_id, epoch_us(ts) AS ts
      FROM events WHERE event_type = 'click'),
    s AS (
      SELECT event_id AS signup_id, user_id, epoch_us(ts) AS start_us,
             epoch_us(ts) + 86400000000 AS end_us
      FROM events WHERE event_type = 'signup')
    SELECT c.click_id, c.user_id, c.ts,
           s.signup_id AS signup_id_iv, s.start_us AS start_iv,
           s.end_us AS end_iv
    FROM c JOIN s ON c.user_id = s.user_id
                 AND c.ts BETWEEN s.start_us AND s.end_us
"""


SQL_EVENTS_ASOF = """
    SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
           r.event_id AS view_event_id, epoch_us(r.ts) AS view_ts_us
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') l
    ASOF LEFT JOIN
         (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') r
    ON l.user_id = r.user_id AND l.ts >= r.ts
"""


SQL_REPETITION_STATS = """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9\\p{L}]+'), x -> x <> '') AS toks
      FROM documents),
    b AS (
      SELECT doc_id, toks, len(toks) AS n,
             CASE WHEN len(toks) < 2 THEN []
                  ELSE [array_to_string(toks[i + 1 : i + 2], ' ')
                        FOR i IN range(0, len(toks) - 2 + 1)] END AS g2,
             CASE WHEN len(toks) < 8 THEN []
                  ELSE [array_to_string(toks[i + 1 : i + 8], ' ')
                        FOR i IN range(0, len(toks) - 8 + 1)] END AS g8
      FROM t),
    m AS (
      SELECT doc_id, max(cnt) AS m2 FROM (
        SELECT doc_id, gram, count(*) AS cnt
        FROM (SELECT doc_id, unnest(g2) AS gram FROM b)
        GROUP BY doc_id, gram)
      GROUP BY doc_id)
    SELECT b.doc_id, CAST(n AS BIGINT) AS n_tokens,
           round(len(list_distinct(toks)) / greatest(n, 1), 6) AS unique_token_frac,
           round(CASE WHEN len(g2) > 0 THEN coalesce(m2, 0) * 2.0 / greatest(n, 1)
                      ELSE 0 END, 6) AS top2gram_frac,
           round(CASE WHEN len(g8) > 0
                      THEN 1 - len(list_distinct(g8)) / CAST(len(g8) AS DOUBLE)
                      ELSE 0 END, 6) AS dup_8gram_frac
    FROM b LEFT JOIN m USING (doc_id)
"""


def q_pii_scrub(spark, sf_dir) -> DataFrame:
    """C4-style PII redaction. The corpus has no PII by construction, so
    deterministic emails/phones/IPv4s are planted (doc_id % 13/17/19) with
    the IDENTICAL concat in the DuckDB oracle — counts and the scrubbed
    text must hash-match, which pins both the counting and the redaction
    regexes across Java regex and RE2."""
    from .operators.textstats import pii_scrub

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 13 == 0,
                F.concat(
                    F.lit(" contact user"),
                    did.cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 17 == 0,
                F.concat(
                    F.lit(" call +1 555-123-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 19 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (did % 256).cast("string"),
                    F.lit("."),
                    ((did * 7) % 256).cast("string"),
                    F.lit(" today"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_scrub(planted)


SQL_PII_SCRUB = r"""
    WITH p AS (
      SELECT doc_id, text
        || CASE WHEN doc_id % 13 = 0
                THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                ELSE '' END
        || CASE WHEN doc_id % 17 = 0
                THEN ' call +1 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                ELSE '' END
        || CASE WHEN doc_id % 19 = 0
                THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                     || CAST((doc_id * 7) % 256 AS VARCHAR) || ' today'
                ELSE '' END AS text
      FROM documents)
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, '[a-z0-9._%+\-]+@[a-z0-9.\-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
      CAST(len(regexp_extract_all(text, '\+\d{1,2} \d{3}-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
      CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
      regexp_replace(
        regexp_replace(
          regexp_replace(text, '[a-z0-9._%+\-]+@[a-z0-9.\-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        '\+\d{1,2} \d{3}-\d{3}-\d{4}', '<PHONE>', 'g') AS scrubbed
    FROM p
"""


_MIX_WEIGHTS = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}


def q_mixture_rebalance(spark, sf_dir) -> DataFrame:
    """Source-mixture rebalancing (DoReMi/Pile-style domain reweighting):
    resample the corpus to target weights {src0:.4, src1:.3, src2:.2,
    src3:.1} by downsampling only — the uniform fixture sources make the
    plan non-trivial (src0 keeps everything; src3 keeps a quarter). The
    DuckDB oracle recomputes the identical plan (min-over-sources T, per
    source keep rate) and the identical sha256 threshold filter."""
    from .operators.sampling import apply_mixture

    d = _t(spark, sf_dir, "documents")
    return apply_mixture(d, _MIX_WEIGHTS).select("doc_id", "source")


SQL_MIXTURE_REBALANCE = """
    WITH w(source, weight) AS (VALUES
        ('src0', CAST(0.4 AS DOUBLE)), ('src1', CAST(0.3 AS DOUBLE)),
        ('src2', CAST(0.2 AS DOUBLE)), ('src3', CAST(0.1 AS DOUBLE))),
    avail AS (SELECT source, count(*) AS available FROM documents GROUP BY source),
    j AS (SELECT a.source, a.available, w.weight FROM avail a JOIN w USING (source)),
    tt AS (SELECT min(available / weight) AS T FROM j),
    plan AS (SELECT source, least(1.0, weight * T / available) AS keep_rate FROM j, tt)
    SELECT d.doc_id, d.source
    FROM documents d JOIN plan USING (source)
    WHERE substr(sha256(CAST(doc_id AS VARCHAR)), 1, 12) <
          CASE WHEN keep_rate >= 1.0 THEN 'g'
               ELSE printf('%012x', CAST(floor(keep_rate * 281474976710656.0) AS BIGINT)) END
"""


def q_pack_sequences(spark, sf_dir) -> DataFrame:
    """GPT-style sequence packing of the corpus into 128-token training
    sequences, sharded by source: one partitioned window cumsum + a bounded
    explode. All integer arithmetic, so the DuckDB oracle is exact."""
    from .operators.sampling import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), seq_len=128)


SQL_PACK_SEQUENCES = """
    WITH t AS (
      SELECT doc_id, source,
             len(list_filter(string_split_regex(lower(text), '[^a-z0-9\\p{L}]+'), x -> x <> '')) AS n
      FROM documents),
    s AS (
      SELECT doc_id, source, n,
             sum(n) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
      FROM t WHERE n > 0),
    x AS (
      SELECT doc_id, source, e - n AS start_tok, e AS end_tok,
             unnest(range(CAST(floor((e - n) / 128) AS BIGINT),
                          CAST(floor((e - 1) / 128) AS BIGINT) + 1)) AS seq_id
      FROM s)
    SELECT doc_id, source, CAST(seq_id AS BIGINT) AS seq_id,
           CAST(greatest(start_tok, seq_id * 128) - seq_id * 128 AS BIGINT) AS tok_start,
           CAST(least(end_tok, (seq_id + 1) * 128) - seq_id * 128 AS BIGINT) AS tok_end
    FROM x
"""


_BPE_MERGES = 30


def _py_bpe_train(word_counts: dict[str, int], n_merges: int):
    """Independent driver-side BPE trainer (the bpe_sound twin): plain dict
    loops, same deterministic total order (max freq, ties to the
    lexicographically smallest pair), same greedy left-to-right
    non-overlapping merge rule as the JVM fold."""
    symtab = {w: list(w) for w in word_counts}
    merges = []
    for rank in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, cnt in word_counts.items():
            syms = symtab[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + cnt
        if not counts:
            break
        (left, right), freq = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if freq < 2:
            break
        merges.append((rank, left, right, freq))
        for w in symtab:
            syms, out, i = symtab[w], [], 0
            while i < len(syms):
                if i < len(syms) - 1 and (syms[i], syms[i + 1]) == (left, right):
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            symtab[w] = out
    return merges


def q_bpe_merges(spark, sf_dir) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich et al. 2016) over the
    corpus: the learned merge table (rank, left, right, freq). The merge
    loop is fully JVM-relational (pair explode + groupBy per iteration
    over the weighted word dict, parquet-checkpointed); correctness is
    pinned by `bpe_sound` (an independent plain-Python retrain must learn
    the IDENTICAL merge list, plus the lossless-tokenization invariant)."""
    from .operators.bpe import bpe_train, merges_df

    m = bpe_train(_t(spark, sf_dir, "documents"), n_merges=_BPE_MERGES)
    return merges_df(spark, m)


def q_bpe_sound(spark, sf_dir) -> DataFrame:
    """Empty-violations oracle for `bpe_merges` + `bpe_tokenize`:
      (1) retrain_mismatch : an independent driver-side trainer over the
          collected word dict (bounded: the corpus VOCAB, not the corpus)
          must produce the identical merge list
      (2) lossless         : concat(bpe_tokens) must equal the concatenated
          word characters for EVERY document (tokenization loses nothing)
      (3) vacuous          : no merges learned, or no multi-char token ever
          emitted — the trainer proved nothing."""
    from .operators.bpe import bpe_tokenize, bpe_train, word_dict
    from .operators.dedup import tokens as _tokens

    docs = _t(spark, sf_dir, "documents")
    spark_merges = bpe_train(docs, n_merges=_BPE_MERGES)
    wc = {r.word: int(r.cnt) for r in word_dict(docs).collect()}
    py_merges = _py_bpe_train(wc, _BPE_MERGES)
    mismatches = [
        (f"retrain_mismatch@{i}", f"spark={s} py={p}")
        for i, (s, p) in enumerate(zip(spark_merges, py_merges))
        if tuple(s) != tuple(p)
    ]
    if len(spark_merges) != len(py_merges):
        mismatches.append(
            ("retrain_length", f"spark={len(spark_merges)} py={len(py_merges)}")
        )
    toked = bpe_tokenize(docs, spark_merges)
    joined = docs.select(
        "doc_id", F.concat_ws("", _tokens(F.col("text"))).alias("chars")
    ).join(
        toked.select("doc_id", F.concat_ws("", "bpe_tokens").alias("bchars"), "bpe_tokens"),
        "doc_id",
    )
    lossy = joined.filter(F.col("chars") != F.col("bchars")).select(
        F.lit("lossless").alias("violation"),
        F.col("doc_id").cast("string").alias("detail"),
    )
    multi = joined.agg(
        F.sum(
            F.size(F.filter(F.col("bpe_tokens"), lambda t: F.length(t) > 1))
        ).alias("n_multi")
    )
    vacuity = multi.where(
        (F.col("n_multi") == 0) | F.lit(len(spark_merges) == 0)
    ).select(
        F.lit("vacuous").alias("violation"),
        F.lit(None).cast("string").alias("detail"),
    )
    driver_rows = spark.createDataFrame(
        mismatches or [], "violation string, detail string"
    ) if mismatches else spark.createDataFrame([], "violation string, detail string")
    return driver_rows.union(lossy).union(vacuity)


SQL_BPE_SOUND = """
    SELECT CAST(NULL AS VARCHAR) AS violation,
           CAST(NULL AS VARCHAR) AS detail
    WHERE 1 = 0
"""


def q_perplexity_bigram(spark, sf_dir) -> DataFrame:
    """Bigram-LM perplexity (the n-gram step toward CCNet's KenLM):
    p(w2|w1) = (bigram_cnt + 1)/(unigram_cnt + V), per-position logp
    rounded 9dp, doc mean 6dp — the DuckDB oracle retrains the identical
    bigram model and hash-matches."""
    from .operators.lm import bigram_doc_perplexity

    return bigram_doc_perplexity(_t(spark, sf_dir, "documents"))


SQL_PERPLEXITY_BIGRAM = """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9\\p{L}]+'), x -> x <> '') AS toks
      FROM documents),
    uni AS (
      SELECT w, count(*) AS ucnt
      FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
    v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
    big AS (
      SELECT doc_id, toks[i + 1] AS w1, toks[i + 2] AS w2
      FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 1)) AS i
            FROM t WHERE len(toks) >= 2)),
    bcnt AS (SELECT w1, w2, count(*) AS bcnt FROM big GROUP BY w1, w2),
    scored AS (
      SELECT big.doc_id,
             round(ln(bcnt + 1.0) - ln(ucnt + v.v), 9) AS logp
      FROM big JOIN bcnt USING (w1, w2)
               JOIN uni ON uni.w = big.w1
               CROSS JOIN v),
    agg AS (
      SELECT doc_id, count(*) AS n_bigrams,
             round(sum(logp) / count(*), 6) AS mean_logp
      FROM scored GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           a.mean_logp,
           round(exp(-a.mean_logp), 4) AS ppl
    FROM documents d LEFT JOIN agg a USING (doc_id)
"""


def q_tfidf_top_terms(spark, sf_dir) -> DataFrame:
    """Doc-level keyword extraction: top-5 terms per document by smoothed
    TF-IDF (tf * (ln((N+1)/(df+1)) + 1)), ties broken by term. The
    term-keyed df relation shuffle-joins (a 100 TB vocab never broadcasts);
    N is a crossJoined 1-row agg, no driver round trip."""
    from .operators.textstats import tfidf_top_terms

    out = tfidf_top_terms(_t(spark, sf_dir, "documents"), k=5)
    return out.select(
        "doc_id",
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        "score",
        F.col("rk").cast("long").alias("rk"),
    )


SQL_TFIDF_TOP_TERMS = """
    WITH t AS (
      SELECT doc_id,
             unnest(list_filter(
               string_split_regex(lower(text), '[^a-z0-9\\p{L}]+'),
               x -> x <> '')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, term, tf, df,
             round(tf * round(ln((n_docs + 1.0) / (df + 1.0)) + 1.0, 9), 6)
               AS score
      FROM tf JOIN df USING (term) CROSS JOIN n),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rk
      FROM scored)
    SELECT doc_id, term, tf, df, score, rk FROM ranked WHERE rk <= 5
"""


def q_winnow_fingerprints(spark, sf_dir) -> DataFrame:
    """Winnowing (MOSS) fingerprints: min md5 k-gram hash per sliding
    window of 4 consecutive 5-gram hashes, leftmost-min tie rule via the
    hash||zero-padded-pos key. Exact string/integer pipeline — the DuckDB
    oracle replays the frame window min and hash-matches."""
    from .operators.textstats import winnow_fingerprints

    return winnow_fingerprints(_t(spark, sf_dir, "documents"), k=5, window=4)


SQL_WINNOW_FINGERPRINTS = """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9\\p{L}]+'), x -> x <> '') AS toks
      FROM documents),
    g AS (
      SELECT doc_id, unnest(range(0, len(toks) - 5 + 1)) AS pos, toks
      FROM t WHERE len(toks) >= 5),
    h AS (
      SELECT doc_id, pos,
             md5(array_to_string(toks[pos + 1 : pos + 5], ' '))
             || printf('%010d', pos) AS hp
      FROM g),
    w AS (
      SELECT doc_id,
             min(hp) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS pick,
             count(*) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS cnt
      FROM h)
    SELECT DISTINCT doc_id,
           CAST(substr(pick, 33, 10) AS BIGINT) AS pos,
           substr(pick, 1, 32) AS fp
    FROM w WHERE cnt = 4
"""


def q_perplexity_bucket(spark, sf_dir) -> DataFrame:
    """CCNet-style LM quality bucketing (Wenzek et al. 2020): train an
    add-one unigram LM on the corpus, score each doc's perplexity, split
    into head/middle/tail at the 1/3 and 2/3 percentiles of a deterministic
    sha256 held-out half. The DuckDB oracle retrains the identical model and
    hash-matches mean_logp/ppl/bucket (per-token logp rounded 9dp before the
    sum, doc mean rounded 6dp — see operators/lm.py float discipline)."""
    from .operators.lm import perplexity_buckets

    return perplexity_buckets(_t(spark, sf_dir, "documents"), sample_rate=0.5)


SQL_PERPLEXITY_BUCKET = f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9\\p{{L}}]+'), x -> x <> '') AS toks
      FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
    vocab AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
    stats AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total,
                     CAST(count(*) AS DOUBLE) AS v FROM vocab),
    lp AS (SELECT token, round(ln(cnt + 1.0) - ln(n_total + v), 9) AS logp
           FROM vocab, stats),
    agg AS (
      SELECT doc_id, count(*) AS n_tokens,
             round(sum(logp) / count(*), 6) AS mean_logp
      FROM tok JOIN lp USING (token) GROUP BY doc_id),
    scored AS (
      SELECT d.doc_id,
             CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
             a.mean_logp,
             round(exp(-a.mean_logp), 4) AS ppl
      FROM documents d LEFT JOIN agg a USING (doc_id)),
    thresh AS (
      SELECT round(quantile_cont(ppl, 1.0/3), 6) AS t1,
             round(quantile_cont(ppl, 2.0/3), 6) AS t2
      FROM scored
      WHERE substr(sha256(CAST(doc_id AS VARCHAR)), 1, 12) <
            '{format(int(0.5 * (1 << 48)), "012x")}'
        AND ppl IS NOT NULL)
    SELECT doc_id, n_tokens, mean_logp, ppl,
           CASE WHEN ppl IS NULL THEN NULL
                WHEN ppl <= t1 THEN 'head'
                WHEN ppl <= t2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored, thresh
"""


def q_duplicate_spans(spark, sf_dir) -> DataFrame:
    """Lee et al. 2021 exact-substring span dedup: maximal spans of 8-token
    windows occurring >= 2 times corpus-wide, per doc, in token indices.
    Pure integer/hash arithmetic — the DuckDB oracle mirrors the rolling
    windows, md5 counts and gaps-and-islands merge exactly."""
    from .operators.dedup import duplicate_spans

    return duplicate_spans(_t(spark, sf_dir, "documents"), window=8, min_count=2)


SQL_DUPLICATE_SPANS = """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9\\p{L}]+'), x -> x <> '') AS toks
      FROM documents),
    g AS (
      SELECT doc_id, unnest(range(0, len(toks) - 8 + 1)) AS pos, toks
      FROM t WHERE len(toks) >= 8),
    h AS (SELECT doc_id, pos, md5(array_to_string(toks[pos + 1 : pos + 8], ' ')) AS h FROM g),
    dup AS (SELECT h FROM h GROUP BY h HAVING count(*) >= 2),
    marked AS (SELECT doc_id, pos FROM h JOIN dup USING (h)),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
                  THEN 1 ELSE 0 END AS brk
      FROM marked),
    grp AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM isl)
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + 8 - 1 AS BIGINT) AS span_end,
           count(*) AS n_windows
    FROM grp GROUP BY doc_id, island
"""


# --------------------------------------------------------------------------
# Retrieval: BM25, dense ANN, RRF fusion, boosts, diversify
# --------------------------------------------------------------------------
_QUERY_TEXT = "data table scan engine"
_BM25_K1, _BM25_B = 1.2, 0.75


def q_bm25_topk(spark, sf_dir) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    scored = S.bm25_scores(d, _QUERY_TEXT, k1=_BM25_K1, b=_BM25_B)
    top = S.topk(scored.withColumn("bm25", F.round("bm25", 6)), "bm25", 20, "doc_id")
    return top.select("doc_id", "bm25", F.col("rank").cast("long").alias("rank"))


# the SQL mirrors bm25_scores term by term (same tokenizer, same formula)
SQL_BM25_TOPK = f"""
    WITH toks AS (
      SELECT doc_id AS id, unnest(list_filter(
        string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
      FROM documents),
    dl AS (SELECT id, count(*) AS dl FROM toks GROUP BY id),
    stats AS (SELECT (SELECT count(*) FROM documents) AS n,
                     (SELECT avg(dl) FROM dl) AS avgdl),
    tf AS (SELECT id, term, count(*) AS tf FROM toks
           WHERE term IN ('data','table','scan','engine') GROUP BY id, term),
    df AS (SELECT term, count(DISTINCT id) AS df FROM tf GROUP BY term),
    w AS (
      SELECT tf.id,
             ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
             * (tf.tf * ({_BM25_K1} + 1))
             / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl)) AS wt
      FROM tf JOIN df USING (term) JOIN dl USING (id) CROSS JOIN stats)
    SELECT id AS doc_id, bm25, rank FROM (
      SELECT id, round(sum(wt), 6) AS bm25,
             row_number() OVER (ORDER BY round(sum(wt), 6) DESC, id) AS rank
      FROM w GROUP BY id)
    WHERE rank <= 20
"""


def q_ann_cosine_topk(spark, sf_dir) -> DataFrame:
    """Brute-force cosine top-10 for query vectors vec_id 0,1,2 — the exact
    ANN baseline. Query vectors come from the table itself so Spark and the
    oracle see identical floats."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    from .operators.search import cosine

    scored = q.crossJoin(emb.select("vec_id", "embedding")).select(
        "query_id",
        "vec_id",
        F.round(cosine(F.col("qv"), F.col("embedding")), 4).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id", "cos", F.col("rank").cast("long").alias("rank"))
    )


SQL_ANN_COSINE_TOPK = """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id IN (0, 1, 2)),
    scored AS (
      SELECT q.query_id, e.vec_id,
             round(list_cosine_similarity(q.qv, e.embedding), 4) AS cos
      FROM q CROSS JOIN embeddings e)
    SELECT query_id, vec_id, cos, rank FROM (
      SELECT query_id, vec_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      FROM scored)
    WHERE rank <= 10
"""


def q_rrf_fusion(spark, sf_dir) -> DataFrame:
    """Weighted RRF over two deterministic rank lists from documents
    (weights 2.0 / 1.0, k=60 — fusion contract of R1)."""
    d = _t(spark, sf_dir, "documents")
    # distributed top-k (TakeOrderedAndProject + k-row rank stamp) — the
    # corpus never rides a single-task global window (guide §2.4)
    la = S.ranked_topk(
        d.select("doc_id", "n_chars"), [F.desc("n_chars"), F.col("doc_id")], 50
    ).drop("n_chars")
    lb = S.ranked_topk(d.select("doc_id"), [F.col("doc_id")], 50)
    fused = S.rrf_fuse([(la, 2.0), (lb, 1.0)], "doc_id")
    return fused.select("doc_id", F.round("rrf_score", 6).alias("rrf_score"))


SQL_RRF_FUSION = """
    WITH la AS (SELECT doc_id, rank FROM (
        SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank
        FROM documents) WHERE rank <= 50),
    lb AS (SELECT doc_id, rank FROM (
        SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rank
        FROM documents) WHERE rank <= 50),
    u AS (SELECT doc_id, 2.0 / (60 + rank) AS contrib FROM la
          UNION ALL SELECT doc_id, 1.0 / (60 + rank) FROM lb)
    SELECT doc_id, round(sum(contrib), 6) AS rrf_score FROM u GROUP BY doc_id
"""


def q_rank_boosts(spark, sf_dir) -> DataFrame:
    """R5/R6: the exact boost formula over synthesized result rows."""
    d = _t(spark, sf_dir, "documents")
    rows = d.select(
        "doc_id",
        F.lit(0.0).alias("score"),
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/")),
        )
        .otherwise(
            F.concat(
                F.lit("https://"), F.col("source"), F.lit(".example.com/d/"),
                F.col("doc_id").cast("string"),
            )
        )
        .alias("source_url"),
        F.substring("text", 1, 60).alias("page_title"),
    )
    boosted = S.apply_ranking_boosts(rows, _QUERY_TEXT)
    return boosted.select("doc_id", F.round("score", 6).alias("score"))


SQL_RANK_BOOSTS = """
    WITH rows_ AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0
                  THEN 'https://' || source || '.example.com/'
                  ELSE 'https://' || source || '.example.com/d/' || CAST(doc_id AS VARCHAR)
             END AS url,
             substr(text, 1, 60) AS title
      FROM documents),
    feats AS (
      SELECT doc_id, url, title,
             len(list_filter(string_split(
                 regexp_extract(url, '^[a-z]+://[^/]*(/.*)?$', 1), '/'),
                 x -> x <> '')) AS depth,
             list_filter(string_split_regex(lower(title), '[^a-zA-Z0-9]+'), x -> x <> '')
             || list_filter(string_split_regex(lower(url), '[^a-zA-Z0-9]+'), x -> x <> '')
               AS tw,
             list_filter(string_split_regex(lower(
                 regexp_extract(url, '^[a-z]+://([^/:?#]*)', 1)), '[^a-zA-Z0-9]+'), x -> x <> '')
             || list_filter(string_split_regex(lower(title), '[^a-zA-Z0-9]+'), x -> x <> '')
               AS hw
      FROM rows_),
    scored AS (
      SELECT doc_id,
             0.5 / greatest(length(url), 1)
             + (CASE WHEN depth = 0 THEN 1.25 ELSE 0.0 END)
             + (CASE WHEN depth = 0
                      AND list_contains(hw, 'data') AND list_contains(hw, 'table')
                      AND list_contains(hw, 'scan') AND list_contains(hw, 'engine')
                     THEN 2.0 ELSE 0.0 END)
             - (CASE WHEN depth > 0 THEN depth * 0.12 ELSE 0.0 END)
             + 3.0 * ((CASE WHEN list_contains(tw, 'data') THEN 1 ELSE 0 END)
                    + (CASE WHEN list_contains(tw, 'table') THEN 1 ELSE 0 END)
                    + (CASE WHEN list_contains(tw, 'scan') THEN 1 ELSE 0 END)
                    + (CASE WHEN list_contains(tw, 'engine') THEN 1 ELSE 0 END)) / 4.0
             AS score
      FROM feats)
    SELECT doc_id, round(score, 6) AS score FROM scored
"""


def q_dedup_diversify_paginate(spark, sf_dir) -> DataFrame:
    """R7+R8+R9 over synthesized ranked results."""
    d = _t(spark, sf_dir, "documents")
    rows = d.select(
        F.col("doc_id").alias("rank"),
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/d/"),
            (F.col("doc_id") % 40).cast("string"),
        ).alias("source_url"),
    ).filter(F.col("rank") < 200)
    out = S.unique_pages_diversified(rows)
    return S.paginate(out, limit=20, offset=5).select(F.col("out_rank").cast("long").alias("out_rank"), "rank", "source_url")


SQL_DEDUP_DIVERSIFY_PAGINATE = """
    WITH rows_ AS (
      SELECT doc_id AS rank,
             'https://' || source || '.example.com/d/' || CAST(doc_id % 40 AS VARCHAR) AS source_url
      FROM documents WHERE doc_id < 200),
    uniq AS (
      SELECT rank, source_url FROM (
        SELECT rank, source_url,
               row_number() OVER (PARTITION BY source_url ORDER BY rank) AS rn
        FROM rows_) WHERE rn = 1),
    hosts AS (
      SELECT rank, source_url,
             coalesce(lower(regexp_extract(source_url, '^[a-z]+://([^/:?#]*)', 1)), source_url) AS host
      FROM uniq),
    flagged AS (
      SELECT rank, source_url,
             row_number() OVER (PARTITION BY host ORDER BY rank) AS host_rn
      FROM hosts),
    pos AS (
      SELECT rank, source_url, host_rn,
             CASE WHEN host_rn = 1 THEN
               row_number() OVER (ORDER BY CASE WHEN host_rn = 1 THEN rank END ASC NULLS LAST)
             END AS diverse_pos
      FROM flagged),
    ordered AS (
      SELECT rank, source_url,
             row_number() OVER (ORDER BY
               CASE WHEN diverse_pos IS NOT NULL AND diverse_pos <= 5 THEN 0 ELSE 1 END,
               rank) AS out_rank
      FROM pos)
    SELECT out_rank, rank, source_url FROM ordered
    WHERE out_rank > 5 AND out_rank <= 25
"""


def q_jaccard_pairs(spark, sf_dir) -> DataFrame:
    """N-gram Jaccard near-dup pairs (word 5-grams, threshold 0.2), with
    hot-shingle pruning (df > 200) as the skew guard."""
    d = _t(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(d, n=5, threshold=0.2, max_doc_freq=200)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


SQL_JACCARD_PAIRS = """
    WITH t AS (
      SELECT doc_id AS id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9\\p{L}]+'), x -> x <> '') AS toks
      FROM documents),
    sh AS (
      SELECT DISTINCT id, unnest(
        CASE WHEN len(toks) < 5 THEN []
             ELSE [array_to_string(toks[i + 1 : i + 5], ' ')
                   FOR i IN range(0, len(toks) - 5 + 1)] END) AS shingle
      FROM t),
    pruned AS (
      SELECT * FROM sh WHERE shingle NOT IN (
        SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 200)),
    sizes AS (SELECT id, count(*) AS sz FROM pruned GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
      FROM pruned a JOIN pruned b USING (shingle)
      WHERE a.id < b.id GROUP BY a.id, b.id)
    SELECT id_a, id_b,
           round(i / (sa.sz + sb.sz - i), 6) AS jaccard
    FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
    WHERE i / (sa.sz + sb.sz - i) >= 0.2
"""


def q_aspect_buckets(spark, sf_dir) -> DataFrame:
    """SDXL/NovelAI-style aspect-ratio bucketing: every image is assigned
    the resolution bucket whose aspect is nearest its own (|w/h - bw/bh|
    via integer cross-multiplication, ties to the lower bucket id) so
    training batches stay shape-homogeneous. Spark side is a pure map-only
    array_sort over the literal bucket table (no join, no shuffle); the
    oracle re-derives the argmin with an explode + window — two different
    algorithms, same rows. Dimensions synthesized deterministically from
    part keys."""
    from .operators.multimodal import assign_aspect_buckets

    imgs = _t(spark, sf_dir, "part").select(
        F.concat(F.lit("img-"), F.col("p_partkey")).alias("image_id"),
        (F.lit(256) + (F.col("p_partkey") * 37) % 1792).cast("long").alias("w"),
        (F.lit(256) + (F.col("p_partkey") * 53) % 1792).cast("long").alias("h"),
    )
    out = assign_aspect_buckets(imgs)
    return out.select(
        "image_id",
        "w",
        "h",
        F.col("bucket_id").cast("long").alias("bucket_id"),
        F.col("bucket_w").cast("long").alias("bucket_w"),
        F.col("bucket_h").cast("long").alias("bucket_h"),
        "aspect_err",
    )


SQL_ASPECT_BUCKETS = """
    WITH imgs AS (
      SELECT 'img-' || p_partkey AS image_id,
             CAST(256 + (p_partkey * 37) % 1792 AS BIGINT) AS w,
             CAST(256 + (p_partkey * 53) % 1792 AS BIGINT) AS h
      FROM part),
    buckets(i, bw, bh) AS (VALUES
      (0, 512, 2048), (1, 576, 1728), (2, 640, 1536), (3, 704, 1408),
      (4, 768, 1344), (5, 832, 1216), (6, 896, 1152), (7, 1024, 1024),
      (8, 1152, 896), (9, 1216, 832), (10, 1344, 768), (11, 1408, 704),
      (12, 1536, 640), (13, 1728, 576), (14, 2048, 512)),
    scored AS (
      SELECT image_id, w, h, i, bw, bh,
             abs(CAST(w * bh - h * bw AS DOUBLE)) / CAST(h * bh AS DOUBLE)
               AS err,
             row_number() OVER (
               PARTITION BY image_id
               ORDER BY abs(CAST(w * bh - h * bw AS DOUBLE))
                          / CAST(h * bh AS DOUBLE), i) AS rk
      FROM imgs CROSS JOIN buckets)
    SELECT image_id, w, h,
           CAST(i AS BIGINT) AS bucket_id,
           CAST(bw AS BIGINT) AS bucket_w,
           CAST(bh AS BIGINT) AS bucket_h,
           round(err, 6) AS aspect_err
    FROM scored WHERE rk = 1
"""


def q_approx_distinct_sound(spark, sf_dir) -> DataFrame:
    """Empty-violations oracle for sketch-based distinct counting: HLL++
    `approx_count_distinct` (the metrics path that replaces exact
    count(DISTINCT) at 100 TB) per supplier over lineitem order keys plus a
    second grouping over events (distinct users per event type), each
    estimate checked against the exact plan within a 4*rsd band. An empty
    result PROVES every sketch estimate landed in band (a zero-group input
    would itself be a violation, so the check cannot pass vacuously)."""
    from .operators.sketches import approx_distinct_violations

    li = approx_distinct_violations(
        _t(spark, sf_dir, "lineitem"), ["l_suppkey"], "l_orderkey", rsd=0.05
    )
    ev = approx_distinct_violations(
        _t(spark, sf_dir, "events"), ["event_type"], "user_id", rsd=0.05
    )
    return li.unionByName(ev)


SQL_APPROX_DISTINCT_SOUND = """
    SELECT CAST(NULL AS VARCHAR) AS violation,
           CAST(NULL AS VARCHAR) AS group_key,
           CAST(NULL AS BIGINT) AS n_exact,
           CAST(NULL AS BIGINT) AS n_approx
    WHERE 1 = 0
"""


def q_approx_quantile_sound(spark, sf_dir) -> DataFrame:
    """Empty-violations oracle for quantile sketching (percentile_approx —
    the no-sort path for per-host latency/size distributions at 100 TB):
    every sketch quantile over events.value per event_type must land
    between the exact interpolated quantiles at prob -/+ 1/accuracy.
    Empty input reports `vacuous_grouping`, so green cannot be vacuous."""
    from .operators.sketches import approx_quantile_violations

    return approx_quantile_violations(
        _t(spark, sf_dir, "events"), ["event_type"], "value", accuracy=1000
    )


SQL_APPROX_QUANTILE_SOUND = """
    SELECT CAST(NULL AS VARCHAR) AS violation,
           CAST(NULL AS VARCHAR) AS group_key,
           CAST(NULL AS DOUBLE) AS prob,
           CAST(NULL AS DOUBLE) AS q_approx,
           CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi
    WHERE 1 = 0
"""


def q_hard_negatives(spark, sf_dir) -> DataFrame:
    """Contrastive hard-negative mining: per anchor doc, the top-3 other
    docs in the sub-duplicate bigram-Jaccard band [0.05, 0.5) — high
    lexical overlap that is NOT duplication, the pairs a dedup classifier
    or contrastive model must learn to separate (random in-batch negatives
    are easy; banded ones are hard)."""
    d = _t(spark, sf_dir, "documents")
    out = D.hard_negative_pairs(d, n=2, lo=0.05, hi=0.5, k=3, max_doc_freq=200)
    return out.select(
        "anchor_id",
        "negative_id",
        F.round("jaccard", 6).alias("jaccard"),
        F.col("rk").cast("long").alias("rk"),
    )


SQL_HARD_NEGATIVES = """
    WITH t AS (
      SELECT doc_id AS id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9\\p{L}]+'), x -> x <> '') AS toks
      FROM documents),
    sh0 AS (
      SELECT DISTINCT id, unnest(
        CASE WHEN len(toks) < 2 THEN []
             ELSE [array_to_string(toks[i + 1 : i + 2], ' ')
                   FOR i IN range(0, len(toks) - 2 + 1)] END) AS shingle
      FROM t),
    sh AS (
      SELECT * FROM sh0 WHERE shingle NOT IN (
        SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > 200)),
    sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.id < b.id GROUP BY a.id, b.id),
    banded AS (
      SELECT id_a, id_b, i / (sa.sz + sb.sz - i) AS jac
      FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
      WHERE i / (sa.sz + sb.sz - i) >= 0.05
        AND i / (sa.sz + sb.sz - i) < 0.5),
    sym AS (
      SELECT id_a AS anchor_id, id_b AS negative_id, jac FROM banded
      UNION ALL
      SELECT id_b AS anchor_id, id_a AS negative_id, jac FROM banded),
    ranked AS (
      SELECT anchor_id, negative_id, jac,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY jac DESC, negative_id) AS rk
      FROM sym)
    SELECT anchor_id, negative_id, round(jac, 6) AS jaccard, rk
    FROM ranked WHERE rk <= 3
"""


def q_decontaminate(spark, sf_dir) -> DataFrame:
    """Benchmark decontamination (GPT-3/Pile-style n-gram train/test
    overlap): an eval set is synthesized from the corpus itself —
    contaminated prompts are verbatim 18-token slices of documents
    (doc_id % 23), clean probes are the same slices with word order
    REVERSED (doc_id % 29, eval_id offset +100000) so they share vocab
    but no 8-gram. Reports (doc_id, eval_id, n_shared >= 3 distinct
    8-grams); a doc's planted near-duplicates are correctly flagged
    against its eval too (that is what decontamination is for)."""
    from .operators.dedup import ngram_contamination, tokens

    docs = _t(spark, sf_dir, "documents")
    toksed = docs.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 26
    )
    cont = toksed.filter(F.col("doc_id") % 23 == 0).select(
        F.col("doc_id").alias("eval_id"),
        F.concat_ws(" ", F.slice("toks", 4, 18)).alias("text"),
    )
    clean = toksed.filter(F.col("doc_id") % 29 == 0).select(
        (F.col("doc_id") + 100000).alias("eval_id"),
        F.concat_ws(" ", F.slice(F.reverse("toks"), 4, 18)).alias("text"),
    )
    out = ngram_contamination(docs, cont.unionByName(clean), n=8, min_overlap=3)
    return out.select(
        "doc_id", "eval_id", F.col("n_shared").cast("long").alias("n_shared")
    )


SQL_DECONTAMINATE = """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9\\p{L}]+'), x -> x <> '') AS toks
      FROM documents),
    ev AS (
      SELECT doc_id AS eval_id, array_to_string(toks[4:21], ' ') AS text
      FROM t WHERE len(toks) >= 26 AND doc_id % 23 = 0
      UNION ALL
      SELECT doc_id + 100000 AS eval_id,
             array_to_string(list_reverse(toks)[4:21], ' ') AS text
      FROM t WHERE len(toks) >= 26 AND doc_id % 29 = 0),
    dsh AS (
      SELECT DISTINCT doc_id, unnest(
        CASE WHEN len(toks) < 8 THEN []
             ELSE [md5(array_to_string(toks[i + 1 : i + 8], ' '))
                   FOR i IN range(0, len(toks) - 8 + 1)] END) AS h
      FROM t),
    et AS (
      SELECT eval_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9\\p{L}]+'), x -> x <> '') AS toks
      FROM ev),
    esh AS (
      SELECT DISTINCT eval_id, unnest(
        CASE WHEN len(toks) < 8 THEN []
             ELSE [md5(array_to_string(toks[i + 1 : i + 8], ' '))
                   FOR i IN range(0, len(toks) - 8 + 1)] END) AS h
      FROM et)
    SELECT d.doc_id, e.eval_id, CAST(count(*) AS BIGINT) AS n_shared
    FROM dsh d JOIN esh e USING (h)
    GROUP BY d.doc_id, e.eval_id
    HAVING count(*) >= 3
"""


def q_decontaminated_corpus(spark, sf_dir) -> DataFrame:
    """The APPLY step of benchmark decontamination: the training corpus
    with every flagged document removed (GPT-3 dropped contaminated
    TRAINING docs; the detection report is `decontaminate`). One distinct
    + one anti-join on doc_id over the detection pipeline."""
    flagged = q_decontaminate(spark, sf_dir).select("doc_id").distinct()
    docs = _t(spark, sf_dir, "documents")
    return docs.join(flagged, "doc_id", "left_anti").select(
        "doc_id", "source", "n_chars"
    )


SQL_DECONTAMINATED_CORPUS = f"""
    WITH flagged AS ({SQL_DECONTAMINATE})
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d
    ANTI JOIN (SELECT DISTINCT doc_id FROM flagged) f USING (doc_id)
"""


def q_pagerank(spark, sf_dir) -> DataFrame:
    """Link-based popularity over the synthesized crawl graph: 10 power
    iterations, damping 0.85, dangling mass redistributed uniformly
    (the self-owned complement to R5's external Tranco popularity)."""
    from .operators.graph import pagerank

    pr = pagerank(_edges(spark, sf_dir), iters=10, damping=0.85)
    return pr.select("node", F.round("rank", 6).alias("rank"))


def _pagerank_sql(iters: int = 10, d: float = 0.85) -> str:
    """Unrolled fixed-iteration PageRank (one plain CTE level per power
    iteration — no recursive-CTE aggregation restrictions to fight)."""
    levels = []
    for k in range(1, iters + 1):
        levels.append(
            f"""pr{k} AS MATERIALIZED (
      SELECT nd.node, nd.deg,
             CAST({1.0 - d} AS DOUBLE) / (SELECT n FROM nn)
             + CAST({d} AS DOUBLE) * (
                 COALESCE(c.contrib, 0)
                 + (SELECT COALESCE(sum(rank), 0) FROM pr{k - 1} WHERE deg IS NULL)
                   / (SELECT n FROM nn)
               ) AS rank
      FROM nd
      LEFT JOIN (
        SELECT e.dst AS node, sum(p.rank / p.deg) AS contrib
        FROM pr{k - 1} p JOIN edges e ON e.src = p.node
        GROUP BY e.dst) c ON c.node = nd.node)"""
        )
    joined = ",\n    ".join(levels)
    return f"""
    WITH edges AS MATERIALIZED ({_EDGES_SQL}),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges),
    outdeg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
    nd AS MATERIALIZED (SELECT nodes.node, outdeg.deg FROM nodes LEFT JOIN outdeg USING (node)),
    nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nd),
    pr0 AS MATERIALIZED (SELECT node, deg, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nd),
    {joined}
    SELECT node, round(rank, 6) AS rank FROM pr{iters}
"""


SQL_PAGERANK = _pagerank_sql()


def q_label_propagation(spark, sf_dir) -> DataFrame:
    """Synchronous label-propagation communities over the crawl link graph
    (operators/graph.py::label_propagation): 8 fixed rounds, most-frequent
    neighbor label, ties -> smallest — deterministic by construction, so
    the DuckDB twin replays every round exactly."""
    from .operators.graph import label_propagation

    return label_propagation(_edges(spark, sf_dir), iters=8)


def _lpa_sql(iters: int = 8) -> str:
    levels = []
    for k in range(1, iters + 1):
        levels.append(
            f"""lp{k} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT u.a AS node, p.label, count(*) AS cnt,
               row_number() OVER (PARTITION BY u.a
                                  ORDER BY count(*) DESC, p.label ASC) AS rn
        FROM und u JOIN lp{k - 1} p ON u.b = p.node
        GROUP BY u.a, p.label) WHERE rn = 1)"""
        )
    joined = ",\n    ".join(levels)
    return f"""
    WITH edges AS MATERIALIZED ({_EDGES_SQL}),
    und AS MATERIALIZED (
      SELECT src AS a, dst AS b FROM edges WHERE src <> dst
      UNION
      SELECT dst AS a, src AS b FROM edges WHERE src <> dst),
    lp0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS label FROM und),
    {joined}
    SELECT node, label FROM lp{iters}
"""


SQL_LABEL_PROPAGATION = _lpa_sql()


def q_dedup_clusters(spark, sf_dir) -> DataFrame:
    """Transitive duplicate clusters over the n-gram Jaccard pairs:
    connected components (min-label + pointer doubling), canonical
    representative = min doc_id per component — the keeper-selection step
    after pair generation."""
    d = _t(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(d, n=5, threshold=0.2, max_doc_freq=200)
    out = D.duplicate_clusters(pairs)
    return out.select(F.col("id").alias("doc_id"), "cluster_id", "cluster_size")


SQL_DEDUP_CLUSTERS = f"""
    WITH RECURSIVE pairs AS ({SQL_JACCARD_PAIRS}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs),
    reach(id, r) AS (
      SELECT src AS id, src AS r FROM edges
      UNION
      SELECT e.dst AS id, reach.r AS r
      FROM reach JOIN edges e ON e.src = reach.id),
    lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
    sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
           FROM lab GROUP BY cluster_id)
    SELECT lab.id AS doc_id, cluster_id, cluster_size
    FROM lab JOIN sz USING (cluster_id)
"""


def q_hash_sample(spark, sf_dir) -> DataFrame:
    """Deterministic 10% sample of documents keyed on sha256(doc_id) — a
    pure filter (no shuffle, reproducible across retries/engines)."""
    d = _t(spark, sf_dir, "documents")
    return SMP.hash_sample(d, "doc_id", 0.1).select("doc_id", "lang", "n_chars")


SQL_HASH_SAMPLE = f"""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE substr(sha256(CAST(doc_id AS VARCHAR)), 1, 12)
          < '{format(int(0.1 * (1 << 48)), "012x")}'
"""


def q_sample_splits(spark, sf_dir) -> DataFrame:
    """Named train/val/test split assignment from cumulative hash-key
    boundaries (80/10/5, remainder unassigned NULL)."""
    d = _t(spark, sf_dir, "documents")
    out = SMP.split_assign(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.05})
    return out.select("doc_id", "split")


SQL_SAMPLE_SPLITS = f"""
    SELECT doc_id,
           CASE WHEN k < '{format(int(0.8 * (1 << 48)), "012x")}' THEN 'train'
                WHEN k < '{format(int(0.9 * (1 << 48)), "012x")}' THEN 'val'
                WHEN k < '{format(int(0.95 * (1 << 48)), "012x")}' THEN 'test'
                ELSE NULL END AS split
    FROM (SELECT doc_id,
                 substr(sha256(CAST(doc_id AS VARCHAR)), 1, 12) AS k
          FROM documents)
"""


def q_stratified_sample(spark, sf_dir) -> DataFrame:
    """Deterministic per-language quota sample: 20 smallest hash keys per
    lang stratum (one shuffle on the stratum key)."""
    d = _t(spark, sf_dir, "documents")
    return SMP.stratified_sample(d, "doc_id", "lang", 20).select("doc_id", "lang")


SQL_STRATIFIED_SAMPLE = """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY substr(sha256(CAST(doc_id AS VARCHAR)), 1, 12),
                        doc_id) AS rn
      FROM documents)
    WHERE rn <= 20
"""


def q_corpus_curation(spark, sf_dir) -> DataFrame:
    """End-to-end training-corpus curation, the chain a 100 TB pipeline runs
    nightly: quality gate -> language gate -> near-dup keeper selection ->
    deterministic split. Keeper = min doc_id of the doc's transitive Jaccard
    cluster, computed over the FULL corpus (not the gated survivors) so the
    canonical choice never shifts when gates are retuned. Splits 90/5/5 sum
    to 1.0 — every survivor lands in a split (exercises the rate-1.0
    sentinel path in sampling.split_assign). All four stages are individually
    oracled (quality_score / lang_id / dedup_clusters / sample_splits); this
    entry pins their COMPOSITION."""
    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        TS.lang_id_expr(F.col("text")).alias("lang_guess"),
        TS.quality_score_expr(F.col("text")).alias("quality"),
    )
    gated = scored.where((F.col("quality") >= 0.5) & (F.col("lang_guess") != "und"))
    pairs = D.jaccard_pairs(d, n=5, threshold=0.2, max_doc_freq=200)
    losers = (
        D.duplicate_clusters(pairs)
        .where(F.col("id") != F.col("cluster_id"))
        .select(F.col("id").alias("doc_id"))
    )
    kept = gated.join(losers, "doc_id", "left_anti")
    out = SMP.split_assign(kept, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
    return out.select("doc_id", "lang_guess", "quality", "split")


SQL_CORPUS_CURATION = f"""
    WITH RECURSIVE pairs AS ({SQL_JACCARD_PAIRS}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs),
    reach(id, r) AS (
      SELECT src AS id, src AS r FROM edges
      UNION
      SELECT e.dst AS id, reach.r AS r
      FROM reach JOIN edges e ON e.src = reach.id),
    losers AS (
      SELECT id AS doc_id
      FROM (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
      WHERE id <> cluster_id),
    qual AS ({SQL_QUALITY_SCORE}),
    lang AS ({SQL_LANG_ID}),
    keyed AS (SELECT doc_id, substr(sha256(CAST(doc_id AS VARCHAR)), 1, 12) AS k
              FROM documents)
    SELECT keyed.doc_id, lang_guess, quality,
           CASE WHEN k < '{format(int(0.9 * (1 << 48)), "012x")}' THEN 'train'
                WHEN k < '{format(int(0.95 * (1 << 48)), "012x")}' THEN 'val'
                ELSE 'test' END AS split
    FROM keyed
    JOIN qual USING (doc_id)
    JOIN lang USING (doc_id)
    WHERE quality >= 0.5 AND lang_guess <> 'und'
      AND keyed.doc_id NOT IN (SELECT doc_id FROM losers)
"""


# --------------------------------------------------------------------------
# Rows-only queries (no SQL oracle: engine-specific hashing / binary payloads)
# --------------------------------------------------------------------------
def q_minhash_lsh_pairs(spark, sf_dir) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    out = D.near_duplicates_minhash(d, n=5, threshold=0.2, bands=8, rows_per_band=4)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_simhash_pairs(spark, sf_dir) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return D.simhash_near_duplicates(d, max_hamming=3, blocks=4)


def q_embedding_near_dup(spark, sf_dir) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return D.embedding_near_duplicates(
        emb, threshold=0.3, block_col="label"
    ).select("id_a", "id_b", F.round("cos", 4).alias("cos"))


def q_lsh_ann_topk(spark, sf_dir) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qs = [
        (int(r.vec_id), list(map(float, r.embedding)))
        for r in emb.filter(F.col("vec_id").isin(0, 1, 2)).collect()
    ]
    dim = len(qs[0][1])
    idx = SS.lsh_index(emb, dim=dim, n_bits=6, n_tables=4)
    return SS.lsh_topk(idx, qs, dim=dim, k=10, n_bits=6, n_tables=4).select(
        "query_id", "vec_id", F.round("cos", 4).alias("cos"), "rank"
    )


def q_ivf_topk(spark, sf_dir) -> DataFrame:
    """IVF ANN top-10 for queries 0/1/2 (rows-only: centroid assignment is
    data-dependent; recall + 384-d plan regression in tests/test_simsearch)."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = [
        (int(r.vec_id), list(map(float, r.embedding)))
        for r in emb.filter(F.col("vec_id").isin(0, 1, 2)).collect()
    ]
    assigned, cents = SS.ivf_index(emb, n_lists=16)
    return SS.ivf_topk(assigned, cents, qs, k=10, n_probe=4).select(
        "query_id", "vec_id", F.round("cos", 4).alias("cos"), "rank"
    )


def _image_table(spark, sf_dir) -> DataFrame:
    """Deterministic (image_id, bytes, phash_true) image table synthesized
    from part keys — shared by the decode/phash, image ANN, and near-dup
    entries."""
    import pandas as pd

    from . import codecs as C
    from .fixtures import make_pixels

    # limit() collapses to one partition — spread the codec work back out
    # (the real JPEG encode/decode per row single-tasked 2000 rows otherwise)
    part = (
        _t(spark, sf_dir, "part")
        .select("p_partkey")
        .limit(2000)
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for k in pdf["p_partkey"]:
                k = int(k)
                fmt = ["png", "jpeg", "webp"][k % 3]
                px = make_pixels(7, k, 16, 16)
                data = C.encode_image(px, fmt)  # encode once, not per field
                rows.append(
                    {
                        "image_id": f"p-{k}",
                        "bytes": data,
                        "phash_true": C.phash64(C.decode_image(data)),
                    }
                )
            yield pd.DataFrame(rows, columns=["image_id", "bytes", "phash_true"])

    return part.mapInPandas(gen, "image_id string, bytes binary, phash_true long")


def q_image_decode_phash(spark, sf_dir) -> DataFrame:
    """E10 plumbing over a deterministic image table synthesized from part:
    encode seeded pixels per row, decode via the Arrow stage, verify phash
    and (for lossy) the PSNR >= 40 dB invariant. No SQL oracle (binary)."""
    from pyspark import StorageLevel

    from .operators.multimodal import decode_stats

    # persisted: the stats branch and the phash_true join branch otherwise
    # each re-run the codec generator (a Python stage — exchange reuse
    # cannot deduplicate it)
    images = _image_table(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    stats = decode_stats(images)
    joined = stats.join(images.select("image_id", "phash_true"), "image_id")
    return joined.select(
        "image_id",
        "decode_ok",
        (F.col("phash") == F.col("phash_true")).alias("phash_ok"),
        "w",
        "h",
    )


def q_decode_sound(spark, sf_dir) -> DataFrame:
    """Soundness oracle for the rows-only `image_decode_phash` entry: every
    image in the round-trip table must decode (decode_ok), hash to the
    independently-computed driver-side phash (phash_ok), and keep its
    16x16 geometry. Violations must be empty — the binary payloads
    themselves can't be SQL-compared, but the verification columns can."""
    out = q_image_decode_phash(spark, sf_dir)
    return (
        out.where(
            (~F.col("decode_ok"))
            | (~F.col("phash_ok"))
            | (F.col("w") != 16)
            | (F.col("h") != 16)
        )
        .select("image_id", F.lit("bad_decode").alias("reason"))
    )


SQL_DECODE_SOUND = """
    SELECT CAST(NULL AS VARCHAR) AS image_id, CAST(NULL AS VARCHAR) AS reason
    WHERE 1 = 0
"""


def _image_feature_table(spark, sf_dir) -> DataFrame:
    """(image_id, features) — luma-histogram vectors from the synthesized
    image table (decode happens in the Arrow stage)."""
    from .operators.multimodal import image_features

    return image_features(_image_table(spark, sf_dir).select("image_id", "bytes"))


_IMAGE_ANN_QUERY_IDS = ("p-1", "p-2", "p-3")


def _image_ann(spark, sf_dir):
    feats = _image_feature_table(spark, sf_dir)
    feats.persist()
    qs = [
        (int(r["image_id"][2:]), list(map(float, r["features"])))
        for r in feats.filter(F.col("image_id").isin(*_IMAGE_ANN_QUERY_IDS)).collect()
    ]
    ann = SS.brute_force_topk(feats, qs, k=10, id_col="image_id", vec_col="features")
    return feats, qs, ann


def q_image_ann_topk(spark, sf_dir) -> DataFrame:
    """Image similarity search: the image axis composed with the ANN suite —
    luma-histogram feature vectors -> brute-force cosine top-10 for three
    query images. Rows-only (binary decode upstream); exactness pinned by
    `image_ann_sound`."""
    _, _, ann = _image_ann(spark, sf_dir)
    return ann.select("query_id", "image_id", F.round("cos", 4).alias("cos"), "rank")


def q_image_ann_sound(spark, sf_dir) -> DataFrame:
    """Soundness oracle for `image_ann_topk`: brute force means the reported
    set must BE the global top-10 (per query) under the independent truth
    plan — same ids, same ranks, cosines within 1e-6. Violations empty."""
    from .operators.search import cosine

    feats, qs, ann = _image_ann(spark, sf_dir)
    qdf = spark.createDataFrame(
        [(qid, vec) for qid, vec in qs], "query_id long, qv array<double>"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_true"), F.col("i2"))
    truth = (
        feats.select(F.col("image_id").alias("i2"), F.col("features").alias("fv"))
        .crossJoin(F.broadcast(qdf))
        .select("query_id", "i2", cosine(F.col("fv"), F.col("qv")).alias("cos_true"))
        .withColumn("rank_true", F.row_number().over(w))
        .filter(F.col("rank_true") <= 10)
    )
    joined = ann.join(
        truth,
        (ann["query_id"] == truth["query_id"]) & (ann["image_id"] == F.col("i2")),
        "full_outer",
    )
    return joined.filter(
        ann["query_id"].isNull()  # truth row missing from the answer
        | truth["query_id"].isNull()  # answer row outside the true top-k
        | (F.col("rank") != F.col("rank_true"))
        | (F.abs(F.col("cos") - F.col("cos_true")) > 1e-6)
    ).select(
        F.coalesce(ann["query_id"], truth["query_id"]).alias("query_id"),
        F.coalesce(ann["image_id"], F.col("i2")).alias("image_id"),
    )


SQL_IMAGE_ANN_SOUND = """
    SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS VARCHAR) AS image_id
    WHERE 1 = 0
"""


_ALIGN_THRESHOLD = 0.95


def _captioned_image_table(spark, sf_dir) -> DataFrame:
    """(image_id, bytes, caption) pairs for the alignment scorer. Every 5th
    row is a planted TRUE pair (pixels synthesized FROM the caption's token
    histogram, lossless png); the rest pair seeded sine-pattern pixels with
    an unrelated caption — the mismatched-scrape case a CLIP gate drops.
    Separate from _image_table so the ANN/near-dup/curation entries keep
    their pixel distribution (and their oracles) untouched."""
    import pandas as pd

    from . import codecs as C
    from .fixtures import aligned_pixels_for_caption, make_caption, make_pixels

    part = (
        _t(spark, sf_dir, "part")
        .select("p_partkey")
        .limit(1000)
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for k in pdf["p_partkey"]:
                k = int(k)
                caption = make_caption(11, k)
                if k % 5 == 0 and caption.strip():
                    px = aligned_pixels_for_caption(caption, 16, 16)
                    fmt = "png"  # lossless: the planted histogram survives
                else:
                    px = make_pixels(11, k, 16, 16)
                    fmt = ["png", "jpeg", "webp"][k % 3]
                rows.append((f"c-{k}", C.encode_image(px, fmt), caption))
            yield pd.DataFrame(rows, columns=["image_id", "bytes", "caption"])

    return part.mapInPandas(gen, "image_id string, bytes binary, caption string")


def q_caption_alignment(spark, sf_dir) -> DataFrame:
    """Cross-modal caption-image alignment scoring (the CLIP-score gate of
    a LAION-style curation pipeline) with deterministic stand-in encoders:
    luma histogram (Arrow decode pass) x token-hash histogram (pure JVM) ->
    JVM cosine -> threshold gate. Rows-only (binary decode upstream);
    exactness + anti-vacuity pinned by `caption_alignment_sound`."""
    from .operators.multimodal import caption_alignment

    out = caption_alignment(
        _captioned_image_table(spark, sf_dir), threshold=_ALIGN_THRESHOLD
    )
    return out.select(
        "image_id", F.round("align_score", 4).alias("align_score"), "aligned"
    )


def q_caption_alignment_sound(spark, sf_dir) -> DataFrame:
    """Empty-violations oracle for `caption_alignment`. An independent
    single-pass numpy recompute (zlib.crc32 tokenizer vs JVM crc32, numpy
    cosine vs JVM zip_with/aggregate, its own decode invocation) re-scores
    every row; violations:
      (1) score_mismatch: |reported - recomputed| > 1e-5
      (2) flag_mismatch : `aligned` inconsistent with the threshold
      (3) anti-vacuity  : empty input, zero planted pairs scoring >= 0.98,
          or zero sub-threshold rows — any of these means the gate can't
          be separating anything and the empty result would be a lie."""
    import pandas as pd

    from . import codecs as C
    from .operators.multimodal import caption_alignment

    images = _captioned_image_table(spark, sf_dir)
    reported = caption_alignment(images, threshold=_ALIGN_THRESHOLD)

    def rescore(batches):
        import zlib

        import numpy as np

        for pdf in batches:
            rows = []
            for iid, data, caption in zip(
                pdf["image_id"], pdf["bytes"], pdf["caption"]
            ):
                px = C.decode_image(bytes(data))
                # integer milli-luma, matching operators.multimodal.image_features
                # (see codecs._DCT32_Q: float luma is context-sensitive at edges)
                lm = px.astype(np.int64) @ np.array([299, 587, 114], np.int64)
                ih, _ = np.histogram(lm, bins=16, range=(0, 256000))
                iv = ih.astype(np.float32)
                iv /= iv.sum() or 1.0
                toks = [t for t in (caption or "").lower().split() if t]
                th = np.zeros(16, dtype=np.float64)
                for t in toks:
                    th[zlib.crc32(t.encode("utf-8")) % 16] += 1
                tv = (th / max(len(toks), 1)).astype(np.float32)
                if not toks:
                    s = 0.0
                else:
                    denom = float(np.linalg.norm(iv) * np.linalg.norm(tv))
                    s = float(iv.astype(np.float64) @ tv.astype(np.float64)) / denom if denom else 0.0
                rows.append((iid, s))
            yield pd.DataFrame(rows, columns=["image_id", "score_true"])

    truth = images.mapInPandas(rescore, "image_id string, score_true double")
    j = reported.join(truth, "image_id", "full_outer")
    mismatches = j.where(
        F.col("align_score").isNull()
        | F.col("score_true").isNull()
        | (F.abs(F.col("align_score") - F.col("score_true")) > 1e-5)
        | (F.col("aligned") != (F.col("score_true") >= F.lit(_ALIGN_THRESHOLD)))
    ).select(
        F.lit("score_mismatch").alias("violation"),
        F.col("image_id"),
        (F.col("align_score") - F.col("score_true")).alias("delta"),
    )
    agg = reported.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("align_score") >= 0.98, 1).otherwise(0)).alias("hi"),
        F.sum(F.when(~F.col("aligned"), 1).otherwise(0)).alias("lo"),
    )
    vacuity = (
        agg.where((F.col("n") == 0) | (F.col("hi") == 0) | (F.col("lo") == 0))
        .select(
            F.lit("vacuous_gate").alias("violation"),
            F.lit(None).cast("string").alias("image_id"),
            F.lit(None).cast("double").alias("delta"),
        )
    )
    return mismatches.union(vacuity)


SQL_CAPTION_ALIGNMENT_SOUND = """
    SELECT CAST(NULL AS VARCHAR) AS violation,
           CAST(NULL AS VARCHAR) AS image_id,
           CAST(NULL AS DOUBLE) AS delta
    WHERE 1 = 0
"""


def _laion_image_table(spark, sf_dir) -> DataFrame:
    """(image_id, bytes, caption) with EVERY laion_gate drop class planted:
    k%11==0 -> corrupt bytes (decode); variable dims w=8+(k%5)*8,
    h=8+(k%7)*8 (some below min_dim -> size; some beyond 2:1 -> aspect);
    k%37==0 -> empty caption (caption); non-planted captions are unrelated
    to the pixels (alignment); k%5==0 -> planted TRUE pair at gate-passing
    16x16 lossless png (keep). The sound oracle asserts all six outcomes
    actually occur (anti-vacuous)."""
    import pandas as pd

    from . import codecs as C
    from .fixtures import aligned_pixels_for_caption, make_caption, make_pixels

    part = (
        _t(spark, sf_dir, "part")
        .select("p_partkey")
        .limit(1000)
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for k in pdf["p_partkey"]:
                k = int(k)
                caption = make_caption(13, k)
                if k % 11 == 0:
                    data = b"not-an-image-" + str(k).encode()
                elif k % 5 == 0 and caption.strip():
                    data = C.encode_image(
                        aligned_pixels_for_caption(caption, 16, 16), "png"
                    )
                else:
                    w, h = 8 + (k % 5) * 8, 8 + (k % 7) * 8
                    data = C.encode_image(
                        make_pixels(13, k, w, h), ["png", "jpeg", "webp"][k % 3]
                    )
                rows.append((f"lg-{k}", data, caption))
            yield pd.DataFrame(rows, columns=["image_id", "bytes", "caption"])

    return part.mapInPandas(gen, "image_id string, bytes binary, caption string")


def q_laion_gate(spark, sf_dir) -> DataFrame:
    """LAION/DataComp-style image-text curation gate: decode -> resolution
    -> aspect ratio -> caption length -> alignment, first-failure reason
    per pair. Binary payloads, so correctness is pinned by the
    `laion_gate_sound` empty-violations oracle instead of SQL."""
    from .operators.multimodal import laion_gate

    return laion_gate(_laion_image_table(spark, sf_dir), align_threshold=_ALIGN_THRESHOLD)


def q_laion_gate_sound(spark, sf_dir) -> DataFrame:
    """Empty-violations oracle for `laion_gate`. An independent numpy/zlib
    recompute (its own decode call, histogram cosine, plain-Python gate
    cascade) re-derives (w, h, n_tokens, score, drop_reason, keep) per row;
    violations:
      (1) row_mismatch : keep/drop_reason differ, or dims/token counts
          differ, or |align_score - recomputed| > 1e-5
      (2) vacuous_gate : any of the five drop classes OR the keep class
          absent from the reported output — a gate that never fires (or
          never passes) proves nothing."""
    import pandas as pd

    from . import codecs as C
    from .operators.multimodal import laion_gate

    images = _laion_image_table(spark, sf_dir)
    reported = laion_gate(images, align_threshold=_ALIGN_THRESHOLD)

    def regate(batches):
        import zlib

        import numpy as np

        for pdf in batches:
            rows = []
            for iid, data, caption in zip(
                pdf["image_id"], pdf["bytes"], pdf["caption"]
            ):
                toks = [t for t in (caption or "").lower().split() if t]
                try:
                    px = C.decode_image(bytes(data))
                except Exception:
                    # caption is known even when pixels are not decodable —
                    # the reported row carries its token count
                    rows.append((iid, None, None, len(toks), None, "decode", False))
                    continue
                h_, w_ = px.shape[0], px.shape[1]
                lm = px.astype(np.int64) @ np.array([299, 587, 114], np.int64)
                ih, _ = np.histogram(lm, bins=16, range=(0, 256000))
                iv = ih.astype(np.float32)
                iv /= iv.sum() or 1.0
                th = np.zeros(16, dtype=np.float64)
                for t in toks:
                    th[zlib.crc32(t.encode("utf-8")) % 16] += 1
                tv = (th / max(len(toks), 1)).astype(np.float32)
                if not toks:
                    s = 0.0
                else:
                    denom = float(np.linalg.norm(iv) * np.linalg.norm(tv))
                    s = (
                        float(iv.astype(np.float64) @ tv.astype(np.float64)) / denom
                        if denom
                        else 0.0
                    )
                if min(w_, h_) < 16:
                    reason = "size"
                elif max(w_, h_) > 2.0 * min(w_, h_):
                    reason = "aspect"
                elif len(toks) < 3:
                    reason = "caption"
                elif s < _ALIGN_THRESHOLD:
                    reason = "alignment"
                else:
                    reason = None
                rows.append((iid, w_, h_, len(toks), s, reason, reason is None))
            yield pd.DataFrame(
                rows,
                columns=["image_id", "tw", "th_", "tn", "tscore", "treason", "tkeep"],
            )

    truth = images.mapInPandas(
        regate,
        "image_id string, tw int, th_ int, tn long, tscore double, "
        "treason string, tkeep boolean",
    )
    j = reported.join(truth, "image_id", "full_outer")
    mismatches = j.where(
        ~F.col("keep").eqNullSafe(F.col("tkeep"))
        | ~F.col("drop_reason").eqNullSafe(F.col("treason"))
        | ~F.col("w").eqNullSafe(F.col("tw"))
        | ~F.col("h").eqNullSafe(F.col("th_"))
        | ~F.col("caption_n_tokens").eqNullSafe(F.col("tn"))
        | (
            F.col("align_score").isNotNull()
            & F.col("tscore").isNotNull()
            & (F.abs(F.col("align_score") - F.col("tscore")) > 1e-5)
        )
    ).select(
        F.lit("row_mismatch").alias("violation"),
        F.col("image_id"),
        F.concat_ws(
            "|",
            F.coalesce(F.col("drop_reason"), F.lit("keep")),
            F.coalesce(F.col("treason"), F.lit("keep")),
        ).alias("detail"),
    )
    counts = reported.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.when(F.col("drop_reason") == r, 1).otherwise(0)).alias(r)
            for r in ("decode", "size", "aspect", "caption", "alignment")
        ],
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("kept"),
    )
    vacuity = counts.where(
        (F.col("n") == 0)
        | (F.col("decode") == 0)
        | (F.col("size") == 0)
        | (F.col("aspect") == 0)
        | (F.col("caption") == 0)
        | (F.col("alignment") == 0)
        | (F.col("kept") == 0)
    ).select(
        F.lit("vacuous_gate").alias("violation"),
        F.lit(None).cast("string").alias("image_id"),
        F.lit(None).cast("string").alias("detail"),
    )
    return mismatches.union(vacuity)


SQL_LAION_GATE_SOUND = """
    SELECT CAST(NULL AS VARCHAR) AS violation,
           CAST(NULL AS VARCHAR) AS image_id,
           CAST(NULL AS VARCHAR) AS detail
    WHERE 1 = 0
"""


def q_multimodal_frames(spark, sf_dir) -> DataFrame:
    """Video frame-sampling plumbing over fake media containers."""
    import pandas as pd

    from .operators.multimodal import fake_media_payload, sample_video_frames

    part = _t(spark, sf_dir, "part").select("p_partkey").limit(200)

    def gen(batches):
        for pdf in batches:
            rows = [
                (
                    f"v-{int(k)}",
                    fake_media_payload("video", 2.0 + int(k) % 5, 10, int(k)),
                )
                for k in pdf["p_partkey"]
            ]
            yield pd.DataFrame(rows, columns=["media_id", "bytes"])

    media = part.mapInPandas(gen, "media_id string, bytes binary")
    return sample_video_frames(media, target_fps=2.0)


def q_frames_sound(spark, sf_dir) -> DataFrame:
    """Soundness oracle for the frame-sampling plumbing: every frame the
    rows-only `multimodal_frames` entry emits must obey the container
    arithmetic it was synthesized from — media v-K is a 10 fps video of
    (2 + K%5) seconds, sampled at target_fps=2 => stride 5, ts = idx/rate —
    and every media id must emit EXACTLY duration*target_fps frames (no
    dropped or duplicated samples). Violations must be empty. The exact
    row set can't be SQL-compared (the media ids come from an unordered
    limit), so like the other *_sound entries this re-verifies invariants
    of the reported rows instead (multimodal.py:180-196)."""
    frames = q_multimodal_frames(spark, sf_dir)
    k = F.split(F.col("media_id"), "-").getItem(1).cast("long")
    dur_frames = (F.lit(2) + k % 5) * 10  # duration_s * rate
    bad_rows = (
        frames.where(
            (F.col("frame_index") % 5 != 0)
            | (F.col("frame_index") >= dur_frames)
            | (F.col("frame_index") < 0)
            | (F.abs(F.col("ts_s") - F.col("frame_index") / 10.0) > 1e-9)
        )
        .select("media_id", F.lit("bad_frame").alias("reason"))
    )
    bad_counts = (
        frames.groupBy("media_id")
        .agg(F.count("*").alias("n"), F.count_distinct("frame_index").alias("nd"))
        .where((F.col("n") != (F.lit(2) + k % 5) * 2) | (F.col("n") != F.col("nd")))
        .select("media_id", F.lit("bad_count").alias("reason"))
    )
    return bad_rows.unionByName(bad_counts)


SQL_FRAMES_SOUND = """
    SELECT CAST(NULL AS VARCHAR) AS media_id, CAST(NULL AS VARCHAR) AS reason
    WHERE 1 = 0
"""


def _mixed_media_table(spark, sf_dir) -> DataFrame:
    """(media_id, bytes) fake containers: a-K audio (2 + K%4 s at 100 Hz)
    interleaved with v-K videos that the audio path must SKIP."""
    import pandas as pd

    from .operators.multimodal import fake_media_payload

    part = _t(spark, sf_dir, "part").select("p_partkey").limit(200)

    def gen(batches):
        for pdf in batches:
            rows = []
            for k in pdf["p_partkey"]:
                k = int(k)
                if k % 3 == 0:
                    rows.append((f"v-{k}", fake_media_payload("video", 2.0, 10, k)))
                else:
                    rows.append(
                        (f"a-{k}", fake_media_payload("audio", 2.0 + k % 4, 100, k))
                    )
            yield pd.DataFrame(rows, columns=["media_id", "bytes"])

    return part.mapInPandas(gen, "media_id string, bytes binary")


def q_audio_segments(spark, sf_dir) -> DataFrame:
    """Audio fixed-window/hop segmentation plumbing (1 s windows, 0.5 s
    hop) over fake containers; videos in the same table are skipped."""
    from .operators.multimodal import segment_audio

    return segment_audio(_mixed_media_table(spark, sf_dir), window_s=1.0, hop_s=0.5)


def q_audio_sound(spark, sf_dir) -> DataFrame:
    """Soundness oracle for `audio_segments`: media a-K is (2 + K%4) s at
    100 Hz, so with window 1 s / hop 0.5 s every segment must sit on the
    half-second grid inside the duration with exactly 100 samples, each
    media must emit EXACTLY 2*duration - 1 consecutive segments, and no
    video id may leak through. Violations must be empty; vacuity guarded
    by the expected-count check itself (a missing media is a violation)."""
    segs = q_audio_segments(spark, sf_dir)
    k = F.split(F.col("media_id"), "-").getItem(1).cast("long")
    dur = (F.lit(2) + k % 4).cast("double")
    bad_rows = segs.where(
        ~F.col("media_id").startswith("a-")
        | (F.col("seg_index") < 0)
        | (F.abs(F.col("start_s") - F.col("seg_index") * 0.5) > 1e-9)
        | (F.abs(F.col("end_s") - (F.col("start_s") + 1.0)) > 1e-9)
        | (F.col("end_s") > dur + 1e-9)
        | (F.col("n_samples") != 100)
    ).select("media_id", F.lit("bad_segment").alias("reason"))
    expected = _mixed_media_table(spark, sf_dir).select(
        F.col("media_id")
    ).where(F.col("media_id").startswith("a-"))
    counts = segs.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct("seg_index").alias("nd")
    )
    joined = expected.join(counts, "media_id", "left")
    k2 = F.split(F.col("media_id"), "-").getItem(1).cast("long")
    want = (F.lit(2) + k2 % 4) * 2 - 1
    bad_counts = joined.where(
        F.col("n").isNull() | (F.col("n") != want) | (F.col("n") != F.col("nd"))
    ).select("media_id", F.lit("bad_count").alias("reason"))
    return bad_rows.unionByName(bad_counts)


SQL_AUDIO_SOUND = """
    SELECT CAST(NULL AS VARCHAR) AS media_id, CAST(NULL AS VARCHAR) AS reason
    WHERE 1 = 0
"""


def _near_dup_images(spark, sf_dir, n_base: int = 300) -> DataFrame:
    """Deterministic image table with planted perceptual twins: one base
    image per part key; every 4th key also gets a noise-perturbed copy
    (sigma=2 -> phash hamming 0-6 on this distribution; a few unrelated
    sinusoid bases also land close — legitimate near-dups, reported
    deterministically). Synthesized on executors via mapInPandas — no
    driver materialization."""
    import numpy as np
    import pandas as pd

    from . import codecs as C
    from .fixtures import make_pixels

    part = (
        _t(spark, sf_dir, "part")
        .select("p_partkey")
        .limit(n_base)
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for k in pdf["p_partkey"]:
                k = int(k)
                px = make_pixels(11, k, 24, 24)
                rows.append({"image_id": f"p-{k}", "bytes": C.encode_image(px, "png")})
                if k % 4 == 0:
                    rng = np.random.default_rng(k)
                    twin = np.clip(
                        px.astype(np.float64) + rng.normal(0, 2, px.shape), 0, 255
                    ).astype(np.uint8)
                    rows.append(
                        {"image_id": f"p-{k}-t", "bytes": C.encode_image(twin, "png")}
                    )
            yield pd.DataFrame(rows, columns=["image_id", "bytes"])

    return part.mapInPandas(gen, "image_id string, bytes binary")


def q_image_near_dup(spark, sf_dir) -> DataFrame:
    """Perceptual near-duplicate image detection (the image-axis analogue
    of simhash_pairs): decode -> phash -> pigeonhole-blocked Hamming join.
    Rows-only (binary payloads are not SQL-expressible); exactness of the
    blocking is pinned by the image_phash_sound oracle below, and planted-
    twin recall by tests/test_multimodal.py."""
    from .operators.multimodal import image_near_duplicates

    return image_near_duplicates(_near_dup_images(spark, sf_dir), max_hamming=6, blocks=8)


def q_image_phash_sound(spark, sf_dir) -> DataFrame:
    """The pigeonhole-blocked image-phash join must EQUAL brute-force
    all-pairs Hamming <= 6 over the same fingerprints (8 blocks, <= 6
    flips: any near-pair shares a chunk, so blocking loses nothing and
    adds nothing). Violations = symmetric difference; must be empty."""
    from .operators.dedup import hamming_near_pairs
    from .operators.multimodal import decode_stats

    ph = (
        decode_stats(_near_dup_images(spark, sf_dir))
        .filter(F.col("decode_ok"))
        .select("image_id", "phash")
    )
    blocked = hamming_near_pairs(ph, "image_id", "phash", max_hamming=6, blocks=8)
    a = ph.select(F.col("image_id").alias("id_a"), F.col("phash").alias("ph_a"))
    b = ph.select(F.col("image_id").alias("id_b"), F.col("phash").alias("ph_b"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))))
        .filter(F.col("hamming") <= 6)
        .select("id_a", "id_b", F.col("hamming").alias("h_brute"))
    )
    diff = blocked.join(brute, ["id_a", "id_b"], "full").filter(
        F.col("hamming").isNull()
        | F.col("h_brute").isNull()
        | (F.col("hamming") != F.col("h_brute"))
    )
    return diff.select(
        F.col("id_a").cast("string").alias("id_a"),
        F.col("id_b").cast("string").alias("id_b"),
    )


SQL_IMAGE_PHASH_SOUND = """
    SELECT CAST(NULL AS VARCHAR) AS id_a, CAST(NULL AS VARCHAR) AS id_b
    WHERE 1 = 0
"""


def _image_curation(spark, sf_dir):
    """Shared plan for the image-axis curation pipeline: decode gate ->
    perceptual near-dup keeper selection -> deterministic split. The image
    analogue of corpus_curation: keeper = min image_id of the transitive
    phash-Hamming cluster (hamming <= 6, pigeonhole-blocked join); splits
    90/5/5 sum to 1.0 so every keeper is assigned."""
    from .operators.multimodal import curate_images

    return curate_images(_near_dup_images(spark, sf_dir), max_hamming=6, blocks=8)


def q_image_curation(spark, sf_dir) -> DataFrame:
    """End-to-end image curation (decode -> phash dedup keeper -> split).
    Rows-only (binary decode + engine-specific phash upstream); the
    composition's invariants are pinned by image_curation_sound below."""
    _, _, out = _image_curation(spark, sf_dir)
    return out.select("image_id", "split")


def q_image_curation_sound(spark, sf_dir) -> DataFrame:
    """Empty-violations oracle for image_curation. Three invariants:
    (1) no two SURVIVING images are within hamming <= 6 under brute-force
        all-pairs (a surviving near-pair would mean the components merged
        wrong or the keeper drop missed a member);
    (2) conservation: every decode-gated image is exactly a survivor or a
        dropped duplicate — nobody vanishes;
    (3) every survivor got a split (the rate-1.0 sentinel covers the tail);
    (4) anti-vacuity: an EMPTY decode-gated input is itself a violation —
        a bad gate must not let the other three checks pass by emptiness
        (exactly the failure mode a hardcoded-geometry gate hit in dev).
    The brute-force check is the truth plan — quadratic, test-scale only,
    like every other *_sound truth plan here."""
    gated, losers, out = _image_curation(spark, sf_dir)
    survivors = out.select("image_id", "split")
    a = survivors.select(F.col("image_id").alias("id_a"))
    b = survivors.select(F.col("image_id").alias("id_b"))
    ph = gated.select(F.col("image_id").alias("pid"), "phash")
    near_survivors = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .join(ph.select(F.col("pid").alias("id_a"), F.col("phash").alias("ph_a")), "id_a")
        .join(ph.select(F.col("pid").alias("id_b"), F.col("phash").alias("ph_b")), "id_b")
        .filter(F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))) <= 6)
        .select(F.lit("surviving_near_pair").alias("violation"), "id_a", "id_b")
    )
    accounted = survivors.select("image_id").union(losers.select("image_id"))
    vanished = (
        gated.select("image_id")
        .join(accounted, "image_id", "left_anti")
        .select(
            F.lit("vanished").alias("violation"),
            F.col("image_id").alias("id_a"),
            F.lit(None).cast("string").alias("id_b"),
        )
    )
    unsplit = survivors.where(F.col("split").isNull()).select(
        F.lit("unassigned_split").alias("violation"),
        F.col("image_id").alias("id_a"),
        F.lit(None).cast("string").alias("id_b"),
    )
    empty_input = (
        gated.groupBy()
        .count()
        .where(F.col("count") == 0)
        .select(
            F.lit("empty_pipeline").alias("violation"),
            F.lit(None).cast("string").alias("id_a"),
            F.lit(None).cast("string").alias("id_b"),
        )
    )
    return near_survivors.union(vanished).union(unsplit).union(empty_input)


SQL_IMAGE_CURATION_SOUND = """
    SELECT CAST(NULL AS VARCHAR) AS violation,
           CAST(NULL AS VARCHAR) AS id_a,
           CAST(NULL AS VARCHAR) AS id_b
    WHERE 1 = 0
"""


def q_crawl_bsp(spark, sf_dir) -> DataFrame:
    """The real BSP crawl runner over the deterministic fixture web —
    rows-only here; exact equivalence vs the sequential reference simulator
    is asserted in tests/test_frontier.py."""
    import tempfile

    from .fixtures import make_all
    from .plans.crawl_plan import CrawlRunner

    fx = make_all(seed=42, n_hosts=6, n_pages=80)
    wd = tempfile.mkdtemp(prefix="crawl_q_")
    runner = CrawlRunner(
        spark,
        wd,
        pages=spark.createDataFrame(fx["pages"]),
        redirects=spark.createDataFrame(fx["redirects"]),
        images=spark.createDataFrame(fx["images"]),
        robots_pdf=fx["robots"],
        sitemaps_pdf=fx["sitemaps"],
        budgets=spark.createDataFrame(fx["politeness_budget"]),
        rendered=(
            spark.createDataFrame(fx["rendered"]) if len(fx["rendered"]) else None
        ),
    )
    runner.admit_requests(fx["seeds"].head(2))
    runner.run(max_rounds=30)
    return runner.t_visits.read().select("request_id", "seq", "url", "depth", "outcome")


# --------------------------------------------------------------------------
# Soundness oracles for the hash-based pipelines (VERDICT r2 item #7):
# DuckDB cannot reproduce xxhash64/SRP buckets, but it can pin the
# *invariants* their outputs must satisfy. Each entry emits the VIOLATIONS
# relation — reported results failing the exact predicate, recomputed
# through an independent Spark plan — and the oracle is the same relation's
# SQL form: provably empty. A green row = the invariant held; any unsound
# pair/result becomes a row-count + hash mismatch. (Same pattern as
# dedup_exact, whose green row is also 0 = 0.)
# --------------------------------------------------------------------------
def q_minhash_sound(spark, sf_dir) -> DataFrame:
    """Every MinHash-LSH reported pair must carry the TRUE n-gram Jaccard:
    anti-check against the exact blocked self-join pipeline (jaccard_pairs
    with pruning off), which shares no candidate-generation code with LSH."""
    d = _t(spark, sf_dir, "documents")
    lsh = D.near_duplicates_minhash(d, n=5, threshold=0.2, bands=8, rows_per_band=4)
    exact = D.jaccard_pairs(d, n=5, threshold=0.2, max_doc_freq=None).select(
        "id_a", "id_b", F.col("jaccard").alias("j_exact")
    )
    return (
        lsh.join(exact, ["id_a", "id_b"], "left")
        .filter(
            F.col("j_exact").isNull()
            | (F.abs(F.col("jaccard") - F.col("j_exact")) > 1e-9)
        )
        .select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
        )
    )


SQL_MINHASH_SOUND = """
    SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b WHERE 1 = 0
"""


def q_simhash_sound(spark, sf_dir) -> DataFrame:
    """The pigeonhole-blocked SimHash join must EQUAL brute-force all-pairs
    Hamming <= 3 over the same fingerprints (4 chunks, <=3 flips: any
    near-pair shares a chunk, so blocking loses nothing and adds nothing).
    Violations = symmetric difference; must be empty."""
    d = _t(spark, sf_dir, "documents")
    blocked = D.simhash_near_duplicates(d, max_hamming=3, blocks=4)
    sh = D.simhash64(d)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", F.col("hamming").alias("h_brute"))
    )
    diff = blocked.join(brute, ["id_a", "id_b"], "full").filter(
        F.col("hamming").isNull()
        | F.col("h_brute").isNull()
        | (F.col("hamming") != F.col("h_brute"))
    )
    return diff.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
    )


SQL_SIMHASH_SOUND = """
    SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b WHERE 1 = 0
"""


def q_lsh_ann_sound(spark, sf_dir) -> DataFrame:
    """LSH-ANN results are never fabricated: every reported (query, vec,
    cos, rank) must (a) carry the TRUE cosine of that pair — recomputed
    against vectors re-read from the table — (b) reference an existing
    vec_id, and (c) have ranks consistent with descending cosine. (Recall
    is a tuned property tested in test_simsearch; a reported neighbor may
    legitimately sit outside the global top-k when its bucket is sparse,
    so subset-of-top-N is NOT the invariant.) Violations must be empty."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = [
        (int(r.vec_id), list(map(float, r.embedding)))
        for r in emb.filter(F.col("vec_id").isin(0, 1, 2)).collect()
    ]
    dim = len(qs[0][1])
    idx = SS.lsh_index(emb, dim=dim, n_bits=6, n_tables=4)
    ann = SS.lsh_topk(idx, qs, dim=dim, k=10, n_bits=6, n_tables=4)
    from .operators.search import cosine

    qdf = spark.createDataFrame(
        [(qid, vec) for qid, vec in qs], "query_id long, qv array<double>"
    )
    truth = (
        emb.select(F.col("vec_id").alias("v2"), F.col("embedding").alias("ev"))
        .crossJoin(F.broadcast(qdf))
        .select("query_id", "v2", cosine(F.col("ev"), F.col("qv")).alias("cos_true"))
    )
    rank_by_cos = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.desc("cos"), F.col("vec_id"))
    )
    return (
        ann.withColumn("rank_by_cos", rank_by_cos)
        .join(
            truth,
            (ann["query_id"] == truth["query_id"]) & (ann["vec_id"] == F.col("v2")),
            "left",
        )
        .drop(truth["query_id"])
        .filter(
            F.col("cos_true").isNull()
            | (F.abs(F.col("cos") - F.col("cos_true")) > 1e-6)
            | (F.col("rank") != F.col("rank_by_cos"))
        )
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col("vec_id").cast("long").alias("vec_id"),
        )
    )


SQL_LSH_ANN_SOUND = """
    SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS vec_id
    WHERE 1 = 0
"""


def q_ivf_sound(spark, sf_dir) -> DataFrame:
    """IVF-ANN results are never fabricated (mirror of q_lsh_ann_sound for
    the coarse-quantized path): every reported (query, vec, cos, rank) must
    (a) carry the TRUE cosine of that pair — recomputed against vectors
    re-read from the table — (b) reference an existing vec_id, and (c) have
    ranks consistent with descending cosine within the probed candidate
    set. (Recall is a tuned property tested in test_simsearch; a probed
    list may legitimately miss a global top-k neighbor.) Violations must be
    empty."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = [
        (int(r.vec_id), list(map(float, r.embedding)))
        for r in emb.filter(F.col("vec_id").isin(0, 1, 2)).collect()
    ]
    assigned, cents = SS.ivf_index(emb, n_lists=16)
    ann = SS.ivf_topk(assigned, cents, qs, k=10, n_probe=4)
    from .operators.search import cosine

    qdf = spark.createDataFrame(
        [(qid, vec) for qid, vec in qs], "query_id long, qv array<double>"
    )
    truth = (
        emb.select(F.col("vec_id").alias("v2"), F.col("embedding").alias("ev"))
        .crossJoin(F.broadcast(qdf))
        .select("query_id", "v2", cosine(F.col("ev"), F.col("qv")).alias("cos_true"))
    )
    rank_by_cos = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.desc("cos"), F.col("vec_id"))
    )
    return (
        ann.withColumn("rank_by_cos", rank_by_cos)
        .join(
            truth,
            (ann["query_id"] == truth["query_id"]) & (ann["vec_id"] == F.col("v2")),
            "left",
        )
        .drop(truth["query_id"])
        .filter(
            F.col("cos_true").isNull()
            | (F.abs(F.col("cos") - F.col("cos_true")) > 1e-6)
            | (F.col("rank") != F.col("rank_by_cos"))
        )
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col("vec_id").cast("long").alias("vec_id"),
        )
    )


SQL_IVF_SOUND = """
    SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS vec_id
    WHERE 1 = 0
"""


def q_embedding_sound(spark, sf_dir) -> DataFrame:
    """embedding_near_duplicates reports only REAL near-dup pairs: every
    (id_a, id_b, cos) must (a) carry the TRUE cosine — recomputed from
    vectors re-read from the table by an independent plan — (b) reference
    existing ids with id_a < id_b, (c) clear the threshold, and (d) appear
    at most once. (Recall of the LSH-blocked variant is a tuned property
    tested in test_dedup; soundness is the invariant.) Violations must be
    empty."""
    emb = _t(spark, sf_dir, "embeddings")
    rep = D.embedding_near_duplicates(emb, threshold=0.3, block_col="label")
    from .operators.search import cosine

    va = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va"))
    vb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb"))
    dup = (
        rep.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__n"), F.max("cos").alias("cos"))
    )
    return (
        dup.join(va, "id_a", "left")
        .join(vb, "id_b", "left")
        .withColumn("cos_true", cosine(F.col("__va"), F.col("__vb")))
        .filter(
            F.col("__va").isNull()
            | F.col("__vb").isNull()
            | (F.col("__n") > 1)
            | (F.col("id_a") >= F.col("id_b"))
            | (F.abs(F.col("cos") - F.col("cos_true")) > 1e-6)
            | (F.col("cos_true") < 0.3)
        )
        .select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
        )
    )


SQL_EMBEDDING_SOUND = """
    SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b
    WHERE 1 = 0
"""


# --------------------------------------------------------------------------
# Q3-Q7 full crawl-gate semantics, DuckDB-oracled (VERDICT r2 item #1):
# a deterministic multi-gate web (robots disallows, 403 origin blocking,
# 500 failures, redirects with trap finals, trap/file links, max_pages
# budget, max_depth) synthesized from orders+lineitem, crawled by the REAL
# CrawlRunner; the oracle replays the reference's sequential gate loop
# (crawl_loop.rs:106-256) as a recursive CTE carrying (queue, visited,
# blocked, crawled, next_seq) list-state — one pop per recursion step.
# Politeness tokens need not be modeled: rounds are strict seq-prefixes, so
# budgets are pure pacing (property: test_politeness_budget_does_not_change
# _results), and the visit log is budget-independent.
# --------------------------------------------------------------------------
_CG_MAX_PAGES, _CG_MAX_DEPTH = 40, 4

_CG_WEB_SQL = """
    nodes AS (SELECT DISTINCT o_orderkey % 120 AS i FROM orders),
    urls AS (
      SELECT i,
             'https://h' || CAST(i % 5 AS VARCHAR) || '.example.com' AS origin,
             CASE WHEN i % 17 = 3 THEN '/login/' || CAST(i AS VARCHAR)
                  WHEN i % 17 = 5 THEN '/files/' || CAST(i AS VARCHAR) || '.pdf'
                  WHEN i % 11 = 4 THEN '/private/' || CAST(i AS VARCHAR)
                  ELSE '/page/' || CAST(i AS VARCHAR) END AS path
      FROM nodes),
    node_pages AS (
      SELECT i, origin, path, origin || path AS url,
             CASE WHEN i % 13 = 7 THEN 403 WHEN i % 13 = 9 THEN 500
                  WHEN i % 13 = 11 THEN 301 ELSE 200 END AS status,
             CASE WHEN i % 13 = 11 THEN
               origin || (CASE WHEN i % 2 = 0 THEN '/login/rt' ELSE '/rt' END)
                      || CAST(i AS VARCHAR)
             END AS rt_url
      FROM urls),
    edges AS (
      SELECT DISTINCT l_orderkey % 120 AS si, l_partkey % 120 AS di
      FROM lineitem WHERE l_orderkey % 120 <> l_partkey % 120),
    -- enqueue-eligible outlinks only: trap/file targets never enter the
    -- queue (the Spark side emits them and admit_links drops them, F4/F5)
    links AS (
      SELECT p.url AS src_url, list(d.url ORDER BY e.di) AS outs
      FROM edges e
      JOIN node_pages p ON p.i = e.si
      JOIN node_pages d ON d.i = e.di
      WHERE d.path NOT LIKE '/login/%' AND d.path NOT LIKE '/files/%'
      GROUP BY p.url),
    seed AS (
      SELECT min_by(url, i) AS url FROM node_pages
      WHERE status = 200 AND path LIKE '/page/%')
"""


def q_crawl_gates(spark, sf_dir) -> DataFrame:
    import tempfile

    import pandas as pd

    from .fixtures import make_images
    from .plans.crawl_plan import CrawlRunner

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    i = F.col("i")
    origin = F.concat(F.lit("https://h"), (i % 5).cast("string"), F.lit(".example.com"))
    path = (
        F.when(i % 17 == 3, F.concat(F.lit("/login/"), i.cast("string")))
        .when(i % 17 == 5, F.concat(F.lit("/files/"), i.cast("string"), F.lit(".pdf")))
        .when(i % 11 == 4, F.concat(F.lit("/private/"), i.cast("string")))
        .otherwise(F.concat(F.lit("/page/"), i.cast("string")))
    )
    node_pages = (
        o.select((F.col("o_orderkey") % 120).alias("i"))
        .distinct()
        .select(
            "i",
            origin.alias("origin"),
            path.alias("path"),
            F.concat(origin, path).alias("url"),
            F.when(i % 13 == 7, 403)
            .when(i % 13 == 9, 500)
            .when(i % 13 == 11, 301)
            .otherwise(200)
            .alias("status"),
            F.when(
                i % 13 == 11,
                F.concat(
                    origin,
                    F.when(i % 2 == 0, F.lit("/login/rt")).otherwise(F.lit("/rt")),
                    i.cast("string"),
                ),
            ).alias("rt_url"),
        )
        .cache()
    )
    edges = (
        li.select(
            (F.col("l_orderkey") % 120).alias("si"), (F.col("l_partkey") % 120).alias("di")
        )
        .filter(F.col("si") != F.col("di"))
        .distinct()
    )
    # outlinks INCLUDE trap/file targets — admit_links must drop them (F4/F5)
    outs = (
        edges.join(node_pages.select(F.col("i").alias("si"), F.col("url").alias("src_url")), "si")
        .join(node_pages.select(F.col("i").alias("di"), F.col("url").alias("dst_url")), "di")
        .groupBy("src_url")
        .agg(F.array_sort(F.collect_list(F.struct("di", "dst_url"))).alias("s"))
        .select("src_url", F.expr("transform(s, x -> x.dst_url)").alias("outlinks"))
    )
    empty_links = F.array().cast("array<string>")
    page_cols = lambda url_col, status_col, links_col: [  # noqa: E731
        url_col.alias("url"),
        status_col.cast("int").alias("status"),
        F.lit("text/html").alias("content_type"),
        F.lit(0).alias("flaky_fail_times"),
        F.lit(1000).cast("long").alias("body_len"),
        F.lit("img-00000000").alias("image_id"),
        links_col.alias("outlinks"),
    ]
    pages = (
        node_pages.join(outs, node_pages["url"] == outs["src_url"], "left")
        .select(*page_cols(node_pages["url"], F.col("status"),
                           F.coalesce("outlinks", empty_links)))
        .unionByName(
            node_pages.filter(F.col("rt_url").isNotNull()).select(
                *page_cols(F.col("rt_url"), F.lit(200), empty_links)
            )
        )
    )
    redirects = node_pages.filter(F.col("rt_url").isNotNull()).select(
        F.col("url").alias("src_url"), F.col("rt_url").alias("dst_url")
    )
    seed_url = (
        node_pages.filter((F.col("status") == 200) & F.col("path").startswith("/page/"))
        .orderBy("i")
        .limit(1)
        .collect()[0]
        .url
    )
    robots_pdf = pd.DataFrame(
        [
            {"origin": f"https://h{j}.example.com", "status": 200,
             "body": "User-agent: *\nDisallow: /private\n"}
            for j in range(5)
        ]
    )
    runner = CrawlRunner(
        spark,
        tempfile.mkdtemp(prefix="crawl_gates_"),
        pages=pages,
        redirects=redirects,
        images=spark.createDataFrame(make_images(seed=1, n=1)),
        robots_pdf=robots_pdf,
        sitemaps_pdf=pd.DataFrame(columns=["sitemap_url", "kind", "loc", "lastmod"]),
        budgets=spark.createDataFrame([], "host string, tokens_per_round int"),
    )
    try:
        runner.admit_requests(
            pd.DataFrame(
                [{"request_id": 1, "url": seed_url, "max_pages": _CG_MAX_PAGES,
                  "max_depth": _CG_MAX_DEPTH, "same_domain": False}]
            )
        )
        runner.run(max_rounds=60)
        out = runner.t_visits.read().select(
            F.col("seq").cast("long").alias("seq"), "url",
            F.col("depth").cast("int").alias("depth"), "outcome", "final_url",
        )
        out.count()  # materialize before releasing the runner's caches
    finally:
        node_pages.unpersist()
        runner.close()
    return out


SQL_CRAWL_GATES = f"""
WITH RECURSIVE
{_CG_WEB_SQL},
sim(step, queue, visited, blocked, crawled, next_seq, log) AS (
    SELECT 0,
           [{{'url': s.url, 'depth': 0, 'seq': CAST(1 AS BIGINT)}}],
           CAST([] AS VARCHAR[]), CAST([] AS VARCHAR[]),
           0, CAST(1 AS BIGINT),
           CAST([] AS STRUCT(seq BIGINT, url VARCHAR, depth INTEGER,
                             outcome VARCHAR, final_url VARCHAR)[])
    FROM seed s
    UNION ALL
    SELECT step + 1,
           CASE WHEN outcome = 'crawled' THEN qrest || enq ELSE qrest END,
           CASE WHEN gate_skip THEN visited
                WHEN final_url IS NOT NULL
                     AND NOT list_contains(visited || [cur.url], final_url)
                  THEN visited || [cur.url, final_url]
                WHEN list_contains(visited, cur.url) THEN visited
                ELSE list_append(visited, cur.url) END,
           CASE WHEN outcome = 'blocked' THEN list_append(blocked, cur_origin)
                ELSE blocked END,
           crawled + CASE WHEN outcome = 'crawled' THEN 1 ELSE 0 END,
           next_seq + CASE WHEN outcome = 'crawled' THEN len(enq) ELSE 0 END,
           CASE WHEN outcome IN ('robots','blocked','failed','final_trap','crawled')
                THEN list_append(log, {{'seq': cur.seq, 'url': cur.url,
                     'depth': cur.depth, 'outcome': outcome,
                     'final_url': final_url}})
                ELSE log END
    FROM (
      SELECT s.*, l.outs,
             s.queue[1] AS cur,
             s.queue[2:] AS qrest,
             p.origin AS cur_origin,
             -- gate order: budget, depth, dup/blocked (crawl_loop.rs:143-156)
             (s.crawled >= {_CG_MAX_PAGES} OR s.queue[1].depth > {_CG_MAX_DEPTH}
              OR list_contains(s.visited, s.queue[1].url)
              OR list_contains(s.blocked, p.origin)) AS gate_skip,
             CASE
               WHEN s.crawled >= {_CG_MAX_PAGES} OR s.queue[1].depth > {_CG_MAX_DEPTH}
                 OR list_contains(s.visited, s.queue[1].url)
                 OR list_contains(s.blocked, p.origin) THEN 'skip'
               WHEN p.path LIKE '/private%' THEN 'robots'
               WHEN p.status = 403 THEN 'blocked'
               WHEN p.status = 500 THEN 'failed'
               WHEN p.status = 301 AND p.rt_url LIKE '%/login/%' THEN 'final_trap'
               ELSE 'crawled'
             END AS outcome,
             CASE
               WHEN s.crawled >= {_CG_MAX_PAGES} OR s.queue[1].depth > {_CG_MAX_DEPTH}
                 OR list_contains(s.visited, s.queue[1].url)
                 OR list_contains(s.blocked, p.origin) THEN NULL
               WHEN p.path LIKE '/private%' OR p.status IN (403, 500) THEN NULL
               WHEN p.status = 301 THEN p.rt_url
               ELSE p.url END AS final_url,
             -- links of the FINAL page (redirect targets have none)
             CASE WHEN p.status = 301 THEN CAST([] AS VARCHAR[])
                  ELSE coalesce(l.outs, CAST([] AS VARCHAR[])) END AS outs0
      FROM sim s
      JOIN node_pages p ON p.url = s.queue[1].url
      LEFT JOIN links l ON l.src_url = s.queue[1].url
      WHERE len(s.queue) > 0
    ) g,
    LATERAL (
      SELECT CASE WHEN g.outcome = 'crawled' THEN
               list_transform(
                 range(1, 1 + len(list_filter(g.outs0, u ->
                     NOT list_contains(g.visited || [g.cur.url], u)
                     AND NOT list_contains(list_transform(g.qrest, q -> q.url), u)))),
                 j -> {{'url': list_filter(g.outs0, u ->
                         NOT list_contains(g.visited || [g.cur.url], u)
                         AND NOT list_contains(list_transform(g.qrest, q -> q.url), u))[j],
                       'depth': g.cur.depth + 1,
                       'seq': g.next_seq + j}})
             ELSE CAST([] AS STRUCT(url VARCHAR, depth INTEGER, seq BIGINT)[])
             END AS enq
    ) e
)
SELECT lg['seq'] AS seq, lg['url'] AS url, CAST(lg['depth'] AS INTEGER) AS depth,
       lg['outcome'] AS outcome, lg['final_url'] AS final_url
FROM (SELECT unnest(log) AS lg
      FROM (SELECT log FROM sim ORDER BY step DESC LIMIT 1))
"""


QUERIES = {
    "url_canonicalize": q_url_canonicalize,
    "url_filters": q_url_filters,
    "bfs_frontier": q_bfs_frontier,
    "seen_antijoin": q_seen_antijoin,
    "interleave": q_interleave,
    "topk_per_group": q_topk_per_group,
    "page_version": q_page_version,
    "dedup_exact": q_dedup_exact,
    "metrics_rollup": q_metrics_rollup,
    "events_windowed": q_events_windowed,
    "events_sessionize": q_events_sessionize,
    "token_counts": q_token_counts,
    "quality_score": q_quality_score,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
    "repetition_stats": q_repetition_stats,
    "pii_scrub": q_pii_scrub,
    "mixture_rebalance": q_mixture_rebalance,
    "pack_sequences": q_pack_sequences,
    "perplexity_bucket": q_perplexity_bucket,
    "winnow_fingerprints": q_winnow_fingerprints,
    "perplexity_bigram": q_perplexity_bigram,
    "bpe_merges": q_bpe_merges,
    "decontaminated_corpus": q_decontaminated_corpus,
    "audio_segments": q_audio_segments,
    "events_asof": q_events_asof,
    "events_range_join": q_events_range_join,
    "events_rollup": q_events_rollup,
    "events_cube": q_events_cube,
    "events_grouping_sets": q_events_grouping_sets,
    "salted_agg": q_salted_agg,
    "events_pivot": q_events_pivot,
    "winsorize": q_winsorize,
    "tfidf_top_terms": q_tfidf_top_terms,
    "curriculum_phases": q_curriculum_phases,
    "audio_sound": q_audio_sound,
    "bpe_sound": q_bpe_sound,
    "duplicate_spans": q_duplicate_spans,
    "url_quality": q_url_quality,
    "scrub_spans": q_scrub_spans,
    "semdedup": q_semdedup,
    "laion_gate": q_laion_gate,
    "laion_gate_sound": q_laion_gate_sound,
    "bm25_topk": q_bm25_topk,
    "ann_cosine_topk": q_ann_cosine_topk,
    "rrf_fusion": q_rrf_fusion,
    "rank_boosts": q_rank_boosts,
    "dedup_diversify_paginate": q_dedup_diversify_paginate,
    "jaccard_pairs": q_jaccard_pairs,
    "hard_negatives": q_hard_negatives,
    "approx_distinct_sound": q_approx_distinct_sound,
    "aspect_buckets": q_aspect_buckets,
    "approx_quantile_sound": q_approx_quantile_sound,
    "decontaminate": q_decontaminate,
    "dedup_clusters": q_dedup_clusters,
    "pagerank": q_pagerank,
    "hash_sample": q_hash_sample,
    "sample_splits": q_sample_splits,
    "stratified_sample": q_stratified_sample,
    "corpus_curation": q_corpus_curation,
    "crawl_gates": q_crawl_gates,
    "minhash_sound": q_minhash_sound,
    "simhash_sound": q_simhash_sound,
    "lsh_ann_sound": q_lsh_ann_sound,
    "ivf_sound": q_ivf_sound,
    "embedding_sound": q_embedding_sound,
    "image_phash_sound": q_image_phash_sound,
    # rows-only (no SQL-expressible oracle)
    "image_near_dup": q_image_near_dup,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "simhash_pairs": q_simhash_pairs,
    "embedding_near_dup": q_embedding_near_dup,
    "lsh_ann_topk": q_lsh_ann_topk,
    "ivf_topk": q_ivf_topk,
    "image_decode_phash": q_image_decode_phash,
    "multimodal_frames": q_multimodal_frames,
    "frames_sound": q_frames_sound,
    "decode_sound": q_decode_sound,
    "image_ann_topk": q_image_ann_topk,
    "image_ann_sound": q_image_ann_sound,
    "image_curation": q_image_curation,
    "image_curation_sound": q_image_curation_sound,
    "caption_alignment": q_caption_alignment,
    "caption_alignment_sound": q_caption_alignment_sound,
    "crawl_bsp": q_crawl_bsp,
}

ORACLES = {
    "url_canonicalize": SQL_URL_CANONICALIZE,
    "url_filters": SQL_URL_FILTERS,
    "bfs_frontier": SQL_BFS_FRONTIER,
    "seen_antijoin": SQL_SEEN_ANTIJOIN,
    "interleave": SQL_INTERLEAVE,
    "topk_per_group": SQL_TOPK_PER_GROUP,
    "page_version": SQL_PAGE_VERSION,
    "dedup_exact": SQL_DEDUP_EXACT,
    "metrics_rollup": SQL_METRICS_ROLLUP,
    "events_windowed": SQL_EVENTS_WINDOWED,
    "events_sessionize": SQL_EVENTS_SESSIONIZE,
    "token_counts": SQL_TOKEN_COUNTS,
    "quality_score": SQL_QUALITY_SCORE,
    "lang_id": SQL_LANG_ID,
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "repetition_stats": SQL_REPETITION_STATS,
    "pii_scrub": SQL_PII_SCRUB,
    "mixture_rebalance": SQL_MIXTURE_REBALANCE,
    "pack_sequences": SQL_PACK_SEQUENCES,
    "perplexity_bucket": SQL_PERPLEXITY_BUCKET,
    "winnow_fingerprints": SQL_WINNOW_FINGERPRINTS,
    "perplexity_bigram": SQL_PERPLEXITY_BIGRAM,
    "bpe_sound": SQL_BPE_SOUND,
    "decontaminated_corpus": SQL_DECONTAMINATED_CORPUS,
    "audio_sound": SQL_AUDIO_SOUND,
    "events_asof": SQL_EVENTS_ASOF,
    "events_range_join": SQL_EVENTS_RANGE_JOIN,
    "events_rollup": SQL_EVENTS_ROLLUP,
    "events_cube": SQL_EVENTS_CUBE,
    "events_grouping_sets": SQL_EVENTS_GROUPING_SETS,
    "salted_agg": SQL_SALTED_AGG,
    "events_pivot": SQL_EVENTS_PIVOT,
    "winsorize": SQL_WINSORIZE,
    "tfidf_top_terms": SQL_TFIDF_TOP_TERMS,
    "curriculum_phases": SQL_CURRICULUM_PHASES,
    "duplicate_spans": SQL_DUPLICATE_SPANS,
    "url_quality": SQL_URL_QUALITY,
    "scrub_spans": SQL_SCRUB_SPANS,
    "semdedup": SQL_SEMDEDUP,
    "laion_gate_sound": SQL_LAION_GATE_SOUND,
    "bm25_topk": SQL_BM25_TOPK,
    "ann_cosine_topk": SQL_ANN_COSINE_TOPK,
    "rrf_fusion": SQL_RRF_FUSION,
    "rank_boosts": SQL_RANK_BOOSTS,
    "dedup_diversify_paginate": SQL_DEDUP_DIVERSIFY_PAGINATE,
    "jaccard_pairs": SQL_JACCARD_PAIRS,
    "hard_negatives": SQL_HARD_NEGATIVES,
    "approx_distinct_sound": SQL_APPROX_DISTINCT_SOUND,
    "aspect_buckets": SQL_ASPECT_BUCKETS,
    "approx_quantile_sound": SQL_APPROX_QUANTILE_SOUND,
    "decontaminate": SQL_DECONTAMINATE,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "pagerank": SQL_PAGERANK,
    "hash_sample": SQL_HASH_SAMPLE,
    "sample_splits": SQL_SAMPLE_SPLITS,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "corpus_curation": SQL_CORPUS_CURATION,
    "crawl_gates": SQL_CRAWL_GATES,
    "minhash_sound": SQL_MINHASH_SOUND,
    "simhash_sound": SQL_SIMHASH_SOUND,
    "lsh_ann_sound": SQL_LSH_ANN_SOUND,
    "ivf_sound": SQL_IVF_SOUND,
    "embedding_sound": SQL_EMBEDDING_SOUND,
    "image_phash_sound": SQL_IMAGE_PHASH_SOUND,
    "frames_sound": SQL_FRAMES_SOUND,
    "decode_sound": SQL_DECODE_SOUND,
    "image_ann_sound": SQL_IMAGE_ANN_SOUND,
    "image_curation_sound": SQL_IMAGE_CURATION_SOUND,
    "caption_alignment_sound": SQL_CAPTION_ALIGNMENT_SOUND,
}


# --------------------------------------------------------------------------
# R2 plagiarism + the full R1->R9 hybrid-search pipeline (the richest
# DuckDB-oracle surface, SURVEY §3.2)
# --------------------------------------------------------------------------
def q_plagiarism(spark, sf_dir) -> DataFrame:
    """R2 (main.rs:254-297): dense top-5 for query vec 0; matches >= 0.2
    (fixture vectors are near-orthogonal, so the reference's 0.6 default
    would always return empty — threshold scaled to the data)."""
    emb = _t(spark, sf_dir, "embeddings")
    from .operators.search import cosine

    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    scored = emb.filter(F.col("vec_id") != 0).crossJoin(q).select(
        "vec_id", F.round(cosine(F.col("embedding"), F.col("qv")), 4).alias("cos")
    )
    top = S.ranked_topk(scored, [F.desc("cos"), F.col("vec_id")], 5)
    return top.filter(F.col("cos") >= 0.2).select(
        "vec_id", "cos", F.col("rank").cast("long").alias("rank")
    )


SQL_PLAGIARISM = """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id,
             round(list_cosine_similarity(e.embedding, q.qv), 4) AS cos
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
    top AS (
      SELECT vec_id, cos,
             row_number() OVER (ORDER BY cos DESC, vec_id) AS rank
      FROM scored)
    SELECT vec_id, cos, rank FROM top WHERE rank <= 5 AND cos >= 0.2
"""


def q_hybrid_search_e2e(spark, sf_dir) -> DataFrame:
    """R1->R9 end-to-end: dense + two BM25 lists fused with weighted RRF
    [2,2,1] (main.rs:237-239), ranking boosts (ranking.rs:184-212), URL
    dedup + host diversification + pagination (main.rs:142-206)."""
    d = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    k = 40

    # dense candidates: query vector = vec 0; docs keyed by vec_id == doc_id
    from .operators.search import cosine

    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    # every corpus-sized rank list below is a distributed top-k
    # (TakeOrderedAndProject + k-row rank stamp), never a global window
    dense = S.ranked_topk(
        emb.crossJoin(q).select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("s"),
        ),
        [F.desc("s"), F.col("doc_id")], k,
    )
    # "title" = first 60 chars, "body" = full text (E9's two BM25 docs)
    titles = d.select("doc_id", F.substring("text", 1, 60).alias("text"))
    bm_t = S.ranked_topk(
        S.bm25_scores(titles, _QUERY_TEXT),
        [F.desc(F.round("bm25", 6)), F.col("doc_id")], k,
    )
    bm_b = S.ranked_topk(
        S.bm25_scores(d, _QUERY_TEXT),
        [F.desc(F.round("bm25", 6)), F.col("doc_id")], k,
    )
    fused = S.rrf_fuse([(dense, 2.0), (bm_t, 2.0), (bm_b, 1.0)], "doc_id")
    ranked = S.ranked_topk(
        fused, [F.desc(F.round("rrf_score", 9)), F.col("doc_id")], k,
    )

    enriched = ranked.join(d, "doc_id").select(
        "doc_id",
        F.col("rrf_score").alias("score"),
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/")),
        ).otherwise(
            F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/d/"),
                     (F.col("doc_id") % 50).cast("string"))
        ).alias("source_url"),
        F.substring("text", 1, 60).alias("page_title"),
    )
    boosted = S.apply_ranking_boosts(enriched, _QUERY_TEXT).withColumn(
        "score", F.round("score", 6)
    )
    reranked = boosted.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("score"), F.col("doc_id")))
    )
    final = S.paginate(S.unique_pages_diversified(reranked), limit=10, offset=0)
    return final.select(
        F.col("out_rank").cast("long").alias("out_rank"), "doc_id", "source_url", "score"
    )


SQL_HYBRID_SEARCH_E2E = """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    dense AS (
      SELECT doc_id, rank FROM (
        SELECT e.vec_id AS doc_id,
               row_number() OVER (
                 ORDER BY round(list_cosine_similarity(e.embedding, q.qv), 6) DESC,
                          e.vec_id) AS rank
        FROM embeddings e CROSS JOIN q) WHERE rank <= 40),
    -- BM25 over titles (first 60 chars) and bodies, same formula as bm25_topk
    tdocs AS (SELECT doc_id, substr(text, 1, 60) AS text FROM documents),
    ttoks AS (SELECT doc_id AS id, unnest(list_filter(
        string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term FROM tdocs),
    tdl AS (SELECT id, count(*) AS dl FROM ttoks GROUP BY id),
    tstats AS (SELECT (SELECT count(*) FROM documents) AS n, (SELECT avg(dl) FROM tdl) AS avgdl),
    ttf AS (SELECT id, term, count(*) AS tf FROM ttoks
            WHERE term IN ('data','table','scan','engine') GROUP BY id, term),
    tdf AS (SELECT term, count(DISTINCT id) AS df FROM ttf GROUP BY term),
    tw AS (SELECT ttf.id,
             ln((tstats.n - tdf.df + 0.5) / (tdf.df + 0.5) + 1.0)
             * (ttf.tf * 2.2) / (ttf.tf + 1.2 * (1 - 0.75 + 0.75 * tdl.dl / tstats.avgdl)) AS wt
           FROM ttf JOIN tdf USING (term) JOIN tdl USING (id) CROSS JOIN tstats),
    bm_t AS (SELECT id AS doc_id, rank FROM (
        SELECT id, row_number() OVER (ORDER BY round(sum(wt), 6) DESC, id) AS rank
        FROM tw GROUP BY id) WHERE rank <= 40),
    btoks AS (SELECT doc_id AS id, unnest(list_filter(
        string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term FROM documents),
    bdl AS (SELECT id, count(*) AS dl FROM btoks GROUP BY id),
    bstats AS (SELECT (SELECT count(*) FROM documents) AS n, (SELECT avg(dl) FROM bdl) AS avgdl),
    btf AS (SELECT id, term, count(*) AS tf FROM btoks
            WHERE term IN ('data','table','scan','engine') GROUP BY id, term),
    bdf AS (SELECT term, count(DISTINCT id) AS df FROM btf GROUP BY term),
    bw AS (SELECT btf.id,
             ln((bstats.n - bdf.df + 0.5) / (bdf.df + 0.5) + 1.0)
             * (btf.tf * 2.2) / (btf.tf + 1.2 * (1 - 0.75 + 0.75 * bdl.dl / bstats.avgdl)) AS wt
           FROM btf JOIN bdf USING (term) JOIN bdl USING (id) CROSS JOIN bstats),
    bm_b AS (SELECT id AS doc_id, rank FROM (
        SELECT id, row_number() OVER (ORDER BY round(sum(wt), 6) DESC, id) AS rank
        FROM bw GROUP BY id) WHERE rank <= 40),
    fused AS (
      SELECT doc_id, sum(contrib) AS rrf_score FROM (
        SELECT doc_id, 2.0 / (60 + rank) AS contrib FROM dense
        UNION ALL SELECT doc_id, 2.0 / (60 + rank) FROM bm_t
        UNION ALL SELECT doc_id, 1.0 / (60 + rank) FROM bm_b)
      GROUP BY doc_id),
    ranked AS (
      SELECT doc_id, rrf_score,
             row_number() OVER (ORDER BY round(rrf_score, 9) DESC, doc_id) AS rank
      FROM fused),
    enriched AS (
      SELECT r.doc_id, r.rrf_score AS score0,
             CASE WHEN r.doc_id % 10 = 0
                  THEN 'https://' || d.source || '.example.com/'
                  ELSE 'https://' || d.source || '.example.com/d/' || CAST(r.doc_id % 50 AS VARCHAR)
             END AS source_url,
             substr(d.text, 1, 60) AS title
      FROM ranked r JOIN documents d USING (doc_id) WHERE r.rank <= 40),
    feats AS (
      SELECT doc_id, score0, source_url, title,
             len(list_filter(string_split(
                 regexp_extract(source_url, '^[a-z]+://[^/]*(/.*)?$', 1), '/'),
                 x -> x <> '')) AS depth,
             list_filter(string_split_regex(lower(title), '[^a-zA-Z0-9]+'), x -> x <> '')
             || list_filter(string_split_regex(lower(source_url), '[^a-zA-Z0-9]+'), x -> x <> '') AS tw,
             list_filter(string_split_regex(lower(
                 regexp_extract(source_url, '^[a-z]+://([^/:?#]*)', 1)), '[^a-zA-Z0-9]+'), x -> x <> '')
             || list_filter(string_split_regex(lower(title), '[^a-zA-Z0-9]+'), x -> x <> '') AS hw
      FROM enriched),
    boosted AS (
      SELECT doc_id, source_url,
             round(score0
               + 0.5 / greatest(length(source_url), 1)
               + (CASE WHEN depth = 0 THEN 1.25 ELSE 0.0 END)
               + (CASE WHEN depth = 0
                        AND list_contains(hw, 'data') AND list_contains(hw, 'table')
                        AND list_contains(hw, 'scan') AND list_contains(hw, 'engine')
                       THEN 2.0 ELSE 0.0 END)
               - (CASE WHEN depth > 0 THEN depth * 0.12 ELSE 0.0 END)
               + 3.0 * ((CASE WHEN list_contains(tw, 'data') THEN 1 ELSE 0 END)
                      + (CASE WHEN list_contains(tw, 'table') THEN 1 ELSE 0 END)
                      + (CASE WHEN list_contains(tw, 'scan') THEN 1 ELSE 0 END)
                      + (CASE WHEN list_contains(tw, 'engine') THEN 1 ELSE 0 END)) / 4.0
             , 6) AS score
      FROM feats),
    reranked AS (
      SELECT doc_id, source_url, score,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rank
      FROM boosted),
    uniq AS (
      SELECT doc_id, source_url, score, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY source_url ORDER BY rank) AS rn
        FROM reranked) WHERE rn = 1),
    hosts AS (
      SELECT *, coalesce(lower(regexp_extract(source_url, '^[a-z]+://([^/:?#]*)', 1)), source_url) AS host
      FROM uniq),
    flagged AS (
      SELECT *, row_number() OVER (PARTITION BY host ORDER BY rank) AS host_rn FROM hosts),
    pos AS (
      SELECT *, CASE WHEN host_rn = 1 THEN
               row_number() OVER (ORDER BY CASE WHEN host_rn = 1 THEN rank END ASC NULLS LAST)
             END AS diverse_pos
      FROM flagged),
    ordered AS (
      SELECT doc_id, source_url, score,
             row_number() OVER (ORDER BY
               CASE WHEN diverse_pos IS NOT NULL AND diverse_pos <= 5 THEN 0 ELSE 1 END,
               rank) AS out_rank
      FROM pos)
    SELECT out_rank, doc_id, source_url, score FROM ordered
    WHERE out_rank > 0 AND out_rank <= 10
"""

QUERIES["plagiarism"] = q_plagiarism
ORACLES["plagiarism"] = SQL_PLAGIARISM
QUERIES["hybrid_search_e2e"] = q_hybrid_search_e2e
ORACLES["hybrid_search_e2e"] = SQL_HYBRID_SEARCH_E2E


# --------------------------------------------------------------------------
# R3 exact count / R4 get page / R10 knowledge panel (main.rs:303-363,161-175)
# --------------------------------------------------------------------------
def q_exact_count(spark, sf_dir) -> DataFrame:
    """R3 (main.rs:303-316): exact point count as a 1-row relation."""
    d = _t(spark, sf_dir, "documents")
    return d.agg(F.count("*").alias("n"))


SQL_EXACT_COUNT = "SELECT COUNT(*) AS n FROM documents"


def q_get_page(spark, sf_dir) -> DataFrame:
    """R4 (main.rs:323-363): every chunk of one page in chunk_index order,
    over a chunks relation synthesized from documents (same url scheme as
    dedup_diversify_paginate)."""
    from .operators import search as S

    d = _t(spark, sf_dir, "documents")
    chunks = d.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/d/"),
            (F.col("doc_id") % 40).cast("string"),
        ).alias("source_url"),
        F.col("doc_id").cast("long").alias("chunk_index"),
        F.substring("text", 1, 80).alias("chunk_content"),
    )
    return S.get_page(chunks, "https://src3.example.com/d/3").select(
        "source_url", "chunk_index", "chunk_content"
    )


SQL_GET_PAGE = """
    WITH chunks AS (
      SELECT 'https://' || source || '.example.com/d/' || CAST(doc_id % 40 AS VARCHAR)
               AS source_url,
             doc_id AS chunk_index,
             substr(text, 1, 80) AS chunk_content
      FROM documents)
    SELECT source_url, chunk_index, chunk_content FROM chunks
    WHERE source_url = 'https://src3.example.com/d/3'
    ORDER BY chunk_index LIMIT 10000
"""


def q_knowledge_panel(spark, sf_dir) -> DataFrame:
    """R10 (main.rs:161-175): the first-ranked result per source qualifies
    for a panel iff it has a real title and description — ranked per source
    so one operator call evaluates 20 independent result sets at once."""
    from .operators import search as S

    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    ranked = d.select(
        F.row_number().over(w).alias("out_rank"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("No Title"))
        .otherwise(F.concat(F.lit("Doc "), F.col("doc_id").cast("string")))
        .alias("page_title"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" "))
        .otherwise(F.substring("text", 1, 60))
        .alias("description"),
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/d/"),
            F.col("doc_id").cast("string"),
        ).alias("source_url"),
    )
    return S.knowledge_panel(ranked)


SQL_KNOWLEDGE_PANEL = """
    WITH ranked AS (
      SELECT row_number() OVER (PARTITION BY source ORDER BY doc_id) AS out_rank,
             CASE WHEN doc_id % 7 = 0 THEN 'No Title'
                  ELSE 'Doc ' || CAST(doc_id AS VARCHAR) END AS page_title,
             CASE WHEN doc_id % 5 = 0 THEN ' '
                  ELSE substr(text, 1, 60) END AS description,
             'https://' || source || '.example.com/d/' || CAST(doc_id AS VARCHAR)
               AS source_url
      FROM documents)
    SELECT page_title, description, source_url FROM ranked
    WHERE out_rank = 1
      AND trim(page_title) <> '' AND trim(page_title) <> 'No Title'
      AND trim(description) <> ''
"""

QUERIES["exact_count"] = q_exact_count
ORACLES["exact_count"] = SQL_EXACT_COUNT
QUERIES["get_page"] = q_get_page
ORACLES["get_page"] = SQL_GET_PAGE
QUERIES["knowledge_panel"] = q_knowledge_panel
ORACLES["knowledge_panel"] = SQL_KNOWLEDGE_PANEL


# --------------------------------------------------------------------------
# S2 retry token cost (web_visitor.rs:144-184,255-271) — the per-attempt
# politeness arithmetic as a checkable relation over synthesized retry webs
# --------------------------------------------------------------------------
def q_retry_cost(spark, sf_dir) -> DataFrame:
    from .operators.fetch import retry_token_cost

    o = _t(spark, sf_dir, "orders")
    # tri-state header: k%13==12 -> NULL (absent -> backoff); k%13==0 ->
    # explicit Retry-After: 0 (sleeps 0 s, web_visitor.rs:255-262)
    pages = o.select(
        F.col("o_orderkey").alias("page_id"),
        (F.col("o_orderkey") % 5).cast("int").alias("flaky_fail_times"),
        F.when(F.col("o_orderkey") % 13 == 12, F.lit(None))
        .otherwise(F.col("o_orderkey") % 13)
        .cast("int")
        .alias("retry_after_s"),
    ).filter(F.col("page_id") < 2000)
    return pages.select(
        "page_id", "flaky_fail_times", "retry_after_s",
        retry_token_cost(F.col("flaky_fail_times"), F.col("retry_after_s")).alias(
            "token_cost"
        ),
    )


SQL_RETRY_COST = """
    WITH pages AS (
      SELECT o_orderkey AS page_id,
             CAST(o_orderkey % 5 AS INTEGER) AS flaky_fail_times,
             CASE WHEN o_orderkey % 13 = 12 THEN NULL
                  ELSE CAST(o_orderkey % 13 AS INTEGER) END AS retry_after_s
      FROM orders WHERE o_orderkey < 2000),
    costed AS (
      SELECT *,
             LEAST(flaky_fail_times + 1, 3) AS attempts,
             CASE WHEN retry_after_s IS NOT NULL THEN retry_after_s ELSE 1 END AS d0,
             CASE WHEN retry_after_s IS NOT NULL THEN retry_after_s ELSE 2 END AS d1
      FROM pages)
    SELECT page_id, flaky_fail_times, retry_after_s,
           CAST(attempts + FLOOR(
             CASE WHEN attempts >= 3 THEN d0 + d1
                  WHEN attempts = 2 THEN d0
                  ELSE 0 END / 2.0) AS BIGINT) AS token_cost
    FROM costed
"""

QUERIES["retry_cost"] = q_retry_cost
ORACLES["retry_cost"] = SQL_RETRY_COST


# --------------------------------------------------------------------------
# S2 Retry-After header parsing, BOTH forms (web_visitor.rs:255-262):
# delta-seconds and HTTP-date, with garbage treated as header-absent
# --------------------------------------------------------------------------
_RA_BASE = 1_700_000_000  # fixed "now" for deterministic HTTP-date deltas


def q_retry_after_parse(spark, sf_dir) -> DataFrame:
    from .operators.fetch import retry_after_seconds

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    k = F.col("o_orderkey")
    # k%4==0: delta-seconds; 1: future HTTP-date; 2: past HTTP-date
    # (-> NULL: duration_since().ok() is None -> backoff); 3: garbage
    # (-> NULL, header treated absent)
    header = (
        F.when(k % 4 == 0, (k % 120).cast("string"))
        .when(
            k % 4 == 1,
            F.from_unixtime(
                F.lit(_RA_BASE) + (k % 900), "EEE, dd MMM yyyy HH:mm:ss 'GMT'"
            ),
        )
        .when(
            k % 4 == 2,
            F.from_unixtime(
                F.lit(_RA_BASE) - (k % 900), "EEE, dd MMM yyyy HH:mm:ss 'GMT'"
            ),
        )
        .otherwise(F.lit("soon"))
    )
    return o.select(
        k.alias("key"),
        header.alias("header"),
        retry_after_seconds(header, F.lit(_RA_BASE)).alias("delay_s"),
    )


SQL_RETRY_AFTER_PARSE = f"""
    WITH rows_ AS (
      SELECT o_orderkey AS key,
             CASE
               WHEN o_orderkey % 4 = 0 THEN CAST(o_orderkey % 120 AS VARCHAR)
               WHEN o_orderkey % 4 = 1 THEN strftime(
                 to_timestamp({_RA_BASE} + o_orderkey % 900) AT TIME ZONE 'UTC',
                 '%a, %d %b %Y %H:%M:%S GMT')
               WHEN o_orderkey % 4 = 2 THEN strftime(
                 to_timestamp({_RA_BASE} - o_orderkey % 900) AT TIME ZONE 'UTC',
                 '%a, %d %b %Y %H:%M:%S GMT')
               ELSE 'soon'
             END AS header
      FROM orders WHERE o_orderkey < 3000)
    SELECT key, header,
           CASE
             WHEN regexp_matches(header, '^[0-9]+$') THEN CAST(header AS BIGINT)
             WHEN try_strptime(header, '%a, %d %b %Y %H:%M:%S GMT') IS NOT NULL
                  AND CAST(epoch(try_strptime(header,
                      '%a, %d %b %Y %H:%M:%S GMT')) AS BIGINT) >= {_RA_BASE}
               THEN CAST(epoch(try_strptime(header,
                    '%a, %d %b %Y %H:%M:%S GMT')) AS BIGINT) - {_RA_BASE}
             ELSE NULL
           END AS delay_s
    FROM rows_
"""

QUERIES["retry_after_parse"] = q_retry_after_parse
ORACLES["retry_after_parse"] = SQL_RETRY_AFTER_PARSE


# --------------------------------------------------------------------------
# S5 sitemap XML parsing (sitemap.rs:88-99) — synthesize real urlset XML
# (half of it gzipped) from documents, parse through the Arrow stage, and
# check against the generator's inverse in SQL
# --------------------------------------------------------------------------
def q_sitemap_parse(spark, sf_dir) -> DataFrame:
    import gzip as _gzip

    import pandas as pd

    from .functions.sitemap import parse_sitemaps

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)

    def build(key, pdf: pd.DataFrame):
        src = key[0]
        sm_url = f"https://{src}.example.com/sitemap.xml"
        items = "".join(
            f"<url><loc>https://{src}.example.com/d/{int(i)}</loc>"
            f"<lastmod>{(pd.Timestamp('2026-01-01') + pd.Timedelta(days=int(i))).date()}</lastmod></url>"
            for i in sorted(pdf["doc_id"])
        )
        xml = (
            '<?xml version="1.0"?>'
            '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
            f"{items}</urlset>"
        ).encode()
        if len(src) % 2 == 0:  # half the files arrive gzipped
            xml = _gzip.compress(xml)
        return pd.DataFrame({"sitemap_url": [sm_url], "body": [xml]})

    raw = d.select("source", "doc_id").groupBy("source").applyInPandas(
        build, "sitemap_url string, body binary"
    )
    return parse_sitemaps(raw).select("sitemap_url", "kind", "loc", "lastmod")


SQL_SITEMAP_PARSE = """
    SELECT 'https://' || source || '.example.com/sitemap.xml' AS sitemap_url,
           'url' AS kind,
           'https://' || source || '.example.com/d/' || CAST(doc_id AS VARCHAR) AS loc,
           CAST(DATE '2026-01-01' + doc_id * INTERVAL 1 DAY AS TIMESTAMP) AS lastmod
    FROM documents WHERE doc_id < 300
"""

QUERIES["sitemap_parse"] = q_sitemap_parse
ORACLES["sitemap_parse"] = SQL_SITEMAP_PARSE


# --------------------------------------------------------------------------
# Count-min sketch heavy hitters + soundness (beyond-reference: corpus
# frequency stats without sorting the vocab)
# --------------------------------------------------------------------------
def q_heavy_hitters(spark, sf_dir) -> DataFrame:
    """CMS-prefiltered heavy hitters: the sketch (never-underestimating)
    nominates candidates, the exact relation verifies — the oracle is the
    PLAIN GROUP BY ... HAVING, so a hash-match proves the sketch path
    semantics-preserving (the salted_agg pattern, applied to a sketch)."""
    from .operators.sketches import heavy_hitters

    return heavy_hitters(_t(spark, sf_dir, "documents"), threshold=600)


SQL_HEAVY_HITTERS = """
    WITH t AS (
      SELECT unnest(list_filter(
               string_split_regex(lower(text), '[^a-z0-9\\p{L}]+'),
               x -> x <> '')) AS term
      FROM documents)
    SELECT term, count(*) AS n FROM t GROUP BY term HAVING count(*) >= 600
"""


def q_cms_sound(spark, sf_dir) -> DataFrame:
    """Count-min guarantee as an empty-violations oracle: no term's sketch
    estimate may fall below its true count; an empty vocab is itself a
    violation (vacuous evidence)."""
    from .operators.sketches import cms_violations

    return cms_violations(_t(spark, sf_dir, "documents"))


SQL_CMS_SOUND = """
    SELECT CAST(NULL AS VARCHAR) AS violation, CAST(NULL AS VARCHAR) AS term,
           CAST(NULL AS BIGINT) AS n_exact, CAST(NULL AS BIGINT) AS n_est
    WHERE 1 = 0
"""


QUERIES["heavy_hitters"] = q_heavy_hitters
ORACLES["heavy_hitters"] = SQL_HEAVY_HITTERS
QUERIES["cms_sound"] = q_cms_sound
ORACLES["cms_sound"] = SQL_CMS_SOUND


# --------------------------------------------------------------------------
# fastText-style linear quality classifier (hashing trick, weights dim,
# sigmoid gate) — the CCNet/LLaMA-curation model-scoring shape
# --------------------------------------------------------------------------
def q_quality_classifier(spark, sf_dir) -> DataFrame:
    from .operators.textstats import classifier_scores, hash_feature_weights

    return classifier_scores(
        _t(spark, sf_dir, "documents"), hash_feature_weights(spark)
    )


SQL_QUALITY_CLASSIFIER = """
    WITH w AS (
      SELECT printf('%03x', r) AS bucket_hex,
             CAST((r * 2654435761) % 1000 - 500 AS BIGINT) AS w_milli
      FROM (SELECT unnest(range(4096)) AS r)),
    t AS (
      SELECT doc_id,
             unnest(list_filter(
               string_split_regex(lower(text), '[^a-z0-9\\p{L}]+'),
               x -> x <> '')) AS term
      FROM documents),
    b AS (SELECT doc_id, substr(sha256(term), 1, 3) AS bucket_hex FROM t),
    p AS (
      SELECT doc_id, count(*) AS n_tokens,
             CAST(sum(w_milli) AS BIGINT) AS sum_milli
      FROM b JOIN w USING (bucket_hex) GROUP BY doc_id),
    s AS (
      SELECT doc_id, n_tokens,
             round(CAST(sum_milli AS DOUBLE) / (1000.0 * n_tokens), 6) AS logit
      FROM p)
    SELECT doc_id, n_tokens, logit,
           round(1.0 / (1.0 + exp(-logit)), 6) AS prob,
           round(1.0 / (1.0 + exp(-logit)), 6) >= 0.5 AS keep
    FROM s
"""


QUERIES["quality_classifier"] = q_quality_classifier
ORACLES["quality_classifier"] = SQL_QUALITY_CLASSIFIER


# --------------------------------------------------------------------------
# Unicode NFC + whitespace/control normalization over a deterministically
# dirtied corpus — the raw-web text-cleanup stage
# --------------------------------------------------------------------------
def q_normalize_corpus(spark, sf_dir) -> DataFrame:
    """Dirty the fixture text with a decomposed accent (e + U+0301), a BEL
    control and tab/space runs — all reproduced verbatim in the oracle —
    then run the normalizer. Hash-match on the normalized text proves the
    pandas-NFC + codegen-regex pipeline equals DuckDB's nfc_normalize +
    the same RE2 classes."""
    from .operators.textstats import normalize_corpus

    d = _t(spark, sf_dir, "documents")
    noise = F.concat(
        F.col("text"),
        F.lit("\t  cafe"),
        F.lit("e" + chr(0x301)),
        F.lit("  fin" + chr(0x07) + " "),
    )
    noisy = d.select(F.col("doc_id"), noise.alias("text"))
    return normalize_corpus(noisy)


SQL_NORMALIZE_CORPUS = """
    WITH noisy AS (
      SELECT doc_id,
             text || chr(9) || '  cafe' || 'e' || chr(769) || '  fin'
                  || chr(7) || ' ' AS text
      FROM documents),
    cleaned AS (
      SELECT doc_id, text,
             trim(regexp_replace(
               regexp_replace(nfc_normalize(text),
                              '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
               '[ \\t\\n\\r]+', ' ', 'g')) AS norm_text
      FROM noisy)
    SELECT doc_id, norm_text, norm_text <> text AS changed FROM cleaned
"""


QUERIES["normalize_corpus"] = q_normalize_corpus
ORACLES["normalize_corpus"] = SQL_NORMALIZE_CORPUS


# --------------------------------------------------------------------------
# Freshness-aware recrawl scheduling (beyond-reference, crawl tier):
# Cho & Garcia-Molina change-rate estimation over a visit log synthesized
# deterministically from events (page = user_id % 200, signature =
# floor(2*value) so revisits flip signatures at a per-page rate)
# --------------------------------------------------------------------------
_RECRAWL_NOW_US = 1_706_680_632_000_000  # log-end + 6h: 93 due / 57 not-due at sf0.01


def q_recrawl_schedule(spark, sf_dir) -> DataFrame:
    from .operators.recrawl import recrawl_schedule

    ev = _t(spark, sf_dir, "events")
    visits = ev.select(
        F.pmod(F.col("user_id"), F.lit(200)).alias("page_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts"),
        F.floor(F.col("value") * 2).cast("long").alias("sig"),
        F.col("event_id").alias("visit_id"),
    )
    return recrawl_schedule(visits, now=_RECRAWL_NOW_US)


SQL_RECRAWL_SCHEDULE = f"""
    WITH v AS (
      SELECT user_id % 200 AS page_id,
             epoch_us(ts) AS ts,
             CAST(floor(value * 2) AS BIGINT) AS sig,
             event_id AS visit_id
      FROM events),
    m AS (
      SELECT *, lag(sig) OVER (PARTITION BY page_id ORDER BY ts, visit_id)
               AS prev
      FROM v),
    h AS (
      SELECT page_id, count(*) AS n_visits,
             CAST(sum(CASE WHEN prev IS NOT NULL AND sig <> prev
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
             min(ts) AS first_ts, max(ts) AS last_ts
      FROM m GROUP BY page_id),
    s AS (
      SELECT page_id, n_visits, n_changes, last_ts,
             round((CAST(n_changes AS DOUBLE) + 0.5)
                   / (CAST(last_ts - first_ts AS DOUBLE) / 86400000000.0 + 1.0),
                   6) AS rate_per_day
      FROM h),
    i AS (
      SELECT *, round(least(greatest(1.0 / rate_per_day, 0.25), 30.0), 6)
               AS interval_days
      FROM s),
    d AS (
      SELECT *, last_ts + CAST(floor(86400000000.0 * interval_days) AS BIGINT)
               AS next_due
      FROM i)
    SELECT page_id, n_visits, n_changes, rate_per_day, interval_days, next_due,
           {_RECRAWL_NOW_US} - next_due AS overdue,
           ({_RECRAWL_NOW_US} - next_due) >= 0 AS due_now
    FROM d
"""


QUERIES["recrawl_schedule"] = q_recrawl_schedule
ORACLES["recrawl_schedule"] = SQL_RECRAWL_SCHEDULE


# --- anchor-text aggregation over the link graph ---------------------------

_ANCHOR_LEXICON = [
    "home", "pricing", "docs", "blog", "contact", "about", "login", "download",
]


def q_anchor_text(spark, sf_dir) -> DataFrame:
    """Per-target anchor-text profiles (graph.py::anchor_text_profiles) over
    a deterministic link graph derived from events: the signal web search
    ranks on and supervision-pair mining reads (reference ranks only by an
    external list, ranking.rs:79-82 — owning the graph makes this free)."""
    from .operators.graph import anchor_text_profiles

    ev = _t(spark, sf_dir, "events")
    lex = F.array(*[F.lit(a) for a in _ANCHOR_LEXICON])
    links = ev.select(
        F.pmod(F.col("user_id"), F.lit(500)).alias("src"),
        F.pmod(F.col("user_id") * 7 + F.col("event_id") * 13, F.lit(200)).alias(
            "dst"
        ),
        F.element_at(lex, (F.pmod(F.col("event_id"), F.lit(8)) + 1).cast("int")).alias(
            "anchor"
        ),
    )
    return anchor_text_profiles(links)


SQL_ANCHOR_TEXT = """
    WITH links AS (
      SELECT user_id % 500 AS src,
             (user_id * 7 + event_id * 13) % 200 AS dst,
             (['home','pricing','docs','blog','contact','about','login',
               'download'])[CAST(event_id % 8 AS INT) + 1] AS anchor
      FROM events),
    pa AS (
      SELECT dst, anchor, count(*) AS links
      FROM links GROUP BY dst, anchor),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY dst
                                   ORDER BY links DESC, anchor) AS rn
      FROM pa)
    SELECT dst,
           CAST(sum(links) AS BIGINT) AS n_links,
           count(*) AS n_anchors,
           max(CASE WHEN rn = 1 THEN anchor END) AS top_anchor,
           max(CASE WHEN rn = 1 THEN links END) AS top_anchor_links,
           string_agg(anchor, '|' ORDER BY anchor) AS anchors
    FROM r GROUP BY dst
"""


QUERIES["anchor_text"] = q_anchor_text
ORACLES["anchor_text"] = SQL_ANCHOR_TEXT


# --- crawl-budget allocation (Hamilton largest remainder) -------------------

_BUDGET_TOTAL = 10_000


def q_host_budget(spark, sf_dir) -> DataFrame:
    """Largest-remainder split of a global fetch budget across hosts
    (ranking.py::allocate_host_budget), weights = per-host demand counts
    from orders. Exact integer apportionment; the global remainder rank is
    computed by the range-partitioned global_rank primitive — no
    single-task window anywhere in the plan."""
    from .operators.ranking import allocate_host_budget

    orders = _t(spark, sf_dir, "orders")
    hosts = orders.groupBy(
        F.pmod(F.col("o_custkey"), F.lit(300)).alias("host")
    ).agg(F.count(F.lit(1)).alias("weight"))
    return allocate_host_budget(hosts, _BUDGET_TOTAL)


SQL_HOST_BUDGET = f"""
    WITH w AS (
      SELECT o_custkey % 300 AS host, count(*) AS weight
      FROM orders GROUP BY 1),
    t AS (SELECT CAST(sum(weight) AS BIGINT) AS tw FROM w),
    q AS (
      SELECT host, weight,
             CAST(({_BUDGET_TOTAL} * weight) // tw AS BIGINT) AS base_quota,
             CAST(({_BUDGET_TOTAL} * weight) % tw AS BIGINT) AS remainder
      FROM w, t),
    l AS (SELECT {_BUDGET_TOTAL} - CAST(sum(base_quota) AS BIGINT) AS extra
          FROM q),
    r AS (
      SELECT *, row_number() OVER (ORDER BY remainder DESC, host) AS rank
      FROM q)
    SELECT host, weight, base_quota, remainder, rank,
           CAST(base_quota + CASE WHEN rank <= extra THEN 1 ELSE 0 END
                AS BIGINT) AS allocated
    FROM r, l
"""


QUERIES["host_budget"] = q_host_budget
ORACLES["host_budget"] = SQL_HOST_BUDGET


# --- CCNet paragraph-level corpus dedup -------------------------------------


def q_dedup_paragraphs(spark, sf_dir) -> DataFrame:
    """CCNet-style corpus-wide paragraph dedup (dedup.py::dedup_paragraphs)
    over documents rebuilt with planted boilerplate: one global cookie
    banner (500x duplicated), a per-source footer, and two body slices.
    Exactly one copy of each repeated paragraph survives (first by
    (doc_id, pos)); every body-unique paragraph is kept."""
    from .operators.dedup import dedup_paragraphs

    docs = _t(spark, sf_dir, "documents")
    built = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("Cookie notice: please accept our cookies."),
            F.substring(F.col("text"), 1, 120),
            F.concat(F.lit("Footer for source "), F.col("source")),
            F.substring(F.col("text"), 121, 80),
        ).alias("text"),
    )
    return dedup_paragraphs(built)


SQL_DEDUP_PARAGRAPHS = """
    WITH built AS (
      SELECT doc_id,
             concat_ws(chr(10),
                       'Cookie notice: please accept our cookies.',
                       substr(text, 1, 120),
                       'Footer for source ' || source,
                       substr(text, 121, 80)) AS text
      FROM documents),
    split AS (
      SELECT doc_id,
             unnest(generate_series(0,
                    len(string_split(text, chr(10))) - 1)) AS pos,
             unnest(string_split(text, chr(10))) AS para
      FROM built),
    keyed AS (
      SELECT doc_id, pos, para,
             md5(trim(regexp_replace(regexp_replace(lower(para),
                      '[0-9]', '', 'g'), '[ \t\f\r\n]+', ' ', 'g'))) AS h
      FROM split
      WHERE trim(regexp_replace(regexp_replace(lower(para),
                 '[0-9]', '', 'g'), '[ \t\f\r\n]+', ' ', 'g')) <> ''),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY h
                                   ORDER BY doc_id, pos) AS rn
      FROM keyed)
    SELECT doc_id,
           count(*) AS n_paragraphs,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(string_agg(CASE WHEN rn = 1 THEN para END,
                               chr(10) ORDER BY pos), '') AS clean_text
    FROM ranked GROUP BY doc_id
"""


QUERIES["dedup_paragraphs"] = q_dedup_paragraphs
ORACLES["dedup_paragraphs"] = SQL_DEDUP_PARAGRAPHS


# --- size-balanced shard assignment ------------------------------------------

_N_SHARDS = 8


def q_balanced_shards(spark, sf_dir) -> DataFrame:
    """Size-balanced training-shard planning (sampling.py::balanced_shards):
    exact global size rank (range-partitioned — no single-task window) +
    serpentine round-robin, so shard byte totals differ by at most one
    item per pass."""
    from .operators.sampling import balanced_shards

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = balanced_shards(docs, _N_SHARDS, size_col="n_chars", id_col="doc_id")
    return out.select("doc_id", "n_chars", "rank", "shard")


SQL_BALANCED_SHARDS = f"""
    WITH r AS (
      SELECT doc_id, n_chars,
             row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank
      FROM documents)
    SELECT doc_id, n_chars, rank,
           CAST(CASE WHEN ((rank - 1) // {_N_SHARDS}) % 2 = 0
                     THEN (rank - 1) % {_N_SHARDS}
                     ELSE {_N_SHARDS - 1} - ((rank - 1) % {_N_SHARDS})
                END AS INT) AS shard
    FROM r
"""


QUERIES["balanced_shards"] = q_balanced_shards
ORACLES["balanced_shards"] = SQL_BALANCED_SHARDS


# --- inverted-index postings build -------------------------------------------

_POSTINGS_CAP = 5


def q_inverted_postings(spark, sf_dir) -> DataFrame:
    """Impact-ordered inverted-index build (search.py::inverted_postings)
    with static top-5 pruning; posting lists serialized 'doc:tf,...' so the
    cross-engine hash sees identical bytes."""
    from .operators.search import inverted_postings

    docs = _t(spark, sf_dir, "documents")
    idx = inverted_postings(docs, max_postings=_POSTINGS_CAP)
    return idx.select(
        "term",
        "df",
        "total_tf",
        F.array_join(
            F.transform(
                F.col("postings"),
                lambda s: F.concat_ws(":", s["doc"].cast("string"), s["tf"].cast("string")),
            ),
            ",",
        ).alias("postings"),
    )


SQL_INVERTED_POSTINGS = f"""
    WITH tok AS (
      SELECT doc_id AS doc,
             unnest(list_filter(string_split_regex(lower(text),
                    '[^a-zA-Z0-9]+'), x -> x <> '')) AS term
      FROM documents),
    tf AS (
      SELECT term, doc, count(*) AS tf FROM tok GROUP BY term, doc),
    stats AS (
      SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
      FROM tf GROUP BY term),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY term
                                   ORDER BY tf DESC, doc) AS rn
      FROM tf),
    lists AS (
      SELECT term,
             string_agg(doc || ':' || tf, ',' ORDER BY tf DESC, doc)
               AS postings
      FROM ranked WHERE rn <= {_POSTINGS_CAP} GROUP BY term)
    SELECT s.term, s.df, s.total_tf, l.postings
    FROM stats s JOIN lists l USING (term)
"""


QUERIES["inverted_postings"] = q_inverted_postings
ORACLES["inverted_postings"] = SQL_INVERTED_POSTINGS


# --- DSIR importance resampling ----------------------------------------------

_DSIR_K = 100


def q_dsir_select(spark, sf_dir) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, operators/dsir.py): pick the 100
    raw documents whose hashed-ngram features look most like the English
    target slice, via deterministic Gumbel-top-k over importance weights."""
    from .operators.dsir import dsir_select

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    return dsir_select(docs, target, k=_DSIR_K).select(
        "doc_id", F.col("n_terms").cast("long").alias("n_terms"), "log_w", "sel_key"
    )


SQL_DSIR_SELECT = f"""
    WITH t AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '[^a-z0-9\\p{{L}}]+'),
                         x -> x <> '') AS toks
      FROM documents),
    terms AS (
      SELECT doc_id, lang,
             unnest(toks || [toks[i] || ' ' || toks[i + 1]
                             for i in range(1, len(toks))]) AS term
      FROM t),
    occ AS (
      SELECT doc_id, lang, substr(sha256(term), 1, 2) AS bucket FROM terms),
    rc AS (SELECT bucket, count(*) AS rc FROM occ GROUP BY bucket),
    tc AS (SELECT bucket, count(*) AS tc FROM occ WHERE lang = 'en'
           GROUP BY bucket),
    tot AS (SELECT (SELECT CAST(sum(rc) AS DOUBLE) FROM rc) AS r_total,
                   (SELECT CAST(sum(tc) AS DOUBLE) FROM tc) AS t_total),
    lam AS (
      SELECT rc.bucket,
             round(ln(coalesce(tc.tc, 0) + 1.0) - ln(t_total + 256.0)
                 - ln(rc.rc + 1.0) + ln(r_total + 256.0), 9) AS lam
      FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN tot),
    w AS (
      SELECT occ.doc_id, CAST(count(*) AS BIGINT) AS n_terms,
             round(sum(lam), 6) AS log_w
      FROM occ JOIN lam USING (bucket) GROUP BY occ.doc_id)
    SELECT doc_id, n_terms, log_w,
           round(log_w + round(-ln(-ln(
             (CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 12)
                   AS BIGINT) + 0.5) / power(16, 12))), 9), 6) AS sel_key
    FROM w
    ORDER BY sel_key DESC, doc_id
    LIMIT {_DSIR_K}
"""


QUERIES["dsir_select"] = q_dsir_select
ORACLES["dsir_select"] = SQL_DSIR_SELECT


# --- C4 blocklist filter + E-S weighted sampling ------------------------------

_BLOCKWORDS = ["slow", "dup", "spam"]  # present-common, present-rare, absent


def q_blocklist_filter(spark, sf_dir) -> DataFrame:
    """C4-style badwords gate (textstats.py::blocklist_stats): per-doc
    blocked-token occurrence counts, the matched terms, and the keep flag."""
    from .operators.textstats import blocklist_stats

    return blocklist_stats(_t(spark, sf_dir, "documents"), _BLOCKWORDS)


SQL_BLOCKLIST_FILTER = """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9\\p{L}]+'),
                         x -> x <> '') AS toks
      FROM documents),
    h AS (
      SELECT doc_id,
             list_filter(toks, x -> list_contains(['slow', 'dup', 'spam'], x))
               AS hits
      FROM t)
    SELECT doc_id,
           CAST(len(hits) AS BIGINT) AS n_hits,
           coalesce(array_to_string(list_sort(list_distinct(hits)), ','), '')
             AS matched,
           len(hits) = 0 AS keep
    FROM h
"""


QUERIES["blocklist_filter"] = q_blocklist_filter
ORACLES["blocklist_filter"] = SQL_BLOCKLIST_FILTER


_WSAMPLE_K = 100


def q_weighted_sample(spark, sf_dir) -> DataFrame:
    """Efraimidis-Spirakis deterministic weighted sampling without
    replacement (sampling.py::weighted_sample): 100 documents drawn
    proportional to n_chars, reproducibly (keys from sha256(doc_id))."""
    from .operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample(docs, "doc_id", "n_chars", k=_WSAMPLE_K)


SQL_WEIGHTED_SAMPLE = f"""
    SELECT doc_id, n_chars,
           round(round(-ln(
             (CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 12)
                   AS BIGINT) + 0.5) / power(16, 12)), 9)
             / CAST(n_chars AS DOUBLE), 9) AS es_key
    FROM documents
    WHERE n_chars > 0
    ORDER BY es_key, doc_id
    LIMIT {_WSAMPLE_K}
"""


QUERIES["weighted_sample"] = q_weighted_sample
ORACLES["weighted_sample"] = SQL_WEIGHTED_SAMPLE


# --- crawl snapshot diff -------------------------------------------------------


def q_snapshot_diff(spark, sf_dir) -> DataFrame:
    """Two crawl rounds over documents diffed by content version
    (recrawl.py::snapshot_diff). Round 2 is a deterministic sha-keyed
    perturbation of round 1: 5% of keys removed, the next 10% re-versioned
    (changed), and a 10% slice re-appearing under new keys (added)."""
    from .operators.recrawl import snapshot_diff
    from .operators.sampling import hash_fraction

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("url"),
        F.substring(F.sha2(F.col("text"), 256), 1, 12).alias("page_version"),
        F.substring(F.sha2(F.concat(F.col("text"), F.lit(":v2")), 256), 1, 12)
          .alias("_v2"),
        hash_fraction(F.col("doc_id").cast("string")).alias("_h"),
    )
    old = docs.select("url", "page_version")
    survivors = docs.filter(F.col("_h") >= "0ccccccccccc").select(
        "url",
        F.when(F.col("_h") < "266666666666", F.col("_v2"))
        .otherwise(F.col("page_version"))
        .alias("page_version"),
    )
    added = docs.filter(F.col("_h") >= "e66666666666").select(
        F.concat(F.lit("n:"), F.col("url")).alias("url"),
        F.col("page_version"),
    )
    return snapshot_diff(old, survivors.unionByName(added))


SQL_SNAPSHOT_DIFF = """
    WITH d AS (
      SELECT CAST(doc_id AS VARCHAR) AS url,
             substr(sha256(text), 1, 12) AS page_version,
             substr(sha256(text || ':v2'), 1, 12) AS v2,
             substr(sha256(CAST(doc_id AS VARCHAR)), 1, 12) AS h
      FROM documents),
    old AS (SELECT url, page_version FROM d),
    new AS (
      SELECT url,
             CASE WHEN h < '266666666666' THEN v2 ELSE page_version END
               AS page_version
      FROM d WHERE h >= '0ccccccccccc'
      UNION ALL
      SELECT 'n:' || url AS url, page_version FROM d WHERE h >= 'e66666666666')
    SELECT coalesce(old.url, new.url) AS key,
           old.page_version AS old_version,
           new.page_version AS new_version,
           CASE WHEN old.url IS NULL THEN 'added'
                WHEN new.url IS NULL THEN 'removed'
                WHEN old.page_version IS NOT DISTINCT FROM new.page_version
                     THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM old FULL OUTER JOIN new USING (url)
"""


QUERIES["snapshot_diff"] = q_snapshot_diff
ORACLES["snapshot_diff"] = SQL_SNAPSHOT_DIFF


# --- table profiling ----------------------------------------------------------

_PROFILE_COLS = ["lang", "source", "n_chars"]


def q_profile_table(spark, sf_dir) -> DataFrame:
    """Per-column data-quality profile of documents
    (profiling.py::profile_table): nulls, exact distinct, native-type
    min/max, top-3 value frequencies."""
    from .operators.profiling import profile_table

    return profile_table(_t(spark, sf_dir, "documents"), _PROFILE_COLS, top_k=3)


def _profile_block(c: str) -> str:
    return f"""
    SELECT '{c}' AS column,
           (SELECT count(*) FROM documents) AS n_rows,
           (SELECT count(*) - count({c}) FROM documents) AS n_null,
           (SELECT count(DISTINCT {c}) FROM documents) AS n_distinct,
           (SELECT CAST(min({c}) AS VARCHAR) FROM documents) AS min_val,
           (SELECT CAST(max({c}) AS VARCHAR) FROM documents) AS max_val,
           coalesce((SELECT string_agg(v || ':' || cnt, ',' ORDER BY cnt DESC, v)
                     FROM (SELECT CAST({c} AS VARCHAR) AS v, count(*) AS cnt
                           FROM documents WHERE {c} IS NOT NULL
                           GROUP BY 1 ORDER BY cnt DESC, v LIMIT 3)), '')
             AS top_values
    """


SQL_PROFILE_TABLE = " UNION ALL ".join(_profile_block(c) for c in _PROFILE_COLS)


QUERIES["profile_table"] = q_profile_table
ORACLES["profile_table"] = SQL_PROFILE_TABLE


# --- incremental inverted-index refresh ---------------------------------------


def _diffed_corpora(spark, sf_dir):
    """Deterministic two-round corpus for the incremental-index entry: 5% of
    docs removed, the next 10% text-edited, 10% re-added under new keys."""
    from .operators.sampling import hash_fraction

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "text",
        hash_fraction(F.col("doc_id").cast("string")).alias("_h"),
    )
    old_docs = d.select("doc_id", "text")
    survivors = d.filter(F.col("_h") >= "0ccccccccccc").select(
        "doc_id",
        F.when(
            F.col("_h") < "266666666666", F.concat(F.col("text"), F.lit(" editmark"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = d.filter(F.col("_h") >= "e66666666666").select(
        F.concat(F.lit("n:"), F.col("doc_id")).alias("doc_id"), "text"
    )
    return old_docs, survivors.unionByName(added)


def q_postings_refresh(spark, sf_dir) -> DataFrame:
    """Incremental inverted-index maintenance (search.py::refresh_postings):
    rebuild only the terms touched by a crawl-round diff. The oracle is a
    FULL DuckDB rebuild over the new snapshot — a hash match proves the
    incremental algebra equals the from-scratch index."""
    from .operators.recrawl import snapshot_diff
    from .operators.search import inverted_postings, refresh_postings

    old_docs, new_docs = _diffed_corpora(spark, sf_dir)
    ver = lambda df: df.select(
        F.col("doc_id").alias("url"),
        F.substring(F.sha2(F.col("text"), 256), 1, 12).alias("page_version"),
    )
    diff = snapshot_diff(ver(old_docs), ver(new_docs))
    idx = inverted_postings(old_docs, max_postings=_POSTINGS_CAP)
    out = refresh_postings(
        idx, old_docs, new_docs, diff, max_postings=_POSTINGS_CAP
    )
    return out.select(
        "term",
        "df",
        "total_tf",
        F.array_join(
            F.transform(
                F.col("postings"),
                lambda s: F.concat_ws(":", s["doc"], s["tf"].cast("string")),
            ),
            ",",
        ).alias("postings"),
    )


SQL_POSTINGS_REFRESH = f"""
    WITH d AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
             substr(sha256(CAST(doc_id AS VARCHAR)), 1, 12) AS h
      FROM documents),
    newc AS (
      SELECT doc_id,
             CASE WHEN h < '266666666666' THEN text || ' editmark'
                  ELSE text END AS text
      FROM d WHERE h >= '0ccccccccccc'
      UNION ALL
      SELECT 'n:' || doc_id AS doc_id, text FROM d WHERE h >= 'e66666666666'),
    tok AS (
      SELECT doc_id AS doc,
             unnest(list_filter(string_split_regex(lower(text),
                    '[^a-zA-Z0-9]+'), x -> x <> '')) AS term
      FROM newc),
    tf AS (
      SELECT term, doc, count(*) AS tf FROM tok GROUP BY term, doc),
    stats AS (
      SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
      FROM tf GROUP BY term),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY term
                                   ORDER BY tf DESC, doc) AS rn
      FROM tf),
    lists AS (
      SELECT term,
             string_agg(doc || ':' || tf, ',' ORDER BY tf DESC, doc)
               AS postings
      FROM ranked WHERE rn <= {_POSTINGS_CAP} GROUP BY term)
    SELECT s.term, s.df, s.total_tf, l.postings
    FROM stats s JOIN lists l USING (term)
"""


QUERIES["postings_refresh"] = q_postings_refresh
ORACLES["postings_refresh"] = SQL_POSTINGS_REFRESH


# --- semantic duplicate clusters over embeddings -------------------------------


def q_embedding_dup_clusters(spark, sf_dir) -> DataFrame:
    """Keeper selection for embedding near-dups: connected components over
    the label-blocked cosine pair graph (dedup.py::duplicate_clusters),
    canonical representative = min vec_id. Full cross-engine oracle: DuckDB
    recomputes the pairs with list_cosine_similarity and the components with
    a recursive CTE."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = D.embedding_near_duplicates(emb, threshold=0.3, block_col="label")
    out = D.duplicate_clusters(pairs)
    return out.select(F.col("id").alias("vec_id"), "cluster_id", "cluster_size")


SQL_EMBEDDING_DUP_CLUSTERS = """
    WITH RECURSIVE e0 AS MATERIALIZED (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.3),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM e0
      UNION
      SELECT id_b AS src, id_a AS dst FROM e0),
    reach(id, r) AS (
      SELECT src AS id, src AS r FROM edges
      UNION
      SELECT e.dst AS id, reach.r AS r
      FROM reach JOIN edges e ON e.src = reach.id),
    lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
    sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
           FROM lab GROUP BY cluster_id)
    SELECT lab.id AS vec_id, cluster_id, cluster_size
    FROM lab JOIN sz USING (cluster_id)
"""


QUERIES["embedding_dup_clusters"] = q_embedding_dup_clusters
ORACLES["embedding_dup_clusters"] = SQL_EMBEDDING_DUP_CLUSTERS


# --- Kneser-Ney bigram perplexity ---------------------------------------------


def q_perplexity_kn(spark, sf_dir) -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity per document
    (lm.py::kneser_ney_doc_perplexity) — the KenLM smoothing; the DuckDB
    twin retrains the identical model and hash-matches."""
    from .operators.lm import kneser_ney_doc_perplexity

    return kneser_ney_doc_perplexity(_t(spark, sf_dir, "documents"))


SQL_PERPLEXITY_KN = """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9\\p{L}]+'),
                         x -> x <> '') AS toks
      FROM documents),
    big AS (
      SELECT doc_id, toks[i + 1] AS w1, toks[i + 2] AS w2
      FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 1)) AS i
            FROM t WHERE len(toks) >= 2)),
    bcnt AS (SELECT w1, w2, count(*) AS bcnt FROM big GROUP BY w1, w2),
    lft AS (SELECT w1, CAST(sum(bcnt) AS DOUBLE) AS c_w1,
                   CAST(count(*) AS DOUBLE) AS n_follow
            FROM bcnt GROUP BY w1),
    rgt AS (SELECT w2, CAST(count(*) AS DOUBLE) AS n_prec
            FROM bcnt GROUP BY w2),
    nt AS (SELECT CAST(count(*) AS DOUBLE) AS n_types FROM bcnt),
    scored AS (
      SELECT big.doc_id,
             round(ln(
               greatest(CAST(bcnt AS DOUBLE) - 0.75, 0.0) / c_w1
               + 0.75 * n_follow / c_w1 * (n_prec / n_types)), 9) AS logp
      FROM big JOIN bcnt USING (w1, w2)
               JOIN lft USING (w1)
               JOIN rgt USING (w2)
               CROSS JOIN nt),
    agg AS (
      SELECT doc_id, count(*) AS n_bigrams,
             round(sum(logp) / count(*), 6) AS mean_logp
      FROM scored GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           a.mean_logp,
           round(exp(-a.mean_logp), 4) AS ppl
    FROM documents d LEFT JOIN agg a USING (doc_id)
"""


QUERIES["perplexity_kn"] = q_perplexity_kn
ORACLES["perplexity_kn"] = SQL_PERPLEXITY_KN


# --- int8 scalar-quantized ANN -------------------------------------------------


def q_sq8_topk(spark, sf_dir) -> DataFrame:
    """Asymmetric SQ8 search (simsearch.py::sq8_*): int8-quantized corpus,
    float queries, top-10 by dequantized cosine. Codes are exact integers
    cross-engine, so the DuckDB twin reproduces the whole pipeline."""
    from .operators.simsearch import sq8_index, sq8_scales, sq8_topk

    emb = _t(spark, sf_dir, "embeddings")
    qs = [
        (int(r.vec_id), list(map(float, r.embedding)))
        for r in emb.filter(F.col("vec_id").isin(0, 1, 2)).collect()
    ]
    scales = sq8_scales(emb)
    return sq8_topk(sq8_index(emb, scales), scales, qs, k=10)


SQL_SQ8_TOPK = """
    WITH per AS (
      SELECT i, max(abs(CAST(v AS DOUBLE))) AS m
      FROM (SELECT unnest(embedding) AS v,
                   unnest(range(1, len(embedding) + 1)) AS i
            FROM embeddings)
      GROUP BY i),
    s AS (SELECT list(m ORDER BY i) AS scales FROM per),
    codes AS (
      SELECT vec_id,
             [CASE WHEN scales[i] = 0 THEN 0
                   ELSE greatest(-127, least(127,
                        CAST(floor(CAST(embedding[i] AS DOUBLE) / scales[i]
                                   * 127.0 + 0.5) AS INTEGER)))
              END for i in range(1, len(embedding) + 1)] AS codes
      FROM embeddings, s),
    deq AS (
      SELECT vec_id,
             [CAST(codes[i] AS DOUBLE) * scales[i] / 127.0
              for i in range(1, len(codes) + 1)] AS deq
      FROM codes, s),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          WHERE vec_id IN (0, 1, 2)),
    scored AS (
      SELECT q.query_id, e.vec_id,
             round(list_cosine_similarity(e.deq, q.qv), 6) AS cos
      FROM q CROSS JOIN deq e)
    SELECT query_id, vec_id, cos, rank FROM (
      SELECT query_id, vec_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id) AS rank
      FROM scored)
    WHERE rank <= 10
"""


QUERIES["sq8_topk"] = q_sq8_topk
ORACLES["sq8_topk"] = SQL_SQ8_TOPK


# --- semantic decontamination ---------------------------------------------------


def q_semantic_decontaminate(spark, sf_dir) -> DataFrame:
    """Embedding-level benchmark decontamination
    (dedup.py::semantic_contamination): corpus vectors within cosine 0.35 of
    the deterministic eval slice (vec_id % 29 == 3) are flagged with their
    nearest eval evidence rows."""
    emb = _t(spark, sf_dir, "embeddings")
    evals = emb.filter(F.col("vec_id") % 29 == 3).select(
        F.col("vec_id").alias("eval_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") % 29 != 3)
    return D.semantic_contamination(corpus, evals, threshold=0.35)


SQL_SEMANTIC_DECONTAMINATE = """
    WITH evals AS (
      SELECT vec_id AS eval_id, embedding FROM embeddings
      WHERE vec_id % 29 = 3),
    corpus AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 29 <> 3)
    SELECT c.vec_id, e.eval_id,
           round(list_cosine_similarity(c.embedding, e.embedding), 4) AS cos
    FROM corpus c CROSS JOIN evals e
    WHERE list_cosine_similarity(c.embedding, e.embedding) >= 0.35
"""


QUERIES["semantic_decontaminate"] = q_semantic_decontaminate
ORACLES["semantic_decontaminate"] = SQL_SEMANTIC_DECONTAMINATE


# --- product quantization (PQ/ADC) ---------------------------------------------


def q_pq_topk(spark, sf_dir) -> DataFrame:
    """Product-quantized ANN with asymmetric distance (simsearch.py::pq_*):
    384-d vectors -> 8 subspace codes from sha-sampled codebooks; queries
    rank docs by summed per-subspace lookup distances. The DuckDB twin
    replays codebook selection, code assignment, and ADC exactly."""
    from .operators.simsearch import pq_codebook, pq_index, pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    qs = [
        (int(r.vec_id), list(map(float, r.embedding)))
        for r in emb.filter(F.col("vec_id").isin(0, 1, 2)).collect()
    ]
    cb = pq_codebook(emb, dim=384, m=8, n_centroids=16)
    codes = pq_index(emb, cb, dim=384, m=8)
    return pq_topk(codes, cb, qs, dim=384, m=8, k=10)


SQL_PQ_TOPK = """
    WITH picked AS (
      SELECT vec_id AS cid, embedding
      FROM embeddings
      ORDER BY substr(sha256(CAST(vec_id AS VARCHAR)), 1, 12), vec_id
      LIMIT 16),
    cb AS (
      SELECT j.sub, cid,
             embedding[j.sub * 48 + 1 : j.sub * 48 + 48] AS cvec
      FROM picked, range(0, 8) j(sub)),
    sv AS (
      SELECT vec_id, j.sub,
             embedding[j.sub * 48 + 1 : j.sub * 48 + 48] AS svec
      FROM embeddings, range(0, 8) j(sub)),
    dist AS (
      SELECT vec_id, sv.sub, cid,
             round(list_sum([
               (CAST(svec[i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE))
               * (CAST(svec[i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE))
               for i in range(1, len(svec) + 1)]), 9) AS d
      FROM sv JOIN cb ON sv.sub = cb.sub),
    codes AS (
      SELECT vec_id, sub, cid FROM (
        SELECT vec_id, sub, cid,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d, cid) AS rn
        FROM dist) WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          WHERE vec_id IN (0, 1, 2)),
    qtab AS (
      SELECT query_id, cb.sub, cid,
             round(list_sum([
               (CAST(qv[cb.sub * 48 + i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE))
               * (CAST(qv[cb.sub * 48 + i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE))
               for i in range(1, len(cvec) + 1)]), 9) AS qd
      FROM q CROSS JOIN cb),
    scored AS (
      SELECT query_id, codes.vec_id, round(sum(qd), 6) AS dist
      FROM codes JOIN qtab USING (sub, cid)
      GROUP BY query_id, codes.vec_id)
    SELECT query_id, vec_id, dist, rank FROM (
      SELECT query_id, vec_id, dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dist, vec_id) AS rank
      FROM scored) WHERE rank <= 10
"""


QUERIES["pq_topk"] = q_pq_topk
ORACLES["pq_topk"] = SQL_PQ_TOPK


def _ivfpq(spark, sf_dir):
    """Shared IVF×PQ build for the ivfpq entries: sha-sampled coarse lists +
    sha-sampled PQ codebook over the embeddings fixture, queries 0/1/2."""
    from .operators.simsearch import ivfpq_topk, pq_codebook, pq_index

    emb = _t(spark, sf_dir, "embeddings")
    qs = [
        (int(r.vec_id), list(map(float, r.embedding)))
        for r in emb.filter(F.col("vec_id").isin(0, 1, 2)).collect()
    ]
    assigned, cents = SS.ivf_index(emb, n_lists=16)
    cb = pq_codebook(emb, dim=384, m=8, n_centroids=16)
    codes = pq_index(emb, cb, dim=384, m=8)
    ann = ivfpq_topk(
        assigned, cents, codes, cb, qs, dim=384, m=8, k=10, n_probe=4
    )
    return emb, qs, assigned, cents, cb, codes, ann


def q_ivfpq_topk(spark, sf_dir) -> DataFrame:
    """IVF×PQ ANN (simsearch.py::ivfpq_topk — Jegou et al. 2011's IVFADC):
    coarse lists prune the scan, PQ ADC scores the survivors on their
    8-int codes. Rows-only: list assignment is a data-dependent numpy
    argmax (same rationale as ivf_topk); the distances, pruning, ranks,
    and recall are verified by `ivfpq_sound` and tests/test_simsearch."""
    _, _, _, _, _, _, ann = _ivfpq(spark, sf_dir)
    return ann


def q_ivfpq_sound(spark, sf_dir) -> DataFrame:
    """IVF×PQ results are never fabricated: every reported (query, vec,
    dist, rank) must (a) carry the TRUE ADC distance — recomputed by an
    independent posexplode/groupBy plan from the codes and codebook re-read
    through their own builds, NOT the operator's zip_with fold — (b)
    reference an existing vec whose coarse list is among the query's
    n_probe probed lists, and (c) have ranks consistent with ascending
    (dist, vec_id) within the reported set. (Recall is a tuned property
    tested in test_simsearch.) Violations must be empty."""
    import numpy as np

    emb, qs, assigned, cents, cb, codes, ann = _ivfpq(spark, sf_dir)

    # (b) probe membership: replay the query->list selection
    cn = np.asarray(cents, dtype=np.float64)
    cn = cn / np.maximum(np.linalg.norm(cn, axis=1, keepdims=True), 1e-12)
    probes = []
    for qid, vec in qs:
        v = np.asarray(vec, dtype=np.float64)
        v = v / max(np.linalg.norm(v), 1e-12)
        for lid in np.argsort(-(cn @ v))[:4].tolist():
            probes.append((int(qid), int(lid)))
    probe_df = spark.createDataFrame(probes, "query_id long, list_id int")
    member = (
        assigned.select(F.col("vec_id"), "list_id")
        .join(probe_df, "list_id")
        .select("query_id", "vec_id", F.lit(True).alias("in_probe"))
    )

    # (a) independent ADC recompute: per (query, vec, sub) the squared L2
    # between the query's subvector and the ASSIGNED codebook entry, via
    # posexplode + groupBy sum (a structurally different plan than the
    # operator's zip_with in-order fold; same 9dp-per-sub/6dp-total
    # rounding discipline)
    qdf = spark.createDataFrame(
        [(qid, [float(x) for x in vec]) for qid, vec in qs],
        "query_id long, qv array<double>",
    )
    pairs = ann.select("query_id", "vec_id", "dist", "rank")
    per_elem = (
        pairs.join(codes, "vec_id")
        .join(F.broadcast(cb), ["sub", "cid"])
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            "vec_id",
            "sub",
            F.posexplode(F.col("cvec").cast("array<double>")).alias("pos", "cv"),
            "qv",
        )
        .select(
            "query_id",
            "vec_id",
            "sub",
            (
                F.element_at(F.col("qv"), F.col("sub") * 48 + F.col("pos") + 1)
                - F.col("cv")
            ).alias("d"),
        )
    )
    dist_true = (
        per_elem.groupBy("query_id", "vec_id", "sub")
        .agg(F.round(F.sum(F.col("d") * F.col("d")), 9).alias("qd"))
        .groupBy("query_id", "vec_id")
        .agg(F.round(F.sum("qd"), 6).alias("dist_true"))
    )

    # (c) rank consistency within the reported set
    rank_by_dist = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.asc("dist"), F.col("vec_id"))
    )
    return (
        pairs.withColumn("rank_by_dist", rank_by_dist)
        .join(dist_true, ["query_id", "vec_id"], "left")
        .join(member, ["query_id", "vec_id"], "left")
        .filter(
            F.col("dist_true").isNull()
            | F.col("in_probe").isNull()
            | (F.abs(F.col("dist") - F.col("dist_true")) > 2e-6)
            | (F.col("rank") != F.col("rank_by_dist"))
        )
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col("vec_id").cast("long").alias("vec_id"),
        )
    )


SQL_IVFPQ_SOUND = """
    SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS vec_id
    WHERE 1 = 0
"""


QUERIES["ivfpq_topk"] = q_ivfpq_topk
QUERIES["ivfpq_sound"] = q_ivfpq_sound
ORACLES["ivfpq_sound"] = SQL_IVFPQ_SOUND


# --- EXIF metadata + GPS-PII scrub ----------------------------------------------


_EXIF_KEY_MAX = 800


def _exif_image_table(spark, sf_dir) -> DataFrame:
    """(image_id, bytes): JPEGs synthesized from part keys <= 800 (a
    deterministic key SET — filter, not limit — so the DuckDB oracle can
    replay it), with an EXIF APP1 injected per key: orientation k%8+1,
    datetime/make/model from k, GPS iff k%3=0 at coordinates chosen to be
    exact through the deg/min/sec rational round trip (x.25 / x.5 degrees);
    keys with k%11=5 carry no EXIF at all (the all-NULL parse path)."""
    import pandas as pd

    from . import codecs as C
    from . import exif as X
    from .fixtures import make_pixels

    part = (
        _t(spark, sf_dir, "part")
        .select("p_partkey")
        .filter(F.col("p_partkey") <= _EXIF_KEY_MAX)
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for k in pdf["p_partkey"]:
                k = int(k)
                data = C.encode_image(make_pixels(7, k, 16, 16), "jpeg")
                if k % 11 != 5:
                    gps = None
                    if k % 3 == 0:
                        gps = (
                            float((k * 7) % 170 - 85) + 0.25,
                            float((k * 13) % 350 - 175) + 0.5,
                        )
                    app1 = X.build_exif_app1(
                        orientation=k % 8 + 1,
                        datetime="2021:%02d:%02d 10:%02d:%02d"
                        % (k % 12 + 1, k % 28 + 1, k % 60, (k * 3) % 60),
                        make="Make-%d" % (k % 5),
                        model="Cam-%d" % (k % 7),
                        gps=gps,
                    )
                    data = X.insert_app1(data, app1)
                rows.append({"image_id": "p-%d" % k, "bytes": data})
            yield pd.DataFrame(rows, columns=["image_id", "bytes"])

    return part.mapInPandas(gen, "image_id string, bytes binary")


def q_exif_stats(spark, sf_dir) -> DataFrame:
    """EXIF parse over binary JPEG payloads (multimodal.py::exif_stats,
    codec in exif.py): the Spark side genuinely walks the APP1/TIFF bytes;
    the DuckDB twin recomputes the EXPECTED metadata from the part keys the
    fixture derives it from — a full value-hash oracle over a binary
    parser."""
    from .operators.multimodal import exif_stats

    out = exif_stats(_exif_image_table(spark, sf_dir))
    return out.select(
        "image_id",
        "orientation",
        "exif_datetime",
        "make",
        "model",
        "has_gps",
        F.round("gps_lat", 4).alias("gps_lat"),
        F.round("gps_lon", 4).alias("gps_lon"),
    )


SQL_EXIF_STATS = """
    SELECT 'p-' || CAST(p_partkey AS VARCHAR) AS image_id,
           CASE WHEN p_partkey % 11 <> 5
                THEN CAST(p_partkey % 8 + 1 AS INTEGER) END AS orientation,
           CASE WHEN p_partkey % 11 <> 5
                THEN printf('2021:%02d:%02d 10:%02d:%02d',
                            p_partkey % 12 + 1, p_partkey % 28 + 1,
                            p_partkey % 60, (p_partkey * 3) % 60)
           END AS exif_datetime,
           CASE WHEN p_partkey % 11 <> 5
                THEN 'Make-' || CAST(p_partkey % 5 AS VARCHAR) END AS make,
           CASE WHEN p_partkey % 11 <> 5
                THEN 'Cam-' || CAST(p_partkey % 7 AS VARCHAR) END AS model,
           (p_partkey % 11 <> 5 AND p_partkey % 3 = 0) AS has_gps,
           CASE WHEN p_partkey % 11 <> 5 AND p_partkey % 3 = 0
                THEN round(CAST((p_partkey * 7) % 170 - 85 AS DOUBLE) + 0.25, 4)
           END AS gps_lat,
           CASE WHEN p_partkey % 11 <> 5 AND p_partkey % 3 = 0
                THEN round(CAST((p_partkey * 13) % 350 - 175 AS DOUBLE) + 0.5, 4)
           END AS gps_lon
    FROM part WHERE p_partkey <= 800
"""


def q_exif_scrub_sound(spark, sf_dir) -> DataFrame:
    """GPS scrub soundness (multimodal.py::scrub_exif_gps): after the
    scrub, (a) no payload parses with GPS, (b) had_gps equals the
    original's has_gps, (c) orientation/datetime/make/model survive
    byte-exactly, and (d) the perceptual hash is unchanged — the pixels
    were never touched. Violations must be empty."""
    from .operators.multimodal import decode_stats, exif_stats, scrub_exif_gps

    images = _exif_image_table(spark, sf_dir)
    images.persist()
    scrubbed = scrub_exif_gps(images)
    scrubbed.persist()
    before = exif_stats(images).alias("b")
    after = exif_stats(scrubbed.select("image_id", "bytes")).alias("a")
    flags = scrubbed.select("image_id", "had_gps")
    ph_b = decode_stats(images).select("image_id", F.col("phash").alias("ph_b"))
    ph_a = decode_stats(scrubbed.select("image_id", "bytes")).select(
        "image_id", F.col("phash").alias("ph_a")
    )
    joined = (
        before.join(after, "image_id")
        .join(flags, "image_id")
        .join(ph_b, "image_id")
        .join(ph_a, "image_id")
    )
    return joined.filter(
        F.col("a.has_gps")
        | (F.col("had_gps") != F.col("b.has_gps"))
        | ~(F.col("a.orientation").eqNullSafe(F.col("b.orientation")))
        | ~(F.col("a.exif_datetime").eqNullSafe(F.col("b.exif_datetime")))
        | ~(F.col("a.make").eqNullSafe(F.col("b.make")))
        | ~(F.col("a.model").eqNullSafe(F.col("b.model")))
        | (F.col("ph_a") != F.col("ph_b"))
    ).select(F.col("image_id"), F.lit("scrub_violation").alias("reason"))


SQL_EXIF_SCRUB_SOUND = """
    SELECT CAST(NULL AS VARCHAR) AS image_id, CAST(NULL AS VARCHAR) AS reason
    WHERE 1 = 0
"""


QUERIES["exif_stats"] = q_exif_stats
ORACLES["exif_stats"] = SQL_EXIF_STATS
QUERIES["exif_scrub_sound"] = q_exif_scrub_sound
ORACLES["exif_scrub_sound"] = SQL_EXIF_SCRUB_SOUND


# --- bulk sitemap BFS -----------------------------------------------------------


def q_sitemap_bulk(spark, sf_dir) -> DataFrame:
    """Fleet-sized sitemap discovery (operators/sitemaps.py::
    sitemap_bulk_discover): every request's depth-bounded file BFS runs as
    ONE declarative plan — unrolled self-joins + request-partitioned
    windows, no driver loop. Fixture: per source host, a root sitemap
    (docs with doc_id%3!=0) linking a nested index (doc_id%3==0);
    max_pages=5 so the limit (20) truncates inside the nested file. The
    DuckDB twin replays file order, page order, and the cap."""
    from .operators.sitemaps import sitemap_bulk_discover

    base = _t(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.concat(F.lit("https://"), "source", F.lit(".example.com")).alias("origin"),
        F.to_timestamp(
            F.date_add(
                F.lit("2026-01-01").cast("date"), (F.col("doc_id") % 200).cast("int")
            )
        ).alias("lastmod"),
    )
    page = F.concat("origin", F.lit("/d/"), F.col("doc_id").cast("string"))
    root = F.concat("origin", F.lit("/sitemap.xml"))
    nested = F.concat("origin", F.lit("/sitemap-more.xml"))
    sm = (
        base.filter(F.col("doc_id") % 3 != 0)
        .select(root.alias("sitemap_url"), F.lit("url").alias("kind"),
                page.alias("loc"), "lastmod")
        .unionByName(
            base.select("origin").distinct().select(
                root.alias("sitemap_url"),
                F.lit("sitemap").alias("kind"),
                nested.alias("loc"),
                F.lit("2026-06-01 00:00:00").cast("timestamp").alias("lastmod"),
            )
        )
        .unionByName(
            base.filter(F.col("doc_id") % 3 == 0).select(
                nested.alias("sitemap_url"), F.lit("url").alias("kind"),
                page.alias("loc"), "lastmod",
            )
        )
    )
    reqs = base.select(
        F.col("source").alias("request_id"),
        F.concat("origin", F.lit("/")).alias("seed"),
        F.array().cast("array<string>").alias("declared"),
        F.lit(5).alias("max_pages"),
    ).distinct()
    out = sitemap_bulk_discover(reqs, sm)
    return out.select("request_id", F.col("seq").cast("long").alias("seq"), "page_url")


SQL_SITEMAP_BULK = """
    WITH pages AS (
      SELECT source AS request_id,
             CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 2 END AS rnk,
             'https://' || source || '.example.com/d/' || CAST(doc_id AS VARCHAR)
               AS page_url,
             doc_id % 200 AS lm
      FROM documents),
    ordered AS (
      SELECT request_id, page_url,
             row_number() OVER (PARTITION BY request_id
                                ORDER BY rnk, lm DESC, page_url ASC) AS seq
      FROM pages)
    SELECT request_id, seq, page_url FROM ordered WHERE seq <= 20
"""


QUERIES["sitemap_bulk"] = q_sitemap_bulk
ORACLES["sitemap_bulk"] = SQL_SITEMAP_BULK


# --- SURT / CDX URL index -------------------------------------------------------


def q_cdx_index(spark, sf_dir) -> DataFrame:
    """SURT keys + CDX index rows (operators/cdx.py) over messy generated
    URLs — uppercase schemes, www. prefixes, default :443 ports, unsorted
    query params, fragments. The DuckDB twin constructs the EXPECTED surt
    directly from the generator's parts (host labels pre-reversed, params
    pre-sorted), so the whole normalization chain is value-hash checked.
    Global (surt, ts14) ordering is a plan property asserted in
    tests/test_cdx.py (range shards + sortWithinPartitions — order itself
    is invisible to the order-insensitive compare here)."""
    from .operators.cdx import cdx_index

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    k = F.col("o_orderkey")
    host = F.concat(
        F.lit("h"), (F.col("o_custkey") % 7).cast("string"), F.lit(".example.com")
    )
    host = F.when(k % 3 == 0, F.concat(F.lit("www."), host)).otherwise(host)
    hostp = F.when(k % 7 == 0, F.concat(host, F.lit(":443"))).otherwise(host)
    scheme = F.when(k % 6 == 0, F.lit("HTTPS://")).otherwise(F.lit("https://"))
    path = (
        F.when(k % 5 == 0, F.lit("/"))
        .when(k % 5 == 1, F.concat(F.lit("/A/p"), k.cast("string")))
        .when(k % 5 == 2, F.concat(F.lit("/login/x"), k.cast("string")))
        .otherwise(F.concat(F.lit("/blog/post"), k.cast("string")))
    )
    suffix = (
        F.when(k % 4 == 0, F.lit("?z=9&a=1"))
        .when(k % 4 == 1, F.lit("#frag"))
        .when(k % 4 == 2, F.lit("?b=2"))
        .otherwise(F.lit(""))
    )
    recs = o.select(
        F.concat(scheme, hostp, path, suffix).alias("url"),
        F.timestamp_seconds(F.lit(1767225600).cast("long") + (k % 86400)).alias(
            "fetched_at"
        ),
    )
    return cdx_index(recs, shards=8).select("surt", "ts14", "original")


SQL_CDX_INDEX = """
    SELECT
      'com,example,h' || CAST(o_custkey % 7 AS VARCHAR) || ')'
      || lower(CASE o_orderkey % 5
           WHEN 0 THEN '/'
           WHEN 1 THEN '/A/p' || CAST(o_orderkey AS VARCHAR)
           WHEN 2 THEN '/login/x' || CAST(o_orderkey AS VARCHAR)
           ELSE '/blog/post' || CAST(o_orderkey AS VARCHAR) END)
      || (CASE WHEN o_orderkey % 4 = 0 THEN '?a=1&z=9'
               WHEN o_orderkey % 4 = 2 THEN '?b=2' ELSE '' END) AS surt,
      strftime(TIMESTAMP '2026-01-01'
               + (o_orderkey % 86400) * INTERVAL 1 SECOND,
               '%Y%m%d%H%M%S') AS ts14,
      (CASE WHEN o_orderkey % 6 = 0 THEN 'HTTPS://' ELSE 'https://' END)
      || (CASE WHEN o_orderkey % 3 = 0 THEN 'www.' ELSE '' END)
      || 'h' || CAST(o_custkey % 7 AS VARCHAR) || '.example.com'
      || (CASE WHEN o_orderkey % 7 = 0 THEN ':443' ELSE '' END)
      || (CASE o_orderkey % 5
           WHEN 0 THEN '/'
           WHEN 1 THEN '/A/p' || CAST(o_orderkey AS VARCHAR)
           WHEN 2 THEN '/login/x' || CAST(o_orderkey AS VARCHAR)
           ELSE '/blog/post' || CAST(o_orderkey AS VARCHAR) END)
      || (CASE WHEN o_orderkey % 4 = 0 THEN '?z=9&a=1'
               WHEN o_orderkey % 4 = 1 THEN '#frag'
               WHEN o_orderkey % 4 = 2 THEN '?b=2' ELSE '' END) AS original
    FROM orders
"""


QUERIES["cdx_index"] = q_cdx_index
ORACLES["cdx_index"] = SQL_CDX_INDEX
QUERIES["label_propagation"] = q_label_propagation
ORACLES["label_propagation"] = SQL_LABEL_PROPAGATION


def q_zorder_events(spark, sf_dir) -> DataFrame:
    """Z-order (Morton) clustering key over events (operators/zorder.py):
    bit-interleave of (user_id, event second), the layout key that lets a
    100 TB table prune parquet row groups on BOTH probe dimensions. Pure
    unrolled JVM bit expression; the DuckDB twin recomputes the same
    integer arithmetic."""
    from .operators.zorder import zorder_key2

    e = _t(spark, sf_dir, "events")
    sec = F.col("ts").cast("timestamp").cast("long").bitwiseAND(F.lit(0xFFFF))
    usr = F.col("user_id").bitwiseAND(F.lit(0xFFFF))
    return e.select("event_id", zorder_key2(usr, sec, bits=16).alias("zkey"))


def _zorder_sql(bits: int = 16) -> str:
    terms = []
    for i in range(bits):
        terms.append(
            f"((u // {1 << i}) % 2) * {1 << (2 * i + 1)}"
            f" + ((s // {1 << i}) % 2) * {1 << (2 * i)}"
        )
    expr = "\n           + ".join(terms)
    return f"""
    SELECT event_id,
           CAST({expr} AS BIGINT) AS zkey
    FROM (
      SELECT event_id,
             user_id % 65536 AS u,
             CAST(floor(epoch(ts)) AS BIGINT) % 65536 AS s
      FROM events)
"""


SQL_ZORDER_EVENTS = _zorder_sql()
QUERIES["zorder_events"] = q_zorder_events
ORACLES["zorder_events"] = SQL_ZORDER_EVENTS


def _packed_bins(spark, sf_dir):
    from .operators.dedup import tokens as _tok
    from .operators.sampling import pack_best_fit

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        F.size(_tok(F.col("text"))).alias("tokens"),
    ).where(F.col("tokens") > 0)
    return d, pack_best_fit(d, max_tokens=256)


def q_pack_bins(spark, sf_dir) -> DataFrame:
    """Best-fit-decreasing bin packing (operators/sampling.py::
    pack_best_fit) — whole-document sequence packing for SFT-style
    training. Rows-only (the greedy is sequential per shard); validity +
    the at-most-one-half-empty-bin greedy invariant are `pack_bins_sound`;
    the exact assignment has a python twin in tests/test_clusters_sampling."""
    _, packed = _packed_bins(spark, sf_dir)
    return packed


def q_pack_bins_sound(spark, sf_dir) -> DataFrame:
    """Violations must be empty: (a) every input doc packed exactly once,
    (b) no bin over max_tokens unless it is a single oversize doc, (c) per
    shard at most ONE bin at <= max_tokens/2 fill (any fit-first greedy
    guarantees it — a second half-empty bin's first doc would have fit in
    the first)."""
    d, packed = _packed_bins(spark, sf_dir)
    packed.persist()
    cnt = packed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    dup_or_missing = (
        d.join(cnt, "doc_id", "left")
        .filter(F.coalesce(F.col("n"), F.lit(0)) != 1)
        .select(F.col("doc_id").cast("long"), F.lit("not_exactly_once").alias("reason"))
    )
    fills = packed.groupBy("shard", "bin_id").agg(
        F.sum("tokens").alias("fill"), F.count(F.lit(1)).alias("docs")
    )
    overfull = fills.filter(
        (F.col("fill") > 256) & (F.col("docs") > 1)
    ).select(
        F.col("bin_id").cast("long").alias("doc_id"),
        F.lit("overfull_bin").alias("reason"),
    )
    half_empty = (
        fills.filter(F.col("fill") <= 128)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("he"))
        .filter(F.col("he") > 1)
        .select(F.col("shard").cast("long").alias("doc_id"),
                F.lit("two_half_empty_bins").alias("reason"))
    )
    return dup_or_missing.unionByName(overfull).unionByName(half_empty)


SQL_PACK_BINS_SOUND = """
    SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS VARCHAR) AS reason
    WHERE 1 = 0
"""


QUERIES["pack_bins"] = q_pack_bins
QUERIES["pack_bins_sound"] = q_pack_bins_sound
ORACLES["pack_bins_sound"] = SQL_PACK_BINS_SOUND


# --- WARC round trip ------------------------------------------------------------


def q_warc_roundtrip(spark, sf_dir) -> DataFrame:
    """WARC writer->reader losslessness (functions/warc.py): documents are
    serialized to WARC/1.0 records, concatenated into 8 file streams, parsed
    back byte-accurately, and fingerprinted. The oracle recomputes the
    fields straight from the source table — a hash match proves the whole
    encode->concat->parse loop drops and damages nothing (CJK payloads make
    octets != chars a live hazard)."""
    from .functions.warc import build_warc_record, parse_warc_files

    docs = _t(spark, sf_dir, "documents")
    recs = docs.select(
        (F.col("doc_id") % 8).alias("bucket"),
        F.col("doc_id"),
        build_warc_record(
            F.concat(F.lit("doc:"), F.col("doc_id").cast("string")),
            F.encode(F.col("text"), "UTF-8"),
        ).alias("rec"),
    )
    files = recs.groupBy("bucket").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "rec"))),
                lambda s: s["rec"],
            ),
            F.lit(b""),
            lambda acc, x: F.concat(acc, x),
        ).alias("content")
    )
    return parse_warc_files(files).select(
        "uri",
        "content_length",
        F.sha2(F.col("payload"), 256).alias("payload_sha"),
    )


SQL_WARC_ROUNDTRIP = """
    SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS uri,
           CAST(strlen(text) AS BIGINT) AS content_length,
           sha256(text) AS payload_sha
    FROM documents
"""


QUERIES["warc_roundtrip"] = q_warc_roundtrip
ORACLES["warc_roundtrip"] = SQL_WARC_ROUNDTRIP


# --- PMI collocations -----------------------------------------------------------


def q_pmi_pairs(spark, sf_dir) -> DataFrame:
    """Top-50 word collocations by PMI (textstats.py::pmi_top_pairs),
    min_count 5 — the phrase-vocab mining pass."""
    from .operators.textstats import pmi_top_pairs

    return pmi_top_pairs(_t(spark, sf_dir, "documents"), min_count=5, k=50)


SQL_PMI_PAIRS = """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9\\p{L}]+'),
                         x -> x <> '') AS toks
      FROM documents),
    uni AS (
      SELECT w, count(*) AS ucnt
      FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
    big AS (
      SELECT toks[i + 1] AS w1, toks[i + 2] AS w2
      FROM (SELECT toks, unnest(range(0, len(toks) - 1)) AS i
            FROM t WHERE len(toks) >= 2)),
    bcnt AS (SELECT w1, w2, count(*) AS bcnt FROM big GROUP BY w1, w2),
    tot AS (SELECT (SELECT CAST(sum(bcnt) AS DOUBLE) FROM bcnt) AS bt,
                   (SELECT CAST(sum(ucnt) AS DOUBLE) FROM uni) AS ut)
    SELECT w1, w2, bcnt,
           round(ln(bcnt / bt) - ln(c1.ucnt / ut) - ln(c2.ucnt / ut), 9) AS pmi
    FROM bcnt
    JOIN uni c1 ON c1.w = bcnt.w1
    JOIN uni c2 ON c2.w = bcnt.w2
    CROSS JOIN tot
    WHERE bcnt >= 5
    ORDER BY pmi DESC, w1, w2
    LIMIT 50
"""


QUERIES["pmi_pairs"] = q_pmi_pairs
ORACLES["pmi_pairs"] = SQL_PMI_PAIRS


# --- PSI distribution drift -----------------------------------------------------


def q_psi_drift(spark, sf_dir) -> DataFrame:
    """PSI between the two diffed crawl rounds' text-length distributions
    (profiling.py::psi_drift; 12 bins over [0, 600))."""
    from .operators.profiling import psi_drift

    old_docs, new_docs = _diffed_corpora(spark, sf_dir)
    return psi_drift(
        old_docs.select(F.length("text").alias("v")),
        new_docs.select(F.length("text").alias("v")),
        "v",
        lo=0.0,
        hi=600.0,
        n_bins=12,
    )


SQL_PSI_DRIFT = """
    WITH d AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
             substr(sha256(CAST(doc_id AS VARCHAR)), 1, 12) AS h
      FROM documents),
    newc AS (
      SELECT CASE WHEN h < '266666666666' THEN text || ' editmark'
                  ELSE text END AS text
      FROM d WHERE h >= '0ccccccccccc'
      UNION ALL
      SELECT text FROM d WHERE h >= 'e66666666666'),
    co AS (
      SELECT least(11, greatest(0,
               CAST(floor(CAST(length(text) AS DOUBLE) / 50.0) AS INTEGER)))
               AS bin, count(*) AS c
      FROM d GROUP BY 1),
    cn AS (
      SELECT least(11, greatest(0,
               CAST(floor(CAST(length(text) AS DOUBLE) / 50.0) AS INTEGER)))
               AS bin, count(*) AS c
      FROM newc GROUP BY 1),
    tot AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM d) AS no,
                   (SELECT CAST(count(*) AS DOUBLE) FROM newc) AS nn),
    dom AS (SELECT CAST(b.range AS INTEGER) AS bin FROM range(0, 12) b)
    SELECT dom.bin,
           round((coalesce(co.c, 0) + 1.0) / (no + 12.0), 9) AS p,
           round((coalesce(cn.c, 0) + 1.0) / (nn + 12.0), 9) AS q,
           round(((coalesce(cn.c, 0) + 1.0) / (nn + 12.0)
                  - (coalesce(co.c, 0) + 1.0) / (no + 12.0))
                 * ln(((coalesce(cn.c, 0) + 1.0) / (nn + 12.0))
                      / ((coalesce(co.c, 0) + 1.0) / (no + 12.0))), 9)
             AS psi_term
    FROM dom LEFT JOIN co USING (bin) LEFT JOIN cn USING (bin)
    CROSS JOIN tot
"""


QUERIES["psi_drift"] = q_psi_drift
ORACLES["psi_drift"] = SQL_PSI_DRIFT


# --- HITS hubs & authorities ----------------------------------------------------


def q_hits(spark, sf_dir) -> DataFrame:
    """HITS over the synthesized crawl graph (graph.py::hits): 8 L1-
    normalized power iterations; hubs seed the crawler, authorities boost
    the ranker."""
    from .operators.graph import hits

    out = hits(_edges(spark, sf_dir), iters=8)
    return out.select(
        "node", F.round("hub", 6).alias("hub"), F.round("authority", 6).alias("authority")
    )


def _hits_sql(iters: int = 8) -> str:
    """Unrolled fixed-iteration HITS — same plain-CTE-per-level trick as
    _pagerank_sql (every multiply-referenced level MATERIALIZED or DuckDB
    inlines it exponentially)."""
    levels = []
    for k in range(1, iters + 1):
        levels.append(
            f"""ar{k} AS MATERIALIZED (
      SELECT e.dst AS node, sum(h.hub) AS v
      FROM h{k - 1} h JOIN edges e ON e.src = h.node GROUP BY e.dst),
    a{k} AS MATERIALIZED (
      SELECT nd.node,
             COALESCE(ar.v, 0) / (SELECT sum(v) FROM ar{k}) AS authority
      FROM nd LEFT JOIN ar{k} ar USING (node)),
    hr{k} AS MATERIALIZED (
      SELECT e.src AS node, sum(a.authority) AS v
      FROM a{k} a JOIN edges e ON e.dst = a.node GROUP BY e.src),
    h{k} AS MATERIALIZED (
      SELECT nd.node, COALESCE(hr.v, 0) / (SELECT sum(v) FROM hr{k}) AS hub
      FROM nd LEFT JOIN hr{k} hr USING (node))"""
        )
    joined = ",\n    ".join(levels)
    return f"""
    WITH edges AS MATERIALIZED ({_EDGES_SQL}),
    nd AS MATERIALIZED (
      SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges),
    h0 AS MATERIALIZED (
      SELECT node, 1.0 / (SELECT CAST(count(*) AS DOUBLE) FROM nd) AS hub
      FROM nd),
    {joined}
    SELECT h{iters}.node, round(h{iters}.hub, 6) AS hub,
           round(a{iters}.authority, 6) AS authority
    FROM h{iters} JOIN a{iters} USING (node)
"""


SQL_HITS = _hits_sql()


QUERIES["hits"] = q_hits
ORACLES["hits"] = SQL_HITS


# --- JPEG quality estimation soundness -------------------------------------------


def q_jpeg_quality_sound(spark, sf_dir) -> DataFrame:
    """Encode a deterministic image per doc at quality 5 + doc_id % 91, then
    recover the setting from the DQT (multimodal.py::jpeg_quality_column).
    Emits every mismatch — the ijg formula is injective over 1..100 so the
    violation set is provably empty."""
    import numpy as np
    import pandas as pd

    from .jpeg import encode_jpeg, estimate_jpeg_quality

    docs = _t(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 128
    )

    def gen(batches):
        base = (np.arange(16 * 16, dtype=np.float64).reshape(16, 16) % 251)
        for pdf in batches:
            bad_id, bad_exp, bad_est = [], [], []
            for did in pdf["doc_id"]:
                q = 5 + int(did) % 91
                img = np.stack([(base + int(did)) % 251] * 3, axis=-1).astype(
                    np.uint8
                )
                est = estimate_jpeg_quality(encode_jpeg(img, quality=q))
                if est != q:
                    bad_id.append(int(did))
                    bad_exp.append(q)
                    bad_est.append(est)
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(bad_id, dtype="Int64"),
                    "expected_q": pd.array(bad_exp, dtype="Int32"),
                    "estimated_q": pd.array(bad_est, dtype="Int32"),
                }
            )

    return docs.mapInPandas(gen, "doc_id long, expected_q int, estimated_q int")


SQL_JPEG_QUALITY_SOUND = """
    SELECT CAST(NULL AS BIGINT) AS doc_id,
           CAST(NULL AS INTEGER) AS expected_q,
           CAST(NULL AS INTEGER) AS estimated_q
    WHERE 1 = 0
"""


QUERIES["jpeg_quality_sound"] = q_jpeg_quality_sound
ORACLES["jpeg_quality_sound"] = SQL_JPEG_QUALITY_SOUND


# --- event funnel + triangle counts ----------------------------------------------


def q_event_funnel(spark, sf_dir) -> DataFrame:
    """Ordered view->click->purchase funnel per user
    (operators/events.py::funnel_stages): each step's earliest completion
    strictly after the previous step, (ts, event_id)-strict."""
    from .operators.events import funnel_stages

    return funnel_stages(
        _t(spark, sf_dir, "events"), ["view", "click", "purchase"]
    )


SQL_EVENT_FUNNEL = """
    WITH s1 AS (
      SELECT user_id, t1, e1 FROM (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t1, event_id AS e1,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type = 'view') WHERE rn = 1),
    s2 AS (
      SELECT user_id, t2, e2 FROM (
        SELECT e.user_id, CAST(floor(epoch(e.ts)) AS BIGINT) AS t2,
               e.event_id AS e2,
               row_number() OVER (PARTITION BY e.user_id
                                  ORDER BY e.ts, e.event_id) AS rn
        FROM events e JOIN s1 USING (user_id)
        WHERE e.event_type = 'click'
          AND (CAST(floor(epoch(e.ts)) AS BIGINT), e.event_id) > (s1.t1, s1.e1))
      WHERE rn = 1),
    s3 AS (
      SELECT user_id, t3 FROM (
        SELECT e.user_id, CAST(floor(epoch(e.ts)) AS BIGINT) AS t3,
               row_number() OVER (PARTITION BY e.user_id
                                  ORDER BY e.ts, e.event_id) AS rn
        FROM events e JOIN s2 USING (user_id)
        WHERE e.event_type = 'purchase'
          AND (CAST(floor(epoch(e.ts)) AS BIGINT), e.event_id) > (s2.t2, s2.e2))
      WHERE rn = 1)
    SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
           CAST(1 + (s2.user_id IS NOT NULL)::INT
                  + (s3.user_id IS NOT NULL)::INT AS INTEGER) AS stage
    FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
"""


QUERIES["event_funnel"] = q_event_funnel
ORACLES["event_funnel"] = SQL_EVENT_FUNNEL


def q_triangle_counts(spark, sf_dir) -> DataFrame:
    """Per-node triangle counts over the undirected crawl graph
    (graph.py::triangle_counts) — the link-farm clustering signal."""
    from .operators.graph import triangle_counts

    return triangle_counts(_edges(spark, sf_dir))


SQL_TRIANGLE_COUNTS = f"""
    WITH raw AS ({{edges}}),
    canon AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src <> dst),
    tris AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM canon e1
      JOIN canon e2 ON e2.a = e1.b
      JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b),
    per AS (
      SELECT node, count(*) AS triangles
      FROM (SELECT unnest([a, b, c]) AS node FROM tris) GROUP BY node),
    nodes AS (SELECT a AS node FROM canon UNION SELECT b AS node FROM canon)
    SELECT nodes.node, CAST(coalesce(per.triangles, 0) AS BIGINT) AS triangles
    FROM nodes LEFT JOIN per USING (node)
"""


QUERIES["triangle_counts"] = q_triangle_counts
ORACLES["triangle_counts"] = SQL_TRIANGLE_COUNTS.format(edges=_EDGES_SQL)


# --- retention cohorts ------------------------------------------------------------


def q_retention_cohorts(spark, sf_dir) -> DataFrame:
    """Weekly cohort retention over events
    (operators/events.py::retention_cohorts)."""
    from .operators.events import retention_cohorts

    return retention_cohorts(_t(spark, sf_dir, "events"))


SQL_RETENTION_COHORTS = """
    WITH ub AS (
      SELECT DISTINCT user_id,
             CAST(floor(floor(epoch(ts)) / 604800.0) AS BIGINT) AS b
      FROM events),
    first AS (SELECT user_id, min(b) AS cohort FROM ub GROUP BY user_id),
    sizes AS (SELECT cohort, count(*) AS cohort_size FROM first GROUP BY cohort),
    counts AS (
      SELECT cohort, ub.b - cohort AS "offset", count(*) AS active_users
      FROM ub JOIN first USING (user_id)
      GROUP BY cohort, ub.b - cohort)
    SELECT counts.cohort, "offset", active_users, cohort_size
    FROM counts JOIN sizes USING (cohort)
"""


QUERIES["retention_cohorts"] = q_retention_cohorts
ORACLES["retention_cohorts"] = SQL_RETENTION_COHORTS


# --- deterministic graph walks -----------------------------------------------------


def q_graph_walks(spark, sf_dir) -> DataFrame:
    """4-step deterministic walks from every crawl-graph node
    (graph.py::deterministic_walks) — the DeepWalk corpus generator with
    sha-derived transitions."""
    from .operators.graph import deterministic_walks

    return deterministic_walks(_edges(spark, sf_dir), steps=4)


def _walks_sql(steps: int = 4) -> str:
    levels = []
    for k in range(1, steps + 1):
        levels.append(
            f"""ch{k} AS MATERIALIZED (
      SELECT node, nb AS c{k} FROM (
        SELECT src AS node, dst AS nb,
               row_number() OVER (PARTITION BY src
                 ORDER BY sha256(src || '|{k}|' || dst), dst) AS rn
        FROM edges) WHERE rn = 1),
    w{k} AS MATERIALIZED (
      SELECT w{k - 1}.*, ch{k}.c{k}
      FROM w{k - 1} LEFT JOIN ch{k} ON ch{k}.node = w{k - 1}.c{k - 1})"""
        )
    joined = ",\n    ".join(levels)
    cols = ", ".join(f"c{k}" for k in range(1, steps + 1))
    return f"""
    WITH edges AS MATERIALIZED ({_EDGES_SQL}),
    w0 AS (
      SELECT node AS start, node AS c0 FROM (
        SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges)),
    {joined}
    SELECT start, {cols} FROM w{steps}
"""


QUERIES["graph_walks"] = q_graph_walks
ORACLES["graph_walks"] = _walks_sql()


# --- fuzzy title pairs + JSON props extraction --------------------------------------


def q_fuzzy_title_pairs(spark, sf_dir) -> DataFrame:
    """Levenshtein near-dup pairs over English 40-char title prefixes
    (dedup.py::fuzzy_pairs; English slice because DuckDB's levenshtein is
    byte-based — identical to Spark's char-based only on ASCII). The oracle
    is the blocking-FREE all-pairs ground truth: a hash match proves the
    adjacent-band + signature blocking is complete on this corpus, not just
    self-consistent."""
    d = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    return D.fuzzy_pairs(d, prefix_len=40, max_distance=20)


SQL_FUZZY_TITLE_PAIRS = """
    WITH t AS (
      SELECT doc_id, substr(lower(text), 1, 40) AS title
      FROM documents WHERE lang = 'en')
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.title, b.title) AS INTEGER) AS dist
    FROM t a JOIN t b ON a.doc_id < b.doc_id
    WHERE levenshtein(a.title, b.title) <= 20
"""


QUERIES["fuzzy_title_pairs"] = q_fuzzy_title_pairs
ORACLES["fuzzy_title_pairs"] = SQL_FUZZY_TITLE_PAIRS


def q_fuzzy_typo_pairs(spark, sf_dir) -> DataFrame:
    """The typo-range parameterization (max_distance=2) of fuzzy_pairs —
    exercises the q-gram prefix-filter signature path (content-keyed
    blocking; the d=20 entry above lands in the short-string band path).
    Oracle = all-pairs ground truth, proving signature completeness."""
    d = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    return D.fuzzy_pairs(d, prefix_len=40, max_distance=2)


SQL_FUZZY_TYPO_PAIRS = """
    WITH t AS (
      SELECT doc_id, substr(lower(text), 1, 40) AS title
      FROM documents WHERE lang = 'en')
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.title, b.title) AS INTEGER) AS dist
    FROM t a JOIN t b ON a.doc_id < b.doc_id
    WHERE levenshtein(a.title, b.title) <= 2
"""


QUERIES["fuzzy_typo_pairs"] = q_fuzzy_typo_pairs
ORACLES["fuzzy_typo_pairs"] = SQL_FUZZY_TYPO_PAIRS


def q_json_props_rollup(spark, sf_dir) -> DataFrame:
    """Semi-structured processing: parse the events.props JSON column
    (get_json_object — Catalyst's JSON path evaluator), extract the typed
    `k` field, and roll it up per event_type. The pattern every log
    pipeline runs; pushdown-friendly because the JSON never leaves the
    projection."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


SQL_JSON_PROPS_ROLLUP = """
    SELECT event_type,
           count(k) AS n,
           CAST(sum(k) AS BIGINT) AS k_sum,
           min(k) AS k_min,
           max(k) AS k_max
    FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events)
    GROUP BY event_type
"""


QUERIES["json_props_rollup"] = q_json_props_rollup
ORACLES["json_props_rollup"] = SQL_JSON_PROPS_ROLLUP


# --- TPC-H classics over the star schema ---------------------------------------------
#
# The OLAP-join muscle demo on the driver's relational tables. Money sums run
# in exact integer basis points (floor(x*10000 + 0.5) per row, BIGINT sum,
# divide back at the end) so cross-engine float sum-order noise is ZERO — the
# rounded-sum trick would boundary-straddle at these magnitudes.


def _bp(col) -> F.Column:
    return F.floor(col * F.lit(10000.0) + F.lit(0.5)).cast("long")


def q_tpch_q1(spark, sf_dir) -> DataFrame:
    """TPC-H Q1 pricing summary: one scan, map-side partial agg, 4 groups."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp_ntz")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_bp(F.col("l_quantity"))).alias("qty_bp"),
        F.sum(_bp(F.col("l_extendedprice"))).alias("base_bp"),
        F.sum(_bp(disc)).alias("disc_bp"),
        F.sum(_bp(charge)).alias("charge_bp"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        (F.col("qty_bp") / 10000.0).alias("sum_qty"),
        (F.col("base_bp") / 10000.0).alias("sum_base_price"),
        (F.col("disc_bp") / 10000.0).alias("sum_disc_price"),
        (F.col("charge_bp") / 10000.0).alias("sum_charge"),
        F.round(F.col("qty_bp") / 10000.0 / F.col("count_order"), 6).alias("avg_qty"),
        "count_order",
    )


SQL_TPCH_Q1 = """
    SELECT l_returnflag, l_linestatus,
           sum(CAST(floor(l_quantity * 10000.0 + 0.5) AS BIGINT)) / 10000.0
             AS sum_qty,
           sum(CAST(floor(l_extendedprice * 10000.0 + 0.5) AS BIGINT)) / 10000.0
             AS sum_base_price,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5)
                    AS BIGINT)) / 10000.0 AS sum_disc_price,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                          * 10000.0 + 0.5) AS BIGINT)) / 10000.0 AS sum_charge,
           round(sum(CAST(floor(l_quantity * 10000.0 + 0.5) AS BIGINT))
                 / 10000.0 / count(*), 6) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q3(spark, sf_dir) -> DataFrame:
    """TPC-H Q3 shipping priority: BUILDING segment, order-before/ship-after
    the cutoff, top-10 revenue orders. Customer dim broadcasts; revenue in
    exact basis points so the top-10 cut is cross-engine stable."""
    cutoff = F.lit("1998-03-15").cast("timestamp_ntz")
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    rev = _bp(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    )
    agg = j.groupBy(
        "l_orderkey",
        F.col("o_orderdate").cast("timestamp").cast("long").alias("o_orderdate"),
        "o_orderpriority",
    ).agg(F.sum(rev).alias("rev_bp"))
    return (
        agg.select(
            "l_orderkey",
            (F.col("rev_bp") / 10000.0).alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


SQL_TPCH_Q3 = """
    SELECT l_orderkey,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5)
                    AS BIGINT)) / 10000.0 AS revenue,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_orderdate,
           o_orderpriority
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
"""


def q_tpch_q5(spark, sf_dir) -> DataFrame:
    """TPC-H Q5 local supplier volume: ASIA, one order year, customer and
    supplier in the SAME nation. The nation/region dims broadcast; the
    fact-side joins shuffle on their keys."""
    lo = F.lit("1996-01-01").cast("timestamp_ntz")
    hi = F.lit("1997-01-01").cast("timestamp_ntz")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = _t(spark, sf_dir, "lineitem")
    rev = _bp(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
    )
    return (
        j.groupBy("n_name")
        .agg((F.sum(rev) / 10000.0).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


SQL_TPCH_Q5 = """
    SELECT n_name,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5)
                    AS BIGINT)) / 10000.0 AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
"""


QUERIES["tpch_q1"] = q_tpch_q1
ORACLES["tpch_q1"] = SQL_TPCH_Q1
QUERIES["tpch_q3"] = q_tpch_q3
ORACLES["tpch_q3"] = SQL_TPCH_Q3
QUERIES["tpch_q5"] = q_tpch_q5
ORACLES["tpch_q5"] = SQL_TPCH_Q5


def q_tpch_q6(spark, sf_dir) -> DataFrame:
    """TPC-H Q6 forecast-revenue change: pure scan-side filter + single agg
    — the pushdown showcase (every predicate reaches the parquet reader)."""
    li = _t(spark, sf_dir, "lineitem")
    sel = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return sel.agg(
        (F.sum(_bp(F.col("l_extendedprice") * F.col("l_discount"))) / 10000.0)
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


SQL_TPCH_Q6 = """
    SELECT sum(CAST(floor(l_extendedprice * l_discount * 10000.0 + 0.5)
                    AS BIGINT)) / 10000.0 AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
"""


QUERIES["tpch_q6"] = q_tpch_q6
ORACLES["tpch_q6"] = SQL_TPCH_Q6


def q_basket_pairs(spark, sf_dir) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing together in >= 3
    orders (the pairwise support pass of FP-growth-style mining; at scale
    minsup prunes before the pair explosion). Distinct parts per order
    self-join on the order key with a < b."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    return (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 3)
    )


SQL_BASKET_PAIRS = """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS support
    FROM li a JOIN li b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY pa, pb
    HAVING count(*) >= 3
"""


QUERIES["basket_pairs"] = q_basket_pairs
ORACLES["basket_pairs"] = SQL_BASKET_PAIRS


def q_tpch_q4_shape(spark, sf_dir) -> DataFrame:
    """TPC-H Q4's plan shape — EXISTS decorrelated to a left-semi join:
    orders in a date window having at least one deep-discount line, counted
    per priority. (The dataset lacks commit/receipt dates, so the EXISTS
    predicate is l_discount > 0.08; the join geometry is Q4's.)"""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.08)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


SQL_TPCH_Q4_SHAPE = """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_discount > 0.08)
    GROUP BY o_orderpriority
"""


QUERIES["tpch_q4_shape"] = q_tpch_q4_shape
ORACLES["tpch_q4_shape"] = SQL_TPCH_Q4_SHAPE


def q_exact_corr(spark, sf_dir) -> DataFrame:
    """Pearson correlation of quantity vs extended price from EXACT moment
    sums: per-row values quantized to integer cents, the five moment sums
    accumulated in decimal(38,0) (Spark) / HUGEINT (DuckDB) — both exact —
    and the final formula evaluated on identical doubles. Cross-engine
    float-sum-order noise is zero BY CONSTRUCTION, where a naive F.corr
    would differ in the last ulps."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.floor(F.col("l_quantity") * 100.0 + 0.5).cast("decimal(38,0)")
    y = F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("decimal(38,0)")
    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return m.select(
        F.col("n").cast("long").alias("n"),
        F.round(num / den, 9).alias("corr_qty_price"),
    )


SQL_EXACT_CORR = """
    WITH m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS HUGEINT))
                  AS DOUBLE) AS sx,
             CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS HUGEINT))
                  AS DOUBLE) AS sy,
             CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS HUGEINT)
                      * CAST(floor(l_extendedprice * 100.0 + 0.5) AS HUGEINT))
                  AS DOUBLE) AS sxy,
             CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS HUGEINT)
                      * CAST(floor(l_quantity * 100.0 + 0.5) AS HUGEINT))
                  AS DOUBLE) AS sxx,
             CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS HUGEINT)
                      * CAST(floor(l_extendedprice * 100.0 + 0.5) AS HUGEINT))
                  AS DOUBLE) AS syy
      FROM lineitem)
    SELECT CAST(n AS BIGINT) AS n,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9)
             AS corr_qty_price
    FROM m
"""


QUERIES["exact_corr"] = q_exact_corr
ORACLES["exact_corr"] = SQL_EXACT_CORR


def q_tpch_q12_shape(spark, sf_dir) -> DataFrame:
    """TPC-H Q12's plan shape — conditional aggregation over a fact join:
    per returnflag, how many joined orders are high- vs low-priority
    (CASE-sum pivoting without a shuffle per branch)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    orders = _t(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(hi).alias("high_line_count"),
            F.sum(1 - hi).alias("low_line_count"),
        )
    )


SQL_TPCH_Q12_SHAPE = """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
"""


QUERIES["tpch_q12_shape"] = q_tpch_q12_shape
ORACLES["tpch_q12_shape"] = SQL_TPCH_Q12_SHAPE


def q_tpch_q7(spark, sf_dir) -> DataFrame:
    """TPC-H Q7 volume shipping: revenue between a nation PAIR (either
    direction) by ship year. Two independent nation-dim joins (supplier's
    and customer's) — both broadcast; the OR-of-pairs predicate lands on
    the joined row, the facts shuffle on their join keys only."""
    n1, n2 = "NATION_3", "NATION_7"
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin(n1, n2))
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    rev = _bp(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
    )
    return (
        j.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg((F.sum(rev) / 10000.0).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


SQL_TPCH_Q7 = """
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS l_year,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5)
                    AS BIGINT)) / 10000.0 AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE (sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
       OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3')
    GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
    ORDER BY supp_nation, cust_nation, l_year
"""


def q_tpch_q10(spark, sf_dir) -> DataFrame:
    """TPC-H Q10 returned-item losses: top-20 customers by revenue on
    'R'-flagged lineitems in one quarter-year window. The top-20 cut runs
    on exact basis-point revenue (ties by custkey) so it is cross-engine
    stable; nation dim broadcasts; the cut itself is orderBy+limit — a
    distributed TakeOrderedAndProject (per-partition local top-20, driver
    merge), NOT an unpartitioned row_number window."""
    lo = F.lit("1996-01-01").cast("timestamp_ntz")
    hi = F.lit("1996-07-01").cast("timestamp_ntz")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    rev = _bp(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    agg = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev).alias("rev_bp"))
    )
    return (
        agg.orderBy(F.desc("rev_bp"), F.asc("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            (F.col("rev_bp") / 10000.0).alias("revenue"),
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
        )
    )


SQL_TPCH_Q10 = """
    WITH agg AS (
      SELECT c_custkey, c_name, c_acctbal, n_name,
             sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5)
                      AS BIGINT)) AS rev_bp
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1996-07-01'
      GROUP BY c_custkey, c_name, c_acctbal, n_name)
    SELECT c_custkey, c_name, rev_bp / 10000.0 AS revenue,
           round(c_acctbal, 2) AS c_acctbal, n_name
    FROM (SELECT *, row_number() OVER (ORDER BY rev_bp DESC, c_custkey) AS rn
          FROM agg)
    WHERE rn <= 20
"""


def q_tpch_q14_shape(spark, sf_dir) -> DataFrame:
    """TPC-H Q14 promo-revenue shape: percentage of one month's revenue
    from a part class ('ECONOMY' stands in for 'PROMO%' — the fixture's
    p_type domain). Both the numerator and denominator are exact
    basis-point longs; the single final division is the same two-long
    IEEE op in both engines — zero float noise."""
    lo = F.lit("1996-03-01").cast("timestamp_ntz")
    hi = F.lit("1996-04-01").cast("timestamp_ntz")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _bp(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return j.agg(
        (
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0)))
            / F.sum(rev)
        ).alias("promo_revenue_pct")
    )


SQL_TPCH_Q14_SHAPE = """
    SELECT CAST(100.0 AS DOUBLE)
           * CAST(sum(CASE WHEN p_type = 'ECONOMY'
                 THEN CAST(floor(l_extendedprice * (1 - l_discount) * 10000.0
                                 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT)
           / CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000.0
                                 + 0.5) AS BIGINT)) AS BIGINT)
           AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
"""


QUERIES["tpch_q7"] = q_tpch_q7
ORACLES["tpch_q7"] = SQL_TPCH_Q7
QUERIES["tpch_q10"] = q_tpch_q10
ORACLES["tpch_q10"] = SQL_TPCH_Q10
QUERIES["tpch_q14_shape"] = q_tpch_q14_shape
ORACLES["tpch_q14_shape"] = SQL_TPCH_Q14_SHAPE


def q_tpch_q8(spark, sf_dir) -> DataFrame:
    """TPC-H Q8 national market share: of the AMERICA-customer revenue on
    ECONOMY parts over 1995-1996, what fraction was supplied by NATION_3,
    per order year. Part / nation / region dims broadcast; the two fact
    joins shuffle on their keys. Share is a ratio of two exact-bp sums so
    the division is the only float op (rounded 6 dp both engines)."""
    lo = F.lit("1995-01-01").cast("timestamp_ntz")
    hi = F.lit("1997-01-01").cast("timestamp_ntz")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    nat_c = _t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("cn_key"))
    nat_s = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = _t(spark, sf_dir, "lineitem")
    rev = _bp(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat_c), cust.c_nationkey == F.col("cn_key"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat_s), supp.s_nationkey == F.col("sn_key"))
    )
    agg = j.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0))).alias("nat_bp"),
        F.sum(rev).alias("all_bp"),
    )
    return agg.select(
        "o_year",
        F.round(F.col("nat_bp") / F.col("all_bp"), 6).alias("mkt_share"),
        (F.col("all_bp") / 10000.0).alias("total_revenue"),
    ).orderBy("o_year")


SQL_TPCH_Q8 = """
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           round(sum(CASE WHEN sn.n_name = 'NATION_3'
                          THEN CAST(floor(l_extendedprice * (1 - l_discount)
                                          * 10000.0 + 0.5) AS BIGINT)
                          ELSE 0 END)
                 * 1.0
                 / sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                  * 10000.0 + 0.5) AS BIGINT)), 6) AS mkt_share,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5)
                    AS BIGINT)) / 10000.0 AS total_revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region ON cn.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
      AND o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY o_year
    ORDER BY o_year
"""


def q_tpch_q13_shape(spark, sf_dir) -> DataFrame:
    """TPC-H Q13 customer order-count distribution: LEFT join so zero-order
    customers land in the c_count=0 bucket (the query's whole point), with
    the non-urgent-priority filter standing in for Q13's comment LIKE. Two
    shuffles total: custkey count, then the tiny c_count regroup."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left"
    ).groupBy("c_custkey").agg(F.count("o_orderkey").alias("c_count"))
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


SQL_TPCH_Q13_SHAPE = """
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
"""


def q_tpch_q15(spark, sf_dir) -> DataFrame:
    """TPC-H Q15 top supplier: per-supplier revenue over 1996Q1, keep the
    supplier(s) hitting the max. The max is a 1-row aggregate broadcast back
    onto the per-supplier relation — no unpartitioned window, and the
    integer-bp revenue makes the max equality cross-engine stable."""
    lo = F.lit("1996-01-01").cast("timestamp_ntz")
    hi = F.lit("1996-04-01").cast("timestamp_ntz")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    rev = _bp(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    per_supp = li.groupBy("l_suppkey").agg(F.sum(rev).alias("rev_bp"))
    top = per_supp.agg(F.max("rev_bp").alias("max_bp"))
    supp = _t(spark, sf_dir, "supplier")
    return (
        per_supp.join(F.broadcast(top), F.col("rev_bp") == F.col("max_bp"))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_bp") / 10000.0).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


SQL_TPCH_Q15 = """
    WITH revenue AS (
        SELECT l_suppkey,
               sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000.0
                              + 0.5) AS BIGINT)) AS rev_bp
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, rev_bp / 10000.0 AS total_revenue
    FROM revenue
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE rev_bp = (SELECT max(rev_bp) FROM revenue)
    ORDER BY s_suppkey
"""


def q_tpch_q17_shape(spark, sf_dir) -> DataFrame:
    """TPC-H Q17 small-quantity-order revenue for one brand: the correlated
    `l_quantity < 0.2 * avg(per part)` subquery rewritten as a self-agg
    join. The threshold compare runs in integers (qty_bp * 5 * cnt <
    sum_qty_bp) so no float boundary can flip a row between engines."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#19")
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    stats = li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        F.sum(_bp(F.col("l_quantity"))).alias("sum_qty_bp"),
        F.count(F.lit(1)).alias("cnt"),
    )
    small = li.join(F.broadcast(stats), F.col("l_partkey") == F.col("ap_key")).filter(
        _bp(F.col("l_quantity")) * F.lit(5) * F.col("cnt") < F.col("sum_qty_bp")
    )
    return small.agg(
        F.round(F.sum(_bp(F.col("l_extendedprice"))) / 10000.0 / 7.0, 6).alias(
            "avg_yearly"
        ),
        F.count(F.lit(1)).alias("n_small"),
    )


SQL_TPCH_Q17_SHAPE = """
    WITH branded AS (
        SELECT l_partkey, l_quantity, l_extendedprice
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#19'
    ), stats AS (
        SELECT l_partkey AS ap_key,
               sum(CAST(floor(l_quantity * 10000.0 + 0.5) AS BIGINT))
                 AS sum_qty_bp,
               count(*) AS cnt
        FROM branded GROUP BY l_partkey
    )
    SELECT round(sum(CAST(floor(l_extendedprice * 10000.0 + 0.5) AS BIGINT))
                 / 10000.0 / 7.0, 6) AS avg_yearly,
           count(*) AS n_small
    FROM branded JOIN stats ON l_partkey = ap_key
    WHERE CAST(floor(l_quantity * 10000.0 + 0.5) AS BIGINT) * 5 * cnt
          < sum_qty_bp
"""


def q_tpch_q18(spark, sf_dir) -> DataFrame:
    """TPC-H Q18 large-volume customers: orders whose total quantity exceeds
    250, joined back to customer. The HAVING threshold runs on the integer
    bp sum; ties under the LIMIT are broken by the full key chain."""
    li = _t(spark, sf_dir, "lineitem")
    big = li.groupBy("l_orderkey").agg(
        F.sum(_bp(F.col("l_quantity"))).alias("qty_bp")
    ).filter(F.col("qty_bp") > F.lit(250) * F.lit(10000))
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    j = big.join(orders, F.col("l_orderkey") == orders.o_orderkey).join(
        cust, orders.o_custkey == cust.c_custkey
    )
    return (
        j.select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("timestamp").cast("long").alias("o_orderdate"),
            "o_totalprice",
            (F.col("qty_bp") / 10000.0).alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


SQL_TPCH_Q18 = """
    WITH big AS (
        SELECT l_orderkey,
               sum(CAST(floor(l_quantity * 10000.0 + 0.5) AS BIGINT)) AS qty_bp
        FROM lineitem
        GROUP BY l_orderkey
        HAVING qty_bp > 250 * 10000
    )
    SELECT c_name, c_custkey, o_orderkey,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_orderdate,
           o_totalprice, qty_bp / 10000.0 AS sum_qty
    FROM big
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 100
"""


def q_tpch_q19_shape(spark, sf_dir) -> DataFrame:
    """TPC-H Q19 discounted revenue: OR-of-ANDs over three brand/size/
    quantity bands — the classic disjunctive-predicate pushdown shape. The
    part dim broadcasts; quantity bounds compare on integer bp."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    qbp = _bp(F.col("l_quantity"))
    band = (
        (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 5)
            & (qbp >= 1 * 10000) & (qbp <= 11 * 10000)
        )
        | (
            (F.col("p_brand") == "Brand#22")
            & F.col("p_size").between(1, 10)
            & (qbp >= 10 * 10000) & (qbp <= 20 * 10000)
        )
        | (
            (F.col("p_brand") == "Brand#25")
            & F.col("p_size").between(1, 15)
            & (qbp >= 20 * 10000) & (qbp <= 30 * 10000)
        )
    )
    rev = _bp(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(band)
        .agg(
            (F.sum(rev) / 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_TPCH_Q19_SHAPE = """
    SELECT sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5)
                    AS BIGINT)) / 10000.0 AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 5
           AND CAST(floor(l_quantity * 10000.0 + 0.5) AS BIGINT)
               BETWEEN 1 * 10000 AND 11 * 10000)
       OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 10
           AND CAST(floor(l_quantity * 10000.0 + 0.5) AS BIGINT)
               BETWEEN 10 * 10000 AND 20 * 10000)
       OR (p_brand = 'Brand#25' AND p_size BETWEEN 1 AND 15
           AND CAST(floor(l_quantity * 10000.0 + 0.5) AS BIGINT)
               BETWEEN 20 * 10000 AND 30 * 10000)
"""


def q_tpch_q22_shape(spark, sf_dir) -> DataFrame:
    """TPC-H Q22 global sales opportunity: customers with above-average
    positive balance and no RECENT orders (none since 1999 — every synthetic
    customer has some order, so the lapse cutoff keeps the anti-join
    non-vacuous), rolled up by nation (standing in for the phone-prefix
    country code the synthetic schema lacks). The average is a 1-row
    broadcast and the threshold compares integers (bal_bp * cnt > sum_bp);
    the no-recent-orders test is a left-anti join."""
    cust = _t(spark, sf_dir, "customer")
    pos = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(_bp(F.col("c_acctbal"))).alias("sum_bp"),
        F.count(F.lit(1)).alias("cnt"),
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp_ntz"))
        .select("o_custkey")
        .distinct()
    )
    rich = cust.crossJoin(F.broadcast(pos)).filter(
        _bp(F.col("c_acctbal")) * F.col("cnt") > F.col("sum_bp")
    )
    lonely = rich.join(
        orders, rich.c_custkey == orders.o_custkey, "left_anti"
    )
    return (
        lonely.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum(_bp(F.col("c_acctbal"))) / 10000.0).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


SQL_TPCH_Q22_SHAPE = """
    WITH pos AS (
        SELECT sum(CAST(floor(c_acctbal * 10000.0 + 0.5) AS BIGINT)) AS sum_bp,
               count(*) AS cnt
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey, count(*) AS numcust,
           sum(CAST(floor(c_acctbal * 10000.0 + 0.5) AS BIGINT)) / 10000.0
             AS totacctbal
    FROM customer, pos
    WHERE CAST(floor(c_acctbal * 10000.0 + 0.5) AS BIGINT) * cnt > sum_bp
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY c_nationkey
    ORDER BY c_nationkey
"""


QUERIES["tpch_q8"] = q_tpch_q8
ORACLES["tpch_q8"] = SQL_TPCH_Q8
QUERIES["tpch_q13_shape"] = q_tpch_q13_shape
ORACLES["tpch_q13_shape"] = SQL_TPCH_Q13_SHAPE
QUERIES["tpch_q15"] = q_tpch_q15
ORACLES["tpch_q15"] = SQL_TPCH_Q15
QUERIES["tpch_q17_shape"] = q_tpch_q17_shape
ORACLES["tpch_q17_shape"] = SQL_TPCH_Q17_SHAPE
QUERIES["tpch_q18"] = q_tpch_q18
ORACLES["tpch_q18"] = SQL_TPCH_Q18
QUERIES["tpch_q19_shape"] = q_tpch_q19_shape
ORACLES["tpch_q19_shape"] = SQL_TPCH_Q19_SHAPE
QUERIES["tpch_q22_shape"] = q_tpch_q22_shape
ORACLES["tpch_q22_shape"] = SQL_TPCH_Q22_SHAPE


# --------------------------------------------------------------------------
# TPC-H Q2/Q9/Q11/Q16/Q20/Q21 shapes — the six that classically need the
# partsupp table (or l_commitdate), which the synthetic star schema lacks.
# Each keeps the query's join/subquery STRUCTURE over a derived
# part-supplier relation: lineitem grouped by (l_partkey, l_suppkey), with
# min line price standing in for ps_supplycost and summed quantity for
# ps_availqty, all in exact integer basis points. At 100 TB the derived
# relation is one map-side-combinable shuffle on the pair key and is tiny
# relative to the fact table, so every downstream "dim-like" use of it
# (min-per-part, value threshold) broadcasts or re-shuffles cheaply.
# --------------------------------------------------------------------------
def _psl(spark, sf_dir) -> DataFrame:
    """Derived part-supplier relation: min line price (bp) + total shipped
    quantity (bp) per (l_partkey, l_suppkey)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.min(_bp(F.col("l_extendedprice"))).alias("cost_bp"),
        F.sum(_bp(F.col("l_quantity"))).alias("avail_bp"),
    )


SQL_PSL = """
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               min(CAST(floor(l_extendedprice * 10000.0 + 0.5) AS BIGINT))
                 AS cost_bp,
               sum(CAST(floor(l_quantity * 10000.0 + 0.5) AS BIGINT))
                 AS avail_bp
        FROM lineitem GROUP BY 1, 2
"""


def q_tpch_q2_shape(spark, sf_dir) -> DataFrame:
    """TPC-H Q2 minimum-cost supplier: for each LARGE part, the EUROPE
    supplier(s) offering it at the per-part minimum derived cost. The
    correlated min subquery is rewritten as a per-part agg broadcast back
    onto the candidate relation — equality on integer bp, so no float
    boundary; no window anywhere."""
    psl = _psl(spark, sf_dir)
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "LARGE")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nat = _t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    )
    cand = psl.join(F.broadcast(part), psl.ps_partkey == part.p_partkey).join(
        supp, psl.ps_suppkey == supp.s_suppkey
    )
    mins = cand.groupBy(F.col("ps_partkey").alias("mp_key")).agg(
        F.min("cost_bp").alias("min_bp")
    )
    return (
        cand.join(
            F.broadcast(mins),
            (F.col("ps_partkey") == F.col("mp_key"))
            & (F.col("cost_bp") == F.col("min_bp")),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("p_partkey"),
            "p_name",
            (F.col("cost_bp") / 10000.0).alias("supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


SQL_TPCH_Q2_SHAPE = f"""
    WITH psl AS ({SQL_PSL}),
    cand AS (
        SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
               ps_partkey, cost_bp
        FROM psl
        JOIN part ON ps_partkey = p_partkey AND p_type = 'LARGE'
        JOIN supplier ON ps_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
           cost_bp / 10000.0 AS supplycost
    FROM cand
    WHERE cost_bp = (SELECT min(cost_bp) FROM cand c2
                     WHERE c2.ps_partkey = cand.ps_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
"""


def q_tpch_q9_shape(spark, sf_dir) -> DataFrame:
    """TPC-H Q9 product-type profit by (supplier nation, order year) for
    'red' parts. ps_supplycost is proxied by 40% of retail list value
    (p_retailprice * l_quantity * 0.4) — the one float product, written in
    the SAME left-assoc order in both engines before the bp floor."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    rev = _bp(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    cost = _bp(F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.4))
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
    )
    return (
        j.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(((F.sum(rev) - F.sum(cost)) / 10000.0).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


SQL_TPCH_Q9_SHAPE = """
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
           (sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5)
                     AS BIGINT))
            - sum(CAST(floor(p_retailprice * l_quantity * 0.4 * 10000.0 + 0.5)
                       AS BIGINT))) / 10000.0 AS sum_profit
    FROM lineitem
    JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    GROUP BY 1, 2
    ORDER BY 1, 2 DESC
"""


def q_tpch_q11_shape(spark, sf_dir) -> DataFrame:
    """TPC-H Q11 important stock: parts whose ASIA-supplied value exceeds
    0.1% of the global ASIA total. The global total is a 1-row aggregate
    broadcast back (NOT a window), and the threshold compares integers
    (value_bp * 1000 > total_bp) so the fraction can't float-flip."""
    psl = _psl(spark, sf_dir)
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nat = _t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    ).select(F.col("s_suppkey").alias("as_key"))
    scoped = psl.join(F.broadcast(supp), psl.ps_suppkey == F.col("as_key"))
    per_part = scoped.groupBy("ps_partkey").agg(
        F.sum(F.col("cost_bp") * (F.col("avail_bp") / F.lit(10000)).cast("long")).alias("value_bp")
    )
    total = per_part.agg(F.sum("value_bp").alias("total_bp"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_bp") * F.lit(1000) > F.col("total_bp"))
        .select("ps_partkey", (F.col("value_bp") / 10000.0).alias("value"))
        .orderBy(F.desc("value"), "ps_partkey")
    )


SQL_TPCH_Q11_SHAPE = f"""
    WITH psl AS ({SQL_PSL}),
    per_part AS (
        SELECT ps_partkey,
               sum(cost_bp * CAST(avail_bp // 10000 AS BIGINT)) AS value_bp
        FROM psl
        JOIN supplier ON ps_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
        GROUP BY ps_partkey
    )
    SELECT ps_partkey, value_bp / 10000.0 AS value
    FROM per_part, (SELECT sum(value_bp) AS total_bp FROM per_part)
    WHERE value_bp * 1000 > total_bp
    ORDER BY value DESC, ps_partkey
"""


def q_tpch_q16_shape(spark, sf_dir) -> DataFrame:
    """TPC-H Q16 supplier-count distribution per (brand, type, size),
    excluding one brand and PROMO parts, with negative-balance suppliers
    standing in for Q16's complaint-comment NOT IN — expressed as a
    left-anti join (the scalable anti-semantics, null-safe by construction
    unlike SQL NOT IN)."""
    psl = _psl(spark, sf_dir)
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13") & (F.col("p_type") != "PROMO")
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("bad_key")
    )
    kept = psl.join(
        F.broadcast(bad), psl.ps_suppkey == F.col("bad_key"), "left_anti"
    )
    return (
        kept.join(F.broadcast(part), kept.ps_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
        .limit(50)
    )


SQL_TPCH_Q16_SHAPE = f"""
    WITH psl AS ({SQL_PSL})
    SELECT p_brand, p_type, p_size,
           count(DISTINCT ps_suppkey) AS supplier_cnt
    FROM psl
    JOIN part ON ps_partkey = p_partkey
    WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
      AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
                             WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    LIMIT 50
"""


def q_tpch_q20_shape(spark, sf_dir) -> DataFrame:
    """TPC-H Q20 excess-availability suppliers: EUROPE suppliers who, on
    some 'red' part, shipped LESS in 1996 than across all other years
    combined (total > 2x the 1996 quantity — the availqty > 0.5*shipped
    test over the derived relation). The nested EXISTS chain becomes two
    semi-joins; quantities compare as integers."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    yr = F.year("l_shipdate")
    pairs = li.groupBy(
        F.col("l_partkey").alias("gp_key"), F.col("l_suppkey").alias("gs_key")
    ).agg(
        F.sum(_bp(F.col("l_quantity"))).alias("total_bp"),
        F.sum(F.when(yr == 1996, _bp(F.col("l_quantity"))).otherwise(F.lit(0))).alias(
            "y96_bp"
        ),
    )
    excess = pairs.filter(
        (F.col("y96_bp") > 0) & (F.col("total_bp") > F.lit(2) * F.col("y96_bp"))
    ).join(F.broadcast(part), F.col("gp_key") == part.p_partkey, "left_semi")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nat = _t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return (
        supp.join(
            excess.select("gs_key").distinct(),
            supp.s_suppkey == F.col("gs_key"),
            "left_semi",
        )
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


SQL_TPCH_Q20_SHAPE = """
    WITH pairs AS (
        SELECT l_partkey AS gp_key, l_suppkey AS gs_key,
               sum(CAST(floor(l_quantity * 10000.0 + 0.5) AS BIGINT))
                 AS total_bp,
               sum(CASE WHEN year(l_shipdate) = 1996
                        THEN CAST(floor(l_quantity * 10000.0 + 0.5) AS BIGINT)
                        ELSE 0 END) AS y96_bp
        FROM lineitem GROUP BY 1, 2
    )
    SELECT s_name, s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
    WHERE s_suppkey IN (
        SELECT gs_key FROM pairs
        WHERE y96_bp > 0 AND total_bp > 2 * y96_bp
          AND gp_key IN (SELECT p_partkey FROM part
                         WHERE p_name LIKE 'red%')
    )
    ORDER BY s_name
"""


def q_tpch_q21_shape(spark, sf_dir) -> DataFrame:
    """TPC-H Q21 suppliers who kept orders waiting: in finished ('F')
    multi-supplier orders, the supplier who was the ONLY late one (late =
    shipped >30 days after the order date, standing in for receipt >
    commit). The EXISTS / NOT EXISTS pair over other lineitems becomes one
    per-order aggregate (distinct suppliers, distinct late suppliers)
    joined back to the late pairs — two shuffles on l_orderkey, no
    correlated per-row probes."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem")
    fo = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    per_order = fo.groupBy(F.col("l_orderkey").alias("po_key")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late"),
    )
    late_pairs = fo.filter(late).select("l_orderkey", "l_suppkey").distinct()
    qual = late_pairs.join(
        per_order,
        (F.col("l_orderkey") == F.col("po_key"))
        & (F.col("n_supp") > 1)
        & (F.col("n_late") == 1),
    )
    supp = _t(spark, sf_dir, "supplier")
    return (
        qual.join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


SQL_TPCH_Q21_SHAPE = """
    WITH fo AS (
        SELECT l_orderkey, l_suppkey,
               l_shipdate > o_orderdate + INTERVAL 30 DAY AS late
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus = 'F'
    ),
    per_order AS (
        SELECT l_orderkey AS po_key,
               count(DISTINCT l_suppkey) AS n_supp,
               count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
        FROM fo GROUP BY 1
    )
    SELECT s_name, count(*) AS numwait
    FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM fo WHERE late) lp
    JOIN per_order ON lp.l_orderkey = po_key AND n_supp > 1 AND n_late = 1
    JOIN supplier ON lp.l_suppkey = s_suppkey
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
"""


QUERIES["tpch_q2_shape"] = q_tpch_q2_shape
ORACLES["tpch_q2_shape"] = SQL_TPCH_Q2_SHAPE
QUERIES["tpch_q9_shape"] = q_tpch_q9_shape
ORACLES["tpch_q9_shape"] = SQL_TPCH_Q9_SHAPE
QUERIES["tpch_q11_shape"] = q_tpch_q11_shape
ORACLES["tpch_q11_shape"] = SQL_TPCH_Q11_SHAPE
QUERIES["tpch_q16_shape"] = q_tpch_q16_shape
ORACLES["tpch_q16_shape"] = SQL_TPCH_Q16_SHAPE
QUERIES["tpch_q20_shape"] = q_tpch_q20_shape
ORACLES["tpch_q20_shape"] = SQL_TPCH_Q20_SHAPE
QUERIES["tpch_q21_shape"] = q_tpch_q21_shape
ORACLES["tpch_q21_shape"] = SQL_TPCH_Q21_SHAPE


# --------------------------------------------------------------------------
# Bucketed-layout co-located join (sources/bucketed.py)
# --------------------------------------------------------------------------
def q_bucketed_join(spark, sf_dir) -> DataFrame:
    """Shuffle-free fact-to-fact join via bucketed layout (sources/
    bucketed.py): orders and lineitem are first persisted as 8-bucket
    tables on the order key, then joined — the join plan has NO Exchange
    on either side (asserted in tests/test_explain_plans.py); the only
    shuffle left is the final small groupBy on priority. At 10^10 rows
    this converts every downstream same-key join from a multi-TB shuffle
    into an aligned per-bucket scan. Result is layout-independent, so the
    DuckDB twin is the plain join-aggregate. l_quantity is integral by
    construction — cast to long keeps the cross-engine sum exact."""
    import os
    import tempfile

    from .sources.bucketed import bucketed_join, write_bucketed

    base = tempfile.mkdtemp(prefix="mcs_bucketed_")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("long").alias("qty")
    )
    ot = write_bucketed(
        o, "mcs_bucketed_orders", "o_orderkey", 8, os.path.join(base, "o")
    )
    lt = write_bucketed(
        li, "mcs_bucketed_lineitem", "l_orderkey", 8, os.path.join(base, "l")
    )
    j = bucketed_join(ot, lt, "o_orderkey", "l_orderkey")
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("qty").alias("sum_qty"),
        )
        .orderBy("o_orderpriority")
    )


SQL_BUCKETED_JOIN = """
    SELECT o_orderpriority,
           count(*) AS n_lines,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""

QUERIES["bucketed_join"] = q_bucketed_join
ORACLES["bucketed_join"] = SQL_BUCKETED_JOIN


# --------------------------------------------------------------------------
# Explicit skew-salted join (operators/skew.py)
# --------------------------------------------------------------------------
def q_salted_join(spark, sf_dir) -> DataFrame:
    """Replicate-salted equi-join (operators/skew.py::salted_join): the
    named hot part keys are scattered over 8 salts on the fact side while
    the dim side replicates only those keys 8-fold — the planned-hot-key
    discipline the crawl uses for image-stats fan-out, exposed as a
    reusable operator. The salt provably does not change the result: the
    DuckDB twin is the PLAIN join-aggregate, hash-matched."""
    from .operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("partkey"),
        F.col("l_orderkey").alias("seq"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    p = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("partkey"), "p_brand"
    )
    j = salted_join(
        li, p, on="partkey", dist_col="seq", n_salt=8,
        hot_keys=[555, 558, 817],
    )
    return (
        j.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("qty").alias("sum_qty"),
        )
        .orderBy("p_brand")
    )


SQL_SALTED_JOIN = """
    SELECT p_brand,
           count(*) AS n_lines,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    ORDER BY p_brand
"""

QUERIES["salted_join"] = q_salted_join
ORACLES["salted_join"] = SQL_SALTED_JOIN


# --------------------------------------------------------------------------
# REAL audio (RIFF/WAVE, wav.py) and video (AVI/MJPEG, avi.py) decode —
# closes the round-4 "audio/video env-gated" gap with from-scratch codecs
# --------------------------------------------------------------------------
def _wav_media_table(spark, sf_dir) -> DataFrame:
    """(media_id, bytes) REAL RIFF/WAVE payloads: media w-K (K = p_partkey
    <= 120) is (2 + K%4) seconds of 16-bit mono PCM at 1000 Hz whose sample
    i is the exact integer ((K*2654435761 + i*40503) % 65536) - 32768.
    The sample law is pure int64 arithmetic, so DuckDB can regenerate the
    DECODED samples from first principles and the twins below hash-match
    real codec output — proving wav.py end-to-end, not just plumbing."""
    import numpy as np
    import pandas as pd

    from . import wav

    part = _t(spark, sf_dir, "part").select("p_partkey").where(
        F.col("p_partkey") <= 120
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for k in pdf["p_partkey"]:
                k = int(k)
                n = 1000 * (2 + k % 4)
                v = (
                    (k * 2654435761 + np.arange(n, dtype=np.int64) * 40503)
                    % 65536
                ) - 32768
                rows.append((f"w-{k}", wav.encode_wav(v.astype(np.int16), 1000)))
            yield pd.DataFrame(rows, columns=["media_id", "bytes"])

    return part.mapInPandas(gen, "media_id string, bytes binary")


def q_wav_segments(spark, sf_dir) -> DataFrame:
    """Fixed-window segmentation over REAL WAV binary payloads: duration
    and rate come from parsing the actual RIFF/WAVE header (wav.wav_info),
    not a fixture side-channel — the DuckDB twin regenerates the expected
    grid from the media law, so a hash match proves the header parse."""
    from .operators.multimodal import segment_audio

    return segment_audio(_wav_media_table(spark, sf_dir), window_s=1.0, hop_s=0.5)


SQL_WAV_SEGMENTS = """
    WITH media AS (
      SELECT p_partkey AS k, 1000 * (2 + p_partkey % 4) AS n
      FROM part WHERE p_partkey <= 120
    )
    SELECT 'w-' || k AS media_id,
           CAST(g.i AS INT) AS seg_index,
           0.5 * g.i AS start_s,
           0.5 * g.i + 1.0 AS end_s,
           CAST(1000 AS BIGINT) AS n_samples
    FROM media, LATERAL (
      SELECT unnest(generate_series(0, CAST(n / 500 - 2 AS BIGINT))) AS i
    ) g
"""


def q_wav_segment_energy(spark, sf_dir) -> DataFrame:
    """REAL PCM decode + exact int64 windowed energy/peak per segment
    (operators/multimodal.py::audio_segment_energy over wav.py). The DuckDB
    twin recomputes every sample from the media law and aggregates the SAME
    integers — a bit-exact full-decode oracle over real audio bitstreams."""
    from .operators.multimodal import audio_segment_energy

    return audio_segment_energy(
        _wav_media_table(spark, sf_dir), window_s=1.0, hop_s=0.5
    )


SQL_WAV_SEGMENT_ENERGY = """
    WITH media AS (
      SELECT p_partkey AS k, 1000 * (2 + p_partkey % 4) AS n
      FROM part WHERE p_partkey <= 120
    ),
    segs AS (
      SELECT k, CAST(g.i AS INT) AS seg_index
      FROM media, LATERAL (
        SELECT unnest(generate_series(0, CAST(n / 500 - 2 AS BIGINT))) AS i
      ) g
    ),
    samples AS (
      SELECT s.k, s.seg_index,
             ((s.k * 2654435761 + j.i * 40503) % 65536) - 32768 AS v
      FROM segs s, LATERAL (
        SELECT unnest(generate_series(s.seg_index * 500, s.seg_index * 500 + 999)) AS i
      ) j
    )
    SELECT 'w-' || k AS media_id, seg_index,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(v * v) AS BIGINT) AS sum_sq,
           CAST(max(abs(v)) AS BIGINT) AS peak
    FROM samples
    GROUP BY 1, 2
"""


def _avi_source_frame(k: int, i: int) -> "np.ndarray":
    """Deterministic 16x16 RGB source frame i of video v-K — shared by the
    fixture encoder and the PSNR sound oracle so 'decoded vs source' is a
    real lossy-roundtrip comparison, not self-referential."""
    import numpy as np

    yy, xx = np.mgrid[0:16, 0:16]
    return np.stack(
        [
            (yy * 16 + i * 7 + k) % 256,
            (xx * 16 + k * 3) % 256,
            ((yy + xx) * 8 + i) % 256,
        ],
        axis=-1,
    ).astype(np.uint8)


def _avi_media_table(spark, sf_dir) -> DataFrame:
    """(media_id, bytes) REAL AVI/MJPEG payloads: video v-K (K = p_partkey
    <= 24) has 4 + K%3 frames of deterministic 16x16 RGB at 4 fps, each
    frame a baseline JPEG from the from-scratch encoder at quality 98
    (the >= 40 dB PSNR operating point)."""
    import pandas as pd

    from . import avi

    part = _t(spark, sf_dir, "part").select("p_partkey").where(
        F.col("p_partkey") <= 24
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for k in pdf["p_partkey"]:
                k = int(k)
                frames = [_avi_source_frame(k, i) for i in range(4 + k % 3)]
                rows.append((f"v-{k}", avi.encode_avi_mjpeg(frames, fps=4.0)))
            yield pd.DataFrame(rows, columns=["media_id", "bytes"])

    return part.mapInPandas(gen, "media_id string, bytes binary")


def q_video_frames_real(spark, sf_dir) -> DataFrame:
    """REAL video frame sampling + decode over AVI/MJPEG binary columns
    (operators/multimodal.py::video_frame_stats): sample at 2 fps from the
    4 fps stream, decode only the sampled JPEGs, emit per-frame phash64.
    Rows-only (the phash rides a lossy roundtrip); the paired
    `video_decode_sound` twin re-decodes and enforces PSNR >= 40 dB vs the
    regenerated source pixels — the graft contract's per-row invariant."""
    from .operators.multimodal import video_frame_stats

    return video_frame_stats(_avi_media_table(spark, sf_dir), target_fps=2.0)


def q_video_decode_sound(spark, sf_dir) -> DataFrame:
    """Empty-violations oracle for `video_frames_real`: re-walk every AVI
    payload, decode each SAMPLED frame and regenerate its source pixels
    from the media law, then flag (a) PSNR < 40 dB (lossy-format
    invariant), (b) shape != 16x16, (c) frame_index off the 2-per-second
    grid, (d) per-media sampled-frame count != ceil(n_frames / 2) —
    vacuity-guarded: a media id that emits nothing IS a violation."""
    from . import avi, codecs
    from .operators.multimodal import video_frame_stats

    stats = video_frame_stats(_avi_media_table(spark, sf_dir), target_fps=2.0)
    bad_rows = stats.where(
        ~F.col("decode_ok")
        | (F.col("w") != 16)
        | (F.col("h") != 16)
        | (F.col("frame_index") % 2 != 0)
        | (F.abs(F.col("ts_s") - F.col("frame_index") / 4.0) > 1e-9)
    ).select("media_id", F.lit("bad_frame").alias("reason"))

    k = F.split(F.col("media_id"), "-").getItem(1).cast("long")
    want = F.ceil((F.lit(4) + k % 3) / F.lit(2)).cast("long")
    counts = stats.groupBy("media_id").agg(F.count(F.lit(1)).alias("got"))
    expected = _avi_media_table(spark, sf_dir).select("media_id", "bytes")
    bad_counts = (
        expected.select("media_id")
        .join(counts, "media_id", "left")
        .where(F.col("got").isNull() | (F.col("got") != want))
        .select("media_id", F.lit("bad_count").alias("reason"))
    )

    def psnr_check(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, data in zip(pdf["media_id"], pdf["bytes"]):
                k = int(mid.split("-")[1])
                for fi, payload in avi.iter_avi_frames(bytes(data)):
                    if fi % 2:
                        continue
                    px = codecs.decode_image(payload)
                    if codecs.psnr(_avi_source_frame(k, fi), px) < 40.0:
                        rows.append((mid, "psnr_below_40"))
            yield pd.DataFrame(rows, columns=["media_id", "reason"])

    bad_psnr = expected.mapInPandas(psnr_check, "media_id string, reason string")
    return bad_rows.unionByName(bad_counts).unionByName(bad_psnr)


SQL_VIDEO_DECODE_SOUND = """
    SELECT CAST(NULL AS VARCHAR) AS media_id, CAST(NULL AS VARCHAR) AS reason
    WHERE 1 = 0
"""


QUERIES["wav_segments"] = q_wav_segments
ORACLES["wav_segments"] = SQL_WAV_SEGMENTS
QUERIES["wav_segment_energy"] = q_wav_segment_energy
ORACLES["wav_segment_energy"] = SQL_WAV_SEGMENT_ENERGY
QUERIES["video_frames_real"] = q_video_frames_real
QUERIES["video_decode_sound"] = q_video_decode_sound
ORACLES["video_decode_sound"] = SQL_VIDEO_DECODE_SOUND


# --------------------------------------------------------------------------
# All-format image decode: PNG + JPEG + GIF + BMP + WebP/VP8L — all five
# REAL from-scratch codecs — through one decode_stats sniffing pass
# --------------------------------------------------------------------------
_ALLFMT_CYCLE = ("png", "jpeg", "gif", "bmp", "webp")


def _allfmt_pixels(k: int) -> tuple[str, "np.ndarray"]:
    """Deterministic (fmt, 20x20 RGB pixels) for image i-K: format cycles
    through the five supported codecs; GIF input is drawn from a 64-color
    palette (the format's own constraint), the rest are full-range noise."""
    import numpy as np

    from .fixtures import make_pixels

    fmt = _ALLFMT_CYCLE[k % 5]
    if fmt == "gif":
        rng = np.random.default_rng(k)
        pal = rng.integers(0, 256, (64, 3), dtype=np.uint8)
        return fmt, pal[rng.integers(0, 64, (20, 20))]
    return fmt, make_pixels(21, k, 20, 20)


def _allfmt_table(spark, sf_dir) -> DataFrame:
    """(image_id, fmt, bytes) with REAL bitstreams for all five formats
    (webp is the from-scratch VP8L lossless codec, vp8l.py)."""
    import pandas as pd

    from . import codecs

    part = _t(spark, sf_dir, "part").select("p_partkey").where(
        F.col("p_partkey") <= 100
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for k in pdf["p_partkey"]:
                k = int(k)
                fmt, px = _allfmt_pixels(k)
                rows.append((f"i-{k}", fmt, codecs.encode_image(px, fmt)))
            yield pd.DataFrame(rows, columns=["image_id", "fmt", "bytes"])

    return part.mapInPandas(gen, "image_id string, fmt string, bytes binary")


def q_image_decode_all_formats(spark, sf_dir) -> DataFrame:
    """One sniffing decode pass (E10) over five image formats — all REAL
    from-scratch codecs (PNG, baseline JPEG, GIF 87a/89a, BMP, and
    WebP lossless/VP8L). Rows-only; the `decode_all_sound` twin
    re-derives every phash from regenerated source pixels."""
    from .operators.multimodal import decode_stats

    return decode_stats(_allfmt_table(spark, sf_dir))


def q_decode_all_sound(spark, sf_dir) -> DataFrame:
    """Empty-violations oracle for `image_decode_all_formats`: regenerate
    each image's source pixels from the fixture law, then require
    (a) decode_ok on every row, (b) w = h = 20, (c) phash EXACTLY equal to
    the source phash for the lossless codecs (png/gif/bmp/webp-VP8L —
    their decode must be bit-perfect) and within 2 Hamming bits for the
    one lossy codec (jpeg q98, >= 40 dB), (d) every fixture id present
    (vacuity guard)."""
    import pandas as pd

    from . import codecs
    from .operators.multimodal import decode_stats

    stats = decode_stats(_allfmt_table(spark, sf_dir))

    def check(batches):
        for pdf in batches:
            rows = []
            for iid, w, h, ph, ok in zip(
                pdf["image_id"], pdf["w"], pdf["h"], pdf["phash"], pdf["decode_ok"]
            ):
                k = int(iid.split("-")[1])
                fmt, px = _allfmt_pixels(k)
                if not ok or w != 20 or h != 20:
                    rows.append((iid, "bad_decode"))
                    continue
                dist = bin(int(ph) ^ codecs.phash64(px)).count("1")
                limit = 0 if fmt in ("png", "gif", "bmp", "webp") else 2
                if dist > limit:
                    rows.append((iid, f"phash_off_{fmt}"))
            yield pd.DataFrame(rows, columns=["image_id", "reason"])

    bad = stats.mapInPandas(check, "image_id string, reason string")
    missing = (
        _allfmt_table(spark, sf_dir)
        .select("image_id")
        .join(stats.select("image_id"), "image_id", "left_anti")
        .select("image_id", F.lit("missing").alias("reason"))
    )
    return bad.unionByName(missing)


SQL_DECODE_ALL_SOUND = """
    SELECT CAST(NULL AS VARCHAR) AS image_id, CAST(NULL AS VARCHAR) AS reason
    WHERE 1 = 0
"""

QUERIES["image_decode_all_formats"] = q_image_decode_all_formats
QUERIES["decode_all_sound"] = q_decode_all_sound
ORACLES["decode_all_sound"] = SQL_DECODE_ALL_SOUND
