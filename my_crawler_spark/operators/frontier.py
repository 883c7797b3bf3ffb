"""Frontier-round control plane: the gate fold + link admission (Q3-Q5).

The reference's per-pop gate sequence (crawl_loop.rs:143-256) is inherently
sequential *per request* — budget and blocked-origin state mutate as the
FIFO drains. The heavy plane (fetch join, image decode, chunking) runs
fully distributed; this module then applies the cheap sequential gates over
narrow control columns only:

- ``gate_fold``: one ``mapInPandas`` pass in seq order per request over
  request_id-hash partitions (requests fold in parallel; within a request
  the fold is the semantics, not an implementation shortcut). Control row
  ~100 bytes; the per-row loop is linear, so one request's 10^6-row round
  folds in seconds on a single task (about 5 s single-threaded).
- ``admit_links``: the enqueue-dedup (crawl_loop.rs:258-272) as joins. The
  queued/visited checks are *time-sensitive* — a link target is skipped
  only if its conflict existed at the moment its parent popped — expressed
  as seq-inequality join conditions (see inline notes), then a per-target
  min-(parent_seq, link_idx) winner. Links to urls already in url_seen
  at round start go by one exact anti-join.

Gate order per popped row (must match crawl_loop.rs exactly):
1. budget: crawled >= max_pages -> silent drop (depth>max still counted)
2. depth  > max_depth -> skipped_depth          (crawl_loop.rs:145-150)
3. visited or blocked-origin -> silent drop     (crawl_loop.rs:153-156)
4. mark visited                                 (crawl_loop.rs:158)
5. robots disallow -> skipped_robots            (crawl_loop.rs:160-165)
6. fetch blocked(403) -> block origin           (crawl_loop.rs:187-195)
7. fetch failed -> failed                       (crawl_loop.rs:196-201)
8. mark final_url visited; trap(final) -> drop  (crawl_loop.rs:203-206)
9. crawled += 1; indexed += has_chunks          (crawl_loop.rs:223-233)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.url import (
    canonicalize_url,
    is_crawl_trap,
    looks_like_file_url,
    url_host,
    url_origin,
)

FOLD_IN_COLS = [
    "request_id", "seq", "url", "depth", "origin", "pre_visited", "pre_blocked",
    "robots_allowed_flag", "fetch_kind", "final_url", "blocked_url",
    "final_is_trap", "has_chunks", "max_pages", "max_depth", "crawled_so_far",
]

FOLD_OUT_SCHEMA = StructType(
    [
        StructField("request_id", LongType()),
        StructField("seq", LongType()),
        StructField("url", StringType()),
        StructField("depth", IntegerType()),
        StructField("outcome", StringType()),
        StructField("final_url", StringType()),
        StructField("visited_mark", BooleanType()),
        StructField("final_mark", BooleanType()),
        StructField("new_blocked_origin", StringType()),
        StructField("crawled_flag", BooleanType()),
        StructField("indexed_flag", BooleanType()),
    ]
)


class _ReqState:
    """Carried fold state for one request — O(new-visited set), never a
    materialized frame: the streaming fold holds at most one Arrow batch of
    control rows in memory while the set/counters span the whole round."""

    __slots__ = ("crawled", "visited", "blocked", "max_pages", "max_depth")

    def __init__(self, seg: pd.DataFrame):
        self.crawled = int(seg["crawled_so_far"].iloc[0])
        self.max_pages = int(seg["max_pages"].iloc[0])
        self.max_depth = int(seg["max_depth"].iloc[0])
        self.visited: set[str] = set()
        self.blocked: set[str] = set()


def _fold_segment(pdf: pd.DataFrame, st: _ReqState) -> pd.DataFrame:
    """Exact sequential gates over one batch segment, mutating the carried
    state (gate order in the module docstring; crawl_loop.rs:143-256)."""
    from ..functions.url import py_origin

    out = []

    def emit(r, outcome, visited=False, final=False, blocked=None,
             crawled_flag=False, indexed_flag=False):
        out.append(
            (r.request_id, r.seq, r.url, r.depth, outcome,
             r.final_url if final else None, visited, final, blocked,
             crawled_flag, indexed_flag)
        )

    for r in pdf.itertuples(index=False):
        if st.crawled >= st.max_pages or r.depth > st.max_depth:
            emit(r, "depth_skip" if r.depth > st.max_depth else "budget_skip")
            continue
        if (
            r.pre_visited
            or r.url in st.visited
            or r.pre_blocked
            or (r.origin in st.blocked)
        ):
            emit(r, "dup_skip")
            continue
        st.visited.add(r.url)
        if not r.robots_allowed_flag:
            emit(r, "robots", visited=True)
            continue
        if r.fetch_kind == "blocked":
            o = py_origin(r.blocked_url) if r.blocked_url else None
            if o:
                st.blocked.add(o)
            emit(r, "blocked", visited=True, blocked=o)
            continue
        if r.fetch_kind != "ok":
            emit(r, "failed", visited=True)
            continue
        st.visited.add(r.final_url)
        if r.final_is_trap:
            emit(r, "final_trap", visited=True, final=True)
            continue
        st.crawled += 1
        emit(
            r, "crawled", visited=True, final=True,
            crawled_flag=True, indexed_flag=bool(r.has_chunks),
        )
    return pd.DataFrame(out, columns=[f.name for f in FOLD_OUT_SCHEMA.fields])


def gate_fold(control: DataFrame) -> DataFrame:
    """Apply the sequential gate semantics per request over control columns.

    Streaming layout (memory contract): rows are hash-partitioned by
    request_id and sorted by (request_id, seq) within the partition, then
    folded through ``mapInPandas`` — one Arrow batch resident at a time
    (``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds it), with only
    the per-request counters + new-visited/blocked string sets carried
    across batches. A 10^8-row request therefore never materializes as one
    pandas frame (the round-1 gate-fold residency hazard). Every segment
    runs the exact per-row gate loop against the carried sets, so the work
    is linear in the round's rows.
    """

    def fold_stream(batches):
        states: dict[int, _ReqState] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            for rid, seg in pdf.groupby("request_id", sort=False):
                st = states.get(rid)
                if st is None:
                    st = states[rid] = _ReqState(seg)
                yield _fold_segment(seg, st)

    return (
        control.select(*FOLD_IN_COLS)
        .repartition("request_id")
        .sortWithinPartitions("request_id", "seq")
        .mapInPandas(fold_stream, FOLD_OUT_SCHEMA)
    )


def admit_links(
    crawled_rows: DataFrame,
    fold_out: DataFrame,
    deferred_frontier: DataFrame,
    url_seen: DataFrame,
    requests_dim: DataFrame,
    spark,
    bloom=None,
) -> DataFrame:
    """New-link admission for one round -> (request_id, url, host, depth,
    parent_seq, link_idx) candidates in reference enqueue order.

    crawled_rows: fold outcome == 'crawled' joined back to outlinks:
                  (request_id, seq, depth, outlinks)
    """
    # extract_links filters (web_visitor.rs:315-331): scheme drop happens via
    # canonicalize returning NULL; file-URL drop; then enqueue trap filter.
    #
    # The canonical url is the generator's output, so it is computed once
    # per link: a filter on a Generate output cannot be pushed beneath it.
    # Computed in a projection, Catalyst would push `isNotNull` and the file
    # and trap conjuncts below it with the canonicalize_url tree substituted
    # into each, evaluating the URL regexes once per conjunct.
    links = (
        crawled_rows.select(
            "request_id",
            F.col("seq").alias("parent_seq"),
            F.col("depth").alias("parent_depth"),
            F.posexplode(F.transform("outlinks", canonicalize_url)).alias("link_idx", "url"),
        )
        .filter(F.col("url").isNotNull())
        .repartition("request_id", "url")
        .filter(~looks_like_file_url(F.col("url")))
        .filter(~is_crawl_trap(F.col("url")))  # enqueue trap gate (crawl_loop.rs:263)
    )
    # same_domain gate (crawl_loop.rs:230-233): origin(link) == origin(seed)
    links = links.join(
        F.broadcast(requests_dim.select("request_id", "seed_origin", "same_domain")),
        "request_id",
    ).filter(
        (~F.col("same_domain")) | (url_origin(F.col("url")) == F.col("seed_origin"))
    ).drop("seed_origin", "same_domain")

    # ORDER: prune with the cheap, unconditional drops first —
    # (1) exact anti-join vs url_seen AS OF ROUND START (links to
    #     previously-visited urls are dropped at any parent seq; this round's
    #     visits must NOT be in this set — they are handled seq-sensitively
    #     by the a(t)/M(t) joins below, because a link whose parent popped
    #     BEFORE the target's final_url visit is legitimately enqueued,
    #     crawl_loop.rs:258-272),
    # (2) still-queued deferred rows,
    # then the seq-inequality joins on the tiny surviving remainder.
    # The runner passes no `bloom`, so (1) is a plain left_anti.
    from .bloom import anti_join_with_bloom

    links = anti_join_with_bloom(
        spark, links, url_seen.select("request_id", "url"),
        ["request_id", "url"], bloom, "url",
    )
    links = links.join(
        deferred_frontier.select("request_id", "url"), ["request_id", "url"], "left_anti"
    )

    # --- time-sensitive queued/visited checks (see module docstring) -------
    # a(t): the admitted row with this url, if any (urls unique per request).
    # The round's fold output is politeness-bounded, so the a(t) and M(t)
    # builds broadcast straight off its checkpoint and the much larger
    # exploded-link side never shuffles for them.
    admitted = F.broadcast(fold_out.select(
        F.col("request_id").alias("__a_rid"),
        F.col("url").alias("__a_url"),
        F.col("seq").alias("__a_seq"),
        F.col("visited_mark").alias("__a_visited"),
    ))
    links = links.join(
        admitted,
        (F.col("request_id") == F.col("__a_rid"))
        & (F.col("url") == F.col("__a_url")),
        "left",
    ).drop("__a_rid", "__a_url")
    # M(t): earliest final_url visit mark for this url
    finals = F.broadcast(
        fold_out.filter(F.col("final_mark"))
        .groupBy("request_id", "final_url")
        .agg(F.min("seq").alias("__m_seq"))
        .select(
            F.col("request_id").alias("__m_rid"),
            F.col("final_url").alias("__m_url"),
            "__m_seq",
        )
    )
    links = links.join(
        finals,
        (F.col("request_id") == F.col("__m_rid"))
        & (F.col("url") == F.col("__m_url")),
        "left",
    ).drop("__m_rid", "__m_url")
    # pass iff: (no admitted row OR (it popped earlier and was not visited))
    #       AND (no final mark at seq <= parent_seq)
    links = links.filter(
        (
            F.col("__a_seq").isNull()
            | ((F.col("__a_seq") < F.col("parent_seq")) & ~F.col("__a_visited"))
        )
        & (F.col("__m_seq").isNull() | (F.col("parent_seq") < F.col("__m_seq")))
    ).drop("__a_seq", "__a_visited", "__m_seq")

    # first enqueuer wins (crawl_loop.rs:269 queued.insert)
    w = Window.partitionBy("request_id", "url").orderBy("parent_seq", "link_idx")
    return (
        links.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .withColumn("depth", (F.col("parent_depth") + 1).cast("int"))
        .withColumn("host", url_host(F.col("url")))
        .drop("parent_depth")
    )


def assign_seqs(new_links: DataFrame, seq_base: DataFrame) -> DataFrame:
    """FIFO enqueue counters: children numbered by (parent_seq, link_idx)
    per request, offset by the request's running max seq (SURVEY §7)."""
    w = Window.partitionBy("request_id").orderBy("parent_seq", "link_idx")
    return (
        new_links.withColumn("__rn", F.row_number().over(w))
        .join(F.broadcast(seq_base), "request_id", "left")
        .withColumn("seq", (F.coalesce(F.col("max_seq"), F.lit(0)) + F.col("__rn")))
        .drop("__rn", "max_seq", "parent_seq", "link_idx")
    )
