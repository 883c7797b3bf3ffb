"""Search-side relational operators (R1-R10, SURVEY.md §2.5).

Everything here is pure DataFrame algebra — windows, joins, column math —
so each operator has an exact ANSI-SQL twin for the DuckDB oracle
(__spark_entry__.oracle_sql).

- bm25_scores   : DataFrame BM25 (the title_bm25/body_bm25 sparse vectors,
                  spider/src/qdrant.rs:52-57, computed relationally)
- dense_scores  : cosine over ArrayType(FloatType) via zip_with/aggregate
- rrf_fuse      : weighted Reciprocal-Rank-Fusion, weights [2.0,2.0,1.0]
                  (api/src/main.rs:237-239); k=60 (classic RRF constant —
                  the reference delegates to Qdrant's internal variant)
- ranking boosts: api/src/ranking.rs:6-13,184-212 — exact constants
- unique_pages + diversify + paginate + knowledge panel:
                  api/src/main.rs:142-206
- plagiarism    : dense top-5 vs threshold (api/src/main.rs:254-297)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.url import url_host, url_path_depth

# api/src/ranking.rs:6-13
URL_LENGTH_BOOST_FACTOR = 0.5
DOMAIN_ROOT_BOOST = 1.25
PATH_DEPTH_PENALTY = 0.12
EXACT_MATCH_BOOST = 3.0
ROOT_HOST_MATCH_BOOST = 2.0
POPULARITY_BOOST = 1.0
TRANCO_MAX_RANK = 1_000_000
RRF_K = 60

TOKEN_SPLIT_RE = "[^a-zA-Z0-9]+"


def tokens(col: Column) -> Column:
    """alnum-split lowercase word list (ranking.rs:87-106 semantics)."""
    return F.filter(F.split(F.lower(col), TOKEN_SPLIT_RE), lambda t: t != "")


def bm25_scores(
    docs: DataFrame,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Classic BM25 as relational algebra -> (id, bm25) for matching docs.

    Plan shape: one explode + two aggregations; df/avgdl are tiny aggregates
    broadcast back in — no driver collection. Scales as a word-count job.
    """
    q_terms = list(dict.fromkeys(_py_tokens(query)))  # uniq, order kept
    if not q_terms:
        return docs.select(F.col(id_col)).limit(0).withColumn("bm25", F.lit(0.0))
    # Single-pass shape (guide §2.3/§2.4): per-doc term counts come from
    # array ops over the token array — no explode, no (id, term) shuffle,
    # no dl/df joins, no separate docs.count() action. The corpus stats
    # (n, avgdl over token-bearing docs, per-term doc frequencies) are ONE
    # 1-row aggregate crossJoined back in (broadcast). Scores are summed
    # term-by-term in fixed query order; every count matches the old
    # explode/groupBy pipeline exactly (dl>0 docs only enter avgdl, docs
    # with no matching term are filtered out).
    # two-step select (the ngrams_from_tokens pattern): materialize the
    # token array once, then take dl + per-term counts off the column —
    # inlining `tokens(text)` into each of the 5 expressions re-ran the
    # split per expression (CollapseProject keeps the split in its own
    # Project because it is non-cheap and multiply referenced)
    toked = docs.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__toks")
    )

    def _count_of(term):  # 1-arg lambda: a 2-arg one would bind the index
        return F.size(F.filter(F.col("__toks"), lambda x: x == F.lit(term)))

    per_doc = toked.select(
        "id",
        F.coalesce(F.size(F.col("__toks")), F.lit(0)).alias("dl"),
        *[
            F.coalesce(_count_of(t), F.lit(0)).alias(f"__tf{i}")
            for i, t in enumerate(q_terms)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg(F.when(F.col("dl") > 0, F.col("dl"))).alias("avgdl"),
        *[
            F.sum((F.col(f"__tf{i}") > 0).cast("long")).alias(f"__df{i}")
            for i in range(len(q_terms))
        ],
    )
    matched = per_doc.filter(
        sum((F.col(f"__tf{i}") for i in range(len(q_terms))), F.lit(0)) > 0
    ).crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(q_terms)):
        tf = F.col(f"__tf{i}")
        idf = F.log(
            (F.col("__n").cast("double") - F.col(f"__df{i}") + 0.5)
            / (F.col(f"__df{i}") + 0.5)
            + 1.0
        )
        w = F.when(
            tf > 0,
            idf
            * (tf * (k1 + 1))
            / (tf + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
        w0 = F.coalesce(w, F.lit(0.0))  # absent term adds exact 0.0
        score = w0 if score is None else score + w0
    return matched.select(F.col("id").alias(id_col), score.alias("bm25"))


def _py_tokens(s: str) -> list[str]:
    import re

    return [t.lower() for t in re.split("[^a-zA-Z0-9]+", s) if t]


def cosine(a: Column, b: Column) -> Column:
    """Cosine over two array<float> columns, JVM-side (no Python)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (na * nb)


def dense_scores(
    embeddings: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine scan -> (id, cos). The ANN variants live in
    operators/simsearch.py; this is the exact baseline."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return embeddings.select(
        F.col(id_col), cosine(F.col(vec_col), q).alias("cos")
    )


def topk(df: DataFrame, score_col: str, k: int, id_col: str) -> DataFrame:
    """rank-stamped top-k: ties broken by id for determinism.

    Distributed shape (guide §2.4): ``orderBy().limit(k)`` compiles to
    TakeOrderedAndProject — per-partition top-k then a bounded merge — so
    the corpus-sized input is never funnelled through one task. The rank
    stamp's global window then runs over exactly k rows, and because
    TakeOrderedAndProject already outputs a single sorted partition the
    window adds NO Exchange and NO Sort (plan-tested in
    tests/test_explain_plans.py). Result-identical to the old
    whole-corpus ``row_number`` window: same total order, same k rows.
    """
    return ranked_topk(df, [F.desc(score_col), F.col(id_col)], k)


def ranked_topk(df: DataFrame, order_cols: list[Column], k: int,
                rank_col: str = "rank") -> DataFrame:
    """Append ``rank_col`` = 1..k over the top-k rows by ``order_cols``
    (must be a total order) without a corpus-wide single-task window:
    TakeOrderedAndProject(k) then a k-row rank stamp."""
    picked = df.orderBy(*order_cols).limit(k)
    w = Window.orderBy(*order_cols)
    return picked.withColumn(rank_col, F.row_number().over(w))


def rrf_fuse(
    ranked: list[tuple[DataFrame, float]], id_col: str, k: int = RRF_K
) -> DataFrame:
    """Weighted RRF: score = Σ_i w_i / (k + rank_i) over lists that contain
    the id (main.rs:208-252 fusion contract, weights [2.0,2.0,1.0])."""
    parts = []
    for i, (df, w) in enumerate(ranked):
        parts.append(
            df.select(
                F.col(id_col), (F.lit(w) / (F.lit(k) + F.col("rank"))).alias("contrib")
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy(id_col).agg(F.sum("contrib").alias("rrf_score"))


# ----------------------------------------------------------------- boosts
def popularity_boost(rank_col: Column) -> Column:
    """popularity_boost (ranking.rs:79-82): 1 - ln(rank)/ln(10^6), clamped."""
    r = F.greatest(F.least(rank_col, F.lit(TRANCO_MAX_RANK)), F.lit(1)).cast("double")
    return F.lit(POPULARITY_BOOST) * (
        F.lit(1.0) - F.log(r) / F.log(F.lit(float(TRANCO_MAX_RANK)))
    )


def query_match_coverage(query: str, title: Column, url: Column) -> Column:
    """query_match_coverage (ranking.rs:84-106): fraction of query terms
    present in title+url word lists (whole-word, alnum-split, lowercase)."""
    q_terms = _py_tokens(query)
    if not q_terms:
        return F.lit(0.0)
    words = F.concat(tokens(title), tokens(url))
    hits = sum(
        (F.array_contains(words, t).cast("int") for t in q_terms), F.lit(0)
    )
    return hits.cast("double") / F.lit(float(len(q_terms)))


def root_host_query_match(query: str, title: Column, url: Column) -> Column:
    """root_host_query_match (ranking.rs:155-175): domain root AND all query
    terms in host+title words."""
    q_terms = _py_tokens(query)
    if not q_terms:
        return F.lit(False)
    words = F.concat(tokens(url_host(url)), tokens(title))
    all_in = None
    for t in q_terms:
        c = F.array_contains(words, t)
        all_in = c if all_in is None else (all_in & c)
    return (url_path_depth(url) == 0) & all_in


def apply_ranking_boosts(
    df: DataFrame,
    query: str,
    score_col: str = "score",
    url_col: str = "source_url",
    title_col: str = "page_title",
    ranks_dim: DataFrame | None = None,
) -> DataFrame:
    """apply_ranking_boost (ranking.rs:184-212) as one column expression."""
    url, title = F.col(url_col), F.col(title_col)
    depth = url_path_depth(url)
    boosted = (
        F.col(score_col)
        + F.lit(URL_LENGTH_BOOST_FACTOR) / F.greatest(F.length(url), F.lit(1)).cast("double")
        + F.when(depth == 0, F.lit(DOMAIN_ROOT_BOOST)).otherwise(F.lit(0.0))
        + F.when(root_host_query_match(query, title, url), F.lit(ROOT_HOST_MATCH_BOOST)).otherwise(F.lit(0.0))
        - F.when(depth > 0, depth.cast("double") * PATH_DEPTH_PENALTY).otherwise(F.lit(0.0))
        + F.lit(EXACT_MATCH_BOOST) * query_match_coverage(query, title, url)
    )
    out = df.withColumn("score", boosted)
    if ranks_dim is not None:
        # normalize_host (ranking.rs:74-78): strip trailing dot + www.
        host = F.regexp_replace(
            F.regexp_replace(url_host(url), r"\.$", ""), r"^www\.", ""
        )
        dim = F.broadcast(
            ranks_dim.select(
                F.regexp_replace(
                    F.regexp_replace(F.lower(F.col("domain")), r"\.$", ""), r"^www\.", ""
                ).alias("__h"),
                F.col("rank").alias("__r"),
            )
        )
        out = (
            out.join(dim, host == F.col("__h"), "left")
            .withColumn(
                "score",
                F.col("score")
                + F.coalesce(popularity_boost(F.col("__r")), F.lit(0.0)),
            )
            .drop("__h", "__r")
        )
    return out


# ------------------------------------------------- dedup/diversify/paginate
def unique_pages_diversified(
    df: DataFrame,
    rank_col: str = "rank",
    url_col: str = "source_url",
    diverse_slots: int = 5,
) -> DataFrame:
    """unique_pages (main.rs:177-206): per-url dedup keeping best rank, then
    the first <=5 distinct-host results move to the front (first-seen per
    host in rank order); everything else follows in original rank order.
    Output adds ``out_rank`` (the final presentation order)."""
    w_url = Window.partitionBy(url_col).orderBy(rank_col)
    uniq = df.withColumn("__rn", F.row_number().over(w_url)).filter(
        F.col("__rn") == 1
    ).drop("__rn")
    host = F.coalesce(url_host(F.col(url_col)), F.col(url_col))
    w_host = Window.partitionBy(host).orderBy(rank_col)
    w_first = Window.orderBy(rank_col)
    flagged = uniq.withColumn("__host_rn", F.row_number().over(w_host)).withColumn(
        "__first_rank",
        F.when(F.col("__host_rn") == 1, F.row_number().over(w_first)).otherwise(F.lit(None)),
    )
    # rank (by rank_col) among first-per-host rows decides the <=5 picks
    w_fph = Window.partitionBy(F.lit(1)).orderBy(
        F.when(F.col("__host_rn") == 1, F.col(rank_col)).otherwise(F.lit(None)).asc_nulls_last()
    )
    flagged = flagged.withColumn(
        "__diverse_pos", F.when(F.col("__host_rn") == 1, F.row_number().over(w_fph))
    )
    picked = F.col("__diverse_pos").isNotNull() & (F.col("__diverse_pos") <= diverse_slots)
    w_out = Window.orderBy(F.when(picked, F.lit(0)).otherwise(F.lit(1)), F.col(rank_col))
    return (
        flagged.withColumn("out_rank", F.row_number().over(w_out))
        .drop("__host_rn", "__first_rank", "__diverse_pos")
    )


def paginate(df: DataFrame, limit: int, offset: int, order_col: str = "out_rank") -> DataFrame:
    """page() (main.rs:157-159): skip(offset).take(limit) AFTER dedup."""
    return df.filter(
        (F.col(order_col) > offset) & (F.col(order_col) <= offset + limit)
    )


def knowledge_panel(df: DataFrame, order_col: str = "out_rank") -> DataFrame:
    """knowledge_panel (main.rs:161-175): first result if it has a real
    title and description."""
    return (
        df.filter(F.col(order_col) == 1)
        .filter(
            (F.trim(F.col("page_title")) != "")
            & (F.trim(F.col("page_title")) != "No Title")
            & (F.trim(F.col("description")) != "")
        )
        .select("page_title", "description", "source_url")
    )


def plagiarism_check(
    embeddings: DataFrame,
    query_vec: list[float],
    threshold: float = 0.6,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """R2 (main.rs:254-297): dense top-5; matches with score >= threshold."""
    scored = dense_scores(embeddings, query_vec, id_col, vec_col)
    return topk(scored, "cos", k, id_col).filter(F.col("cos") >= threshold)


# ------------------------------------------------------- request-side helpers
MAX_SEARCH_LIMIT = 50  # api/src/main.rs:28
MAX_SEARCH_OFFSET = 200  # api/src/main.rs:29
SEARCH_PREFETCH_MULTIPLIER = 4  # api/src/main.rs:30


def prepare_search_query(query: str, limit: int, offset: int) -> dict | None:
    """F11 (main.rs:125-140): collapse whitespace, reject empty, clamp
    limit/offset, derive candidate_limit = (limit+offset) * 4."""
    text = " ".join(query.split())
    if not text:
        return None
    limit = min(limit, MAX_SEARCH_LIMIT)
    offset = min(offset, MAX_SEARCH_OFFSET)
    return {
        "query": text,
        "limit": limit,
        "offset": offset,
        "candidate_limit": (limit + offset) * SEARCH_PREFETCH_MULTIPLIER,
    }


def get_page(chunks: DataFrame, source_url: str, limit: int = 10_000) -> DataFrame:
    """R4 (main.rs:323-363): all chunks of a page in chunk_index order."""
    return (
        chunks.filter(F.col("source_url") == source_url)
        .orderBy("chunk_index")
        .limit(limit)
    )


def exact_count(df: DataFrame) -> int:
    """R3 (main.rs:303-316): exact point count."""
    return df.count()


def inverted_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_postings: int = 0,
) -> DataFrame:
    """Build the inverted index the search side reads: one row per term with
    its document frequency, total term frequency, and the posting list as an
    array of (doc_id, tf) structs ordered by tf DESC (impact order, doc_id
    breaking ties) — the layout that lets a top-k scorer early-terminate.

    `max_postings` > 0 prunes each list to its top-N impacts (static index
    pruning, Carmel et al. 2001); df/total_tf still count the FULL corpus so
    scoring stays unbiased — only the tail of each list is dropped.

    Plan shape: explode -> groupBy(term, doc) tf -> [optional per-term
    window top-N] -> groupBy(term) array_sort(collect_list(...)). The
    (term, doc) agg shuffles once on the pair key; the window and the final
    agg share one Exchange(term). Postings arrays are bounded by
    max_postings at scale — an UNPRUNED hot term ("the") would make a
    gigarow array, which is exactly why the cap exists; tests pin both
    modes. Impact order inside the array comes from array_sort over
    (-tf, doc_id) keys, so no per-group sort task.
    """
    tf = (
        docs.select(F.col(id_col).alias("doc"), F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy("term", "doc")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("total_tf"),
    )
    kept = tf
    if max_postings > 0:
        w = Window.partitionBy("term").orderBy(F.desc("tf"), F.asc("doc"))
        kept = (
            tf.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_postings)
            .drop("__rn")
        )
    lists = kept.groupBy("term").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct((-F.col("tf")).alias("neg"), F.col("doc")))
            ),
            lambda s: F.struct(s["doc"].alias("doc"), (-s["neg"]).alias("tf")),
        ).alias("postings")
    )
    return stats.join(lists, "term").select("term", "df", "total_tf", "postings")


def refresh_postings(
    index: DataFrame,
    old_docs: DataFrame,
    new_docs: DataFrame,
    diff: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_postings: int = 0,
) -> DataFrame:
    """Incremental inverted-index maintenance: given the index built over the
    OLD snapshot, both snapshots, and a recrawl.py::snapshot_diff, rebuild
    ONLY the terms whose postings could have moved — at web scale the round
    diff is a sliver of the corpus, and rebuilding the full 100 TB index per
    crawl round is the thing this operator exists to avoid.

    Touched terms = every term of the OLD text of removed/changed docs plus
    every term of the NEW text of added/changed docs (a term's df/total_tf/
    postings change iff one of those docs contains it). Untouched terms keep
    their index rows via an anti-join; touched terms are recomputed by
    running inverted_postings over just the new-corpus docs that CONTAIN a
    touched term (a semi-join on exploded terms) — for a touched term, every
    doc holding it is in that candidate set, so its corpus-wide stats are
    exact — then filtered back to the touched set (candidate docs also carry
    untouched terms whose candidate-only stats would be wrong).

    Shuffle ledger: two term-explode aggs over the DIFF docs, one semi-join,
    one anti-join, plus inverted_postings over the candidate slice — all
    keyed on term or doc, nothing global. The result is hash-identical to a
    full rebuild over the new snapshot (the entry's oracle IS a full DuckDB
    rebuild).
    """
    changed = diff.filter(F.col("status") != "unchanged").select(
        F.col("key"), F.col("status")
    )
    old_touch = (
        old_docs.join(
            changed.filter(F.col("status").isin("removed", "changed")),
            old_docs[id_col].cast("string") == F.col("key"),
            "left_semi",
        )
        .select(F.explode(tokens(F.col(text_col))).alias("term"))
        .distinct()
    )
    new_touch = (
        new_docs.join(
            changed.filter(F.col("status").isin("added", "changed")),
            new_docs[id_col].cast("string") == F.col("key"),
            "left_semi",
        )
        .select(F.explode(tokens(F.col(text_col))).alias("term"))
        .distinct()
    )
    touched = old_touch.union(new_touch).distinct()

    kept = index.join(touched, "term", "left_anti")

    new_terms = new_docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    candidates = new_docs.join(
        new_terms.join(touched, "term", "left_semi").select(id_col).distinct(),
        id_col,
        "left_semi",
    )
    rebuilt = inverted_postings(
        candidates, id_col=id_col, text_col=text_col, max_postings=max_postings
    ).join(touched, "term", "left_semi")
    return kept.unionByName(rebuilt)
