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

The query chain's operators (bm25_scores, dense_scores, rrf_fuse,
apply_ranking_boosts, unique_pages_diversified, paginate) write their
per-row expressions as SQL text, parsed JVM-side in one ``selectExpr`` or
``F.expr`` call per column. Every ``Column`` method and ``F.*`` call is a
Py4J round trip: built node by node, one hybrid query (perfbench
``search_serve``) cost 6,075 JVM commands, 1,790 of them ``dense_scores``
with its 384 ``F.lit``s and about 1,100 each BM25 call, and about 1 of its
3-4 CPU-s went to building the DataFrame. As SQL text the whole query takes
518, 417 of them to build it (the rest read the table and collect). Literals
keep ``F.lit``'s types (``_lit``: a float is DOUBLE, which a bare SQL
``0.5`` is not) and the trees keep the Column form's order of operations, so
every score is the same double.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.url import sql_string, url_host_sql, url_path_depth_sql

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


def _lit(x: float) -> str:
    """``x`` as SQL text of the type ``F.lit(x)`` gives it: a Python float
    is DOUBLE (``repr`` round-trips it), an int INT or BIGINT."""
    return f"({float(x)!r}D)" if isinstance(x, float) else f"({int(x)})"


def _tokens_sql(col: str) -> str:
    """alnum-split lowercase word list (ranking.rs:87-106 semantics) of the
    SQL expression ``col``; split never yields a null element, so dropping
    the empty strings needs no lambda."""
    return f"array_remove(split(lower({col}), {sql_string(TOKEN_SPLIT_RE)}), '')"


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
    # inlining the tokens into each of the 5 expressions re-ran the
    # split per expression (CollapseProject keeps the split in its own
    # Project because it is non-cheap and multiply referenced).
    # Query terms are [a-z0-9]+ (_py_tokens), so they embed unescaped.
    terms = range(len(q_terms))
    toked = docs.selectExpr(f"{id_col} AS id", f"{_tokens_sql(text_col)} AS __toks")
    per_doc = toked.selectExpr(
        "id",
        "coalesce(size(__toks), 0) AS dl",
        *[
            f"coalesce(size(filter(__toks, x -> x = '{t}')), 0) AS __tf{i}"
            for i, t in enumerate(q_terms)
        ],
    )
    stats = per_doc.selectExpr(
        "count(1) AS __n",
        "avg(CASE WHEN dl > 0 THEN dl END) AS avgdl",
        *[f"sum(CAST(__tf{i} > 0 AS BIGINT)) AS __df{i}" for i in terms],
    )
    matched = per_doc.filter(
        " + ".join(["0"] + [f"__tf{i}" for i in terms]) + " > 0"
    ).crossJoin(F.broadcast(stats))
    # the absent-term weight is an exact 0.0; terms add in query order
    score = " + ".join(
        f"coalesce(CASE WHEN __tf{i} > 0 THEN"
        f" ln((CAST(__n AS DOUBLE) - __df{i} + 0.5D) / (__df{i} + 0.5D) + 1.0D)"
        f" * (__tf{i} * {_lit(k1 + 1)})"
        f" / (__tf{i} + (dl * {_lit(b)} / avgdl + {_lit(1 - b)}) * {_lit(k1)}) END, 0.0D)"
        for i in terms
    )
    return matched.selectExpr(f"id AS {id_col}", f"{score} AS bm25")


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
    operators/simsearch.py; this is the exact baseline.

    ``cosine``'s expression as SQL text. The query vector is one string
    cast to array<double>, which the optimizer folds into a literal; the
    squares of the float embedding stay float products."""
    q = "CAST(split('" + ",".join(repr(float(x)) for x in query_vec) + "', ',') AS ARRAY<DOUBLE>)"
    squares = "0.0D, (acc, x) -> acc + x * x"
    cos = (
        f"aggregate(zip_with({vec_col}, {q}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
        f" / (sqrt(aggregate({vec_col}, {squares})) * sqrt(aggregate({q}, {squares})))"
    )
    return embeddings.selectExpr(id_col, f"{cos} AS cos")


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
    u = None
    for df, w in ranked:
        part = df.selectExpr(id_col, f"{_lit(w)} / ({_lit(k)} + rank) AS contrib")
        u = part if u is None else u.unionByName(part)
    return u.groupBy(id_col).agg(F.expr("sum(contrib) AS rrf_score"))


# ----------------------------------------------------------------- boosts
def apply_ranking_boosts(
    df: DataFrame,
    query: str,
    score_col: str = "score",
    url_col: str = "source_url",
    title_col: str = "page_title",
    ranks_dim: DataFrame | None = None,
) -> DataFrame:
    """apply_ranking_boost (ranking.rs:184-212) as one column expression.

    - query_match_coverage (ranking.rs:84-106): the fraction of query terms,
      repeats counted, present in the title+url word lists (whole-word,
      alnum-split, lowercase);
    - root_host_query_match (ranking.rs:155-175): a domain root whose
      host+title words hold every query term;
    - popularity_boost (ranking.rs:79-82), with ``ranks_dim``:
      1 - ln(rank)/ln(10^6), rank clamped to [1, 10^6], joined on the
      normalized host.
    """
    q_terms = _py_tokens(query)
    url, title = url_col, title_col
    depth = url_path_depth_sql(url)
    if q_terms:
        words = f"concat({_tokens_sql(title)}, {_tokens_sql(url)})"
        host_words = f"concat({_tokens_sql(url_host_sql(url))}, {_tokens_sql(title)})"
        hits = " + ".join(["0"] + [f"CAST(array_contains({words}, '{t}') AS INT)" for t in q_terms])
        coverage = f"CAST({hits} AS DOUBLE) / {_lit(float(len(q_terms)))}"
        all_in = " AND ".join(f"array_contains({host_words}, '{t}')" for t in q_terms)
        root_match = f"({depth} = 0) AND ({all_in})"
    else:
        coverage, root_match = "0.0D", "false"
    boosted = (
        f"{score_col}"
        f" + {_lit(URL_LENGTH_BOOST_FACTOR)} / CAST(greatest(length({url}), 1) AS DOUBLE)"
        f" + CASE WHEN {depth} = 0 THEN {_lit(DOMAIN_ROOT_BOOST)} ELSE 0.0D END"
        f" + CASE WHEN {root_match} THEN {_lit(ROOT_HOST_MATCH_BOOST)} ELSE 0.0D END"
        f" - CASE WHEN {depth} > 0 THEN CAST({depth} AS DOUBLE) * {_lit(PATH_DEPTH_PENALTY)}"
        f" ELSE 0.0D END"
        f" + {_lit(EXACT_MATCH_BOOST)} * ({coverage})"
    )
    out = df.withColumn("score", F.expr(boosted))
    if ranks_dim is not None:
        # normalize_host (ranking.rs:74-78): strip trailing dot + www.
        def normalize(host: str) -> str:
            dot, www = sql_string(r"\.$"), sql_string(r"^www\.")
            return f"regexp_replace(regexp_replace({host}, {dot}, ''), {www}, '')"

        dim = F.broadcast(
            ranks_dim.selectExpr(f"{normalize('lower(domain)')} AS __h", "rank AS __r")
        )
        r = f"CAST(greatest(least(__r, {_lit(TRANCO_MAX_RANK)}), 1) AS DOUBLE)"
        popularity = (
            f"{_lit(POPULARITY_BOOST)}"
            f" * (1.0D - ln({r}) / ln({_lit(float(TRANCO_MAX_RANK))}))"
        )
        out = (
            out.join(dim, F.expr(f"{normalize(url_host_sql(url))} = __h"), "left")
            .withColumn("score", F.expr(f"score + coalesce({popularity}, 0.0D)"))
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
    row = lambda spec: F.expr(f"row_number() OVER ({spec})")  # noqa: E731
    host = f"coalesce({url_host_sql(url_col)}, {url_col})"
    # rank (by rank_col) among first-per-host rows decides the <=5 picks
    first_per_host = f"CASE WHEN __host_rn = 1 THEN {rank_col} ELSE NULL END ASC NULLS LAST"
    picked = f"__diverse_pos IS NOT NULL AND __diverse_pos <= {_lit(diverse_slots)}"
    return (
        df.withColumn("__rn", row(f"PARTITION BY {url_col} ORDER BY {rank_col}"))
        .filter("__rn = 1")
        .drop("__rn")
        .withColumn("__host_rn", row(f"PARTITION BY {host} ORDER BY {rank_col}"))
        .withColumn("__diverse_pos", F.expr(
            "CASE WHEN __host_rn = 1 THEN row_number()"
            f" OVER (PARTITION BY 1 ORDER BY {first_per_host}) END"
        ))
        .withColumn("out_rank", row(f"ORDER BY CASE WHEN {picked} THEN 0 ELSE 1 END, {rank_col}"))
        .drop("__host_rn", "__diverse_pos")
    )


def paginate(df: DataFrame, limit: int, offset: int, order_col: str = "out_rank") -> DataFrame:
    """page() (main.rs:157-159): skip(offset).take(limit) AFTER dedup."""
    return df.filter(
        f"{order_col} > {_lit(offset)} AND {order_col} <= {_lit(offset + limit)}"
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
        docs.selectExpr(f"{id_col} AS doc", f"explode({_tokens_sql(text_col)}) AS term")
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
        .selectExpr(f"explode({_tokens_sql(text_col)}) AS term")
        .distinct()
    )
    new_touch = (
        new_docs.join(
            changed.filter(F.col("status").isin("added", "changed")),
            new_docs[id_col].cast("string") == F.col("key"),
            "left_semi",
        )
        .selectExpr(f"explode({_tokens_sql(text_col)}) AS term")
        .distinct()
    )
    touched = old_touch.union(new_touch).distinct()

    kept = index.join(touched, "term", "left_anti")

    new_terms = new_docs.selectExpr(id_col, f"explode({_tokens_sql(text_col)}) AS term")
    candidates = new_docs.join(
        new_terms.join(touched, "term", "left_semi").select(id_col).distinct(),
        id_col,
        "left_semi",
    )
    rebuilt = inverted_postings(
        candidates, id_col=id_col, text_col=text_col, max_postings=max_postings
    ).join(touched, "term", "left_semi")
    return kept.unionByName(rebuilt)
