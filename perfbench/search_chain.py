"""The hybrid query chain ``search_serve`` times, and its pandas twin.

Chain (one query): prepare_search_query -> bm25_scores over chunk bodies
and over page titles, dense_scores against deterministic_embedding(query)
-> ranked_topk of each -> rrf_fuse with weights [2, 2, 1] ->
apply_ranking_boosts with the domain-ranks dim -> ranked_topk ->
unique_pages_diversified -> paginate. The caller collects the result.

``pandas_query`` recomputes the same result from a collected chunks table
with numpy/pandas only; the output check compares the two.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from my_crawler_spark.operators import search as S
from my_crawler_spark.operators.extract import deterministic_embedding

from tracer import Stages
from webgen import ascii_terms

RRF_WEIGHTS = (2.0, 2.0, 1.0)  # body bm25, title bm25, dense
OUT_COLS = ["out_rank", "point_id", "source_url", "score"]


def query_vector(text: str) -> list[float]:
    """deterministic_embedding of the query, evaluated driver-side."""
    vec = deterministic_embedding.func(pd.Series([text])).iloc[0]
    return [float(x) for x in vec]


def spark_query(
    chunks: DataFrame, ranks: DataFrame, query: str, limit: int, offset: int,
    stages=None,
) -> DataFrame | None:
    """The lazy result DataFrame of one query; None when the query is empty.

    ``stages`` (a ``tracer.Stages``) forces and times each stage when the
    run is traced."""
    req = S.prepare_search_query(query, limit, offset)
    if req is None:
        return None
    q, k = req["query"], req["candidate_limit"]
    mark = (stages or Stages()).force
    order = lambda col: [F.desc(col), F.col("point_id")]  # noqa: E731
    body = mark("search.bm25", S.ranked_topk(
        S.bm25_scores(chunks, q, id_col="point_id", text_col="chunk_content"),
        order("bm25"), k))
    title = mark("search.bm25", S.ranked_topk(
        S.bm25_scores(chunks, q, id_col="point_id", text_col="page_title"),
        order("bm25"), k))
    dense = mark("search.dense", S.ranked_topk(
        S.dense_scores(chunks, query_vector(q), id_col="point_id"),
        order("cos"), k))
    fused = mark("search.rrf", S.rrf_fuse(
        [(body, RRF_WEIGHTS[0]), (title, RRF_WEIGHTS[1]), (dense, RRF_WEIGHTS[2])],
        "point_id",
    ))
    meta = chunks.select("point_id", "source_url", "page_title")
    boosted = S.apply_ranking_boosts(
        fused.join(meta, "point_id"), q, score_col="rrf_score", ranks_dim=ranks
    )
    ranked = S.ranked_topk(boosted, order("score"), k)
    page = S.paginate(S.unique_pages_diversified(ranked), req["limit"], req["offset"])
    return mark("search.rerank", page.select(*OUT_COLS))


# ---------------------------------------------------------------- pandas twin
def _bm25(ids, texts, q_terms, k1=1.2, b=0.75) -> dict:
    toks = [ascii_terms(t) for t in texts]
    dl = np.array([len(t) for t in toks], dtype=np.float64)
    n = float(len(toks))
    avgdl = dl[dl > 0].mean() if (dl > 0).any() else float("nan")
    tfs = [[t.count(term) for t in toks] for term in q_terms]
    out = {}
    for j, pid in enumerate(ids):
        if not any(tf[j] for tf in tfs):
            continue
        score = 0.0
        for tf_col in tfs:
            tf = tf_col[j]
            df = sum(1 for x in tf_col if x > 0)
            if tf > 0:
                idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
                score += idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl[j] / avgdl))
        out[pid] = score
    return out


def _cosine(embeddings, query_vec: list[float]) -> np.ndarray:
    """``search.cosine`` bit for bit: float32 squares, double products, and
    sums added left to right (cumsum), as the JVM's ``aggregate`` adds; a
    BLAS dot product sums in another order and splits exact ties."""
    emb = np.stack([np.asarray(e, dtype=np.float32) for e in embeddings])
    qv = np.asarray(query_vec, dtype=np.float64)
    dot = np.cumsum(emb.astype(np.float64) * qv, axis=1)[:, -1]
    na = np.sqrt(np.cumsum((emb * emb).astype(np.float64), axis=1)[:, -1])
    nb = np.sqrt(np.cumsum(qv * qv)[-1])
    return dot / (na * nb)


def _top(scores: dict, k: int) -> dict:
    """id -> rank (1-based) over the top k by (score desc, id asc)."""
    items = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return {pid: r + 1 for r, (pid, _s) in enumerate(items)}


def _path_depth(url: str) -> int:
    path = re.sub(r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", "", url)
    path = re.split(r"[?#]", path, maxsplit=1)[0]
    return len([s for s in path.split("/") if s])


def _host(url: str) -> str:
    m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)", url)
    return (m.group(1) if m else "").lower()


def pandas_query(
    chunks: pd.DataFrame, ranks: pd.DataFrame, query: str, limit: int, offset: int
) -> tuple[pd.DataFrame, dict] | None:
    """The same result as ``spark_query`` from a collected chunks table, and
    the boosted score of every candidate by point id."""
    req = S.prepare_search_query(query, limit, offset)
    if req is None:
        return None
    q, k = req["query"], req["candidate_limit"]
    q_terms = ascii_terms(q)  # with repeats, as the boosts count them
    terms = list(dict.fromkeys(q_terms))
    ids = chunks.point_id.tolist()
    body = _top(_bm25(ids, chunks.chunk_content.tolist(), terms), k) if terms else {}
    title = _top(_bm25(ids, chunks.page_title.tolist(), terms), k) if terms else {}
    dense = _top(dict(zip(ids, _cosine(chunks.embedding, query_vector(q)))), k)
    fused: dict[str, float] = {}
    for ranked, w in zip((body, title, dense), RRF_WEIGHTS):
        for pid, r in ranked.items():
            fused[pid] = fused.get(pid, 0.0) + w / (S.RRF_K + r)
    meta = chunks.set_index("point_id")
    rank_of = {}
    for d, r in zip(ranks.domain, ranks["rank"]):
        rank_of[re.sub(r"^www\.", "", re.sub(r"\.$", "", d.lower()))] = int(r)
    boosted = {}
    for pid, base in fused.items():
        url, title_txt = meta.at[pid, "source_url"], meta.at[pid, "page_title"]
        depth = _path_depth(url)
        host = _host(url)
        words = set(ascii_terms(title_txt)) | set(ascii_terms(url))
        cov = sum(t in words for t in q_terms) / len(q_terms) if q_terms else 0.0
        host_words = set(ascii_terms(host)) | set(ascii_terms(title_txt))
        root_match = depth == 0 and all(t in host_words for t in q_terms)
        s = (
            base
            + S.URL_LENGTH_BOOST_FACTOR / max(len(url), 1)
            + (S.DOMAIN_ROOT_BOOST if depth == 0 else 0.0)
            + (S.ROOT_HOST_MATCH_BOOST if root_match else 0.0)
            - (depth * S.PATH_DEPTH_PENALTY if depth > 0 else 0.0)
            + S.EXACT_MATCH_BOOST * cov
        )
        norm = re.sub(r"^www\.", "", re.sub(r"\.$", "", host))
        if norm in rank_of:
            r = float(min(max(rank_of[norm], 1), S.TRANCO_MAX_RANK))
            s += S.POPULARITY_BOOST * (1.0 - math.log(r) / math.log(float(S.TRANCO_MAX_RANK)))
        boosted[pid] = s
    order = sorted(boosted.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    # unique pages: best rank per url, then up to 5 first-per-host to the front
    seen_urls, uniq = set(), []
    for pid, s in order:
        url = meta.at[pid, "source_url"]
        if url not in seen_urls:
            seen_urls.add(url)
            uniq.append((pid, url, s))
    seen_hosts, front = set(), []
    for i, (_pid, url, _s) in enumerate(uniq):
        h = _host(url) or url
        if h not in seen_hosts:
            seen_hosts.add(h)
            if len(front) < 5:
                front.append(i)
    rest = [i for i in range(len(uniq)) if i not in set(front)]
    final = [uniq[i] for i in front + rest]
    rows = [
        (pos + 1, pid, url, s) for pos, (pid, url, s) in enumerate(final)
        if req["offset"] < pos + 1 <= req["offset"] + req["limit"]
    ]
    return pd.DataFrame(rows, columns=OUT_COLS), boosted


def same_results(got: list, want: tuple[pd.DataFrame, dict] | None, rel: float = 1e-9) -> bool:
    """Spark rows vs the pandas twin: as many rows, no id twice, the same
    score at every rank, and each row's score its own (all to ``rel``).

    Ids may differ only where the twin's candidate scores tie to within
    ``rel``: ``rrf_fuse`` sums contributions in no fixed order, so two
    candidates whose exact scores tie can differ in the last bit in Spark
    and swap places."""
    if want is None:
        return not got
    page, scores = want
    close = lambda a, b: abs(a - b) <= rel * max(1.0, abs(b))  # noqa: E731
    return (
        len(got) == len(page)
        and len({r.point_id for r in got}) == len(got)
        and all(
            r.out_rank == o and close(r.score, s)
            and (r.point_id == pid or close(r.score, scores.get(r.point_id, math.inf)))
            for r, pid, s, o in zip(got, page.point_id, page.score, page.out_rank)
        )
    )
