"""Search-side operator tests (R1-R10) — mirrors api/src/main.rs:450-626 and
api/src/ranking.rs:231-432 behavior tests."""

from __future__ import annotations

import math
import re
import struct

import pytest
from pyspark.sql import functions as F

from my_crawler_spark.operators import search as S


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "spark engine for big data processing", "https://spark.example.com/"),
        (2, "the data engine", "https://a.example.com/docs/engine"),
        (3, "spark spark spark engine", "https://b.example.com/blog/spark"),
        (4, "unrelated gardening tips", "https://g.example.com/tips"),
        (5, "spark engine", "https://spark.example.com/"),  # dup url of 1
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "url"])


def test_bm25_ranks_tf_and_idf(spark, docs):
    got = {r.doc_id: r.bm25 for r in S.bm25_scores(docs, "spark engine").collect()}
    assert 4 not in got  # no query terms
    assert got[3] > got[2]  # more tf on 'spark', both have 'engine'
    assert all(v > 0 for v in got.values())


def test_bm25_empty_query(spark, docs):
    assert S.bm25_scores(docs, "!!!").count() == 0


def test_cosine_and_dense_scores(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])], ["vec_id", "embedding"]
    )
    got = {r.vec_id: r.cos for r in S.dense_scores(emb, [1.0, 0.0]).collect()}
    assert got[1] == pytest.approx(1.0)
    assert got[2] == pytest.approx(0.0)
    assert got[3] == pytest.approx(1 / math.sqrt(2))


def test_rrf_weights(spark):
    a = spark.createDataFrame([(1, 1), (2, 2)], ["id", "rank"])
    b = spark.createDataFrame([(2, 1), (1, 2)], ["id", "rank"])
    fused = {r.id: r.rrf_score for r in S.rrf_fuse([(a, 2.0), (b, 1.0)], "id").collect()}
    # id1: 2/(60+1)+1/(60+2); id2: 2/(60+2)+1/(60+1)
    assert fused[1] == pytest.approx(2 / 61 + 1 / 62)
    assert fused[2] == pytest.approx(2 / 62 + 1 / 61)
    assert fused[1] > fused[2]


def test_ranking_boosts_constants(spark):
    df = spark.createDataFrame(
        [(0.0, "https://spark.example.com/", "spark engine"),
         (0.0, "https://a.example.com/a/b/c", "nothing here")],
        ["score", "source_url", "page_title"],
    )
    got = S.apply_ranking_boosts(df, "spark engine").collect()
    by_url = {r.source_url: r.score for r in got}
    root = by_url["https://spark.example.com/"]
    # root: 0.5/26 + 1.25 (root) + 2.0 (root-host match) + 3.0*coverage(1.0)
    assert root == pytest.approx(0.5 / 26 + 1.25 + 2.0 + 3.0, rel=1e-6)
    deep = by_url["https://a.example.com/a/b/c"]
    assert deep == pytest.approx(0.5 / 27 - 3 * 0.12 + 0.0, rel=1e-6)


def test_popularity_boost_curve(spark):
    df = spark.createDataFrame(
        [(0.0, "https://h1.example.com/x/y", "t")], ["score", "source_url", "page_title"]
    )
    ranks = spark.createDataFrame([(1, "h1.example.com")], ["rank", "domain"])
    got = S.apply_ranking_boosts(df, "zzz", ranks_dim=ranks).collect()[0]
    # rank 1 -> boost 1.0; plus url-len and depth terms
    assert got.score == pytest.approx(0.5 / 26 - 2 * 0.12 + 1.0, rel=1e-5)


def test_unique_pages_diversified(spark):
    # mirrors main.rs:495-517: dedup then first-5 distinct hosts first
    rows = [
        (1, "https://a.com/1"),
        (2, "https://a.com/2"),
        (3, "https://a.com/1"),  # dup url, worse rank -> dropped
        (4, "https://b.com/1"),
        (5, "https://c.com/1"),
    ]
    df = spark.createDataFrame(rows, ["rank", "source_url"])
    got = S.unique_pages_diversified(df).orderBy("out_rank").collect()
    urls = [r.source_url for r in got]
    assert urls == [
        "https://a.com/1",  # first a.com
        "https://b.com/1",
        "https://c.com/1",
        "https://a.com/2",  # non-diverse follows in rank order
    ]


def test_paginate_after_dedup(spark):
    rows = [(i, f"https://h{i}.com/") for i in range(1, 8)]
    df = S.unique_pages_diversified(spark.createDataFrame(rows, ["rank", "source_url"]))
    page2 = S.paginate(df, limit=2, offset=2).orderBy("out_rank").collect()
    assert [r.source_url for r in page2] == ["https://h3.com/", "https://h4.com/"]


def test_knowledge_panel_rules(spark):
    df = spark.createDataFrame(
        [(1, "Real Title", "A description", "https://a.com/")],
        ["out_rank", "page_title", "description", "source_url"],
    )
    assert S.knowledge_panel(df).count() == 1
    bad = spark.createDataFrame(
        [(1, "No Title", "d", "https://a.com/"), (1, "T", "", "https://b.com/")],
        ["out_rank", "page_title", "description", "source_url"],
    )
    assert S.knowledge_panel(bad).count() == 0


def test_plagiarism_threshold(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    got = S.plagiarism_check(emb, [1.0, 0.0], threshold=0.6).collect()
    assert {r.vec_id for r in got} == {1, 2}


def test_inverted_postings_impact_order_and_pruning(spark):
    from my_crawler_spark.operators.search import inverted_postings

    docs = spark.createDataFrame(
        [
            (1, "apple apple apple banana"),
            (2, "apple banana banana"),
            (3, "apple cherry"),
        ],
        "doc_id long, text string",
    )
    full = {r["term"]: r.asDict() for r in inverted_postings(docs).collect()}
    assert full["apple"]["df"] == 3 and full["apple"]["total_tf"] == 5
    # impact order: tf desc, doc asc on ties
    assert [(p["doc"], p["tf"]) for p in full["apple"]["postings"]] == [
        (1, 3),
        (2, 1),
        (3, 1),
    ]
    assert [(p["doc"], p["tf"]) for p in full["banana"]["postings"]] == [
        (2, 2),
        (1, 1),
    ]
    pruned = {
        r["term"]: r.asDict()
        for r in inverted_postings(docs, max_postings=1).collect()
    }
    # stats still see the FULL corpus; only the list tail is cut
    assert pruned["apple"]["df"] == 3 and pruned["apple"]["total_tf"] == 5
    assert [(p["doc"], p["tf"]) for p in pruned["apple"]["postings"]] == [(1, 3)]


def test_refresh_postings_equals_full_rebuild(spark):
    from my_crawler_spark.operators.recrawl import snapshot_diff
    from my_crawler_spark.operators.search import inverted_postings, refresh_postings

    import pyspark.sql.functions as F

    old = spark.createDataFrame(
        [
            ("1", "apple banana apple"),
            ("2", "banana cherry"),
            ("3", "date elder date date"),
            ("4", "fig grape"),
        ],
        "doc_id string, text string",
    )
    # 2 removed, 3 changed (loses 'elder', gains 'apple'), 5 added
    new = spark.createDataFrame(
        [
            ("1", "apple banana apple"),
            ("3", "date apple date date"),
            ("4", "fig grape"),
            ("5", "cherry honeydew"),
        ],
        "doc_id string, text string",
    )
    ver = lambda df: df.select(
        F.col("doc_id").alias("url"),
        F.substring(F.sha2(F.col("text"), 256), 1, 12).alias("page_version"),
    )
    diff = snapshot_diff(ver(old), ver(new))
    for cap in (0, 2):
        idx = inverted_postings(old, max_postings=cap)
        got = refresh_postings(idx, old, new, diff, max_postings=cap)
        want = inverted_postings(new, max_postings=cap)
        as_map = lambda df: {
            r["term"]: (r["df"], r["total_tf"], [(p["doc"], p["tf"]) for p in r["postings"]])
            for r in df.collect()
        }
        assert as_map(got) == as_map(want)


def test_building_the_query_chain_stays_cheap(spark, monkeypatch):
    """Building (not running) one hybrid query's operators costs a few
    hundred Py4J commands. Each Column or F.* call is a JVM round trip; the
    operators write their row expressions as SQL text, so a whole query
    built node by node (about 6,000 commands) fails here. Memory-release
    commands ("m\\n") fire at GC time, so they are not counted."""
    import py4j.clientserver

    docs = spark.createDataFrame(
        [(1, "spark engine", "https://www.h1.example.com/a", "Spark", [0.5] * 384)],
        "point_id long, chunk_content string, source_url string, "
        "page_title string, embedding array<float>",
    )
    ranks = spark.createDataFrame([(1, "h1.example.com")], "rank long, domain string")
    vec = [((i * 37) % 101) / 101.0 - 0.5 for i in range(384)]
    order = lambda c: [F.desc(c), F.col("point_id")]  # noqa: E731
    sent = []
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        if not command.startswith("m\n"):
            sent.append(command)
        return send(self, command)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
    q = "spark engine"
    body = S.ranked_topk(
        S.bm25_scores(docs, q, id_col="point_id", text_col="chunk_content"), order("bm25"), 40)
    title = S.ranked_topk(
        S.bm25_scores(docs, q, id_col="point_id", text_col="page_title"), order("bm25"), 40)
    dense = S.ranked_topk(S.dense_scores(docs, vec, id_col="point_id"), order("cos"), 40)
    fused = S.rrf_fuse([(body, 2.0), (title, 2.0), (dense, 1.0)], "point_id")
    boosted = S.apply_ranking_boosts(
        fused.join(docs.select("point_id", "source_url", "page_title"), "point_id"),
        q, score_col="rrf_score", ranks_dim=ranks,
    )
    S.paginate(S.unique_pages_diversified(S.ranked_topk(boosted, order("score"), 40)), 10, 0)
    monkeypatch.undo()
    assert 0 < len(sent) <= 600, len(sent)


def _f32(x: float) -> float:
    return struct.unpack("f", struct.pack("f", x))[0]


def test_dense_scores_equal_left_to_right_cosine(spark):
    """cos is the float64 cosine summed left to right over float32 squares
    of the embedding (the JVM's aggregate; the benchmark's pandas twin
    sums the same way), to the last bit, for query components such as 1/3
    that need all 17 digits and 1e-300 whose square underflows."""
    q = [0.1, 1 / 3, 1e-300, -2.5e-8, 7.0] * 76 + [0.2, -1 / 7, 3.0, 1e-300]
    embs = {
        1: [((i * 7919) % 1013) / 1013.0 - 0.5 for i in range(384)],
        2: [1 / 3 if i % 2 else 1e-30 for i in range(384)],
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in embs.items()], "vec_id long, embedding array<float>"
    )
    scored = S.dense_scores(df, q)
    # the query vector is folded into one literal before execution
    assert "split(" not in scored._jdf.queryExecution().optimizedPlan().toString()
    got = {r.vec_id: r.cos for r in scored.collect()}
    for k, e in embs.items():
        e32 = [_f32(x) for x in e]
        dot = na = nb = 0.0
        for a, b in zip(e32, q):
            dot += a * b
        for a in e32:
            na += _f32(a * a)
        for b in q:
            nb += b * b
        assert got[k] == dot / (math.sqrt(na) * math.sqrt(nb)), k


def _ln(spark):
    """The JVM's natural log (Spark's ln is StrictMath.log, fdlibm), which
    may differ in the last bit from the C library's."""
    return spark.sparkContext._jvm.java.lang.StrictMath.log


def test_bm25_scores_exact(spark):
    """bm25 per doc, to the last bit: a repeated query term counts once, a
    null and an empty text count in n but not in avgdl, and only docs
    holding a query term are scored."""
    rows = [
        (1, "Spark engine, spark!"),
        (2, "the engine of data"),
        (3, None),
        (4, ""),
        (5, "gardening tips and engines"),
        (6, "SPARK"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.bm25 for r in S.bm25_scores(docs, "spark Engine SPARK").collect()}
    ln = _ln(spark)
    toks = {i: [t.lower() for t in re.split("[^a-zA-Z0-9]+", s or "") if t] for i, s in rows}
    dls = [len(t) for t in toks.values() if t]
    n, avgdl = float(len(rows)), sum(dls) / len(dls)
    k1, b = 1.2, 0.75
    want = {}
    for i, words in toks.items():
        ws = []
        for term in ("spark", "engine"):  # in query order, once each
            tf = words.count(term)
            df = sum(term in w for w in toks.values())
            idf = ln((n - df + 0.5) / (df + 0.5) + 1.0)
            w = idf * (tf * (k1 + 1)) / (tf + (len(words) * b / avgdl + (1 - b)) * k1)
            ws.append(w if tf > 0 else 0.0)
        if any(t in words for t in ("spark", "engine")):
            want[i] = ws[0] + ws[1]
    assert sorted(want) == [1, 2, 6]
    assert got == want


def test_ranking_boosts_exact_with_normalized_hosts(spark):
    """Every boost to the last bit, with the popularity join normalizing
    both sides: a www. host and a trailing-dot host match an upper-case
    ranks-dim domain written with the other form, ranks clamp to
    [1, 10^6], and coverage counts a repeated query term twice."""
    rows = [
        (0.25, "https://www.h1.example.com/", "Spark Engine"),
        (0.5, "https://h2.example.com./docs/a", "engine notes"),
        (0.0, "https://h3.example.com/x/y/z?q=spark#f", "nothing"),
        (1.0, "https://h4.example.com/", "h4 spark"),
    ]
    df = spark.createDataFrame(rows, "score double, source_url string, page_title string")
    ranks = spark.createDataFrame(
        [(7, "H1.EXAMPLE.COM."), (1000, "WWW.H2.Example.com"), (5_000_000, "h4.example.com")],
        "rank long, domain string",
    )
    query = "spark engine spark"
    got = {r.source_url: r.score
           for r in S.apply_ranking_boosts(df, query, ranks_dim=ranks).collect()}
    ln = _ln(spark)
    q = ["spark", "engine", "spark"]
    rank_of = {"h1.example.com": 7, "h2.example.com": 1000, "h4.example.com": 5_000_000}
    words_of = lambda s: [t for t in re.split("[^a-z0-9]+", s.lower()) if t]  # noqa: E731
    want = {}
    for score, url, title in rows:
        host = re.match(r"https://([^/:?#]*)", url).group(1).lower()
        path = re.sub(r"[?#].*$", "", url)[len("https://") + len(host):]
        depth = len([s for s in path.split("/") if s])
        words = words_of(title) + words_of(url)
        host_words = words_of(host) + words_of(title)
        cov = float(sum(int(t in words) for t in q)) / float(len(q))
        root = depth == 0 and all(t in host_words for t in q)
        s = (
            score
            + 0.5 / float(max(len(url), 1))
            + (1.25 if depth == 0 else 0.0)
            + (2.0 if root else 0.0)
            - (float(depth) * 0.12 if depth > 0 else 0.0)
            + 3.0 * cov
        )
        norm = re.sub(r"^www\.", "", re.sub(r"\.$", "", host))
        if norm in rank_of:
            r = float(max(min(rank_of[norm], 1_000_000), 1))
            s = s + 1.0 * (1.0 - ln(r) / ln(1_000_000.0))
        want[url] = s
    assert got == want
