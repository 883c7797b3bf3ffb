"""URL kernel parity: Spark exprs vs Python twins vs reference semantics.

Mirrors the reference unit tests at spider/src/web_visitor.rs:339-376 and
spider/src/crawl_loop.rs:296-340 (behavior, not code).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from my_crawler_spark.functions import url as U

CASES = [
    # (raw, canonical-or-None)  — web_visitor.rs:288-301 semantics
    ("https://example.com/page#frag", "https://example.com/page"),
    ("https://example.com/page?utm=1&b=2", "https://example.com/page"),
    ("http://example.com:80/x", "http://example.com/x"),
    ("https://example.com:443/x", "https://example.com/x"),
    ("https://example.com:8443/x", "https://example.com:8443/x"),
    ("HTTPS://EXAMPLE.com/Path", "https://example.com/Path"),
    ("https://example.com", "https://example.com/"),
    ("ftp://example.com/x", None),
    ("mailto:a@b.c", None),
    ("not a url", None),
    ("https://h0.example.com/a0/p1?q=1#f", "https://h0.example.com/a0/p1"),
]

TRAP_CASES = [
    ("https://a.com/login", True),
    ("https://a.com/blog/sign-up/", True),
    ("https://a.com/search/q", True),
    ("https://a.com/research", False),  # segment equality, not substring
    ("https://a.com/loginx", False),
    ("https://a.com/a/calendar", True),
    ("https://a.com/CALENDAR", True),  # lowercased path
    ("https://a.com/ok", False),
]

FILE_CASES = [
    ("https://a.com/x.pdf", True),
    ("https://a.com/x.PDF", True),
    ("https://a.com/archive.tar.gz", True),
    ("https://a.com/x.html", False),
    ("https://a.com/nodot", False),
    ("https://a.com/dir.zip/page", False),  # only last segment counts
]


def test_py_canonicalize():
    for raw, want in CASES:
        assert U.py_canonicalize_url(raw) == want, raw


def test_spark_canonicalize_matches_python(spark):
    df = spark.createDataFrame([(c[0],) for c in CASES], ["url"])
    got = df.select(U.canonicalize_url(F.col("url")).alias("c")).collect()
    for row, (raw, want) in zip(got, CASES):
        assert row.c == want, raw


def test_traps(spark):
    df = spark.createDataFrame([(c[0],) for c in TRAP_CASES], ["url"])
    got = [r.t for r in df.select(U.is_crawl_trap(F.col("url")).alias("t")).collect()]
    for (raw, want), g in zip(TRAP_CASES, got):
        assert g == want, raw
        assert U.py_is_crawl_trap(raw) == want, raw


def test_file_urls(spark):
    df = spark.createDataFrame([(c[0],) for c in FILE_CASES], ["url"])
    got = [r.t for r in df.select(U.looks_like_file_url(F.col("url")).alias("t")).collect()]
    for (raw, want), g in zip(FILE_CASES, got):
        assert g == want, raw
        assert U.py_looks_like_file_url(raw) == want, raw


def test_origin_and_same_origin(spark):
    assert U.py_origin("https://a.com:8443/x") == "https://a.com:8443"
    assert U.py_origin("https://a.com/x") == "https://a.com"
    assert U.py_same_origin("http://a.com/x", "http://a.com:80/y")
    assert not U.py_same_origin("http://a.com/x", "https://a.com/x")
    df = spark.createDataFrame([("https://a.com:8443/x",), ("https://a.com/x",)], ["url"])
    got = [r.o for r in df.select(U.url_origin(F.col("url")).alias("o")).collect()]
    assert got == ["https://a.com:8443", "https://a.com"]


def test_path_depth(spark):
    df = spark.createDataFrame([("https://a.com/a/b/c",), ("https://a.com/",)], ["url"])
    got = [r.d for r in df.selectExpr(f"{U.url_path_depth_sql('url')} AS d").collect()]
    assert got == [3, 0]

