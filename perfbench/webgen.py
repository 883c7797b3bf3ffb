"""Seeded workload inputs. Everything here is a pure function of the seed.

- ``tpch_like``: an ``orders``/``lineitem`` pair with the TPC-H column
  names and shapes the historical ``bench.py`` read from disk (1-7 line
  items per order, uniform customer and part keys), generated instead of
  read so that the benchmark reads nothing outside its checkout.
- ``bulk_web``: the ``bench.py::build_synthetic_web`` shape over those
  tables: one page per order, hosts and crawl requests keyed by customer,
  outlinks from line items, all within the page's own request.
- ``search_queries``: query strings and (limit, offset) pages drawn from the
  caption vocabulary of the image table.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

TOKEN_RE = re.compile("[^a-zA-Z0-9]+")


def tpch_like(seed: int, n_orders: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(orders, lineitem) with TPC-H's sparse order keys and key ranges."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(n_orders // 10, 1)
    n_part = max(n_orders // 7, 1)
    # TPC-H order keys use the first 8 of every 32 key values
    idx = np.arange(n_orders, dtype=np.int64)
    okey = (idx // 8) * 32 + idx % 8 + 1
    orders = pd.DataFrame(
        {"o_orderkey": okey, "o_custkey": rng.integers(1, n_cust + 1, n_orders)}
    )
    lines = rng.integers(1, 8, n_orders)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": np.repeat(okey, lines),
            "l_partkey": rng.integers(1, n_part + 1, int(lines.sum())),
        }
    )
    return orders, lineitem


def bulk_web(
    seed: int, n_orders: int, n_hosts: int, n_requests: int, n_images: int
) -> pd.DataFrame:
    """Pages of the bulk web: (url, host, grp, status, content_type,
    flaky_fail_times, body_len, image_id, outlinks).

    ``grp`` is the crawl request (0-based) that owns the page. Hosts are
    ``custkey % n_hosts`` and requests ``custkey % n_requests``, so with
    ``n_hosts`` a multiple of ``n_requests`` every host belongs to exactly
    one request. Every page answers 200 with HTML; every outlink points at
    a page of the same request, so the crawl finds no new URLs and its
    visit set is exactly the seeded frontier.
    """
    orders, lineitem = tpch_like(seed, n_orders)
    host_k = orders.o_custkey % n_hosts
    pages = pd.DataFrame(
        {
            "okey": orders.o_orderkey,
            "url": "https://h" + host_k.astype(str) + ".example.com/p/"
            + orders.o_orderkey.astype(str),
            "host": "h" + host_k.astype(str) + ".example.com",
            "grp": (orders.o_custkey % n_requests).astype(np.int64),
        }
    ).sort_values("okey", ignore_index=True)
    pages["rn"] = pages.groupby("grp").cumcount()
    grp_size = pages.groupby("grp")["okey"].transform("size")
    by_okey = pages.set_index("okey")
    li = lineitem.join(by_okey[["grp"]], on="l_orderkey")
    li["target_rn"] = li.l_partkey % li.l_orderkey.map(
        dict(zip(pages.okey, grp_size))
    )
    url_of = {(g, r): u for g, r, u in zip(pages.grp, pages.rn, pages.url)}
    li["dst"] = [url_of[(g, r)] for g, r in zip(li.grp, li.target_rn)]
    links = li.groupby("l_orderkey")["dst"].agg(list)
    pages["outlinks"] = [links.get(k, []) for k in pages.okey]
    pages["status"] = 200
    pages["content_type"] = "text/html"
    pages["flaky_fail_times"] = 0
    pages["body_len"] = np.int64(10_000)
    pages["image_id"] = [f"img-{k % n_images:08d}" for k in pages.okey]
    return pages[
        ["url", "host", "grp", "status", "content_type", "flaky_fail_times",
         "body_len", "image_id", "outlinks"]
    ]


def ascii_terms(text: str) -> list[str]:
    """Lower-cased alnum tokens, the split ``operators.search.tokens`` uses."""
    return [t for t in TOKEN_RE.split((text or "").lower()) if t]


#: every query has QUERY_TERMS terms: a three-term query takes about a third
#: longer than a one-term one, so a mix would make a run's median depend on
#: how many queries fit in its window
QUERY_TERMS = 2
#: what a query draws its (limit, offset) page from
LIMITS, OFFSETS = (5, 10, 20), (0, 5, 10)


def search_queries(seed: int, captions: list[str], n: int) -> list[tuple[str, int, int]]:
    """n (query, limit, offset) triples: QUERY_TERMS terms drawn from the
    captions, and the (limit, offset) page from the tuples above."""
    vocab = sorted({t for c in captions for t in ascii_terms(c)})
    rng = np.random.default_rng([seed, 2])
    out = []
    for _ in range(n):
        limit, offset = (int(rng.choice(c)) for c in (LIMITS, OFFSETS))
        terms = [vocab[int(j)] for j in rng.integers(0, len(vocab), QUERY_TERMS)]
        out.append((" ".join(terms), limit, offset))
    return out
